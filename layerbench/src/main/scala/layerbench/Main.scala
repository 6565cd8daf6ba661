package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's single process:
  * `layerbench.Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR`.
  *
  * Prints a full record line (machine, every end-to-end metric, set-up
  * breakdown, per-layer metrics when traced), then, as the last line, the
  * result: `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics untraced or the per-layer metrics traced.
  */
object Main {
  /** Set-up repetitions whose median build time counts in `setup_s`. */
  val BuildReps = 3
  /** End-to-end metrics on the result line, as declared in BENCHMARK.json. */
  val ResultMetrics: Seq[String] =
    Seq("setup_s", "op_p50_ms", "items_per_s", "heap_after_gc_mb", "stored_bytes_per_item")
  val Units: Map[String, String] = Map("setup_s" -> "s", "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms", "items_per_s" -> "1/s", "fail_ratio" -> "ratio",
    "heap_after_gc_mb" -> "MB", "stored_bytes_per_item" -> "B")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workload.Names.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; secs(t0) }

  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    // scratch of runs that were killed before they could clean up
    Fs.list(a.work).filter { p =>
      val n = p.getFileName.toString
      n.startsWith("run-") && n.drop(4).toLongOption.forall(pid => !ProcessHandle.of(pid).isPresent)
    }.foreach(Fs.delete)
    val runDir = a.work.resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(runDir)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"layerbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", runDir.resolve("hadoop").toString)
      .getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      val tracer = new Tracer(spark, a.trace)
      val w = Workload(a.workload, Ctx(spark, tracer, a.seed, a.work, runDir))
      val inputS = timed(w.inputs())
      val buildS = (0 until BuildReps).map(r => timed(w.build(r)))
      val referenceS = timed(w.reference())
      var warmErrors = Seq.empty[String]
      val warmS = timed { warmErrors = w.warmup() }
      val setupS = sessionS + Stats.median(buildS) + warmS

      val loop = Loop.run(w, a.seconds, tracer)
      val stored = w.storedBytesPerItem()
      w.finish()
      // queued listener events hold task metrics and plans: deliver them first
      org.apache.spark.sql.layerbench.SparkBridge.drainListenerBus(spark.sparkContext)
      val heapMb = heapAfterGc()
      val trace = tracer.resolve()

      val e2e = Seq(
        "setup_s" -> Some(setupS),
        "op_p50_ms" -> Some(Stats.median(loop.latenciesMs)),
        "op_p90_ms" -> (if (loop.latenciesMs.size >= 100) Some(Stats.quantile(loop.latenciesMs, 0.9)) else None),
        "items_per_s" -> Some(loop.itemsPerS),
        "fail_ratio" -> Some(loop.failed.toDouble / loop.attempted),
        "heap_after_gc_mb" -> Some(heapMb),
        "stored_bytes_per_item" -> Some(stored))
      val perLayer = if (a.trace) trace.perLayer(cores) else Map.empty[String, Double]
      val spansFile = a.work.resolve("traces").resolve(s"${a.workload}-s${a.seed}.jsonl")
      if (a.trace) {
        Files.createDirectories(spansFile.getParent)
        Files.write(spansFile, trace.spanLines.asJava)
      }
      val errors = warmErrors ++ loop.errors
      val record = Json.obj(Seq(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
        "machine" -> machine(spark, cores),
        "end_to_end" -> Json.obj(e2e.map { case (k, v) =>
          k -> Json.obj(Seq("value" -> v, "unit" -> Units(k)) ++
            (if (v.isEmpty) Seq("note" -> s"needs >= 100 ops, had ${loop.latenciesMs.size}") else Nil))
        }),
        "clients" -> w.clients, "ops" -> loop.attempted, "failed" -> loop.failed,
        "latencies_ms" -> loop.latenciesMs.map(x => math.round(x * 10) / 10.0),
        "errors" -> errors.take(5),
        "setup" -> Json.obj(Seq("session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmS)),
        "untimed" -> Json.obj(Seq("inputs_s" -> inputS, "reference_s" -> referenceS,
          "check_s" -> loop.checkS)),
        "per_layer" -> perLayer,
        "spans_file" -> (if (a.trace) Some(spansFile.toString) else None)))
      println(Json.render(record))

      val metrics =
        if (a.trace) Tracing.perLayerNames.map(k => k -> Json.obj(Seq("value" -> perLayer(k), "unit" -> Tracing.unit(k))))
        else ResultMetrics.map(k => k -> Json.obj(Seq("value" -> e2e.toMap.apply(k), "unit" -> Units(k))))
      println(Json.render(Json.obj(Seq(
        "correct" -> errors.isEmpty, "attempted" -> loop.attempted, "failed" -> loop.failed,
        "metrics" -> Json.obj(metrics)))))
      0
    } finally {
      spark.stop()
      Fs.delete(runDir)
    }
  }

  /** Heap used after GC. Spark's ContextCleaner frees broadcast and shuffle
    * blocks only after a GC has cleared their references (it polls every
    * 100 ms), and what it frees needs one more GC: collect, let it run,
    * repeat.
    */
  private def heapAfterGc(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (0 until 4).foreach { _ => System.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def machine(spark: SparkSession, cores: Int): Json.Obj = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.extensions", "spark.serializer", "spark.sql.autoBroadcastJoinThreshold")
    Json.obj(Seq(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(", "),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.version")}",
      "conf" -> Json.obj(keys.map(k => k -> spark.conf.getOption(k).getOrElse("default")))))
  }
}

/** The closed loop: `clients` threads, each issuing its next op only when
  * the previous one returned, until `seconds` have passed. An op's latency
  * runs from when it was due (the client's previous op returned and was
  * checked) to its return. Output checks run off the clock: their time is
  * excluded from the throughput window.
  */
object Loop {
  final case class Out(latenciesMs: Seq[Double], attempted: Int, failed: Int,
                       itemsPerS: Double, checkS: Double, errors: Seq[String])

  def run(w: Workload, seconds: Int, tracer: Tracer): Out = {
    val lat = new ConcurrentLinkedQueue[Double]()
    val errs = new ConcurrentLinkedQueue[String]()
    val items, attempted, failed, checkNs = new AtomicLong(0L)
    val lastEnd = new AtomicLong(0L)
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          val due = System.nanoTime()
          val res = try Right(tracer.span("op")(w.op(c, i))) catch { case NonFatal(e) => Left(e.toString) }
          val end = System.nanoTime()
          lat.add((end - due) / 1e6)
          attempted.incrementAndGet()
          lastEnd.accumulateAndGet(end, math.max)
          val err = res.flatMap { r =>
            val t0 = System.nanoTime()
            val e = try r.check() catch { case NonFatal(x) => Some(x.toString) }
            checkNs.addAndGet(System.nanoTime() - t0)
            if (e.isEmpty) items.addAndGet(r.items)
            e.toLeft(())
          }
          err.left.foreach { e => failed.incrementAndGet(); errs.add(s"client $c op $i: $e") }
          i += 1
        }
      }, s"layerbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val window = (lastEnd.get - start - checkNs.get / w.clients) / 1e9
    Out(lat.asScala.toSeq, attempted.get.toInt, failed.get.toInt,
      items.get / window, checkNs.get / 1e9, errs.asScala.toSeq)
  }
}
