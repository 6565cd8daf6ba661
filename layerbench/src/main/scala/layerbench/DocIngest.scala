package layerbench

import java.nio.file.Path

import graft.operators.Dedup
import graft.streaming.DocStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, countDistinct}
import org.apache.spark.sql.streaming.StreamingQuery

/** `doc_ingest`: the write path. Each op feeds one 4k-document micro-batch
  * through a `MemoryStream` into `DocStream.selfMaintainingDedupedIngest`
  * and lasts from `addData` until that trigger commits. The gate's state is
  * a bucketed fingerprint table seeded in set-up; every `CompactEvery`
  * batches the client compacts it synchronously, so the next batch waits
  * behind the compaction and its latency, timed from when it was due,
  * includes the wait.
  */
final class DocIngest(ctx: Ctx) extends Workload {
  import DocIngest._
  private val spark = ctx.spark
  import spark.implicits._
  private val tr = ctx.tracer

  val clients = 1
  private val in = DocInputs(ctx.seed, nSeed = 200000, fresh = 2600, dups = 1200, resends = 200)
  private var dir: Path = _
  private var table: String = _
  private var tableDir: Path = _
  private var seedBytes = 0L
  private val sink = ctx.runDir.resolve("sink")
  private var mem: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var nextBatch = 0L

  def inputs(): Unit =
    dir = InputCache.dir(ctx.work, "doc_ingest", ctx.seed, s"${in.nSeed}")(in.write(spark, _))

  /** Seed the fingerprint table from the seed corpus, compacted to one file
    * per bucket.
    */
  override def build(rep: Int): Unit = {
    val name = s"lb_fp_r$rep"
    val path = ctx.runDir.resolve(name)
    tr.span("dedup.seed_state") {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      Dedup.writeFingerprintTable(spark.read.parquet(dir.resolve("seed").toString), "text", name,
        buckets = Buckets, path = Some(path.toString))
      Dedup.compactBucketedTable(spark, name)
    }
    if (table != null) { spark.sql(s"DROP TABLE IF EXISTS $table"); Fs.delete(tableDir) }
    table = name
    tableDir = path
    seedBytes = Fs.bytes(path)
  }

  /** The planted answers are closed-form: each batch keeps exactly its
    * `fresh` documents, and the table holds every distinct document so far.
    */
  def reference(): Unit = ()

  def warmup(): Seq[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    mem = MemoryStream[(Long, String)]
    query = DocStream.selfMaintainingDedupedIngest(mem.toDF().toDF("doc_id", "text"), table,
      "doc_id", "text", sink.toString, ctx.runDir.resolve("checkpoint").toString)
    (0 until 2).flatMap(_ => op(0, 0).check())
  }

  def op(client: Int, i: Int): OpResult = {
    val b = nextBatch
    nextBatch += 1
    if (b > 0 && b % CompactEvery == 0) tr.span("dedup.compact") {
      Dedup.compactBucketedTable(spark, table)
      tr.current.foreach(_.put("bytes_rewritten", Fs.bytes(tableDir).toDouble))
    }
    val docs = in.batch(b)
    tr.span("streaming.trigger") {
      tr.bindBatch(b)
      mem.addData(docs)
      query.processAllAvailable()
    }
    OpResult(docs.size, () => check(b, docs.size))
  }

  private def check(b: Long, nDocs: Int): Option[String] = {
    val kept = Fs.parquetRows(sink.resolve(s"batch=$b"))
    // the table check scans the whole state: once per compaction cycle
    val fps = if ((b + 1) % CompactEvery != 0) None else {
      spark.catalog.refreshTable(table) // the stream appends through its own session
      Some(spark.table(table).agg(countDistinct("__fp"), count("*")).as[(Long, Long)].head())
    }
    val want = in.nSeed + in.fresh * (b + 1)
    if (tr.enabled) {
      val files = Fs.dataFiles(tableDir)
      tr.gauge("dedup.state_files", files.size.toDouble)
      tr.gauge("dedup.state_bytes", files.map(java.nio.file.Files.size).sum.toDouble)
      tr.gauge("dedup.survivor_ratio", kept.toDouble / nDocs)
    }
    if (kept != in.fresh) Some(s"batch $b kept $kept documents, planted ${in.fresh}")
    else if (fps.exists(_ != ((want, want)))) Some(s"after batch $b the table holds $fps (distinct, rows), want $want")
    else None
  }

  /** Sink plus fingerprint-table growth per document fed, both measured
    * with the table compacted, so the figure does not depend on where the
    * run stopped in the compaction cycle.
    */
  def storedBytesPerItem(): Double = {
    Dedup.compactBucketedTable(spark, table)
    (Fs.bytes(sink) + Fs.bytes(tableDir) - seedBytes).toDouble / (nextBatch * in.batchSize)
  }

  override def finish(): Unit = if (query != null) query.stop()
}

object DocIngest {
  val Buckets = 8
  val CompactEvery = 4
}
