package layerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.ml.FusionModels
import org.apache.spark.sql.SparkSession

/** Seeded, pure input functions: every value is a function of
  * (seed, stream tag, index), so the Spark-side writers and the plain-Scala
  * references regenerate identical data without reading it back.
  */
object Gen {
  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(xs: Long*): Long = xs.foldLeft(0x243F6A8885A308D3L)((h, x) => splitmix(h ^ splitmix(x)))
  def rng(xs: Long*): SplittableRandom = new SplittableRandom(mix(xs: _*))
  def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble() // (0, 1]
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}

/** The cached input directory of one (workload, seed, size) triple.
  * Generation runs once per triple and is not part of any timed number.
  */
object InputCache {
  private val Keep = 3 // input sets kept per workload; older ones are deleted

  def dir(work: Path, workload: String, seed: Long, size: String)
         (generate: Path => Unit): Path = {
    val root = work.resolve("inputs")
    val d = root.resolve(s"$workload-s$seed-$size")
    val done = d.resolve("_DONE")
    if (!Files.exists(done)) {
      Fs.delete(d)
      Files.createDirectories(d)
      generate(d)
      Files.write(done, Array.emptyByteArray)
    }
    Files.setLastModifiedTime(done, java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val mine = Fs.list(root).filter(_.getFileName.toString.startsWith(workload + "-s"))
      .sortBy(p => -lastUse(p))
    mine.drop(Keep).foreach(Fs.delete)
    d
  }

  private def lastUse(p: Path): Long = {
    val done = p.resolve("_DONE")
    if (Files.exists(done)) Files.getLastModifiedTime(done).toMillis else 0L
  }

  def writeText(p: Path, s: String): Unit =
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
}

/** Inputs of `pdi_experiment`: two lab cohort CSVs and a tile table.
  *
  * Cohorts carry the cases `Experiment.prepare` must handle: null ages,
  * genders and locations; an exact tie between the two genders and between
  * locations 1 and 2 (the mode rule picks the lowest); and ages exactly on
  * the 30/60 bucket edges. Each slide has `TilesPerSlide` tiles whose
  * 8-byte payloads are drawn so the CNN head's tile scores lean towards the
  * slide's label.
  */
final case class PdiInputs(seed: Long, nSlides: Int, tilesPerSlide: Int) {
  import PdiInputs._

  def key(i: Int): Long = 100000L + i
  def lab(i: Int): Int = if (Gen.rng(seed, 1, i).nextDouble() < 0.55) 0 else 1
  def label(i: Int): Int = Gen.rng(seed, 2, i).nextInt(2)

  /** Non-null gender/location slots in a seeded order, so the planted
    * counts tie exactly over the union of both labs.
    */
  private lazy val catSlots: (Array[Option[Int]], Array[Option[Int]]) = {
    val order = (0 until nSlides).sortBy(i => Gen.mix(seed, 3, i))
    val g = Array.fill[Option[Int]](nSlides)(None)
    val l = Array.fill[Option[Int]](nSlides)(None)
    // 10% null genders, rounded so the non-null count is even
    val gNonNull = (order.size * 9 / 10) / 2 * 2
    order.take(gNonNull).zipWithIndex.foreach { case (i, r) => g(i) = Some(r % 2) }
    // locations cycle 1,2,1,2,1,2,0,3,0,3: 1 and 2 tie for the mode
    val cycle = Array(1, 2, 1, 2, 1, 2, 0, 3, 0, 3)
    val lNonNull = (order.size * 9 / 10) / 10 * 10
    order.reverse.take(lNonNull).zipWithIndex.foreach { case (i, r) => l(i) = Some(cycle(r % 10)) }
    (g, l)
  }
  def gender(i: Int): Option[Int] = catSlots._1(i)
  def location(i: Int): Option[Int] = catSlots._2(i)

  def age(i: Int): Option[Double] = {
    val r = Gen.rng(seed, 4, i)
    val u = r.nextDouble()
    if (u < 0.07) None
    else if (u < 0.17) Some(30.0)
    else if (u < 0.27) Some(60.0)
    else Some(18.0 + r.nextInt(70))
  }

  /** Payload long of tile `t` of slide `i`. Only `v mod 47` reaches the
    * score; a label-1 slide keeps a tile drawn with a negative score only
    * 70% of the time (label 0: positive), which skews its roll-up.
    */
  @transient private lazy val scores: Array[Array[Double]] =
    Array.tabulate(70, 47)((m, v) => tileScore(v.toLong, m.toLong))

  def payload(i: Int, t: Int): Long = {
    val r = Gen.rng(seed, 5, i, t)
    val c = key(i)
    val y = label(i)
    var res = r.nextInt(47)
    var tries = 0
    while (tries < 8 && {
      val s = scores((c % 70L).toInt)(res)
      (y == 1 && s < 0 || y == 0 && s > 0) && r.nextDouble() < 0.3
    }) { res = r.nextInt(47); tries += 1 }
    47L * r.nextInt(1 << 20) + res
  }

  def write(spark: SparkSession, d: Path): Unit = {
    Seq(0, 1).foreach { labId =>
      val sb = new StringBuilder("slide_name,label,age,gender,location\n")
      (0 until nSlides).filter(lab(_) == labId).foreach { i =>
        sb ++= s"${key(i)},${label(i)},${age(i).fold("")(_.toString)}," +
          s"${gender(i).fold("")(_.toString)},${location(i).fold("")(_.toString)}\n"
      }
      InputCache.writeText(d.resolve(s"cohort_lab$labId.csv"), sb.toString)
    }
    import spark.implicits._
    val (s, n, tps) = (seed, nSlides, tilesPerSlide)
    spark.range(0L, n.toLong * tps, 1L, 8).mapPartitions { ids =>
      val in = PdiInputs(s, n, tps)
      ids.map { id =>
        val (i, t) = ((id / tps).toInt, (id % tps).toInt)
        val buf = java.nio.ByteBuffer.allocate(8).putLong(in.payload(i, t))
        graft.pipeline.Tile(in.key(i).toString, t % 10, t / 10, buf.array())
      }
    }.write.parquet(d.resolve("tiles").toString)
    InputCache.writeText(d.resolve("planted.json"), Json.render(Json.obj(Seq(
      "gender_mode" -> 0, "location_mode" -> 1,
      "null_age" -> (0 until n).count(age(_).isEmpty),
      "null_gender" -> (0 until n).count(gender(_).isEmpty),
      "null_location" -> (0 until n).count(location(_).isEmpty),
      "age_on_30" -> (0 until n).count(age(_).contains(30.0)),
      "age_on_60" -> (0 until n).count(age(_).contains(60.0))))))
  }
}

object PdiInputs {
  /** The scorer's integer tile score for payload residue `v` on slide key `c`
    * (the same derivation `TileScorer.FusionCatScorer` documents).
    */
  def tileScore(v: Long, c: Long): Double = {
    val fix = FusionModels.Fixture
    val img = Array.tabulate(fix.ImgDim)(j => (java.lang.Math.floorMod(v + j, 47L) - 23L) / 16.0)
    val meta = Array((c % 7L) / 8.0, (c % 5L) / 8.0, (c % 2L).toDouble)
    val lg = FusionModels.Head.catLogits(img, meta)
    math.floor((lg(1) - lg(0)) * 1024.0)
  }
}

/** Inputs of `ann_serve`: a clustered corpus of `n` float vectors and a
  * pool of query batches, each query a small perturbation of a corpus
  * vector.
  */
final case class AnnInputs(seed: Long, n: Int, dim: Int, clusters: Int,
                           batches: Int, batchSize: Int) {
  private lazy val centers: Array[Array[Double]] = Array.tabulate(clusters) { c =>
    val r = Gen.rng(seed, 10, c)
    Array.fill(dim)(Gen.gauss(r))
  }
  def vector(id: Long): Array[Float] = {
    val r = Gen.rng(seed, 11, id)
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dim)(j => (c(j) + 0.25 * Gen.gauss(r)).toFloat)
  }
  /** The corpus vector query `q` perturbs. */
  def baseId(q: Int): Long = Gen.rng(seed, 12, q).nextLong(n.toLong)
  def query(q: Int): Array[Float] = {
    val r = Gen.rng(seed, 13, q)
    vector(baseId(q)).map(x => (x + 0.05 * Gen.gauss(r)).toFloat)
  }
  /** Query ids of batch `b`. */
  def batch(b: Int): Range = (b * batchSize) until ((b + 1) * batchSize)

  def write(spark: SparkSession, d: Path): Unit = {
    import spark.implicits._
    val self = this
    spark.range(0L, n.toLong, 1L, 4).mapPartitions(ids => ids.map(id => (id.longValue, self.vector(id))))
      .toDF("vec_id", "embedding").write.parquet(d.resolve("corpus").toString)
    InputCache.writeText(d.resolve("planted.json"), Json.render(Json.obj(Seq(
      "queries" -> batches * batchSize, "batch_size" -> batchSize,
      "query_base_vec_id" -> (0 until batches * batchSize).map(baseId)))))
  }
}

/** Inputs of `doc_ingest`: a seed corpus of `nSeed` distinct documents and
  * an unbounded sequence of batches. Batch `b` holds `fresh` new distinct
  * documents, `dups` exact copies of seed documents or of earlier batches'
  * new documents, and `resends` copies of its own new documents, shuffled.
  * Only the `fresh` documents may survive the gate.
  */
final case class DocInputs(seed: Long, nSeed: Int, fresh: Int, dups: Int, resends: Int) {
  def batchSize: Int = fresh + dups + resends

  private lazy val vocab: Array[String] = {
    val r = Gen.rng(seed, 20)
    Array.fill(512) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }
  private def body(r: SplittableRandom): String =
    Seq.fill(12 + r.nextInt(10))(vocab(r.nextInt(vocab.length))).mkString(" ")
  def seedText(k: Long): String = s"s$k " + body(Gen.rng(seed, 21, k))
  def freshText(b: Long, k: Int): String = s"b${b}n$k " + body(Gen.rng(seed, 22, b, k))

  /** Documents of batch `b` as (doc_id, text). */
  def batch(b: Long): Seq[(Long, String)] = {
    val r = Gen.rng(seed, 23, b)
    val news = (0 until fresh).map(freshText(b, _))
    val copies = (0 until dups).map { _ =>
      if (b == 0 || r.nextBoolean()) seedText(r.nextLong(nSeed.toLong))
      else freshText(r.nextLong(b), r.nextInt(fresh))
    }
    val again = (0 until resends).map(_ => news(r.nextInt(fresh)))
    val all = (news ++ copies ++ again).toArray
    var i = all.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t; i -= 1 }
    all.toSeq.zipWithIndex.map { case (t, j) => (1000000000L + b * batchSize + j, t) }
  }

  def write(spark: SparkSession, d: Path): Unit = {
    import spark.implicits._
    val self = this
    spark.range(0L, nSeed.toLong, 1L, 4).mapPartitions(ids => ids.map(k => (k.longValue, self.seedText(k))))
      .toDF("doc_id", "text").write.parquet(d.resolve("seed").toString)
    InputCache.writeText(d.resolve("planted.json"), Json.render(Json.obj(Seq(
      "seed_docs" -> nSeed, "batch_docs" -> batchSize, "survivors_per_batch" -> fresh,
      "planted_duplicates_per_batch" -> dups, "resends_per_batch" -> resends,
      "table_rows_after_batch_b" -> s"$nSeed + $fresh * (b + 1)"))))
  }
}
