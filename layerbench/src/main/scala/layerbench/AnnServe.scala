package layerbench

import java.nio.file.Path

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `ann_serve`: top-10 search serving over a persisted IVF-PQ index. Each
  * op is one 16-query batch through `Similarity.ivfPqTopKFromIndex` with
  * nProbe 4, then its collect; two closed-loop clients issue ops
  * concurrently. Read-only: the index is built once in set-up.
  */
final class AnnServe(ctx: Ctx) extends Workload {
  import AnnServe._
  private val spark = ctx.spark
  private val tr = ctx.tracer

  val clients = 2
  private val in = AnnInputs(ctx.seed, n = 20000, dim = 64, clusters = 64,
    batches = 32, batchSize = 16)
  private var dir: Path = _
  private var index: Path = _
  private var model: (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = _
  private var expected: Map[Int, Seq[(Long, Long, Long)]] = Map.empty

  def inputs(): Unit =
    dir = InputCache.dir(ctx.work, "ann_serve", ctx.seed, s"${in.n}x${in.dim}")(in.write(spark, _))

  private def corpus(): DataFrame = spark.read.parquet(dir.resolve("corpus").toString)

  override def build(rep: Int): Unit = {
    val path = ctx.runDir.resolve(s"index-r$rep")
    tr.span("similarity.build_index") {
      val (coarse, cbs) = Similarity.fitIvfPq(corpus(), nCentroids = Cells, m = SubSpaces,
        codebookSize = Codes, seed = ctx.seed)
      Similarity.writeIvfPqIndex(corpus(), "vec_id", path.toString, coarse, cbs)
      model = (coarse, cbs)
    }
    if (index != null) Fs.delete(index)
    index = path
  }

  private def queries(ids: Seq[Int]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ids.map(q => Row(q.toLong, in.query(q).toSeq)): _*), QuerySchema)

  /** Expected rows of every query batch: `Similarity.ivfPqTopK` on the same
    * model and queries, computed once from the raw corpus.
    */
  def reference(): Unit = {
    val all = (0 until in.batches * in.batchSize)
    val rows = Similarity.ivfPqTopK(corpus(), "vec_id", queries(all), "query_id",
      TopK, NProbe, model._1, model._2).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    expected = rows.toSeq.groupBy(r => (r._1 / in.batchSize).toInt).map { case (b, rs) => b -> rs.sorted }
  }

  def op(client: Int, i: Int): OpResult = search((client + clients * i) % in.batches)

  private def search(b: Int): OpResult = {
    val q = queries(in.batch(b))
    val found = tr.span("similarity.search_plan")(
      Similarity.ivfPqTopKFromIndex(spark, index.toString, q, "query_id", TopK, NProbe))
    val rows = tr.span("similarity.search_exec")(found.collect())
    OpResult(in.batchSize, () => {
      val got = rows.toSeq.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Long]("dist"))).sorted
      if (got == expected.getOrElse(b, Nil)) None
      else Some(s"batch $b: ${got.size} rows differ from the ${expected.getOrElse(b, Nil).size} ivfPqTopK rows")
    })
  }

  /** Warms on the last batches of the pool, which the timed loop of a
    * short run does not reach.
    */
  def warmup(): Seq[String] = (1 to 2).flatMap(k => search(in.batches - k).check())

  def storedBytesPerItem(): Double = Fs.bytes(index) / in.n.toDouble
}

object AnnServe {
  val Cells = 64
  val SubSpaces = 8
  val Codes = 16
  val TopK = 10
  val NProbe = 4
  val QuerySchema: StructType = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
