package layerbench

import java.nio.file.Path

import graft.ml.MetaClassifier
import graft.operators.{Fusion, SlideRollup}
import graft.pipeline.{Experiment, Tile, TileScorer}
import graft.sources.Sources
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `pdi_experiment`: one experiment config run end to end per op — the
  * paper's own batch. Ingest two lab cohorts, prepare (impute, folds,
  * encode), evaluate the CNN head's tile scores per (fold, set), fit the
  * metadata random forest on the train set, and sweep naive decision
  * fusion over the test set. Ops alternate the reference's 5-fold and
  * 13-fold configs.
  *
  * Sized so one op is a few seconds on a 4-core machine: 6000 slides of 50
  * tiles. The op's cost is dominated by its ~37 Spark jobs (the forest's
  * 121 trees alone take 15), not by tile volume, at this size.
  */
final class PdiExperiment(ctx: Ctx) extends Workload {
  import PdiExperiment._
  private val spark = ctx.spark
  import spark.implicits._
  private val tr = ctx.tracer

  val clients = 1
  private val in = PdiInputs(ctx.seed, nSlides = 6000, tilesPerSlide = 50)
  private def nTiles: Long = in.nSlides.toLong * in.tilesPerSlide
  private var dir: Path = _

  def inputs(): Unit =
    dir = InputCache.dir(ctx.work, "pdi_experiment", ctx.seed,
      s"${in.nSlides}x${in.tilesPerSlide}")(in.write(spark, _))

  private def cohorts(): DataFrame = Experiment.ingest(Seq(0, 1).map(l =>
    Sources.readCsv(spark, dir.resolve(s"cohort_lab$l.csv").toString, CohortSchema)))
  private def tiles(): Dataset[Tile] =
    spark.read.parquet(dir.resolve("tiles").toString).as[Tile](TileScorer.tileEnc)

  // ---- the op ----
  def op(client: Int, i: Int): OpResult = run((i + 1) % Configs.size)

  private def run(k: Int): OpResult = {
    val cfg = Configs(k)
    val prepared = tr.span("pipeline.prepare")(Experiment.prepare(cohorts(), cfg))
    val metrics = tr.span("pipeline.evaluate")(Experiment.evaluate(prepared,
      TileScorer.score(tiles(), TileScorer.FusionCatScorer()), cfg).collect())
    val model = tr.span("ml.rf_fit")(
      MetaClassifier.fit(prepared.where(col("set") === "train"), Features, "label"))
    val sweep = tr.span("operators.fusion")(fusionSweep(prepared, model))
    OpResult(nTiles, () => check(k, metrics, model, sweep))
  }

  /** Naive fusion over the test set: the CNN side is the per-slide roll-up
    * of the test slides' tile scores, calibrated to P(class 1) with a
    * sigmoid; the RF side is the fitted forest's prediction.
    */
  private def fusionSweep(prepared: DataFrame, model: RandomForestClassificationModel): Array[Row] = {
    val test = prepared.where(col("set") === "test")
    val testTiles = tiles().join(broadcast(test.select("slide_name")), Seq("slide_name"), "left_semi")
      .as[Tile](TileScorer.tileEnc)
    val slides = SlideRollup.rollup1(
      TileScorer.score(testTiles, TileScorer.FusionCatScorer())
        .join(broadcast(test.select("slide_name", "label")), "slide_name"),
      col("slide_name"), col("score1"), col("label"), threshold = -CnnOffset)
    val p1 = lit(1.0) / (lit(1.0) + exp(-(col("score") + CnnOffset) / CnnScale))
    val cnn = slides.select(col("group_id").as("slide_name"), col("label"),
        col("pred").as("cnn_pred"), p1.as("cnn_score1"))
      .withColumn("cnn_conf", SlideRollup.confidence(col("cnn_score1"), col("cnn_pred")))
    val rf = MetaClassifier.score(model, test, Features)
      .select(col("slide_name"), col("prediction").cast("int").as("rf_pred"),
        col("score1").as("rf_score1"))
    Fusion.thresholdSweep(Fusion.naive(cnn, rf, "slide_name"), Thresholds, col("label"))
      .collect()
  }

  // ---- output checks ----
  private var ref: Map[Int, Reference] = Map.empty
  private val firstOutputs = scala.collection.mutable.Map.empty[Int, (String, Seq[Row])]

  private def check(k: Int, metrics: Array[Row], model: RandomForestClassificationModel,
                    sweep: Array[Row]): Option[String] = {
    val r = ref(k)
    val got = metrics.map(m => m.getAs[Int]("fold") ->
      ((m.getAs[String]("set"), m.getAs[Double]("balanced_accuracy"), m.getAs[Double]("auroc")))).toMap
    val atHalf = sweep.find(_.getAs[Double]("v") == 0.5)
    if (got != r.perFold) Some(s"config $k: per-(fold, set) BA/AUROC ${got.toSeq.sorted} != reference ${r.perFold.toSeq.sorted}")
    else if (sweep.length != Thresholds.size) Some(s"config $k: sweep has ${sweep.length} rows")
    else if (!atHalf.exists(a => a.getAs[Long]("n_uncertain") == 0L && a.getAs[Double]("fused_acc") == r.cnnAcc))
      Some(s"config $k: fusion at v=0.50 $atHalf != CNN-only accuracy ${r.cnnAcc}")
    else {
      // the debug string's first line names the model's random uid
      val out = (model.toDebugString.linesIterator.drop(1).mkString("\n"), sweep.toSeq)
      val first = firstOutputs.getOrElseUpdate(k, out)
      if (first != out) Some(s"config $k: RF or fusion output differs from the config's first op")
      else None
    }
  }

  /** Plain-Scala reference, no Spark: folds by the round-robin rule over
    * (label, lab) strata in slide-name order, per-slide means of the tile
    * scores from `FusionModels.Head.catLogits`, then the sklearn-style BA
    * and Mann-Whitney AUROC per fold, and the CNN-only test accuracy.
    */
  def reference(): Unit = {
    val n = in.nSlides
    val mean = Array.tabulate(n) { i =>
      var s = 0.0
      var t = 0
      while (t < in.tilesPerSlide) { s += PdiInputs.tileScore(in.payload(i, t), in.key(i)); t += 1 }
      s / in.tilesPerSlide
    }
    ref = Configs.zipWithIndex.map { case (cfg, k) =>
      val fold = folds(cfg.nFolds)
      def set(f: Int) = if (f < cfg.nVal) "val" else if (f < cfg.nVal + cfg.nTest) "test" else "train"
      val perFold = (0 until n).groupBy(fold).map { case (f, ids) =>
        val ys = ids.map(in.label); val ss = ids.map(mean)
        f -> ((set(f), ba(ys, ss, cfg.rollupThreshold), auroc(ys, ss)))
      }
      val test = (0 until n).filter(i => set(fold(i)) == "test")
      val correct = test.count(i => (if (mean(i) >= -CnnOffset) 1 else 0) == in.label(i))
      k -> Reference(perFold, correct.toDouble / test.size)
    }.toMap
  }

  private def folds(k: Int): Array[Int] = {
    val fold = new Array[Int](in.nSlides)
    (0 until in.nSlides).groupBy(i => (in.label(i), in.lab(i))).values.foreach { ids =>
      ids.sortBy(i => in.key(i).toString).zipWithIndex.foreach { case (i, r) => fold(i) = r % k }
    }
    fold
  }

  // ---- warm-up: one op of the first config, plus the planted prepare
  // cases; the timed loop starts with the other config, so the first
  // config's outputs are compared across ops in every run ----
  def warmup(): Seq[String] = run(0).check().toSeq ++ plantedCheck()

  /** Imputation, bucketing and fold checks against the planted inputs. */
  private def plantedCheck(): Option[String] = {
    val cfg = Configs.head
    val rows = Experiment.prepare(cohorts(), cfg)
      .select("slide_name", "age", "gender", "location", "age_class", "fold").collect()
    val ages = (0 until in.nSlides).flatMap(in.age)
    val meanAge = ages.sum / ages.size
    val fold = folds(cfg.nFolds)
    def bucket(a: Double) = if (a <= 30.0) 0 else if (a <= 60.0) 1 else 2
    val bad = rows.filterNot { r =>
      val i = (r.getString(0).toLong - 100000L).toInt
      val age = in.age(i).getOrElse(meanAge)
      math.abs(r.getDouble(1) - age) < 1e-9 && r.getInt(2) == in.gender(i).getOrElse(0) &&
        r.getInt(3) == in.location(i).getOrElse(1) && r.getInt(4) == bucket(age) &&
        r.getInt(5) == fold(i)
    }
    if (rows.length != in.nSlides) Some(s"prepare returned ${rows.length} of ${in.nSlides} slides")
    else bad.headOption.map(r => s"${bad.length} prepared rows differ from the planted inputs, e.g. $r")
  }

  def storedBytesPerItem(): Double = Fs.bytes(dir) / nTiles.toDouble
}

object PdiExperiment {
  final case class Reference(perFold: Map[Int, (String, Double, Double)], cnnAcc: Double)

  val CohortSchema: StructType = StructType(Seq(
    StructField("slide_name", StringType), StructField("label", IntegerType),
    StructField("age", DoubleType), StructField("gender", IntegerType),
    StructField("location", IntegerType)))
  val Features: Seq[String] = Seq("age_scaled", "age_class", "gender", "location", "lab")
  /** The reference's two fold layouts: 5 folds (1 val / 2 test), 13 (2 / 4). */
  val Configs: Seq[Experiment.Config] = Seq(
    Experiment.Config(nFolds = 5, nVal = 1, nTest = 2, rollupThreshold = 0.0),
    Experiment.Config(nFolds = 13, nVal = 2, nTest = 4, rollupThreshold = 0.0))
  val Thresholds: Seq[Double] = (50 to 90 by 5).map(_ / 100.0)
  /** Slide means are multiples of 0.01; the offset keeps the CNN's
    * P(class 1) away from exactly 0.5, so v = 0.50 leaves no slide uncertain.
    */
  val CnnOffset = 0.005
  val CnnScale = 256.0

  /** Balanced accuracy with prediction `score >= t`, over the classes present. */
  def ba(ys: Seq[Int], ss: Seq[Double], t: Double): Double = {
    val pos = ys.count(_ == 1); val neg = ys.size - pos
    val posGe = ys.zip(ss).count { case (y, s) => y == 1 && s >= t }
    val negLt = ys.zip(ss).count { case (y, s) => y == 0 && !(s >= t) }
    val r1 = if (pos > 0) posGe.toDouble / pos else 0.0
    val r0 = if (neg > 0) negLt.toDouble / neg else 0.0
    (r1 + r0) / ((if (pos > 0) 1 else 0) + (if (neg > 0) 1 else 0))
  }

  /** Mann-Whitney AUROC with average ranks for ties. */
  def auroc(ys: Seq[Int], ss: Seq[Double]): Double = {
    val byScore = ys.zip(ss).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, g) => (g.count(_._1 == 1).toLong, g.size.toLong) }
    var cum = 0L
    var sumPosRank = 0.0
    byScore.foreach { case (p, c) =>
      cum += c
      sumPosRank += p * ((cum * 2 - c + 1) / 2.0)
    }
    val posTot = byScore.map(_._1).sum
    val nTot = byScore.map(_._2).sum
    (sumPosRank - posTot * (posTot + 1) / 2.0) / (posTot * (nTot - posTot))
  }
}
