package graft.ml

import graft.functions.TextFunctions
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** fastText-style linear text classifier for corpus filtering: a logistic
  * regression over hashed bag-of-tokens counts — the public architecture
  * behind learned language-ID / quality filters in large-scale pipeline
  * curation (a linear model over hashed n-gram features), here over
  * unigram buckets.
  *
  * Verification discipline (the q34 / MetaClassifier pattern): the FIT is
  * engine-specific (Spark ML), but the fitted model's decision function is
  * pure linear arithmetic, exported as the SAME left-associative
  * multiply-add chain in Column form ([[marginCol]]) and SQL form
  * ([[marginSql]]) — bit-identical across engines — and the features are
  * ENGINE-PORTABLE by construction: token bucket = (md5-60-bit value of
  * the token) mod k, the cross-engine hash the SimHash oracle (q47)
  * already proves both engines compute identically. So an oracle replays
  * feature extraction AND scoring exactly; only training stays Spark-side.
  *
  * Scale shape: scoring is a per-row projection (tokenize once, bucket
  * via a lambda transform, k bounded-size count columns) — no shuffle, no
  * UDF. Fit input is coalesced to one partition so the gradient
  * aggregation order is deterministic (refits in the same session must
  * produce bit-identical coefficients for the dynamic oracle); training
  * data for a quality model is sampled/small by construction.
  */
object TextClassifier {

  /** The fitted model's ENGINE-INDEPENDENT surface — bucket count,
    * intercept, per-bucket coefficients. Spark ML owns the fit; this is
    * what deploys (and what [[save]]/[[load]] persist — the
    * BpeTokenizer/NgramLm/Dsir artifact-store discipline applied to the
    * corpus-filter classifier: fit once, gate every future batch).
    */
  case class LinearTextModel(k: Int, intercept: Double,
                             coefficients: Seq[Double]) {
    require(coefficients.length == k,
      s"coefficient table must cover all $k buckets, got ${coefficients.length}")
  }

  /** Export the Spark ML fit's decision surface. */
  def export(model: LogisticRegressionModel): LinearTextModel = {
    val c = model.coefficients.toArray.toIndexedSeq
    LinearTextModel(c.length, model.intercept, c)
  }

  /** Persist an exported model: ONE coalesced (j, coef) parquet write
    * (j = -1 carries the intercept) + a job-free meta.json sidecar.
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: LinearTextModel,
           path: String): Unit = {
    import spark.implicits._
    ((-1, model.intercept) +: model.coefficients.zipWithIndex
        .map { case (v, j) => (j, v) }.toIndexedSeq)
      .toDF("j", "coef")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/coefs")
    // atomic (temp + rename over): a crash cannot leave a torn meta that
    // load() would refuse forever
    graft.sources.JsonSidecar.write(spark, s"$path/meta.json",
      s"""{"fmt": 1, "k": ${model.k}}""")
  }

  /** Load a model written by [[save]] — rows re-sort by j so the loaded
    * model is bit-identical regardless of parquet row order; the
    * sidecar's bucket count guards torn/foreign artifacts.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): LinearTextModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val metaTxt = graft.sources.JsonSidecar.read(spark, p.toString)
    val k = """"k"\s*:\s*(\d+)""".r.findFirstMatchIn(metaTxt)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed text-classifier meta at $p: $metaTxt")).group(1).toInt
    val rows = spark.read.parquet(s"$path/coefs").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    require(rows.length == k + 1 &&
      rows.map(_._1).sameElements(-1 to (k - 1)),
      s"torn text-classifier artifact at $path: ${rows.length} rows vs meta $k")
    LinearTextModel(k, rows.head._2, rows.tail.map(_._2).toIndexedSeq)
  }

  /** Appends `f0..f{k-1}` token-count feature columns (doubles — the
    * values are exact small integers; double keeps the downstream chain
    * arithmetic identical on both engines).
    *
    * The per-bucket counts come from the fused
    * [[graft.expressions.Md5BucketCounts]] kernel — ONE
    * tokenize→bucket→count pass per document emitting the length-k count
    * array (the DsirScore treatment applied to the feature build; the
    * composed chain ran k separate `size(filter(...))` traversals of a
    * materialized bucket array per row). The f_j columns are plain
    * element reads of that array, so the downstream PER-BUCKET float
    * margin chain ([[marginCol]]) keeps the exact op order the q57/q70
    * oracles spell — the house constraint: fuse only the counting,
    * never the float fold. Bit-equality kernel == composed chain is
    * TextClassifierSpec-pinned. The two projections below must stay
    * separate (CollapseProject keeps them apart because the kernel alias
    * is non-cheap and multiply-referenced — the same shape the composed
    * form relied on), so the kernel runs once per row, not k times.
    */
  def hashedFeatures(df: DataFrame, text: String, k: Int): DataFrame = {
    require(k > 0, s"need k > 0 feature buckets, got $k")
    df.withColumn("__bc", graft.expressions.Md5BucketCounts(col(text), k))
      .select(col("*") +: (0 until k).map(j =>
        element_at(col("__bc"), j + 1).cast("double").as(s"f$j")): _*)
      .drop("__bc")
  }

  /** The composed-builtins form of [[hashedFeatures]] — the fused
    * kernel's semantic specification (md5-60-bit token bucket via
    * [[graft.expressions.Md5Bucket]], then one count column per bucket),
    * kept for the spec's bit-equality pin.
    */
  private[graft] def hashedFeaturesComposed(df: DataFrame, text: String,
                                            k: Int): DataFrame = {
    require(k > 0, s"need k > 0 feature buckets, got $k")
    val bucket = transform(TextFunctions.tokens(col(text)),
      t => graft.expressions.Md5Bucket(t, k))
    df.withColumn("__bk", bucket)
      .select(col("*") +: (0 until k).map(j =>
        size(filter(col("__bk"), b => b === j)).cast("double").as(s"f$j")): _*)
      .drop("__bk")
  }

  /** Fit a binary logistic regression on `train`'s hashed features. The
    * small ridge term keeps the optimum unique (hash-separable training
    * sets would otherwise let weights run off), and maxIter bounds LBFGS.
    */
  def fit(train: DataFrame, text: String, labelCol: String,
          k: Int = 64, regParam: Double = 0.01,
          maxIter: Int = 50): LogisticRegressionModel = {
    val feats = hashedFeatures(train, text, k)
      .select((col(labelCol) +: (0 until k).map(j => col(s"f$j"))): _*)
      .coalesce(1) // deterministic gradient aggregation order
    val assembled = new VectorAssembler()
      .setInputCols((0 until k).map(j => s"f$j").toArray)
      .setOutputCol("features")
      .transform(feats)
    new LogisticRegression()
      .setFeaturesCol("features").setLabelCol(labelCol)
      .setRegParam(regParam).setMaxIter(maxIter)
      .fit(assembled)
  }

  /** The decision margin (log-odds) as a left-associative Column chain
    * over the `f*` columns — `pred = margin >= 0` is the exact-arithmetic
    * form of `sigmoid(margin) >= 0.5`.
    */
  def marginCol(model: LinearTextModel): Column =
    model.coefficients.indices.foldLeft(lit(model.intercept): Column) {
      (acc, j) => acc + lit(model.coefficients(j)) * col(s"f$j")
    }

  def marginCol(model: LogisticRegressionModel): Column =
    marginCol(export(model))

  /** The SQL twin of [[marginCol]]: identical chain, shortest-repr double
    * literals forced into scientific notation — DuckDB parses a PLAIN
    * decimal literal as DECIMAL and converts (a double-rounding, measured
    * 1-ulp drift on 17-digit learned coefficients), while a scientific-
    * notation literal parses directly as an IEEE double. The fixture-weight
    * oracles (q5a/q5h) never hit this because their weights are dyadic.
    */
  def marginSql(model: LinearTextModel): String = {
    def dlit(x: Double): String = {
      val s = x.toString
      if (s.contains("E") || s.contains("e")) s else s + "e0"
    }
    model.coefficients.indices.foldLeft(dlit(model.intercept)) { (acc, j) =>
      s"$acc + ${dlit(model.coefficients(j))}*f$j"
    }
  }

  def marginSql(model: LogisticRegressionModel): String =
    marginSql(export(model))

  /** Score `df`: adds `margin` (exact chain) and `pred` (margin >= 0). */
  def score(model: LinearTextModel, df: DataFrame, text: String): DataFrame =
    hashedFeatures(df, text, model.k)
      .withColumn("margin", marginCol(model))
      .withColumn("pred", (col("margin") >= 0).cast("int"))

  /** The gate decision (`margin >= minMargin`) as ONE self-contained
    * boolean Column — the fused [[graft.expressions.LinearTextGate]]
    * kernel with the model riding as literals. Bit-identical to
    * `score(...).margin >= minMargin` (spec-pinned; the kernel repeats
    * the marginCol chain in the same per-bucket order); the form a
    * streaming filter needs, since a projected margin would be inlined
    * into the pushed-down predicate once per feature reference.
    */
  def gateCol(model: LinearTextModel, text: Column,
              minMargin: Double = 0.0): Column =
    graft.expressions.LinearTextGate(text, model.coefficients,
      model.intercept, minMargin)

  /** Per-document margin in integer MICRO-units (round(1e6·margin) as
    * LONG) — the drift contract's exact-replay currency: the integer
    * per-doc terms sum order-free, so both engines aggregate
    * identically (the LM micro-nat discipline applied to the margin
    * distribution).
    */
  private def marginMicroCol(model: LinearTextModel): Column =
    round(lit(1e6) * marginCol(model)).cast("long")

  /** Write the DRIFT BASELINE sidecar for a persisted classifier — the
    * q6z/q72/q73 contract on the quality axis: the coefficients are
    * frozen at fit time, and this records the fit corpus's (doc count,
    * Σ round(1e6·margin)) as `_drift.json` beside the artifact. A later
    * batch whose mean margin moves away from the baseline means the
    * text distribution drifted from what the filter was calibrated on
    * (or the raw distribution moved — either way the fit is stale:
    * refit). One corpus-sized zero-shuffle scoring pass + a bounded
    * agg, paid once at save time.
    */
  def writeDriftSidecar(spark: org.apache.spark.sql.SparkSession,
                        path: String, corpus: DataFrame,
                        text: String): Unit = {
    val model = load(spark, path)
    val st = hashedFeatures(corpus.select(col(text)), text, model.k)
      .select(marginMicroCol(model).as("__m"))
      // count(col) skips nulls — a .filter(isNotNull) would be pushed
      // below the feature projection with the counting kernel inlined
      // into the predicate, running it twice per row
      .agg(count(col("__m")).as("n"), sum(col("__m")).as("s"))
      .collect().head
    val (n, s) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    graft.sources.JsonSidecar.write(spark, s"$path/_drift.json",
      s"""{"fmt": 1, "statN": $n, "statSumMicro": $s}""")
  }

  /** REFIT-AND-SWAP for a SERVED classifier — the drift contract's
    * ACTION on the quality axis ([[driftStats]] tells the caller WHEN;
    * this is HOW), the [[graft.operators.Similarity.refitIvfPqIndex]]
    * lifecycle step applied to the artifact-store families: the freshly
    * fitted model ([[fit]] + [[export]], the caller's choice of slice
    * and hyperparameters) stages COMPLETELY beside the live path —
    * coefficients, meta, and a NEW `_drift.json` baseline over the refit
    * corpus, so the swapped-in filter's drift clock restarts at its own
    * fit distribution — then two atomic directory renames swap it under
    * the serving path ([[graft.sources.ArtifactSwap]]: a reader in any
    * crash window loads old, new, or fails loudly; `_drift.json` is the
    * staging's completeness witness, so a staging that crashed between
    * the sidecars is never promoted). Also serves as the ATOMIC initial
    * publish when no live artifact exists yet. Corpus-sized cost is the
    * baseline's one zero-shuffle scoring pass; the swap is two renames.
    */
  def refitAndSwap(spark: org.apache.spark.sql.SparkSession,
                   model: LinearTextModel, fitCorpus: DataFrame,
                   text: String, path: String): Unit =
    graft.sources.ArtifactSwap.refresh(spark, path,
        witness = "_drift.json") { tmp =>
      save(spark, model, tmp)
      writeDriftSidecar(spark, tmp, fitCorpus, text)
    }

  /** DRIFT stats for a persisted classifier — (src, n, sum_margin_micro)
    * with `build` read from the `_drift.json` sidecar
    * ([[writeDriftSidecar]]) and `batch` scored live through the same
    * fused-feature margin chain. All-integer, so an oracle recomputes
    * BOTH rows from the raw tables and a corrupted stored stat breaks
    * the hash (the [[graft.ml.Dsir.driftStats]] contract on the quality
    * axis). The decision rule is the caller's; batch cost is one
    * zero-shuffle scoring pass + a bounded agg.
    */
  def driftStats(spark: org.apache.spark.sql.SparkSession, path: String,
                 batch: DataFrame, text: String): DataFrame = {
    import spark.implicits._
    val metaTxt = graft.sources.JsonSidecar
      .readOpt(spark, s"$path/_drift.json")
      .getOrElse(throw new IllegalArgumentException(
        s"classifier at $path predates drift stats: no _drift.json — " +
          "write the baseline with writeDriftSidecar at save time"))
    def metaLong(k: String): Long =
      graft.sources.JsonSidecar.longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed drift sidecar at $path/_drift.json: $metaTxt"))
    val model = load(spark, path)
    val st = hashedFeatures(batch.select(col(text)), text, model.k)
      .select(marginMicroCol(model).as("__m"))
      .agg(count(col("__m")).as("n"), sum(col("__m")).as("s"))
      .collect().head
    val (bn, bs) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    Seq(("batch", bn, bs),
      ("build", metaLong("statN"), metaLong("statSumMicro")))
      .toDF("src", "n", "sum_margin_micro")
  }

  def score(model: LogisticRegressionModel, df: DataFrame, text: String,
            k: Int): DataFrame = {
    val m = export(model)
    // the exported surface carries its own bucket count; a mismatched k
    // is a caller-side configuration bug that must stay loud (silently
    // scoring with the model's k would mask it)
    require(k == m.k,
      s"bucket-count mismatch: scoring requested k=$k but the model was " +
        s"fitted with ${m.k} feature buckets")
    score(m, df, text)
  }
}
