package graft.ml

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023):
  * select raw-corpus documents whose hashed n-gram distribution looks
  * like a TARGET corpus. Fit = two bounded bag-of-hashed-ngram models
  * (unigrams + adjacent bigrams hashed into `buckets` buckets); the
  * per-bucket importance delta is the smoothed log-probability ratio
  * log p_target(b) − log p_raw(b). A document's importance weight is the
  * sum of its features' deltas; selection takes the top-k weights.
  *
  * Exactness (the oracle-house-style contract):
  * - features are ENGINE-PORTABLE by construction — token bucket =
  *   md5-60-bit mod buckets, the cross-engine hash q47/q57 already prove
  *   both engines compute identically;
  * - the transcendental (ln) happens ONCE, DRIVER-SIDE, at fit time:
  *   deltas round to integer micro-nats and ride into both the Column
  *   chain and the SQL replay as the SAME literals, so scoring and
  *   selection are pure integer sums + integer comparisons — no
  *   cross-engine float anywhere;
  * - ranking ties break on ascending id (total order, replayable).
  *
  * The paper's Gumbel-perturbed sampling variant ([[selectGumbel]]) is
  * ALSO engine-replayable: its noise is a deterministic projection of the
  * hash-derived uniform (no engine RNG), so the per-doc transcendental is
  * the same −ln(−ln(u)) chain in both engines — q6r pins the replay; the
  * residual cross-engine surface is ln's last ulp, ~1e-10 of a micro-nat
  * from any round boundary.
  *
  * Scale shape: each fit is ONE explode + hash-aggregate whose shuffle
  * carries at most `buckets` rows per partition (map-side combine), and
  * the two bucket tables collect exactly `buckets` bounded rows to the
  * driver (the q5l bounded-fit discipline). Scoring is a zero-shuffle
  * pure projection — tokens, bigrams via slice+zip_with, one
  * aggregate(element_at(delta_literal_array, bucket)) fold, all
  * codegen'd builtins. Selection is TakeOrdered (no global sort).
  */
object Dsir {

  /** Fitted DSIR model: per-bucket importance deltas in integer
    * micro-nats. `deltaMicro(b)` = round(1e6 · (ln p_t(b) − ln p_r(b)))
    * with add-1 smoothing on both sides.
    */
  case class DsirModel(buckets: Int, deltaMicro: Seq[Long]) {
    require(deltaMicro.size == buckets, "delta table must cover all buckets")
  }

  /** Unigrams + adjacent-pair bigrams of a whitespace-tokenized text —
    * the hashed feature universe, shared by fit and scoring.
    */
  private[graft] def featureCol(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    val bigr = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))
    concat(toks, bigr)
  }

  /** The engine-portable feature bucket (q57's md5-60-bit discipline),
    * computed by the fused [[graft.expressions.Md5Bucket]] kernel —
    * bit-identical to the composed pmod/conv/substring/md5 chain
    * (spec-pinned) without its per-feature hex/decimal string churn.
    */
  private[graft] def bucketCol(feature: Column, buckets: Int): Column =
    graft.expressions.Md5Bucket(feature, buckets)

  /** Per-bucket feature counts of a corpus: exactly `buckets` rows on the
    * driver (absent buckets count 0).
    */
  private def bucketCounts(corpus: DataFrame, text: String,
                           buckets: Int): Array[Long] = {
    val rows = corpus
      .select(explode(featureCol(col(text))).as("__f"))
      .select(bucketCol(col("__f"), buckets).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .collect() // bounded: <= buckets rows by construction
    val out = new Array[Long](buckets)
    rows.foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  /** Fit the importance model: one bounded aggregation per corpus, then
    * driver-local smoothing + log-ratio (deterministic — integer counts
    * in, integer micro-nats out).
    */
  def fit(target: DataFrame, raw: DataFrame, text: String,
          buckets: Int = 256): DsirModel = {
    require(buckets > 1 && buckets <= 65536,
      s"bucket count out of range: $buckets")
    val tc = bucketCounts(target, text, buckets)
    val rc = bucketCounts(raw, text, buckets)
    val tTot = tc.sum + buckets
    val rTot = rc.sum + buckets
    require(tTot > buckets && rTot > buckets,
      "DSIR fit needs non-empty target and raw corpora")
    val delta = (0 until buckets).map { b =>
      val lt = math.log((tc(b) + 1).toDouble / tTot)
      val lr = math.log((rc(b) + 1).toDouble / rTot)
      graft.expressions.BigramLmScore.halfUp(1e6 * (lt - lr))
    }
    DsirModel(buckets, delta)
  }

  /** Persist a fitted model — the BpeTokenizer/NgramLm artifact-store
    * discipline: ONE coalesced bucket-tagged parquet write + a job-free
    * meta.json sidecar (fit once / select forever is the deployment
    * shape: the same delta table gates every future ingest batch).
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: DsirModel,
           path: String): Unit = {
    import spark.implicits._
    model.deltaMicro.zipWithIndex
      .map { case (v, b) => (b, v) }
      .toDF("bucket", "delta_micro")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/deltas")
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"""{"fmt": 1, "buckets": ${model.buckets}}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a model written by [[save]] (one read job + the sidecar).
    * Rows re-sort by bucket so the loaded model is bit-identical to the
    * fitted one regardless of parquet row order; the sidecar's bucket
    * count guards against a torn or foreign artifact.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): DsirModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val metaTxt = graft.sources.JsonSidecar.read(spark, p.toString)
    val buckets = """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(metaTxt)
      .getOrElse(throw new IllegalArgumentException(
        s"malformed DSIR meta at $p: $metaTxt")).group(1).toInt
    val rows = spark.read.parquet(s"$path/deltas").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    require(rows.length == buckets &&
      rows.map(_._1).sameElements(0 until buckets),
      s"torn DSIR artifact at $path: ${rows.length} rows vs meta $buckets")
    DsirModel(buckets, rows.map(_._2).toIndexedSeq)
  }

  /** Write the DRIFT BASELINE sidecar for a persisted DSIR model — the
    * q6s/q6z contract on the selection axis: the model's deltas are
    * frozen at fit time, and this records the RAW corpus's (doc count,
    * Σ importance weight in micro-nats) as `_drift.json` beside the
    * model artifact. A later batch whose mean logw pulls DOWN from the
    * baseline is drifting away from the target distribution the deltas
    * encode (or the raw distribution moved — either way the fit is
    * stale). One corpus-sized zero-shuffle kernel scan + a bounded agg,
    * paid once at save time.
    */
  def writeDriftSidecar(spark: org.apache.spark.sql.SparkSession,
                        path: String, corpus: DataFrame,
                        text: String): Unit = {
    val model = load(spark, path)
    val st = corpus
      .select(logwMicroCol(col(text), model).as("__w"))
      // count(col) skips nulls — a .filter(isNotNull) here would be
      // pushed BELOW the projection with the scoring kernel inlined
      // into the predicate, running it twice per row
      .agg(count(col("__w")).as("n"), sum(col("__w")).as("s"))
      .collect().head
    val (n, s) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    graft.sources.JsonSidecar.write(spark, s"$path/_drift.json",
      s"""{"fmt": 1, "statN": $n, "statSumMicro": $s}""")
  }

  /** REFIT-AND-SWAP for a SERVED DSIR model — the drift contract's
    * ACTION on the selection axis ([[driftStats]] says WHEN; this is
    * HOW), the [[graft.ml.TextClassifier.refitAndSwap]] lifecycle step:
    * the freshly fitted delta table ([[fit]], the caller's choice of
    * target/raw slices) stages COMPLETELY beside the live path — deltas,
    * meta, and a NEW `_drift.json` baseline over `fitCorpus` (the refit
    * RAW corpus), so the swapped-in selector's drift clock restarts at
    * its own fit distribution — then two atomic directory renames swap
    * it under the serving path ([[graft.sources.ArtifactSwap]]: readers
    * in any crash window load old, new, or fail loudly; the baseline is
    * the completeness witness). Also the ATOMIC first-time publish.
    */
  def refitAndSwap(spark: org.apache.spark.sql.SparkSession,
                   model: DsirModel, fitCorpus: DataFrame, text: String,
                   path: String): Unit =
    graft.sources.ArtifactSwap.refresh(spark, path,
        witness = "_drift.json") { tmp =>
      save(spark, model, tmp)
      writeDriftSidecar(spark, tmp, fitCorpus, text)
    }

  /** DRIFT stats for a persisted DSIR model — [[graft.operators
    * .Similarity.ivfPqDriftStats]]' exact contract on the selection
    * axis: (src, n, sum_logw_micro) with `build` read from the
    * `_drift.json` sidecar ([[writeDriftSidecar]]) and `batch` computed
    * live by the fused scoring kernel. All-integer, so the oracle
    * recomputes BOTH rows from the raw tables and a corrupted stored
    * stat breaks the hash. The decision rule is the caller's (refit
    * when the batch mean falls away from the build mean); batch cost is
    * one zero-shuffle kernel scan + a bounded agg.
    */
  def driftStats(spark: org.apache.spark.sql.SparkSession, path: String,
                 batch: DataFrame, text: String): DataFrame = {
    import spark.implicits._
    val metaTxt = graft.sources.JsonSidecar
      .readOpt(spark, s"$path/_drift.json")
      .getOrElse(throw new IllegalArgumentException(
        s"DSIR model at $path predates drift stats: no _drift.json — " +
          "write the baseline with writeDriftSidecar at save time"))
    def metaLong(k: String): Long =
      graft.sources.JsonSidecar.longField(metaTxt, k)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed drift sidecar at $path/_drift.json: $metaTxt"))
    val model = load(spark, path)
    val st = batch
      .select(logwMicroCol(col(text), model).as("__w"))
      // count(col) skips nulls — a .filter(isNotNull) here would be
      // pushed BELOW the projection with the scoring kernel inlined
      // into the predicate, running it twice per row
      .agg(count(col("__w")).as("n"), sum(col("__w")).as("s"))
      .collect().head
    val (bn, bs) = (st.getLong(0), if (st.getLong(0) == 0L) 0L else st.getLong(1))
    Seq(("batch", bn, bs),
      ("build", metaLong("statN"), metaLong("statSumMicro")))
      .toDF("src", "n", "sum_logw_micro")
  }

  /** Importance weight in integer micro-nats, as a zero-shuffle Column
    * over the text — Σ_features deltaMicro(bucket(f)), computed by the
    * fused [[graft.expressions.DsirScore]] kernel: one codegen'd pass
    * doing tokenize→bucket→delta-sum with no intermediate feature
    * arrays. Bit-identical to [[logwMicroColComposed]] (DsirSpec-pinned);
    * the composed chain measured ~1.9× behind its DuckDB twin at 100×
    * purely on array materialization.
    */
  def logwMicroCol(text: Column, model: DsirModel): Column =
    graft.expressions.DsirScore(text, model.deltaMicro)

  /** The composed-builtins form of [[logwMicroCol]] — the kernel's
    * semantic specification (an exact integer fold over the literal
    * delta array), kept for the spec's bit-equality pin.
    */
  private[graft] def logwMicroColComposed(text: Column,
                                          model: DsirModel): Column = {
    val dl = lit(model.deltaMicro.toArray)
    aggregate(
      transform(featureCol(text), f =>
        element_at(dl, (bucketCol(f, model.buckets) + 1).cast("int"))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Per-document importance weights: (id, logw_micro). */
  def scores(corpus: DataFrame, id: String, text: String,
             model: DsirModel): DataFrame =
    corpus.select(col(id),
      logwMicroCol(col(text), model).as("logw_micro"))

  /** Rank-based DSIR selection: the k documents whose hashed n-gram
    * profile is most target-like — top-k by (logw_micro desc, id asc),
    * TakeOrdered (bounded heap, no global sort).
    */
  def select(corpus: DataFrame, id: String, text: String,
             model: DsirModel, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    scores(corpus, id, text, model)
      .orderBy(col("logw_micro").desc, col(id))
      .limit(k)
  }

  /** Gumbel-perturbed DSIR selection — the paper's SAMPLING variant
    * (importance resampling rather than the deterministic rank cut) made
    * engine-replayable by the D6 seeded-determinism discipline: no engine
    * RNG — each document's Gumbel noise derives from the hash uniform
    * u = (pseudoRand(id + seed) + 1) / (M + 1) via g = −ln(−ln(u)), and
    * the Gumbel-max trick makes top-k of logw_micro + round(1e6·g) a
    * weighted sample without replacement from softmax(logw). u is an
    * exact integer ratio (one correctly-rounded IEEE division, identical
    * in any engine), so the only cross-engine float surface is ln's last
    * ulp — ~1e-10 of a micro-nat from any round boundary; q6r pins the
    * replay at all three SFs. Same TakeOrdered shape as [[select]].
    */
  def selectGumbel(corpus: DataFrame, id: String, text: String,
                   model: DsirModel, k: Int, seed: Long): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val u = (graft.operators.Sampling.pseudoRand(col(id) + lit(seed)) + 1)
      .cast("double") / lit(1000000008.0)
    val keyMicro = logwMicroCol(col(text), model) +
      round(lit(1e6) * -log(-log(u))).cast("long")
    corpus.select(col(id), keyMicro.as("key_micro"))
      .orderBy(col("key_micro").desc, col(id))
      .limit(k)
  }
}
