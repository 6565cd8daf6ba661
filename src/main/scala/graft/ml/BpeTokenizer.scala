package graft.ml

import graft.expressions.WordShingles
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training (Sennrich et al. 2016) — the
  * subword-vocabulary step every pretraining pipeline runs between corpus
  * curation and training consumption.
  *
  * Design for 100 TB: the original BPE algorithm operates on the WORD
  * VOCABULARY with counts, not on the raw corpus — so the only
  * distributed work is the capped word-count fit (ONE scan + one bounded
  * top-V, the LM-fit shape), and the merge loop runs driver-local over
  * ≤ vocabCap words (the q5l bounded-fit discipline). Applying the
  * tokenizer is a zero-shuffle fused kernel scan
  * ([[graft.expressions.BpeStats]] for counts,
  * [[graft.expressions.BpeTokenIds]] for the id sequences a trainer
  * consumes).
  *
  * DETERMINISM / ORACLE CONTRACT: the vocabulary truncates on the exact
  * (count desc, word asc) order; each merge round picks the pair with
  * (weighted count desc, then pair lexicographic asc); merges APPLY in
  * rank order with leftmost non-overlapping matching — exactly the
  * semantics of SQL `replace()` over the space-separated symbol string,
  * which is what lets the q5z oracle replay tokenization verbatim with a
  * chain of replace() calls. Symbols are Unicode CODEPOINTS
  * ([[graft.expressions.BpeStats.codepointSyms]]), matching the oracle's
  * per-codepoint `regexp_replace`.
  */
object BpeTokenizer {

  /** A learned merge list, rank order. Each entry is (left, right) —
    * applying it rewrites adjacent symbol pair `left right` to the
    * concatenation `left+right`.
    */
  type Merges = Seq[(String, String)]

  /** The full fitted tokenizer — what [[save]]/[[load]] round-trip and
    * what id-emitting segmentation needs beyond the merge list: the BASE
    * ALPHABET (the distinct codepoint symbols of the capped fit
    * vocabulary, sorted ascending) anchors the token-id space.
    *
    * Token ids (the standard BPE vocab-file convention): alphabet symbols
    * take ids 0..B−1 in sorted order, then each merge in rank order adds
    * its product `left+right` at the next id — first-wins when two merge
    * chains produce the same product string, so the id map is a pure
    * deterministic function of (alphabet, merges). Symbols outside the
    * map (unseen codepoints at segmentation time) emit [[UnkId]].
    */
  final case class BpeModel(alphabet: Array[String], merges: Merges) {
    require(alphabet.sameElements(alphabet.sorted) &&
      alphabet.distinct.length == alphabet.length,
      "alphabet must be sorted distinct symbols")
    /** symbol → token id; alphabet first, then merge products, first-wins. */
    lazy val vocabIds: Map[String, Int] = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      alphabet.foreach(s => m.getOrElseUpdate(s, m.size))
      merges.foreach { case (l, r) => m.getOrElseUpdate(l + r, m.size) }
      m.toMap
    }
  }

  /** Id emitted for a symbol outside the fitted vocabulary. */
  val UnkId: Int = -1

  /** Fit `nMerges` BPE merges from the corpus: ONE capped word-count job,
    * then the driver-local Sennrich loop. Stops early when no pair occurs
    * at least twice (merging singleton pairs would just memorize words).
    */
  def fit(corpus: DataFrame, text: Column, vocabCap: Int,
          nMerges: Int): Merges =
    fitModel(corpus, text, vocabCap, nMerges).merges

  /** [[fit]] returning the full [[BpeModel]] (alphabet + merges) — the
    * same single word-count job; the alphabet is a driver-local readout
    * of the capped vocabulary's distinct symbols.
    */
  def fitModel(corpus: DataFrame, text: Column, vocabCap: Int,
               nMerges: Int): BpeModel = {
    require(vocabCap > 0 && nMerges > 0,
      s"bad BPE geometry: vocabCap=$vocabCap nMerges=$nMerges")
    val vocab: Array[(Array[String], Long)] = corpus
      .select(explode(WordShingles.gramCounts(text, 1)).as("g"))
      .groupBy(col("g.gram").as("w")).agg(sum(col("g.cnt")).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(vocabCap)
      .collect()
      .map(r => (graft.expressions.BpeStats.codepointSyms(r.getString(0)),
        r.getLong(1)))
    // SQL-replay contract guard: the q5z oracle anchors merges on the
    // bracketed symbol form `[a][b][c]`, so bracket characters inside a
    // vocabulary word would break the anchoring silently. Fail loudly at
    // fit time instead (r11 ADVICE) — a corpus whose frequent words carry
    // brackets needs pre-cleaning before SQL-replayable BPE.
    vocab.find(_._1.exists(s => s == "[" || s == "]")).foreach { case (w, _) =>
      throw new IllegalArgumentException(
        s"BPE vocab word '${w.mkString}' contains '[' or ']' — the " +
          "bracketed-replace oracle contract requires bracket-free words")
    }
    val alphabet = vocab.flatMap(_._1).distinct.sorted
    val words = vocab.map(_._1.clone())
    val counts = vocab.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var done = words.isEmpty
    while (round < nMerges && !done) {
      // weighted pair counts over the vocabulary (pairs within words only)
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < words.length) {
        val w = words(wi)
        var i = 0
        while (i < w.length - 1) {
          val k = (w(i), w(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + counts(wi))
          i += 1
        }
        wi += 1
      }
      val best = pc.filter(_._2 >= 2L)
      if (best.isEmpty) done = true
      else {
        // (count desc, left asc, right asc) — one total order, refit-stable
        val (pair, _) = best.minBy { case ((l, r), c) => (-c, l, r) }
        merges += pair
        wi = 0
        while (wi < words.length) {
          words(wi) = graft.expressions.BpeStats.applyMerge(
            words(wi), pair._1, pair._2)
          wi += 1
        }
      }
      round += 1
    }
    BpeModel(alphabet, merges.toSeq)
  }

  /** Persist a fitted tokenizer — the NgramLm artifact-store discipline
    * (ml/NgramLm.scala save): ONE write job, a single parquet table
    * holding both sections tagged by `kind` (0 = alphabet row: `rank` =
    * sorted position, `left` = the symbol; 1 = merge row: `rank` = merge
    * rank, `left`/`right` = the pair), plus a job-free `meta.json`
    * sidecar with the section sizes. The whole artifact is bounded
    * (≤ alphabet + merges rows) so it coalesces to one file.
    */
  def save(spark: SparkSession, model: BpeModel, path: String): Unit = {
    import spark.implicits._
    val rows =
      model.alphabet.zipWithIndex.toIndexedSeq
        .map { case (s, i) => (0, i, s, null: String) } ++
      model.merges.zipWithIndex
        .map { case ((l, r), i) => (1, i, l, r) }
    rows.toDF("kind", "rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/vocab")
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      (s"""{"fmt": 1, "nAlphabet": ${model.alphabet.length}, """ +
        s""""nMerges": ${model.merges.length}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load a tokenizer written by [[save]] (one read job + the sidecar).
    * Rows re-sort by (kind, rank) so the loaded model is bit-identical to
    * the fitted one regardless of parquet row order; the sidecar's
    * section sizes guard against a torn or foreign artifact.
    */
  def load(spark: SparkSession, path: String): BpeModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val metaTxt = graft.sources.JsonSidecar.read(spark, p.toString)
    def meta(k: String): Int =
      s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(metaTxt)
        .getOrElse(throw new IllegalArgumentException(
          s"malformed BPE meta at $p: $metaTxt")).group(1).toInt
    val (nA, nM) = (meta("nAlphabet"), meta("nMerges"))
    val rows = spark.read.parquet(s"$path/vocab").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getString(3)))
      .sortBy(t => (t._1, t._2))
    val (aRows, mRows) = rows.partition(_._1 == 0)
    require(aRows.length == nA && mRows.length == nM,
      s"torn BPE artifact at $path: ${aRows.length}/${mRows.length} rows " +
        s"vs meta $nA/$nM")
    BpeModel(aRows.map(_._3), mRows.map(t => (t._3, t._4)).toSeq)
  }

  /** Per-document BPE stats — (doc_id, n_words, n_tokens): tokenize the
    * text, segment every word with `merges` in rank order, count the
    * resulting subword tokens. Zero-shuffle fused kernel scan.
    */
  def tokenStats(docs: DataFrame, id: Column, text: Column,
                 merges: Merges): DataFrame =
    docs.select(id.as("doc_id"),
        graft.expressions.BpeStats(text, merges.toArray).as("__s"))
      .select(col("doc_id"),
        col("__s.n_words").as("n_words"),
        col("__s.n_tokens").as("n_tokens"))

  /** Per-document token-ID sequences — (doc_id, token_ids: array<int>):
    * the segmentation a TRAINER consumes (and what
    * [[graft.operators.Curate.packSequences]] packs), not just counts.
    * Zero-shuffle fused kernel scan ([[graft.expressions.BpeTokenIds]]);
    * unseen codepoints emit [[UnkId]].
    */
  def segmentIds(docs: DataFrame, id: Column, text: Column,
                 model: BpeModel): DataFrame =
    docs.select(id.as("doc_id"),
      graft.expressions.BpeTokenIds(text, model).as("token_ids"))
}
