package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  // dim=4, m=2 subspaces of 2; two well-separated coarse cells and
  // hand-built residual codebooks shared by both subspaces
  private val coarse: Seq[Seq[Double]] = Seq(
    Seq(0.0, 0.0, 0.0, 0.0), Seq(10.0, 10.0, 10.0, 10.0))
  private val cbs: Seq[Seq[Seq[Double]]] = Seq(
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
    Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))

  private def vecs = Seq(
    (1L, Seq(0.9f, 0.9f, 1.1f, 1.1f)),     // cell 0, residual codes (1, 1)
    (2L, Seq(10.9f, 10.9f, 11.1f, 11.1f)), // cell 1, SAME residual codes
    (3L, Seq(0.1f, 0.1f, 0.1f, 0.1f))      // cell 0, residual codes (0, 0)
  ).toDF("vec_id", "embedding")

  // the kernel's exact fixed-point chain over a residual
  private def residD(a: Seq[Float], cc: Seq[Double], c: Seq[Double]): Long =
    a.indices.map { i =>
      val d = (a(i).toDouble - cc(i)) - c(i)
      graft.expressions.BigramLmScore.halfUp(1e9 * (d * d))
    }.sum

  test("IvfPqEncode: coarse cell + residual codes in one pass; geometry -> null") {
    val out = vecs.select(col("vec_id"),
        graft.expressions.IvfPqEncode(col("embedding"), coarse, cbs).as("s"))
      .select(col("vec_id"), col("s.cell"), col("s.codes"))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq))
    assert(out.toSeq == Seq(
      (1L, 0, Seq(1, 1)), (2L, 1, Seq(1, 1)), (3L, 0, Seq(0, 0))))
    val bad = Seq((9L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select(graft.expressions.IvfPqEncode(col("embedding"), coarse, cbs)
        .as("s")).collect().head
    assert(bad.isNullAt(0))
  }

  test("FpSqDist: the nano-unit grid on a column pair; length mismatch -> null") {
    val q = Seq((Seq(1.0f, 1.0f, 1.0f, 1.0f), Seq(0.0, 0.0, 0.0, 0.0)),
        (Seq(1.0f, 1.0f, 1.0f, 1.0f), Seq(10.0, 10.0, 10.0, 10.0)))
      .toDF("a", "b")
    val out = q.select(graft.expressions.FpSqDist(col("a"), col("b")))
      .as[Long].collect().toSeq
    assert(out == Seq(4L * 1000000000L, 4L * 81L * 1000000000L))
    val bad = Seq((Seq(1.0f, 2.0f), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
      .select(graft.expressions.FpSqDist(col("a"), col("b")))
      .collect().head
    assert(bad.isNullAt(0))
  }

  test("ivfPqTopK: probe pruning is real (nProbe=1 excludes the far cell), ADC exact") {
    val q = Seq((100L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("query_id", "embedding")
    val qv = Seq(1.0f, 1.0f, 1.0f, 1.0f)
    // hand ADC: v1 = 0 (exact residual-centroid hit), v3 = 4e9, v2 = 400e9
    val d1 = residD(qv.take(2), coarse(0).take(2), cbs(0)(1)) +
      residD(qv.drop(2), coarse(0).drop(2), cbs(1)(1))
    val d3 = residD(qv.take(2), coarse(0).take(2), cbs(0)(0)) +
      residD(qv.drop(2), coarse(0).drop(2), cbs(1)(0))
    val d2 = residD(qv.take(2), coarse(1).take(2), cbs(0)(1)) +
      residD(qv.drop(2), coarse(1).drop(2), cbs(1)(1))
    assert(d1 == 0L && d3 == 4L * 1000000000L && d2 == 400L * 1000000000L)
    val pruned = Similarity.ivfPqTopK(vecs, "vec_id", q, "query_id",
        k = 3, nProbe = 1, coarse, cbs)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(pruned.toSeq == Seq((1L, d1), (3L, d3))) // v2's cell unprobed
    val full = Similarity.ivfPqTopK(vecs, "vec_id", q, "query_id",
        k = 3, nProbe = 2, coarse, cbs)
      .orderBy("dist", "vec_id").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(full.toSeq == Seq((1L, d1), (3L, d3), (2L, d2)))
  }

  test("fitIvfPq: deterministic refit, geometry enforced") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Similarity.fitIvfPq(emb, nCentroids = 8, m = 4, codebookSize = 8)
    val b = Similarity.fitIvfPq(emb, nCentroids = 8, m = 4, codebookSize = 8)
    assert(a == b, "refit must be bit-identical")
    assert(a._1.size == 8 && a._1.forall(_.size == 64))
    assert(a._2.size == 4 && a._2.forall(_.size == 8) &&
      a._2.forall(_.forall(_.size == 16)))
    intercept[IllegalArgumentException] {
      Similarity.fitIvfPq(emb, nCentroids = 8, m = 7) // 64 % 7 != 0
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(vecs, "vec_id",
        Seq((1L, Seq(1.0f))).toDF("query_id", "embedding"), "query_id",
        k = 1, nProbe = 3, coarse, cbs) // nProbe > nCentroids
    }
  }

  test("ivfPqTopK recall: probing beats chance, all-cells covers the identical vector") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cc, cb) = Similarity.fitIvfPq(emb.where(col("vec_id") >= 5),
      nCentroids = 8, m = 4, codebookSize = 16)
    // every corpus vector queried against the corpus itself must find
    // ITSELF at dist <= any other candidate when its own cell is probed —
    // with nProbe = all cells, self is always a candidate and ADC(self)
    // is the minimal ADC for its codes, so self appears in the top-k
    val queries = emb.where(col("vec_id") >= 5 && col("vec_id") < 25)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val hits = Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5), "vec_id",
        queries, "query_id", k = 5, nProbe = 8, cc, cb)
      .where(col("query_id") === col("vec_id")).count()
    assert(hits >= 15L, s"self-recall $hits/20 under all-cells probing")
    // approximate operating point still recalls most selves
    val hitsApprox = Similarity.ivfPqTopK(emb.where(col("vec_id") >= 5),
        "vec_id", queries, "query_id", k = 5, nProbe = 3, cc, cb)
      .where(col("query_id") === col("vec_id")).count()
    assert(hitsApprox >= 10L, s"self-recall $hitsApprox/20 at nProbe=3")
  }

  test("persisted index: search == in-memory search row-for-row; probes prune partitions; torn sidecar refused") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.where(col("vec_id") >= 5)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val (cc, cb) = Similarity.fitIvfPq(corpus, nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.writeIvfPqIndex(corpus, "vec_id", s"$dir/ok", cc, cb)
    // model sidecar round-trips bit-identically
    val (lc, lb) = Similarity.loadIvfPqModel(spark, s"$dir/ok")
    assert(lc == cc && lb == cb, "sidecar round trip must be bit-identical")
    // from-index search equals the from-scratch search exactly
    val fromIdx = Similarity.ivfPqTopKFromIndex(spark, s"$dir/ok",
        queries, "query_id", k = 5, nProbe = 3)
      .orderBy("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val inMem = Similarity.ivfPqTopK(corpus, "vec_id", queries, "query_id",
        k = 5, nProbe = 3, cc, cb)
      .orderBy("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fromIdx.toSeq == inMem.toSeq)
    // the encoded scan carries a partition filter on the probed cells
    val plan = Similarity.ivfPqTopKFromIndex(spark, s"$dir/ok",
      queries, "query_id", k = 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)
    // the probe ranking ran ONCE, at call time: the served plan joins the
    // collected (query, cell) pairs as a local relation and carries NO
    // coarse-distance computation (r12 verdict: the queries×centroids
    // GroupedTopK used to execute twice)
    assert(plan.contains("LocalTableScan"), plan)
    assert(!plan.contains("fp_sq_dist") && !plan.contains("FpSqDist"), plan)
    // torn sidecar: meta disagrees with the model rows
    Similarity.writeIvfPqIndex(corpus, "vec_id", s"$dir/torn", cc, cb)
    val p = new org.apache.hadoop.fs.Path(s"$dir/torn/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      """{"fmt": 1, "nCentroids": 16, "m": 4, "codebookSize": 16}""".getBytes)
    finally out.close()
    intercept[IllegalArgumentException] {
      Similarity.loadIvfPqModel(spark, s"$dir/torn")
    }
  }

  test("appendIvfPqIndex: append == rebuild, existing files untouched, torn sidecar refused") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.where(col("vec_id") >= 5)
    val (cc, cb) = Similarity.fitIvfPq(corpus, nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_app").toString
    // full one-shot build vs half-build + append of the other half
    Similarity.writeIvfPqIndex(corpus, "vec_id", s"$dir/full", cc, cb)
    Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
      "vec_id", s"$dir/inc", cc, cb)
    def files(p: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(p)
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(root).forEach { f =>
        if (f.toString.endsWith(".parquet"))
          out(root.relativize(f).toString) = java.nio.file.Files.size(f)
      }
      out.toMap
    }
    val before = files(s"$dir/inc/encoded")
    Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 2 =!= 0),
      "vec_id", s"$dir/inc")
    val after = files(s"$dir/inc/encoded")
    // the append only ADDS files: every pre-existing file survives
    // byte-identical in size — the batch was encoded, the index was not
    // rewritten (the steady-state cost contract)
    assert(before.forall { case (f, sz) => after.get(f).contains(sz) },
      s"append rewrote existing index files:\n$before\nvs\n$after")
    assert(after.size > before.size, "append added no files")
    // append == rebuild row-for-row
    def rows(p: String) = spark.read.parquet(s"$p/encoded")
      .select(col("vec_id"), col("cell").cast("int"), col("codes"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/inc") == rows(s"$dir/full"))
    // ...and the served search over the appended index equals the live one
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val inc = Similarity.ivfPqTopKFromIndex(spark, s"$dir/inc",
        queries, "query_id", k = 5, nProbe = 3)
      .orderBy("query_id", "vec_id").collect().map(_.toString).toSeq
    val live = Similarity.ivfPqTopK(corpus, "vec_id", queries, "query_id",
        k = 5, nProbe = 3, cc, cb)
      .orderBy("query_id", "vec_id").collect().map(_.toString).toSeq
    assert(inc == live)
    // the append ACCUMULATED the sidecar drift stat: the incremental
    // index's build row must equal the one-shot full build's (the q6s
    // oracle recomputes it over the full corpus)
    val batch = emb.where(col("vec_id") < 5)
    def buildRow(p: String) =
      Similarity.ivfPqDriftStats(spark, p, batch)
        .where(col("src") === "build").collect()
        .map(r => (r.getLong(1), r.getLong(2))).head
    assert(buildRow(s"$dir/inc") == buildRow(s"$dir/full"),
      "append must accumulate statN/statSumNano to the full-corpus stat")
    // a torn sidecar refuses the append BEFORE any write
    val p = new org.apache.hadoop.fs.Path(s"$dir/inc/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      """{"fmt": 1, "nCentroids": 16, "m": 4, "codebookSize": 16}""".getBytes)
    finally out.close()
    val preTear = files(s"$dir/inc/encoded")
    intercept[IllegalArgumentException] {
      Similarity.appendIvfPqIndex(corpus, "vec_id", s"$dir/inc")
    }
    assert(files(s"$dir/inc/encoded") == preTear,
      "refused append must not have written anything")
  }

  test("refitIvfPqIndex: swap == fresh rebuild, wrong corpus refused, mid-swap never torn") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.where(col("vec_id") >= 5)
    val (c0, b0) = Similarity.fitIvfPq(corpus, nCentroids = 8)
    val (c1, b1) = Similarity.fitIvfPq(corpus, nCentroids = 8, seed = 43L)
    assert(c0 != c1, "refit fixture needs a genuinely different model")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_refit").toString
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def search(p: String) = Similarity.ivfPqTopKFromIndex(spark, p,
        queries, "query_id", k = 5, nProbe = 3)
      .orderBy("query_id", "vec_id").collect().map(_.toString).toSeq
    // the served lifecycle: build the even half, append the odd half
    Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
      "vec_id", s"$dir/idx", c0, b0)
    Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 2 =!= 0),
      "vec_id", s"$dir/idx")
    val preRefit = search(s"$dir/idx")
    // a subset corpus refuses AFTER staging, with the live index untouched
    val e = intercept[IllegalArgumentException] {
      Similarity.refitIvfPqIndex(corpus.where(col("vec_id") % 3 === 0),
        "vec_id", s"$dir/idx", c1, b1)
    }
    assert(e.getMessage.contains("refit corpus mismatch"), e.getMessage)
    assert(search(s"$dir/idx") == preRefit, "refused refit touched the index")
    // the real refit (re-run also clears the refused attempt's staging)
    Similarity.refitIvfPqIndex(corpus, "vec_id", s"$dir/idx", c1, b1)
    val post = search(s"$dir/idx")
    // swap == fresh rebuild with the new model — rows AND sidecar stat
    Similarity.writeIvfPqIndex(corpus, "vec_id", s"$dir/fresh", c1, b1)
    assert(post == search(s"$dir/fresh"), "post-swap search != fresh rebuild")
    assert(post != preRefit, "the new model must actually be serving")
    val batch = emb.where(col("vec_id") < 5)
    def buildRow(p: String) = Similarity.ivfPqDriftStats(spark, p, batch)
      .where(col("src") === "build").collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(buildRow(s"$dir/idx") == buildRow(s"$dir/fresh"),
      "swapped sidecar stat != fresh build stat")
    // no stray staging/old dirs survive a clean refit
    val stray = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(stray == Seq("fresh", "idx"), s"stray swap dirs: $stray")
    // mid-swap window: between the two renames the root is ABSENT — a
    // reader fails loudly (missing sidecar), never sees a torn mix, and
    // the swapped-out directory still serves the consistent old index
    val root = new org.apache.hadoop.fs.Path(s"$dir/idx")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(s"$dir/idx.refit_old")
    assert(fs.rename(root, old))
    intercept[java.io.FileNotFoundException] {
      Similarity.loadIvfPqModel(spark, s"$dir/idx")
    }
    assert(search(s"$dir/idx.refit_old") == post,
      "the swapped-out directory must stay internally consistent")
    assert(fs.rename(old, root))
    assert(search(s"$dir/idx") == post)
    // between-renames crash recovery, roll-BACK case: root absent, only
    // .refit_old survives — a re-run restores it and refits
    assert(fs.rename(root, old))
    Similarity.refitIvfPqIndex(corpus, "vec_id", s"$dir/idx", c1, b1)
    assert(search(s"$dir/idx") == post, "roll-back recovery diverged")
    // roll-FORWARD case: root absent, a fully staged index survives —
    // a re-run completes the crashed swap first, then refits
    val staging = new org.apache.hadoop.fs.Path(s"$dir/idx.refit_tmp")
    Similarity.writeIvfPqIndex(corpus, "vec_id", staging.toString, c0, b0)
    assert(fs.rename(root, old))
    Similarity.refitIvfPqIndex(corpus, "vec_id", s"$dir/idx", c1, b1)
    assert(search(s"$dir/idx") == post, "roll-forward recovery diverged")
    val strays = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("idx.")).toSeq
    assert(strays.isEmpty, s"recovery left stray swap dirs: $strays")
  }

  test("compactIvfPqIndex: one file per cell, search/model unchanged, no-op re-run, crash windows") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.where(col("vec_id") >= 5)
    val (cc, cb) = Similarity.fitIvfPq(corpus, nCentroids = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_comp").toString
    val idx = s"$dir/idx"
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def search(p: String) = Similarity.ivfPqTopKFromIndex(spark, p,
        queries, "query_id", k = 5, nProbe = 3)
      .orderBy("query_id", "vec_id").collect().map(_.toString).toSeq
    def cellFiles: Map[String, Seq[String]] = {
      val cells = new java.io.File(s"$idx/encoded").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      cells.map(c => c.getName -> c.listFiles()
        .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
        .sorted.toSeq).toMap
    }
    // the appending lifecycle: build the even half, append the odd half
    // as TWO batches — cell partitions genuinely carry small files
    Similarity.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 0),
      "vec_id", idx, cc, cb)
    Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 4 === 1),
      "vec_id", idx)
    Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 4 === 3),
      "vec_id", idx)
    assert(cellFiles.exists(_._2.size > 1),
      "fixture must carry multi-file cell partitions")
    val pre = search(idx)
    def rows = spark.read.parquet(s"$idx/encoded")
      .select(col("vec_id"), col("cell").cast("int"), col("codes"))
      .collect().map(_.toString).sorted.toSeq
    val preRows = rows
    val preMeta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/meta.json")))
    Similarity.compactIvfPqIndex(spark, idx)
    assert(cellFiles.forall(_._2.size == 1),
      s"compaction must fold to one file per cell: $cellFiles")
    assert(rows == preRows, "compaction changed the row multiset")
    assert(search(idx) == pre, "served search changed across compaction")
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$idx/meta.json"))) == preMeta,
      "compaction must not touch the model sidecar")
    // no-op fast path: a re-run leaves the exact same files in place
    val snap = cellFiles
    Similarity.compactIvfPqIndex(spark, idx)
    assert(cellFiles == snap, "no-op re-run rewrote files")
    // a torn index refuses BEFORE any write (the appendIvfPqIndex guard)
    val enc = new org.apache.hadoop.fs.Path(s"$idx/encoded")
    val fs = enc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeMeta(txt: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$idx/meta.json"), true)
      try out.write(txt.getBytes) finally out.close()
    }
    writeMeta("""{"fmt": 1, "nCentroids": 99, "m": 2, "codebookSize": 2, """ +
      """"statN": 0, "statSumNano": 0}""")
    intercept[IllegalArgumentException] {
      Similarity.compactIvfPqIndex(spark, idx)
    }
    assert(cellFiles == snap, "refused compaction touched the encoded tree")
    writeMeta(preMeta)
    // mid-swap window: the encoded root is ABSENT between the renames —
    // a reader fails loudly, never sees duplicates or a silent subset;
    // a re-run rolls BACK from compact_old and serves the old tree
    val old = new org.apache.hadoop.fs.Path(s"$idx/encoded.compact_old")
    assert(fs.rename(enc, old))
    intercept[Exception] { search(idx) }
    Similarity.compactIvfPqIndex(spark, idx)
    assert(search(idx) == pre, "roll-back recovery diverged")
    // roll-FORWARD window: a _SUCCESS-complete staging survives the
    // crash with the root renamed out — a re-run promotes the staging
    val tmp = new org.apache.hadoop.fs.Path(s"$idx/encoded.compact_tmp")
    spark.read.parquet(enc.toString).repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(tmp.toString)
    assert(fs.rename(enc, old))
    Similarity.compactIvfPqIndex(spark, idx)
    assert(search(idx) == pre, "roll-forward recovery diverged")
    val stray = new java.io.File(idx).listFiles().map(_.getName)
      .filter(_.startsWith("encoded.")).toSeq
    assert(stray.isEmpty, s"recovery left stray swap dirs: $stray")
  }

  test("ivfPqDriftStats: exact hand-computed sums, sidecar-bound build row, predates-stats refusal") {
    // coarse distance of v to its NEAREST cell on the nano grid
    def minD(v: Seq[Float]): Long = coarse.map(cc =>
      v.indices.map { i =>
        val d = v(i).toDouble - cc(i)
        graft.expressions.BigramLmScore.halfUp(1e9 * (d * d))
      }.sum).min
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_drift").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", s"$dir/idx", coarse, cbs)
    // an in-distribution row and a drifted one (far from both cells)
    val batch = Seq(
      (50L, Seq(0.2f, 0.2f, 0.2f, 0.2f)),
      (51L, Seq(5.0f, 5.0f, 5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfPqDriftStats(spark, s"$dir/idx", batch)
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val buildSum = Seq(
      Seq(0.9f, 0.9f, 1.1f, 1.1f), Seq(10.9f, 10.9f, 11.1f, 11.1f),
      Seq(0.1f, 0.1f, 0.1f, 0.1f)).map(minD).sum
    val batchSum = minD(Seq(0.2f, 0.2f, 0.2f, 0.2f)) +
      minD(Seq(5.0f, 5.0f, 5.0f, 5.0f))
    assert(out.toSeq == Seq(
      ("batch", 2L, batchSum), ("build", 3L, buildSum)))
    // the drifted row dominates: the refit signal is visible in the means
    assert(batchSum / 2 > buildSum / 3,
      "drifted batch must read a larger mean distance than the build corpus")
    // the build row comes from the SIDECAR, not a recompute: a doctored
    // stat surfaces verbatim (the oracle's hash would catch it)
    val p = new org.apache.hadoop.fs.Path(s"$dir/idx/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = new String(org.apache.commons.io.IOUtils.toByteArray(fs.open(p)))
    val out2 = fs.create(p, true)
    try out2.write(txt.replace(s""""statSumNano": $buildSum""",
      """"statSumNano": 12345""").getBytes)
    finally out2.close()
    val doctored = Similarity.ivfPqDriftStats(spark, s"$dir/idx", batch)
      .where(col("src") === "build").collect().head.getLong(2)
    assert(doctored == 12345L, s"build row must come from the sidecar: $doctored")
    // a pre-stats index (no statN key) refuses with a clear message
    val out3 = fs.create(p, true)
    try out3.write(
      """{"fmt": 1, "nCentroids": 2, "m": 2, "codebookSize": 2}""".getBytes)
    finally out3.close()
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqDriftStats(spark, s"$dir/idx", batch)
    }
    assert(e.getMessage.contains("predates drift stats"), e.getMessage)
  }

  test("ivfPqRecallAtK: exhaustive probing recalls everything; pruned probing shows the miss") {
    // query near cell 0: exact cosine top-2 vs IVFADC top-2
    val q = Seq((100L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("query_id", "embedding")
    // nProbe = all cells: the approximate set == candidates from every
    // cell, and with k covering the corpus the intersection is full
    val full = Similarity.ivfPqRecallAtK(vecs, "vec_id", q, "query_id",
        k = 3, nProbe = 2, coarse, cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(full.toSeq == Seq((100L, 3L)), s"got ${full.toSeq}")
    // nProbe=1 prunes v2's cell: the exact top-3 contains v2, the
    // approximate top-3 cannot -> exactly one miss
    val pruned = Similarity.ivfPqRecallAtK(vecs, "vec_id", q, "query_id",
        k = 3, nProbe = 1, coarse, cbs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pruned.toSeq == Seq((100L, 2L)), s"got ${pruned.toSeq}")
    // zero-norm query emits no row (cosine undefined)
    val zq = Seq((7L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("query_id", "embedding")
    assert(Similarity.ivfPqRecallAtK(vecs, "vec_id", zq, "query_id",
      k = 2, nProbe = 2, coarse, cbs).count() == 0L)
  }

  test("ivfPqTopK plan: broadcast probe side, no sort-merge join, no window") {
    val q = Seq((100L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("query_id", "embedding")
    val plan = Similarity.ivfPqTopK(vecs, "vec_id", q, "query_id",
        k = 2, nProbe = 2, coarse, cbs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  // 64 tight clusters on a 4x4x4 grid (spacing 10), three points each:
  // one cell directory per cluster when the centers are the coarse cells
  private val gridCenters: Seq[Seq[Double]] =
    for (a <- 0 until 4; b <- 0 until 4; c <- 0 until 4)
      yield Seq(10.0 * a, 10.0 * b, 10.0 * c, 0.0)
  private def gridCorpus = gridCenters.zipWithIndex.flatMap { case (cc, i) =>
    (0 until 3).map(j => ((i * 3 + j).toLong, cc.map(x => (x + 0.3 * j).toFloat)))
  }.toDF("vec_id", "embedding")
  private def gridQueries = Seq((1L, Seq(0.2f, 0.1f, 0.0f, 0.0f)),
    (2L, Seq(30.1f, 19.9f, 10.0f, 0.0f)), (3L, Seq(14.0f, 5.0f, 26.0f, 1.0f)),
    (4L, Seq(21.0f, 29.0f, 3.0f, -1.0f))).toDF("query_id", "embedding")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy("query_id", "vec_id").collect().map(_.toString).toSeq

  /** Runs `body` on `threads` threads released together; their results. */
  private def concurrently[T](threads: Int)(body: => T): Seq[T] = {
    val gate = new java.util.concurrent.CyclicBarrier(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(
        new java.util.concurrent.Callable[T] {
          def call(): T = { gate.await(); body }
        }))
      futures.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
    } finally pool.shutdownNow()
  }

  /** Task count of every job `body` starts on this thread, in start order.
    * A sentinel job run afterwards drains the listener queue: events reach
    * a listener in posting order, so once the sentinel's start arrives,
    * every start of `body` has too.
    */
  private def jobTaskCounts[T](body: => T): (Seq[Int], T) = {
    val sc = spark.sparkContext
    val group = s"ivfpq-counted-${System.nanoTime}"
    val sentinel = s"$group-sentinel"
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counts.add(e.stageInfos.map(_.numTasks).sum)
          case Some(`sentinel`) => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(2, java.util.concurrent.TimeUnit.MINUTES))
      (counts.asScala.toSeq, out)
    } finally sc.removeSparkListener(listener)
  }

  test("open index: a repeat search runs only the probe jobs, no partition listing") {
    // 64 cells: more cell directories than Spark lists serially (32), so
    // re-discovering the partitions on a search is a 64-task job
    val corpus = gridCorpus
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_jobs").toString
    Similarity.writeIvfPqIndex(corpus, "vec_id", s"$dir/idx", gridCenters, cbs)
    val cellDirs = new java.io.File(s"$dir/idx/encoded").listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs == 64)
    val queries = gridQueries
    def search() = Similarity.ivfPqTopKFromIndex(spark, s"$dir/idx",
      queries, "query_id", k = 3, nProbe = 2)
    val first = sortedRows(search())
    val (tasks, found) = jobTaskCounts(search())
    assert(tasks.size <= 3, s"repeat search started ${tasks.size} jobs: $tasks")
    assert(!tasks.contains(cellDirs),
      s"repeat search re-listed the cell directories: $tasks")
    assert(sortedRows(found) == first)
    assert(first == sortedRows(Similarity.ivfPqTopK(corpus, "vec_id",
      queries, "query_id", k = 3, nProbe = 2, gridCenters, cbs)))
  }

  test("open index: warm cache follows append, compact, refit, a doctored meta and a missing tree") {
    val (corpus, queries) = (gridCorpus, gridQueries)
    val (c0, b0) = Similarity.fitIvfPq(corpus, nCentroids = 8, m = 2)
    val (c1, b1) = Similarity.fitIvfPq(corpus, nCentroids = 8, m = 2,
      seed = 43L)
    val idx = java.nio.file.Files.createTempDirectory("ivfpq_warm")
      .toString + "/idx"
    def search() = sortedRows(Similarity.ivfPqTopKFromIndex(spark, idx,
      queries, "query_id", k = 5, nProbe = 3))
    def live(c: DataFrame, cc: Seq[Seq[Double]], cb: Seq[Seq[Seq[Double]]]) =
      sortedRows(Similarity.ivfPqTopK(c, "vec_id", queries, "query_id",
        k = 5, nProbe = 3, cc, cb))
    val even = corpus.where(col("vec_id") % 2 === 0)
    Similarity.writeIvfPqIndex(even, "vec_id", idx, c0, b0)
    assert(search() == live(even, c0, b0))
    Similarity.appendIvfPqIndex(corpus.where(col("vec_id") % 2 =!= 0),
      "vec_id", idx)
    val full = live(corpus, c0, b0)
    assert(search() == full, "search after append missed the appended rows")
    Similarity.compactIvfPqIndex(spark, idx)
    assert(search() == full, "search changed across compaction")
    Similarity.refitIvfPqIndex(corpus, "vec_id", idx, c1, b1)
    val refit = live(corpus, c1, b1)
    assert(refit != full, "the refit fixture must change the served rows")
    assert(search() == refit, "search after refit served the old model")
    val meta = new org.apache.hadoop.fs.Path(s"$idx/meta.json")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeMeta(txt: String): Unit = {
      val out = fs.create(meta, true)
      try out.write(txt.getBytes) finally out.close()
    }
    val metaTxt = graft.sources.JsonSidecar.read(spark, meta.toString)
    val doctored = metaTxt.replace("\"nCentroids\": 8", "\"nCentroids\": 9")
    assert(doctored != metaTxt)
    writeMeta(doctored)
    intercept[IllegalArgumentException](search())
    writeMeta(metaTxt)
    assert(search() == refit)
    val enc = java.nio.file.Paths.get(s"$idx/encoded")
    val moved = java.nio.file.Paths.get(s"$idx/encoded.moved")
    java.nio.file.Files.move(enc, moved)
    intercept[Exception](search())
    java.nio.file.Files.move(moved, enc)
    assert(search() == refit)
    assert(concurrently(2)(search()) == Seq(refit, refit))
  }

  test("open index cache: LRU capacity, dropped when the index vanishes, per session, concurrent miss") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_lru").toString
    Similarity.writeIvfPqIndex(vecs, "vec_id", s"$dir/src", coarse, cbs)
    val cap = Similarity.OpenIndexes.Capacity
    val paths = (0 to cap).map { i =>
      val p = s"$dir/idx$i"
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(s"$dir/src"), new java.io.File(p))
      p
    }
    def cached = Similarity.OpenIndexes.entries.map(_._1)
    paths.take(cap).foreach(Similarity.loadIvfPqModel(spark, _))
    assert(cached == paths.take(cap))
    Similarity.loadIvfPqModel(spark, paths(0))
    Similarity.loadIvfPqModel(spark, paths(cap))
    assert(cached == paths.slice(2, cap) ++ Seq(paths(0), paths(cap)),
      "a full cache must evict its least recently used entry")
    // an index deleted from disk is not retained
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(paths(0)))
    intercept[java.io.FileNotFoundException](
      Similarity.loadIvfPqModel(spark, paths(0)))
    assert(!cached.contains(paths(0)))
    // an entry belongs to the session that opened it
    def session(p: String) =
      Similarity.OpenIndexes.entries.toMap.get(p).map(_.spark)
    val other = spark.newSession()
    assert(Similarity.loadIvfPqModel(other, paths(cap)) == ((coarse, cbs)))
    assert(session(paths(cap)).exists(_ eq other))
    Similarity.loadIvfPqModel(spark, paths(cap))
    assert(session(paths(cap)).exists(_ eq spark))
    // two callers missing on the same index at once both get correct rows
    val q = Seq((100L, Seq(1.0f, 1.0f, 1.0f, 1.0f)),
      (101L, Seq(10.0f, 10.0f, 10.0f, 10.0f))).toDF("query_id", "embedding")
    val expected = sortedRows(Similarity.ivfPqTopK(vecs, "vec_id", q,
      "query_id", k = 2, nProbe = 1, coarse, cbs))
    val fresh = s"$dir/fresh"
    Similarity.writeIvfPqIndex(vecs, "vec_id", fresh, coarse, cbs)
    assert(!cached.contains(fresh))
    assert(concurrently(2)(sortedRows(Similarity.ivfPqTopKFromIndex(spark,
      fresh, q, "query_id", k = 2, nProbe = 1))) == Seq(expected, expected))
  }
}
