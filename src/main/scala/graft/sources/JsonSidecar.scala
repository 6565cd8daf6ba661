package graft.sources

import org.apache.spark.sql.SparkSession

/** The ONE read/write surface for the job-free JSON sidecars every
  * persisted model and drift baseline uses (meta.json, _drift.json):
  * create-overwrite through the path's Hadoop FileSystem, whole-file
  * UTF-8 read, and the tolerant integer-field parse (any spacing). The
  * four drift contracts and the index meta rewrite previously carried
  * near-identical copies of this boilerplate — a fix to any of them
  * (atomic temp-file writes, new fields) now lands once. Call sites
  * keep their own domain-specific error messages.
  */
private[graft] object JsonSidecar {

  /** ATOMIC overwrite: the bytes land in a `.tmp` sibling first, then one
    * rename (FileContext with OVERWRITE — atomic on POSIX local and HDFS)
    * swaps it over the live path. A crash therefore leaves either the old
    * sidecar or the new one, never a torn/empty file — which matters most
    * for the IN-PLACE meta rewrites (appendIvfPqIndex's stat
    * accumulation): a truncate-then-write there could take a whole
    * serving index down on a routine append crash, since every loader
    * refuses on a malformed meta. The fixed `.tmp` name is safe under the
    * house single-maintainer assumption (all sidecar writers are
    * maintenance ops); a crash-leftover temp is simply overwritten by the
    * next write and never read (readers address the exact live path).
    */
  def write(spark: SparkSession, path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The sidecar's full text; the stream is closed before returning.
    * Throws [[java.io.FileNotFoundException]] if the file does not exist.
    */
  def read(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The sidecar's full text, or None if the file does not exist. */
  def readOpt(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None else Some(read(spark, path))
  }

  /** A (possibly negative) integer field, tolerant of any spacing. */
  def longField(json: String, key: String): Option[Long] =
    (s""""$key"\\s*:\\s*(-?\\d+)""").r.findFirstMatchIn(json)
      .map(_.group(1).toLong)

  /** A plain string field (no escape handling — the house sidecars carry
    * tags and file names, which never contain quotes or backslashes).
    */
  def stringField(json: String, key: String): Option[String] =
    (s""""$key"\\s*:\\s*"([^"]*)"""").r.findFirstMatchIn(json)
      .map(_.group(1))

  /** A string-array field under the same no-escapes contract; None if
    * the key is absent, Some(Nil) for an empty array.
    */
  def stringListField(json: String, key: String): Option[Seq[String]] =
    (s""""$key"\\s*:\\s*\\[([^\\]]*)\\]""").r.findFirstMatchIn(json)
      .map(m => """"([^"]*)"""".r.findAllMatchIn(m.group(1))
        .map(_.group(1)).toSeq)

  /** Serialize a string list for the fields above. */
  def stringList(items: Seq[String]): String =
    items.map(s => "\"" + s + "\"").mkString("[", ", ", "]")
}
