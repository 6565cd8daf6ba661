package layerbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Stats {
  /** Median; the mean of the two middle values for an even count; 0 if empty. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default); 0 if empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Minimal JSON writer: numbers, strings, booleans, null, Seq and ordered
  * key-value objects.
  */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: Seq[(String, Any)]): Obj = Obj(fields)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case o: Obj => o.fields.map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)))
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.toList finally s.close()
    }

  /** Data files (not hidden, not markers) under `p`, recursively. */
  def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
  }

  /** Direct children of `p`; empty if it does not exist. */
  def list(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.iterator.asScala.toList finally s.close()
    }

  def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  /** Rows in the parquet files under `p`, from their footers (no Spark job). */
  def parquetRows(p: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    dataFiles(p).filter(_.toString.endsWith(".parquet")).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def delete(p: Path): Unit =
    walk(p).reverse.foreach(f => Files.deleteIfExists(f))
}
