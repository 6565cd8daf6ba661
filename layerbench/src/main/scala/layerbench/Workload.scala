package layerbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** What a workload hands the run loop for one op: the number of items it
  * processed, and a check of its output, run after the op's clock stops.
  * The check returns an error message, or None when the output is right.
  */
final case class OpResult(items: Long, check: () => Option[String])

/** Everything a workload needs from the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
                     work: Path, runDir: Path)

/** One benchmark workload. The run calls, in order: `inputs` (cached,
  * untimed), `build` several times (the median counts in `setup_s`),
  * `reference` (untimed), `warmup` (counts in `setup_s`), then `op` in a
  * closed loop of `clients` threads, then `storedBytesPerItem` and
  * `finish`.
  */
trait Workload {
  def clients: Int
  /** Generate or reuse the seeded inputs. */
  def inputs(): Unit
  /** Build the state the ops read, as set-up repetition `rep`. */
  def build(rep: Int): Unit = ()
  /** Untimed-loop ops that let caches fill; returns failed checks. */
  def warmup(): Seq[String]
  /** Compute the expected outputs, untimed. */
  def reference(): Unit
  /** Op `i` of client `client`; throws or fails its check on a wrong answer. */
  def op(client: Int, i: Int): OpResult
  /** Stored bytes per item after the run. */
  def storedBytesPerItem(): Double
  /** Stop what the workload started. */
  def finish(): Unit = ()
}

object Workload {
  val Names: Seq[String] = Seq("pdi_experiment", "ann_serve", "doc_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pdi_experiment" => new PdiExperiment(ctx)
    case "ann_serve" => new AnnServe(ctx)
    case "doc_ingest" => new DocIngest(ctx)
  }
}
