package graft.fleetbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** What one closed-loop operation did.
  *
  * @param wallS      wall seconds of the operation, checks excluded
  * @param latencyMs  latency samples: one per micro-batch, tick or sweep
  * @param attempted  sub-operations run (batches, ticks or queries)
  * @param failed     sub-operations that threw or produced a wrong output
  * @param rows       input rows the operation processed
  * @param counts     Spark counters over the operation
  * @param layers     per-layer readings of a traced operation
  * @param errors     what went wrong, for the log
  */
final case class OpResult(wallS: Double, latencyMs: Seq[Double], attempted: Int,
    failed: Int, rows: Long, counts: Counts, layers: Map[String, Double] = Map.empty,
    errors: Seq[String] = Nil)

/** One benchmark workload. Inputs are made from the seed by [[stage]]
  * before any clock starts; [[op]] is one closed-loop operation. */
trait Workload {
  def name: String
  /** Generates and stages the inputs. Not timed. */
  def stage(e: Engine): Unit
  /** One operation. `op` numbers operations (-1 for the warm-up);
    * a traced operation records spans into `tr` and fills `layers`. */
  def op(e: Engine, op: Int, tr: Option[Tracer]): OpResult
  /** Human-readable notes printed next to the end-to-end metrics. */
  def notes(ops: Seq[OpResult]): Seq[String] = Nil
}

object Workload {
  def apply(name: String, seed: Long, tiny: Boolean, work: Path): Workload = name match {
    case "fleet_ingest" => new Ingest(seed, tiny, work)
    case "dashboard_refresh" => new Dashboard(seed, tiny, work)
    case "curation_batch" => new Curation(seed, tiny, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

object Dirs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  /** Data files under `p`: regular files that are not Spark's hidden
    * `_SUCCESS`/`.crc` side files. */
  def dataFiles(p: Path): Seq[Path] = walk(p).filter { f =>
    val n = f.getFileName.toString
    Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
  }

  def delete(p: Path): Unit = walk(p).reverse.foreach(Files.deleteIfExists)
}
