package graft.fleetbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.{Telemetry, Thresholds}
import graft.rules.FleetRules
import graft.sinks.Sinks
import graft.sources.{FileReplay, Simulation}
import graft.streaming.Pipeline

/** `fleet_ingest`: Simulation telemetry staged as wire JSONL, drained by
  * [[graft.streaming.Pipeline.runAlertPipeline]] in `AvailableNow` mode
  * (10 files per trigger) into a fresh store and checkpoint per drain.
  *
  * Why: exercises `streaming`, `FileReplay.normalize`, `rules` and the
  * bulk write path of `Sinks.writePartitioned`; touches no `metrics`,
  * `queries` or `IndexCache`. An operation is one drain; its latency
  * samples are the micro-batches' `triggerExecution` times.
  */
final class Ingest(seed: Long, tiny: Boolean, work: Path) extends Workload {
  val name = "fleet_ingest"
  private val (vehicles, ticks, files) = if (tiny) (6, 100, 20) else (120, 1000, 50)
  private[fleetbench] val landing = work.resolve("landing")
  private[fleetbench] var truth: Ingest.Truth = _
  private var landingBytes = 0L

  def stage(e: Engine): Unit = {
    val rows = Simulation.telemetry(e.spark, vehicles, ticks, seed).collect()
      .sortBy(t => (t.time.getTime, t.vehicle_id))
    truth = Ingest.Truth.of(rows.toSeq)
    Files.createDirectories(landing)
    val per = (rows.length + files - 1) / files
    rows.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val f = landing.resolve(f"part-$i%05d.jsonl")
      Files.write(f, chunk.map(Ingest.wire).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      // file streams take files in modification-time order
      f.toFile.setLastModified(1700000000000L + i * 1000L)
    }
    landingBytes = Dirs.dataFiles(landing).map(Files.size).sum
  }

  def op(e: Engine, op: Int, tr: Option[Tracer]): OpResult = {
    val s = e.spark
    val out = work.resolve(s"drain$op")
    val ckpt = work.resolve(s"ckpt$op")
    val expectBatches = (files + 9) / 10
    val c0 = e.counts()
    val t0 = System.nanoTime()
    val attempt = scala.util.Try {
      val q = Pipeline.runAlertPipeline(s, landing.toString, out.toString, ckpt.toString)
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).toSeq
    }
    val t1 = System.nanoTime()
    val counts = e.counts() - c0
    val wall = (t1 - t0) / 1e9
    try attempt match {
      case scala.util.Failure(err) =>
        OpResult(wall, Nil, expectBatches, expectBatches, 0, counts,
          errors = Seq(s"drain failed: $err"))
      case scala.util.Success(progress) =>
        val stored = Ingest.Stored.read(s, out)
        val errors = Ingest.check(truth, progress.map(_.numInputRows).sum, stored)
        val lat = progress.map(_.durationMs.get("triggerExecution").doubleValue)
        val layers = tr.fold(Map.empty[String, Double])(t =>
          traceLayers(s, t, op, t0, t1, progress, out, stored))
        OpResult(wall, lat, progress.size, if (errors.isEmpty) 0 else progress.size,
          truth.rows, counts, layers, errors)
    } finally {
      Dirs.delete(out)
      Dirs.delete(ckpt)
    }
  }

  /** Spans for the drain and each trigger (phase durations as attributes,
    * from `StreamingQueryProgress`), then the layer probes over the same
    * landing data: read + normalize, the alert rules, and the partitioned
    * write, each called on its own. */
  private def traceLayers(s: SparkSession, tr: Tracer, op: Int, t0: Long, t1: Long,
      progress: Seq[StreamingQueryProgress], out: Path, stored: Ingest.Stored): Map[String, Double] = {
    val drainS = (t1 - t0) / 1e9
    val drain = tr.add("streaming.drain", op, -1, t0, t1)
    val phases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
      "queryPlanning" -> "query_planning", "addBatch" -> "add_batch", "walCommit" -> "wal_commit")
    def ms(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
    val wallOrigin = System.currentTimeMillis() - (System.nanoTime() - t0) / 1000000L
    progress.foreach { p =>
      val startNs = t0 + (Instant.parse(p.timestamp).toEpochMilli - wallOrigin) * 1000000L
      tr.add("streaming.batch", op, drain, startNs,
        startNs + (ms(p, "triggerExecution") * 1e6).toLong,
        phases.map { case (k, n) => s"${n}_ms" -> ms(p, k) }.toMap +
          ("rows" -> p.numInputRows.toDouble))
    }
    val trigger = progress.map(ms(_, "triggerExecution")).sum

    val probe = work.resolve(s"probe$op")
    val norm = FileReplay.readTelemetryJsonl(s, landing.toString)
    val normS = timed(tr("sources.normalize", op) { norm.persist(); norm.count() })
    val rulesS = timed(tr("rules.telemetry_alerts", op) {
      FleetRules.telemetryAlerts(norm, Thresholds()).write.format("noop").mode("overwrite").save()
    })
    val writeS = timed(tr("sinks.write_partitioned", op) {
      Sinks.writePartitioned(norm, probe.resolve("vehicle_telemetry").toString)
    })
    norm.unpersist()
    Dirs.delete(probe)

    val written = Dirs.dataFiles(out)
    phases.map { case (k, n) =>
      s"streaming.${n}_pct" -> 100.0 * progress.map(ms(_, k)).sum / trigger
    }.toMap ++ Map(
      "streaming.batches_per_drain" -> progress.size.toDouble,
      "sources.normalize_pct" -> 100.0 * normS / drainS,
      "sources.rows_per_s" -> truth.rows / normS,
      "rules.telemetry_alerts_pct" -> 100.0 * rulesS / drainS,
      "rules.alerts_per_row" -> stored.alerts.values.sum.toDouble / stored.rows,
      "sinks.write_partitioned_pct" -> 100.0 * writeS / drainS,
      "sinks.files_written" -> written.size.toDouble,
      "sinks.bytes_written_per_input_byte" -> written.map(Files.size).sum.toDouble / landingBytes,
      "trace.accounted_pct" -> 100.0 * trigger / 1e3 / drainS)
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  override def notes(ops: Seq[OpResult]): Seq[String] = Seq(
    s"$vehicles vehicles x $ticks ticks = ${truth.rows} rows in $files JSONL files " +
      s"($landingBytes bytes), 10 files per trigger")
}

object Ingest {
  private val wireTime =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** One telemetry row in the producers' wire format: a JSON object with
    * a "yyyy-MM-dd HH:mm:ss" UTC `timestamp` and no `time`. */
  def wire(t: Telemetry): String =
    s"""{"vehicle_id":${t.vehicle_id},"timestamp":"${wireTime.format(t.time.toInstant)}",""" +
      s""""current_speed_kmh":${t.current_speed_kmh},"speed_limit_violation":${t.speed_limit_violation},""" +
      s""""latitude":${t.latitude},"longitude":${t.longitude},""" +
      s""""battery_level_pct":${t.battery_level_pct},"remaining_range_km":${t.remaining_range_km},""" +
      s""""autopilot_engaged":${t.autopilot_engaged},"odometer_km":${t.odometer_km},""" +
      s""""start_location":"${t.start_location}","destination":"${t.destination}"}"""

  /** Ground truth: the staged row count and the alert count per type, from
    * the reference's rule predicates evaluated in plain Scala. */
  final case class Truth(rows: Long, alerts: Map[String, Long])
  object Truth {
    def of(rows: Seq[Telemetry], t: Thresholds = Thresholds()): Truth = Truth(rows.size,
      Map("Speed Violation" -> rows.count(_.speed_limit_violation).toLong,
        "Low Battery" -> rows.count(_.battery_level_pct < t.batteryPct).toLong)
        .filter(_._2 > 0))
  }

  /** What a drain left in its store. */
  final case class Stored(rows: Long, alerts: Map[String, Long])
  object Stored {
    def read(s: SparkSession, out: Path): Stored = {
      def table(n: String) = out.resolve(n)
      val rows =
        if (Files.exists(table("vehicle_telemetry")))
          s.read.parquet(table("vehicle_telemetry").toString).count()
        else 0L
      val alerts =
        if (Files.exists(table("alerts")))
          s.read.parquet(table("alerts").toString).groupBy("alert_type").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty[String, Long]
      Stored(rows, alerts)
    }
  }

  def check(truth: Truth, streamedRows: Long, stored: Stored): Seq[String] =
    Seq(
      Option.when(streamedRows != truth.rows)(
        s"streamed $streamedRows rows, staged ${truth.rows}"),
      Option.when(stored.rows != truth.rows)(s"stored ${stored.rows} rows, staged ${truth.rows}"),
      Option.when(stored.alerts != truth.alerts)(
        s"alerts per type ${stored.alerts.toSeq.sorted}, rules give ${truth.alerts.toSeq.sorted}")
    ).flatten
}
