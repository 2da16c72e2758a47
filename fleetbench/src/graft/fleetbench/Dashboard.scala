package graft.fleetbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit

import graft.metrics.MetricsRefresh
import graft.model.{DrivingEvent, Telemetry}
import graft.rules.FleetRules
import graft.sinks.Sinks
import graft.sources.Simulation

/** `dashboard_refresh`: a day-partitioned store built from Simulation
  * telemetry, perception, driving events and `FleetRules` alerts, then
  * back-to-back [[graft.metrics.MetricsRefresh.refreshOnce]] ticks at
  * deterministic tick times. Each simulated day holds its first `ticks`
  * seconds; tick times fall just after the last day's data, so the 24 h
  * lookback holds exactly the last day.
  *
  * Why: the reference's dashboard loop (5 s refresh budget). Read-heavy
  * in `metrics`, plus many small writes in `sinks` (CSV exports and the
  * melted `self_driving_metrics` append) — a different use of the write
  * layer than `fleet_ingest`. An operation is one tick.
  */
final class Dashboard(seed: Long, tiny: Boolean, work: Path) extends Workload {
  val name = "dashboard_refresh"
  private val (vehicles, ticks, days) = if (tiny) (4, 120, 2) else (10, 600, 5)
  private[fleetbench] val store = work.resolve("store")
  private[fleetbench] val results = work.resolve("results")
  private val lastDay = Dashboard.Day0 + (days - 1) * Dashboard.DayMs
  private[fleetbench] var truth: Dashboard.Truth = _

  /** Tick `op`'s time: one second apart, after the last day's data. */
  private[fleetbench] def asOf(op: Int): Long = lastDay + ticks * 1000L + (op + 2) * 1000L

  def stage(e: Engine): Unit = {
    val s = e.spark
    import s.implicits._
    val lower = asOf(-1) - Dashboard.LookbackMs
    val acc = new Dashboard.TruthBuilder(lower)
    val sim = (0 until days).map { d =>
      Simulation.ticks(s, vehicles, ticks, seed * 100 + d, Dashboard.Day0 + d * Dashboard.DayMs)
    }.reduce(_ union _).collect().toSeq
    sim.foreach(acc.add)
    val tel = sim.map(_.telemetry).toDF()
    val per = sim.map(_.perception).toDF()
    Sinks.writePartitioned(tel, store.resolve("vehicle_telemetry").toString)
    Sinks.writePartitioned(per, store.resolve("perception_events").toString)
    Sinks.writePartitioned(sim.flatMap(_.driving).toDF(), store.resolve("driving_events").toString)
    Sinks.writePartitioned(
      FleetRules.telemetryAlerts(tel).unionByName(FleetRules.perceptionAlerts(per)),
      store.resolve("alerts").toString)
    truth = acc.result
    require(truth.kmDriven.nonEmpty, "no telemetry inside the lookback window")
  }

  def op(e: Engine, op: Int, tr: Option[Tracer]): OpResult = {
    val s = e.spark
    val tick = lit(new Timestamp(asOf(op)))
    val metricsTable = store.resolve("self_driving_metrics")
    val filesBefore = Dirs.dataFiles(metricsTable).size
    val c0 = e.counts()
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(tr.map { t => tracedTick(e, t, op, tick) }.getOrElse {
      MetricsRefresh.refreshOnce(s, store.toString, results.toString, tick)
      (Map.empty[String, Double], 0L)
    })
    val wall = (System.nanoTime() - t0) / 1e9
    val counts = e.counts() - c0
    val errors = attempt match {
      case scala.util.Failure(err) => Seq(s"tick failed: $err")
      case scala.util.Success(_) => Dashboard.check(truth, results)
    }
    val layers = attempt.toOption.filter(_ => tr.isDefined)
      .fold(Map.empty[String, Double]) { case (secs, recordsRead) =>
        secs.map { case (k, v) => k -> 100.0 * v / wall } ++ Map(
          "sinks.metrics_append_files" -> (Dirs.dataFiles(metricsTable).size - filesBefore).toDouble,
          "metrics.scan_rows_per_window_row" -> recordsRead / truth.windowRows.toDouble,
          "trace.accounted_pct" -> 100.0 * secs.values.sum / wall)
      }
    OpResult(wall, Seq(wall * 1e3), 1, if (errors.isEmpty) 0 else 1, truth.windowRows,
      counts, layers, errors)
  }

  /** One tick through the same public calls `refreshOnce` makes, with a
    * span around each: frame definition (store listing and analysis),
    * each frame computed into its cache, the CSV exports, and the melted
    * append. Returns layer seconds keyed by per-layer metric name, and
    * the records the frames' scans read. */
  private def tracedTick(e: Engine, tr: Tracer, op: Int, tick: org.apache.spark.sql.Column)
      : (Map[String, Double], Long) = tr("metrics.tick", op) {
    val s = e.spark
    val secs = mutable.LinkedHashMap.empty[String, Double]
    def span[A](key: String, spanName: String)(f: => A): A = {
      val t0 = System.nanoTime()
      try tr(spanName, op)(f)
      finally secs(key) = secs.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    val frames = span("metrics.frames_define_pct", "metrics.frames_define") {
      MetricsRefresh.metricFrames(s, store.toString, tick)
    }
    try {
      val r0 = e.counts().recordsRead
      frames.toSeq.sortBy(_._1).foreach { case (n, df) =>
        span(s"metrics.frame_pct.$n", s"metrics.frame.$n") { df.persist(); df.count() }
      }
      val recordsRead = e.counts().recordsRead - r0
      span("sinks.export_csv_pct", "sinks.export_csv") {
        frames.foreach { case (n, df) => Sinks.exportCsv(df, results.resolve(n).toString) }
      }
      span("sinks.metrics_append_pct", "sinks.metrics_append") {
        val melted = frames.collect {
          case (n, df) if !Dashboard.SnapshotOnly(n) => MetricsRefresh.toMetricRows(n, df, tick)
        }
        Sinks.writePartitioned(melted.reduce(_ unionByName _),
          store.resolve("self_driving_metrics").toString, timeCol = "time_bucket")
      }
      (secs.toMap, recordsRead)
    } finally frames.values.foreach(_.unpersist())
  }

  override def notes(ops: Seq[OpResult]): Seq[String] = {
    val ticksS = ops.map(_.wallS)
    Seq(f"refresh tick p50 ${Stats.median(ticksS)}%.3f s, p90 ${Stats.pct(ticksS, 90)}%.3f s " +
      f"against the reference's ${Dashboard.BudgetS}%.0f s refresh budget " +
      s"(${ticksS.count(_ <= Dashboard.BudgetS)}/${ticksS.size} ticks within it)",
      s"$vehicles vehicles x $ticks ticks x $days days; ${truth.windowRows} rows in the 24 h window")
  }
}

object Dashboard {
  val Day0 = 1700006400000L // 2023-11-15T00:00:00Z
  val DayMs = 86400000L
  val LookbackMs = 24 * 3600 * 1000L
  val BudgetS = 5.0

  /** The frames `refreshOnce` serves, in name order. */
  val Frames: Seq[String] = Seq("alerts_summary", "disengagement_rate", "distinct_vehicles",
    "engagement_rate", "fleet_summary", "intervention_rate", "interventions_per_vehicle",
    "km_per_intervention", "latest_telemetry", "perception_summary")

  /** Frames `refreshOnce` exports as CSV only (not melted into
    * `self_driving_metrics`); mirrors its private list. */
  val SnapshotOnly: Set[String] = Set("alerts_summary", "latest_telemetry", "distinct_vehicles")

  /** Per-vehicle ground truth over the rows inside the lookback window;
    * `windowRows` counts its telemetry, perception and driving rows. */
  final case class Truth(kmDriven: Map[Int, Double], records: Map[Int, (Long, Long)],
      events: Map[(Int, String), Long], windowRows: Long)

  final class TruthBuilder(lowerMs: Long) {
    private val odo = mutable.Map.empty[Int, (Double, Double)]
    private val rec = mutable.Map.empty[Int, (Long, Long)]
    private val ev = mutable.Map.empty[(Int, String), Long]
    private var rows = 0L

    def add(tick: Simulation.SimTick): Unit = {
      val tel: Telemetry = tick.telemetry
      if (tel.time.getTime > lowerMs) {
        val (lo, hi) = odo.getOrElse(tel.vehicle_id, (Double.MaxValue, Double.MinValue))
        odo(tel.vehicle_id) = (math.min(lo, tel.odometer_km), math.max(hi, tel.odometer_km))
        val (n, engaged) = rec.getOrElse(tel.vehicle_id, (0L, 0L))
        rec(tel.vehicle_id) = (n + 1, engaged + (if (tel.autopilot_engaged) 1 else 0))
        rows += 1
      }
      if (tick.perception.time.getTime > lowerMs) rows += 1
      tick.driving.foreach { d: DrivingEvent =>
        if (d.time.getTime > lowerMs) {
          ev((d.vehicle_id, d.event_type)) = ev.getOrElse((d.vehicle_id, d.event_type), 0L) + 1
          rows += 1
        }
      }
    }

    def result: Truth = Truth(odo.map { case (v, (lo, hi)) => v -> math.max(0.0, hi - lo) }.toMap,
      rec.toMap, ev.toMap, rows)
  }

  /** Reads a single-file CSV export as header-keyed rows. */
  def readCsv(dir: Path): Seq[Map[String, String]] = {
    val parts = Dirs.dataFiles(dir).filter(_.getFileName.toString.endsWith(".csv"))
    require(parts.size == 1, s"expected one CSV file in $dir, found ${parts.size}")
    val lines = Files.readAllLines(parts.head, StandardCharsets.UTF_8).asScala.toSeq
    val header = lines.head.split(",", -1).toSeq
    lines.tail.filter(_.nonEmpty).map(l => header.zip(l.split(",", -1)).toMap)
  }

  /** Per-vehicle km driven, engaged and total records, and event counts
    * per type, read from the tick's CSV exports and compared with the
    * plain-Scala recomputation. */
  def check(truth: Truth, results: Path): Seq[String] = scala.util.Try {
    val km = readCsv(results.resolve("km_per_intervention"))
      .map(r => r("vehicle_id").toInt -> (r("km_driven").toDouble, r("interventions").toLong)).toMap
    val eng = readCsv(results.resolve("engagement_rate"))
      .map(r => r("vehicle_id").toInt -> (r("total_records").toLong, r("engaged_records").toLong)).toMap
    val ev = readCsv(results.resolve("interventions_per_vehicle"))
      .map(r => (r("vehicle_id").toInt, r("event_type")) -> r("event_count").toLong).toMap
    val interventions = truth.kmDriven.keys.map { v =>
      v -> Seq("intervention", "disengagement").map(t => truth.events.getOrElse((v, t), 0L)).sum
    }.toMap
    val kmErr = truth.kmDriven.keySet ++ km.keySet collect {
      case v if !km.get(v).exists { case (k, n) =>
        truth.kmDriven.get(v).exists(x => math.abs(x - k) <= 1e-9 * math.max(1.0, x)) &&
          interventions.get(v).contains(n) } => v
    }
    Seq(
      Option.when(kmErr.nonEmpty)(s"km_driven/interventions differ for vehicles ${kmErr.toSeq.sorted.take(5)}"),
      Option.when(eng != truth.records)("engaged/total records differ from the recomputation"),
      Option.when(ev != truth.events)("event counts per vehicle and type differ from the recomputation")
    ).flatten
  }.fold(err => Seq(s"CSV exports unreadable: $err"), identity)
}
