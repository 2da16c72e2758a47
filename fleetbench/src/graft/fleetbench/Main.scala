package graft.fleetbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point: one workload, one JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> [--size tiny]
  *
  * Order of a run: start a session and stage the seeded inputs (staging
  * untimed); restart the session until it has been started
  * [[Main.SetUps]] times; run one warm-up operation, which also builds
  * any `IndexCache` artifacts the fresh inputs need; run closed-loop
  * operations for `--seconds`; read the retained heap after a GC.
  * `setup_s` is the median session start plus the warm-up operation, so
  * work moved out of the measured operations into session start or into
  * the first operation shows there. With `--trace 1` half the operations
  * are traced, the per-layer metrics come from the traced ones, and the
  * untraced ones give the tracing overhead. The last stdout
  * line is the result object; the exit code is non-zero when any
  * operation failed or produced a wrong output.
  */
object Main {
  val SetUps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_ms" -> "ms",
    "rows_per_s" -> "1/s",
    "cpu_s_per_mrow" -> "s/Mrow",
    "setup_s" -> "s",
    "heap_retained_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("batches_per_drain" -> "count", "latest_offset_pct" -> "%", "get_batch_pct" -> "%",
      "query_planning_pct" -> "%", "add_batch_pct" -> "%", "wal_commit_pct" -> "%")
      .map { case (n, u) => s"streaming.$n" -> u } ++
    Seq("sources.normalize_pct" -> "%", "sources.rows_per_s" -> "1/s",
      "rules.telemetry_alerts_pct" -> "%", "rules.alerts_per_row" -> "ratio",
      "sinks.write_partitioned_pct" -> "%", "sinks.files_written" -> "count",
      "sinks.bytes_written_per_input_byte" -> "ratio", "sinks.export_csv_pct" -> "%",
      "sinks.metrics_append_pct" -> "%", "sinks.metrics_append_files" -> "count",
      "metrics.frames_define_pct" -> "%") ++
    Dashboard.Frames.map(f => s"metrics.frame_pct.$f" -> "%") ++
    Seq("metrics.scan_rows_per_window_row" -> "ratio") ++
    Curation.Mix.map(q => s"queries.${q}_pct" -> "%") ++
    Curation.Mix.map(q => s"queries.${q}_cpu_pct" -> "%") ++
    Curation.ArtifactFamilies.map(f => s"index_cache.build_pct.$f" -> "%") ++
    Seq("spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.executor_cpu_s_per_op" -> "s", "spark.gc_pct" -> "%",
      "spark.shuffle_write_bytes_per_op" -> "B", "spark.spill_bytes_per_op" -> "B",
      "trace.overhead_pct" -> "%", "trace.accounted_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tiny: Boolean)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("size").contains("tiny"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val e = new Engine(Runtime.getRuntime.availableProcessors())
    val work = Paths.get(sys.props.getOrElse("fleetbench.work", "fleetbench-work"))
    val code =
      try run(a, e, work)
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      } finally {
        e.stop()
        Dirs.delete(work.resolve("data"))
      }
    sys.exit(code)
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def run(a: Args, e: Engine, work: Path): Int = {
    val loadBefore = loadAvg
    val w = Workload(a.workload, a.seed, a.tiny, work.resolve("data"))
    val firstStart = e.start()
    val tStage = System.nanoTime()
    w.stage(e)
    System.err.println(f"[${w.name}] staged in ${(System.nanoTime() - tStage) / 1e9}%.1f s")

    // set-up 0 is the staging session's cold start; later set-ups restart
    // the session. The warm-up operation then runs on the last session.
    val setups = firstStart +: (1 until SetUps).map { _ =>
      e.stop()
      e.start()
    }
    val art0 = graft.queries.IndexCache.buildSeconds
    val warm = w.op(e, -1, None)
    val artifactS = graft.queries.IndexCache.buildSeconds.map { case (f, s) =>
      f -> (s - art0.getOrElse(f, 0.0))
    }.filter(_._2 > 0)
    System.err.println(f"[${w.name}] session starts ${setups.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"warm-up ${warm.wallS}%.2f s")
    val setupS = Stats.median(setups) + warm.wallS

    val ops = ArrayBuffer.empty[(OpResult, Boolean)]
    val tr = new Tracer
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // a traced run orders its operations untraced, traced, traced,
    // untraced, ... so warm-up drift does not bias the tracing overhead
    while (ops.size < (if (a.trace) 4 else 1) || elapsed < a.seconds) {
      val traced = a.trace && Set(1, 2)(ops.size % 4)
      ops += ((w.op(e, ops.size, if (traced) Some(tr) else None), traced))
      System.err.println(f"[${w.name}] op ${ops.size - 1}: ${ops.last._1.wallS}%.3f s")
    }

    System.gc()
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val loadAfter = loadAvg

    val all = warm +: ops.map(_._1).toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    all.flatMap(_.errors).distinct.foreach(m => println(s"[${w.name}] WRONG: $m"))

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val plain = ops.map(_._1).toSeq
        val lat = plain.flatMap(_.latencyMs)
        val rows = plain.map(_.rows).sum.toDouble
        val v = Map(
          "op_p50_ms" -> Stats.median(lat),
          "rows_per_s" -> rows / plain.map(_.wallS).sum,
          "cpu_s_per_mrow" -> plain.map(_.counts.cpuS).sum / rows * 1e6,
          "setup_s" -> setupS,
          "heap_retained_mb" -> heapMb)
        // p90 is printed, not gated: no run has the 100 samples that would
        // leave ten beyond it
        println(f"[${w.name}] ${plain.size} ops, ${lat.size} latency samples, " +
          f"p90 ${Stats.pct(lat, 90)}%.1f ms, " +
          f"error_frac ${failed.toDouble / attempted}%.4f ($failed/$attempted)")
        w.notes(plain).foreach(n => println(s"[${w.name}] $n"))
        EndToEnd.map { case (n, u) => (n, u, v(n)) }
      } else {
        val v = layerMetrics(ops.toSeq, artifactS, setupS)
        val unknown = v.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
        PerLayer.map { case (n, u) => (n, u, v.getOrElse(n, 0.0)) }
      }
    metrics.foreach { case (n, u, x) => println(f"[${w.name}] $n%-40s $x%14.4f $u") }
    val metricsJson = Json.obj(metrics.map { case (n, u, x) =>
      n -> Json.obj("value" -> x, "unit" -> u) }: _*)

    val provenance = Json.obj(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "size" -> (if (a.tiny) "tiny" else "full"),
      "nproc" -> e.cores, "jvm_max_heap_mb" -> rt.maxMemory / 1048576,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> sys.props("java.version"),
      "git_sha" -> sys.props.getOrElse("fleetbench.git", "none"),
      "source_sha256" -> sys.props.getOrElse("fleetbench.source", "none"),
      "load_avg_1m_before" -> loadBefore, "load_avg_1m_after" -> loadAfter,
      "setups" -> setups.size, "ops" -> ops.size)
    println(Json.obj("provenance" -> provenance).s)

    if (a.trace) {
      val out = Paths.get(sys.props.getOrElse("fleetbench.out", "."))
        .resolve(s"trace-${w.name}-seed${a.seed}.json")
      Files.writeString(out, Json.obj(
        "provenance" -> provenance,
        "per_layer" -> metricsJson,
        "session_start_s" -> setups, "warm_up_s" -> warm.wallS, "artifact_build_s" -> artifactS,
        "ops" -> ops.zipWithIndex.map { case ((o, traced), i) => Map(
          "op" -> i, "traced" -> traced, "wall_s" -> o.wallS, "attempted" -> o.attempted,
          "failed" -> o.failed, "rows" -> o.rows, "layers" -> o.layers,
          "spark" -> Map("jobs" -> o.counts.jobs, "stages" -> o.counts.stages,
            "tasks" -> o.counts.tasks, "executor_cpu_s" -> o.counts.cpuS,
            "gc_s" -> o.counts.gcMs / 1e3, "shuffle_write_bytes" -> o.counts.shuffleWriteBytes,
            "spill_bytes" -> o.counts.spillBytes, "records_read" -> o.counts.recordsRead))
        },
        "spans" -> tr.json).s + "\n")
      println(s"[${w.name}] trace written to $out")
    }

    println(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metricsJson).s)
    if (failed == 0) 0 else 1
  }

  /** Per-layer metrics of a traced run: medians of the traced operations'
    * layer readings, Spark counters per sub-operation, artifact-build
    * shares of set-up, and the tracing overhead against the untraced
    * operations interleaved with them. */
  private def layerMetrics(ops: Seq[(OpResult, Boolean)], artifactS: Map[String, Double],
      setupS: Double): Map[String, Double] = {
    val traced = ops.collect { case (o, true) => o }
    val plain = ops.collect { case (o, false) => o }
    val layers = traced.flatMap(_.layers.keys).distinct.map { k =>
      k -> Stats.median(traced.map(_.layers.getOrElse(k, 0.0)))
    }.toMap
    val c = traced.map(_.counts).foldLeft(Counts.zero)(_ + _)
    val n = traced.map(_.attempted).sum.toDouble
    val artifacts = artifactS.map { case (f, x) => s"index_cache.build_pct.$f" -> 100.0 * x / setupS }
    layers ++ artifacts ++ Map(
      "spark.jobs_per_op" -> c.jobs / n,
      "spark.tasks_per_op" -> c.tasks / n,
      "spark.executor_cpu_s_per_op" -> c.cpuS / n,
      "spark.gc_pct" -> (if (c.runMs > 0) 100.0 * c.gcMs / c.runMs else 0.0),
      "spark.shuffle_write_bytes_per_op" -> c.shuffleWriteBytes / n,
      "spark.spill_bytes_per_op" -> c.spillBytes / n,
      "trace.overhead_pct" ->
        100.0 * (Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1))
  }
}
