package graft.fleetbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.lit

import graft.metrics.MetricsRefresh
import graft.streaming.Pipeline

/** Each correctness check, first on the engine's real output (must pass),
  * then on a corrupted copy of it (must fail). Tiny inputs; exits
  * non-zero if any check passes a corrupted output or fails a good one.
  */
object NegativeTests {
  private var bad = 0

  private def expect(name: String, errors: Seq[String], shouldFail: Boolean): Unit = {
    val ok = errors.nonEmpty == shouldFail
    if (!ok) bad += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name" +
      (if (errors.nonEmpty) s" (${errors.mkString("; ")})" else ""))
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(sys.props.getOrElse("fleetbench.work", "fleetbench-work")).resolve("data")
    val e = new Engine(Runtime.getRuntime.availableProcessors())
    try {
      e.start()
      ingest(e, work.resolve("ingest"))
      dashboard(e, work.resolve("dashboard"))
      curation(e, work.resolve("curation"))
    } finally {
      e.stop()
      Dirs.delete(work)
    }
    println(if (bad == 0) "all checks behave" else s"$bad checks misbehave")
    sys.exit(if (bad == 0) 0 else 1)
  }

  private def dropOneFile(table: Path): Unit =
    Files.delete(Dirs.dataFiles(table).filter(_.toString.endsWith(".parquet")).head)

  private def ingest(e: Engine, work: Path): Unit = {
    val w = new Ingest(7, tiny = true, work)
    w.stage(e)
    /** A fresh drain of the landing data, then `corrupt` on its output. */
    def checkDrain(name: String)(corrupt: Path => Unit): Seq[String] = {
      val out = work.resolve(name)
      val q = Pipeline.runAlertPipeline(e.spark, w.landing.toString, out.toString,
        work.resolve(s"$name-ckpt").toString)
      q.awaitTermination()
      corrupt(out)
      Ingest.check(w.truth, q.recentProgress.map(_.numInputRows).sum, Ingest.Stored.read(e.spark, out))
    }
    expect("fleet_ingest: engine output", checkDrain("good")(_ => ()), shouldFail = false)
    expect("fleet_ingest: an alerts file removed",
      checkDrain("alerts")(out => dropOneFile(out.resolve("alerts"))), shouldFail = true)
    expect("fleet_ingest: a telemetry file removed",
      checkDrain("telemetry")(out => dropOneFile(out.resolve("vehicle_telemetry"))), shouldFail = true)
  }

  /** Rewrites the one CSV file under `dir` through `f` over its lines. */
  private def editCsv(dir: Path)(f: Seq[String] => Seq[String]): Unit = {
    val file = Dirs.dataFiles(dir).filter(_.toString.endsWith(".csv")).head
    val lines = Files.readAllLines(file, StandardCharsets.UTF_8).asScala.toSeq
    Files.write(file, f(lines).asJava, StandardCharsets.UTF_8)
  }

  private def dashboard(e: Engine, work: Path): Unit = {
    val w = new Dashboard(7, tiny = true, work)
    w.stage(e)
    /** A fresh tick, then `corrupt` on its CSV exports. */
    def checkTick(corrupt: => Unit): Seq[String] = {
      MetricsRefresh.refreshOnce(e.spark, w.store.toString, w.results.toString,
        lit(new java.sql.Timestamp(w.asOf(0))))
      corrupt
      Dashboard.check(w.truth, w.results)
    }
    expect("dashboard_refresh: engine output", checkTick(()), shouldFail = false)
    expect("dashboard_refresh: one km_driven changed", checkTick {
      editCsv(w.results.resolve("km_per_intervention")) { ls =>
        val k = ls.head.split(",", -1).indexOf("km_driven")
        val f = ls(1).split(",", -1)
        f(k) = (f(k).toDouble + 0.5).toString
        ls.updated(1, f.mkString(","))
      }
    }, shouldFail = true)
    expect("dashboard_refresh: a vehicle dropped from engagement_rate",
      checkTick(editCsv(w.results.resolve("engagement_rate"))(_.dropRight(1))), shouldFail = true)
  }

  private def curation(e: Engine, work: Path): Unit = {
    val w = new Curation(7, tiny = true, work)
    w.stage(e)
    val s = e.spark
    def rows(q: String): Seq[Row] = w.fns.toMap.apply(q)(s, w.corpus.toString).collect().toSeq
    def withCol(r: Row, i: Int, v: Any): Row = Row.fromSeq(r.toSeq.updated(i, v))

    val q17 = rows("q17")
    expect("q17: engine output", Curation.checkExact(w.gen, w.nDocs, q17), shouldFail = false)
    val copies = q17.head.getLong(1)
    expect("q17: one group's copy count changed",
      Curation.checkExact(w.gen, w.nDocs,
        withCol(q17.head, 1, if (copies > 1) 1L else 2L) +: q17.tail),
      shouldFail = true)

    val q18 = rows("q18")
    expect("q18: engine output", Curation.checkPairs(w.gen, w.nDocs, q18, exact = true),
      shouldFail = false)
    expect("q18: one pair dropped",
      Curation.checkPairs(w.gen, w.nDocs, q18.tail, exact = true), shouldFail = true)
    expect("q18: one Jaccard changed",
      Curation.checkPairs(w.gen, w.nDocs,
        withCol(q18.head, 5, q18.head.getDouble(5) - 0.01) +: q18.tail, exact = true),
      shouldFail = true)

    val q19 = rows("q19")
    expect("q19: engine output", Curation.checkPairs(w.gen, w.nDocs, q19, exact = false),
      shouldFail = false)
    val planted = q19.filter(r => w.gen.isNearDup(r.getLong(1)) &&
      r.getLong(0) == r.getLong(1) - 1 && math.pow(1 - math.pow(r.getDouble(5), 4), 16) < 1e-4)
    expect("q19: a planted pair it must find dropped",
      Curation.checkPairs(w.gen, w.nDocs, q19.filterNot(planted.take(1).contains), exact = false),
      shouldFail = true)

    val q25 = rows("q25")
    expect("q25: engine output", Curation.checkKnn(w.gen, w.nVecs, q25), shouldFail = false)
    val swapped = q25.map { r =>
      if (r.getInt(2) == 1) withCol(r, 1, (r.getLong(1) + 1) % w.nVecs) else r
    }
    expect("q25: every nearest neighbour replaced",
      Curation.checkKnn(w.gen, w.nVecs, swapped), shouldFail = true)
  }
}
