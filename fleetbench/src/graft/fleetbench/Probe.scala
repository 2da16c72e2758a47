package graft.fleetbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** Spark counters at one instant; differences give an operation's share. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
    recordsRead: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    recordsRead - o.recordsRead)
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    recordsRead + o.recordsRead)
  def cpuS: Double = cpuNs / 1e9
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** Job, stage and task events from the listener bus, summed. */
final class SparkCounters extends SparkListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, spill, records =
    new LongAdder
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.add(m.executorCpuTime)
      runMs.add(m.executorRunTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      records.add(m.inputMetrics.recordsRead)
    }
  }
  def now: Counts = Counts(jobs.sum, stages.sum, tasks.sum, cpuNs.sum, runMs.sum,
    gcMs.sum, shuffleWrite.sum, spill.sum, records.sum)
}

/** The session under test plus its counters. [[counts]] first waits for
  * the listener bus to deliver every event posted so far, so a reading
  * taken right after a job includes all of that job's tasks. */
final class Engine(val cores: Int) {
  private var session: SparkSession = _
  private var listener: SparkCounters = _

  def spark: SparkSession = session

  /** Starts a session through [[graft.Sessions.local]]; returns seconds. */
  def start(): Double = {
    val t0 = System.nanoTime()
    session = Sessions.local(cores)
    listener = new SparkCounters
    session.sparkContext.addSparkListener(listener)
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = if (session != null) {
    session.stop()
    session = null
  }

  def counts(): Counts = {
    BusDrain(session.sparkContext)
    listener.now
  }
}

/** Spans recorded from the benchmark's side of each layer call: name,
  * start, end, parent span and operation id. Kept in memory and written
  * out once at the end of a traced run. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, Double])

  private val origin = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  /** Runs `f` inside a span nested under the innermost open span. */
  def apply[A](name: String, op: Int)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      open = open.tail
      done += Span(id, parent, op, name, t0, System.nanoTime(), Map.empty)
    }
  }

  /** Records a span timed elsewhere (e.g. a streaming trigger). */
  def add(name: String, op: Int, parent: Int, startNs: Long, endNs: Long,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = nextId
    nextId += 1
    done += Span(id, parent, op, name, startNs, endNs, attrs)
    id
  }

  def json: Json.Raw = Json.arr(done.sortBy(_.id).toSeq.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
    "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1): _*))))
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = q / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** Minimal JSON writer for the result line, provenance and trace file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case Raw(s) => s
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case xs: scala.collection.Seq[_] => arr(xs.toSeq).s
    case other => quote(other.toString)
  }
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
