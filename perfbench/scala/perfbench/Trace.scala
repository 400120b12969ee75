package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into a layer. Times are
  * epoch milliseconds (Spark's event clock) plus a nanosecond duration
  * for the latency itself.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    endMs: Long, nanos: Long, traced: Boolean, measured: Boolean)

final case class JobRec(startMs: Long, endMs: Long, stages: Seq[Int],
    async: Boolean, site: String)

final case class TaskRec(stage: Int, runMs: Long, shuffleBytes: Long,
    outputBytes: Long)

/** Spark-side records of one traced window: jobs with their stage ids,
  * task metrics, and query planning phases.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer[JobRec]()
  private val open =
    scala.collection.mutable.Map[Int, (Long, Seq[Int], Boolean, String)]()
  val tasks = ArrayBuffer[TaskRec]()
  /** (planning phase start ms, planning ms) per executed query. */
  val planning = ArrayBuffer[(Long, Long)]()

  /** A job is async when its stage names cite no Scala source of the
    * program or the benchmark: broadcast and subquery jobs started on
    * Spark's own threads name a JDK frame (CompletableFuture) instead.
    */
  private val citesSource = """\.scala:\d+""".r

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val async = !e.stageInfos.exists(s =>
      citesSource.findFirstIn(s.name).isDefined)
    open(e.jobId) = (e.time, e.stageIds, async,
      e.stageInfos.map(_.name).mkString(" | "))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, stages, async, site) =>
      jobs += JobRec(t0, e.time, stages, async, site)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Span recorder. With `enabled`, the Spark listeners are attached for
  * the whole measured window, so every measured call is traced. Without
  * `enabled` nothing is attached and spans only time. Spans opened
  * outside the window belong to set-up, checks or the overhead probe
  * and are never counted.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  val rec = new Recorder
  private var open = false
  private var stack = List.empty[Int]

  /** Open (`on`) or close the measured window; with `enabled` the
    * listeners are attached exactly while it is open.
    */
  def window(on: Boolean): Unit = {
    if (enabled && on) attach()
    if (enabled && !on) detach()
    open = on
  }

  def measuring: Boolean = open

  /** Time `f` as span `name`. */
  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    spans += null
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try f
    finally {
      val ns = System.nanoTime() - n0
      spans(id) = Span(id, name, parent, t0, System.currentTimeMillis(), ns,
        enabled && measuring, measuring)
      stack = stack.tail
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
  }

  /** Detach after the listeners have seen every event posted so far. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
  }

  /** Latencies (s) of the measured spans called `name`. */
  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.measured)
      .map(_.nanos / 1e9).toSeq

  /** Self time of span `s`: its duration minus what its children cover. */
  def selfMs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.startMs, k.endMs)).sortBy(_._1).toSeq
    s.endMs - s.startMs - covered(kids, s.startMs, s.endMs)
  }

  /** Milliseconds of [lo, hi] covered by the union of `ivs` (sorted). */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    ivs.foreach { case (a0, b0) =>
      val a = math.max(a0, cur)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; cur = b }
    }
    total
  }

  /** Per-layer counters of every traced span called `name`, each the
    * median over its calls so counts compare across runs of any length.
    */
  def layer(name: String): Map[String, Double] = {
    val ss = spans.filter(s => s.name == name && s.traced)
    val byStage = scala.collection.mutable.Map[Int, ArrayBuffer[TaskRec]]()
    rec.tasks.foreach(t => byStage.getOrElseUpdate(t.stage, ArrayBuffer()) += t)
    val per: Seq[Map[String, Double]] = ss.toSeq.map { s =>
      def inside(ms: Long) = ms >= s.startMs && ms <= s.endMs
      val js = rec.jobs.filter(j => inside(j.startMs))
      val ts = js.flatMap(_.stages).distinct.flatMap(byStage.getOrElse(_, Nil))
      val gap = s.endMs - s.startMs -
        covered(js.map(j => (j.startMs, j.endMs)).sortBy(_._1).toSeq, s.startMs,
          s.endMs)
      Map(
        "jobs" -> js.size.toDouble,
        "async_jobs" -> js.count(_.async).toDouble,
        "tasks" -> ts.size.toDouble,
        "task_s" -> ts.map(_.runMs).sum / 1e3,
        "driver_gap_s" -> gap / 1e3,
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "output_bytes" -> ts.map(_.outputBytes).sum.toDouble,
        "planning_s" -> rec.planning.filter(p => inside(p._1))
          .map(_._2).sum / 1e3)
    }
    val keys = Seq("jobs", "async_jobs", "tasks", "task_s", "driver_gap_s",
      "shuffle_bytes", "output_bytes", "planning_s")
    Map("n" -> spans.count(s => s.name == name && s.measured).toDouble,
      "p50_s" -> Stats.median(seconds(name))) ++
      keys.map(k => k -> Stats.median(per.map(_(k)))).toMap
  }

  /** Spans as JSON lines (name, start, end, parent, self time, run id),
    * then the traced Spark jobs (start, end, async, stage names).
    */
  def dump(path: java.nio.file.Path, runId: String): Unit = {
    def str(x: String) = Json.write(x)
    val jobLines = rec.jobs.map { j =>
      s"""{"run":"$runId","job_start_ms":${j.startMs},"job_end_ms":${j.endMs},""" +
        s""""async":${j.async},"stages":${str(j.site)}}"""
    }
    val lines = spans.map { s =>
      s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.nanos / 1e9},""" +
        s""""self_s":${selfMs(s) / 1e3},"traced":${s.traced},""" +
        s""""measured":${s.measured}}"""
    } ++ jobLines
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n")
      .getBytes("UTF-8"))
  }
}

object Stats {
  /** Median; 0 for no samples. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
