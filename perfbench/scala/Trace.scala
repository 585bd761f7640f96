package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the span open when this one
  * started (-1 at the root); `run` groups the spans of one crawl.
  */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startMs: Long, endMs: Long, durS: Double)

/** Spans around the harness's calls into the engine. Every call is timed
  * (the end-to-end metrics need the walls); the span records themselves are
  * kept only when tracing is on, in memory, and written out at the end.
  */
final class Tracer(enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var run = ""

  /** Runs `f` and returns its result with its duration in seconds. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    stack = id :: stack
    try {
      val out = f
      val dur = (System.nanoTime() - t0) / 1e9
      if (enabled)
        spans += Span(id, parent, name, run, startMs, System.currentTimeMillis(), dur)
      (out, dur)
    } finally stack = stack.tail
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1
}

/** Job, stage and task totals from the Spark listener bus. Epochs run one
  * at a time, so each event is attributed to the epoch whose wall-clock
  * window contains its start.
  */
final class SparkTotals extends SparkListener {
  final case class Task(stage: Int, stageAttempt: Int, launchMs: Long,
      finishMs: Long, cpuNs: Long, gcMs: Long, shuffleBytes: Long)

  private val jobStart = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val jobs = ArrayBuffer.empty[(Long, Long)]
  val stages = ArrayBuffer.empty[Long]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { e.stageInfo.submissionTime.foreach(stages += _) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten)
  }

  /** Totals for the events that started inside [fromMs, toMs]. Call after
    * the SparkContext has stopped: stopping drains the listener bus.
    */
  def window(fromMs: Long, toMs: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val js = jobs.filter(j => in(j._1)).map { case (s, e) => (s, math.min(e, toMs)) }
      .sortBy(_._1)
    // epoch wall that no job covers: planning, listings, manifest I/O
    var covered = 0L
    var reach = fromMs
    js.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    val ts = tasks.filter(t => in(t.launchMs))
    // max/median task time per stage with at least two tasks (DS2's skew),
    // then the median over those stages
    val skews = ts.groupBy(t => (t.stage, t.stageAttempt)).values
      .map(_.map(t => math.max(1L, t.finishMs - t.launchMs).toDouble).toSeq.sorted)
      .filter(_.size >= 2)
      .map(d => d.last / Stats.median(d))
      .toSeq
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> stages.count(in).toDouble,
      "tasks" -> ts.size.toDouble,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "task_skew" -> (if (skews.isEmpty) 1.0 else Stats.median(skews)),
      "driver_gap_s" -> (toMs - fromMs - covered) / 1e3)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
