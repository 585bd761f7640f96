package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Stage profiler behind SPARK_GRAFT_PROFILE: one `[stage]` line per
  * completed Spark stage on stderr — id, tasks, wall, summed task run time,
  * CPU and GC time, and the stage's call site.
  */
object StageProfiler extends SparkListener {

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val wall = (for { a <- i.submissionTime; b <- i.completionTime }
      yield b - a).getOrElse(-1L)
    val t = i.taskMetrics
    System.err.println(
      f"[stage] ${i.stageId}%4d tasks=${i.numTasks}%4d wall=$wall%6dms run=${t.executorRunTime}%7dms cpu=${t.executorCpuTime / 1000000}%7dms gc=${t.jvmGCTime}%6dms ${i.name.take(60)}")
  }

  /** Registers the profiler on `spark`'s context when SPARK_GRAFT_PROFILE
    * is set, unless the context already has it — so no entry point can
    * make a stage print twice.
    */
  def setup(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    if (sys.env.contains("SPARK_GRAFT_PROFILE") && !Bridge.hasListener(sc, this))
      sc.addSparkListener(this)
  }
}
