package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

object Profile {

  /** Per-stage wall/cpu/gc/spill/shuffle printer, attachable to any session
    * (ScaleBench attaches it when SPARK_GRAFT_PROFILE=1). */
  def attach(spark: SparkSession, cores: Int): Unit =
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val cpu = si.taskMetrics.executorCpuTime / 1e9
        val run = si.taskMetrics.executorRunTime / 1e3
        val gc = si.taskMetrics.jvmGCTime / 1e3
        val spillM = si.taskMetrics.memoryBytesSpilled / 1e6
        val spillD = si.taskMetrics.diskBytesSpilled / 1e6
        val inB = si.taskMetrics.inputMetrics.bytesRead / 1e6
        val shW = si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
        val shR = si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
        println(f"[stage-$cores] id=${si.stageId}%3d tasks=${si.numTasks}%4d wall=$wall%7.2fs cpu=$cpu%7.1fs run=$run%7.1fs gc=$gc%6.1fs spill=$spillM%6.0f/$spillD%6.0fMB in=$inB%6.0f shw=$shW%6.0f shr=$shR%6.0f ${si.name.take(40)}")
      }
    })
}
