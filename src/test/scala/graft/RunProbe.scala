package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code ran: every completed stage and the final
  * executed plan of every SQL action (checkpoints included). */
final case class Ran(stages: Seq[StageInfo], plans: Seq[String]) {

  /** Input records read by the stages that scan files: block reads of a
    * checkpointed or cached frame also count as input records in Spark,
    * so they are left out by keeping only stages with a file scan. */
  def fileRecordsRead: Long =
    stages.filter(_.rddInfos.exists(_.name == "FileScanRDD"))
      .map(_.taskMetrics.inputMetrics.recordsRead).sum
}

/** Records what `body` runs through the listener bus. The bus is
  * asynchronous, so a fence job runs after `body` and the probe waits
  * for its job end: the shared queue delivers events in order, so by
  * then every event `body` posted has been seen. */
object RunProbe {

  def apply[T](spark: SparkSession)(body: => T): (T, Ran) = {
    val sc = spark.sparkContext
    val fence = s"graft.fence.${System.nanoTime()}"
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fenceJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val jobs = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo): Unit
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == fence))
          fenceJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == fenceJob.get) fenced.countDown()
    }
    val sql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString.split("== Initial Plan ==").head): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(sql)
    try {
      val out = body
      sc.setJobDescription(fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the fence job")
      (out, Ran(stages.toArray(Array.empty[StageInfo]).toSeq,
        plans.toArray(Array.empty[String]).toSeq))
    } finally {
      spark.listenerManager.unregister(sql)
      sc.removeSparkListener(jobs)
    }
  }
}
