package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters read before and after each op; the op's share is the
  * difference. Every field is a running total. */
final case class Counters(
    jobs: Long, tasks: Long, runMs: Long,
    shuffleWrite: Long, scanBytes: Long, spillBytes: Long,
    fsWriteOps: Long, fsReadOps: Long, fsBytesWritten: Long,
    gcMs: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
    shuffleWrite - o.shuffleWrite, scanBytes - o.scanBytes, spillBytes - o.spillBytes,
    fsWriteOps - o.fsWriteOps, fsReadOps - o.fsReadOps, fsBytesWritten - o.fsBytesWritten,
    gcMs - o.gcMs)
}

/** The `spark` layer's probe: a listener counting jobs, tasks and task
  * metrics, settled on job-end accounting. After an op the benchmark
  * submits a tiny marked fence job; the listener bus delivers events in
  * order, so once the fence's end has been seen every event of the op
  * before it has been seen too. Then every job seen starting must have
  * ended, or [[settle]] fails loudly after its timeout. Fence jobs and
  * their tasks are not counted. */
final class JobProbe(sc: SparkContext) extends SparkListener {
  private val FenceProp = "perfbench.fence"
  private var fencesEnded = 0L
  private var fencesRun = 0L
  private val fenceJobs = mutable.Set.empty[Int]
  private val fenceStages = mutable.Set.empty[Int]
  private val open = mutable.Map.empty[Int, Long]
  private var jobs, tasks, runMs, shuffleWrite, scanBytes, spillBytes = 0L
  /** (start, end) epoch-ms of every finished non-fence job. */
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty(FenceProp) != null)) {
      fenceJobs += e.jobId
      fenceStages ++= e.stageIds
    } else {
      jobs += 1
      open(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (fenceJobs.remove(e.jobId)) { fencesEnded += 1; notifyAll() }
    else open.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!fenceStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      runMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      scanBytes += m.inputMetrics.bytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Run a fence job and wait until the listener has seen its end and
    * every job it saw start has ended. */
  def settle(timeoutMs: Long = 60000L): Unit = {
    sc.setLocalProperty(FenceProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FenceProp, null)
    val want = synchronized { fencesRun += 1; fencesRun }
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (fencesEnded < want || open.nonEmpty) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException(
            s"listener did not settle in ${timeoutMs} ms: fences $fencesEnded/$want seen, " +
              s"jobs still open: ${open.keys.toSeq.sorted.mkString(",")}")
        wait(math.min(left, 50L))
      }
    }
  }

  def counters: (Long, Long, Long, Long, Long, Long) = synchronized {
    (jobs, tasks, runMs, shuffleWrite, scanBytes, spillBytes)
  }

  /** Jobs that started inside [from, to] (epoch ms). */
  def jobsWithin(from: Long, to: Long): Int = synchronized {
    intervals.count { case (s, _) => s >= from && s <= to }
  }

  /** Milliseconds of [from, to] covered by at least one running job. */
  def coveredMs(from: Long, to: Long): Long = {
    val clipped = synchronized {
      intervals.iterator.filter { case (s, e) => e >= from && s <= to }
        .map { case (s, e) => (math.max(s, from), math.min(e, to)) }.toSeq
    }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    covered
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

/** The `fs` layer's probe (op counts of [[CountingLocalFileSystem]],
  * bytes from Hadoop's statistics of the `file` scheme), JVM garbage
  * collection, and the post-GC old-generation peak. */
object JvmProbe {
  def fs: (Long, Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (CountingLocalFileSystem.writes.get, CountingLocalFileSystem.reads.get, st.map(_.getBytesWritten).sum)
  }

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  @volatile private var oldPeak = 0L
  @volatile private var listening = false

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  /** Start tracking the old generation's size right after each GC. */
  def watchHeap(): Unit = synchronized {
    if (!listening) {
      listening = true
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if isOld(k) => v.getUsed }.sum
              if (used > oldPeak) oldPeak = used
            }
          }, null, null)
        case _ =>
      }
    }
  }

  /** Restart the peak at the old generation's size after the last GC:
    * the measured phase starts clean. */
  def resetHeapPeak(): Unit = {
    oldPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
  def heapPeakMb: Double = oldPeak / (1024.0 * 1024.0)
}

/** One span: a call into a layer (or an op, at the root). Times are
  * nanoTime for durations and epoch ms for matching Spark jobs. */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long,
    fsBytesWritten: Long, attrs: Map[String, Double]) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When off, [[span]] just runs its body. */
final class Tracer {
  var on = false
  var op = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (s0, m0, fs0) = (System.nanoTime(), System.currentTimeMillis(), JvmProbe.fs._3)
      try body
      finally {
        stack = stack.tail
        val (s1, m1, fs1) = (System.nanoTime(), System.currentTimeMillis(), JvmProbe.fs._3)
        spans += Span(id, parent, name, op, s0, s1, m0, m1, fs1 - fs0, attrs)
      }
    }

  /** Self time of every span: its duration minus its children's. */
  def selfMs: Map[Int, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.durMs).sum).toMap
    spans.map(s => s.id -> (s.durMs - childSum.getOrElse(s.id, 0.0))).toMap
  }
}
