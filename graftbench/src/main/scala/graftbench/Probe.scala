package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters the benchmark keeps from outside the program: a SparkListener,
  * a QueryExecutionListener and a StreamingQueryListener, plus the JVM's GC
  * notifications for the heap. Task run time and the heap are always kept
  * (end-to-end metrics need them); everything else only when `traced`. */
final class Probe(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext

  val taskRunMs = new AtomicLong()
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val taskCpuNs = new AtomicLong()
  val gcMs = new AtomicLong()
  val shuffleReadB = new AtomicLong()
  val shuffleWriteB = new AtomicLong()
  val spillB = new AtomicLong()
  val outputB = new AtomicLong()
  val planningS = new DoubleAdder()
  val streamBatches = new AtomicLong()
  val streamBatchMs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start, end) wall-clock ms of every finished job. */
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val cachedBlocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val cachedNow = new AtomicLong()
  val cachedPeakB = new AtomicLong()

  // false while the harness does work of its own (output digests)
  @volatile private var counting = true

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && counting) {
        taskRunMs.addAndGet(m.executorRunTime)
        if (traced) {
          tasks.incrementAndGet()
          taskCpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          outputB.addAndGet(m.outputMetrics.bytesWritten)
        }
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (traced && counting) { jobs.incrementAndGet(); jobStartMs.put(e.jobId, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (traced && counting) Option(jobStartMs.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced && counting) stages.incrementAndGet()
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockManagerId.executorId + "/" + info.blockId.name
        val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = Option(cachedBlocks.put(key, now)).getOrElse(0L)
        val total = cachedNow.addAndGet(now - before)
        if (counting) cachedPeakB.accumulateAndGet(total, math.max)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (counting) planningS.add(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1000.0)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (counting) {
      streamBatches.incrementAndGet()
      Option(e.progress.durationMs.get("triggerExecution")).foreach(streamBatchMs.add)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  sc.addSparkListener(listener)
  if (traced) {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every event posted so far. */
  def drain(): Unit = GraftbenchBus.drain(sc)

  /** Runs `f` with every counter paused: the events posted before it reach
    * the listeners first, and the ones it posts reach them before counting
    * resumes. */
  def untimed[T](f: => T): T = {
    drain()
    counting = false
    try f finally { drain(); counting = true }
  }

  // Heap in use right after each collection while `sampling`: its largest
  // value (the peak) and its value after one full GC forced at the end of
  // the window (what the workload left live). Usage right after a GC tracks
  // retained data; raw usage would mostly track the young generation's size.
  @volatile private var sampling = false
  private val heapPeak = new AtomicLong()
  private val heapLast = new AtomicLong()
  private val gcListener: javax.management.NotificationListener = (n: javax.management.Notification, _: AnyRef) =>
    if (sampling && counting && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      heapPeak.accumulateAndGet(used, math.max)
      heapLast.set(used)
    }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    .collect { case e: javax.management.NotificationEmitter => e }
  gcBeans.foreach(_.addNotificationListener(gcListener, null, null))

  def startHeap(): Unit = { heapPeak.set(0L); sampling = true }

  /** Ends the heap window: (peak MB, live MB after forced full GCs). The
    * first GC lets Spark's ContextCleaner see the RDDs, broadcasts and
    * shuffles nothing references any more and release their blocks; only
    * the second shows the heap without them (one GC alone read either of
    * two levels ~45 MB apart). */
  def heapMb(): (Double, Double) = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(200) // GC notifications arrive on their own thread
    sampling = false
    val mb = 1024.0 * 1024.0
    (heapPeak.get / mb, heapLast.get / mb)
  }

  def close(): Unit = {
    gcBeans.foreach(_.removeNotificationListener(gcListener))
    sc.removeSparkListener(listener)
    if (traced) {
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }

  /** Seconds of `[from, to]` (epoch ms) not covered by any counted Spark
    * job. */
  def driverOnlyS(from: Long, to: Long): Double = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (to - from) - covered) / 1000.0
  }

  def snapshot(): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val batch = streamBatchMs.asScala.map(_.toDouble).toSeq
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.planning_s" -> planningS.sum,
      "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
      "spark.gc_s" -> gcMs.get / 1000.0,
      "spark.shuffle_read_mb" -> shuffleReadB.get / mb,
      "spark.shuffle_write_mb" -> shuffleWriteB.get / mb,
      "spark.spill_mb" -> spillB.get / mb,
      "spark.output_mb" -> outputB.get / mb,
      "spark.cached_mb_peak" -> cachedPeakB.get / mb,
      "streaming.batches" -> streamBatches.get.toDouble,
      "streaming.batch_ms_p50" -> Stats.quantile(batch, 0.5))
  }

  /** Zero every counter (the warm-up's events must not count). */
  def reset(): Unit = {
    drain()
    Seq(taskRunMs, jobs, stages, tasks, taskCpuNs, gcMs, shuffleReadB, shuffleWriteB,
      spillB, outputB, streamBatches).foreach(_.set(0L))
    cachedPeakB.set(cachedNow.get)
    planningS.reset()
    streamBatchMs.clear()
    jobIntervals.clear()
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
}
