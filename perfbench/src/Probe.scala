package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One recorded interval. `parent` is -1 for the root. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder; written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  def add(parent: Int, name: String, startNs: Long, endNs: Long): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, name, startNs, endNs)
    id
  }
  def close(id: Int): Unit = synchronized {
    buf(id) = buf(id).copy(endNs = System.nanoTime())
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

/** Stage-level totals a [[Probe]] sums from task metrics. */
final class StageTotals {
  var tasks, runMs, cpuNs, gcMs, peakMem, shWrite, shRead, shRecords, spill, fetchWaitMs,
      inBytes, inRecords = 0L
  val readPerTask = mutable.ArrayBuffer.empty[Long]
}

/**
 * Listener set for the traced run: Spark jobs, stages and tasks
 * (scheduler, executor and shuffle layers), RDD block updates (pinned
 * checkpoints), query-execution phases and SQL metrics (planning and
 * physical operators), and streaming progress. Everything is attached
 * from outside the program; nothing here changes what a query does.
 */
final class Probe(spark: SparkSession) extends SparkListener {
  case class Job(id: Int, startNs: Long, var endNs: Long, stages: Seq[Int])
  case class Stage(id: Int, name: String, var startNs: Long, var endNs: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]
  val stageTotals = mutable.Map.empty[Int, StageTotals]
  private val rddBlockBytes = mutable.Map.empty[String, Long]
  var pinnedBytes = 0L
  var pinnedPeak = 0L

  // planning and operator metrics, summed over QueryExecutionListener calls
  var analysisMs, optimizationMs, planningMs = 0L
  var sortMs, aggMs, bcastBuildMs, rowsOut = 0L

  // streaming progress, one record per micro-batch
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def nowNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, nowNs, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endNs = nowNs)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages(e.stageInfo.stageId) = Stage(e.stageInfo.stageId, e.stageInfo.name, nowNs, -1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.endNs = nowNs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = stageTotals.getOrElseUpdate(e.stageId, new StageTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRecords += m.shuffleWriteMetrics.recordsWritten
      val r = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      t.shRead += r
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inBytes += m.inputMetrics.bytesRead
      t.inRecords += m.inputMetrics.recordsRead
      if (m.shuffleReadMetrics.totalBlocksFetched > 0) t.readPerTask += r
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val key = b.blockId.name
      val size = b.memSize + b.diskSize
      pinnedBytes += size - rddBlockBytes.getOrElse(key, 0L)
      if (size == 0) rddBlockBytes.remove(key) else rddBlockBytes(key) = size
      pinnedPeak = math.max(pinnedPeak, pinnedBytes)
    }
  }

  /** Walks the executed plan (through AQE wrappers and query stages). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        val ph = qe.tracker.phases
        analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
        optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
        planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
        val all = try nodes(qe.executedPlan) catch { case _: Throwable => Nil }
        all.foreach { n =>
          def metric(k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
          n.nodeName match {
            case "Sort" => sortMs += metric("sortTime")
            case "HashAggregate" | "ObjectHashAggregate" | "SortAggregate" =>
              aggMs += metric("aggTime")
            case "BroadcastExchange" => bcastBuildMs += metric("buildTime")
            case _ =>
          }
        }
        // rows the query produced: the top-most operator that counts rows
        all.drop(1).find(_.metrics.contains("numOutputRows")).foreach { top =>
          rowsOut += top.metrics("numOutputRows").value
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized { progress += e.progress }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Jobs whose start lies in [t0, t1]. */
  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized(jobs.filter(j => j.startNs >= t0 && j.startNs <= t1).toList)

  /** Length of the union of the given intervals, clipped to [t0, t1]. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    val c = iv.map { case (a, b) => (math.max(a, t0), math.min(if (b < 0) t1 else b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur = (Long.MinValue, Long.MinValue)
    c.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) total += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) total += cur._2 - cur._1
    total
  }
}

/** Reads this JVM's resident memory from procfs. */
object Rss {
  def currentMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Samples RSS every `periodMs` on a daemon thread until `stop`. */
  final class Sampler(periodMs: Long) {
    @volatile private var running = true
    @volatile var peakMb = 0.0
    private val t = new Thread(() => {
      while (running) {
        peakMb = math.max(peakMb, currentMb())
        Thread.sleep(periodMs)
      }
    }, "perfbench-rss")
    t.setDaemon(true)
    t.start()
    def stop(): Double = { running = false; t.join(); peakMb = math.max(peakMb, currentMb()); peakMb }
  }
}
