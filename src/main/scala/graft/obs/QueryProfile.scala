package graft.obs

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.storage.RDDBlockId

/**
 * What a query costs the scheduler, read from inside the program:
 * [[QueryProfile.run]] wraps any body (building a query, executing
 * it, or both) and returns its jobs, stages, tasks, shuffle, spill,
 * peak execution memory, the checkpoint bytes it left pinned and the
 * generated classes compiled meanwhile.
 *
 * Jobs are attributed through a job tag (Spark's nestable job group):
 * every job `body` schedules, on its own thread or on a thread it
 * spawns, carries the tag. After `body` a fence job without the tag
 * runs; listener events arrive in order, so once the fence's end is
 * seen, every event of the body's jobs has been seen too — no late
 * event is lost or charged to the next profile.
 */
object QueryProfile {

  final case class Job(id: Int, description: String, stages: Seq[String], tasks: Int,
      seconds: Double)
  final case class Stage(id: Int, name: String, tasks: Int, seconds: Double)

  final case class Record(label: String, wallSeconds: Double, jobs: Seq[Job], stages: Seq[Stage],
      shuffleReadBytes: Long, shuffleReadRecords: Long, shuffleWriteBytes: Long,
      shuffleWriteRecords: Long, spillBytes: Long, peakExecutionMemory: Long, pinnedBytes: Long,
      codegenCompiles: Long) {
    def tasks: Int = stages.map(_.tasks).sum
    def summary: String = {
      def mb(b: Long) = f"${b / 1048576.0}%.1f MB"
      f"$label: $wallSeconds%.2f s, ${jobs.size} jobs, ${stages.size} stages, $tasks tasks, " +
        s"shuffle write ${mb(shuffleWriteBytes)} ($shuffleWriteRecords rows), " +
        s"read ${mb(shuffleReadBytes)} ($shuffleReadRecords rows), spill ${mb(spillBytes)}, " +
        s"peak task memory ${mb(peakExecutionMemory)}, left pinned ${mb(pinnedBytes)}, " +
        s"$codegenCompiles compiles"
    }
  }

  /** Runs `body` under a fresh job tag and profiles the jobs it scheduled.
    * `codegenCompiles` counts every class the JVM's code generator
    * compiled between the start of `body` and the fence, for planning and
    * for local tasks alike (a compile on another thread of the same JVM
    * in that span counts too). A cache hit compiles nothing. */
  def run(spark: SparkSession, label: String)(body: => Any): Record = {
    val sc = spark.sparkContext
    val l = listener(sc)
    val tag = s"graft-profile-${seq.incrementAndGet()}"
    val acc = l.open(tag)
    try {
      val before = sc.getPersistentRDDs.keySet
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      val wall = (System.nanoTime() - t0) / 1e9
      sc.addJobTag(s"$tag-fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(s"$tag-fence")
      acc.fenced.await(60, TimeUnit.SECONDS)
      l.record(acc, label, wall, sc.getPersistentRDDs.keySet.filterNot(before),
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    } finally l.close(tag, sc.getPersistentRDDs.keySet)
  }

  /** Hash, range and single-partition shuffles of `df`'s physical plan,
    * subqueries included; broadcasts and reused exchanges add none. */
  def exchanges(df: Dataset[_]): Int = {
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case ShuffleExchangeExec(part, child, _, _) => walk(child) + (part match {
        case _: HashPartitioning | _: RangePartitioning | SinglePartition => 1
        case _ => 0
      })
      case other => (other.children ++ other.subqueries).map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Labels every job `body` schedules on this thread, then restores the
    * previous label, also when `body` throws. */
  def withJobLabel[T](name: String)(body: => T): T = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally sc.setJobDescription(prev)
  }

  private val seq = new AtomicLong
  private var bound: Option[(SparkContext, Listener)] = None

  /** The one listener of `sc`, registered on first use. */
  private def listener(sc: SparkContext): Listener = synchronized {
    bound.collect { case (c, l) if c eq sc => l }.getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      bound = Some((sc, l))
      l
    }
  }

  private final class JobAcc(val id: Int, val description: String, val stages: Seq[String],
      val startMs: Long) {
    var tasks = 0
    var endMs = -1L
  }

  private final class Acc {
    val fenced = new CountDownLatch(1)
    val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
    val stages = mutable.ArrayBuffer.empty[Stage]
    var shRead, shReadRec, shWrite, shWriteRec, spill, peak = 0L
  }

  private final class Listener extends SparkListener {
    private val accs, fenceOf = new ConcurrentHashMap[String, Acc]
    private val stageOwner = mutable.Map.empty[Int, List[(Acc, Int)]]
    private val fences = mutable.Map.empty[Int, Acc]
    private val rddBlocks = mutable.Map.empty[RDDBlockId, Long]

    def open(tag: String): Acc = {
      val a = new Acc
      accs.put(tag, a)
      fenceOf.put(s"$tag-fence", a)
      a
    }

    def close(tag: String, persisted: collection.Set[Int]): Unit = synchronized {
      val a = accs.remove(tag)
      fenceOf.remove(s"$tag-fence")
      stageOwner.mapValuesInPlace((_, os) => os.filterNot(_._1 eq a))
        .filterInPlace((_, os) => os.nonEmpty)
      rddBlocks.filterInPlace((b, _) => persisted.contains(b.rddId))
    }

    def record(a: Acc, label: String, wall: Double, newRdds: collection.Set[Int],
        compiles: Long): Record =
      synchronized {
        val jobs = a.jobs.values.toSeq.map(j => Job(j.id, j.description, j.stages, j.tasks,
          if (j.endMs < 0) -1.0 else (j.endMs - j.startMs) / 1e3))
        val pinned = rddBlocks.collect { case (b, n) if newRdds.contains(b.rddId) => n }.sum
        Record(label, wall, jobs, a.stages.toSeq, a.shRead, a.shReadRec, a.shWrite,
          a.shWriteRec, a.spill, a.peak, pinned, compiles)
      }

    private def tags(p: java.util.Properties): Seq[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(","))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val ts = tags(e.properties)
      ts.flatMap(t => Option(fenceOf.get(t))).foreach(a => fences(e.jobId) = a)
      ts.flatMap(t => Option(accs.get(t))).foreach { a =>
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        a.jobs(e.jobId) = new JobAcc(e.jobId, desc,
          e.stageInfos.map(s => s"${s.name.takeWhile(_ != '\n')}[${s.numTasks}]"), e.time)
        // a stage shared by several jobs of one profile counts once,
        // for the first job that listed it
        e.stageIds.foreach { s =>
          val os = stageOwner.getOrElse(s, Nil)
          if (!os.exists(_._1 eq a)) stageOwner(s) = (a, e.jobId) :: os
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      fences.remove(e.jobId).foreach(_.fenced.countDown())
      accs.values.forEach(a => a.jobs.get(e.jobId).foreach(_.endMs = e.time))
    }

    /** Call site plus the operator scopes of the stage's RDDs
      * (`WholeStageCodegen (2)`, `Exchange`, ...). */
    private def stageName(i: StageInfo): String = {
      val ops = i.rddInfos.flatMap(_.scope.map(_.name)).distinct
      i.name.takeWhile(_ != '\n') + (if (ops.isEmpty) "" else ops.mkString(" [", ", ", "]"))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val secs = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3)
        .getOrElse(0.0)
      stageOwner.getOrElse(i.stageId, Nil).foreach { case (a, job) =>
        a.stages += Stage(i.stageId, stageName(i), i.numTasks, secs)
        a.jobs.get(job).foreach(_.tasks += i.numTasks)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageOwner.getOrElse(e.stageId, Nil).foreach { case (a, _) =>
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shReadRec += m.shuffleReadMetrics.recordsRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shWriteRec += m.shuffleWriteMetrics.recordsWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId =>
          val n = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
          if (n == 0) rddBlocks.remove(b) else rddBlocks(b) = n
        case _ =>
      }
    }
  }
}
