package graft.probe

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import graft.obs.QueryProfile

/** Profiles registry queries through [[QueryProfile]]. Each pass builds
  * the query and materializes its full result through
  * [[QueryProfile.materialize]]; pass 1 is the cold pass.
  * Passes run pass-major: pass 1 of every listed query, then pass 2 of
  * every query, and so on. Prints each pass's record, then per query
  * the last pass's slowest jobs and stages and the plan's exchange
  * count, and finally every query's exchange count, highest first.
  *
  * usage: Profile <q1,q2,...|all> [passes=3] [driver] [plan=<dir>] [parts=<n,n,...>]
  *  - driver: sample driver-side stacks every 25 ms during the last
  *    pass and print the hottest planning/codegen frames;
  *  - plan=<dir>: write each query's formatted physical plan to
  *    <dir>/<query>.txt;
  *  - parts=<n,...>: repeat everything at each shuffle-partition count. */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: Profile <q1,q2,...|all> [passes] [driver] [plan=<dir>] [parts=<n,...>]")
    val spark = DevSession()
    val sfDir = DevSession.sfDir
    val all = graft.SparkEntry.queries
    val names = if (args(0) == "all") all.keys.toSeq.sorted else args(0).split(",").toSeq
    val passes = args.lift(1).filter(_.forall(_.isDigit)).fold(3)(_.toInt)
    def opt(k: String) = args.collectFirst { case a if a.startsWith(s"$k=") => a.drop(k.length + 1) }
    val parts = opt("parts").fold(Seq(spark.conf.get("spark.sql.shuffle.partitions")))(
      _.split(",").toSeq)
    val exchanges = parts.flatMap { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      def label(q: String) = if (parts.size > 1) s"$q parts=$p" else q
      // pass-major: pass i of every query before pass i + 1, so a warm
      // pass pays the codegen cache misses the other queries cause, as a
      // benchmark pass does
      val last = scala.collection.mutable.LinkedHashMap.empty[String, (DataFrame, QueryProfile.Record)]
      val failed = scala.collection.mutable.Set.empty[String]
      for (i <- 1 to passes; q <- names if !failed(q)) try {
        val sampler = if (args.contains("driver") && i == passes) Some(new Sampler) else None
        val (df, rec) = QueryProfile.materialize(spark,
          s"${label(q)} pass $i${if (i == 1) " (cold)" else ""}")(all(q)(spark, sfDir))
        println(rec.summary)
        sampler.foreach(_.stopAndPrint())
        last(q) = (df, rec)
      } catch { case e: Throwable =>
        println(s"FAIL ${label(q)}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        failed += q
        last -= q
      }
      last.toSeq.map { case (q, (df, rec)) =>
        println(f"${label(q)} pass $passes: job-time sum ${rec.jobs.map(_.seconds).sum}%.2f s, " +
          f"stage-wall sum ${rec.stages.map(_.seconds).sum}%.2f s; slowest jobs:")
        rec.jobs.sortBy(-_.seconds).take(8).foreach { j =>
          val desc = if (j.description.isEmpty) "" else s"{${j.description}} "
          println(f"  ${j.seconds}%7.2f s ${j.tasks}%4d tasks $desc" +
            j.stages.mkString(" <- ").take(150)) }
        println("  slowest stages:")
        rec.stages.sortBy(-_.seconds).take(8).foreach { s =>
          println(f"  ${s.seconds}%7.2f s ${s.tasks}%4d tasks ${s.name}") }
        opt("plan").foreach { dir =>
          Files.createDirectories(Paths.get(dir))
          Files.writeString(Paths.get(dir, s"$q.txt"), df.queryExecution.explainString(FormattedMode))
        }
        val ex = QueryProfile.exchanges(df)
        println(s"  exchanges $ex")
        label(q) -> ex
      }
    }
    println("exchanges per query, highest first:")
    exchanges.sortBy(-_._2).foreach { case (q, n) => println(f"$n%4d  $q") }
    spark.stop()
  }

  /** Samples every non-task thread's stack and counts its first
    * planner, codegen or graft frame: the driver-side floor (planning,
    * codegen) apart from waiting on the scheduler. */
  private final class Sampler {
    private val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile private var running = true
    private val thread = new Thread(() => while (running) {
      Thread.getAllStackTraces.asScala.foreach { case (t, st) =>
        if (!t.getName.startsWith("Executor task launch")) st.find { e =>
          val c = e.getClassName
          Seq("org.apache.spark.sql.catalyst", "org.apache.spark.sql.execution",
            "org.codehaus.janino", "graft.").exists(c.startsWith) && !c.startsWith("graft.probe")
        }.foreach { e =>
          val key = s"${t.getName.replaceAll("[0-9]+", "N")} :: " +
            s"${e.getClassName.split("\\.").takeRight(2).mkString(".")}.${e.getMethodName}"
          counts.merge(key, 1, (a, b) => a + b)
        }
      }
      Thread.sleep(25)
    })
    thread.setDaemon(true)
    thread.start()

    def stopAndPrint(): Unit = {
      running = false
      thread.join()
      println("  hottest driver-side frames (25 ms samples):")
      counts.asScala.toSeq.sortBy(-_._2).take(25).foreach { case (k, c) =>
        println(f"  ${c * 25}%7d ms  $k") }
    }
  }
}
