package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.obs.QueryProfile

/** The in-program profiler: fenced job attribution, generated-class
  * compiles, the plan's exchange count and scoped job labels. */
class QueryProfileSpec extends SparkSpec {

  private def description = spark.sparkContext.getLocalProperty("spark.job.description")

  test("run counts the body's jobs, tasks, shuffle and pins, and nothing after it") {
    val sc = spark.sparkContext
    var pinned: org.apache.spark.rdd.RDD[Int] = null
    val rec = QueryProfile.run(spark, "body") {
      sc.parallelize(1 to 100, 4).map(i => (i % 5, i)).reduceByKey(_ + _, 2).collect()
      // a job on a thread the body spawns carries the body's tag too
      val t = new Thread(() => sc.parallelize(1 to 10, 3).count())
      t.start()
      t.join()
      pinned = sc.parallelize(1 to 1000, 2).persist()
      pinned.count()
    }
    sc.parallelize(1 to 10, 2).count()
    assert(rec.jobs.size === 3)
    assert(rec.stages.map(_.tasks) === Seq(4, 2, 3, 2))
    assert(rec.tasks === 11)
    assert(rec.jobs.map(_.tasks) === Seq(6, 3, 2))
    assert(rec.shuffleWriteRecords === 20 && rec.shuffleReadRecords === 20)
    assert(rec.shuffleWriteBytes > 0 && rec.shuffleReadBytes > 0)
    assert(rec.pinnedBytes > 0 && rec.spillBytes === 0)
    assert(rec.wallSeconds > 0 && rec.jobs.forall(_.seconds >= 0))
    pinned.unpersist(blocking = true)
  }

  test("run waits for the listener bus: a lagging listener loses none of the body's events") {
    val sc = spark.sparkContext
    // runs on the listener queue the profiler shares, so every event
    // posted after a DataFrame action reaches the profiler 500 ms late
    val slow = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = Thread.sleep(500)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(slow)
    try {
      val rec = QueryProfile.run(spark, "lagging") {
        spark.range(1).collect()
        sc.parallelize(1 to 10, 2).count()
      }
      assert(rec.jobs.last.stages.head.startsWith("count at"))
      assert(rec.jobs.last.tasks === 2 && rec.jobs.last.seconds >= 0)
    } finally spark.listenerManager.unregister(slow)
  }

  test("run counts the body's codegen compiles: a fresh plan compiles, a cache hit and an RDD job do not") {
    // a literal is inlined into the generated source, so a fresh value is a fresh class
    val k = System.nanoTime()
    def query() = spark.range(100).selectExpr(s"id * ${k}L + 1 AS v").collect()
    val fresh = QueryProfile.run(spark, "fresh")(query())
    val again = QueryProfile.run(spark, "again")(query())
    val rdd = QueryProfile.run(spark, "rdd")(spark.sparkContext.parallelize(1 to 10, 2).count())
    assert(fresh.codegenCompiles > 0)
    assert(again.codegenCompiles === 0)
    assert(rdd.codegenCompiles === 0)
    assert(fresh.summary.endsWith(s"${fresh.codegenCompiles} compiles"))
  }

  test("exchanges counts hash, range and single-partition shuffles, not broadcasts") {
    val r = spark.range(100)
    val agg = r.groupBy((col("id") % 3).as("k")).count()
    assert(QueryProfile.exchanges(agg) === 1)
    assert(QueryProfile.exchanges(agg.orderBy("k")) === 2)
    assert(QueryProfile.exchanges(r.agg(sum("id"))) === 1)
    assert(QueryProfile.exchanges(r.repartition(3)) === 0)
    assert(QueryProfile.exchanges(r.join(broadcast(agg), col("id") === col("k"))) === 1)
  }

  test("withJobLabel restores the previous label after return, after a throw, and when nested") {
    val sc = spark.sparkContext
    val before = description
    QueryProfile.withJobLabel("outer") {
      val rec = QueryProfile.run(spark, "labels") {
        assert(QueryProfile.withJobLabel("a")(sc.parallelize(1 to 4, 1).count()) === 4)
        sc.parallelize(1 to 4, 1).count()
      }
      assert(rec.jobs.map(_.description) === Seq("a", "outer"))
      intercept[IllegalStateException](
        QueryProfile.withJobLabel("b")(throw new IllegalStateException("boom")))
      assert(description === "outer")
      QueryProfile.withJobLabel("c") {
        QueryProfile.withJobLabel("d")(assert(description === "d"))
        assert(description === "c")
      }
      assert(description === "outer")
    }
    assert(description === before)
  }
}
