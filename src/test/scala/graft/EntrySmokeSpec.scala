package graft

/** Driver-contract smoke: `SparkEntry.entry` returns >0 rows at sf0.001,
  * and every `oracleSql` key has a matching `queries` entry (the driver
  * joins them by name). Also exercises the pull surface
  * (`toLocalIterator`, reference `aiter`, event.py:339-389). */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns rows at sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys line up") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle without query: ${o.diff(q)}")
    assert(q.subsetOf(o), s"query without oracle: ${q.diff(o)}")
  }

  test("q_sample: events spanning less than a day yield no ticks, not an error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qsample").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 13:30:00")
    Seq((1L, t0, 7L, "view", 1.25, "{}"), (2L, t1, 7L, "buy", 3.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    // the oracle's generate_series over a backwards grid is empty
    assert(SparkEntry.queries("q_sample")(spark, dir).collect().isEmpty)
  }

  test("pull-based iteration (aiter -> toLocalIterator)") {
    val it = seqStream(0 until 100).df.orderBy("seq").toLocalIterator()
    val first = it.next()
    assert(first.getAs[Long]("value") === 0L)
    var n = 1
    while (it.hasNext) { it.next(); n += 1 }
    assert(n === 100)
  }

  test("aiter skip_to_last drops the backlog for a slow consumer (event.py:339-366)") {
    val df = seqStream(0 until 2000).df.orderBy("seq")
    val it = graft.engine.EventStream.aiterSkipToLast(df)
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (it.hasNext) {
      got += it.next().getAs[Long]("value")
      Thread.sleep(20) // consumer slower than the producer
    }
    // in order, nothing fabricated, final value always delivered
    assert(got.toSeq == got.toSeq.sorted)
    assert(got.last === 1999L)
    // the clutch slipped: a slow consumer must NOT see every value
    assert(got.size < 2000, s"expected skips, got all ${got.size}")
  }
}
