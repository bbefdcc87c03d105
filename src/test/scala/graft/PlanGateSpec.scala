package graft

/**
 * Structural scale gates over EVERY registry query's physical plan —
 * regression protection for the 100 TB design invariants, enforced at
 * plan level (no execution needed, so the whole registry checks in
 * seconds at sf0.001):
 *
 *  1. NO unbroadcast Cartesian product. `CartesianProductExec` means
 *     both sides stream — O(n·m) shuffle-and-pair that cannot survive
 *     corpus growth. The sanctioned patterns compile elsewhere:
 *     in-plan scalars and probe samples become
 *     BroadcastNestedLoopJoin (one side bounded), equi-joins become
 *     sort-merge/hash joins.
 *  2. NO row_number/rank over an unpartitioned window fed by one of
 *     the big fixture tables' scans. A global ORDER BY window ranks
 *     the whole input on ONE task (the q_quantile_sketch class of bug,
 *     fixed by two-phase rank selection in round 7). Windows over
 *     small derived aggregates are fine and whitelisted by the
 *     scan-reachability test, not by name.
 *  3. NO presentational root sort. Results are unordered sets: order
 *     lives in the `seq`, key and `out_seq` columns, and a caller who
 *     wants rows in order sorts at the sink. A global sort at the
 *     plan root costs AQE a range-sampling job and one more exchange,
 *     and nothing reads it — except a limit (top-n), which keeps it.
 */
class PlanGateSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // Tables big enough that a single-task global sort of their full scan
  // is a scale bug (events/lineitem/orders/documents/embeddings grow
  // with the corpus; region/nation are bounded dimensions).
  private val bigTables = Seq("events", "lineitem", "orders", "customer",
    "part", "supplier", "documents", "embeddings")

  test("no registry plan contains an unbroadcast Cartesian product") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unbroadcast Cartesian product in: ${offenders.mkString(", ")} — " +
        "use broadcast() on the bounded side (in-plan scalar / probe " +
        "sample) or an equi-join")
  }

  test("no registry plan ends in a global sort that no limit reads") {
    // Walk the optimized plan down from the root through Project only.
    // A global Sort reached that way orders the result and nothing
    // else; a limit stops the walk, because the top-n reads the order.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
    def endsInSort(p: LogicalPlan): Boolean = p match {
      case Project(_, child) => endsInSort(child)
      case s: Sort => s.global
      case _ => false
    }
    val registry = SparkEntry.queries.toSeq.sortBy(_._1) :+
      ("entry" -> ((s: org.apache.spark.sql.SparkSession, _: String) => SparkEntry.entry(s)))
    val offenders = registry.flatMap { case (name, fn) =>
      val df = fn(spark, sfDir)
      val bad = endsInSort(df.queryExecution.optimizedPlan)
      graft.engine.Checkpoints.release(df)
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"— ${offenders.size} registry plans end in a global sort that no " +
        "limit reads; results are unordered sets, drop the terminal orderBy")
  }

  test("no registry plan has a window frame from a moving row to UNBOUNDED FOLLOWING") {
    // A frame whose lower bound moves with the row and whose upper bound
    // is the partition's end re-aggregates the whole tail for every row:
    // O(n²) per partition, a cliff behind any hot key (q_interpolate took
    // 252 s at sf0.1 on such a frame). A suffix aggregate is a running
    // aggregate over the reversed order, and a whole-partition aggregate
    // has an unbounded lower bound; both are linear.
    import org.apache.spark.sql.catalyst.expressions.{SpecifiedWindowFrame, UnboundedFollowing,
      UnboundedPreceding, WindowExpression}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sfDir)
      val frames = df.queryExecution.optimizedPlan.flatMap(_.expressions)
        .flatMap(_.collect { case w: WindowExpression => w.windowSpec.frameSpecification })
      graft.engine.Checkpoints.release(df)
      frames.collectFirst {
        case f @ SpecifiedWindowFrame(_, lower, UnboundedFollowing) if lower != UnboundedPreceding =>
          s"$name (${f.sql})"
      }
    }
    assert(offenders.isEmpty,
      s"quadratic window frame in: ${offenders.mkString("; ")} — run the aggregate over " +
        "the reversed order with an UNBOUNDED PRECEDING lower bound instead")
  }

  test("multi-source event queries: one keyed pass each (exchanges, warm-pass jobs)") {
    // Each query is one sorted pass per key plus, at most, a broadcast
    // one-row bounds aggregate. A side table joined back or a second
    // partitioning would add an exchange and a job. Static exchanges
    // come from the unexecuted plan; jobs are those of the second (warm)
    // noop materialization under this suite's session.
    val want = Map(
      "q_concat" -> (1, 2), "q_interpolate" -> (2, 4), "q_join_interval" -> (1, 3),
      "q_sample" -> (2, 4), "q_switch" -> (1, 2), "q_zip" -> (1, 2))
    val got = want.keys.toSeq.sorted.map { q =>
      def pass() = {
        var df: org.apache.spark.sql.DataFrame = null
        val rec = graft.obs.QueryProfile.run(spark, q) {
          df = SparkEntry.queries(q)(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
        }
        (graft.obs.QueryProfile.exchanges(df), rec.jobs.size)
      }
      pass()
      q -> pass()
    }.toMap
    assert(got === want)
  }

  test("no registry plan globally sorts a big-table scan through an unpartitioned ranking window") {
    // Detector: a Window node whose spec has ORDER BY but no PARTITION
    // BY, with a big fixture table's file scan anywhere BELOW it and no
    // aggregation between (an agg bounds the row count, making the
    // global window safe). String-level but conservative: we walk the
    // plan tree, not the rendered text.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

    def scansBigUnbounded(p: SparkPlan): Boolean = p match {
      case _: HashAggregateExec | _: ObjectHashAggregateExec |
           _: SortAggregateExec => false // aggregation bounds the rows
      case leaf if leaf.children.isEmpty =>
        val s = leaf.toString.takeWhile(_ != '\n')
        bigTables.exists(t => s.contains(s"$t.parquet"))
      case other => other.children.exists(scansBigUnbounded)
    }
    def offendingWindows(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => offendingWindows(a.inputPlan)
      case w: WindowExec if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty
          && scansBigUnbounded(w.child) =>
        Seq(w.windowExpression.mkString(",").take(60)) ++
          w.children.flatMap(offendingWindows)
      case other => other.children.flatMap(offendingWindows)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = offendingWindows(fn(spark, sfDir).queryExecution.executedPlan)
        if (bad.nonEmpty) Some(s"$name (${bad.head})") else None
    }
    assert(offenders.isEmpty,
      s"single-task global ranking over a big-table scan in: " +
        s"${offenders.mkString("; ")} — partition the window or use " +
        "two-phase rank selection (see q_quantile_sketch)")
  }

  test("no registry plan statically broadcasts an explode-derived big-table frame") {
    // Detector for the round-9 EmbStress crash class: Generate
    // (explode) does NOT scale sizeInBytes by its fanout, so a
    // pair/candidate frame built by explode chains over a big table
    // carries a tiny static estimate and the planner broadcasts an
    // O(n·fanout) frame — measured as a 2.3 GB driver collect at 40×
    // vectors. The gate: no BroadcastExchange may have a Generate
    // with a big-table file scan below it anywhere in its subtree.
    // Sanctioned patterns pass automatically: explicitly-materialized
    // candidate sets are localCheckpoint'd first (a LogicalRDD leaf —
    // no Generate below), and tiny dimension broadcasts contain no
    // Generate at all. AQE's runtime conversions are size-validated
    // against real shuffle bytes and are out of scope.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

    def scansBig(p: SparkPlan): Boolean = p match {
      case leaf if leaf.children.isEmpty =>
        val s = leaf.toString.takeWhile(_ != '\n')
        bigTables.exists(t => s.contains(s"$t.parquet"))
      case other => other.children.exists(scansBig)
    }
    def generateOverBig(p: SparkPlan): Boolean = p match {
      case g: GenerateExec if scansBig(g.child) => true
      case other => other.children.exists(generateOverBig)
    }
    def offending(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => offending(a.inputPlan)
      case b: BroadcastExchangeExec if generateOverBig(b.child) =>
        Seq(b.child.toString.takeWhile(_ != '\n').take(60)) ++
          b.children.flatMap(offending)
      case other => other.children.flatMap(offending)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val bad = offending(fn(spark, sfDir).queryExecution.executedPlan)
        if (bad.nonEmpty) Some(s"$name (${bad.head})") else None
    }
    assert(offenders.isEmpty,
      s"static broadcast of an explode-derived big-table frame in: " +
        s"${offenders.mkString("; ")} — pin the join with " +
        "hint(\"shuffle_hash\") on the bounded side (see " +
        "Similarity.rerankShortlist) or localCheckpoint the frame " +
        "so the planner sees real stats")
  }

  test("residual-PQ driver-resident plan state stays LINEAR in the cell count") {
    // Regression gate for the round-13 weak item: the μμ term used to
    // ride as a dense cells×cells lookup table inside the plan —
    // O(cells²) driver/serialization state (33 MB at sf10's 2,048
    // derived cells, ~3 GB a decade later; the plan dies of size long
    // before 100 TB, and no cluster width fixes driver-side state).
    // Since round 14 it folds on the fly over the (cells × dims) mean
    // matrix (MatRowDot). The gate builds the residual plan at a cell
    // count where quadratic ≫ linear (256 cells: cells² = 65,536 vs
    // the largest legitimate linear artifact cells·dims = 16,384) and
    // asserts EVERY driver-resident double[] riding the plan is at
    // most linear — a reintroduced cells² table fails loudly.
    import graft.functions.{AdcLookup, MatRowDot, NearestCells}
    val nCells = 256
    val dims = 64
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.ml.Similarity.topKIvfPqResidual(
      emb, "vec_id", "embedding", k = 3, nCells = nCells, kmIters = 1,
      dims = dims, nProbe = 2, m = 4, pqK = 8, pqIters = 1)
    val arrays = df.queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect {
        case a: AdcLookup => ("adc_lookup", a.table.length)
        case m: MatRowDot => ("mat_row_dot", m.mat.length)
        case n: NearestCells => ("nearest_cells", n.flat.length)
      })
    assert(arrays.exists(_._1 == "mat_row_dot"),
      "gate lost sight of the μμ scoring path — did the residual " +
        "encoding change?")
    val linearBound = nCells * dims
    val offenders = arrays.filter(_._2 > linearBound).distinct
    assert(offenders.isEmpty,
      s"super-linear driver-resident plan state (> cells·dims = " +
        s"$linearBound doubles) in the residual-PQ plan: " +
        s"${offenders.mkString(", ")} — nothing may grow with cells²")
    graft.engine.Checkpoints.release(df)
  }
}
