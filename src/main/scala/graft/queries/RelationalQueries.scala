package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational surface (free from Spark, exposed as first-class engine
 * capability — SURVEY.md §2.9 note): key-based groupBy, equi/semi/anti
 * joins, sort, set ops over the TPC-H-ish fixtures. These are also the
 * bench headliners at sf0.1.
 *
 * Money stays in integer cents (`sum` of BIGINT — exact, and map-side
 * partial aggregation applies); dimension tables are broadcast so the
 * only shuffles are the final aggregations.
 */
object RelationalQueries {
  import EventQueries.QFn

  private def cents(c: String) = round(col(c) * 100, 0).cast("long")
  private val SQL_EV = "CAST(round(%s * 100, 0) AS BIGINT)"
  private def sqlCents(c: String) = SQL_EV.format(c)

  private case class Q(name: String, fn: QFn, sql: String)

  /** One unrolled fixed-point PageRank iteration k (engine.PageRank
    * mirror): damp by 85//100, pool dangling mass, split by outdeg,
    * re-base. MATERIALIZED: each CTE is referenced downstream ≥2×,
    * and DuckDB 1.0 inlines per reference (combinatorial re-exec). */
  private def prIter(k: Int): String = {
    val p = s"r${k - 1}"
    s"d$k AS MATERIALIZED (SELECT node, (pr * 85) // 100 AS d, outdeg " +
      s"FROM $p LEFT JOIN deg ON node = src), " +
      s"g$k AS MATERIALIZED (SELECT CAST(coalesce(sum(" +
      s"CASE WHEN outdeg IS NULL THEN d END), 0) AS BIGINT) AS dang FROM d$k), " +
      s"i$k AS MATERIALIZED (SELECT dst, CAST(sum(d // outdeg) AS BIGINT) " +
      s"AS inflow FROM d$k JOIN e ON node = src WHERE outdeg IS NOT NULL " +
      s"GROUP BY dst), " +
      s"r$k AS MATERIALIZED (SELECT node, " +
      s"((1000000000000 * 15) // 100) // n + dang // n + " +
      s"coalesce(inflow, 0) AS pr " +
      s"FROM nodes CROSS JOIN nn CROSS JOIN g$k LEFT JOIN i$k ON node = dst)"
  }

  /** Corpus-derived HITS scale CTEs (engine `Hits.scaleFor` mirror):
    * the smallest 10^6·2^k ≥ the node count, from the same VALUES
    * doubling ladder the trainMod oracle uses. Gate-SF graphs derive
    * the historical 10^6. */
  private def sqlHitsScale: String = {
    val cap = 1000000L << 11 // Hits.MAX_SCALE
    val ladder = (0 to 11).map(k => s"(CAST(${1000000L << k} AS BIGINT))")
      .mkString(",")
    s"hn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
      s"hsc AS MATERIALIZED (SELECT coalesce(min(t.m), CAST($cap AS BIGINT)) " +
      s"AS m FROM (VALUES $ladder) t(m), hn WHERE hn.n <= t.m)"
  }
  private val HSCALE = "(SELECT m FROM hsc)"

  /** One unrolled L1-normalized integer HITS iteration k (engine
    * `Hits.run` mirror): auth from hub over in-edges, normalize, hub
    * from the NEW auth over out-edges, normalize — floors throughout.
    * The scale is the derived [[sqlHitsScale]] value. */
  private def hitsIter(k: Int): String = {
    val p = s"r${k - 1}"
    s"a${k}r AS MATERIALIZED (SELECT dst, CAST(sum(hub) AS BIGINT) AS araw " +
      s"FROM $p JOIN e ON node = src GROUP BY dst), " +
      s"as$k AS MATERIALIZED (SELECT CAST(sum(araw) AS BIGINT) AS s FROM a${k}r), " +
      s"a$k AS MATERIALIZED (SELECT dst, " +
      s"CAST((araw * $HSCALE) // s AS BIGINT) AS auth FROM a${k}r CROSS JOIN as$k), " +
      s"h${k}r AS MATERIALIZED (SELECT src, CAST(sum(auth) AS BIGINT) AS hraw " +
      s"FROM a$k JOIN e USING (dst) GROUP BY src), " +
      s"hs$k AS MATERIALIZED (SELECT CAST(sum(hraw) AS BIGINT) AS s FROM h${k}r), " +
      s"r$k AS MATERIALIZED (SELECT node, " +
      s"coalesce(CAST((hraw * $HSCALE) // hs$k.s AS BIGINT), 0) AS hub, " +
      s"coalesce(auth, 0) AS auth " +
      s"FROM nodes CROSS JOIN hs$k LEFT JOIN a$k ON node = dst " +
      s"LEFT JOIN h${k}r ON node = src)"
  }

  /** One unrolled WEIGHTED PageRank iteration k (engine
    * `PageRank.runWeighted` mirror): damped mass splits over out-edges
    * proportionally to integer weights, (d·w) // W(u) per edge. */
  private def prIterW(k: Int): String = {
    val p = s"r${k - 1}"
    s"d$k AS MATERIALIZED (SELECT node, (pr * 85) // 100 AS d, outw " +
      s"FROM $p LEFT JOIN deg ON node = src), " +
      s"g$k AS MATERIALIZED (SELECT CAST(coalesce(sum(" +
      s"CASE WHEN outw IS NULL THEN d END), 0) AS BIGINT) AS dang FROM d$k), " +
      s"i$k AS MATERIALIZED (SELECT dst, CAST(sum((d * w) // outw) AS BIGINT) " +
      s"AS inflow FROM d$k JOIN e ON node = src WHERE outw IS NOT NULL " +
      s"GROUP BY dst), " +
      s"r$k AS MATERIALIZED (SELECT node, " +
      s"((1000000000000 * 15) // 100) // n + dang // n + " +
      s"coalesce(inflow, 0) AS pr " +
      s"FROM nodes CROSS JOIN nn CROSS JOIN g$k LEFT JOIN i$k ON node = dst)"
  }

  /** One unrolled PERSONALIZED PageRank iteration k: teleport + dangling
    * mass land only on seed nodes, uniformly over |S| (engine
    * `PageRank.runPersonalized` mirror; same floor-division math). */
  private def prIterP(k: Int): String = {
    val p = s"r${k - 1}"
    s"d$k AS MATERIALIZED (SELECT node, (pr * 85) // 100 AS d, outdeg " +
      s"FROM $p LEFT JOIN deg ON node = src), " +
      s"g$k AS MATERIALIZED (SELECT CAST(coalesce(sum(" +
      s"CASE WHEN outdeg IS NULL THEN d END), 0) AS BIGINT) AS dang FROM d$k), " +
      s"i$k AS MATERIALIZED (SELECT dst, CAST(sum(d // outdeg) AS BIGINT) " +
      s"AS inflow FROM d$k JOIN e ON node = src WHERE outdeg IS NOT NULL " +
      s"GROUP BY dst), " +
      s"r$k AS MATERIALIZED (SELECT node, is_seed, " +
      s"CASE WHEN is_seed THEN ((1000000000000 * 15) // 100) // ns + dang // ns " +
      s"ELSE 0 END + coalesce(inflow, 0) AS pr " +
      s"FROM nodes CROSS JOIN nn CROSS JOIN g$k LEFT JOIN i$k ON node = dst)"
  }

  /** One unrolled multi-source BFS hop k (engine `Bfs.run` mirror):
    * frontier = nodes first reached at k-1; anything they touch that
    * is still unlabeled gets dist k. */
  private def bfsIter(k: Int): String = {
    val p = s"r${k - 1}"
    s"f$k AS MATERIALIZED (SELECT DISTINCT e.dst AS node " +
      s"FROM e JOIN $p p ON e.src = p.node AND p.dist = ${k - 1}), " +
      s"r$k AS MATERIALIZED (SELECT p.node, " +
      s"CAST(coalesce(p.dist, CASE WHEN f.node IS NOT NULL THEN $k END) " +
      s"AS BIGINT) AS dist FROM $p p LEFT JOIN f$k f USING (node))"
  }

  /** One unrolled k-core peeling round r (engine `KCore.run` mirror):
    * degrees over the surviving subgraph, survivors keep src AND dst. */
  private def kcoreIter(r: Int, k: Int): String = {
    val p = s"e${r - 1}"
    s"d$r AS MATERIALIZED (SELECT src, count(*) AS d FROM $p GROUP BY src), " +
      s"k$r AS MATERIALIZED (SELECT src AS node FROM d$r WHERE d >= $k), " +
      s"e$r AS MATERIALIZED (SELECT e.src, e.dst FROM $p e " +
      s"JOIN k$r a ON e.src = a.node JOIN k$r b ON e.dst = b.node)"
  }

  /** One unrolled Bellman-Ford relaxation round k (engine `Sssp.run`
    * mirror): labeled nodes push dist+w over out-edges, per-dst min,
    * merge with the standing label. */
  private def ssspIter(k: Int): String = {
    val p = s"r${k - 1}"
    s"f$k AS MATERIALIZED (SELECT e.dst AS node, " +
      s"CAST(min(p.dist + e.w) AS BIGINT) AS nd " +
      s"FROM e JOIN $p p ON e.src = p.node AND p.dist IS NOT NULL " +
      s"GROUP BY e.dst), " +
      s"r$k AS MATERIALIZED (SELECT p.node, " +
      s"CAST(CASE WHEN p.dist IS NULL THEN f.nd WHEN f.nd IS NULL " +
      s"THEN p.dist ELSE least(p.dist, f.nd) END AS BIGINT) AS dist " +
      s"FROM $p p LEFT JOIN f$k f USING (node))"
  }

  private def qs: Seq[Q] = Seq(
    Q("q_tpch1_pricing",
      // TPC-H Q1 shape: scan-heavy, pure partial-agg + tiny shuffle.
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(cents("l_quantity")).as("sum_qty_c"),
          sum(cents("l_extendedprice")).as("sum_base_c"),
          sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount").cast("long"))).as("sum_disc_c2"),
          count(lit(1)).as("count_order")),
      // CAST(sum AS BIGINT) everywhere below: DuckDB SUM over integers
      // returns HUGEINT (pandas float64), hash-mismatching Spark's int64.
      "SELECT l_returnflag, l_linestatus, " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c, " +
        s"CAST(sum(${sqlCents("l_extendedprice")}) AS BIGINT) AS sum_base_c, " +
        s"CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS sum_disc_c2, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    Q("q_tpch3_topn",
      // Join + agg + top-N: dims broadcast, single shuffle on orderkey.
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        l.join(broadcast(o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
            .select("o_orderkey", "o_orderdate")),
            l("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey", "o_orderdate")
          .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("revenue_c2"))
          .select(col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("odate_us"), col("revenue_c2"))
          .orderBy(col("revenue_c2").desc, col("o_orderkey")).limit(10)
      },
      "SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us, " +
        s"CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS revenue_c2 " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderkey, o_orderdate " +
        "ORDER BY revenue_c2 DESC, o_orderkey LIMIT 10"),

    Q("q_tpch5_nation_rev",
      // Star join: every dim broadcast; one shuffle for the final group.
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        val n = Tables.nation(s, d).select("n_nationkey", "n_name")
        l.join(broadcast(o), l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(su), l("l_suppkey") === su("s_suppkey") &&
            c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .groupBy("n_name")
          .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount"))).as("revenue_c2"),
            count(lit(1)).as("n_items"))
      },
      "SELECT n_name, " +
        s"CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS revenue_c2, " +
        "count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "GROUP BY n_name ORDER BY n_name"),

    Q("q_join_semi",
      // Parts that appear in lineitem (left semi = SQL EXISTS).
      (s, d) => Tables.part(s, d)
        .join(Tables.lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_brand"),
      "SELECT p_partkey, p_brand FROM part WHERE p_partkey IN " +
        "(SELECT l_partkey FROM lineitem) ORDER BY p_partkey"),

    Q("q_join_anti",
      // Customers with no 1996 orders (left anti = NOT EXISTS). The year
      // restriction keeps the result non-empty at every SF — the fixture
      // gives every customer at least one order overall, which made the
      // unrestricted anti join a vacuous 0-row comparison.
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(year(col("o_orderdate")) === 1996),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment"),
      "SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey NOT IN " +
        "(SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) ORDER BY c_custkey"),

    Q("q_tpch6_forecast",
      // TPC-H Q6 shape: fully-pushed-down filter + one scalar aggregate
      // (partial agg → 1-row exchange). Exact: cents × basis points.
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          cents("l_discount").between(5, 7) &&
          col("l_quantity") < 24)
        .agg(sum(cents("l_extendedprice") * cents("l_discount")).as("revenue_c2")),
      s"SELECT CAST(sum(${sqlCents("l_extendedprice")} * ${sqlCents("l_discount")}) AS BIGINT) AS revenue_c2 " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        s"AND ${sqlCents("l_discount")} BETWEEN 5 AND 7 AND l_quantity < 24"),

    Q("q_tpch12_priority",
      // TPC-H Q12 shape on the fixture's columns: fact-fact join +
      // conditional aggregation (high/low priority line counts per
      // linestatus for lines shipped in 1996).
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
            .as("low_line_count")),
      "SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY l_linestatus ORDER BY l_linestatus"),

    Q("q_tpch10_returns",
      // TPC-H Q10 shape: top-20 customers by lost revenue on returned
      // items in one year — 3-way join, keyed agg, TakeOrderedAndProject.
      (s, d) => {
        val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy("c_custkey", "c_name", "c_nationkey")
          .agg(sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
            .as("revenue_c2"))
          .orderBy(col("revenue_c2").desc, col("c_custkey")).limit(20)
      },
      "SELECT c_custkey, c_name, c_nationkey, " +
        s"CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) AS BIGINT) AS revenue_c2 " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "GROUP BY c_custkey, c_name, c_nationkey " +
        "ORDER BY revenue_c2 DESC, c_custkey LIMIT 20"),

    Q("q_sort_topn",
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"), cents("o_totalprice").as("total_c"))
        .orderBy(col("total_c").desc, col("o_orderkey")).limit(20),
      s"SELECT o_orderkey, ${sqlCents("o_totalprice")} AS total_c FROM orders " +
        "ORDER BY total_c DESC, o_orderkey LIMIT 20"),

    Q("q_topk_group",
      // Per-GROUP top-k (the "best k documents per source" shape):
      // five highest-balance customers per nation, deterministic
      // tie-break by key. The rank-filter pair triggers Spark's
      // WindowGroupLimit pushdown (asserted in RewriteRuleSpec): each
      // partition keeps only its local top-k BEFORE the shuffle, so
      // the exchange carries k·partitions rows per group, not the
      // whole table — the property that makes per-group top-k viable
      // over 100 TB where a full window sort would not be.
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_nationkey"),
          col("c_custkey"), cents("c_acctbal").as("bal_c"))
        c.withColumn("rn", row_number().over(
            Window.partitionBy("c_nationkey")
              .orderBy(col("bal_c").desc, col("c_custkey"))))
          .filter(col("rn") <= 5)
      },
      "SELECT * FROM (SELECT c_nationkey, c_custkey, bal_c, " +
        "row_number() OVER (PARTITION BY c_nationkey " +
        "ORDER BY bal_c DESC, c_custkey) AS rn " +
        "FROM (SELECT c_nationkey, c_custkey, " +
        s"${sqlCents("c_acctbal")} AS bal_c FROM customer)) " +
        "WHERE rn <= 5 ORDER BY c_nationkey, rn"),

    Q("q_setops",
      // Customers ordering in 1995 but not in 1996 (EXCEPT).
      (s, d) => {
        val o = Tables.orders(s, d)
        val y95 = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
        val y96 = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
        y95.except(y96)
      },
      "SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995 " +
        "EXCEPT SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996 " +
        "ORDER BY o_custkey"),

    Q("q_grouped_window",
      // Keyed relational + stream hybrid: per-supplier running revenue
      // over ship order — the canonical 100 TB-safe window (keyed).
      (s, d) => {
        val l = Tables.lineitem(s, d)
        // (l_orderkey, l_linenumber) is NOT unique in the fixture (and
        // sf0.1 has a real (suppkey, shipdate, orderkey, linenumber)
        // collision), so ep_c joins the sort key: rows identical on the
        // full key are then interchangeable and the running-sum output
        // MULTISET is engine-order-independent
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey")
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
            col("ep_c"))
          .rowsBetween(Long.MinValue, 0)
        l.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_shipdate"), cents("l_extendedprice").as("ep_c"))
          .withColumn("run_rev_c", sum(col("ep_c")).over(w))
          .drop("l_shipdate")
      },
      s"SELECT l_suppkey, l_orderkey, l_linenumber, ${sqlCents("l_extendedprice")} AS ep_c, " +
        s"CAST(sum(${sqlCents("l_extendedprice")}) OVER (PARTITION BY l_suppkey " +
        s"ORDER BY l_shipdate, l_orderkey, l_linenumber, ${sqlCents("l_extendedprice")} " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_rev_c " +
        "FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber"),

    Q("q_tpch4_late",
      // TPC-H Q4 shape: priority count of Q1-1996 orders with at least
      // one LATE line item (shipped > 60 days after the order date) —
      // an EXISTS decorrelated to a LEFT SEMI join whose condition
      // carries a non-equi residual alongside the key. The semi join
      // stops probing an order at its first late item: no fanout, no
      // dedup pass.
      (s, d) => {
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.join(l, o("o_orderkey") === l("l_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
      },
      "SELECT o_orderpriority, count(*) AS order_count FROM orders o " +
        "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o.o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),

    Q("q_tpch18_bigqty",
      // TPC-H Q18 shape (large-volume customers): orders whose total
      // quantity exceeds 250 units, joined back to customer/order
      // attributes. The HAVING list is a small derived set — broadcast
      // to both probe joins, so the only full shuffle is the lineitem
      // per-order aggregation.
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val big = l.groupBy(col("l_orderkey").as("bk"))
          .agg(sum(cents("l_quantity")).as("sum_qty_c"))
          .filter(col("sum_qty_c") > 250 * 100L)
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        o.join(broadcast(big), o("o_orderkey") === col("bk"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"),
            to_date(col("o_orderdate")).as("o_date"),
            cents("o_totalprice").as("total_c"), col("sum_qty_c"))
      },
      "SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date, " +
        s"${sqlCents("o_totalprice")} AS total_c, sum_qty_c " +
        "FROM orders JOIN (SELECT l_orderkey AS bk, " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c " +
        "FROM lineitem GROUP BY l_orderkey HAVING " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) > 25000) b " +
        "ON o_orderkey = b.bk " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY sum_qty_c DESC, o_orderkey"),

    Q("q_tpch14_promo",
      // TPC-H Q14 shape (promotion effect): the share of one month's
      // revenue from PROMO parts. Part dimension broadcast; numerator
      // and denominator are exact integer-cents sums from ONE
      // aggregation pass, the percentage one final IEEE division.
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
            col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
        val p = Tables.part(s, d).select("p_partkey", "p_type")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type") === "PROMO",
              cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
              .otherwise(lit(0L))).as("promo_c2"),
            sum(cents("l_extendedprice") * (lit(100L) - cents("l_discount")))
              .as("total_c2"))
          .withColumn("promo_pct",
            col("promo_c2").cast("double") * 100.0 / col("total_c2").cast("double"))
      },
      "SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
        s"${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")}) " +
        "ELSE 0 END) AS BIGINT) AS promo_c2, " +
        s"CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) " +
        "AS BIGINT) AS total_c2, " +
        "CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
        s"${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")}) " +
        "ELSE 0 END) AS BIGINT) AS DOUBLE) * 100.0 / " +
        s"CAST(CAST(sum(${sqlCents("l_extendedprice")} * (100 - ${sqlCents("l_discount")})) " +
        "AS BIGINT) AS DOUBLE) AS promo_pct " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1995-09-01' " +
        "AND l_shipdate < TIMESTAMP '1995-10-01'"),

    Q("q_tpch19_disjunct",
      // TPC-H Q19 shape (discounted revenue, disjunctive predicates):
      // an OR of brand/size/quantity conjunctions — the pattern that
      // tests whether the common join key survives predicate pushdown
      // while the residual OR evaluates post-join. Part broadcast, one
      // aggregation, exact cents.
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select(col("l_partkey"), cents("l_quantity").as("qty_c"),
            cents("l_extendedprice").as("ep_c"), cents("l_discount").as("dc_c"))
        val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
        val cond =
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("qty_c").between(100L, 2000L)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
            col("qty_c").between(500L, 2500L)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
            col("qty_c").between(1000L, 4000L))
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(cond)
          .agg(sum(col("ep_c") * (lit(100L) - col("dc_c"))).as("revenue_c2"),
            count(lit(1)).as("n"))
      },
      "SELECT CAST(sum(ep_c * (100 - dc_c)) AS BIGINT) AS revenue_c2, " +
        "count(*) AS n FROM (SELECT l_partkey, " +
        s"${sqlCents("l_quantity")} AS qty_c, " +
        s"${sqlCents("l_extendedprice")} AS ep_c, " +
        s"${sqlCents("l_discount")} AS dc_c FROM lineitem) l " +
        "JOIN part ON l_partkey = p_partkey " +
        "WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 " +
        "AND qty_c BETWEEN 100 AND 2000) " +
        "OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 " +
        "AND qty_c BETWEEN 500 AND 2500) " +
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 " +
        "AND qty_c BETWEEN 1000 AND 4000)"),

    Q("q_tpch17_smallqty",
      // TPC-H Q17 shape: correlated scalar subquery (revenue from
      // line items under 20% of their part's average quantity),
      // decorrelated into a per-part aggregate + equi-join — the
      // rewrite Catalyst needs spelled out to avoid a per-row subquery.
      // Average = exact integer-cents sum / count, ONE division, so the
      // threshold compare is bit-identical across engines.
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val avgq = l.groupBy(col("l_partkey").as("pk"))
          .agg((sum(cents("l_quantity")).cast("double") /
            count(lit(1)).cast("double")).as("avg_qty_c"))
        l.join(avgq, l("l_partkey") === col("pk"))
          .filter(cents("l_quantity").cast("double") < col("avg_qty_c") * 0.2)
          .agg(sum(cents("l_extendedprice")).as("rev_c"), count(lit(1)).as("n"))
      },
      "SELECT CAST(sum(c_ep) AS BIGINT) AS rev_c, count(*) AS n FROM (" +
        s"SELECT ${sqlCents("l.l_extendedprice")} AS c_ep, " +
        s"CAST(${sqlCents("l.l_quantity")} AS DOUBLE) AS c_q, a.avg_qty_c " +
        "FROM lineitem l JOIN (SELECT l_partkey AS pk, " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS avg_qty_c " +
        "FROM lineitem GROUP BY l_partkey) a ON l.l_partkey = a.pk) " +
        "WHERE c_q < avg_qty_c * 0.2e0"),

    Q("q_time_window",
      // Time-based sliding aggregate: per-user trailing-1-hour spend as
      // a RANGE frame over event-time micros — the wall-clock-window
      // staple the row-based §2.5 array ops can't express (row frames
      // count events, range frames count seconds).
      (s, d) => {
        val e = EventQueries.ev(s, d).df
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600000000L, 0)
        e.withColumn("hour_cents", sum(col("cents")).over(w))
          .select("seq", "user_id", "hour_cents")
      },
      EventQueries.EV +
        " SELECT seq, user_id, CAST(sum(cents) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts) RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS hour_cents FROM ev ORDER BY seq"),

    Q("q_pivot",
      // Pivot with an EXPLICIT value list (event types are a known
      // enum): one groupBy, no schema-inference pass over the data —
      // the scale-safe pivot (an unlisted pivot must scan once just to
      // learn the columns). Mirrored as FILTER aggregates in the
      // oracle.
      (s, d) => EventQueries.ev(s, d).df
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L),
      EventQueries.EV +
        " SELECT user_id, " +
        Seq("click", "view", "purchase", "signup", "error").map(t =>
          s"count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ") +
        " FROM ev GROUP BY user_id ORDER BY user_id"),

    Q("q_percentile_rank",
      // Percentile rank of each document's length within its language:
      // cume_dist = rows-at-or-below / rows — rank-count division, the
      // same integer ratio in both engines.
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("n_chars")
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("n_chars"),
            cume_dist().over(w).as("pctl"))
      },
      "SELECT doc_id, lang, n_chars, cume_dist() OVER " +
        "(PARTITION BY lang ORDER BY n_chars) AS pctl " +
        "FROM documents ORDER BY doc_id"),

    Q("q_rollup",
      // Hierarchical totals in one pass: ROLLUP emits (flag, status),
      // (flag, ALL), (ALL, ALL) levels from a single scan + one
      // expand+shuffle — no UNION of three aggregations. NULL group
      // markers are coalesced to 'ALL' on both sides.
      (s, d) => Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(cents("l_quantity")).as("sum_qty_c"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty_c"), col("n")),
      "SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c, " +
        "count(*) AS n FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus) ORDER BY rf, ls"),

    Q("q_cube",
      // Full cross-classification in one pass: CUBE adds the (ALL,
      // status) slice ROLLUP lacks — all four grouping levels from a
      // single scan + one expand+shuffle (4× row multiply before the
      // partial agg, not four scans or a UNION).
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(cents("l_quantity")).as("sum_qty_c"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty_c"), col("n")),
      "SELECT coalesce(l_returnflag, 'ALL') AS rf, " +
        "coalesce(l_linestatus, 'ALL') AS ls, " +
        s"CAST(sum(${sqlCents("l_quantity")}) AS BIGINT) AS sum_qty_c, " +
        "count(*) AS n FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus) ORDER BY rf, ls"),

    Q("q_winsorize",
      // Robust per-group stats: winsorized mean of events.value per
      // event_type — clamp below the exact rank-selected p05 and above
      // p95 (ceil-rank pick, integer cents, deterministic (cents, seq)
      // tie order — no interpolation, no sketch), then ONE final
      // division. The curation use: quality-score thresholds that one
      // spam burst or logging glitch cannot drag. One keyed sort
      // window + a broadcast per-group bounds table + one aggregate.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = EventQueries.ev(s, d).df
          .select(col("event_type"), col("seq"), col("cents"))
        val w = Window.partitionBy("event_type").orderBy("cents", "seq")
        val ranked = e
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .withColumn("r", expr("(n + 19) div 20"))
        val bounds = ranked
          .filter(col("rn") === col("r") || col("rn") === col("n") - col("r") + 1)
          .groupBy("event_type")
          .agg(min(col("cents")).as("lo_c"), max(col("cents")).as("hi_c"))
        ranked.join(broadcast(bounds), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            min(col("lo_c")).as("lo_c"), min(col("hi_c")).as("hi_c"),
            sum(least(greatest(col("cents"), col("lo_c")), col("hi_c")))
              .as("wins_sum_c"))
          .withColumn("wins_mean_c",
            col("wins_sum_c").cast("double") / col("n").cast("double"))
      },
      EventQueries.EV + ", " +
        "ranked AS (SELECT event_type, cents, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY cents, seq) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM ev), " +
        "bounds AS (SELECT event_type, min(cents) AS lo_c, max(cents) AS hi_c " +
        "FROM ranked WHERE rn = (n + 19) // 20 OR rn = n - (n + 19) // 20 + 1 " +
        "GROUP BY event_type) " +
        "SELECT event_type, n, lo_c, hi_c, wins_sum_c, " +
        "CAST(wins_sum_c AS DOUBLE) / CAST(n AS DOUBLE) AS wins_mean_c FROM " +
        "(SELECT r.event_type, count(*) AS n, min(lo_c) AS lo_c, " +
        "min(hi_c) AS hi_c, " +
        "CAST(sum(least(greatest(cents, lo_c), hi_c)) AS BIGINT) AS wins_sum_c " +
        "FROM ranked r JOIN bounds b ON r.event_type = b.event_type " +
        "GROUP BY r.event_type) ORDER BY event_type"),

    Q("q_ohlc_bars",
      // OHLC downsampling: hourly bars per event_type over events.value
      // — the canonical event-stream reduction of the reference's home
      // ecosystem (tick data → candles). open/close by deterministic
      // (tu, seq) order via one keyed sort window (first_value +
      // full-frame last_value), extremes and integer-cent volume by the
      // following groupBy; bucket = tu div 3.6e9 (exact integer hour).
      // Partition key is (type, hour), so parallelism GROWS with time
      // span — no per-type serialization at scale.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = EventQueries.ev(s, d).df.select(
          col("event_type"), col("seq"), col("cents"),
          unix_micros(col("ts")).as("tu"))
          .withColumn("bkt", expr("tu div 3600000000"))
        val w = Window.partitionBy("event_type", "bkt").orderBy("tu", "seq")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        e.withColumn("open_c", first("cents").over(w))
          .withColumn("close_c", last("cents").over(wf))
          .groupBy("event_type", "bkt")
          .agg(min(col("open_c")).as("open_c"),
            max(col("cents")).as("high_c"), min(col("cents")).as("low_c"),
            min(col("close_c")).as("close_c"),
            count(lit(1)).as("n"), sum(col("cents")).as("vol_c"))
      },
      EventQueries.EV + ", " +
        "e AS (SELECT event_type, seq, cents, epoch_us(ts) AS tu, " +
        "epoch_us(ts) // 3600000000 AS bkt FROM ev), " +
        "wn AS (SELECT event_type, bkt, cents, " +
        "first_value(cents) OVER (PARTITION BY event_type, bkt ORDER BY tu, seq) AS open_c, " +
        "last_value(cents) OVER (PARTITION BY event_type, bkt ORDER BY tu, seq " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_c FROM e) " +
        "SELECT event_type, bkt, min(open_c) AS open_c, max(cents) AS high_c, " +
        "min(cents) AS low_c, min(close_c) AS close_c, count(*) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS vol_c FROM wn " +
        "GROUP BY event_type, bkt ORDER BY event_type, bkt"),

    Q("q_twap",
      // Within-bar time-weighted average (TWAP): each observed tick's
      // value holds from its arrival to the next tick (or the bar
      // edge), weighted in exact integer microseconds — Σ(dur·cents)
      // ≤ bar_length·max_cents keeps the sum far inside long range,
      // and the single final division is the only double op. Same
      // (type, hour) window skeleton as q_ohlc_bars.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = EventQueries.ev(s, d).df.select(
          col("event_type"), col("seq"), col("cents"),
          unix_micros(col("ts")).as("tu"))
          .withColumn("bkt", expr("tu div 3600000000"))
        val w = Window.partitionBy("event_type", "bkt").orderBy("tu", "seq")
        e.withColumn("nxt",
            coalesce(lead(col("tu"), 1).over(w), expr("(bkt + 1) * 3600000000")))
          .withColumn("dur", col("nxt") - col("tu"))
          .groupBy("event_type", "bkt")
          .agg(sum(col("dur")).as("held_us"),
            sum(col("dur") * col("cents")).as("wsum"),
            count(lit(1)).as("n"))
          .withColumn("twap_c",
            col("wsum").cast("double") / col("held_us").cast("double"))
      },
      EventQueries.EV + ", " +
        "e AS (SELECT event_type, seq, cents, epoch_us(ts) AS tu, " +
        "epoch_us(ts) // 3600000000 AS bkt FROM ev), " +
        "wn AS (SELECT event_type, bkt, cents, " +
        "coalesce(lead(tu, 1) OVER (PARTITION BY event_type, bkt " +
        "ORDER BY tu, seq), (bkt + 1) * 3600000000) - tu AS dur FROM e) " +
        "SELECT event_type, bkt, CAST(sum(dur) AS BIGINT) AS held_us, " +
        "CAST(sum(dur * cents) AS BIGINT) AS wsum, count(*) AS n, " +
        "CAST(CAST(sum(dur * cents) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) AS twap_c " +
        "FROM wn GROUP BY event_type, bkt ORDER BY event_type, bkt"),

    Q("q_drawdown",
      // Maximum drawdown per event_type: running peak (cummax over the
      // deterministic (tu, seq) order), per-row drawdown = peak − v in
      // exact integer cents, then the single worst row picked by
      // row_number over (dd desc, seq) — deterministic in any engine,
      // no argmax tie ambiguity. Two keyed windows + one filter; no
      // self-join, no global sort.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = EventQueries.ev(s, d).df.select(
          col("event_type"), col("seq"), col("cents"),
          unix_micros(col("ts")).as("tu"))
        val w = Window.partitionBy("event_type").orderBy("tu", "seq")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dd = e.withColumn("peak_c", max(col("cents")).over(w))
          .withColumn("dd_c", col("peak_c") - col("cents"))
        val pick = Window.partitionBy("event_type")
          .orderBy(col("dd_c").desc, col("seq"))
        dd.withColumn("rn", row_number().over(pick))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("peak_c"),
            col("cents").as("trough_c"), col("dd_c"), col("seq").as("at_seq"))
      },
      EventQueries.EV + ", " +
        "e AS (SELECT event_type, seq, cents, epoch_us(ts) AS tu FROM ev), " +
        "dd AS (SELECT event_type, seq, cents, " +
        "max(cents) OVER (PARTITION BY event_type ORDER BY tu, seq " +
        "ROWS UNBOUNDED PRECEDING) AS peak_c FROM e), " +
        "rk AS (SELECT event_type, peak_c, cents AS trough_c, " +
        "peak_c - cents AS dd_c, seq AS at_seq, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY peak_c - cents DESC, seq) AS rn FROM dd) " +
        "SELECT event_type, peak_c, trough_c, dd_c, at_seq FROM rk " +
        "WHERE rn = 1 ORDER BY event_type"),

    Q("q_resample_ffill",
      // Gap-filled resampling (pandas resample().ffill(), Timescale
      // time_bucket_gapfill): one row per (event_type, hour) on a
      // regular grid spanning the corpus, carrying the last observed
      // value forward; hours before a type's first tick stay NULL.
      // Grid = distinct keys × broadcast 1-row hour bounds (no data
      // shuffle to build it); the fill is ONE AsofJoin keyed window —
      // no range join. Ticks pre-aggregated to unique (type, ts) by
      // max so same-microsecond ticks resolve identically in any
      // engine.
      (s, d) => {
        val e = EventQueries.ev(s, d).df
          .select(col("event_type"), col("ts"), col("cents"))
        val ticks = e.groupBy("event_type", "ts")
          .agg(max(col("cents")).as("cents"))
        val hb = e.agg(
          expr("min(unix_micros(ts)) div 3600000000").as("h0"),
          expr("max(unix_micros(ts)) div 3600000000").as("h1"))
        val grid = e.select("event_type").distinct()
          .crossJoin(broadcast(hb))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"))).as("h"))
          .withColumn("ts", timestamp_micros(expr("h * 3600000000")))
        graft.engine.AsofJoin
          .asofLeft(grid, ticks, "event_type", "ts", Seq("cents"), "fill_")
          .select(col("event_type"), col("h"), col("fill_cents").as("fill_c"))
      },
      EventQueries.EV + ", " +
        "ticks AS (SELECT event_type, ts, max(cents) AS cents FROM ev " +
        "GROUP BY event_type, ts), " +
        "hb AS (SELECT min(epoch_us(ts)) // 3600000000 AS h0, " +
        "max(epoch_us(ts)) // 3600000000 AS h1 FROM ev), " +
        "grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h " +
        "FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN hb), " +
        "g2 AS (SELECT event_type, h, make_timestamp(h * 3600000000) AS ts " +
        "FROM grid) " +
        "SELECT g2.event_type, g2.h, t.cents AS fill_c FROM g2 " +
        "ASOF LEFT JOIN (SELECT event_type AS t_type, ts, cents FROM ticks) t " +
        "ON g2.event_type = t.t_type AND g2.ts >= t.ts " +
        "ORDER BY event_type, h"),

    Q("q_interpolate",
      // Linear interpolation on a regular grid (pandas interpolate(),
      // Timescale interpolate()): each (event_type, hour) grid point
      // gets the straight-line value between its surrounding ticks,
      // NULL outside the observed span (no extrapolation). Weight form
      // (prev·(next_tm-tm) + next·(tm-prev_tm)) div (next_tm-prev_tm)
      // keeps every operand nonnegative, so integer division is
      // engine-agnostic (no floor-vs-truncate edge). ONE sorted pass per
      // event_type: a tick is the max non-NULL cents of its instant (a
      // peer-range frame) kept once per instant, and each tick explodes
      // the grid hours in [tm, next_tm) it opens — the first tick also
      // the hours before it (NULL), the last tick its own hour and the
      // hours after it (NULL). Every frame is linear: none runs to
      // UNBOUNDED FOLLOWING from a moving row.
      (s, d) => {
        val e = EventQueries.ev(s, d).df
          .select(col("event_type"), expr("unix_micros(ts)").as("tm"), col("cents"))
        val hb = e.agg(
          expr("min(tm) div 3600000000").as("h0"),
          expr("max(tm) div 3600000000").as("h1"))
        val w = Window.partitionBy("event_type").orderBy("tm")
        // An instant whose cents are all NULL is no tick; a type without
        // any tick keeps one row, which spreads NULL over the whole grid.
        val ticks = e
          .withColumn("c", max(col("cents")).over(w.rangeBetween(Window.currentRow,
            Window.currentRow)))
          .withColumn("any_c", max(col("cents")).over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
          .withColumn("dup", lag(col("tm"), 1).over(w) === col("tm"))
          .filter(!coalesce(col("dup"), lit(false)) &&
            (col("c").isNotNull || col("any_c").isNull))
          .withColumn("prev_tm", lag(col("tm"), 1).over(w))
          .withColumn("next_tm", lead(col("tm"), 1).over(w))
          .withColumn("next_c", lead(col("c"), 1).over(w))
        // hour of the first grid point at or after x (x >= 0)
        def ceilH(x: String) = s"($x + 3599999999) div 3600000000"
        ticks.crossJoin(broadcast(hb))
          .withColumn("lo_h", expr(s"CASE WHEN prev_tm IS NULL THEN h0 " +
            s"ELSE ${ceilH("tm")} END"))
          .withColumn("hi_h", expr(s"CASE WHEN next_tm IS NULL THEN h1 " +
            s"ELSE ${ceilH("next_tm")} - 1 END"))
          .filter(col("hi_h") >= col("lo_h")) // sequence() counts down on inverted bounds
          .withColumn("h", explode(sequence(col("lo_h"), col("hi_h"))))
          .withColumn("g", expr("h * 3600000000"))
          .select(col("event_type"), col("h"),
            when(col("g") < col("tm"), lit(null).cast("long"))
              .when(col("g") === col("tm"), col("c"))
              .when(col("next_tm").isNull, lit(null).cast("long"))
              .otherwise(expr("(c * (next_tm - g) + next_c * (g - tm)) " +
                "div (next_tm - tm)")).as("interp_c"))
      },
      EventQueries.EV + ", " +
        "ticks AS (SELECT event_type, epoch_us(ts) AS tm, max(cents) AS c " +
        "FROM ev GROUP BY 1, 2), " +
        "hb AS (SELECT min(epoch_us(ts)) // 3600000000 AS h0, " +
        "max(epoch_us(ts)) // 3600000000 AS h1 FROM ev), " +
        "grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h " +
        "FROM (SELECT DISTINCT event_type FROM ev) CROSS JOIN hb), " +
        "comb AS (SELECT event_type, tm, c, CAST(NULL AS BIGINT) AS h " +
        "FROM ticks UNION ALL SELECT event_type, h * 3600000000 AS tm, " +
        "CAST(NULL AS BIGINT) AS c, h FROM grid), " +
        "w AS (SELECT event_type, tm, h, " +
        "last_value(c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY tm " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c, " +
        "last_value(CASE WHEN c IS NOT NULL THEN tm END IGNORE NULLS) " +
        "OVER (PARTITION BY event_type ORDER BY tm " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_tm, " +
        "first_value(c IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY tm " +
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c, " +
        "first_value(CASE WHEN c IS NOT NULL THEN tm END IGNORE NULLS) " +
        "OVER (PARTITION BY event_type ORDER BY tm " +
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_tm " +
        "FROM comb) " +
        "SELECT event_type, h, CAST(CASE " +
        "WHEN prev_tm IS NULL OR next_tm IS NULL THEN NULL " +
        "WHEN next_tm = prev_tm THEN prev_c " +
        "ELSE (prev_c * (next_tm - tm) + next_c * (tm - prev_tm)) " +
        "// (next_tm - prev_tm) END AS BIGINT) AS interp_c " +
        "FROM w WHERE h IS NOT NULL ORDER BY event_type, h"),

    Q("q_join_asof",
      // As-of join (graft.engine.AsofJoin): stamp each non-purchase
      // event with the user's latest purchase at-or-before it. One keyed
      // union-window scan — no range join, no per-key cross term. Oracle
      // is DuckDB's native ASOF LEFT JOIN.
      (s, d) => {
        val e = EventQueries.ev(s, d).df
        val left = e.filter(col("event_type") =!= "purchase")
          .select("seq", "user_id", "ts", "event_type", "cents")
        val right = e.filter(col("event_type") === "purchase")
          .select("user_id", "ts", "cents")
        graft.engine.AsofJoin
          .asofLeft(left, right, "user_id", "ts", Seq("cents"), "purchase_")
      },
      EventQueries.EV +
        " SELECT e.seq, e.user_id, e.ts, e.event_type, e.cents, " +
        "m.ts AS purchase_ts, m.cents AS purchase_cents " +
        "FROM (SELECT * FROM ev WHERE event_type <> 'purchase') e " +
        "ASOF LEFT JOIN (SELECT user_id AS m_uid, ts, cents FROM ev " +
        "WHERE event_type = 'purchase') m " +
        "ON e.user_id = m.m_uid AND e.ts >= m.ts ORDER BY e.seq"),

    Q("q_join_interval",
      // Point-in-interval range join (graft.engine.IntervalJoin): for
      // each user's daily activity window [first event, last event],
      // count OTHER users' purchases that fall inside it — the
      // "concurrent activity" join shape (ad impressions × campaign
      // flights, trades × halts, events × sessions). Spark would plan
      // the raw `BETWEEN` predicate as a broadcast-nested-loop; the
      // operator bins both sides to 1-hour buckets so it becomes one
      // equi-join with exactly-once pairs (a window spans ≤ 25 buckets,
      // a point exactly one). The join keeps windows without a purchase,
      // so one join and one count per window give the result.
      // Time compares as integer micros.
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tu"))
        val iv = e.groupBy(col("user_id"), expr("tu div 86400000000").as("day"))
          .agg(min("tu").as("lo"), max("tu").as("hi"))
        val pts = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("tu"))
        graft.engine.IntervalJoin
          .pointsInIntervals(iv, pts, "lo", "hi", "tu", 3600000000L)
          .groupBy("user_id", "day", "lo", "hi")
          .agg(count(when(col("p_user") =!= col("user_id"), 1)).as("n_other_purchases"))
      },
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events), " +
        "iv AS (SELECT user_id, tu // 86400000000 AS day, min(tu) AS lo, " +
        "max(tu) AS hi FROM e GROUP BY 1, 2), " +
        "p AS (SELECT user_id AS p_user, tu FROM e WHERE event_type = 'purchase') " +
        "SELECT iv.user_id, iv.day, iv.lo, iv.hi, " +
        "CAST(count(p.tu) AS BIGINT) AS n_other_purchases " +
        "FROM iv LEFT JOIN p ON p.tu >= iv.lo AND p.tu <= iv.hi " +
        "AND p.p_user <> iv.user_id " +
        "GROUP BY iv.user_id, iv.day, iv.lo, iv.hi ORDER BY iv.user_id, iv.day"),

    Q("q_join_salted",
      // Skew-mitigated join + aggregation (graft.engine.Skew) as an
      // oracle-checked query: events (5 event types over 10k rows — a
      // hot-key distribution by construction) join a per-type weight
      // dim that is, at the 100 TB analogue, too large to broadcast;
      // saltedJoin spreads each hot key over 8 (key, salt) tasks and
      // saltedSum merges exact integer partials. The salt never reaches
      // the result — the oracle is the PLAIN join + group-by.
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), cents("value").as("c"))
        val dim = e.select("event_type").distinct()
          .withColumn("w", length(col("event_type")).cast("long"))
        val joined = graft.engine.Skew.saltedJoin(e, dim, Seq("event_type"), 8)
          .withColumn("wc", col("c") * col("w"))
        graft.engine.Skew
          .saltedSum(joined, Seq("event_type"), col("wc"), "weighted_cents", 8)
      },
      "WITH e AS (SELECT event_type, " +
        s"${sqlCents("value")} AS c FROM events), " +
        "dim AS (SELECT DISTINCT event_type, " +
        "CAST(length(event_type) AS BIGINT) AS w FROM e) " +
        "SELECT e.event_type, CAST(sum(e.c * dim.w) AS BIGINT) AS weighted_cents " +
        "FROM e JOIN dim USING (event_type) " +
        "GROUP BY e.event_type ORDER BY e.event_type"),

    Q("q_sample_hash",
      // Deterministic Bernoulli sampling by multiplicative hash — the
      // reproducible-across-engines (and across reruns at 100 TB) form
      // of TABLESAMPLE: no RNG state, prunes in one narrow pass.
      (s, d) => EventQueries.ev(s, d).df
        .filter((col("seq") * 2654435761L) % 1000003L < 100000L)
        .select("seq", "user_id", "value"),
      EventQueries.EV +
        " SELECT seq, user_id, value FROM ev " +
        "WHERE (seq * 2654435761) % 1000003 < 100000 ORDER BY seq"),

    Q("q_sample_stratified",
      // Stratified sampling: EXACTLY n rows per key, chosen by hash
      // order — per-key quota sampling as one keyed window (no
      // per-group collect, no driver loop). The 100 TB form of
      // "balance the training mix per source/user".
      (s, d) => {
        val h = (col("seq") * 2654435761L) % 1000003L
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(h, col("seq"))
        EventQueries.ev(s, d).df
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 20)
          .select("seq", "user_id", "value")
      },
      EventQueries.EV +
        " SELECT seq, user_id, value FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY (seq * 2654435761) % 1000003, seq) AS rn " +
        "FROM ev) WHERE rn <= 20 ORDER BY seq"),

    Q("q_histogram",
      // Equi-width 20-bucket histogram of events.value: a 1-row min/max
      // aggregate broadcast back, then a per-row bucket projection and
      // one tiny groupBy — the distribution profile every column scan
      // report needs. Width is ONE division, bucket is the identical
      // subtract/divide/floor IEEE sequence in both engines; the max
      // value clamps into the last bucket. Degenerate input (all values
      // equal → width 0 → 0/0 NaN, where the engines' NULL/NaN handling
      // diverges) is special-cased to bucket 0 in BOTH formulations.
      (s, d) => {
        val bounds = Tables.events(s, d)
          .agg(min("value").as("mn"), max("value").as("mx"))
        Tables.events(s, d).select("value").crossJoin(broadcast(bounds))
          .select(when(col("mx") === col("mn"), lit(0L)).otherwise(least(
            floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / 20))
              .cast("long"), lit(19L))).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n_events"))
      },
      "WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n_events FROM " +
        "(SELECT CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE " +
        "least(CAST(floor((value - mn) / ((mx - mn) / 20)) AS BIGINT), " +
        "CAST(19 AS BIGINT)) END AS bucket FROM events, b) " +
        "GROUP BY bucket ORDER BY bucket"),

    Q("q_quantile_sketch",
      // Quantiles read off the 20-bucket histogram grid as a CDF — the
      // mergeable-sketch answer to percentiles at 100 TB: the grid is
      // 20 integers (mergeable by cell-wise sum, same as q_histogram),
      // and est(p) is the right edge of the first bucket whose
      // cumulative count reaches the target rank ceil(p*n/100),
      // computed with integer rank arithmetic and the same single
      // width division as q_histogram. The exact rank quantile (global
      // row_number — yardstick ONLY; the grid is the scale path) rides
      // along, so the bucket-resolution error is measured in-query.
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val bounds = ev.agg(min("value").as("mn"), max("value").as("mx"),
          count(lit(1)).as("n"))
        val hist = ev.select("value").crossJoin(broadcast(bounds))
          .select(when(col("mx") === col("mn"), lit(0L)).otherwise(least(
            floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / 20))
              .cast("long"), lit(19L))).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("nb"))
        val cum = hist.withColumn("cum",
          sum("nb").over(Window.orderBy("bucket")))
        val tgt = Seq(25L, 50L, 75L, 90L).toDF("p")
          .crossJoin(broadcast(bounds))
          .select(col("p"), expr("(p * n + 99) div 100").as("target"),
            col("mn"), col("mx"))
        val est = tgt.join(broadcast(cum), col("cum") >= col("target"))
          .groupBy("p", "target", "mn", "mx").agg(min("bucket").as("mb"))
          .select(col("p"), col("target"),
            (col("mn") + (col("mb") + 1) * ((col("mx") - col("mn")) / 20))
              .as("est"))
        // Exact side by TWO-PHASE rank selection, not a global
        // single-partition row_number over the full table: the bucket
        // histogram locates which bucket holds each target rank (bucket
        // is monotone in value, so global rank r = rank within the
        // first bucket whose cumulative count reaches r), and only THAT
        // bucket's rows are sorted. At 100 TB the sorted slice is ~1/20
        // of the data per target (recurse for tighter slices); the old
        // form ranked the whole table on one partition.
        val stamped = ev.select("value", "seq").crossJoin(broadcast(bounds))
          .select(col("value"), col("seq"),
            when(col("mx") === col("mn"), lit(0L)).otherwise(least(
              floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / 20))
                .cast("long"), lit(19L))).as("bucket"))
        val cumB = stamped.groupBy("bucket").agg(count(lit(1)).as("nb"))
          .withColumn("cum", sum("nb").over(Window.orderBy("bucket")))
          .withColumn("cum_before", col("cum") - col("nb"))
        val sel = tgt.select("p", "target")
          .join(broadcast(cumB), col("cum") >= col("target"))
          .groupBy("p", "target")
          .agg(min(struct(col("bucket"), col("cum_before"))).as("s"))
          .select(col("p"), col("s.bucket").as("tb"),
            (col("target") - col("s.cum_before")).as("wr"))
        val ex = stamped.join(broadcast(sel), col("bucket") === col("tb"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("p").orderBy("value", "seq")))
          .filter(col("rk") === col("wr"))
          .select(col("p"), col("value").as("exact"))
        est.join(ex, "p")
      },
      "WITH b AS (SELECT min(value) AS mn, max(value) AS mx, " +
        "CAST(count(*) AS BIGINT) AS n FROM events), " +
        "hist AS (SELECT CASE WHEN mx = mn THEN CAST(0 AS BIGINT) ELSE " +
        "least(CAST(floor((value - mn) / ((mx - mn) / 20)) AS BIGINT), " +
        "CAST(19 AS BIGINT)) END AS bucket FROM events, b), " +
        "hc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS nb FROM hist " +
        "GROUP BY bucket), " +
        "cum AS (SELECT bucket, sum(nb) OVER (ORDER BY bucket) AS cum FROM hc), " +
        "qs AS (SELECT CAST(unnest([25, 50, 75, 90]) AS BIGINT) AS p), " +
        "tgt AS (SELECT p, (p * n + 99) // 100 AS target FROM qs, b), " +
        "est AS (SELECT t.p, t.target, min(c.bucket) AS mb FROM tgt t " +
        "JOIN cum c ON c.cum >= t.target GROUP BY t.p, t.target), " +
        "ranked AS (SELECT value, row_number() OVER (ORDER BY value, event_id) " +
        "AS rk FROM events), " +
        "ex AS (SELECT t.p, r.value AS exact FROM tgt t JOIN ranked r " +
        "ON r.rk = t.target) " +
        "SELECT e.p, e.target, mn + (e.mb + 1) * ((mx - mn) / 20) AS est, " +
        "x.exact FROM est e JOIN ex x ON e.p = x.p, b ORDER BY e.p"),

    Q("q_props_stats",
      // Typed extraction from the JSON props column (the schemaless
      // side-channel every event pipeline carries): one projection
      // parses k out, one tiny groupBy aggregates it — integer sums,
      // exact. get_json_object / json_extract_string agree on scalar
      // extraction.
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k, " +
        "CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k, " +
        "CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k " +
        "FROM events GROUP BY event_type ORDER BY event_type"),

    Q("q_abtest",
      // Two-proportion A/B evaluation, INTEGER-exact: users split by
      // the deterministic assignment user_id % 2, outcome = converted
      // (has a purchase). The pooled two-proportion z-test at 2σ is
      // cross-multiplied to (c1·n2 − c2·n1)²·N > 4·n1·n2·C·(N − C)
      // (N = n1+n2, C = c1+c2) so no division or sqrt appears and both
      // engines agree bit-for-bit. (Near 2^63 the production form
      // compares the two sides as doubles — same plan.) Shape: one
      // per-user aggregate, one 2-row groupBy, one broadcast pivot row.
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("conv"))
          .withColumn("variant", col("user_id") % 2)
        val g = u.groupBy("variant")
          .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
        g.agg(
            min(when(col("variant") === 0, col("n"))).as("n_a"),
            min(when(col("variant") === 0, col("c"))).as("c_a"),
            min(when(col("variant") === 1, col("n"))).as("n_b"),
            min(when(col("variant") === 1, col("c"))).as("c_b"))
          .withColumn("significant",
            expr("(c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a) * (n_a + n_b) > " +
              "4 * n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b)"))
      },
      "WITH u AS (SELECT user_id, max(CASE WHEN event_type = 'purchase' " +
        "THEN 1 ELSE 0 END) AS conv FROM events GROUP BY user_id), " +
        "g AS (SELECT user_id % 2 AS variant, count(*) AS n, " +
        "CAST(sum(conv) AS BIGINT) AS c FROM u GROUP BY variant), " +
        "p AS (SELECT min(CASE WHEN variant = 0 THEN n END) AS n_a, " +
        "min(CASE WHEN variant = 0 THEN c END) AS c_a, " +
        "min(CASE WHEN variant = 1 THEN n END) AS n_b, " +
        "min(CASE WHEN variant = 1 THEN c END) AS c_b FROM g) " +
        "SELECT n_a, c_a, n_b, c_b, " +
        "(c_a * n_b - c_b * n_a) * (c_a * n_b - c_b * n_a) * (n_a + n_b) > " +
        "4 * n_a * n_b * (c_a + c_b) * (n_a + n_b - c_a - c_b) AS significant " +
        "FROM p"),

    Q("q_anomaly_mad",
      // Robust companion to q_anomaly_days: median absolute deviation
      // replaces μ/σ, so one crazy day cannot inflate the threshold
      // that should have flagged it (the masking failure of
      // moment-based detectors). Integer-exact throughout: lower-median
      // rank selection for med and MAD, and the normal-consistency
      // 3σ-equivalent test |x − med|·10000 > 44478·mad (3·1.4826
      // scaled to ppm) cross-multiplied so no division, sqrt or double
      // appears. MAD = 0 (over half the days at the median) flags any
      // deviation — the standard MAD caveat, intended. Two keyed rank
      // windows + two broadcast per-type tables.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dc = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
        val wP = Window.partitionBy("event_type")
        val w1 = wP.orderBy("n_events", "day")
        val med = dc
          .withColumn("rn", row_number().over(w1))
          .withColumn("dd", count(lit(1)).over(wP))
          .filter(col("rn") === expr("(dd + 1) div 2"))
          .select(col("event_type"), col("n_events").as("med"))
        val dev = dc.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("n_events") - col("med")))
        val w2 = wP.orderBy("dev", "day")
        val mad = dev
          .withColumn("rn", row_number().over(w2))
          .withColumn("dd", count(lit(1)).over(wP))
          .filter(col("rn") === expr("(dd + 1) div 2"))
          .select(col("event_type"), col("dev").as("mad"))
        dev.join(broadcast(mad), "event_type")
          .withColumn("is_anomaly", col("dev") * 10000 > col("mad") * 44478)
          .select("event_type", "day", "n_events", "med", "mad", "is_anomaly")
      },
      "WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
        "count(*) AS n_events FROM events GROUP BY event_type, day), " +
        "m AS (SELECT event_type, n_events AS med FROM " +
        "(SELECT event_type, n_events, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY n_events, day) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS dd FROM dc) " +
        "WHERE rn = (dd + 1) // 2), " +
        "dev AS (SELECT dc.event_type, day, n_events, med, " +
        "abs(n_events - med) AS dev FROM dc JOIN m ON dc.event_type = m.event_type), " +
        "md AS (SELECT event_type, dev AS mad FROM " +
        "(SELECT event_type, dev, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY dev, day) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS dd FROM dev) " +
        "WHERE rn = (dd + 1) // 2) " +
        "SELECT dev.event_type, day, n_events, med, mad, " +
        "dev * 10000 > mad * 44478 AS is_anomaly FROM dev " +
        "JOIN md ON dev.event_type = md.event_type ORDER BY dev.event_type, day"),

    Q("q_anomaly_days",
      // Daily-volume anomaly detection per event_type, INTEGER-exact:
      // a (type, day) cell is anomalous iff |x − μ| > 2σ over that
      // type's daily counts, tested as (x·D − S)² > 4·(D·Q − S²) with
      // D = days, S = Σx, Q = Σx² — the z-score inequality cross-
      // multiplied so no division or sqrt ever happens and both engines
      // agree bit-for-bit. Shape: one (type, day) groupBy, one ~|types|
      // -row stats aggregate broadcast back — the daily data-quality
      // monitor over an event stream. (At extreme counts the integer
      // squares near 2^63 — the production form keeps the same plan and
      // compares the two sides as doubles.)
      (s, d) => {
        val dc = Tables.events(s, d)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
        val st = dc.groupBy("event_type").agg(
          count(lit(1)).as("nd"), sum("n_events").as("sv"),
          sum(col("n_events") * col("n_events")).as("qv"))
        val dev = col("n_events") * col("nd") - col("sv")
        dc.join(broadcast(st), "event_type")
          .withColumn("is_anomaly",
            dev * dev > lit(4L) * (col("nd") * col("qv") - col("sv") * col("sv")))
          .select("event_type", "day", "n_events", "is_anomaly")
      },
      "WITH dc AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd, " +
        "CAST(sum(n) AS BIGINT) AS sv, CAST(sum(n*n) AS BIGINT) AS qv " +
        "FROM dc GROUP BY 1) " +
        "SELECT event_type, day, n AS n_events, " +
        "(n*nd - sv)*(n*nd - sv) > 4*(nd*qv - sv*sv) AS is_anomaly " +
        "FROM dc JOIN st USING (event_type) ORDER BY event_type, day"),

    Q("q_markov",
      // First-order Markov transition matrix over per-user event
      // sequences (the session-model / next-action-prediction
      // estimator): count every (from_type → to_type) adjacency in seq
      // order, then row-normalize. ONE keyed window (lead over user_id)
      // + one pair groupBy; n and n_from are exact BIGINTs and the
      // probability is a single int/int IEEE division — deterministic.
      (s, d) => {
        val e = EventQueries.ev(s, d).df
          .select("user_id", "seq", "event_type")
        val t = e.withColumn("to_type", lead(col("event_type"), 1).over(
            Window.partitionBy("user_id").orderBy("seq")))
          .filter(col("to_type").isNotNull)
        t.groupBy(col("event_type").as("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("n_from",
            sum(col("n")).over(Window.partitionBy("from_type")))
          .withColumn("p", col("n").cast("double") / col("n_from").cast("double"))
      },
      EventQueries.EV + ", " +
        "t AS (SELECT event_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY seq) AS to_type FROM ev), " +
        "c AS (SELECT event_type AS from_type, to_type, " +
        "CAST(count(*) AS BIGINT) AS n FROM t WHERE to_type IS NOT NULL " +
        "GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, " +
        "CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from, " +
        "CAST(n AS DOUBLE) / CAST(CAST(sum(n) OVER (PARTITION BY from_type) " +
        "AS BIGINT) AS DOUBLE) AS p " +
        "FROM c ORDER BY from_type, to_type"),

    Q("q_retention",
      // Cohort retention: users bucketed by the week of their FIRST
      // event, counted once per (cohort, weeks-since) they were active
      // in. Weeks are integer division of epoch microseconds — no
      // calendar functions, so both engines agree exactly. Shape: one
      // min-aggregate per user, one distinct (user, week) projection,
      // one keyed join on user_id, one tiny groupBy.
      (s, d) => {
        val wk = 604800000000L // 7 days in µs
        val e = Tables.events(s, d)
          .select(col("user_id"),
            expr(s"unix_micros(ts) div $wk").as("week"))
        val cohort = e.groupBy("user_id").agg(min("week").as("cohort_week"))
        e.distinct().join(cohort, "user_id")
          .select(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .groupBy("cohort_week", "week_offset")
          .agg(count(lit(1)).as("n_users"))
      },
      "WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events), " +
        "c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id) " +
        "SELECT cohort_week, week - cohort_week AS week_offset, " +
        "CAST(count(*) AS BIGINT) AS n_users " +
        "FROM e JOIN c USING (user_id) " +
        "GROUP BY cohort_week, week_offset ORDER BY cohort_week, week_offset"),

    Q("q_funnel",
      // Sequential conversion funnel over the events stream: first
      // signup → first view strictly after it (within 24 h) → first
      // purchase strictly after that (within 24 h), per user; output is
      // the step counts + conversion rates. Time lives in integer
      // MICROSECONDS on both engines (unix_micros / epoch_us — the
      // fixture's nanos truncate identically), so every comparison is
      // integer-exact. Scale shape: three filtered min-aggregates
      // chained by user_id equi-joins — all co-partitioned on the user
      // key, no window over the full stream, no self cross term; the
      // final counts are three 1-row aggregates.
      (s, d) => {
        val h = 86400000000L // 24 h in µs
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tu"))
        val s1 = e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("tu").as("t1"))
        val s2 = e.filter(col("event_type") === "view").join(s1, "user_id")
          .filter(col("tu") > col("t1") && col("tu") <= col("t1") + h)
          .groupBy("user_id").agg(min("tu").as("t2"))
        val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
          .filter(col("tu") > col("t2") && col("tu") <= col("t2") + h)
          .groupBy("user_id").agg(min("tu").as("t3"))
        s1.agg(count(lit(1)).as("n_signup"))
          .crossJoin(s2.agg(count(lit(1)).as("n_view_24h")))
          .crossJoin(s3.agg(count(lit(1)).as("n_purchase_24h")))
          .withColumn("view_rate",
            col("n_view_24h").cast("double") / col("n_signup").cast("double"))
          .withColumn("purchase_rate",
            col("n_purchase_24h").cast("double") / col("n_view_24h").cast("double"))
      },
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu FROM events), " +
        "s1 AS (SELECT user_id, min(tu) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(tu) AS t2 FROM e JOIN s1 USING (user_id) " +
        "WHERE event_type = 'view' AND tu > t1 AND tu <= t1 + 86400000000 GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(tu) AS t3 FROM e JOIN s2 USING (user_id) " +
        "WHERE event_type = 'purchase' AND tu > t2 AND tu <= t2 + 86400000000 GROUP BY e.user_id), " +
        "c1 AS (SELECT CAST(count(*) AS BIGINT) AS n_signup FROM s1), " +
        "c2 AS (SELECT CAST(count(*) AS BIGINT) AS n_view_24h FROM s2), " +
        "c3 AS (SELECT CAST(count(*) AS BIGINT) AS n_purchase_24h FROM s3) " +
        "SELECT n_signup, n_view_24h, n_purchase_24h, " +
        "CAST(n_view_24h AS DOUBLE) / CAST(n_signup AS DOUBLE) AS view_rate, " +
        "CAST(n_purchase_24h AS DOUBLE) / CAST(n_view_24h AS DOUBLE) AS purchase_rate " +
        "FROM c1, c2, c3"),

    Q("q_pagerank",
      // Fixed-point integer PageRank (3 iterations, damping 85/100)
      // over the customer→supplier trade graph — the domain-authority
      // weighting pass of a crawl-curation pipeline, exact in long
      // arithmetic so engines/partitionings/retries agree bit-for-bit.
      // Node ids namespace the bipartite sides: cust·2 / supp·2+1.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.engine.PageRank.run(e, "src", "dst", iters = 3)
      },
      "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, " +
        "l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "nodes AS MATERIALIZED (SELECT src AS node FROM e " +
        "UNION SELECT dst FROM e), " +
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg " +
        "FROM e GROUP BY src), " +
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
        "r0 AS MATERIALIZED (SELECT node, 1000000000000 // n AS pr " +
        "FROM nodes CROSS JOIN nn), " +
        (1 to 3).map(prIter).mkString(", ") + " " +
        "SELECT node, CAST(pr AS BIGINT) AS pr FROM r3 ORDER BY node"),

    Q("q_gen_source",
      // The graft-events DataSource V2 end-to-end: a seq-band probe is
      // pushed INTO the source (accepted filters narrow the generated
      // range; partitions outside the band are never planned — the DSv2
      // analogue of row-group skipping), and the aggregate runs over
      // rows the source generated deterministically. The oracle
      // REGENERATES the identical table from the published integer
      // formulas — no parquet in common, only math.
      (s, d) => s.read.format("graft-events")
        .option("rows", "50000").option("partitions", "8").load()
        .filter(col("seq") >= 10000 && col("seq") < 40000)
        .groupBy("type_id")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          countDistinct(col("user_id")).as("n_users")),
      "WITH g AS (SELECT seq, " +
        "((seq * 2654435761 + 104729) % 1000003) % 1000 AS user_id, " +
        "((seq * 40503 + 17) % 97) % 5 AS type_id, " +
        "(seq * 31 + 7) % 100000 AS cents " +
        "FROM range(10000, 40000) t(seq)) " +
        "SELECT type_id, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS sum_cents, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM g GROUP BY type_id ORDER BY type_id"),

    Q("q_pagerank_weighted",
      // Weighted PageRank: damped mass splits over out-edges by TRADE
      // INTENSITY (lineitem multiplicity of each cust→supp pair), not
      // uniformly — a high-volume supplier outranks an incidental one.
      // Duplicate edge rows sum their weights inside the engine, so the
      // raw join IS the weighted edge list. Same fixed-point floors.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .withColumn("w", lit(1L))
        graft.engine.PageRank.runWeighted(e, "src", "dst", "w", iters = 3)
      },
      "WITH e AS MATERIALIZED (SELECT o_custkey * 2 AS src, " +
        "l_suppkey * 2 + 1 AS dst, CAST(count(*) AS BIGINT) AS w " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1, 2), " +
        "nodes AS MATERIALIZED (SELECT src AS node FROM e " +
        "UNION SELECT dst FROM e), " +
        "deg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS outw " +
        "FROM e GROUP BY src), " +
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
        "r0 AS MATERIALIZED (SELECT node, 1000000000000 // n AS pr " +
        "FROM nodes CROSS JOIN nn), " +
        (1 to 3).map(prIterW).mkString(", ") + " " +
        "SELECT node, CAST(pr AS BIGINT) AS pr FROM r3 ORDER BY node"),

    Q("q_hits",
      // HITS hubs/authorities (Kleinberg JACM'99), L1-normalized
      // fixed-point integer form — the right ranking for the BIPARTITE
      // trade graph, where PageRank's single score conflates roles:
      // customers are hubs (good because they buy from good suppliers),
      // suppliers are authorities. 3 mutual-recursion rounds, every
      // division a floor over Longs — bit-exact across engines. The
      // scale is CORPUS-DERIVED (Hits.scaleFor / sqlHitsScale — same
      // doubling ladder both sides): a pinned 10^6 died at the sf10
      // rung's 1.6M nodes.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.engine.Hits.run(e, "src", "dst", iters = 3)
      },
      "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, " +
        "l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "nodes AS MATERIALIZED (SELECT src AS node FROM e " +
        "UNION SELECT dst FROM e), " +
        s"$sqlHitsScale, " +
        // uniform UNIT start mass (floor division is invariant under a
        // uniform rescaling of the start mass — same rows as hub=scale)
        "r0 AS MATERIALIZED (SELECT node, CAST(1 AS BIGINT) AS hub, " +
        "CAST(0 AS BIGINT) AS auth FROM nodes), " +
        (1 to 3).map(hitsIter).mkString(", ") + " " +
        "SELECT node, CAST(hub AS BIGINT) AS hub, CAST(auth AS BIGINT) AS auth " +
        "FROM r3 ORDER BY node"),

    Q("q_pagerank_seeded",
      // Personalized PageRank (Haveliwala, WWW'02): teleport + dangling
      // mass restart ONLY at seed nodes — the five lowest supplier ids,
      // a stand-in trusted list that is non-empty at every SF — so rank
      // measures proximity to the trusted seeds (the "expand from a
      // trusted domain list" primitive of crawl curation). Same
      // fixed-point integer recursion as q_pagerank, bit-exact.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        val seeds = Tables.supplier(s, d).filter(col("s_suppkey") <= 5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
        graft.engine.PageRank.runPersonalized(e, "src", "dst", seeds, iters = 3)
      },
      "WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src, " +
        "l_suppkey * 2 + 1 AS dst FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "sd AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node " +
        "FROM supplier WHERE s_suppkey <= 5), " +
        "nodes AS MATERIALIZED (SELECT node, " +
        "(node IN (SELECT node FROM sd)) AS is_seed FROM " +
        "(SELECT src AS node FROM e UNION SELECT dst FROM e)), " +
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg " +
        "FROM e GROUP BY src), " +
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS ns " +
        "FROM nodes WHERE is_seed), " +
        "r0 AS MATERIALIZED (SELECT node, is_seed, " +
        "CASE WHEN is_seed THEN 1000000000000 // ns ELSE 0 END AS pr " +
        "FROM nodes CROSS JOIN nn), " +
        (1 to 3).map(prIterP).mkString(", ") + " " +
        "SELECT node, CAST(pr AS BIGINT) AS pr FROM r3 ORDER BY node"),

    Q("q_bfs_hops",
      // Multi-source BFS hop distance (TrustRank-style distance gate):
      // how many trade hops separate every node of the customer↔supplier
      // graph from a trusted seed list (the five lowest supplier ids)?
      // Frontier expansion — one co-partitioned join + one dst-dedup
      // exchange per hop — 3 hops; dist is exact integer hops, null if
      // unreached. The curation use: keep/weight documents within k
      // hops of vetted domains.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        val seeds = Tables.supplier(s, d).filter(col("s_suppkey") <= 5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
        graft.engine.Bfs.run(e, seeds, maxHops = 3)
      },
      "WITH raw AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS u, " +
        "l_suppkey * 2 + 1 AS v FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "e AS MATERIALIZED (SELECT u AS src, v AS dst FROM raw " +
        "UNION SELECT v, u FROM raw), " +
        "sd AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node " +
        "FROM supplier WHERE s_suppkey <= 5), " +
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e), " +
        "r0 AS MATERIALIZED (SELECT n.node, " +
        "CAST(CASE WHEN s.node IS NOT NULL THEN 0 END AS BIGINT) AS dist " +
        "FROM nodes n LEFT JOIN sd s USING (node)), " +
        (1 to 3).map(bfsIter).mkString(", ") + " " +
        "SELECT node, dist FROM r3 ORDER BY node"),

    Q("q_kcore",
      // 8-core of the trade graph by iterative peeling (Seidman 1983):
      // drop every node with fewer than 8 surviving trade partners,
      // cascade, report survivors with their in-core degree — the
      // dense-community / link-farm signal next to PageRank's authority
      // and the triangle density. 3 rounds (fixture converges in 2;
      // the third proves the fixpoint). Per round: one degree
      // partial-agg + two survivor semi-joins, work shrinking with the
      // surviving edge cut.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
        graft.engine.KCore.run(e, k = 8, rounds = 3)
      },
      "WITH raw AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS u, " +
        "l_suppkey * 2 + 1 AS v FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM raw " +
        "UNION SELECT v, u FROM raw), " +
        (1 to 3).map(kcoreIter(_, 8)).mkString(", ") + " " +
        "SELECT src AS node, count(*) AS d FROM e3 " +
        "GROUP BY src ORDER BY node"),

    Q("q_sssp",
      // Weighted shortest paths (Bellman-Ford, 3 relaxation rounds):
      // cheapest trade route from the trusted seed suppliers, edge cost
      // = the pair's trade multiplicity (a congestion reading), graph
      // symmetrized so multi-hop routes exist. Exact Long distances;
      // null = no route within 3 edges. The weighted companion of
      // q_bfs_hops: hops answer "how far", this answers "how costly".
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        val ew = l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("o_custkey") * 2).as("u"),
            (col("l_suppkey") * 2 + 1).as("v"))
          .agg(count(lit(1)).as("w"))
        val sym = ew.select(col("u").as("src"), col("v").as("dst"), col("w"))
          .unionByName(ew.select(col("v").as("src"), col("u").as("dst"), col("w")))
        val seeds = Tables.supplier(s, d).filter(col("s_suppkey") <= 5)
          .select((col("s_suppkey") * 2 + 1).as("node"))
        graft.engine.Sssp.run(sym, seeds, rounds = 3)
      },
      "WITH ew AS MATERIALIZED (SELECT o_custkey * 2 AS u, " +
        "l_suppkey * 2 + 1 AS v, CAST(count(*) AS BIGINT) AS w " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1, 2), " +
        "e AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM ew " +
        "UNION ALL SELECT v, u, w FROM ew), " +
        "sd AS MATERIALIZED (SELECT DISTINCT s_suppkey * 2 + 1 AS node " +
        "FROM supplier WHERE s_suppkey <= 5), " +
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e), " +
        "r0 AS MATERIALIZED (SELECT n.node, " +
        "CAST(CASE WHEN s.node IS NOT NULL THEN 0 END AS BIGINT) AS dist " +
        "FROM nodes n LEFT JOIN sd s USING (node)), " +
        (1 to 3).map(ssspIter).mkString(", ") + " " +
        "SELECT node, dist FROM r3 ORDER BY node"),

    Q("q_graph_curation",
      // Composed graph-curation pass — the chain a crawl pipeline runs
      // as ONE job: build the trade graph, PEEL to the 8-core (drop the
      // sparse spam periphery), then rank the surviving dense core with
      // fixed-point PageRank and keep the top 20 authorities. Each
      // stage is the audited standalone shape (q_kcore, q_pagerank);
      // composing them stays declarative — the core's node set
      // restricts the directed edges via two semi-joins, no driver
      // materialization between stages.
      (s, d) => {
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
        // materialize the trade-edge build ONCE: both engines
        // canonicalize their input, and the PageRank stage's coreE
        // additionally references e under two semi-joins — without the
        // pin the orders⋈lineitem join executes once per consumer
        // (Spark has no cross-reference CSE; the q_triangles lesson).
        // LAZY (r15 setup fusion): the first consumer — k-core's sizing
        // count — materializes it; no separate persist job, no
        // broadcast fan-out over it (the ckptFreshLazy caveat)
        val e = graft.engine.StaticPlan.ckptFreshLazy(
          l.join(o, col("l_orderkey") === col("o_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst")))
        val core = graft.engine.KCore.run(e, k = 8, rounds = 2)
          .select("node")
        val coreE = e
          .join(core.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi")
        val ranks = graft.engine.PageRank.run(coreE, "src", "dst", iters = 2)
          .orderBy(col("pr").desc, col("node")).limit(20)
        graft.engine.Checkpoints.release(e)
        ranks
      },
      "WITH raw AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS u, " +
        "l_suppkey * 2 + 1 AS v FROM orders JOIN lineitem " +
        "ON o_orderkey = l_orderkey), " +
        "ke0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM raw " +
        "UNION SELECT v, u FROM raw), " +
        (1 to 2).map { r =>
          s"kd$r AS MATERIALIZED (SELECT src, count(*) AS d FROM ke${r - 1} " +
            s"GROUP BY src), " +
            s"kk$r AS MATERIALIZED (SELECT src AS node FROM kd$r WHERE d >= 8), " +
            s"ke$r AS MATERIALIZED (SELECT e.src, e.dst FROM ke${r - 1} e " +
            s"JOIN kk$r a ON e.src = a.node JOIN kk$r b ON e.dst = b.node)"
        }.mkString(", ") + ", " +
        "surv AS MATERIALIZED (SELECT DISTINCT src AS node FROM ke2), " +
        "e AS MATERIALIZED (SELECT r.u AS src, r.v AS dst FROM raw r " +
        "JOIN surv a ON r.u = a.node JOIN surv b ON r.v = b.node), " +
        "nodes AS MATERIALIZED (SELECT src AS node FROM e " +
        "UNION SELECT dst FROM e), " +
        "deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS outdeg " +
        "FROM e GROUP BY src), " +
        "nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
        "r0 AS MATERIALIZED (SELECT node, 1000000000000 // n AS pr " +
        "FROM nodes CROSS JOIN nn), " +
        (1 to 2).map(prIter).mkString(", ") + " " +
        "SELECT node, CAST(pr AS BIGINT) AS pr FROM r2 " +
        "ORDER BY pr DESC, node LIMIT 20"),

    Q("q_scd2",
      // Slowly-changing-dimension type-2 merge (Kimball): a CDC batch
      // of new segment labels — derived from 1997 order activity —
      // lands on the customer dimension; changed keys close their old
      // validity interval at the effective date and open a new current
      // row, no-op updates (already-MACHINERY keys drawing a MACHINERY
      // update) create NO new version. One broadcast join, the two
      // rows of a changed key from a single array+explode.
      (s, d) => {
        val cur = Tables.customer(s, d).select(
          col("c_custkey").as("k"), col("c_mktsegment").as("segment"),
          lit("1992-01-01").cast("date").as("valid_from"),
          lit(null).cast("date").as("valid_to"))
        val u = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .groupBy(col("o_custkey").as("k"))
          .agg(count(lit(1)).as("n"),
            max(to_date(col("o_orderdate"))).as("eff"))
          .select(col("k"),
            when(col("n") % 5 === 0, lit("MACHINERY"))
              .otherwise(lit("PREMIUM")).as("segment"),
            col("eff"))
        graft.engine.Scd2.merge(cur, u, "k", Seq("segment"), "eff")
      },
      "WITH cur AS (SELECT c_custkey AS k, c_mktsegment AS segment, " +
        "DATE '1992-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to " +
        "FROM customer), " +
        "u AS (SELECT o_custkey AS k, " +
        "CASE WHEN count(*) % 5 = 0 THEN 'MACHINERY' ELSE 'PREMIUM' END AS nseg, " +
        "max(CAST(o_orderdate AS DATE)) AS eff FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01' GROUP BY o_custkey), " +
        "j AS MATERIALIZED (SELECT cur.k, cur.segment, cur.valid_from, " +
        "cur.valid_to, u.nseg, u.eff FROM cur LEFT JOIN u USING (k)) " +
        "SELECT k, segment, valid_from, valid_to FROM j " +
        "WHERE eff IS NULL OR nseg = segment " +
        "UNION ALL SELECT k, segment, valid_from, eff AS valid_to FROM j " +
        "WHERE eff IS NOT NULL AND nseg <> segment " +
        "UNION ALL SELECT k, nseg AS segment, eff AS valid_from, " +
        "CAST(NULL AS DATE) AS valid_to FROM j " +
        "WHERE eff IS NOT NULL AND nseg <> segment " +
        // whenNotMatched insert branch (0 rows on TPC-H data — every
        // order's custkey exists in customer — but the engine inserts
        // unmatched update keys, so the oracle must too)
        "UNION ALL SELECT u.k, u.nseg AS segment, u.eff AS valid_from, " +
        "CAST(NULL AS DATE) AS valid_to FROM u ANTI JOIN cur USING (k) " +
        "ORDER BY k, valid_from"),

    Q("q_zorder",
      // Z-order (Morton) clustering key over (l_partkey, l_suppkey),
      // bucketed by the curve's top bits: each bucket's min/max box is
      // TIGHT in both dimensions — the property parquet footer stats
      // exploit to skip files for predicates on either column
      // (Delta/Iceberg ZORDER). Pure long shifts/masks, bit-identical
      // in any 64-bit engine; the layout itself ships as
      // Sinks.clusteredWrite(sortCols = z).
      (s, d) => {
        val l = Tables.lineitem(s, d).select(
          col("l_partkey").cast("long").as("x"),
          col("l_suppkey").cast("long").as("y"))
        l.withColumn("z", graft.functions.ZOrder.morton2(col("x"), col("y")))
          .withColumn("bz", expr("z div 2097152"))
          .groupBy("bz")
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
      },
      "WITH b AS (SELECT CAST(l_partkey AS BIGINT) AS x, " +
        "CAST(l_suppkey AS BIGINT) AS y FROM lineitem), " +
        s"zc AS (SELECT x, y, ${graft.functions.ZOrder.sqlMorton2("x", "y")} AS z FROM b) " +
        "SELECT z // 2097152 AS bz, count(*) AS n, " +
        "min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y " +
        "FROM zc GROUP BY bz ORDER BY bz"),

    Q("q_triangles",
      // Degree-oriented triangle count + local clustering coefficient
      // (Suri & Vassilvitskii, WWW'11) over the order co-purchase graph
      // (orders linked by a shared part; parts in more than 25 orders
      // excluded as promiscuous hubs — an EXPLICIT predicate, mirrored
      // in the oracle, not a silent cap). How cliquish is the affinity
      // graph — chains or communities? Orientation by (degree, id)
      // bounds the wedge fanout at O(sqrt(m)) per node, so the O(m^1.5)
      // wedge join spreads evenly instead of piling on hub reducers.
      // cc is integer operands with ONE final division — hash-exact.
      (s, d) => {
        // repartition(p) + partition-local dedup: ONE shuffle, and the
        // self-join below is then co-partitioned on p — no re-exchange
        val po = Tables.lineitem(s, d)
          .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
          .repartition(col("p")).dropDuplicates("p", "o")
        val keep = po.groupBy("p").agg(count(lit(1)).as("c"))
          .filter(col("c") <= 25).select("p")
        val ed = po.join(broadcast(keep), "p")
          .join(po.withColumnRenamed("o", "o2"), "p")
          .filter(col("o") < col("o2"))
          .select(col("o"), col("o2"))
        graft.engine.Triangles.clusteringCoeff(ed)
      },
      "WITH po AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, " +
        "l_orderkey AS o FROM lineitem), " +
        "keep AS MATERIALIZED (SELECT p FROM po GROUP BY p " +
        "HAVING count(*) <= 25), " +
        "ed AS MATERIALIZED (SELECT DISTINCT a.o AS u, b.o AS v " +
        "FROM po a JOIN keep USING (p) JOIN po b USING (p) WHERE a.o < b.o), " +
        "deg AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS d " +
        "FROM (SELECT u AS node FROM ed UNION ALL SELECT v FROM ed) " +
        "GROUP BY node), " +
        "o AS MATERIALIZED (SELECT " +
        "CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS src, " +
        "CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS dst, " +
        "CASE WHEN (da.d, e.u) < (db.d, e.v) THEN db.d ELSE da.d END AS dd " +
        "FROM ed e JOIN deg da ON da.node = e.u JOIN deg db ON db.node = e.v), " +
        "tri AS MATERIALIZED (SELECT o1.src AS x, o1.dst AS y, o2.dst AS z " +
        "FROM o o1 JOIN o o2 ON o1.src = o2.src " +
        "AND (o1.dd, o1.dst) < (o2.dd, o2.dst) " +
        "JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst), " +
        "corners AS MATERIALIZED (SELECT node, CAST(count(*) AS BIGINT) AS tri " +
        "FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri " +
        "UNION ALL SELECT z FROM tri) GROUP BY node) " +
        "SELECT node, d, coalesce(tri, 0) AS tri, " +
        "CASE WHEN d >= 2 THEN CAST(coalesce(tri, 0) * 2 AS DOUBLE) / " +
        "CAST(d * (d - 1) AS DOUBLE) ELSE 0.0 END AS cc " +
        "FROM deg LEFT JOIN corners USING (node) ORDER BY node"),

    Q("q_profile_strings",
      // The string half of the data-quality gate: per VARCHAR column of
      // documents — rows, nulls, empties, exact NDV, lexicographic
      // min/max, total and max length — from ONE aggregation (same
      // explode-after-agg shape as q_profile). All metrics exact
      // BIGINTs/strings.
      (s, d) => graft.sources.Profiler.profileStrings(
        graft.Tables.documents(s, d), Seq("lang", "source", "text")),
      Seq("lang", "source", "text").map(c =>
        s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(count(*) - count(x) AS BIGINT) AS n_null, " +
          s"CAST(coalesce(sum(CASE WHEN x = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_empty, " +
          s"CAST(count(DISTINCT x) AS BIGINT) AS ndv, " +
          s"min(x) AS min_v, max(x) AS max_v, " +
          s"CAST(coalesce(sum(coalesce(len(x), 0)), 0) AS BIGINT) AS sum_len, " +
          s"CAST(coalesce(max(coalesce(len(x), 0)), 0) AS BIGINT) AS max_len " +
          s"FROM (SELECT CAST($c AS VARCHAR) AS x FROM documents)")
        .mkString("", " UNION ALL ", " ORDER BY col_name")),

    Q("q_profile",
      // Single-pass data-quality profile (the Deequ shape): per numeric
      // column of lineitem — rows, nulls, exact NDV, min, max — from
      // ONE aggregation over the table (per-column metric structs
      // exploded after the agg; the exact multi-distinct goes through
      // Expand with map-side partial aggregation). Values normalized to
      // DOUBLE: exact for BIGINTs below 2^53 and for parquet doubles,
      // so the profile row type is uniform and hash-exact.
      (s, d) => graft.sources.Profiler.profile(
        Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_tax")),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, " +
          s"CAST(count(*) - count(x) AS BIGINT) AS n_null, " +
          s"CAST(count(DISTINCT x) AS BIGINT) AS ndv, " +
          s"min(x) AS min_v, max(x) AS max_v " +
          s"FROM (SELECT CAST($c AS DOUBLE) AS x FROM lineitem)")
        .mkString("", " UNION ALL ", " ORDER BY col_name"))
  )

  lazy val queries: Map[String, QFn] = qs.map(q => q.name -> q.fn).toMap
  lazy val oracle: Map[String, String] = qs.map(q => q.name -> q.sql).toMap
}
