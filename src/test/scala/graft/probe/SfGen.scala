package graft.probe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1-scale fixture generator (r10 verdict #5): writes a
  * 10× (arg-selectable) scale-up of the sf0.1 fixtures to
  * /tmp/sf{S}/<table>.parquet so the registry tail can run against a
  * REAL persisted fixture family instead of in-memory perturbation
  * unions. Recipes:
  *  - embeddings: per-copy deterministic component jitter —
  *    copies are near the base geometry but not identical, ids shifted;
  *  - documents: per-copy word-prefix tag — trigram
  *    structure inside a copy mirrors the base, copies share nothing;
  *    n_chars recomputed over the perturbed text;
  *  - orders/lineitem: disjoint key-shifted copies (order/cust/supp/part
  *    keys shifted by copy × max+1) — the trade graph becomes s
  *    disjoint copies of the base graph, per-copy structure identical;
  *  - events and the small dimensions copy through verbatim.
  * Everything is a pure function of (base row, copy index) — re-running
  * reproduces byte-identical fixtures. */
object SfGen {
  def main(args: Array[String]): Unit = {
    val s = if (args.nonEmpty) args(0).toInt else 10
    val outDir = if (args.length > 1) args(1) else s"/tmp/sf1"
    val srcDir = "/root/testdata/sf0.1"
    val spark = DevSession()

    def copies(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until s).map(k => if (k == 0) base else f(base, k))
        .reduce(_.unionByName(_))

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(32).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"wrote $name: " +
        spark.read.parquet(s"$outDir/$name.parquet").count())
    }

    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val nV = emb.agg(max("vec_id")).head().getLong(0) + 1

    // "clustered" mode (r13 verdict stretch): SfGen's jittered copies
    // stay near-isotropic, so k-means cells come out roughly even and
    // the cellCap / AQE-skew story was only provable as a no-op. This
    // mode writes ONLY the embeddings table, with 30% of vectors
    // COLLAPSED onto one fixed anchor vector (+ a tiny per-id jitter so
    // they are near-dups, not exact dups): any data-derived IVF puts
    // ~0.3·n members in one mega-cell at every scale — the Zipf-head
    // shape real embedding corpora have (templated pages, dup images) —
    // so the uncapped in-cell term is (0.3n)² while a binding cellCap
    // holds it at 0.3n·cap. Deterministic: anchor = the base corpus's
    // vec_id-0 embedding; membership = vec_id % 10 < 3.
    val clustered = args.length > 2 && args(2) == "clustered"
    if (clustered) {
      val anchor = emb.filter(col("vec_id") === 0L)
        .head().getSeq[Float](1).toArray
      val anchorSql = anchor.map(f => s"cast($f as float)")
        .mkString("array(", ", ", ")")
      write(copies(emb) { (b, k) =>
        b.select((col("vec_id") + lit(k * nV)).as("vec_id"),
          expr(s"transform(embedding, (x, d) -> x + " +
            s"cast(((vec_id * 31 + $k * 17 + d * 5) % 7 - 3) as float) * 0.05f)")
            .as("embedding"),
          col("label"))
      }.select(col("vec_id"),
        when(col("vec_id") % 10 < 3,
          expr(s"transform($anchorSql, (a, d) -> a + " +
            "cast((vec_id * 13 + d * 7) % 9 - 4 as float) * 0.01f)"))
          .otherwise(col("embedding")).as("embedding"),
        col("label")), "embeddings")
      spark.stop(); return
    }

    write(copies(emb) { (b, k) =>
      b.select((col("vec_id") + lit(k * nV)).as("vec_id"),
        expr(s"transform(embedding, (x, d) -> x + " +
          s"cast(((vec_id * 31 + $k * 17 + d * 5) % 7 - 3) as float) * 0.05f)")
          .as("embedding"),
        col("label"))
    }, "embeddings")

    // "boiler" mode (r12 verdict #7): SfGen's word-prefix perturbation
    // makes every copy's shingles UNIQUE, so the df-capped Jaccard's
    // stop-shingle guard never binds on this family — the cap was
    // insurance proven only at the gate SFs. This mode writes ONLY the
    // documents table, with a FIXED boilerplate paragraph appended to
    // every 20th doc AFTER the per-copy perturbation (so all copies
    // share the template verbatim — the real templated-web shape): its
    // shingles ride a constant 5% of the corpus, giving the uncapped
    // baseline its Σ df² hot-shingle term (df grows with the corpus →
    // pairs grow quadratically) while the capped variant drops them at
    // df > 16 forever.
    val boiler = args.length > 2 && args(2) == "boiler"
    val TEMPLATE = " subscribe to our newsletter terms of service apply" +
      " privacy policy all rights reserved click here to manage cookie" +
      " preferences and unsubscribe from marketing email at any time"

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val nD = docs.agg(max("doc_id")).head().getLong(0) + 1
    val docsOut = copies(docs) { (b, k) =>
      val t = regexp_replace(col("text"), "\\b(\\w)", s"c$k$$1")
      b.select((col("doc_id") + lit(k * nD)).as("doc_id"), t.as("text"),
        col("lang"), col("source"), length(t).cast("long").as("n_chars"))
    }
    write(if (!boiler) docsOut else docsOut
      .withColumn("text", when(col("doc_id") % 20 === 0,
        concat(col("text"), lit(TEMPLATE))).otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")
    if (boiler) { spark.stop(); return }

    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val nO = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    val cust = spark.read.parquet(s"$srcDir/customer.parquet")
    val nC = cust.agg(max("c_custkey")).head().getLong(0) + 1
    write(copies(ord) { (b, k) =>
      b.withColumn("o_orderkey", col("o_orderkey") + lit(k * nO))
        .withColumn("o_custkey", col("o_custkey") + lit(k * nC))
    }, "orders")

    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val supp = spark.read.parquet(s"$srcDir/supplier.parquet")
    val nS = supp.agg(max("s_suppkey")).head().getLong(0) + 1
    val part = spark.read.parquet(s"$srcDir/part.parquet")
    val nP = part.agg(max("p_partkey")).head().getLong(0) + 1
    write(copies(li) { (b, k) =>
      b.withColumn("l_orderkey", col("l_orderkey") + lit(k * nO))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * nS))
        .withColumn("l_partkey", col("l_partkey") + lit(k * nP))
    }, "lineitem")

    // events: s disjoint-USER copies — more keys, same per-key run
    // length, the realistic scale shape for the keyed event pipelines
    // (combine/timing/running-agg families, unmeasured at sf1 before
    // r12). The fixture's ts is INT64 TIMESTAMP(NANOS), which vanilla
    // Spark refuses to read; read nanos-as-long and WRITE a regular
    // micros timestamp — Tables.events consumes either encoding and
    // the queries only ever see micros (`ts div 1000`) anyway.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // the TIMESTAMP_NTZ fallback below casts through the SESSION
    // timezone; pin it to UTC so a non-UTC host generates the same
    // micros as the legacy nanos-as-long integer path (r12 advice)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val evRaw = spark.read.parquet(s"$srcDir/events.parquet")
    // the fixture's ts may resolve as nanos-long (legacy flag honored)
    // or as TIMESTAMP_NTZ (native nanos read) — Tables.events' dispatch
    val tsUs = evRaw.schema("ts").dataType.typeName match {
      case "long" => timestamp_micros(expr("ts div 1000"))
      case _      => col("ts").cast("timestamp")
    }
    val ev = evRaw.withColumn("ts", tsUs)
    val nE = ev.agg(max("event_id")).head().getLong(0) + 1
    val nU = ev.agg(max("user_id")).head().getLong(0) + 1
    write(copies(ev) { (b, k) =>
      b.withColumn("event_id", col("event_id") + lit(k * nE))
        .withColumn("user_id", col("user_id") + lit(k * nU))
    }, "events")

    // verbatim pass-through (dimension tables): byte-copy the files —
    // the dims stay reference-sized (broadcast side) at every rung
    Seq("customer", "supplier", "part", "nation", "region")
      .foreach { t =>
        val src = java.nio.file.Paths.get(s"$srcDir/$t.parquet")
        val dst = java.nio.file.Paths.get(s"$outDir/$t.parquet")
        java.nio.file.Files.createDirectories(dst.getParent)
        if (java.nio.file.Files.isDirectory(src)) {
          java.nio.file.Files.createDirectories(dst)
          java.nio.file.Files.list(src).forEach { p =>
            java.nio.file.Files.copy(p, dst.resolve(p.getFileName),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
        } else java.nio.file.Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        println(s"copied $t")
      }
    spark.stop()
  }
}
