package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (ARRAY<FLOAT>).
 *
 * Determinism discipline: dot products are sequential left folds of
 * double-promoted floats (`zip_with` + `aggregate`), the exact op
 * sequence the DuckDB oracle uses (`list_zip` + `list_reduce`), so
 * scores are bit-identical and rank order transfers across engines.
 *
 * Scale shape: brute force is the O(n²) baseline (fine to ~10⁴ rows /
 * bucket); the LSH path buckets by random-hyperplane sign bits so the
 * quadratic join only happens within buckets — at 100 TB the bucket
 * join is a keyed shuffle with bounded per-bucket cost, and the
 * hyperplane bits are computed in one projection, no driver state.
 */
object Similarity {

  /** Sequential-fold dot product (deterministic across engines) — the
    * codegen'd [[graft.functions.VecDot]] kernel; same fold order as the
    * interpreted `zip_with`+`aggregate` HOF it replaces. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Deterministic probe side for exact ground-truth evaluation: every
    * `probeMod`-th id (`id % probeMod == 0`), broadcast. With
    * probeMod > 1 an "exact" pass is sample × corpus — O(n²/probeMod)
    * with a broadcast-size probe table — instead of corpus × corpus,
    * which is the only shape a recall/eval harness can afford at 100 TB
    * (the estimate over a 1/probeMod deterministic sample is unbiased;
    * raise probeMod with corpus size to keep the probe set fixed). */
  private def probeSide(emb: DataFrame, idCol: String, probeMod: Long): DataFrame = {
    require(probeMod >= 1, s"probeMod must be >= 1, got $probeMod")
    if (probeMod == 1) emb else emb.filter(col(idCol) % probeMod === 0)
  }

  /** All-pairs cosine (a < b) above `minCos` — brute-force baseline
    * for SMALL inputs only (corpus × corpus); the registry's audit
    * query uses [[cosineNeighbors]], and the serving paths are the
    * bucketed [[cosinePairsLsh]] / semdedup cells. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String, minCos: Double): DataFrame = {
    // norms precomputed ONCE per vector below the join (bit-identical:
    // the same sqrt(dot(v,v)) double, multiplied in the same order) —
    // the O(n²) pair stage pays one array traversal per pair, not three
    val l = emb.select(col(idCol).as("a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val r = emb.select(col(idCol).as("b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    l.crossJoin(r).filter(col("a") < col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select("a", "b", "cos")
  }

  /** Near-duplicate AUDIT anchored at a deterministic probe sample:
    * all neighbors (cos ≥ minCos, b ≠ a) of every `probeMod`-th vector.
    * Broadcast probe × corpus — the exact-cosine yardstick shape that
    * survives corpus growth (cf. [[cosinePairs]]' all-pairs form). */
  def cosineNeighbors(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double, probeMod: Long): DataFrame = {
    // per-side norms below the join (see [[cosinePairs]]) — the
    // probe × corpus stage traverses one array per pair, not three
    val l = probeSide(emb, idCol, probeMod)
      .select(col(idCol).as("a"), col(vecCol).as("va"),
        norm(col(vecCol)).as("na"))
    val r = emb.select(col(idCol).as("b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    r.crossJoin(broadcast(l)).filter(col("a") =!= col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select("a", "b", "cos")
  }

  /** Exact cosine top-k per query vector. With the default
    * probeMod = 1 this is the all-queries brute force (small inputs /
    * tests); registry ground-truth sides pass probeMod > 1 so the
    * query side is a broadcast probe sample (see [[probeSide]]). */
  def topK(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      probeMod: Long = 1): DataFrame = {
    // per-side norms below the join (see [[cosinePairs]])
    val l = probeSide(emb, idCol, probeMod)
      .select(col(idCol).as("a"), col(vecCol).as("va"),
        norm(col(vecCol)).as("na"))
    val r = emb.select(col(idCol).as("b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    val pairs = if (probeMod == 1) l.crossJoin(r) else r.crossJoin(broadcast(l))
    val scored = pairs.filter(col("a") =!= col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }

  /** Integer-valued pseudo-random hyperplane component for (plane j, dim d). */
  def planeCoef(j: Int, d: Int): Long = ((j * 131 + d * 137) % 19) - 9

  /** Sign-bit bucket id from `nPlanes` hyperplanes.
    *
    * Coefficients are array *literals* folded with `zip_with`/`aggregate`
    * rather than `nPlanes × dims` flattened multiply-add terms: the
    * flattened form compiled to a ~1 MB codegen unit whose JIT cost
    * dwarfed the actual scan (and would recompile per plan at scale).
    * The fold order (0 + x0·c0 + x1·c1 + …) is the same IEEE sequence
    * the DuckDB oracle executes. */
  def lshBucket(vec: Column, nPlanes: Int, dims: Int,
      planeOffset: Int = 0, planeStride: Int = 1): Column = {
    val bits = (0 until nPlanes).map { j =>
      val coef = lit((0 until dims).map(d =>
        planeCoef(planeOffset + j * planeStride, d).toDouble).toArray)
      val proj = dot(vec, coef)
      when(proj > 0, 1L << j).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Corpus-derived hyperplane count: the smallest p with
    * ceil(n / targetBucketRows) ≤ 2^p, floored at `floorPlanes` and
    * capped at `maxPlanes` — expected rows per bucket track `target`
    * as the corpus grows, instead of a fixed constant whose buckets
    * densify with the data (the round-8 scaling audit's watch item:
    * q_ann_lsh_multi grew 4.7× on 4× vectors). Integer-only (no float
    * log2), so the DuckDB oracle derives the identical count from its
    * own count(*). */
  def lshPlanesFor(n: Long, targetBucketRows: Long, floorPlanes: Int,
      maxPlanes: Int = 16): Int = {
    require(targetBucketRows >= 1 && floorPlanes >= 1 &&
      maxPlanes >= floorPlanes, s"bad lshPlanesFor args")
    val k = (n + targetBucketRows - 1) / targetBucketRows
    math.min(maxPlanes,
      math.max(floorPlanes, (0 until maxPlanes).count(i => k > (1L << i))))
  }

  /** Corpus-derived IVF cell count — [[lshPlanesFor]]'s discipline for
    * the coarse quantizer: the smallest `floorCells`·2^k with expected
    * cell size n/cells ≤ `targetCellRows`, capped at `maxCells`. Cell
    * counts that grow with the corpus keep the in-cell quadratic term
    * bounded (the FAISS √n-ish guidance) instead of letting fixed cells
    * densify; doubling steps keep the rule integer-only so a SQL oracle
    * derives the identical count from its own count(*). Training cost
    * scales with cells — pair with `trainMod` so the Lloyd rounds stay
    * on a sample. */
  def ivfCellsFor(n: Long, targetCellRows: Long, floorCells: Int,
      maxCells: Int = 1 << 20): Int = {
    require(targetCellRows >= 1 && floorCells >= 1 && maxCells >= floorCells,
      s"bad ivfCellsFor args")
    // Round the cap DOWN to the nearest floorCells·2^k so the result is
    // always on the doubling ladder (a cap like 1000 would otherwise be
    // returned verbatim — a value no SQL doubling ladder reproduces).
    var cap = floorCells.toLong
    while (cap * 2 <= maxCells) cap *= 2
    // Division-form growth test: `n > c * targetCellRows` ⟺
    // `(n - 1) / targetCellRows >= c`, but the product overflows Long for
    // huge targetCellRows while the division never does.
    var c = floorCells.toLong
    while (c < cap && (n - 1) / targetCellRows >= c) c *= 2
    math.min(c, cap).toInt
  }

  /** Corpus-derived probe-sample modulus — [[ivfCellsFor]]'s doubling
    * discipline for the exact ground-truth sides: the smallest
    * `floorMod`·2^k with expected probe count n/mod ≤ `targetProbes`.
    * A PINNED modulus makes every "exact sample × corpus" pass
    * (n/mod)·n — quadratic in the corpus (the r11 sf1 rung measured
    * q_ann_tuning 15.8× at 10× data); a modulus that doubles as the
    * corpus doubles keeps the probe set ~fixed, so the ground-truth
    * term is O(targetProbes · n) — linear. The recall estimate over
    * the deterministic 1/mod sample stays unbiased at any mod.
    * Integer-only doubling ladder so a SQL oracle derives the
    * identical modulus from its own count(*). */
  def probeModFor(n: Long, targetProbes: Long, floorMod: Long = 16L,
      maxMod: Long = 16L << 24): Long = {
    require(targetProbes >= 1 && floorMod >= 1 && maxMod >= floorMod,
      s"bad probeModFor args")
    var cap = floorMod
    while (cap * 2 <= maxMod) cap *= 2
    var m = floorMod
    while (m < cap && (n - 1) / targetProbes >= m) m *= 2
    math.min(m, cap)
  }

  /** Corpus-derived TRAINING-sample modulus — [[probeModFor]]'s doubling
    * discipline applied to the index-training side (the FAISS rule:
    * codebooks/centroids are distribution statistics, so train on a
    * bounded sample and assign/encode full-corpus). A PINNED modulus
    * makes every Lloyd/PQ training pass O(n/mod · iters · cells) — a
    * fixed FRACTION of the corpus, linear but pointlessly so: at
    * 100 TB a 1-in-4 sample is ~10⁶× more data than codebook
    * statistics need. The derived modulus doubles as the corpus
    * doubles, so the training set stays ~`targetTrain` rows — the
    * training term becomes O(targetTrain · iters · cells), constant in
    * the corpus. Floor 4 keeps the historical sample at small n; the
    * seed requirement (largest seed count is 64 cells) is covered for
    * any n ≥ 256 because the derived sample is always > targetTrain/2
    * once the ladder grows and n/4 ≥ 64 below that. Integer-only
    * doubling ladder so a SQL oracle derives the identical modulus
    * from its own count(*). */
  def trainModFor(n: Long, targetTrain: Long, floorMod: Long = 4L,
      maxMod: Long = 4L << 24): Long = {
    require(targetTrain >= 1 && floorMod >= 1 && maxMod >= floorMod,
      s"bad trainModFor args")
    var cap = floorMod
    while (cap * 2 <= maxMod) cap *= 2
    var m = floorMod
    while (m < cap && (n - 1) / targetTrain >= m) m *= 2
    math.min(m, cap)
  }

  /**
   * IVF (inverted-file) cosine top-k: vectors are assigned to the cell
   * of their nearest centroid, and the quadratic scoring runs within
   * cells. Centroids are the first `nCells` vectors by id — a
   * deterministic seed choice both engines replicate exactly (a k-means
   * refinement would sharpen recall but adds iterative state; seeds are
   * the right baseline for an exact-match oracle).
   *
   * Scale shape: the centroid table is tiny → broadcast; assignment is
   * one narrow pass over the data (no shuffle); the only shuffle is the
   * per-cell groupBy, and cells are bounded by construction. This is the
   * same partition-then-pair skeleton as [[topKLsh]] with a learned-ish
   * partitioner instead of random hyperplanes.
   */
  def topKIvf(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, nProbe: Int = 1, cellCap: Int = Int.MaxValue): DataFrame =
    topKFromAssign(ivfAssign(emb, idCol, vecCol, nCells, nProbe),
      idCol, vecCol, k, cellCap)

  /** Cell assignment for seed-centroid IVF: each vector LIVES in its
    * nearest cell (isHome) and, as a QUERY, also probes its next
    * nProbe-1 nearest cells — the IVF nprobe knob: candidates come only
    * from home members, so pair (a,b) is generated exactly once (in
    * home(b), where a has one copy). Returns (idCol, vecCol, cell,
    * isHome), one row per probed cell. */
  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, nProbe: Int): DataFrame =
    ivfAssignRanked(emb, idCol, vecCol, nCells, nProbe).drop("rank")

  /** [[ivfAssign]] keeping the probe rank — materialize ONCE at the
    * deepest probe depth and slice `rank <= p` for shallower configs
    * (a tuning report re-deriving the assignment per config re-scores
    * every (vector, centroid) pair per row). Seed centroids (first
    * nCells vectors by id) are COLLECTED into the driver-resident
    * matrix [[assignFromMatrix]] scores against — cell assignment is
    * one narrow pass, not an nCells× row expansion. The per-vector
    * norm of the old join encoding divided every score by a constant
    * per ranking partition, so dropping it cannot change any rank. */
  def ivfAssignRanked(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, nProbe: Int): DataFrame = {
    val cents = collectCents(emb.orderBy(col(idCol)).limit(nCells),
      idCol, vecCol)
    assignFromMatrix(emb, idCol, vecCol, col(vecCol), cents, nProbe)
  }

  /** Collect a (cid, vector) frame into the driver-resident centroid
    * matrix the [[graft.functions.NearestCells]] kernel scores against
    * — the constant-size index artifact (nCells × dims doubles;
    * float→double and quantized-long→double widenings are exact). */
  private[graft] def collectCents(df: DataFrame, cidCol: String,
      vecCol: String): Seq[(Long, Array[Double])] =
    df.select(col(cidCol), col(vecCol)).collect().toSeq.map { r =>
      r.getLong(0) -> r.getSeq[Any](1).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case l: Long   => l.toDouble
        case i: Int    => i.toDouble
        case other => throw new IllegalArgumentException(
          s"collectCents: non-numeric component $other")
      }.toArray
    }

  /** Shared assignment shape of the IVF family: score `scoreVec`
    * against a driver-resident centroid matrix in ONE codegen'd pass
    * per row ([[graft.functions.NearestCells]] — no broadcast-join row
    * expansion, no per-vector ranking window, plannable at any cell
    * count), then unroll the top-`nProbe` cells with a fanout-`nProbe`
    * posexplode. Emits (idCol, vecCol, cell, isHome, rank) — the
    * row_number contract of the old join/window encoding, including
    * its (score DESC, cid ASC) tie-break. */
  private def assignFromMatrix(emb: DataFrame, idCol: String, vecCol: String,
      scoreVec: Column, cents: Seq[(Long, Array[Double])],
      nProbe: Int): DataFrame =
    emb.select(col(idCol), col(vecCol),
        posexplode(graft.functions.VectorFunctions
          .nearestCells(scoreVec, cents, nProbe)).as(Seq("__pos", "cell")))
      .select(col(idCol), col(vecCol), col("cell"),
        (col("__pos") === 0).as("isHome"), (col("__pos") + 1).as("rank"))

  /** Quantization scale for k-means centroid arithmetic. */
  val QUANT: Int = 1024

  /** Deterministic training-side sample: every `trainMod`-th row
    * (`id % trainMod == 0`). The FAISS discipline applied to in-query
    * index building: k-means centroids and PQ codebooks are statistics
    * of the distribution, so they train on a hash-sample (≤ a few % at
    * 100 TB — raise trainMod with corpus size), while assignment,
    * encoding, and reranking stay full-corpus. Mirrors the probe-side
    * `probeSide` contract; trainMod = 1 keeps the historical
    * full-corpus training for tests/tiny inputs. */
  private def trainSide(df: DataFrame, idCol: String, trainMod: Long): DataFrame = {
    require(trainMod >= 1, s"trainMod must be >= 1, got $trainMod")
    if (trainMod == 1) df else df.filter(col(idCol) % trainMod === 0)
  }


  /** Integer quantization of an embedding: floor(x · QUANT) per
    * component. Both engines compute the identical float→double→
    * multiply→floor sequence, and everything downstream of it is
    * integer-exact. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(QUANT)).cast("long"))

  /**
   * Per-vector int8 scalar quantization: `q_i = floor(x_i / s)` with
   * `s = max|x| / 127`, so components land in [-127, 127] — the
   * classic 4× compression of an embedding store (float32 → int8 +
   * one float scale). At 100 TB the vector corpus is the dominant
   * byte count, so the scan/shuffle bandwidth of every ANN stage
   * drops 4× with it; cosine is scale-invariant per vector, so
   * ranking degrades only by rounding (measured by
   * `q_ann_quant_recall`). Deterministic and oracle-replicable:
   * max/divide/floor is the identical IEEE sequence in both engines,
   * and all downstream dot products are exact small integers.
   * All-zero vectors quantize to all-zero (s = 0 guard).
   */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === lit(0.0), lit(0L))
        .otherwise(floor(x.cast("double") / scale).cast("long")))

  /** The per-vector int8 scale `max|x| / 127`. */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double")))) / lit(127.0)

  /** Exact cosine top-k over int8-quantized vectors — the [[topK]]
    * yardstick at a quarter of the bytes; same probe-sample contract
    * (probeMod > 1 → broadcast sample × corpus). The bucketed paths
    * (LSH/IVF) apply to the quantized representation unchanged. */
  def topKInt8(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      probeMod: Long = 1): DataFrame = {
    val q = emb.select(col(idCol),
        quantizeInt8(col(vecCol), int8Scale(col(vecCol))).as("q"))
    // per-side norms below the join (see [[cosinePairs]])
    val l = probeSide(q, idCol, probeMod)
      .select(col(idCol).as("a"), col("q").as("va"), norm(col("q")).as("na"))
    val r = q.select(col(idCol).as("b"), col("q").as("vb"),
      norm(col("q")).as("nb"))
    val pairs = if (probeMod == 1) l.crossJoin(r) else r.crossJoin(broadcast(l))
    val scored = pairs.filter(col("a") =!= col("b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }

  /**
   * Deterministic Lloyd refinement over quantized vectors. The trick
   * that makes k-means oracle-replicable: a centroid is represented by
   * the per-component INTEGER SUM of its members' quantized vectors —
   * never divided by the count. Cosine is invariant under positive
   * scaling, so sum and mean define the same cell assignment, and
   * integer sums are order-independent and exact (a float mean would be
   * shuffle-order-dependent and engine-divergent). Assignment score is
   * dot(q, c)/‖c‖ (the query-side norm is constant per vector and
   * cannot change its argmax), ties broken by lowest cell id. Cells
   * that lose all members keep their previous centroid.
   *
   * Scale shape: centroids are a tiny broadcast table (nCells × dims
   * longs); each iteration is one narrow assignment pass over the data
   * plus one map-side-combined groupBy with `dims` sum aggregates.
   * `iters` is a FIXED count (no convergence probe) so the oracle can
   * unroll the identical number of rounds.
   *
   * Training-side sampling (`trainMod` > 1): seeds and every Lloyd
   * round see only the deterministic `id % trainMod == 0` sample —
   * centroids are distribution statistics, so a sample suffices (FAISS
   * trains IVF on ≤1% samples) and the per-round cost drops from
   * corpus × nCells to sample × nCells. Assignment against the result
   * ([[ivfAssignFromCentroids]]) stays full-corpus.
   *
   * @param embQ (idCol, q: array<long>) — quantized vectors
   */
  def kmeansCentroids(embQ: DataFrame, idCol: String, nCells: Int,
      iters: Int, dims: Int, trainMod: Long = 1): DataFrame =
      graft.engine.StaticPlan.scopedAqeOff(embQ.sparkSession) {
    val embT = trainSide(embQ, idCol, trainMod)
    // The centroid matrix lives DRIVER-SIDE across rounds (it is the
    // constant-size index artifact — nCells × dims longs): each round
    // is exactly ONE scheduled job (assignment against the literal
    // matrix + map-side-combined groupBy, collected as nCells rows),
    // and the seed read is another — no per-round centroid-frame
    // checkpoint, no replay. The result is a LOCAL relation, so every
    // consumer (assignment, PQ coarse, cell means) reads literal data
    // with zero recompute risk and zero jobs.
    var cents: Seq[(Long, Array[Long])] = embT.orderBy(col(idCol))
      .limit(nCells).select(col(idCol), col("q"))
      .collect().toSeq.map(r =>
        r.getLong(0) -> r.getSeq[Long](1).toArray)
    for (_ <- 0 until iters) {
      // one narrow pass over the sample, no nCells× row expansion and
      // no per-vector ranking window — the round cost is the groupBy
      // sum alone, at any cell count
      val centArr = cents.map { case (cid, cq) => cid -> cq.map(_.toDouble) }
      val assigned = embT.select(col(idCol), col("q"),
        element_at(graft.functions.VectorFunctions
          .nearestCells(col("q"), centArr, 1), 1).as("cell"))
      val sumCols = (0 until dims).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
      val sums = assigned.groupBy(col("cell"))
        .agg(sumCols.head, sumCols.tail: _*)
        .select(col("cell"), array((0 until dims).map(d => col(s"s$d")): _*).as("nq"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      // a cell that attracted no sample rows keeps its previous vector
      // (the coalesce rule the SQL oracle unrolls)
      cents = cents.map { case (cid, cq) => cid -> sums.getOrElse(cid, cq) }
    }
    val spark = embQ.sparkSession
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      cents.map { case (cid, cq) =>
        org.apache.spark.sql.Row(cid, cq.toSeq) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cq",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType), nullable = false))))
  }

  /** [[ivfAssign]] against k-means-refined centroids, KEEPING the probe
    * rank (1 = home cell): centroids are trained ONCE (eagerly
    * checkpointed inside [[kmeansCentroids]]) and any probe depth
    * p ≤ nProbe is a `rank <= p` slice — so a tuning sweep or a
    * recall/cost frontier probes many depths off one training instead
    * of re-running Lloyd per configuration (the materialized-index
    * shape: train once, probe many). */
  def ivfKmeansAssignRanked(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, dims: Int, nProbe: Int,
      trainMod: Long = 1): DataFrame = {
    val embQ = emb.select(col(idCol), quantize(col(vecCol)).as("q"))
    ivfAssignFromCentroids(emb, idCol, vecCol,
      kmeansCentroids(embQ, idCol, nCells, iters, dims, trainMod), nProbe)
  }

  /** Assignment against an EXISTING centroid table (cid, integer cq) —
    * the serving half of the index lifecycle: centroids are trained
    * once ([[kmeansCentroids]]), persisted (e.g.
    * [[graft.sources.Sinks.toBucketedTable]]), and every later batch or
    * query is ONE broadcast-centroid scan with no Lloyd rounds in the
    * plan. Returns (idCol, vecCol, cell, isHome, rank). */
  def ivfAssignFromCentroids(emb: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, nProbe: Int): DataFrame =
    assignFromMatrix(emb, idCol, vecCol, quantize(col(vecCol)),
      collectCents(cents, "cid", "cq"), nProbe)

  /**
   * Incremental IVF maintenance — the daily-crawl APPEND path. The
   * standing corpus's index (k-means centroids trained once, on a
   * `trainMod` hash-sample) absorbs a new batch WITHOUT retraining:
   * the batch is assigned to existing cells in one broadcast-centroid
   * scan, and the result is the updated per-cell posting counts plus a
   * DRIFT metric that tells the user when a retrain is due — the
   * batch's mean squared residual norm against the training-time cell
   * means, relative to the standing corpus's own. Drift ≈ 1 means the
   * new data matches the trained geometry; growing drift means the
   * cells no longer fit and a retrain is warranted (the IVF analogue of
   * [[graft.text.TextOps.dedupIncremental]]'s standing band index).
   *
   * Scale shape: ONE pass over the standing corpus (cell means — at
   * 100 TB this amortizes across every batch once the means are
   * persisted with the centroids) and ONE pass over the batch; the
   * means travel as a literal map (nCells × dims longs). No quadratic
   * term, no Lloyd rounds in the append path.
   *
   * Determinism: residual square-norms are integer sums over integer
   * residuals (q − μ', with μ' the floor-integer cell mean); per-cell
   * sums are order-free BIGINTs; drift is three exact divisions in
   * fixed order. NULL when either side has no members or a perfect
   * (zero-residual) base.
   *
   * @return one row per cell: (cell, n_base, n_new, sq_base, sq_new,
   *         drift)
   */
  def ivfIncremental(standing: DataFrame, batch: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iters: Int, dims: Int,
      trainMod: Long = 1, centsPre: Option[DataFrame] = None,
      muPre: Option[Map[Long, Seq[Long]]] = None): DataFrame = {
    val cents = centsPre.getOrElse(kmeansCentroids(
      standing.select(col(idCol), quantize(col(vecCol)).as("q")),
      idCol, nCells, iters, dims, trainMod))
    val mu = muPre.getOrElse(ivfCellMeans(standing, idCol, vecCol, cents, dims))
    val base = ivfBatchCellStats(standing, idCol, vecCol, cents, mu,
      "n_base", "sq_base")
    val fresh = ivfBatchCellStats(batch, idCol, vecCol, cents, mu,
      "n_new", "sq_new")
    base.join(fresh, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("sq_base"), lit(0L)).as("sq_base"),
        coalesce(col("sq_new"), lit(0L)).as("sq_new"))
      .withColumn("drift",
        when(col("n_new") === 0 || col("n_base") === 0 || col("sq_base") === 0,
          lit(null).cast("double"))
          .otherwise(
            (col("sq_new").cast("double") / col("n_new").cast("double")) /
              (col("sq_base").cast("double") / col("n_base").cast("double"))))
  }

  /** Training-time floor-integer cell means of the standing corpus,
    * COLLECTED as the constant-size serving artifact (nCells × dims
    * longs) that persists next to the centroids — one standing-corpus
    * pass that amortizes across every later batch. A trained cell with
    * NO standing home member falls back to its own centroid vector
    * (deterministic, mirrored by the oracle's LEFT JOIN + coalesce), so
    * every cell has a mean and a batch row landing in a memberless
    * cell still contributes a real residual — out-of-distribution rows
    * are exactly the drift evidence; silently zeroing or dropping them
    * (the old inner-join shape) misreported the batch. Note the
    * fallback is the centroid at whatever scale Lloyd left it (integer
    * SUMS after a round with members — assignment is cosine, scale-
    * free); it only governs cells with zero standing members, where
    * drift is NULL by definition. */
  def ivfCellMeans(standing: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, dims: Int): Map[Long, Seq[Long]] = {
    val sQ = standing.select(col(idCol), quantize(col(vecCol)).as("q"))
    val sHome = ivfAssignFromCentroids(standing, idCol, vecCol, cents, 1)
      .filter(col("isHome")).select(col(idCol), col("cell"))
    val sumCols = (0 until dims).map(d =>
      sum(element_at(col("q"), d + 1)).as(s"s$d"))
    val muRows = graft.engine.StaticPlan.scopedAqeOff(standing.sparkSession) {
      sQ.join(sHome, idCol).groupBy("cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .select(col("cell"), array((0 until dims).map(d =>
          floor(col(s"s$d").cast("double") / col("n")).cast("long")): _*).as("mu"))
        .collect()
    }
    val member = muRows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    cents.select(col("cid"), col("cq")).collect()
      .map(r => r.getLong(0) -> member.getOrElse(r.getLong(0), r.getSeq[Long](1)))
      .toMap
  }

  /** Per-cell batch statistics against a PERSISTED index (`cents` +
    * the [[ivfCellMeans]] artifact): one broadcast-centroid scan with
    * ZERO Lloyd rounds in the plan, emitting (cell, n, sq) where sq is
    * the integer squared-residual-norm sum vs the training-time cell
    * mean. The (n, sq) pairs are order-free integer sums — mergeable
    * posting statistics, so day-N ingestion is this one scan plus
    * integer adds against the stored stats, never a standing-corpus
    * rescan. */
  def ivfBatchCellStats(batch: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, mu: Map[Long, Seq[Long]], nName: String,
      sqName: String): DataFrame = {
    val muLit = typedlit(mu)
    // integer squared residual norm vs the home cell's training mean
    def sqNorm(q: Column): Column = aggregate(
      zip_with(q, element_at(muLit, col("cell")), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
    ivfAssignFromCentroids(batch, idCol, vecCol, cents, 1)
      .filter(col("isHome"))
      .select(col("cell"), quantize(col(vecCol)).as("q"))
      .groupBy("cell")
      .agg(count(lit(1)).as(nName), sum(sqNorm(col("q"))).as(sqName))
  }

  /** [[ivfAssign]] against k-means-refined centroids: same (id, vec,
    * cell, isHome) contract, assignment scored on the quantized vectors
    * vs the refined integer centroids. */
  def ivfKmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int, dims: Int, nProbe: Int,
      trainMod: Long = 1): DataFrame =
    ivfKmeansAssignRanked(emb, idCol, vecCol, nCells, iters, dims, nProbe,
      trainMod).drop("rank")

  /** The serving half of the IVF skeleton: exactly-once in-cell pair
    * generation (every probed copy of a meets every HOME copy of b) +
    * true-cosine top-k, from any assignment frame carrying (idCol,
    * vecCol, cell, isHome) — seed IVF, k-means IVF, or a rank-sliced
    * pre-trained index all reuse it unchanged.
    *
    * Mega-cell safety: pairs come from a JOIN on cell (queries ×
    * home members), never a per-cell `collect_list` — a skewed
    * k-means cell is a spillable join group (and an AQE skew-split
    * candidate), not an unbounded single-row array buffer. Both join
    * sides replay the assignment tail, which is cheap by construction:
    * every expensive stage upstream (centroid training, PQ coding) is
    * already internally checkpointed, so adding another eager
    * materialization here measured as pure overhead (+1.2 s on
    * q_ann_ivf_kmeans). `cellCap` bounds the quadratic term: each query meets at
    * most the `cellCap` LOWEST-id home members of a probed cell
    * (deterministic; a binding cap trades recall for a hard
    * |cell|·cap work bound — FAISS's max-codes-per-cell knob). The
    * default never binds. */
  def topKFromAssign(probed: DataFrame, idCol: String, vecCol: String,
      k: Int, cellCap: Int = Int.MaxValue): DataFrame = {
    val homeAll = probed.filter(col("isHome"))
    val home = capLowestPerCell(homeAll, idCol, cellCap)
      .select(col("cell"), col(idCol).as("b"), col(vecCol).as("bv"),
        norm(col(vecCol)).as("bn"))
    val queries = probed
      .select(col("cell"), col(idCol).as("a"), col(vecCol).as("av"),
        norm(col(vecCol)).as("an"))
    // norms ride the cell shuffle as one extra double per member —
    // the quadratic in-cell stage pays one traversal per pair, not three
    val scored = queries.join(home, "cell")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("cos"))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }

  /**
   * Probe-depth SLICES of one ranked assignment's top-k — a tuning
   * sweep comparing nprobe=1 vs 2 (or 16 vs 20) pays ONE quadratic
   * scoring join and ONE ranking sort for all depths, instead of one
   * per depth. The shallow depth's candidate set is a subset of the
   * deep one's (each pair carries the query-side probe rank `lrank` of
   * the cell it met in), so per-depth top-k ranks fall out of a single
   * sorted pass: rank_at_depth_p(row) = running count of rows with
   * lrank ≤ p in (cos DESC, b) order — exactly the row_number a
   * standalone [[topKFromAssign]] over the `rank <= p` slice computes.
   *
   * `materialize` pins the scored+ranked pair table so every slice —
   * and every downstream consumer in a unioned report — replays a
   * filter over one cached frame, not the join. The DEFAULT is an
   * EAGER checkpoint (`StaticPlan.ckptFresh`): the sharing is the
   * function's whole contract, so a caller that forgets to pass one
   * must not silently re-run the quadratic scoring once per slice —
   * and an eager pin cannot hit the lazy-checkpoint footgun where
   * concurrent broadcast-build/sibling-subtree consumers each compute
   * the not-yet-materialized plan (the measured q_ann_tuning
   * persist-race negative). Pass `StaticPlan.ckptFreshLazy` to
   * EXPLICITLY opt into deferred materialization (single-consumer
   * union reports under a static scope — the per-job-floor win), or
   * `identity` to opt out of the pin entirely (the caller then owns
   * the replay). Returns depth → (a, rank, b), each hash-identical to
   * `topKFromAssign(ranked.filter(rank <= p).drop("rank"), …)`.
   */
  def topKFromAssignSlices(ranked: DataFrame, idCol: String, vecCol: String,
      k: Int, depths: Seq[Int], cellCap: Int = Int.MaxValue,
      materialize: DataFrame => DataFrame =
        graft.engine.StaticPlan.ckptFresh): Map[Int, DataFrame] = {
    require(depths.nonEmpty, "topKFromAssignSlices: depths must be non-empty")
    val ds = depths.distinct
    val maxP = ds.max
    val homeAll = ranked.filter(col("isHome"))
    val home = capLowestPerCell(homeAll, idCol, cellCap)
      .select(col("cell"), col(idCol).as("b"), col(vecCol).as("bv"),
        norm(col(vecCol)).as("bn"))
    val queries = ranked.filter(col("rank") <= maxP)
      .select(col("cell"), col(idCol).as("a"), col(vecCol).as("av"),
        norm(col(vecCol)).as("an"), col("rank").as("__lrank"))
    // (a, b) is unique — b is home in exactly one cell, which a probes
    // at most once — so each pair carries exactly one lrank
    val scored = queries.join(home, "cell")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("cos"),
        col("__lrank"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRanks0 = scored.select(
      Seq(col("a"), col("b"), col("__lrank")) ++ ds.map(p =>
        sum(when(col("__lrank") <= p, 1L).otherwise(0L)).over(w)
          .as(s"__r$p")): _*)
    // materialize ONLY rows in some slice's top-k (≤ |depths|·k per
    // query) — checkpointing the full scored table measured 1.3×
    // SLOWER than two standalone passes at 16× (the cache write of the
    // quadratic table dominates); post-filter it is the table that
    // topKFromAssign would have returned, per depth
    val keep = ds.map(p => col("__lrank") <= p && col(s"__r$p") <= k)
      .reduce(_ || _)
    val withRanks = materialize(withRanks0.filter(keep))
    ds.map(p => p -> withRanks
      .filter(col("__lrank") <= p && col(s"__r$p") <= k)
      .select(col("a"), col(s"__r$p").as("rank"), col("b"))).toMap
  }

  /**
   * Home-bucket and multi-probe LSH top-k off ONE scored pair table:
   * the plain-LSH candidate set (pairs sharing their home bucket) is
   * exactly the multi-probe pairs whose query-side copy is the home
   * copy, so both configs' rankings fall out of a single quadratic
   * pass — same running-count slicing as [[topKFromAssignSlices]],
   * same `materialize` contract (eager-checkpoint DEFAULT; lazy is an
   * explicit opt-in via `StaticPlan.ckptFreshLazy`).
   * Returns (home-only top-k, multi-probe top-k), hash-identical to
   * ([[topKLsh]], [[topKLshMp]]) at the same parameters.
   */
  def topKLshMpSlices(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dims: Int, nProbes: Int,
      materialize: DataFrame => DataFrame =
        graft.engine.StaticPlan.ckptFresh)
      : (DataFrame, DataFrame) = {
    val home = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), nPlanes, dims).as("home"))
    val copies = home.select(col(idCol), col(vecCol), col("home"),
      explode(array(col("home") +:
        (0 until nProbes).map(p => col("home").bitwiseXOR(lit(1L << p))): _*))
        .as("bucket"))
    val pairs = copies
      .groupBy("bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"),
        (col("home") === col("bucket")).as("isHome"))).as("ms"))
      .select(explode(col("ms")).as("x"), col("ms"))
      .select(col("x"), explode(col("ms")).as("y"))
      .filter(col("y.isHome") && col("x.id") =!= col("y.id"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = materialize(pairs.select(
        col("x.id").as("a"), col("y.id").as("b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv"))).as("cos"),
        col("x.isHome").as("__xh"))
      .select(col("a"), col("b"), col("__xh"),
        sum(when(col("__xh"), 1L).otherwise(0L)).over(w).as("__rh"),
        row_number().over(
          Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b")))
          .cast("long").as("__ra"))
      // keep only rows in either config's top-k before materializing
      // (see topKFromAssignSlices — the full scored table is the
      // quadratic term and must never be cached)
      .filter((col("__xh") && col("__rh") <= k) || col("__ra") <= k))
    (scored.filter(col("__xh") && col("__rh") <= k)
       .select(col("a"), col("__rh").as("rank"), col("b")),
     scored.filter(col("__ra") <= k)
       .select(col("a"), col("__ra").as("rank"), col("b")))
  }

  /**
   * Top-k ANN served from a PERSISTED postings table — the read half
   * of the train → stream-assign → append → serve lifecycle: `cents`
   * is the trained index artifact, `postings` the standing
   * (idCol, vecCol, cell) home-assignment table ([[ivfAssignStream]]
   * with keepVec + a bucketed append sink maintain it live), and
   * `queries` any batch of query vectors. Queries probe their nearest
   * `nProbe` cells via the driver-resident centroid matrix
   * ([[graft.functions.NearestCells]]); candidates come from the
   * postings JOIN on cell — with a cell-bucketed postings table the
   * join is exchange-free on the postings side at any corpus size.
   * Self-matches are excluded; `cellCap` bounds the quadratic term as
   * in [[topKFromAssign]]. Returns (a, rank, b).
   *
   * `pruneCells = true` collects the batch's distinct probed cells
   * (bounded by nCells — one tiny job against the CHECKPOINTED
   * broadcast-matrix assignment, which the scoring join then reuses:
   * without the pin, the prune collect and the join would each run the
   * NearestCells scan) and pushes `cell IN (...)` onto the postings
   * side, so a cell-PARTITIONED postings table reads only the probed
   * partitions. This is the 100 TB serve layout: scan cost tracks
   * nProbe × |batch| cells, not corpus size. Spark's dynamic partition
   * pruning does NOT fire here on its own (probed: the query side
   * carries no selective predicate the DPP heuristic recognizes), so
   * the prune is explicit. Results are identical either way — the IN
   * list is exactly the set of cells the join could match.
   *
   * Above `pruneInMax` distinct probed cells (a 10M-query batch over a
   * 2^20-cell index would otherwise plan a million-literal IN list),
   * the prune falls back to a BROADCAST LEFT-SEMI join of the probed
   * cell set against the postings scan — same row set, bounded plan
   * size, still one tiny broadcast (≤ nCells longs). Partition-level
   * file pruning is lost in that regime, but a batch probing most
   * cells touches most partitions anyway.
   *
   * STORAGE LIFECYCLE (`pruneCells = true`): the returned frame's plan
   * pins the per-batch query-assignment checkpoint (tiny —
   * |batch|×nProbe rows — but pinned until freed). A one-shot caller
   * can ignore it; a LONG-LIVED serving loop must free each batch's
   * pin after consuming the result, or pins accumulate one per batch
   * until GC-driven cleanup:
   * {{{
   *   val res = Similarity.serveTopK(batch, postings, …, pruneCells = true)
   *   sink(res)                                        // consume
   *   Checkpoints.releaseExcept(res, postings, batch)  // free THIS batch's pin
   * }}}
   * ([[graft.engine.Checkpoints.releaseExcept]] keeps any long-lived
   * pins the loop reuses — a checkpointed postings or query table —
   * and frees only the assignment checkpoint this call created.)
   */
  def serveTopK(queries: DataFrame, postings: DataFrame, idCol: String,
      vecCol: String, k: Int, cents: DataFrame, nProbe: Int,
      cellCap: Int = Int.MaxValue, pruneCells: Boolean = false,
      pruneInMax: Int = 1024): DataFrame = {
    val qs0 = ivfAssignFromCentroids(queries, idCol, vecCol, cents, nProbe)
      .select(col("cell"), col(idCol).as("a"), col(vecCol).as("av"),
        norm(col(vecCol)).as("an"))
    // pin the (tiny: |batch|×nProbe rows) assignment ONLY when pruning
    // needs to read it twice; the unpruned path stays single-pass lazy
    val qs = if (pruneCells) graft.engine.StaticPlan.ckptFresh(qs0) else qs0
    val homeAll =
      if (!pruneCells) postings
      else {
        val probedDf = qs.select("cell").distinct()
        // limit(max+1): if fewer than that come back it IS the full
        // set — emit prunable IN literals; otherwise semi-join
        val probedCap = probedDf.limit(pruneInMax + 1)
          .collect().map(_.getLong(0)).sorted
        if (probedCap.length <= pruneInMax)
          postings.filter(col("cell").isin(probedCap.toIndexedSeq: _*))
        else
          postings.join(broadcast(probedDf), Seq("cell"), "left_semi")
      }
    val home = capLowestPerCell(homeAll, idCol, cellCap)
      .select(col("cell"), col(idCol).as("b"), col(vecCol).as("bv"),
        norm(col(vecCol)).as("bn"))
    val scored = qs.join(home, "cell")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("cos"))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }

  /**
   * [[topKIvf]] with k-means-refined centroids: `iters` deterministic
   * Lloyd rounds ([[kmeansCentroids]]) replace the raw seed vectors, so
   * cells track the data distribution instead of whatever the first
   * `nCells` ids happened to be — the recall ceiling that seed
   * centroids impose. Final assignment, nprobe probing, exactly-once
   * pair generation and ranking are the [[topKIvf]] skeleton verbatim;
   * pair SCORING still uses the original float embeddings (centroids
   * only partition).
   */
  def topKIvfKmeans(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, iters: Int, dims: Int, nProbe: Int = 1,
      trainMod: Long = 1): DataFrame =
    topKFromAssign(
      ivfKmeansAssign(emb, idCol, vecCol, nCells, iters, dims, nProbe, trainMod),
      idCol, vecCol, k)

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
   * k-means clustering — embeddings are clustered with the
   * deterministic integer-sum Lloyd refinement ([[kmeansCentroids]]),
   * and the cosine near-dup test runs only WITHIN clusters, so the
   * quadratic term is bounded by cell size (the paper's trick for web
   * scale: cluster count grows with the corpus, keeping cells roughly
   * constant). Drop rule: a vector is dropped ("dropped" = true) if a
   * LOWER-id member of its cell has cosine ≥ `tau` with it — keep-
   * lowest-id, matching the text-dedup keep rule. Pair scoring uses
   * the ORIGINAL float vectors; centroids only partition.
   *
   * Returns one row per input vector: (idCol, cell, dropped).
   */
  def semDedup(emb: DataFrame, idCol: String, vecCol: String, tau: Double,
      nCells: Int, iters: Int, dims: Int, trainMod: Long = 1,
      cellCap: Int = Int.MaxValue): DataFrame = {
    // mega-cell safety: in-cell pairs from a JOIN (keeper candidates ×
    // members), never a per-cell collect_list — see [[topKFromAssign]];
    // the assignment replays on both sides (training is checkpointed
    // inside kmeansCentroids, the tail is one broadcast scan).
    // `cellCap` bounds the keeper-candidate side to the cellCap
    // LOWEST-id members of each cell (exactly the ids the keep-lowest
    // rule prefers), the SemDeDup practice of capping cluster size; a
    // binding cap can only under-drop, never drop a keeper.
    val assign = ivfKmeansAssign(
      emb, idCol, vecCol, nCells, iters, dims, 1, trainMod)
    val keepers = capLowestPerCell(assign, idCol, cellCap)
      .select(col("cell"), col(idCol).as("a"), col(vecCol).as("av"),
        norm(col(vecCol)).as("an"))
    val pairs = keepers
      .join(assign.select(col("cell"), col(idCol).as("b"),
        col(vecCol).as("bv"), norm(col(vecCol)).as("bn")), "cell")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("cos"))
      .filter(col("cos") >= tau)
    val drops = pairs.select(col("b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    assign.select(col(idCol), col("cell"))
      .join(broadcast(drops), Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("__dropped"), lit(false)).as("dropped"))
  }

  /** Annotate a codebook frame with its per-codeword self-dot and norm
    * so [[cbScorePre]] evaluates them once per codeword INSIDE the
    * broadcast relation instead of once per (vector × codeword) joined
    * row — the same dot/sqrt doubles, hoisted. */
  private def withCbNorms(cents: DataFrame): DataFrame = {
    val cd = col("cq").cast("array<double>")
    cents.withColumn("__cdd", dot(cd, cd)).withColumn("__cn", norm(cd))
  }

  /** Codebook-assignment score against the precomputed `__cdd`/`__cn`
    * ([[withCbNorms]]), with a zero-norm guard: an all-zero centroid
    * (possible when PQ trains on RESIDUALS — a singleton IVF cell's
    * residual is exactly zero) scores 0 for every vector instead of
    * 0/0, whose NaN-vs-NULL ordering diverges between engines. Where no
    * zero centroid exists the guard never fires and the arithmetic is
    * unchanged. */
  private def cbScorePre(q: Column): Column = {
    val qd = q.cast("array<double>")
    val cd = col("cq").cast("array<double>")
    when(col("__cdd") === lit(0.0), lit(0.0))
      .otherwise(dot(qd, cd) / col("__cn"))
  }

  /** Explode a full-dim vector column `vc` into its m subspace slices:
    * one row per (input row, mi) with `q` = the subDim-slice. */
  private def subspaced(df: DataFrame, idCol: String, vc: String,
      m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), explode(array((0 until m).map(mi =>
        struct(lit(mi).as("mi"),
          slice(col(vc), mi * subDim + 1, subDim).as("q"))): _*)).as("sub"))
      .select(col(idCol), col("sub.mi").as("mi"), col("sub.q").as("q"))

  /**
   * All m per-subspace PQ codebooks trained JOINTLY in one plan.
   * Each codebook is a deterministic Lloyd refinement like
   * [[kmeansCentroids]] but carrying each centroid's member COUNT so
   * the codeword MEAN (cq/cnt) is reconstructible — PQ sums
   * approximate dots ACROSS subspaces, so codewords must be on the
   * data's scale (a cosine-style sum-centroid would over-weight
   * crowded cells); unassigned seeds keep (seed vector, cnt 1).
   * Subspaces are independent, so the m per-subspace Lloyd rounds
   * fuse into ONE round over (vec_id, mi, slice) rows — one broadcast
   * join + one window + one map-side-combined groupBy per iteration
   * for ALL subspaces instead of m separate pipelines. At 100 TB this
   * is the difference between m passes over the corpus sample per
   * round and one; at any scale it cuts the eager materializations
   * from m·iters to iters. Arithmetic is the per-subspace sequence
   * verbatim within each (mi) group (same seeds: the first pqK
   * sampled ids slice identically in every subspace; same integer
   * sums; same (s DESC, cid) tie-break), so results are bit-identical
   * to the per-subspace form the oracle unrolls.
   *
   * @param embQ (idCol, qq: array<long>) full-dim quantized vectors
   * @return (mi, cid, cq, cnt)
   */
  private def pqCodebooksAll(embQ: DataFrame, idCol: String, m: Int,
      subDim: Int, pqK: Int, iters: Int, trainMod: Long): DataFrame =
      graft.engine.StaticPlan.scopedAqeOff(embQ.sparkSession) {
    val spark = embQ.sparkSession
    val train = subspaced(trainSide(embQ, idCol, trainMod), idCol, "qq", m, subDim)
    // Codebook state lives DRIVER-SIDE across rounds (m·pqK rows — the
    // constant-size index artifact, the kmeansCentroids discipline):
    // each round is ONE scheduled job (broadcast-join + window +
    // map-side-combined groupBy, collected as m·pqK rows) instead of
    // that plus a codebook-frame checkpoint, and the returned frame is
    // a LocalRelation every consumer reads with zero jobs.
    var cents: Seq[(Int, Long, Array[Long], Long)] = subspaced(
        trainSide(embQ, idCol, trainMod).orderBy(col(idCol)).limit(pqK),
        idCol, "qq", m, subDim)
      .select(col("mi"), col(idCol).as("cid"), col("q").as("cq"))
      .collect().toSeq.map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toArray, 1L))
    def centsDf: DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        cents.map { case (mi, cid, cq, cnt) =>
          org.apache.spark.sql.Row(mi, cid, cq.toSeq, cnt) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("mi",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("cq",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType), nullable = false),
          org.apache.spark.sql.types.StructField("cnt",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
    for (_ <- 0 until iters) {
      val scored = train.join(
          broadcast(withCbNorms(centsDf.select("mi", "cid", "cq"))), "mi")
        .withColumn("s", cbScorePre(col("q")))
      // same bounded argmax as the serving path (pqAssignCodes):
      // topKByScore(n=1) with the property-pinned (s DESC, cid ASC)
      // order — the engine's ONE ranking shape everywhere. `first(q)`
      // is deterministic here: the broadcast join fanned a single
      // (mi, id, q) row out to pqK scored rows, so q is constant
      // within each group. Input is the trainMod-bounded sample, so
      // this is consistency, not scale: a 2×2 BracketProbe A/B at
      // sf0.1 measured PARITY inside host noise (window 3.3/5.5
      // canary units vs aggregate 4.5/3.7 across two passes each).
      val assigned = scored
        .groupBy(col("mi"), col(idCol))
        .agg(element_at(graft.functions.Aggregators.topKByScore(
            col("s"), col("cid"), 1), 1).as("cell"),
          first(col("q")).as("q"))
      val sumCols = (0 until subDim).map(d => sum(element_at(col("q"), d + 1)).as(s"s$d"))
      val sums = assigned.groupBy(col("mi"), col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .select(col("mi"), col("cell"), col("n"),
          array((0 until subDim).map(d => col(s"s$d")): _*).as("nq"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          ((r.getSeq[Long](3).toArray, r.getLong(2)))).toMap
      // a codeword that attracted no sample rows keeps (vector, cnt) —
      // the coalesce rule the SQL oracle unrolls
      cents = cents.map { case (mi, cid, cq, cnt) =>
        sums.get((mi, cid)).map { case (nq, n) => (mi, cid, nq, n) }
          .getOrElse((mi, cid, cq, cnt)) }
    }
    centsDf
  }

  /** Full-corpus code assignment against jointly-trained codebooks:
    * one broadcast join + one bounded argmax aggregate over (mi, vec) +
    * one pivot-wide groupBy — ONE shuffle instead of m sequential
    * joins. The argmax is `topKByScore(n = 1)` (score desc, cid asc —
    * the property-pinned window order), NOT a `row_number` window: the
    * broadcast join fans every (mi, vec) row out to pqK scored rows,
    * and the window form shuffles and SORTS that n·m·pqK table, while
    * the aggregate's map-side combine collapses it back to one row per
    * (mi, vec) before the exchange. Returns (idCol, c0..c{m-1}). */
  private def pqAssignCodes(embQ: DataFrame, idCol: String, cbAll: DataFrame,
      m: Int, subDim: Int): DataFrame = {
    val subs = subspaced(embQ, idCol, "qq", m, subDim)
    val codes = subs.join(
        broadcast(withCbNorms(cbAll.select("mi", "cid", "cq"))), "mi")
      .withColumn("s", cbScorePre(col("q")))
      .groupBy(col("mi"), col(idCol))
      .agg(element_at(graft.functions.Aggregators.topKByScore(
        col("s"), col("cid"), 1), 1).as("code"))
    codes.groupBy(col(idCol)).agg(
      max(when(col("mi") === 0, col("code"))).as("c0"),
      (1 until m).map(mi =>
        max(when(col("mi") === mi, col("code"))).as(s"c$mi")): _*)
  }

  /** Driver-side sequential-fold dot — the identical IEEE sequence as
    * the codegen [[dot]] kernel and the oracle's `list_reduce`, applied
    * to COLLECTED index artifacts (see [[PqIndex]]). */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /**
   * The COLLECTED per-subspace codebooks — a constant-size index
   * artifact (m × pqK codewords, a few KB regardless of corpus size).
   * Collecting it to the driver and re-emitting the ADC lookup tables
   * as dense LITERAL arrays is the FAISS serving architecture (the
   * codeword-dot tables live in every query node's cache): pair scoring
   * becomes a pure codegen projection — `element_at` on a literal —
   * with ZERO joins, instead of 3m+1 broadcast hash joins whose
   * adaptive stage materializations dominated the query at small scale
   * and whose plan depth grows with m at any scale.
   *
   * `cids(mi)` is sorted ascending — the DENSE code order (codes
   * shuffle as small ints, not raw centroid ids); `means(mi)(k)` is
   * codeword k's mean vector (cq/cnt, one exact division per
   * component — the same doubles the oracle's `cq/cnt` produces).
   */
  private final case class PqIndex(cids: IndexedSeq[Array[Long]],
      means: IndexedSeq[Array[Array[Double]]], pqK: Int, m: Int) {
    /** cid → dense index map for subspace mi (a small literal). */
    def cidIdx(mi: Int): Map[Long, Int] = cids(mi).zipWithIndex.toMap
    /** Dense codeword×codeword table: cc[(mi·pqK + i)·pqK + j]. */
    lazy val ccFlat: Array[Double] = {
      val out = new Array[Double](m * pqK * pqK)
      for (mi <- 0 until m; i <- 0 until pqK; j <- 0 until pqK)
        out((mi * pqK + i) * pqK + j) = dotD(means(mi)(i), means(mi)(j))
      out
    }
  }

  private def collectPqIndex(cbAll: DataFrame, m: Int, pqK: Int): PqIndex = {
    val rows = cbAll.select(col("mi"), col("cid"), col("cq"), col("cnt")).collect()
    val byMi = rows.groupBy(_.getInt(0))
    // Shape gate — every consumer (including a PERSISTED codebook
    // loaded by IndexStore.loadPqCodebooks) funnels through here, and
    // the flattened ADC layout ((mi·pqK + i)·pqK + j) silently
    // misindexes on any mismatch: a stale artifact trained at a
    // different (m, pqK) must fail loudly, not serve wrong neighbors
    // (r13 advice).
    require(byMi.keySet == (0 until m).toSet,
      s"PQ codebook shape mismatch: expected subspaces 0..${m - 1}, " +
        s"got ${byMi.keySet.toSeq.sorted.mkString(",")} — " +
        "stale or foreign artifact?")
    byMi.foreach { case (mi, rs) =>
      require(rs.length == pqK,
        s"PQ codebook shape mismatch: subspace $mi has ${rs.length} " +
          s"codewords, expected pqK=$pqK — stale or foreign artifact?")
    }
    val cids = (0 until m).map(mi => byMi(mi).map(_.getLong(1)).sorted)
    val means = (0 until m).map { mi =>
      val byCid = byMi(mi).map { r =>
        val cnt = r.getLong(3)
        r.getLong(1) -> r.getSeq[Long](2).map(x => x.toDouble / cnt).toArray
      }.toMap
      cids(mi).map(byCid)
    }
    PqIndex(cids, means, pqK, m)
  }

  /** Rewrite the pivoted code columns c0..c{m-1} from centroid ids to
    * DENSE indices via the collected per-subspace maps. */
  private def denseCodes(codesWide: DataFrame, idCol: String,
      idx: PqIndex): DataFrame =
    codesWide.select(col(idCol) +: (0 until idx.m).map(mi =>
      element_at(typedlit(idx.cidIdx(mi)), col(s"c$mi")).as(s"c$mi")): _*)

  /**
   * IVF-PQ top-k (Jégou et al. 2011, "Product Quantization for Nearest
   * Neighbor Search" — the FAISS IVF-PQ shape): candidates come from
   * the k-means IVF cells ([[ivfKmeansAssign]], nprobe probing), but
   * pair SCORING uses only each vector's `m` sub-codeword ids — the
   * vector never travels. cos(a,b) is approximated from a per-subspace
   * codeword-dot TABLE (m × pqK² entries, broadcast):
   *   approx(a,b) = Σ_mi T[mi][ca,cb] / (√Σ T[mi][ca,ca] · √Σ T[mi][cb,cb])
   * The 100 TB story is the byte count: a 64-dim float vector is 256 B;
   * its PQ code is m=8 small ids (~8 B) plus a shared 8×16×8-long
   * codebook — the index that feeds the cell-join shuffle shrinks ~30×,
   * and scoring is 8 table lookups instead of a 64-dim dot. All
   * arithmetic is deterministic: integer-sum centroids, one element-wise
   * mean division, left-fold table dots, fixed-order Σ over subspaces —
   * the DuckDB oracle replicates it bit-for-bit.
   */
  def topKIvfPq(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, rerank: Int = 0,
      trainMod: Long = 1, cellCap: Int = Int.MaxValue): DataFrame = {
    val pqRanked = pqRankedPairs(emb, idCol, vecCol,
      nCells, kmIters, dims, nProbe, m, pqK, pqIters, trainMod,
      topN = if (rerank <= 0) k else rerank, cellCap = cellCap)
    if (rerank <= 0) pqRanked
    else
      // PQ-shortlist-then-exact-rerank (the FAISS "refine" stage): codes
      // pick `rerank` candidates per query, true cosine re-ranks ONLY
      // those — the expensive float vectors touch rerank·n rows, not
      // the full candidate volume.
      rerankShortlist(emb, idCol, vecCol, pqRanked.select("a", "b"), k)
  }

  /** Exact-cosine re-rank of a candidate shortlist (a, b) — the refine
    * stage shared by every PQ config. Public so a tuning report can
    * materialize one shortlist and feed BOTH its top-k and its
    * pairs-exactly-scored cost from it (re-deriving the shortlist
    * re-trains the PQ codebooks).
    *
    * Join strategy is pinned to shuffle-hash with the VECTOR side as
    * build: `short` is O(n·candidates) rows but its static size
    * estimate is tiny (Generate/explode chains don't scale
    * sizeInBytes by fanout), so an unhinted planner broadcasts the
    * shortlist — measured at 40× vectors as a 2.3 GB driver collect
    * that kills the job. The hinted build side is one corpus
    * partition of (id, vec), bounded by partition sizing, and the
    * shortlist streams — the partitioned-index / streamed-queries
    * serving shape. */
  def rerankShortlist(emb: DataFrame, idCol: String, vecCol: String,
      short: DataFrame, k: Int): DataFrame = {
    val va = emb.select(col(idCol).as("a"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na")).hint("shuffle_hash")
    val vb = emb.select(col(idCol).as("b"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb")).hint("shuffle_hash")
    topNPerQuery(
      short.join(va, "a").join(vb, "b")
        .select(col("a"), col("b"),
          (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos")),
      k, "cos")
  }

  /** The PQ shortlist itself (a, b) at `shortK` per query — the rows
    * whose float vectors an IVF-PQ+rerank query actually touches; its
    * count is the honest "pairs exactly scored" cost of the config. */
  def ivfPqShortlist(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, shortK: Int,
      trainMod: Long = 1, centsPre: Option[DataFrame] = None): DataFrame =
    pqRankedPairs(emb, idCol, vecCol, nCells, kmIters, dims, nProbe, m, pqK,
      pqIters, trainMod, centsPre, topN = shortK)
      .select("a", "b")

  /** Exactly-once in-cell (query × home-member) pair frame from a
    * member assignment carrying (idCol, cell, isHome, …): the shared
    * mega-cell-safe pair generator of the PQ serving stages. JOIN on
    * cell — a skewed cell is a spillable join group, never an
    * unbounded per-row `collect_list` buffer. Both sides replay the
    * assignment tail; the expensive artifacts upstream (codebooks,
    * dense codes, residual tables) are already checkpointed inside
    * their builders, so no extra materialization barrier is paid;
    * `cellCap` (default: unbounded) keeps only the cellCap LOWEST-id
    * home members per cell (FAISS's max-codes-per-cell knob, the hard
    * |cell|·cap work bound); `xPred` (default: all rows) restricts the
    * QUERY side — the serving-batch shape: a small query batch probes
    * the full postings without generating corpus-wide pairs. Returns
    * (cell, x, y) struct pairs with x.id ≠ y.id, `member` evaluated on
    * both sides. */
  /** The `cap` LOWEST-id rows per cell — FAISS's max-codes-per-cell
    * bound, shared by every IVF serving path and SemDeDup's keeper
    * side. Encoded as a SLIM (cell, id) bounded aggregate
    * ([[graft.functions.Aggregators.collectMinK]]: map-side combine,
    * ≤ cap longs of state per cell per mapper) + a LEFT SEMI join
    * back, never a `row_number` window over the member table: the
    * window form shuffles and then SORTS every heavy
    * (vector/code-carrying) member row by cell, and a degenerate
    * mega-cell lands whole on one task — here the heavy rows skip the
    * capping pass entirely and the semi-join is an AQE skew-split
    * candidate. Same set as the window (ids are unique per cell), so
    * every downstream ranking is row-identical; no-op when the cap is
    * unbounded (the overwhelming default). */
  private def capLowestPerCell(df: DataFrame, idCol: String,
      cap: Int): DataFrame =
    if (cap == Int.MaxValue) df
    else {
      val keep = df.select(col("cell"), col(idCol))
        .groupBy("cell")
        .agg(graft.functions.Aggregators.collectMinK(
          col(idCol).cast("long"), cap).as("__ids"))
        .select(col("cell"), explode(col("__ids")).as(idCol))
      df.join(keep, Seq("cell", idCol), "left_semi")
    }

  private def inCellStructPairs(am: DataFrame, member: Column,
      idCol: String, cellCap: Int, xPred: Column = lit(true)): DataFrame = {
    val homeAll = am.filter(col("isHome"))
    val home = capLowestPerCell(homeAll, idCol, cellCap)
      .select(col("cell"), member.as("y"))
    am.filter(xPred).select(col("cell"), member.as("x"))
      .join(home, "cell")
      .filter(col("x.id") =!= col("y.id"))
  }

  /** All IVF candidates ranked per query by the PQ table score. */
  private def pqRankedPairs(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, trainMod: Long = 1,
      centsPre: Option[DataFrame] = None, topN: Int = 16,
      cellCap: Int = Int.MaxValue): DataFrame = {
    val subDim = dims / m
    val embQ = emb.select(col(idCol), quantize(col(vecCol)).as("qq"))

    // all m codebooks trained jointly (one Lloyd round per iteration
    // covers every subspace); the coarse quantizer is trained here or
    // arrives pre-trained (`centsPre` — a tuning sweep trains 16-cell
    // k-means ONCE and shares it across the ivf_kmeans / ivf_pq /
    // ivf_pq_res configs)
    val cbAll = pqCodebooksAll(embQ, idCol, m, subDim, pqK, pqIters, trainMod)
    val coarse = centsPre.getOrElse(kmeansCentroids(
      embQ.select(col(idCol), col("qq").as("q")), idCol, nCells, kmIters,
      dims, trainMod))
    pqRankedPairsFrom(emb, idCol, vecCol, dims, nProbe, m, pqK,
      coarse, cbAll, topN, cellCap)
  }

  /** Train the two constant-size artifacts of an IVF-PQ index — the
    * coarse k-means centroids ((cid, cq), nCells rows) and the jointly
    * trained per-subspace PQ codebooks ((mi, cid, cq, cnt), m·pqK
    * rows) — WITHOUT building the serving plan. The nightly-train half
    * of the persisted-PQ lifecycle: persist both via
    * [[graft.sources.IndexStore.saveCentroids]] /
    * [[graft.sources.IndexStore.savePqCodebooks]], then serve any
    * later batch with [[topKIvfPqServe]] — zero training stages in any
    * restart's plan. */
  def pqTrainArtifacts(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, kmIters: Int, dims: Int, m: Int, pqK: Int, pqIters: Int,
      trainMod: Long = 1): (DataFrame, DataFrame) = {
    val embQ = emb.select(col(idCol), quantize(col(vecCol)).as("qq"))
    val cents = kmeansCentroids(
      embQ.select(col(idCol), col("qq").as("q")), idCol, nCells, kmIters,
      dims, trainMod)
    val cbAll = pqCodebooksAll(embQ, idCol, m, dims / m, pqK, pqIters,
      trainMod)
    (cents, cbAll)
  }

  /** IVF-PQ top-k served ENTIRELY from pre-trained artifacts (the
    * [[topKIvfPq]] read path with both quantizers arriving trained —
    * e.g. loaded from [[graft.sources.IndexStore]] after a restart):
    * the plan assigns cells and codes against the given tables and
    * scores/reranks exactly as [[topKIvfPq]] does, but contains ZERO
    * Lloyd rounds. Bit-identical to serving from the training session
    * because both artifacts round-trip exactly (integer centroid sums,
    * long codes). */
  def topKIvfPqServe(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, dims: Int, nProbe: Int, m: Int, pqK: Int,
      cents: DataFrame, cbAll: DataFrame, rerank: Int = 0,
      cellCap: Int = Int.MaxValue, queryPred: Column = lit(true)): DataFrame = {
    val ranked = pqRankedPairsFrom(emb, idCol, vecCol, dims, nProbe, m, pqK,
      cents, cbAll, if (rerank <= 0) k else rerank, cellCap, queryPred)
    if (rerank <= 0) ranked
    else
      rerankShortlist(emb, idCol, vecCol, ranked.select("a", "b"), k)
  }

  /** The serving half of [[pqRankedPairs]]: the `topN` best candidates
    * per query by the PQ table score against an ALREADY-TRAINED coarse
    * quantizer + codebook pair, as (a, rank, b). */
  private def pqRankedPairsFrom(emb: DataFrame, idCol: String,
      vecCol: String, dims: Int, nProbe: Int, m: Int, pqK: Int,
      coarse: DataFrame, cbAll: DataFrame, topN: Int, cellCap: Int,
      queryPred: Column = lit(true)): DataFrame = {
    val subDim = dims / m
    val embQ = emb.select(col(idCol), quantize(col(vecCol)).as("qq"))

    // codes assigned in one pivot pass, then the constant-size index
    // COLLECTED and served as dense literals (see PqIndex — the FAISS
    // ADC-table shape)
    val idx = collectPqIndex(cbAll, m, pqK)
    val codesWide = denseCodes(
      pqAssignCodes(embQ, idCol, cbAll, m, subDim), idCol, idx)
    def ccAt(mi: Int, i: Column, j: Column): Column =
      graft.functions.VectorFunctions.adcLookup(idx.ccFlat,
        ((lit(mi) * pqK + i) * pqK + j).cast("int"))

    // per-vector approx norm² = Σ_mi T[mi][c,c] (diagonal lookups)
    val withVn = codesWide.withColumn("vn",
      sqrt((0 until m).map(mi => ccAt(mi, col(s"c$mi"), col(s"c$mi")))
        .reduce(_ + _)))

    // IVF candidates (exactly-once emission, as in topKIvfKmeans),
    // carrying dense codes + approx norm instead of the vector
    // the slim member table (id, cell, isHome, vn, m codes — no float
    // vector) is CHECKPOINTED before the pair join: both join sides of
    // inCellStructPairs read the materialized rows instead of each
    // replaying the assignment + code-pivot tail (two shuffles apiece).
    // Lazily: it materializes inside the first consumer's job instead
    // of scheduling a blocking construction job of its own.
    val assign = graft.engine.StaticPlan.ckptFreshLazy(
      ivfAssignFromCentroids(emb, idCol, vecCol, coarse, nProbe)
        .select(col(idCol), col("cell"), col("isHome"))
        .join(withVn, idCol))
    val member = struct(
      col(idCol).as("id") +: col("isHome") +: col("vn") +:
        (0 until m).map(mi => col(s"c$mi")): _*)
    val pairs = inCellStructPairs(assign, member, idCol, cellCap, queryPred)
    // scoring = m literal-table lookups summed in fixed order — pure
    // projection, no joins, fully inside whole-stage codegen
    val score = (0 until m)
      .map(mi => ccAt(mi, col(s"x.c$mi"), col(s"y.c$mi"))).reduce(_ + _) /
      (col("x.vn") * col("y.vn"))
    topNPerQuery(
      pairs.select(col("x.id").as("a"), col("y.id").as("b"), score.as("pqcos")),
      topN)
  }

  /** Per-query top-n of a scored pair frame (a, b, scoreCol) as
    * (a, rank, b) — the bounded-heap aggregate replacement for
    * `row_number() OVER (PARTITION BY a ORDER BY scoreCol DESC, b)` +
    * `rank <= n`: the window encoding SORTS the entire scored-pair
    * table (measured as the single biggest stage of the PQ serve plan
    * at the sf10 rung), while the aggregate's per-group state never
    * exceeds n rows and map-side combine caps what the shuffle
    * carries. Row-identical by the total order (score desc, b asc) —
    * see [[graft.functions.TopKByScoreExpr]]. Since round
    * 14 it backs EVERY per-query ranking in this file (brute force,
    * int8, IVF, serve, rerank, LSH) — the oracles keep the window
    * form, and the green hashes are the row-identity proof at each
    * gate SF. `b` must be LongType (every production id is). */
  private def topNPerQuery(scored: DataFrame, n: Int,
      scoreCol: String = "pqcos"): DataFrame =
    scored.groupBy("a")
      .agg(graft.functions.Aggregators.topKByScore(
        col(scoreCol), col("b"), n).as("__top"))
      .select(col("a"), posexplode(col("__top")).as(Seq("__pos", "b")))
      .select(col("a"), (col("__pos") + 1).cast("long").as("rank"), col("b"))

  /**
   * Residual-encoded IVF-PQ top-k (the second half of Jégou et al. 2011
   * §IV, FAISS's `IndexIVFPQ` default): PQ codebooks are trained on the
   * RESIDUAL x − μ(cell(x)) instead of x itself. Residuals are far more
   * isotropic than raw vectors (the IVF centroid has already absorbed
   * the coarse structure), so the same m×pqK code budget spends its
   * resolution on the part of x the cell id does not already encode.
   *
   * Determinism: the cell mean is the FLOOR-integer mean
   * μ'[d] = floor(Σ q[d] / n) — distributed sums stay integer (exact,
   * order-free) and the single floor-of-double-division is exact for
   * the small rationals involved — so the residual q − μ' is an integer
   * vector and the whole codebook pipeline reuses [[pqCodebooksAll]]
   * unchanged. Approximate dot uses the exact expansion
   *   x̂a·x̂b = μ'a·μ'b + Σ_m (μ'a⊥cw_bm + μ'b⊥cw_am + cw_am·cw_bm)
   * (cross-subspace codeword terms vanish: codewords live in disjoint
   * subspaces), served from LINEAR driver-resident state: the μμ term
   * folds on the fly over the (nCells × dims) mean matrix
   * ([[graft.functions.MatRowDot]] — a dense cell×cell table would be
   * O(cells²) plan state and die of serialization size at scale),
   * cell×codeword (m·nCells·pqK) and codeword×codeword (m·pqK²) stay
   * precomputed lookups; pair scoring is 3m lookups + one dims-mult
   * fold, the float vector still never enters the cell shuffle.
   */
  def topKIvfPqResidual(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, rerank: Int = 0,
      trainMod: Long = 1, cellCap: Int = Int.MaxValue): DataFrame = {
    val ranked = pqResidualRankedPairs(emb, idCol, vecCol,
      nCells, kmIters, dims, nProbe, m, pqK, pqIters, trainMod,
      topN = if (rerank <= 0) k else rerank, cellCap = cellCap)
    if (rerank <= 0) ranked
    else
      rerankShortlist(emb, idCol, vecCol, ranked.select("a", "b"), k)
  }

  /** The residual-PQ shortlist (a, b) at `shortK` per query — the pairs
    * whose float vectors a residual-PQ+rerank query actually touches
    * (the config's honest exact-scored cost, as [[ivfPqShortlist]]). */
  def ivfPqResidualShortlist(emb: DataFrame, idCol: String, vecCol: String,
      nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, shortK: Int,
      trainMod: Long = 1, centsPre: Option[DataFrame] = None): DataFrame =
    pqResidualRankedPairs(emb, idCol, vecCol, nCells, kmIters, dims, nProbe,
      m, pqK, pqIters, trainMod, centsPre, topN = shortK)
      .select("a", "b")

  /** All IVF candidates ranked by the residual-PQ table score.
    * Mirrors [[pqRankedPairs]]; differs in the training input
    * (integer residuals vs the home-cell floor mean) and the score
    * (μμ + per-subspace μ·cw cross terms + cw·cw, fixed left-assoc
    * order so the oracle replays the identical IEEE sequence). */
  private def pqResidualRankedPairs(emb: DataFrame, idCol: String,
      vecCol: String, nCells: Int, kmIters: Int, dims: Int, nProbe: Int,
      m: Int, pqK: Int, pqIters: Int, trainMod: Long = 1,
      centsPre: Option[DataFrame] = None, topN: Int = 16,
      cellCap: Int = Int.MaxValue): DataFrame = {
    val subDim = dims / m
    val embQ = emb.select(col(idCol), quantize(col(vecCol)).as("qq"))

    // train the coarse quantizer ONCE (or accept it pre-trained);
    // assignment + probing reuse it
    val cents = centsPre.getOrElse(kmeansCentroids(
      embQ.select(col(idCol), col("qq").as("q")),
      idCol, nCells, kmIters, dims, trainMod))
    val assign = ivfAssignFromCentroids(emb, idCol, vecCol, cents, nProbe)
      .select(col(idCol), col("cell"), col("isHome"))
    val home = assign.filter(col("isHome")).select(col(idCol), col("cell"))

    // floor-integer cell means (exact in both engines; see Scaladoc):
    // ONE full-corpus aggregate, COLLECTED — nCells rows of dims longs,
    // a constant-size index artifact like the codebooks below
    val sumCols = (0 until dims).map(d => sum(element_at(col("qq"), d + 1)).as(s"s$d"))
    val muRows = graft.engine.StaticPlan.scopedAqeOff(emb.sparkSession) {
      embQ.join(home, idCol).groupBy("cell")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .select(col("cell"), array((0 until dims).map(d =>
          floor(col(s"s$d").cast("double") / col("n")).cast("long")): _*).as("mu"))
        .collect()
    }
    val cellIds: Array[Long] = muRows.map(_.getLong(0)).sorted
    val cellIdx: Map[Long, Int] = cellIds.zipWithIndex.toMap
    val muByCell: Map[Long, Array[Long]] =
      muRows.map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val muD: Array[Array[Double]] = cellIds.map(muByCell(_).map(_.toDouble))
    val nC = cellIds.length

    // integer residual vs the HOME cell mean — the mean arrives as a
    // literal map (cell → μ'), so the residual pass is scan + project
    val muLit = typedlit(muByCell.map { case (k, v) => k -> v.toSeq })
    val resid = embQ.join(home, idCol)
      .select(col(idCol), col("cell").as("hc"),
        zip_with(col("qq"), element_at(muLit, col("cell")), (x, y) => x - y).as("rq"))
      .transform(graft.engine.StaticPlan.ckptFreshLazy)

    // all m residual codebooks trained jointly (distributed, sampled),
    // then the constant-size index collected; ALL three ADC table
    // families (cell×cell, cell×codeword, codeword×codeword) are
    // driver-computed dense literals — scoring needs no joins at all
    val residQ = resid.select(col(idCol), col("hc"), col("rq").as("qq"))
    val cbAll = pqCodebooksAll(residQ, idCol, m, subDim, pqK, pqIters, trainMod)
    val idx = collectPqIndex(cbAll, m, pqK)
    // μμ term computed ON THE FLY from the flattened (cells × dims)
    // mean matrix — LINEAR index state. The old dense cell×cell lookup
    // table was O(cells²) plan state (33 MB at sf10's 2,048 derived
    // cells, ~3 GB a decade later — plan death long before 100 TB);
    // MatRowDot replays the identical sequential fold the precompute
    // ran (dotD), so scores are bit-identical and the oracle's rmm CTE
    // mirrors unchanged.
    val muFlat = new Array[Double](nC * dims)
    for (ci <- 0 until nC)
      System.arraycopy(muD(ci), 0, muFlat, ci * dims, dims)
    val mcFlat = new Array[Double](m * nC * pqK)
    for (mi <- 0 until m; ci <- 0 until nC; k <- 0 until pqK)
      mcFlat((mi * nC + ci) * pqK + k) = dotD(
        java.util.Arrays.copyOfRange(muD(ci), mi * subDim, (mi + 1) * subDim),
        idx.means(mi)(k))
    val cellIdxLit = typedlit(cellIdx)
    def ccAt(mi: Int, i: Column, j: Column): Column =
      graft.functions.VectorFunctions.adcLookup(idx.ccFlat,
        ((lit(mi) * pqK + i) * pqK + j).cast("int"))
    def mcAt(mi: Int, hi: Column, k: Column): Column =
      graft.functions.VectorFunctions.adcLookup(mcFlat,
        ((lit(mi) * nC + hi) * pqK + k).cast("int"))
    def tmmAt(hi: Column, hj: Column): Column =
      graft.functions.VectorFunctions.matRowDot(muFlat, dims,
        hi.cast("int"), hj.cast("int"))

    // dense codes + home-cell index + inline approx norm
    // ‖x̂‖ = √(μμ + Σ_m (μcw + μcw + cwcw)), summed in the same
    // left-assoc order the pair score uses
    val codesWide = resid
      .select(col(idCol), element_at(cellIdxLit, col("hc")).as("hi"))
      .join(denseCodes(pqAssignCodes(residQ, idCol, cbAll, m, subDim),
        idCol, idx), idCol)
    val vn2 = (Seq(tmmAt(col("hi"), col("hi"))) ++ (0 until m).flatMap { mi =>
      val nmc = mcAt(mi, col("hi"), col(s"c$mi"))
      Seq(nmc, nmc, ccAt(mi, col(s"c$mi"), col(s"c$mi")))
    }).reduce(_ + _)
    val coded = codesWide.withColumn("vn", sqrt(vn2))

    // exactly-once in-cell pair generation carrying dense codes — at
    // 100 TB the cell shuffle moves (id, isHome, hi, vn, m small ints)
    // per member, smaller still than the raw-cid encoding
    val member = struct(
      col(idCol).as("id") +: col("isHome") +: col("hi") +: col("vn") +:
        (0 until m).map(mi => col(s"c$mi")): _*)
    // slim member table checkpointed before the pair join (see the
    // raw-PQ site): the residual code-pivot tail materializes once
    val pairs = inCellStructPairs(
      graft.engine.StaticPlan.ckptFreshLazy(assign.join(coded, idCol)),
      member, idCol, cellCap)
    // x̂a·x̂b = μμ + Σ_m (μ·cw + μ·cw + cw·cw) — 3m+1 literal lookups
    // in the same left-assoc order as before, pure codegen projection
    val snum = (Seq(tmmAt(col("x.hi"), col("y.hi"))) ++
      (0 until m).flatMap(mi => Seq(
        mcAt(mi, col("x.hi"), col(s"y.c$mi")),
        mcAt(mi, col("y.hi"), col(s"x.c$mi")),
        ccAt(mi, col(s"x.c$mi"), col(s"y.c$mi"))))).reduce(_ + _)
    val score = when(col("x.vn") * col("y.vn") === lit(0.0), lit(0.0))
      .otherwise(snum / (col("x.vn") * col("y.vn")))
    topNPerQuery(
      pairs.select(col("x.id").as("a"), col("y.id").as("b"), score.as("pqcos")),
      topN)
  }

  /**
   * LSH-bucketed cosine near-dup pairs — the scale path for
   * [[cosinePairs]]: random-hyperplane sign buckets confine the
   * quadratic pair generation to within-bucket, so the whole job is one
   * narrow projection + one keyed shuffle (groupBy bucket) instead of an
   * O(n²) cross join. Recall < 1 by construction (pairs straddling a
   * hyperplane are missed); `nProbes` single-bit-flip probe copies
   * extend candidates to Hamming-distance-1 bucket pairs — the recall
   * knob that does NOT coarsen buckets (measured on the fixture: 3
   * planes alone 13/59 true pairs at cos≥0.4, +3 probes 41/59). The
   * exact-cosine filter keeps precision at 1 — survivors are true
   * near-dups. A pair is emitted exactly once without a distinct pass:
   * for Hamming-1 pairs the `a < b` filter selects exactly one of the
   * two (probe-copy, home) meetings; for same-bucket pairs the probe
   * copies never meet a home copy elsewhere.
   */
  def cosinePairsLsh(emb: DataFrame, idCol: String, vecCol: String,
      minCos: Double, nPlanes: Int, dims: Int, nProbes: Int = 0): DataFrame = {
    val home = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), nPlanes, dims).as("home"))
    val copies = home.select(col(idCol), col(vecCol), col("home"),
      explode(array(col("home") +:
        (0 until nProbes).map(p => col("home").bitwiseXOR(lit(1L << p))): _*))
        .as("bucket"))
    // the member norm rides the bucket struct as one extra double —
    // the quadratic in-bucket stage pays one traversal per pair
    copies
      .groupBy("bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"),
        (col("home") === col("bucket")).as("isHome"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("x"), col("ms"))
      .select(col("x"), explode(col("ms")).as("y"))
      .filter(col("y.isHome") && col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv"))).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /**
   * Multi-probe LSH top-k: each vector is announced in its home bucket
   * AND the `nProbes` single-bit-flip neighbor buckets, so a query also
   * sees vectors whose home bucket differs by one hyperplane — the
   * standard recall lift without adding tables. Pair (a,b) is generated
   * exactly once (in b's home bucket, where a has exactly one copy), so
   * no distinct pass is needed before ranking. Same one-shuffle
   * groupBy skeleton as [[topKLsh]]; the probe copies multiply the
   * shuffled rows by (nProbes+1), not the quadratic term.
   */
  def topKLshMp(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dims: Int, nProbes: Int): DataFrame = {
    val home = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), nPlanes, dims).as("home"))
    val copies = home.select(col(idCol), col(vecCol), col("home"),
      explode(array(col("home") +:
        (0 until nProbes).map(p => col("home").bitwiseXOR(lit(1L << p))): _*))
        .as("bucket"))
    val pairs = copies
      .groupBy("bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"),
        (col("home") === col("bucket")).as("isHome"))).as("ms"))
      .select(explode(col("ms")).as("x"), col("ms"))
      .select(col("x"), explode(col("ms")).as("y"))
      // y must be at home: candidates of a = vectors whose home bucket
      // lies in a's probe neighborhood (symmetric by xor).
      .filter(col("y.isHome") && col("x.id") =!= col("y.id"))
    val scored = pairs.select(
      col("x.id").as("a"), col("y.id").as("b"),
      (dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv"))).as("cos"))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }

  /**
   * Multi-table LSH: L INDEPENDENT hyperplane sets (table t uses planes
   * t·nPlanes .. t·nPlanes+nPlanes-1), candidates = pairs sharing ANY
   * table's bucket. Recall compounds roughly as 1-(1-r)^L while
   * candidate cost grows ~linearly in L — the classic training-free
   * recall lever. Exactly-once float work: candidate pairs are
   * dedup'd across tables BEFORE the cosine, so a pair caught by many
   * tables is scored once.
   *
   * Scale shape: per-(table, bucket) groupBy (keyed shuffle), pair
   * explosion inside buckets, one distinct (second keyed shuffle), one
   * ranking window. No all-pairs term, no training, no driver state.
   */
  def topKLshMulti(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dims: Int, nTables: Int,
      planeStride: Int = 1, bucketCap: Int = Int.MaxValue): DataFrame =
    rerankShortlist(emb, idCol, vecCol,
      lshMultiCandidates(emb, idCol, vecCol, nPlanes, dims, nTables,
        planeStride, bucketCap), k)

  /** The multi-table LSH candidate set (a, b), x≠y meetings dedup'd
    * across tables — BARE IDS ONLY: the cross-table distinct moves
    * 16 bytes per pair instead of two full vectors (~512 B at 64
    * dims), and the float vectors are joined back exactly once by the
    * shared [[rerankShortlist]] scoring stage. Public so a tuning
    * report can materialize the candidates once and feed BOTH the
    * top-k and the candidate-count cost from the same frame.
    * `bucketCap` (default: unbounded) keeps only the cap LOWEST ids
    * per (table, bucket) inside the aggregation buffer
    * ([[graft.functions.Aggregators.collectMinK]] — the
    * TextOps.lshCandidatesCapped discipline): a degenerate bucket
    * (near-identical vectors colliding on every hyperplane) costs
    * O(cap) memory and O(cap²) pairs instead of going quadratic in
    * the bucket; buckets at or under the cap — the overwhelming
    * case — produce identical candidates, and overflow vectors can
    * still meet in their other tables' buckets. */
  def lshMultiCandidates(emb: DataFrame, idCol: String, vecCol: String,
      nPlanes: Int, dims: Int, nTables: Int,
      planeStride: Int = 1, bucketCap: Int = Int.MaxValue): DataFrame = {
    // plane indexing: stride 1 = consecutive blocks (table t owns
    // planes t·nPlanes …) — the historical layout; stride > 1 =
    // INTERLEAVED (table t's plane j is index t + j·stride, caller
    // passes stride = nTables), which keeps each (t, j) pair's
    // hyperplane FIXED as nPlanes varies — required when nPlanes is
    // corpus-derived ([[lshPlanesFor]]), so the oracle can unroll
    // constant coefficients to maxPlanes and gate by the derived count
    def bucketOf(t: Int): Column =
      if (planeStride == 1) lshBucket(col(vecCol), nPlanes, dims, t * nPlanes)
      else lshBucket(col(vecCol), nPlanes, dims, t, planeStride)
    val tables = array((0 until nTables).map(t =>
      struct(lit(t).as("t"), bucketOf(t).as("bucket"))): _*)
    val bucketed = emb.select(col(idCol), explode(tables).as("tb"))
      .select(col(idCol), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val members =
      if (bucketCap == Int.MaxValue) collect_list(col(idCol))
      else graft.functions.Aggregators.collectMinK(
        col(idCol).cast("long"), bucketCap)
    bucketed
      .groupBy("t", "bucket")
      .agg(members.as("ms"))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** LSH-bucketed cosine top-k: the quadratic work stays within buckets.
    * Pairs are generated by a bucket groupBy + within-bucket explode (one
    * scan, one shuffle) instead of a self-join, which would execute the
    * hyperplane projection twice. */
  def topKLsh(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nPlanes: Int, dims: Int): DataFrame = {
    val bucketed = emb.select(col(idCol), col(vecCol),
      lshBucket(col(vecCol), nPlanes, dims).as("bucket"))
    val pairs = bucketed
      .groupBy("bucket")
      .agg(collect_list(struct(col(idCol).as("id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nv"))).as("ms"))
      .select(explode(col("ms")).as("x"), col("ms"))
      .select(col("x"), explode(col("ms")).as("y"))
      .filter(col("x.id") =!= col("y.id"))
    val scored = pairs.select(
      col("x.id").as("a"), col("y.id").as("b"),
      (dot(col("x.v"), col("y.v")) / (col("x.nv") * col("y.nv"))).as("cos"))
    topNPerQuery(scored.select("a", "b", "cos"), k, "cos")
  }
}
