package graft.queries

import graft.Tables
import graft.ml.Similarity
import graft.obs.QueryProfile
import graft.multimodal.Multimodal
import graft.text.{Sketches, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Training-data pipeline operators over the `documents` / `embeddings`
 * fixtures: dedup (exact, MinHash+LSH, SimHash, n-gram Jaccard,
 * embedding cosine), similarity search (brute-force and LSH top-k),
 * and text analysis (language ID, quality score, token stats,
 * fingerprint). Every query has an exact DuckDB oracle: the SQL is
 * generated from the same constants as the Spark pipeline.
 */
object NorthStarQueries {
  import EventQueries.QFn

  // ---- shared pipeline constants (Spark and oracle both derive from these)
  private val K = 3            // shingle width
  private val H = 12           // minhash signature length
  private val BANDS = 4
  private val R = 3            // rows per band
  private val NBITS = 16       // simhash bits
  // Per-bucket cap for LSH pair generation: far above any bucket this
  // corpus produces (results identical to uncapped — the oracle is
  // uncapped), but a degenerate boilerplate key at 100 TB is bounded at
  // C(cap,2) pairs instead of quadratic. See TextOps.lshCandidatesCapped.
  private val LSH_BUCKET_CAP = 1024
  // Long-window shingle width for the substring-dedup proxy: at K=3 the
  // synthetic corpus shares templated 3-grams everywhere (449/500 docs >
  // 0.5 shared fraction — no signal); at 8 tokens only true near-dup
  // spans collide (49/500 docs, all ~0.8+), mirroring the ~50-token
  // windows of Lee et al. 2022.
  private val K_DUP = 8
  private val PLANES = 8       // LSH hyperplanes (ANN top-k)
  private val DEDUP_PLANES = 3 // coarser buckets for near-dup pairs
  private val DEDUP_PROBES = 3 // probe every plane flip on the dedup path
  private val NPROBES = 2      // multi-probe bit flips (ANN top-k)
  private val DIMS = 64        // embedding dims
  private val KM_ITERS = 2     // Lloyd rounds (probe-measured: 3rd adds nothing)
  private val SEM_TAU = 0.4    // SemDeDup within-cell cosine threshold
  private val SPAN = 10        // span dedup width (tokens, non-overlapping)
  private val DSIR_B = 256     // DSIR hashed-feature buckets
  private val PACK_L = 32      // packed training-sequence length (tokens)
  private val BPE_MERGES = 8   // BPE training rounds (q_bpe_train)
  private val EDIT_BLOCK_CAP = 128 // edit-distance dedup: per-(block, band)
                               // member cap — bounds the quadratic term
                               // (binds at sf0.1: max block 236)
  // Stop-shingle document-frequency cap (Broder 1997's discipline for
  // the resemblance sketch): a shingle present in df docs contributes
  // df² pairs to the inverted-index self-join, and a TEMPLATED shingle
  // (fixed fraction f of the corpus) makes that (f·n)² — quadratic. An
  // ABSOLUTE cap is the point: hot shingles are boilerplate, not
  // signal, so dropping them bounds every join key at cap² pairs
  // forever. Binds at sf0.1 (max df 25, p99 = 18), not at sf0.01
  // (max df 7) — the gate exercises both branches.
  private val STOP_SHINGLE_DF = 16L
  private val UNI_PLEN = 4     // unigram tokenizer: max candidate piece length
  private val UNI_MIN_CNT = 3L // unigram: min candidate count (len >= 2)
  private val UNI_MIN_USE = 2L // unigram: min round-1 usage to survive pruning
  private val UNI_MAX_WORD = 10 // unigram: words longer than this are excluded
  private val UNI_TARGET = 48  // unigram size-mode: total vocab budget (singles + top multis)
                                // from training/apply in BOTH engines (the
                                // oracle unrolls one Viterbi-DP CTE per position)
  private val BLOOM_BITS = 131072 // decontamination Bloom filter size
  private val SRC_CAP = 15     // per-source doc cap (q_source_cap)
  // Exact/ground-truth sides (recall, eval, audits) query only every
  // probeMod-th vector: broadcast probe-sample × corpus instead of
  // corpus × corpus, the only exact-cosine shape that survives corpus
  // growth. The modulus is DERIVED from the corpus
  // (Similarity.probeModFor: smallest 16·2^k with expected probes
  // n/mod ≤ PROBE_TGT) — a pinned modulus makes the ground-truth term
  // (n/mod)·n, quadratic again (the r11 sf1 rung measured q_ann_tuning
  // 15.8× at 10× data); the derived modulus doubles with the corpus so
  // the term stays O(PROBE_TGT·n). Tuned so n=500 (sf0.001/0.01)
  // derives the historical 16 and n=2000 (sf0.1) derives 64 — the
  // derivation BINDS at the driver gate's own fixtures.
  private val PROBE_TGT = 32L
  private def probeModOf(e: DataFrame): Long =
    Similarity.probeModFor(e.count(), PROBE_TGT)
  // In-query index TRAINING (k-means centroids, PQ codebooks, tokenizer
  // rule learning) reads only every trainMod-th row (the FAISS
  // discipline: codebooks are distribution statistics — train on a
  // hash-sample, assign/encode/rerank full-corpus). Like PROBE_TGT the
  // modulus is DERIVED from the corpus (Similarity.trainModFor:
  // smallest 4·2^k with expected training rows n/mod ≤ TRAIN_TGT) — a
  // pinned modulus trains on a fixed FRACTION of the corpus forever
  // (25% of 100 TB for statistics ~256 rows saturate). Tuned so the
  // gate's fixtures BIND: n=500 (sf0.001/0.01 embeddings, and the
  // sf0.001/0.01 documents) derives the historical 4, n=2000 (sf0.1
  // embeddings) derives 8, n=5000 (sf0.1 documents) derives 32 — and
  // the derived sample always covers the largest seed count (64 cells)
  // for any corpus ≥ 256 rows (sample > TRAIN_TGT/2 once the ladder
  // grows, n/4 ≥ 64 below that).
  private val TRAIN_TGT = 256L
  private def trainModOf(df: DataFrame): Long =
    Similarity.trainModFor(df.count(), TRAIN_TGT)
  // Count-min sketch (q_heavy_hitters): D independent hash rows of W
  // buckets, h_j(fp) = (fp·a_j + b_j) mod 1000003 mod W. W = 32 is
  // deliberately tight for the 31-type fixture vocabulary so collisions
  // (the sketch's overestimates) are actually exercised; production
  // uses the same plan with W = 2^20+.
  private val CMS_D = 4
  private val CMS_W = 32
  private val CMS_A = Seq(31L, 131L, 257L, 8191L)
  private val CMS_B = Seq(7L, 101L, 1009L, 524287L)
  private val CMS_TOPK = 20
  private val LSHM_PLANES = 4  // multi-table LSH: planes per table (tuning row)
  private val LSHM_TABLES = 4  // multi-table LSH: independent tables
  // corpus-derived plane sizing (Similarity.lshPlanesFor): expected
  // rows per bucket track these targets as the corpus grows; tuned so
  // sf0.01 (500 vectors) derives exactly the historical constants
  // (4 and 3 planes)
  private val LSH_TGT_MULTI = 48L   // target rows/bucket/table
  private val LSH_TGT_DEDUP = 192L  // target rows/bucket (near-dup pairs)
  // corpus-derived IVF cell sizing (Similarity.ivfCellsFor): expected
  // rows per cell track this target as the corpus grows; 128 derives
  // the historical 16 cells at sf0.01 (500/1500 vectors), 128 cells at
  // sf0.1 — the family-wide production default (q_semdedup, the PQ
  // coarse quantizer, q_ann_ivf_sized); q_ann_tuning and the
  // single-knob IVF queries stay PINNED at 16 for recall comparability
  private val IVF_TGT_CELL = 128L
  private val PQ_M = 8         // PQ subspaces (64 dims -> 8 × 8)
  private val PQ_K = 16        // PQ codewords per subspace
  private val PQ_ITERS = 1     // PQ Lloyd rounds
  private val PQ_RERANK = 48   // exact-rerank shortlist size (FAISS refine)

  // ---- oracle SQL fragments
  private val TOKS =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"
  private val DOC_TOKS = s"tok AS (SELECT doc_id, $TOKS AS toks FROM documents)"
  /** Per-token polynomial hashes (TextOps.tokenFingerprints mirror). */
  private val TOKFPS =
    "tokfp AS (SELECT doc_id, list_transform(toks, t -> " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, length(t) + 1), i -> " +
      "CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))), " +
      "(acc, x) -> (acc * 31 + x) % 1000000007)) AS fps FROM tok)"
  /** Shingle ids combining k=3 token hashes (TextOps.shingleSidsFromFps). */
  private val SHSIDS =
    "sh AS (SELECT doc_id, unnest(CASE WHEN len(fps) >= 3 THEN " +
      "list_transform(range(1, len(fps) - 1), i -> " +
      "((((fps[CAST(i AS INT)] % 1000000007) * 8191 + fps[CAST(i + 1 AS INT)]) % 1000000007) " +
      "* 8191 + fps[CAST(i + 2 AS INT)]) % 1000000007) " +
      "ELSE [] END) AS sid FROM tokfp)"
  private val EDGES_DISTINCT = "edges AS (SELECT DISTINCT doc_id, sid FROM sh)"

  /** Generic-k shingle-id CTE (named `name`) over `tokfp` — the SHSIDS
    * formula for arbitrary k via list_reduce; identical fold order to
    * TextOps.shingleSidsFromFps / the VectorFunctions.shingleSids
    * kernel: acc = (acc * 8191 + fp) mod 1e9+7, acc0 = 0. */
  private def sqlShSidsK(k: Int, name: String): String =
    s"$name AS (SELECT doc_id, unnest(CASE WHEN len(fps) >= $k THEN " +
      // range() is end-EXCLUSIVE (Spark's sequence() is inclusive):
      // len - (k-2) excluded ⇒ windows 1 .. len-k+1.
      s"list_transform(range(1, len(fps) - ${k - 2}), i -> " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(0, $k), j -> fps[CAST(i + j AS INT)])), " +
      "(acc, x) -> (acc * 8191 + x) % 1000000007)) " +
      "ELSE CAST([] AS BIGINT[]) END) AS sid FROM tokfp)"
  private val UNIGRAMS =
    "ug AS (SELECT doc_id, unnest(fps) AS sid FROM tokfp), " +
      "edges AS (SELECT DISTINCT doc_id, sid FROM ug)"

  /** Sequential-fold dot product in DuckDB — same op order as Similarity.dot. */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, x) -> acc + x)"

  private def sqlCos(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  /** Int8 scalar quantization CTEs (Similarity.quantizeInt8 mirror):
    * `qq` = (vec_id, embedding, q) with q_i = floor(x_i / (max|x|/127)). */
  private val QUANT8 =
    "q0 AS (SELECT vec_id, embedding, " +
      "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / " +
      "CAST(127.0 AS DOUBLE) AS s FROM embeddings), " +
      "qq AS (SELECT vec_id, embedding, list_transform(embedding, x -> " +
      "CASE WHEN s = CAST(0 AS DOUBLE) THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(floor(CAST(x AS DOUBLE) / s) AS BIGINT) END) AS q FROM q0)"

  /** Repetition-stat CTEs (TextOps.repetitionStats mirror), built on
    * `tokfp`: `m` = per-doc multiplicity counts + duplicate/top-bigram
    * fractions. Bigram id = shingle id at k=2. */
  private val REP_CTES =
    "bg AS (SELECT doc_id, fps, CASE WHEN len(fps) >= 2 THEN " +
      "list_transform(range(1, len(fps)), i -> " +
      "((fps[CAST(i AS INT)] % 1000000007) * 8191 + fps[CAST(i + 1 AS INT)]) % 1000000007) " +
      "ELSE CAST([] AS BIGINT[]) END AS bgs FROM tokfp), " +
      "st AS (SELECT doc_id, len(fps) AS n_tokens, " +
      "len(list_distinct(fps)) AS n_uniq_tokens, len(bgs) AS n_bigrams, " +
      "len(list_distinct(bgs)) AS n_uniq_bigrams, " +
      "CASE WHEN len(bgs) = 0 THEN CAST(0 AS BIGINT) ELSE " +
      "list_max(list_transform(list_distinct(bgs), x -> len(list_filter(bgs, y -> y = x)))) " +
      "END AS top_bigram_count FROM bg), " +
      "m AS (SELECT *, CAST(n_tokens - n_uniq_tokens AS DOUBLE) / " +
      "CAST(greatest(n_tokens, 1) AS DOUBLE) AS dup_token_frac, " +
      "CAST(top_bigram_count AS DOUBLE) / CAST(greatest(n_bigrams, 1) AS DOUBLE) " +
      "AS top_bigram_frac FROM st)"

  /** Minhash band CTEs ending in `cand` = candidate pairs (a < b) —
    * shared by q_dedup_minhash and q_dedup_clusters. */
  /** One unrolled clamped-seed label-propagation round (engine
    * `LabelPropagation.run` mirror): majority label among labeled
    * neighbors, ties to the smallest label, seeds never change. */
  private def lpIter(k: Int): String = {
    val p = s"l${k - 1}"
    s"v$k AS MATERIALIZED (SELECT s.src AS node, l.label, " +
      s"CAST(count(*) AS BIGINT) AS c FROM sym s JOIN $p l ON s.dst = l.node " +
      s"WHERE l.label IS NOT NULL GROUP BY 1, 2), " +
      s"p$k AS MATERIALIZED (SELECT node, label FROM (SELECT node, label, " +
      s"row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rk " +
      s"FROM v$k) WHERE rk = 1), " +
      s"l$k AS MATERIALIZED (SELECT n.node, n.seed, " +
      s"coalesce(n.seed, p.label) AS label FROM l0 n LEFT JOIN p$k p USING (node))"
  }

  private lazy val MINHASH_CANDS: String = {
    val sigCols = (0 until H).map(j =>
      s"min((sid * ${TextOps.aCoef(j)} + ${TextOps.bCoef(j)}) % ${TextOps.P}) AS h$j")
      .mkString(", ")
    val bandSelects = (0 until BANDS).map { b =>
      val key = (0 until R).map(r => s"h${b * R + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $key) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"$DOC_TOKS, $TOKFPS, $SHSIDS, " +
      s"sig AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id), " +
      s"bands AS ($bandSelects), " +
      "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM bands l " +
      "JOIN bands r USING (band, key) WHERE l.doc_id < r.doc_id)"
  }

  /** IVF CTEs ending in `probe` (top-`nProbe` cells per vector, r = cell
    * rank) and `home` (the r = 1 assignment) — Similarity.topKIvf
    * mirror. */
  private def sqlIvfCtes(nCells: Int, nProbe: Int): String =
    s"cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings " +
      s"ORDER BY vec_id LIMIT $nCells), " +
      "cscored AS (SELECT e.vec_id, e.embedding, c.cid, " +
      s"${sqlCos("e.embedding", "c.cv")} AS ccos FROM embeddings e, cents c), " +
      "cranked AS (SELECT vec_id, embedding, cid AS cell, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr " +
      "FROM cscored), " +
      s"probe AS (SELECT vec_id, embedding, cell FROM cranked WHERE cr <= $nProbe), " +
      "home AS (SELECT vec_id, embedding, cell FROM cranked WHERE cr = 1)"

  /** K-means-refined IVF CTEs ending in `kprobe` / `khome` — the
    * Similarity.topKIvfKmeans mirror. Centroids are per-component
    * INTEGER SUMS of members' quantized vectors (cosine is invariant
    * under positive scaling, so sums ≡ means for assignment, and
    * integer sums are order-independent — the property that makes
    * Lloyd iterations exactly replicable across engines). `iters`
    * rounds are unrolled as ka{t}/ks{t}/kc{t+1} CTE triples.
    * `trainMod` > 1 — the Similarity.kmeansCentroids training-sample
    * mirror: seeds and Lloyd rounds read only `vec_id % trainMod = 0`
    * (the `{pfx}qt` CTE); the final full-corpus assignment
    * (`{pfx}ranked`) is unchanged. */
  /** Count-derived cell-count CTEs `{pfx}nsz`/`{pfx}csz` —
    * Similarity.ivfCellsFor's integer doubling rule in SQL (floor 16,
    * doubling ladder through the 2^20 cap), derived from the SAME
    * count(*) the Spark side derives from. */
  private def sqlCellsz(pfx: String, src: String, targetCellRows: Long): String = {
    val ladder = (0 to 16).map(k => s"(${16L << k})").mkString(",")
    s"${pfx}nsz AS (SELECT count(*) AS n FROM $src), " +
      s"${pfx}csz AS (SELECT coalesce(min(t.c), ${16L << 16}) AS c " +
      s"FROM (VALUES $ladder) t(c), ${pfx}nsz " +
      s"WHERE ${pfx}nsz.n <= t.c * $targetCellRows)"
  }

  /** Count-derived probe-sample modulus CTE `pmod` —
    * Similarity.probeModFor's integer doubling rule in SQL (floor 16,
    * doubling ladder, target PROBE_TGT expected probes), derived from
    * the SAME count(*) the Spark side derives from. Ground-truth
    * predicates read it as `vec_id % (SELECT m FROM pmod) = 0`. */
  private def sqlProbeMod(src: String = "embeddings"): String = {
    // BIGINT-cast ladder: a bare VALUES literal is INT32 in DuckDB and
    // the top rungs overflow the `m * PROBE_TGT` growth test
    val ladder = (0 to 24).map(k => s"(CAST(${16L << k} AS BIGINT))")
      .mkString(",")
    s"pmn AS (SELECT count(*) AS n FROM $src), " +
      s"pmod AS (SELECT coalesce(min(t.m), ${16L << 24}) AS m " +
      s"FROM (VALUES $ladder) t(m), pmn " +
      s"WHERE pmn.n <= t.m * $PROBE_TGT)"
  }
  private val PMOD = "(SELECT m FROM pmod)"

  /** Count-derived TRAINING-sample modulus CTE `tmod` —
    * Similarity.trainModFor's integer doubling rule in SQL (floor 4,
    * doubling ladder, target TRAIN_TGT expected training rows),
    * derived from the SAME count(*) the Spark side derives from.
    * Training-slice predicates read it as `id % (SELECT m FROM tmod)
    * = 0`. `src` may be a base table, a CTE (place this AFTER it in
    * the WITH list), or a parenthesized subquery. */
  private def sqlTrainMod(src: String = "embeddings"): String = {
    val ladder = (0 to 24).map(k => s"(CAST(${4L << k} AS BIGINT))")
      .mkString(",")
    s"tmn AS (SELECT count(*) AS n FROM $src), " +
      s"tmod AS (SELECT coalesce(min(t.m), ${4L << 24}) AS m " +
      s"FROM (VALUES $ladder) t(m), tmn " +
      s"WHERE tmn.n <= t.m * $TRAIN_TGT)"
  }
  private val TMOD = "(SELECT m FROM tmod)"

  private def sqlKmeansCtes(nCells: Int, nProbe: Int, iters: Int,
      pfx: String = "k", trainMod: String = "1",
      src: String = "embeddings", derivedTarget: Long = 0): String = {
    def score(q: String, c: String) = s"${sqlDot(q, c)} / sqrt(${sqlDot(c, c)})"
    val sumList = (1 to DIMS).map(d => s"CAST(sum(q[$d]) AS BIGINT)")
      .mkString("[", ", ", "]")
    val sb = new StringBuilder
    // derivedTarget > 0: the coarse cell count comes from the corpus
    // (ivfCellsFor(count(*), derivedTarget, 16)) instead of the fixed
    // nCells — the production sizing discipline (cells grow with the
    // data so the in-cell quadratic term stays bounded)
    if (derivedTarget > 0) sb ++= sqlCellsz(pfx, src, derivedTarget) + ", "
    sb ++= s"${pfx}qe AS (SELECT vec_id, embedding, list_transform(embedding, " +
      s"x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QUANT}) AS BIGINT)) AS q " +
      s"FROM $src), "
    val trainSrc = if (trainMod == "1") s"${pfx}qe" else {
      sb ++= s"${pfx}qt AS (SELECT * FROM ${pfx}qe WHERE vec_id % $trainMod = 0), "
      s"${pfx}qt"
    }
    if (derivedTarget > 0)
      sb ++= s"${pfx}c0 AS (SELECT vec_id AS cid, q AS cq FROM " +
        s"(SELECT vec_id, q, row_number() OVER (ORDER BY vec_id) AS rn " +
        s"FROM $trainSrc) r, ${pfx}csz WHERE r.rn <= ${pfx}csz.c), "
    else
      sb ++= s"${pfx}c0 AS (SELECT vec_id AS cid, q AS cq FROM $trainSrc ORDER BY vec_id LIMIT $nCells), "
    for (t <- 0 until iters) {
      sb ++= s"${pfx}a$t AS (SELECT vec_id, q, cell FROM (SELECT e.vec_id, e.q, c.cid AS cell, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${score("e.q", "c.cq")} DESC, c.cid) AS r " +
        s"FROM $trainSrc e, ${pfx}c$t c) WHERE r = 1), "
      sb ++= s"${pfx}s$t AS (SELECT cell, $sumList AS nq FROM ${pfx}a$t GROUP BY cell), "
      sb ++= s"${pfx}c${t + 1} AS (SELECT c.cid, coalesce(s.nq, c.cq) AS cq FROM ${pfx}c$t c " +
        s"LEFT JOIN ${pfx}s$t s ON c.cid = s.cell), "
    }
    sb ++= s"${pfx}ranked AS (SELECT vec_id, embedding, cell, cr FROM " +
      "(SELECT e.vec_id, e.embedding, c.cid AS cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${score("e.q", "c.cq")} DESC, c.cid) AS cr " +
      s"FROM ${pfx}qe e, ${pfx}c$iters c)), " +
      s"${pfx}probe AS (SELECT vec_id, embedding, cell FROM ${pfx}ranked WHERE cr <= $nProbe), " +
      s"${pfx}home AS (SELECT vec_id, embedding, cell FROM ${pfx}ranked WHERE cr = 1)"
    sb.result()
  }

  /** PQ codebook CTEs (Similarity.pqCodebook/topKIvfPq mirror): per
    * subspace mi — slice of the kqe quantized vectors, seed centroids,
    * `iters` unrolled Lloyd rounds carrying (integer-sum cq, member
    * count cnt), codeword means pm{mi} = cq/cnt, final code assignment
    * pk{mi}, and the pqK×pqK codeword-dot table pt{mi}. Ends with
    * pcod (codes pivoted wide) and pvn (approx norm from the table
    * diagonal, fixed-order sum). Requires sqlKmeansCtes's `kqe`.
    * `trainMod` > 1 mirrors Similarity.pqCodebook's training sample:
    * seeds + Lloyd rounds read the `vec_id % trainMod = 0` slice of
    * each subspace; the final code assignment `pk{mi}` stays
    * full-corpus. */
  private def sqlPqCtes(m: Int, subDim: Int, pqK: Int, iters: Int,
      qe: String = "kqe", pfx: String = "p", trainMod: String = "1"): String = {
    // zero-norm guard mirrors Similarity.cbScore (all-zero RESIDUAL
    // centroids are possible; NaN-vs-NULL 0/0 ordering diverges)
    def score(q: String, c: String) =
      s"CASE WHEN ${sqlDot(c, c)} = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
        s"ELSE ${sqlDot(q, c)} / sqrt(${sqlDot(c, c)}) END"
    val sb = new StringBuilder
    for (mi <- 0 until m) {
      val lo = mi * subDim + 1
      val hi = (mi + 1) * subDim
      val sumList = (1 to subDim).map(d => s"CAST(sum(q[$d]) AS BIGINT)")
        .mkString("[", ", ", "]")
      sb ++= s"${pfx}e$mi AS MATERIALIZED (SELECT vec_id, q[$lo:$hi] AS q FROM $qe), "
      val trainSrc = if (trainMod == "1") s"${pfx}e$mi" else {
        sb ++= s"${pfx}et$mi AS MATERIALIZED (SELECT * FROM ${pfx}e$mi " +
          s"WHERE vec_id % $trainMod = 0), "
        s"${pfx}et$mi"
      }
      sb ++= s"${pfx}c${mi}_0 AS MATERIALIZED (SELECT vec_id AS cid, q AS cq, CAST(1 AS BIGINT) AS cnt " +
        s"FROM $trainSrc ORDER BY vec_id LIMIT $pqK), "
      for (t <- 0 until iters) {
        sb ++= s"${pfx}a${mi}_$t AS MATERIALIZED (SELECT vec_id, q, cell FROM (SELECT e.vec_id, e.q, c.cid AS cell, " +
          s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${score("e.q", "c.cq")} DESC, c.cid) AS r " +
          s"FROM $trainSrc e, ${pfx}c${mi}_$t c) WHERE r = 1), "
        sb ++= s"${pfx}s${mi}_$t AS MATERIALIZED (SELECT cell, $sumList AS nq, CAST(count(*) AS BIGINT) AS n " +
          s"FROM ${pfx}a${mi}_$t GROUP BY cell), "
        sb ++= s"${pfx}c${mi}_${t + 1} AS MATERIALIZED (SELECT c.cid, coalesce(s.nq, c.cq) AS cq, " +
          s"coalesce(s.n, c.cnt) AS cnt FROM ${pfx}c${mi}_$t c LEFT JOIN ${pfx}s${mi}_$t s ON c.cid = s.cell), "
      }
      sb ++= s"${pfx}m$mi AS MATERIALIZED (SELECT cid, list_transform(cq, x -> CAST(x AS DOUBLE) / cnt) AS mv " +
        s"FROM ${pfx}c${mi}_$iters), "
      sb ++= s"${pfx}k$mi AS MATERIALIZED (SELECT vec_id, cid AS c$mi FROM (SELECT e.vec_id, c.cid, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${score("e.q", "c.cq")} DESC, c.cid) AS r " +
        s"FROM ${pfx}e$mi e, ${pfx}c${mi}_$iters c) WHERE r = 1), "
      sb ++= s"${pfx}t$mi AS MATERIALIZED (SELECT l.cid AS i, r.cid AS j, ${sqlDot("l.mv", "r.mv")} AS t " +
        s"FROM ${pfx}m$mi l, ${pfx}m$mi r), "
    }
    sb ++= s"${pfx}cod AS MATERIALIZED (SELECT ${pfx}k0.vec_id, " +
      (0 until m).map(mi => s"c$mi").mkString(", ") + s" FROM ${pfx}k0 " +
      (1 until m).map(mi => s"JOIN ${pfx}k$mi USING (vec_id)").mkString(" ") + "), "
    sb ++= s"${pfx}vn AS MATERIALIZED (SELECT p.vec_id, sqrt(" +
      (0 until m).map(mi => s"d$mi.t").mkString(" + ") + s") AS vn FROM ${pfx}cod p " +
      (0 until m).map(mi =>
        s"JOIN ${pfx}t$mi d$mi ON d$mi.i = p.c$mi AND d$mi.j = p.c$mi").mkString(" ") + ")"
    sb.result()
  }

  /** Hyperplane projection for plane j — Similarity.planeCoef mirror. */
  private def sqlProj(j: Int, v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, $DIMS), " +
      s"d -> CAST($v[CAST(d + 1 AS INT)] AS DOUBLE) * ((($j * 131 + d * 137) % 19) - 9))), " +
      "(acc, x) -> acc + x)"

  /** Sign-bit bucket id over `planes` hyperplanes — Similarity.lshBucket.
    * `off` selects an independent plane set (multi-table LSH). */
  private def sqlBucket(planes: Int, off: Int = 0): String =
    (0 until planes).map(j =>
      s"CASE WHEN ${sqlProj(off + j, "embedding")} > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")

  /** Corpus-derived LSH plane count as a 1-row CTE `np(p)` — the
    * integer-only [[graft.ml.Similarity.lshPlanesFor]] mirror:
    * p = max(floor, ceil(log2(ceil(count/target)))), capped at
    * maxPlanes, no float log anywhere. */
  private def sqlLshPlanes(target: Long, floor: Int,
      maxPlanes: Int = 16, src: String = "embeddings"): String =
    s"np AS (SELECT GREATEST($floor, " +
      (0 until maxPlanes).map(i =>
        s"(CASE WHEN k > ${1L << i} THEN 1 ELSE 0 END)").mkString(" + ") +
      s") AS p FROM (SELECT (count(*) + ${target - 1}) // $target AS k FROM $src))"

  /** Gated sign-bit bucket over a DERIVED plane count: plane j (global
    * hyperplane index off + j·stride — interleaved indexing keeps each
    * (table, j) pair's coefficients constant as p varies) contributes
    * its bit only when j < `p` (the np CTE's column). Unrolled to
    * maxPlanes constant-coefficient projections. */
  private def sqlBucketDyn(maxPlanes: Int, p: String, off: Int = 0,
      stride: Int = 1): String =
    (0 until maxPlanes).map(j =>
      s"CASE WHEN $j < $p AND ${sqlProj(off + j * stride, "embedding")} > 0 " +
        s"THEN ${1L << j} ELSE 0 END").mkString(" + ")

  /** BPE merge-learning CTEs (TextOps.bpeTrain mirror): the distinct-
    * word frequency table, one s0 row per VOCAB character, then
    * `nMerges` unrolled rounds of freq-weighted pair-count →
    * deterministic argmax → gaps-and-islands non-overlap rewrite.
    * Frequency-weighted counts equal per-occurrence corpus counts
    * exactly, so the emitted rules match corpus-row training. */
  /** Unrolled Viterbi-DP CTEs for the unigram-tokenizer oracle
    * (TextOps.unigramTrain / graft.functions.UnigramSeg mirror): for
    * each position i = 1..maxWord, the best (k, f, path) per word of
    * `wordsCte` under vocabulary CTE `voc` — candidates are the
    * ≤ plen-length suffix pieces ending at i (multi-char INNER join:
    * absent pieces drop; single-char LEFT join: the weight-0 coverage
    * fallback), winner by the kernel's integer tie-break
    * (k ASC, f DESC, path ASC with chr(1)-joined paths). Emits
    * `<tag>dp0..<tag>dpN` and `<tag>seg` (word, freq, k, piece rows). */
  private def sqlUniDp(tag: String, wordsCte: String, voc: String): String = {
    val maxWord = UNI_MAX_WORD
    val dps = (1 to maxWord).map { i =>
      val branches = (math.max(0, i - UNI_PLEN) until i).map { j =>
        val pl = i - j
        val pe = s"substr(d.word, ${j + 1}, $pl)"
        val pathE = s"CASE WHEN d.path = '' THEN $pe ELSE d.path || chr(1) || $pe END AS path"
        if (pl == 1)
          s"SELECT d.word, d.freq, d.k + 1 AS k, d.f + coalesce(pc.cnt, 0) AS f, $pathE " +
            s"FROM ${tag}dp$j d LEFT JOIN $voc pc ON pc.piece = $pe WHERE len(d.word) >= $i"
        else
          s"SELECT d.word, d.freq, d.k + 1 AS k, d.f + pc.cnt AS f, $pathE " +
            s"FROM ${tag}dp$j d JOIN $voc pc ON pc.piece = $pe WHERE len(d.word) >= $i"
      }.mkString(" UNION ALL ")
      s"${tag}dp$i AS MATERIALIZED (SELECT word, freq, k, f, path FROM (" +
        "SELECT word, freq, k, f, path, row_number() OVER (" +
        s"PARTITION BY word ORDER BY k, f DESC, path) AS rn FROM ($branches)) WHERE rn = 1)"
    }
    val fin = (1 to maxWord).map(i =>
      s"SELECT word, freq, k, path FROM ${tag}dp$i WHERE len(word) = $i")
      .mkString(" UNION ALL ")
    s"${tag}dp0 AS (SELECT word, freq, 0 AS k, CAST(0 AS BIGINT) AS f, '' AS path FROM $wordsCte), " +
      dps.mkString(", ") + ", " +
      s"${tag}fin AS MATERIALIZED (SELECT word, freq, k, path FROM ($fin)), " +
      s"${tag}seg AS MATERIALIZED (SELECT word, freq, k, " +
      s"unnest(string_split(path, chr(1))) AS piece FROM ${tag}fin)"
  }

  /** Shared unigram-training CTE chain (candidates → round-1 DP/usage →
    * prune → round-2 DP/usage → `ufin` final vocab). `targetVocab` > 0
    * mirrors [[graft.text.TextOps.unigramLearnedVocab]]'s size-mode
    * prune: singles always survive, multi-char slots are the top
    * (target − n_singles) by (usage desc, piece asc). */
  private def sqlUniTrainCtes(targetVocab: Int = 0): String = {
    val uv1Multi =
      if (targetVocab > 0)
        "UNION ALL SELECT piece, cnt FROM (" +
          "SELECT u.piece, u.cnt, row_number() OVER (ORDER BY u.cnt DESC, u.piece) AS rk " +
          "FROM uuse1 u WHERE len(u.piece) >= 2) " +
          s"WHERE rk <= $targetVocab - (SELECT count(*) FROM uv0 WHERE len(piece) = 1)), "
      else
        s"UNION ALL SELECT u.piece, u.cnt FROM uuse1 u WHERE len(u.piece) >= 2 AND u.cnt >= $UNI_MIN_USE), "
    s"uw AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (" +
      s"SELECT word FROM (SELECT unnest($TOKS) AS word FROM documents " +
      s"WHERE doc_id % $TMOD = 0) WHERE len(word) <= $UNI_MAX_WORD) GROUP BY word), " +
      "up1 AS (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM uw), " +
      s"up2 AS (SELECT word, freq, i, unnest(${(1 to UNI_PLEN).mkString("[", ",", "]")}) AS l FROM up1), " +
      "ucand AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (" +
      "SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, freq FROM up2 " +
      "WHERE i + l - 1 <= len(word)) GROUP BY piece), " +
      s"uv0 AS MATERIALIZED (SELECT piece, cnt FROM ucand WHERE len(piece) = 1 OR cnt >= $UNI_MIN_CNT), " +
      sqlUniDp("u1", "uw", "uv0") + ", " +
      "uuse1 AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM u1seg GROUP BY piece), " +
      "uv1 AS MATERIALIZED (" +
      "SELECT v.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt FROM uv0 v " +
      "LEFT JOIN uuse1 u USING (piece) WHERE len(v.piece) = 1 " +
      uv1Multi +
      sqlUniDp("u2", "uw", "uv1") + ", " +
      "uuse2 AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM u2seg GROUP BY piece), " +
      "ufin AS MATERIALIZED (" +
      "SELECT v.piece, CAST(coalesce(u.cnt, 0) AS BIGINT) AS cnt FROM uv1 v " +
      "LEFT JOIN uuse2 u USING (piece) WHERE len(v.piece) = 1 " +
      "UNION ALL SELECT u.piece, u.cnt FROM uuse2 u WHERE len(u.piece) >= 2)"
  }

  private def sqlBpeCtes(nMerges: Int, docWhere: String = ""): String = {
    val sb = new StringBuilder
    sb ++= s"tok AS (SELECT doc_id, $TOKS AS toks FROM documents$docWhere), "
    sb ++= "wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM " +
      "(SELECT unnest(toks) AS word FROM tok) GROUP BY word), "
    sb ++= "s0 AS MATERIALIZED (SELECT word, freq, CAST(pos AS BIGINT) AS pos, " +
      "substr(word, CAST(pos AS INT), 1) AS sym FROM " +
      "(SELECT word, freq, unnest(range(1, length(word) + 1)) AS pos FROM wf)), "
    for (t <- 0 until nMerges) {
      sb ++= s"m$t AS MATERIALIZED (SELECT word, freq, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM s$t), "
      sb ++= s"b$t AS MATERIALIZED (SELECT l, r, c FROM (SELECT sym AS l, nxt AS r, " +
        "CAST(sum(freq) AS BIGINT) AS c, " +
        "row_number() OVER (ORDER BY sum(freq) DESC, sym, nxt) AS rk " +
        s"FROM m$t WHERE nxt IS NOT NULL GROUP BY sym, nxt) WHERE rk = 1), "
      sb ++= s"f$t AS (SELECT m.word, m.freq, m.pos, m.sym, m.nxt, " +
        s"(m.sym = b.l AND m.nxt = b.r) AS ism FROM m$t m, b$t b), "
      sb ++= s"g$t AS (SELECT *, CASE WHEN ism THEN pos - " +
        "row_number() OVER (PARTITION BY word, ism ORDER BY pos) END AS isl " +
        s"FROM f$t), "
      sb ++= s"a$t AS (SELECT *, CASE WHEN ism THEN ((pos - " +
        "min(pos) OVER (PARTITION BY word, isl)) % 2 = 0) " +
        s"ELSE FALSE END AS app FROM g$t), "
      sb ++= s"s${t + 1} AS MATERIALIZED (SELECT word, freq, " +
        "CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
        "CASE WHEN app THEN sym || nxt ELSE sym END AS sym FROM (SELECT *, " +
        "coalesce(lag(app) OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons " +
        s"FROM a$t) WHERE NOT cons), "
    }
    val out = sb.result()
    out.substring(0, out.length - 2)
  }

  /** BPE APPLY chain CTEs: given an `avf(word)` vocab CTE and the
    * trained `b0..b{n-1}` rule rows (from [[sqlBpeCtes]]), re-run the
    * identical per-round non-overlap rewrite over the vocab (words
    * segment independently, so per-distinct-word rounds + an
    * occurrence join equal per-occurrence apply), ending in
    * `wseg(word, nc1, ns1)` — per-word char and subword counts. */
  private def sqlBpeApplyCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= "as0 AS MATERIALIZED (SELECT word, CAST(pos AS BIGINT) AS pos, " +
      "substr(word, CAST(pos AS INT), 1) AS sym FROM " +
      "(SELECT word, unnest(range(1, length(word) + 1)) AS pos FROM avf)), "
    for (t <- 0 until nMerges) {
      sb ++= s"aam$t AS MATERIALIZED (SELECT word, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM as$t), "
      sb ++= s"aaf$t AS (SELECT m.word, m.pos, m.sym, m.nxt, " +
        s"(m.sym = b.l AND m.nxt = b.r) AS ism FROM aam$t m, b$t b), "
      sb ++= s"aag$t AS (SELECT *, CASE WHEN ism THEN pos - " +
        "row_number() OVER (PARTITION BY word, ism ORDER BY pos) END AS isl " +
        s"FROM aaf$t), "
      sb ++= s"aaa$t AS (SELECT *, CASE WHEN ism THEN ((pos - " +
        "min(pos) OVER (PARTITION BY word, isl)) % 2 = 0) " +
        s"ELSE FALSE END AS app FROM aag$t), "
      sb ++= s"as${t + 1} AS MATERIALIZED (SELECT word, " +
        "CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS pos, " +
        "CASE WHEN app THEN sym || nxt ELSE sym END AS sym FROM (SELECT *, " +
        "coalesce(lag(app) OVER (PARTITION BY word ORDER BY pos), FALSE) AS cons " +
        s"FROM aaa$t) WHERE NOT cons), "
    }
    sb ++= s"wseg AS (SELECT word, CAST(length(word) AS BIGINT) AS nc1, " +
      s"CAST(count(*) AS BIGINT) AS ns1 FROM as$nMerges GROUP BY word)"
    sb.result()
  }

  /** Residual-PQ CTEs (Similarity.topKIvfPqResidual mirror). Requires
    * sqlKmeansCtes's kqe/khome/kprobe; emits rsum/rmu (floor-integer
    * cell means), rqe (integer residuals — feed to sqlPqCtes as `qe`);
    * call AFTER sqlPqCtes to add rmm/rmc{mi}/rvn (the residual score
    * tables + approx norms, same left-assoc sum order as the Spark
    * side). */
  private def sqlResidualPreCtes(kpfx: String = "k"): String = {
    val sumList = (1 to DIMS).map(d => s"CAST(sum(e.q[$d]) AS BIGINT)")
      .mkString("[", ", ", "]")
    "rsum AS MATERIALIZED (SELECT h.cell, " +
      s"$sumList AS s, CAST(count(*) AS BIGINT) AS n " +
      s"FROM ${kpfx}home h JOIN ${kpfx}qe e USING (vec_id) GROUP BY h.cell), " +
      "rmu AS MATERIALIZED (SELECT cell, list_transform(s, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) / n) AS BIGINT)) AS mu FROM rsum), " +
      "rqe AS MATERIALIZED (SELECT e.vec_id, " +
      "list_transform(list_zip(e.q, m.mu), p -> p[1] - p[2]) AS q " +
      s"FROM ${kpfx}qe e JOIN ${kpfx}home h USING (vec_id) JOIN rmu m ON m.cell = h.cell)"
  }

  private def sqlResidualTableCtes(m: Int, subDim: Int,
      pfx: String = "p", kpfx: String = "k"): String = {
    val sb = new StringBuilder
    sb ++= "rmm AS MATERIALIZED (SELECT l.cell AS ha, r.cell AS hb, " +
      s"${sqlDot("l.mu", "r.mu")} AS t FROM rmu l, rmu r), "
    for (mi <- 0 until m) {
      val lo = mi * subDim + 1
      val hi = (mi + 1) * subDim
      sb ++= s"rmc$mi AS MATERIALIZED (SELECT c.cell, k.cid AS kc, " +
        s"${sqlDot(s"c.mu[$lo:$hi]", "k.mv")} AS t FROM rmu c, ${pfx}m$mi k), "
    }
    val vnSum = "mm.t" + (0 until m).map(mi =>
      s" + mc$mi.t + mc$mi.t + cc$mi.t").mkString
    sb ++= "rvn AS MATERIALIZED (SELECT p.vec_id, h.cell AS hc, " +
      s"sqrt($vnSum) AS vn FROM ${pfx}cod p " +
      s"JOIN ${kpfx}home h ON h.vec_id = p.vec_id " +
      "JOIN rmm mm ON mm.ha = h.cell AND mm.hb = h.cell " +
      (0 until m).map(mi =>
        s"JOIN rmc$mi mc$mi ON mc$mi.cell = h.cell AND mc$mi.kc = p.c$mi " +
          s"JOIN ${pfx}t$mi cc$mi ON cc$mi.i = p.c$mi AND cc$mi.j = p.c$mi")
        .mkString(" ") + ")"
    sb.result()
  }

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  private case class Q(name: String, fn: QFn, sql: String)

  private def qs: Seq[Q] = Seq(
    // ---------------- text analysis ----------------
    Q("q_token_stats",
      (s, d) => docs(s, d).select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long").as("n_re"),
        length(col("text")).cast("long").as("n_chars2")),
      s"WITH $DOC_TOKS SELECT doc_id, len(toks) AS n_tokens, " +
        "len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re, " +
        "length(text) AS n_chars2 FROM tok JOIN documents USING (doc_id) ORDER BY doc_id"),

    Q("q_langid",
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        docs(s, d).select(
          col("doc_id"), col("lang"),
          TextOps.langGuess(
            TextOps.stopwordHits(t, "en"), TextOps.stopwordHits(t, "es"),
            TextOps.stopwordHits(t, "de"), TextOps.stopwordHits(t, "fr")).as("guess"))
      }, {
        def hits(l: String) = "len(list_filter(toks, x -> x IN (" +
          TextOps.stopwords(l).map(w => s"'$w'").mkString(",") + ")))"
        s"WITH $DOC_TOKS, h AS (SELECT doc_id, ${hits("en")} AS en, ${hits("es")} AS es, " +
          s"${hits("de")} AS de, ${hits("fr")} AS fr FROM tok) " +
          "SELECT doc_id, lang, CASE " +
          "WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en' " +
          "WHEN es > 0 AND es >= de AND es >= fr THEN 'es' " +
          "WHEN de > 0 AND de >= fr THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'und' END AS guess " +
          "FROM h JOIN documents USING (doc_id) ORDER BY doc_id"
      }),

    Q("q_quality",
      // Exact-int internals, one double formula at the end (identical tree).
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val n = size(t).cast("long")
        val sw = TextOps.stopwordHits(t, "en").cast("long")
        docs(s, d).select(
          col("doc_id"), n.as("n_tokens"), sw.as("n_stop"),
          (least(n.cast("double") / 100.0, lit(1.0)) *
            (lit(1.0) - sw.cast("double") / greatest(n, lit(1L)).cast("double")))
            .as("quality"))
      }, {
        val hits = "len(list_filter(toks, x -> x IN (" +
          TextOps.stopwords("en").map(w => s"'$w'").mkString(",") + ")))"
        s"WITH $DOC_TOKS, h AS (SELECT doc_id, len(toks) AS n, $hits AS sw FROM tok) " +
          "SELECT doc_id, n AS n_tokens, sw AS n_stop, " +
          "least(CAST(n AS DOUBLE) / 100.0e0, CAST(1.0 AS DOUBLE)) * " +
          "(CAST(1.0 AS DOUBLE) - CAST(sw AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) AS quality " +
          "FROM h ORDER BY doc_id"
      }),

    Q("q_quality_repetition",
      // Gopher-style repetition filter: drop docs whose most frequent
      // bigram dominates (> 0.08 of all bigrams) or whose duplicate-token
      // fraction exceeds 0.7 (thresholds split the fixture ~33/8 of 500 —
      // non-vacuous both ways). Counts come from the MultiplicityStats
      // kernel over token/bigram fingerprint ids: one narrow codegen'd
      // pass, nothing shuffled. Fractions are one exact-long division
      // each, so both engines produce bit-identical doubles.
      (s, d) => {
        val st = TextOps.repetitionStats(docs(s, d), "doc_id", "text")
        val dupFrac = (col("n_tokens") - col("n_uniq_tokens")).cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")
        val topFrac = col("top_bigram_count").cast("double") /
          greatest(col("n_bigrams"), lit(1L)).cast("double")
        st.withColumn("dup_token_frac", dupFrac)
          .withColumn("top_bigram_frac", topFrac)
          .withColumn("keep",
            col("top_bigram_frac") <= 0.08 && col("dup_token_frac") <= 0.7)
      },
      s"WITH $DOC_TOKS, $TOKFPS, $REP_CTES " +
        "SELECT *, (top_bigram_frac <= CAST(0.08 AS DOUBLE) AND " +
        "dup_token_frac <= CAST(0.7 AS DOUBLE)) AS keep FROM m ORDER BY doc_id"),

    Q("q_pipeline_dedup",
      // The dedup pipeline's FINAL artifact: the corpus with every
      // near-dup cluster collapsed to its lowest doc_id — candidates →
      // components → anti-join, ending in the training set itself
      // (q_dedup_clusters shows the labels; this ships the corpus).
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        val labels = graft.engine.ConnectedComponents.run(cand)
        val dropIds = labels.filter(col("node") =!= col("comp"))
          .select(col("node").as("doc_id"))
        docs(s, d).join(broadcast(dropIds), Seq("doc_id"), "left_anti")
          .select("doc_id", "n_chars")
      },
      s"WITH RECURSIVE $MINHASH_CANDS, " +
        "e2 AS (SELECT a AS src, b AS dst FROM cand " +
        "UNION ALL SELECT b AS src, a AS dst FROM cand), " +
        "walk(node, comp) AS (SELECT DISTINCT src, src FROM e2 " +
        "UNION SELECT e2.src, w.comp FROM e2 JOIN walk w ON w.node = e2.dst), " +
        "lab AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node) " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id NOT IN " +
        "(SELECT node FROM lab WHERE node <> comp) ORDER BY doc_id"),

    Q("q_tfidf",
      // Inverted-index scoring: top-3 characteristic terms per document
      // by tf·N/df (log-free so the score is ONE integer multiply + ONE
      // IEEE divide — bit-identical across engines; the ln() of classic
      // IDF only reorders monotonically). Shuffle shape: explode →
      // map-side-combined tf groupBy, df groupBy on term, broadcast
      // 1-row corpus count, keyed rank window.
      (s, d) => {
        // ONE term-hash repartition feeds both aggregates AND the join:
        // HashPartitioning(term) satisfies the (doc_id, term) clustering
        // too, so tf/df/join add no further exchange — and the identical
        // exchange subplans dedupe via ReusedExchange (one tokenize
        // pass, not two).
        val t = docs(s, d).select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("term"))
          .repartition(col("term"))
        val tf = t.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = t.groupBy("term").agg(countDistinct("doc_id").as("df"))
        val n = docs(s, d).agg(count(lit(1)).as("n"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
          .withColumn("score",
            (col("tf") * col("n")).cast("double") / col("df").cast("double"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "score")
      },
      s"WITH $DOC_TOKS, t AS (SELECT doc_id, unnest(toks) AS term FROM tok), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term), " +
        "df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term), " +
        "n AS (SELECT count(*) AS n FROM documents), " +
        "scored AS (SELECT doc_id, term, " +
        "CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score " +
        "FROM tf JOIN df USING (term) CROSS JOIN n) " +
        "SELECT doc_id, rank, term, score FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM scored) " +
        "WHERE rank <= 3 ORDER BY doc_id, rank"),

    Q("q_bm25",
      // Okapi BM25 top-20 for a fixed 3-term probe query, idf in RSJ
      // ratio form (log-free so every per-term score is the same short
      // IEEE op sequence in both engines; ln is per-term monotone).
      // Per-term scores sum in QUERY ORDER via pivot columns — the
      // double addition order is deterministic at any parallelism.
      (s, d) => TextOps.bm25(docs(s, d), "doc_id", "text",
        Seq("spark", "stream", "hash"), 20),
      s"WITH $DOC_TOKS, " +
        "base AS (SELECT doc_id, len(toks) AS dl, toks FROM tok), " +
        "stats AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(dl) AS BIGINT) AS sdl FROM base), " +
        "t AS (SELECT doc_id, dl, unnest(toks) AS term FROM base), " +
        "tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM t " +
        "WHERE term IN ('spark', 'stream', 'hash') GROUP BY doc_id, dl, term), " +
        "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
        "sc AS (SELECT doc_id, term, " +
        "((CAST(n - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + " +
        "0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE)))))) AS s " +
        "FROM tf JOIN df USING (term) CROSS JOIN stats), " +
        "piv AS (SELECT doc_id, " +
        "coalesce(max(CASE WHEN term = 'spark' THEN s END), 0.0) AS s0, " +
        "coalesce(max(CASE WHEN term = 'stream' THEN s END), 0.0) AS s1, " +
        "coalesce(max(CASE WHEN term = 'hash' THEN s END), 0.0) AS s2 " +
        "FROM sc GROUP BY doc_id) " +
        "SELECT doc_id, s0 + s1 + s2 AS bm25 FROM piv " +
        "ORDER BY bm25 DESC, doc_id LIMIT 20"),

    Q("q_token_quantiles",
      // Exact per-group quantiles by RANK SELECTION (lower median and
      // ceil-rank p90 of token counts per language) — integer outputs,
      // no interpolation, so engines agree exactly; approx_percentile
      // sketches trade that determinism away. One keyed sort window +
      // one groupBy.
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(col("n_tokens"), col("doc_id"))
        base
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt", count(lit(1))
            .over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            max(when(col("rn") === expr("(cnt + 1) div 2"), col("n_tokens"))).as("median_tokens"),
            max(when(col("rn") === expr("(cnt * 9 + 9) div 10"), col("n_tokens"))).as("p90_tokens"))
      },
      s"WITH $DOC_TOKS, " +
        "base AS (SELECT t.doc_id, d.lang, len(t.toks) AS n_tokens " +
        "FROM tok t JOIN documents d ON t.doc_id = d.doc_id), " +
        "r AS (SELECT lang, n_tokens, row_number() OVER (PARTITION BY lang " +
        "ORDER BY n_tokens, doc_id) AS rn, count(*) OVER (PARTITION BY lang) AS cnt " +
        "FROM base) " +
        "SELECT lang, count(*) AS n_docs, " +
        "max(CASE WHEN rn = (cnt + 1) // 2 THEN n_tokens END) AS median_tokens, " +
        "max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN n_tokens END) AS p90_tokens " +
        "FROM r GROUP BY lang ORDER BY lang"),

    Q("q_chunk_docs",
      // Context-window chunking with overlap: token windows of 40 with
      // stride 30 (10-token overlap), rejoined to text — how a corpus
      // becomes model-sized training rows. One narrow
      // tokenize+slice+explode pass; chunk count ⌈(n-overlap)/stride⌉.
      (s, d) => TextOps.chunkDocs(docs(s, d), "doc_id", "text", 40, 30)
        .withColumn("n_chunk_tokens",
          size(split(col("chunk_text"), " ")).cast("long")),
      s"WITH $DOC_TOKS SELECT doc_id, chunk_idx, " +
        "array_to_string(toks[CAST(chunk_idx * 30 + 1 AS INT):CAST(chunk_idx * 30 + 40 AS INT)], ' ') AS chunk_text, " +
        "len(string_split(array_to_string(toks[CAST(chunk_idx * 30 + 1 AS INT):CAST(chunk_idx * 30 + 40 AS INT)], ' '), ' ')) AS n_chunk_tokens " +
        "FROM (SELECT doc_id, toks, unnest(range(0, greatest(" +
        "CAST(ceil(CAST(len(toks) - 10 AS DOUBLE) / 30.0e0) AS BIGINT), 1))) AS chunk_idx " +
        "FROM tok) ORDER BY doc_id, chunk_idx"),

    Q("q_decontaminate",
      // Benchmark decontamination: drop corpus docs sharing ANY
      // 3-token shingle with the held-out set (docs 0-9 stand in for a
      // benchmark). Inverted-index semi-join on shingle id — the
      // contamination check runs at corpus scale as one keyed shuffle,
      // never doc×benchmark pairs.
      (s, d) => TextOps.decontaminate(
          docs(s, d).filter(col("doc_id") >= 10),
          docs(s, d).filter(col("doc_id") < 10),
          "doc_id", "text", K)
        .select("doc_id", "n_chars"),
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, $EDGES_DISTINCT " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id >= 10 AND doc_id NOT IN (" +
        "SELECT DISTINCT e.doc_id FROM edges e WHERE e.doc_id >= 10 AND e.sid IN (" +
        "SELECT sid FROM edges WHERE doc_id < 10)) ORDER BY doc_id"),

    Q("q_decontam_bloom",
      // Broadcast-sketch decontamination: the benchmark folds into a
      // 16384-bit Bloom filter (63-bit words so shifts never touch the
      // sign bit) — a few-KB broadcast NO MATTER how large the held-out
      // set — and the corpus probe is two word lookups + bitmask tests
      // per shingle. Deterministic false positives only; the oracle
      // computes the identical filter. Compare q_decontaminate (exact
      // semi-join form).
      (s, d) => TextOps.decontaminateBloom(
          docs(s, d).filter(col("doc_id") >= 10),
          docs(s, d).filter(col("doc_id") < 10),
          "doc_id", "text", K, BLOOM_BITS)
        .select("doc_id", "n_chars"),
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, $EDGES_DISTINCT, " +
        "bpos AS (SELECT DISTINCT p FROM (" +
        s"SELECT sid % $BLOOM_BITS AS p FROM edges WHERE doc_id < 10 " +
        s"UNION ALL SELECT ((sid * 8191 + 127) % 1000000007) % $BLOOM_BITS FROM edges WHERE doc_id < 10)), " +
        "bloom AS (SELECT p // 63 AS w, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word " +
        "FROM bpos GROUP BY p // 63), " +
        s"cpos AS (SELECT DISTINCT doc_id, sid % $BLOOM_BITS AS pa, " +
        s"((sid * 8191 + 127) % 1000000007) % $BLOOM_BITS AS pb FROM edges WHERE doc_id >= 10), " +
        "hit AS (SELECT DISTINCT doc_id FROM cpos " +
        "JOIN bloom ba ON ba.w = pa // 63 JOIN bloom bb ON bb.w = pb // 63 " +
        "WHERE (ba.word & (CAST(1 AS BIGINT) << CAST(pa % 63 AS INT))) <> 0 " +
        "AND (bb.word & (CAST(1 AS BIGINT) << CAST(pb % 63 AS INT))) <> 0) " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id >= 10 " +
        "AND doc_id NOT IN (SELECT doc_id FROM hit) ORDER BY doc_id"),

    Q("q_redact",
      // PII-style scrubbing: digit runs become <NUM> and the redacted
      // text is content-hashed; the count of redactions rides along.
      // Pure per-row regex projections — embarrassingly parallel.
      (s, d) => docs(s, d).select(
        col("doc_id"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("long").as("n_redacted"),
        md5(regexp_replace(col("text"), "[0-9]+", "<NUM>").cast("binary")).as("redacted_hash")),
      "SELECT doc_id, len(regexp_extract_all(text, '[0-9]+')) AS n_redacted, " +
        "md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS redacted_hash " +
        "FROM documents ORDER BY doc_id"),

    Q("q_pipeline_train",
      // End-to-end training-set materialization: language filter →
      // quality (token-count) filter → exact dedup keeping the lowest
      // doc_id per content hash → stats for the surviving set. The
      // composition a reference user runs daily, as one declarative
      // plan: narrow scans into one groupBy + one keeper join.
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val enriched = docs(s, d).select(
          col("doc_id"), col("text"),
          size(t).cast("long").as("n_tokens"),
          TextOps.langGuess(
            TextOps.stopwordHits(t, "en"), TextOps.stopwordHits(t, "es"),
            TextOps.stopwordHits(t, "de"), TextOps.stopwordHits(t, "fr")).as("guess"))
        // filtered feeds the keeper agg and the stats join — one
        // tokenize+langid pass, not two
        val filtered = enriched
          .filter(col("guess") === "en" && col("n_tokens") >= 20)
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val keep = filtered
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        keep.join(filtered.select("doc_id", "n_tokens"), "doc_id")
          .select("doc_id", "n_tokens")
      }, {
        def hits(l: String) = "len(list_filter(toks, x -> x IN (" +
          TextOps.stopwords(l).map(w => s"'$w'").mkString(",") + ")))"
        s"WITH $DOC_TOKS, " +
          s"h AS (SELECT doc_id, len(toks) AS n_tokens, ${hits("en")} AS en, " +
          s"${hits("es")} AS es, ${hits("de")} AS de, ${hits("fr")} AS fr FROM tok), " +
          "f AS (SELECT d.doc_id, d.text, h.n_tokens FROM documents d " +
          "JOIN h ON d.doc_id = h.doc_id WHERE h.n_tokens >= 20 AND CASE " +
          "WHEN en > 0 AND en >= es AND en >= de AND en >= fr THEN 'en' " +
          "WHEN es > 0 AND es >= de AND es >= fr THEN 'es' " +
          "WHEN de > 0 AND de >= fr THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'und' END = 'en'), " +
          "k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)) " +
          "SELECT doc_id, n_tokens FROM k JOIN f USING (doc_id) ORDER BY doc_id"
      }),

    Q("q_pipeline_corpus",
      // The full corpus-prep pipeline as ONE declarative plan — what a
      // training-data run at 100 TB actually chains: repetition/length
      // quality gate → benchmark decontamination (docs 0-9 are the
      // held-out set) → exact dedup (min doc_id per content hash) →
      // minhash near-dup dedup (capped LSH candidates → connected
      // components → keep component minimum) → context-window chunking
      // into model-sized training rows. Every stage is the same bounded
      // shape proven by its standalone query; composing them stays one
      // plan with no driver-side materialization between stages.
      (s, d) => {
        val all = docs(s, d)
        val rep = TextOps.repetitionStats(all, "doc_id", "text")
        val repKeep = rep.filter(
          col("top_bigram_count").cast("double") /
            greatest(col("n_bigrams"), lit(1L)).cast("double") <= 0.08 &&
          (col("n_tokens") - col("n_uniq_tokens")).cast("double") /
            greatest(col("n_tokens"), lit(1L)).cast("double") <= 0.7 &&
          col("n_tokens") >= 20).select("doc_id")
        val clean = TextOps.decontaminate(
          all.filter(col("doc_id") >= 10), all.filter(col("doc_id") < 10),
          "doc_id", "text", K)
        // eligible feeds the keeper agg AND the survivor join; surv
        // feeds the minhash chain AND the final anti-join — materialize
        // each once or the quality+decontamination chain re-executes
        // per consumer (triangles lesson)
        val eligible = clean.join(repKeep, "doc_id").select("doc_id", "text")
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val keeper = eligible
          .groupBy(md5(col("text").cast("binary")).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
        val surv = eligible.join(keeper.select("doc_id"), "doc_id")
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val bands = TextOps.lshBandsArr(
          TextOps.minhashSigArray(surv, "doc_id", "text", K, H), "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        val dropIds = graft.engine.ConnectedComponents.run(cand)
          .filter(col("node") =!= col("comp"))
          .select(col("node").as("doc_id"))
        val fin = surv.join(dropIds, Seq("doc_id"), "left_anti")
        TextOps.chunkDocs(fin, "doc_id", "text", 40, 30)
      },
      s"WITH RECURSIVE $MINHASH_CANDS, $EDGES_DISTINCT, $REP_CTES, " +
        "elig AS (SELECT d.doc_id, d.text FROM documents d JOIN m USING (doc_id) " +
        "WHERE d.doc_id >= 10 AND m.n_tokens >= 20 " +
        "AND m.top_bigram_frac <= CAST(0.08 AS DOUBLE) " +
        "AND m.dup_token_frac <= CAST(0.7 AS DOUBLE) " +
        "AND d.doc_id NOT IN (SELECT DISTINCT e.doc_id FROM edges e " +
        "WHERE e.doc_id >= 10 AND e.sid IN (SELECT sid FROM edges WHERE doc_id < 10))), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM elig GROUP BY md5(text)), " +
        "s1 AS (SELECT e.* FROM elig e JOIN k USING (doc_id)), " +
        "candf AS (SELECT a, b FROM cand WHERE a IN (SELECT doc_id FROM s1) " +
        "AND b IN (SELECT doc_id FROM s1)), " +
        "e2 AS (SELECT a AS src, b AS dst FROM candf " +
        "UNION ALL SELECT b AS src, a AS dst FROM candf), " +
        "walk(node, comp) AS (SELECT DISTINCT src, src FROM e2 " +
        "UNION SELECT e2.src, w.comp FROM e2 JOIN walk w ON w.node = e2.dst), " +
        "drops AS (SELECT node FROM (SELECT node, min(comp) AS comp FROM walk " +
        "GROUP BY node) WHERE node <> comp), " +
        "fin AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT node FROM drops)) " +
        "SELECT doc_id, chunk_idx, array_to_string(" +
        "toks[CAST(chunk_idx * 30 + 1 AS INT):CAST(chunk_idx * 30 + 40 AS INT)], ' ') AS chunk_text " +
        "FROM (SELECT f.doc_id, t.toks, unnest(range(0, greatest(" +
        "CAST(ceil(CAST(len(t.toks) - 10 AS DOUBLE) / 30.0e0) AS BIGINT), 1))) AS chunk_idx " +
        "FROM fin f JOIN tok t USING (doc_id)) ORDER BY doc_id, chunk_idx"),

    Q("q_sample_weighted",
      // Quality-weighted deterministic sampling: doc i is kept iff its
      // multiplicative-hash uniform u(i) falls under its own quality
      // score — high-quality docs oversampled, rejection is per-row,
      // reproducible, and shuffle-free (one narrow pass). The training-
      // mix knob ("sample ∝ quality") without RNG state.
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val n = size(t).cast("long")
        val sw = TextOps.stopwordHits(t, "en").cast("long")
        val q = least(n.cast("double") / 100.0, lit(1.0)) *
          (lit(1.0) - sw.cast("double") / greatest(n, lit(1L)).cast("double"))
        docs(s, d)
          .withColumn("__q", q)
          .withColumn("__u", (col("doc_id") * 2654435761L) % 1000003L)
          .filter(col("__u").cast("double") < col("__q") * 1000003.0)
          .select(col("doc_id"), col("__q").as("quality"))
      }, {
        val hits = "len(list_filter(toks, x -> x IN (" +
          TextOps.stopwords("en").map(w => s"'$w'").mkString(",") + ")))"
        s"WITH $DOC_TOKS, " +
          s"h AS (SELECT doc_id, len(toks) AS n, $hits AS sw FROM tok), " +
          "q AS (SELECT doc_id, least(CAST(n AS DOUBLE) / 100.0e0, " +
          "CAST(1.0 AS DOUBLE)) * (CAST(1.0 AS DOUBLE) - CAST(sw AS DOUBLE) / " +
          "CAST(greatest(n, 1) AS DOUBLE)) AS quality FROM h) " +
          "SELECT doc_id, quality FROM q " +
          "WHERE CAST((doc_id * 2654435761) % 1000003 AS DOUBLE) < " +
          "quality * 1000003.0e0 ORDER BY doc_id"
      }),

    Q("q_fingerprint",
      (s, d) => docs(s, d).select(
        col("doc_id"), TextOps.fingerprint(col("text")).as("fp")),
      "SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(text) + 1), i -> " +
        "CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))), " +
        "(acc, x) -> (acc * 31 + x) % 1000000007) AS fp FROM documents ORDER BY doc_id"),

    // ---------------- dedup family ----------------
    Q("q_dedup_exact",
      (s, d) => docs(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")),
      "SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS n " +
        "FROM documents GROUP BY h ORDER BY keeper"),

    Q("q_dedup_editdist",
      // Short-text/near-verbatim dedup by EXACT edit distance, made
      // tractable by offset double-blocking: candidates must share a
      // (lang, length-band) block under EITHER of two bandings shifted
      // by half a band — so near-dups straddling a band boundary are
      // still caught (no recall cliff at band edges) — then a bounded
      // Levenshtein over the 80-char prefix decides. The all-pairs
      // O(n²) collapses to in-block pairs, and EDIT_BLOCK_CAP bounds
      // each block (the LSH_BUCKET_CAP discipline; the r11 sf1 rung
      // measured the uncapped join super-linear — a (lang, band) block
      // holds a fixed corpus fraction). The cap BINDS at sf0.1 (max
      // block 236 > 128), so the gate tests the capped path; the
      // oracle ranks identically.
      (s, d) => TextOps.editDistancePairs(docs(s, d), "doc_id", "text",
          blockCol = "lang", lenCol = "n_chars", bandWidth = 50,
          prefixLen = 80, maxDist = 20, blockCap = EDIT_BLOCK_CAP),
      "WITH dd AS MATERIALIZED (SELECT doc_id, lang, " +
        "substr(text, 1, 80) AS t, n_chars FROM documents), " +
        "dd0 AS MATERIALIZED (SELECT * FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY lang, n_chars // 50 ORDER BY doc_id) AS r FROM dd) " +
        s"WHERE r <= $EDIT_BLOCK_CAP), " +
        "dd1 AS MATERIALIZED (SELECT * FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY lang, (n_chars + 25) // 50 ORDER BY doc_id) AS r FROM dd) " +
        s"WHERE r <= $EDIT_BLOCK_CAP), " +
        "c0 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "a.t AS ta, b.t AS tb FROM dd0 a JOIN dd0 b ON a.lang = b.lang " +
        "AND a.n_chars // 50 = b.n_chars // 50 AND a.doc_id < b.doc_id), " +
        "c1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "a.t AS ta, b.t AS tb FROM dd1 a JOIN dd1 b ON a.lang = b.lang " +
        "AND (a.n_chars + 25) // 50 = (b.n_chars + 25) // 50 " +
        "AND a.doc_id < b.doc_id), " +
        "cand AS (SELECT DISTINCT id_a, id_b, ta, tb FROM " +
        "(SELECT * FROM c0 UNION ALL SELECT * FROM c1)) " +
        "SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS INT) AS dist " +
        "FROM cand WHERE levenshtein(ta, tb) <= 20 ORDER BY id_a, id_b"),

    Q("q_label_spread",
      // Semi-supervised label propagation (Zhu & Ghahramani '02):
      // every third doc is a trusted seed carrying its lang label;
      // two synchronous clamped-seed majority rounds spread it over
      // the minhash near-dup graph (ties -> smallest label, fully
      // deterministic). The "spread expensive annotations" primitive:
      // quality tiers / license classes ride the similarity graph.
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        val seeds = docs(s, d).filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"))
        graft.engine.LabelPropagation.run(cand.select("a", "b"), seeds, iters = 2)
      },
      s"WITH RECURSIVE $MINHASH_CANDS, " +
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM cand " +
        "UNION SELECT b, a FROM cand), " +
        "lnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym), " +
        "sd AS MATERIALIZED (SELECT doc_id AS node, min(lang) AS seed " +
        "FROM documents WHERE doc_id % 3 = 0 GROUP BY doc_id), " +
        "l0 AS MATERIALIZED (SELECT node, seed, seed AS label " +
        "FROM lnodes LEFT JOIN sd USING (node)), " +
        (1 to 2).map(lpIter).mkString(", ") + " " +
        "SELECT node, label FROM l2 ORDER BY node"),

    Q("q_dedup_minhash",
      // Array-keyed band pipeline: signature stays ONE array column and
      // band keys are raw slices — same buckets as the oracle's
      // concat_ws string keys (fixed-length integer slices), half the
      // codegen.
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
      },
      s"WITH $MINHASH_CANDS SELECT a, b FROM cand ORDER BY a, b"),

    Q("q_dedup_clusters",
      // Pairs → CLUSTERS: connected components (min-label propagation,
      // graft.engine.ConnectedComponents) over the minhash candidate
      // graph, so a~b and b~c collapse to ONE keeper. The oracle walks
      // the same graph with a recursive CTE (min reachable id =
      // component id).
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        graft.engine.ConnectedComponents.run(cand)
          .select(col("node").as("doc_id"), col("comp").as("cluster"))
      },
      s"WITH RECURSIVE $MINHASH_CANDS, " +
        "e2 AS (SELECT a AS src, b AS dst FROM cand " +
        "UNION ALL SELECT b AS src, a AS dst FROM cand), " +
        "walk(node, comp) AS (" +
        "SELECT DISTINCT src, src FROM e2 " +
        "UNION " +
        "SELECT e2.src, w.comp FROM e2 JOIN walk w ON w.node = e2.dst) " +
        "SELECT node AS doc_id, min(comp) AS cluster FROM walk " +
        "GROUP BY node ORDER BY doc_id"),

    Q("q_dedup_clusters_star",
      // The SAME pairs→clusters contract through the HIGH-DIAMETER
      // engine: alternating large-star/small-star (Kiveris et al.,
      // SoCC'14, ConnectedComponents.runStar) — O(log n) rounds in
      // component size where min-label propagation is O(diameter).
      // Dedup graphs are shallow (diameter 3-5), so q_dedup_clusters
      // keeps min-label; THIS row pins the scale path the 100 TB
      // web-graph / session-stitching shapes need, under the driver's
      // oracle gate rather than only the ScalaTest parity specs. Both
      // engines converge to min-id-per-component, so the oracle is the
      // identical recursive walk.
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        graft.engine.ConnectedComponents.runStar(cand)
          .select(col("node").as("doc_id"), col("comp").as("cluster"))
      },
      s"WITH RECURSIVE $MINHASH_CANDS, " +
        "e2 AS (SELECT a AS src, b AS dst FROM cand " +
        "UNION ALL SELECT b AS src, a AS dst FROM cand), " +
        "walk(node, comp) AS (" +
        "SELECT DISTINCT src, src FROM e2 " +
        "UNION " +
        "SELECT e2.src, w.comp FROM e2 JOIN walk w ON w.node = e2.dst) " +
        "SELECT node AS doc_id, min(comp) AS cluster FROM walk " +
        "GROUP BY node ORDER BY doc_id"),

    Q("q_dedup_keep_best",
      // Policy-driven keeper selection: per duplicate cluster keep the
      // LONGEST version (ties -> smallest doc_id), not the min-id —
      // the policy production dedup actually runs (the fullest
      // extraction of a page wins). Every document appears: docs
      // outside any candidate pair are singleton clusters of
      // themselves. One window + one aggregate over the cluster labels.
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
        val cc = graft.engine.ConnectedComponents.run(cand)
          .select(col("node").as("doc_id"), col("comp"))
        val lab = docs(s, d).select(col("doc_id"), col("n_chars"))
          .join(cc, Seq("doc_id"), "left")
          .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
        lab.withColumn("rk", row_number().over(
            Window.partitionBy(col("cluster"))
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            max(when(col("rk") === 1, col("doc_id"))).as("keeper"),
            max(when(col("rk") === 1, col("n_chars"))).as("keeper_chars"))
      },
      s"WITH RECURSIVE $MINHASH_CANDS, " +
        "e2 AS (SELECT a AS src, b AS dst FROM cand " +
        "UNION ALL SELECT b AS src, a AS dst FROM cand), " +
        "walk(node, comp) AS (" +
        "SELECT DISTINCT src, src FROM e2 " +
        "UNION " +
        "SELECT e2.src, w.comp FROM e2 JOIN walk w ON w.node = e2.dst), " +
        "cc AS MATERIALIZED (SELECT node AS doc_id, min(comp) AS comp " +
        "FROM walk GROUP BY node), " +
        "lab AS MATERIALIZED (SELECT d.doc_id, d.n_chars, " +
        "coalesce(cc.comp, d.doc_id) AS cluster " +
        "FROM documents d LEFT JOIN cc USING (doc_id)), " +
        "rked AS (SELECT *, row_number() OVER (PARTITION BY cluster " +
        "ORDER BY n_chars DESC, doc_id) AS rk FROM lab) " +
        "SELECT cluster, CAST(count(*) AS BIGINT) AS n_docs, " +
        "max(CASE WHEN rk = 1 THEN doc_id END) AS keeper, " +
        "max(CASE WHEN rk = 1 THEN n_chars END) AS keeper_chars " +
        "FROM rked GROUP BY cluster ORDER BY cluster"),

    Q("q_dedup_simhash",
      // Fused per-row kernel: tokens → deduped fingerprints → bit votes →
      // signature, one narrow pass (no explode, no shuffle).
      (s, d) => docs(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("__toks"))
        .filter(size(col("__toks")) > 0)
        .select(col("doc_id"),
          graft.functions.VectorFunctions.simhashSig(col("__toks"), NBITS).as("simhash")), {
        val bitCols = (0 until NBITS).map(k =>
          s"CAST(sum(CASE WHEN (sid * ${2L * k + 7919} % 131071) % 2 = 1 " +
            s"THEN 1 ELSE -1 END) > 0 AS BIGINT) AS b$k").mkString(", ")
        val sig = (0 until NBITS).map(k => s"b$k * ${1L << k}").mkString(" + ")
        s"WITH $DOC_TOKS, $TOKFPS, $UNIGRAMS, " +
          s"bits AS (SELECT doc_id, $bitCols FROM edges GROUP BY doc_id) " +
          s"SELECT doc_id, $sig AS simhash FROM bits ORDER BY doc_id"
      }),

    Q("q_dedup_verified",
      // LSH-then-verify: exact n-gram Jaccard computed ONLY for minhash
      // candidate pairs. Candidate docs are a small set, so edges are
      // semi-join PRUNED before the sid self-join — the verify cost is
      // proportional to the candidates, not the corpus (the all-pairs
      // Jaccard of q_dedup_jaccard is the exhaustive baseline).
      (s, d) => {
        val sigs = TextOps.minhashSigArray(docs(s, d), "doc_id", "text", K, H)
        val bands = TextOps.lshBandsArr(sigs, "doc_id", BANDS, R)
        // cand feeds both the doc prune and the pair semi-join, pruned
        // feeds sizes + both self-join sides — materialize each once or
        // the minhash chain re-executes per consumer (triangles lesson)
        val cand = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val edges = TextOps.shingleSidEdges(docs(s, d), "doc_id", "text", K, dedup = true)
        val candDocs = cand
          .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
        val pruned = edges.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val sizes = pruned.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val l = pruned.select(col("doc_id").as("a"), col("sid"))
        val r = pruned.select(col("doc_id").as("b"), col("sid"))
        val inter = l.join(r, "sid").filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("i"))
          .join(cand, Seq("a", "b"), "left_semi")
        inter
          .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
          .withColumn("jacc", col("i").cast("double") / (col("sza") + col("szb") - col("i")))
          .filter(col("jacc") >= 0.5)
          .select("a", "b", "i", "jacc")
      },
      s"WITH $MINHASH_CANDS, $EDGES_DISTINCT, " +
        "cd AS (SELECT DISTINCT doc_id FROM " +
        "(SELECT a AS doc_id FROM cand UNION ALL SELECT b AS doc_id FROM cand)), " +
        "pe AS (SELECT e.* FROM edges e JOIN cd USING (doc_id)), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM pe GROUP BY doc_id), " +
        "inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i FROM pe l " +
        "JOIN pe r USING (sid) WHERE l.doc_id < r.doc_id GROUP BY a, b) " +
        "SELECT a, b, i, jacc FROM (SELECT i.a, i.b, i.i, " +
        "CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) AS jacc " +
        "FROM inter i JOIN cand c ON i.a = c.a AND i.b = c.b " +
        "JOIN sizes sa ON sa.doc_id = i.a JOIN sizes sb ON sb.doc_id = i.b) " +
        "WHERE jacc >= 0.5e0 ORDER BY a, b"),

    Q("q_dedup_jaccard",
      // n-gram Jaccard via inverted-index join (the scale shape: shuffle
      // on shingle, never all-pairs); top-100 most similar pairs.
      (s, d) => {
        // edges feeds sizes + both self-join sides — materialize once
        val edges = TextOps.shingleSidEdges(docs(s, d), "doc_id", "text", K, dedup = true)
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val sizes = edges.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val l = edges.select(col("doc_id").as("a"), col("sid"))
        val r = edges.select(col("doc_id").as("b"), col("sid"))
        val inter = l.join(r, "sid").filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("i"))
        inter
          .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
          .withColumn("jacc", col("i").cast("double") / (col("sza") + col("szb") - col("i")))
          .select("a", "b", "i", "jacc")
          .orderBy(col("jacc").desc, col("a"), col("b")).limit(100)
      },
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, $EDGES_DISTINCT, " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM edges GROUP BY doc_id), " +
        "inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i FROM edges l " +
        "JOIN edges r USING (sid) WHERE l.doc_id < r.doc_id GROUP BY a, b) " +
        "SELECT a, b, i, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jacc " +
        "FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "ORDER BY jacc DESC, a, b LIMIT 100"),

    Q("q_dedup_jaccard_capped",
      // q_dedup_jaccard with Broder's STOP-SHINGLE discipline: shingles
      // with document frequency > STOP_SHINGLE_DF are dropped BEFORE the
      // inverted-index self-join, and sizes/Jaccard are computed over
      // the surviving (informative) shingles. The uncapped baseline's
      // hot-shingle term is Σ df² — quadratic when a templated shingle
      // rides a fixed corpus fraction; here every join key is bounded
      // at cap² pairs at ANY corpus size. The df groupBy shuffles on
      // the SAME key (sid) as the pair join, so the guard adds one
      // co-partitioned aggregation, not a new shuffle shape. The
      // uncapped q_dedup_jaccard stays as the oracle-pinned exhaustive
      // baseline; this is the production shape.
      (s, d) => {
        // edges0 feeds the df guard + the filtered edge set; edges
        // feeds sizes + both self-join sides — materialize each once
        val edges0 = TextOps.shingleSidEdges(docs(s, d), "doc_id", "text", K, dedup = true)
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val keep = edges0.groupBy("sid").agg(count(lit(1)).as("df"))
          .filter(col("df") <= STOP_SHINGLE_DF).select("sid")
        val edges = edges0.join(keep, Seq("sid"), "left_semi")
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val sizes = edges.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val l = edges.select(col("doc_id").as("a"), col("sid"))
        val r = edges.select(col("doc_id").as("b"), col("sid"))
        val inter = l.join(r, "sid").filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("i"))
        inter
          .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
          .withColumn("jacc", col("i").cast("double") / (col("sza") + col("szb") - col("i")))
          .select("a", "b", "i", "jacc")
          .orderBy(col("jacc").desc, col("a"), col("b")).limit(100)
      },
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, $EDGES_DISTINCT, " +
        "keep AS (SELECT sid FROM (SELECT sid, count(*) AS df FROM edges " +
        s"GROUP BY sid) WHERE df <= $STOP_SHINGLE_DF), " +
        "fe AS (SELECT e.* FROM edges e JOIN keep USING (sid)), " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM fe GROUP BY doc_id), " +
        "inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i FROM fe l " +
        "JOIN fe r USING (sid) WHERE l.doc_id < r.doc_id GROUP BY a, b) " +
        "SELECT a, b, i, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jacc " +
        "FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b " +
        "ORDER BY jacc DESC, a, b LIMIT 100"),

    Q("q_dedup_containment",
      // ASYMMETRIC overlap: containment(A⊂B) = |sh(A)∩sh(B)| / |sh(A)|
      // (Broder 1997's second resemblance measure). Catches the
      // doc-contains-doc case symmetric Jaccard dilutes away — a long
      // page quoting a short doc wholesale scores jacc ≈ |A|/|B| → 0
      // but containment = 1. Same inverted-index skeleton as
      // q_dedup_jaccard (shuffle on shingle id, never all-pairs); each
      // unordered pair emits its two directions, thresholded at 0.8.
      (s, d) => {
        // edges feeds sizes + both self-join sides — materialize once
        // (triangles lesson: Spark re-executes the shingle build per
        // consumer otherwise)
        val edges = TextOps.shingleSidEdges(docs(s, d), "doc_id", "text", K, dedup = true)
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val sizes = edges.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val l = edges.select(col("doc_id").as("a"), col("sid"))
        val r = edges.select(col("doc_id").as("b"), col("sid"))
        val inter = l.join(r, "sid").filter(col("a") < col("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("i"))
        val sc = inter
          .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
          .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
        sc.select(explode(array(
            struct(col("a").as("contained"), col("b").as("container"),
              col("i"), (col("i").cast("double") / col("sza")).as("containment")),
            struct(col("b").as("contained"), col("a").as("container"),
              col("i"), (col("i").cast("double") / col("szb")).as("containment"))))
            .as("r"))
          .select("r.*")
          .filter(col("containment") >= 0.8)
      },
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, $EDGES_DISTINCT, " +
        "sizes AS (SELECT doc_id, count(*) AS sz FROM edges GROUP BY doc_id), " +
        "inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i FROM edges l " +
        "JOIN edges r USING (sid) WHERE l.doc_id < r.doc_id GROUP BY a, b), " +
        "sc AS (SELECT a, b, i, CAST(i AS DOUBLE) / sa.sz AS ca, " +
        "CAST(i AS DOUBLE) / sb.sz AS cb FROM inter " +
        "JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b), " +
        "dirs AS (SELECT a AS contained, b AS container, i, ca AS containment FROM sc " +
        "UNION ALL SELECT b, a, i, cb FROM sc) " +
        "SELECT contained, container, i, containment FROM dirs " +
        "WHERE containment >= 0.8e0 ORDER BY contained, container"),

    Q("q_gini",
      // Gini coefficient of per-document token mass within each source
      // (corpus balance: 0 = every doc contributes equally, →1 = a few
      // docs dominate) via the sorted-rank rational form
      // G = (2·Σ i·x(i) − (n+1)·Σx) / (n·Σx) — integer numerator and
      // denominator from one rank window + one aggregate, ONE final
      // division. The mixing diagnostic read next to q_source_stats.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("x"))
        val w = Window.partitionBy("source").orderBy("x", "doc_id")
        base.withColumn("i", row_number().over(w).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("i") * col("x")).as("six"))
          .withColumn("gini",
            (lit(2L) * col("six") - (col("n") + 1) * col("sx")).cast("double") /
              (col("n") * col("sx")).cast("double"))
      },
      s"WITH $DOC_TOKS, " +
        "base AS (SELECT doc_id, source, len(toks) AS x FROM tok " +
        "JOIN documents USING (doc_id)), " +
        "rk AS (SELECT source, x, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY x, doc_id) AS BIGINT) AS i FROM base) " +
        "SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, " +
        "CAST(sum(i * x) AS BIGINT) AS six, " +
        "CAST(2 * CAST(sum(i * x) AS BIGINT) - (count(*) + 1) * " +
        "CAST(sum(x) AS BIGINT) AS DOUBLE) / " +
        "CAST(count(*) * CAST(sum(x) AS BIGINT) AS DOUBLE) AS gini " +
        "FROM rk GROUP BY source ORDER BY source"),

    Q("q_negatives",
      // Deterministic contrastive negative sampling: 3 pseudo-random
      // negatives per anchor via a Knuth multiplicative hash over a
      // DENSE rank index (Sources.withGlobalSeq = range-repartition +
      // zipWithIndex, the scale path for contiguous global ids — no
      // single-partition window), self-hits bumped to the next index.
      // No RNG state: stable under re-runs, retries and appends, which
      // is what a training-pair generator must be.
      (s, d) => {
        val ids = graft.sources.Sources.withGlobalSeq(
          docs(s, d).select(col("doc_id")), Seq(col("doc_id")), "idx")
        val n = ids.agg(count(lit(1)).as("n"))
        val neg = ids.crossJoin(broadcast(n))
          .select(col("doc_id"), col("idx"), col("n"),
            explode(expr("array(1L, 2L, 3L)")).as("k"))
          .withColumn("nidx", expr("(idx * 2654435761 + k * 40503) % n"))
          .withColumn("nidx",
            expr("CASE WHEN nidx = idx THEN (nidx + 1) % n ELSE nidx END"))
        neg.join(ids.select(col("idx").as("nidx"), col("doc_id").as("neg_doc_id")),
            "nidx")
          .select("doc_id", "k", "neg_doc_id")
      },
      "WITH ids AS (SELECT doc_id, " +
        "CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) - 1 AS idx " +
        "FROM documents), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids), " +
        "neg AS (SELECT doc_id, idx, n, unnest([1, 2, 3]) AS k " +
        "FROM ids CROSS JOIN n), " +
        "nx AS (SELECT doc_id, CAST(k AS BIGINT) AS k, " +
        "(idx * 2654435761 + k * 40503) % n AS h, idx, n FROM neg), " +
        "nz AS (SELECT doc_id, k, " +
        "CASE WHEN h = idx THEN (h + 1) % n ELSE h END AS nidx FROM nx) " +
        "SELECT nz.doc_id, nz.k, i.doc_id AS neg_doc_id FROM nz " +
        "JOIN ids i ON nz.nidx = i.idx ORDER BY nz.doc_id, nz.k"),

    Q("q_pareto_front",
      // Per-language Pareto front (skyline) over (vocabulary richness,
      // length): docs no other same-language doc dominates in BOTH
      // distinct-token count and token count. One keyed sort window:
      // scan in (rich desc, n_tokens desc, doc_id) order keeping rows
      // whose n_tokens strictly exceeds the running max — duplicate
      // points keep their first (lowest-id) representative. The
      // corpus-curation use: the efficient frontier of "richest for
      // their length" exemplar documents per language.
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = docs(s, d).select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          size(array_distinct(TextOps.tokens(col("text")))).cast("long").as("rich"))
        val w = Window.partitionBy("lang")
          .orderBy(col("rich").desc, col("n_tokens").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        base.withColumn("pm", max(col("n_tokens")).over(w))
          .filter(col("pm").isNull || col("n_tokens") > col("pm"))
          .select("lang", "doc_id", "rich", "n_tokens")
      },
      s"WITH $DOC_TOKS, " +
        "base AS (SELECT doc_id, lang, len(toks) AS n_tokens, " +
        "len(list_distinct(toks)) AS rich FROM tok " +
        "JOIN documents USING (doc_id)), " +
        "sc AS (SELECT *, max(n_tokens) OVER (PARTITION BY lang " +
        "ORDER BY rich DESC, n_tokens DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM base) " +
        "SELECT lang, doc_id, rich, n_tokens FROM sc " +
        "WHERE pm IS NULL OR n_tokens > pm ORDER BY lang, doc_id"),

    Q("q_collocations",
      // PMI collocation mining (Church & Hanks 1990), log-free: ratio
      // p(w1,w2)/(p(w1)p(w2)) = (c12·nu·nu)/(nb·c1·c2) computed as ONE
      // fixed IEEE op sequence (c12·nu stays integer-exact first) —
      // the ln of textbook PMI is monotone, so the top-k by ratio IS
      // the top-k by PMI. The phrase-mining pass that feeds tokenizer
      // vocab decisions and stop-phrase lists. Shape: one bigram
      // explode + two tiny aggregates + two vocab joins + top-k.
      (s, d) => {
        val tk = docs(s, d).select(TextOps.tokens(col("text")).as("tk"))
        val bg = tk.where(size(col("tk")) >= 2)
          .select(slice(col("tk"), lit(1), size(col("tk")) - 1).as("a"),
            slice(col("tk"), lit(2), size(col("tk")) - 1).as("b"))
          .select(explode(arrays_zip(col("a"), col("b"))).as("p"))
          .select(col("p.a").as("w1"), col("p.b").as("w2"))
        val uni = docs(s, d).select(explode(TextOps.tokens(col("text"))).as("w"))
        val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = uni.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = uni.agg(count(lit(1)).as("nu"))
          .crossJoin(bg.agg(count(lit(1)).as("nb")))
        c12.filter(col("c12") >= 5)
          .join(c1.select(col("w").as("w1"), col("c").as("c1")), "w1")
          .join(c1.select(col("w").as("w2"), col("c").as("c2")), "w2")
          .crossJoin(broadcast(tot))
          .withColumn("pmi_ratio",
            (col("c12") * col("nu")).cast("double") * col("nu").cast("double") /
              (col("nb").cast("double") *
                (col("c1").cast("double") * col("c2").cast("double"))))
          .select("w1", "w2", "c12", "c1", "c2", "pmi_ratio")
          .orderBy(col("pmi_ratio").desc, col("w1"), col("w2")).limit(50)
      },
      s"WITH $DOC_TOKS, " +
        "bg AS MATERIALIZED (SELECT unnest(list_transform(range(1, len(toks)), " +
        "i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS p " +
        "FROM tok WHERE len(toks) >= 2), " +
        "bgf AS MATERIALIZED (SELECT p.w1 AS w1, p.w2 AS w2 FROM bg), " +
        "uni AS MATERIALIZED (SELECT unnest(toks) AS w FROM tok), " +
        "c12 AS (SELECT w1, w2, count(*) AS c12 FROM bgf GROUP BY w1, w2), " +
        "c1 AS MATERIALIZED (SELECT w, count(*) AS c FROM uni GROUP BY w), " +
        "tot AS (SELECT (SELECT count(*) FROM uni) AS nu, " +
        "(SELECT count(*) FROM bgf) AS nb) " +
        "SELECT w1, w2, c12, c1, c2, " +
        "CAST(c12 * nu AS DOUBLE) * CAST(nu AS DOUBLE) / " +
        "(CAST(nb AS DOUBLE) * (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) AS pmi_ratio " +
        "FROM (SELECT c12.w1, c12.w2, c12.c12, a.c AS c1, b.c AS c2 FROM c12 " +
        "JOIN c1 a ON c12.w1 = a.w JOIN c1 b ON c12.w2 = b.w WHERE c12 >= 5) " +
        "CROSS JOIN tot ORDER BY pmi_ratio DESC, w1, w2 LIMIT 50"),

    Q("q_dup_ngram_frac",
      // Cross-document repeated n-gram fraction — the linear-cost proxy
      // for suffix-array substring dedup (Lee et al. 2022,
      // "Deduplicating Training Data Makes Language Models Better"):
      // per doc, the fraction of its distinct k-token shingles that
      // also occur in some OTHER document. Pure inverted-index shape:
      // one repartition on shingle id feeds both the per-shingle
      // doc-count aggregate and the join back (identical subplans →
      // ReusedExchange), then one doc-keyed aggregate. No candidate
      // pairs anywhere, so cost stays linear in corpus size at 100 TB —
      // this is the cheap first-pass filter that runs BEFORE any
      // pairwise dedup. Window width K_DUP = 8 tokens (see the constant:
      // short shingles are template noise on this corpus; 8-grams only
      // collide on true duplicated spans).
      (s, d) => TextOps.dupNgramFrac(docs(s, d), "doc_id", "text", K_DUP)
        .withColumn("keep", col("dup_frac") <= 0.2),
      s"WITH $DOC_TOKS, $TOKFPS, ${sqlShSidsK(K_DUP, "sh8")}, " +
        "edges AS (SELECT DISTINCT doc_id, sid FROM sh8), " +
        "sd AS (SELECT sid, count(*) AS nd FROM edges GROUP BY sid), " +
        "per AS (SELECT doc_id, count(*) AS n_shingles, " +
        "CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared " +
        "FROM edges JOIN sd USING (sid) GROUP BY doc_id) " +
        "SELECT doc_id, n_shingles, n_shared, dup_frac, " +
        "dup_frac <= CAST(0.2 AS DOUBLE) AS keep FROM " +
        "(SELECT d.doc_id, coalesce(n_shingles, 0) AS n_shingles, " +
        "coalesce(n_shared, 0) AS n_shared, " +
        "CAST(coalesce(n_shared, 0) AS DOUBLE) / " +
        "CAST(greatest(coalesce(n_shingles, 0), 1) AS DOUBLE) AS dup_frac " +
        "FROM documents d LEFT JOIN per USING (doc_id)) ORDER BY doc_id"),

    Q("q_semdedup",
      // SemDeDup (Abbas et al. 2023): semantic dedup confined to
      // k-means cells — the embedding-space analogue of LSH-bucketed
      // text dedup, and the technique's web-scale form (cluster count
      // grows with the corpus, cell size stays bounded, so the
      // quadratic term never grows). Deterministic Lloyd centroids
      // (integer sums) make the clustering oracle-replicable; pair
      // scoring uses the original float vectors.
      // Cell count DERIVED from the corpus (ivfCellsFor: smallest
      // 16·2^k with expected cell size ≤ IVF_TGT_CELL) — the sized
      // discipline family-wide: cells grow with the data so the
      // within-cell quadratic pair term stays bounded. The oracle
      // derives the identical count from its own count(*).
      (s, d) => {
        val e = emb(s, d)
        val n = e.count()
        val cells = Similarity.ivfCellsFor(n, IVF_TGT_CELL, 16)
        // corpus-sized construction scope (see q_ann_tuning): training
        // rounds and the member checkpoint are priced by data size, not
        // the session's full width — capped there at real scale
        graft.engine.StaticPlan.scopedSized(s, n) {
          Similarity.semDedup(e, "vec_id", "embedding",
            SEM_TAU, cells, KM_ITERS, DIMS,
            Similarity.trainModFor(n, TRAIN_TGT))
        }
      },
      s"WITH ${sqlTrainMod()}, " +
        s"${sqlKmeansCtes(16, 1, KM_ITERS, "m", TMOD, derivedTarget = IVF_TGT_CELL)}, " +
        "pr AS (SELECT l.vec_id AS a, r.vec_id AS b FROM mhome l " +
        "JOIN mhome r USING (cell) WHERE l.vec_id < r.vec_id " +
        s"AND ${sqlCos("l.embedding", "r.embedding")} >= CAST($SEM_TAU AS DOUBLE)) " +
        "SELECT vec_id, cell, vec_id IN (SELECT b FROM pr) AS dropped " +
        "FROM mhome ORDER BY vec_id"),

    Q("q_dedup_incremental",
      // Incremental dedup of a "daily batch" (doc_id % 5 = 0 stands in
      // for today's crawl) against the standing corpus (the rest): the
      // corpus is touched only as its LSH band-key index — one scan, no
      // self-pairing, batch keys broadcast (TextOps.dedupIncremental).
      // This is the operator a 100 TB pipeline actually runs daily;
      // re-dedup-ing the whole corpus per batch would be quadratic in
      // corpus count over time.
      (s, d) => {
        val all = docs(s, d)
        val corpusBands = TextOps.lshBandsArr(
          TextOps.minhashSigArray(all.filter(col("doc_id") % 5 =!= 0),
            "doc_id", "text", K, H),
          "doc_id", BANDS, R)
        TextOps.dedupIncremental(all.filter(col("doc_id") % 5 === 0),
            corpusBands, "doc_id", "text", K, H, BANDS, R, LSH_BUCKET_CAP)
          .select("doc_id", "n_chars")
      },
      s"WITH $MINHASH_CANDS, " +
        "dropc AS (SELECT DISTINCT l.doc_id AS doc_id FROM bands l " +
        "JOIN bands r USING (band, key) " +
        "WHERE l.doc_id % 5 = 0 AND r.doc_id % 5 <> 0), " +
        "dropw AS (SELECT DISTINCT b AS doc_id FROM cand " +
        "WHERE a % 5 = 0 AND b % 5 = 0) " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id % 5 = 0 " +
        "AND doc_id NOT IN (SELECT doc_id FROM dropc) " +
        "AND doc_id NOT IN (SELECT doc_id FROM dropw) ORDER BY doc_id"),

    Q("q_lm_commonness",
      // Bigram "commonness" score — the CCNet-style LM-quality proxy
      // (Wenzek et al. 2020 bucket documents by LM perplexity; with no
      // external model, the corpus's own bigram statistics stand in):
      // score = mean corpus frequency of the doc's bigram OCCURRENCES,
      // plus the rarest-bigram frequency as the surprise signal.
      // Fluent/boilerplate text scores high, noise scores low. Bigram
      // identity is the polynomial fingerprint pair-hash, all counting
      // is integer-exact, and the score is ONE long/long division →
      // bit-identical doubles in both engines. Same linear inverted-
      // index shape as q_dup_ngram_frac (count, join back, doc agg).
      (s, d) => TextOps.bigramCommonness(docs(s, d), "doc_id", "text"),
      s"WITH $DOC_TOKS, $TOKFPS, " +
        "bg2 AS (SELECT doc_id, unnest(CASE WHEN len(fps) >= 2 THEN " +
        "list_transform(range(1, len(fps)), i -> " +
        "((fps[CAST(i AS INT)] % 1000000007) * 8191 + fps[CAST(i + 1 AS INT)]) % 1000000007) " +
        "ELSE CAST([] AS BIGINT[]) END) AS sid FROM tokfp), " +
        "cf AS (SELECT sid, count(*) AS cf FROM bg2 GROUP BY sid), " +
        "per AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(cf) AS BIGINT) AS sum_cf, min(cf) AS min_cf " +
        "FROM bg2 JOIN cf USING (sid) GROUP BY doc_id) " +
        "SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, " +
        "coalesce(sum_cf, 0) AS sum_cf, coalesce(min_cf, 0) AS min_cf, " +
        "CAST(coalesce(sum_cf, 0) AS DOUBLE) / " +
        "CAST(greatest(coalesce(n_bigrams, 0), 1) AS DOUBLE) AS commonness " +
        "FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id"),

    Q("q_ppl_buckets",
      // CCNet's head/middle/tail artifact (Wenzek et al. 2020): per
      // language, rank documents by LM quality (the corpus-bigram
      // commonness proxy above) and cut into equal thirds with ntile —
      // head = most fluent third, the slice CCNet trains on first.
      // Deterministic: the rank order ties on doc_id, ntile's
      // equal-split semantics match across engines, every mass count
      // is an exact BIGINT. One score pass + one keyed rank window +
      // a tiny groupBy.
      (s, d) => {
        val sc = TextOps.bigramCommonness(docs(s, d), "doc_id", "text")
          .select("doc_id", "commonness")
        val dd = docs(s, d).select("doc_id", "lang", "n_chars")
        dd.join(sc, "doc_id")
          .withColumn("bkt", ntile(3).over(
            Window.partitionBy("lang")
              .orderBy(col("commonness").desc, col("doc_id"))).cast("long"))
          .groupBy("lang", "bkt")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .withColumn("bucket",
            when(col("bkt") === 1, "head").when(col("bkt") === 2, "middle")
              .otherwise("tail"))
          .select("lang", "bkt", "bucket", "n_docs", "sum_chars")
      },
      s"WITH $DOC_TOKS, $TOKFPS, " +
        "bg2 AS (SELECT doc_id, unnest(CASE WHEN len(fps) >= 2 THEN " +
        "list_transform(range(1, len(fps)), i -> " +
        "((fps[CAST(i AS INT)] % 1000000007) * 8191 + fps[CAST(i + 1 AS INT)]) % 1000000007) " +
        "ELSE CAST([] AS BIGINT[]) END) AS sid FROM tokfp), " +
        "cf AS (SELECT sid, count(*) AS cf FROM bg2 GROUP BY sid), " +
        "per AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(cf) AS BIGINT) AS sum_cf FROM bg2 JOIN cf USING (sid) " +
        "GROUP BY doc_id), " +
        "sc AS (SELECT d.doc_id, d.lang, d.n_chars, " +
        "CAST(coalesce(sum_cf, 0) AS DOUBLE) / " +
        "CAST(greatest(coalesce(n_bigrams, 0), 1) AS DOUBLE) AS commonness " +
        "FROM documents d LEFT JOIN per USING (doc_id)), " +
        "b AS (SELECT lang, n_chars, CAST(ntile(3) OVER (PARTITION BY lang " +
        "ORDER BY commonness DESC, doc_id) AS BIGINT) AS bkt FROM sc) " +
        "SELECT lang, bkt, CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM b GROUP BY lang, bkt ORDER BY lang, bkt"),

    Q("q_dedup_cosine",
      // Threshold 0.4 yields real near-dup pairs on the synthetic
      // embeddings (0.8 matched zero rows — a vacuous green).
      // Exact-cosine near-dup AUDIT anchored at every probeMod-th
      // vector (broadcast sample × corpus, corpus-derived modulus —
      // see PROBE_TGT) — the all-pairs exact form is corpus × corpus
      // and cannot survive 100×; the serving paths are
      // q_dedup_cosine_lsh / q_semdedup.
      (s, d) => {
        val e = emb(s, d)
        Similarity.cosineNeighbors(e, "vec_id", "embedding",
            0.4, probeModOf(e))
      },
      s"WITH ${sqlProbeMod()} " +
        "SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"${sqlCos("l.embedding", "r.embedding")} AS cos " +
        s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id " +
        s"AND ${sqlCos("l.embedding", "r.embedding")} >= 0.4e0 ORDER BY a, b"),

    Q("q_dedup_cosine_lsh",
      // The scale path for q_dedup_cosine: hyperplane-sign buckets (3
      // planes) + 3 single-bit probes confine the quadratic pair
      // generation while recovering 41 of the 59 exact pairs (planes
      // alone: 13); the exact-cosine filter keeps precision 1. The
      // oracle replicates the bucketing, so the compare is exact
      // (recall loss is part of the operator's contract, not noise).
      (s, d) => {
        val e = emb(s, d)
        // plane count DERIVED from the corpus (floor = the historical
        // 3): buckets keep ~LSH_TGT_DEDUP expected rows as data grows
        val planes = Similarity.lshPlanesFor(e.count(), LSH_TGT_DEDUP, 3)
        Similarity.cosinePairsLsh(e, "vec_id", "embedding",
          0.4, planes, DIMS, DEDUP_PROBES)
      },
      {
        val probeUnion = (1 to DEDUP_PROBES).map(p =>
          s"SELECT vec_id, embedding, xor(bucket, ${1L << (p - 1)}) AS bucket FROM bk")
          .mkString(" UNION ALL ")
        s"WITH ${sqlLshPlanes(LSH_TGT_DEDUP, 3)}, " +
          "bk AS MATERIALIZED (SELECT vec_id, embedding, " +
          s"${sqlBucketDyn(16, "np.p")} AS bucket " +
          "FROM embeddings, np), " +
          s"nb AS (SELECT vec_id, embedding, bucket FROM bk UNION ALL $probeUnion) " +
          "SELECT a, b, cos FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
          s"${sqlCos("l.embedding", "r.embedding")} AS cos " +
          "FROM nb l JOIN bk r USING (bucket) WHERE l.vec_id < r.vec_id) " +
          "WHERE cos >= 0.4e0 ORDER BY a, b"
      }),

    // ---------------- similarity search ----------------
    Q("q_ann_topk",
      // Exact ground truth for the probe sample (broadcast sample ×
      // corpus; corpus-derived modulus, see PROBE_TGT) — the serving
      // paths are the bucketed LSH/IVF queries below.
      (s, d) => {
        val e = emb(s, d)
        Similarity.topK(e, "vec_id", "embedding", 3, probeModOf(e))
      },
      s"WITH ${sqlProbeMod()} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_ivf",
      // IVF: broadcast seed centroids, nearest-centroid cell assignment,
      // within-cell quadratic top-k — the learned-partitioner counterpart
      // to the LSH path.
      (s, d) => Similarity.topKIvf(emb(s, d), "vec_id", "embedding", 3, 16),
      "WITH cents AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings " +
        "ORDER BY vec_id LIMIT 16), " +
        "scored AS (SELECT e.vec_id, e.embedding, c.cid, " +
        s"${sqlCos("e.embedding", "c.cv")} AS ccos FROM embeddings e, cents c), " +
        "assigned AS (SELECT vec_id, embedding, cid AS cell FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS r " +
        "FROM scored) WHERE r = 1) " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM assigned l JOIN assigned r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_ivf2",
      // IVF with nprobe=2: each query also searches its second-nearest
      // cell — the standard IVF recall knob (candidates stay home-only,
      // so pairs are exactly-once; probe side doubles, quadratic term
      // does not).
      (s, d) => Similarity.topKIvf(emb(s, d), "vec_id", "embedding", 3, 16, 2),
      s"WITH ${sqlIvfCtes(16, 2)} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM probe l JOIN home r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_ivf_sized",
      // IVF whose cell count is DERIVED from the corpus
      // (Similarity.ivfCellsFor: smallest 16·2^k with expected cell
      // size n/cells ≤ 128) — cells grow with the data so the in-cell
      // quadratic term stays bounded, instead of a fixed constant whose
      // cells densify (the discipline q_ann_lsh_multi's plane count
      // already follows). Integer-only doubling, so the oracle derives
      // the IDENTICAL count from its own count(*); the target is tuned
      // so the test SFs derive the historical 16 (the derivation is
      // exercised, the operating point unchanged).
      (s, d) => {
        val e = emb(s, d)
        val cells = Similarity.ivfCellsFor(e.count(), 128L, 16)
        Similarity.topKIvf(e, "vec_id", "embedding", 3, cells, 2)
      },
      "WITH sz AS (SELECT count(*) AS n FROM embeddings), " +
        "cellsz AS (SELECT coalesce(min(t.c), 1048576) AS c FROM (VALUES " +
        "(16),(32),(64),(128),(256),(512),(1024),(2048),(4096),(8192),(16384)," +
        "(32768),(65536),(131072),(262144),(524288),(1048576)) t(c), sz " +
        "WHERE sz.n <= t.c * 128), " +
        "cents AS (SELECT cid, cv FROM (SELECT vec_id AS cid, embedding AS cv, " +
        "row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings) r, cellsz " +
        "WHERE r.rn <= cellsz.c), " +
        "cscored AS (SELECT e.vec_id, e.embedding, c.cid, " +
        s"${sqlCos("e.embedding", "c.cv")} AS ccos FROM embeddings e, cents c), " +
        "cranked AS (SELECT vec_id, embedding, cid AS cell, " +
        "row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS cr " +
        "FROM cscored), " +
        "sprobe AS (SELECT vec_id, embedding, cell FROM cranked WHERE cr <= 2), " +
        "shome AS (SELECT vec_id, embedding, cell FROM cranked WHERE cr = 1) " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM sprobe l JOIN shome r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_ivf_capped",
      // IVF with a BINDING max-codes-per-cell cap (FAISS's
      // max_codes knob): each query meets at most the cellCap=8
      // LOWEST-id home members of a probed cell — deterministic, so
      // the recall trade is exactly reproducible cross-engine. With 16
      // cells over 500-2000 vectors every cell exceeds 8 members, so
      // the cap binds at every SF (the default-cap behavior is pinned
      // by q_ann_ivf2, whose plan this shares minus the cap filter).
      // At 100 TB this is the hard |query|·cap work bound that keeps a
      // skewed cell from dominating the in-cell quadratic stage.
      (s, d) => Similarity.topKIvf(emb(s, d), "vec_id", "embedding", 3, 16, 2,
          cellCap = 8),
      s"WITH ${sqlIvfCtes(16, 2)}, " +
        "chome AS (SELECT vec_id, embedding, cell FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS hr " +
        "FROM home) WHERE hr <= 8) " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM probe l JOIN chome r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_ivf_kmeans",
      // IVF with k-means-refined centroids: 2 deterministic Lloyd rounds
      // over integer-quantized vectors lift recall@3 from 0.33 (seed
      // centroids, q_ann_ivf2) to 0.52 at the SAME cells/nprobe operating
      // point (sf0.01, trainMod-sampled training — see q_ann_tuning).
      // The oracle unrolls the identical rounds on the identical sample —
      // integer centroid sums make that exact.
      (s, d) => {
        val e = emb(s, d)
        Similarity.topKIvfKmeans(e, "vec_id", "embedding", 3,
            16, KM_ITERS, DIMS, 2, trainModOf(e))
      },
      s"WITH ${sqlTrainMod()}, ${sqlKmeansCtes(16, 2, KM_ITERS, trainMod = TMOD)} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM kprobe l JOIN khome r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_pq",
      // IVF-PQ with exact rerank (Jégou et al. 2011 / the FAISS
      // IVF-PQ+refine shape): k-means cells give candidates, each
      // vector is reduced to 8 sub-codeword ids, pairs are scored by 8
      // broadcast-table lookups (the float vector never enters the cell
      // shuffle — ~30× fewer index bytes at 100 TB), and true cosine
      // re-ranks only the PQ top-48 per query. Probe-measured (sf0.01,
      // trainMod-sampled codebooks): recall@3 0.67 at rerank-48 vs the
      // 0.74 ceiling of exact-scoring every candidate (q_ann_tuning's
      // ivf_kmeans 16/4 row) — rerank size is the float-work/recall
      // knob, at 24k exactly-scored pairs vs the ceiling's 62k.
      // Coarse cell count DERIVED from the corpus (the sized
      // discipline, see q_semdedup) — FAISS sizes the IVF of an IVF-PQ
      // the same way; codebook training stays trainMod-sampled.
      (s, d) => {
        val e0 = emb(s, d)
        val n = e0.count()
        val cells = Similarity.ivfCellsFor(n, IVF_TGT_CELL, 16)
        // corpus-sized construction scope (see q_ann_tuning): the slim
        // member checkpoint is n×(nProbe+1) rows — price it (and the
        // sampled training rounds) by size, capped at the session width
        // (A-B-A'd against n×20: the 1-part scope measured faster here,
        // the shortlist/ADC tail is light for raw PQ)
        graft.engine.StaticPlan.scopedSized(s, n * 5) {
          // corpus pinned ONCE at COMPUTE width (r16, guide §2.2/§2.4):
          // the full-corpus passes (quantize+assign, PQ encode, rerank
          // sides) are per-row vector compute chained scan→project→
          // checkpoint with no exchange, so they inherited the 1-task
          // parquet split; one narrow keyed exchange re-widths them all
          // and every consumer reads pinned blocks instead of
          // re-scanning parquet per job. LAZY pin: the chain is
          // driver-sequential, the first consumer materializes it.
          val e = graft.engine.StaticPlan.ckptFreshLazy(e0.repartition(
            graft.engine.StaticPlan.computePartitions(n, s), col("vec_id")))
          Similarity.topKIvfPq(e, "vec_id", "embedding", 3,
              cells, KM_ITERS, DIMS, 4, PQ_M, PQ_K, PQ_ITERS, PQ_RERANK,
              Similarity.trainModFor(n, TRAIN_TGT))
        }
      },
      s"WITH ${sqlTrainMod()}, " +
        s"${sqlKmeansCtes(16, 4, KM_ITERS, trainMod = TMOD, derivedTarget = IVF_TGT_CELL)}, " +
        s"${sqlPqCtes(PQ_M, DIMS / PQ_M, PQ_K, PQ_ITERS, trainMod = TMOD)}, " +
        "ppair AS (SELECT l.vec_id AS a, r.vec_id AS b, (" +
        (0 until PQ_M).map(mi => s"t$mi.t").mkString(" + ") +
        ") / (la.vn * rb.vn) AS pqcos " +
        "FROM kprobe l JOIN khome r USING (cell) " +
        "JOIN pcod ca ON ca.vec_id = l.vec_id JOIN pcod cb ON cb.vec_id = r.vec_id " +
        "JOIN pvn la ON la.vec_id = l.vec_id JOIN pvn rb ON rb.vec_id = r.vec_id " +
        (0 until PQ_M).map(mi =>
          s"JOIN pt$mi t$mi ON t$mi.i = ca.c$mi AND t$mi.j = cb.c$mi").mkString(" ") +
        " WHERE l.vec_id <> r.vec_id), " +
        s"pshort AS (SELECT a, b FROM (SELECT a, b, row_number() OVER (" +
        s"PARTITION BY a ORDER BY pqcos DESC, b) AS r FROM ppair) WHERE r <= $PQ_RERANK) " +
        "SELECT a, rank, b FROM (SELECT s.a, s.b, row_number() OVER (" +
        s"PARTITION BY s.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, s.b) AS rank " +
        "FROM pshort s JOIN embeddings ea ON ea.vec_id = s.a " +
        "JOIN embeddings eb ON eb.vec_id = s.b) WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_pq_residual",
      // Residual-encoded IVF-PQ (Jégou et al. 2011 §IV, the FAISS
      // IndexIVFPQ default): codebooks train on x − μ'(home cell)
      // (floor-integer mean keeps every distributed sum integer-exact);
      // pair scoring expands x̂a·x̂b = μμ + Σ_m (μ·cw + μ·cw + cw·cw)
      // from three broadcast table families, so the float vector still
      // never enters the cell shuffle. Probe-measured (sf0.01,
      // trainMod-sampled codebooks): recall parity with raw-PQ
      // q_ann_pq (0.70 vs 0.67 at rerank-48) — the synthetic embeddings
      // are near-isotropic, so the centroid absorbs little structure;
      // on real clustered corpora residual encoding is the standard win.
      // Coarse cells corpus-derived (see q_semdedup / q_ann_pq).
      (s, d) => {
        val e0 = emb(s, d)
        val n = e0.count()
        val cells = Similarity.ivfCellsFor(n, IVF_TGT_CELL, 16)
        // corpus-sized construction scope — see q_ann_pq (n×20: the
        // 1-part variant measured 7.3-7.5 s vs 6.9-7.2 s here)
        graft.engine.StaticPlan.scopedSized(s, n * 20) {
          // corpus pinned once at compute width — see q_ann_pq (r16)
          val e = graft.engine.StaticPlan.ckptFreshLazy(e0.repartition(
            graft.engine.StaticPlan.computePartitions(n, s), col("vec_id")))
          Similarity.topKIvfPqResidual(e, "vec_id", "embedding", 3,
              cells, KM_ITERS, DIMS, 4, PQ_M, PQ_K, PQ_ITERS, PQ_RERANK,
              Similarity.trainModFor(n, TRAIN_TGT))
        }
      },
      {
        val snum = "mm.t" + (0 until PQ_M).map(mi =>
          s" + ab$mi.t + ba$mi.t + cc$mi.t").mkString
        s"WITH ${sqlTrainMod()}, " +
          s"${sqlKmeansCtes(16, 4, KM_ITERS, trainMod = TMOD, derivedTarget = IVF_TGT_CELL)}, " +
          s"${sqlResidualPreCtes()}, " +
          s"${sqlPqCtes(PQ_M, DIMS / PQ_M, PQ_K, PQ_ITERS, qe = "rqe", trainMod = TMOD)}, " +
          s"${sqlResidualTableCtes(PQ_M, DIMS / PQ_M)}, " +
          "rpair AS MATERIALIZED (SELECT l.vec_id AS a, r.vec_id AS b, " +
          "CASE WHEN la.vn * rb.vn = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          s"ELSE ($snum) / (la.vn * rb.vn) END AS pqcos " +
          "FROM kprobe l JOIN khome r ON l.cell = r.cell AND l.vec_id <> r.vec_id " +
          "JOIN khome hl ON hl.vec_id = l.vec_id " +
          "JOIN pcod ca ON ca.vec_id = l.vec_id JOIN pcod cb ON cb.vec_id = r.vec_id " +
          "JOIN rvn la ON la.vec_id = l.vec_id JOIN rvn rb ON rb.vec_id = r.vec_id " +
          "JOIN rmm mm ON mm.ha = hl.cell AND mm.hb = r.cell " +
          (0 until PQ_M).map(mi =>
            s"JOIN rmc$mi ab$mi ON ab$mi.cell = hl.cell AND ab$mi.kc = cb.c$mi " +
              s"JOIN rmc$mi ba$mi ON ba$mi.cell = r.cell AND ba$mi.kc = ca.c$mi " +
              s"JOIN pt$mi cc$mi ON cc$mi.i = ca.c$mi AND cc$mi.j = cb.c$mi")
            .mkString(" ") + "), " +
          "rshort AS MATERIALIZED (SELECT a, b FROM (SELECT a, b, " +
          "row_number() OVER (PARTITION BY a ORDER BY pqcos DESC, b) AS r " +
          s"FROM rpair) WHERE r <= $PQ_RERANK) " +
          "SELECT a, rank, b FROM (SELECT s.a, s.b, row_number() OVER (" +
          s"PARTITION BY s.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, s.b) AS rank " +
          "FROM rshort s JOIN embeddings ea ON ea.vec_id = s.a " +
          "JOIN embeddings eb ON eb.vec_id = s.b) WHERE rank <= 3 ORDER BY a, rank"
      }),

    Q("q_ann_lsh",
      (s, d) => Similarity.topKLsh(emb(s, d), "vec_id", "embedding", 3, PLANES, DIMS),
      {
        s"WITH bk AS (SELECT vec_id, embedding, ${sqlBucket(PLANES)} AS bucket " +
          "FROM embeddings) " +
          "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
          s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
          "FROM bk l JOIN bk r USING (bucket) WHERE l.vec_id <> r.vec_id) " +
          "WHERE rank <= 3 ORDER BY a, rank"
      }),

    Q("q_ann_lsh_mp",
      // Multi-probe LSH: each vector is announced in its home bucket
      // plus the 2 single-bit-flip neighbors — recall lift over
      // q_ann_lsh at (nProbes+1)× shuffle volume, still no quadratic
      // cross term.
      (s, d) => Similarity.topKLshMp(emb(s, d), "vec_id", "embedding", 3,
          PLANES, DIMS, NPROBES),
      {
        val probeUnion = (1 to NPROBES).map(p =>
          s"SELECT vec_id, embedding, xor(bucket, ${1L << (p - 1)}) AS bucket FROM bk")
          .mkString(" UNION ALL ")
        s"WITH bk AS (SELECT vec_id, embedding, ${sqlBucket(PLANES)} AS bucket " +
          "FROM embeddings), " +
          s"nb AS (SELECT vec_id, embedding, bucket FROM bk UNION ALL $probeUnion) " +
          "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
          s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
          "FROM nb l JOIN bk r USING (bucket) WHERE l.vec_id <> r.vec_id) " +
          "WHERE rank <= 3 ORDER BY a, rank"
      }),

    Q("q_ann_lsh_multi",
      // Multi-table LSH (Indyk–Motwani / E2LSH shape): 4 independent
      // 4-plane tables, candidates = pairs sharing ANY table's bucket,
      // dedup'd across tables before the one exact cosine per pair.
      // Probe-measured fixture frontier: recall 0.44 at 25% of exact
      // pair cost (vs single-table 8-plane q_ann_lsh), compounding as
      // ~1-(1-r)^L — the training-free recall lever next to the
      // trained IVF paths.
      (s, d) => {
        val e = emb(s, d)
        // planes per table DERIVED from the corpus (sf0.01 derives the
        // historical 4); interleaved plane indexing (stride = table
        // count) keeps each table's hyperplanes fixed as p grows
        val planes = Similarity.lshPlanesFor(e.count(), LSH_TGT_MULTI, 2)
        // bucketCap: mega-bucket guard (a degenerate bucket pairs at
        // most cap² rows); never binds at test SFs — the uncapped
        // oracle's green hash is the proof — same discipline as the
        // minhash queries' LSH_BUCKET_CAP
        Similarity.topKLshMulti(e, "vec_id", "embedding", 3,
          planes, DIMS, LSHM_TABLES, planeStride = LSHM_TABLES,
          bucketCap = LSH_BUCKET_CAP)
      },
      {
        val tblUnion = (0 until LSHM_TABLES).map(t =>
          s"SELECT vec_id, $t AS t, " +
            s"${sqlBucketDyn(16, "np.p", t, LSHM_TABLES)} AS bucket " +
            "FROM embeddings, np").mkString(" UNION ALL ")
        s"WITH ${sqlLshPlanes(LSH_TGT_MULTI, 2)}, " +
          s"bt AS MATERIALIZED ($tblUnion), " +
          "cand AS MATERIALIZED (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b " +
          "FROM bt l JOIN bt r USING (t, bucket) WHERE l.vec_id <> r.vec_id) " +
          "SELECT a, rank, b FROM (SELECT c.a, c.b, " +
          s"row_number() OVER (PARTITION BY c.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, c.b) AS rank " +
          "FROM cand c JOIN embeddings ea ON ea.vec_id = c.a " +
          "JOIN embeddings eb ON eb.vec_id = c.b) " +
          "WHERE rank <= 3 ORDER BY a, rank"
      }),

    Q("q_ann_rrf",
      // Reciprocal-rank fusion (Cormack et al. 2009) of two independent
      // ANN rankings — the standard hybrid-search combiner: candidates
      // from the training-free LSH table and the learned IVF partition
      // are merged by score Σ 1/(60+rank), so a pair ranked by both
      // retrievers beats a pair ranked high by one. Scale shape: both
      // inputs are the already-bucketed top-k tables; fusion itself is
      // ONE (a,b) equi-join + one per-query window — no new quadratic
      // term, no re-scoring. The double score is bit-exact across
      // engines: two integer-derived divisions summed in fixed order.
      (s, d) => {
        val lsh = Similarity.topKLsh(emb(s, d), "vec_id", "embedding", 3, PLANES, DIMS)
          .select(col("a"), col("b"), col("rank").as("rl"))
        val ivf = Similarity.topKIvf(emb(s, d), "vec_id", "embedding", 3, 16, 2)
          .select(col("a"), col("b"), col("rank").as("ri"))
        val fused = lsh.join(ivf, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(lit(1.0) / (lit(60.0) + col("rl").cast("double")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("ri").cast("double")), lit(0.0)))
              .as("rrf"))
        val w = Window.partitionBy(col("a")).orderBy(col("rrf").desc, col("b"))
        fused.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("a", "rank", "b", "rrf")
      },
      s"WITH bk AS (SELECT vec_id, embedding, ${sqlBucket(PLANES)} AS bucket " +
        "FROM embeddings), " +
        "lshr AS MATERIALIZED (SELECT a, b, rank FROM (" +
        "SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM bk l JOIN bk r USING (bucket) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        s"${sqlIvfCtes(16, 2)}, " +
        "ivfr AS MATERIALIZED (SELECT a, b, rank FROM (" +
        "SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM probe l JOIN home r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        "f AS (SELECT a, b, " +
        "coalesce(1e0 / (60e0 + CAST(lshr.rank AS DOUBLE)), 0e0) + " +
        "coalesce(1e0 / (60e0 + CAST(ivfr.rank AS DOUBLE)), 0e0) AS rrf " +
        "FROM lshr FULL OUTER JOIN ivfr USING (a, b)) " +
        "SELECT a, rank, b, rrf FROM (SELECT a, b, rrf, " +
        "row_number() OVER (PARTITION BY a ORDER BY rrf DESC, b) AS rank " +
        "FROM f) WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_quantized",
      // Int8-quantized brute-force top-3: per-vector scale max|x|/127,
      // q_i = floor(x_i / s) — float32 → int8 is the 4× byte cut every
      // ANN stage's scan/shuffle inherits at 100 TB. Max/divide/floor is
      // one identical IEEE sequence in both engines; the dot products
      // downstream are exact small integers. Probe-sampled yardstick
      // like q_ann_topk; the bucketed paths apply to int8 unchanged.
      (s, d) => {
        val e = emb(s, d)
        Similarity.topKInt8(e, "vec_id", "embedding", 3, probeModOf(e))
      },
      s"WITH $QUANT8, ${sqlProbeMod()} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.q", "r.q")} DESC, r.vec_id) AS rank " +
        s"FROM qq l, qq r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_quant_recall",
      // How much ranking fidelity does int8 give up? Quantized top-3 vs
      // exact float top-3: integer hit counts + one final division.
      (s, d) => {
        // both sides probe-sampled (recall estimated over the sample);
        // exact feeds the count and the semi-join — one run, not two
        val e = emb(s, d)
        val pm = probeModOf(e)
        val exact = Similarity.topK(e, "vec_id", "embedding", 3, pm)
          .select("a", "b").transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val quant = Similarity.topKInt8(e, "vec_id", "embedding", 3, pm)
          .select("a", "b")
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nQ = exact.join(quant, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_quant"))
        nE.crossJoin(nQ)
          .withColumn("recall_quant",
            col("n_hits_quant").cast("double") / col("n_exact").cast("double"))
      },
      s"WITH $QUANT8, ${sqlProbeMod()}, " +
        "exact AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        "quant AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.q", "r.q")} DESC, r.vec_id) AS rank " +
        s"FROM qq l, qq r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        "e AS (SELECT count(*) AS n_exact FROM exact), " +
        "h AS (SELECT count(*) AS n_hits_quant FROM exact WHERE (a, b) IN (SELECT (a, b) FROM quant)) " +
        "SELECT n_exact, n_hits_quant, " +
        "CAST(n_hits_quant AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_quant FROM e, h"),

    Q("q_ann_recall",
      // Recall measurement: LSH top-3 scored against brute-force ground
      // truth (the yardstick the r1 verdict asked the brute-force
      // baseline to serve as). Integer hit counts + ONE final division,
      // so the double is bit-identical across engines. The O(n²) side
      // is the measurement harness, not the serving path.
      (s, d) => {
        // corpus-sized construction scope (see q_ann_tuning): the
        // largest materialized frame is the 64-cell assignment probed
        // 20-deep (n×20 rows) feeding kmw; construction jobs are priced
        // by data size, capped at the session width at real scale
        val nCorpus = emb(s, d).count()
        val tmod = Similarity.trainModFor(nCorpus, TRAIN_TGT)
        graft.engine.StaticPlan.scopedSized(s, nCorpus * 20) {
        // lazy fresh checkpoint: materializes inside the single final
        // action together with the slice tables (see q_ann_tuning)
        import graft.engine.StaticPlan.ckptFreshLazy
        // exact ground truth over the probe sample only (broadcast
        // sample × corpus, corpus-derived modulus — see PROBE_TGT);
        // the approximate sides stay corpus-wide and the semi-joins
        // score just the probes — the recall estimate is unchanged in
        // expectation, and the harness itself now scales.
        // One run feeds all seven hit counts.
        val exact = ckptFreshLazy(Similarity.topK(emb(s, d), "vec_id",
            "embedding", 3, Similarity.probeModFor(nCorpus, PROBE_TGT))
          .select("a", "b"))
        // the (lsh, lsh_mp) and (nprobe 1, 2) config pairs each share
        // ONE scored-pair pass (probe-depth slicing, topKFromAssignSlices
        // scaladoc) — 4 quadratic scorings become 2. LAZY checkpoints:
        // the shared pair table materializes inside the caller's single
        // action (both consuming semi-joins hit the same cached RDD),
        // so no extra blocking job at construction time.
        val (lsh0, mp0) = Similarity.topKLshMpSlices(emb(s, d), "vec_id",
          "embedding", 3, PLANES, DIMS, NPROBES,
          materialize = graft.engine.StaticPlan.localCkpt(_, eager = false))
        val lsh = lsh0.select("a", "b")
        val mp = mp0.select("a", "b")
        val ivSl = Similarity.topKFromAssignSlices(
          Similarity.ivfAssignRanked(emb(s, d), "vec_id", "embedding", 16, 2),
          "vec_id", "embedding", 3, Seq(1, 2),
          materialize = graft.engine.StaticPlan.localCkpt(_, eager = false))
        val ivf = ivSl(1).select("a", "b")
        val ivf2 = ivSl(2).select("a", "b")
        // nProbe 4 is the 16-cell frontier point: recall 0.596 at 62k
        // candidates (vs 0.41 at nprobe 2 / 31k).
        val kme = Similarity.topKIvfKmeans(emb(s, d), "vec_id", "embedding", 3,
            16, KM_ITERS, DIMS, 4, tmod)
          .select("a", "b")
        // The WIDE frontier: 64 k-means cells probed 20-deep — finer
        // quantization at a similar scan fraction. Probe-measured
        // (sampled training) recall 0.875 at 31% of the exact candidate
        // cost (vs 0.74 at 25% for 16/4); see the q_ann_tuning rows.
        // One training (checkpointed centroids), probe depth is a rank
        // slice.
        val kmw = Similarity.topKFromAssign(
            Similarity.ivfKmeansAssignRanked(emb(s, d), "vec_id", "embedding",
              64, KM_ITERS, DIMS, 20, tmod).drop("rank"),
            "vec_id", "embedding", 3)
          .select("a", "b")
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        val nH = exact.join(lsh, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
        val nM = exact.join(mp, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_mp"))
        val nV = exact.join(ivf, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_ivf"))
        val nV2 = exact.join(ivf2, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_ivf2"))
        val nK = exact.join(kme, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_kmeans"))
        val nW = exact.join(kmw, Seq("a", "b"), "left_semi")
          .agg(count(lit(1)).as("n_hits_kmw"))
        nE.crossJoin(nH).crossJoin(nM).crossJoin(nV).crossJoin(nV2).crossJoin(nK)
          .crossJoin(nW)
          .withColumn("recall",
            col("n_hits").cast("double") / col("n_exact").cast("double"))
          .withColumn("recall_mp",
            col("n_hits_mp").cast("double") / col("n_exact").cast("double"))
          .withColumn("recall_ivf",
            col("n_hits_ivf").cast("double") / col("n_exact").cast("double"))
          .withColumn("recall_ivf2",
            col("n_hits_ivf2").cast("double") / col("n_exact").cast("double"))
          .withColumn("recall_kmeans",
            col("n_hits_kmeans").cast("double") / col("n_exact").cast("double"))
          .withColumn("recall_kmw",
            col("n_hits_kmw").cast("double") / col("n_exact").cast("double"))
        }
      },
      s"WITH ${sqlProbeMod()}, ${sqlTrainMod()}, " +
        "ex AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        s"bk AS (SELECT vec_id, embedding, ${sqlBucket(PLANES)} AS bucket FROM embeddings), " +
        "ls AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM bk l JOIN bk r USING (bucket) WHERE l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        (1 to NPROBES).map(p =>
          s"SELECT vec_id, embedding, xor(bucket, ${1L << (p - 1)}) AS bucket FROM bk")
          .mkString("nb AS (SELECT vec_id, embedding, bucket FROM bk UNION ALL ",
            " UNION ALL ", "), ") +
        "lm AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM nb l JOIN bk r USING (bucket) WHERE l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        s"${sqlIvfCtes(16, 2)}, " +
        "lv AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM home l JOIN home r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        "lv2 AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM probe l JOIN home r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        s"${sqlKmeansCtes(16, 4, KM_ITERS, trainMod = TMOD)}, " +
        "lvk AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM kprobe l JOIN khome r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        s"${sqlKmeansCtes(64, 20, KM_ITERS, "w", TMOD)}, " +
        "lvw AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        "FROM wprobe l JOIN whome r USING (cell) WHERE l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3), " +
        "e AS (SELECT count(*) AS n_exact FROM ex), " +
        "h AS (SELECT count(*) AS n_hits FROM ex JOIN ls USING (a, b)), " +
        "m AS (SELECT count(*) AS n_hits_mp FROM ex JOIN lm USING (a, b)), " +
        "v AS (SELECT count(*) AS n_hits_ivf FROM ex JOIN lv USING (a, b)), " +
        "v2 AS (SELECT count(*) AS n_hits_ivf2 FROM ex JOIN lv2 USING (a, b)), " +
        "vk AS (SELECT count(*) AS n_hits_kmeans FROM ex JOIN lvk USING (a, b)), " +
        "vw AS (SELECT count(*) AS n_hits_kmw FROM ex JOIN lvw USING (a, b)) " +
        "SELECT n_exact, n_hits, n_hits_mp, n_hits_ivf, n_hits_ivf2, n_hits_kmeans, n_hits_kmw, " +
        "CAST(n_hits AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall, " +
        "CAST(n_hits_mp AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_mp, " +
        "CAST(n_hits_ivf AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_ivf, " +
        "CAST(n_hits_ivf2 AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_ivf2, " +
        "CAST(n_hits_kmeans AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_kmeans, " +
        "CAST(n_hits_kmw AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall_kmw " +
        "FROM e, h, m, v, v2, vk, vw"),

    Q("q_ann_tuning",
      // Recall-aware operating-point table: one row per ANN config with
      // hits vs exact ground truth AND the candidate-pair count the
      // config pays for them (the real cost driver — every candidate is
      // one exact cosine). A user picks (method, param, probes) from
      // this frontier instead of hardcoded constants; at 100 TB the same
      // report runs on a sample. Counts are integers, recall is one
      // final division — hash-exact across engines.
      (s, d) => {
        val e0 = emb(s, d)
        // size the scope from the corpus: the largest materialized frame
        // is the 64-cell assignment probed 20-deep (n×20 rows). At sf0.1
        // this prices the ~80 construction jobs at 4 tasks instead of 32
        // (A/B-measured 11.3 → 7.5 s wall, hash-identical); at scale
        // roundPartitions caps at the session width (the scale intent).
        val nCorpus = e0.count()
        val tmod = Similarity.trainModFor(nCorpus, TRAIN_TGT)
        graft.engine.StaticPlan.scopedSized(s, nCorpus * 20) {
        // corpus pinned ONCE at COMPUTE width (r16, guide §2.2/§2.4):
        // every full-corpus pass below (the exact ground-truth scoring,
        // LSH bucketing, IVF/k-means assignments, PQ encodes) chained
        // scan→project with no exchange and so inherited the 1-task
        // parquet split width — JobProbe measured the quadratic exact
        // job at 3.9 s on 1-2 tasks. One narrow keyed exchange re-widths
        // them all, and the ~10 consumer chains read the pinned blocks
        // instead of re-scanning parquet per checkpoint job. EAGER: the
        // consumers are concurrent futures (the lazy-pin persist race
        // below duplicates upstream compute).
        val e = graft.engine.StaticPlan.ckptFresh(e0.repartition(
          graft.engine.StaticPlan.computePartitions(nCorpus, s),
          col("vec_id")))
        // EAGER fresh checkpoints here — measured, not assumed: the
        // lazy variant (ckptFreshLazy) was tried in r11 and REVERTED
        // for this query: its 12 config rows consume the shared tables
        // through broadcast builds, and concurrent broadcast-build jobs
        // racing to materialize the same lazy checkpoint DUPLICATE the
        // upstream compute (JobProbe: job-sum 20 s -> 35 s, wall +0.5).
        // The driver-parallel eager futures below materialize each
        // shared table exactly once before its consumers fan out.
        import graft.engine.StaticPlan.ckptFresh
        // The whole report CONSTRUCTS (and its sub-pipelines train)
        // under a static scope: every materialization is one job
        // instead of an AQE exchange-materialization cascade (round 7
        // measured ~467 AQE jobs here; the old "Conflicting attributes"
        // blocker is fixed by ckptFresh's re-aliased checkpoints). The
        // returned frame itself still EXECUTES under the caller's
        // adaptive conf.
        //
        // exact feeds one semi-join per config row (11 of them) — ONE
        // O(n^2) run; same for the shared LSH bucket table and the wide
        // 64-cell assignment (4 consumers)
        //
        // The independent index constructions are DRIVER-PARALLEL:
        // concurrent job submission from driver threads is the
        // supported Spark pattern, the static conf is constant for the
        // whole scope (no concurrent conf mutation), and each pipeline
        // is unchanged — scheduling overlap only. Wall-clock becomes
        // max(chain) instead of sum(chains); on a real cluster the
        // same trick overlaps the executors' idle tails.
        // 8 threads = the 8 independent wave-1 chains, so none queues
        // behind another; shutdownNow in finally so a failed
        // sub-pipeline can't leak non-daemon threads or hang an Await
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        def await[T](fs: scala.concurrent.Future[T]*): Seq[T] =
          fs.map(f => scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf))
        // per-chain job labels (guide §1.5): descriptions are
        // thread-local and each future body runs whole on one pool
        // thread; withJobLabel restores the previous label when the body
        // returns, so a later chain on the same pool thread never
        // inherits it
        val exactF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:exact")(ckptFresh(
          Similarity.topK(e, "vec_id", "embedding", 3,
              Similarity.probeModFor(nCorpus, PROBE_TGT))
            .select("a", "b"))))
        val nTot = e.agg(count(lit(1)).as("n"))
        // ordered scored-pair counts per config (x≠y meetings)
        val bkF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:bk")(
          ckptFresh(e.select(col("vec_id"),
            Similarity.lshBucket(col("embedding"), PLANES, DIMS).as("bucket")))))
        def ivfCands(assign: DataFrame): DataFrame =
          assign.groupBy("cell").agg(count(lit(1)).as("m"))
            .join(assign.filter(col("isHome")).groupBy("cell")
              .agg(count(lit(1)).as("h")), "cell")
            .agg(sum(col("m") * col("h")).as("mh")).crossJoin(nTot)
            .select((col("mh") - col("n")).as("n_cands"))
        val id = "vec_id"; val v = "embedding"
        val wideAssignF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:wideAssign")(
          ckptFresh(Similarity.ivfKmeansAssignRanked(e, id, v, 64,
            KM_ITERS, DIMS, 20, tmod))))
        // ALL 16-cell configs (ivf_kmeans 16/2, 16/4, ivf_pq, ivf_pq_res)
        // share ONE coarse k-means training: the assignment table is a
        // rank slice and the PQ pipelines take the centroids pre-trained
        val cents16F = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:cents16")(
          Similarity.kmeansCentroids(
          e.select(col(id), Similarity.quantize(col(v)).as("q")),
          id, 16, KM_ITERS, DIMS, tmod)))
        // 8-cell k-means and seed-IVF assignments share ONE materialized
        // ranked table each, like a16/wideAssign — per-config re-derivation
        // retrained k-means and re-scored every (vector, centroid) pair
        // TWICE per row (top-k side + candidate-count side)
        val a8F = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:a8")(
          ckptFresh(Similarity.ivfKmeansAssignRanked(e, id, v, 8,
            KM_ITERS, DIMS, 2, tmod))))
        val iv16F = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:iv16")(
          ckptFresh(Similarity.ivfAssignRanked(e, id, v, 16, 2))))
        // nested-depth config PAIRS share one scored-pair table each
        // (probe depth rides every pair as lrank; per-depth top-k ranks
        // fall out of one sorted pass — topKFromAssignSlices): the
        // quadratic scoring joins drop from 8 to 4 and the final union
        // job replays slim checkpoint filters instead of join+window
        // per branch. Slice futures chain off their assignment futures.
        // slice tables stay EAGER too — second measured negative: each
        // slice table feeds TWO config rows, and those are SIBLING
        // subtrees of the one report job, so lazy slices get their
        // quadratic scoring computed concurrently by both consumers
        // (persist race — JobProbe: job-sum 20 -> 22 s, wall +1.5)
        val lshSlF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:lshSl")(
          Similarity.topKLshMpSlices(
          e, id, v, 3, PLANES, DIMS, NPROBES, ckptFresh)))
        val mcandF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:mcand")(ckptFresh(
          Similarity.lshMultiCandidates(e, id, v, LSHM_PLANES, DIMS,
            LSHM_TABLES))))
        val ivSlF = iv16F.map(iv16 => QueryProfile.withJobLabel("tuning:ivSl")(
          Similarity.topKFromAssignSlices(
          iv16, id, v, 3, Seq(1, 2), materialize = ckptFresh)))
        val wideSlF = wideAssignF.map(wa => QueryProfile.withJobLabel("tuning:wideSl")(
          Similarity.topKFromAssignSlices(
          wa, id, v, 3, Seq(16, 20), materialize = ckptFresh)))
        // wave 2 (needs cents16): the shared-coarse assignment + both
        // PQ shortlists
        val cents16 = await(cents16F).head
        val a16F = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:a16")(ckptFresh(
          Similarity.ivfAssignFromCentroids(e, id, v, cents16, 4))))
        val slPqF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:slPq")(ckptFresh(
          Similarity.ivfPqShortlist(e, id, v, 16, KM_ITERS,
            DIMS, 4, PQ_M, PQ_K, PQ_ITERS, PQ_RERANK, tmod, Some(cents16)))))
        val slResF = scala.concurrent.Future(QueryProfile.withJobLabel("tuning:slRes")(ckptFresh(
          Similarity.ivfPqResidualShortlist(e, id, v, 16,
            KM_ITERS, DIMS, 4, PQ_M, PQ_K, PQ_ITERS, PQ_RERANK, tmod,
            Some(cents16)))))
        val a16SlF = a16F.map(a16 => QueryProfile.withJobLabel("tuning:a16Sl")(
          Similarity.topKFromAssignSlices(
          a16, id, v, 3, Seq(2, 4), materialize = ckptFresh)))
        // ---- frontier rows as their own driver-thread jobs (r16,
        // guide §2.6). The 12 rows are independent given their index
        // tables, but the old single union job ran every row's
        // semi-join + cost count strictly AFTER the last training
        // chain finished — JobProbe r16 measured it as the query's
        // largest job (3.5 s, scheduled last). Each row now chains off
        // exactly its input futures (map/flatMap composition — an
        // Await inside a fixed-pool task could deadlock the pool) and
        // checkpoints its 1-row result as its own job, so early-ready
        // configs' report work overlaps later training chains. The
        // final returned plan is a 12-leaf union of pinned rows.
        //
        // hit counting stays approx SEMI broadcast(exact): the
        // probe-sample ground truth is the SMALL side by design (the
        // 100 TB direction), top-k tables are unique by (a, b) so the
        // intersection count is identical — and the explicit hint keeps
        // the join a broadcast hash join under the static scope, where
        // stat-less checkpoint inputs would otherwise sort-merge
        def cfgRow(method: String, p1: Int, p2: Int, ex: DataFrame,
            approx: DataFrame, cands: DataFrame): DataFrame =
          QueryProfile.withJobLabel(s"tuning:row:$method:$p1:$p2") {
            val hits = approx.join(broadcast(ex), Seq("a", "b"), "left_semi")
              .agg(count(lit(1)).as("n_hits"))
            ckptFresh(hits.crossJoin(broadcast(cands)).select(
              lit(method).as("method"), lit(p1.toLong).as("param"),
              lit(p2.toLong).as("probes"), col("n_hits"), col("n_cands")))
          }
        def rankLe(ranked: DataFrame, p: Int): DataFrame =
          ranked.filter(col("rank") <= p).drop("rank")
        def lshCandsOf(bkT: DataFrame): DataFrame =
          bkT.groupBy("bucket").agg(count(lit(1)).as("c"))
            .agg(sum(col("c") * (col("c") - 1)).as("n_cands"))
        def mpCandsOf(bkT: DataFrame): DataFrame = {
          val copies = bkT.select(col("vec_id"),
            explode(array(col("bucket") +:
              (0 until NPROBES).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*))
              .as("bucket"))
          copies.groupBy("bucket").agg(count(lit(1)).as("m"))
            .join(bkT.groupBy("bucket").agg(count(lit(1)).as("h")), "bucket")
            .agg(sum(col("m") * col("h")).as("mh")).crossJoin(nTot)
            .select((col("mh") - col("n")).as("n_cands"))
        }
        val rowFs = Seq(
          for { ex <- exactF; bkT <- bkF; lshSl <- lshSlF } yield
            cfgRow("lsh", PLANES, 0, ex,
              lshSl._1.select("a", "b"), lshCandsOf(bkT)),
          for { ex <- exactF; bkT <- bkF; lshSl <- lshSlF } yield
            cfgRow("lsh_mp", PLANES, NPROBES, ex,
              lshSl._2.select("a", "b"), mpCandsOf(bkT)),
          for { ex <- exactF; iv16 <- iv16F; ivSl <- ivSlF } yield
            cfgRow("ivf", 16, 1, ex,
              ivSl(1).select("a", "b"), ivfCands(rankLe(iv16, 1))),
          for { ex <- exactF; iv16 <- iv16F; ivSl <- ivSlF } yield
            cfgRow("ivf", 16, 2, ex,
              ivSl(2).select("a", "b"), ivfCands(rankLe(iv16, 2))),
          for { ex <- exactF; a16 <- a16F; a16Sl <- a16SlF } yield
            cfgRow("ivf_kmeans", 16, 2, ex,
              a16Sl(2).select("a", "b"), ivfCands(rankLe(a16, 2))),
          for { ex <- exactF; a8 <- a8F } yield
            cfgRow("ivf_kmeans", 8, 2, ex,
              Similarity.topKFromAssign(rankLe(a8, 2), id, v, 3)
                .select("a", "b"),
              ivfCands(rankLe(a8, 2))),
          for { ex <- exactF; a16 <- a16F; a16Sl <- a16SlF } yield
            cfgRow("ivf_kmeans", 16, 4, ex,
              a16Sl(4).select("a", "b"), ivfCands(rankLe(a16, 4))),
          // 64-cell wide frontier: ONE training (checkpointed centroids)
          // probed 20-deep; the 16-probe row is a rank slice of it.
          // These are the ≥0.84-recall-under-half-cost operating points
          // (probe-measured 0.84 @ 25% and 0.875 @ 31%, sampled training).
          for { ex <- exactF; wa <- wideAssignF; wideSl <- wideSlF } yield
            cfgRow("ivf_kmeans", 64, 16, ex,
              wideSl(16).select("a", "b"), ivfCands(rankLe(wa, 16))),
          for { ex <- exactF; wa <- wideAssignF; wideSl <- wideSlF } yield
            cfgRow("ivf_kmeans", 64, 20, ex,
              wideSl(20).select("a", "b"), ivfCands(rankLe(wa, 20))),
          // IVF-PQ + rerank: same candidates as ivf_kmeans(16,4), but
          // n_cands here = the PQ shortlist size — the pairs whose
          // float vectors are ACTUALLY exact-scored (the config's real
          // float-work cost; everything else is table lookups). The
          // shortlist is materialized ONCE and feeds both the top-k
          // (via rerankShortlist) and the cost count — re-deriving it
          // re-trains the PQ codebooks per side.
          for { ex <- exactF; slPq <- slPqF } yield
            cfgRow("ivf_pq", PQ_RERANK, 4, ex,
              Similarity.rerankShortlist(e, id, v, slPq, 3).select("a", "b"),
              slPq.agg(count(lit(1)).as("n_cands"))),
          // residual-encoded PQ at the same (cells, probes, rerank)
          // operating point — n_cands is its own exact-scored shortlist
          for { ex <- exactF; slRes <- slResF } yield
            cfgRow("ivf_pq_res", PQ_RERANK, 4, ex,
              Similarity.rerankShortlist(e, id, v, slRes, 3).select("a", "b"),
              slRes.agg(count(lit(1)).as("n_cands"))),
          // multi-table LSH: training-free recall lever — ONE bare-id
          // candidate materialization (wave-1 future) feeds both the
          // exact-rerank top-k and the scored-pair count (the same
          // frame the oracle's mcand CTE builds)
          for { ex <- exactF; mcand <- mcandF } yield
            cfgRow("lsh_multi", LSHM_PLANES, LSHM_TABLES, ex,
              Similarity.rerankShortlist(e, id, v, mcand, 3).select("a", "b"),
              mcand.agg(count(lit(1)).as("n_cands"))))
        val rows = await(rowFs: _*)
        val exact = await(exactF).head
        val nE = exact.agg(count(lit(1)).as("n_exact"))
        // rows are pinned 1-row checkpoints — the caller's action on
        // the returned report reads 12 pinned rows + the broadcast
        // ground-truth count, no adaptive materialization cascade
        val report = rows.reduce(_.unionByName(_))
        report.crossJoin(broadcast(nE))
          .withColumn("recall",
            col("n_hits").cast("double") / col("n_exact").cast("double"))
          .select("method", "param", "probes", "n_hits", "n_cands", "recall")
        } finally pool.shutdownNow()
        }
      },
      {
        def top3(l: String, r: String, key: String) =
          "SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
            s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
            s"FROM $l l JOIN $r r USING ($key) WHERE l.vec_id <> r.vec_id) WHERE rank <= 3"
        def cellCost(probe: String, home: String) =
          s"SELECT CAST(sum(m*h) - (SELECT n FROM nn) AS BIGINT) AS n_cands " +
            s"FROM (SELECT cell, count(*) AS m FROM $probe GROUP BY cell) " +
            s"JOIN (SELECT cell, count(*) AS h FROM $home GROUP BY cell) USING (cell)"
        s"WITH ${sqlProbeMod()}, ${sqlTrainMod()}, " +
          "ex AS (SELECT a, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
          s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
          s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
          "AND l.vec_id <> r.vec_id) WHERE rank <= 3), " +
          s"bk AS (SELECT vec_id, embedding, ${sqlBucket(PLANES)} AS bucket FROM embeddings), " +
          s"ls AS (${top3("bk", "bk", "bucket")}), " +
          (1 to NPROBES).map(p =>
            s"SELECT vec_id, embedding, xor(bucket, ${1L << (p - 1)}) AS bucket FROM bk")
            .mkString("nb AS (SELECT vec_id, embedding, bucket FROM bk UNION ALL ",
              " UNION ALL ", "), ") +
          s"lm AS (${top3("nb", "bk", "bucket")}), " +
          s"${sqlIvfCtes(16, 2)}, " +
          s"lv1 AS (${top3("home", "home", "cell")}), " +
          s"lv2 AS (${top3("probe", "home", "cell")}), " +
          s"${sqlKmeansCtes(16, 2, KM_ITERS, "k", TMOD)}, " +
          s"lvk AS (${top3("kprobe", "khome", "cell")}), " +
          s"${sqlKmeansCtes(8, 2, KM_ITERS, "t", TMOD)}, " +
          s"lvt AS (${top3("tprobe", "thome", "cell")}), " +
          s"${sqlKmeansCtes(16, 4, KM_ITERS, "u", TMOD)}, " +
          s"lvu AS (${top3("uprobe", "uhome", "cell")}), " +
          s"${sqlKmeansCtes(64, 20, KM_ITERS, "w", TMOD)}, " +
          "wprobe16 AS (SELECT vec_id, embedding, cell FROM wranked WHERE cr <= 16), " +
          s"lvw AS (${top3("wprobe16", "whome", "cell")}), " +
          s"lvy AS (${top3("wprobe", "whome", "cell")}), " +
          s"${sqlPqCtes(PQ_M, DIMS / PQ_M, PQ_K, PQ_ITERS, qe = "uqe", trainMod = TMOD)}, " +
          "ppair AS MATERIALIZED (SELECT l.vec_id AS a, r.vec_id AS b, (" +
          (0 until PQ_M).map(mi => s"t$mi.t").mkString(" + ") +
          ") / (la.vn * rb.vn) AS pqcos " +
          "FROM uprobe l JOIN uhome r USING (cell) " +
          "JOIN pcod ca ON ca.vec_id = l.vec_id JOIN pcod cb ON cb.vec_id = r.vec_id " +
          "JOIN pvn la ON la.vec_id = l.vec_id JOIN pvn rb ON rb.vec_id = r.vec_id " +
          (0 until PQ_M).map(mi =>
            s"JOIN pt$mi t$mi ON t$mi.i = ca.c$mi AND t$mi.j = cb.c$mi").mkString(" ") +
          " WHERE l.vec_id <> r.vec_id), " +
          "pshort AS MATERIALIZED (SELECT a, b FROM (SELECT a, b, row_number() OVER (" +
          s"PARTITION BY a ORDER BY pqcos DESC, b) AS r FROM ppair) WHERE r <= $PQ_RERANK), " +
          "lvp AS (SELECT a, b FROM (SELECT s.a, s.b, row_number() OVER (" +
          s"PARTITION BY s.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, s.b) AS rank " +
          "FROM pshort s JOIN embeddings ea ON ea.vec_id = s.a " +
          "JOIN embeddings eb ON eb.vec_id = s.b) WHERE rank <= 3), " +
          "cp AS (SELECT CAST(count(*) AS BIGINT) AS n_cands FROM pshort), " +
          // residual-PQ at the same (16, 4, rerank) point: residuals vs
          // the u-kmeans home cells, z-prefixed codebook instance
          s"${sqlResidualPreCtes("u")}, " +
          s"${sqlPqCtes(PQ_M, DIMS / PQ_M, PQ_K, PQ_ITERS, qe = "rqe", pfx = "z", trainMod = TMOD)}, " +
          s"${sqlResidualTableCtes(PQ_M, DIMS / PQ_M, pfx = "z", kpfx = "u")}, " +
          "zpair AS MATERIALIZED (SELECT l.vec_id AS a, r.vec_id AS b, " +
          "CASE WHEN la.vn * rb.vn = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          s"ELSE (${"mm.t" + (0 until PQ_M).map(mi => s" + ab$mi.t + ba$mi.t + cc$mi.t").mkString}) " +
          "/ (la.vn * rb.vn) END AS pqcos " +
          "FROM uprobe l JOIN uhome r ON l.cell = r.cell AND l.vec_id <> r.vec_id " +
          "JOIN uhome hl ON hl.vec_id = l.vec_id " +
          "JOIN zcod ca ON ca.vec_id = l.vec_id JOIN zcod cb ON cb.vec_id = r.vec_id " +
          "JOIN rvn la ON la.vec_id = l.vec_id JOIN rvn rb ON rb.vec_id = r.vec_id " +
          "JOIN rmm mm ON mm.ha = hl.cell AND mm.hb = r.cell " +
          (0 until PQ_M).map(mi =>
            s"JOIN rmc$mi ab$mi ON ab$mi.cell = hl.cell AND ab$mi.kc = cb.c$mi " +
              s"JOIN rmc$mi ba$mi ON ba$mi.cell = r.cell AND ba$mi.kc = ca.c$mi " +
              s"JOIN zt$mi cc$mi ON cc$mi.i = ca.c$mi AND cc$mi.j = cb.c$mi")
            .mkString(" ") + "), " +
          "zshort AS MATERIALIZED (SELECT a, b FROM (SELECT a, b, row_number() OVER (" +
          s"PARTITION BY a ORDER BY pqcos DESC, b) AS r FROM zpair) WHERE r <= $PQ_RERANK), " +
          "lvz AS (SELECT a, b FROM (SELECT s.a, s.b, row_number() OVER (" +
          s"PARTITION BY s.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, s.b) AS rank " +
          "FROM zshort s JOIN embeddings ea ON ea.vec_id = s.a " +
          "JOIN embeddings eb ON eb.vec_id = s.b) WHERE rank <= 3), " +
          "cz AS (SELECT CAST(count(*) AS BIGINT) AS n_cands FROM zshort), " +
          // multi-table LSH: candidates dedup'd across tables
          (0 until LSHM_TABLES).map(t =>
            s"SELECT vec_id, $t AS t, ${sqlBucket(LSHM_PLANES, t * LSHM_PLANES)} AS bucket FROM embeddings")
            .mkString("mbt AS MATERIALIZED (", " UNION ALL ", "), ") +
          "mcand AS MATERIALIZED (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b " +
          "FROM mbt l JOIN mbt r USING (t, bucket) WHERE l.vec_id <> r.vec_id), " +
          "lsmu AS (SELECT a, b FROM (SELECT c.a, c.b, row_number() OVER (" +
          s"PARTITION BY c.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, c.b) AS rank " +
          "FROM mcand c JOIN embeddings ea ON ea.vec_id = c.a " +
          "JOIN embeddings eb ON eb.vec_id = c.b) WHERE rank <= 3), " +
          "cmu AS (SELECT CAST(count(*) AS BIGINT) AS n_cands FROM mcand), " +
          "nn AS (SELECT count(*) AS n FROM embeddings), " +
          "e AS (SELECT count(*) AS n_exact FROM ex), " +
          "clsh AS (SELECT CAST(sum(c*(c-1)) AS BIGINT) AS n_cands FROM " +
          "(SELECT count(*) AS c FROM bk GROUP BY bucket)), " +
          "cmp AS (SELECT CAST(sum(m*h) - (SELECT n FROM nn) AS BIGINT) AS n_cands " +
          "FROM (SELECT bucket, count(*) AS m FROM nb GROUP BY bucket) " +
          "JOIN (SELECT bucket, count(*) AS h FROM bk GROUP BY bucket) USING (bucket)), " +
          s"civ1 AS (${cellCost("home", "home")}), " +
          s"civ2 AS (${cellCost("probe", "home")}), " +
          s"ck AS (${cellCost("kprobe", "khome")}), " +
          s"ct AS (${cellCost("tprobe", "thome")}), " +
          s"cu AS (${cellCost("uprobe", "uhome")}), " +
          s"cw AS (${cellCost("wprobe16", "whome")}), " +
          s"cy AS (${cellCost("wprobe", "whome")}), " +
          "h1 AS (SELECT count(*) AS n_hits FROM ex JOIN ls USING (a, b)), " +
          "h2 AS (SELECT count(*) AS n_hits FROM ex JOIN lm USING (a, b)), " +
          "h3 AS (SELECT count(*) AS n_hits FROM ex JOIN lv1 USING (a, b)), " +
          "h4 AS (SELECT count(*) AS n_hits FROM ex JOIN lv2 USING (a, b)), " +
          "h5 AS (SELECT count(*) AS n_hits FROM ex JOIN lvk USING (a, b)), " +
          "h6 AS (SELECT count(*) AS n_hits FROM ex JOIN lvt USING (a, b)), " +
          "h7 AS (SELECT count(*) AS n_hits FROM ex JOIN lvu USING (a, b)), " +
          "h8 AS (SELECT count(*) AS n_hits FROM ex JOIN lvp USING (a, b)), " +
          "h9 AS (SELECT count(*) AS n_hits FROM ex JOIN lvw USING (a, b)), " +
          "h10 AS (SELECT count(*) AS n_hits FROM ex JOIN lvy USING (a, b)), " +
          "h11 AS (SELECT count(*) AS n_hits FROM ex JOIN lvz USING (a, b)), " +
          "h12 AS (SELECT count(*) AS n_hits FROM ex JOIN lsmu USING (a, b)) " +
          "SELECT method, param, probes, n_hits, n_cands, " +
          "CAST(n_hits AS DOUBLE) / CAST((SELECT n_exact FROM e) AS DOUBLE) AS recall FROM (" +
          s"SELECT 'lsh' AS method, CAST($PLANES AS BIGINT) AS param, CAST(0 AS BIGINT) AS probes, n_hits, n_cands FROM h1, clsh " +
          s"UNION ALL SELECT 'lsh_mp', $PLANES, $NPROBES, n_hits, n_cands FROM h2, cmp " +
          "UNION ALL SELECT 'ivf', 16, 1, n_hits, n_cands FROM h3, civ1 " +
          "UNION ALL SELECT 'ivf', 16, 2, n_hits, n_cands FROM h4, civ2 " +
          "UNION ALL SELECT 'ivf_kmeans', 16, 2, n_hits, n_cands FROM h5, ck " +
          "UNION ALL SELECT 'ivf_kmeans', 8, 2, n_hits, n_cands FROM h6, ct " +
          "UNION ALL SELECT 'ivf_kmeans', 16, 4, n_hits, n_cands FROM h7, cu " +
          "UNION ALL SELECT 'ivf_kmeans', 64, 16, n_hits, n_cands FROM h9, cw " +
          "UNION ALL SELECT 'ivf_kmeans', 64, 20, n_hits, n_cands FROM h10, cy " +
          s"UNION ALL SELECT 'ivf_pq', $PQ_RERANK, 4, n_hits, n_cands FROM h8, cp " +
          s"UNION ALL SELECT 'ivf_pq_res', $PQ_RERANK, 4, n_hits, n_cands FROM h11, cz " +
          s"UNION ALL SELECT 'lsh_multi', $LSHM_PLANES, $LSHM_TABLES, n_hits, n_cands FROM h12, cmu" +
          ") ORDER BY method, param, probes"
      }),

    Q("q_ann_incremental",
      // Incremental IVF maintenance — the FULL daily-crawl lifecycle:
      // DAY 0 trains the index once (sampled k-means) and persists the
      // constant-size artifacts (checkpointed centroids + cell-mean
      // map + base posting stats); DAY 1 (vec_id % 5 = 4) and DAY 2
      // (% 5 = 0) each append in ONE broadcast-centroid batch scan
      // with ZERO Lloyd rounds in the plan, and their per-cell (n, sq)
      // stats merge into the standing counts by integer adds — never a
      // standing-corpus rescan. Each day's drift (batch mean squared
      // residual vs the training-time geometry, relative to the base's
      // own) tells the user when a retrain is due. A batch row landing
      // in a memberless cell scores against the centroid itself (the
      // ivfCellMeans fallback), so out-of-distribution rows are
      // counted, not dropped. Integer sums, exact divisions; NULL
      // drift where a side is empty.
      (s, d) => {
        import s.implicits._
        val e = emb(s, d)
        val standing = e.filter(
          col("vec_id") % 5 =!= 0 && col("vec_id") % 5 =!= 4)
        val b1 = e.filter(col("vec_id") % 5 === 4)
        val b2 = e.filter(col("vec_id") % 5 === 0)
        val cents = graft.engine.StaticPlan.ckptFresh(
          Similarity.kmeansCentroids(
            standing.select(col("vec_id"),
              Similarity.quantize(col("embedding")).as("q")),
            "vec_id", 16, KM_ITERS, DIMS, trainModOf(standing)))
        val mu = Similarity.ivfCellMeans(
          standing, "vec_id", "embedding", cents, DIMS)
        val base = Similarity.ivfBatchCellStats(standing, "vec_id",
          "embedding", cents, mu, "n_base", "sq_base")
        val d1 = Similarity.ivfBatchCellStats(b1, "vec_id", "embedding",
          cents, mu, "n_d1", "sq_d1")
        val d2 = Similarity.ivfBatchCellStats(b2, "vec_id", "embedding",
          cents, mu, "n_d2", "sq_d2")
        def drift(n: org.apache.spark.sql.Column,
            sq: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(n === 0 || col("n_base") === 0 || col("sq_base") === 0,
            lit(null).cast("double"))
            .otherwise((sq.cast("double") / n.cast("double")) /
              (col("sq_base").cast("double") / col("n_base").cast("double")))
        mu.keys.toSeq.sorted.toDF("cell")
          .join(base, Seq("cell"), "left")
          .join(d1, Seq("cell"), "left")
          .join(d2, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_d1"), lit(0L)).as("n_d1"),
            coalesce(col("n_d2"), lit(0L)).as("n_d2"),
            coalesce(col("sq_base"), lit(0L)).as("sq_base"),
            coalesce(col("sq_d1"), lit(0L)).as("sq_d1"),
            coalesce(col("sq_d2"), lit(0L)).as("sq_d2"))
          .withColumn("drift_d1", drift(col("n_d1"), col("sq_d1")))
          .withColumn("drift_d2", drift(col("n_d2"), col("sq_d2")))
      }, {
        val rsq = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(list_zip(e.q, m.mu), p -> (p[1]-p[2])*(p[1]-p[2]))), " +
          "(acc, x) -> acc + x)"
        val muSum = (1 to DIMS).map(d => s"CAST(sum(e.q[$d]) AS BIGINT)")
          .mkString("[", ", ", "]")
        def bqe(name: String, m: Int): String =
          s"$name AS (SELECT vec_id, list_transform(embedding, " +
            s"x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QUANT}) AS BIGINT)) AS q " +
            s"FROM embeddings WHERE vec_id % 5 = $m)"
        def bhome(name: String, qe: String): String =
          s"$name AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cid AS cell, " +
            s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.q", "c.cq")} / sqrt(${sqlDot("c.cq", "c.cq")}) DESC, c.cid) AS r " +
            s"FROM $qe e, kc$KM_ITERS c) WHERE r = 1)"
        def stats(name: String, qe: String, home: String, nN: String,
            sqN: String): String =
          s"$name AS (SELECT h.cell, CAST(count(*) AS BIGINT) AS $nN, " +
            s"CAST(sum($rsq) AS BIGINT) AS $sqN " +
            s"FROM $home h JOIN $qe e USING (vec_id) JOIN mu m ON m.cell = h.cell " +
            "GROUP BY h.cell)"
        def drift(nc: String, sqc: String): String =
          s"CASE WHEN coalesce($nc, CAST(0 AS BIGINT)) = 0 " +
            "OR coalesce(n_base, CAST(0 AS BIGINT)) = 0 " +
            "OR coalesce(sq_base, CAST(0 AS BIGINT)) = 0 THEN NULL " +
            s"ELSE (CAST($sqc AS DOUBLE) / CAST($nc AS DOUBLE)) / " +
            "(CAST(sq_base AS DOUBLE) / CAST(n_base AS DOUBLE)) END"
        "WITH stand AS (SELECT * FROM embeddings WHERE vec_id % 5 NOT IN (0, 4)), " +
          s"${sqlTrainMod("stand")}, " +
          s"${sqlKmeansCtes(16, 1, KM_ITERS, "k", TMOD, "stand")}, " +
          s"musum AS MATERIALIZED (SELECT h.cell, $muSum AS s, " +
          "CAST(count(*) AS BIGINT) AS n " +
          "FROM khome h JOIN kqe e USING (vec_id) GROUP BY h.cell), " +
          "mu AS MATERIALIZED (SELECT c.cid AS cell, " +
          "coalesce(list_transform(m.s, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) / m.n) AS BIGINT)), c.cq) AS mu " +
          s"FROM kc$KM_ITERS c LEFT JOIN musum m ON m.cell = c.cid), " +
          s"${bqe("b1qe", 4)}, ${bhome("b1home", "b1qe")}, " +
          s"${bqe("b2qe", 0)}, ${bhome("b2home", "b2qe")}, " +
          s"${stats("sb", "kqe", "khome", "n_base", "sq_base")}, " +
          s"${stats("s1", "b1qe", "b1home", "n_d1", "sq_d1")}, " +
          s"${stats("s2", "b2qe", "b2home", "n_d2", "sq_d2")} " +
          "SELECT m.cell, coalesce(n_base, CAST(0 AS BIGINT)) AS n_base, " +
          "coalesce(n_d1, CAST(0 AS BIGINT)) AS n_d1, " +
          "coalesce(n_d2, CAST(0 AS BIGINT)) AS n_d2, " +
          "coalesce(sq_base, CAST(0 AS BIGINT)) AS sq_base, " +
          "coalesce(sq_d1, CAST(0 AS BIGINT)) AS sq_d1, " +
          "coalesce(sq_d2, CAST(0 AS BIGINT)) AS sq_d2, " +
          s"${drift("n_d1", "sq_d1")} AS drift_d1, " +
          s"${drift("n_d2", "sq_d2")} AS drift_d2 " +
          "FROM mu m LEFT JOIN sb ON sb.cell = m.cell " +
          "LEFT JOIN s1 ON s1.cell = m.cell " +
          "LEFT JOIN s2 ON s2.cell = m.cell " +
          "ORDER BY m.cell"
      }),

    Q("q_ann_serve",
      // The SERVING read path of the persisted-index lifecycle, pinned
      // cross-engine: centroids train once (sampled k-means) and
      // checkpoint = the persisted index artifact; postings = the
      // standing home-cell table (exactly what ivfAssignStream + the
      // bucketed sink maintain live — bucketed BY cell in production,
      // so the serve join is exchange-free on the postings side at any
      // corpus size); queries = the probe-mod sample as "today's query
      // batch". serveTopK probes each query's 2 nearest cells via the
      // driver-resident centroid matrix and exact-reranks candidates
      // from the postings join — the StreamingSpec e2e proves the
      // stream-maintained postings serve row-identically; this row
      // pins the serve SEMANTICS against the DuckDB oracle.
      (s, d) => {
        val e = emb(s, d)
        val n = e.count()
        val cents = graft.engine.StaticPlan.ckptFresh(
          Similarity.kmeansCentroids(
            e.select(col("vec_id"),
              Similarity.quantize(col("embedding")).as("q")),
            "vec_id", 16, KM_ITERS, DIMS,
            Similarity.trainModFor(n, TRAIN_TGT)))
        val postings = Similarity.ivfAssignFromCentroids(
            e, "vec_id", "embedding", cents, 1)
          .filter(col("isHome"))
          .select(col("vec_id"), col("embedding"), col("cell"))
        val queries = e.filter(
          col("vec_id") % Similarity.probeModFor(n, PROBE_TGT) === 0)
        Similarity.serveTopK(queries, postings, "vec_id", "embedding",
            3, cents, 2)
      },
      s"WITH ${sqlTrainMod()}, ${sqlKmeansCtes(16, 2, KM_ITERS, trainMod = TMOD)}, " +
        s"${sqlProbeMod()} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM kprobe l JOIN khome r USING (cell) " +
        s"WHERE l.vec_id % $PMOD = 0 AND l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_serve_persisted",
      // q_ann_serve routed through the DURABLE artifact: centroids
      // train once, persist as parquet (IndexStore.saveCentroids — the
      // nightly-train write), and the serve side loads them back with
      // one tiny artifact read, exactly what a restarted serving
      // cluster does. The serve plan itself carries ZERO training
      // stages (the loaded centroids ride driver-resident, like
      // q_ann_serve's — LayoutSpec pins the artifact-scan/leaf-set
      // shape); the oracle is q_ann_serve's, because save → load is
      // bit-identical (spec-proved round-trip). The artifact path is
      // per-SF so the gate's three fixtures never collide.
      (s, d) => {
        val e = emb(s, d)
        val n = e.count()
        val path = s"/tmp/graft_idx/${new java.io.File(d).getName}_serve_cents"
        val cents = Similarity.kmeansCentroids(
          e.select(col("vec_id"),
            Similarity.quantize(col("embedding")).as("q")),
          "vec_id", 16, KM_ITERS, DIMS,
          Similarity.trainModFor(n, TRAIN_TGT))
        graft.sources.IndexStore.saveCentroids(cents, path)
        val loaded = graft.sources.IndexStore.loadCentroids(s, path)
        val postings = Similarity.ivfAssignFromCentroids(
            e, "vec_id", "embedding", loaded, 1)
          .filter(col("isHome"))
          .select(col("vec_id"), col("embedding"), col("cell"))
        val queries = e.filter(
          col("vec_id") % Similarity.probeModFor(n, PROBE_TGT) === 0)
        Similarity.serveTopK(queries, postings, "vec_id", "embedding",
            3, loaded, 2)
      },
      s"WITH ${sqlTrainMod()}, ${sqlKmeansCtes(16, 2, KM_ITERS, trainMod = TMOD)}, " +
        s"${sqlProbeMod()} " +
        "SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM kprobe l JOIN khome r USING (cell) " +
        s"WHERE l.vec_id % $PMOD = 0 AND l.vec_id <> r.vec_id) " +
        "WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_ann_pq_serve_persisted",
      // The q_ann_serve_persisted lifecycle for the PQ family (r12
      // verdict #2): BOTH constant-size artifacts — the coarse k-means
      // centroids AND the m·pqK PQ codebooks — train once
      // (derived-trainMod sample), persist as parquet
      // (IndexStore.savePqCodebooks — integer sums + member counts, so
      // the codeword means reconstruct exactly), and a restarted
      // serving cluster loads them back with two tiny artifact reads.
      // The serve plan carries ZERO Lloyd rounds (LayoutSpec pins the
      // leaf set): cells and codes are ASSIGNED against the loaded
      // tables, the probe-mod query batch PQ-scores its candidates via
      // the broadcast ADC literals, and true cosine reranks the top-48
      // — q_ann_pq's read path restricted to the query batch. The
      // oracle retrains from the same counts because save → load is
      // bit-identical (spec-proved round-trip).
      (s, d) => {
        val e = emb(s, d)
        val n = e.count()
        val cells = Similarity.ivfCellsFor(n, IVF_TGT_CELL, 16)
        val base = s"/tmp/graft_idx/${new java.io.File(d).getName}"
        val (cents, cbs) = Similarity.pqTrainArtifacts(e, "vec_id",
          "embedding", cells, KM_ITERS, DIMS, PQ_M, PQ_K, PQ_ITERS,
          Similarity.trainModFor(n, TRAIN_TGT))
        graft.sources.IndexStore.saveCentroids(cents, s"${base}_pq_cents")
        graft.sources.IndexStore.savePqCodebooks(cbs, s"${base}_pq_cbs")
        val lc = graft.sources.IndexStore.loadCentroids(s, s"${base}_pq_cents")
        val lb = graft.sources.IndexStore.loadPqCodebooks(s, s"${base}_pq_cbs")
        Similarity.topKIvfPqServe(e, "vec_id", "embedding", 3, DIMS, 4,
            PQ_M, PQ_K, lc, lb, PQ_RERANK,
            queryPred = col("vec_id") % Similarity.probeModFor(n, PROBE_TGT) === 0)
      },
      s"WITH ${sqlTrainMod()}, " +
        s"${sqlKmeansCtes(16, 4, KM_ITERS, trainMod = TMOD, derivedTarget = IVF_TGT_CELL)}, " +
        s"${sqlPqCtes(PQ_M, DIMS / PQ_M, PQ_K, PQ_ITERS, trainMod = TMOD)}, " +
        s"${sqlProbeMod()}, " +
        "ppair AS (SELECT l.vec_id AS a, r.vec_id AS b, (" +
        (0 until PQ_M).map(mi => s"t$mi.t").mkString(" + ") +
        ") / (la.vn * rb.vn) AS pqcos " +
        "FROM kprobe l JOIN khome r USING (cell) " +
        "JOIN pcod ca ON ca.vec_id = l.vec_id JOIN pcod cb ON cb.vec_id = r.vec_id " +
        "JOIN pvn la ON la.vec_id = l.vec_id JOIN pvn rb ON rb.vec_id = r.vec_id " +
        (0 until PQ_M).map(mi =>
          s"JOIN pt$mi t$mi ON t$mi.i = ca.c$mi AND t$mi.j = cb.c$mi").mkString(" ") +
        s" WHERE l.vec_id % $PMOD = 0 AND l.vec_id <> r.vec_id), " +
        s"pshort AS (SELECT a, b FROM (SELECT a, b, row_number() OVER (" +
        s"PARTITION BY a ORDER BY pqcos DESC, b) AS r FROM ppair) WHERE r <= $PQ_RERANK) " +
        "SELECT a, rank, b FROM (SELECT s.a, s.b, row_number() OVER (" +
        s"PARTITION BY s.a ORDER BY ${sqlCos("ea.embedding", "eb.embedding")} DESC, s.b) AS rank " +
        "FROM pshort s JOIN embeddings ea ON ea.vec_id = s.a " +
        "JOIN embeddings eb ON eb.vec_id = s.b) WHERE rank <= 3 ORDER BY a, rank"),

    Q("q_bpe_train",
      // Tokenizer TRAINING on the cluster: 8 BPE merge rounds learned
      // from a derived-trainMod doc sample (Sennrich et al. 2016; rules are
      // distribution statistics, the k-means-codebook discipline) over
      // the distinct-word frequency table, output = the merge table a
      // tokenizer ships. All-integer counts, deterministic argmax,
      // unrolled rounds — see TextOps.bpeTrain.
      (s, d) => {
        val all = docs(s, d)
        TextOps.bpeTrain(all, "doc_id", "text", BPE_MERGES,
          trainModOf(all))
      },
      s"WITH ${sqlTrainMod("documents")}, " +
        s"${sqlBpeCtes(BPE_MERGES, s" WHERE doc_id % $TMOD = 0")} " +
        "SELECT step, lhs, rhs, pair_count FROM (" +
        (0 until BPE_MERGES).map(t =>
          s"SELECT CAST(${t + 1} AS BIGINT) AS step, l AS lhs, r AS rhs, c AS pair_count FROM b$t")
          .mkString(" UNION ALL ") +
        ") ORDER BY step"),

    Q("q_bpe_apply",
      // The APPLY half of the tokenizer lifecycle, in its production
      // shape: merge rules are TRAINED on the derived doc sample
      // (doc_id % trainMod = 0 — pair counts are distribution
      // statistics, like the k-means codebooks), then the FULL corpus
      // is re-segmented in ONE narrow codegen'd pass (the per-word
      // BpeSegment kernel — applying a fixed rule table needs no
      // corpus-wide rounds; words segment independently), reporting
      // per-source compression — how many chars one subword token
      // covers, the number a tokenizer budget is planned around.
      // Counts are integers; one final division.
      (s, d) => {
        val all = docs(s, d)
        val (lhs, rhs) = TextOps.bpeLearnedRules(
          all, "doc_id", "text", BPE_MERGES, trainModOf(all))
        val seg = graft.functions.VectorFunctions.bpeSegment(col("word"), lhs, rhs)
        // single-split parquet at small SF: spread docs before the
        // word explode (the multimodal-codec discipline)
        val occ = all.repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("source"),
            explode(TextOps.tokens(col("text"))).as("word"))
        // memoized apply: the kernel segments each DISTINCT word once
        // (vocab ≪ corpus — Heaps' law), then a broadcast dictionary
        // join fans the per-word sizes back to occurrences. When the
        // vocab outgrows a broadcast (rare even at 100 TB with a
        // frequency cutoff), apply `seg` per occurrence instead — the
        // kernel pass itself is already one narrow codegen map.
        val dict = occ.select("word").distinct()
          .select(col("word"), length(col("word")).cast("long").as("nc1"),
            size(seg).cast("long").as("ns1"))
        occ.join(broadcast(dict), "word")
          .groupBy("doc_id", "source")
          .agg(sum(col("nc1")).as("nc"), sum(col("ns1")).as("ns"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nc")).as("n_char_syms"),
            sum(col("ns")).as("n_subwords"))
          .withColumn("chars_per_subword",
            col("n_char_syms").cast("double") / col("n_subwords").cast("double"))
      },
      // training chain on the sample (b0..b{n-1}), then the apply
      // chain (sqlBpeApplyCtes) re-runs the identical per-round
      // rewrite over the FULL corpus VOCAB
      s"WITH ${sqlTrainMod("documents")}, " +
        s"${sqlBpeCtes(BPE_MERGES, s" WHERE doc_id % $TMOD = 0")}, " +
        s"atok AS (SELECT doc_id, source, $TOKS AS toks FROM documents), " +
        "avf AS (SELECT word FROM (SELECT unnest(toks) AS word FROM atok) " +
        "GROUP BY word), " +
        s"${sqlBpeApplyCtes(BPE_MERGES)}, " +
        "aocc AS (SELECT doc_id, source, unnest(toks) AS word FROM atok), " +
        "perdoc AS (SELECT doc_id, source, " +
        "CAST(sum(w.nc1) AS BIGINT) AS nc, CAST(sum(w.ns1) AS BIGINT) AS ns " +
        "FROM aocc JOIN wseg w USING (word) GROUP BY doc_id, source) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(nc) AS BIGINT) AS n_char_syms, " +
        "CAST(sum(ns) AS BIGINT) AS n_subwords, " +
        "CAST(sum(nc) AS DOUBLE) / CAST(sum(ns) AS DOUBLE) AS chars_per_subword " +
        "FROM perdoc GROUP BY source ORDER BY source"),

    Q("q_bpe_incremental",
      // The PERSISTED-RULES tokenizer lifecycle (the q_ann_incremental
      // shape for BPE): DAY 0 trains the merge table ONCE on the
      // standing corpus (doc_id % 5 ∉ {0,4}, trainMod-sampled) — a
      // constant-size driver-resident artifact, like the checkpointed
      // centroids — then DAY 1 (doc_id % 5 = 4) and DAY 2 (% 5 = 0)
      // each re-segment in ONE narrow pass whose plan contains ZERO
      // training stages: the rules ride inside the BpeSegment kernel
      // as literals, so the apply plan's only leaves are the batch
      // scans (spec-proved, the ivfIncremental leaf-set pattern).
      // Per-batch compression tells the user when rule drift warrants
      // a retrain — the tokenizer's drift monitor.
      (s, d) => {
        val all = docs(s, d)
        val standing = all.filter(
          col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 4)
        val (lhs, rhs) = TextOps.bpeLearnedRules(
          standing, "doc_id", "text", BPE_MERGES, trainModOf(standing))
        val seg = graft.functions.VectorFunctions.bpeSegment(col("word"), lhs, rhs)
        val batches = all
          .filter(col("doc_id") % 5 === 0 || col("doc_id") % 5 === 4)
          .withColumn("batch",
            when(col("doc_id") % 5 === 4, lit("d1")).otherwise(lit("d2")))
        val occ = batches.repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("batch"),
            explode(TextOps.tokens(col("text"))).as("word"))
        // memoized apply over the BATCH vocab (see q_bpe_apply)
        val dict = occ.select("word").distinct()
          .select(col("word"), length(col("word")).cast("long").as("nc1"),
            size(seg).cast("long").as("ns1"))
        occ.join(broadcast(dict), "word")
          .groupBy("doc_id", "batch")
          .agg(sum(col("nc1")).as("nc"), sum(col("ns1")).as("ns"))
          .groupBy("batch")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nc")).as("n_char_syms"),
            sum(col("ns")).as("n_subwords"))
          .withColumn("chars_per_subword",
            col("n_char_syms").cast("double") / col("n_subwords").cast("double"))
      },
      s"WITH ${sqlTrainMod(
          "(SELECT * FROM documents WHERE doc_id % 5 NOT IN (0, 4))")}, " +
        s"${sqlBpeCtes(BPE_MERGES,
          s" WHERE doc_id % 5 NOT IN (0, 4) AND doc_id % $TMOD = 0")}, " +
        "atok AS (SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN 'd1' ELSE 'd2' END " +
        s"AS batch, $TOKS AS toks FROM documents WHERE doc_id % 5 IN (0, 4)), " +
        "avf AS (SELECT word FROM (SELECT unnest(toks) AS word FROM atok) " +
        "GROUP BY word), " +
        s"${sqlBpeApplyCtes(BPE_MERGES)}, " +
        "aocc AS (SELECT doc_id, batch, unnest(toks) AS word FROM atok), " +
        "perdoc AS (SELECT doc_id, batch, " +
        "CAST(sum(w.nc1) AS BIGINT) AS nc, CAST(sum(w.ns1) AS BIGINT) AS ns " +
        "FROM aocc JOIN wseg w USING (word) GROUP BY doc_id, batch) " +
        "SELECT batch, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(nc) AS BIGINT) AS n_char_syms, " +
        "CAST(sum(ns) AS BIGINT) AS n_subwords, " +
        "CAST(sum(nc) AS DOUBLE) / CAST(sum(ns) AS DOUBLE) AS chars_per_subword " +
        "FROM perdoc GROUP BY batch ORDER BY batch"),

    Q("q_unigram_train",
      // Unigram (SentencePiece-style) tokenizer trained by Viterbi-EM
      // (Kudo 2018, hard-EM variant; r10 verdict #8): substring
      // candidates from a derived-trainMod doc sample -> Viterbi segmentation
      // under an INTEGER-EXACT objective (fewest pieces, then max total
      // weight, then lexicographic path -- a float log-prob sum would
      // be IEEE-order- and libm-dependent across engines) -> usage
      // pruning -> re-estimation. The artifact is the final vocabulary
      // with its usage counts; the oracle unrolls the identical DP one
      // CTE per word position with the identical three-key tie-break.
      (s, d) => {
        val all = docs(s, d)
        TextOps.unigramTrain(all, "doc_id", "text",
          UNI_PLEN, UNI_MIN_CNT, UNI_MIN_USE, UNI_MAX_WORD,
          trainModOf(all))
      },
      s"WITH ${sqlTrainMod("documents")}, ${sqlUniTrainCtes()} " +
        "SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, " +
        "CAST(cnt AS BIGINT) AS usage FROM ufin ORDER BY piece"),

    Q("q_unigram_target",
      // Unigram training under SentencePiece's real vocabulary-SIZE
      // objective (r11 verdict #8): Kudo's EM keeps a seed vocab and
      // prunes to a TARGET size; ours swaps the usage floor for a
      // top-(UNI_TARGET − n_singles) multi-char selection by
      // (usage desc, piece asc) — a deterministic total order both
      // engines replicate exactly. The budget BINDS on this corpus
      // (floor mode keeps more multi-char pieces than the target
      // leaves room for), so the artifact is a fixed-size vocabulary —
      // the shippable-tokenizer contract a 100 TB train wants: vocab
      // size is a model hyperparameter, not a corpus statistic.
      (s, d) => {
        val all = docs(s, d)
        TextOps.unigramTrain(all, "doc_id", "text",
          UNI_PLEN, UNI_MIN_CNT, UNI_MIN_USE, UNI_MAX_WORD,
          trainModOf(all), UNI_TARGET)
      },
      s"WITH ${sqlTrainMod("documents")}, ${sqlUniTrainCtes(UNI_TARGET)} " +
        "SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len, " +
        "CAST(cnt AS BIGINT) AS usage FROM ufin ORDER BY piece"),

    Q("q_unigram_apply",
      // The APPLY half of the unigram lifecycle (the q_bpe_apply shape):
      // vocabulary trained on the sample, FULL corpus re-segmented in
      // one narrow codegen'd kernel pass (per-word Viterbi against the
      // driver-resident vocabulary, memoized over the distinct-word
      // dictionary), reporting per-source compression. Words longer
      // than UNI_MAX_WORD are excluded in both engines (the oracle DP
      // is unrolled per position).
      (s, d) => {
        val all = docs(s, d)
        val (vp, vc) = TextOps.unigramLearnedVocab(all, "doc_id", "text",
          UNI_PLEN, UNI_MIN_CNT, UNI_MIN_USE, UNI_MAX_WORD,
          trainModOf(all))
        val voc = new graft.functions.UnigramVocab(vp, vc)
        val seg = graft.functions.VectorFunctions.unigramSegment(col("word"), voc)
        val occ = all.repartition(s.sparkContext.defaultParallelism)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("word"))
          .filter(length(col("word")) <= UNI_MAX_WORD)
        val dict = occ.select("word").distinct()
          .select(col("word"), length(col("word")).cast("long").as("nc1"),
            size(seg).cast("long").as("ns1"))
        occ.join(broadcast(dict), "word")
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"),
            sum(col("nc1")).as("n_chars"),
            sum(col("ns1")).as("n_pieces"))
          .withColumn("chars_per_piece",
            col("n_chars").cast("double") / col("n_pieces").cast("double"))
      },
      s"WITH ${sqlTrainMod("documents")}, ${sqlUniTrainCtes()}, " +
        s"aw0 AS (SELECT source, word FROM (SELECT source, unnest($TOKS) AS word " +
        s"FROM documents) WHERE len(word) <= $UNI_MAX_WORD), " +
        "awords AS MATERIALIZED (SELECT word, CAST(1 AS BIGINT) AS freq " +
        "FROM aw0 GROUP BY word), " +
        sqlUniDp("ua", "awords", "ufin") + " " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(len(aw0.word)) AS BIGINT) AS n_chars, " +
        "CAST(sum(f.k) AS BIGINT) AS n_pieces, " +
        "CAST(sum(len(aw0.word)) AS DOUBLE) / CAST(sum(f.k) AS DOUBLE) AS chars_per_piece " +
        "FROM aw0 JOIN uafin f USING (word) GROUP BY source ORDER BY source"),

    Q("q_knn_eval",
      // Leave-one-out 3-NN label accuracy over the embeddings — the
      // eval-set diagnostic a curation run uses to check an embedding
      // space against a labeled sample. Vote = majority of the 3
      // nearest labels, ties broken by best (nearest) rank then lowest
      // label — fully deterministic. The exact-neighbor side is the
      // O(n²) measurement harness (like q_ann_recall): at 100 TB it
      // runs on the labeled eval sample, not the corpus; the serving
      // path would feed the same vote from any bucketed top-k
      // (topKFromAssign / topKLshMulti) unchanged.
      (s, d) => {
        val e = emb(s, d)
        val lbl = e.select(col("vec_id"), col("label").cast("long").as("label"))
        // leave-one-out over the probe sample (broadcast sample ×
        // corpus); at 100 TB the labeled eval set IS the sample
        val nbr = Similarity.topK(e, "vec_id", "embedding", 3, probeModOf(e))
        val votes = nbr
          .join(lbl.select(col("vec_id").as("b"), col("label").as("nlabel")), "b")
          .groupBy("a", "nlabel")
          .agg(count(lit(1)).as("cnt"), min(col("rank")).as("best"))
        val wV = Window.partitionBy(col("a"))
          .orderBy(col("cnt").desc, col("best"), col("nlabel"))
        val pred = votes.withColumn("__r", row_number().over(wV))
          .filter(col("__r") === 1)
          .select(col("a").as("vec_id"), col("nlabel").as("pred"))
        pred.join(lbl, "vec_id")
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(when(col("pred") === col("label"), 1L).otherwise(0L)).as("n_correct"))
          .withColumn("accuracy",
            col("n_correct").cast("double") / col("n").cast("double"))
      },
      s"WITH ${sqlProbeMod()}, " +
        "nb AS (SELECT a, rank, b FROM (SELECT l.vec_id AS a, r.vec_id AS b, " +
        s"row_number() OVER (PARTITION BY l.vec_id ORDER BY ${sqlCos("l.embedding", "r.embedding")} DESC, r.vec_id) AS rank " +
        s"FROM embeddings l, embeddings r WHERE l.vec_id % $PMOD = 0 " +
        "AND l.vec_id <> r.vec_id) WHERE rank <= 3), " +
        "lb AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings), " +
        "v AS (SELECT nb.a, l.label AS nlabel, count(*) AS cnt, min(nb.rank) AS best " +
        "FROM nb JOIN lb l ON l.vec_id = nb.b GROUP BY nb.a, l.label), " +
        "p AS (SELECT a AS vec_id, nlabel AS pred FROM (SELECT a, nlabel, " +
        "row_number() OVER (PARTITION BY a ORDER BY cnt DESC, best, nlabel) AS r FROM v) " +
        "WHERE r = 1) " +
        "SELECT l.label, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST(sum(CASE WHEN p.pred = l.label THEN 1 ELSE 0 END) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS accuracy " +
        "FROM p JOIN lb l USING (vec_id) GROUP BY l.label ORDER BY label"),

    Q("q_label_purity",
      // Centroid-classifier purity: one INTEGER-SUM centroid per label
      // (cosine is scale-invariant, so sums ≡ means — the same trick as
      // the k-means path, zero divisions), every vector assigned to its
      // argmax-cosine label centroid, per-label purity = fraction that
      // come home. Unlike q_knn_eval this is the fully scalable shape:
      // one map-side-combined groupBy for the 10-row centroid table,
      // one broadcast scan for assignment — no pair term anywhere.
      (s, d) => {
        val e = emb(s, d)
        val embQ = e.select(col("vec_id"), col("label").cast("long").as("label"),
          Similarity.quantize(col("embedding")).as("q"))
        val sumCols = (0 until DIMS).map(d2 =>
          sum(element_at(col("q"), d2 + 1)).as(s"s$d2"))
        val cents = embQ.groupBy("label")
          .agg(sumCols.head, sumCols.tail: _*)
          .select(col("label").as("clabel"),
            array((0 until DIMS).map(d2 => col(s"s$d2")): _*).as("cq"))
        val scored = embQ.crossJoin(broadcast(cents.withColumn("__cn",
            Similarity.norm(col("cq").cast("array<double>")))))
          .withColumn("s",
            Similarity.dot(col("q").cast("array<double>"), col("cq").cast("array<double>")) /
              col("__cn"))
        val wA = Window.partitionBy(col("vec_id"))
          .orderBy(col("s").desc, col("clabel"))
        scored.withColumn("__r", row_number().over(wA)).filter(col("__r") === 1)
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            sum(when(col("clabel") === col("label"), 1L).otherwise(0L)).as("n_pure"))
          .withColumn("purity",
            col("n_pure").cast("double") / col("n").cast("double"))
      },
      {
        val sumList = (1 to DIMS).map(d2 => s"CAST(sum(q[$d2]) AS BIGINT)")
          .mkString("[", ", ", "]")
        "WITH qe AS (SELECT vec_id, CAST(label AS BIGINT) AS label, " +
          "list_transform(embedding, " +
          s"x -> CAST(floor(CAST(x AS DOUBLE) * ${Similarity.QUANT}) AS BIGINT)) AS q " +
          "FROM embeddings), " +
          s"ce AS (SELECT label AS clabel, $sumList AS cq FROM qe GROUP BY label), " +
          "asg AS (SELECT vec_id, label, clabel FROM (SELECT e.vec_id, e.label, c.clabel, " +
          s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${sqlDot("e.q", "c.cq")} / sqrt(${sqlDot("c.cq", "c.cq")}) DESC, c.clabel) AS r " +
          "FROM qe e, ce c) WHERE r = 1) " +
          "SELECT label, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS n_pure, " +
          "CAST(sum(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS DOUBLE) / " +
          "CAST(count(*) AS DOUBLE) AS purity " +
          "FROM asg GROUP BY label ORDER BY label"
      }),

    // ---------------- multimodal (opaque binary + typed metadata) ----------
    Q("q_multimodal_meta",
      // Text stands in for an opaque binary blob: byte length, content
      // hash, and a deterministic stub "decoded feature" vector (see
      // graft.multimodal for the mapPartitions decode plumbing).
      (s, d) => docs(s, d).select(
        col("doc_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("content_hash"),
        array_join(transform(sequence(lit(0), lit(3)),
          i => ascii(md5(col("text").cast("binary")).substr(i * 7 + 1, lit(1))).cast("long"))
            .cast("array<string>"), ",")
          .as("stub_feature")),
      // stub_feature serialized to CSV string: the driver comparator
      // (pandas sort_values) cannot sort ndarray cells.
      "SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_hash, " +
        "array_to_string(list_transform(range(0, 4), i -> CAST(ascii(substr(md5(text), CAST(i * 7 + 1 AS INT), 1)) AS BIGINT)), ',') " +
        "AS stub_feature FROM documents ORDER BY doc_id"),

    Q("q_multimodal_frames",
      // Frame sampling through the real mapPartitions/flatMap plumbing
      // (graft.multimodal.frameSample): every 2nd 64-byte chunk of the
      // opaque payload, identified by content hash — the one-to-many
      // decode shape, oracle-checked (the stub chunker IS the
      // deterministic contract; a demuxer replaces only it).
      (s, d) => Multimodal.frameSample(Multimodal.fromDocuments(s, d), 64, 2)
        .toDF()
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("frame_hash")),
      "SELECT media_id, frame_idx, " +
        "length(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS n_bytes, " +
        "md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_hash " +
        "FROM (SELECT doc_id AS media_id, text, " +
        "unnest(range(0, (length(text) + 63) // 64)) AS frame_idx FROM documents) " +
        "WHERE frame_idx % 2 = 0 ORDER BY media_id, frame_idx"),

    Q("q_multimodal_decode",
      // REAL image decode: one 16×16 gray PNG per doc (pixels derived
      // from md5(text) so the oracle can reproduce them codec-free),
      // decoded back through the in-JDK javax.imageio codec inside the
      // batched mapPartitions stage, features = 8-bucket gray histogram
      // of the ACTUAL decoded pixels. PNG is lossless for 8-bit gray,
      // so any codec/plumbing corruption = hash mismatch vs the oracle's
      // direct pixel math. Encode+decode is embarrassingly parallel;
      // nothing leaves the executor until the tiny histogram rows.
      (s, d) => Multimodal
        .extractFeatures(Multimodal.fromDocumentsPng(s, d, 16), 8)
        .toDF()
        .select(col("media_id"),
          concat_ws(",", transform(col("feature"),
            f => f.cast("int").cast("string"))).as("hist")),
      "WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents), " +
        "v AS (SELECT media_id, " +
        "((ascii(substr(h, CAST((i % 32) + 1 AS INT), 1)) * 7) % 256) // 32 AS b " +
        "FROM (SELECT media_id, h, unnest(range(0, 256)) AS i FROM m)), " +
        "c AS (SELECT media_id, b, count(*) AS n FROM v GROUP BY media_id, b), " +
        "g AS (SELECT media_id, bb AS b FROM m, (SELECT unnest(range(0, 8)) AS bb)), " +
        "hist AS (SELECT g.media_id, g.b, coalesce(c.n, 0) AS n " +
        "FROM g LEFT JOIN c USING (media_id, b)) " +
        "SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY b) AS hist " +
        "FROM hist GROUP BY media_id ORDER BY media_id"),

    Q("q_multimodal_audio",
      // REAL audio decode: one 256-sample WAV per doc (PCM derived from
      // md5(text) so the oracle reproduces it codec-free), decoded back
      // through the in-JDK javax.sound.sampled codec in the batched
      // mapPartitions stage; features = zero-crossing counts per 8
      // segments of the ACTUAL decoded samples. PCM is lossless, so any
      // codec/plumbing corruption = hash mismatch vs the oracle's
      // direct sample math.
      (s, d) => graft.multimodal.Multimodal
        .audioZeroCrossings(
          graft.multimodal.Multimodal.fromDocumentsWav(s, d, 256), 8)
        .select(col("media_id"),
          concat_ws(",", transform(col("crossings"),
            c => c.cast("string"))).as("zc")),
      "WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents), " +
        "v AS (SELECT media_id, i, " +
        "((ascii(substr(h, CAST((i % 32) + 1 AS INT), 1)) * 997 + i * 131) " +
        "% 65536) - 32768 AS s " +
        "FROM (SELECT media_id, h, unnest(range(0, 256)) AS i FROM m)), " +
        "x AS (SELECT media_id, i, s, " +
        "lag(s) OVER (PARTITION BY media_id ORDER BY i) AS p FROM v), " +
        "c AS (SELECT media_id, (i * 8) // 256 AS seg, " +
        "CAST(sum(CASE WHEN p IS NOT NULL AND ((s < 0) <> (p < 0)) " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n FROM x GROUP BY 1, 2), " +
        "g AS (SELECT media_id, ss AS seg FROM m, " +
        "(SELECT unnest(range(0, 8)) AS ss)), " +
        "hist AS (SELECT g.media_id, g.seg, coalesce(c.n, 0) AS n " +
        "FROM g LEFT JOIN c USING (media_id, seg)) " +
        "SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY seg) AS zc " +
        "FROM hist GROUP BY media_id ORDER BY media_id"),

    Q("q_multimodal_resize",
      // REAL image resize: the 16×16 PNGs are decoded, nearest-neighbor
      // downsampled to 8×8 with pure integer sampling (out(x,y) =
      // in(2x,2y)), re-encoded, decoded AGAIN, and histogrammed — the
      // full decode→transform→encode→decode loop through the actual
      // codec. The oracle reproduces the resized pixels from the md5
      // formula alone, so any resampling/codec drift = hash mismatch.
      (s, d) => Multimodal
        .extractFeatures(Multimodal.resize(
          Multimodal.fromDocumentsPng(s, d, 16), 8, 8), 8)
        .toDF()
        .select(col("media_id"),
          concat_ws(",", transform(col("feature"),
            f => f.cast("int").cast("string"))).as("hist")),
      "WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents), " +
        "g AS (SELECT media_id, h, (2 * y) * 16 + 2 * x AS i FROM m, " +
        "(SELECT unnest(range(0, 8)) AS x), (SELECT unnest(range(0, 8)) AS y)), " +
        "v AS (SELECT media_id, " +
        "((ascii(substr(h, CAST((i % 32) + 1 AS INT), 1)) * 7) % 256) // 32 AS b " +
        "FROM g), " +
        "c AS (SELECT media_id, b, count(*) AS n FROM v GROUP BY media_id, b), " +
        "gr AS (SELECT media_id, bb AS b FROM m, (SELECT unnest(range(0, 8)) AS bb)), " +
        "hist AS (SELECT gr.media_id, gr.b, coalesce(c.n, 0) AS n " +
        "FROM gr LEFT JOIN c USING (media_id, b)) " +
        "SELECT media_id, string_agg(CAST(n AS VARCHAR), ',' ORDER BY b) AS hist " +
        "FROM hist GROUP BY media_id ORDER BY media_id"),

    Q("q_dedup_phash",
      // IMAGE near-dup dedup via perceptual average-hash over REAL
      // decoded pixels: decode each PNG through the actual javax.imageio
      // codec, hash = (px > floor-mean) bits packed 32/word, candidates
      // from a banded bucket join (band key = one 32-bit hash word —
      // never all-pairs), exact hamming distance (bit_count of xor,
      // summed over words) filters to <= 8. Exact-duplicate documents
      // produce byte-identical images (hamming 0), so the result is the
      // image-level mirror of the text dedup family; all-integer, the
      // oracle reproduces the hash pixel-for-pixel from the md5 formula.
      // The corpus is the LEAD-content thumbnail variant: documents
      // sharing their first 64 chars render identical images, so the
      // fixture yields real hamming-0 pairs (22 groups at sf0.01).
      (s, d) => {
        val words = Multimodal
          .phashWords(Multimodal.fromDocumentsPngLead(s, d, 16))
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true)) // consumed 3x: band buckets + hamming sides
        // capped in-bucket pair generation (the q_dedup_minhash guard):
        // a mega-cluster of identical images (blank pages, logo spam)
        // yields at most cap² pairs on one task, never bucket²
        val cand = words
          .groupBy("w", "v")
          .agg(graft.functions.Aggregators
            .collectMinK(col("media_id"), LSH_BUCKET_CAP).as("ms"))
          .filter(size(col("ms")) > 1)
          .select(explode(col("ms")).as("a"), col("ms"))
          .select(col("a"), explode(col("ms")).as("b"))
          .filter(col("a") < col("b"))
          .select("a", "b").distinct()
        val wa = words.select(col("media_id").as("a"), col("w"), col("v").as("va"))
        val wb = words.select(col("media_id").as("b"), col("w"), col("v").as("vb"))
        cand.join(wa, Seq("a")).join(wb, Seq("b", "w"))
          .groupBy("a", "b")
          .agg(sum(bit_count(col("va").bitwiseXOR(col("vb")))).as("ham"))
          .filter(col("ham") <= 8)
      },
      "WITH m AS (SELECT doc_id AS media_id, md5(substr(text, 1, 64)) AS h " +
        "FROM documents), " +
        "px AS (SELECT media_id, i, " +
        "(ascii(substr(h, CAST((i % 32) + 1 AS INT), 1)) * 7) % 256 AS p " +
        "FROM (SELECT media_id, h, unnest(range(0, 256)) AS i FROM m)), " +
        "mn AS (SELECT media_id, sum(p) // 256 AS mean FROM px GROUP BY media_id), " +
        "wd AS (SELECT px.media_id, CAST(i // 32 AS BIGINT) AS w, " +
        "CAST(sum(CASE WHEN p > mean THEN 1::BIGINT << CAST(i % 32 AS INT) " +
        "ELSE 0 END) AS BIGINT) AS v " +
        "FROM px JOIN mn USING (media_id) GROUP BY px.media_id, i // 32), " +
        "wr AS (SELECT media_id, w, v, row_number() OVER " +
        "(PARTITION BY w, v ORDER BY media_id) AS rk FROM wd), " +
        s"capped AS (SELECT media_id, w, v FROM wr WHERE rk <= $LSH_BUCKET_CAP), " +
        "cand AS (SELECT DISTINCT l.media_id AS a, r.media_id AS b " +
        "FROM capped l JOIN capped r USING (w, v) WHERE l.media_id < r.media_id), " +
        "hm AS (SELECT c.a, c.b, CAST(sum(bit_count(xor(wa.v, wb.v))) AS BIGINT) AS ham " +
        "FROM cand c JOIN wd wa ON wa.media_id = c.a " +
        "JOIN wd wb ON wb.media_id = c.b AND wb.w = wa.w " +
        "GROUP BY c.a, c.b) " +
        "SELECT a, b, ham FROM hm WHERE ham <= 8 ORDER BY a, b"),

    Q("q_multimodal_video",
      // REAL video demux: one YUV4MPEG2 stream per doc (4 mono 16×16
      // frames, pixels derived from md5(text) so the oracle reproduces
      // them container-free), demuxed by an actual Y4M parser (stream
      // header + FRAME markers) in the flatMap stage; features =
      // per-frame luma mass of the ACTUAL decoded planes — exact
      // BIGINTs, any container/plumbing corruption = hash mismatch.
      (s, d) => graft.multimodal.Multimodal
        .videoFrameLuma(
          graft.multimodal.Multimodal.fromDocumentsY4m(s, d, 16, 4)),
      "WITH m AS (SELECT doc_id AS media_id, md5(text) AS h FROM documents), " +
        "px AS (SELECT media_id, f, " +
        "(ascii(substr(h, CAST(((i + f) % 32) + 1 AS INT), 1)) * 31 + f * 7) " +
        "% 256 AS p " +
        "FROM (SELECT media_id, h, i, ff AS f FROM " +
        "(SELECT media_id, h, unnest(range(0, 256)) AS i FROM m), " +
        "(SELECT unnest(range(0, 4)) AS ff))) " +
        "SELECT media_id, CAST(f AS BIGINT) AS frame_idx, " +
        "CAST(sum(p) AS BIGINT) AS sum_luma " +
        "FROM px GROUP BY media_id, f ORDER BY media_id, frame_idx"),

    Q("q_distinct_kmv",
      // KMV (k-minimum-values) distinct sketch: estimate = (k-1)/u_k
      // over the k smallest hash-uniforms of the distinct token ids —
      // the mergeable sketch for COUNT(DISTINCT) at 100 TB, here with a
      // FIXED hash so the estimate is reproducible and oracle-exact
      // (approx_count_distinct's HLL trades that determinism away).
      // TakeOrderedAndProject keeps the top-k scale-safe (no global
      // sort materialization); exact count rides along for the error.
      (s, d) => {
        val sids = TextOps
          .shingleSidEdges(docs(s, d), "doc_id", "text", K, dedup = true)
          .select("sid").distinct()
        val withU = sids.withColumn("u",
          ((col("sid") * 2654435761L) % 1000003L).cast("double") / 1000003.0)
        val topk = withU.orderBy(col("u"), col("sid")).limit(64)
          .agg(max(col("u")).as("uk"), count(lit(1)).as("n_kmv"))
        val exact = sids.agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(topk)
          .select(col("n_exact"), col("n_kmv"),
            ((col("n_kmv") - 1).cast("double") / col("uk")).as("est"))
      },
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, " +
        "sids AS (SELECT DISTINCT sid FROM sh), " +
        "w AS (SELECT sid, CAST((sid * 2654435761) % 1000003 AS DOUBLE) / " +
        "1000003.0e0 AS u FROM sids), " +
        "k AS (SELECT max(u) AS uk, count(*) AS n_kmv FROM " +
        "(SELECT u, sid FROM w ORDER BY u, sid LIMIT 64)), " +
        "e AS (SELECT count(*) AS n_exact FROM sids) " +
        "SELECT n_exact, n_kmv, CAST(n_kmv - 1 AS DOUBLE) / uk AS est FROM e, k"),

    Q("q_hll_distinct",
      // HyperLogLog (Flajolet et al. 2007) per-source distinct-shingle
      // cardinality: each source's sketch is a FIXED 64-register grid of
      // max leading-zero ranks — constant bytes per source no matter the
      // corpus, mergeable by register-wise max, the COUNT(DISTINCT)
      // companion to q_heavy_hitters' count-min grid. The mixing hash is
      // sid*knuth mod 2^32 (exact in 64-bit); register = low 6 bits,
      // rho = leading zeros of the remaining 26 via the binary-string
      // length (identical bin() semantics in both engines — no log2).
      // The register sum is kept INTEGER as sum(2^(27-rho)) scaled by
      // 2^27, so the only float op is the one final alpha*m^2 division.
      // Exact count rides along as the yardstick; raw HLL estimate only
      // (the paper's small/large-range corrections need ln, which is
      // not bit-reproducible across engines — documented, not hidden).
      // Shape: ONE wide exchange total — the raw explosion goes
      // straight into a (source, sid) distinct (max() absorbs
      // duplicates, so registers off the deduped table are identical,
      // and the exact yardstick needs the dedup anyway); everything
      // downstream is map-side partial aggregation.
      (s, d) => {
        val all = docs(s, d)
        // size-gate the corpus-scale pin like the graph engines
        // (StaticPlan.SER_CKPT_ROWS): shingle rows ≈ chars/6, from one
        // cheap column-stats agg — not a second explosion. The r14 sf10
        // rung measured the pre-rework shape (raw 100M-row deserialized
        // pin + a second full countDistinct exchange) hovering at the
        // one-box storage cliff: 70 s and 320 s on ADJACENT passes.
        // coalesce: sum over an empty documents table is NULL, and the
        // gate must degrade to "small" (fast checkpoint level), not NPE.
        // The estimate is PRE-dedup (chars/6 shingle rows) while the
        // pinned table is post-(source,sid)-dedup — deliberately
        // conservative: a heavy-duplication corpus pays the serialized
        // read tax early rather than hitting the storage cliff late.
        val estRows =
          all.agg(coalesce(sum(col("n_chars")), lit(0L)))
            .head().getLong(0) / 6
        // materialized: consumed by BOTH the register pass and the
        // exact-count yardstick — lazily each would re-run the full
        // tokenize/fingerprint/shingle explosion. Repartition FIRST:
        // the documents table is one parquet split at small SF, and the
        // explosion ran 12s single-threaded on that one partition.
        val tf = all
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("source"),
            explode(TextOps.shingleSidsFromFps(
              TextOps.tokenFingerprints(TextOps.tokens(col("text"))), K))
              .as("sid"))
          .dropDuplicates("source", "sid")
          .transform(df => graft.engine.StaticPlan.localCkpt(df,
            eager = true,
            serialized = estRows > graft.engine.StaticPlan.SER_CKPT_ROWS))
        val reg = Sketches.hllRegisters(tf, Seq("source"), col("sid"))
        val sk = Sketches.hllEstimate(reg, Seq("source"))
        val ex = tf.groupBy("source")
          .agg(count(lit(1)).as("n_exact"))
        ex.join(broadcast(sk), "source")
          .select(col("source"), col("n_exact"), col("hll_est"),
            col("registers_hit"))
      },
      s"WITH $DOC_TOKS, $TOKFPS, $SHSIDS, " +
        "tf AS MATERIALIZED (SELECT d.source, s.sid FROM sh s " +
        "JOIN documents d USING (doc_id)), " +
        "hr AS (SELECT source, ((sid*2654435761 + 104729) % 4294967296) AS h " +
        "FROM tf), " +
        "reg AS (SELECT source, h % 64 AS idx, CASE WHEN h // 64 = 0 THEN 27 " +
        "ELSE 27 - length(bin(h // 64)) END AS rho FROM hr), " +
        "mreg AS (SELECT source, idx, max(rho) AS mrho FROM reg GROUP BY 1, 2), " +
        "sk AS (SELECT source, CAST(count(*) AS BIGINT) AS registers_hit, " +
        "CAST(sum(CAST(1 AS BIGINT) << (27 - mrho)) + " +
        "(64 - count(*)) * 134217728 AS BIGINT) AS sum_scaled " +
        "FROM mreg GROUP BY 1), " +
        "ex AS (SELECT source, CAST(count(DISTINCT sid) AS BIGINT) AS n_exact " +
        "FROM tf GROUP BY 1) " +
        s"SELECT source, n_exact, ${Sketches.HllNum} / CAST(sum_scaled AS DOUBLE) " +
        "AS hll_est, registers_hit FROM ex JOIN sk USING (source) " +
        "ORDER BY source"),

    Q("q_dedup_spans",
      // Cross-doc span dedup (CCNet paragraph pass / Lee et al. 2022 at
      // non-overlapping 10-token spans): drop every copy of a repeated
      // span except the lowest-doc-id one, reassemble surviving text.
      // One content-key shuffle + join-back + per-doc reassembly — the
      // shape CCNet runs at web scale. TextOps.spanDedup.
      (s, d) => TextOps.spanDedup(docs(s, d), "doc_id", "text", SPAN),
      s"WITH $DOC_TOKS, " +
        "segs AS (SELECT doc_id, (len(toks) + 9) // 10 AS n_spans, " +
        "unnest(list_transform(range(0, (len(toks) + 9) // 10), i -> " +
        "struct_pack(pos := i, seg := array_to_string(" +
        "toks[(i * 10 + 1):((i + 1) * 10)], ' ')))) AS sp " +
        "FROM tok WHERE len(toks) > 0), " +
        "segh AS (SELECT doc_id, n_spans, sp.pos AS pos, sp.seg AS seg, " +
        "md5(sp.seg) AS h FROM segs), " +
        "st AS (SELECT h, count(DISTINCT doc_id) AS c, min(doc_id) AS keep " +
        "FROM segh GROUP BY h) " +
        "SELECT doc_id, n_spans, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(seg, ' ' ORDER BY pos) AS dedup_text " +
        "FROM segh JOIN st USING (h) WHERE c = 1 OR doc_id = keep " +
        "GROUP BY doc_id, n_spans ORDER BY doc_id"),

    Q("q_dedup_spans_all",
      // CCNet drop-all mode: every copy of a cross-doc repeated span is
      // removed (no keeper) — the conservative setting when duplicated
      // boilerplate should vanish entirely. Same single content-key
      // shuffle as q_dedup_spans.
      (s, d) => TextOps.spanDedup(docs(s, d), "doc_id", "text", SPAN,
        dropAll = true),
      s"WITH $DOC_TOKS, " +
        "segs AS (SELECT doc_id, (len(toks) + 9) // 10 AS n_spans, " +
        "unnest(list_transform(range(0, (len(toks) + 9) // 10), i -> " +
        "struct_pack(pos := i, seg := array_to_string(" +
        "toks[(i * 10 + 1):((i + 1) * 10)], ' ')))) AS sp " +
        "FROM tok WHERE len(toks) > 0), " +
        "segh AS (SELECT doc_id, n_spans, sp.pos AS pos, sp.seg AS seg, " +
        "md5(sp.seg) AS h FROM segs), " +
        "st AS (SELECT h, count(DISTINCT doc_id) AS c FROM segh GROUP BY h) " +
        "SELECT doc_id, n_spans, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(seg, ' ' ORDER BY pos) AS dedup_text " +
        "FROM segh JOIN st USING (h) WHERE c = 1 " +
        "GROUP BY doc_id, n_spans ORDER BY doc_id"),

    Q("q_boilerplate",
      // Per-source boilerplate removal (CCNet per-shard paragraph
      // dedup, Wenzek et al. 2020): spans in ≥2 distinct docs of the
      // SAME source are template chrome — every copy dropped; spans
      // shared only ACROSS sources survive (q_dedup_spans covers
      // those). Same one content-key shuffle as the span pair, keyed
      // (source, md5) — sharper partitioning, strictly better skew.
      (s, d) => TextOps.boilerplate(docs(s, d), "doc_id", "text",
        "source", SPAN, minDocs = 2),
      s"WITH $DOC_TOKS, " +
        "segs AS (SELECT doc_id, (len(toks) + 9) // 10 AS n_spans, " +
        "unnest(list_transform(range(0, (len(toks) + 9) // 10), i -> " +
        "struct_pack(pos := i, seg := array_to_string(" +
        "toks[(i * 10 + 1):((i + 1) * 10)], ' ')))) AS sp " +
        "FROM tok WHERE len(toks) > 0), " +
        "sgs AS (SELECT s.doc_id, d.source, s.n_spans, sp.pos AS pos, " +
        "sp.seg AS seg, md5(sp.seg) AS h FROM segs s " +
        "JOIN documents d USING (doc_id)), " +
        "st AS (SELECT source, h, count(DISTINCT doc_id) AS c " +
        "FROM sgs GROUP BY source, h) " +
        "SELECT doc_id, source, n_spans, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(seg, ' ' ORDER BY pos) AS clean_text " +
        "FROM sgs JOIN st USING (source, h) WHERE c < 2 " +
        "GROUP BY doc_id, source, n_spans ORDER BY doc_id"),

    Q("q_dsir_weights",
      // DSIR-style importance weight vs the lang='en' target slice over
      // 256 hashed token buckets, in integer-exact rational form
      // (num/den BIGINTs, ONE final IEEE division) so both engines
      // produce identical bits. The 256-row bucket model is broadcast.
      // TextOps.dsirWeights; Xie et al. 2023.
      (s, d) => TextOps.dsirWeights(docs(s, d), "doc_id", "text",
        "lang", "en", DSIR_B),
      s"WITH $DOC_TOKS, $TOKFPS, " +
        "tb AS (SELECT doc_id, unnest(fps) % 256 AS b FROM tokfp), " +
        "cb AS (SELECT tb.doc_id, b, lang, CAST(count(*) AS BIGINT) AS c " +
        "FROM tb JOIN documents ON tb.doc_id = documents.doc_id " +
        "GROUP BY tb.doc_id, b, lang), " +
        "bs AS (SELECT b, CAST(sum(c) AS BIGINT) AS raw, " +
        "CAST(sum(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS tgt " +
        "FROM cb GROUP BY b) " +
        "SELECT doc_id, CAST(sum(c * tgt) AS BIGINT) AS w_num, " +
        "CAST(sum(c * raw) AS BIGINT) AS w_den, " +
        "CAST(CAST(sum(c * tgt) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(sum(c * raw) AS BIGINT) AS DOUBLE) AS weight " +
        "FROM cb JOIN bs USING (b) GROUP BY doc_id ORDER BY doc_id"),

    Q("q_source_stats",
      // Per-source (crawl/provider) corpus report: doc/token/char mass
      // and exact-duplicate contamination per source — the dashboard a
      // 100 TB ingest runs per provider before mixing. One content-hash
      // groupBy (corpus-wide dup detection) + one ~20-row source
      // aggregate; dup_frac is a single IEEE division of two BIGINTs.
      (s, d) => {
        val dd = docs(s, d)
        val hashed = dd.select(
          col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("__ntok"),
          length(col("text")).cast("long").as("__nch"),
          md5(col("text")).as("__h"))
        val hc = hashed.groupBy("__h").agg(count(lit(1)).as("__n"))
        hashed.join(hc, "__h")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("__ntok").as("n_tokens"),
            sum("__nch").as("n_chars"),
            sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
          .withColumn("dup_frac",
            col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
      },
      s"WITH $DOC_TOKS, " +
        "h AS (SELECT doc_id, source, md5(text) AS h, length(text) AS nch " +
        "FROM documents), " +
        "hc AS (SELECT h, count(*) AS n FROM h GROUP BY h) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(toks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(nch) AS BIGINT) AS n_chars, " +
        "CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, " +
        "CAST(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS dup_frac " +
        "FROM h JOIN hc USING (h) JOIN tok USING (doc_id) " +
        "GROUP BY source ORDER BY source"),

    Q("q_token_bpe",
      // Token counting the way a GPT-2-style BPE pre-tokenizer cuts
      // text (contraction suffixes | space-prefixed letter runs | digit
      // runs | punctuation runs) next to the whitespace count — both
      // pure per-row regex projections; the pattern is in the common
      // Java-regex/RE2 subset so both engines count identically.
      (s, d) => docs(s, d).select(
        col("doc_id"),
        size(split(col("text"), " +")).cast("long").as("n_ws"),
        size(regexp_extract_all(col("text"),
          lit("'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"),
          lit(0))).cast("long").as("n_bpe")),
      "SELECT doc_id, CAST(len(string_split_regex(text, ' +')) AS BIGINT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, " +
        "'''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS BIGINT) " +
        "AS n_bpe FROM documents ORDER BY doc_id"),

    Q("q_split",
      // Deterministic stratified train/val/test split: multiplicative-
      // hash bucket of doc_id (KMV's fixed hash) — 8/1/1 by bucket mod
      // 10, no RNG, stable under re-runs and appends; reported per lang
      // so stratification is visible. Pure projection + tiny aggregate.
      (s, d) => {
        val u = (col("doc_id") * 2654435761L % 1000003L) % 10
        docs(s, d)
          .withColumn("split",
            when(u < 8, "train").when(u === 8, "val").otherwise("test"))
          .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      },
      "SELECT lang, CASE WHEN (doc_id * 2654435761) % 1000003 % 10 < 8 THEN 'train' " +
        "WHEN (doc_id * 2654435761) % 1000003 % 10 = 8 THEN 'val' ELSE 'test' END AS split, " +
        "CAST(count(*) AS BIGINT) AS n_docs FROM documents " +
        "GROUP BY lang, split ORDER BY lang, split"),

    Q("q_token_mix",
      // Assemble a balanced training mix to a token budget — the op
      // every pretraining run ends with, reduced to its deterministic
      // core: per-source target = total_tokens div (2·n_sources) (a
      // half-budget equal-share mix), docs admitted per source in
      // multiplicative-hash order (the q_split hash — reproducible,
      // append-stable, no RNG) until the source's cumulative tokens
      // reach its target. Scale shape: one narrow token-count
      // projection, one 2-value broadcast scalar, one per-source
      // window cumsum (keyed shuffle), one aggregate. Weighted mixes
      // swap the constant share for a per-source weight column.
      (s, d) => {
        val dd = docs(s, d).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
          (col("doc_id") * 2654435761L % 1000003L).as("h"))
        val tot = dd.agg(sum(col("n_tok")).as("tt"),
          countDistinct(col("source")).as("ns"))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        dd.crossJoin(broadcast(tot))
          .withColumn("tgt", expr("tt div (ns * 2)"))
          .withColumn("cb", coalesce(sum(col("n_tok")).over(wSrc), lit(0L)))
          .filter(col("cb") < col("tgt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tok")).as("n_tokens_kept"),
            max(col("tgt")).as("target_tokens"))
      },
      s"WITH dd AS (SELECT doc_id, source, CAST(len($TOKS) AS BIGINT) AS n_tok, " +
        "(doc_id * 2654435761) % 1000003 AS h FROM documents), " +
        "tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tt, " +
        "CAST(count(DISTINCT source) AS BIGINT) AS ns FROM dd), " +
        "cum AS (SELECT dd.*, tt // (ns * 2) AS tgt, " +
        "coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb FROM dd, tot) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept, " +
        "CAST(max(tgt) AS BIGINT) AS target_tokens " +
        "FROM cum WHERE cb < tgt GROUP BY source ORDER BY source"),

    Q("q_token_mix_weighted",
      // The weighted form of q_token_mix: per-source INTEGER weights
      // (here 3 shares for majority-English sources, 1 otherwise — any
      // integer weight column slots in), per-source target =
      // total_tokens · w div (2 · Σw), same hash-order admission. All
      // integer arithmetic up to the final division-free admission.
      (s, d) => {
        val dd = docs(s, d).select(col("doc_id"), col("source"), col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
          (col("doc_id") * 2654435761L % 1000003L).as("h"))
        val wLang = Window.partitionBy(col("source"))
          .orderBy(col("n_lang").desc, col("lang"))
        val srcW = dd.groupBy("source", "lang").agg(count(lit(1)).as("n_lang"))
          .withColumn("__r", row_number().over(wLang)).filter(col("__r") === 1)
          .select(col("source"),
            when(col("lang") === "en", 3L).otherwise(1L).as("w"))
        val tot = dd.agg(sum(col("n_tok")).as("tt"))
          .crossJoin(srcW.agg(sum(col("w")).as("sw")))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        dd.join(broadcast(srcW), "source").crossJoin(broadcast(tot))
          .withColumn("tgt", expr("(tt * w) div (sw * 2)"))
          .withColumn("cb", coalesce(sum(col("n_tok")).over(wSrc), lit(0L)))
          .filter(col("cb") < col("tgt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tok")).as("n_tokens_kept"),
            max(col("w")).as("weight"),
            max(col("tgt")).as("target_tokens"))
      },
      s"WITH dd AS (SELECT doc_id, source, lang, CAST(len($TOKS) AS BIGINT) AS n_tok, " +
        "(doc_id * 2654435761) % 1000003 AS h FROM documents), " +
        "sw AS (SELECT source, CASE WHEN lang = 'en' THEN 3 ELSE 1 END AS w FROM (" +
        "SELECT source, lang, row_number() OVER (PARTITION BY source " +
        "ORDER BY count(*) DESC, lang) AS r FROM dd GROUP BY source, lang) WHERE r = 1), " +
        "tot AS (SELECT (SELECT CAST(sum(n_tok) AS BIGINT) FROM dd) AS tt, " +
        "(SELECT CAST(sum(w) AS BIGINT) FROM sw) AS sw2), " +
        "cum AS (SELECT dd.*, sw.w, (tt * w) // (sw2 * 2) AS tgt, " +
        "coalesce(sum(n_tok) OVER (PARTITION BY dd.source ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb " +
        "FROM dd JOIN sw ON sw.source = dd.source, tot) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept, " +
        "CAST(max(w) AS BIGINT) AS weight, " +
        "CAST(max(tgt) AS BIGINT) AS target_tokens " +
        "FROM cum WHERE cb < tgt GROUP BY source ORDER BY source"),

    Q("q_mix_temperature",
      // TEMPERATURE-sampled training mix (the multilingual-LM source
      // rebalance: sample share ∝ size^α, α = 0.5 here): unlike
      // q_token_mix_weighted's STATIC weight column, the weight is
      // derived from the corpus itself — w_s = isqrt(source tokens) —
      // so small sources are upsampled relative to proportional
      // sampling and large ones damped, with no hand-tuned table.
      // isqrt = floor(sqrt(double(n))) is bit-reproducible across
      // engines for n far below 2^52 (one correctly-rounded IEEE sqrt
      // of an exactly-representable integer; the floor cannot flip at
      // these magnitudes), everything after it is integer arithmetic,
      // and admission is the same hash-order cumulative-sum window as
      // the rest of the mix family. Scale shape: one narrow token
      // projection, one S-row aggregate broadcast back, one per-source
      // keyed window — no new shuffle class.
      (s, d) => {
        val dd = docs(s, d).select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
          (col("doc_id") * 2654435761L % 1000003L).as("h"))
        val srcW = dd.groupBy("source")
          .agg(sum(col("n_tok")).as("src_tok"))
          .withColumn("w",
            floor(sqrt(col("src_tok").cast("double"))).cast("long"))
        val tot = dd.agg(sum(col("n_tok")).as("tt"))
          .crossJoin(srcW.agg(sum(col("w")).as("sw")))
        val wSrc = Window.partitionBy(col("source"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        dd.join(broadcast(srcW), "source").crossJoin(broadcast(tot))
          .withColumn("tgt", expr("(tt * w) div (sw * 2)"))
          .withColumn("cb", coalesce(sum(col("n_tok")).over(wSrc), lit(0L)))
          .filter(col("cb") < col("tgt"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tok")).as("n_tokens_kept"),
            max(col("w")).as("weight"),
            max(col("tgt")).as("target_tokens"))
      },
      s"WITH dd AS (SELECT doc_id, source, CAST(len($TOKS) AS BIGINT) AS n_tok, " +
        "(doc_id * 2654435761) % 1000003 AS h FROM documents), " +
        "sw AS (SELECT source, CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE))) " +
        "AS BIGINT) AS w FROM dd GROUP BY source), " +
        "tot AS (SELECT (SELECT CAST(sum(n_tok) AS BIGINT) FROM dd) AS tt, " +
        "(SELECT CAST(sum(w) AS BIGINT) FROM sw) AS sw2), " +
        "cum AS (SELECT dd.*, sw.w, (tt * w) // (sw2 * 2) AS tgt, " +
        "coalesce(sum(n_tok) OVER (PARTITION BY dd.source ORDER BY h, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb " +
        "FROM dd JOIN sw ON sw.source = dd.source, tot) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept, " +
        "CAST(max(w) AS BIGINT) AS weight, " +
        "CAST(max(tgt) AS BIGINT) AS target_tokens " +
        "FROM cum WHERE cb < tgt GROUP BY source ORDER BY source"),

    Q("q_source_overlap",
      // Cross-source contamination report: for every source pair, the
      // count of shared distinct 8-gram shingles and the overlap
      // coefficient |A∩B| / min(|A|,|B|) — which providers feed each
      // other's duplicates. Inverted-index self-join on the shingle id:
      // per-sid pair fanout is bounded by S(S-1)/2 source pairs (S=20
      // here), never by document count, and the per-source totals are a
      // broadcast S-row aggregate. One final IEEE division.
      (s, d) => {
        // e feeds three consumers (self-join l/r + totals) — materialize
        // once instead of re-running tokenize+shingle+distinct per
        // reference (probe: 20 exchanges → 8, and one corpus scan).
        val e = TextOps
          .shingleSidEdges(docs(s, d), "doc_id", "text", K_DUP, dedup = true)
          .join(docs(s, d).select("doc_id", "source"), "doc_id")
          .select("source", "sid").distinct()
          .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        val totals = e.groupBy("source").agg(count(lit(1)).as("n"))
        e.alias("l").join(e.alias("r"),
            col("l.sid") === col("r.sid") && col("l.source") < col("r.source"))
          .groupBy(col("l.source").as("s1"), col("r.source").as("s2"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(totals.select(col("source").as("s1"), col("n").as("n1"))), "s1")
          .join(broadcast(totals.select(col("source").as("s2"), col("n").as("n2"))), "s2")
          .withColumn("overlap",
            col("n_shared").cast("double") / least(col("n1"), col("n2")).cast("double"))
          .select("s1", "s2", "n_shared", "n1", "n2", "overlap")
      },
      s"WITH $DOC_TOKS, $TOKFPS, ${sqlShSidsK(K_DUP, "sh8")}, " +
        "e AS (SELECT DISTINCT source, sid FROM sh8 JOIN documents USING (doc_id)), " +
        "t AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY source), " +
        "sh AS (SELECT l.source AS s1, r.source AS s2, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM e l JOIN e r ON l.sid = r.sid AND l.source < r.source GROUP BY 1, 2) " +
        "SELECT s1, s2, n_shared, t1.n AS n1, t2.n AS n2, " +
        "CAST(n_shared AS DOUBLE) / CAST(least(t1.n, t2.n) AS DOUBLE) AS overlap " +
        "FROM sh JOIN t t1 ON t1.source = s1 JOIN t t2 ON t2.source = s2 " +
        "ORDER BY s1, s2"),

    Q("q_vocab_growth",
      // Per-source vocabulary profile: token occurrences, distinct
      // types (by fingerprint id — longs shuffle, strings don't), and
      // the type/token ratio (one division) — the Heaps-law summary a
      // corpus report shows next to q_source_stats' mass numbers.
      (s, d) => docs(s, d)
        .select(col("source"),
          explode(TextOps.tokenFingerprints(TextOps.tokens(col("text")))).as("fp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("fp").as("n_types"))
        .withColumn("ttr",
          col("n_types").cast("double") / col("n_tokens").cast("double")),
      s"WITH $DOC_TOKS, $TOKFPS " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(count(DISTINCT fp) AS BIGINT) AS n_types, " +
        "CAST(CAST(count(DISTINCT fp) AS BIGINT) AS DOUBLE) / " +
        "CAST(CAST(count(*) AS BIGINT) AS DOUBLE) AS ttr FROM " +
        "(SELECT doc_id, unnest(fps) AS fp FROM tokfp) " +
        "JOIN documents USING (doc_id) GROUP BY source ORDER BY source"),

    Q("q_corpus_report",
      // The per-source dashboard a curation run actually reads before
      // mixing: mass (docs/tokens/chars), vocabulary (types, type/token
      // ratio), exact-duplicate contamination (content-hash) and
      // near-duplicate contamination (minhash bands, drop = non-lowest
      // id of a candidate pair) — ONE declarative plan: a corpus-wide
      // content-hash groupBy, a token-fingerprint aggregate, the capped
      // LSH band pipeline, then three ~|sources|-row joins. Integers
      // plus single IEEE divisions — hash-exact across engines.
      (s, d) => {
        val dd = docs(s, d)
        val hashed = dd.select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("__ntok"),
          length(col("text")).cast("long").as("__nch"),
          md5(col("text")).as("__h"))
        val hc = hashed.groupBy("__h").agg(count(lit(1)).as("__n"))
        val mass = hashed.join(hc, "__h").groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("__ntok").as("n_tokens"),
          sum("__nch").as("n_chars"),
          sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
        val vocab = dd.select(col("source"),
            explode(TextOps.tokenFingerprints(TextOps.tokens(col("text")))).as("fp"))
          .groupBy("source").agg(countDistinct("fp").as("n_types"))
        val bands = TextOps.lshBandsArr(
          TextOps.minhashSigArray(dd, "doc_id", "text", K, H),
          "doc_id", BANDS, R)
        val nearDropped = TextOps.lshCandidatesCapped(bands, "doc_id", LSH_BUCKET_CAP)
          .select(col("b").as("doc_id")).distinct()
        val near = dd.join(nearDropped, Seq("doc_id"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("n_neardup_docs"))
        mass.join(vocab, Seq("source"))
          .join(near, Seq("source"), "left")
          .na.fill(0L, Seq("n_neardup_docs"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
            col("n_types"),
            (col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr"),
            col("n_dup_docs"),
            (col("n_dup_docs").cast("double") / col("n_docs").cast("double")).as("dup_frac"),
            col("n_neardup_docs"),
            (col("n_neardup_docs").cast("double") / col("n_docs").cast("double")).as("neardup_frac"))
      },
      s"WITH $MINHASH_CANDS, " +
        "hd AS (SELECT doc_id, source, md5(text) AS h, length(text) AS nch " +
        "FROM documents), " +
        "hcnt AS (SELECT h, count(*) AS n FROM hd GROUP BY h), " +
        "mass AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(toks)) AS BIGINT) AS n_tokens, " +
        "CAST(sum(nch) AS BIGINT) AS n_chars, " +
        "CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs " +
        "FROM hd JOIN hcnt USING (h) JOIN tok USING (doc_id) GROUP BY source), " +
        "vt AS (SELECT source, CAST(count(DISTINCT fp) AS BIGINT) AS n_types " +
        "FROM (SELECT doc_id, unnest(fps) AS fp FROM tokfp) " +
        "JOIN documents USING (doc_id) GROUP BY source), " +
        "nd AS (SELECT DISTINCT b AS doc_id FROM cand), " +
        "nr AS (SELECT source, CAST(count(*) AS BIGINT) AS n_neardup_docs " +
        "FROM documents JOIN nd USING (doc_id) GROUP BY source) " +
        "SELECT source, n_docs, n_tokens, n_chars, n_types, " +
        "CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr, n_dup_docs, " +
        "CAST(n_dup_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac, " +
        "CAST(COALESCE(n_neardup_docs, 0) AS BIGINT) AS n_neardup_docs, " +
        "CAST(COALESCE(n_neardup_docs, 0) AS DOUBLE) / CAST(n_docs AS DOUBLE) " +
        "AS neardup_frac " +
        "FROM mass JOIN vt USING (source) LEFT JOIN nr USING (source) " +
        "ORDER BY source"),

    Q("q_source_cap",
      // Per-source quality cap (the RefinedWeb "top-N per domain" move):
      // rank each source's docs by the q_quality score, keep the best
      // SRC_CAP. One narrow quality projection + one per-source
      // row_number window + filter — per-partition state is a single
      // counter, so the shape holds at any corpus size; a skewed mega
      // -source costs one fat partition, not a cross-source structure.
      // The score double is the identical IEEE tree on both engines, so
      // the rank order (and hash) is exact.
      (s, d) => {
        val t = TextOps.tokens(col("text"))
        val n = size(t).cast("long")
        val sw = TextOps.stopwordHits(t, "en").cast("long")
        val q = least(n.cast("double") / 100.0, lit(1.0)) *
          (lit(1.0) - sw.cast("double") / greatest(n, lit(1L)).cast("double"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        docs(s, d).select(col("doc_id"), col("source"), q.as("quality"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= SRC_CAP)
      }, {
        val hits = "len(list_filter(toks, x -> x IN (" +
          TextOps.stopwords("en").map(w => s"'$w'").mkString(",") + ")))"
        s"WITH $DOC_TOKS, h AS (SELECT doc_id, len(toks) AS n, $hits AS sw FROM tok), " +
          "q AS (SELECT doc_id, source, " +
          "least(CAST(n AS DOUBLE) / 100.0e0, CAST(1.0 AS DOUBLE)) * " +
          "(CAST(1.0 AS DOUBLE) - CAST(sw AS DOUBLE) / CAST(greatest(n, 1) AS DOUBLE)) " +
          "AS quality FROM h JOIN documents USING (doc_id)), " +
          "r AS (SELECT doc_id, source, quality, row_number() OVER (" +
          "PARTITION BY source ORDER BY quality DESC, doc_id) AS rnk FROM q) " +
          s"SELECT doc_id, source, quality, rnk FROM r WHERE rnk <= $SRC_CAP " +
          "ORDER BY source, rnk"
      }),

    Q("q_heavy_hitters",
      // Count-min sketch (Cormode & Muthukrishnan 2005) heavy hitters:
      // the token-frequency sketch is a FIXED D×W integer grid —
      // mergeable, broadcastable, constant-size no matter the corpus —
      // and each estimate is min over D cells, an upper bound on the
      // true count. Output: the true top-K tokens with true vs sketch
      // counts, so the sketch's collision error is measured in-query
      // (the exact side is the yardstick; a production pipeline ships
      // only the 4×32 grid). Shape: one token-fp groupBy feeds both
      // sides; cells are a ≤ D·W-row aggregate with map-side combine.
      (s, d) => {
        val tf = docs(s, d)
          .select(explode(TextOps.tokenFingerprints(
            TextOps.tokens(col("text")))).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("n_true"))
        def hashes = Sketches.cmsHashes(col("fp"), CMS_W, CMS_A, CMS_B)
        val cells = Sketches.cmsGrid(tf, col("fp"), col("n_true"),
          CMS_W, CMS_A, CMS_B)
        tf.orderBy(col("n_true").desc, col("fp")).limit(CMS_TOPK)
          .select(col("fp"), col("n_true"), explode(hashes).as("rb"))
          .select(col("fp"), col("n_true"),
            col("rb.r").as("r"), col("rb.b").as("b"))
          .join(broadcast(cells), Seq("r", "b"))
          .groupBy("fp", "n_true").agg(min("cell").as("n_est"))
      }, {
        def hRows(src: String) = (0 until CMS_D).map(j =>
          s"SELECT fp, n_true, $j AS r, " +
            s"((fp*${CMS_A(j)}+${CMS_B(j)}) % 1000003) % $CMS_W AS b FROM $src")
          .mkString(" UNION ALL ")
        s"WITH $DOC_TOKS, $TOKFPS, " +
          "tf AS MATERIALIZED (SELECT fp, CAST(count(*) AS BIGINT) AS n_true " +
          "FROM (SELECT doc_id, unnest(fps) AS fp FROM tokfp) GROUP BY fp), " +
          s"cells AS (SELECT r, b, CAST(sum(n_true) AS BIGINT) AS cell " +
          s"FROM (${hRows("tf")}) GROUP BY r, b), " +
          s"top AS (SELECT fp, n_true FROM tf ORDER BY n_true DESC, fp LIMIT $CMS_TOPK) " +
          s"SELECT fp, n_true, min(cell) AS n_est FROM (${hRows("top")}) e " +
          "JOIN cells USING (r, b) GROUP BY fp, n_true ORDER BY n_true DESC, fp"
      }),

    Q("q_normalize",
      // CCNet normalization (Wenzek et al. 2020) as a checked transform:
      // lowercase, digits → 0, strip punctuation, collapse whitespace —
      // the canonical form the fuzzy-exact dedup pass hashes instead of
      // raw text. Emits the md5 of the normalized form plus before/after
      // char counts; chain `.groupBy("h")` for the dedup itself
      // (q_dedup_exact's shape). Pure per-row codegen'd projection.
      (s, d) => docs(s, d).select(
        col("doc_id"),
        md5(TextOps.normalize(col("text"))).as("h"),
        length(col("text")).cast("long").as("n_chars_raw"),
        length(TextOps.normalize(col("text"))).cast("long").as("n_chars_norm")),
      "WITH n AS (SELECT doc_id, length(text) AS nr, " +
        "trim(regexp_replace(regexp_replace(regexp_replace(lower(text), " +
        "'[0-9]', '0', 'g'), '[^a-z0 ]', '', 'g'), ' +', ' ', 'g')) AS nt " +
        "FROM documents) " +
        "SELECT doc_id, md5(nt) AS h, CAST(nr AS BIGINT) AS n_chars_raw, " +
        "CAST(length(nt) AS BIGINT) AS n_chars_norm FROM n ORDER BY doc_id"),

    Q("q_pack_sequences",
      // Sequence packing: each source shard's docs concatenated in id
      // order and cut into exact 32-token training rows (last row per
      // shard may be shorter; straddling docs split, no padding, no
      // token lost). One running-sum window per shard + narrow explode
      // + one groupBy — shards pack in parallel. TextOps.packSequences.
      (s, d) => TextOps.packSequences(docs(s, d), "doc_id", "text",
        "source", PACK_L),
      s"WITH $DOC_TOKS, " +
        "d AS (SELECT doc_id, source, toks, len(toks) AS n FROM tok " +
        "JOIN documents USING (doc_id) WHERE len(toks) > 0), " +
        "o AS (SELECT doc_id, source, toks, n, CAST(COALESCE(sum(n) OVER (" +
        "PARTITION BY source ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off " +
        "FROM d), " +
        "p AS (SELECT source, off, unnest(list_transform(" +
        "range(off // 32, (off + n - 1) // 32 + 1), r -> struct_pack(" +
        "seq_id := r, piece := array_to_string(toks[" +
        "(CAST(greatest(r * 32 - off, 0) AS INT) + 1):" +
        "(CAST(greatest(r * 32 - off, 0) AS INT) + " +
        "CAST(least((r + 1) * 32, off + n) - greatest(r * 32, off) AS INT))], " +
        "' ')))) AS sp FROM o) " +
        "SELECT source, seq_id, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, text FROM (" +
        "SELECT source, sp.seq_id AS seq_id, " +
        "string_agg(sp.piece, ' ' ORDER BY off) AS text " +
        "FROM p GROUP BY source, sp.seq_id) " +
        "ORDER BY source, seq_id")
  )

  lazy val queries: Map[String, QFn] = qs.map(q => q.name -> q.fn).toMap
  lazy val oracle: Map[String, String] = qs.map(q => q.name -> q.sql).toMap
}
