package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis and deduplication operators for large-scale training-data
 * pipelines: tokenization, language ID, quality scoring, fingerprinting,
 * MinHash+LSH / SimHash / n-gram-Jaccard dedup.
 *
 * Everything is integer/rational arithmetic over deterministic hash-based
 * token ids, so results are exactly reproducible across engines (the
 * DuckDB oracle computes the identical pipeline) and every step is a
 * per-row projection or keyed shuffle — no global sort, no driver
 * collect, nothing that breaks at 100 TB.
 */
object TextOps {

  /** Lowercase alphanumeric tokens. `array_remove(…, "")`, not a
    * `filter(length > 0)` lambda: the `+`-quantified delimiter means
    * empty strings only arise at the array edges, so removal is the
    * same token list — but array_remove is whole-stage-codegen'd while
    * the higher-order filter is interpreted (~1 µs/element of lambda
    * dispatch on EVERY text query's hot path). */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Word k-grams ("shingles") joined by spaces. Guarded: Spark's
    * `sequence(1, 0)` would count DOWN, so short docs get an empty array. */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Rolling polynomial fingerprint of the raw characters:
    * fold(acc*31 + ascii(char)) mod 1e9+7 — exact in 64-bit. Codegen'd
    * byte loop ([[graft.functions.AsciiPolyHash]]); identical to the
    * per-char `ascii(substr)` fold for the ASCII-only tokenizer output. */
  def fingerprint(text: Column): Column =
    graft.functions.VectorFunctions.asciiPolyHash(text, 31L, 1000000007L)

  /** CCNet-style text normalization (Wenzek et al. 2020): lowercase,
    * digits → 0, strip everything outside [a-z0 ], collapse runs of
    * spaces, trim. Exact dedup over the normalized form catches the
    * case/punctuation/number variants that raw content hashing misses.
    * Pure per-row projection — no shuffle, codegen'd regex. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      lower(text), "[0-9]", "0"), "[^a-z0 ]", ""), " +", " "))

  // ------------------------------------------------------------------
  // Language ID: stopword-hit heuristic with a fixed priority tie-break.
  // ------------------------------------------------------------------

  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans"))

  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, x => x.isInCollection(stopwords(lang))))

  /** Deterministic argmax over per-language hits, priority en>es>de>fr. */
  def langGuess(en: Column, es: Column, de: Column, fr: Column): Column =
    when(en > 0 && en >= es && en >= de && en >= fr, "en")
      .when(es > 0 && es >= de && es >= fr, "es")
      .when(de > 0 && de >= fr, "de")
      .when(fr > 0, "fr")
      .otherwise("und")

  // ------------------------------------------------------------------
  // MinHash + LSH: numBands bands of rowsPerBand hashes each.
  // h_j(sid) = (a_j * sid + b_j) mod P with sid = polynomial string hash
  // of the shingle ([[fingerprint]] of it): pure per-row arithmetic that
  // both engines compute identically, with NO global vocabulary sort and
  // NO join — the shape that survives 100 TB (a rank-based vocabulary
  // would funnel every distinct shingle through one sorted partition).
  // ------------------------------------------------------------------

  val P: Long = 2147483647L
  def aCoef(j: Int): Long = 2L * j + 3
  def bCoef(j: Int): Long = 7919L * j + 13

  /** Per-token fingerprints — each token hashed once, then shingle ids
    * combine k token hashes with ~k integer ops instead of re-folding
    * every character of every (overlapping) shingle. */
  def tokenFingerprints(toks: Column): Column =
    transform(toks, t => fingerprint(t))

  /** Shingle ids from a materialized token-fingerprint array. */
  def shingleSidsFromFps(fps: Column, k: Int): Column =
    when(size(fps) >= k,
      transform(
        sequence(lit(1), size(fps) - (k - 1)),
        i => (0 until k).foldLeft(lit(0L)) { (acc, j) =>
          (acc * 8191 + element_at(fps, i + j)) % 1000000007L
        }))
      .otherwise(array().cast("array<long>"))

  /**
   * Repetition signals for Gopher-style quality filtering: per doc the
   * token and bigram multiplicity counts that back "duplicated n-gram
   * fraction" rules. Token/bigram identity is the polynomial
   * fingerprint (ids, not strings — bigram id = shingle id at k=2), and
   * the counting runs in [[graft.functions.MultiplicityStats]], so the
   * whole stage is one narrow codegen'd pass: no explode, no groupBy,
   * nothing shuffled at any corpus size.
   *
   * Columns: n_tokens, n_uniq_tokens, n_bigrams, n_uniq_bigrams,
   * top_bigram_count.
   */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val f = graft.functions.VectorFunctions
    docs.select(col(idCol),
      f.multStats(f.shingleSids(toks, 1)).as("__t"),
      f.multStats(f.shingleSids(toks, 2)).as("__b"))
      .select(col(idCol),
        element_at(col("__t"), 1).as("n_tokens"),
        element_at(col("__t"), 2).as("n_uniq_tokens"),
        element_at(col("__b"), 1).as("n_bigrams"),
        element_at(col("__b"), 2).as("n_uniq_bigrams"),
        element_at(col("__b"), 3).as("top_bigram_count"))
  }

  /** (doc_id, sid) edges: tokenize → per-token hash → shingle ids —
    * three narrow projections, longs (not strings) into the shuffle.
    * `dedup=false` for minhash (min-agg ignores duplicates anyway),
    * true for set-semantics consumers (Jaccard). */
  def shingleSidEdges(docs: DataFrame, idCol: String, textCol: String,
      k: Int, dedup: Boolean): DataFrame = {
    val staged = docs
      .select(col(idCol),
        explode(graft.functions.VectorFunctions.shingleSids(tokens(col(textCol)), k)).as("sid"))
    if (dedup) staged.distinct() else staged
  }

  /** One row per doc: minhash signature columns h0..h{n-1} over `sid`.
    * Edge-based (generic) formulation: use when shingles arrive as a
    * shuffled edge list. When they come straight from the text, prefer
    * [[minhashSigArray]] — same values, no shuffle. */
  def minhashSignatures(edges: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map { j =>
      min((col("sid") * aCoef(j) + bCoef(j)) % P).as(s"h$j")
    }
    edges.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Context-window chunking: token windows of `width` advancing by
   * `stride` (overlap = width - stride), rejoined to text — corpus →
   * model-sized training rows in one narrow pass. Chunk count is
   * max(1, ⌈(n - overlap) / stride⌉), so every doc yields at least one
   * chunk and every token is covered.
   */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      width: Int, stride: Int): DataFrame = {
    val overlap = width - stride
    val toks = tokens(col(textCol))
    val nChunks = ceil((size(toks) - overlap).cast("double") / stride.toDouble)
      .cast("long")
    docs
      .select(col(idCol), toks.as("__t"), greatest(nChunks, lit(1L)).as("__nc"))
      .select(col(idCol), col("__t"),
        explode(sequence(lit(0L), col("__nc") - 1)).as("chunk_idx"))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ",
          slice(col("__t"), (col("chunk_idx") * stride + 1).cast("int"), lit(width)))
          .as("chunk_text"))
  }

  /**
   * Cross-document repeated n-gram fraction — the linear-cost proxy for
   * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better"): per doc, the fraction
   * of its distinct k-token shingles that also occur in some OTHER
   * document. Inverted-index shape: one repartition on shingle id feeds
   * both the per-shingle doc count and the join back (identical
   * subplans → ReusedExchange), then one doc-keyed aggregate — no
   * candidate pairs, cost linear in corpus size. Docs with fewer than k
   * tokens report (0, 0, 0.0).
   *
   * Columns: idCol, n_shingles, n_shared, dup_frac.
   */
  def dupNgramFrac(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val edges = shingleSidEdges(docs, idCol, textCol, k, dedup = true)
      .repartition(col("sid"))
    val sidDocs = edges.groupBy("sid").agg(count(lit(1)).as("nd"))
    val per = edges.join(sidDocs, "sid").groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    docs.select(idCol).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("dup_frac", col("n_shared").cast("double") /
        greatest(col("n_shingles"), lit(1L)).cast("double"))
  }

  /**
   * Bigram "commonness" score — a CCNet-style LM-quality proxy (Wenzek
   * et al. 2020 bucket docs by LM perplexity; with no external model
   * the corpus's own bigram statistics stand in): the mean corpus
   * frequency of the doc's bigram OCCURRENCES, plus the rarest-bigram
   * frequency (`min_cf`) as the surprise signal. All counting is
   * integer-exact over fingerprint pair-hashes; the score is one
   * long/long division, so engines agree bitwise. Same inverted-index
   * shape as [[dupNgramFrac]].
   *
   * Columns: idCol, n_bigrams, sum_cf, min_cf, commonness.
   */
  def bigramCommonness(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val occ = shingleSidEdges(docs, idCol, textCol, 2, dedup = false)
      .repartition(col("sid"))
    val cf = occ.groupBy("sid").agg(count(lit(1)).as("cf"))
    val per = occ.join(cf, "sid").groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("cf").as("sum_cf"),
        min("cf").as("min_cf"))
    docs.select(idCol).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_cf"), lit(0L)).as("sum_cf"),
        coalesce(col("min_cf"), lit(0L)).as("min_cf"))
      .withColumn("commonness", col("sum_cf").cast("double") /
        greatest(col("n_bigrams"), lit(1L)).cast("double"))
  }

  /**
   * Benchmark decontamination: drop corpus docs sharing ANY k-token
   * shingle with the held-out set. The contamination probe is an
   * inverted-index semi-join on shingle id (corpus-scale keyed
   * shuffle, never doc×benchmark pairs); the benchmark's shingle set
   * is small → broadcast.
   */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    val corpusEdges = shingleSidEdges(corpus, idCol, textCol, k, dedup = true)
    val benchSids = shingleSidEdges(bench, idCol, textCol, k, dedup = true)
      .select("sid").distinct()
    val contaminated = corpusEdges
      .join(broadcast(benchSids), "sid")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Bloom-filter decontamination — the broadcast-SKETCH form of
   * [[decontaminate]]. Instead of shipping the benchmark's distinct
   * shingle-id set into a join, the benchmark is folded into an
   * `mBits`-bit Bloom filter: each sid sets two bit positions
   * (sid mod m, and an independent affine rehash), stored as 63-bit
   * words (shift ≤ 62 — the sign bit never moves, so `<<` agrees
   * across engines). The word table is mBits/63 rows — a few KB
   * broadcast no matter how large the benchmark — and the corpus
   * probe is two broadcast lookups + a bitmask test per shingle.
   * False positives only (classic Bloom rate, and DETERMINISTIC ones —
   * the oracle computes the identical filter); never false negatives.
   * bit_or aggregation is commutative, so shuffle order cannot change
   * the filter.
   */
  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, k: Int, mBits: Int): DataFrame = {
    val P = 1000000007L
    def p1(sid: Column) = sid % mBits
    def p2(sid: Column) = ((sid * 8191L + 127L) % P) % mBits
    val benchPos = shingleSidEdges(bench, idCol, textCol, k, dedup = true)
      .select(explode(array(p1(col("sid")), p2(col("sid")))).as("p"))
      .distinct()
    val bloom = benchPos
      .select(expr("p div 63").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("word"))
      .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
    val probe = shingleSidEdges(corpus, idCol, textCol, k, dedup = true)
      .select(col(idCol), p1(col("sid")).as("pa"), p2(col("sid")).as("pb"))
    val hit = probe
      .join(broadcast(bloom.select(col("w").as("wa"), col("word").as("worda"))),
        expr("pa div 63") === col("wa"))
      .join(broadcast(bloom.select(col("w").as("wb"), col("word").as("wordb"))),
        expr("pb div 63") === col("wb"))
      .filter(
        (col("worda").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(pa % 63 AS INT))")) =!= 0L) &&
        (col("wordb").bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), CAST(pb % 63 AS INT))")) =!= 0L))
      .select(idCol).distinct()
    corpus.join(hit, Seq(idCol), "left_anti")
  }

  /** Signature as ONE array column `__hs` (no h0..hN unpack): the
    * compact form [[lshBandsArr]] consumes. Same values as
    * the h0..h{n-1} columns of [[minhashSignatures]]; docs with no
    * shingles are dropped. */
  def minhashSigArray(docs: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol),
        graft.functions.VectorFunctions.minhashSigs(
          graft.functions.VectorFunctions.shingleSids(tokens(col(textCol)), k),
          numHashes).as("__hs"))
      .filter(size(col("__hs")) > 0)

  /** Band rows keyed by the raw signature SLICE (array<long>), not a
    * concat_ws string: equal slices ⇔ equal concat keys (fixed length,
    * integer parts), so buckets are provably identical to the string
    * encoding the oracle uses — but the plan skips the N-column unpack
    * and the per-row string building, roughly halving codegen size and
    * cold JIT on the dedup path. */
  def lshBandsArr(sigArr: DataFrame, idCol: String, numBands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("__hs"), b * rowsPerBand + 1, rowsPerBand).as("key"))
    }
    sigArr.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** (doc, band, key) rows; equal keys within a band = candidate pair.
    * Built as ONE array+explode projection, not a union of per-band
    * selects — a union would re-execute the whole signature pipeline
    * once per band. */
  def lshBands(sigs: DataFrame, idCol: String, numBands: Int, rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until numBands).map { b =>
      val key = concat_ws("_",
        (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Distinct candidate pairs (a < b) colliding in at least one band.
    * Pairs are generated inside each (band, key) bucket after a single
    * groupBy shuffle — no self-join, so the upstream pipeline executes
    * once. LSH bucket sizes are bounded with high probability for
    * natural corpora; for corpora where a degenerate key is possible
    * (shared boilerplate, empty-ish docs) use [[lshCandidatesCapped]],
    * which bounds the quadratic term by construction. */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame =
    bandsDf.groupBy("band", "key")
      .agg(collect_list(col(idCol)).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

  /**
   * [[lshCandidates]] with a hard per-bucket size cap: each (band, key)
   * bucket keeps only its `bucketCap` smallest doc ids before pair
   * generation, so a degenerate band key (thousands of docs sharing
   * boilerplate) yields at most bucketCap·(bucketCap−1)/2 pairs on one
   * task instead of going quadratic in the bucket size. Buckets at or
   * under the cap — the overwhelming case — produce IDENTICAL results
   * to the uncapped form.
   *
   * The cap is enforced INSIDE the aggregation buffer
   * ([[graft.functions.Aggregators.collectMinK]]): the buffer keeps the
   * `bucketCap` smallest ids and can never grow past it, so a mega-
   * bucket costs O(cap) memory — not O(bucket) as trim-after-
   * collect_list would, and with no per-bucket sort/window stage as a
   * row_number formulation would (both were measured: the window
   * variant tripled q_dedup_minhash's wall time). Map-side partial
   * aggregation applies (collectMinK has a real merge), so every
   * partial buffer and shuffle record is also ≤ cap — the plan keeps
   * [[lshCandidates]]'s single-exchange hash-aggregate shape. The
   * keep-lowest-ids rule is deterministic, and recall loss is confined
   * to overflow docs of degenerate buckets — which still collide in
   * their other (non-degenerate) bands. Requires a numeric id column.
   */
  def lshCandidatesCapped(bandsDf: DataFrame, idCol: String,
      bucketCap: Int): DataFrame = {
    require(bucketCap >= 2, s"bucketCap must be >= 2, got $bucketCap")
    bandsDf
      .groupBy("band", "key")
      .agg(graft.functions.Aggregators
        .collectMinK(col(idCol).cast("long"), bucketCap).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /**
   * Incremental near-dup dedup — the production shape for a daily crawl:
   * dedup a NEW batch against an already-deduped corpus WITHOUT ever
   * re-pairing the corpus with itself. The corpus side enters only as
   * its LSH band-key index (`corpusBands`: doc_id, band, key — in
   * production precomputed once, appended per batch); the batch's band
   * keys are tiny by comparison and are BROADCAST, so the corpus-vs-
   * batch probe is one scan of the index with zero shuffle of it.
   * Within-batch duplicates use the capped in-bucket pair generation.
   *
   * Drop rule (conservative): a batch doc is dropped if it shares any
   * band bucket with a corpus doc, or with a lower-id batch doc —
   * "lower-id batch doc" regardless of whether that doc itself
   * survives, so the rule needs no iteration and one batch doc per
   * collision group always survives (the lowest id collides only
   * downward into the corpus).
   *
   * Returns the surviving subset of `batch` (original columns).
   */
  /** The standing LSH band-key index of a corpus — (idCol, band, key)
    * — the thing a production pipeline TRAINS ONCE and persists (e.g.
    * [[graft.sources.Sinks.toBucketedTable]] bucketed by band), then
    * appends each accepted batch's bands to. [[dedupIncremental]]
    * accepts the loaded table directly; nothing recomputes corpus
    * signatures at probe time. */
  def bandIndex(corpus: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int, numBands: Int, rowsPerBand: Int): DataFrame =
    lshBandsArr(minhashSigArray(corpus, idCol, textCol, k, numHashes),
      idCol, numBands, rowsPerBand)

  def dedupIncremental(batch: DataFrame, corpusBands: DataFrame,
      idCol: String, textCol: String, k: Int, numHashes: Int,
      numBands: Int, rowsPerBand: Int, bucketCap: Int): DataFrame = {
    val batchBands = lshBandsArr(
      minhashSigArray(batch, idCol, textCol, k, numHashes),
      idCol, numBands, rowsPerBand)
    val hitCorpus = corpusBands
      .join(broadcast(batchBands.select(col(idCol).as("__b"), col("band"), col("key"))),
        Seq("band", "key"))
      .select(col("__b").as(idCol)).distinct()
    val hitBatch = lshCandidatesCapped(batchBands, idCol, bucketCap)
      .select(col("b").as(idCol)).distinct()
    batch.join(broadcast(hitCorpus.union(hitBatch)), Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // Span-level exact dedup (CCNet paragraph dedup / Lee et al. 2022
  // "Deduplicating Training Data Makes Language Models Better" — the
  // within-corpus exact-substring pass, at non-overlapping token-span
  // granularity instead of suffix arrays).
  // ------------------------------------------------------------------

  /**
   * Cross-document span dedup: cut each doc into non-overlapping spans
   * of `span` tokens (the last span may be shorter — every token is
   * covered), key each span by its polynomial fingerprint, and drop
   * every copy of a span that occurs in ≥2 distinct docs EXCEPT the one
   * in the lowest doc id (one canonical copy survives, as in Lee et
   * al.); `dropAll = true` selects CCNet's mode instead — EVERY copy of
   * a cross-doc repeated span is removed, keeper included. Intra-doc
   * repeats of a doc's own span are NOT dropped — this is a cross-doc
   * operator.
   *
   * Output: (id, n_spans, n_kept, dedup_text) where dedup_text is the
   * surviving spans re-joined in original order. Docs whose every span
   * is claimed by a lower doc vanish (fully-duplicated doc), same as
   * the oracle.
   *
   * Scale shape: one narrow span-cutting projection, one groupBy on the
   * span hash (count + min — map-side partial agg), one shuffle join
   * back on the hash, one groupBy doc to reassemble. No global sort, no
   * all-pairs term anywhere; the hash groupBy is the classic "shuffle
   * the corpus once by content key" pass that CCNet runs at web scale.
   */
  /** The span/DSIR/pack operators stage work in `__`-prefixed columns;
    * fail loudly (not silently wrong) if the input already uses one —
    * the same collision-guard principle as [[graft.engine.AsofJoin]]. */
  private def requireNoInternalCols(df: DataFrame, op: String): Unit = {
    val clash = df.columns.filter(_.startsWith("__"))
    require(clash.isEmpty,
      s"$op stages work in __-prefixed columns; input already has: ${clash.mkString(", ")}")
  }

  /** Shared span-cutting pass for the span operators: tokenize, cut
    * into non-overlapping `span`-token segments, key each by its md5.
    * `carry` names extra input columns to keep on every span row. */
  private def spanCut(docs: DataFrame, idCol: String, textCol: String,
      span: Int, carry: Seq[String] = Nil): DataFrame =
    docs
      .select((col(idCol) +: carry.map(col)) :+ tokens(col(textCol)).as("__toks"): _*)
      .where(size(col("__toks")) > 0)
      .select((col(idCol) +: carry.map(col)) :+
        size(col("__toks")).as("__ntoks") :+
        posexplode(transform(
          sequence(lit(0), ((size(col("__toks")) - 1) / span).cast("int")),
          i => concat_ws(" ", slice(col("__toks"), i * span + 1, lit(span))))): _*)
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__seg")
      .withColumn("__nspans", ((col("__ntoks") + (span - 1)) / span).cast("long"))
      // Content key is a 128-bit digest, NOT the 31-poly fingerprint:
      // the drop/keep decision deletes text, and at web scale a ~2^30
      // key space guarantees cross-doc collisions (birthday bound ≈50%
      // at 38k distinct spans) that would silently delete unrelated
      // spans. md5's 2^128 space makes that probability negligible.
      .withColumn("__h", md5(col("__seg")))

  def spanDedup(docs: DataFrame, idCol: String, textCol: String, span: Int,
                dropAll: Boolean = false): DataFrame = {
    requireNoInternalCols(docs, "spanDedup")
    val toked = spanCut(docs, idCol, textCol, span)
    val stats = toked.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__c"), min(col(idCol)).as("__keep"))
    toked.join(stats, "__h")
      .where(if (dropAll) col("__c") === 1
             else col("__c") === 1 || col(idCol) === col("__keep"))
      .groupBy(col(idCol), col("__nspans"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          s => s.getField("__seg"))).as("dedup_text"))
      .select(col(idCol), col("__nspans").as("n_spans"), col("n_kept"), col("dedup_text"))
  }

  /**
   * Per-group boilerplate removal (CCNet's per-shard paragraph dedup,
   * Wenzek et al. 2020): a span occurring in ≥ `minDocs` DISTINCT docs
   * of the SAME `groupCol` value (source/domain/shard) is boilerplate —
   * navigation chrome, license footers, templated headers — and EVERY
   * copy is dropped; spans repeated across different groups survive
   * (that is spanDedup's job). Output mirrors spanDedup:
   * (id, group, n_spans, n_kept, clean_text); a doc whose every span
   * is group-boilerplate vanishes.
   *
   * Scale shape: identical to spanDedup with the content-key shuffle
   * keyed on (group, md5) — the group key only SHARPENS partitioning
   * (same span text in different groups no longer collides on one
   * reducer), so the pass scales strictly better than the global one.
   */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, span: Int, minDocs: Int): DataFrame = {
    requireNoInternalCols(docs, "boilerplate")
    val toked = spanCut(docs, idCol, textCol, span, carry = Seq(groupCol))
    val stats = toked.groupBy(col(groupCol), col("__h"))
      .agg(countDistinct(col(idCol)).as("__c"))
    toked.join(stats, Seq(groupCol, "__h"))
      .where(col("__c") < minDocs)
      .groupBy(col(idCol), col(groupCol), col("__nspans"))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          s => s.getField("__seg"))).as("clean_text"))
      .select(col(idCol), col(groupCol), col("__nspans").as("n_spans"),
        col("n_kept"), col("clean_text"))
  }

  /**
   * BM25 retrieval scoring (Robertson et al., Okapi BM25) of every
   * document against a fixed term query — the "find the docs most like
   * this probe" primitive a curation pipeline uses for targeted quality
   * slices and contamination hunts. k1 = 1.2, b = 0.75 (the standard
   * constants), with the RSJ idf kept in RATIO form
   * (N - df + 0.5)/(df + 0.5) instead of its log: every per-term score
   * is then a short fixed sequence of IEEE mul/div ops that a parallel
   * SQL oracle reproduces bit-exactly (the ln of classic BM25 is a
   * per-term monotone reshaping; ranking by the ratio form is the same
   * family of score, and cross-engine `ln` is not guaranteed
   * bit-identical).
   *
   * Output: top `topK` rows (id, bm25) by score desc, id asc.
   *
   * Scale shape: one explode filtered to the |terms| query terms (the
   * filter reaches the scan side of the explode), one map-side-combined
   * (id, term) tf groupBy carrying dl, a |terms|-row df aggregate
   * BROADCAST back, a per-doc pivot groupBy, and a TakeOrderedAndProject
   * top-k — no global sort, no driver loop. Per-term scores are summed
   * in QUERY ORDER via explicit pivot columns, not a shuffled sum(),
   * so the double addition order is deterministic at any parallelism.
   */
  def bm25(docsDf: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], topK: Int): DataFrame = {
    requireNoInternalCols(docsDf, "bm25")
    require(terms.nonEmpty && terms.distinct == terms, "terms must be distinct")
    // ONE narrow pass: per-row term counts via the TermCounts codegen
    // kernel — no Generate fanout, no (doc, term) shuffle. Everything
    // global (N, total length, per-term document frequency) is a single
    // 1-row aggregate broadcast back; per-term scores are the SAME IEEE
    // op sequence as before (and as the oracle), summed in query order.
    val base = docsDf.select(col(idCol),
      tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__dl"),
        graft.functions.VectorFunctions.termCounts(col("__toks"), terms).as("__tc"))
    val statAggs = Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__sdl")) ++
      terms.indices.map(i =>
        sum(when(col("__tc")(i) > 0, lit(1L)).otherwise(lit(0L))).as(s"__df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val hasAny = terms.indices.map(i => col("__tc")(i) > 0).reduceLeft(_ || _)
    val scores = terms.indices.map { i =>
      val tf = col("__tc")(i)
      val idf = ((col("__n") - col(s"__df$i")).cast("double") + lit(0.5)) /
        (col(s"__df$i").cast("double") + lit(0.5))
      val sat = (tf.cast("double") * lit(2.2)) /
        (tf.cast("double") + lit(1.2) * (lit(0.25) +
          lit(0.75) * (col("__dl").cast("double") /
            (col("__sdl").cast("double") / col("__n").cast("double")))))
      (idf * sat).as(s"__s$i")
    }
    base
      // only docs containing ≥1 query term are candidates (a zero-term
      // doc scored 0.0 must not pad the top-k, same as the pivot shape)
      .filter(hasAny)
      .crossJoin(broadcast(stats))
      .select(col(idCol) +: scores: _*)
      .withColumn("bm25",
        terms.indices.map(i => col(s"__s$i")).reduceLeft(_ + _))
      .select(col(idCol), col("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(topK)
  }

  // ------------------------------------------------------------------
  // Sequence packing: concatenate a shard's docs in id order and cut
  // the token stream into fixed-length training rows — the "pack"
  // step every LM training pipeline runs after dedup/chunking.
  // ------------------------------------------------------------------

  /**
   * Pack each group's documents (in `idCol` order) into back-to-back
   * sequences of exactly `seqLen` tokens (the last sequence of a group
   * may be shorter). A document that straddles a sequence boundary is
   * split across the adjacent output rows — no padding, no token lost.
   *
   * Output: (group, seq_id, n_tokens, text) with seq_id counting from 0
   * within each group.
   *
   * Scale shape: ONE running-sum window per group computes each doc's
   * global token offset, then a narrow posexplode emits the ≤
   * ceil(n/seqLen)+1 pieces a doc contributes, and one groupBy(group,
   * seq_id) reassembles. Packing is sequential BY CONSTRUCTION — token
   * t's row depends on every prior doc's length — so the parallel unit
   * is the group (shard): at 100 TB you pack per source/shard key in
   * parallel, which is exactly how training shards are produced; an
   * un-grouped global pack is the degenerate single-shard case.
   */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, seqLen: Int): DataFrame = {
    requireNoInternalCols(docs, "packSequences")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = docs
      .select(col(groupCol), col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .where(col("__n") > 0)
      .withColumn("__off", coalesce(sum(col("__n")).over(w), lit(0L)))
    // rows r covered by this doc: floor(off/L) .. floor((off+n-1)/L)
    val pieces = offs
      .select(col(groupCol), col(idCol), col("__toks"), col("__n"), col("__off"),
        posexplode(transform(
          sequence((col("__off") / seqLen).cast("long"),
            ((col("__off") + col("__n") - 1) / seqLen).cast("long")),
          r => struct(
            r.as("seq_id"),
            concat_ws(" ", slice(col("__toks"),
              // 1-based local start of the overlap of [off, off+n) with
              // [r*L, (r+1)*L), and its length
              greatest(r * seqLen - col("__off"), lit(0L)).cast("int") + 1,
              (least((r + 1) * seqLen, col("__off") + col("__n")) -
                greatest(r * seqLen, col("__off"))).cast("int")))
              .as("piece")))))
      .select(col(groupCol), col(idCol), col("__off"),
        col("col.seq_id").as("seq_id"), col("col.piece").as("__piece"))
    pieces.groupBy(col(groupCol), col("seq_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__off"), col(idCol), col("__piece")))),
        s => s.getField("__piece"))).as("text"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .select(col(groupCol), col("seq_id"), col("n_tokens"), col("text"))
  }

  // ------------------------------------------------------------------
  // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling") over hashed token
  // features — in integer-exact rational form so the weight is bit-
  // reproducible across engines (log-space DSIR sums floats, whose
  // value depends on reduction order; a ratio of two integer sums with
  // ONE final IEEE division does not).
  // ------------------------------------------------------------------

  /**
   * Per-doc importance weight of the raw corpus against a target slice
   * (`langCol == targetLang`): hash every token occurrence into
   * `buckets` buckets by fingerprint mod, build the bucket occurrence
   * tables of the target slice (tgt_b) and the full corpus (raw_b), and
   * weight each doc by
   *   w = (Σ_b c_b·tgt_b) / (Σ_b c_b·raw_b)
   * where c_b is the doc's own bucket count — high when the doc's token
   * mass sits in buckets the target favors. Output: (id, w_num, w_den,
   * weight) with num/den exact BIGINTs.
   *
   * Scale shape: one narrow hash projection, one groupBy (doc, bucket),
   * one `buckets`-row aggregate that is BROADCAST back (the importance
   * model is tiny by construction — that is the point of hashed
   * features), one groupBy doc. The target distribution never needs a
   * second corpus scan: tgt_b is a filtered partial of the same
   * aggregate.
   */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  langCol: String, targetLang: String, buckets: Int): DataFrame = {
    requireNoInternalCols(docs, "dsirWeights")
    val cdoc = docs
      .select(col(idCol), col(langCol),
        explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), col(langCol), (fingerprint(col("__t")) % buckets).as("__b"))
      .groupBy(col(idCol), col(langCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val bstats = cdoc.groupBy("__b").agg(
      sum(col("__c")).as("__raw"),
      sum(when(col(langCol) === targetLang, col("__c")).otherwise(0L)).as("__tgt"))
    cdoc.join(broadcast(bstats), "__b")
      .groupBy(col(idCol))
      .agg(
        sum(col("__c") * col("__tgt")).as("w_num"),
        sum(col("__c") * col("__raw")).as("w_den"))
      .select(col(idCol), col("w_num"), col("w_den"),
        (col("w_num").cast("double") / col("w_den").cast("double")).as("weight"))
  }

  /**
   * BPE merge-rule learning (Sennrich et al. 2016, "Neural Machine
   * Translation of Rare Words with Subword Units") — tokenizer TRAINING
   * as a distributed query, not just tokenization. Trains over the
   * DISTINCT-WORD FREQUENCY table (the vocab-dict discipline of every
   * production BPE trainer): adjacent-pair counts weighted by word
   * frequency equal the per-occurrence corpus counts exactly, so the
   * learned rules and reported counts are IDENTICAL to corpus-row
   * training while the per-round state collapses from one row per
   * corpus character to one row per VOCAB character — 10⁴× smaller on
   * the fixtures, and still orders of magnitude smaller at 100 TB
   * (vocab grows ~Heaps' law while the corpus grows linearly). Each
   * round counts pairs (`sum(freq)`, map-side combined), picks the most
   * frequent (ties → lexicographically smallest pair, fully
   * deterministic), and rewrites every vocab word with the merged
   * symbol. Left-to-right non-overlap on runs (only (x,x) pairs can
   * self-overlap) is the classic gaps-and-islands window: matches in a
   * run apply at even offsets from the run head.
   *
   * `trainMod` samples the training corpus (`id % trainMod == 0`)
   * BEFORE the frequency count — the deterministic FAISS-style
   * discipline of [[graft.ml.Similarity]]'s k-means/PQ codebooks:
   * merge rules are distribution statistics, so they train on a
   * sample while APPLY stays full-corpus via the narrow
   * [[graft.functions.VectorFunctions.bpeSegment]] kernel.
   * trainMod = 1 keeps full-corpus training for tests/tiny inputs.
   *
   * Returns the learned rules: (step, lhs, rhs, pair_count) — the
   * artifact a tokenizer ships. All-integer counts and string concat;
   * the DuckDB oracle replays the identical rounds over the same
   * frequency table.
   *
   * Scale shape: per-round state is (word, freq, pos, sym) — narrow,
   * word-partitioned, lineage-truncated via localCheckpoint each round
   * (the Lloyd-unroll discipline that keeps it oracle-replicable); one
   * map-side-combined pair count and one tiny argmax per round.
   */
  def bpeTrain(docsDf: DataFrame, idCol: String, textCol: String,
      nMerges: Int, trainMod: Long = 1L): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    bpeMergeRules(docsDf, idCol, textCol, nMerges, trainMod)
      .map(r => (r._1, r._2, r._3, r._4))
      .toDF("step", "lhs", "rhs", "pair_count")
  }

  /** [[bpeTrain]] with BATCHED merge rounds: each round learns up to
    * `batch` SYMBOL-DISJOINT merges from one pair count (greedy down
    * the (count desc, lhs, rhs) order, skipping any pair sharing a
    * symbol with an already-accepted one) and applies them all in ONE
    * rewrite. Symbol-disjoint merges cannot interact — a merge never
    * deletes a symbol, so adjacencies between untouched symbols (and
    * their counts) are exactly what a sequential application would see,
    * and matches of different accepted pairs are never adjacent (they
    * would share the middle symbol), so the non-overlap run rule stays
    * per-pair. This is the scheduling fix for production-size rule
    * tables: `bpeTrain` drives one driver argmax job per merge — fine
    * at the registry's 8, but 32k scheduled rounds at a real tokenizer
    * vocabulary; batching makes the round count ~nMerges/batch while
    * each round stays one count + one rewrite. batch = 1 is exactly
    * [[bpeTrain]] (the oracle-pinned sequence); batch > 1 may pick a
    * different (still valid) greedy sequence when a freshly-merged
    * symbol would have out-counted a same-round pick. Returns
    * (step, lhs, rhs, pair_count, round). */
  def bpeTrainBatched(docsDf: DataFrame, idCol: String, textCol: String,
      nMerges: Int, trainMod: Long = 1L, batch: Int = 1): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    bpeMergeRules(docsDf, idCol, textCol, nMerges, trainMod, batch)
      .toDF("step", "lhs", "rhs", "pair_count", "round")
  }

  /** The learned merge table in step order — the constant-size
    * tokenizer artifact (nMerges pairs) a 100 TB pipeline trains once
    * on a `trainMod` corpus sample and ships to the apply pass; the
    * per-word apply kernel takes it by reference (the AdcLookup
    * discipline). */
  def bpeLearnedRules(docsDf: DataFrame, idCol: String, textCol: String,
      nMerges: Int, trainMod: Long = 1L): (Array[String], Array[String]) = {
    val rules = bpeMergeRules(docsDf, idCol, textCol, nMerges, trainMod)
    (rules.map(_._2).toArray, rules.map(_._3).toArray)
  }

  /** A single round's accepted merges: greedy down the
    * (count desc, lhs, rhs) order, accepting a pair only while its
    * symbols are untouched by every already-accepted pair — the
    * disjointness that makes one-rewrite application exact. */
  private def acceptDisjoint(top: Seq[(String, String, Long)],
      take: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = top.iterator
    while (acc.size < take && it.hasNext) {
      val p = it.next()
      if (!used(p._1) && !used(p._2)) {
        acc += p
        used += p._1
        used += p._2
      }
    }
    acc.toSeq
  }

  /** The merge rounds behind [[bpeTrain]]: the word-frequency state,
    * then up to `nMerges` count→argmax→rewrite rounds under static
    * planning (per-round checkpoints keep the word layout — AQE-era
    * checkpoints capture UnknownPartitioning, see
    * [[graft.engine.StaticPlan]] — so every round's window chain runs
    * exchange-free). Each round's argmax is ONE row, collected to the
    * driver (a constant-size artifact, like the centroid tables) and
    * re-injected as string literals — no broadcast build and no
    * crossJoin in the rewrite plan. Stops early once no adjacent pair
    * remains (fully-merged or single-char vocab); pairs never reappear
    * after that. Returns (step, lhs, rhs, pair_count) tuples. */
  private def bpeMergeRules(docsDf: DataFrame, idCol: String, textCol: String,
      nMerges: Int, trainMod: Long,
      batch: Int = 1): Seq[(Long, String, String, Long, Long)] = {
    require(nMerges > 0, s"nMerges must be positive, got $nMerges")
    require(trainMod >= 1, s"trainMod must be >= 1, got $trainMod")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = docsDf.sparkSession
    val sampled =
      if (trainMod == 1L) docsDf
      else docsDf.filter(col(idCol) % trainMod === 0)
    // distinct-word frequencies, then one (word, freq, pos, sym) row
    // per vocab character, born word-partitioned so the round windows
    // start aligned
    val s0 = sampled
      .select(explode(tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .repartition(col("word"))
      .select(col("word"), col("freq"),
        explode(sequence(lit(1L), length(col("word")).cast("long"))).as("pos"))
      .select(col("word"), col("freq"), col("pos"),
        col("word").substr(col("pos").cast("int"), lit(1)).as("sym"))
      .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
    val nChars = s0.count()
    graft.engine.StaticPlan.scoped(spark,
      graft.engine.StaticPlan.roundPartitions(nChars, spark)) {
      val wWord = Window.partitionBy(col("word")).orderBy(col("pos"))
      // re-pin the layout under static planning (s0 itself was
      // materialized under the caller's adaptive planning)
      var st = s0.repartition(col("word")).transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
      val rules = new scala.collection.mutable.ArrayBuffer[(Long, String, String, Long, Long)]
      var round = 0L
      var exhausted = false
      while (rules.size < nMerges && round < nMerges && !exhausted) {
        round += 1
        val take = math.min(batch, nMerges - rules.size)
        // batch = 1 keeps the historical limit(1) argmax plan; batched
        // rounds fetch a candidate window wide enough to survive the
        // greedy disjointness skips (skipped pairs recount next round)
        val candWindow = if (batch == 1) 1 else take * 4 + 8
        val m = st.withColumn("nxt", lead(col("sym"), 1).over(wWord))
        // (c desc, sym, nxt) totally orders the pair table (pairs are
        // unique group keys) — limit(n) is the deterministic top-n
        val top = m.filter(col("nxt").isNotNull)
          .groupBy("sym", "nxt").agg(sum(col("freq")).as("c"))
          .orderBy(col("c").desc, col("sym"), col("nxt")).limit(candWindow)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
        if (top.isEmpty) exhausted = true
        else {
          val accepted = acceptDisjoint(top, take)
          accepted.foreach { case (l, r, c) =>
            rules += ((rules.size + 1L, l, r, c, round))
          }
          // ONE rewrite applies every accepted merge: matches of
          // different pairs are never adjacent (disjoint symbols), so
          // the per-run non-overlap rule below stays per-pair exact
          val ism0 = accepted.map { case (l, r, _) =>
            col("sym") === lit(l) && col("nxt") === lit(r)
          }.reduce(_ || _)
          val f = m.withColumn("ism", ism0)
          val g = f.withColumn("isl", when(col("ism"), col("pos") -
            row_number().over(Window.partitionBy(col("word"),
              col("ism")).orderBy(col("pos")))))
          val a = g.withColumn("app", when(col("ism"),
              ((col("pos") - min(col("pos")).over(Window.partitionBy(col("word"),
                col("isl")))) % 2) === 0)
            .otherwise(lit(false)))
          st = a.withColumn("cons",
              coalesce(lag(col("app"), 1).over(wWord), lit(false)))
            .filter(!col("cons"))
            .withColumn("pos2", row_number().over(wWord).cast("long"))
            .select(col("word"), col("freq"), col("pos2").as("pos"),
              when(col("app"), concat(col("sym"), col("nxt")))
                .otherwise(col("sym")).as("sym"))
            .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
        }
      }
      rules.toSeq
    }
  }

  /**
   * Unigram (SentencePiece-style) tokenizer TRAINING by Viterbi-EM
   * (Kudo 2018, hard-EM variant) with an integer-exact objective — the
   * companion of [[bpeTrain]] on the same lifecycle: train on a
   * `trainMod` doc sample, ship a constant-size vocabulary artifact,
   * apply full-corpus in one narrow kernel pass
   * ([[graft.functions.VectorFunctions.unigramSegment]]).
   *
   * Pipeline (all counts integer, all steps oracle-replicable):
   *  1. CANDIDATES: every substring of length 1..`maxPieceLen` of the
   *     sampled distinct-word table, weighted by word frequency; keep
   *     single chars (coverage) plus pieces with count ≥ `minCount`.
   *  2. E-STEP 1: Viterbi-segment each distinct word under candidate
   *     counts ([[graft.functions.UnigramSeg.segment]]: fewest pieces →
   *     max total weight → lexicographic path — the integer surrogate
   *     for the log-prob objective, bit-identical across engines);
   *     usage(p) = Σ freq(word) · uses.
   *  3. PRUNE (the SentencePiece vocabulary-shrink step): keep single
   *     chars (usage or 0) and multi-char pieces with usage ≥ `minUse`.
   *  4. E-STEP 2: re-segment under the pruned vocabulary's usage
   *     weights; the artifact is each surviving piece with its final
   *     usage (single chars always retained).
   *
   * Words longer than `maxWord` are excluded from training in BOTH
   * engines (the oracle unrolls the Viterbi DP one CTE per position;
   * ultra-long tokens are noise at any corpus size — SentencePiece
   * itself caps candidate/sentence lengths).
   *
   * `targetVocab` > 0 switches the PRUNE step to SentencePiece's
   * actual vocabulary-SIZE objective (Kudo prunes the seed vocab to a
   * target size by likelihood loss; usage is our integer-exact
   * surrogate): single chars always survive (coverage), and the
   * multi-char slots are the top `targetVocab - nSingleChars` round-1
   * pieces by (usage desc, piece asc) — a deterministic total order,
   * so both engines pick the identical set. The `minUse` floor is
   * ignored in this mode (the size budget IS the floor). A target
   * smaller than the single-char alphabet keeps only the alphabet.
   *
   * The vocabulary is collected to the driver between rounds — a
   * constant-size index artifact (bounded by alphabet^maxPieceLen,
   * 36⁴ ≈ 1.7M worst case, vocab-sized in practice), the
   * centroid/merge-rule discipline; word tables stay distributed.
   */
  def unigramLearnedVocab(docsDf: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int = 4, minCount: Long = 3L, minUse: Long = 2L,
      maxWord: Int = 10, trainMod: Long = 1L,
      targetVocab: Int = 0): (Array[String], Array[Long]) = {
    require(maxPieceLen >= 1 && minCount >= 1 && minUse >= 1 && maxWord >= 1)
    val sampled =
      if (trainMod == 1L) docsDf
      else docsDf.filter(col(idCol) % trainMod === 0)
    val words = sampled
      .select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) <= maxWord)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .transform(df => graft.engine.StaticPlan.localCkpt(df, eager = true))
    val cand = words
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("freq"), col("i"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("i") + col("l") - 1 <= length(col("word")))
      .select(col("word").substr(col("i"), col("l")).as("piece"), col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .filter(length(col("piece")) === 1 || col("cnt") >= minCount)
    def collectVocab(df: DataFrame): (Array[String], Array[Long]) = {
      val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
      (rows.map(_._1), rows.map(_._2))
    }
    val (p0, c0) = collectVocab(cand)
    val v0 = new graft.functions.UnigramVocab(p0, c0)
    def usage(v: graft.functions.UnigramVocab): DataFrame = words
      .select(col("freq"),
        explode(graft.functions.VectorFunctions.unigramSegment(col("word"), v))
          .as("piece"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
    val (u1p, u1c) = collectVocab(usage(v0))
    val u1 = u1p.zip(u1c).toMap
    // prune: single chars of the candidate vocab survive at their
    // (possibly zero) usage. Multi-char slots: usage >= minUse (floor
    // mode), or the top (targetVocab - nSingles) by (usage desc,
    // piece asc) (size mode — the Kudo prune-to-target objective)
    val singles = p0.filter(_.length == 1).map(p => (p, u1.getOrElse(p, 0L)))
    val multis1 = u1p.zip(u1c).filter(_._1.length >= 2)
    val kept =
      if (targetVocab > 0)
        multis1.sortBy { case (p, c) => (-c, p) }
          .take(math.max(0, targetVocab - singles.length))
      else multis1.filter(_._2 >= minUse)
    val v1pairs = (singles ++ kept).sortBy(_._1)
    val v1 = new graft.functions.UnigramVocab(
      v1pairs.map(_._1), v1pairs.map(_._2))
    val (u2p, u2c) = collectVocab(usage(v1))
    val u2 = u2p.zip(u2c).toMap
    val fin = (v1pairs.filter(_._1.length == 1)
        .map { case (p, _) => (p, u2.getOrElse(p, 0L)) } ++
      u2p.zip(u2c).filter(_._1.length >= 2))
      .sortBy(_._1)
    (fin.map(_._1), fin.map(_._2))
  }

  /** [[unigramLearnedVocab]] as the trained-artifact table:
    * (piece, piece_len, usage), keyed by piece. */
  def unigramTrain(docsDf: DataFrame, idCol: String, textCol: String,
      maxPieceLen: Int = 4, minCount: Long = 3L, minUse: Long = 2L,
      maxWord: Int = 10, trainMod: Long = 1L,
      targetVocab: Int = 0): DataFrame = {
    val spark = docsDf.sparkSession
    import spark.implicits._
    val (p, c) = unigramLearnedVocab(docsDf, idCol, textCol, maxPieceLen,
      minCount, minUse, maxWord, trainMod, targetVocab)
    p.zip(c).toSeq.map { case (pc, cc) => (pc, pc.length.toLong, cc) }
      .toDF("piece", "piece_len", "usage")
  }

  /**
   * Edit-distance near-duplicate pairs with offset double-blocking —
   * the short-text / title dedup pass (where shingle-Jaccard is too
   * coarse): candidate pairs must share a (blockCol, length-band)
   * block, then an exact Levenshtein over a bounded prefix decides.
   *
   * Blocking is the scale lever: the all-pairs O(n²) collapses to the
   * in-block pairs of a (blockCol, len/bandWidth) partition. A single
   * banding misses true pairs whose lengths straddle a band boundary,
   * so a SECOND banding shifted by bandWidth/2 is unioned in — any two
   * docs within bandWidth/2 chars of each other share at least one of
   * the two bands (the classic multi-probe trick, one extra shuffle,
   * no recall cliff at band edges). Candidates are deduped before the
   * Levenshtein so each pair pays the O(prefix²) distance once.
   *
   * Levenshtein runs on `substr(text, 1, prefixLen)` — bounded cost
   * per pair regardless of document size, identical semantics in
   * Spark (codegen'd) and the DuckDB oracle.
   *
   * Recall guarantee: edit distance lower-bounds length difference, so
   * the two bandings catch EVERY pair with dist <= bandWidth/2; with
   * maxDist > bandWidth/2, pairs whose lengths differ by more than
   * bandWidth/2 can be missed (widen bandWidth to keep the guarantee).
   *
   * `blockCap` bounds the quadratic term (the LSH_BUCKET_CAP /
   * FAISS-max-codes discipline): each (block, band) keeps only its
   * blockCap LOWEST-id members per banding, so in-block pairs are
   * ≤ cap² however the corpus grows. WITHOUT it the length-band blocks
   * are unbounded — the r11 sf1 rung measured the uncapped join
   * super-linear (43 s at 10× data, exponent ≈ 1.5: a (lang, band)
   * block holds a fixed FRACTION of the corpus, so in-block pairs grow
   * quadratically; at 100 TB this is the difference between a dedup
   * pass and a non-terminating one). Capped members are dropped from
   * the block entirely (deterministic by id) — the documented
   * recall/cost knob; prefer a finer blockCol when recall must be
   * complete.
   *
   * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist
   */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, lenCol: String, bandWidth: Int, prefixLen: Int,
      maxDist: Int, blockCap: Int = Int.MaxValue): DataFrame = {
    require(bandWidth >= 2, "bandWidth must be >= 2 (half-offset banding)")
    require(blockCap >= 1, "blockCap must be >= 1")
    val half = bandWidth / 2
    def banded(off: Int): DataFrame = {
      val d0 = docs.select(col(blockCol).as("__blk"),
        floor((col(lenCol) + off) / bandWidth).cast("long").as("__band"),
        col(idCol).as("__id"), col(textCol).substr(1, prefixLen).as("__t"))
      val d = if (blockCap == Int.MaxValue) d0
        else d0.withColumn("__r", row_number().over(
            Window.partitionBy(col("__blk"), col("__band"))
              .orderBy(col("__id"))))
          .filter(col("__r") <= blockCap).drop("__r")
      d.join(d.select(col("__blk"), col("__band"), col("__id").as("__id2"),
          col("__t").as("__t2")), Seq("__blk", "__band"))
        .filter(col("__id") < col("__id2"))
        .select(col("__id"), col("__id2"), col("__t"), col("__t2"))
    }
    banded(0).union(banded(half))
      .dropDuplicates("__id", "__id2")
      // |len(a)-len(b)| lower-bounds the edit distance — a free integer
      // prefilter before the real distance; the thresholded levenshtein
      // then runs the BANDED O(len·maxDist) algorithm (returns -1 past
      // the threshold) instead of the full O(len²) table, exact within
      // the threshold — identical kept pairs and distances.
      .filter(abs(length(col("__t")) - length(col("__t2"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__t"), col("__t2"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("__id").as("id_a"), col("__id2").as("id_b"), col("dist"))
  }
}
