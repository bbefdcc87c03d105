package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/**
 * The scaffold every unary kernel in this file shares: its SQL name,
 * its output type, the input types it accepts (array element
 * nullability is ignored), one failure message form
 * "<name> needs <T>, got <type>", and null in → null out. A kernel adds
 * only its constructor, `nullSafeEval`, `doGenCode` and
 * `withNewChildInternal`. `Serializable` because Java deserialization
 * of a kernel runs the no-arg constructor of the first non-serializable
 * superclass, which must be `UnaryExpression`, not this one.
 */
abstract class Kernel(name: String, out: DataType, accepts: DataType*)
    extends UnaryExpression with Serializable {
  override def prettyName: String = name
  override def dataType: DataType = out
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val in = child.dataType match {
      case ArrayType(e, _) => ArrayType(e)
      case t => t
    }
    if (accepts.contains(in)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs ${accepts.map(_.sql).mkString(" or ")}, got ${child.dataType.sql}")
  }
}

/**
 * Native codegen'd vector kernels.
 *
 * The embedding ops (similarity search / near-dup, SURVEY.md §7.2 step 9)
 * reduce to one primitive: a sequential multiply-add fold over two
 * arrays. The `zip_with`+`aggregate` HOF encoding is semantically right
 * but interpreted — ~1 µs/element of lambda dispatch — while flattening
 * to `dims × planes` scalar terms explodes whole-stage codegen (~1 MB
 * compilation units, JIT time >> scan time). `VecDot` is the third way:
 * one compact expression that whole-stage codegen turns into a tight
 * primitive loop, and that stays a single plan node at any `dims`.
 *
 * Fold order is `0.0 + x₀·y₀ + x₁·y₁ + …` — bit-identical to the HOF
 * form and to the DuckDB oracle's `list_reduce(list_prepend(0, …))`,
 * so scores hash-match across engines.
 *
 * Null discipline: element-level nulls are not expected (embedding
 * fixtures are dense); a null *array* yields null.
 */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Always nullable: mismatched lengths yield NULL even for non-null
  // inputs (and codegen needs a mutable isNull slot to set it).
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs numeric arrays, got ${left.dataType} / ${right.dataType}")
  }

  @inline private def get(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType   => a.getFloat(i).toDouble
    case DoubleType  => a.getDouble(i)
    case LongType    => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case other       => throw new IllegalStateException(s"vec_dot: $other")
  }

  // Mismatched lengths → NULL, like the zip_with+aggregate HOF this
  // replaces (null-padded products nulled the whole fold) — a corrupt or
  // truncated embedding must surface as null, not a partial score.
  override def nullSafeEval(l: Any, r: Any): Any = {
    val x = l.asInstanceOf[ArrayData]
    val y = r.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lt = elemType(left)
    val rt = elemType(right)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += get(x, lt, i) * get(y, rt, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, dt: DataType, i: String) = dt match {
        case FloatType   => s"(double) $arr.getFloat($i)"
        case DoubleType  => s"$arr.getDouble($i)"
        case LongType    => s"(double) $arr.getLong($i)"
        case IntegerType => s"(double) $arr.getInt($i)"
        case other       => throw new IllegalStateException(s"vec_dot: $other")
      }
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += ${getter(a, elemType(left), i)} * ${getter(b, elemType(right), i)};
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Rolling polynomial string hash: fold `acc = (acc*mult + codepoint) %
 * mod` over the characters of the input — the exact arithmetic of the
 * `ascii(substr(s,i,1))` HOF fold it replaces (which was O(len²) and
 * interpreted) and of the DuckDB oracle, for ANY input. ASCII input
 * (the tokenizer emits only `[a-z0-9 ]`, and the doc fixtures are
 * ASCII) takes a byte-loop fast path; non-ASCII walks Unicode
 * codepoints. Hot inner op of shingle fingerprinting and MinHash
 * (SURVEY.md §7.2 step 9).
 */
case class AsciiPolyHash(child: Expression, mult: Long, mod: Long)
  extends Kernel("ascii_poly_hash", LongType, StringType) {

  override def nullSafeEval(input: Any): Any =
    AsciiPolyHash.fold(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], mult, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.AsciiPolyHash.fold($c, ${mult}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AsciiPolyHash {
  /** Called from generated code. Codepoint fold; ASCII byte fast path. */
  def fold(s: org.apache.spark.unsafe.types.UTF8String, mult: Long, mod: Long): Long = {
    val bytes = s.getBytes
    var ascii = true
    var i = 0
    while (i < bytes.length) { if (bytes(i) < 0) { ascii = false; i = bytes.length }; i += 1 }
    var acc = 0L
    if (ascii) {
      var j = 0
      while (j < bytes.length) { acc = (acc * mult + (bytes(j) & 0xffL)) % mod; j += 1 }
    } else {
      val str = s.toString
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        acc = (acc * mult + cp) % mod
        j += Character.charCount(cp)
      }
    }
    acc
  }
}

/**
 * Fused shingle-id kernel: `array<string>` tokens → `array<long>` of
 * k-shingle ids, where each token is first fingerprinted with the
 * rolling poly hash (mult 31 mod 1e9+7) and each shingle id is the fold
 * `acc = (acc*8191 + tokenFp) % 1e9+7` over k consecutive token
 * fingerprints — the exact arithmetic of the `transform`+`aggregate`
 * HOF pipeline it replaces (one interpreted lambda dispatch per token
 * and per shingle position), in a single codegen'd pass.
 */
case class ShingleSids(child: Expression, k: Int)
  extends Kernel("shingle_sids", ArrayType(LongType, containsNull = false),
    ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    ShingleSids.kernel(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleSids.kernel($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleSids {
  private val MOD = 1000000007L

  /** Called from generated code. Named `kernel`, NOT `eval`: the case
    * class inherits an instance method `eval` from `Expression`, and a
    * companion method with a clashing name gets no static forwarder —
    * Janino would resolve `ShingleSids.eval(...)` to the instance method
    * and fail to compile, silently dropping the stage to interpreted
    * execution. */
  def kernel(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) {
      fps(i) = AsciiPolyHash.fold(toks.getUTF8String(i), 31L, MOD)
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    var s = 0
    while (s <= n - k) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = (acc * 8191 + fps(s + j)) % MOD; j += 1 }
      out(s) = acc
      s += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/**
 * MinHash signature kernel: `array<long>` shingle ids → `array<long>` of
 * `numHashes` signature values, `h_j = min over sids of (sid*a_j + b_j)
 * mod P` with the engine's fixed coefficient schedule (`TextOps.aCoef/
 * bCoef/P`). Computing the signature *per document row* — the sids are
 * already colocated in the shingle array — removes the explode and the
 * per-doc groupBy shuffle of the edge-based formulation: the whole
 * signature stage becomes one narrow codegen'd pass.
 */
case class MinHashSigs(child: Expression, numHashes: Int)
  extends Kernel("minhash_sigs", ArrayType(LongType, containsNull = false),
    ArrayType(LongType)) {

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.kernel(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSigs.kernel($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSigs {
  private val P = 2147483647L

  /** Called from generated code (named `kernel` to get a static
    * forwarder — see ShingleSids.kernel). Empty input → empty signature
    * (callers filter docs with no shingles, matching the edge-based
    * groupBy which simply has no row for them). */
  def kernel(sids: ArrayData, numHashes: Int): ArrayData = {
    val n = sids.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val sid = sids.getLong(i)
      var j = 0
      while (j < numHashes) {
        val h = (sid * (2L * j + 3) + (7919L * j + 13)) % P
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    if (n == 0) org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array.empty[Long])
    else org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
}

/**
 * Fused SimHash kernel: `array<string>` tokens → BIGINT signature.
 * Fingerprints each token (rolling poly hash), dedups (set semantics),
 * then for each of `nBits` bits sums ±1 votes
 * (`((fp*(2k+7919)) % 131071) % 2`) and sets bit k iff the sum is
 * positive — the identical arithmetic of the explode → distinct →
 * groupBy formulation, without the explode or either shuffle.
 */
case class SimHashSig(child: Expression, nBits: Int)
  extends Kernel("simhash_sig", LongType, ArrayType(StringType)) {

  override def nullSafeEval(input: Any): Any =
    SimHashSig.kernel(input.asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashSig.kernel($c, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSig {
  /** Called from generated code (named `kernel` to get a static
    * forwarder — see ShingleSids.kernel). */
  def kernel(toks: ArrayData, nBits: Int): Long = {
    val seen = new java.util.HashSet[Long]()
    val votes = new Array[Long](nBits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val fp = AsciiPolyHash.fold(toks.getUTF8String(i), 31L, 1000000007L)
      if (seen.add(fp)) {
        var k = 0
        while (k < nBits) {
          val odd = (fp * (2L * k + 7919) % 131071L) % 2 == 1
          votes(k) += (if (odd) 1 else -1)
          k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < nBits) { if (votes(k) > 0) sig |= 1L << k; k += 1 }
    sig
  }
}

/**
 * Multiplicity statistics kernel: `array<long>` ids → `array<long>` of
 * `[n, n_distinct, top_multiplicity]` — the three counts behind
 * repetition-based quality filtering (Gopher-style "fraction of
 * duplicated n-grams" rules). One sort + one scan per row, no shuffle:
 * the whole repetition-scoring stage stays a single narrow codegen'd
 * pass over the corpus. Empty array → [0, 0, 0].
 */
case class MultiplicityStats(child: Expression)
  extends Kernel("mult_stats", ArrayType(LongType, containsNull = false),
    ArrayType(LongType)) {

  override def nullSafeEval(input: Any): Any =
    MultiplicityStats.kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MultiplicityStats.kernel($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MultiplicityStats {
  /** Called from generated code (named `kernel` for the static
    * forwarder — see ShingleSids.kernel). */
  def kernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(0L, 0L, 0L))
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = arr.getLong(i); i += 1 }
    java.util.Arrays.sort(a)
    var uniq = 1L
    var top = 1L
    var run = 1L
    i = 1
    while (i < n) {
      if (a(i) == a(i - 1)) { run += 1; if (run > top) top = run }
      else { uniq += 1; run = 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(n.toLong, uniq, top))
  }
}

/**
 * Per-row query-term counter: `array<string>` tokens → `array<long>`
 * occurrence counts, one slot per query term. Replaces the
 * explode-filter-groupBy term-frequency stage of ranked retrieval
 * (BM25/tf-idf for a FIXED probe query) with a single narrow codegen'd
 * pass — the token array never leaves its row, so the whole tf stage
 * is scan-shaped: no Generate fanout, no (doc, term) shuffle. Document
 * frequencies follow as one global aggregate over `counts[i] > 0`.
 * Terms are compared as UTF8String bytes (exact match, same as the
 * `term IN (...)` filter it replaces).
 */
case class TermCounts(child: Expression, terms: Seq[String])
  extends Kernel("term_counts", ArrayType(LongType, containsNull = false),
    ArrayType(StringType)) {

  @transient private lazy val utf8Terms: Array[org.apache.spark.unsafe.types.UTF8String] =
    terms.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    TermCounts.kernel(input.asInstanceOf[ArrayData], utf8Terms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("terms", utf8Terms,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCounts.kernel($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TermCounts {
  /** Called from generated code (static forwarder, see ShingleSids). */
  def kernel(arr: ArrayData,
      terms: Array[org.apache.spark.unsafe.types.UTF8String]): ArrayData = {
    val counts = new Array[Long](terms.length)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      var j = 0
      while (j < terms.length) {
        if (terms(j).equals(t)) { counts(j) += 1; j = terms.length }
        else j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(counts)
  }
}

/**
 * O(1) lookup into a DRIVER-RESIDENT double table — the ADC
 * (asymmetric-distance-computation) primitive of PQ serving, FAISS's
 * codeword-dot tables as a Spark expression.
 *
 * Why not a `typedlit` array literal: a PQ score references the table
 * 3m+1 times per row expression, and every reference embeds a COPY of
 * the multi-KB literal into the plan — Catalyst's transforms then
 * compare those literals elementwise on every rule pass (measured:
 * ~14 s of driver-side planning for one residual-PQ query at m=8).
 * Here the table is a constructor field shared BY REFERENCE across all
 * lookup nodes: case-class equality on `Array` is reference equality,
 * so plan canonicalization is O(1), and codegen installs the array once
 * via `addReferenceObj` — the generated code is a bare `table[idx]`.
 *
 * The index is produced by the caller from dense code/cell ids; bounds
 * are guaranteed by construction (codes < pqK, cells < nCells).
 */
case class AdcLookup(table: Array[Double], child: Expression)
  extends Kernel("adc_lookup", DoubleType, IntegerType) {

  protected override def nullSafeEval(input: Any): Any =
    table(input.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("adcTable", table, "double[]")
    defineCodeGen(ctx, ev, c => s"$tbl[$c]")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * On-the-fly dot product of two rows of a DRIVER-RESIDENT flattened
 * (rows × dims) matrix — the linear-state replacement for a
 * precomputed row×row lookup table (an [[AdcLookup]] over a rows²
 * array). The residual-PQ μμ term is the motivating case: the dense
 * cell×cell table is O(cells²) plan state (33 MB at sf10's 2,048
 * derived cells, ~3 GB one decade later — the plan dies of
 * serialization size long before 100 TB, and no cluster width fixes
 * driver-side state), while the mean matrix it derives from is
 * O(cells·dims) and the dot is `dims` multiply-adds per pair over two
 * already-resident rows.
 *
 * Fold order is the sequential `0.0 + m[i·dims]·m[j·dims] + …` — the
 * IDENTICAL IEEE sequence the old table's driver-side precompute
 * (Similarity.dotD) and the DuckDB oracle's
 * `list_reduce(list_prepend(0, …))` evaluate, so scores are
 * bit-identical to the table encoding and the oracle SQL is unchanged.
 *
 * The matrix is a constructor field shared BY REFERENCE across all
 * lookup nodes (the [[AdcLookup]] discipline): case-class equality on
 * `Array` is reference equality, so plan canonicalization stays O(1),
 * and codegen installs the array once via `addReferenceObj`. Row
 * indices are produced by the caller from dense cell ids; bounds are
 * guaranteed by construction (index < rows).
 */
case class MatRowDot(mat: Array[Double], dims: Int,
    left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "mat_row_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"mat_row_dot needs two int row indices, got $other")
    }

  protected override def nullSafeEval(i: Any, j: Any): Any =
    MatRowDot.dot(mat, dims, i.asInstanceOf[Int], j.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matRowDotMat", mat, "double[]")
    defineCodeGen(ctx, ev, (i, j) =>
      s"graft.functions.MatRowDot.dot($m, $dims, $i, $j)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MatRowDot {
  /** Sequential multiply-add fold over rows i and j — shared by the
    * interpreted and codegen paths so both evaluate one sequence. */
  def dot(mat: Array[Double], dims: Int, i: Int, j: Int): Double = {
    var acc = 0.0
    var d = 0
    val io = i * dims
    val jo = j * dims
    while (d < dims) { acc += mat(io + d) * mat(jo + d); d += 1 }
    acc
  }
}

/**
 * Top-p nearest-centroid assignment over a DRIVER-RESIDENT centroid
 * matrix — the serving-scale form of "score every cell, keep the best
 * p" that the IVF family (batch assigners, streaming assigner, Lloyd
 * rounds) shares.
 *
 * Why an expression and not a plan: the alternatives both collapse at
 * scale. A broadcast crossJoin × row_number window expands every input
 * row into nCells scored rows and shuffles them BY VECTOR ID just to
 * keep p of them — at nCells = 4096 that is a 4096× row amplification
 * feeding a full shuffle. A per-centroid expression fold (the round-9
 * streaming assigner) builds O(nCells) plan nodes and stops planning
 * in bounded time past a few hundred cells. Here the matrix rides
 * OUTSIDE the plan as constructor arrays shared BY REFERENCE (the
 * [[AdcLookup]] discipline: case-class equality on `Array` is
 * reference equality, so canonicalization is O(1), and codegen
 * installs the arrays once via `addReferenceObj`) — the plan holds ONE
 * node at any cell count, and each row is scored in one tight
 * primitive loop with no row amplification and no shuffle.
 *
 * Arithmetic parity: score(c) = (Σᵢ qᵢ·cᵢ) / ‖c‖, the dot a
 * sequential left fold of double-promoted components in index order
 * (bit-identical to [[VecDot]] over `cast("array<double>")` columns)
 * and ‖c‖ the caller-precomputed `sqrt` of the same fold — exactly
 * the per-(vector, centroid) double the join/window encoding and the
 * DuckDB oracle compute. Ordering is (score DESC, cid ASC) via
 * `java.lang.Double.compare` — the comparator Spark's SortOrder uses
 * for doubles — with `cids` required ascending so equal scores keep
 * the lower cid without a second key. A zero-norm centroid scores 0.0
 * for every vector (the streaming assigner's guard) instead of 0/0.
 *
 * Returns `array<long>` of the top min(p, nCells) cell ids, rank
 * order; NULL when the input vector's length differs from `dims`
 * (the [[VecDot]] corrupt-embedding contract).
 */
case class NearestCells(child: Expression, cids: Array[Long],
    flat: Array[Double], dims: Int, norms: Array[Double], p: Int)
  extends Kernel("nearest_cells", ArrayType(LongType, containsNull = false),
    Seq(FloatType, DoubleType, LongType, IntegerType).map(ArrayType(_)): _*) {

  require(cids.nonEmpty && flat.length == cids.length * dims &&
    norms.length == cids.length && p >= 1,
    s"nearest_cells: ${cids.length} cells, dims $dims, p $p")

  // Mismatched vector length → NULL even for non-null input.
  override def nullable: Boolean = true

  private def typeTag: Int = child.dataType match {
    case ArrayType(FloatType, _)   => 0
    case ArrayType(DoubleType, _)  => 1
    case ArrayType(LongType, _)    => 2
    case ArrayType(IntegerType, _) => 3
    case other => throw new IllegalStateException(s"nearest_cells: $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    if (q.numElements() != dims) null
    else NearestCells.kernel(q, typeTag, cids, flat, dims, norms, p)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("ncCids", cids, "long[]")
    val flatRef = ctx.addReferenceObj("ncFlat", flat, "double[]")
    val normsRef = ctx.addReferenceObj("ncNorms", norms, "double[]")
    val tag = typeTag
    nullSafeCodeGen(ctx, ev, c => s"""
       |if ($c.numElements() != $dims) {
       |  ${ev.isNull} = true;
       |} else {
       |  ${ev.value} = graft.functions.NearestCells.kernel(
       |    $c, $tag, $cidsRef, $flatRef, $dims, $normsRef, $p);
       |}
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCells {
  /** Called from generated code (named `kernel` for the static
    * forwarder — see ShingleSids.kernel). `cids` ascending; insertion
    * keeps first-seen on score ties, so ties resolve to the lowest cid
    * exactly like `row_number() OVER (ORDER BY s DESC, cid)`. */
  def kernel(q: ArrayData, tag: Int, cids: Array[Long], flat: Array[Double],
      dims: Int, norms: Array[Double], p: Int): ArrayData = {
    val nCells = cids.length
    val keep = math.min(p, nCells)
    val topS = new Array[Double](keep)
    val topC = new Array[Long](keep)
    var m = 0
    var c = 0
    while (c < nCells) {
      var acc = 0.0
      val off = c * dims
      var i = 0
      tag match {
        case 0 => while (i < dims) { acc += q.getFloat(i).toDouble * flat(off + i); i += 1 }
        case 1 => while (i < dims) { acc += q.getDouble(i) * flat(off + i); i += 1 }
        case 2 => while (i < dims) { acc += q.getLong(i).toDouble * flat(off + i); i += 1 }
        case _ => while (i < dims) { acc += q.getInt(i).toDouble * flat(off + i); i += 1 }
      }
      val s = if (norms(c) == 0.0) 0.0 else acc / norms(c)
      // insertion position: first slot this score strictly beats
      var j = 0
      while (j < m && java.lang.Double.compare(s, topS(j)) <= 0) j += 1
      if (j < keep) {
        var k = math.min(m, keep - 1)
        while (k > j) { topS(k) = topS(k - 1); topC(k) = topC(k - 1); k -= 1 }
        topS(j) = s
        topC(j) = cids(c)
        if (m < keep) m += 1
      }
      c += 1
    }
    ArrayData.toArrayData(if (m == keep) topC else topC.take(m))
  }
}

/**
 * Driver-resident indexed merge table for [[BpeSegment]]: pair → the
 * sorted list of rule ranks carrying that pair (a trained table holds
 * each pair once, but the index is exact for arbitrary tables). Built
 * lazily ONCE per expression instance and shared by reference across
 * the plan (the AdcLookup discipline), so the per-word kernel pays
 * O(1) hash lookups instead of iterating the rule table.
 */
final class BpeRules(val l: Array[String], val r: Array[String])
    extends Serializable {
  require(l.length == r.length, "BpeRules: ragged rule table")
  @transient private lazy val ranks: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]](l.length * 2)
    var i = 0
    while (i < l.length) {
      val k = key(l(i), r(i))
      val prev = m.get(k)
      m.put(k, if (prev == null) Array(i) else prev :+ i)
      i += 1
    }
    m
  }

  // length-prefixed so ("ab","c") and ("a","bc") cannot collide for
  // any symbol alphabet (a symbol may contain any character)
  @inline private def key(a: String, b: String): String =
    s"${a.length}:$a$b"

  /** Smallest rule rank ≥ `from` whose pair is (a, b); Int.MaxValue if
    * none. Ranks per pair are ascending by construction → the ceiling
    * is a linear scan over a (virtually always length-1) array. */
  def ceilRank(a: String, b: String, from: Int): Int = {
    val ts = ranks.get(key(a, b))
    if (ts == null) return Int.MaxValue
    var i = 0
    while (i < ts.length) { if (ts(i) >= from) return ts(i); i += 1 }
    Int.MaxValue
  }
}

/** The per-word greedy merge loop behind [[BpeSegment]], shared by
  * interpreted eval and generated code.
  *
  * UNIT OF SEGMENTATION: UTF-16 code UNITS (the kernel seeds with
  * `substring`-style single-char symbols), matching the registry's
  * `[a-z0-9]` token alphabet. On non-BMP input (outside the Basic
  * Multilingual Plane) a surrogate pair seeds as two unpaired half
  * symbols, which diverges from a code-point/UTF-8 tokenizer — reuse
  * on arbitrary strings requires a code-point pre-split upstream. */
object BpeSeg {
  /**
   * Apply `l(i) + r(i)` merge rules IN ORDER, one left-to-right greedy
   * pass per rule (a merged pair cannot immediately re-merge within
   * the same pass) — exactly the alternation the corpus-wide
   * gaps-and-islands rewrite (TextOps.bpeRounds and the oracle's
   * unrolled rounds) produces per word, so segmenting words
   * independently yields the identical final state.
   *
   * Cost shape: instead of one pass per RULE (O(nRules × len) — wrong
   * shape at a production 32k-merge table: ~32k passes for a 10-symbol
   * word), the loop jumps straight to the next rule that can actually
   * fire: the minimum rank ≥ cursor over the word's current adjacent
   * pairs (O(1) hash lookups via [[BpeRules]]). Every iteration merges
   * at least one pair, so the cost is O(len × firing passes) ≤ O(len²)
   * per word, INDEPENDENT of the rule-table size. The skipped rules
   * are exactly the passes that would have scanned the word and
   * changed nothing, so the result is bit-identical to the per-rule
   * loop (kept as [[segmentRulePass]], the parity-spec oracle).
   *
   * NOTE this is deliberately NOT the textbook rank-priority heap
   * merge ("repeatedly merge the lowest-rank pair present"): that
   * variant REVISITS earlier ranks when a later merge recreates an
   * earlier rule's pair (possible when one symbol string is derivable
   * by two rules, e.g. rules (ab,c) < (a,bc) < (abc,d) on a word where
   * only the (a,bc) route fires), which the engine's corpus-wide
   * round semantics — and the DuckDB oracle's unrolled rounds — do
   * not. The monotone cursor (`from = fired rank + 1`) pins the
   * engine's semantics while keeping the same asymptotics.
   */
  def segment(word: String, rules: BpeRules): Array[String] = {
    var syms: Array[String] = word.split("").filter(_.nonEmpty)
    var from = 0
    while (syms.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val t = rules.ceilRank(syms(i), syms(i + 1), from)
        if (t < best) best = t
        i += 1
      }
      if (best == Int.MaxValue) return syms
      val lt = rules.l(best); val rt = rules.r(best)
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == lt && syms(j + 1) == rt) {
          out += syms(j) + syms(j + 1); j += 2
        } else { out += syms(j); j += 1 }
      }
      syms = out.toArray
      from = best + 1
    }
    syms
  }

  /** The naive one-greedy-pass-PER-RULE loop — the reference the fast
    * kernel must match bit-for-bit; kept for the parity spec and the
    * rule-table-size stress (O(nRules × len) per word by design). */
  def segmentRulePass(word: String, l: Array[String], r: Array[String]): Array[String] = {
    var syms: Array[String] = word.split("").filter(_.nonEmpty)
    var t = 0
    while (t < l.length) {
      val lt = l(t); val rt = r(t)
      val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == lt && syms(i + 1) == rt) {
          out += syms(i) + syms(i + 1); i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
      t += 1
    }
    syms
  }

  /** Codegen entry point: UTF8String word → ArrayData of symbols. */
  def segmentData(word: org.apache.spark.unsafe.types.UTF8String,
      rules: BpeRules): ArrayData =
    ArrayData.toArrayData(segment(word.toString, rules)
      .map(org.apache.spark.unsafe.types.UTF8String.fromString))
}

/**
 * Greedy BPE APPLICATION as a per-row kernel: re-segment one word with
 * a FIXED learned merge table. Training (corpus-wide pair counts,
 * TextOps.bpeTrain) is inherently iterative and distributed; applying
 * the learned rules is not — each word segments independently, so the
 * apply half of the tokenizer lifecycle is ONE narrow codegen'd pass
 * over the corpus instead of nMerges corpus-wide window/checkpoint
 * rounds (the round-7 shape, 8 shuffle rounds at apply time). The rule
 * table is a driver-resident array shared by reference across the plan
 * (the [[AdcLookup]] discipline — no per-reference literal copies).
 */
case class BpeSegment(child: Expression, lhs: Array[String], rhs: Array[String])
  extends Kernel("bpe_segment", ArrayType(StringType, containsNull = false), StringType) {

  // One indexed rule table per expression instance, shared by
  // reference across interpreted eval and every generated-code
  // reference (addReferenceObj) — the pair->rank hash is built once,
  // not per row/per task on the driver side; executors build it once
  // per deserialized instance (the index itself is @transient lazy).
  @transient private lazy val rules = new BpeRules(lhs, rhs)

  protected override def nullSafeEval(input: Any): Any =
    BpeSeg.segmentData(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], rules)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rRef = ctx.addReferenceObj("bpeRules", rules,
      "graft.functions.BpeRules")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BpeSeg.segmentData($c, $rRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Driver-resident unigram vocabulary for [[UnigramSegment]]: piece →
 * weight (training usage count), plus the max piece length that bounds
 * the Viterbi window. Shared by reference across the plan (the
 * AdcLookup/BpeRules discipline).
 */
final class UnigramVocab(val pieces: Array[String], val cnts: Array[Long])
    extends Serializable {
  require(pieces.length == cnts.length, "UnigramVocab: ragged arrays")
  val maxLen: Int = if (pieces.isEmpty) 1 else pieces.map(_.length).max
  @transient private lazy val m: java.util.HashMap[String, java.lang.Long] = {
    val h = new java.util.HashMap[String, java.lang.Long](pieces.length * 2)
    var i = 0
    while (i < pieces.length) { h.put(pieces(i), cnts(i)); i += 1 }
    h
  }
  /** Weight of `piece`, or -1 when absent. */
  def cnt(piece: String): Long = {
    val v = m.get(piece)
    if (v == null) -1L else v.longValue()
  }
}

/** The per-word Viterbi segmentation behind [[UnigramSegment]], shared
  * by interpreted eval and generated code.
  *
  * UNIT OF SEGMENTATION: UTF-16 code UNITS — DP positions index
  * `word.charAt`, and the lexicographic path tie-break compares
  * UTF-16 units (`String.compareTo`), matching the registry's
  * `[a-z0-9]` alphabet and the DuckDB oracle on BMP text. On non-BMP
  * input a surrogate pair can split across pieces and the tie-break
  * order diverges from code-point/UTF-8 ordering — reuse on arbitrary
  * strings requires a code-point pre-split upstream. */
object UnigramSeg {
  private final val SEP = '\u0001'

  /**
   * INTEGER-EXACT Viterbi segmentation under a unigram vocabulary —
   * the hard-EM (Viterbi) decode of a SentencePiece-style unigram
   * tokenizer (Kudo 2018), with the log-probability objective replaced
   * by an integer-exact surrogate so results are bit-identical across
   * engines (a float log-prob sum is IEEE-order-dependent and ln()
   * differs across runtimes): among all segmentations into vocabulary
   * pieces, pick (fewest pieces) → (max total piece weight) →
   * (lexicographically smallest '\u0001'-joined path). Coverage: a
   * single character absent from the vocabulary is always allowed at
   * weight 0, so every word segments. The DuckDB oracle unrolls the
   * identical DP per position with the identical three-key tie-break
   * (row_number OVER (ORDER BY k, f DESC, path)).
   */
  def segment(word: String, v: UnigramVocab): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val L = math.max(1, v.maxLen)
    val bk = new Array[Int](n + 1)
    val bf = new Array[Long](n + 1)
    val bp = new Array[String](n + 1)
    bk(0) = 0; bf(0) = 0L; bp(0) = ""
    var i = 1
    while (i <= n) {
      var sk = Int.MaxValue; var sf = Long.MinValue; var sp: String = null
      var j = math.max(0, i - L)
      while (j < i) {
        val piece = word.substring(j, i)
        val c0 = v.cnt(piece)
        // unknown single chars allowed at weight 0 (coverage fallback)
        val c = if (c0 >= 0L) c0 else if (i - j == 1) 0L else -1L
        if (c >= 0L) {
          val nk = bk(j) + 1
          val nf = bf(j) + c
          val np = if (bp(j).isEmpty) piece else bp(j) + SEP + piece
          if (nk < sk || (nk == sk && (nf > sf ||
              (nf == sf && (sp == null || np.compareTo(sp) < 0))))) {
            sk = nk; sf = nf; sp = np
          }
        }
        j += 1
      }
      bk(i) = sk; bf(i) = sf; bp(i) = sp
      i += 1
    }
    bp(n).split(SEP)
  }

  /** Codegen entry point: UTF8String word → ArrayData of pieces. */
  def segmentData(word: org.apache.spark.unsafe.types.UTF8String,
      v: UnigramVocab): ArrayData =
    ArrayData.toArrayData(segment(word.toString, v)
      .map(org.apache.spark.unsafe.types.UTF8String.fromString))
}

/**
 * Viterbi unigram segmentation as a per-row codegen'd kernel (see
 * [[UnigramSeg.segment]]): training (candidate counting + Viterbi-EM
 * usage rounds, TextOps.unigramTrain) is distributed; applying the
 * learned vocabulary is one narrow pass — each word segments
 * independently against the driver-resident vocabulary, exactly the
 * [[BpeSegment]] apply discipline.
 */
case class UnigramSegment(child: Expression, vocab: UnigramVocab)
  extends Kernel("unigram_segment", ArrayType(StringType, containsNull = false),
    StringType) {

  protected override def nullSafeEval(input: Any): Any =
    UnigramSeg.segmentData(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val vRef = ctx.addReferenceObj("unigramVocab", vocab,
      "graft.functions.UnigramVocab")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnigramSeg.segmentData($c, $vRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorFunctions {
  /** Sequential-fold dot product as a `Column`. */
  def vecDot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VecDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Rolling polynomial ASCII hash as a `Column`. */
  def asciiPolyHash(s: Column, mult: Long, mod: Long): Column =
    ColumnBridge.column(AsciiPolyHash(ColumnBridge.expression(s), mult, mod))

  /** Fused token-fingerprint → k-shingle-id kernel as a `Column`. */
  def shingleSids(toks: Column, k: Int): Column =
    ColumnBridge.column(ShingleSids(ColumnBridge.expression(toks), k))

  /** Per-row MinHash signature kernel as a `Column`. */
  def minhashSigs(sids: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSigs(ColumnBridge.expression(sids), numHashes))

  /** Fused per-row SimHash signature kernel as a `Column`. */
  def simhashSig(toks: Column, nBits: Int): Column =
    ColumnBridge.column(SimHashSig(ColumnBridge.expression(toks), nBits))

  /** `[n, n_distinct, top_multiplicity]` of an id array as a `Column`. */
  def multStats(ids: Column): Column =
    ColumnBridge.column(MultiplicityStats(ColumnBridge.expression(ids)))

  /** Per-row occurrence counts of the given query terms as a `Column`. */
  def termCounts(toks: Column, terms: Seq[String]): Column =
    ColumnBridge.column(TermCounts(ColumnBridge.expression(toks), terms))

  /** O(1) ADC-table lookup as a `Column` (see [[AdcLookup]]). */
  def adcLookup(table: Array[Double], idx: Column): Column =
    ColumnBridge.column(AdcLookup(table, ColumnBridge.expression(idx)))

  /** Dot of two rows of a flattened driver-resident matrix as a
    * `Column` (see [[MatRowDot]]). */
  def matRowDot(mat: Array[Double], dims: Int, i: Column, j: Column): Column =
    ColumnBridge.column(MatRowDot(mat, dims,
      ColumnBridge.expression(i), ColumnBridge.expression(j)))

  /** Greedy BPE application of a fixed merge table as a `Column`
    * (see [[BpeSegment]]). */
  def bpeSegment(word: Column, lhs: Array[String], rhs: Array[String]): Column =
    ColumnBridge.column(BpeSegment(ColumnBridge.expression(word), lhs, rhs))

  /** Viterbi unigram segmentation under a fixed vocabulary as a
    * `Column` (see [[UnigramSegment]]). */
  def unigramSegment(word: Column, vocab: UnigramVocab): Column =
    ColumnBridge.column(UnigramSegment(ColumnBridge.expression(word), vocab))

  /** Top-p nearest-centroid cell ids as a `Column` (see
    * [[NearestCells]]). `cents` = (cid, components as doubles — exact
    * widenings of the stored floats/quantized longs); centroid norms
    * are precomputed HERE with the identical square-fold + sqrt the
    * join encoding evaluates per broadcast centroid row. */
  def nearestCells(vec: Column, cents: Seq[(Long, Array[Double])], p: Int): Column = {
    require(cents.nonEmpty, "nearestCells: empty centroid set")
    val sorted = cents.sortBy(_._1).toArray
    val dims = sorted.head._2.length
    require(sorted.forall(_._2.length == dims), "nearestCells: ragged centroids")
    val cids = sorted.map(_._1)
    val flat = new Array[Double](cids.length * dims)
    var c = 0
    while (c < cids.length) {
      System.arraycopy(sorted(c)._2, 0, flat, c * dims, dims); c += 1
    }
    val norms = sorted.map { case (_, v) =>
      math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)) }
    ColumnBridge.column(NearestCells(
      ColumnBridge.expression(vec), cids, flat, dims, norms, p))
  }
}
