package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Popcount of an arbitrary-length `0x…` hex bitfield (sync-committee
  * participation; reference: src/parsers/fork_base.py:141-161). Codegen'd:
  * stays inside WholeStageCodegen as a single static call per row.
  */
case class HexPopcount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    HexUtil.popcountHex(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.popcountHex($c)")
  override protected def withNewChildInternal(c: Expression): HexPopcount = copy(c)
  override def prettyName: String = "hex_popcount"
}

/** `len(hex)//2` byte length of a hex string (reference:
  * src/parsers/data_column_sidecars.py:67-74). */
case class HexByteLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    HexUtil.hexByteLen(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.hexByteLen($c)")
  override protected def withNewChildInternal(c: Expression): HexByteLength = copy(c)
  override def prettyName: String = "hex_byte_length"
}

/** Count of codepoints in the CJK Unified Ideographs block [U+4E00,U+9FFF]
  * (language-ID script detection). Codegen'd single pass over the UTF-8
  * bytes — replaces a per-row full-text `regexp_replace` rewrite that cost
  * ~3× the rest of the lang-id pipeline combined.
  */
case class CjkCodepointCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(v: Any): Any =
    HexUtil.cjkCodepointCount(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.cjkCodepointCount($c)")
  override protected def withNewChildInternal(c: Expression): CjkCodepointCount = copy(c)
  override def prettyName: String = "cjk_codepoint_count"
}

/** Codegen'd single-pass character-distribution stats
  * ([[HexUtil.charStats]]): `[n_codepoints, n_distinct, top_count,
  * Σc(c−1)]` — the integer numerators of the top-char-fraction and
  * Simpson-repeat quality gates, computed without a per-character
  * explode. */
case class CharStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    HexUtil.charStats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.charStats($c)")
  override protected def withNewChildInternal(c: Expression): CharStats = copy(c)
  override def prettyName: String = "char_stats"
}

/** Codegen'd Unicode NFC normalization ([[HexUtil.nfcNormalize]]) — the
  * canonical-composition preprocessing pass (tokenizers, dedup keys,
  * decontamination all assume one byte sequence per grapheme). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    HexUtil.nfcNormalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.nfcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(c)
  override def prettyName: String = "nfc_normalize"
}

/** Hex-aware `safe_int` (reference: src/parsers/fork_base.py:210-222):
  * `0x…` → base 16, decimal otherwise; UInt64 overflow clamps to
  * Long.MaxValue (engine sentinel policy, SURVEY §7.4). Failure mode is
  * selectable: `failToNull = false` (default) maps null/empty/garbage to 0
  * — the reference's `safe_int(x)` with default 0; `failToNull = true`
  * maps them to NULL so callers can `coalesce` to a row-specific fallback,
  * mirroring `safe_int(x, fallback)`.
  */
case class SafeLong(child: Expression, failToNull: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  // Both modes null-propagate on a NULL child (UnaryExpression wrapper);
  // they differ only on non-null garbage: 0 vs NULL.
  override protected def nullSafeEval(v: Any): Any =
    if (failToNull) HexUtil.safeLongBoxed(v.asInstanceOf[UTF8String])
    else HexUtil.safeLong(v.asInstanceOf[UTF8String], 0L)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!failToNull)
      defineCodeGen(ctx, ev, c => s"graft.functions.HexUtil.safeLong($c, 0L)")
    else nullSafeCodeGen(ctx, ev, c => {
      // freshName: two safe_long_null calls in one codegen scope must not
      // collide on the local's name (duplicate declaration → Janino
      // compile error → silent interpreted fallback)
      val boxed = ctx.freshName("graftSafeLong")
      s"""
        java.lang.Long $boxed = graft.functions.HexUtil.safeLongBoxed($c);
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $boxed.longValue(); }"""
    })
  override protected def withNewChildInternal(c: Expression): SafeLong =
    copy(child = c)
  override def prettyName: String = if (failToNull) "safe_long_null" else "safe_long"
}

/** First 16 hex of sha256 over Python-canonical JSON (sorted keys,
  * `(',',':')` separators, ensure_ascii) — write-side dedup key parity with
  * the reference (src/loaders/base.py:17-31). Jackson parse per row → not
  * codegen'd; used only on the raw-ingest path, never in analytic hot loops.
  */
case class CanonicalJsonHash16(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    UTF8String.fromString(CanonicalJson.payloadHash16(v.toString))
  override protected def withNewChildInternal(c: Expression): CanonicalJsonHash16 =
    copy(c)
  override def prettyName: String = "canonical_json_hash16"
}

/** Static-interval lookup kernel (called from generated code). The
  * boundary array is a plan-bound constant — the broadcast-small-dim
  * archetype (IP→geo block, value→price tier, slot→fork epoch) where the
  * dim table is static and tiny but the fact side is 100 TB. Joining
  * `fact.v BETWEEN dim.lo AND dim.hi` makes Spark plan a
  * BroadcastNestedLoopJoin — O(rows × intervals) comparisons and a join
  * node in every plan. Binary search over the sorted bounds is
  * O(rows × log intervals), stays inside WholeStageCodegen, and involves
  * no join at all. */
object RangeUtil {
  /** Greatest `i` with `bounds(i) <= v`, else -1 below `bounds(0)`;
    * `v >= bounds(last)` lands in the last bucket (upper range open).
    * `bounds` must be sorted ascending. NaN orders above every bound
    * (java.lang.Double ordering) → last bucket. */
  def bucket(v: Double, bounds: Array[Double]): Int = {
    val idx = java.util.Arrays.binarySearch(bounds, v)
    if (idx >= 0) idx else -idx - 2
  }
}

/** Codegen'd static-interval lookup: value → bucket index over a sorted
  * plan-constant boundary array ([[RangeUtil.bucket]]). `width_bucket`
  * generalized to arbitrary (non-uniform) boundaries. */
case class RangeBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression {
  require(bounds.nonEmpty && bounds.sameElements(bounds.sorted),
    "range_bucket bounds must be non-empty and sorted ascending")
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a double input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    RangeUtil.bucket(v.asInstanceOf[Double], bounds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bRef = ctx.addReferenceObj("rangeBounds", bounds, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.RangeUtil.bucket($c, $bRef)")
  }
  override protected def withNewChildInternal(c: Expression): RangeBucket =
    copy(child = c)
  override def prettyName: String = "range_bucket"
}

/** A plan-bound LONG constant that generated code reads from the
  * compiled class's references array. `lit(v)` inlines `vL` into the
  * generated Java, so two calls that differ only in `v` (a per-call
  * `insert_version`) compile two classes; with this leaf the source is
  * the same for every value and Spark's codegen cache serves the second
  * call. Not foldable, so constant folding keeps it a leaf; not for scan
  * filters, where a literal is what Parquet pushdown and partition pruning
  * need. */
case class BoundLong(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("boundLong", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
  override def prettyName: String = "bound_long"
}

object FloatVectorOps {
  /** Dot product of two float vectors, accumulated in double, sequential
    * left-to-right — deterministic for a fixed array order. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def norm(a: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val d = dot(a, b)
    val na = norm(a)
    val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }

  /** Driver-side twin of [[cosine]] over plain arrays — IDENTICAL
    * operation order (sequential double fold, norms via sqrt of the
    * squared sum, one final division), so a bounded pool collected to
    * the driver scores bitwise-equal to the scan-side expression. */
  def cosineArrays(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var d = 0.0
    var i = 0
    while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
    var sa = 0.0
    i = 0
    while (i < a.length) { val v = a(i).toDouble; sa += v * v; i += 1 }
    var sb = 0.0
    i = 0
    while (i < b.length) { val v = b(i).toDouble; sb += v * v; i += 1 }
    val na = math.sqrt(sa)
    val nb = math.sqrt(sb)
    if (na == 0.0 || nb == 0.0) 0.0 else d / (na * nb)
  }
}

/** Codegen'd float-vector dot product (`Array[Float]` embedding columns) —
  * the ANN/near-dup hot path. Beats `aggregate(zip_with(...))` by avoiding
  * per-element lambda dispatch and boxing.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // defensive typing without private ExpectsInputTypes: reject non-float
  // arrays at analysis time — ArrayData.getFloat on an array<double> would
  // silently read garbage
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(c => c.dataType == ArrayType(FloatType) ||
      c.dataType == ArrayType(FloatType, containsNull = false))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVectorOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FloatVectorOps.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FloatVectorDot =
    copy(l, r)
  override def prettyName: String = "vec_dot"
}

/** Codegen'd cosine similarity between two float vectors. */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // defensive typing without private ExpectsInputTypes: reject non-float
  // arrays at analysis time — ArrayData.getFloat on an array<double> would
  // silently read garbage
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(c => c.dataType == ArrayType(FloatType) ||
      c.dataType == ArrayType(FloatType, containsNull = false))
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    FloatVectorOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.FloatVectorOps.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FloatVectorCosine =
    copy(l, r)
  override def prettyName: String = "vec_cosine"
}

/** SQ8 scalar-quantization kernels (static, called from generated code).
  *
  * Encoding: unit-L2 normalize in doubles (ordered left fold, so the
  * arithmetic is reproducible in any engine that folds the list in
  * order), then symmetric signed-byte quantization
  * `clamp(floor(u_i * 127), -127, 127)` — one byte per dimension, a 4x
  * memory reduction over float32. On normalized vectors the integer code
  * dot product is a monotone ~127^2-scaled estimate of cosine, so
  * ranking by it approximates cosine ranking without any float
  * arithmetic at query time (and the integer scores are exactly
  * reproducible, which is what makes s6 oracle-checkable).
  */
object Sq8Util {
  def encodeFloats(a: Array[Float]): Array[Byte] = {
    val n = a.length
    var acc = 0.0
    var i = 0
    while (i < n) { val v = a(i).toDouble; acc += v * v; i += 1 }
    val nrm = math.sqrt(acc)
    val out = new Array[Byte](n)
    if (nrm == 0.0) return out
    i = 0
    while (i < n) {
      val c = math.floor(a(i).toDouble / nrm * 127.0)
      val cl = if (c < -127.0) -127.0 else if (c > 127.0) 127.0 else c
      out(i) = cl.toByte
      i += 1
    }
    out
  }

  def encode(a: ArrayData): Array[Byte] = encodeFloats(a.toFloatArray())

  /** Integer dot product of two packed code vectors — exact (max
    * |acc| = dim * 127^2 fits a long up to dim ~ 5.7e14). */
  def dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) { acc += a(i).toLong * b(i).toLong; i += 1 }
    acc
  }
}

/** Product-quantization kernels (static, called from generated code) —
  * the FAISS PQ shape: the dimension is split into `m` subspaces of
  * `dim/m`, each subspace has its own `ksub`-centroid codebook, and a
  * vector encodes to `m` bytes (one centroid index per subspace; 8 bytes
  * for a 64-dim embedding at m=8 — 32× smaller than float32 and 8×
  * smaller than SQ8). Query-time scoring is ADC (asymmetric distance
  * computation): the query precomputes a `m × ksub` lookup table of
  * `dot(query_sub, centroid)` once, and each corpus vector scores with m
  * table lookups + adds — no float math against the vector itself.
  * Codebooks are flattened row-major `[(s·ksub + c)·subDim + i]`. */
object PqUtil {
  /** Per-subspace L2-nearest centroid index, one byte per subspace. */
  def encodeFloats(
      v: Array[Float], codebook: Array[Float], m: Int, ksub: Int): Array[Byte] = {
    val subDim = v.length / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (s * ksub + c) * subDim
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val t = v(s * subDim + i).toDouble - codebook(base + i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  def encode(v: ArrayData, codebook: Array[Float], m: Int, ksub: Int): Array[Byte] =
    encodeFloats(v.toFloatArray(), codebook, m, ksub)

  /** Dense matrix-vector product with a row-major `dim×dim` plan constant
    * (the OPQ-lite rotation): out[i] = Σ_j M[i·dim+j]·v[j]. */
  def matVecFloats(v: Array[Float], matrix: Array[Float]): Array[Float] = {
    val dim = v.length
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      var d = 0.0
      var j = 0
      val base = i * dim
      while (j < dim) { d += matrix(base + j).toDouble * v(j); j += 1 }
      out(i) = d.toFloat
      i += 1
    }
    out
  }

  def matVec(v: ArrayData, matrix: Array[Float]): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      matVecFloats(v.toFloatArray(), matrix).map(x => x: Any))

  /** ADC score: `Σ_s lut[s·ksub + code[s]]` — approximates
    * `dot(query, vector)` when `lut[s][c] = dot(query_sub(s), centroid_c)`. */
  def adc(code: Array[Byte], lut: Array[Double], ksub: Int): Double = {
    var acc = 0.0
    var s = 0
    while (s < code.length) { acc += lut(s * ksub + (code(s) & 0xFF)); s += 1 }
    acc
  }
}

/** Codegen'd PQ encode: `array<float>` embedding → `m` centroid-index
  * bytes (`binary`). The codebook is a plan-bound constant (broadcast
  * with the serialized plan, referenced — not inlined — in generated
  * code). */
case class PqEncode(child: Expression, codebook: Array[Float], m: Int, ksub: Int)
    extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType == ArrayType(FloatType) ||
      child.dataType == ArrayType(FloatType, containsNull = false)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.encode(v.asInstanceOf[ArrayData], codebook, m, ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", codebook, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqUtil.encode($c, $cb, $m, $ksub)")
  }
  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** Codegen'd dense matrix-vector product against a row-major dim×dim
  * plan-bound constant — the OPQ-lite random rotation applied scan-side
  * before PQ subspace split. */
case class MatVec(child: Expression, matrix: Array[Float])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType == ArrayType(FloatType) ||
      child.dataType == ArrayType(FloatType, containsNull = false)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.matVec(v.asInstanceOf[ArrayData], matrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("matVecMatrix", matrix, "float[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqUtil.matVec($c, $mRef)")
  }
  override protected def withNewChildInternal(c: Expression): MatVec =
    copy(child = c)
  override def prettyName: String = "mat_vec"
}

/** Exact-integer nearest-centroid kernel: one tight loop over a
  * flattened k×dim long centroid table. Semantics identical to the
  * `least(struct(d², list_id))` formula it replaces — exact long squared
  * distances, ties to the SMALLER list index (strict-less keeps the
  * first minimum). */
object KmeansUtil {
  def nearest(qv: ArrayData, cents: Array[Long], dim: Int): Int = {
    val k = cents.length / dim
    var best = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < k) {
      var d = 0L
      var i = 0
      val off = c * dim
      while (i < dim) {
        val t = qv.getLong(i) - cents(off + i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }
}

/** Codegen'd `nearest_centroid(qv) -> int` over plan-bound quantized-long
  * centroids — the [[graft.operators.Similarity.kmeansLloydExact]]
  * assignment kernel. The composed formula it replaces evaluated k
  * interpreted zip_with/aggregate lambdas per row (CodegenFallback) and
  * was the dominant cost of full-corpus Lloyd iterations. */
case class NearestCentroid(child: Expression, cents: Array[Long], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType == ArrayType(LongType) ||
      child.dataType == ArrayType(LongType, containsNull = false)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    KmeansUtil.nearest(v.asInstanceOf[ArrayData], cents, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("kmeansCents", cents, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.KmeansUtil.nearest($c, $cRef, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
  override def prettyName: String = "nearest_centroid"
}

/** Codegen'd PQ ADC score of a code column against a query's lookup
  * table (plan-bound constant). */
case class PqAdc(child: Expression, lut: Array[Double], ksub: Int)
    extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary code input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    PqUtil.adc(v.asInstanceOf[Array[Byte]], lut, ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lutRef = ctx.addReferenceObj("pqLut", lut, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.PqUtil.adc($c, $lutRef, $ksub)")
  }
  override protected def withNewChildInternal(c: Expression): PqAdc =
    copy(child = c)
  override def prettyName: String = "pq_adc"
}

/** Codegen'd SQ8 encode: `array<float>` embedding → packed signed-byte
  * codes (`binary`, 1 byte/dim). */
case class Sq8Encode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = child.dataType == ArrayType(FloatType) ||
      child.dataType == ArrayType(FloatType, containsNull = false)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> input, got ${child.dataType.simpleString}")
  }
  override protected def nullSafeEval(v: Any): Any =
    Sq8Util.encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sq8Util.encode($c)")
  override protected def withNewChildInternal(c: Expression): Sq8Encode = copy(c)
  override def prettyName: String = "sq8_encode"
}

/** Codegen'd integer dot product of two SQ8 code vectors (`binary`). */
case class Sq8Dot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.forall(_.dataType == BinaryType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary inputs, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Sq8Util.dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sq8Util.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8Dot =
    copy(l, r)
  override def prettyName: String = "sq8_dot"
}

/** Morton (Z-order) interleave of two LONG coordinates (low 31 bits
  * each) — the clustering key behind [[graft.operators.Layout]]'s
  * data-skipping file layout. Codegen'd: one static call per row inside
  * WholeStageCodegen. */
case class MortonInterleave(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HexUtil.morton2(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HexUtil.morton2($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): MortonInterleave = copy(l, r)
  override def prettyName: String = "morton_interleave"
}

/** Column-level API over the custom expressions + composed scalar pack
  * (SURVEY §2.8). Everything here is either a native Catalyst expression or
  * a composition of codegen'd built-ins — no Scala/Python UDFs.
  */
object GraftFunctions {
  import org.apache.spark.sql.functions._

  private def col(e: Expression): Column = ExpressionUtils.column(e)
  private def expr(c: Column): Expression = ExpressionUtils.expression(c)

  def hex_popcount(c: Column): Column = col(HexPopcount(expr(c)))
  def hex_byte_length(c: Column): Column = col(HexByteLength(expr(c)))
  def cjk_codepoint_count(c: Column): Column = col(CjkCodepointCount(expr(c)))
  /** `[n_codepoints, n_distinct, top_count, Σc(c−1)]` in one walk. */
  def char_stats(c: Column): Column = col(CharStats(expr(c)))
  def safe_long(c: Column): Column = col(SafeLong(expr(c)))
  /** Garbage → NULL variant for `coalesce(safe_long_null(x), fallback)` —
    * the reference's `safe_int(x, fallback)` row-specific-default shape. */
  def safe_long_null(c: Column): Column = col(SafeLong(expr(c), failToNull = true))
  def payload_hash16(c: Column): Column = col(CanonicalJsonHash16(expr(c)))
  def morton_interleave(a: Column, b: Column): Column =
    col(MortonInterleave(expr(a), expr(b)))
  /** A LONG constant kept out of the generated source ([[BoundLong]]):
    * for per-call values in projections, never in scan filters. */
  def bound_long(v: Long): Column = col(BoundLong(v))
  /** Static-interval (broadcast-dim) lookup: bucket index over sorted
    * plan-constant boundaries — the zero-join range-lookup path. */
  def range_bucket(c: Column, bounds: Array[Double]): Column =
    col(RangeBucket(expr(c), bounds))
  /** Unicode NFC canonical composition (ASCII fast path). */
  def nfc_normalize(c: Column): Column = col(NfcNormalize(expr(c)))
  def vec_dot(a: Column, b: Column): Column = col(FloatVectorDot(expr(a), expr(b)))
  def vec_cosine(a: Column, b: Column): Column =
    col(FloatVectorCosine(expr(a), expr(b)))
  def sq8_encode(c: Column): Column = col(Sq8Encode(expr(c)))
  def sq8_dot(a: Column, b: Column): Column = col(Sq8Dot(expr(a), expr(b)))
  /** PQ encode against a trained flattened codebook (plan-bound constant). */
  def pq_encode(c: Column, codebook: Array[Float], m: Int, ksub: Int): Column =
    col(PqEncode(expr(c), codebook, m, ksub))
  /** PQ ADC score against a query's lookup table (plan-bound constant). */
  def pq_adc(c: Column, lut: Array[Double], ksub: Int): Column =
    col(PqAdc(expr(c), lut, ksub))
  /** Dense rotation (row-major dim×dim plan constant) of a float vector. */
  def mat_vec(c: Column, matrix: Array[Float]): Column =
    col(MatVec(expr(c), matrix))
  /** Exact-integer nearest-centroid argmin (quantized-long k-means). */
  def nearest_centroid(c: Column, cents: Array[Array[Long]]): Column =
    col(NearestCentroid(expr(c), cents.flatten, cents.head.length))
  def image_format(c: Column): Column = col(ImageFormat(expr(c)))
  /** PNG/GIF pixel width; NULL for unrecognized payloads. */
  def image_width(c: Column): Column =
    nullif(col(ImageWidth(expr(c))), lit(-1))
  /** PNG/GIF pixel height; NULL for unrecognized payloads. */
  def image_height(c: Column): Column =
    nullif(col(ImageHeight(expr(c))), lit(-1))
  def audio_format(c: Column): Column = col(AudioFormat(expr(c)))
  /** WAV channel count; NULL for unrecognized payloads. */
  def audio_channels(c: Column): Column =
    nullif(col(AudioChannels(expr(c))), lit(-1))
  /** WAV sample rate in Hz; NULL for unrecognized payloads. */
  def audio_sample_rate(c: Column): Column =
    nullif(col(AudioSampleRate(expr(c))), lit(-1L))
  /** WAV duration in whole ms (data size / byte rate); NULL if unknown. */
  def audio_duration_ms(c: Column): Column =
    nullif(col(AudioDurationMs(expr(c))), lit(-1L))
  def video_format(c: Column): Column = col(VideoFormat(expr(c)))
  /** MP4 mvhd duration in whole ms; NULL for unrecognized payloads. */
  def video_duration_ms(c: Column): Column =
    nullif(col(VideoDurationMs(expr(c))), lit(-1L))
  /** MP4 first-track tkhd pixel width; NULL for unrecognized payloads. */
  def video_width(c: Column): Column =
    nullif(col(VideoWidth(expr(c))), lit(-1))
  /** MP4 first-track tkhd pixel height; NULL for unrecognized payloads. */
  def video_height(c: Column): Column =
    nullif(col(VideoHeight(expr(c))), lit(-1))

  /** C8: slot → timestamp (`genesis_time + slot * seconds_per_slot`;
    * reference: src/utils/time_utils.py:5-8). */
  def slot_timestamp(slot: Column, genesisTime: Long, secondsPerSlot: Long): Column =
    timestamp_seconds(lit(genesisTime) + slot * lit(secondsPerSlot))

  /** C9: slot → epoch (reference: src/services/fork.py:405-408). */
  def slot_epoch(slot: Column, slotsPerEpoch: Long): Column =
    floor(slot / lit(slotsPerEpoch)).cast(LongType)

  /** C11: true iff UTC date of slot differs from UTC date of slot+1
    * (reference: src/utils/time_utils.py:10-28). */
  def is_last_slot_of_day(slot: Column, genesisTime: Long, secondsPerSlot: Long): Column =
    to_date(slot_timestamp(slot, genesisTime, secondsPerSlot)) =!=
      to_date(slot_timestamp(slot + lit(1), genesisTime, secondsPerSlot))

  /** Register SQL-callable versions (for `spark.sql` users). */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("hex_popcount", es => HexPopcount(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("hex_byte_length", es => HexByteLength(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("cjk_codepoint_count", es => CjkCodepointCount(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("char_stats", es => CharStats(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("safe_long", es => SafeLong(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("safe_long_null", es => SafeLong(es.head, failToNull = true), "scala_udf")
    reg.createOrReplaceTempFunction("canonical_json_hash16", es => CanonicalJsonHash16(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("vec_dot", es => FloatVectorDot(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_cosine", es => FloatVectorCosine(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("sq8_encode", es => Sq8Encode(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sq8_dot", es => Sq8Dot(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("image_format", es => ImageFormat(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("image_width", es => ImageWidth(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("image_height", es => ImageHeight(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_format", es => AudioFormat(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_channels", es => AudioChannels(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_sample_rate", es => AudioSampleRate(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("audio_duration_ms", es => AudioDurationMs(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_format", es => VideoFormat(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_duration_ms", es => VideoDurationMs(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_width", es => VideoWidth(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("video_height", es => VideoHeight(es.head), "scala_udf")
  }
}
