package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Vector math over `array<float>` embedding columns (SURVEY §2.4).
  *
  * The dot product is a native Catalyst expression whose generated
  * code calls a tight primitive loop (no intermediate zipped array,
  * no boxing) — the hot path of every ANN/similarity operator. The
  * fold is sequential left-to-right over doubles, bit-identical to
  * DuckDB's list_dot_product on DOUBLE[] (verified by the oracle).
  */
object VectorKernels {
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** float×float dot with DOUBLE accumulation: every product is
    * (double)a * (double)b, so the result is bit-identical to casting
    * both arrays to array<double> first (float→double is exact) —
    * without materializing the doubled-width copies.
    */
  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** float×double dot (e.g. raw embedding vs k-means centroid). */
  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    acc
  }
}

/** Kernels over PACKED embeddings: a vector stored as one
  * little-endian float32 blob (`binary`, 4·dim bytes) instead of
  * `array<float>`. The read-path motivation (SURVEY §5, the r18
  * verdict's #2): parquet stores an array column as a repeated group
  * — every element pays definition/repetition-level decode and the
  * vectorized reader materializes per-element offsets — while a
  * binary column decodes as ONE value per row, so scan cost stops
  * scaling with dim. At dim 64 the difference is tolerable; at
  * 256–1024 (real embedding models) element decode dominates every
  * ANN scan. Values are bit-preserved: pack = floatToIntBits per
  * element (canonical NaN, exact for all finite floats), and the dot
  * kernels widen each float to double before multiplying exactly as
  * [[VectorKernels.dotFF]], so packed cosines are BIT-IDENTICAL to
  * the array-face cosines (spec-pinned).
  */
object PackedVectorKernels {
  import org.apache.spark.unsafe.Platform

  /** The blob format is LITTLE-ENDIAN by contract (a persisted store
    * must read identically on every host). On LE hardware — every
    * production Spark target — each element is ONE 4-byte load
    * (`Platform.getFloat`, the UnsafeRow accessor: bit-preserving for
    * every pattern including non-canonical NaNs); the shift-based
    * byte decode below is the BE-host fallback only. The r19 kernels
    * paid 4 byte loads + 3 shift-ors per element on every path, and
    * the r20 packed/array A/B re-run showed that decode was effectively
    * the WHOLE 2M×256 scan-once gap the r19 doc blamed on per-row
    * byte[] materialization: with single loads the packed scan beats
    * the array face in-session (0.52 s vs 0.65 s at 2M×256; the r19
    * kernels read 1.12 s vs 0.58 s) — the allocation cost is in the
    * noise (PROBE_r20_packed_AB.jsonl).
    */
  private final val LE =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN

  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new Array[Byte](n << 2)
    var i = 0
    if (LE) {
      while (i < n) {
        // store the FLOAT, not its int bits: a float-typed move is
        // bit-preserving on the JVM, and skipping the int round-trip
        // keeps the store a single instruction
        Platform.putFloat(out, Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2),
          a.getFloat(i))
        i += 1
      }
    } else {
      while (i < n) {
        val bits = java.lang.Float.floatToRawIntBits(a.getFloat(i))
        val o = i << 2
        out(o) = bits.toByte
        out(o + 1) = (bits >>> 8).toByte
        out(o + 2) = (bits >>> 16).toByte
        out(o + 3) = (bits >>> 24).toByte
        i += 1
      }
    }
    out
  }

  def unpack(b: Array[Byte]): ArrayData = {
    checkAligned(b)
    val n = b.length >> 2
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      out(i) = floatAt(b, i)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  @inline private def floatAt(b: Array[Byte], i: Int): Float =
    if (LE)
      Platform.getFloat(b, Platform.BYTE_ARRAY_OFFSET + (i.toLong << 2))
    else {
      val o = i << 2
      java.lang.Float.intBitsToFloat(
        (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
          ((b(o + 2) & 0xff) << 16) | (b(o + 3) << 24))
    }

  /** A blob whose length is not a multiple of 4 is not a float32
    * vector: the kernels' `length >> 2` would silently drop 1–3
    * trailing bytes and compute a dot over a truncated vector —
    * exactly the silently-wrong-similarity outcome the refuse-loudly
    * contract exists to prevent (the r19 ADVICE finding: equal but
    * misaligned lengths sailed through checkWidths, and the error
    * message's `length / 4` masked the misalignment).
    */
  @inline private def checkAligned(a: Array[Byte]): Unit =
    if ((a.length & 3) != 0)
      throw new IllegalArgumentException(
        s"packed vector blob is ${a.length} bytes — not a multiple " +
          "of 4, so not a float32 vector: the store is corrupt or " +
          "was not produced by pack_floats")

  /** Width mismatch REFUSES rather than silently truncating (where
    * the array kernels min() — a deliberate divergence): a packed
    * store mixes widths only through a broken ingest, and a truncated
    * dot is a silently-wrong similarity. This per-pair check is also
    * WHY the store loader needs no validation scan of its own — every
    * search touches every (query, row) pair, so a mixed store fails
    * loudly on first contact (loading used to pay a full
    * distinct-scan per call; the r19 probe measured it at ~15% of the
    * registered face).
    */
  @inline private def checkWidths(a: Array[Byte], b: Array[Byte]): Unit = {
    checkAligned(a)
    checkAligned(b)
    if (a.length != b.length)
      throw new IllegalArgumentException(
        s"packed vector width mismatch: ${a.length / 4} vs " +
          s"${b.length / 4} dims — repack the store per dim " +
          "(EmbeddingStore.validateStore audits a store offline)")
  }

  /** Packed×packed dot, double accumulation — bit-identical to
    * [[VectorKernels.dotFF]] on the unpacked arrays.
    */
  def dotBB(a: Array[Byte], b: Array[Byte]): Double = {
    checkWidths(a, b)
    val n = a.length >> 2
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += floatAt(a, i).toDouble * floatAt(b, i).toDouble
      i += 1
    }
    acc
  }

  /** Fused packed cosine: dot and both norms in ONE pass over the
    * blobs (one byte-decode per element instead of three dot calls).
    * Each accumulator is an independent sequential double fold in
    * element order, so the result is bit-identical to
    * dotFF(a,b) / (sqrt(dotFF(a,a)) · sqrt(dotFF(b,b))) — the
    * array-face [[VectorFunctions.cosineAny]] arithmetic.
    */
  def cosineBB(a: Array[Byte], b: Array[Byte]): Double = {
    checkWidths(a, b)
    val n = a.length >> 2
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = floatAt(a, i).toDouble
      val y = floatAt(b, i).toDouble
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  @inline private def checkArrayWidth(a: Array[Byte],
      c: ArrayData): Unit = {
    checkAligned(a)
    if ((a.length >> 2) != c.numElements())
      throw new IllegalArgumentException(
        s"packed vector width mismatch: ${a.length >> 2} packed dims " +
          s"vs ${c.numElements()} array dims — the packed kernels " +
          "refuse where the array kernels min()-truncate (a truncated " +
          "dot is a silently-wrong similarity)")
  }

  /** Fused packed×array<double> cosine (the probe-vs-centroid step of
    * the IVF faces: the corpus/query side rides as a blob, the Lloyd
    * centroids are double[]). Each accumulator is an independent
    * sequential double fold in element order, so the result is
    * bit-identical to the array-face
    * `cosineAny(unpack(a), c)` = dotFD(a,c) / (√dotFF(a,a)·√dot(c,c)).
    */
  def cosineBD(a: Array[Byte], c: ArrayData): Double = {
    checkArrayWidth(a, c)
    val n = a.length >> 2
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = floatAt(a, i).toDouble
      val y = c.getDouble(i)
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** [[cosineBD]] with an array<float> right side (iteration-zero
    * centroids, raw embedding columns).
    */
  def cosineBF(a: Array[Byte], c: ArrayData): Double = {
    checkArrayWidth(a, c)
    val n = a.length >> 2
    var ab = 0.0
    var aa = 0.0
    var bb = 0.0
    var i = 0
    while (i < n) {
      val x = floatAt(a, i).toDouble
      val y = c.getFloat(i).toDouble
      ab += x * y
      aa += x * x
      bb += y * y
      i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Driver-side pack of a raw float vector (query exports, tests). */
  def packArray(v: Array[Float]): Array[Byte] =
    pack(org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v))
}

/** dot_product(array<double>, array<double>) → double.
  * ImplicitCastInputTypes: an array<float> embedding column passed
  * directly (e.g. via the SQL function, skipping toDouble) is cast to
  * array<double> by the analyzer instead of mis-reading 4-byte floats
  * as 8-byte doubles at runtime.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot product over array<float> / array<double> inputs in any
  * combination, accumulating in double — the hot path of every ANN
  * operator. Unlike [[DotProduct]] (which ImplicitCasts float arrays
  * to array<double>, materializing a 2×-width copy per row), this
  * dispatches to a per-type primitive loop at codegen time, so raw
  * float embeddings flow through scans, shuffles, and broadcasts at
  * float width. Values are bit-identical to the cast-then-dot form:
  * every product is computed as (double)a * (double)b and
  * float→double conversion is exact.
  */
case class DotProductAny(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elem(e: Expression): DataType = e.dataType match {
    case ArrayType(t @ (org.apache.spark.sql.types.FloatType |
      DoubleType), _) => t
    case other => throw new IllegalArgumentException(
      s"dot requires array<float|double> input, got $other")
  }
  private lazy val kernel: String = (elem(left), elem(right)) match {
    case (org.apache.spark.sql.types.FloatType,
      org.apache.spark.sql.types.FloatType) => "dotFF"
    case (org.apache.spark.sql.types.FloatType, DoubleType) => "dotFD"
    case (DoubleType, org.apache.spark.sql.types.FloatType) => "dotFDrev"
    case _ => "dot"
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    kernel match {
      case "dotFF" => VectorKernels.dotFF(x, y)
      case "dotFD" => VectorKernels.dotFD(x, y)
      case "dotFDrev" => VectorKernels.dotFD(y, x)
      case _ => VectorKernels.dot(x, y)
    }
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => kernel match {
      case "dotFDrev" => s"graft.functions.VectorKernels.dotFD($b, $a)"
      case k => s"graft.functions.VectorKernels.$k($a, $b)"
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** pack_floats(array<float>) → binary: little-endian float32 blob
  * (4·dim bytes) — the storage face of [[PackedVectorKernels]].
  */
case class PackFloats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(ArrayType(org.apache.spark.sql.types.FloatType))
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def nullSafeEval(input: Any): Any =
    PackedVectorKernels.pack(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PackedVectorKernels.pack($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** unpack_floats(binary) → array<float>: inverse of [[PackFloats]]. */
case class UnpackFloats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.FloatType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    PackedVectorKernels.unpack(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PackedVectorKernels.unpack($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** cosine_packed(binary, binary) → double: fused one-pass cosine over
  * packed float32 blobs, bit-identical to the array-face
  * [[VectorFunctions.cosineAny]] (see [[PackedVectorKernels.cosineBB]])
  * for every non-degenerate equal-width pair. Two deliberate
  * divergences: a zero-norm vector yields NaN here (JVM 0/0) where
  * the array face's Divide THROWS under ANSI mode — both refuse to
  * emit a number; and a WIDTH MISMATCH refuses loudly where the array
  * kernels min()-truncate (see [[PackedVectorKernels]] — a truncated
  * dot is a silently-wrong similarity).
  */
case class CosinePacked(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    PackedVectorKernels.cosineBB(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PackedVectorKernels.cosineBB($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine_packed_any(binary, array<float|double>) → double: fused
  * one-pass cosine between a packed blob and a raw vector column —
  * the probe-vs-centroid step of the packed IVF faces. Dispatches to
  * a per-type kernel at codegen time like [[DotProductAny]];
  * bit-identical to `cosineAny(unpack_floats(blob), arr)` (see
  * [[PackedVectorKernels.cosineBD]]), with the packed family's
  * refuse-on-width-mismatch contract.
  */
case class CosinePackedAny(left: Expression, right: Expression)
    extends BinaryExpression {
  private lazy val kernel: String = right.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => "cosineBF"
    case ArrayType(DoubleType, _) => "cosineBD"
    case other => throw new IllegalArgumentException(
      s"cosinePackedAny requires array<float|double> right side, " +
        s"got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (blob, arr) = (a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])
    if (kernel == "cosineBF") PackedVectorKernels.cosineBF(blob, arr)
    else PackedVectorKernels.cosineBD(blob, arr)
  }
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PackedVectorKernels.$kernel($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot_packed(binary, binary) → double (see
  * [[PackedVectorKernels.dotBB]]).
  */
case class DotPacked(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[ColumnBridge.AbstractType] =
    Seq(org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.BinaryType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    PackedVectorKernels.dotBB(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PackedVectorKernels.dotBB($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product: sum_i a_i * b_i. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Type-dispatching dot: float and double arrays in any mix, no
    * widening cast materialized (see [[DotProductAny]]).
    */
  def dotAny(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductAny(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def normAny(a: Column): Column = sqrt(dotAny(a, a))

  /** Cosine over float/double arrays, bit-identical to
    * cosine(toDouble(a), toDouble(b)).
    */
  def cosineAny(a: Column, b: Column): Column =
    dotAny(a, b) / (normAny(a) * normAny(b))

  /** array<float> → little-endian float32 blob (binary, 4·dim B). */
  def packFloats(v: Column): Column =
    ColumnBridge.column(PackFloats(ColumnBridge.expression(v)))

  /** Inverse of [[packFloats]]. */
  def unpackFloats(b: Column): Column =
    ColumnBridge.column(UnpackFloats(ColumnBridge.expression(b)))

  /** Fused one-pass cosine over packed blobs — bit-identical to
    * [[cosineAny]] on the unpacked arrays.
    */
  def cosinePacked(a: Column, b: Column): Column =
    ColumnBridge.column(CosinePacked(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Dot product over packed blobs (double accumulation). */
  def dotPacked(a: Column, b: Column): Column =
    ColumnBridge.column(DotPacked(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Fused cosine between a packed blob and a raw float/double array
    * column — bit-identical to `cosineAny(unpackFloats(blob), arr)`.
    */
  def cosinePackedAny(blob: Column, arr: Column): Column =
    ColumnBridge.column(CosinePackedAny(
      ColumnBridge.expression(blob), ColumnBridge.expression(arr)))
}
