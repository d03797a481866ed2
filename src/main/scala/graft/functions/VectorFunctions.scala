package graft.functions

import graft.expr.{PackSigns, VectorBinaryOp, VectorOp, VectorSumAgg}
import org.apache.spark.sql.{Column, GraftColumnBridge => ExpressionUtils}
import org.apache.spark.sql.functions._

/** Vector math over embedding columns (`array<float>` / `array<double>`).
  *
  * Backed by the native codegen expression [[graft.expr.VectorBinaryOp]] —
  * Spark's higher-order functions would evaluate these interpreted with
  * per-element boxing (measured ~50-100× slower at 64 dims; see BENCH
  * history), which dominates any pairwise scan.
  */
object VectorFunctions {

  private def binOp(a: Column, b: Column, op: VectorOp): Column =
    ExpressionUtils.column(
      VectorBinaryOp(ExpressionUtils.expression(a), ExpressionUtils.expression(b), op)
    )

  /** Dot product, accumulated in double. */
  def dot(a: Column, b: Column): Column = binOp(a, b, VectorOp.Dot)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1] (single fused pass). */
  def cosine(a: Column, b: Column): Column = binOp(a, b, VectorOp.Cosine)

  /** Squared L2 distance. */
  def l2Sq(a: Column, b: Column): Column = binOp(a, b, VectorOp.L2Sq)

  /** Element-wise vector sum aggregate (map-side combining): the shuffle
    * carries one `array<double>` per group per task instead of the
    * `posexplode`-workaround's n·dim rows. Pair with `count` for centroids.
    */
  def vectorSum(v: Column): Column =
    ExpressionUtils.column(
      VectorSumAgg(ExpressionUtils.expression(v)).toAggregateExpression()
    )

  /** Symmetric int8 quantization: `struct(scale, q)` with
    * `scale = max|v| / 127` and `q[i] = round(v[i] / scale)` ∈ [-127, 127]
    * (`array<tinyint>`) — 4× smaller than float32 on disk and through every
    * shuffle. Cosine over codes EQUALS cosine over the dequantized vectors
    * (the per-vector scale cancels), so ANN ranking runs directly on codes
    * via the same native [[cosine]] — no dequantize in the hot loop. This is
    * a one-time prep-path expression (HOFs are fine here; the scan hot loop
    * stays in [[graft.expr.VectorBinaryOp]] codegen). All-zero vectors get
    * scale 0 and all-zero codes.
    */
  def quantizeInt8(v: Column): Column = {
    val d = transform(v, x => x.cast("double"))
    val maxabs = array_max(transform(d, x => abs(x)))
    val scale = maxabs / lit(127.0)
    val q = transform(
      d,
      x => when(maxabs === 0.0, lit(0.0)).otherwise(round(x / scale)).cast("byte")
    )
    struct(scale.as("scale"), q.as("q"))
  }

  /** Inverse of [[quantizeInt8]]: `array<double>` with per-element error
    * ≤ scale/2. For audits/specs — ranking never needs it (see above).
    */
  def dequantizeInt8(qs: Column): Column =
    transform(qs.getField("q"), c => c.cast("double") * qs.getField("scale"))

  /** Binary (sign-bit) quantization: `dim` sign bits packed into
    * ceil(dim/64) longs (`array<bigint>`) — 32× smaller than float32 on
    * disk and through every scan. Bit j of word j/64 is set iff component
    * j ≥ 0 (the random-hyperplane code with identity planes). Packing is
    * one codegen'd loop ([[graft.expr.PackSigns]]), whatever `dim`.
    */
  def binarize(v: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val packed = ExpressionUtils.column(PackSigns(ExpressionUtils.expression(v), dim))
    // Guard the contract: a vector shorter than `dim` would silently pack
    // the missing components as 0 bits. Fail loudly instead; one size()
    // load per row.
    when(size(v) >= dim, packed).otherwise(
      raise_error(
        concat(
          lit(s"vec_binarize: vector shorter than dim=$dim (size="),
          size(v).cast("string"),
          lit(")")
        )
      )
    )
  }

  /** Hamming distance between two packed sign-bit codes from [[binarize]]:
    * per-word `bit_count(xor)`, unrolled at plan time over the known word
    * count — the scan hot loop is pure codegen'd integer ops reading
    * 8·words bytes per vector.
    */
  def hammingPacked(a: Column, b: Column, words: Int): Column = {
    require(words > 0, s"words must be positive, got $words")
    val dist = (0 until words)
      .map { w =>
        bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1))).cast("long")
      }
      .reduce(_ + _)
    // Guard the contract: a code shorter than `words` would yield NULL
    // (out-of-bounds element_at → null propagates through the sum) and
    // silently drop the pair from distance ranking. Fail loudly instead.
    when(size(a) === words && size(b) === words, dist).otherwise(
      raise_error(
        concat(
          lit(s"vec_hamming: packed codes must have exactly $words words (sizes="),
          size(a).cast("string"),
          lit(","),
          size(b).cast("string"),
          lit(")")
        )
      )
    )
  }

  /** Deterministic pseudo-random hyperplane for LSH: `dim` components in
    * [-1, 1), derived from an LCG-style mix of (plane, component) — stable
    * across executors and runs with no stored model.
    */
  private[graft] def plane(p: Int, dim: Int): Seq[Double] =
    (0 until dim).map { j =>
      val mixed = (p.toLong * 2654435761L + j.toLong * 40503L + 12345L) & 0x7fffffffL
      (mixed % 2001L - 1000L) / 1000.0
    }

  /** Random-hyperplane LSH bucket id for cosine similarity: `planes` sign
    * bits packed into a long. Plane matrices are plan-time literals, so each
    * bit is one codegen'd dot product.
    */
  def hyperplaneBucket(vec: Column, planes: Int, dim: Int): Column =
    (0 until planes)
      .map { p =>
        when(dot(vec, typedlit(plane(p, dim))) >= 0, lit(1L << p)).otherwise(lit(0L))
      }
      .reduce(_ + _)
}
