package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, as native
  * expression trees (`zip_with`/`aggregate` — codegen, no UDF, no
  * serialization off the JVM). Elements are cast to double *before*
  * multiplying so results match engines that compute in double (and so
  * accumulation order is the array order — deterministic per row).
  */
object VectorFunctions {

  private def d(c: Column): Column = c.cast("array<double>")

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Σ aᵢ·bᵢ — native codegen ([[graft.plans.DoubleArrayDot]]); the
    * interpreted `aggregate(zip_with(...))` form is [[dotSlow]], kept
    * for differential testing. Bit-identical (same left-to-right
    * accumulation order and NULL semantics).
    */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.plans.DoubleArrayDot(
      ColumnBridge.expression(d(a)), ColumnBridge.expression(d(b))))

  /** Reference interpreted form of [[dot]] (differential testing). */
  def dotSlow(a: Column, b: Column): Column =
    aggregate(zip_with(d(a), d(b), (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** ‖a‖₂ */
  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; null-safe zero for zero-norm vectors. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2Norm(a) * l2Norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** Fixed-point cosine: elements are quantized to `floor(x·10⁶)` longs,
    * dot products and norms accumulate in exact integer arithmetic, and
    * only the final divide/sqrt touch floating point. Quantization error
    * is ~1e-6 (irrelevant for near-dup/top-k), but the result is
    * *bit-identical across engines and summation orders* — this is what
    * oracle-checked similarity queries use.
    */
  def cosineQuantized(a: Column, b: Column): Column = {
    val qa = quantize(a)
    val qb = quantize(b)
    def isum(arr: Column): Column = aggregate(arr, lit(0L), (acc, v) => acc + v)
    val dotQ = isum(zip_with(qa, qb, (x, y) => x * y))
    val n2a  = isum(zip_with(qa, qa, (x, y) => x * y))
    val n2b  = isum(zip_with(qb, qb, (x, y) => x * y))
    when(n2a === 0L || n2b === 0L, lit(0.0))
      .otherwise(dotQ.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))))
  }

  /** Quantize to `floor(x·10⁶)` longs — the fixed-point domain of
    * [[cosineQuantized]], exposed so joins can precompute it per row
    * instead of per pair. Native codegen ([[graft.plans.QuantizeVec]]);
    * the `transform` lambda form is [[quantizeSlow]] (interpreted,
    * kept for differential testing — element values identical).
    */
  def quantize(c: Column): Column =
    ColumnBridge.column(graft.plans.QuantizeVec(ColumnBridge.expression(d(c))))

  /** Reference interpreted form of [[quantize]] (differential testing). */
  def quantizeSlow(c: Column): Column =
    transform(d(c), x => floor(x * 1e6).cast("long"))

  /** Exact integer Σ aᵢ·bᵢ over pre-quantized vectors — backed by the
    * native codegen'd [[graft.plans.LongArrayDot]] expression (the
    * built-in `aggregate(zip_with(...))` form is interpreted; this is
    * the innermost loop of every pair join). Bit-equivalent to the
    * interpreted form ([[dotQSlow]], asserted in tests).
    */
  def dotQ(qa: Column, qb: Column): Column =
    ColumnBridge.column(graft.plans.LongArrayDot(
      ColumnBridge.expression(qa), ColumnBridge.expression(qb)))

  /** Reference implementation of [[dotQ]] via built-in higher-order
    * functions (interpreted) — kept for differential testing.
    */
  def dotQSlow(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Cosine from pre-quantized vectors + precomputed squared norms —
    * identical value to [[cosineQuantized]] (same expression shape),
    * but the per-pair work is one dot product instead of one dot, two
    * norms, and two quantizations. This is the form the O(pairs)
    * near-dup/top-k joins use.
    */
  def cosineFromQuantized(qa: Column, qb: Column, n2a: Column, n2b: Column): Column =
    when(n2a === 0L || n2b === 0L, lit(0.0))
      .otherwise(dotQ(qa, qb).cast("double") /
        (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double"))))

}
