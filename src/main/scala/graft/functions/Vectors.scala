package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from codegen'd
  * built-ins (`zip_with`/`aggregate`/`transform`) — no UDFs, so the whole
  * similarity pipeline stays inside whole-stage codegen.
  *
  * Determinism: each float element is quantized to int64 fixed-point at
  * scale 1e8 (`floor(x*1e8 + 0.5)` — float→double is exact, the multiply
  * and floor are single correctly-rounded IEEE ops), and dot products /
  * norms are summed in exact int64 arithmetic. Bounds: |x| < 92 keeps a
  * 64-dim sum of products inside int64; our embeddings are unit-scale
  * (|x| ≤ ~0.53). The final int→double, sqrt and divide are correctly
  * rounded, so any engine — Spark or the DuckDB oracle — reproduces the
  * cosine bit-for-bit:
  * `SUM(CAST(floor(a[i]*1e8+0.5) AS BIGINT) * CAST(floor(b[i]*1e8+0.5) AS BIGINT))`.
  */
object Vectors {

  /** int64 fixed-point quantization at scale 1e8 (Spark `floor(double)`
    * already returns LongType).
    */
  def quant(x: Column): Column = floor(x.cast("double") * lit(1e8) + lit(0.5))

  /** Whole-vector quantization: `array<float>` → `array<long>`. Compute
    * once per row and reuse across dot/norm/projection expressions.
    */
  def quantVec(v: Column): Column = transform(v, x => quant(x))

  /** Whole-vector quantization on a caller-chosen grid — the coarser
    * (1e4) grid the PQ/JL family uses so downstream integer sums stay
    * exactly representable in doubles (see FixedPointSqDist). */
  def quantVecAt(v: Column, scale: Double): Column =
    transform(v, x => floor(x.cast("double") * lit(scale) + lit(0.5)))

  /** Exact int64 dot product of two already-quantized long-array columns. */
  def dotQ(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Exact int64 squared L2 norm of a quantized vector. */
  def normSqQ(qa: Column): Column = dotQ(qa, qa)

  /** Cosine from precomputed quantized dot and squared norms; the
    * int64→double conversions, sqrt and divide are single correctly-
    * rounded IEEE ops, identical across engines. (The 1e8 scale factors
    * cancel.)
    */
  def cosineFromParts(dot: Column, normSqA: Column, normSqB: Column): Column =
    dot.cast("double") /
      (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double")))

  /** Cosine similarity on the fixed-point grid. */
  def cosine(a: Column, b: Column): Column = {
    val qa = quantVec(a)
    val qb = quantVec(b)
    cosineFromParts(dotQ(qa, qb), normSqQ(qa), normSqQ(qb))
  }

  private def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Deterministic ±1 random-hyperplane component for (plane `p`, 1-based
    * dim `i`): +1 iff the first hex nibble of md5("p:i") is odd. Evaluated
    * at plan-build time (the planes are constants — no per-row hashing);
    * the DuckDB oracle recomputes the identical value with its own md5:
    * `CASE WHEN substr(md5(p||':'||i),1,1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END`.
    */
  def hyperplaneSign(p: Int, i: Int): Long =
    if ("13579bdf".contains(md5Hex(s"$p:$i").charAt(0))) 1L else -1L

  /** The `dims` signs of plane `p` as a constant array literal. */
  def hyperplaneSigns(p: Int, dims: Int): Column =
    array((1 to dims).map(i => lit(hyperplaneSign(p, i))): _*)

  /** Random-hyperplane LSH bucket signature over `nPlanes` deterministic
    * hyperplanes for a quantized vector: bit p = sign of <v, h_p>. Vectors
    * sharing a bucket agree on every plane; bucketing is the scale path
    * for near-dup search (candidates join per-bucket instead of
    * all-pairs). Each projection is an exact int64 sum against a constant
    * sign array (order-independent, no per-row hashing).
    */
  def lshBucketQ(qvec: Column, nPlanes: Int, dims: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      val proj = dotQ(qvec, hyperplaneSigns(p, dims))
      when(proj >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** LSH bucket signature for a raw `array<float>` column. */
  def lshBucket(vec: Column, nPlanes: Int, dims: Int): Column =
    lshBucketQ(quantVec(vec), nPlanes, dims)

  /** The `dims` signs of plane `p` as a constant FLOAT array literal, for
    * the codegen'd projection path: quant(±1.0f) = ±1e8, so the projected
    * sum is the ±-weighted fixed-point sum scaled by the positive constant
    * 1e8 — its SIGN (all the bucket bit needs) is identical to the
    * reference formulation, and the DuckDB oracle (which uses ±1 weights)
    * agrees on every bit.
    */
  def hyperplaneSignsF(p: Int, dims: Int): Column =
    array((1 to dims).map(i =>
      lit(if (hyperplaneSign(p, i) > 0) 1.0f else -1.0f)): _*)

  /** LSH bucket signature via the codegen'd fixed-point dot product — the
    * execution hot path (see graft.functions.FixedPointDot); bit-identical
    * to `lshBucket`.
    */
  def lshBucketF(vec: Column, nPlanes: Int, dims: Int): Column = {
    val bits = (0 until nPlanes).map { p =>
      when(FixedPoint.dotF(vec, hyperplaneSignsF(p, dims)) >= 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }
}
