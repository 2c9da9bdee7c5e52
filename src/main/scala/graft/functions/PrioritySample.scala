package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Priority sampling (Duffield–Lund–Thorup) as a typed `Aggregator` — the
  * WEIGHTED counterpart of [[BottomKQuantile]]'s uniform bottom-k: keep
  * the k+1 highest-priority `(weight, hash)` pairs, where the priority of
  * an item is `w / u` for a uniform draw `u` — here the deterministic
  * md5-derived `u = (h+1) / 2^48`, so the whole sample is a pure function
  * of the input multiset (any partitioning, any merge order). From the
  * sample, any subset-sum `Σ w` estimates unbiasedly as
  * `Σ_{top-k} max(w_i, τ)` with `τ` = the (k+1)-th priority — the
  * near-optimal fixed-size weighted summary (heavy items enter with
  * probability 1, light items proportionally to weight), which is what
  * lets a 100 TB catalog answer "how many tokens does this source/
  * predicate hold" from k rows per group instead of a full scan.
  *
  * Exactness discipline: priorities are compared as the FLOORED 128-bit
  * integer `w·2⁶⁴ div (h+1)` (ties broken by `(h, w)`), which any engine
  * with 128-bit or DECIMAL(38) integers reproduces bit-for-bit — a
  * float-valued priority would let two engines disagree on who makes the
  * sample at near-ties. The estimator itself also never needs a float
  * until the last step: `max(w_i, τ)` cross-multiplies to
  * `max(w_i·2¹⁶·(h_τ+1), w_τ·2⁶⁴)` — exact integers below 10²⁵, summed
  * exactly in DECIMAL(38,0) — and one final double division by
  * `2¹⁶·(h_τ+1)` lands both engines on the identical double.
  *
  * Below k+1 distinct pairs the sample IS the data and the subset-sum is
  * exact. Set semantics on (w, h) make re-delivered rows no-ops, the
  * [[KMinValues]]/[[BottomKQuantile]] idempotence contract.
  *
  * Output: the sample as (w, h) pairs in priority order (highest first),
  * at most k+1 entries — the (k+1)-th is the threshold row τ.
  */
final class PrioritySample(k: Int)
    extends BoundedBuffer[(Long, Long), Seq[(Long, Long)]](k + 1, dedup = true) {
  require(k >= 1, s"k must be >= 1, got $k")

  private def prio(p: (Long, Long)): BigInt =
    (BigInt(p._1) << 64) / (BigInt(p._2) + 1)

  /** Canonical order: floored priority DESC, then hash ASC, weight ASC —
    * the exact order a SQL engine sorts `w·2⁶⁴ div (h+1)` in. The
    * tie-break covers both fields, so it is a strict total order on
    * (w, h) pairs. */
  override protected def ranksAhead(a: (Long, Long), b: (Long, Long)): Boolean = {
    val pa = prio(a); val pb = prio(b)
    if (pa != pb) pa > pb
    else if (a._2 != b._2) a._2 < b._2
    else a._1 < b._1
  }

  /** Output order: priority DESC (highest first). */
  override def finish(b: (Int, List[(Long, Long)])): Seq[(Long, Long)] = b._2.reverse

  override def bufferEncoder: Encoder[(Int, List[(Long, Long)])] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] = ExpressionEncoder()
}
