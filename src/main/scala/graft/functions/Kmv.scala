package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** K-minimum-values distinct-count sketch (Bar-Yossef et al.) as a typed
  * `Aggregator` — the deterministic, oracle-verifiable alternative to
  * HyperLogLog for the corpus-profile operator.
  *
  * The sketch keeps the `k` smallest DISTINCT values of a uniform 48-bit
  * hash of the input. Its estimate is `(k-1) * 2^48 / h_k` (h_k = the k-th
  * smallest hash): the k-th order statistic of n uniform draws on [0, 2^48)
  * sits near `k/n * 2^48`, so inverting it recovers n with relative error
  * ~1/sqrt(k). When fewer than k distinct hashes exist the sketch holds all
  * of them and the exact count is returned.
  *
  * Why this over `approx_count_distinct` (HLL++): identical accuracy class
  * at this k, but every step — hash, sorted-set insert, integer division —
  * is exactly reproducible in plain SQL on any engine, so the profile gets
  * a full hash-match oracle instead of a rows-only waiver. Like HLL it is
  * mergeable (union of sorted sets, re-capped at k) and bounded (k longs
  * per group), so map-side partial aggregation ships at most k values per
  * (map task × group) regardless of data volume.
  *
  * Inputs MUST be 48-bit hashes (e.g. `conv(substring(md5(x),1,12),16,10)`
  * cast to long): 48 bits keeps every intermediate exact in any engine's
  * arithmetic (including ones that route integer math through doubles) and
  * makes `(k-1) << 48` safe in an int64. Estimation error from hash
  * collisions at 48 bits is negligible below ~2^24 distinct values per
  * group — and above that a plain exact count-distinct was never an option
  * anyway.
  */
final class KMinValues(k: Int) extends BoundedBuffer[Long, Long](k, dedup = true) {
  require(k >= 2, s"k must be >= 2, got $k")

  /** Smaller hashes rank ahead, so the buffer holds its values
    * DESCENDING; duplicates are absorbed (set semantics — idempotent
    * under data duplication). */
  override protected def ranksAhead(a: Long, b: Long): Boolean = a < b

  /** Exact size below k; otherwise the KMV inversion, in pure int64 math
    * (floor division — identical in Spark, DuckDB, and the JVM). `h_k = 0`
    * is unreachable: the buffer holds distinct non-negative values, so a
    * zero head element would require k distinct values ≤ 0.
    */
  override def finish(b: (Int, List[Long])): Long =
    if (b._1 < k) b._1.toLong
    else ((k - 1).toLong << 48) / b._2.head

  override def bufferEncoder: Encoder[(Int, List[Long])] = ExpressionEncoder()
  override def outputEncoder: Encoder[Long] = ExpressionEncoder()
}
