package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Mergeable quantile sketch by deterministic bottom-k row sampling — the
  * quantile counterpart of [[KMinValues]], and the piece a streaming
  * percentile or a pre-aggregated 100 TB rollup needs (exact nearest-rank
  * needs the whole sorted column; this needs k pairs per group, period).
  *
  * The sketch keeps the k lexicographically-smallest DISTINCT
  * `(h, value)` pairs, where `h` is a uniform 48-bit hash of the row's
  * IDENTITY (not its value — rows sharing a value keep independent
  * hashes, so the sample is row-weighted like the true distribution).
  * Because the hash order is a fixed total order on rows, the kept set is
  * a uniform without-replacement sample of min(k, n) rows — bottom-k
  * sampling (Cohen & Kaplan's min-hash order sample) — and a function of
  * the input multiset only: any partitioning, any arrival order, any
  * merge tree lands on the identical sample. Quantile estimate = the
  * nearest-rank pick from the sorted sample values; rank error is
  * ~1/sqrt(k). Below k rows the sample IS the data, so every percentile
  * is exact.
  *
  * Mergeable: union of two sorted pair lists re-capped at k (same
  * associativity argument as KMV) — map-side partials ship at most k
  * pairs per (task × group), and a streaming aggregation holds k pairs
  * per open window. Set semantics on the pairs make it idempotent under
  * re-delivery of the same row (the at-least-once replay case), as long
  * as the identity column is unique per logical row.
  *
  * Why this over `approx_percentile` (GK sketch): same accuracy class at
  * this k, but GK's compaction is implementation-defined — it can't be
  * replayed in another engine's SQL. Every step here — md5, sorted
  * insert, rank pick — reproduces bit-for-bit in plain SQL, so the
  * operator earns a full hash-match oracle (the q238/q209 discipline).
  *
  * Inputs: `h` MUST be a 48-bit hash (Corpus.h48 — md5 prefix, exact in
  * any engine's int64); `value` any long (scale doubles/decimals to
  * integer units first, the repo-wide cents discipline). Output: the
  * sampled values sorted ASCENDING, ready for `element_at` rank picks.
  */
final class BottomKQuantile(k: Int)
    extends BoundedBuffer[(Long, Long), Seq[Long]](k, dedup = true) {
  require(k >= 2, s"k must be >= 2, got $k")

  /** Lexicographically smaller pairs rank ahead. */
  override protected def ranksAhead(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)

  /** The sample's values in ascending order — the hash was only the
    * sampling device; rank picks happen over values. */
  override def finish(b: (Int, List[(Long, Long)])): Seq[Long] =
    b._2.map(_._2).sorted

  override def bufferEncoder: Encoder[(Int, List[(Long, Long)])] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}
