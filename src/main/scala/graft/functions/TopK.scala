package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** One scored candidate in a per-group top-k. */
final case class Scored(neighborId: Long, cosine: Double)

/** Bounded per-group top-k as a typed `Aggregator` — the scale-safe
  * replacement for `row_number() over (partition by group)` + filter when
  * the pre-window row count is unbounded (e.g. |corpus| × |queries| scored
  * pairs feeding a per-query top-k).
  *
  * Why not the window: a window's exchange moves EVERY input row into
  * |groups| partitions before any row can be discarded — at 100× corpus
  * that is a handful of reducers each sorting tens of millions of rows.
  * This aggregate is map-side combined (ObjectHashAggregate plans a
  * partial pass before the exchange), so each map task contributes at most
  * k rows per group to the shuffle: exchange volume drops from
  * O(|corpus|·|queries|) to O(partitions·k·|queries|), and no reducer ever
  * sorts more than partitions·k rows per group.
  *
  * The buffer is a [[BoundedBuffer]] of k entries (insertion into a
  * ≤k list — k is small; no heap needed). Total order (cosine DESC,
  * neighborId ASC) makes the result deterministic and bit-identical to the
  * `row_number`-over-total-order formulation it replaces. The comparison
  * goes through `Double.compare`, not IEEE `>`: IEEE makes NaN incomparable
  * (both directions false), which would turn the insert position — and
  * therefore the surviving k — into a function of row arrival order.
  * `Double.compare` ranks NaN above every other value, matching how both
  * Spark and DuckDB order NaN in a DESC sort.
  */
final class BoundedTopK(k: Int)
    extends BoundedBuffer[Scored, Seq[Scored]](k, dedup = false) {
  require(k > 0, s"k must be positive, got $k")

  override protected def ranksAhead(a: Scored, b: Scored): Boolean = {
    val c = java.lang.Double.compare(a.cosine, b.cosine)
    c > 0 || (c == 0 && a.neighborId < b.neighborId)
  }

  override def finish(b: (Int, List[Scored])): Seq[Scored] = b._2.reverse

  override def bufferEncoder: Encoder[(Int, List[Scored])] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
}
