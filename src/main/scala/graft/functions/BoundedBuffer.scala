package graft.functions

import org.apache.spark.sql.expressions.Aggregator

/** The bounded ordered buffer behind graft's sampling and ranking
  * aggregates ([[BoundedTopK]], [[KMinValues]], [[BottomKQuantile]],
  * [[PrioritySample]]): the `capacity` entries that rank furthest ahead
  * under a strict order, [[ranksAhead]], optionally as a set (`dedup`).
  * Each kernel supplies the order and its `finish`; the buffer, its merge
  * and its one insert live here. Merging re-inserts one buffer's entries
  * into the other, so the kept entries are a function of the input
  * multiset alone, and map-side partial aggregation ships at most
  * `capacity` entries per (map task × group).
  *
  * Buffer: (size, entries WORST-first). The steady-state rejection test
  * (a full buffer whose worst entry `x` does not rank ahead of) reads
  * `head` and the tracked size instead of walking `capacity` cons cells
  * per row (`lengthCompare` + `last` cost O(capacity) per input). A full
  * buffer drops its head, the worst entry, on insert: the kept set equals
  * a best-first list cut by `take(capacity)`. An entry that ties the full
  * buffer's head is rejected, as inserting it next to the head and
  * dropping the head again would leave the buffer unchanged.
  */
abstract class BoundedBuffer[T, OUT](capacity: Int, dedup: Boolean)
    extends Aggregator[T, (Int, List[T]), OUT] {

  /** Strict order: `a` is kept in preference to `b`. */
  protected def ranksAhead(a: T, b: T): Boolean

  private def insert(b: (Int, List[T]), x: T): (Int, List[T]) = {
    val (sz, wf) = b
    if (sz >= capacity && !ranksAhead(x, wf.head)) b
    else {
      val (worse, rest) = wf.span(ranksAhead(x, _))
      if (dedup && rest.headOption.contains(x)) b
      else if (sz >= capacity) (sz, (worse ::: x :: rest).tail)
      else (sz + 1, worse ::: x :: rest)
    }
  }

  override def zero: (Int, List[T]) = (0, Nil)
  override def reduce(b: (Int, List[T]), x: T): (Int, List[T]) = insert(b, x)
  override def merge(b1: (Int, List[T]), b2: (Int, List[T])): (Int, List[T]) =
    b2._2.foldLeft(b1)(insert)
}
