package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.ops.Status

/** The two enrichment dimensions, collected once and broadcast as
  * key → rows maps: the streaming pipeline's stand-in for `Status.enrich`'s
  * broadcast joins, which re-broadcast both dimensions on every
  * micro-batch. The reference likewise reads its dimensions once, at job
  * start (reference: script/TributeStreamingJob.py:85-97); a dimension
  * change takes a query restart, exactly as with the cached frames the
  * join path reads.
  *
  * The lookup keeps the inner-join semantics of `Status.enrich`: a key
  * matches by equality of values of the same type, null and unknown keys
  * drop, and a key repeated in a dimension fans the event out once per
  * dimension row. Key columns resolve case-insensitively, as the join's
  * do under the default `spark.sql.caseSensitive=false`. The output
  * columns are the join's, in the join's order: the event's `gameid` and
  * `tributeid` (the event's spelling), the event's other columns, the
  * tribute dimension's non-key columns, then the game dimension's.
  */
final class DimensionLookup private (
    tributeKeyType: DataType,
    tributeFields: Seq[StructField],
    gameKeyType: DataType,
    gameFields: Seq[StructField],
    maps: Broadcast[DimensionLookup.Maps]) {

  /** `Status.enrich`'s output, without a join in the plan: the hash join
    * against both maps plus the five derived status columns. */
  def enrich(events: DataFrame): DataFrame = Status.derive(join(events))

  /** Hash-joins each partition of `events` against both broadcast maps. */
  private def join(events: DataFrame): DataFrame = {
    val fields = events.schema.fields
    val t = DimensionLookup.keyIndex(events.schema, "tributeid")
    val g = DimensionLookup.keyIndex(events.schema, "gameid")
    require(fields(t).dataType == tributeKeyType && fields(g).dataType == gameKeyType,
      s"event keys (${fields(t).dataType}, ${fields(g).dataType}) must have the " +
        s"dimension key types ($tributeKeyType, $gameKeyType)")
    val rest = fields.indices.filter(i => i != t && i != g).toArray
    val schema = StructType(
      Seq(fields(g), fields(t)) ++ rest.map(fields(_)) ++ tributeFields ++ gameFields)
    val bc = maps
    events.mapPartitions { rows: Iterator[Row] =>
      val (tributes, games) = bc.value
      rows.flatMap { r =>
        val ts = if (r.isNullAt(t)) Array.empty[Array[Any]] else tributes.getOrElse(r.get(t), Array.empty)
        val gs = if (r.isNullAt(g)) Array.empty[Array[Any]] else games.getOrElse(r.get(g), Array.empty)
        if (ts.isEmpty || gs.isEmpty) Iterator.empty
        else {
          val event = Array[Any](r.get(g), r.get(t)) ++ rest.map(r.get)
          for (tv <- ts.iterator; gv <- gs.iterator) yield Row(event ++ tv ++ gv: _*)
        }
      }
    }(Encoders.row(schema))
  }
}

object DimensionLookup {
  /** Per dimension: key value → the non-key values of every row with it. */
  type Maps = (Map[Any, Array[Array[Any]]], Map[Any, Array[Array[Any]]])

  /** Collects both dimensions (one job each) and broadcasts them. */
  def apply(tributes: DataFrame, games: DataFrame): DimensionLookup = {
    val (tk, tf, tm) = index(tributes, "tributeid")
    val (gk, gf, gm) = index(games, "gameid")
    new DimensionLookup(tk, tf, gk, gf, tributes.sparkSession.sparkContext.broadcast((tm, gm)))
  }

  private def index(dim: DataFrame, key: String)
      : (DataType, Seq[StructField], Map[Any, Array[Array[Any]]]) = {
    val k = keyIndex(dim.schema, key)
    val rest = dim.schema.indices.filter(_ != k)
    val byKey = dim.collect().toSeq.filterNot(_.isNullAt(k)).groupBy(_.get(k))
      .map { case (v, rows) => v -> rows.map(r => rest.map(r.get).toArray).toArray }
    (dim.schema(k).dataType, rest.map(dim.schema(_)), byKey)
  }

  private def keyIndex(schema: StructType, name: String): Int =
    schema.fieldNames.indices.filter(i => schema.fieldNames(i).equalsIgnoreCase(name)) match {
      case Seq(i) => i
      case found => throw new IllegalArgumentException(
        s"expected one '$name' column (case-insensitive), found ${found.size} in " +
          schema.fieldNames.mkString("[", ", ", "]"))
    }
}
