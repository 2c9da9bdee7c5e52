package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Status
import graft.pipeline.DimensionLookup

/** The flagship's data path as plain DataFrame operations, the reference
  * the specs compare the runner against: broadcast joins for the
  * enrichment and a window for last-writer-wins. `TributePipeline.run`
  * computes the same thing with [[DimensionLookup]]'s row join and
  * `Status.derive` inside its compiled micro-batch, and a hash map per
  * shuffle partition for the LWW.
  */
object FlagshipReference {

  /** events ⋈ tributes (on tributeid, case-insensitive — reference:
    * script/TributeStreamingJob.py:106) ⋈ games (on gameid, :107), then
    * the five derived status columns. Inner joins: events with unknown
    * tribute/game ids drop (SURVEY §7.4 risk 4).
    */
  def enrich(events: DataFrame, tributes: DataFrame, games: DataFrame): DataFrame =
    Status.derive(events
      .join(broadcast(tributes), Seq("tributeid"))
      .join(broadcast(games), Seq("gameid")))

  /** [[enrich]]'s output through `lookup` instead of joins: the runner's
    * row join over each partition plus the five derived status columns. */
  def lookupEnrich(lookup: DimensionLookup, events: DataFrame): DataFrame = {
    val in = events.schema
    val join = lookup.rowJoin(in)
    Status.derive(events.mapPartitions { rows: Iterator[Row] =>
      val toInternal = CatalystTypeConverters.createToCatalystConverter(in)
      val toRow = CatalystTypeConverters.createToScalaConverter(join.schema)
      rows.flatMap(r => join(toInternal(r).asInstanceOf[InternalRow]))
        .map(toRow(_).asInstanceOf[Row])
    }(Encoders.row(join.schema)))
  }

  /** Enriched rows → 12-field state items, one per tribute: the event with
    * the highest `arrivalSeq` per tribute wins (reference semantics: last
    * processed event per key, README.md:109-111). `arrivalSeq` must be
    * monotone in arrival order.
    */
  def latestStatePerTribute(enriched: DataFrame, arrivalSeq: Column): DataFrame = {
    val w = Window.partitionBy(col("tributeid")).orderBy(arrivalSeq.desc)
    enriched
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(Status.stateItemCols: _*)
  }
}
