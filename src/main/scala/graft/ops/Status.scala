package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The five categorical status classifiers, as pure `Column => Column`
  * functions so they are unit-testable and reusable batch or streaming.
  *
  * Semantics replicate the reference's ordered CASE logic exactly
  * (reference: script/TributeStreamingJob.py:110-135). Mixed-type
  * comparisons (decimal stream measure vs string CSV threshold vs long
  * bound) resolve through Spark's implicit type coercion, as in the
  * reference — all threshold strings are well-formed numerics so ANSI
  * mode (Spark 4.x default) is safe (SURVEY.md §7.4 risk 2).
  *
  * Every classifier compiles to a single Catalyst `CaseWhen` inside
  * whole-stage codegen — no UDFs anywhere.
  */
object Status {

  /** 3-way lower-threshold band (reference: script/TributeStreamingJob.py:111-115).
    * First match wins: below min → DEHYDRATED; within 0.5 above min →
    * APPROACHING DEHYDRATION; else OK.
    */
  def hydrationStatus(level: Column, minThreshold: Column): Column =
    when(level < minThreshold, "DEHYDRATED")
      .when(level - minThreshold < 0.5, "APPROACHING DEHYDRATION")
      .otherwise("OK")

  /** 3-way upper-threshold band (reference: script/TributeStreamingJob.py:116-120). */
  def hungerStatus(level: Column, maxThreshold: Column): Column =
    when(level > maxThreshold, "HUNGRY")
      .when(maxThreshold - level < 0.5, "GETTING HUNGRY")
      .otherwise("OK")

  /** 2-way threshold (reference: script/TributeStreamingJob.py:121-123). */
  def painStatus(level: Column, maxThreshold: Column): Column =
    when(level > maxThreshold, "INJURED").otherwise("OK")

  /** Alive/dead equality predicate (reference: script/TributeStreamingJob.py:124). */
  def aliveStatus(heartrate: Column): Column =
    when(heartrate === 0, "DEAD").otherwise("ALIVE")

  /** 3-way geo-box check with 4-term disjunctions per branch
    * (reference: script/TributeStreamingJob.py:125-135). Outside the
    * [minX,maxX]×[minY,maxY] box → OUT OF BOUNDS; within 5 units of any
    * edge → APPROACHING THE BOUNDARY; else IN BOUNDS.
    */
  def locationStatus(
      x: Column, y: Column,
      minX: Column, maxX: Column, minY: Column, maxY: Column): Column =
    when(x > maxX || x < minX || y > maxY || y < minY, "OUT OF BOUNDS")
      .when(maxX - x < 5 || maxY - y < 5 || x - minX < 5 || y - minY < 5,
        "APPROACHING THE BOUNDARY")
      .otherwise("IN BOUNDS")

  /** Full enrichment: events ⋈ tributes (on tributeid, case-insensitive —
    * reference: script/TributeStreamingJob.py:106) ⋈ games (on gameid, :107),
    * then the five derived status columns. Inner joins: events with unknown
    * tribute/game ids silently drop, preserved deliberately (SURVEY §7.4
    * risk 4).
    *
    * Works identically on a batch or a streaming `events` frame: the
    * stream-static joins are stateless and plan as BroadcastHashJoin when
    * the dims are small/cached. The streaming pipeline enriches through
    * `graft.pipeline.DimensionLookup` instead, which emits the same columns
    * from dimensions broadcast once per query.
    */
  def enrich(events: DataFrame, tributes: DataFrame, games: DataFrame): DataFrame =
    derive(events
      .join(broadcast(tributes), Seq("tributeid"))
      .join(broadcast(games), Seq("gameid")))

  /** The five derived status columns, appended by column name to a frame
    * that already carries the event measures and both dimensions'
    * thresholds and bounds — the one copy of the CASE logic behind every
    * enrichment path.
    */
  def derive(joined: DataFrame): DataFrame =
    joined
      .withColumn("hydrationstatus",
        hydrationStatus(col("hydrationlevel"), col("minHydrationThreshold")))
      .withColumn("hungerstatus",
        hungerStatus(col("hungerlevel"), col("maxHungerThreshold")))
      .withColumn("painstatus",
        painStatus(col("painlevel"), col("maxPainThreshold")))
      .withColumn("status", aliveStatus(col("heartrate")))
      .withColumn("locationstatus",
        locationStatus(
          col("xcoordinate"), col("ycoordinate"),
          col("minXCoordinate"), col("maxXCoordinate"),
          col("minYCoordinate"), col("maxYCoordinate")))

  /** The 12 sink-side state-item columns: projection + rename + casts
    * (reference: script/TributeStreamingJob.py:52-65). Exposed as columns
    * (not only as a transform) so per-row sinks can pack them into a
    * struct alongside other payload columns.
    */
  def stateItemCols: Seq[Column] = Seq(
    col("tributeid").cast("string").as("tributeId"),
    col("firstName").as("name"),
    col("district"),
    col("age"),
    col("status"),
    col("heartrate").cast("string").as("heartRate"),
    col("painstatus").as("painStatus"),
    col("hydrationstatus").as("hydrationStatus"),
    col("hungerstatus").as("hungerStatus"),
    col("xcoordinate").cast("string").as("xCoordinate"),
    col("ycoordinate").cast("string").as("yCoordinate"),
    col("locationstatus").as("locationStatus"),
  )

  /** Sink-side projection to the 12-field state item. Done in the plan —
    * not in the writer — so Catalyst can prune columns upstream.
    */
  def stateItem(enriched: DataFrame): DataFrame =
    enriched.select(stateItemCols: _*)
}
