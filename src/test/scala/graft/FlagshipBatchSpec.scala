package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** The specs' DataFrame reference of the flagship ([[FlagshipReference]])
  * over the reference's 9 fixture batches in batch mode, against the
  * documented golden outcomes (SURVEY.md §5; reference
  * dynamodbOutputPhotos PNGs): the golden state the runner's specs
  * compare with is only as good as this reference.
  */
class FlagshipBatchSpec extends SparkSpec {

  private val batchOrder = Seq(
    "preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")

  private lazy val tributes = Sources.tributeDim(spark, fixture("staticData/tributeData.csv"))
  private lazy val games = Sources.gameDim(spark, fixture("staticData/gameData.json"))

  /** The 9 batches, unioned in replay order. */
  private lazy val allEvents: DataFrame =
    batchOrder.map(b => Sources.eventBatch(spark, fixture(s"streamingData/$b.json")))
      .reduce(_ unionAll _)

  /** The same events with a data-derived arrival sequence: (batch ordinal
    * in the documented send order) * 1e6 + numeric suffix of
    * streamingeventid — survives any physical re-layout because it is
    * computed from row values. */
  private lazy val stamped: DataFrame =
    batchOrder.zipWithIndex.map { case (b, i) =>
      Sources.eventBatch(spark, fixture(s"streamingData/$b.json"))
        .withColumn("__seq",
          lit(i.toLong * 1000000L) +
            regexp_extract(col("streamingeventid"), "Event(\\d+)$", 1).cast("long"))
    }.reduce(_ unionAll _)

  private lazy val enriched = FlagshipReference.enrich(allEvents, tributes, games).cache()

  test("all 65 events survive enrichment (every id resolves; inner joins drop none)") {
    assert(allEvents.count() === 65)
    assert(enriched.count() === 65)
  }

  test("documented golden cases hold on individual events") {
    import spark.implicits._
    val byEvent = enriched.select($"streamingeventid", $"hydrationstatus",
      $"hungerstatus", $"painstatus", $"status", $"locationstatus")
      .as[(String, String, String, String, String, String)]
      .collect().map(r => r._1 -> r).toMap

    // Katniss (9) at (1.1, 100.8): OUT OF BOUNDS (katnissEdgeOfMap.json:3-12)
    assert(byEvent("katnissEdgeOfMapEvent1")._6 === "OUT OF BOUNDS")
    // same event: heartrate 110 → ALIVE
    assert(byEvent("katnissEdgeOfMapEvent1")._5 === "ALIVE")
    // tribute 15 heartrate 0 → DEAD, pain 10 > 5.0 → INJURED, hydration 1 < 5.0 → DEHYDRATED
    assert(byEvent("katnissEdgeOfMapEvent2")._5 === "DEAD")
    assert(byEvent("katnissEdgeOfMapEvent2")._4 === "INJURED")
    assert(byEvent("katnissEdgeOfMapEvent2")._2 === "DEHYDRATED")
    // hunger 10 > 5.0 → HUNGRY
    assert(byEvent("katnissEdgeOfMapEvent2")._3 === "HUNGRY")
  }

  test("final state table: one row per tribute seen, last write wins") {
    import spark.implicits._
    val state = FlagshipReference.latestStatePerTribute(
      FlagshipReference.enrich(stamped, tributes, games), col("__seq")).cache()
    val rows = state.collect().map(r => r.getAs[String]("tributeId") -> r).toMap

    // theEnd.json is the last batch: Cato (3) dies, Peeta (8) + Katniss (9) alive
    assert(rows("3").getAs[String]("status") === "DEAD")
    assert(rows("8").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("locationStatus") === "IN BOUNDS")
    // exactly one row per key
    assert(state.groupBy($"tributeId").count().filter($"count" > 1).count() === 0)
    // 12-column state item shape (reference: script/TributeStreamingJob.py:52-65)
    assert(state.columns.toSeq === Seq("tributeId", "name", "district", "age",
      "status", "heartRate", "painStatus", "hydrationStatus", "hungerStatus",
      "xCoordinate", "yCoordinate", "locationStatus"))
  }

  test("explicit arrival order: LWW converges even after arbitrary repartitioning") {
    val shuffled = FlagshipReference.enrich(stamped, tributes, games).repartition(17)
    val state = FlagshipReference.latestStatePerTribute(shuffled, col("__seq"))
    val rows = state.collect().map(r => r.getAs[String]("tributeId") -> r).toMap
    assert(rows.size === 16)
    assert(rows("3").getAs[String]("status") === "DEAD")
    assert(rows("8").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("locationStatus") === "IN BOUNDS")
    assert(rows.values.count(_.getAs[String]("status") == "ALIVE") === 2)
  }
}
