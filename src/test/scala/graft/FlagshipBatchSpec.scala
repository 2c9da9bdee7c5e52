package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.ops.Status
import graft.pipeline.TributePipeline
import graft.sources.Sources

/** Slice-0 end-to-end: replay the reference's 9 fixture batches in batch
  * mode through enrich + latest-state, assert against the documented golden
  * outcomes (SURVEY.md §5; reference dynamodbOutputPhotos PNGs).
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

  private lazy val enriched = Status.enrich(allEvents, tributes, games).cache()

  test("all 65 events survive enrichment (every id resolves; inner joins drop none)") {
    assert(allEvents.count() === 65)
    assert(enriched.count() === 65)
  }

  test("stream-static joins broadcast the dimension side (no shuffle of events)") {
    // the same plan as the cached `enriched`, so once an earlier test has
    // cached that, this plan reads the cache: its relation is unwrapped
    val fresh = Status.enrich(allEvents, tributes, games)
    val plan = fresh.queryExecution.executedPlan
    // AQE's current plan, with query stages and cached relations unwrapped
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => n +: n.children.flatMap(nodes)
    }
    def check(phase: String): Unit = {
      val all = nodes(plan)
      assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
        s"expected 2 broadcast joins, $phase plan:\n$plan")
      assert(!all.exists(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[SortMergeJoinExec]),
        s"flagship enrichment must be shuffle-free, $phase plan:\n$plan")
    }
    // both joins broadcast in AQE's initial plan and in its final plan
    check("initial")
    fresh.collect()
    check("final")
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
    val state = TributePipeline.latestStatePerTribute(
      Status.enrich(stamped, tributes, games), col("__seq")).cache()
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
    val shuffled = Status.enrich(stamped, tributes, games).repartition(17)
    val state = TributePipeline.latestStatePerTribute(shuffled, col("__seq"))
    val rows = state.collect().map(r => r.getAs[String]("tributeId") -> r).toMap
    assert(rows.size === 16)
    assert(rows("3").getAs[String]("status") === "DEAD")
    assert(rows("8").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("status") === "ALIVE")
    assert(rows("9").getAs[String]("locationStatus") === "IN BOUNDS")
    assert(rows.values.count(_.getAs[String]("status") == "ALIVE") === 2)
  }
}
