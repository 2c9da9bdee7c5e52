package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test}

import graft.model.Schemas
import graft.ops.Status
import graft.pipeline.{DimensionLookup, TributePipeline}
import graft.sources.Sources

/** The streaming pipeline's lookup enrichment against `Status.enrich`,
  * the broadcast-join reference: the same columns in the same order with
  * the same types, the same rows, and byte-identical event-log JSON. */
class DimensionLookupSpec extends SparkSpec {

  private val batchOrder = Seq(
    "preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")

  private lazy val fixtureEvents: DataFrame =
    batchOrder.map(b => Sources.eventBatch(spark, fixture(s"streamingData/$b.json")))
      .reduce(_ unionAll _)

  /** The fixture tributes plus a duplicated key ("17", two rows) and a
    * null key; the fixture game plus a duplicated "gameId2". */
  private lazy val tributes: DataFrame = {
    val extra = Seq(
      Row("17", "12", "Dup", "16", "F", "5.0", "5.0", "7.0"),
      Row("17", "12", "Dupe", "17", "M", "6.0", "4.5", "8.0"),
      Row(null, "12", "Nobody", "16", "F", "5.0", "5.0", "7.0"))
    Sources.tributeDim(spark, fixture("staticData/tributeData.csv"))
      .unionByName(spark.createDataFrame(java.util.Arrays.asList(extra: _*),
        Schemas.tributeSchema))
  }
  private lazy val games: DataFrame = {
    val g = Sources.gameDim(spark, fixture("staticData/gameData.json"))
    val extra = Seq(Row("gameId2", 200L, 200L, 10L, 10L), Row("gameId2", 90L, 90L, 0L, 0L))
    g.unionByName(spark.createDataFrame(java.util.Arrays.asList(extra: _*), g.schema))
  }

  private lazy val lookup = DimensionLookup(tributes, games)

  private def event(id: String, game: String, tribute: String, m: Seq[String]): Row =
    Row.fromSeq(Seq(id, game, tribute) ++ m.map(v => if (v == null) null else new java.math.BigDecimal(v)))

  private def events(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schemas.eventSchema)

  /** Schema, rows and log JSON of both paths must agree; returns the row count. */
  private def assertSame(ev: DataFrame): Long = {
    val viaJoin = Status.enrich(ev, tributes, games)
    val viaLookup = lookup.enrich(ev)
    assert(viaLookup.schema === viaJoin.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    def logs(df: DataFrame) = df.select(TributePipeline.rowJson(df)).collect().map(_.getString(0)).sorted.toSeq
    val joined = rows(viaJoin)
    assert(rows(viaLookup) === joined)
    assert(logs(viaLookup) === logs(viaJoin))
    joined.size.toLong
  }

  test("lookup enrichment equals the broadcast join on the fixtures and the edge rows") {
    val m = Seq("70", "1", "5.5", "6", "50", "50")
    val edges = events(Seq(
      event("unknownTribute", "gameId1", "99", m),
      event("unknownGame", "nope", "1", m),
      event("nullTribute", "gameId1", null, m),
      event("nullGame", null, "1", m),
      event("dupTribute", "gameId1", "17", m),
      event("dupGame", "gameId2", "2", m),
      event("dupBoth", "gameId2", "17", m),
      event("nullMeasures", "gameId1", "3", Seq(null, null, null, null, null, null))))
    // 65 fixture events resolve once each; the edges: 2 + 2 + 4 + 1
    assert(assertSame(fixtureEvents.unionAll(edges)) === 65 + 9)
    // the output carries the event's spelling of the key, as the join's
    // USING key does, though the tribute CSV's header reads "tributeId"
    assert(tributes.columns.contains("tributeId"))
    assert(lookup.enrich(edges).columns.take(3).toSeq === Seq("gameid", "tributeid", "streamingeventid"))
  }

  test("lookup keys resolve case-insensitively, like the join's") {
    val shouty = tributes.withColumnRenamed("tributeId", "TRIBUTEID")
    val viaLookup = DimensionLookup(shouty, games).enrich(fixtureEvents)
    val viaJoin = Status.enrich(fixtureEvents, shouty, games)
    assert(viaLookup.schema === viaJoin.schema)
    assert(viaLookup.count() === 65)
  }

  test("property: lookup enrichment equals the broadcast join on generated events") {
    val ids = Gen.oneOf[String](null, "1", "3", "9", "15", "17", "99", "tributeid")
    val gameIds = Gen.oneOf[String](null, "gameId1", "gameId2", "gameid1")
    // every CASE threshold edge of the fixture dims, plus nulls
    val measure = Gen.oneOf[String](null, "0", "0.49", "0.5", "4.5", "5", "5.5", "6",
      "6.49", "6.5", "7", "95", "95.01", "100", "100.01", "-1")
    val eventGen = for {
      t <- ids; g <- gameIds; ms <- Gen.listOfN(6, measure); n <- Gen.choose(0, 1 << 20)
    } yield event(s"gen$n", g, t, ms)
    val prop = Prop.forAll(Gen.listOf(eventGen)) { rows =>
      assertSame(events(rows)); true
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12).withMaxSize(40), prop)
    assert(result.passed, result.status.toString)
  }

  test("mismatched key types fail loudly instead of silently dropping every event") {
    val numeric = tributes.withColumn("tributeId", org.apache.spark.sql.functions.col("tributeId").cast("int"))
    val e = intercept[IllegalArgumentException] {
      DimensionLookup(numeric, games).enrich(fixtureEvents)
    }
    assert(e.getMessage.contains("key types"))
  }

  test("a dimension without its key column is refused by name") {
    val e = intercept[IllegalArgumentException] {
      DimensionLookup(tributes.drop("tributeId"), games)
    }
    assert(e.getMessage.contains("tributeid"))
  }
}
