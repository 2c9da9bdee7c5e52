package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions.{broadcast, col, struct}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}

import graft.model.Schemas
import graft.ops.Status
import graft.pipeline.{DimensionLookup, FlagshipPayload, KVStore, TributePipeline}
import graft.sources.Sources

/** The streaming pipeline's lookup enrichment against
  * `FlagshipReference.enrich`, the broadcast-join reference: the same
  * columns in the same order with the same types, the same rows, and
  * byte-identical event-log JSON; and
  * the pipeline's compiled micro-batch payload against the same reference,
  * forget filter included. */
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
    val viaJoin = FlagshipReference.enrich(ev, tributes, games)
    val viaLookup = FlagshipReference.lookupEnrich(lookup, ev)
    assert(viaLookup.schema === viaJoin.schema)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    def logs(df: DataFrame) = df.select(TributePipeline.rowJson(df)).collect().map(_.getString(0)).sorted.toSeq
    val joined = rows(viaJoin)
    assert(rows(viaLookup) === joined)
    assert(logs(viaLookup) === logs(viaJoin))
    joined.size.toLong
  }

  /** Unknown, null and duplicated keys, and null measures. */
  private lazy val edges: DataFrame = {
    val m = Seq("70", "1", "5.5", "6", "50", "50")
    events(Seq(
      event("unknownTribute", "gameId1", "99", m),
      event("unknownGame", "nope", "1", m),
      event("nullTribute", "gameId1", null, m),
      event("nullGame", null, "1", m),
      event("dupTribute", "gameId1", "17", m),
      event("dupGame", "gameId2", "2", m),
      event("dupBoth", "gameId2", "17", m),
      event("nullMeasures", "gameId1", "3", Seq(null, null, null, null, null, null))))
  }

  /** Every CASE threshold edge of the fixture dimensions, plus nulls. */
  private val thresholdEdges = Seq[String](null, "0", "0.49", "0.5", "4.5", "5", "5.5", "6",
    "6.49", "6.5", "7", "95", "95.01", "100", "100.01", "-1")

  test("lookup enrichment equals the broadcast join on the fixtures and the edge rows") {
    // 65 fixture events resolve once each; the edges: 2 + 2 + 4 + 1
    assert(assertSame(fixtureEvents.unionAll(edges)) === 65 + 9)
    // the output carries the event's spelling of the key, as the join's
    // USING key does, though the tribute CSV's header reads "tributeId"
    assert(tributes.columns.contains("tributeId"))
    assert(FlagshipReference.lookupEnrich(lookup, edges).columns.take(3).toSeq === Seq("gameid", "tributeid", "streamingeventid"))
  }

  test("lookup keys resolve case-insensitively, like the join's") {
    val shouty = tributes.withColumnRenamed("tributeId", "TRIBUTEID")
    val viaLookup = FlagshipReference.lookupEnrich(DimensionLookup(shouty, games), fixtureEvents)
    val viaJoin = FlagshipReference.enrich(fixtureEvents, shouty, games)
    assert(viaLookup.schema === viaJoin.schema)
    assert(viaLookup.count() === 65)
  }

  test("property: lookup enrichment equals the broadcast join on generated events") {
    val ids = Gen.oneOf[String](null, "1", "3", "9", "15", "17", "99", "tributeid")
    val gameIds = Gen.oneOf[String](null, "gameId1", "gameId2", "gameid1")
    val measure = Gen.oneOf(thresholdEdges)
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
      FlagshipReference.lookupEnrich(DimensionLookup(numeric, games), fixtureEvents)
    }
    assert(e.getMessage.contains("key types"))
  }

  test("a dimension without its key column is refused by name") {
    val e = intercept[IllegalArgumentException] {
      DimensionLookup(tributes.drop("tributeId"), games)
    }
    assert(e.getMessage.contains("tributeid"))
  }

  /** (key, event id, log JSON, state item) of every payload row. */
  private type Payload = Seq[(String, String, String, Map[String, String])]

  /** The pipeline's compiled micro-batch payload of `ev`, with `forgotten`
    * tributes filtered as the governed runner filters them. */
  private def compiled(ev: DataFrame, forgotten: Set[String] = Set.empty): Payload = {
    val stamped = TributePipeline.stampSource(ev)
    val payload = FlagshipPayload(lookup, stamped.schema, spark)
    val toRow = CatalystTypeConverters.createToScalaConverter(payload.schema)
    val rows = payload.rows(stamped, forgotten).collect()
    assert(rows.forall { case (key, r) => key == r.getUTF8String(0).toString })
    rows.toSeq.map { case (_, r) =>
      val row = toRow(r).asInstanceOf[Row]
      (row.getString(0), row.getString(4), row.getString(5), KVStore.item(row.getStruct(6)))
    }.sortBy(p => (p._2, p._3))
  }

  /** The same payload from the DataFrame path: the broadcast join,
    * `rowJson` and `Status.stateItemCols`. */
  private def reference(ev: DataFrame): Payload = {
    val enriched = FlagshipReference.enrich(ev, tributes, games)
    enriched.select(col("tributeid").cast("string"), col("streamingeventid").cast("string"),
      TributePipeline.rowJson(enriched), struct(Status.stateItemCols: _*))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), KVStore.item(r.getStruct(3))))
      .sortBy(p => (p._2, p._3))
  }

  private lazy val parityEvents: DataFrame = {
    val onEdges = for ((v, i) <- thresholdEdges.zipWithIndex; t <- Seq("1", "3", "17"))
      yield event(s"edge$i-$t", "gameId1", t, Seq.fill(6)(v))
    fixtureEvents.unionAll(edges).unionAll(events(onEdges))
  }

  test("compiled micro-batch payload equals the DataFrame path: rows, log JSON bytes and state items") {
    val viaDataFrame = reference(parityEvents)
    // 65 fixtures, 9 edge rows, 16 threshold edges for "1" and "3" and 2 each for "17"
    assert(viaDataFrame.size === 65 + 9 + 16 * 4)
    val viaPayload = compiled(parityEvents)
    assert(viaPayload.map(_._1) === viaDataFrame.map(_._1))
    assert(viaPayload.map(_._2) === viaDataFrame.map(_._2))
    assert(viaPayload.map(_._3.getBytes(StandardCharsets.UTF_8).toSeq) ===
      viaDataFrame.map(_._3.getBytes(StandardCharsets.UTF_8).toSeq))
    assert(viaPayload.map(_._4) === viaDataFrame.map(_._4))
    assert(viaPayload.forall(_._4.size === 12))
  }

  test("the governed filter admits what the in-list filter (10 ids) and the broadcast anti-join (100 ids) admitted") {
    val victims = Seq("1", "3", "9", "17")
    for (n <- Seq(10, 100)) {
      val forgotten = victims ++ (victims.size until n).map(i => s"gone$i")
      // the filters the governed runner applied before this payload pass:
      // an In-list up to 64 ids, a broadcast anti-join past that
      val admitted =
        if (n <= 64) parityEvents.filter(!col("tributeid").cast("string").isin(forgotten: _*))
        else {
          val ids = spark.createDataFrame(java.util.Arrays.asList(forgotten.map(Row(_)): _*),
            StructType(Seq(StructField("__forgotten_id", StringType))))
          parityEvents.join(broadcast(ids),
            parityEvents.col("tributeid").cast("string") === col("__forgotten_id"), "left_anti")
        }
      val viaDataFrame = reference(admitted)
      assert(viaDataFrame.nonEmpty && viaDataFrame.forall(p => !victims.contains(p._1)))
      assert(viaDataFrame.size < reference(parityEvents).size)
      assert(compiled(parityEvents, forgotten.toSet) === viaDataFrame, s"$n forgotten ids")
    }
  }

  test("state items store each value's EXTERNAL rendering, not its Catalyst internals") {
    import spark.implicits._
    val df = Seq(("k1", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
        java.sql.Date.valueOf("2026-01-02"), BigDecimal("12.50"), 7L))
      .toDF("tributeId", "seen_at", "day", "score", "n")
      .withColumn("score", col("score").cast("decimal(9,2)"))
    // the conversion the pipeline's sink applies to each state item
    val schema = df.schema
    val Array(item) = df.queryExecution.toRdd.mapPartitions { rows =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      rows.map(r => KVStore.item(toRow(r).asInstanceOf[Row]))
    }.collect()
    // a timestamp must NOT surface as its internal micros long, nor the
    // date as a day count
    assert(item("seen_at") === "2026-01-01 00:00:00.0")
    assert(item("day") === "2026-01-02")
    assert(item("score") === "12.50")
    assert(item("n") === "7")
  }
}
