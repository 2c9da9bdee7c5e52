package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll

import graft.streaming.{Ev, LocalCheckpointFileManager, StreamingOps}

/** Minimal curated-corpus row for the streaming writer test. */
case class StreamDoc(doc_id: Long, text: String, lang: String)

/** Arriving document row for the streaming near-dup test. */
case class StreamTextDoc(doc_id: Long, text: String, ts: Timestamp)

/** Arriving embedding row for the streaming assignment monitor test. */
case class StreamEmb(vec_id: Long, embedding: Seq[Float], ts: Timestamp)

/** Event-time streaming operators under real micro-batch execution
  * (MemoryStream source, memory sink), including watermark-driven late-row
  * dropping and engine-side keyed state.
  */
class StreamingOpsSpec extends SparkSpec with BeforeAndAfterAll {

  // the stateful operators' state-store and metadata files commit through
  // graft's local checkpoint manager, whichever suite ran first
  override def beforeAll(): Unit = {
    super.beforeAll()
    LocalCheckpointFileManager.install(spark)
  }

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling daily counts aggregate per day and type (streaming = batch result)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, 1, "view", 10.0, ts("2026-01-01 01:00:00")),
      Ev(2, 1, "view", 20.0, ts("2026-01-01 23:00:00")),
      Ev(3, 2, "buy", 5.0, ts("2026-01-02 00:30:00")))
    val q = StreamingOps.tumblingDaily(mem.toDF())
      .writeStream.format("memory").queryName("tumb")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("tumb")
      .select($"day".cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows === Set(
      ("2026-01-01 00:00:00", "view", 2L, 30.0),
      ("2026-01-02 00:00:00", "buy", 1L, 5.0)))

    // batch execution of the SAME plan gives the same answer
    val batch = StreamingOps.tumblingDaily(Seq(
      Ev(1, 1, "view", 10.0, ts("2026-01-01 01:00:00")),
      Ev(2, 1, "view", 20.0, ts("2026-01-01 23:00:00")),
      Ev(3, 2, "buy", 5.0, ts("2026-01-02 00:30:00"))).toDF())
      .select(col("day").cast("string"), col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(batch === rows)
  }

  test("watermark drops rows later than the bound (append mode emits only closed windows)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.tumblingDaily(mem.toDF(), watermark = "1 hour")
      .writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Append()).start()

    mem.addData(Ev(1, 1, "view", 10.0, ts("2026-01-01 05:00:00")))
    q.processAllAvailable()
    // advance event time far past Jan 1 → watermark closes the Jan 1 window
    mem.addData(Ev(2, 1, "view", 99.0, ts("2026-01-03 12:00:00")))
    q.processAllAvailable()
    // this row is days behind the watermark: DROPPED, never aggregated
    mem.addData(Ev(3, 1, "view", 1000.0, ts("2026-01-01 06:00:00")))
    q.processAllAvailable()
    // push watermark far enough to also close+emit the Jan 3 window
    mem.addData(Ev(4, 1, "view", 7.0, ts("2026-01-06 00:00:00")))
    q.processAllAvailable()
    q.stop()

    val byDay = spark.table("late")
      .select($"day".cast("string"), $"n", $"sum_value")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(byDay("2026-01-01 00:00:00")._2 === 1L) // late row NOT counted
    assert(byDay("2026-01-01 00:00:00")._3 === 10.0)
    assert(byDay("2026-01-03 00:00:00")._2 === 1L)
  }

  test("session windows split on the idle gap") {
    import spark.implicits._
    val out = StreamingOps.sessionized(Seq(
      Ev(1, 7, "view", 1.0, ts("2026-01-01 10:00:00")),
      Ev(2, 7, "view", 2.0, ts("2026-01-01 10:10:00")), // same session (10 min gap)
      Ev(3, 7, "view", 4.0, ts("2026-01-01 12:00:00")), // new session (>30 min idle)
      Ev(4, 8, "view", 8.0, ts("2026-01-01 10:05:00"))).toDF())
      .select($"user_id", $"n_events", $"session_value")
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((7L, 2L, 3.0), (7L, 1L, 4.0), (8L, 1L, 8.0)))
  }

  test("dedupEvents drops re-delivered event ids across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      Ev(1, 1, "view", 10.0, ts("2026-01-01 10:00:00")),
      Ev(1, 1, "view", 10.0, ts("2026-01-01 10:00:00")), // same-batch dup
      Ev(2, 1, "buy", 20.0, ts("2026-01-01 10:05:00")))
    q.processAllAvailable()
    // redelivery in a LATER batch (the at-least-once failure mode)
    mem.addData(Ev(1, 1, "view", 10.0, ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    mem.addData(Ev(3, 2, "view", 1.0, ts("2026-01-01 10:10:00")))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup").as[Ev].collect().map(_.event_id).sorted
    assert(ids === Array(1L, 2L, 3L))
  }

  test("stream-stream join matches purchases to preceding clicks within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingOps.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("c2p")
      .outputMode(OutputMode.Append()).start()

    clicks.addData(
      Ev(10, 1, "click", 0.0, ts("2026-01-01 10:00:00")),
      Ev(11, 2, "click", 0.0, ts("2026-01-01 08:00:00"))) // >1h before purchase
    purchases.addData(
      Ev(20, 1, "purchase", 99.0, ts("2026-01-01 10:30:00")), // joins click 10
      Ev(21, 2, "purchase", 50.0, ts("2026-01-01 10:30:00"))) // click too old: no match
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("c2p")
      .select($"user_id", $"purchase_id", $"click_id", $"amount")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(rows === Set((1L, 20L, 10L, 99.0)))
  }

  test("flatMapGroupsWithState funnel: completion emits immediately, idle timeout flushes abandoned") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.funnelTracker(mem.toDS(), idle = "1 hour")
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append()).start()

    // user 1 completes the funnel across two triggers; user 2 only views
    mem.addData(
      Ev(1, 1, "view", 0.0, ts("2026-01-01 10:00:00")),
      Ev(2, 1, "click", 0.0, ts("2026-01-01 10:05:00")),
      Ev(3, 2, "view", 0.0, ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    mem.addData(Ev(4, 1, "purchase", 42.0, ts("2026-01-01 10:10:00")))
    q.processAllAvailable()
    // push the watermark far past user 2's idle horizon → abandoned flush
    mem.addData(Ev(5, 3, "view", 0.0, ts("2026-01-01 15:00:00")))
    q.processAllAvailable()
    mem.addData(Ev(6, 3, "click", 0.0, ts("2026-01-01 15:01:00")))
    q.processAllAvailable()
    q.stop()

    import graft.streaming.FunnelEmit
    val rows = spark.table("funnel").as[FunnelEmit].collect()
    val u1 = rows.filter(_.user_id == 1L)
    assert(u1.length === 1)
    assert(u1.head.stage === 3 && u1.head.completed)
    assert(u1.head.view_sec.get < u1.head.click_sec.get)
    assert(u1.head.click_sec.get < u1.head.purchase_sec.get)
    val u2 = rows.filter(_.user_id == 2L)
    assert(u2.length === 1)
    assert(u2.head.stage === 1 && !u2.head.completed)
    assert(u2.head.purchase_sec.isEmpty)
  }

  test("mapGroupsWithState keeps the latest event per user across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = StreamingOps.latestStatePerUser(mem.toDS())
      .writeStream.format("memory").queryName("latest")
      .outputMode(OutputMode.Update()).start()

    mem.addData(
      Ev(1, 1, "view", 10.0, ts("2026-01-01 10:00:00")),
      Ev(2, 1, "buy", 20.0, ts("2026-01-01 11:00:00"))) // later → wins batch 1
    q.processAllAvailable()
    mem.addData(Ev(3, 1, "view", 5.0, ts("2026-01-01 09:00:00"))) // OLDER: must NOT win
    q.processAllAvailable()
    mem.addData(Ev(4, 1, "refund", 1.0, ts("2026-01-01 12:00:00"))) // newest: wins
    q.processAllAvailable()
    q.stop()

    // the memory sink (update mode) appends each emission; the LAST row is
    // the converged state
    val emissions = spark.table("latest").as[graft.streaming.UserLatest].collect()
    assert(emissions.length === 3)
    assert(emissions(0).event_id === 2L)
    assert(emissions(1).event_id === 2L) // older event did not displace state
    assert(emissions(2).event_id === 4L)
  }

  test("heavyHitterMonitor: exact counts when cap covers the vocab, across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingOps.heavyHitterMonitor(mem.toDS(), shards = 1, cap = 100)
      .writeStream.format("memory").queryName("hh_exact")
      .outputMode(OutputMode.Update()).start()

    val b1 = Seq("a", "b", "a", "c", "a")
    val b2 = Seq("b", "a", "d")
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    q.stop()

    val last = spark.table("hh_exact").as[graft.streaming.HHShard]
      .collect().last
    val expect = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(last.n_tokens === 8L)
    assert(last.candidates.map(c => c.gram -> c.lb).toMap === expect)
    // best-first, ties lexicographic: a(4), b(2), c(1), d(1)
    assert(last.candidates.map(_.gram) === Seq("a", "b", "c", "d"))
  }

  test("heavyHitterMonitor: state stays capped and the hot gram survives churn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingOps.heavyHitterMonitor(mem.toDS(), shards = 1, cap = 4)
      .writeStream.format("memory").queryName("hh_churn")
      .outputMode(OutputMode.Update()).start()

    // hot gram = half the stream; 60 distinct fillers churn the counters
    mem.addData((1 to 30).flatMap(i => Seq("hot", s"f$i")): _*)
    q.processAllAvailable()
    mem.addData((31 to 60).flatMap(i => Seq("hot", s"f$i")): _*)
    q.processAllAvailable()
    q.stop()

    val emissions = spark.table("hh_churn").as[graft.streaming.HHShard].collect()
    emissions.foreach(e => assert(e.candidates.size <= 4, "state must stay capped"))
    val last = emissions.last
    assert(last.n_tokens === 120L)
    // true freq 60/120 = 1/2 > n/(cap+1): MG must retain it, counts are lower bounds
    val hot = last.candidates.find(_.gram === "hot")
    assert(hot.isDefined, s"hot gram evicted: ${last.candidates}")
    assert(hot.get.lb <= 60L)
    assert(hot.get.lb === last.candidates.map(_.lb).max)
  }

  test("curated streaming sink partitions by split, agrees with the batch assignment, and restarts exactly-once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files
      .createTempDirectory("graft-curated-stream").toString
    val (out, ckpt) = (s"$base/out", s"$base/ckpt")

    val mem = MemoryStream[StreamDoc]
    mem.addData((1L to 8L).map(i => StreamDoc(i, s"text $i", "en")): _*)
    val q1 = StreamingOps.writeCuratedStream(mem.toDF(), "doc_id", out, ckpt)
    q1.processAllAvailable(); q1.stop()

    val first = spark.read.parquet(out)
    assert(first.count() === 8)
    // split agreement with the batch assignment for the same ids
    val expected = graft.operators.Corpus
      .splitAssign(first.select(col("doc_id"), col("text"), col("lang")))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val got = first.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(got === expected)
    // the split really is a partition directory
    assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("split=")))

    // restart from the same checkpoint: new rows append exactly once,
    // old rows are not re-emitted
    mem.addData(StreamDoc(9L, "text 9", "en"), StreamDoc(10L, "text 10", "de"))
    val q2 = StreamingOps.writeCuratedStream(mem.toDF(), "doc_id", out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val second = spark.read.parquet(out)
    assert(second.count() === 10)
    assert(second.select($"doc_id").as[Long].collect().sorted.toSeq === (1L to 10L))
  }

  test("streaming near-dup flags arrivals against the static corpus exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (100L, base),
      (101L, "totally different reference text about catalyst and tungsten internals"),
    ).toDF("doc_id", "text")

    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.nearDupAgainstCorpus(mem.toDF(), corpus, threshold = 0.5)
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Append()).start()

    // batch 1: an exact copy of corpus doc 100 (matches in EVERY band —
    // the within-watermark pair dedup must still emit it once) and a
    // clean doc that must pass silently
    mem.addData(
      StreamTextDoc(1L, base, ts("2026-01-01 00:00:00")),
      StreamTextDoc(2L, "unrelated fresh content words entirely new and never seen before",
        ts("2026-01-01 00:00:10")))
    q.processAllAvailable()
    // batch 2: a near-dup (one word changed) arrives later, plus a
    // re-ingest of corpus doc 100 under its OWN id — stream and corpus
    // id spaces are independent, so this must still be flagged
    mem.addData(
      StreamTextDoc(3L, base.replace("today", "tonight"), ts("2026-01-01 00:01:00")),
      StreamTextDoc(100L, base, ts("2026-01-01 00:01:30")))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("neardup")
      .select($"doc_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc(1L).length === 1, s"multi-band match must dedup to one row: ${byDoc(1L).toSeq}")
    assert(byDoc(1L).head === ((1L, 100L, 1.0))) // exact copy: jaccard 1
    assert(!byDoc.contains(2L)) // clean doc never flagged
    val near = byDoc(3L)
    assert(near.length === 1 && near.head._2 === 100L)
    assert(near.head._3 > 0.5 && near.head._3 < 1.0)
    // id collision with the corpus does not suppress the match
    assert(byDoc(100L).toSeq === Seq((100L, 100L, 1.0)))
    // and the streaming verdicts agree with the batch LSH on the same pair
    val batch = graft.operators.Dedup.minhashLsh(
        corpus.union(Seq((1L, base)).toDF("doc_id", "text")),
        bands = 4, rowsPerBand = 2, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(batch((1L, 100L)) === 1.0)
  }

  test("streaming near-dup restart: pair-dedup state survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val dirs = java.nio.file.Files.createTempDirectory("graft-neardup-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")

    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.nearDupAgainstCorpus(mem.toDF(), corpus, threshold = 0.5)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    mem.addData(StreamTextDoc(1L, base, ts("2026-01-01 00:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 1)

    // restart from the checkpoint and re-deliver the SAME pair within the
    // watermark: the restored dropDuplicatesWithinWatermark state must
    // suppress it — at-least-once delivery upstream stays exactly-once
    // in the flagged output
    mem.addData(StreamTextDoc(1L, base, ts("2026-01-01 00:00:05")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .select($"doc_id", $"corpus_id", $"jaccard").as[(Long, Long, Double)].collect()
    assert(rows.toSeq === Seq((1L, 100L, 1.0)),
      s"re-delivered pair must not re-emit after restart: ${rows.toSeq}")
  }

  test("image dup monitor flags planted twins and re-ingests against the corpus dHash index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // 54 % 17 == 3, so doc 54's image is the planted re-encoded twin of
    // doc 53's; 101 is an unrelated corpus member
    val corpus = Seq((53L, "x"), (101L, "x")).toDF("doc_id", "text")
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.imageDupMonitor(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("imgdup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(54L, "x", ts("2026-01-01 00:00:00")),  // twin of 53
      StreamTextDoc(999L, "x", ts("2026-01-01 00:00:05")), // distinct image
      StreamTextDoc(53L, "x", ts("2026-01-01 00:00:10")))  // re-ingest
    q.processAllAvailable(); q.stop()
    val rows = spark.table("imgdup")
      .select($"doc_id", $"corpus_id", $"hamming")
      .as[(Long, Long, Int)].collect()
    graft.Caches.releaseAll()
    val byDoc = rows.groupBy(_._1)
    // the twin's verdict equals the batch kernels' distance exactly
    def hashOf(id: Long) = Multimodal.dHash64(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.syntheticImageWithTwins(id))))
    val expect = java.lang.Long.bitCount(hashOf(54L) ^ hashOf(53L))
    assert(byDoc(54L).toSeq === Seq((54L, 53L, expect)),
      s"twin must flag once with the exact Hamming: ${rows.toSeq}")
    assert(byDoc(53L).toSeq === Seq((53L, 53L, 0)), "re-ingest flags at 0")
    assert(!byDoc.contains(999L), s"distinct image must pass: ${rows.toSeq}")
  }

  test("audio dup monitor flags planted gain twins against the corpus fp index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // 24 % 19 == 5, so doc 24's audio is the gain-ride twin of doc 23's
    val corpus = Seq((23L, "x"), (300L, "x")).toDF("doc_id", "text")
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.audioDupMonitor(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("auddup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(24L, "x", ts("2026-01-01 00:00:00")),  // twin of 23
      StreamTextDoc(777L, "x", ts("2026-01-01 00:00:05"))) // distinct clip
    q.processAllAvailable(); q.stop()
    val rows = spark.table("auddup")
      .select($"doc_id", $"corpus_id", $"hamming")
      .as[(Long, Long, Int)].collect()
    graft.Caches.releaseAll()
    def fpOf(id: Long) = Multimodal.audioFp64(
      Multimodal.decodeWavSamples(Multimodal.syntheticWavWithTwins(id)))
    val expect = java.lang.Long.bitCount(fpOf(24L) ^ fpOf(23L))
    assert(rows.toSeq === Seq((24L, 23L, expect)),
      s"only the twin flags, with the exact batch distance: ${rows.toSeq}")
  }

  test("image dup monitor restart: pair-dedup state survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((53L, "x")).toDF("doc_id", "text")
    val dirs = java.nio.file.Files.createTempDirectory("graft-imgdup-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.imageDupMonitor(mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    mem.addData(StreamTextDoc(54L, "x", ts("2026-01-01 00:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 1)
    // re-deliver the same pair within the watermark after a restart: the
    // restored dedup state must suppress it
    mem.addData(StreamTextDoc(54L, "x", ts("2026-01-01 00:00:05")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    graft.Caches.releaseAll()
    val rows = spark.read.parquet(out)
      .select($"doc_id", $"corpus_id").as[(Long, Long)].collect()
    assert(rows.toSeq === Seq((54L, 53L)),
      s"re-delivered pair must not re-emit after restart: ${rows.toSeq}")
  }

  test("scene cut monitor emits the batch scene table bit-identically with zero stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.sceneCutMonitor(mem.toDF())
      .writeStream.format("memory").queryName("scmon")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(2L, "x", ts("2026-01-01 00:00:00")),   // 4 frames, 2 scenes
      StreamTextDoc(9L, "x", ts("2026-01-01 00:00:05")),   // 4 frames
      StreamTextDoc(481L, "x", ts("2026-01-01 00:00:10"))) // 7 frames, 3 scenes
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty,
      "the monitor must carry ZERO streaming state")
    q.stop()
    val got = spark.table("scmon")
      .select($"doc_id", $"frame", $"hamming_prev", $"new_scene", $"scene_id")
      .as[(Long, Int, Int, Boolean, Long)].collect().toSet
    val batch = graft.operators.Multimodal.sceneCuts(
        Seq((2L, "x"), (9L, "x"), (481L, "x")).toDF("doc_id", "text"))
      .as[(Long, Int, Int, Boolean, Long)].collect().toSet
    assert(got === batch, "streaming scene table must equal the batch q279 table")
    assert(got.count(_._1 == 481L) === 7 && got.filter(_._1 == 481L).map(_._5).max === 3L)
  }

  test("scene cut monitor restart: pending clips process exactly once through the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-scmon-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.sceneCutMonitor(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    mem.addData(StreamTextDoc(2L, "x", ts("2026-01-01 00:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 4) // 2 + 2 % 7 frames
    // a clip delivered while the query is down is processed exactly once
    // by the restarted query — no loss, no duplication (zero-state op:
    // restart safety IS the sink+checkpoint exactly-once contract)
    mem.addData(StreamTextDoc(9L, "x", ts("2026-01-01 00:00:05")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .select($"doc_id", $"frame").as[(Long, Int)].collect().toSeq
    assert(rows.sorted === Seq((2L, 0), (2L, 1), (2L, 2), (2L, 3),
      (9L, 0), (9L, 1), (9L, 2), (9L, 3)).sorted,
      s"each frame row exactly once across the restart: $rows")
  }

  test("VAD monitor emits the batch segmentation bit-identically with zero stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.vadMonitor(mem.toDF())
      .writeStream.format("memory").queryName("vadmon")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(0L, "x", ts("2026-01-01 00:00:00")),
      StreamTextDoc(7L, "x", ts("2026-01-01 00:00:05")),
      StreamTextDoc(313L, "x", ts("2026-01-01 00:00:10")))
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty,
      "the monitor must carry ZERO streaming state")
    q.stop()
    val got = spark.table("vadmon")
      .select($"doc_id", $"n_windows", $"voiced_windows", $"n_segments",
        $"longest_voiced", $"voiced_ratio_micro")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val batch = graft.operators.Multimodal.audioVad(
        Seq((0L, "x"), (7L, "x"), (313L, "x")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === batch, "streaming VAD table must equal the batch q284 table")
  }

  test("VAD monitor restart: pending clips process exactly once through the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-vadmon-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.vadMonitor(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    mem.addData(StreamTextDoc(5L, "x", ts("2026-01-01 00:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 1)
    mem.addData(StreamTextDoc(6L, "x", ts("2026-01-01 00:00:05")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .select($"doc_id").as[Long].collect().toSeq
    assert(rows.sorted === Seq(5L, 6L),
      s"each clip row exactly once across the restart: $rows")
  }

  test("clip dup monitor flags planted trimmed twins against the corpus signature index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // 30 % 23 == 7, so doc 30's clip is the trimmed re-encode of doc
    // 29's; 500 is an unrelated corpus member
    val corpus = Seq((29L, "x"), (500L, "x")).toDF("doc_id", "text")
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.clipDupMonitor(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("clipdup")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(30L, "x", ts("2026-01-01 00:00:00")),  // twin of 29
      StreamTextDoc(777L, "x", ts("2026-01-01 00:00:05")), // distinct clip
      StreamTextDoc(29L, "x", ts("2026-01-01 00:00:10")))  // re-ingest
    q.processAllAvailable(); q.stop()
    val rows = spark.table("clipdup")
      .select($"doc_id", $"corpus_id", $"matched")
      .as[(Long, Long, Int)].collect()
    graft.Caches.releaseAll()
    val byDoc = rows.groupBy(_._1)
    // the twin's verdict equals the batch operator's matched count
    val batch = Multimodal.clipDups(
        Seq((29L, "x"), (30L, "x")).toDF("doc_id", "text"))
      .select($"doc_a", $"doc_b", $"matched")
      .as[(Long, Long, Int)].collect()
    graft.Caches.releaseAll()
    assert(batch.length === 1 && batch.head._1 === 29L && batch.head._2 === 30L)
    assert(byDoc(30L).toSeq === Seq((30L, 29L, batch.head._3)),
      s"twin must flag once with the batch matched count: ${rows.toSeq}")
    // a re-ingested corpus clip matches itself on its full signature
    val n29 = Multimodal.keyframeFps(Multimodal.decodeGifGray(
      Multimodal.syntheticVideoWithTwins(29L)).map(Multimodal.frameFp63)).size
    assert(byDoc(29L).toSeq === Seq((29L, 29L, n29)), "re-ingest flags fully")
    assert(!byDoc.contains(777L), s"distinct clip must pass: ${rows.toSeq}")
  }

  test("quality monitor flags contract violations per window (streaming = batch result)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, 1, "view", 10.0, ts("2026-01-01 00:01:00")),
      Ev(2, 1, "oops", 5.0, ts("2026-01-01 00:05:00")),   // unknown type
      Ev(3, 2, "click", -2.0, ts("2026-01-01 00:10:00")), // negative value
      Ev(4, 2, "view", 1.0, ts("2026-01-01 00:20:00")))   // clean, next window
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.qualityMonitor(mem.toDF())
      .writeStream.format("memory").queryName("qmon")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("qmon")
      .select($"w_start".cast("string"), $"n_events", $"n_negative_value", $"n_unknown_type")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rows === Set(
      ("2026-01-01 00:00:00", 3L, 1L, 1L),
      ("2026-01-01 00:15:00", 1L, 0L, 0L)))

    val batch = StreamingOps.qualityMonitor(events.toDF())
      .select($"w_start".cast("string"), $"n_events", $"n_negative_value", $"n_unknown_type")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(batch === rows)

    // and the REGISTERED batch twin (q202, driver-oracle-gated) computes
    // the same windows under the same violation vocabulary
    val twin = graft.operators.Quality.contractMonitor(events.toDF(),
        knownTypes = Seq("view", "click", "purchase", "signup", "error"))
      .select($"w_start".cast("string"), $"n_events", $"n_negative_value", $"n_unknown_type")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(twin === rows,
      s"registered q202 twin must equal the streaming monitor: $twin vs $rows")
  }

  test("drift monitor computes windowed TV vs a static baseline (streaming = q207 batch twin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // window 1: 3 views + 1 click; window 2: pure 'error' flood (the
    // drift case the monitor exists for)
    val events = Seq(
      Ev(1, 1, "view", 1.0, ts("2026-01-01 00:01:00")),
      Ev(2, 1, "view", 1.0, ts("2026-01-01 00:05:00")),
      Ev(3, 2, "view", 1.0, ts("2026-01-01 00:09:00")),
      Ev(4, 2, "click", 1.0, ts("2026-01-01 00:12:00")),
      Ev(5, 3, "error", 1.0, ts("2026-01-01 00:20:00")),
      Ev(6, 3, "error", 1.0, ts("2026-01-01 00:25:00")))
    val baseline = graft.operators.Quality.driftBaseline(events.toDF())
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.driftMonitor(mem.toDF(), baseline)
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("drift")
      .select($"w_start".cast("string"), $"n_events", $"tv")
      .as[(String, Long, Double)].collect().toSet
    // hand TV, baseline = (3 view, 1 click, 2 error, N=6):
    // w1 (n=4): |3*6-3*4| + |1*6-1*4| + |0-2*4| = 6+2+8 = 16 -> 16/(2*4*6) = 1/3
    // w2 (n=2): |0-3*2| + |0-1*2| + |2*6-2*2| = 6+2+8 = 16 -> 16/(2*2*6) = 2/3
    assert(rows === Set(
      ("2026-01-01 00:00:00", 4L, 16.0 / (2.0 * 4.0 * 6.0)),
      ("2026-01-01 00:15:00", 2L, 16.0 / (2.0 * 2.0 * 6.0))))

    // the REGISTERED batch twin (q207, driver-oracle-gated) computes the
    // same windows against the same baseline
    val twin = graft.operators.Quality.driftMonitor(events.toDF(), baseline)
      .select($"w_start".cast("string"), $"n_events", $"tv")
      .as[(String, Long, Double)].collect().toSet
    assert(twin === rows,
      s"registered q207 twin must equal the streaming monitor: $twin vs $rows")
  }

  test("fluency monitor scores a corpus replay bit-identically to the batch q236 LM") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "a b"), (11L, "a b"), (12L, "a b"), (13L, "a z"),
      (14L, "b a c"),
    ).toDF("doc_id", "text")
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(
      StreamTextDoc(10L, "a b", ts("2026-01-01 00:01:00")),
      StreamTextDoc(13L, "a z", ts("2026-01-01 00:05:00")),
      StreamTextDoc(14L, "b a c", ts("2026-01-01 00:10:00")),
      // entirely unseen text: every head/bigram coalesces to 0, score
      // collapses to exactly V (the add-one unseen price)
      StreamTextDoc(99L, "q q q", ts("2026-01-01 00:15:00")))
    val q = StreamingOps.fluencyMonitor(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("fluency")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.Caches.releaseAll()

    val got = spark.table("fluency")
      .select($"doc_id", $"mean_inv_p").as[(Long, Double)].collect().toMap
    // V = distinct heads in corpus = {a, b} = 2
    assert(got(99L) === 2.0, s"unseen text must score exactly V: $got")
    // replayed corpus docs score exactly as the batch LM trained on the
    // same corpus
    val batch = graft.operators.Corpus.lmFluency(
        corpus.withColumn("lang", org.apache.spark.sql.functions.lit("en")))
      .select($"doc_id", $"mean_inv_p").as[(Long, Double)].collect().toMap
    graft.Caches.releaseAll()
    for (id <- Seq(10L, 13L, 14L))
      assert(got(id) === batch(id),
        s"streaming score for doc $id must equal batch q236: ${got(id)} vs ${batch(id)}")
  }

  test("classifier monitor labels a doc stream bit-identically to the batch q245 scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "alpha beta alpha", "newsy"), (1L, "alpha beta gamma", "newsy"),
      (2L, "zig zag zig", "webby"), (3L, "zag zag boom", "webby"),
    ).toDF("doc_id", "text", "source")
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(
      StreamTextDoc(10L, "alpha beta", ts("2026-01-01 00:01:00")),
      StreamTextDoc(11L, "zig zag zag", ts("2026-01-01 00:05:00")),
      // entirely unseen vocabulary: every class scores n_words * unseen,
      // equal corpora -> exact tie -> lexicographically first class
      StreamTextDoc(12L, "qqq www", ts("2026-01-01 00:10:00")))
    val q = StreamingOps.classifierMonitor(mem.toDF(), corpus)
      .writeStream.format("memory").queryName("clsmon")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.Caches.releaseAll()
    val got = spark.table("clsmon")
      .select($"doc_id", $"predicted").as[(Long, String)].collect().toMap
    assert(got === Map(10L -> "newsy", 11L -> "webby", 12L -> "newsy"))
    // bit-identity with the batch scorer on the same (model, docs)
    val batch = graft.operators.Corpus.nbPredict(corpus,
        Seq((10L, "alpha beta", "x"), (11L, "zig zag zag", "x"),
          (12L, "qqq www", "x")).toDF("doc_id", "text", "source"))
      .select($"doc_id", $"predicted").as[(Long, String)].collect().toMap
    graft.Caches.releaseAll()
    assert(got === batch,
      s"streaming predictions must equal batch q245: $got vs $batch")
  }

  test("cm sketch monitor: windowed cells equal the batch count-min cells, state is the fixed grid") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "ox ox pig emu"), (1L, "pig pig zeta"), (2L, "ox emu emu emu"))
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(texts.zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val (d, w) = (4, 64)
    val q = StreamingOps.cmSketchMonitor(mem.toDF(), d, w)
      .writeStream.format("memory").queryName("cmmon")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cmmon")
      .select($"r", $"b", $"cell").as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    // batch recompute through the SAME shared hash helper
    val batch = texts.toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.Text.words($"text")).as("word"))
      .select((0 until d).map(i =>
        graft.operators.Corpus.cmHash(i, w)($"word").as(s"b_$i")): _*)
      .select(org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.array(
          (0 until d).map(i => $"b_$i"): _*)).as(Seq("r", "b")))
      .groupBy($"r", $"b").count()
      .as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    assert(got === batch, s"streaming cells must equal batch CM: $got vs $batch")
    // the state key space is the grid, never the vocabulary
    assert(got.size <= d * w)
    assert(got.values.sum === 4L * texts.map(_._2.split(" ").length).sum)
  }

  test("cm sketch monitor restart: window cells survive the checkpoint and absorb post-restart words") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-cm-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val (d, w) = (4, 64)
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.cmSketchMonitor(mem.toDF(), d, w, window = "1 day")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: day-1 words land in the open window's cell state
    mem.addData(StreamTextDoc(0L, "ox ox pig", ts("2026-01-01 01:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): more day-1 words must merge into the RESTORED
    // cells; a day-3 doc advances the watermark and closes day 1
    mem.addData(
      StreamTextDoc(1L, "pig emu", ts("2026-01-01 02:00:00")),
      StreamTextDoc(2L, "zeta", ts("2026-01-03 00:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out)
      .filter($"window.start".cast("string").startsWith("2026-01-01"))
      .select($"r", $"b", $"cell").as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    // batch recompute over ALL day-1 words through the shared hash
    val batch = Seq("ox", "ox", "pig", "pig", "emu").toDF("word")
      .select((0 until d).map(i =>
        graft.operators.Corpus.cmHash(i, w)($"word").as(s"b_$i")): _*)
      .select(org.apache.spark.sql.functions.posexplode(
        org.apache.spark.sql.functions.array(
          (0 until d).map(i => $"b_$i"): _*)).as(Seq("r", "b")))
      .groupBy($"r", $"b").count()
      .as[(Int, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap
    assert(got === batch,
      s"restored cells must cover words from both runs: $got vs $batch")
    assert(got.values.sum === 4L * 5, "five day-1 words across the restart")
  }

  test("split router is stateless and bit-identical to the batch q264 assigner; dup copies share a split across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "shared passage"), (1L, "shared passage"),   // exact-dup pair
      (2L, "another text"), (3L, "a third document"))
    val mem = MemoryStream[StreamTextDoc]
    // the dup copies arrive in DIFFERENT micro-batches — the router must
    // still agree with itself (row-local lottery, no cross-batch state)
    mem.addData(StreamTextDoc(0L, texts(0)._2, ts("2026-01-01 00:00:00")),
      StreamTextDoc(2L, texts(2)._2, ts("2026-01-01 00:01:00")))
    val q = StreamingOps.splitRouter(mem.toDF())
      .writeStream.format("memory").queryName("splitroute")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    mem.addData(StreamTextDoc(1L, texts(1)._2, ts("2026-01-01 00:02:00")),
      StreamTextDoc(3L, texts(3)._2, ts("2026-01-01 00:03:00")))
    q.processAllAvailable(); q.stop()
    val got = spark.table("splitroute")
      .select($"doc_id", $"cluster_key", $"split")
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.operators.Prep.clusterSplit(texts.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cluster_key"), r.getAs[String]("split")))).toMap
    assert(got === batch, s"router must equal batch q264: $got vs $batch")
    assert(got(0L) === got(1L),
      "dup copies in different micro-batches must share cluster and split")
  }

  test("admission gate is stateless and bit-identical to the batch q272 audit") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "a perfectly ordinary clean document here"),
      (1L, "too short"),
      (2L, "please merge the branch into main now"),
      (3L, "loop loop loop loop loop loop"),
      (4L, "spill a@b.co"))
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(texts.zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val q = StreamingOps.admissionMonitor(mem.toDF())
      .writeStream.format("memory").queryName("admit")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("admit")
      .select($"doc_id", $"reasons", $"admitted")
      .as[(Long, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val batch = graft.operators.Prep.admissionAudit(
        texts.toDF("doc_id", "text")
          .withColumn("source", org.apache.spark.sql.functions.lit("t")))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("reasons"), r.getAs[Boolean]("admitted")))).toMap
    assert(got === batch, s"gate must equal batch q272: $got vs $batch")
    assert(got(0L)._2 && !got(4L)._2)
  }

  test("admission gate restart: zero-state exactly-once, verdicts stable across the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-admit-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.admissionMonitor(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      StreamTextDoc(0L, "a perfectly ordinary clean document here", ts("2026-01-01 00:00:00")),
      StreamTextDoc(1L, "too short", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    mem.addData(
      StreamTextDoc(2L, "loop loop loop loop loop loop", ts("2026-01-01 00:02:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out)
      .select($"doc_id", $"reasons", $"admitted")
      .as[(Long, String, Boolean)].collect()
    assert(got.length === 3,
      s"each doc must emit exactly once across the restart: ${got.toSeq}")
    assert(got.map(r => r._1 -> ((r._2, r._3))).toMap.apply(2L) ===
      (("repetition", false)),
      "post-restart doc must carry the same verdict the batch audit gives")
  }

  test("repetition monitor is stateless and bit-identical to the batch q237 profile") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq(
      (0L, "x y x y x"),            // top 2/4, dup 4/4, flagged
      (1L, "a b c d e"),            // all distinct, top 1/4, flagged (>0.2)
      (2L, "p q r s t u v w x y"),  // 9 distinct grams, not flagged
      (3L, "z z z z"))              // one gram x3: top 3/3, dup 3/3
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(texts.zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val q = StreamingOps.repetitionMonitor(mem.toDF())
      .writeStream.format("memory").queryName("repmon")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    // stateless contract: the plan carries no stateful operator
    val got = spark.table("repmon")
      .select($"doc_id", $"n_grams", $"top_share", $"dup_share", $"flagged")
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val batch = graft.operators.Corpus.repetitionProfile(
        texts.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Double]("top_share"),
          r.getAs[Double]("dup_share"), r.getAs[Boolean]("flagged")))).toMap
    assert(got === batch,
      s"streaming profile must equal batch q237: $got vs $batch")
    assert(got(3L) === ((3L, 1.0, 1.0, true)))
  }

  test("dup-span monitor scores ingest docs bit-identically to the registered q274 batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def bucketOf(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(4), 16) % 100
    }
    val corpusIds = (0L to 400L).filter(bucketOf(_) < 95).take(2)
    val deltaIds = (0L to 400L).filter(bucketOf(_) >= 95).take(3)
    assert(corpusIds.size === 2 && deltaIds.size === 3)
    val passage = "one two three four five six seven eight nine ten"
    val corpusTexts = Seq(s"$passage and some corpus only trailing words here",
      "a wholly different second corpus document with many words")
    val deltaTexts = Seq(
      passage,                                      // every window hits
      s"novel opening words never seen then $passage closes it",  // run inside
      "completely fresh ingest text with no shared passages at all today")
    val corpusDf = corpusIds.zip(corpusTexts).toDF("doc_id", "text")
    val docsAll = (corpusIds.zip(corpusTexts) ++ deltaIds.zip(deltaTexts))
      .toDF("doc_id", "text")

    val mem = MemoryStream[StreamTextDoc]
    mem.addData(deltaIds.zip(deltaTexts).zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val q = StreamingOps.dupSpanMonitor(mem.toDF(), corpusDf)
      .writeStream.format("memory").queryName("spanmon")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.Caches.releaseAll()
    val got = spark.table("spanmon")
      .select($"doc_id", $"n_windows", $"n_hit", $"hit_share",
        $"top_run_windows", $"top_run_tokens")
      .as[(Long, Long, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

    val twin = graft.operators.Dedup.exactSubstringProbe(docsAll)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_hit"),
          r.getAs[Double]("hit_share"), r.getAs[Long]("top_run_windows"),
          r.getAs[Long]("top_run_tokens")))).toMap
    graft.Caches.releaseAll()
    assert(got === twin,
      s"streaming probe must equal the registered q274 twin: $got vs $twin")
    // contract anchors: the verbatim lift is one full run; novel text zero
    assert(got(deltaIds(0))._3 === 1.0, s"verbatim doc must score 1.0: $got")
    assert(got(deltaIds(0))._5 === 10L, "the full 10-token passage is the run")
    assert(got(deltaIds(2))._2 === 0L && got(deltaIds(2))._4 === 0L,
      s"novel doc must have zero hits: $got")
    assert(got(deltaIds(1))._5 >= 10L,
      s"the embedded passage must surface as a long run: $got")
  }

  test("decontam monitor reports the exact token mass the q289 batch scrub would cut") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val evalDocs = Seq(
      (3L, s"evalprefix $passage"),
      (13L, "another held out benchmark document with distinct words")
    ).toDF("doc_id", "text")
    // train ids avoid the %10==3 eval residue so the BATCH twin puts
    // them on the train side of its internal split
    val trainTexts = Seq(
      1L -> s"$passage traintail",                           // one island
      2L -> s"$passage gap1 gap2 gap3 gap4 gap5 gap6 gap7 gap8 gap9 $passage", // two islands
      5L -> "all unique content here nothing shared with anyone at all")
    val mem = MemoryStream[StreamTextDoc]
    mem.addData(trainTexts.zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val q = StreamingOps.decontamMonitor(mem.toDF(), evalDocs)
      .writeStream.format("memory").queryName("decmon")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.Caches.releaseAll()
    val got = spark.table("decmon")
      .select($"doc_id", $"n_tokens", $"n_hit", $"removed_tokens")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // batch twin on the union (eval ids are %10==3 by construction)
    val union = (evalDocs.as[(Long, String)].collect().toSeq ++ trainTexts)
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = graft.operators.Dedup.decontamScrub(union).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("removed_tokens")))).toMap
    graft.Caches.releaseAll()
    got.foreach { case (id, (n, _, rm)) =>
      assert(batch(id) === ((n, rm)),
        s"doc $id: streaming ($n, $rm) != batch ${batch(id)}") }
    // anchors: single island cuts the passage; the two-island doc cuts both
    assert(got(1L)._3 === 12L)
    assert(got(2L)._3 === 24L, s"both islands must cut: $got")
    assert(got(5L) === ((10L, 0L, 0L)))
  }

  test("cdc chunk monitor scores ingest docs bit-identically to the registered q258 batch probe") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // recreate the operator's md5 bucket rule so the hand corpus lands on
    // the same delta/corpus split the registered batch twin uses
    def bucketOf(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(4), 16) % 100
    }
    val corpusIds = (0L to 400L).filter(bucketOf(_) < 95).take(3)
    val deltaIds = (0L to 400L).filter(bucketOf(_) >= 95).take(3)
    assert(corpusIds.size === 3 && deltaIds.size === 3)
    val passage = "the quick brown fox jumps over the lazy dog again and again"
    val corpusTexts = Seq(passage, s"$passage plus corpus-only tail words",
      "entirely separate corpus material here")
    val deltaTexts = Seq(
      passage,                        // byte-identical -> every chunk hits
      "SHIFTED PREFIX " + passage,    // realigned chunks -> partial hit
      "wholly novel ingest content never seen")   // zero hits
    val corpusDf = corpusIds.zip(corpusTexts).toDF("doc_id", "text")
    val docsAll = (corpusIds.zip(corpusTexts) ++ deltaIds.zip(deltaTexts))
      .toDF("doc_id", "text")

    val mem = MemoryStream[StreamTextDoc]
    mem.addData(deltaIds.zip(deltaTexts).zipWithIndex.map { case ((id, t), i) =>
      StreamTextDoc(id, t, ts(f"2026-01-01 00:0$i:00")) }: _*)
    val q = StreamingOps.cdcChunkMonitor(mem.toDF(), corpusDf)
      .writeStream.format("memory").queryName("cdcmon")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    graft.Caches.releaseAll()
    val got = spark.table("cdcmon")
      .select($"doc_id", $"n_chunks", $"n_hit", $"n_chars", $"dup_chars",
        $"dup_char_share")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

    val twin = graft.operators.Dedup.cdcIngestProbe(docsAll)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_hit"),
          r.getAs[Long]("n_chars"), r.getAs[Long]("dup_chars"),
          r.getAs[Double]("dup_char_share")))).toMap
    graft.Caches.releaseAll()
    assert(got === twin,
      s"streaming probe must equal the registered q258 twin: $got vs $twin")
    // contract anchors: identical text is fully covered, novel text not at all
    assert(got(deltaIds(0))._5 === 1.0, s"byte-identical doc must score 1.0: $got")
    assert(got(deltaIds(2))._5 === 0.0, s"novel doc must score 0.0: $got")
    assert(got(deltaIds(1))._4 > 0L,
      s"shifted copy must realign onto shared chunks: $got")
  }

  test("dup-span monitor restart: per-(window, doc) window rollup survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (100L, "one two three four five six seven eight with corpus tail words"))
      .toDF("doc_id", "text")
    val dirs = java.nio.file.Files.createTempDirectory("graft-span-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.dupSpanMonitor(mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: doc 10's corpus-lifted fragment (one 8-token window, a hit)
    mem.addData(StreamTextDoc(10L,
      "one two three four five six seven eight", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    graft.Caches.releaseAll()

    // run 2 (recovered): a novel fragment of the same doc in the same
    // window must merge into the restored rollup; the late doc advances
    // the watermark so the window finalizes
    mem.addData(
      StreamTextDoc(10L,
        "totally novel ingest fragment never seen anywhere before",
        ts("2026-01-01 00:05:00")),
      StreamTextDoc(50L,
        "one two three four five six seven eight", ts("2026-01-01 01:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    graft.Caches.releaseAll()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"n_windows", $"n_hit", $"top_run_windows",
        $"top_run_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // doc 10 across BOTH runs: two single-window fragments, one hit,
    // longest run 1 window = 8 tokens
    assert(got === Set((10L, 2L, 1L, 1L, 8L)),
      s"doc 10 must merge fragments across the restart: $got")
  }

  test("cdc chunk monitor restart: per-(window, doc) byte rollup survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // sub-window texts (< 8 chars) chunk as exactly one whole-doc chunk,
    // so expected masses are closed-form
    val corpus = Seq((100L, "abcdefg")).toDF("doc_id", "text")
    val dirs = java.nio.file.Files.createTempDirectory("graft-cdc-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.cdcChunkMonitor(mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: a corpus-hit fragment of doc 10 lands in the open window
    mem.addData(StreamTextDoc(10L, "abcdefg", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    graft.Caches.releaseAll()

    // run 2 (recovered): a NOVEL fragment of the same doc in the same
    // window must merge into the restored rollup against a re-planned
    // corpus index; the late doc advances the watermark past the window
    // end so the group finalizes
    mem.addData(
      StreamTextDoc(10L, "zzzzz", ts("2026-01-01 00:05:00")),
      StreamTextDoc(50L, "abcdefg", ts("2026-01-01 01:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    graft.Caches.releaseAll()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"n_chunks", $"n_hit", $"n_chars", $"dup_chars")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // doc 10 across BOTH runs: two whole-doc chunks, one corpus hit —
    // 7 of 12 chars already held by the corpus
    assert(got === Set((10L, 2L, 1L, 12L, 7L)),
      s"doc 10 must merge fragments across the restart: $got")
  }

  test("uniques monitor sketches distinct actives per day (streaming = q209 batch twin, both paths)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // day 1: 6 distinct users with k=4 -> the KMV ESTIMATE path;
    // day 2: 2 distinct users -> the exact path. 8 events total.
    val events = Seq(
      Ev(1, 11, "view", 1.0, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 1.0, ts("2026-01-01 02:00:00")),
      Ev(3, 13, "view", 1.0, ts("2026-01-01 03:00:00")),
      Ev(4, 14, "view", 1.0, ts("2026-01-01 04:00:00")),
      Ev(5, 15, "view", 1.0, ts("2026-01-01 05:00:00")),
      Ev(6, 16, "view", 1.0, ts("2026-01-01 06:00:00")),
      Ev(7, 11, "view", 1.0, ts("2026-01-02 01:00:00")),
      Ev(8, 12, "view", 1.0, ts("2026-01-02 02:00:00")))
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.uniquesMonitor(mem.toDF(), k = 4)
      .writeStream.format("memory").queryName("uniq")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("uniq")
      .select($"w_start".cast("string"), $"n_events", $"ndv_users")
      .as[(String, Long, Long)].collect().toSet
    val byDay = rows.map { case (d, n, u) => d -> (n, u) }.toMap
    assert(byDay.keySet === Set("2026-01-01 00:00:00", "2026-01-02 00:00:00"))
    assert(byDay("2026-01-01 00:00:00")._1 === 6L)
    // estimate path: right order of magnitude (KMV at k=4 has ~1/sqrt(3)
    // relative error, so anything in [2, 24] is a legitimate draw for a
    // true count of 6 — the bit-exact value is pinned by the twin
    // equality below and by the q209 oracle)
    val est = byDay("2026-01-01 00:00:00")._2
    assert(est >= 2L && est <= 24L, s"estimate $est implausible for 6 distinct")
    assert(byDay("2026-01-02 00:00:00") === ((2L, 2L)), "below-k day must be exact")

    // the registered q209 batch twin computes the identical sketch
    val twin = graft.operators.Quality.dailyUniques(events.toDF(), k = 4)
      .select($"w_start".cast("string"), $"n_events", $"ndv_users")
      .as[(String, Long, Long)].collect().toSet
    assert(twin === rows,
      s"registered q209 twin must equal the streaming monitor: $twin vs $rows")
  }

  test("uniques monitor restart: the KMV buffer survives the checkpoint and merges post-restart arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-uniq-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[Ev]
    def start() = StreamingOps.uniquesMonitor(mem.toDF(), k = 2)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: two day-1 users land in the open window's sketch state
    mem.addData(
      Ev(1, 11, "view", 1.0, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 1.0, ts("2026-01-01 02:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered from the checkpoint): a third day-1 user must
    // merge into the RESTORED sketch, and the day-3 event pushes the
    // watermark past day-1's end so the finalized window emits
    mem.addData(
      Ev(3, 13, "view", 1.0, ts("2026-01-01 03:00:00")),
      Ev(4, 21, "view", 1.0, ts("2026-01-03 00:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(out)
      .select($"w_start".cast("string"), $"n_events", $"ndv_users")
      .as[(String, Long, Long)].collect().toSeq
    // only day 1 is finalized; its sketch must cover users from BOTH runs
    val all = Seq(
      Ev(1, 11, "view", 1.0, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 1.0, ts("2026-01-01 02:00:00")),
      Ev(3, 13, "view", 1.0, ts("2026-01-01 03:00:00")))
    val expected = graft.operators.Quality.dailyUniques(all.toDF(), k = 2)
      .select($"w_start".cast("string"), $"n_events", $"ndv_users")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows === expected,
      s"restored sketch must equal the batch twin over all three day-1 events: $rows vs $expected")
    assert(rows.head._2 === 3L, "all three events, across the restart, must be counted")
  }

  test("streaming near-dup equals the registered q201 batch twin on the bucket split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pick real ids on each side of the 95/5 md5-bucket split the twin
    // uses, so the streaming side (bucket >= 95 plays the arriving
    // stream) and the corpus side line up with the twin's partition of
    // ONE documents table
    val buckets = spark.range(1, 4000)
      .select(col("id"), graft.operators.Corpus.hashBucket(col("id")).as("b"))
      .as[(Long, Long)].collect()
    val streamIds = buckets.collect { case (id, b) if b >= 95 => id }.take(3)
    val corpusIds = buckets.collect { case (id, b) if b < 95 => id }.take(2)
    assert(streamIds.length === 3 && corpusIds.length === 2)
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (corpusIds(0), base),
      (corpusIds(1), "totally different reference text about catalyst and tungsten internals"),
      (streamIds(0), base),                               // exact dup of corpus doc
      (streamIds(1), base.replace("today", "tonight")),   // near dup
      (streamIds(2), "unrelated fresh content words entirely new and never seen before"))
      .toDF("doc_id", "text")

    val twin = graft.operators.Dedup.corpusNearDupProbe(
        docs, bands = 4, rowsPerBand = 2, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    Caches.releaseAll()

    val corpus = docs.filter(col("doc_id").isin(corpusIds: _*))
    val mem = MemoryStream[StreamTextDoc]
    val q = StreamingOps.nearDupAgainstCorpus(mem.toDF(), corpus, threshold = 0.5)
      .writeStream.format("memory").queryName("neardup_twin")
      .outputMode(OutputMode.Append()).start()
    mem.addData(streamIds.zipWithIndex.map { case (id, i) =>
      StreamTextDoc(id,
        docs.filter(col("doc_id") === id).select("text").as[String].head(),
        ts(s"2026-01-01 00:0$i:00"))
    }.toIndexedSeq: _*)
    q.processAllAvailable(); q.stop()
    Caches.releaseAll()

    val streamed = spark.table("neardup_twin")
      .select($"doc_id", $"corpus_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed.nonEmpty, "the dup pairs must actually be flagged")
    assert(streamed === twin,
      s"streaming probe and registered q201 twin must agree: $streamed vs $twin")
  }

  test("chargeMonitor: streaming alerts equal the batch screen across triggers") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{Charge, ChargeAlert}
    def ts(d: Int) = Timestamp.valueOf(f"2026-01-$d%02d 00:00:00")
    // cust 1: 100.00 then 102.00 five days later (alert), then 200.00
    // (clean); the pair is SPLIT ACROSS TRIGGERS so the alert must come
    // from the state store, not within-batch comparison.
    // cust 2: same-day exact duplicate (alert in one trigger).
    val mem = MemoryStream[Charge]
    val q = StreamingOps.chargeMonitor(mem.toDS())
      .writeStream.format("memory").queryName("charges")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      Charge(1L, 1L, 10000L, ts(1)),
      Charge(4L, 2L, 10000L, ts(1)), Charge(5L, 2L, 10000L, ts(1)))
    q.processAllAvailable()
    mem.addData(
      Charge(2L, 1L, 10200L, ts(6)),
      Charge(3L, 1L, 20000L, ts(10)))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("charges").as[ChargeAlert].collect()
      .map(a => (a.o_custkey, a.prev_key, a.o_orderkey, a.prev_c, a.cents, a.gap_days)).toSet
    assert(streamed === Set(
      (1L, 1L, 2L, 10000L, 10200L, 5L),
      (2L, 4L, 5L, 10000L, 10000L, 0L)))
    // batch twin on the same rows, via the q134 operator
    val orders = Seq(
      (1L, 1L, ts(1), 100.00), (2L, 1L, ts(6), 102.00), (3L, 1L, ts(10), 200.00),
      (4L, 2L, ts(1), 100.00), (5L, 2L, ts(1), 100.00)
    ).map { case (k, c, t, p) => (k, c, "O", p, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val batch = graft.operators.Advanced.duplicateCharges(orders).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(streamed === batch)
  }

  test("quantile monitor sketches daily percentiles (streaming = q240 batch twin, both paths)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // day 1: 6 events with k=4 -> the capped-sample path;
    // day 2: 2 events -> the exact path.
    val events = Seq(
      Ev(1, 11, "view", 1.00, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 2.00, ts("2026-01-01 02:00:00")),
      Ev(3, 13, "view", 3.00, ts("2026-01-01 03:00:00")),
      Ev(4, 14, "view", 4.00, ts("2026-01-01 04:00:00")),
      Ev(5, 15, "view", 5.00, ts("2026-01-01 05:00:00")),
      Ev(6, 16, "view", 6.00, ts("2026-01-01 06:00:00")),
      Ev(7, 11, "view", 7.00, ts("2026-01-02 01:00:00")),
      Ev(8, 12, "view", 9.00, ts("2026-01-02 02:00:00")))
    val mem = MemoryStream[Ev]
    mem.addData(events: _*)
    val q = StreamingOps.quantileMonitor(mem.toDF(), k = 4)
      .writeStream.format("memory").queryName("quant")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()

    val rows = spark.table("quant")
      .select($"w_start".cast("string"), $"n_events", $"sample_n",
        $"p50_c", $"p90_c", $"p99_c")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val byDay = rows.map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(byDay.keySet === Set("2026-01-01 00:00:00", "2026-01-02 00:00:00"))
    // capped day: 6 events, sample holds exactly k=4
    assert(byDay("2026-01-01 00:00:00")._1 === 6L)
    assert(byDay("2026-01-01 00:00:00")._2 === 4L)
    // exact day: 2 events (700c, 900c); p50 = rank ceil(1/2*2)=1 -> 700,
    // p90/p99 = rank 2 -> 900
    assert(byDay("2026-01-02 00:00:00") === ((2L, 2L, 700L, 900L, 900L)))

    // the registered q240 batch twin computes the identical sketch
    val twin = graft.operators.Quality.dailyValueQuantiles(events.toDF(), k = 4)
      .select($"w_start".cast("string"), $"n_events", $"sample_n",
        $"p50_c", $"p90_c", $"p99_c")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(twin === rows,
      s"registered q240 twin must equal the streaming monitor: $twin vs $rows")
  }

  test("quantile monitor restart: the sketch buffer survives the checkpoint and merges post-restart arrivals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-quant-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[Ev]
    def start() = StreamingOps.quantileMonitor(mem.toDF(), k = 2)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: two day-1 values land in the open window's sketch state
    mem.addData(
      Ev(1, 11, "view", 5.00, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 1.00, ts("2026-01-01 02:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered from the checkpoint): a third day-1 value must
    // merge into the RESTORED k=2 sketch; the day-3 event closes day 1
    mem.addData(
      Ev(3, 13, "view", 3.00, ts("2026-01-01 03:00:00")),
      Ev(4, 21, "view", 9.00, ts("2026-01-03 00:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val rows = spark.read.parquet(out)
      .select($"w_start".cast("string"), $"n_events", $"sample_n",
        $"p50_c", $"p90_c", $"p99_c")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val all = Seq(
      Ev(1, 11, "view", 5.00, ts("2026-01-01 01:00:00")),
      Ev(2, 12, "view", 1.00, ts("2026-01-01 02:00:00")),
      Ev(3, 13, "view", 3.00, ts("2026-01-01 03:00:00")))
    val expected = graft.operators.Quality.dailyValueQuantiles(all.toDF(), k = 2)
      .select($"w_start".cast("string"), $"n_events", $"sample_n",
        $"p50_c", $"p90_c", $"p99_c")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(rows === expected,
      s"restored sketch must equal the batch twin over all three day-1 events: $rows vs $expected")
    assert(rows.head._2 === 3L, "all three events, across the restart, must be counted")
    assert(rows.head._3 === 2L, "the restored sample must still cap at k=2")
  }

  test("fluency monitor restart: window state and the static-side LM survive the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (10L, "a b"), (11L, "a b"), (12L, "a b"), (13L, "a z"),
      (14L, "b a c"),
    ).toDF("doc_id", "text")
    val dirs = java.nio.file.Files.createTempDirectory("graft-flu-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.fluencyMonitor(mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: doc 10's first fragment lands in the open window's sums
    mem.addData(StreamTextDoc(10L, "a b", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    graft.Caches.releaseAll()

    // run 2 (recovered): a second fragment of the SAME doc in the same
    // window must merge into the restored sums, scored by a RE-PLANNED
    // static-side LM; the late doc advances the watermark past the
    // window end so the group finalizes
    mem.addData(
      StreamTextDoc(10L, "a z", ts("2026-01-01 00:05:00")),
      StreamTextDoc(50L, "a b", ts("2026-01-01 01:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    graft.Caches.releaseAll()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"n_bigrams", $"mean_inv_p")
      .as[(Long, Long, Double)].collect().toSet
    // LM from the 5-doc corpus: bg(a b)=3, bg(a z)=1, heads a=5, b=1,
    // V=2. inv_p(a b) = 1e6*(5+2) div 4 = 1750000;
    // inv_p(a z) = 1e6*7 div 2 = 3500000. Doc 10 across BOTH runs holds
    // both bigrams: mean = 2.625.
    assert(got === Set((10L, 2L, 2.625)),
      s"doc 10 must merge fragments across the restart under the re-planned LM: $got")
  }

  test("classifier monitor restart: per-class sums and the re-planned static model survive the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "alpha beta alpha", "newsy"), (1L, "alpha beta gamma", "newsy"),
      (2L, "zig zag zig", "webby"), (3L, "zag zag boom", "webby"),
    ).toDF("doc_id", "text", "source")
    val dirs = java.nio.file.Files.createTempDirectory("graft-cls-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.classifierMonitor(mem.toDF(), corpus)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: doc 10 arrives as a webby-leaning fragment
    mem.addData(StreamTextDoc(10L, "zig zag", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    graft.Caches.releaseAll()

    // run 2 (recovered): the rest of doc 10 is STRONGLY newsy — the
    // restored per-class sums must merge with fragment 2 under a
    // re-planned static model and flip the verdict; the late doc closes
    // the window
    mem.addData(
      StreamTextDoc(10L, "alpha beta alpha beta alpha beta alpha beta",
        ts("2026-01-01 00:05:00")),
      StreamTextDoc(50L, "zig zag", ts("2026-01-01 01:30:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    graft.Caches.releaseAll()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"predicted").as[(Long, String)].collect().toSet
    // batch scorer over the MERGED doc-10 text agrees
    val batch = graft.operators.Corpus.nbPredict(corpus,
        Seq((10L, "zig zag alpha beta alpha beta alpha beta alpha beta", "x"))
          .toDF("doc_id", "text", "source"))
      .select($"doc_id", $"predicted").as[(Long, String)].collect().toSet
    graft.Caches.releaseAll()
    assert(got === batch && got === Set((10L, "newsy")),
      s"merged fragments must re-score under the restored sums: $got vs $batch")
  }

  test("repetition monitor restart: zero-state exactly-once — no re-emits, new docs processed") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-rep-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.repetitionMonitor(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      StreamTextDoc(0L, "x y x y x", ts("2026-01-01 00:00:00")),
      StreamTextDoc(1L, "a b c d e", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    mem.addData(
      StreamTextDoc(2L, "p q r s t u v w x y", ts("2026-01-01 00:02:00")),
      StreamTextDoc(3L, "z z z z", ts("2026-01-01 00:03:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"n_grams", $"top_share", $"dup_share", $"flagged")
      .as[(Long, Long, Double, Double, Boolean)].collect()
    assert(got.length === 4,
      s"each doc must emit exactly once across the restart: ${got.toSeq}")
    val batch = graft.operators.Corpus.repetitionProfile(
        Seq((0L, "x y x y x"), (1L, "a b c d e"),
          (2L, "p q r s t u v w x y"), (3L, "z z z z"))
          .toDF("doc_id", "text"))
      .select($"doc_id", $"n_grams", $"top_share", $"dup_share", $"flagged")
      .as[(Long, Long, Double, Double, Boolean)].collect().toSet
    assert(got.toSet === batch,
      "post-restart output must still equal the batch q237 profile")
  }

  test("split router restart: zero-state exactly-once — no re-routes, post-restart copy matches pre-restart verdict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-split-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[StreamTextDoc]
    def start() = StreamingOps.splitRouter(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    mem.addData(
      StreamTextDoc(0L, "shared passage", ts("2026-01-01 00:00:00")),
      StreamTextDoc(1L, "another text", ts("2026-01-01 00:01:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): a COPY of doc 0's text arrives after the restart
    mem.addData(
      StreamTextDoc(2L, "shared passage", ts("2026-01-01 00:02:00")),
      StreamTextDoc(3L, "fresh post-restart text", ts("2026-01-01 00:03:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val got = spark.read.parquet(out)
      .select($"doc_id", $"cluster_key", $"split")
      .as[(Long, String, String)].collect()
    assert(got.length === 4,
      s"each doc must route exactly once across the restart: ${got.toSeq}")
    val byId = got.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(0L) === byId(2L),
      "the post-restart copy must land in the pre-restart doc's split")
    val batch = graft.operators.Prep.clusterSplit(
        Seq((0L, "shared passage"), (1L, "another text"),
          (2L, "shared passage"), (3L, "fresh post-restart text"))
          .toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("cluster_key"), r.getAs[String]("split")))).toMap
    assert(byId === batch,
      "post-restart output must still equal the batch q264 assignment")
  }

  test("funnel tracker restart: partial funnel progress survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-funnel-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[Ev]
    def start() = StreamingOps.funnelTracker(mem.toDS(), idle = "1 hour")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: user 1 is mid-funnel (view+click), user 2 has only viewed
    mem.addData(
      Ev(1, 1, "view", 0.0, ts("2026-01-01 10:00:00")),
      Ev(2, 1, "click", 0.0, ts("2026-01-01 10:05:00")),
      Ev(3, 2, "view", 0.0, ts("2026-01-01 10:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): the purchase must complete user 1 from the
    // RESTORED progress; watermark pushes then flush user 2's restored
    // state via the event-time timeout
    val q2 = start()
    mem.addData(Ev(4, 1, "purchase", 42.0, ts("2026-01-01 10:10:00")))
    q2.processAllAvailable()
    mem.addData(Ev(5, 3, "view", 0.0, ts("2026-01-01 15:00:00")))
    q2.processAllAvailable()
    mem.addData(Ev(6, 3, "click", 0.0, ts("2026-01-01 15:01:00")))
    q2.processAllAvailable()
    q2.stop()

    import graft.streaming.FunnelEmit
    val rows = spark.read.parquet(out).as[FunnelEmit].collect()
    val u1 = rows.filter(_.user_id == 1L)
    assert(u1.length === 1, s"user 1 must complete exactly once: ${rows.toSeq}")
    assert(u1.head.stage === 3 && u1.head.completed)
    assert(u1.head.view_sec.get === ts("2026-01-01 10:00:00").getTime / 1000,
      "the completing emission must carry the PRE-restart view time")
    val u2 = rows.filter(_.user_id == 2L)
    assert(u2.length === 1 && u2.head.stage === 1 && !u2.head.completed,
      s"user 2's restored view-only state must flush by timeout: ${rows.toSeq}")
  }

  test("charge monitor restart: the last-charge tuple survives the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Charge
    val dirs = java.nio.file.Files.createTempDirectory("graft-charge-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[Charge]
    def start() = StreamingOps.chargeMonitor(mem.toDS())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: a clean first charge — no alert, state = (101, day, cents)
    mem.addData(Charge(101, 7, 10000, ts("2026-01-01 00:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): a 1%-off charge 5 days later must alert against
    // the restored tuple — if state were lost this looks like a first
    // charge and the fraud signal silently disappears
    mem.addData(Charge(102, 7, 10100, ts("2026-01-06 00:00:00")))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    import graft.streaming.ChargeAlert
    val alerts = spark.read.parquet(out).as[ChargeAlert].collect().toSet
    assert(alerts === Set(ChargeAlert(7L, 101L, 102L, 10000L, 10100L, 5L)),
      s"the near-duplicate charge must alert against pre-restart state: $alerts")
  }

  test("session window restart: an open session extends across the checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-session-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val mem = MemoryStream[Ev]
    def start() = StreamingOps.sessionized(mem.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: user 7's session is OPEN (two events 10 min apart; the
    // 30-min gap hasn't elapsed, the 1-h watermark holds it back)
    mem.addData(
      Ev(1, 7, "view", 1.0, ts("2026-01-01 10:00:00")),
      Ev(2, 7, "view", 2.0, ts("2026-01-01 10:10:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): a third event must EXTEND the restored open
    // session (not start a new one); far-future events then advance the
    // watermark past the session end so it finalizes and emits
    val q2 = start()
    mem.addData(Ev(3, 7, "view", 4.0, ts("2026-01-01 10:20:00")))
    q2.processAllAvailable()
    mem.addData(Ev(4, 8, "view", 8.0, ts("2026-01-01 14:00:00")))
    q2.processAllAvailable()
    mem.addData(Ev(5, 8, "view", 8.0, ts("2026-01-01 14:01:00")))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out)
      .select($"s_start".cast("string"), $"s_end".cast("string"),
        $"user_id", $"n_events", $"session_value")
      .as[(String, String, Long, Long, Double)].collect().toSet
    // one MERGED session: starts at the pre-restart first event, ends
    // 30 min after the post-restart last event, counts all three
    assert(got === Set(("2026-01-01 10:00:00", "2026-01-01 10:50:00", 7L, 3L, 7.0)),
      s"the session must merge across the restart: $got")
  }

  test("clickAbandon: unmatched clicks emit NULLs only once the watermark proves no purchase can come") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamingOps.clickAbandon(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("abandon")
      .outputMode(OutputMode.Append()).start()

    clicks.addData(
      Ev(10, 1, "click", 0.0, ts("2026-01-01 10:00:00")), // converts
      Ev(11, 2, "click", 0.0, ts("2026-01-01 10:00:00"))) // abandons
    purchases.addData(
      Ev(20, 1, "purchase", 99.0, ts("2026-01-01 10:30:00")))
    q.processAllAvailable()
    // before the watermark passes 11:00, user 2 must NOT have a verdict
    val early = spark.table("abandon").select($"user_id").as[Long].collect().toSet
    assert(!early.contains(2L),
      s"user 2's abandonment cannot be proven yet: $early")
    // advance BOTH streams (the join watermark is the min across inputs)
    clicks.addData(Ev(12, 3, "click", 0.0, ts("2026-01-01 13:00:00")))
    purchases.addData(Ev(21, 9, "purchase", 1.0, ts("2026-01-01 13:00:00")))
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("abandon")
      .select($"user_id", $"click_id",
        $"purchase_id", $"amount")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    val u1 = rows.filter(_._1 == 1L)
    assert(u1 === Array((1L, 10L, Some(20L), Some(99.0))),
      s"user 1's click must annotate with its purchase: ${rows.toSeq}")
    val u2 = rows.filter(_._1 == 2L)
    assert(u2 === Array((2L, 11L, None, None)),
      s"user 2 must emit exactly one watermark-proven NULL row: ${rows.toSeq}")
  }

  test("clickAbandon restart: buffered click state survives and verdicts stay exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dirs = java.nio.file.Files.createTempDirectory("graft-abandon-restart").toString
    val (out, ckpt) = (s"$dirs/out", s"$dirs/ckpt")
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    def start() = StreamingOps.clickAbandon(clicks.toDF(), purchases.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    // run 1: two clicks buffered, no purchases yet
    clicks.addData(
      Ev(10, 1, "click", 0.0, ts("2026-01-01 10:00:00")),
      Ev(11, 2, "click", 0.0, ts("2026-01-01 10:00:00")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // run 2 (recovered): user 1's purchase lands within the horizon and
    // must match the RESTORED click; watermark pushes then prove user 2
    // abandoned
    val q2 = start()
    purchases.addData(Ev(20, 1, "purchase", 99.0, ts("2026-01-01 10:45:00")))
    q2.processAllAvailable()
    clicks.addData(Ev(12, 3, "click", 0.0, ts("2026-01-01 13:00:00")))
    purchases.addData(Ev(21, 9, "purchase", 1.0, ts("2026-01-01 13:00:00")))
    q2.processAllAvailable()
    q2.processAllAvailable()
    q2.stop()

    val rows = spark.read.parquet(out)
      .select($"user_id", $"click_id", $"purchase_id", $"amount")
      .as[(Long, Long, Option[Long], Option[Double])].collect()
    assert(rows.filter(_._1 == 1L) === Array((1L, 10L, Some(20L), Some(99.0))),
      s"the post-restart purchase must match the pre-restart click: ${rows.toSeq}")
    assert(rows.filter(_._1 == 2L) === Array((2L, 11L, None, None)),
      s"user 2's restored click must flush as watermark-proven abandoned: ${rows.toSeq}")
  }

  test("assignment monitor equals batch deltaAssign on the same rows with zero stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dims = 8
    // the q296 family: two loose vector families plus a per-(id, dim)
    // ripple; the md5 bucket split decides which rows are the corpus
    // tier (codebook training) and which arrive on the stream
    val vecs = (0L until 60L).map { i =>
      val base =
        if (i % 2 == 0) Seq.fill(dims)(0.8f)
        else Seq.tabulate(dims)(j => if (j % 2 == 0) 0.7f else -0.7f)
      (i, base.zipWithIndex.map { case (x, j) => x + ((i * 7 + j) % 5) * 0.01f })
    }
    val full = vecs.toDF("vec_id", "embedding")
    val corpusTier = full.filter(graft.operators.Corpus.hashBucket(col("vec_id")) < 95)
    val deltaIds = full.filter(graft.operators.Corpus.hashBucket(col("vec_id")) >= 95)
      .select("vec_id").as[Long].collect().toSet
    assert(deltaIds.nonEmpty, "the split must produce arriving rows")

    val mem = MemoryStream[StreamEmb]
    val q = StreamingOps.assignMonitor(mem.toDF(), corpusTier, nCells = 4, iters = 2)
      .writeStream.format("memory").queryName("assignmon")
      .outputMode(OutputMode.Append()).start()
    val byId = vecs.toMap
    mem.addData(deltaIds.toSeq.sorted.map(id =>
      StreamEmb(id, byId(id), ts("2026-01-01 00:00:00"))): _*)
    q.processAllAvailable()
    assert(q.lastProgress.stateOperators.isEmpty,
      "the assignment monitor must carry ZERO streaming state")
    q.stop()
    val got = spark.table("assignmon")
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    val batch = graft.operators.Similarity.deltaAssign(full, nCells = 4, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === batch,
      "streaming assignments must equal the batch deltaAssign verdicts")
    graft.Caches.releaseAll()
  }
}
