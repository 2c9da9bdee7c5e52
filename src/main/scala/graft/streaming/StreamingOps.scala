package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for the stateful operators (mirrors the testdata
  * `events` schema; ts carried as epoch micros so the case-class encoder
  * stays trivial).
  */
case class Ev(event_id: Long, user_id: Long, event_type: String,
              value: Double, ts: java.sql.Timestamp)

/** Latest-known state per user — the streaming analog of the reference's
  * keyed DynamoDB table (reference: script/TributeStreamingJob.py:49-66),
  * maintained ENGINE-side in the state store instead of sink-side.
  */
case class UserLatest(user_id: Long, event_id: Long, event_type: String,
                      value: Double, ts: java.sql.Timestamp)

/** Per-user funnel progress (view seen? click seen?) — the arbitrary
  * state carried by `StreamingOps.funnelTracker`.
  */
case class FunnelProgress(viewSec: Option[Long], clickSec: Option[Long])

/** A funnel emission: a completed view→click→purchase (stage 3,
  * completed=true) or an abandoned funnel flushed by idle timeout
  * (stage 1-2, completed=false).
  */
case class FunnelEmit(user_id: Long, stage: Int,
                      view_sec: Option[Long], click_sec: Option[Long],
                      purchase_sec: Option[Long], completed: Boolean)

/** A charge row for the streaming fraud monitor (order-shaped: amount
  * pre-quantized to cents; ts is the order's event time). */
case class Charge(o_orderkey: Long, o_custkey: Long, cents: Long,
                  ts: java.sql.Timestamp)

/** An emitted duplicate-charge alert — same fields as the batch screen
  * (operators.Advanced.duplicateCharges) so stream and batch verdicts
  * compare row-for-row. */
case class ChargeAlert(o_custkey: Long, prev_key: Long, o_orderkey: Long,
                       prev_c: Long, cents: Long, gap_days: Long)

/** One retained counter in a shard's Misra–Gries summary: `lb` is a
  * LOWER bound on the gram's true shard-local count (MG counters only
  * ever under-count). */
case class GramCount(gram: String, lb: Long)

/** A shard's heavy-hitter summary, re-emitted each trigger the shard
  * sees data: tokens processed so far and the retained candidates,
  * best-first. */
case class HHShard(shard: Int, n_tokens: Long, candidates: Seq[GramCount])

/** Event-time streaming operators (SURVEY.md §7.1 module 5): the windowed/
  * sessionized/stateful shapes the reference lacks, built the way they
  * must be built at scale — every aggregation carries a WATERMARK so the
  * state store is bounded (without one, streaming state grows without
  * limit; SURVEY §7.4 risk 6).
  *
  * All take a streaming OR batch DataFrame with the `events` schema —
  * Structured Streaming's unified model means the same plan runs both
  * ways, which is how the specs golden-test them.
  */
object StreamingOps {

  private def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))

  /** Tumbling 1-day windows per event type. Watermark bounds state to
    * ~2 days per type; late rows beyond it are dropped by design.
    */
  def tumblingDaily(events: DataFrame, watermark: String = "1 day"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("day"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes (4× overlap ⇒ each row lands
    * in 4 windows; Spark expands map-side, so the shuffle carries the
    * pre-aggregated expansion, not raw rows).
    */
  def slidingHourly(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"))

  /** Streaming data-quality monitor: per tumbling window, how many
    * arriving events violate each contract clause (negative measure,
    * event type outside the declared vocabulary) alongside the window's
    * total — the continuous arm of the batch Quality audits, and the
    * signal an ingestion pipeline alerts on BEFORE bad data reaches a
    * sink. Violations are flagged in the scan projection (pure
    * when/otherwise columns, map-side), so the stateful aggregation
    * carries exactly one pre-combined row per (window) per partition;
    * watermarked, so monitor state is bounded however long the stream
    * runs.
    */
  def qualityMonitor(
      events: DataFrame,
      knownTypes: Seq[String] = Seq("view", "click", "purchase", "signup", "error"),
      watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .select(col("ts"),
        when(col("value") < 0, 1L).otherwise(0L).as("v_neg"),
        when(!col("event_type").isin(knownTypes: _*), 1L).otherwise(0L).as("v_type"))
      .groupBy(window(col("ts"), "15 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("v_neg")).as("n_negative_value"),
        sum(col("v_type")).as("n_unknown_type"))
      .select(col("window.start").as("w_start"), col("n_events"),
        col("n_negative_value"), col("n_unknown_type"))

  /** Streaming distribution-drift monitor: per tumbling window, the
    * total-variation distance between the window's event-type
    * distribution and a STATIC baseline distribution (one broadcast row,
    * e.g. last week's healthy traffic via Quality.driftBaseline) — the
    * alarm that fires when traffic composition shifts even while every
    * per-event contract (qualityMonitor) still passes. The type domain is
    * the FIXED vocabulary + an 'other' bucket, which is what makes the
    * distance computable inside a single watermarked windowed aggregate
    * (one typed count column per vocabulary entry); the TV projection and
    * the stream-static cross join after the aggregate are stateless.
    * Exact integer arithmetic + one correctly-rounded division — the
    * registered batch twin (q207, Quality.driftMonitor) is the identical
    * projection/aggregate and carries the DuckDB oracle.
    */
  def driftMonitor(events: DataFrame, baseline: DataFrame,
                   types: Seq[String] = graft.operators.Quality.DriftTypes,
                   watermark: String = "1 hour"): DataFrame = {
    val cs = graft.operators.Quality.driftCounts(types)
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(cs.head, cs.tail: _*)
      .crossJoin(broadcast(baseline))
      .select(col("w.start").as("w_start"), col("n_events"),
        graft.operators.Quality.driftTv(types).as("tv"))
  }

  /** Streaming distinct-actives monitor: per tumbling day, the event
    * count and the KMV-sketched distinct-user count. Streaming
    * aggregation cannot run `count_distinct` (unbounded per-group
    * state); the KMV `Aggregator` is a legal streaming UDAF whose state
    * is k longs per open window — bounded however many users exist — and
    * md5-derived + order-independent, so batch and streaming return the
    * IDENTICAL estimate (the registered q209 batch twin,
    * Quality.dailyUniques, carries the DuckDB oracle; StreamingOpsSpec
    * pins the equality).
    */
  def uniquesMonitor(events: DataFrame, k: Int = 64,
                     watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val kmv = udaf(new graft.functions.KMinValues(k), Encoders.scalaLong)
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        kmv(graft.operators.Corpus.h48(col("user_id").cast("string"))).as("ndv_users"))
      .select(col("w.start").as("w_start"), col("n_events"), col("ndv_users"))
  }

  /** Streaming percentile monitor: per tumbling day, p50/p90/p99 of the
    * event value from the BottomKQuantile sketch. Streaming aggregation
    * cannot do exact nearest-rank (it would buffer every row of every
    * open window); the bottom-k sample is a legal streaming UDAF whose
    * state is k (hash, value) pairs per open window — bounded however
    * many events arrive — and md5-derived + order-independent, so batch
    * and streaming land on IDENTICAL longs (the registered q240 batch
    * twin, Quality.dailyValueQuantiles, carries the DuckDB oracle;
    * StreamingOpsSpec pins the equality and the checkpoint restart).
    * Set semantics on (hash, value) make re-delivered events (an
    * at-least-once source replaying after failure) no-ops in the sketch.
    */
  def quantileMonitor(events: DataFrame, k: Int = 256,
                      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.Encoders
    val bkq = udaf(new graft.functions.BottomKQuantile(k),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        bkq(graft.operators.Corpus.h48(col("event_id").cast("string")),
          (col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("samp"))
      .select(col("w.start").as("w_start") +: col("n_events") +:
        graft.operators.Quality.rankPicks(): _*)
  }

  /** Session windows per user with an idle gap: the engine-native version
    * of Relational.sessionize. State = one open session per active user,
    * closed and emitted once the watermark passes the gap.
    */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
                  watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("session_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Streaming exactly-once-per-id dedup: drops re-deliveries of the same
    * event_id within the watermark horizon. State = one entry per distinct
    * id seen in the last `watermark` of event time — bounded, because the
    * watermark lets the store expire ids older than the horizon (an
    * unbounded `dropDuplicates` without watermark would grow forever; at
    * 100 TB/day that is the difference between a working pipeline and an
    * OOM). An at-least-once source (Kinesis/Kafka replay after failure,
    * reference: checkpoint + foreach redelivery, SURVEY §2 #23) composes
    * with this into effective exactly-once.
    */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases matched to the click that preceded
    * them by at most `horizon` for the same user. BOTH sides carry
    * watermarks and the join condition carries an explicit event-time range
    * — that pair is what lets the engine expire buffered rows (a
    * stream-stream join without a time bound buffers both streams forever).
    * Shuffles both sides by user_id once; state per user is bounded by the
    * horizon.
    */
  def clickToPurchase(clicks: DataFrame, purchases: DataFrame,
                      horizon: String = "1 hour"): DataFrame = {
    val c = withEventTime(clicks)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val p = withEventTime(purchases)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("amount"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("amount"), col("click_ts"), col("purchase_ts"))
  }

  /** Stream-stream LEFT OUTER join: every click, annotated with the
    * purchase that followed it within `horizon` — or with NULLs once the
    * watermark proves no purchase can still arrive. The NULL rows are
    * the funnel-drop feed ([[clickToPurchase]]'s inner join can never
    * emit them): a click row is held in state until event time passes
    * `click_ts + horizon`, and only then released unmatched — so
    * "abandoned" is a WATERMARK-PROVEN verdict, not a guess, and state
    * stays bounded by the horizon exactly as in the inner join. The
    * standard alert feed on it is `WHERE purchase_id IS NULL`.
    */
  def clickAbandon(clicks: DataFrame, purchases: DataFrame,
                   horizon: String = "1 hour"): DataFrame = {
    val c = withEventTime(clicks)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val p = withEventTime(purchases)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("amount"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .select(col("c_user").as("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("amount"), col("purchase_ts"))
  }

  /** Engine-side last-writer-wins keyed state via mapGroupsWithState: the
    * state store holds exactly one `UserLatest` per user (bounded by key
    * cardinality), each trigger emits the updated state for the keys seen
    * in that batch — the reference's DynamoDB upsert semantics without an
    * external store (SURVEY §2 #20, engine-side variant).
    */
  /** Continuous funnel tracking via flatMapGroupsWithState — the
    * arbitrary-state API shape the other operators don't exercise:
    * multi-row output per group per trigger, plus an EVENT-TIME TIMEOUT
    * that flushes abandoned funnels. The streaming twin of
    * operators.Advanced.funnelStages.
    *
    * Semantics: per user, a view opens a funnel, the first later click
    * advances it, a purchase after a click completes it (emitted
    * immediately, completed=true, state cleared for the next funnel). A
    * user idle for more than `idle` of EVENT time (watermark-driven, not
    * wall clock) has their in-progress funnel emitted as abandoned
    * (completed=false) and the state removed — so state is bounded by
    * ACTIVE users within the idle horizon, never by all users ever seen.
    * Within a trigger, events apply in (ts, event_id) order; across
    * triggers, in arrival order — the micro-batch contract.
    */
  def funnelTracker(events: Dataset[Ev], idle: String = "1 day"): Dataset[FunnelEmit] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", idle)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelEmit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[FunnelProgress]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val stage = if (st.clickSec.nonEmpty) 2 else 1
            Iterator.single(
              FunnelEmit(uid, stage, st.viewSec, st.clickSec, None, completed = false))
          } else {
            var st = state.getOption.getOrElse(FunnelProgress(None, None))
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            val out = scala.collection.mutable.ListBuffer.empty[FunnelEmit]
            sorted.foreach { e =>
              val sec = e.ts.getTime / 1000
              e.event_type match {
                case "view" if st.viewSec.isEmpty =>
                  st = FunnelProgress(Some(sec), None)
                case "click" if st.viewSec.nonEmpty && st.clickSec.isEmpty =>
                  st = st.copy(clickSec = Some(sec))
                case "purchase" if st.clickSec.nonEmpty =>
                  out += FunnelEmit(uid, 3, st.viewSec, st.clickSec, Some(sec),
                    completed = true)
                  st = FunnelProgress(None, None)
                case _ => ()
              }
            }
            if (st == FunnelProgress(None, None)) state.remove()
            else {
              state.update(st)
              // timeout at (latest event this trigger) + idle, in event time
              state.setTimeoutTimestamp(sorted.last.ts.getTime, idle)
            }
            out.iterator
          }
      }
  }

  /** Continuous duplicate-charge monitor — the streaming arm of the q134
    * batch screen (operators.Advanced.duplicateCharges), with the SAME
    * rule: a customer's consecutive charges within `maxGapDays` whose
    * amounts differ by ≤5% (integer test |Δ|·20 ≤ prev) alert
    * immediately. State per customer is exactly ONE (last key, day,
    * cents) tuple, and an event-time timeout `idle` past the gap window
    * evicts dormant customers — a charge arriving after eviction cannot
    * have alerted anyway (its gap exceeds the window), so eviction never
    * loses an alert and state stays bounded by customers ACTIVE within
    * the horizon, never all customers ever seen. Within a trigger,
    * charges apply in (ts, key) order — the micro-batch contract, same
    * as the funnel tracker.
    */
  def chargeMonitor(charges: Dataset[Charge], maxGapDays: Long = 30,
      idle: String = "31 days"): Dataset[ChargeAlert] = {
    import charges.sparkSession.implicits._
    // state tuple: (last orderkey, last epoch-day, last cents)
    charges
      .withWatermark("ts", idle)
      .groupByKey(_.o_custkey)
      .flatMapGroupsWithState[(Long, Long, Long), ChargeAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (cust: Long, rows: Iterator[Charge], state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption
            val sorted = rows.toSeq.sortBy(c => (c.ts.getTime, c.o_orderkey))
            val out = scala.collection.mutable.ListBuffer.empty[ChargeAlert]
            sorted.foreach { c =>
              val day = java.time.LocalDateTime
                .ofInstant(c.ts.toInstant, java.time.ZoneOffset.UTC)
                .toLocalDate.toEpochDay
              st.foreach { case (pk, pd, pc) =>
                val gap = day - pd
                if (gap <= maxGapDays && math.abs(c.cents - pc) * 20 <= pc)
                  out += ChargeAlert(cust, pk, c.o_orderkey, pc, c.cents, gap)
              }
              st = Some((c.o_orderkey, day, c.cents))
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(sorted.last.ts.getTime, idle)
            }
            out.iterator
          }
      }
  }

  /** Split-partitioned streaming parquet sink — the streaming arm of the
    * curated-corpus last mile (batch arm: operators/Prep.writeCurated).
    * Each micro-batch's rows land under their `split=.../` directory with
    * the same deterministic md5-bucket assignment as the batch writer
    * (graft.operators.Corpus.hashBucket of `idCol`), so stream and batch
    * curation agree row-for-row. The parquet sink's transactional file
    * log + checkpoint make the append exactly-once across restarts, and
    * downstream training reads still prune to one split directory. Local
    * checkpoint and sink-log commits start no process
    * ([[LocalCheckpointFileManager.install]]).
    */
  def writeCuratedStream(
      docs: DataFrame,
      idCol: String,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    LocalCheckpointFileManager.install(docs.sparkSession)
    docs
      .withColumn("split",
        when(graft.operators.Corpus.hashBucket(col(idCol)) < 80, "train")
          .when(graft.operators.Corpus.hashBucket(col(idCol)) < 90, "valid")
          .otherwise("test"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("split")
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Continuous-ingestion near-dup detection: flag each arriving document
    * that is a MinHash-LSH near-duplicate of a STATIC reference corpus —
    * the streaming arm of corpus dedup (batch arm:
    * operators/Dedup.minhashLsh), the shape a live crawl runs so
    * duplicates never enter the training corpus in the first place.
    *
    * Structure: the corpus side is indexed ONCE — band keys joined back
    * to shingle sets, cached via graft.Caches. NOTE the cache lifetime:
    * unlike the batch operators, the caller's scope must outlive the
    * STREAMING QUERY, not just the plan construction — releasing after
    * `start()` unpersists the index and every later micro-batch rebuilds
    * the corpus pipeline from scratch. Release after `query.stop()`. And
    * every micro-batch equi-joins it on (band, bkey), a stateless
    * stream-static join. The stream side's shingle sets and band keys
    * are pure per-row projections (Dedup.bandKeys is projection-only by
    * construction), with the payload CARRIED through the band explode:
    * a stream cannot self-join to fetch its shingle array back, so rows
    * ride ~`bands`× wider here than in the batch path — the price of
    * statelessness, paid in bytes instead of state-store entries.
    * Verification is the exact per-pair Jaccard on the joined arrays.
    *
    * A pair matching in several bands would emit duplicates;
    * `dropDuplicatesWithinWatermark` collapses them with state bounded
    * by the event-time watermark — the only stateful operator in the
    * query, and the state key is (doc, corpus-doc) pairs of actual
    * near-dups, a vanishingly small fraction of the stream.
    */
  /** Streaming perceptual-dup monitor — the ingest twin of the q277/q278
    * batch near-dup joins: every arriving media row is fingerprinted in
    * the partition-local codec seam (dHash for images, frame-energy fp
    * for audio — in production the payload column is decoded; here the
    * deterministic synthetic codec stands in at the same seam), banded
    * into the 4×16-bit keys, and probed against a STATIC fingerprint
    * index of the corpus. The static index is bucket-capped (the q277
    * saturation lesson applied stream-side: a saturated 16-bit bucket
    * would fan every arrival out by the bucket's full occupancy), the
    * verify is the same codegen'd `bit_count(xor)`, and
    * `dropDuplicatesWithinWatermark` collapses multi-band matches with
    * state bounded by the watermark — the nearDupAgainstCorpus
    * discipline, fingerprint-shaped.
    */
  private def perceptualDupMonitor(
      streamFps: DataFrame, corpusFps: DataFrame, fpCol: String,
      maxHamming: Int, bucketCap: Int, watermark: String): DataFrame = {
    import graft.operators.Multimodal
    val corpusIdx = graft.Caches.track(
      Multimodal.bandKeys16(corpusFps, fpCol)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("k")).orderBy(col("doc_id"))))
        .filter(col("rn") <= bucketCap)
        .select(col("band"), col("k"), col("doc_id").as("corpus_id"),
          col(fpCol).as("corpus_fp")))
    Multimodal.bandKeys16(streamFps.withWatermark("ts", watermark),
        fpCol, carry = Seq("ts"))
      .join(corpusIdx, Seq("band", "k"))
      .withColumn("hamming",
        bit_count(col(fpCol).bitwiseXOR(col("corpus_fp"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_id"), col("ts"), col("corpus_id"), col("hamming"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
  }

  /** q277's ingest twin: arriving images probed against the corpus
    * dHash index. */
  def imageDupMonitor(stream: DataFrame, corpus: DataFrame,
      maxHamming: Int = 10, bucketCap: Int = 16,
      watermark: String = "10 minutes"): DataFrame =
    perceptualDupMonitor(
      graft.operators.Multimodal.imageDHashes(stream, carry = Seq("ts")),
      graft.operators.Multimodal.imageDHashes(corpus),
      "dhash", maxHamming, bucketCap, watermark)

  /** q278's ingest twin: arriving audio probed against the corpus
    * fingerprint index. */
  def audioDupMonitor(stream: DataFrame, corpus: DataFrame,
      maxHamming: Int = 4, bucketCap: Int = 16,
      watermark: String = "10 minutes"): DataFrame =
    perceptualDupMonitor(
      graft.operators.Multimodal.audioFps(stream, carry = Seq("ts")),
      graft.operators.Multimodal.audioFps(corpus),
      "afp", maxHamming, bucketCap, watermark)

  /** q279's ingest twin: scene-cut detection on arriving clips. The
    * batch operator windows over doc_id because its per-frame output is
    * a RELATION after the codec explode; stream-side every clip arrives
    * as ONE row, so the whole lag/threshold/scene-numbering chain is a
    * local loop inside the decode kernel — ZERO stream state (the
    * repetitionMonitor discipline): no watermark, no aggregation,
    * nothing to evict. Emits the batch operator's exact columns (plus
    * ts), bit-identical on the same clips (spec-asserted).
    */
  def sceneCutMonitor(stream: DataFrame, cutThreshold: Int = 8): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("ts", TimestampType),
      StructField("frame", IntegerType),
      StructField("hamming_prev", IntegerType),
      StructField("new_scene", BooleanType),
      StructField("scene_id", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(schema)
    stream.select(col("doc_id"), col("ts")).mapPartitions { rows: Iterator[Row] =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val id = r.getLong(0)
        val ts = r.getTimestamp(1)
        val fps = graft.operators.Multimodal.clipFrameFpSeq(id)
        var prev = 0L
        var scene = 0L
        fps.zipWithIndex.map { case (fp, f) =>
          val h = if (f == 0) -1 else java.lang.Long.bitCount(fp ^ prev)
          val cut = h == -1 || h > cutThreshold
          if (cut) scene += 1
          prev = fp
          Row(id, ts, f, h, cut, scene)
        }
      }
    }(enc)
  }

  /** q284's ingest twin: voice-activity segmentation on arriving audio
    * clips. The whole decode + window-energy + run-length chain is
    * row-local inside the kernel — ZERO stream state (the
    * repetitionMonitor/sceneCutMonitor discipline): no watermark, no
    * aggregation, nothing to evict. Emits the batch operator's exact
    * columns plus ts, bit-identical on the same clips (spec-asserted).
    */
  def vadMonitor(stream: DataFrame): DataFrame =
    graft.operators.Multimodal.audioVad(stream, carry = Seq("ts"))

  /** q296's ingest twin: arriving embeddings (vec_id, embedding, ts)
    * assigned to the STANDING codebook at ingest — with ZERO streaming
    * state. The codebook is a bounded nCells-row table (trained once by
    * the q204-family Lloyd pass — a shared derived artifact when the
    * corpus is file-backed — and collected at monitor construction, the
    * per-class-constants discipline), so the argmax is a ROW-LOCAL
    * greatest-of-structs over literal centroids: no window, no
    * watermark, no join, nothing to evict. Tie-break matches the batch
    * assignment exactly ((ccos DESC, cid ASC) ≡ max of (ccos, −cid)), so
    * verdicts are bit-identical to `Similarity.deltaAssign` on the same
    * rows (spec-asserted).
    */
  def assignMonitor(stream: DataFrame, corpus: DataFrame,
      nCells: Int = 8, iters: Int = 2): DataFrame = {
    import graft.functions.{FixedPoint, Vectors}
    val cents = graft.operators.Similarity.kmeansCentroids(corpus, nCells, iters)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(cents.nonEmpty, "assignMonitor: the standing codebook is empty")
    def q(x: Float): Long = math.floor(x.toDouble * 1e8 + 0.5).toLong
    val n2 = FixedPoint.normSqF(col("embedding"))
    val scored = cents.map { case (cid, ce) =>
      val cn2 = ce.map(x => q(x) * q(x)).sum
      struct(
        Vectors.cosineFromParts(
          FixedPoint.dotF(col("embedding"), typedLit(ce)), n2, lit(cn2)).as("ccos"),
        lit(-cid).as("negcid"))
    }
    val best = if (scored.length == 1) scored.head else greatest(scored: _*)
    stream.select(col("vec_id"), col("ts"),
      (-best.getField("negcid")).as("cid"))
  }

  /** q281's ingest twin: arriving clips probed against the corpus
    * scene-keyframe signature index. The index explodes each corpus
    * signature member into its 4×16-bit band keys with per-bucket
    * occupancy capped (the perceptualDupMonitor saturation rule); an
    * arriving clip's members probe by band equality, and the verify is
    * the batch operator's SET-OVERLAP rule on the two full signature
    * arrays (`matched·2 ≥ max(n, corpus_n)`) — both arrays ride the
    * probe row, so the verdict needs no second join. Multi-member /
    * multi-band hits collapse via `dropDuplicatesWithinWatermark`
    * (state bounded by the watermark).
    */
  def clipDupMonitor(stream: DataFrame, corpus: DataFrame,
      maxHamming: Int = 10, bucketCap: Int = 16,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Multimodal
    val corpusIdx = graft.Caches.track(
      Multimodal.bandKeys16(
          Multimodal.clipSignaturePacks(corpus)
            .select(col("doc_id"), col("fps"), col("n"),
              explode(col("fps")).as("fp")),
          "fp", carry = Seq("fps", "n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("k"))
            .orderBy(col("doc_id"), col("fp"))))
        .filter(col("rn") <= bucketCap)
        .select(col("band"), col("k"), col("doc_id").as("corpus_id"),
          col("fps").as("corpus_fps"), col("n").as("corpus_n")))
    Multimodal.bandKeys16(
        Multimodal.clipSignaturePacks(stream, carry = Seq("ts"))
          .withWatermark("ts", watermark)
          .select(col("doc_id"), col("ts"), col("fps"), col("n"),
            explode(col("fps")).as("fp")),
        "fp", carry = Seq("ts", "fps", "n"))
      .join(corpusIdx, Seq("band", "k"))
      .withColumn("matched", expr(
        s"size(filter(fps, fa -> exists(corpus_fps, fb -> bit_count(fa ^ fb) <= $maxHamming)))"))
      .filter(col("matched") * 2 >= greatest(col("n"), col("corpus_n")))
      .select(col("doc_id"), col("ts"), col("corpus_id"), col("matched"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
  }

  def nearDupAgainstCorpus(
      stream: DataFrame,
      corpus: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.8,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Dedup
    val corpusSets = graft.Caches.track(Dedup.docShingleSets(corpus))
    val corpusIdx = graft.Caches.track(
      Dedup.bandKeys(corpusSets, bands, rowsPerBand)
        .join(corpusSets, Seq("doc_id"))
        .select(col("band"), col("bkey"), col("doc_id").as("corpus_id"),
          col("shs").as("corpus_shs"), col("n_sh").as("corpus_n")))
    val streamSets =
      Dedup.docShingleSets(stream.withWatermark("ts", watermark), carry = Seq("ts"))
    // NO id-inequality filter, deliberately: stream and corpus ids come
    // from independent systems, so equality is not identity — and a
    // re-ingest of a corpus document under its own id is exactly the
    // "already in the corpus" event this operator must flag
    Dedup.bandKeys(streamSets, bands, rowsPerBand, carry = Seq("ts", "shs", "n_sh"))
      .join(corpusIdx, Seq("band", "bkey"))
      .withColumn("inter", size(array_intersect(col("shs"), col("corpus_shs"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_sh") + col("corpus_n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ts"), col("corpus_id"), col("jaccard"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_id")
  }

  /** Streaming repetition monitor — the continuous-ingestion twin of the
    * batch intra-doc repetition profile (operators/Corpus
    * .repetitionProfile, q237). Because every document arrives as ONE
    * row, the whole Gopher rule is a closed-form per-row expression:
    * sort the row's bigram array and count runs with one `aggregate`
    * HOF — top-2-gram share, duplicate-2-gram mass, the 0.20 flag. ZERO
    * stream state: no aggregation, no watermark, nothing to evict — the
    * ideal shape for a junk filter sitting on the ingest path (the
    * batch op needs its per-(doc, gram) shuffle only because a batch
    * RELATION isn't row-per-doc after the explode). Per-row cost is
    * O(m log m) in the document's word count. Scores are bit-identical
    * to the batch op on the same documents (spec-asserted).
    */
  /** Streaming split router — the ingest-path twin of the batch
    * dup-cluster-atomic split assigner (q264, `operators/Prep
    * .clusterSplit`): every arriving document is stamped with its
    * exact-dup cluster key and its train/val/test verdict AT INGEST, so
    * downstream curated writers can route to split-partitioned storage
    * without a later global assignment pass — and because the lottery is
    * keyed on md5(text), a late-arriving copy of an already-routed text
    * is GUARANTEED to land in the same split as the original. Shares the
    * batch operator's Column expressions verbatim (not a re-derivation),
    * so streaming = batch bit-identity holds by construction and is
    * spec-asserted on a corpus replay.
    *
    * Zero state (the repetitionMonitor discipline): a pure projection —
    * no watermark, no aggregation, no store. Restart safety is the
    * sink's exactly-once contract alone.
    */
  def splitRouter(stream: DataFrame): DataFrame =
    stream.select(col("doc_id"), col("ts"),
      graft.operators.Prep.clusterKeyCol.as("cluster_key"),
      graft.operators.Prep.clusterSplitCol.as("split"))

  /** Streaming admission gate — the ingest twin of the batch admission
    * audit (q272, `operators/Prep.admissionAudit`): every arriving
    * document gets its reject reasons and verdict AT INGEST, before any
    * stateful work spends shuffle or state-store budget on a document
    * the pipeline would discard anyway. Shares the batch operator's
    * projection verbatim (`Prep.admissionScreen`), so streaming = batch
    * bit-identity holds by construction and is spec-asserted on a
    * replay. Zero state: pure row-local rules (the splitRouter
    * discipline) — restart safety is the sink's exactly-once contract.
    */
  def admissionMonitor(stream: DataFrame): DataFrame =
    graft.operators.Prep.admissionScreen(stream)
      .select(col("doc_id"), col("ts"), col("reasons"), col("admitted"))

  def repetitionMonitor(stream: DataFrame): DataFrame = {
    import graft.functions.Text
    stream
      .select(col("doc_id"), col("ts"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .withColumn("bs", sort_array(Text.bigrams(col("w"))))
      // run-length walk over the sorted bigrams: (prev, run, top, dup, tot)
      .withColumn("acc", expr(
        """aggregate(
          |  bs,
          |  named_struct('prev', cast(null as string), 'run', 0L,
          |               'top', 0L, 'dup', 0L, 'tot', 0L),
          |  (a, x) -> if(a.prev <=> x,
          |    named_struct('prev', x, 'run', a.run + 1L,
          |                 'top', a.top, 'dup', a.dup, 'tot', a.tot + 1L),
          |    named_struct('prev', x, 'run', 1L,
          |                 'top', greatest(a.top, a.run),
          |                 'dup', a.dup + if(a.run >= 2L, a.run, 0L),
          |                 'tot', a.tot + 1L)),
          |  a -> named_struct(
          |    'top', greatest(a.top, a.run),
          |    'dup', a.dup + if(a.run >= 2L, a.run, 0L),
          |    'tot', a.tot))""".stripMargin))
      .select(col("doc_id"), col("ts"),
        col("acc.tot").as("n_grams"),
        (col("acc.top").cast("double") / col("acc.tot").cast("double"))
          .as("top_share"),
        (col("acc.dup").cast("double") / col("acc.tot").cast("double"))
          .as("dup_share"),
        (col("acc.top").cast("double") / col("acc.tot").cast("double")
          > 0.20).as("flagged"))
  }

  /** Streaming LM-fluency monitor — the continuous-ingestion twin of the
    * batch corpus-LM scorer (operators/Corpus.lmFluency, q236): arriving
    * documents are scored against a bigram LM TRAINED ON THE STATIC
    * CORPUS, the gate a live ingestion pipeline actually runs (train the
    * LM on yesterday's curated corpus, score today's crawl as it
    * lands). Same integer-exact statistic as the batch op: mean inverse
    * add-one conditional probability on the 1e6 grid — so when the
    * stream replays the corpus itself, per-document scores are
    * BIT-IDENTICAL to the batch q236 run (spec-asserted).
    *
    * Mechanics: the bigram/head count tables are one-time batch
    * aggregates over the static corpus (tracked caches); the stream side
    * is a stateless explode + two stream-static left joins (unseen
    * bigrams/heads coalesce to 0 — add-one smoothing already prices the
    * unseen case), then one watermarked per-(window, doc) aggregation.
    * The only stream state is that windowed aggregate, evicted by the
    * watermark; the vocabulary size is a one-row bounded action on the
    * static side at plan-build time.
    */
  def fluencyMonitor(
      stream: DataFrame,
      corpus: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val db = corpus
      .select(Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(Text.bigrams(col("w"))).as("bigram"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
    val bg = graft.Caches.track(
      db.groupBy(col("bigram")).agg(count(lit(1)).as("n12")))
    val heads = graft.Caches.track(
      db.groupBy(col("w1")).agg(count(lit(1)).as("n1")))
    val v = heads.count() // bounded static-side scalar (|vocabulary| rows)
    stream.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("ts"),
        explode(Text.bigrams(col("w"))).as("bigram"))
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .join(bg, Seq("bigram"), "left")
      .join(heads, Seq("w1"), "left")
      .withColumn("inv_p_micro",
        expr(s"(1000000 * (coalesce(n1, 0) + $v)) div (coalesce(n12, 0) + 1)"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("inv_p_micro").cast(dec)).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("s").cast("double") / col("n_bigrams").cast("double") / 1e6)
          .as("mean_inv_p"))
  }

  /** Streaming source-classifier monitor — the continuous-ingestion twin
    * of the batch holdout classifier (q245, `Corpus.nbPredict`): the
    * log-free NB model is trained once on the static corpus, and every
    * arriving document is scored and labeled per event-time window — the
    * live "which register does this feed sound like" probe a curation
    * pipeline points at a new crawl before admitting it.
    *
    * Streaming cannot stack a per-(doc, class) aggregation under a
    * per-doc argmin (two chained aggregations), so the argmin is folded
    * INTO the single windowed aggregation: the class list is collected
    * once from the bounded static model (|sources| rows — the
    * fluencyMonitor static-scalar discipline), each stream word row
    * carries one delta column per class (extracted from the word's
    * observed-pairs bundle, 0 when unseen), the aggregate sums each
    * class column plus the word count, and a projection takes
    * `array_min` over the per-class `struct(score, class)` — exact
    * DECIMAL(38,0) sums, deterministic tie-break by class name, the same
    * scores as the batch path bit-for-bit (the spec asserts equality).
    *
    * State: one row per open (window, doc) with |classes|+1 decimal
    * columns — bounded by the watermark horizon, never by the vocabulary
    * (the model join is stream-static, stateless).
    */
  def classifierMonitor(
      stream: DataFrame,
      corpus: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.Text
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val (delta, classesDf) = graft.operators.Corpus.nbModel(corpus)
    // bounded static-side scalar collect: one row per source label
    val classes = classesDf.collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val bundles = graft.Caches.track(delta.groupBy(col("word"))
      .agg(collect_list(struct(col("cand"), col("delta"))).as("pairs")))
    val deltaCols = classes.zipWithIndex.map { case ((c, _), i) =>
      // get() (0-based) stays NULL on a no-match empty array even under
      // ANSI mode, where element_at would throw INVALID_ARRAY_INDEX
      coalesce(get(
        filter(col("pairs"), p => p("cand") === lit(c)), lit(0))("delta"),
        lit(0L)).as(s"d_$i")
    }
    val scoreCols = classes.zipWithIndex.map { case ((c, u), i) =>
      struct((col("n_words").cast(dec) * lit(u).cast(dec) +
        col(s"sd_$i")).as("score"), lit(c).as("cand"))
    }
    stream.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(Text.words(col("text"))).as("word"))
      .join(bundles, Seq("word"), "left")
      .select((col("doc_id") +: col("ts") +: deltaCols).toSeq: _*)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        classes.indices.map(i =>
          sum(col(s"d_$i").cast(dec)).as(s"sd_$i")): _*)
      .select(col("window"), col("doc_id"),
        array_min(array(scoreCols.toSeq: _*))("cand").as("predicted"))
  }

  /** Streaming CDC-chunk monitor — the continuous-ingestion twin of the
    * batch byte-level ingest probe (q258, `Dedup.cdcIngestProbe`):
    * arriving documents are content-defined-chunked PER ROW (the q251
    * kernel is pure HOF projections — zero stream state, the
    * repetitionMonitor discipline) and each chunk fingerprint is probed
    * against a STATIC corpus chunk index built once and cached (the
    * nearDupAgainstCorpus cache-lifetime rule applies: release after
    * `query.stop()`, not after `start()`). Emits, per event-time window
    * and document, the byte mass the corpus already holds — the
    * admission signal that catches boilerplate-heavy docs no whole-doc
    * near-dup check sees.
    *
    * State: only the windowed per-(window, doc) rollup, evicted by the
    * watermark. The fp join is stream-static and stateless; at corpus
    * scale the index exceeds any broadcast ceiling and the per-batch
    * join shuffles on the fingerprint key — exactly the batch probe's
    * join shape. Chunk counts/masses are exact integers, so a replayed
    * document scores BIT-IDENTICALLY to the batch probe (spec-asserted).
    */
  def cdcChunkMonitor(
      stream: DataFrame,
      corpus: DataFrame,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Dedup
    val corpusIdx = graft.Caches.track(
      Dedup.cdcChunkRelation(corpus)
        .select(col("fp")).distinct()
        .withColumn("hit", lit(1)))
    Dedup.cdcChunkRelation(
      stream.withWatermark("ts", watermark), carry = Seq("ts"))
      .join(corpusIdx, Seq("fp"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        sum(col("clen")).as("n_chars"),
        sum(when(col("hit") === 1, col("clen")).otherwise(0))
          .cast("long").as("dup_chars"))
      .select(col("doc_id"), col("n_chunks"), col("n_hit"),
        col("n_chars"), col("dup_chars"),
        (col("dup_chars").cast("double") / col("n_chars").cast("double"))
          .as("dup_char_share"))
  }

  /** Streaming exact-substring monitor — the continuous-ingestion twin
    * of the batch token-precision probe (q274,
    * `Dedup.exactSubstringProbe`): every arriving document's k-token KR
    * window fingerprints are probed against the STATIC corpus fp index
    * (built once, cached — the cdcChunkMonitor lifetime rule), emitting
    * per event-time window and doc the window/hit counts, hit share,
    * and the longest consecutive hit run — the ingest signal that
    * catches verbatim lifts from the corpus at token precision, where
    * the byte-level CDC monitor sees only chunk-boundary-aligned reuse.
    *
    * State: the windowed per-(window, doc) rollup, evicted by the
    * watermark; the collected hit-position list is bounded by the doc's
    * own window count (a per-doc constant, not stream history). The run
    * length is the repetitionMonitor sorted-walk HOF over that bounded
    * array — batch and stream share the "consecutive positions" island
    * definition, so a replayed delta scores BIT-IDENTICALLY to q274
    * (spec-asserted).
    */
  def dupSpanMonitor(
      stream: DataFrame,
      corpus: DataFrame,
      k: Int = 8,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.{KrWindowFp, Text}
    def fps(df: DataFrame, carry: Seq[String]): DataFrame = df
      .select(col("doc_id") +: carry.map(col) :+
        Text.words(col("text")).as("w"): _*)
      .filter(size(col("w")) >= k)
      .select(col("doc_id") +: carry.map(col) :+
        posexplode(KrWindowFp.krWindowFp(col("w"), k)).as(Seq("p0", "fp")): _*)
      .select(col("doc_id") +: carry.map(col) :+
        (col("p0") + 1).as("p") :+ col("fp"): _*)
    val corpusIdx = graft.Caches.track(
      fps(corpus, Seq.empty).select(col("fp")).distinct()
        .withColumn("hit", lit(1)))
    fps(stream.withWatermark("ts", watermark), Seq("ts"))
      .join(corpusIdx, Seq("fp"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        sort_array(collect_list(when(col("hit") === 1, col("p"))))
          .as("hits"))
      .withColumn("top_run", expr(
        """aggregate(
          |  hits,
          |  named_struct('prev', cast(null as int), 'run', 0L, 'top', 0L),
          |  (a, x) -> if(a.prev is not null and x = a.prev + 1,
          |    named_struct('prev', x, 'run', a.run + 1L,
          |                 'top', greatest(a.top, a.run + 1L)),
          |    named_struct('prev', x, 'run', 1L,
          |                 'top', greatest(a.top, 1L))),
          |  a -> a.top)""".stripMargin))
      .select(col("doc_id"), col("n_windows"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_windows").cast("double"))
          .as("hit_share"),
        col("top_run").as("top_run_windows"),
        when(col("top_run") > 0, col("top_run") + lit(k - 1))
          .otherwise(0L).as("top_run_tokens"))
  }

  /** q289's ingest twin: arriving TRAIN docs probed against the static
    * eval-tier fingerprint index; per (event-time window, doc) the
    * monitor reports contaminated window count and the exact token mass
    * the batch scrub would cut — the admission signal a governed ingest
    * uses to quarantine contaminated docs before they reach training
    * shards. The interval merge (gap > k closes an island, island
    * [s, prev] removes prev + k − s tokens) runs as a sorted-walk HOF
    * over the doc's own bounded hit-position list, so the streaming
    * number is BIT-IDENTICAL to `Dedup.decontamScrub`'s removed_tokens
    * (spec-asserted). State: the windowed per-doc rollup, evicted by
    * the watermark; the eval index is a static cached relation.
    */
  def decontamMonitor(
      stream: DataFrame,
      evalDocs: DataFrame,
      k: Int = 8,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.{KrWindowFp, Text}
    val evalIdx = graft.Caches.track(
      evalDocs.select(Text.words(col("text")).as("w"))
        .filter(size(col("w")) >= k)
        .select(explode(KrWindowFp.krWindowFp(col("w"), k)).as("fp"))
        .distinct().withColumn("hit", lit(1)))
    stream.withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), Text.words(col("text")).as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), col("ts"),
        size(col("w")).cast("long").as("n_tokens"),
        posexplode(KrWindowFp.krWindowFp(col("w"), k)).as(Seq("p0", "fp")))
      .select(col("doc_id"), col("ts"), col("n_tokens"),
        (col("p0") + 1).as("p"), col("fp"))
      .join(evalIdx, Seq("fp"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        sort_array(collect_list(when(col("hit") === 1, col("p"))))
          .as("hits"))
      .withColumn("removed_tokens", expr(
        s"""aggregate(
           |  hits,
           |  named_struct('s', cast(null as int), 'prev', cast(null as int),
           |               'rm', 0L),
           |  (a, x) -> if(a.prev is null,
           |    named_struct('s', x, 'prev', x, 'rm', a.rm),
           |    if(x - a.prev > $k,
           |      named_struct('s', x, 'prev', x,
           |                   'rm', a.rm + cast(a.prev + $k - a.s as long)),
           |      named_struct('s', a.s, 'prev', x, 'rm', a.rm))),
           |  a -> if(a.prev is null, a.rm,
           |          a.rm + cast(a.prev + $k - a.s as long)))""".stripMargin))
      .select(col("doc_id"), col("n_tokens"), col("n_hit"),
        col("removed_tokens"))
  }

  /** Streaming count-min monitor — the continuous-ingestion twin of the
    * batch CM audit (q248, `Corpus.cmFrequencyAudit`): exact integer
    * cell sums of the same salted-hash `d × w` sketch per event-time
    * window, so a frequency service can answer "roughly how often did
    * key X appear in window T" for ANY key without holding the window's
    * vocabulary. State is O(d·w) rows per open window BY CONSTRUCTION —
    * the key space is the fixed cell grid, never the data — and the
    * windows merge downstream by plain cell addition (CM's defining
    * property). The pre-aggregation row ×d explosion never crosses the
    * wire: streaming partial aggregation collapses each task to ≤ d·w
    * partial cells before the exchange.
    */
  def cmSketchMonitor(
      stream: DataFrame, d: Int = 4, w: Int = 1024,
      window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.Text
    import graft.operators.Corpus
    stream.withWatermark("ts", watermark)
      .select(col("ts"), explode(Text.words(col("text"))).as("word"))
      .select(col("ts"),
        posexplode(array((0 until d).map(i =>
          Corpus.cmHash(i, w)(col("word"))): _*)).as(Seq("r", "b")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("r"), col("b"))
      .agg(count(lit(1)).as("cell"))
  }

  /** Streaming heavy-hitter monitor — the continuous-ingestion twin of
    * the batch two-pass heavy hitters (operators/Corpus.heavyHitters):
    * per-shard Misra–Gries summaries in the state store, so a pipeline
    * watching an unbounded token stream sees its dominant grams at every
    * trigger with STATE BOUNDED BY `cap` COUNTERS PER SHARD — never the
    * stream's vocabulary, which is what a naive streaming
    * `groupBy(gram).count()` would hold forever.
    *
    * Guarantees (the MG invariants, per shard): every retained `lb` is a
    * lower bound on the true count, any gram with true shard frequency
    * > n/(cap+1) is retained, and with `cap` at least the shard's
    * vocabulary the counts are EXACT (the spec golden-tests that path
    * against plain counts). Candidates are a superset to be confirmed by
    * the batch recount pass, exactly q197's second phase.
    *
    * Scale: `shards` is the parallelism knob — grams route to shards by
    * the same md5-prefix bucketing as every other deterministic hash in
    * the library (portable, repartition-proof), each shard's state is
    * O(cap), and no watermark is needed because state is size-bounded by
    * construction, not time-bounded.
    */
  def heavyHitterMonitor(
      grams: Dataset[String], shards: Int = 32, cap: Int = 128): Dataset[HHShard] = {
    import grams.sparkSession.implicits._
    // per-record path: reuse one digest per thread instead of a JCA
    // provider lookup + allocation per stream element
    def shardOf(g: String): Int = {
      val hex = StreamingOps.md5Local.get()
        .digest(g.getBytes("UTF-8")).take(2).map(b => f"$b%02x").mkString
      Integer.parseInt(hex, 16) % shards
    }
    grams
      .groupByKey(shardOf)
      .mapGroupsWithState[(Long, Map[String, Long]), HHShard](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String], state: GroupState[(Long, Map[String, Long])]) =>
          val (n0, m0) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val m = scala.collection.mutable.HashMap.empty[String, Long] ++= m0
          var n = n0
          rows.foreach { g =>
            n += 1
            graft.functions.MisraGries.offer(m, g, cap)
          }
          state.update((n, m.toMap))
          HHShard(shard, n,
            m.toSeq.sortBy { case (g, c) => (-c, g) }
              .map { case (g, c) => GramCount(g, c) })
      }
  }

  /** One resettable MD5 instance per executor thread (digest() resets). */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def latestStatePerUser(events: Dataset[Ev]): Dataset[UserLatest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserLatest, UserLatest](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[UserLatest]) =>
          // arrival order within a batch: max (ts, event_id) wins, matching
          // the batch analog's row_number ordering
          val candidates = evs.map(e =>
            UserLatest(userId, e.event_id, e.event_type, e.value, e.ts)).toSeq
          val incoming = candidates.maxBy(u => (u.ts.getTime, u.event_id))
          def key(u: UserLatest): (Long, Long) = (u.ts.getTime, u.event_id)
          val next = state.getOption match {
            case Some(cur)
              if Ordering[(Long, Long)].gt(key(cur), key(incoming)) => cur
            case _ => incoming
          }
          state.update(next)
          next
      }
  }
}
