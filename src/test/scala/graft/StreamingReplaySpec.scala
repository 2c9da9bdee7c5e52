package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.pipeline.{KVRegistry, TributePipeline}
import graft.sources.Sources

/** Slice-1 end-to-end: replay the reference's 9 fixture batches through the
  * STREAMING pipeline (file source, one file per trigger), with a
  * kill/restart from the same checkpoint in the middle — the recovery test
  * of SURVEY.md §5. Asserts the converged KV state table and the
  * path-keyed event log (one JSON per streamingeventid, 65 total;
  * reference: script/TributeStreamingJob.py:70-74, README.md:138-185).
  */
class StreamingReplaySpec extends SparkSpec {

  private val batchOrder = Seq(
    "preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")

  test("9-batch streaming replay with mid-stream restart converges to the golden state") {
    val base = Files.createTempDirectory("graft-replay")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"replay-${System.nanoTime()}"

    // stage fixture files one at a time with ascending mtimes so the file
    // source's arrival order is the documented send order
    def stage(names: Seq[String], t0: Long): Unit =
      names.zipWithIndex.foreach { case (n, i) =>
        val dst = streamDir.resolve(s"$n.json")
        Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
          StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(t0 + i * 1000)
        ()
      }

    var inputRows = 0L
    def runUntilDrained(): Unit = {
      val events = Sources.eventStream(spark, streamDir.toString)
      val tributes = Sources.tributeDim(spark, fixture("staticData/tributeData.csv"))
      val games = Sources.gameDim(spark, fixture("staticData/gameData.json"))
      val q = TributePipeline.run(events, tributes, games, storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
      inputRows += q.recentProgress.map(_.numInputRows).sum
    }

    val t0 = System.currentTimeMillis() - 60000
    stage(batchOrder.take(5), t0)
    runUntilDrained() // first incarnation: 5 batches, then "crash"

    stage(batchOrder.drop(5), t0 + 10000)
    runUntilDrained() // recovery: same checkpoint resumes at batch 6
    // the source reports each event once: one scan per micro-batch
    assert(inputRows === 65, s"numInputRows summed to $inputRows over 65 events")

    // event log: one JSON file per streamingeventid
    val logged = Files.list(Paths.get(logDir)).count()
    assert(logged === 65, s"expected 65 event-log files, got $logged")

    // final state table matches the documented ending (README.md:175-185):
    // only Peeta (8) and Katniss (9) alive; Cato (3) dead; Katniss in bounds
    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(state.size === 16, s"16 tributes seen, got ${state.size}")
    assert(state("3")("status") === "DEAD")
    assert(state("8")("status") === "ALIVE")
    assert(state("9")("status") === "ALIVE")
    assert(state("9")("locationStatus") === "IN BOUNDS")
    val alive = state.values.count(_("status") == "ALIVE")
    assert(alive === 2, s"exactly 2 tributes end ALIVE, got $alive")

    // decimal parity with the reference's DecimalEncoder
    // (script/TributeStreamingJob.py:41-45): decimal fields serialize as
    // JSON *strings* rendered at their carried scale, not JSON numbers
    val logged1 = new String(
      Files.readAllBytes(Paths.get(logDir, "preCornucopiaEvent1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(logged1.contains("\"heartrate\":\"70.00\""),
      s"decimal must be a JSON string, got: $logged1")
    assert(logged1.contains("\"xcoordinate\":\"50.00\""), s"got: $logged1")
    assert(!logged1.contains("\"heartrate\":70"), s"got: $logged1")
  }

  /** The full 16-item golden state, from the batch path with a
    * data-derived arrival sequence (FlagshipBatchSpec pins it): batch
    * ordinal in the send order, then the event's ordinal in its batch. */
  private lazy val goldenState: Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions._
    val stamped = batchOrder.zipWithIndex.map { case (b, i) =>
      Sources.eventBatch(spark, fixture(s"streamingData/$b.json"))
        .withColumn("__seq", lit(i.toLong * 1000000L) +
          regexp_extract(col("streamingeventid"), "Event(\\d+)$", 1).cast("long"))
    }.reduce(_ unionAll _)
    val state = TributePipeline.latestStatePerTribute(
      graft.ops.Status.enrich(stamped,
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json"))),
      col("__seq"))
    state.collect().map { r =>
      r.getString(0) -> state.columns.indices.map { i =>
        state.columns(i) -> (if (r.isNullAt(i)) null else r.get(i).toString)
      }.toMap
    }.toMap
  }

  /** Copies the 9 fixture batches into a new stream directory, their
    * modification times ascending in the documented send order. */
  private def stageAll(prefix: String): Path = {
    val streamDir = Files.createDirectories(Files.createTempDirectory(prefix).resolve("stream"))
    val t0 = System.currentTimeMillis() - 60000
    batchOrder.zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst)
      dst.toFile.setLastModified(t0 + i * 1000)
      ()
    }
    streamDir
  }

  for (filesPerTrigger <- Seq(9, 3))
    test(s"last writer wins across files in one trigger: $filesPerTrigger files per trigger converge to the golden state") {
      // the file source packs a trigger's files into partitions by size,
      // not by modification time, so only the (mtime, path, in-partition
      // id) arrival order picks each tribute's latest event here
      assert(goldenState.size === 16)
      val streamDir = stageAll(s"graft-lww-$filesPerTrigger")
      val base = streamDir.getParent
      val logDir = base.resolve("eventlog").toString
      val storeName = s"lww-$filesPerTrigger-${System.nanoTime()}"
      val q = TributePipeline.run(
        Sources.eventStream(spark, streamDir.toString, filesPerTrigger),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, base.resolve("checkpoint").toString)
      q.processAllAvailable()
      q.stop()

      val state = KVRegistry.getOrCreate(storeName).snapshot()
      val wrong = goldenState.keySet.filter(k => state.get(k) != goldenState.get(k))
      assert(state.keySet === goldenState.keySet && wrong.isEmpty,
        s"tributes off the golden state: ${wrong.toSeq.sorted.map(k => k -> state.get(k))}")
      assert(Files.list(Paths.get(logDir)).count() === 65)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === (9 + filesPerTrigger - 1) / filesPerTrigger)
      assert(batches.map(_.numInputRows).sum === 65)
    }

  test("micro-batch shape: one action per data batch, dimensions read once per query (typed plan checks)") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener

    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => s +: nodes(s.plan)
      case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
    }
    val fence = "graft.test.fence"
    val jobs = new ConcurrentLinkedQueue[(String, Long)]() // (query id, batch id)
    val fences = new java.util.concurrent.atomic.AtomicInteger(0)
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        if (p != null && p.getProperty(fence) != null) { fences.incrementAndGet(); () }
        else if (p != null && p.getProperty("sql.streaming.queryId") != null) {
          jobs.add((p.getProperty("sql.streaming.queryId"),
            p.getProperty("streaming.sql.batchId").toLong))
          ()
        }
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the listener bus is FIFO: once a fence job's start is seen, every
    // job and SQL execution before it has been delivered
    def drainedPlans(): Seq[SparkPlan] = {
      val seen = fences.get()
      spark.sparkContext.setLocalProperty(fence, "1")
      try spark.sparkContext.parallelize(1 to 1, 1).count()
      finally spark.sparkContext.setLocalProperty(fence, null)
      val deadline = System.currentTimeMillis() + 30000
      while (fences.get() == seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
    }

    val base = Files.createTempDirectory("graft-shape")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val q = TributePipeline.run(
      Sources.eventStream(spark, streamDir.toString),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      s"shape-${System.nanoTime()}", base.resolve("eventlog").toString,
      base.resolve("checkpoint").toString)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val perBatch = try {
      drainedPlans()
      val t0 = System.currentTimeMillis() - 60000
      batchOrder.take(4).zipWithIndex.map { case (n, i) =>
        val dst = streamDir.resolve(s"$n.json")
        Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst)
        dst.toFile.setLastModified(t0 + i * 1000)
        q.processAllAvailable()
        drainedPlans()
      }
    } finally {
      q.stop()
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }

    val byBatch = jobs.asScala.filter(_._1 == q.id.toString).groupBy(_._2)
      .map { case (b, js) => b -> js.size }
    assert(byBatch.keySet === Set(0L, 1L, 2L, 3L), s"jobs by batch: $byBatch")
    // the first data batch reads the two dimensions, one job each
    assert(byBatch(0L) <= 4, s"jobs by batch: $byBatch")
    assert((1L to 3L).forall(b => byBatch(b) <= 2), s"jobs by batch: $byBatch")

    val scans = perBatch.map(_.flatMap(nodes).count(_.isInstanceOf[InMemoryTableScanExec]))
    assert(scans === Seq(2, 0, 0, 0),
      s"each dimension is read once, on the first data batch: $scans")
    perBatch.zipWithIndex.foreach { case (ps, b) =>
      val all = ps.flatMap(nodes)
      assert(!all.exists(_.isInstanceOf[BroadcastExchangeLike]),
        s"batch $b rebroadcast a dimension:\n${ps.mkString("\n")}")
      assert(!all.exists(_.isInstanceOf[CollectLimitExec]),
        s"batch $b probed for emptiness:\n${ps.mkString("\n")}")
    }
  }

  test("per-row ForeachWriter parity sink converges to the same golden state") {
    val base = Files.createTempDirectory("graft-replay-fe")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"replay-fe-${System.nanoTime()}"

    batchOrder.zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(System.currentTimeMillis() - 60000 + i * 1000)
      ()
    }
    val q = TributePipeline.runForeach(
      Sources.eventStream(spark, streamDir.toString),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      storeName, logDir, ckpt)
    q.processAllAvailable()
    q.stop()

    assert(Files.list(Paths.get(logDir)).count() === 65)
    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(state.size === 16)
    assert(state("3")("status") === "DEAD")
    assert(state("8")("status") === "ALIVE")
    assert(state("9")("status") === "ALIVE")
    assert(state("9")("locationStatus") === "IN BOUNDS")
    assert(state.values.count(_("status") == "ALIVE") === 2)
  }

  test("broker-shaped replay: message-stream decode feeds the pipeline to the same golden state") {
    // the kafka-seam end-to-end without a broker: each fixture batch is
    // re-staged as a file of one-JSON-object-per-line messages (what a
    // topic would carry), streamed as a raw `value` column, decoded under
    // the declared schema, and run through the flagship pipeline
    val base = Files.createTempDirectory("graft-replay-kafka")
    val msgDir = Files.createDirectory(base.resolve("messages"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"replay-kafka-${System.nanoTime()}"

    import org.apache.spark.sql.functions._
    batchOrder.zipWithIndex.foreach { case (n, i) =>
      val batch = Sources.eventBatch(spark, fixture(s"streamingData/$n.json"))
      val lines = batch
        .select(to_json(struct(batch.columns.map(col).toIndexedSeq: _*)).as("v"))
        .collect().map(_.getString(0))
      val dst = msgDir.resolve(s"$n.jsonl")
      Files.write(dst, String.join("\n", lines: _*).getBytes("UTF-8"))
      dst.toFile.setLastModified(System.currentTimeMillis() - 60000 + i * 1000)
      ()
    }

    val raw = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .text(msgDir.toString) // one `value` column, like a broker frame
    val q = TributePipeline.run(
      Sources.decodeEventValue(raw),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      storeName, logDir, ckpt)
    q.processAllAvailable()
    q.stop()

    assert(Files.list(Paths.get(logDir)).count() === 65)
    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(state.size === 16)
    assert(state("3")("status") === "DEAD")
    assert(state.values.count(_("status") == "ALIVE") === 2)
    assert(state("9")("locationStatus") === "IN BOUNDS")
  }

  test("restarting an already-drained checkpoint is a no-op (idempotent recovery)") {
    val base = Files.createTempDirectory("graft-replay2")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"replay2-${System.nanoTime()}"

    val src = Paths.get(fixture("streamingData/preCornucopia.json"))
    Files.copy(src, streamDir.resolve("preCornucopia.json"))

    def drain(): Unit = {
      val q = TributePipeline.run(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    drain()
    val snap1 = KVRegistry.getOrCreate(storeName).snapshot()
    val logged1 = Files.list(Paths.get(logDir)).count()
    drain() // second incarnation re-reads nothing
    val snap2 = KVRegistry.getOrCreate(storeName).snapshot()
    val logged2 = Files.list(Paths.get(logDir)).count()

    assert(snap1 === snap2)
    assert(logged1 === logged2)
    assert(logged1 === 16) // preCornucopia has 16 events
  }

  test("Kafka-seam contract: wire-format byte replay through decodeEventValue converges to the file-source state") {
    // The broker jar is not on this classpath, so eventStreamKafka's
    // transport hop cannot run here — but everything AFTER the hop is
    // decodeEventValue over a binary `value` column, which is exactly
    // what this replays: each fixture batch split into its individual
    // top-level JSON objects, the EXACT bytes a producer would put on
    // the topic (one event per message), fed through a MemoryStream in
    // the broker's column shape.
    def wireMessages(file: java.nio.file.Path): Seq[Array[Byte]] = {
      val text = new String(Files.readAllBytes(file),
        java.nio.charset.StandardCharsets.UTF_8)
      val out = scala.collection.mutable.Buffer[String]()
      var depth = 0; var start = -1; var inStr = false; var esc = false
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        if (esc) esc = false
        else if (inStr) {
          if (c == '\\') esc = true else if (c == '"') inStr = false
        } else c match {
          case '"' => inStr = true
          case '{' => if (depth == 0) start = i; depth += 1
          case '}' =>
            depth -= 1
            if (depth == 0) { out += text.substring(start, i + 1); () }
          case _ =>
        }
        i += 1
      }
      out.toSeq.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    val base = Files.createTempDirectory("graft-kafka-seam")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // leg 1: the 9 batches through the wire-format decode
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Array[Byte]]
    val kafkaShaped = mem.toDF().select(
      org.apache.spark.sql.functions.col("value"))
    val wireStore = s"kafka-seam-${System.nanoTime()}"
    val q = TributePipeline.run(
      Sources.decodeEventValue(kafkaShaped),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      wireStore,
      base.resolve("wire-log").toString,
      base.resolve("wire-ckpt").toString)
    var nMessages = 0
    batchOrder.foreach { n =>
      val msgs = wireMessages(Paths.get(fixture(s"streamingData/$n.json")))
      nMessages += msgs.size
      mem.addData(msgs)
      q.processAllAvailable()
    }
    q.stop()
    assert(nMessages === 65, s"fixtures carry 65 events, split $nMessages")

    // leg 2: the same batches through the file source (the replay path)
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val t0 = System.currentTimeMillis() - 60000
    batchOrder.zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0 + i * 1000)
      ()
    }
    val fileStore = s"kafka-seam-file-${System.nanoTime()}"
    val qf = TributePipeline.run(
      Sources.eventStream(spark, streamDir.toString),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      fileStore,
      base.resolve("file-log").toString,
      base.resolve("file-ckpt").toString)
    qf.processAllAvailable()
    qf.stop()

    // the CONVERGED state tables must be identical, item for item
    val wire = KVRegistry.getOrCreate(wireStore).snapshot()
    val file = KVRegistry.getOrCreate(fileStore).snapshot()
    assert(wire.size === 16 && wire === file,
      s"wire-format replay diverged from the file replay:\n" +
        s"wire-only: ${wire.toSet -- file.toSet}\nfile-only: ${file.toSet -- wire.toSet}")
    // and the wire leg's event log carries all 65 path-keyed objects
    assert(Files.list(base.resolve("wire-log")).count() === 65)
  }

  test("forgetTributes: full erase from state + event log, untouched keys intact, idempotent") {
    val base = Files.createTempDirectory("graft-forget")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"forget-${System.nanoTime()}"

    batchOrder.take(5).zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(System.currentTimeMillis() - 60000 + i * 1000)
      ()
    }
    val q = TributePipeline.runGoverned(
      Sources.eventStream(spark, streamDir.toString),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      storeName, logDir, ckpt)
    q.processAllAvailable()
    q.stop()

    val logsBefore = Files.list(Paths.get(logDir)).count()
    val catoBefore = spark.read.json(logDir)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3").count()
    assert(catoBefore > 0, "the fixture must contain victim events")
    val stateBefore = KVRegistry.getOrCreate(storeName).snapshot()
    assert(stateBefore.contains("3"))

    val audit = TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    assert(audit.toSeq === Seq(("3", true, catoBefore, false, 0L)),
      s"audit must record the erase exactly: ${audit.toSeq}")

    // full erase: state key gone, zero victim objects left in the log
    val stateAfter = KVRegistry.getOrCreate(storeName).snapshot()
    assert(!stateAfter.contains("3"))
    assert(spark.read.json(logDir)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3")
      .count() === 0)
    // untouched: every other key and object survives bit-for-bit
    assert(stateAfter === stateBefore - "3")
    assert(Files.list(Paths.get(logDir)).count() === logsBefore - catoBefore)
    // idempotent: the re-run erases nothing and reports the same residuals
    val again = TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    assert(again.toSeq === Seq(("3", false, 0L, false, 0L)))
    // tombstone audit persists the LATEST verdict
    val tomb = KVRegistry.getOrCreate(
      TributePipeline.tombstoneStoreName(storeName)).snapshot()
    assert(tomb("3")("residualState") === "false" &&
      tomb("3")("residualLog") === "0")
  }

  test("forgetTributes mid-flight: an erase racing an in-flight batch leaves zero residuals without quiesce") {
    val base = Files.createTempDirectory("graft-forget-race")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"forget-race-${System.nanoTime()}"

    batchOrder.take(5).zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
        StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(System.currentTimeMillis() - 60000 + i * 1000)
      ()
    }
    // the erase fires INSIDE the first batch, after its admission
    // snapshot is taken and before its writes — the exact race the old
    // quiesce contract documented: the batch was admitted pre-erase and
    // re-appends victim events right after the scrub
    val erased = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = TributePipeline.runGoverned(
      Sources.eventStream(spark, streamDir.toString),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      storeName, logDir, ckpt,
      onBatchAdmitted = () => {
        if (erased.compareAndSet(false, true)) {
          TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir)
            .collect()
          ()
        }
      })
    q.processAllAvailable()
    q.stop()

    // zero residuals anywhere, with NO manual quiesce and NO re-erase:
    // the post-batch re-scrub must have cleaned what the in-flight batch
    // re-appended
    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(!state.contains("3"),
      s"victim state re-materialized past the in-flight erase: ${state.keys}")
    assert(spark.read.json(logDir)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3")
      .count() === 0, "victim log objects survived the in-flight erase")
    // the erase really did race a batch that carried victim events
    // (otherwise this test proves nothing): the first fixture has them
    assert(spark.read
      .schema(graft.model.Schemas.eventSchema)
      .option("multiLine", "true")
      .json(streamDir.resolve(s"${batchOrder.head}.json").toString)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3")
      .count() > 0)
    // untouched keys still converge — the re-scrub touched only victims
    assert(state.nonEmpty && !state.keySet.contains("3"))
  }

  test("durable file: store — restart-safe governed forget proves the RTBF contract against real bytes") {
    // the round-17 verdict's point: the governed-erase guarantees were
    // only ever proven against a heap map. Same restart-safe scenario,
    // but the state table is the durable FileKVStore — physical key
    // deletion and checkpoint-restart replay filtering are asserted on
    // the FILESYSTEM, and the forget/tombstone side tables live (and
    // survive) on disk beside it.
    val base = Files.createTempDirectory("graft-forget-durable")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val kvRoot = base.resolve("kvstore").toString
    val storeName = s"file:$kvRoot"

    def stage(names: Seq[String], t0: Long): Unit =
      names.zipWithIndex.foreach { case (n, i) =>
        val dst = streamDir.resolve(s"$n.json")
        Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
          StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(t0 + i * 1000)
        ()
      }
    def drain(): Unit = {
      val q = TributePipeline.runGoverned(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    val t0 = System.currentTimeMillis() - 60000
    stage(batchOrder.take(5), t0)
    drain() // first incarnation, then "crash"

    // state converged to real files: one per tribute, readable by a
    // fresh client (≈ the restarted process) with no registry help
    assert(Files.exists(Paths.get(kvRoot, "k_3")),
      "victim state must exist on disk before the erase")
    val preErase = new graft.pipeline.FileKVStore(kvRoot).snapshot()
    assert(preErase.contains("3") && preErase.size === 16)

    // the forget request lands while the query is down
    TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir).collect()

    // the erase is PHYSICAL: the key file is unlinked, and the residual
    // check in the audit read the filesystem to conclude that
    assert(!Files.exists(Paths.get(kvRoot, "k_3")),
      "the victim's key file must be physically unlinked")
    // the victim registration itself is durable (a forget request that
    // dies with the JVM is a compliance hole): it lives under the root
    assert(Files.exists(Paths.get(kvRoot, "__forget", "k_3")),
      "the forget registration must be durable beside the store")
    assert(Files.exists(Paths.get(kvRoot, "__tombstones", "k_3")),
      "the erase audit tombstone must be durable beside the store")

    // recovery: the checkpoint resumes; later fixtures carry tribute-3
    // events, which the governed filter must drop BEFORE either sink
    stage(batchOrder.drop(5), t0 + 10000)
    drain()

    val state = new graft.pipeline.FileKVStore(kvRoot).snapshot()
    assert(!state.contains("3"), "the victim must never re-materialize on disk")
    assert(state.size === 15, s"the other 15 tributes converge, got ${state.size}")
    assert(state("8")("status") === "ALIVE" && state("9")("status") === "ALIVE")
    assert(!Files.exists(Paths.get(kvRoot, "k_3")),
      "no victim key file may reappear after the restart replay")
    assert(spark.read.json(logDir)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3")
      .count() === 0, "no victim object may reappear in the event log")
  }

  test("forgetTributes is restart-safe: replayed and future victim events never re-materialize") {
    val base = Files.createTempDirectory("graft-forget-rs")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"forget-rs-${System.nanoTime()}"

    def stage(names: Seq[String], t0: Long): Unit =
      names.zipWithIndex.foreach { case (n, i) =>
        val dst = streamDir.resolve(s"$n.json")
        Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst,
          StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(t0 + i * 1000)
        ()
      }
    def drain(): Unit = {
      val q = TributePipeline.runGoverned(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    val t0 = System.currentTimeMillis() - 60000
    stage(batchOrder.take(5), t0)
    drain() // first incarnation, then "crash"

    // the forget request lands while the query is down
    TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir).collect()

    // recovery: the checkpoint resumes at batch 6; afterRue/almostTheEnd/
    // theEnd all carry tribute-3 events, which the governed filter must
    // drop BEFORE either sink
    stage(batchOrder.drop(5), t0 + 10000)
    drain()

    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(!state.contains("3"), "the victim must never re-materialize")
    assert(state.size === 15, s"the other 15 tributes converge, got ${state.size}")
    assert(state("8")("status") === "ALIVE" && state("9")("status") === "ALIVE")
    assert(spark.read.json(logDir)
      .filter(org.apache.spark.sql.functions.col("tributeid") === "3")
      .count() === 0, "no victim object may reappear in the event log")
  }
}
