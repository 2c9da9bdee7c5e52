package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

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
    stageFiles(streamDir, batchOrder.take(5), t0)
    runUntilDrained() // first incarnation: 5 batches, then "crash"

    stageFiles(streamDir, batchOrder.drop(5), t0 + 10000)
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

  /** The full 16-item golden state, from the DataFrame reference
    * ([[FlagshipReference]], FlagshipBatchSpec pins it) with a
    * data-derived arrival sequence: batch ordinal in the send order, then
    * the event's ordinal in its batch. */
  private lazy val goldenState: Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions._
    val stamped = batchOrder.zipWithIndex.map { case (b, i) =>
      Sources.eventBatch(spark, fixture(s"streamingData/$b.json"))
        .withColumn("__seq", lit(i.toLong * 1000000L) +
          regexp_extract(col("streamingeventid"), "Event(\\d+)$", 1).cast("long"))
    }.reduce(_ unionAll _)
    val state = FlagshipReference.latestStatePerTribute(
      FlagshipReference.enrich(stamped,
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json"))),
      col("__seq"))
    state.collect().map { r =>
      r.getString(0) -> state.columns.indices.map { i =>
        state.columns(i) -> (if (r.isNullAt(i)) null else r.get(i).toString)
      }.toMap
    }.toMap
  }

  /** Copies fixture batches into `streamDir`, their modification times
    * ascending from `t0` in the given order, so the file source's arrival
    * order is the documented send order. */
  private def stageFiles(streamDir: Path, names: Seq[String], t0: Long): Unit =
    names.zipWithIndex.foreach { case (n, i) =>
      val dst = streamDir.resolve(s"$n.json")
      Files.copy(Paths.get(fixture(s"streamingData/$n.json")), dst)
      dst.toFile.setLastModified(t0 + i * 1000)
      ()
    }

  /** Copies the 9 fixture batches into a new stream directory, their
    * modification times ascending in the documented send order. */
  private def stageAll(prefix: String): Path = {
    val streamDir = Files.createDirectories(Files.createTempDirectory(prefix).resolve("stream"))
    stageFiles(streamDir, batchOrder, System.currentTimeMillis() - 60000)
    streamDir
  }

  test("graft.Main replays the fixture directory through the runner to the golden state") {
    val state = Main.replay(spark, fixture("streamingData"),
      fixture("staticData/tributeData.csv"), fixture("staticData/gameData.json"))
    assert(goldenState.size === 16)
    assert(state === goldenState)
  }

  private def runIn(
      s: org.apache.spark.sql.SparkSession,
      streamDir: Path,
      storeName: String,
      base: Path): org.apache.spark.sql.streaming.StreamingQuery =
    TributePipeline.run(
      Sources.eventStream(s, streamDir.toString),
      Sources.tributeDim(s, fixture("staticData/tributeData.csv")),
      Sources.gameDim(s, fixture("staticData/gameData.json")),
      storeName, base.resolve("eventlog").toString, base.resolve("checkpoint").toString)

  for (defaultFirst <- Seq(true, false)) {
    val (from, to) = if (defaultFirst) ("Spark's default", "graft's") else ("graft's", "Spark's default")
    test(s"a replay checkpoint begun under $from checkpoint manager resumes under $to") {
      import graft.streaming.LocalCheckpointFileManager.ClassKey
      val sparkDefault = classOf[
        org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName
      // a session of its own, so the manager choice stays in this test
      val s = spark.newSession()
      val base = Files.createTempDirectory("graft-cfm-restart")
      val streamDir = Files.createDirectory(base.resolve("stream"))
      val storeName = s"cfm-restart-$defaultFirst-${System.nanoTime()}"
      def drain(): Unit = {
        val q = runIn(s, streamDir, storeName, base)
        q.processAllAvailable()
        q.stop()
      }
      val t0 = System.currentTimeMillis() - 60000
      if (defaultFirst) s.conf.set(ClassKey, sparkDefault)
      stageFiles(streamDir, batchOrder.take(5), t0)
      drain() // batches 0-4
      if (defaultFirst) s.conf.unset(ClassKey) else s.conf.set(ClassKey, sparkDefault)
      stageFiles(streamDir, batchOrder.drop(5), t0 + 10000)
      drain() // batches 5-8, resumed from the same checkpoint

      // only Spark's default manager writes checksum files: each offset
      // file committed under it has one, and none committed under graft's
      val crcs = Files.list(base.resolve("checkpoint").resolve("offsets")).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".crc")).toSet
      val defaultBatches = if (defaultFirst) 0 to 4 else 5 to 8
      assert(crcs === defaultBatches.map(b => s".$b.crc").toSet)

      val state = KVRegistry.getOrCreate(storeName).snapshot()
      assert(state === goldenState)
      assert(Files.list(base.resolve("eventlog")).count() === 65)
    }
  }

  test("local checkpoint commits start no process (JFR jdk.ProcessStart over a replay)") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val base = Files.createTempDirectory("graft-forks")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val t0 = System.currentTimeMillis() - 60000
    stageFiles(streamDir, batchOrder.take(1), t0)
    val q = runIn(spark, streamDir, s"forks-${System.nanoTime()}", base)
    val rec = new Recording()
    val dump = base.resolve("forks.jfr")
    try {
      q.processAllAvailable() // the first batch creates the checkpoint
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      stageFiles(streamDir, batchOrder.slice(1, 4), t0 + 1000)
      q.processAllAvailable()
      // the control: a process this test starts itself is recorded
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(dump)
    } finally {
      q.stop()
      rec.close()
    }
    assert(q.recentProgress.count(_.numInputRows > 0) === 4)
    val starts = RecordingFile.readAllEvents(dump).asScala.toSeq
    assert(starts.exists(_.getString("command") == "true"), "the recording missed the control process")
    val streaming = starts.filter { e =>
      e.getStackTrace != null && e.getStackTrace.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.spark.sql.execution.streaming"))
    }
    assert(streaming.isEmpty, s"${streaming.size} processes started from the streaming engine, e.g. " +
      streaming.take(2).map(e => e.getString("command") + "\n" + e.getStackTrace).mkString("\n"))
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

  // with a tribute forgotten before the query starts, each batch also
  // broadcasts the forgotten set, which must add no job
  for (victim <- Seq(None, Some("3"))) {
    test("micro-batch shape: one action per data batch, dimensions read once per query (typed plan checks)" +
        victim.fold("")(v => s", with tribute $v forgotten before the query starts")) {
      import java.util.concurrent.ConcurrentLinkedQueue
      import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
      import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
      import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
      import org.apache.spark.sql.util.QueryExecutionListener

      def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case s: QueryStageExec => s +: nodes(s.plan)
        case n => n +: (n.children ++ n.subqueries).flatMap(nodes)
      }
      val fence = "graft.test.fence"
      val jobs = new ConcurrentLinkedQueue[(String, Long, String)]() // (query id, batch id, SQL execution id)
      val fences = new java.util.concurrent.atomic.AtomicInteger(0)
      val plans = new ConcurrentLinkedQueue[SparkPlan]()
      val executions = new ConcurrentLinkedQueue[String]() // SQL execution ids, as they start
      val jobListener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          val p = j.properties
          if (p != null && p.getProperty(fence) != null) { fences.incrementAndGet(); () }
          else if (p != null && p.getProperty("sql.streaming.queryId") != null) {
            jobs.add((p.getProperty("sql.streaming.queryId"),
              p.getProperty("streaming.sql.batchId").toLong, p.getProperty("spark.sql.execution.id")))
            ()
          }
        }
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => executions.add(s.executionId.toString); ()
          case _ =>
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
      def drained(): (Seq[SparkPlan], Seq[String]) = {
        val seen = fences.get()
        spark.sparkContext.setLocalProperty(fence, "1")
        try spark.sparkContext.parallelize(1 to 1, 1).count()
        finally spark.sparkContext.setLocalProperty(fence, null)
        val deadline = System.currentTimeMillis() + 30000
        while (fences.get() == seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
        (Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq,
          Iterator.continually(executions.poll()).takeWhile(_ != null).toSeq)
      }

      val base = Files.createTempDirectory("graft-shape")
      val streamDir = Files.createDirectory(base.resolve("stream"))
      val storeName = s"shape-${System.nanoTime()}"
      val logDir = base.resolve("eventlog").toString
      victim.foreach(v => TributePipeline.forgetTributes(spark, Seq(v), storeName, logDir))
      val q = TributePipeline.run(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, base.resolve("checkpoint").toString)
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      val (perBatch, executionsPerBatch) = try {
        drained()
        val t0 = System.currentTimeMillis() - 60000
        batchOrder.take(4).zipWithIndex.map { case (n, i) =>
          stageFiles(streamDir, Seq(n), t0 + i * 1000)
          q.processAllAvailable()
          drained()
        }.unzip
      } finally {
        q.stop()
        spark.listenerManager.unregister(planListener)
        spark.sparkContext.removeSparkListener(jobListener)
      }

      val byBatch = jobs.asScala.filter(_._1 == q.id.toString).toSeq.groupBy(_._2)
      assert(byBatch.keySet === Set(0L, 1L, 2L, 3L), s"jobs by batch: $byBatch")
      // the first data batch also reads the two dimensions, one job each
      assert(byBatch(0L).size <= 3, s"jobs by batch: $byBatch")
      (1 to 3).foreach { b =>
        assert(byBatch(b.toLong).size === 1, s"jobs by batch: $byBatch")
        // the batch's job runs under the engine's own SQL execution of the
        // batch, and the batch starts no SQL execution of its own
        assert(executionsPerBatch(b) === byBatch(b.toLong).map(_._3),
          s"batch $b: SQL executions ${executionsPerBatch(b)}, jobs ${byBatch(b.toLong)}")
      }

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
      victim.foreach { v =>
        val state = KVRegistry.getOrCreate(storeName).snapshot()
        assert(state.nonEmpty && !state.contains(v), s"the forgotten tribute reached the state: ${state.keys}")
        assert(spark.read.json(logDir).filter(org.apache.spark.sql.functions.col("tributeid") === v)
          .count() === 0, "the forgotten tribute reached the event log")
      }
    }
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
    stageFiles(streamDir, batchOrder, t0)
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

    stageFiles(streamDir, batchOrder.take(5), System.currentTimeMillis() - 60000)
    val q = TributePipeline.run(
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

  test("forgetTributes finds the key under the event frame's own spelling (a tributeId-keyed log)") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-forget-case")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val storeName = s"forget-case-${System.nanoTime()}"
    stageFiles(streamDir, batchOrder.take(5), System.currentTimeMillis() - 60000)
    val q = TributePipeline.run(
      Sources.eventStream(spark, streamDir.toString).withColumnRenamed("tributeid", "tributeId"),
      Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
      Sources.gameDim(spark, fixture("staticData/gameData.json")),
      storeName, logDir, base.resolve("checkpoint").toString)
    q.processAllAvailable()
    q.stop()

    val one = new String(Files.readAllBytes(Paths.get(logDir, "preCornucopiaEvent1.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(one.contains("\"tributeId\":") && !one.contains("\"tributeid\":"), one)
    val logsBefore = Files.list(Paths.get(logDir)).count()
    // an inferred schema resolves the column case-insensitively
    val catoBefore = spark.read.json(logDir).filter(col("tributeid") === "3").count()
    assert(catoBefore > 0, "the fixture must contain victim events")

    val audit = TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir)
      .collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4)))
    assert(audit.toSeq === Seq(("3", true, catoBefore, false, 0L)))
    assert(Files.list(Paths.get(logDir)).count() === logsBefore - catoBefore)
    assert(spark.read.json(logDir).filter(col("tributeid") === "3").count() === 0)
  }

  test("forgetTributes mid-flight: an erase racing an in-flight batch leaves zero residuals without quiesce") {
    val base = Files.createTempDirectory("graft-forget-race")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"forget-race-${System.nanoTime()}"

    stageFiles(streamDir, batchOrder.take(5), System.currentTimeMillis() - 60000)
    // the erase fires INSIDE the first batch, after its admission
    // snapshot is taken and before its writes — the exact race the old
    // quiesce contract documented: the batch was admitted pre-erase and
    // re-appends victim events right after the scrub
    val erased = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = TributePipeline.run(
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

    def drain(): Unit = {
      val q = TributePipeline.run(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    val t0 = System.currentTimeMillis() - 60000
    stageFiles(streamDir, batchOrder.take(5), t0)
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
    stageFiles(streamDir, batchOrder.drop(5), t0 + 10000)
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

  test("file: store — a run replay is durable: a fresh client over the same root reads the converged state") {
    val streamDir = stageAll("graft-durable-replay")
    val base = streamDir.getParent
    val root = base.resolve("store").toString
    val storeName = s"file:$root"
    val q = runIn(spark, streamDir, storeName, base)
    q.processAllAvailable()
    q.stop()
    // the registry client converged
    val state = KVRegistry.getOrCreate(storeName).snapshot()
    assert(state.size === 16)
    assert(state("8")("status") === "ALIVE" && state("9")("status") === "ALIVE")
    // REAL BYTES: one file per key on disk, atomic-renamed (no temps left)
    val files = Files.list(Paths.get(root)).iterator()
    val names = Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getFileName.toString).toSeq
    assert(names.count(_.startsWith("k_")) === 16, s"one file per key: $names")
    assert(!names.exists(_.endsWith(".tmp")), s"no staging temps may leak: $names")
    // a FRESH client over the same root — another process, in effect —
    // reads the identical state (the durability InMemoryKVStore can't offer)
    val fresh = new graft.pipeline.FileKVStore(root)
    assert(fresh.snapshot() === state)
    assert(fresh.get("9").map(_("name")) === Some("Katniss"))
    // physical delete: the key's FILE is gone, not just a map entry
    fresh.delete("3")
    assert(!Files.exists(Paths.get(root, "k_3")), "delete must unlink the key file")
    assert(KVRegistry.getOrCreate(storeName).get("3").isEmpty,
      "every client over the root must observe the physical delete")
    // null-valued fields and odd characters round-trip through the encoding
    fresh.put("weird/key\tname", Map("a b" -> null, "x" -> "line\nbreak\tand=%"))
    assert(new graft.pipeline.FileKVStore(root).get("weird/key\tname")
      === Some(Map("a b" -> null, "x" -> "line\nbreak\tand=%")))
  }

  test("KVStore.keys is the snapshot's key set on both stores, side tables and staging temps excluded") {
    val root = Files.createTempDirectory("graft-kv-keys")
    val storeName = s"file:$root"
    // a file: store's forget and tombstone tables are subdirectories of
    // its root, and a put stages its item in a temp file there
    KVRegistry.getOrCreate(TributePipeline.forgetStoreName(storeName)).put("3", Map("tributeId" -> "3"))
    KVRegistry.getOrCreate(TributePipeline.tombstoneStoreName(storeName)).put("3", Map("tributeId" -> "3"))
    Files.createTempFile(root, ".put-", ".tmp")
    for (store <- Seq(new graft.pipeline.InMemoryKVStore, new graft.pipeline.FileKVStore(root.toString))) {
      assert(store.keys() === Set.empty && store.snapshot().isEmpty)
      Seq("3", "9", "weird/key\tname", "k_x").foreach(k => store.put(k, Map("tributeId" -> k, "n" -> null)))
      store.delete("3")
      assert(store.keys() === store.snapshot().keySet)
      assert(store.keys() === Set("9", "weird/key\tname", "k_x"))
    }
  }

  test("forgetTributes is restart-safe: replayed and future victim events never re-materialize") {
    val base = Files.createTempDirectory("graft-forget-rs")
    val streamDir = Files.createDirectory(base.resolve("stream"))
    val logDir = base.resolve("eventlog").toString
    val ckpt = base.resolve("checkpoint").toString
    val storeName = s"forget-rs-${System.nanoTime()}"

    def drain(): Unit = {
      val q = TributePipeline.run(
        Sources.eventStream(spark, streamDir.toString),
        Sources.tributeDim(spark, fixture("staticData/tributeData.csv")),
        Sources.gameDim(spark, fixture("staticData/gameData.json")),
        storeName, logDir, ckpt)
      q.processAllAvailable()
      q.stop()
    }

    val t0 = System.currentTimeMillis() - 60000
    stageFiles(streamDir, batchOrder.take(5), t0)
    drain() // first incarnation, then "crash"

    // the forget request lands while the query is down
    TributePipeline.forgetTributes(spark, Seq("3"), storeName, logDir).collect()

    // recovery: the checkpoint resumes at batch 6; afterRue/almostTheEnd/
    // theEnd all carry tribute-3 events, which the governed filter must
    // drop BEFORE either sink
    stageFiles(streamDir, batchOrder.drop(5), t0 + 10000)
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
