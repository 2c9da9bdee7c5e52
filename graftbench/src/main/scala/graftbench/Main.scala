package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Derived, SparkEntry}

/** Named metric values with units, in insertion order. */
final class Metrics {
  val values: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  def put(name: String, value: Double, unit: String): Unit = { values(name) = (value, unit); () }
}

/** Workload runner: `run.py` builds this and calls it once per run. It
  * writes one JSON result (metrics, attempted/failed operations, each
  * mismatch) to `--out`; `run.py` adds the batch oracle check and
  * prints the result line.
  *
  * Arguments: --workload --seed --seconds --trace --cores --work --out
  * --fixtures --sf --paced-period-ms
  */
object Main {
  /** Set-ups measured per run; `setup_s` is their median. */
  val SetupReps = 3
  /** Copies of the narrative drained per second of `--seconds`. */
  val DrainCopiesPerSecond = 15
  /** Narrative copies per drain file: large files keep the fixed cost of
    * a micro-batch a small share of the drain. */
  val DrainCopiesPerFile = 25
  /** Untimed files at the start of the paced query, one narrative each. */
  val PacedWarmFiles = 2
  /** Erase requests served after the paced stream; each forgets one copy. */
  val EraseRequests = 1
  /** Small files of the untimed warm-up at the start of each query. */
  val WarmCopies = 3

  def session(cores: Int, localDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()
  /** A progress line on stderr, with seconds since start. */
  def note(what: String): Unit = System.err.println(f"graftbench: $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (0 for no samples). */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val v = xs.sorted.toIndexedSeq
      val h = (v.size - 1) * p
      val lo = math.floor(h).toInt
      v(lo) + (h - lo) * (v(math.min(lo + 1, v.size - 1)) - v(lo))
    }

  /** Peak resident set of this JVM, MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Creates the session and runs `setUp` on it [[SetupReps]] times,
    * keeping the last session; returns the set-up times in seconds. */
  def setUp[T](cores: Int, tracer: Tracer, localDir: Path)(once: (SparkSession, Int) => T): (SparkSession, T, Seq[Double]) = {
    var last: Option[(SparkSession, T)] = None
    val secs = (1 to SetupReps).map { i =>
      last.foreach { case (s, _) => tracer.uninstall(s); s.stop() }
      val t0 = System.nanoTime()
      val s = session(cores, localDir)
      val v = once(s, i)
      last = Some((s, v))
      (System.nanoTime() - t0) / 1e9
    }
    tracer.install(last.get._1)
    note(s"set up (${secs.map(x => f"$x%.2f").mkString(", ")} s)")
    (last.get._1, last.get._2, secs)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val tracer = new Tracer(a("trace") == "1")
    val cores = a("cores").toInt
    val work = Files.createDirectories(Paths.get(a("work")))
    val res = workload match {
      case "stream-paced" =>
        new StreamWorkload(seed, seconds, cores, tracer, work,
          Paths.get(a("fixtures")), a("paced-period-ms").toLong).run()
      case "batch-queries" =>
        new BatchWorkload(seed, seconds, cores, tracer, work, a("sf")).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    note("measured")
    res.metrics.put("rss_peak_mb", rssPeakMb(), "MB")
    if (tracer.enabled) tracer.writeOut(work.resolve("trace.json"))
    Files.write(Paths.get(a("out")), res.json.getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
    note("stopped")
    // exit even if a library thread pool is still alive
    sys.exit(0)
  }
}

/** What one run measured and whether its outputs were right. */
final class Result(val metrics: Metrics) {
  var attempted = 0
  val mismatches: mutable.ArrayBuffer[Golden.Mismatch] = mutable.ArrayBuffer.empty
  def json: String = {
    val m = Fixture.mapper
    val root = m.createObjectNode()
    root.put("attempted", attempted)
    root.put("failed", math.min(attempted, mismatches.size))
    val mm = root.putArray("mismatches")
    mismatches.foreach(x => mm.addObject().put("what", x.what).put("key", x.firstKey).put("detail", x.detail))
    val ms = root.putObject("metrics")
    metrics.values.foreach { case (k, (v, u)) => ms.putObject(k).put("value", v).put("unit", u) }
    m.writeValueAsString(root)
  }
}

/** `stream-paced`: `TributePipeline.run` over a durable `file:` KV store,
  * one file per trigger, as two queries in one JVM. The first drains a
  * staged backlog of large files; the second takes small files on a fixed
  * schedule and then serves an erase request against the log it wrote. */
final class StreamWorkload(seed: Long, seconds: Int, cores: Int, tracer: Tracer,
    work: Path, fixtures: Path, periodMs: Long) {
  import Main._

  private val amp = new Amplifier(Fixture.load(fixtures), seed)
  private var nextCopy = 0
  private def take(n: Int): Range = { val r = nextCopy until nextCopy + n; nextCopy += n; r }
  /** Warm-up files of the drain query: [[WarmCopies]] small ones, then one
    * of the measured shape, so the JIT has compiled the per-row paths. */
  private val drainWarm = take(WarmCopies).map(Seq(_)) :+ take(DrainCopiesPerFile)
  private val drainCopies = take(DrainCopiesPerSecond * seconds)
  /** The paced query's own first batches, which pay its per-query costs. */
  private val pacedWarm = take(PacedWarmFiles).map(Seq(_))
  private val pacedCopies = take(math.max(2, (seconds * 1000L / periodMs).toInt))
  private val tributeCsv = work.resolve("tributes.csv")
  Files.write(tributeCsv, amp.tributeCsv(0 until nextCopy))
  private val gameJson = fixtures.resolve("staticData/gameData.json")

  private def narratives(groups: Seq[Seq[Int]], prefix: String): IndexedSeq[StreamFile] =
    groups.zipWithIndex.map { case (cs, i) => StreamFile.narratives(amp, f"$prefix$i%05d.json", cs) }.toIndexedSeq

  private def drain(s: SparkSession, dims: (DataFrame, DataFrame), d: StreamDirs): (Long, StreamRun) =
    StreamBench.run(s, d, dims, narratives(drainWarm, "w"),
      narratives(drainCopies.grouped(DrainCopiesPerFile).toSeq, "d"), None)

  /** Loads the dimensions and starts and stops a query over no input. */
  private def setUpOnce(s: SparkSession, i: Int) = {
    val dims = StreamBench.dims(s, tributeCsv, gameJson)
    val q = StreamBench.start(s, new StreamDirs(work.resolve(s"setup$i")), dims)
    try q.processAllAvailable() finally q.stop()
    dims
  }

  /** The converged state and log of one query must hold exactly `copies`. */
  private def check(res: Result, d: StreamDirs, r: StreamRun, copies: Seq[Int]): Unit = {
    res.attempted += r.batches.size
    if (!r.aligned) res.mismatches += Golden.Mismatch("micro-batches", r.queryId,
      s"${r.batches.size} batches for ${r.files.size} files: a batch did not carry exactly one file")
    res.mismatches ++= Golden.checkState(amp, copies, StreamBench.state(d))
    res.mismatches ++= Golden.checkLog(d.log, amp.eventTributes(copies))
  }

  def run(): Result = {
    val (s, dims, setupSecs) = setUp(cores, tracer, work)(setUpOnce)
    val res = new Result(new Metrics)
    val m = res.metrics
    m.put("setup_s", median(setupSecs), "s")
    val dd = new StreamDirs(work.resolve("drain"))
    val (coldMs, dr) = tracer.span("drain")(drain(s, dims, dd))
    m.put("cold_s", coldMs / 1000.0, "s")
    // per batch, then the median: a single slow batch does not move it
    m.put("drain.events_per_s", median(dr.batches.indices.map(i =>
      dr.files(i).eventIds.size * 1000.0 / math.max(1L, dr.batchEndMs(i) - dr.batchStartMs(i)))), "1/s")
    val pd = new StreamDirs(work.resolve("paced"))
    val (_, pr) = tracer.span("paced")(StreamBench.run(s, pd, dims, narratives(pacedWarm, "w"),
      narratives(pacedCopies.map(Seq(_)), "p"), Some(periodMs)))
    m.put("throughput_per_s", pr.events / ((pr.endMs - pr.startMs) / 1000.0), "1/s")
    val lat = pr.latenciesMs
    m.put("lat_p50_ms", quantile(lat, 0.5), "ms")
    m.put("lat_p95_ms", quantile(lat, 0.95), "ms")
    // before the erase takes its victim out
    val logObjects = Golden.logObjects(dd.log) + Golden.logObjects(pd.log)
    val kvKeys = StreamBench.state(dd).size + StreamBench.state(pd).size

    val victims = new scala.util.Random(seed).shuffle(pacedCopies.toIndexedSeq).take(EraseRequests).sorted
    val erases = victims.map { v =>
      val ids = Golden.FinalState.keys.toSeq.map(t => amp.tributeId(v, t)).sorted
      tracer.span(s"erase:$v")(StreamBench.erase(s, pd, ids))
    }
    m.put("erase.request_ms", median(erases.map(_._1.toDouble)), "ms")
    res.attempted += erases.size
    erases.zip(victims).foreach { case ((_, audit), v) =>
      val deleted = audit.map(_._3).sum
      audit.find(x => x._4 || x._5 != 0).foreach(x =>
        res.mismatches += Golden.Mismatch(s"erase of copy $v", x._1, s"residual state ${x._4}, residual log ${x._5}"))
      if (deleted != amp.fixture.eventsPerCopy) res.mismatches += Golden.Mismatch(s"erase of copy $v",
        audit.headOption.map(_._1).getOrElse(""), s"deleted $deleted log objects, expected ${amp.fixture.eventsPerCopy}")
    }
    check(res, dd, dr, drainWarm.flatten ++ drainCopies)
    check(res, pd, pr, (pacedWarm.flatten ++ pacedCopies).filterNot(victims.contains))

    if (tracer.enabled) {
      tracer.settle()
      Layers.perBatch(m, tracer, pr)
      Layers.drain(m, tracer, dr, cores)
      Layers.erase(m, tracer, erases.map(_._2))
      val runs = Seq(dr, pr)
      m.put("engine.batches", runs.map(_.batches.size).sum, "count")
      m.put("engine.input_rows_excess", runs.map(r => r.batches.map(_.numInputRows).sum - r.events).sum, "count")
      m.put("gen.events", runs.map(_.events).sum, "count")
      m.put("kv.puts", runs.map(_.files.map(_.tributes).sum).sum, "count")
      m.put("log.objects", logObjects, "count")
      m.put("kv.keys", kvKeys, "count")
      // the same drain at one core, for drain.speedup_1core
      tracer.uninstall(s)
      s.stop()
      val s1 = session(1, work)
      val (_, dr1) = drain(s1, StreamBench.dims(s1, tributeCsv, gameJson), new StreamDirs(work.resolve("drain1")))
      m.put("drain.speedup_1core", (dr1.endMs - dr1.startMs).toDouble / (dr.endMs - dr.startMs), "ratio")
    }
    res
  }
}

/** `batch-queries`: ten `SparkEntry.queries` entries at a fixed scale. */
final class BatchWorkload(seed: Long, seconds: Int, cores: Int, tracer: Tracer, work: Path, sf: String) {
  import Main._

  def run(): Result = {
    val (s, _, setupSecs) = setUp(cores, tracer, work)((s, _) => BatchBench.warmTables(s, sf))
    val res = new Result(new Metrics)
    val m = res.metrics
    m.put("setup_s", median(setupSecs), "s")
    s.conf.set("spark.graft.derived.root", work.resolve("derived").toString)
    val order = new scala.util.Random(seed).shuffle(BatchBench.Queries)
    val out = Files.createDirectories(work.resolve("out"))
    val (cold, warm) = tracer.span("queries")(BatchBench.run(s, sf, order, seconds, out))
    res.attempted = cold.size + warm.size
    val oracle = Fixture.mapper.createObjectNode()
    order.foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    Fixture.mapper.writeValue(out.resolve("oracle_sql.json").toFile, oracle)

    // a warm pass over the ten queries is one request: single query times
    // are too unlike one another for a percentile across them to be steady
    val passMs = warm.groupBy(_.rep).values.map(_.map(_.ms.toDouble).sum).toSeq
    m.put("cold_s", cold.map(_.ms).sum / 1000.0, "s")
    m.put("lat_p50_ms", quantile(passMs, 0.5), "ms")
    m.put("lat_p95_ms", quantile(passMs, 0.95), "ms")
    m.put("throughput_per_s", warm.size / (passMs.sum / 1000.0), "1/s")
    val perQuery = warm.groupBy(_.query).map { case (q, reps) => q -> median(reps.map(_.ms.toDouble)) }
    m.put("batch.warm_s", perQuery.values.sum / 1000.0, "s")
    m.put("batch.cold_s", cold.map(_.ms).sum / 1000.0, "s")

    if (tracer.enabled) {
      tracer.settle()
      Layers.batch(m, tracer, warm, perQuery, cores)
      val builds = Derived.buildSeconds
      builds.foreach { case (art, secs) => m.put(s"derived.$art.build_s", secs, "s") }
      m.put("derived.build_s", builds.values.sum, "s")
    }
    res
  }
}
