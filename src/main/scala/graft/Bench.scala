package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Methodology: the session is warmed first (each table's footer/schema
  * read + one tiny job so codegen/JIT paths exist), then each query is
  * timed on a full materialization through the `noop` sink — every output
  * column is computed, nothing is skipped the way `count()` would skip
  * projections. Each query runs three times with caches cleared in
  * between (so every rep re-pays ALL compute, including its persists) and
  * the best of three reps is reported: that is the steady-state cost of
  * the plan, excluding the once-per-JVM janino/JIT compilation of
  * generated code — the number that actually scales with data volume.
  * Caches are also cleared between queries so one query's persist can't
  * subsidize (or memory-starve) the next.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.sweepSession(cpus)
      // Off-heap Tungsten memory (the round-11 ScaleSmoke adoption,
      // re-verified on this full sweep: 235 queries 164.4 s off-heap vs
      // 174.3 s on-heap, zero regressions past 1.5x, GC-band heavies
      // q111/q199/q39 0.5-0.7x): sort/shuffle buffers stop taxing the
      // collector, which is what a production executor config does too.
      // Off-heap is OUTSIDE the JVM heap cap — on hosts with less free
      // RAM than heap+16g the OS OOM-killer would hit where the on-heap
      // config ran, so the size is overridable (SPARK_GRAFT_OFFHEAP=4g).
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size",
        sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "16g"))
      .getOrCreate()
    // ERROR, not WARN: sbt renders every stderr line as `[error] …`, so
    // routine Spark WARNs (large task binaries, block re-adds) read as
    // failure signals in the driver's captured tail on a healthy run
    spark.sparkContext.setLogLevel("ERROR")

    // Start from an EMPTY derived store: every shared artifact (pair
    // mining, LSH dup pairs, Lloyd centroids, …) rebuilds exactly once in
    // this run, inside rep 1 of its first consumer. Best-of-3 still
    // reports the consumer's steady-state scan cost, and the build wall
    // times — recorded per artifact by graft.Derived — land in
    // BENCH_FULL.json's "builds" section so the sweep gate can pin them:
    // consumer pins price the artifact SCAN, and without a gated build
    // number a 2x regression in the mining/Lloyd chains ships invisibly.
    Derived.clearRoot(spark)
    Derived.resetBuildLog()

    // Warmup: touch the main tables (footer + schema + one scan) and
    // exercise shuffle/codegen once, so the first timed query isn't
    // charged for session bring-up.
    try {
      import org.apache.spark.sql.functions._
      Seq(
        graft.sources.Tables.lineitem(spark, sfDir),
        graft.sources.Tables.orders(spark, sfDir),
        graft.sources.Tables.customer(spark, sfDir),
        graft.sources.Tables.events(spark, sfDir),
        graft.sources.Tables.documents(spark, sfDir),
        graft.sources.Tables.embeddings(spark, sfDir)
      ).foreach(df => df.limit(1000).groupBy(spark_partition_id())
        .count().collect())
    } catch { case _: Throwable => }

    // A crashed rep must never masquerade as a fast one: each rep returns
    // either its wall time or the failure message, and a query only reports
    // a time if at least one rep SUCCEEDED (best successful rep). Queries
    // with zero successful reps are excluded from the total and surfaced in
    // an "errors" object instead.
    // artifact name -> the first query whose reps triggered its build:
    // the sweep gate re-measures a flagged BUILD by re-running that
    // consumer against a cleared store, so the mapping must be recorded
    val buildConsumers = scala.collection.mutable.LinkedHashMap[String, String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      // targeted re-measurement: SPARK_GRAFT_ONLY=q45,q39; unset = full sweep
      .filter { case (name, _) => SparkEntry.selected(name) }
      .map { case (name, fn) =>
      val buildsBefore = Derived.buildSeconds.keySet
      def rep(): Either[String, Double] = {
        // scope the rep so only ITS tracked caches are dropped (graft.Caches)
        val scope = Caches.open()
        val t0 = System.nanoTime()
        val outcome =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // drain the rep's cache scope, then drop anything else (the
        // reference-parity source cache hints)
        scope.release()
        spark.catalog.clearCache()
        // reclaim the dropped cache/shuffle buffers now, so one query's
        // garbage doesn't tax the next query's reps with GC pauses
        System.gc()
        outcome.toLeft(dt)
      }
      // three reps: the first pays janino compilation, the second still
      // runs much of the hot path under C1 tiering — steady state (the
      // number that scales with data volume) arrives by the third
      val reps = Seq(rep(), rep(), rep())
      (Derived.buildSeconds.keySet -- buildsBefore).foreach { art =>
        buildConsumers.getOrElseUpdate(art, name)
      }
      val ok = reps.collect { case Right(t) => t }
      if (ok.nonEmpty) name -> Right(ok.min)
      else name -> Left(reps.collectFirst { case Left(m) => m }.getOrElse("unknown"))
    }
    val builds = Derived.buildSeconds
    val timed = results.collect { case (k, Right(t)) => k -> t }
    val failed = results.collect { case (k, Left(m)) => k -> m }
    // Full-name per-query detail goes to stdout, '#'-prefixed, ABOVE the
    // machine-read JSON line: stderr lines get rendered as `[error] …` by
    // sbt, which reads as a failure signal on a perfectly healthy run.
    // The JSON line stays last on stdout so a tail capture still ends
    // with it. The machine-read line itself must stay SHORT: the harness
    // that collects this output keeps only the final ~2000 characters of
    // the run log — and at 200 queries even the qNN-prefix millisecond
    // map is ~2600 chars, so an unbounded map truncates the line HEAD
    // and nothing parses (the round-8 failure mode, which would have
    // recurred at this query count). The map is therefore built
    // slowest-first under an explicit character budget: the slow
    // queries — the ones perf grading reads — always make the line, the
    // fast tail is summarized into omitted/omitted_sum so the total
    // still reconciles, and the line parses at ANY query count.
    failed.foreach { case (k, m) => println(s"# BENCH FAIL $k: $m") }
    timed.sortBy(-_._2).foreach { case (k, v) =>
      println(f"# BENCH $k%-28s ${v}%9.3f s")
    }
    builds.toSeq.sortBy(-_._2).foreach { case (k, v) =>
      println(f"# BUILD $k%-36s ${v}%9.3f s  (during ${buildConsumers.getOrElse(k, "?")})")
    }
    def ms3(v: Double): String = f"$v%.3f"
    val mapBudget = 1500 // chars for the queries map, < the ~2000 tail
    val entries = timed.sortBy(-_._2).map { case (k, v) =>
      JsonEscape.quote(k.takeWhile(_ != '_')) + ":" + ms3(v)
    }
    val lens = entries.map(_.length + 1).scanLeft(0)(_ + _).tail
    val nKeep = lens.count(_ <= mapBudget)
    val kept = entries.take(nKeep)
    val omitted = timed.size - nKeep
    val omittedSum = timed.sortBy(-_._2).drop(nKeep).map(_._2).sum
    val qs = kept.mkString("{", ",", "}")
    val omitPart =
      if (omitted == 0) ""
      else s""","omitted":$omitted,"omitted_sum":${ms3(omittedSum)}"""
    // The stdout line must parse no matter how many queries fail: the
    // harness captures only the final ~2000 chars, and an unbounded errors
    // map (39 failures × ~70 chars in round 8) pushes the line past that
    // and loses EVERY timing. Full messages are already on stderr above;
    // here we list only the first few failing qNN keys with a stub message
    // plus a count of the rest, keeping the errors part under ~150 chars
    // at any failure count.
    val errsPart =
      if (failed.isEmpty) ""
      else {
        val shown = failed.take(5).map { case (k, m) =>
          JsonEscape.quote(k.takeWhile(_ != '_')) + ":" + JsonEscape.quote(m.take(12))
        }
        val more =
          if (failed.size > 5) Seq(s""""more":${failed.size - 5}""") else Nil
        (shown ++ more).mkString(""","errors":{""", ",", "}")
      }
    val total = timed.map(_._2).sum
    // the COMPLETE per-query map goes to a file (stdout only carries the
    // bounded summary above); best-effort, since the cwd may be read-only.
    // The file dump carries the UNTRUNCATED error map (full query names,
    // full 300-char messages) — the bounded errsPart exists only for the
    // size-limited stdout line, and failure detail must survive somewhere
    // durable, not just on the volatile console.
    val fullQs = timed.sortBy(_._1).map { case (k, v) =>
      JsonEscape.quote(k) + ":" + ms3(v)
    }.mkString("{", ",", "}")
    val errsFullPart =
      if (failed.isEmpty) ""
      else failed.map { case (k, m) =>
        JsonEscape.quote(k) + ":" + JsonEscape.quote(m)
      }.mkString(""","errors":{""", ",", "}")
    // build wall times + the consumer each build ran under: the sweep
    // gate pins these (BASELINE_QUERIES.json "builds") exactly like
    // query times, closing the round-16 gate hole where consumer pins
    // priced artifact scans while the builds themselves went unmeasured
    val buildsPart = {
      val bs = builds.toSeq.sortBy(_._1).map { case (k, v) =>
        JsonEscape.quote(k) + ":" + ms3(v)
      }.mkString("{", ",", "}")
      val bc = buildConsumers.toSeq.sortBy(_._1).map { case (k, q) =>
        JsonEscape.quote(k) + ":" + JsonEscape.quote(q.takeWhile(_ != '_'))
      }.mkString("{", ",", "}")
      s""","builds":$bs,"build_consumers":$bc"""
    }
    val fullLine =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$fullQs$errsFullPart$buildsPart,"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] full dump skipped: $e") }
    // "full" names the tracked file carrying the COMPLETE per-query map
    // (the stdout map is budget-bounded; see above). The driver commits
    // leftover changes each round, so the full driver-run map lands in the
    // tree as BENCH_FULL.json — per-query gates are auditable from there.
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec","n_queries":${timed.size},"full":"BENCH_FULL.json","queries":$qs$omitPart$errsPart,"sf":"$sfDir"}""")
    spark.stop()
  }
}
