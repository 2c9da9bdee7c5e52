package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Heavy-query scale smoke: run the most expensive operators (q22
  * MinHash-LSH, q56 dup clusters, q61 trained IVF, q74 boilerplate,
  * q80 source overlap, q94 n-gram novelty, q105 prefix sim join,
  * q112 containment join, q111 sweep-line prefix sum, q121 co-purchase
  * triangles, q124 distributed global ranking, q195 canonical docs,
  * q196 dup spans, q198 delta dedup, q200 LSH recall audit, q203 DSIR
  * weights, q204 SemDedup with corpus-scaled nCells) on an N×-amplified
  * corpus/event-log/fact-table, assert completion, and
  * report wall times — the "scales to 100×" design claims get at least
  * one measured 10× data point.
  *
  * Amplification preserves the dup STRUCTURE instead of inflating it:
  * each copy of the documents table gets a per-copy character bijection
  * (`translate` over the lowercase alphabet, rotated by the copy index),
  * so documents that were near-dups of each other stay near-dups WITHIN a
  * copy but no document is a near-dup of its sibling in another copy.
  * True dup pairs therefore grow linearly with the multiplier — the same
  * way a real 10× crawl grows — not quadratically the way verbatim
  * replication would. Embeddings get a per-copy, per-dimension
  * perturbation for the same reason (identical copies would make every
  * ranking a tie).
  *
  * Usage: `runMain graft.ScaleSmoke [sfDir] [multiplier]`
  * Prints one JSON line: {"multiplier":N,"rows":{...},"queries":{"q22":s,...}}
  */
object ScaleSmoke {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** The 12 multipliers coprime to 26 — with the 26 offsets they span
    * 312 distinct affine bijections x → a·x + b (mod 26). */
  private val coprime26 = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** documents amplified `mult`×: ids shifted by a fixed stride, text
    * re-lettered per copy so cross-copy pairs are never near-dups. The
    * per-copy bijection is an AFFINE map over the alphabet (312 distinct
    * members), not a plain rotation (26): with rotations, copies i and
    * i+26 reused the same bijection, so at 100× every document had ~4
    * EXACT cross-copy duplicates and the dup structure grew
    * quadratically — inflating 100× readings of every docs-based
    * similarity operator (the round-11 q105/q112 over-linear artifact).
    * Copies 0–25 keep the old rotations (a=1) so ≤26× readings are
    * directly comparable across amplifier versions. */
  def amplifyDocs(docs: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame = {
    require(mult <= 312, s"amplifyDocs supports <= 312 distinct bijections, got $mult")
    (0 until mult).map { i =>
      val a = coprime26(i / 26 % 12)
      val b = i % 26
      val mapped = (0 until 26).map(x => alpha((a * x + b) % 26)).mkString
      docs.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        translate(col("text"), alpha, mapped).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
  }

  /** embeddings amplified `mult`×: ids shifted, vectors nudged per
    * (copy, dimension) so rankings keep strict orderings. */
  def amplifyEmb(emb: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame =
    (0 until mult).map { i =>
      emb.select(
        (col("vec_id") + lit(i * stride)).as("vec_id"),
        transform(col("embedding"),
          (x, pos) => x + (pos + lit(1)).cast("float") * lit(i * 1e-5f)).as("embedding"),
        col("label"))
    }.reduce(_ unionAll _)

  /** events amplified `mult`×: user and event ids shifted per copy so
    * per-user session structure repeats across disjoint user spaces —
    * sessions, boundaries, and paths all grow linearly like a real
    * user-base expansion. */
  def amplifyEvents(events: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame =
    (0 until mult).map { i =>
      events.select(
        (col("event_id") + lit(i * stride)).as("event_id"), col("ts"),
        (col("user_id") + lit(i * stride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)

  /** orders amplified `mult`×: order and customer keys shifted per copy,
    * dates UNCHANGED — the month-partition count stays fixed (80 dirs)
    * while each partition's row mass grows `mult`×, which is how a fact
    * table actually scales (more rows per period, not more periods).
    * That makes the q253 DPP question the right one at every decade:
    * does the runtime dim filter still prune 3/12 of a `mult`× fact? */
  def amplifyOrders(orders: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame =
    (0 until mult).map { i =>
      orders.select(
        (col("o_orderkey") + lit(i * stride)).as("o_orderkey"),
        (col("o_custkey") + lit(i * stride)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionAll _)

  /** lineitem amplified `mult`×: order AND part keys shifted per copy —
    * disjoint catalog copies, so the co-purchase graph (edges, degrees,
    * triangles) grows linearly instead of densifying quadratically. */
  def amplifyLineitem(li: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame =
    (0 until mult).map { i =>
      li.select(
        (col("l_orderkey") + lit(i * stride)).as("l_orderkey"),
        (col("l_partkey") + lit(i * stride)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionAll _)

  /** part amplified `mult`×: p_partkey shifted in lockstep with
    * [[amplifyLineitem]]'s copies (same stride) so every copied line
    * joins its own copy's catalog row; names (and so q158's families)
    * repeat per copy — the same bounded family vocabulary a real N×
    * catalog keeps, so the (order, family) pair population grows
    * linearly while the family grid stays |families|². */
  def amplifyPart(part: DataFrame, mult: Int, stride: Long = 100000000L): DataFrame =
    (0 until mult).map { i =>
      part.select(
        (col("p_partkey") + lit(i * stride)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.sweepSession(cpus)
      // Off-heap execution memory: the q121 wedge join's sort/shuffle
      // buffers were the round-10 GC-bimodality source (best-of-3 solo
      // reps spanned 2× run-to-run under G1). An interleaved A/B at 30×
      // (round 11) measured default-G1 rep spreads of 1.97×/2.03×
      // against 1.28× off-heap at the same best time; ParallelGC, a 64g
      // heap, a 30–60% young gen, and 32m G1 regions all lost. Tungsten
      // buffers simply don't belong on the GC'd heap at this scale.
      // Overridable: off-heap sits outside the JVM cap, so a smaller
      // host sets SPARK_GRAFT_OFFHEAP=4g instead of getting OOM-killed.
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size",
        sys.env.getOrElse("SPARK_GRAFT_OFFHEAP", "16g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fresh derived store per run: the untimed warmup rep then prices
    // every shared-artifact build honestly, and graft.Derived records the
    // per-artifact build wall time for the "builds" split in the output
    // (the amplified input tables above are cached across runs — only
    // the derived artifacts rebuild)
    Derived.clearRoot(spark)
    Derived.resetBuildLog()

    // Materialize the amplified tables to parquet ONCE and time queries
    // against the on-disk relation — what an N× crawl actually is. The
    // earlier in-plan union amplification made every timed query re-plan
    // an N-branch union of large expression trees, so measurements mixed
    // O(N) Catalyst/janino PLAN time into what should be pure data-scale
    // time (q215's constant-size audit tier read super-linear purely from
    // that artifact). Amplification cost itself is untimed setup.
    // cache key carries the base SF dir and an amplification schema
    // version: a bare /tmp/graft_scale_${mult}x would silently reuse an
    // artifact amplified from a DIFFERENT base dataset or written by an
    // older amplify* schema (e.g. embeddings before `label` was carried
    // through) — bump ampVersion whenever an amplify* column set changes
    // v3: amplifyDocs moved from 26 rotations to 312 affine bijections
    // (cross-copy EXACT dups above 26x were inflating similarity-operator
    // readings); v2 artifacts must not be reused above 26x
    val ampVersion = 3
    val sfTag = new java.io.File(sfDir).getName
    val base = s"/tmp/graft_scale_${sfTag}_v${ampVersion}_${mult}x"
    def materialize(name: String, df: DataFrame): DataFrame = {
      val path = s"$base/$name.parquet"
      if (!new java.io.File(path, "_SUCCESS").exists())
        // one file per core: a single output file is one parquet row
        // group — a ONE-task scan that serializes ingest on a core and
        // understates every downstream stage's parallelism. A real N×
        // crawl arrives as many files; mirror that.
        df.repartition(cpus.toInt).write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val docs = materialize("documents",
      amplifyDocs(graft.sources.Tables.documents(spark, sfDir), mult))
    val emb = materialize("embeddings",
      amplifyEmb(graft.sources.Tables.embeddings(spark, sfDir), mult))
    lazy val events = materialize("events",
      amplifyEvents(graft.sources.Tables.events(spark, sfDir), mult))
    lazy val lineitem = materialize("lineitem",
      amplifyLineitem(graft.sources.Tables.lineitem(spark, sfDir), mult))
    lazy val orders = materialize("orders",
      amplifyOrders(graft.sources.Tables.orders(spark, sfDir), mult))
    lazy val part = materialize("part",
      amplifyPart(graft.sources.Tables.part(spark, sfDir), mult))
    val nDocs = docs.count()
    val nEmb = emb.count()

    // Best-of-N reps per query (default 2), the Bench discipline scaled
    // down for a long suite: single-shot readings on a fresh JVM mix
    // janino compilation and GC debt into the number and swing ±2-3× on
    // the heavies; the second rep runs JIT-warm and is the cost that
    // actually scales with data volume.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // Untimed warmup reps before the timed ones (default 1): the first
    // execution of a heavy pays page-cache fill for the amplified
    // parquet plus janino/JIT compilation — at 100x that artifact
    // dominated rep 1 (q121 read 281 s warm-up vs 104 s settled in
    // round 11) and needed a prose note to explain. Warm first, then
    // time: queries_sec IS the settled cost that scales with data.
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt
    def timed(name: String)(df: => DataFrame): (String, Double) = {
      // same targeted re-measurement as Bench: SPARK_GRAFT_ONLY=q121,q56
      if (!SparkEntry.selected(name)) return name -> -1.0
      def rep(): Double = {
        val scope = Caches.open()
        val t0 = System.nanoTime()
        try df.write.format("noop").mode("overwrite").save()
        finally { scope.release(); spark.catalog.clearCache() }
        val dt = (System.nanoTime() - t0) / 1e9
        // reclaim the dropped cache/shuffle buffers NOW (the Bench
        // discipline): without this, a heavy query's garbage taxes every
        // later query's measurement with GC pauses — the full-suite q56
        // read 3× its solo time before this line existed
        System.gc()
        dt
      }
      val warm = (1 to warmups).map(_ => rep())
      val times = (1 to reps).map(_ => rep())
      System.err.println(f"SCALE $name%-8s ${times.min}%9.3f s  (reps: ${times.map(t => f"$t%.2f").mkString(", ")}; warmup: ${warm.map(t => f"$t%.2f").mkString(", ")})")
      name -> times.min
    }

    val times = Seq(
      timed("q22") {
        graft.operators.Dedup.minhashLsh(docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q56") {
        graft.operators.Dedup.dupClusters(docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q61") {
        graft.operators.Similarity.annIvfTrained(
          emb, nCells = 8, iters = 2, nProbe = 2, k = 5, nQueries = 10)
      },
      timed("q74") { graft.operators.Dedup.boilerplate(docs) },
      timed("q80") { graft.operators.Dedup.sourceOverlap(docs) },
      timed("q94") { graft.operators.Dedup.ngramNovelty(docs) },
      timed("q105") { graft.operators.Dedup.prefixSimJoin(docs, threshold = 0.8) },
      timed("q112") { graft.operators.Dedup.containmentJoin(docs, threshold = 0.9) },
      timed("q111") { graft.operators.Advanced.concurrentSessions(events) },
      timed("q121") {
        graft.operators.Advanced.copurchaseTriangles(lineitem, minSupport = 2L)
      },
      timed("q124") { graft.operators.Corpus.quantileNormalize(docs) },
      timed("q195") {
        graft.operators.Dedup.canonicalDocs(docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q196") {
        graft.operators.Dedup.dupSpans(docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q198") {
        graft.operators.Dedup.deltaDedup(docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q200") {
        graft.operators.Dedup.lshRecallAudit(docs, bands = 4, rowsPerBand = 2,
          threshold = 0.8, auditCap = 1000)
      },
      // the audit family's second operating point + the truth consumers.
      // Round 18: the recall audits run on the bounded 1000-doc md5 tier
      // (their O(cap²) truth builds are flat in corpus size by design),
      // splitLeakage rides the shared verified LSH pair artifact, and
      // q21 remains the one deliberate full-corpus quadratic-truth scan
      timed("q21") { graft.operators.Dedup.ngramJaccard(docs, threshold = 0.5) },
      timed("q234") { graft.operators.Dedup.splitLeakage(docs) },
      timed("q294") {
        graft.operators.Dedup.lshRecallAudit(docs, bands = 4, rowsPerBand = 2,
          threshold = 0.5, auditCap = 1000)
      },
      // the audit-of-the-audit + the modality census: both must stay
      // scale-flat past their single corpus pass (bounded tier /
      // header-parse metadata)
      timed("q301") { graft.operators.Dedup.auditTierProfile(docs) },
      timed("q302") { graft.operators.Multimodal.mediaCensus(docs) },
      // the tier's statistical payoff: estimate + exact design SE, both
      // single-row arithmetic over the shared O(cap²) tier truth — must
      // be as scale-flat as the tier build itself
      timed("q303") { graft.operators.Dedup.dupRateEstimate(docs, threshold = 0.8) },
      timed("q304") { graft.operators.Dedup.dupRateCi(docs, threshold = 0.8) },
      timed("q203") { graft.operators.Prep.dsirWeights(docs) },
      timed("q205") { graft.operators.Corpus.sourceDivergence(docs) },
      timed("q210") { graft.operators.Corpus.bpeLearn(docs) },
      timed("q206") {
        graft.operators.Similarity.clusterKeywords(
          docs, emb, nCells = 8 * mult, iters = 2, k = 5, minCount = 3L)
      },
      timed("q204") {
        // nCells scales with the corpus (SemDedup's contract): cluster
        // population stays ~constant, so the within-cluster quadratic
        // term is a bounded factor, not a growing one
        graft.operators.Similarity.semDedup(emb, nCells = 8 * mult, iters = 2, tau = 0.4)
      },
      timed("q211") { graft.operators.Corpus.bpeTokenize(docs) },
      timed("q212") { graft.operators.Similarity.pqEncode(emb) },
      timed("q213") { graft.operators.Similarity.pqAdcTopK(emb) },
      timed("q214") { graft.operators.Similarity.coresetCoverage(emb) },
      timed("q215") { graft.operators.Similarity.jlDistortion(emb) },
      timed("q216") { graft.operators.Prep.filterSweep(docs) },
      timed("q217") { graft.operators.Dedup.dedupSweep(docs) },
      timed("q218") { graft.operators.Similarity.pqStaleness(emb) },
      timed("q219") { graft.operators.Quality.skewProfile(events) },
      timed("q221") { graft.operators.Similarity.embeddingHygiene(emb) },
      timed("q222") { graft.operators.Dedup.lshCostPlanner(docs) },
      timed("q224") { graft.operators.Prep.curriculumOrder(docs) },
      timed("q225") { graft.operators.Similarity.shardPlan(emb) },
      timed("q227") {
        graft.operators.Dedup.clusterSizeHistogram(
          docs, bands = 4, rowsPerBand = 2, threshold = 0.8)
      },
      timed("q229") { graft.operators.Similarity.embeddingCovariance(emb) },
      timed("q230") { graft.operators.Similarity.pcaPower(emb) },
      timed("q236") { graft.operators.Corpus.lmFluency(docs) },
      timed("q237") { graft.operators.Corpus.repetitionProfile(docs) },
      // the bounded quantile sketches: state is k pairs per group at ANY
      // multiplier, so these should read near-scan-time — the scale rows
      // are the "pre-aggregable percentile" claim, measured
      timed("q239") { graft.operators.Quality.priceQuantileSketch(lineitem) },
      timed("q240") { graft.operators.Quality.dailyValueQuantiles(events) },
      // round-12 family: the classifier's word-keyed scoring join and
      // two-fold explode (q245), the fixed-grid rank statistics whose
      // windows must stay bounded at any multiplier (q246/q249), the
      // bounded-cell sketch (q248), and the bucketed best-buddy join
      // (q250) — plus the BM25 rank (bounded top-k) and the one-pass
      // OLS moments (q242/q244)
      timed("q242") { graft.operators.Corpus.bm25TopDocs(docs) },
      timed("q244") { graft.operators.Quality.sourceOlsFit(docs) },
      timed("q245") { graft.operators.Corpus.nbConfusion(docs) },
      timed("q246") { graft.operators.Quality.scoreAuc(docs) },
      timed("q248") { graft.operators.Corpus.cmFrequencyAudit(docs) },
      timed("q249") { graft.operators.Corpus.zipfSlope(docs) },
      timed("q250") {
        // nPlanes scales with the corpus (the q204 nCells contract):
        // fixed 2^8 buckets would grow per-bucket occupancy linearly and
        // the within-bucket candidate set QUADRATICALLY (measured: a 1.0
        // exponent at fixed planes); adding ~log2(mult) planes keeps
        // occupancy — and the per-vector candidate list — bounded, which
        // is how the operator is configured at any real scale
        val planes = 8 + math.round(math.log(mult.toDouble) / math.log(2.0)).toInt
        graft.operators.Similarity.reciprocalNn(emb, nPlanes = planes, dims = 64)
      },
      timed("q251") { graft.operators.Dedup.cdcChunks(docs) },
      // q253: the partitioned layout is written once (untimed warmup rep
      // pays it — the write-once token guard); timed reps price the DPP
      // probe itself against the mult× fact
      timed("q253") {
        graft.operators.Warehouse.dppPrunedRevenueOf(
          spark, orders, s"scale_${sfTag}_v${ampVersion}_${mult}x")
      },
      // q257: exact-substring dedup — position relation is linear in
      // corpus tokens; the shared mass rides the amplifier's within-copy
      // dup structure (cross-copy texts are re-lettered, never equal)
      timed("q257") { graft.operators.Dedup.exactSubstringDedup(docs) },
      // q258: byte-level ingest probe — index build is one distinct over
      // corpus chunks, probe side stays the 5% delta at every multiplier
      timed("q258") { graft.operators.Dedup.cdcIngestProbe(docs) },
      // q259: the q257 scrub transform — adds a bounded per-doc interval
      // collect + one corpus-wide filter HOF over q257's anchor plan
      timed("q259") { graft.operators.Dedup.exactSubstringScrub(docs) },
      // q260: source-pair chunk flow — per-fp fan bounded by |sources|²
      timed("q260") { graft.operators.Dedup.chunkFlowMatrix(docs) },
      timed("q252") { graft.operators.Quality.youdenThreshold(docs) },
      // q254 rides the fixed-probe-budget contract (the q250 discipline):
      // the matrix cells are means, so the probe holds ABSOLUTE mass
      // constant (20% of the 1× corpus) while the models scale with the
      // data. The fraction-pinned path is the operator's documented
      // parameter trap: 20% × mult probes measured exponent ~1.5
      // (6.1/31.8/202.7 s at 10/30/100×), all spill in the scoring joins.
      timed("q254") { graft.operators.Corpus.lmAffinityBudget(docs,
        math.max(2000L, 200000L / mult)) },
      timed("q255") { graft.operators.Dedup.dupAssortativity(docs) },
      timed("q256") { graft.operators.Quality.decileLift(docs) },
      // q261: two digest-keyed shuffles over (md5, source) cells — the
      // cells grow linearly (amplified copies are distinct texts)
      timed("q261") { graft.operators.Prep.effectiveTokens(docs) },
      // q262: rides the q245 classifier plan; post-classifier work is
      // |sources|²-bounded arithmetic
      timed("q262") { graft.operators.Quality.kappaAgreement(docs) },
      // q263: one shard-partitioned cumulative window + a 4-way explode
      timed("q263") { graft.operators.Prep.packSweep(docs) },
      // q264: row-local md5 lottery — pure projection, the scale
      // question is only scan throughput
      timed("q264") { graft.operators.Prep.clusterSplit(docs) },
      // q265: KN fluency — the q236 shape plus continuation counts
      // derived from the distinct-bigram-type relation (one extra
      // linear aggregate) and a third shuffle_hash count join
      timed("q265") { graft.operators.Corpus.knFluency(docs) },
      // q266: global token-desc rank on bucketedPrefix + row-local snake
      timed("q266") { graft.operators.Prep.shardManifest(docs) },
      // q267: one corpus token aggregate + |sources|-row plan arithmetic
      timed("q267") { graft.operators.Prep.epochPlan(docs) },
      // q268: the q246 score pass + bounded per-stratum isqrt/seats
      timed("q268") { graft.operators.Quality.neymanAllocation(docs) },
      // q269: row-local HOF screen against two literal term arrays
      timed("q269") { graft.operators.Prep.blocklistScreen(docs) },
      // q270: same scaled-planes contract as q250 — fixed planes would
      // grow the within-bucket candidate set quadratically
      timed("q270") {
        val planes = 8 + math.round(math.log(mult.toDouble) / math.log(2.0)).toInt
        graft.operators.Similarity.marginPairs(emb, nPlanes = planes, dims = 64)
      },
      // q271: one posexplode aggregate (|labels|·dims rows), a row-local
      // HOF distance, and the bucketedPrefix grouped rank
      timed("q271") { graft.operators.Similarity.centroidOutliers(emb) },
      // q272: four row-local rules, one text scan
      timed("q272") { graft.operators.Prep.admissionAudit(docs) },
      // q273: one shared bigram pass + two bucketedPrefix rank passes
      timed("q273") { graft.operators.Quality.signalAgreement(docs) },
      // q274: corpus fp index (95%) + delta probe (5%), KR anchor kernel
      timed("q274") { graft.operators.Dedup.exactSubstringProbe(docs) },
      // q275: the q250/q270 scaled-planes contract
      timed("q275") {
        val planes = 8 + math.round(math.log(mult.toDouble) / math.log(2.0)).toInt
        graft.operators.Similarity.hardNegatives(emb, nPlanes = planes, dims = 64)
      },
      // q276: the erase rewrites <= |victims| bucket dirs of the
      // write-once layout; the audit is two pruned-friendly aggregates
      timed("q276") {
        graft.operators.Warehouse.gdprEraseOf(
          spark, orders, s"scale_${sfTag}_v${ampVersion}_${mult}x")
      },
      // q277: per-doc codec+dHash is the linear term (partition-local);
      // candidates stay band-bucketed — planted twins grow with the
      // copies, cross-copy images never pair (distinct base gradients)
      timed("q277") { graft.operators.Multimodal.imageDHashDups(docs) },
      // q278: the audio twin — WAV codec linear term + the same bounded
      // Hamming-band join over the frame-energy fingerprints
      timed("q278") { graft.operators.Multimodal.audioFpDups(docs) },
      // q279: GIF codec pass (linear in frames) + one doc_id window
      timed("q279") { graft.operators.Multimodal.sceneCuts(docs) },
      // q280: all three perceptual pipelines + dup-bounded fusion joins
      timed("q280") { graft.operators.Multimodal.dupEvidence(docs) },
      // q281: GIF codec + partition-local keyframe extraction is the
      // linear term; the scene-fp band join is window-bounded and the
      // set-overlap verify touches candidate pairs only (twins are
      // id-adjacent, so in-bucket rank distance stays ~1 at any corpus)
      timed("q281") { graft.operators.Multimodal.clipDups(docs) },
      // q283: per-copy disjoint catalogs -> edges/degrees grow linearly;
      // each superstep is one shuffle of the edge relation + rank agg
      timed("q283") { graft.operators.Advanced.copurchasePageRank(lineitem) },
      // q158 (round 19): one order-keyed set aggregate + array pair
      // expansion — the pair stream never crosses an exchange; both grid
      // aggregates collapse map-side to |families|² rows
      timed("q158") { graft.operators.Advanced.crossSellMatrix(lineitem, part) },
      // q161 (round 19): the bucketedPrefix two-pass prefix sum + ONE
      // decile-pick pass (formerly ten union branches re-scanning it)
      timed("q161") { graft.operators.Advanced.lorenzCurve(orders) },
      // q148 (round 19): one spans pass emits both sweep-line boundary
      // rows (formerly a union re-running the orders ⋈ lineitem-max
      // join per boundary side)
      timed("q148") { graft.operators.Advanced.orderBacklog(orders, lineitem) },
      // q26 (round 19): header-only metadata pass, thread-local
      // per-format readers — row-local, zero exchanges
      timed("q26") { graft.operators.Multimodal.meta(docs) },
      // q241 (round 19): bounded k+1 sample buffers with O(1)
      // steady-state rejection; map-side partials ship k rows per group
      timed("q241") { graft.operators.Quality.massEstimate(docs) },
      // q284: WAV codec + in-kernel run-length, row-local — the pure
      // codec-linear term with zero shuffles
      timed("q284") { graft.operators.Multimodal.audioVad(docs) },
      // q285: one tokenize pass + the bucketedPrefix running sum
      timed("q285") { graft.operators.Prep.budgetSelect(docs) },
      // q286: the q56 cluster chain + key-only anti/semi joins + the
      // |sources|-row allocation — dup structure grows linearly by design
      timed("q286") { graft.operators.Prep.dedupMixture(docs) },
      // q288: one cell-keyed window over the embeddings + the
      // bucketedPrefix global rank
      timed("q288") { graft.operators.Similarity.diverseSelect(emb) },
      // q289: KR rolling fps (per-token linear) + eval-fraction-scaled
      // fp semi-join; matched windows only shuffle
      timed("q289") { graft.operators.Dedup.decontamScrub(docs) },
      // q290: one corpus pass to the bin relation; the O(bins²) minimax
      // never sees the corpus
      timed("q290") { graft.operators.Quality.isotonicCalibration(docs) },
      // q291: pure row-local nested-HOF projection — zero exchanges
      timed("q291") { graft.operators.TextAnalysis.codeSwitchProfile(docs) },
      // q292: one LSH chain feeds both superstep families (components +
      // rank); everything after it is dup-graph-sized
      timed("q292") { graft.operators.Dedup.authorityCanon(docs) },
      // q296: the codebook trains once per generation (untimed warmup
      // build, recorded in the builds split); the timed consumer is one
      // broadcast-argmax pass over the 5% delta — linear in the delta
      timed("q296") { graft.operators.Similarity.deltaAssign(emb) },
      // q297: the q24 exact-top-k contract carries the cost (queries
      // broadcast, one corpus pass, k-bounded ranking exchange); the
      // metric math after it is nQueries*k rows
      timed("q297") { graft.operators.Similarity.retrievalEval(emb) },
      // q298: both codebooks are derived artifacts (built in the untimed
      // warmup); the timed audit is an nCells-row join at ANY corpus size
      timed("q298") { graft.operators.Similarity.codebookDrift(emb) },
      // q299: the q289 contract — KR fps linear, eval index scales with
      // the eval tier, only matched windows shuffle; matrix = |sources|²
      timed("q299") { graft.operators.Dedup.contaminationMatrix(docs) },
      // q300: two key-only lookups + a |sources|²-row aggregate over the
      // SHARED q22 pair artifact (built in the untimed warmup)
      timed("q300") { graft.operators.Dedup.nearDupContamination(docs) })

    val qs = times.filter(_._2 >= 0)
      .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    // one-time artifact builds (paid in the untimed warmup), split out so
    // scale rows report build vs consumer cost separately per artifact
    val builds = Derived.buildSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString("{", ",", "}")
    println(
      s"""{"multiplier":$mult,"rows":{"documents":$nDocs,"embeddings":$nEmb},"queries":$qs,"builds":$builds,"sf":"$sfDir"}""")
    spark.stop()
  }
}
