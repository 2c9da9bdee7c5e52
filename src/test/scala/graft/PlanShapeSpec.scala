package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, DynamicPruningExpression, Explode, GreaterThan, IsNotNull}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectSet, PivotFirst}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.Plans._
import graft.functions.KrWindowFp
import graft.operators.Relational

/** Plan-shape regression tests (SURVEY.md §5 item 4): the physical plans
  * the operators rely on at scale — filter pushdown into the parquet scan,
  * column pruning, broadcast joins for dimension enrichment — must survive
  * refactors. All assertions run on sf0.001 plans (shape is scale-free)
  * and read typed nodes through [[Plans]]; a rendered plan only ever
  * appears in a failure message.
  */
class PlanShapeSpec extends SparkSpec {

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    nodes(df).collect { case s: FileSourceScanExec => s }

  private def is[T <: SparkPlan](implicit t: scala.reflect.ClassTag[T]): SparkPlan => Boolean =
    t.runtimeClass.isInstance(_)

  private def joinOf(t: JoinType)(p: SparkPlan): Boolean = p match {
    case j: BaseJoinExec => j.joinType == t
    case _ => false
  }

  private def aggregates(f: AggregateExpression => Boolean)(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(f)
    case _ => false
  }

  private def isHashShuffle(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  private def isRangeShuffle(p: SparkPlan): Boolean = p match {
    case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  private def shuffles(df: DataFrame): Int = nodes(df).count(isHashShuffle)

  private def globalWindows(ns: Seq[SparkPlan]): Seq[WindowExec] =
    ns.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  /** Whether a hash aggregate below `w` groups by a column `key` accepts. */
  private def readsAggregate(w: SparkPlan)(key: String => Boolean): Boolean =
    nodes(w).exists {
      case h: HashAggregateExec => h.groupingExpressions.exists(e => key(e.name))
      case _ => false
    }

  test("q01: filters are pushed into the parquet scan and columns pruned") {
    val df = Relational.scanFilterProject(spark, sf0001)
    val scan = scans(df).find(_.tableIdentifier.isEmpty).getOrElse(scans(df).head)
    assert(scan.dataFilters.exists {
      case GreaterThan(a: Attribute, _) => a.name == "l_quantity"
      case _: IsNotNull => true
      case _ => false
    }, s"expected pushed filters, got ${scan.dataFilters}")
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols === Set("l_orderkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_returnflag"),
      s"scan reads more than the projection needs: $readCols")
  }

  test("q03: dimension join broadcasts the small side (no event-side shuffle)") {
    val df = Relational.joinEnrichBroadcast(spark, sf0001)
    df.collect() // let AQE finalize
    assert(nodes(df).exists(is[BroadcastHashJoinExec]),
      s"expected broadcast dimension join, plan:\n${df.queryExecution.executedPlan}")
  }

  test("q02: aggregation is a two-phase hash aggregate (map-side partial combine)") {
    val df = Relational.aggPricingSummary(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).count(isHashAggregate) >= 2,
      s"expected partial+final HashAggregate, plan:\n$plan")
    assert(!nodes(df).exists(is[SortAggregateExec]), "pricing summary must hash-aggregate")
  }

  test("q45: pinned pivot pre-aggregates before pivoting — two bounded shuffles, no distinct-values pass") {
    val df = Relational.pivotEventCounts(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    // shuffle 1 carries one row per (user, type) — already partially
    // aggregated map-side; shuffle 2 (PivotFirst) carries one row per user
    assert(shuffles(df) <= 2,
      s"pivot should shuffle at most twice, plan:\n$plan")
    assert(nodes(df).exists(aggregates(_.aggregateFunction.isInstanceOf[PivotFirst])),
      s"expected PivotFirst aggregation path:\n$plan")
  }

  test("q47: grouping sets plan one Expand + one aggregate shuffle (dims broadcast)") {
    val df = Relational.groupingSetsRevenue(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ExpandExec]), s"expected Expand, plan:\n$plan")
    assert(shuffles(df) <= 1,
      s"grouping sets should shuffle once, got ${shuffles(df)}:\n$plan")
    assert(nodes(df).exists(is[BroadcastHashJoinExec]),
      s"dimension joins must broadcast:\n$plan")
  }

  test("q50: stratified sample prunes the text column from the scan") {
    val df = graft.operators.Prep.stratifiedSample(spark, sf0001)
    val scan = scans(df).head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(!readCols.contains("text"),
      s"sample must not read the payload column; scan reads $readCols")
  }

  test("q39: vocab top-k plans a bounded TakeOrdered, never a global sort") {
    val df = graft.operators.Corpus.vocabTopK(
      graft.sources.Tables.documents(spark, sf0001), 100)
    assert(nodes(df).exists(is[TakeOrderedAndProjectExec]),
      s"expected TakeOrderedAndProject for top-k, plan:\n${df.queryExecution.executedPlan}")
  }

  test("q53/q54/q59/q264/q269: per-row quality/scrub/chunk/split/screen operators plan zero exchanges") {
    Seq[(String, DataFrame)](
      "repetition" -> graft.operators.Prep.repetitionRatios(spark, sf0001),
      "pii" -> graft.operators.Prep.piiScrub(spark, sf0001),
      "chunk" -> graft.operators.Prep.chunk(spark, sf0001),
      "csplit" -> graft.operators.Prep.clusterSplit(spark, sf0001),
      "blocklist" -> graft.operators.Prep.blocklistScreen(spark, sf0001),
      "admission" -> graft.operators.Prep.admissionAudit(spark, sf0001),
    ).foreach { case (name, df) =>
      assert(!nodes(df).exists(isExchange),
        s"$name must stay a pure projection (scan→project), plan:\n${df.queryExecution.executedPlan}")
    }
  }

  test("q55: contamination probes train shingles with a left-semi join") {
    val df = graft.operators.Dedup.contamination(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(joinOf(LeftSemi)),
      s"test-side shingles must semi-join the train set, plan:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q41: quantile windows consume the (lang, n_chars) aggregate, never raw documents") {
    val df = graft.operators.Corpus.lengthQuantiles(
      graft.sources.Tables.documents(spark, sf0001))
    val wins = nodes(df).collect { case w: WindowExec => w }
    assert(wins.nonEmpty,
      s"expected window nodes:\n${df.queryExecution.executedPlan}")
    // every window's input subtree must contain the value-distribution
    // hash aggregate — a window directly over the document scan would be
    // the low-cardinality-keyed corpus sort this operator exists to avoid
    wins.foreach { w =>
      assert(nodes(w.child).exists(is[HashAggregateExec]),
        s"window input is not aggregated:\n$w")
    }
  }

  test("q22: minhash verification semi-restricts shingle sets to candidates before the pair joins") {
    // the BUILD plan (minhashLshInline) carries the chain pins; the
    // public entry returns a scan of the shared derived artifact on reuse
    val df = graft.operators.Dedup.minhashLshInline(
      graft.sources.Tables.documents(spark, sf0001),
      bands = 4, rowsPerBand = 2, threshold = 0.8)
    val plan = df.queryExecution.executedPlan
    // one LeftSemi per pair side: the wide shs arrays enter the
    // verification exchanges only for candidate ids
    assert(nodes(df).count(joinOf(LeftSemi)) >= 2,
      s"expected two left-semi candidate restrictions, plan:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q217: the sweep reads the shared ngram-truth artifact — no shingle self-join in the consumer plan") {
    val df = graft.operators.Dedup.dedupSweep(
      graft.sources.Tables.documents(spark, sf0001))
    try {
      val plan = df.queryExecution.executedPlan
      // the quadratic self-join lives in the once-per-generation t0p3
      // BUILD; the sweep's own plan is artifact scan -> threshold
      // explode -> two two-phase hash aggregates (round 19)
      assert(!nodes(df).exists(p => p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
        s"sweep consumer must not re-mine the pair relation:\n$plan")
      assert(scans(df).exists(_.relation.location.rootPaths.exists(
        _.getName.contains("ngram_jaccard_t0p3"))),
        s"sweep must scan the 0.3-base truth artifact:\n$plan")
    } finally { Caches.releaseAll(); spark.catalog.clearCache() }
  }

  test("q161: all ten decile picks ride one pass — no per-decile union branches") {
    val df = graft.operators.Advanced.lorenzCurve(
      graft.sources.Tables.orders(spark, sf0001))
    try {
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(is[UnionExec]),
        s"decile picks must not re-scan the rank relation per decile:\n$plan")
      assert(nodes(df).count(is[GenerateExec]) === 1,
        s"expected exactly the one decile-constant explode:\n$plan")
    } finally { Caches.releaseAll(); spark.catalog.clearCache() }
  }

  test("q111/q148: sweep-line boundary rows explode out of ONE upstream pass — no per-side union") {
    // the former union of two selects planned the sessionize chain
    // (q111) / the orders ⋈ lineitem-max join (q148) once per boundary
    // side; the explode emits identical rows from one pass (round 19)
    val q111 = graft.operators.Advanced.concurrentSessions(
      graft.sources.Tables.events(spark, sf0001))
    val q148 = graft.operators.Advanced.orderBacklog(
      graft.sources.Tables.orders(spark, sf0001),
      graft.sources.Tables.lineitem(spark, sf0001))
    try {
      for ((name, df) <- Seq("q111" -> q111, "q148" -> q148)) {
        assert(!nodes(df).exists(is[UnionExec]),
          s"$name: boundary emission must not re-plan its upstream per side:\n${df.queryExecution.executedPlan}")
      }
    } finally { Caches.releaseAll(); spark.catalog.clearCache() }
  }

  test("q158: co-membership comes from one order-keyed set aggregate — the pair stream never crosses an exchange") {
    val df = graft.operators.Advanced.crossSellMatrix(
      graft.sources.Tables.lineitem(spark, sf0001),
      graft.sources.Tables.part(spark, sf0001))
    try {
      val plan = df.queryExecution.executedPlan
      assert(nodes(df).exists(aggregates(_.aggregateFunction.isInstanceOf[CollectSet])),
        s"expected the per-order family-set aggregate:\n$plan")
      // the retired plan exchanged the (o, family) pair stream three
      // times (distinct + both self-join sides = 4+ o-keyed exchanges);
      // exactly ONE o-keyed exchange — the set aggregate's — may remain.
      // It counts twice: the cached ordFams subplan is walked under each
      // of its two InMemoryTableScans
      val byOrder = nodes(df).count {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case h: HashPartitioning => h.references.exists(_.name == "o")
          case _ => false
        }
        case _ => false
      }
      assert(byOrder <= 2, s"pair stream must not be re-exchanged by order key:\n$plan")
    } finally { Caches.releaseAll(); spark.catalog.clearCache() }
  }

  test("q35: ivf probe semi-restricts the embedding relation to candidates before scoring") {
    val df = graft.operators.Similarity.annIvf(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    // one LeftSemi per scored-join side (query + neighbor): only
    // candidate rows carry float arrays into the verification exchanges
    assert(nodes(df).count(joinOf(LeftSemi)) >= 2,
      s"expected two left-semi candidate restrictions, plan:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q68: curated read-back prunes to the train partition at planning time") {
    val df = graft.operators.Prep.curatedReadback(spark, sf0001)
    val scan = scans(df).head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "split")),
      s"expected a partition filter on split, got ${scan.partitionFilters}")
    // the filter must reach the directory listing: exactly the one
    // split=train directory survives out of {train, valid, test}
    assert(scan.selectedPartitions.partitionCount === 1,
      s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
    // and split must NOT be read from file contents (it lives in the path)
    assert(!scan.requiredSchema.fieldNames.contains("split"),
      s"split must come from the partition path, scan reads ${scan.requiredSchema}")
  }

  test("q70: bucketed join runs with zero exchanges below the sort-merge join") {
    val df = graft.operators.Warehouse.bucketedJoinRevenue(spark, sf0001)
    val joins = nodes(df).collect { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty,
      s"expected a sort-merge join over the bucketed tables:\n${df.queryExecution.executedPlan}")
    joins.foreach { j =>
      assert(!nodes(j).exists(is[ShuffleExchangeExec]),
        s"bucketed join must not shuffle either side:\n$j")
    }
  }

  test("q71: salted join shuffles on (key, salt), spreading hot keys across reducers") {
    val df = graft.operators.Advanced.saltedSkewJoin(spark, sf0001)
    val joins = nodes(df).collect { case j: ShuffledHashJoinExec => j }
    assert(joins.nonEmpty,
      s"expected a shuffled hash join:\n${df.queryExecution.executedPlan}")
    // the salt must be part of the join keys — that is the whole point
    assert(joins.exists(_.leftKeys.exists(_.references.exists(_.name.contains("__salt")))),
      s"join keys must include the salt:\n${joins.map(_.leftKeys)}")
  }

  test("q57: tf-idf aggregates before its per-doc window (no raw-token window)") {
    val df = graft.operators.Corpus.tfidfTopTerms(
      graft.sources.Tables.documents(spark, sf0001), 3)
    val plan = df.queryExecution.executedPlan
    // the window must consume the (doc,word) aggregate, so at least the
    // tf aggregate (partial+final) sits below it
    assert(nodes(df).count(isHashAggregate) >= 2,
      s"expected map-side-combined tf aggregate below the window:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q79: int8 quantization is a pure projection — zero exchanges") {
    val df = graft.operators.Similarity.quantizeInt8(
      graft.sources.Tables.embeddings(spark, sf0001))
    assert(!nodes(df).exists(is[ShuffleExchangeExec]),
      s"per-row quantization must not shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("q78: inverted index broadcasts the corpus-count scalar, never the posting side") {
    val df = graft.operators.Corpus.invertedIndex(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    // the n_docs scalar rides a broadcast; the df aggregate is two-phase
    assert(nodes(df).exists(is[BroadcastExchangeLike]),
      s"corpus-count scalar must broadcast:\n$plan")
    assert(nodes(df).count(isHashAggregate) >= 2,
      s"df count must partial-combine map-side:\n$plan")
  }

  test("q83: collocation top-k plans a bounded TakeOrdered, never a global sort") {
    val df = graft.operators.Corpus.bigramLift(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[TakeOrderedAndProjectExec]),
      s"top-k must be a bounded heap merge:\n$plan")
    // the totals scalar rides a broadcast nested-loop (1-row build side);
    // a CartesianProduct would mean the cross join lost its broadcast
    assert(!nodes(df).exists(is[CartesianProductExec]),
      s"the totals cross join must broadcast its 1-row side:\n$plan")
  }

  test("q84: sparse top-k ranks through the bounded aggregate, not a window") {
    val df = graft.operators.Similarity.sparseLexicalTopK(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ObjectHashAggregateExec]),
      s"BoundedTopK must rank via ObjectHashAggregate:\n$plan")
    assert(!nodes(df).exists(isWindow),
      s"ranking must not window over the full scored relation:\n$plan")
  }

  test("q81: language centroids aggregate with map-side partial combine") {
    val df = graft.operators.Similarity.langCentroids(
      graft.sources.Tables.documents(spark, sf0001),
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).count(isHashAggregate) >= 2,
      s"(lang, pos) sums must partial-combine below the exchange:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q91: MERGE joins all broadcast the change batch — the target never sort-merge-shuffles") {
    val df = graft.operators.Warehouse.mergeUpsert(
      graft.sources.Tables.orders(spark, sf0001))
    df.collect() // let AQE finalize
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[BroadcastHashJoinExec]),
      s"merge classification must broadcast the batch:\n$plan")
    assert(!everNodes(df).exists(is[SortMergeJoinExec]),
      s"a sort-merge join means the full target shuffled for a small batch:\n$plan")
  }

  test("q101: sliding distinct-users never plans a range self-join") {
    val df = graft.operators.Advanced.rollingActiveUsers(
      graft.sources.Tables.events(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    // the x7 contribution explode replaces the day-range join entirely
    assert(nodes(df).exists {
      case g: GenerateExec => g.generator.isInstanceOf[Explode]
      case _ => false
    }, s"window membership must come from the bounded explode:\n$plan")
    assert(!nodes(df).exists(isAllPairs),
      s"a nested-loop/cartesian means the range self-join came back:\n$plan")
  }

  test("q93: unpivot is an in-task Expand feeding one grouped exchange") {
    val df = graft.operators.Relational.unpivotMetrics(
      graft.sources.Tables.lineitem(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ExpandExec]),
      s"unpivot must plan as Expand (zero-shuffle transpose):\n$plan")
    assert(shuffles(df) === 1,
      s"only the 4-group aggregate may exchange:\n$plan")
    assert(nodes(df).count(isHashAggregate) >= 2,
      s"the per-metric agg must partial-combine below the exchange:\n$plan")
  }

  test("q105/q112: exact similarity joins never plan a cartesian or nested loop") {
    for (df <- Seq(
        graft.operators.Dedup.prefixSimJoin(
          graft.sources.Tables.documents(spark, sf0001), threshold = 0.8),
        graft.operators.Dedup.containmentJoin(
          graft.sources.Tables.documents(spark, sf0001), threshold = 0.9))) {
      assert(!nodes(df).exists(isAllPairs),
        s"the prefix filter must keep the join equi-keyed on shingles:\n${df.queryExecution.executedPlan}")
      spark.catalog.clearCache()
    }
  }

  test("q121: wedge enumeration stays equi-keyed — no cartesian or nested loop") {
    val df = graft.operators.Advanced.triangleCounts(spark, sf0001)
    assert(!nodes(df).exists(isAllPairs),
      s"the wedge join must key on the shared endpoint u:\n${df.queryExecution.executedPlan}")
    spark.catalog.clearCache()
  }

  test("q135: star join broadcasts every bounded dim, shuffles only the facts") {
    val df = graft.operators.Relational.localSupplierRevenue(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    // supplier, nation, region ride the broadcast path...
    assert(nodes(df).count(is[BroadcastHashJoinExec]) >= 3,
      s"supplier/nation/region must broadcast:\n$plan")
    // ...and nothing degenerates to a nested loop
    assert(!nodes(df).exists(isAllPairs),
      s"no join may lose its equi keys:\n$plan")
  }

  test("q193: domain cap ranks via the bounded aggregate, never a corpus window") {
    val df = graft.operators.Prep.domainCap(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ObjectHashAggregateExec]),
      s"per-source top-k must be the map-side-bounded aggregate:\n$plan")
    assert(!nodes(df).exists(isWindow),
      s"capping must not shuffle the corpus into a per-source window:\n$plan")
  }

  /** The dup-population joins must never be FORCED to broadcast: cluster
    * membership, dup ids, and verified pairs all scale with the dup
    * population (a large fraction of a crawl-scale corpus), so an
    * unconditional broadcast hint is a hard failure at target scale.
    * The pin reads the INITIAL (pre-AQE) plan — that is where a
    * broadcast() hint would force a BroadcastHashJoin regardless of
    * size; the shuffle_hash pin must plan a ShuffledHashJoin there.
    * AQE is still free to downgrade to broadcast at runtime when the
    * relation is actually tiny — that is a size-aware decision, which
    * is exactly the behavior we want; the static plan must not presume
    * smallness. The pin plans under autoBroadcastJoinThreshold=-1:
    * size-based broadcasts disappear, FORCED (hinted) broadcasts
    * survive — so any BroadcastHashJoin left in the initial plan is a
    * smuggled-in broadcast() hint, the exact scale-killer this guards.
    * The hinted joins live inside Caches.track'd relations, which
    * `initialNodes` enters.
    */
  private def initialJoins(df: DataFrame): (Int, Int) = {
    val ns = initialNodes(df)
    (ns.count(is[BroadcastHashJoinExec]), ns.count(is[ShuffledHashJoinExec]))
  }

  private def withNoAutoBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("q195: canonical election never force-broadcasts cluster membership") {
    withNoAutoBroadcast {
      val df = graft.operators.Dedup.canonicalDocs(
        graft.sources.Tables.documents(spark, sf0001),
        bands = 4, rowsPerBand = 2, threshold = 0.8)
      val plan = df.queryExecution.executedPlan
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0,
        s"no forced broadcast anywhere in canonicalDocs — membership scales " +
          s"with the dup population:\n$plan")
      assert(shj >= 1,
        s"the membership lookup must plan as a shuffled hash join:\n$plan")
      // no window over members: the election is a max-of-struct aggregate
      assert(!nodes(df).exists(isWindow),
        s"election must be an aggregate, not a per-cluster window:\n$plan")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q196: dup-span restriction and pair joins never force-broadcast the dup set") {
    withNoAutoBroadcast {
      val df = graft.operators.Dedup.dupSpans(
        graft.sources.Tables.documents(spark, sf0001),
        bands = 4, rowsPerBand = 2, threshold = 0.8)
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0,
        s"no forced broadcast in dupSpans — dup ids and verified pairs scale " +
          s"with the dup population:\n${df.queryExecution.executedPlan}")
      assert(shj >= 3,
        s"the dup-id semi-restriction, the pair join, and the LSH internals " +
          s"must plan as shuffled hash joins:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q203: the only broadcast is the constant nBuckets-row ratio table") {
    withNoAutoBroadcast {
      val df = graft.operators.Prep.dsirWeights(
        graft.sources.Tables.documents(spark, sf0001))
      val (bhj, _) = initialJoins(df)
      // exactly one BroadcastHashJoin: the explicit broadcast(lr) — 256
      // rows by construction, independent of corpus size. Nothing
      // corpus-scaled may broadcast even with the auto threshold off.
      assert(bhj === 1,
        s"dsirWeights must broadcast exactly the nBuckets-row lr table:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q204: semDedup pair and drop joins never force-broadcast corpus-scale relations") {
    withNoAutoBroadcast {
      val df = graft.operators.Similarity.semDedup(
        graft.sources.Tables.embeddings(spark, sf0001),
        nCells = 8, iters = 2, tau = 0.4)
      val (bhj, shj) = initialJoins(df)
      // the explicit broadcast(cents) rides a BroadcastNestedLoopJoin
      // (constant nCells rows); no corpus-scale relation may plan as a
      // BroadcastHashJoin, and the within-cluster pair join plus the
      // dropped-id join must stay shuffled hash (the round-9
      // canonicalDocs lesson: membership/dup relations scale with the
      // corpus/dup population)
      assert(bhj === 0,
        s"no forced broadcast of membership/pair/drop relations:\n${df.queryExecution.executedPlan}")
      assert(shj >= 2,
        s"pair join and drop join must plan as shuffled hash joins:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q205: no corpus-scale relation force-broadcasts in sourceDivergence") {
    withNoAutoBroadcast {
      val df = graft.operators.Corpus.sourceDivergence(
        graft.sources.Tables.documents(spark, sf0001))
      val (bhj, _) = initialJoins(df)
      // the two explicit broadcasts (bucket totals <= nBuckets rows, the
      // scalar grand total) ride cross joins, not BroadcastHashJoins; the
      // grid's (source, bucket) left join must not force a broadcast
      assert(bhj === 0,
        s"sourceDivergence must not force-broadcast any equi-join side:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q206: vocabulary totals join stays shuffled hash; only constant relations broadcast") {
    withNoAutoBroadcast {
      val df = graft.operators.Similarity.clusterKeywords(
        graft.sources.Tables.documents(spark, sf0001),
        graft.sources.Tables.embeddings(spark, sf0001),
        nCells = 8, iters = 2, k = 5, minCount = 3L)
      val (bhj, shj) = initialJoins(df)
      // exactly one BroadcastHashJoin: the explicit broadcast(cTot) —
      // nCells rows by construction. The vocabulary-keyed wTot join is
      // pinned shuffle_hash (a vocabulary scales with the corpus)
      assert(bhj === 1,
        s"clusterKeywords must broadcast exactly the nCells-row totals:\n${df.queryExecution.executedPlan}")
      assert(shj >= 1,
        s"the vocabulary totals join must plan as a shuffled hash join:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q199: vocab coverage plans a range exchange, no vocabulary-sized global window") {
    val df = graft.operators.Corpus.vocabCoverage(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val ns = nodes(df)
    assert(ns.exists(isRangeShuffle),
      s"the vocabulary must range-partition by the (cnt, gram) total order:\n${df.queryExecution.executedPlan}")
    globalWindows(ns).foreach { w =>
      assert(readsAggregate(w)(_.contains("bucket")),
        s"a global window may only read the bucket-totals aggregate:\n$w")
    }
    spark.catalog.clearCache()
  }

  test("q111/q115: bucketed prefix plans a range exchange; the only global window reads bucket totals") {
    for (df <- Seq(
        graft.operators.Advanced.concurrentSessions(
          graft.sources.Tables.events(spark, sf0001)),
        graft.operators.Advanced.paretoFrontier(
          graft.sources.Tables.orders(spark, sf0001)))) {
      df.collect() // materialize through AQE so exchanges are final
      // the range exchange lives inside the persisted bucket relation
      val ns = nodes(df)
      assert(ns.exists(isRangeShuffle),
        s"pass 1 must range-partition the boundary stream:\n${df.queryExecution.executedPlan}")
      // every unpartitioned window (the sequential step) must consume
      // the per-bucket totals aggregate, never a fact-sized relation
      val globals = globalWindows(ns)
      assert(globals.nonEmpty, "the offsets prefix window must exist")
      globals.foreach { w =>
        assert(readsAggregate(w)(_.contains("bucket")),
          s"a global window must sit on the bucket-totals aggregate:\n$w")
      }
      spark.catalog.clearCache()
    }
  }

  test("q211: the fertility join stays shuffled hash — vocabulary-scale sides never broadcast") {
    withNoAutoBroadcast {
      val df = graft.operators.Corpus.bpeTokenize(
        graft.sources.Tables.documents(spark, sf0001))
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0,
        s"no forced broadcast in bpeTokenize — both fertility-join sides are " +
          s"vocabulary-scale:\n${df.queryExecution.executedPlan}")
      assert(shj >= 1,
        s"the per-word token counts must join shuffled hash:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q212: PQ assignment is an argmin aggregate (no window); only the constant codebook broadcasts") {
    withNoAutoBroadcast {
      val df = graft.operators.Similarity.pqEncode(
        graft.sources.Tables.embeddings(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isWindow),
        s"nearest-code assignment must be a map-side-combined min-of-struct, " +
          s"not a per-(vec,sub) window:\n$plan")
      val (bhj, _) = initialJoins(df)
      assert(bhj === 1,
        s"exactly the m×codes-row codebook may broadcast:\n$plan")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q213: ADC ranking goes through the bounded aggregate; the encoded corpus never re-sorts") {
    val df = graft.operators.Similarity.pqAdcTopK(
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ObjectHashAggregateExec]),
      s"BoundedTopK must rank via ObjectHashAggregate:\n$plan")
    assert(!nodes(df).exists(isWindow),
      s"no per-query ranking window over |corpus|×|queries| scored rows:\n$plan")
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q214: nearest-representative is an aggregate argmax; only constant rep relations broadcast") {
    withNoAutoBroadcast {
      val df = graft.operators.Similarity.coresetCoverage(
        graft.sources.Tables.embeddings(spark, sf0001))
      assert(!nodes(df).exists(isWindow),
        s"nearest-rep must be a min-of-struct aggregate, not a per-vector " +
          s"window:\n${df.queryExecution.executedPlan}")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 1 && shj === 0,
        s"exactly the ≤2^nPlanes rep-id relation hash-broadcasts (the rep " +
          s"probe is a nested-loop over a constant side):\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q218: staleness encode is an argmin aggregate; only the constant codebook broadcasts") {
    withNoAutoBroadcast {
      val df = graft.operators.Similarity.pqStaleness(
        graft.sources.Tables.embeddings(spark, sf0001))
      assert(!nodes(df).exists(isWindow),
        s"nearest-code must be a struct-min aggregate:\n${df.queryExecution.executedPlan}")
      val (bhj, _) = initialJoins(df)
      assert(bhj === 1,
        s"exactly the m×codes-row codebook may broadcast:\n${df.queryExecution.executedPlan}")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q220: only the one-row totals broadcast; the hot-key cut is bounded") {
    withNoAutoBroadcast {
      val df = graft.operators.Quality.joinCardinality(
        graft.sources.Tables.events(spark, sf0001), "user_id",
        graft.sources.Tables.orders(spark, sf0001), "o_custkey")
      val plan = df.queryExecution.executedPlan
      val (bhj, _) = initialJoins(df)
      assert(bhj === 0,
        s"no forced hash broadcast — the count-table join scales with " +
          s"distinct keys and stays unhinted:\n$plan")
      val constantCross = nodes(df).count {
        case j: BroadcastNestedLoopJoinExec => j.buildSide == BuildRight && j.joinType == Cross
        case _ => false
      }
      assert(constantCross === 1,
        s"exactly the one-row totals ride a constant broadcast:\n$plan")
      assert(nodes(df).exists(is[TakeOrderedAndProjectExec]),
        s"top-k keys must plan as TakeOrderedAndProject:\n$plan")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q221: hygiene audit is one aggregate pass — no joins, no windows") {
    val df = graft.operators.Similarity.embeddingHygiene(
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin), s"audit must not join:\n$plan")
    assert(!nodes(df).exists(isWindow), s"audit must not window:\n$plan")
    assert(shuffles(df) <= 1,
      s"one aggregation exchange at most (map-side combined):\n$plan")
  }

  test("q222: the banding planner materializes no pair join — counts only") {
    val df = graft.operators.Dedup.lshCostPlanner(
      graft.sources.Tables.documents(spark, sf0001))
    assert(!nodes(df).exists(isJoin),
      s"candidate volume must come from bucket counts, never a join:\n${df.queryExecution.executedPlan}")
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q223: the dataset card is aggregate-only — no windows, no cartesian") {
    val df = graft.operators.Corpus.sourceManifest(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isWindow),
      s"top-language must be a max-of-struct aggregate, not a window:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]), s"no all-pairs anywhere:\n$plan")
  }

  test("q224: curriculum rank rides the bucketed prefix — range exchange, globals read bucket totals") {
    val df = graft.operators.Prep.curriculumOrder(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val ns = nodes(df)
    assert(ns.exists(isRangeShuffle),
      s"the global rank must range-partition by (bin desc, tiebreak):\n${df.queryExecution.executedPlan}")
    globalWindows(ns).foreach { w =>
      assert(readsAggregate(w)(_.contains("bucket")),
        s"a global window may only read the bucket-totals aggregate:\n$w")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q225: the only global window ranks the nCells-row count table") {
    val df = graft.operators.Similarity.shardPlan(
      graft.sources.Tables.embeddings(spark, sf0001))
    val globals = globalWindows(nodes(df))
    assert(globals.nonEmpty, "the cell-ranking window must exist")
    globals.foreach { w =>
      assert(readsAggregate(w)(_.contains("cid")),
        s"a global window may only read the per-cell count aggregate:\n$w")
    }
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q228: new distinct texts enter via a left-anti probe of the key state") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Corpus.manifestMerge(
      graft.sources.Tables.documents(spark, sf0001)
        .filter(col("doc_id") % 10 =!= 0),
      graft.sources.Tables.documents(spark, sf0001)
        .filter(col("doc_id") % 10 === 0))
    assert(nodes(df).exists(joinOf(LeftAnti)),
      s"the key state must be probed, never re-distincted with the delta:\n${df.queryExecution.executedPlan}")
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q229: covariance is one aggregate pass — no joins, one bounded shuffle") {
    val df = graft.operators.Similarity.embeddingCovariance(
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin), s"moments must not join:\n$plan")
    assert(!nodes(df).exists(isWindow), s"moments must not window:\n$plan")
    assert(shuffles(df) <= 1,
      s"one map-side-combined aggregation exchange at most:\n$plan")
  }

  test("q230: the iteration never windows and never goes cartesian on the corpus") {
    val df = graft.operators.Similarity.pcaPower(
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isWindow),
      s"no window anywhere in the power iteration:\n$plan")
    assert(!nodes(df).exists(is[CartesianProductExec]),
      s"only broadcast-scalar cross joins allowed:\n$plan")
    Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q277: the dHash band self-join shuffles on (band, key) — no cartesian, no corpus broadcast") {
    withNoAutoBroadcast {
      // the BUILD plan carries the chain pins (the q22 convention: the
      // public entry scans the shared derived artifact on reuse)
      val df = graft.operators.Multimodal.imageDHashDupsInline(
        graft.sources.Tables.documents(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs),
        s"candidates must come from band equality, never all-pairs:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(shj >= 1, s"the band self-join must shuffle (the hash " +
        s"relation scales with the corpus):\n$plan")
      assert(bhj === 0, s"nothing corpus-scaled may broadcast:\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q278: the audio-fp band join rides the same bounded-window shape — no cartesian, no broadcast") {
    withNoAutoBroadcast {
      val df = graft.operators.Multimodal.audioFpDupsInline(
        graft.sources.Tables.documents(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs),
        s"candidates must come from band equality, never all-pairs:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(shj >= 1 && bhj === 0,
        s"the probe join must shuffle, nothing corpus-scaled broadcasts:\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q279: scene numbering windows are doc_id-partitioned only — no global window, no join") {
    val df = graft.operators.Multimodal.sceneCuts(spark, sf0001)
    assert(!nodes(df).exists(isJoin), s"one codec pass, no join anywhere:\n${df.queryExecution.executedPlan}")
    nodes(df).collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"every window must partition by doc_id (clips are <= 8 frames):\n$w")
    }
  }

  test("q280: dup-evidence fusion is a shuffled full-outer on the pair key — no cartesian, no broadcast") {
    withNoAutoBroadcast {
      val df = graft.operators.Multimodal.dupEvidence(spark, sf0001)
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs),
        s"both inputs are banded pair sets; fusing them must never go all-pairs:\n$plan")
      // the fusion join must keep single-modality pairs (FullOuter) and
      // shuffle on the pair key — a full outer cannot broadcast. The
      // modality inputs are now shared derived artifacts (scans), so the
      // joins in THIS plan are the two fusion full-outers themselves
      // (hash- or merge-flavored, planner's pick); the upstream banded
      // joins are pinned on the Inline build plans (q277/q278/q281).
      assert(nodes(df).exists(joinOf(FullOuter)),
        s"fusion must be a full outer join on (doc_a, doc_b):\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0, s"nothing corpus-scaled may broadcast:\n$plan")
      val smj = initialNodes(df).count(is[SortMergeJoinExec])
      assert(shj + smj >= 2,
        s"both fusion joins must shuffle (shj=$shj smj=$smj):\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q281: clip signature band join is the bounded-window shape; verify joins only candidate pairs") {
    withNoAutoBroadcast {
      val df = graft.operators.Multimodal.clipDupsInline(
        graft.sources.Tables.documents(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs),
        s"candidates must come from band equality, never all-pairs:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0, s"nothing corpus-scaled may broadcast:\n$plan")
      assert(shj >= 1, s"the band probe join must shuffle:\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q282: the ladder explodes BEFORE one wide aggregation — single customer scan, no join, no window") {
    val df = graft.operators.Quality.kAnonymityAudit(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin),
      s"the audit is two hash aggregates over one exploded pass, no join:\n$plan")
    assert(!nodes(df).exists(isWindow), s"no window anywhere:\n$plan")
    assert(nodes(df).exists(is[GenerateExec]),
      s"the generalization ladder must be an in-task explode, not per-level passes:\n$plan")
    assert(scans(df).size === 1,
      s"one customer scan feeds all ladder levels:\n$plan")
  }

  test("q284: VAD is one row-local codec pass — no join, no window, no exchange") {
    val df = graft.operators.Multimodal.audioVad(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin), s"decode+segment is row-local, no join:\n$plan")
    assert(!nodes(df).exists(isWindow),
      s"run-length lives inside the kernel, never in a window:\n$plan")
    assert(!nodes(df).exists(isExchange),
      s"zero shuffles end to end — one task per clip partition:\n$plan")
    assert(scans(df).size === 1, s"single documents scan:\n$plan")
  }

  test("q283: supersteps shuffle the adjacency relation only — no cartesian, fixed unrolled depth") {
    withNoAutoBroadcast {
      val df = graft.operators.Advanced.copurchasePageRank(spark, sf0001)
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs),
        s"rank propagation is a keyed equi-join per superstep, never all-pairs:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0, s"nothing corpus-scaled may broadcast:\n$plan")
      // the basket self-join + 3 superstep joins + the final degree join
      // all shuffle — either hash- or merge-flavored, planner's pick
      val smj = initialNodes(df).count(is[SortMergeJoinExec])
      assert(shj + smj >= 4,
        s"superstep joins must shuffle (shj=$shj smj=$smj):\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q286: survivors are key-only anti/semi joins; membership never force-broadcast; scalar totals are the only hints") {
    withNoAutoBroadcast {
      val df = graft.operators.Prep.dedupMixture(
        graft.sources.Tables.documents(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(is[CartesianProductExec]),
        s"no all-pairs anywhere in the dedup-mixture chain:\n$plan")
      // the only BroadcastNestedLoopJoins allowed are the mixture's
      // ONE-ROW scalar totals (w_tot / base_tot crossJoins; the cached
      // w_tot subtree is walked once more under its InMemoryTableScan)
      val bnlj = nodes(df).count(is[BroadcastNestedLoopJoinExec])
      assert(bnlj <= 3, s"only the scalar-total crossJoins may BNLJ:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0,
        s"membership/survivor relations scale with the corpus — never forced broadcast:\n$plan")
      assert(shj >= 1, s"the rep election lookup must shuffle:\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("star joins: only CONSTANT dims are forced broadcasts; customer/supplier stay size-decided") {
    withNoAutoBroadcast {
      // expected = the constant-dim (nation/region) hints; customer and
      // supplier SCALE with the dataset, so their joins must not carry a
      // broadcast() hint in the initial plan (the q195-class guard)
      for ((df, expected, label) <- Seq(
          (Relational.joinEnrichBroadcast(spark, sf0001), 0, "q03"),
          (Relational.statusBands(spark, sf0001), 1, "q05"),
          (Relational.joinMultiRevenue(spark, sf0001), 2, "q04"),
          (graft.operators.Advanced.rollupRevenue(spark, sf0001), 1, "q28"),
          (Relational.groupingSetsRevenue(spark, sf0001), 1, "q47"),
          (Relational.localSupplierRevenue(spark, sf0001), 2, "q135"))) {
        val (bhj, _) = initialJoins(df)
        assert(bhj === expected,
          s"$label: forced broadcasts must be exactly the constant dims " +
            s"(got $bhj):\n${df.queryExecution.executedPlan}")
      }
    }
  }

  test("q237: both repetition aggregates ride the one text repartition — no aggregate exchanges") {
    val df = graft.operators.Corpus.repetitionProfile(
      graft.sources.Tables.documents(spark, sf0001))
    assert(shuffles(df) === 1,
      s"one doc_id repartition, zero exchanges after the explode:\n${df.queryExecution.executedPlan}")
  }

  test("q236: LM count joins are shuffle_hash, never broadcast (the tables scale with the corpus)") {
    val df = graft.operators.Corpus.lmFluency(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val (bhj, shj) = initialJoins(df)
    // the bigram/head count joins (corpus-scaled both sides) must plan
    // as shuffled hash joins
    assert(shj >= 2,
      s"expected the two count joins to be ShuffledHashJoin (got $shj):\n$plan")
    // the only broadcast is the one-row vocabulary scalar
    assert(bhj <= 1,
      s"bigram/head count joins must not broadcast (corpus-scaled):\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q265: KN count joins are shuffle_hash, never broadcast (all three relations scale with the corpus)") {
    val df = graft.operators.Corpus.knFluency(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val (bhj, shj) = initialJoins(df)
    // bigram-count, heads (c1/nc1), and histories (nh2) joins — all
    // corpus-scaled on both sides — must plan as shuffled hash joins
    assert(shj >= 3,
      s"expected the three count joins to be ShuffledHashJoin (got $shj):\n$plan")
    // the only broadcast is the one-row bigram-type-count scalar
    assert(bhj <= 1,
      s"count joins must not broadcast (corpus-scaled, got $bhj):\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q285: the budget prefix rides bucketedPrefix — range-partitioned pass, global window only over bucket totals") {
    val df = graft.operators.Prep.budgetSelect(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val ns = nodes(df)
    assert(ns.exists(isRangeShuffle),
      s"the running sum must range-partition by (density desc, doc_id):\n${df.queryExecution.executedPlan}")
    globalWindows(ns).foreach { w =>
      assert(readsAggregate(w)(_.contains("bucket")),
        s"a global window may only read the 32-row bucket totals:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q288: cell ranks partition by cell; the global prefix rides bucketedPrefix; no join, no all-pairs") {
    val df = graft.operators.Similarity.diverseSelect(
      graft.sources.Tables.embeddings(spark, sf0001))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the ONLY join is bucketedPrefix's broadcast of the 32-row bucket
    // offsets — nothing corpus-sized joins or goes all-pairs
    assert(!everNodes(df).exists(p => p.isInstanceOf[CartesianProductExec] ||
      p.isInstanceOf[SortMergeJoinExec] || p.isInstanceOf[ShuffledHashJoinExec]),
      s"only the broadcast offsets join is allowed:\n$plan")
    val ns = nodes(df)
    assert(ns.exists(isRangeShuffle),
      s"the global prefix must range-partition by (round, cell):\n$plan")
    // the only unpartitioned window may read the bucket totals
    globalWindows(ns).foreach { w =>
      assert(readsAggregate(w)(_.contains("bucket")),
        s"a global window may only read the bucket totals:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q287: water-filling windows read only the per-language aggregate — nothing corpus-sized is sorted or windowed") {
    val df = graft.operators.Prep.targetMixture(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    nodes(df).collect { case w: WindowExec => w }.foreach { w =>
      assert(readsAggregate(w)(_.contains("lang")),
        s"every window must sit above the |langs|-row aggregate:\n$w")
    }
    assert(!everNodes(df).exists(is[CartesianProductExec]),
      s"only scalar-total broadcast crossJoins are allowed:\n${df.queryExecution.executedPlan}")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q266: the shard rank rides bucketedPrefix — range-partitioned pass, global window only over bucket totals") {
    val df = graft.operators.Prep.shardManifest(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect() // finalize AQE so cached subplans are real
    val ns = nodes(df)
    assert(ns.exists(isRangeShuffle),
      s"pass 1 must range-partition by (n_tok desc, doc_id):\n${df.queryExecution.executedPlan}")
    globalWindows(ns).foreach { w =>
      assert(readsAggregate(w)(_.contains("bucket")),
        s"a global window may only read the 32-row bucket totals:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q270: margin scoring stays shuffle_hash; the μk window is partitioned by src") {
    val df = graft.operators.Similarity.marginPairs(
      graft.sources.Tables.embeddings(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val (bhj, shj) = initialJoins(df)
    // bucket join + the two μk equijoins — all corpus-scaled both sides
    assert(shj >= 3,
      s"bucket and margin joins must be ShuffledHashJoin (got $shj):\n$plan")
    assert(bhj === 0, s"nothing here is broadcastable (got $bhj):\n$plan")
    nodes(df).collect { case w: WindowExec => w }.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q273: midranks come from the grid-bounded tie-group relation — no doc-row ranking, no range shuffle") {
    val df = graft.operators.Quality.signalAgreement(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the round-15 rewrite ranks NO doc rows: midranks are prefix
    // arithmetic over the (sig, source, score) tie-group relation,
    // which the 1e6 score grid bounds at any corpus size — so the
    // sampling pass + range shuffle of the old bucketedPrefix rank
    // must be gone entirely
    assert(!everNodes(df).exists(isRangeShuffle),
      s"no range shuffle anywhere — no doc row is ever ranked:\n$plan")
    assert(!everNodes(df).exists(is[CartesianProductExec]),
      s"scalar vocab is the only allowed cross join (broadcast):\n$plan")
    // every window partitions by (sig, source): its input is the
    // grid-bounded tie-group relation, never a corpus-scaled one
    nodes(df).collect { case w: WindowExec => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"windows may only run per (sig, source) over tie groups:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q238: overlap sketches never join — two scans into k-bounded aggregates") {
    val df = graft.operators.Quality.keyOverlapSketch(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin),
      s"the whole point is answering overlap WITHOUT a join:\n$plan")
    assert(!nodes(df).exists(isRangeShuffle), s"no global sort anywhere:\n$plan")
  }

  test("q131/q155/q188: quintile boundaries ride bucketedPrefix — no single-partition window over the distinct-value relation") {
    // the distinct cents/prices scale with the key space at 100 TB, so
    // the ONLY unpartitioned windows allowed anywhere in these plans are
    // bucketedPrefix's 32-row bucket-totals offsets window and the
    // metric-starts window over the |metrics|-row (<= 3) totals aggregate
    for (df <- Seq(
        graft.operators.Advanced.rfmSegments(
          graft.sources.Tables.orders(spark, sf0001)),
        graft.operators.Advanced.priceBandMix(
          graft.sources.Tables.orders(spark, sf0001)),
        graft.operators.Advanced.quantityByPriceBand(
          graft.sources.Tables.lineitem(spark, sf0001)))) {
      df.collect() // finalize AQE so cached/bucketed subplans are real
      val ns = nodes(df)
      assert(ns.exists(isRangeShuffle),
        s"boundary pass 1 must range-partition the distinct values:\n${df.queryExecution.executedPlan}")
      globalWindows(ns).foreach { w =>
        assert(readsAggregate(w)(k => k.contains("bucket") || k.contains("metric")),
          s"a global window may only read the bucket-totals or the " +
            s"metric-starts aggregate:\n$w")
      }
      graft.Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q219: the hot-key cut is a bounded TakeOrdered, never a global sort") {
    val df = graft.operators.Quality.skewProfile(
      graft.sources.Tables.events(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[TakeOrderedAndProjectExec]),
      s"top-k keys must plan as TakeOrderedAndProject:\n$plan")
    assert(!nodes(df).exists(isRangeShuffle),
      s"no global sort of the per-key counts:\n$plan")
  }

  test("q216: the retention window reads the bins aggregate, never raw documents") {
    val df = graft.operators.Prep.filterSweep(
      graft.sources.Tables.documents(spark, sf0001))
    val wins = nodes(df).collect { case w: WindowExec => w }
    assert(wins.nonEmpty,
      s"expected the cumulative-retention window:\n${df.queryExecution.executedPlan}")
    wins.foreach { w =>
      assert(readsAggregate(w.child)(_.contains("bin")),
        s"the window input must be the per-bin aggregate:\n$w")
    }
  }

  test("q245: the observed-pair scoring join is shuffle_hash, the argmin never windows or sorts") {
    val df = graft.operators.Corpus.nbConfusionInline(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val (_, shj) = initialJoins(df)
    // tf x delta both scale with the corpus: must be ShuffledHashJoin;
    // the broadcasts are the |classes|-row model constants and the
    // one-row vocab scalar
    assert(shj >= 1,
      s"expected the word-keyed scoring join as ShuffledHashJoin (got $shj):\n$plan")
    // argmin is min(struct(...)) inside the hash aggregate — a window or
    // a global sort here would serialize the per-doc decision at scale
    assert(!nodes(df).exists(isWindow), s"per-doc argmin must not window:\n$plan")
    assert(!nodes(df).exists(isRangeShuffle),
      s"no global sort anywhere in the classifier:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q246: every AUC window is partitioned — the rank prefix rides the bounded micro-grid") {
    val df = graft.operators.Quality.scoreAuc(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect() // finalize AQE so the cached count relation is real
    val ns = nodes(df)
    val globals = globalWindows(ns)
    assert(globals.isEmpty,
      s"AUC must never run an unpartitioned window — its prefixes are " +
        s"(source)- and (source, bucket)-partitioned by construction:\n$globals")
    assert(ns.exists(is[BroadcastHashJoinExec]),
      "the 11-bucket offset table must broadcast back onto the counts")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q247: calibration is pure aggregation — no join, no window, no sort") {
    val df = graft.operators.Quality.calibrationBins(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(!nodes(df).exists(isJoin), s"no join in a two-level aggregate:\n$plan")
    assert(!nodes(df).exists(isWindow), s"no window:\n$plan")
    assert(!nodes(df).exists(isRangeShuffle), s"no global sort:\n$plan")
  }

  test("q248: the probe list is a bounded TakeOrdered, the cells broadcast back, nothing windows") {
    val df = graft.operators.Corpus.cmFrequencyAudit(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[TakeOrderedAndProjectExec]),
      s"top-k probes must never globally sort the vocabulary:\n$plan")
    assert(!nodes(df).exists(isRangeShuffle), s"no global sort anywhere:\n$plan")
    assert(nodes(df).exists(is[BroadcastHashJoinExec]),
      s"the d*w-cell sketch must broadcast onto the probes:\n$plan")
    assert(!nodes(df).exists(isWindow), s"no window:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q249: the decade prefix windows are source-partitioned over the bounded grid") {
    val df = graft.operators.Corpus.zipfSlope(
      graft.sources.Tables.documents(spark, sf0001))
    val ns = nodes(df)
    val globals = globalWindows(ns)
    assert(globals.isEmpty,
      s"the ccdf suffix sum must partition by source (<=64 rows each):\n$globals")
    assert(!ns.exists(isJoin), "the fit is aggregates + a bounded window — never a join")
  }

  test("q251: CDC chunking is row-local HOFs into fp-keyed aggregates — shuffle_hash spread join, no broadcast, no window, no sort") {
    val df = graft.operators.Dedup.cdcChunks(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val ns = nodes(df)
    // the fingerprint-spread join is on the high-cardinality fp key of
    // the (source, fp) distinct relation: shuffled hash, never broadcast
    // (the fingerprint universe scales with corpus bytes)
    assert(ns.exists(is[ShuffledHashJoinExec]), s"shuffle_hash spread join:\n$plan")
    assert(!ns.exists(is[BroadcastHashJoinExec]), s"no broadcast:\n$plan")
    assert(!ns.exists(isWindow), s"no window:\n$plan")
    assert(!ns.exists(isRangeShuffle), s"no global sort:\n$plan")
    graft.Caches.releaseAll()
  }

  /** Whether a node of `df` evaluates the Karp–Rabin rolling kernel. */
  private def usesKrKernel(df: DataFrame): Boolean =
    nodes(df).exists(_.expressions.exists(_.exists(_.isInstanceOf[KrWindowFp])))

  test("q257: exact-substring dedup — fp-keyed shuffle_hash joins (no broadcast), doc-partitioned windows") {
    val df = graft.operators.Dedup.exactSubstringDedup(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the shared-fingerprint relation and the span table both scale with
    // corpus dup mass — neither may be forced through a broadcast
    assert(nodes(df).exists(is[ShuffledHashJoinExec]), s"shuffle_hash joins:\n$plan")
    assert(!everNodes(df).exists(is[BroadcastHashJoinExec]), s"no broadcast:\n$plan")
    // the anchor pass must ride the O(n) rolling kernel, not a
    // per-window md5 lambda (the round-13 10×-at-100× A/B)
    assert(usesKrKernel(df),
      s"anchor fingerprints must use the KR rolling kernel:\n$plan")
    // island windows partition by doc_id, bounded by per-doc dup mass
    val globals = globalWindows(nodes(df))
    assert(globals.isEmpty, s"no single-partition window:\n$globals")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q289: decontam scrub rides the KR kernel and fp-keyed shuffle joins; no single-partition window") {
    val df = graft.operators.Dedup.decontamScrub(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the eval fp relation scales with the eval tier — a fixed FRACTION
    // of the corpus, not a constant — so it must never force-broadcast
    assert(nodes(df).exists(is[ShuffledHashJoinExec]), s"shuffle_hash joins:\n$plan")
    assert(!everNodes(df).exists(is[BroadcastHashJoinExec]), s"no broadcast:\n$plan")
    assert(usesKrKernel(df),
      s"anchor fingerprints must use the KR rolling kernel:\n$plan")
    val globals = globalWindows(nodes(df))
    assert(globals.isEmpty, s"no single-partition window:\n$globals")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q290: the O(bins²) minimax runs on the cached bin relation; the dup flag is a fp-keyed shuffle join") {
    val df = graft.operators.Quality.isotonicCalibration(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val ns = nodes(df)
    // the corpus-scaled dup-flag join must be the hinted shuffle_hash;
    // every window reads the bounded bin aggregate, never the corpus
    assert(ns.exists(is[ShuffledHashJoinExec]),
      s"fp-keyed dup flag must shuffle:\n${df.queryExecution.executedPlan}")
    ns.collect { case w: WindowExec => w }.foreach { w =>
      assert(readsAggregate(w)(_.contains("bin")),
        s"every window must sit above the bin aggregate:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q292: membership and authority share one cached pair relation; nothing dup-scaled broadcasts") {
    withNoAutoBroadcast {
      val df = graft.operators.Dedup.authorityCanon(
        graft.sources.Tables.documents(spark, sf0001))
      val plan = df.queryExecution.executedPlan
      assert(!nodes(df).exists(isAllPairs), s"everything joins on keys:\n$plan")
      val (bhj, shj) = initialJoins(df)
      assert(bhj === 0,
        s"membership/rank relations scale with the dup population — never forced broadcast:\n$plan")
      assert(shj >= 1, s"the rank lookup must shuffle:\n$plan")
      assert(!nodes(df).exists(isWindow),
        s"the election is the max-of-struct aggregate, not a window:\n$plan")
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  test("q260: the chunk-flow pair join is fp-keyed shuffle_hash, never broadcast") {
    val df = graft.operators.Dedup.chunkFlowMatrix(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(nodes(df).exists(is[ShuffledHashJoinExec]), s"shuffle_hash pair join:\n$plan")
    assert(!everNodes(df).exists(is[BroadcastHashJoinExec]), s"no broadcast:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q252: the threshold sweep windows are all partitioned on the bounded grid") {
    val df = graft.operators.Quality.youdenThreshold(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    val globals = globalWindows(nodes(df))
    assert(globals.isEmpty,
      s"every suffix-sum window must be (source[, bucket])-partitioned:\n$globals")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q253: the fact scan carries a dynamicpruning partition filter from the dim broadcast") {
    val df = graft.operators.Warehouse.dppPrunedRevenue(spark, sf0001, tag = "dppspec")
    df.collect() // finalize AQE; DPP subqueries live in the executed plan
    assert(scans(df).exists(_.partitionFilters.exists(_.isInstanceOf[DynamicPruningExpression])),
      s"the month-partitioned fact scan must be dynamically pruned by the dim:\n${df.queryExecution.executedPlan}")
    // the dim is runtime-only (above-average months), so the result being
    // a strict subset of the 80 month partitions is the semantic proof
    assert(df.count() < 80,
      "the dim must select a strict subset of the month partitions")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q254: cross-LM scoring joins are shuffle_hash on composite keys, the lm list broadcasts") {
    val df = graft.operators.Corpus.lmAffinityBudget(
      graft.sources.Tables.documents(spark, sf0001), 200000L)
    val plan = df.queryExecution.executedPlan
    val (bhj, shj) = initialJoins(df)
    assert(shj >= 2,
      s"the (lm, bigram)/(lm, head) model joins must shuffle (got $shj):\n$plan")
    // the |sources|-row lm list rides a broadcast CROSS join (nested
    // loop — there is no equi-key), never a shuffle
    assert(bhj >= 1 || nodes(df).exists(is[BroadcastNestedLoopJoinExec]),
      s"the lm list must broadcast:\n$plan")
    assert(!nodes(df).exists(p => isWindow(p) || isRangeShuffle(p)),
      s"no window, no global sort:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q255: the degree table attaches via shuffle_hash, the moments never window or sort") {
    val df = graft.operators.Dedup.dupAssortativity(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val (_, shj) = initialJoins(df)
    assert(shj >= 2,
      s"endpoint-degree joins must be ShuffledHashJoin (got $shj):\n$plan")
    assert(!nodes(df).exists(p => isWindow(p) || isRangeShuffle(p)),
      s"assortativity is joins + one moment aggregate:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q256: every unpartitioned window reads a bounded (bucket/decile) aggregate") {
    val df = graft.operators.Quality.decileLift(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect()
    globalWindows(nodes(df)).foreach { w =>
      assert(readsAggregate(w)(k => k.contains("b") || k.contains("decile")),
        s"a global window may only read the 11-bucket offsets or the " +
          s"<=10-row decile aggregate:\n$w")
    }
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q250: candidates and mutuality are shuffle_hash equijoins, never a sort or window") {
    val df = graft.operators.Similarity.reciprocalNn(
      graft.sources.Tables.embeddings(spark, sf0001), nPlanes = 8, dims = 64)
    val plan = df.queryExecution.executedPlan
    val (_, shj) = initialJoins(df)
    assert(shj >= 2,
      s"bucket join + mutuality join must be ShuffledHashJoin (got $shj):\n$plan")
    assert(!nodes(df).exists(isRangeShuffle), s"no global sort:\n$plan")
    assert(!nodes(df).exists(isWindow),
      s"the per-vector argmax is an aggregate, never a window:\n$plan")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q261: full text never shuffles — exchanges carry the 32-char digest, windows are digest-partitioned") {
    val df = graft.operators.Prep.effectiveTokens(
      graft.sources.Tables.documents(spark, sf0001))
    val plan = df.queryExecution.executedPlan
    val ns = nodes(df)
    // every window is partitioned (by the digest) — never a global window
    ns.collect { case w: WindowExec => w }.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
    // no exchange ships the raw text column: the (h, source, n_tok)
    // reduction happens before the first shuffle
    ns.collect { case s: ShuffleExchangeExec => s }.foreach(s =>
      assert(!s.output.exists(_.name == "text"), s"an exchange carries full text:\n$s"))
    // map-side partial combine on the cell reduction
    assert(ns.count(isHashAggregate) >= 2,
      s"cell reduction must partial-aggregate:\n$plan")
  }

  test("q263: the sweep adds no per-budget passes — exactly one shard-partitioned window") {
    val df = graft.operators.Prep.packSweep(
      graft.sources.Tables.documents(spark, sf0001))
    df.collect() // AQE + cache realization
    val windows = nodes(df).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      s"the cumulative sum must be shard-partitioned: $windows")
    // the cached base is computed once: the four budgets must NOT
    // quadruple the window count
    assert(windows.size <= 2,
      s"budget sweep re-ran the pack window per budget: ${windows.size}")
    graft.Caches.releaseAll()
    spark.catalog.clearCache()
  }

  test("q283/q114: constructing the PageRank plan launches ZERO Spark jobs once the pair artifact exists") {
    // warm pass: builds the Derived pair artifacts (jobs allowed here) —
    // the steady state every later session/PlanDump/plan test sees
    graft.operators.Advanced.copurchasePageRank(spark, sf0001).queryExecution.analyzed
    graft.operators.Advanced.copurchaseRank(spark, sf0001).queryExecution.analyzed
    graft.Caches.releaseAll(); spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        sites.add(j.stageInfos.headOption
          .map(si => si.name + "\n" + si.details).getOrElse("?"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // construction only: Derived memo hit + footer-statistics width —
      // the eager e.count() this pins against executed the whole upstream
      // mining at plan-construction time (round-16 watch item)
      graft.operators.Advanced.copurchasePageRank(spark, sf0001).queryExecution.analyzed
      graft.operators.Advanced.copurchaseRank(spark, sf0001).queryExecution.analyzed
      // fence: the listener bus is FIFO, so once the fence job's start is
      // observed, every job submitted during construction has been too
      spark.sparkContext.parallelize(1 to 1, 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(jobs.get() === 1,
        s"plan construction must launch no jobs (only the fence may appear), saw ${jobs.get()}:\n" +
          sites.toArray.mkString("\n---\n"))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      graft.Caches.releaseAll(); spark.catalog.clearCache()
    }
  }
}
