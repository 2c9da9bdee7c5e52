package graft

import org.apache.spark.sql.DataFrame

import graft.functions.{BoundedTopK, Scored}
import graft.operators.Similarity

/** Property + unit coverage for the vector similarity family. */
class SimilaritySpec extends SparkSpec {

  private val dims = 8

  private def emb(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  /** Scala-side reference of the operator's fixed-point cosine. */
  private def refCosine(a: Seq[Float], b: Seq[Float]): Double = {
    def q(x: Float): Long = math.floor(x.toDouble * 1e8 + 0.5).toLong
    val dot = a.zip(b).map { case (x, y) => q(x) * q(y) }.sum
    val na = a.map(x => q(x) * q(x)).sum
    val nb = b.map(x => q(x) * q(x)).sum
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  test("brute-force top-k returns exact neighbours in cosine order") {
    val v0 = Seq.fill(dims)(0.5f)
    val v1 = v0.updated(0, 0.51f)              // very close to v0
    val v2 = v0.map(_ * -1f)                    // opposite of v0
    val v3 = Seq.tabulate(dims)(i => if (i % 2 == 0) 0.9f else -0.9f)
    val df = emb(0L -> v0, 1L -> v1, 2L -> v2, 3L -> v3)

    val out = Similarity.annBruteForceTopK(df, k = 3, nQueries = 1).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine"), r.getAs[Int]("rank")))
      .sortBy(_._3)
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 2L))
    assert(out.head._2 > 0.99)
    assert(out.last._2 < -0.99)
    // engine cosine matches the Scala reference bit-for-bit
    assert(out.head._2 === refCosine(v0, v1))
  }

  test("LSH near-dup search finds planted near-identical vectors") {
    val v = Seq.tabulate(dims)(i => (math.sin(i + 1) * 0.4).toFloat)
    val vNear = v.updated(3, v(3) + 1e-4f)
    val noise = (1 to 20).map { s =>
      (s + 10).toLong -> Seq.tabulate(dims)(i => (math.sin(s * 31 + i * 7) * 0.4).toFloat)
    }
    val df = emb((Seq(0L -> v, 1L -> vNear) ++ noise): _*)
    val pairs = Similarity.nearDupLsh(df, nPlanes = 8, threshold = 0.999, dims = dims)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("semanticDecontam flags exactly the training vectors near the eval slice") {
    // vec 0 (vec_id % 2 == 0) is the eval vector; vec 1 is a planted
    // near-copy (flagged), vec 3 is its negation (max_cos < 0), vec 5 is
    // alternating-sign noise (below threshold).
    val v = Seq.fill(dims)(0.5f)
    val df = emb(
      0L -> v,
      1L -> v.updated(0, 0.51f),
      3L -> v.map(_ * -1f),
      5L -> Seq.tabulate(dims)(i => if (i % 2 == 0) 0.9f else -0.9f))
    val out = Similarity.semanticDecontam(df, modulo = 2, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("max_cos")))
    assert(out.map(_._1).toSeq === Seq(1L))
    // engine max-cos matches the Scala fixed-point reference bit-for-bit
    assert(out.head._2 === refCosine(v, v.updated(0, 0.51f)))
  }

  test("bounded top-k aggregator: reduce/merge keep best-first total order, cap at k") {
    val agg = new BoundedTopK(3)
    val xs = Seq(Scored(5, 0.1), Scored(2, 0.9), Scored(1, 0.9), Scored(3, 0.5), Scored(4, 0.7))
    val all = xs.foldLeft(agg.zero)(agg.reduce)
    // ties broken by neighborId ascending; list capped at k, best first
    assert(agg.finish(all) === Seq(Scored(1, 0.9), Scored(2, 0.9), Scored(4, 0.7)))
    // any split-and-merge yields the same result (map-side combine soundness)
    (1 until xs.length).foreach { cut =>
      val (l, r) = xs.splitAt(cut)
      val merged = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      assert(agg.finish(merged) === agg.finish(all), s"cut at $cut")
    }
  }

  test("BoundedTopK ranks NaN deterministically (Double.compare total order)") {
    // IEEE > makes NaN incomparable (both directions false), which would
    // make the surviving k depend on arrival order; Double.compare ranks
    // NaN above all reals, matching Spark's and DuckDB's DESC sort
    val agg = new BoundedTopK(2)
    val xs = Seq(Scored(1, 0.9), Scored(2, Double.NaN), Scored(3, 0.5), Scored(4, Double.NaN))
    val expected = Seq(Scored(2, Double.NaN), Scored(4, Double.NaN))
    xs.permutations.foreach { perm =>
      val r = agg.finish(perm.foldLeft(agg.zero)(agg.reduce))
      assert(r.map(_.neighborId) === expected.map(_.neighborId), s"order $perm")
    }
  }

  test("property: BoundedTopK equals sort-take-k for random inputs and partitionings") {
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { trial =>
      val n = rnd.nextInt(40)
      // duplicate cosines on purpose (coarse grid) to exercise tie-breaks
      val items = List.fill(n)(
        Scored(rnd.nextInt(20).toLong, (rnd.nextInt(9) - 4) / 4.0))
      val k = 1 + rnd.nextInt(8)
      val agg = new BoundedTopK(k)
      val expected = items.sortWith((a, b) =>
        a.cosine > b.cosine || (a.cosine == b.cosine && a.neighborId < b.neighborId)).take(k)
      // arbitrary split → per-split reduce → arbitrary-order merge
      val nSplits = 1 + rnd.nextInt(5)
      val splits = rnd.shuffle(items).grouped(math.max(1, (n + nSplits - 1) / nSplits))
        .map(_.foldLeft(agg.zero)(agg.reduce)).toList
      val merged = rnd.shuffle(splits).foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(merged) === expected, s"trial $trial (n=$n k=$k)")
    }
  }

  test("top-k plan: bounded map-side aggregate, no window over the full scored pairs") {
    val df = Similarity.annBruteForceTopK(
      graft.sources.Tables.embeddings(spark, sf0001), k = 10, nQueries = 10)
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, ScalaAggregator}
    val plan = df.queryExecution.executedPlan
    val objectAggs = Plans.nodes(df).collect { case a: ObjectHashAggregateExec => a }
    assert(objectAggs.nonEmpty,
      s"expected object-hash aggregation for bounded top-k, plan:\n$plan")
    assert(objectAggs.exists(_.aggregateExpressions.exists(e => e.mode == Partial &&
      (e.aggregateFunction match {
        case s: ScalaAggregator[_, _, _] => s.agg.isInstanceOf[BoundedTopK]
        case _ => false
      }))),
      s"expected a map-side partial pass before the exchange, plan:\n$plan")
    assert(!Plans.nodes(df).exists(Plans.isWindow),
      s"per-query ranking must not window-sort the full pair set, plan:\n$plan")
  }

  test("kmeans-trained IVF: centroids converge to planted clusters, search stays in-cluster") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // three well-separated direction clusters, 12 vectors each; ids
    // interleaved so the first-k init starts from mixed clusters
    val bases = Seq(
      Seq.tabulate(dims)(i => if (i < 3) 0.9f else 0.01f),
      Seq.tabulate(dims)(i => if (i >= 3 && i < 6) 0.9f else 0.01f),
      Seq.tabulate(dims)(i => if (i >= 6) 0.9f else 0.01f))
    val vecs = (0 until 36).map { id =>
      val b = bases(id % 3)
      id.toLong -> b.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    }
    val df = emb(vecs: _*)
    val out = Similarity.annIvfTrained(df,
      nCells = 3, iters = 3, nProbe = 1, k = 5, nQueries = 6)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(out.nonEmpty)
    // with one probe on trained cells, every retrieved neighbour shares
    // the query's planted cluster (id mod 3)
    out.foreach { case (q, n) =>
      assert(q % 3 === n % 3, s"query $q retrieved out-of-cluster neighbour $n")
    }
    // determinism: an arbitrary repartition yields bit-identical centroids
    val c1 = Similarity.kmeansCentroids(df, 3, 3).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Seq[Float]]("ce").toList).toMap
    val c2 = Similarity.kmeansCentroids(df.repartition(7), 3, 3).collect()
      .map(r => r.getAs[Long]("cid") -> r.getAs[Seq[Float]]("ce").toList).toMap
    assert(c1 === c2)
  }

  test("property: engine cosine equals the Scala fixed-point reference and is bounded") {
    val rnd = new scala.util.Random(42)
    def vec(): Seq[Float] =
      Seq.fill(dims)((rnd.nextDouble() * 1.8 - 0.9).toFloat)
        .map(x => if (math.abs(x) < 1e-3) 0.1f else x)
    // one Spark job for all 15 trials: pairs (2i, 2i+1)
    val trials = (0 until 15).map(i => (i, vec(), vec()))
    val rows = trials.flatMap { case (i, a, b) =>
      Seq((2L * i) -> a, (2L * i + 1) -> b)
    }
    val out = Similarity.annBruteForceTopK(emb(rows: _*), k = 64, nQueries = 64)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    trials.foreach { case (i, a, b) =>
      val c = out((2L * i, 2L * i + 1))
      assert(c === refCosine(a, b), s"trial $i")
      assert(c >= -1.0000001 && c <= 1.0000001, s"trial $i out of bounds: $c")
    }
  }

  test("quantizeInt8: hand-computed codes and the half-step error bound") {
    val out = Similarity.quantizeInt8(emb(0L -> Seq(0f, 0.5f, 1f))).collect()(0)
    val scale = 1.0 / 255
    assert(out.getAs[Double]("mn") === 0.0)
    assert(out.getAs[Double]("mx") === 1.0)
    assert(out.getAs[Double]("scale") === scale)
    // q = floor(x/scale + 0.5) = [0, 128, 255] -> checksum 383
    assert(out.getAs[Long]("q_sum") === 383L)
    // only the middle element has error: |0.5 - 128*scale|
    val expectedErr = math.abs(0.5 - math.floor(0.5 / scale + 0.5) * scale)
    assert(out.getAs[Double]("max_err") === expectedErr)

    // invariant on random vectors: rounding to the nearest of 256 levels
    // never errs more than half a step
    val rnd = new scala.util.Random(7)
    val vs = (0 until 20).map(i =>
      i.toLong -> Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat))
    Similarity.quantizeInt8(emb(vs: _*)).collect().foreach { r =>
      assert(r.getAs[Double]("max_err") <= r.getAs[Double]("scale") / 2 + 1e-12,
        s"vec ${r.getAs[Long]("vec_id")} err over half-step")
    }

    // constant vector: scale 0 must not NaN — by convention code 0, error 0
    val const = Similarity.quantizeInt8(emb(0L -> Seq(0.5f, 0.5f, 0.5f))).collect()(0)
    assert(const.getAs[Double]("scale") === 0.0)
    assert(const.getAs[Long]("q_sum") === 0L)
    assert(const.getAs[Double]("max_err") === 0.0)
  }

  test("sparseLexicalTopK: tf-cosine over shared terms, sparse candidates, exact tie-break") {
    import spark.implicits._
    val d = Seq((0L, "a a b"), (1L, "a b"), (2L, "c c c"), (3L, "b b a"))
      .toDF("doc_id", "text")
    val rows = Similarity.sparseLexicalTopK(d, k = 3, nQueries = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("cos_sim"))).toMap
    assert(rows.size === 4) // doc 2 shares no word with any query: never a candidate
    // q0: d1 = 3/(sqrt5*sqrt2) ~ 0.949 beats d3 = 4/(sqrt5*sqrt5) = 0.8
    assert(rows((0L, 1)) === ((1L, 3.0 / (math.sqrt(5.0) * math.sqrt(2.0)))))
    assert(rows((0L, 2)) === ((3L, 4.0 / (math.sqrt(5.0) * math.sqrt(5.0)))))
    // q1 vs d0 and vs d3: SAME dot (3) and SAME norm product (sqrt2*sqrt5)
    // -> bit-identical cosines; the doc_id tie-break must decide the order
    assert(rows((1L, 1))._1 === 0L)
    assert(rows((1L, 2))._1 === 3L)
    assert(rows((1L, 1))._2 === rows((1L, 2))._2)
  }

  test("langCentroids: dimension-wise means per language with exact fixed-point sums") {
    import spark.implicits._
    val docs = Seq((0L, "en"), (1L, "en"), (2L, "fr"))
      .toDF("doc_id", "lang")
    val e = emb(0L -> Seq(1f, 2f), 1L -> Seq(3f, 4f), 2L -> Seq(5f, 6f))
    val m = Similarity.langCentroids(docs, e).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Int]("pos")) ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid"))).toMap
    assert(m.size === 4) // 2 langs x 2 dims
    assert(m(("en", 1)) === ((2L, 2.0))) // (1+3)/2
    assert(m(("en", 2)) === ((2L, 3.0))) // (2+4)/2
    assert(m(("fr", 1)) === ((1L, 5.0)))
    assert(m(("fr", 2)) === ((1L, 6.0)))
  }

  test("quantileCodebook: equal-population bins with nearest-rank centroids") {
    import spark.implicits._
    // 32 one-dim vectors valued 1..32 -> 16 bins of exactly 2; bin k
    // holds {2k+1, 2k+2}; nearest-rank median of 2 picks the LOWER.
    val df = (1 to 32).map(i => (i.toLong, Array(i.toFloat))).toDF("vec_id", "embedding")
    val out = Similarity.quantileCodebook(df).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(out.size === 16)
    (0 until 16).foreach { k =>
      val (n, lo, hi, c) = out(k.toLong)
      assert(n === 2L, s"bin $k population")
      assert(lo === (2 * k + 1).toDouble && hi === (2 * k + 2).toDouble)
      assert(c === lo, s"bin $k centroid must be the nearest-rank (lower) pick")
    }
  }

  test("semDedup: planted duplicate pairs drop the higher id, orthogonal vectors survive") {
    // two seed clusters (axis 0 / axis 1) with an exact duplicate in
    // each, plus one orthogonal singleton; nCells=2, iters=1
    val e = emb(
      0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f),
      2L -> Seq(1f, 0f, 0f),        // dup of 0 -> dropped
      3L -> Seq(0f, 0.9f, 0.1f),    // near-dup of 1 -> dropped
      4L -> Seq(0f, 0f, 1f))        // orthogonal to everything -> kept
    val out = Similarity.semDedup(e, nCells = 2, iters = 1, tau = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out.size === 5)
    assert(out(0L) && out(1L), "lowest ids of each dup group must survive")
    assert(!out(2L), "exact duplicate of 0 must drop")
    assert(!out(3L), s"cosine(1,3)=${refCosine(Seq(0f, 1f, 0f), Seq(0f, 0.9f, 0.1f))} >= 0.9 must drop")
    assert(out(4L), "orthogonal vector must survive")
  }

  test("semDedup: keep set is partition-invariant and every drop has a smaller-id co-clustered witness") {
    val embTbl = graft.sources.Tables.embeddings(spark, sf0001)
    val out = Similarity.semDedup(embTbl, nCells = 8, iters = 2, tau = 0.4).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Boolean]("keep")))
    assert(out.length === 500)
    val dropped = out.filter(!_._3)
    assert(dropped.nonEmpty, "fixture must contain within-cluster near-dups at tau=0.4")
    assert(out.count(_._3) > dropped.length, "most vectors must survive")
    // witness property: a dropped vec has a smaller-id member in its cluster
    val byCid = out.groupBy(_._2)
    dropped.foreach { case (v, c, _) =>
      assert(byCid(c).exists(_._1 < v), s"dropped $v has no smaller-id member in cluster $c")
    }
    val re = Similarity.semDedup(embTbl.repartition(7), nCells = 8, iters = 2, tau = 0.4)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cid"), r.getAs[Boolean]("keep")))
    assert(re.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("clusterKeywords: each cluster's distinctive word tops its list with the hand lift") {
    import spark.implicits._
    // cluster 0 = x-axis vecs {0,1}, cluster 1 = y-axis vecs {2,3};
    // each doc: 3 distinctive words + 2 shared -> per cluster:
    //   distinctive c_cw=6 of n_c=10, corpus c_w=6 of N=20 -> lift 2.0
    //   'common'   c_cw=4 of n_c=10, corpus c_w=8 of N=20 -> lift 1.0
    val docs = Seq(
      (0L, "apple apple apple common common"),
      (1L, "apple apple apple common common"),
      (2L, "banana banana banana common common"),
      (3L, "banana banana banana common common")
    ).toDF("doc_id", "text")
    val e = emb(
      0L -> Seq(1f, 0.1f), 1L -> Seq(1f, 0f),
      2L -> Seq(0.1f, 1f), 3L -> Seq(0f, 1f))
    val out = Similarity.clusterKeywords(docs, e,
      nCells = 2, iters = 1, k = 5, minCount = 3L).collect()
      .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("rk")) ->
        (r.getAs[String]("word"), r.getAs[Long]("c_cw"), r.getAs[Double]("lift")))
      .toMap
    assert(out.size === 4) // 2 clusters x {distinctive, common}
    val c0 = out.keys.map(_._1).min
    val c1 = out.keys.map(_._1).max
    assert(c0 != c1)
    val first = Map(out((c0, 1L))._1 -> out((c0, 1L)), out((c1, 1L))._1 -> out((c1, 1L)))
    assert(first.keySet === Set("apple", "banana"))
    first.values.foreach { case (_, c, lift) => assert(c === 6L && lift === 2.0) }
    Seq(c0, c1).foreach { c =>
      assert(out((c, 2L)) === (("common", 4L, 1.0)))
    }
  }

  test("clusterPurity: majority labels with smallest-label tie-break, exact purity") {
    import spark.implicits._
    // cluster A (x-axis): labels 7,7 -> pure; cluster B (y-axis): labels
    // 5,3 -> 1-1 tie, majority must break to the SMALLER label (3)
    val e = Seq(
      (0L, Seq(1f, 0f), 7),
      (1L, Seq(1f, 0.1f), 7),
      (2L, Seq(0f, 1f), 5),
      (3L, Seq(0.1f, 1f), 3)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterPurity(e, nCells = 2, iters = 1).collect()
      .map(r => r.getAs[Long]("cid") ->
        (r.getAs[Long]("n_members"), r.getAs[Int]("majority_label"),
          r.getAs[Long]("n_majority"), r.getAs[Double]("purity"))).toMap
    assert(out.size === 2)
    val pure = out.values.find(_._2 == 7).get
    val tied = out.values.find(_._2 != 7).get
    assert(pure === ((2L, 7, 2L, 1.0)))
    assert(tied === ((2L, 3, 1L, 0.5)),
      s"1-1 tie must elect the smaller label: $out")
    // real corpus: members reconcile to the vector count, purity in (0,1]
    val full = Similarity.clusterPurity(
      graft.sources.Tables.embeddings(spark, sf0001), nCells = 8, iters = 2)
      .collect()
    assert(full.map(_.getAs[Long]("n_members")).sum === 500L)
    full.foreach { r =>
      val p = r.getAs[Double]("purity")
      assert(p > 0.0 && p <= 1.0)
      assert(r.getAs[Long]("n_majority") <= r.getAs[Long]("n_members"))
    }
  }

  // ---- product quantization (q212/q213) ----

  /** Plain-JVM PQ reference on the 1e4 grid: per-(vector, subspace)
    * nearest-code assignment with (dist, code) tie-break. */
  private def refPqAssign(
      vecs: Map[Long, Seq[Float]], m: Int, codes: Int,
      dims: Int): Seq[(Long, Int, Long, Long)] = {
    def q(x: Float): Long = math.floor(x.toDouble * 1e4 + 0.5).toLong
    def sqd(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    val dsub = dims / m
    def sub(v: Seq[Float], s: Int): Seq[Float] = v.slice(s * dsub, (s + 1) * dsub)
    for ((id, v) <- vecs.toSeq; s <- 0 until m) yield {
      val (code, dist) = (0 until codes)
        .map(c => (c.toLong, sqd(sub(v, s), sub(vecs(c.toLong), s))))
        .minBy { case (c, d) => (d, c) }
      (id, s, code, dist)
    }
  }

  private def randVecs(n: Int, dims: Int, seed: Long): Map[Long, Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => i.toLong -> Seq.fill(dims)(rnd.nextFloat() * 2f - 1f)).toMap
  }

  test("pqEncode equals the plain-JVM PQ reference on random vectors") {
    import spark.implicits._
    val vecs = randVecs(30, dims = 8, seed = 7L)
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val got = Similarity.pqEncode(df, m = 2, codes = 4, dims = 8).collect()
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Long]("code")) ->
        ((r.getAs[Long]("n_assigned"), r.getAs[Double]("avg_sqerr")))).toMap
    val expected = refPqAssign(vecs, m = 2, codes = 4, dims = 8)
      .groupBy { case (_, s, c, _) => (s, c) }
      .map { case (k, rows) =>
        k -> ((rows.size.toLong,
          rows.map(_._4).sum.toDouble / rows.size.toDouble / 1e8))
      }
    assert(got === expected)
    // invariants: populations reconcile; codebook vectors self-assign
    // with zero error (their own sub-vector is in the codebook)
    assert(got.values.map(_._1).sum === 30L * 2)
    refPqAssign(vecs, 2, 4, 8).filter(_._1 < 4L).foreach {
      case (id, _, code, dist) =>
        assert(code == id && dist == 0L, s"codebook vector $id must self-assign")
    }
  }

  test("pqAdcTopK equals a plain-JVM asymmetric-distance recompute, any partitioning") {
    import spark.implicits._
    val m = 2; val codes = 4; val dims = 8; val k = 5; val nQ = 3
    val vecs = randVecs(40, dims, seed = 11L)
    def q(x: Float): Long = math.floor(x.toDouble * 1e4 + 0.5).toLong
    def sqd(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    val dsub = dims / m
    def sub(v: Seq[Float], s: Int): Seq[Float] = v.slice(s * dsub, (s + 1) * dsub)
    val enc = refPqAssign(vecs, m, codes, dims)
      .map { case (id, s, code, _) => (id, s) -> code }.toMap
    val expected = (0L until nQ.toLong).flatMap { qid =>
      val scored = vecs.keys.filter(_ != qid).toSeq.map { vid =>
        val adc = (0 until m).map { s =>
          sqd(sub(vecs(qid), s), sub(vecs(enc((vid, s))), s))
        }.sum
        (vid, adc)
      }.sortBy { case (vid, adc) => (adc, vid) }.take(k)
      scored.zipWithIndex.map { case ((vid, adc), i) =>
        (qid, vid, adc.toDouble / 1e8, i + 1)
      }
    }.toSet
    for (parts <- Seq(1, 7)) {
      val df = vecs.toSeq.toDF("vec_id", "embedding").repartition(parts)
      val got = Similarity.pqAdcTopK(df, m, codes, dims, k, nQ).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("adc_sqdist"), r.getAs[Int]("rank"))).toSet
      assert(got === expected, s"ADC divergence at $parts partitions")
    }
  }

  // ---- coreset coverage (q214) ----

  test("coresetCoverage equals a plain-JVM k-center recompute with md5 hyperplanes") {
    import spark.implicits._
    val nPlanes = 4; val dims = 8
    val vecs = randVecs(50, dims, seed = 23L)
    def q8(x: Float): Long = math.floor(x.toDouble * 1e8 + 0.5).toLong
    def bucket(v: Seq[Float]): String =
      (0 until nPlanes).map { p =>
        val proj = v.zipWithIndex
          .map { case (x, i) => q8(x) * graft.functions.Vectors.hyperplaneSign(p, i + 1) }.sum
        if (proj >= 0) '1' else '0'
      }.mkString
    val reps = vecs.groupBy { case (_, v) => bucket(v) }
      .map { case (_, members) => members.keys.min }.toSet
    val nearest = vecs.map { case (id, v) =>
      val (rep, cos) = reps.toSeq
        .map(r => (r, refCosine(v, vecs(r))))
        .minBy { case (r, c) => (-c, r) }
      id -> ((rep, cos))
    }
    val expected = nearest.values.groupBy(_._1).map { case (rep, hits) =>
      rep -> ((hits.size.toLong, hits.map(_._2).min,
        hits.count(_._2 >= 0.5).toLong))
    }
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val got = Similarity.coresetCoverage(df, nPlanes, dims).collect()
      .map(r => r.getAs[Long]("rep_id") ->
        ((r.getAs[Long]("n_covered"), r.getAs[Double]("min_cos"),
          r.getAs[Long]("n_close")))).toMap
    assert(got === expected)
    // invariant: every vector is covered exactly once
    assert(got.values.map(_._1).sum === 50L)
  }

  // ---- JL projection distortion (q215) ----

  test("jlDistortion equals a plain-JVM sign-projection recompute on the audit tier") {
    import spark.implicits._
    val dims = 8; val dProj = 4; val nAudit = 6
    val vecs = randVecs(10, dims, seed = 31L)
    def q4(x: Float): Long = math.floor(x.toDouble * 1e4 + 0.5).toLong
    def proj(v: Seq[Float]): Seq[Long] =
      (0 until dProj).map { p =>
        v.zipWithIndex.map { case (x, i) =>
          q4(x) * graft.functions.Vectors.hyperplaneSign(p, i + 1)
        }.sum
      }
    def cosL(a: Seq[Long], b: Seq[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    val audit = vecs.filter(_._1 < nAudit)
    val expected = (for {
      (ia, va) <- audit; (ib, vb) <- audit if ia < ib
    } yield {
      val co = refCosine(va, vb)
      val cp = cosL(proj(va), proj(vb))
      (ia, ib, co, cp, cp - co)
    }).toSet
    val df = vecs.toSeq.toDF("vec_id", "embedding")
    val got = Similarity.jlDistortion(df, dProj, dims, nAudit).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cos_orig"), r.getAs[Double]("cos_proj"),
        r.getAs[Double]("distortion"))).toSet
    assert(got === expected)
    assert(got.size === nAudit * (nAudit - 1) / 2)
  }

  // ---- PQ staleness monitor (q218) ----

  test("pqStaleness: plain-JVM recompute with an even-id codebook; a planted delta shift raises the ratio") {
    import spark.implicits._
    val m = 2; val codes = 4; val dims = 8
    val rnd = new scala.util.Random(41L)
    // even ids: the indexed population; odd ids: a SHIFTED delta stream
    val vecs = (0 until 24).map { i =>
      val shift = if (i % 2 == 1) 0.6f else 0f
      i.toLong -> Seq.fill(dims)(rnd.nextFloat() * 2f - 1f + shift)
    }.toMap
    def q(x: Float): Long = math.floor(x.toDouble * 1e4 + 0.5).toLong
    def sqd(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    val dsub = dims / m
    def sub(v: Seq[Float], s: Int): Seq[Float] = v.slice(s * dsub, (s + 1) * dsub)
    val cbIds = (0L until (2L * codes)).filter(_ % 2 == 0)
    val best = for ((id, v) <- vecs.toSeq; s <- 0 until m) yield {
      val d = cbIds.map(c => (sqd(sub(v, s), sub(vecs(c), s)), c)).min._1
      (id, s, d)
    }
    val expected = (0 until m).map { s =>
      val idx = best.filter(b => b._2 == s && b._1 % 2 == 0).map(_._3)
      val del = best.filter(b => b._2 == s && b._1 % 2 == 1).map(_._3)
      val ei = idx.sum.toDouble / idx.size.toDouble / 1e8
      val ed = del.sum.toDouble / del.size.toDouble / 1e8
      s -> ((idx.size.toLong, del.size.toLong, ei, ed, ed / ei))
    }.toMap
    val got = Similarity.pqStaleness(
      vecs.toSeq.toDF("vec_id", "embedding"), m, codes, dims).collect()
      .map(r => r.getAs[Int]("subspace") ->
        ((r.getAs[Long]("n_index"), r.getAs[Long]("n_delta"),
          r.getAs[Double]("err_index"), r.getAs[Double]("err_delta"),
          r.getAs[Double]("staleness_ratio")))).toMap
    assert(got === expected)
    // the planted shift must read as staleness in every subspace
    got.values.foreach { case (_, _, _, _, ratio) =>
      assert(ratio > 1.0, s"shifted delta must reconstruct worse: $got")
    }
  }

  test("embeddingHygiene: planted zero / NaN / Inf / ragged-dim vectors are all flagged") {
    import spark.implicits._
    val vecs = Seq(
      (0, Seq(3f, 4f)),                     // healthy, norm 5
      (0, Seq(0f, 0f)),                     // zero vector
      (1, Seq(Float.NaN, 1f)),              // NaN element
      (1, Seq(Float.PositiveInfinity, 0f)), // Inf element
      (1, Seq(1f, 2f, 2f)),                 // ragged: dim 3, norm 3
    ).toDF("label", "embedding")
    val got = Similarity.embeddingHygiene(vecs).collect()
      .map(r => r.getAs[Int]("label") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Int]("dim_min"), r.getAs[Int]("dim_max"),
          r.getAs[Long]("n_zero_vecs"), r.getAs[Long]("n_nonfinite_vecs"),
          r.getAs[Long]("n_finite"),
          Option(r.get(r.fieldIndex("norm_min_fp"))).map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("norm_max_fp"))).map(_.asInstanceOf[Long]),
          r.getAs[Double]("norm_mean")))).toMap
    // label 0: two healthy vectors, norms {5e8, 0} on the 1e8 grid
    assert(got(0) === ((2L, 2, 2, 1L, 0L, 2L,
      Some(0L), Some(500000000L), 2.5)))
    // label 1: NaN and Inf flagged non-finite (norms NULL), ragged dims
    // 2..3 surface in min/max, only the dim-3 vector contributes a norm
    assert(got(1) === ((3L, 2, 3, 0L, 2L, 1L,
      Some(300000000L), Some(300000000L), 3.0)))
  }

  test("shardPlan: striped placement covers all cells, shards partition the corpus") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val n = emb.count()
    def run() = {
      val out = Similarity.shardPlan(emb).collect()
        .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_cells"),
          r.getAs[Long]("n_vecs"), r.getAs[Long]("n_total"),
          r.getAs[Double]("share"), r.getAs[Double]("imbalance")))
        .sortBy(_._1)
      graft.Caches.releaseAll()
      out
    }
    val got = run()
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(got.map(_._2).sum === 8L, "all 8 cells placed")
    assert(got.map(_._3).sum === n, "shards partition the corpus exactly")
    assert(got.forall(_._4 === n))
    got.foreach { case (_, _, _, _, share, imb) =>
      assert(math.abs(imb - share * 4) < 1e-12)
      assert(imb < 4.0, "no shard may hold everything under striping")
    }
    // deterministic: same placement on a different partitioning
    assert(run().toSeq === got.toSeq)
  }

  test("embeddingCovariance: hand-computed moments, diagonal = variance") {
    import spark.implicits._
    // vectors [1,2],[3,4],[5,0] on the 1e4 grid
    val vecs = Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(5f, 0f)).toDF("embedding")
    val got = Similarity.embeddingCovariance(vecs, dims = 2).collect()
      .map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("sxy"), r.getAs[Long]("sx"),
          r.getAs[Long]("sy"), r.getAs[Double]("cov")))).toMap
    assert(got.keySet === Set((0, 0), (0, 1), (1, 1)), "upper triangle only")
    def cov(n: Long, sxy: Long, sx: Long, sy: Long): Double =
      (n * sxy - sx * sy).toDouble / (n * n).toDouble / 1e8
    // var([1,3,5]) = 8/3, cov = -4/3, var([2,4,0]) = 8/3
    assert(got((0, 0)) === ((3L, 3500000000L, 90000L, 90000L,
      cov(3, 3500000000L, 90000L, 90000L))))
    assert(math.abs(got((0, 0))._5 - 8.0 / 3) < 1e-9)
    assert(got((0, 1)) === ((3L, 1400000000L, 90000L, 60000L,
      cov(3, 1400000000L, 90000L, 60000L))))
    assert(math.abs(got((0, 1))._5 + 4.0 / 3) < 1e-9)
    assert(math.abs(got((1, 1))._5 - 8.0 / 3) < 1e-9)
    // partition-invariant (exact integer moments)
    val again = Similarity.embeddingCovariance(vecs.repartition(3), dims = 2)
      .collect().map(r => (r.getAs[Int]("i"), r.getAs[Int]("j")) ->
        r.getAs[Double]("cov")).toMap
    assert(got.map { case (k, v) => k -> v._5 } === again)
  }

  test("pcaPower: recovers a planted rank-1 direction with full variance share") {
    import spark.implicits._
    // all points on the (0.6, 0.8) line -> cov is rank-1, PC1 = ±(0.6, 0.8);
    // the uniform start has positive overlap with +u, so the sign is +.
    // Magnitudes ~1e2 so the ÷2^30 moment downscale (tuned for corpus-
    // scale sums) keeps ≥1e5 of integer resolution on this 4-row matrix.
    val vecs = Seq(Seq(300f, 400f), Seq(600f, 800f), Seq(-300f, -400f), Seq(0f, 0f))
      .toDF("embedding")
    def run(d: org.apache.spark.sql.DataFrame) = {
      val out = Similarity.pcaPower(d, dims = 2, iters = 4).collect()
        .map(r => (r.getAs[Int]("dim"), r.getAs[Double]("loading"),
          r.getAs[Double]("var_share"))).sortBy(_._1)
      graft.Caches.releaseAll()
      out
    }
    val got = run(vecs)
    assert(got.length === 2)
    assert(math.abs(got(0)._2 - 0.6) < 1e-3, s"dim0 loading: ${got(0)}")
    assert(math.abs(got(1)._2 - 0.8) < 1e-3, s"dim1 loading: ${got(1)}")
    got.foreach { case (_, _, share) =>
      assert(math.abs(share - 1.0) < 1e-2, s"rank-1 input: full variance share, got $share")
    }
    // bit-identical on a different partitioning
    assert(run(vecs.repartition(3)).toSeq === got.toSeq)
  }

  test("modalityAlignment: hand-built perfect and inverted correlations") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", 100L), (1L, "en", 200L), (2L, "en", 300L),
      (3L, "fr", 100L), (4L, "fr", 200L), (5L, "fr", 300L),
      (9L, "de", 42L), // no embedding -> dropped by the inner join
    ).toDF("doc_id", "lang", "n_chars")
    val embs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(2f, 0f)), (2L, Seq(3f, 0f)),
      (3L, Seq(3f, 0f)), (4L, Seq(2f, 0f)), (5L, Seq(1f, 0f)),
    ).toDF("vec_id", "embedding")
    val got = Similarity.modalityAlignment(docs, embs).collect()
      .map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("corr"),
          r.getAs[Double]("mean_chars"), r.getAs[Double]("mean_norm")))).toMap
    assert(got.keySet === Set("en", "fr"))
    // norms proportional to length -> exactly ±1 (all moments land on
    // exactly-representable doubles, so equality is exact)
    assert(got("en") === ((3L, 1.0, 200.0, 2.0)))
    assert(got("fr") === ((3L, -1.0, 200.0, 2.0)))
  }

  test("ivfRecallAudit: probing every cell recovers exact recall 1.0") {
    val e = graft.sources.Tables.embeddings(spark, sf0001)
    val got = Similarity.ivfRecallAudit(
      e, nCells = 4, iters = 2, nProbe = 4, k = 5, nQueries = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("n_truth"),
        r.getAs[Long]("n_hit"), r.getAs[Double]("recall")))
    graft.Caches.releaseAll()
    assert(got.length === 10)
    got.foreach { case (q, nTruth, nHit, recall) =>
      assert(nTruth === 5L, s"query $q")
      assert(nHit === 5L && recall === 1.0,
        s"full probe must equal brute force for query $q: hit=$nHit")
    }
  }

  test("hybridRrf: hand-checked rank fusion, incl. one-sided docs through the full-outer union") {
    import spark.implicits._
    // lexical side: doc 1 and doc 2 match "alpha" (doc 2 twice as often in
    // the same length -> lex rank 1), doc 5 matches but has NO embedding;
    // doc 3 has no query term (dense-only)
    val docs = Seq(
      (1L, "alpha x y z", "en", "web", 10L),
      (2L, "alpha alpha y z", "en", "web", 10L),
      (3L, "q r s t", "en", "web", 10L),
      (5L, "alpha q", "en", "web", 10L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // dense side vs query vec 0 = (1,0,0): vec 1 cos 1.0 > vec 4 cos ~0.8
    // > vec 2 cos ~0.6 > vec 3 cos 0.0; vec 4 has no document text side
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.6f, 0.8f, 0f)),
      (3L, Seq(0f, 1f, 0f)),
      (4L, Seq(0.8f, 0.6f, 0f)),
    ).toDF("vec_id", "embedding")
    val out = Similarity.hybridRrf(docs, emb, Seq("alpha"), queryVec = 0L,
      kList = 3, kOut = 10).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((Option(r.get(r.fieldIndex("lex_rank"))).map(_.asInstanceOf[Int]),
          Option(r.get(r.fieldIndex("dense_rank"))).map(_.asInstanceOf[Int]),
          r.getAs[Double]("rrf")))).toMap
    graft.Caches.releaseAll()
    // lex ranks: doc2=1 (higher tf), then doc5 beats doc1 at equal tf via
    // BM25 length normalisation (dl 2 vs 4); dense ranks (kList=3 cuts
    // vec 3): vec1=1, vec4=2, vec2=3
    assert(out(2L) === ((Some(1), Some(3), 1.0 / 61 + 1.0 / 63)))
    assert(out(1L) === ((Some(3), Some(1), 1.0 / 63 + 1.0 / 61)))
    assert(out(5L) === ((Some(2), None, 1.0 / 62 + 0.0)))
    assert(out(4L) === ((None, Some(2), 0.0 + 1.0 / 62)))
    assert(out.size === 4) // vec 3 is cut from the dense list by kList=3
  }

  test("hybridRrf on the test tables: fused set equals the rank-fused bruteforce+bm25 recompute") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val out = Similarity.hybridRrf(docs, emb).collect()
    graft.Caches.releaseAll()
    assert(out.length === 20)
    // every fused score must be exactly the two-term reciprocal sum of
    // the reported ranks, and the list must be rrf-descending
    val scores = out.map { r =>
      val lex = Option(r.get(r.fieldIndex("lex_rank"))).map(_.asInstanceOf[Int])
      val den = Option(r.get(r.fieldIndex("dense_rank"))).map(_.asInstanceOf[Int])
      val expect = lex.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        den.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") === expect, s"row $r")
      r.getAs[Double]("rrf")
    }
    assert(scores.toSeq === scores.sortBy(-_).toSeq, "not rrf-descending")
  }

  test("reciprocalNn equals the best-buddy recompute over the LSH candidate pairs") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    // the q25 candidate relation with the threshold opened up: every
    // within-bucket pair with its exact cosine
    val pairs = Similarity.nearDupLsh(emb, nPlanes = 8, threshold = -2.0, dims = 64)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cosine")))
    graft.Caches.releaseAll()
    val directed = pairs.flatMap { case (a, b, c) => Seq(a -> ((c, b)), b -> ((c, a))) }
    val best = directed.groupBy(_._1).map { case (src, es) =>
      // max cosine, ties to the smaller neighbour id
      src -> es.map(_._2).minBy { case (c, n) => (-c, n) }
    }
    val expected = best.flatMap { case (src, (c, nbr)) =>
      best.get(nbr) match {
        case Some((_, back)) if back == src && src < nbr => Some((src, nbr, c))
        case _ => None
      }
    }.toSet
    val got = Similarity.reciprocalNn(emb, nPlanes = 8, dims = 64).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Double]("cosine"))).toSet
    graft.Caches.releaseAll()
    assert(got === expected, "mutual-best pairs diverged from the recompute")
    assert(got.nonEmpty, "sf0.001 must produce at least one best-buddy pair")
  }

  test("marginPairs equals the CSLS-margin recompute; local normalisation reorders raw cosine") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    // the LSH candidate relation with the threshold opened up
    val pairs = Similarity.nearDupLsh(emb, nPlanes = 8, threshold = -2.0, dims = 64)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        math.floor(r.getAs[Double]("cosine") * 1e6).toLong))
    graft.Caches.releaseAll()
    val directed = pairs.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val mtk = directed.groupBy(_._1).map { case (src, es) =>
      val top = es.sortBy(e => (-e._3, e._2)).take(3)
      src -> ((top.map(_._3).sum, top.size.toLong))
    }
    def marginOf(a: Long, b: Long, c: Long): Option[Long] = {
      val (sa, na) = mtk(a); val (sb, nb) = mtk(b)
      val den = BigInt(sa) * nb + BigInt(sb) * na
      if (c > 0 && den > 0) Some((BigInt(2000000L) * c * na * nb / den).toLong)
      else None
    }
    val scoredAll = pairs.flatMap { case (a, b, c) =>
      marginOf(a, b, c).map(m => (a, b, c, m)) }
    val exp = scoredAll.filter(_._4 >= 1020000L).toSet
    val got = Similarity.marginPairs(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        r.getAs[Long]("cos_micro"), r.getAs[Long]("margin_micro"))).toSet
    graft.Caches.releaseAll()
    assert(got === exp, "margin pairs diverged from the recompute")
    assert(got.nonEmpty, "sf0.001 must clear the margin bar somewhere")
    // the point of CSLS: the margin order is NOT the raw cosine order —
    // some pair must outrank a higher-cosine pair once hubs are priced
    val inverted = scoredAll.exists(p => scoredAll.exists(q =>
      p._3 > q._3 && p._4 < q._4))
    assert(inverted, "local normalisation must reorder at least one pair")
  }

  test("centroidOutliers: planted far vector flagged; BigInt replay and bucket invariance on the corpus") {
    import spark.implicits._
    // label 0: four clustered vectors + one far insert -> top-1% of 5
    // rows is ceil(0.05)=1 flag, and it must be the plant
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(1.1f, -0.1f), 0), (3L, Seq(1.0f, 0.1f), 0),
      (4L, Seq(-5.0f, 5.0f), 0),
      (10L, Seq(0.0f, 1.0f), 1), (11L, Seq(0.0f, 1.2f), 1),
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(emb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("rank"), r.getAs[Boolean]("flagged")))).toMap
    graft.Caches.releaseAll()
    assert(got(4L) === ((1L, true)), s"the plant must rank first: $got")
    assert(Seq(0L, 1L, 2L, 3L).forall(!got(_)._2), "cluster members unflagged")
    assert(got(10L)._1 <= 2 && got(11L)._1 <= 2 && got.size === 7)

    // corpus: plain-Scala BigInt replay of d2num + grouped rank; the
    // bucket count must not change a single row
    val corpus = graft.sources.Tables.embeddings(spark, sf0001)
    val rows = corpus.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Int]("label"),
      r.getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => math.floor(x.toDouble * 1e8 + 0.5).toLong)))
    val byLabel = rows.groupBy(_._2)
    val exp = byLabel.flatMap { case (lab, vs) =>
      val n = vs.length.toLong
      val dims = vs.head._3.length
      val sums = (0 until dims).map(i => vs.map(_._3(i)).sum)
      val ds = vs.map { case (id, _, qv) =>
        val d2 = (0 until dims).map { i =>
          val t = BigInt(qv(i)) * n - sums(i); t * t }.sum
        (id, d2)
      }
      val ranked = ds.sortBy { case (id, d2) => (-d2, id) }.zipWithIndex
      ranked.toSeq.map { case ((id, d2), i) =>
        id -> ((lab, (d2.toDouble / (n.toDouble * n * 1e16)),
          i.toLong + 1, i.toLong + 1 <= (n + 99) / 100)) }
    }.toMap
    for (buckets <- Seq(3, 32)) {
      val gotC = Similarity.centroidOutliers(corpus, buckets = buckets).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("label"), r.getAs[Double]("d2"),
            r.getAs[Long]("rank"), r.getAs[Boolean]("flagged")))).toMap
      graft.Caches.releaseAll()
      exp.foreach { case (id, (lab, d2, rk, fl)) =>
        val g = gotC(id)
        assert(g._1 === lab && g._3 === rk && g._4 === fl,
          s"vec $id diverged at buckets=$buckets: got $g exp ($lab,$d2,$rk,$fl)")
        assert(math.abs(g._2 - d2) < 1e-9, s"vec $id d2 drift: ${g._2} vs $d2")
      }
      assert(gotC.size === exp.size)
    }
  }

  test("hardNegatives equals the band-filtered top-k recompute; duplicates never leak into the negatives") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001)
    val pairs = Similarity.nearDupLsh(emb, nPlanes = 8, threshold = -2.0, dims = 64)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"),
        math.floor(r.getAs[Double]("cosine") * 1e6).toLong))
    graft.Caches.releaseAll()
    val band = pairs.filter(p => p._3 >= 300000L && p._3 < 900000L)
    val directed = band.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
    val exp = directed.groupBy(_._1).toSeq.flatMap { case (anchor, es) =>
      es.toSeq.sortBy(e => (-e._3, e._2)).take(3).zipWithIndex
        .map { case ((_, neg, c), i) => (anchor, neg, c, i.toLong + 1) }
    }.toSet
    val got = Similarity.hardNegatives(emb).collect()
      .map(r => (r.getAs[Long]("anchor"), r.getAs[Long]("negative"),
        r.getAs[Long]("cos_micro"), r.getAs[Long]("rank"))).toSet
    graft.Caches.releaseAll()
    assert(got === exp, "hard negatives diverged from the recompute")
    assert(got.nonEmpty, "sf0.001 must mine at least one hard negative")
    // the poisoned-label guard: nothing at or above the near-dup cutoff
    assert(got.forall(_._3 < 900000L), s"a duplicate leaked into the negatives")
    assert(got.forall(_._3 >= 300000L), s"a trivial negative leaked in")
    // per-anchor cap holds
    got.groupBy(_._1).foreach { case (a, es) =>
      assert(es.size <= 3, s"anchor $a mined ${es.size} > k negatives") }
  }

  test("diverseSelect: admitted set is the exact (round, cell) prefix; bucket-count invariant") {
    import org.apache.spark.sql.functions._
    val embDf = graft.sources.Tables.embeddings(spark, sf001)
    // plain replay: cells from the operator's own deterministic hash,
    // round-robin ranks in local Scala, take the (round, cell) prefix
    val cells = embDf
      .select(col("vec_id"), col("label"),
        graft.functions.Vectors.lshBucketF(col("embedding"), 6, 64).as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val ranked = cells.groupBy(_._3).toSeq.flatMap { case (c, vs) =>
      vs.sortBy(_._1).zipWithIndex.map { case ((id, l, _), i) => (l, c, i + 1) }
    }
    val admitted = ranked.sortBy { case (_, c, r) => (r, c) }.take(300)
    val exp = admitted.groupBy(_._1).map { case (l, vs) =>
      l -> ((vs.size.toLong, vs.map(_._2).distinct.size.toLong, vs.map(_._3).max))
    }
    // with K >= #occupied cells, round one covers EVERY occupied cell —
    // the diversity guarantee the operator exists for
    val occupied = cells.map(_._3).distinct.length
    assert(occupied <= 300 &&
      admitted.count(_._3 == 1) === occupied,
      s"round one must touch all $occupied occupied cells")
    for (b <- Seq(1, 7, 32)) {
      val got = Similarity.diverseSelect(embDf, k = 300L, buckets = b).collect()
        .map(r => r.getAs[Int]("label") ->
          ((r.getAs[Long]("n_selected"), r.getAs[Long]("n_cells"),
            r.getAs[Int]("max_round")))).toMap
      graft.Caches.releaseAll()
      assert(got === exp, s"diverseSelect diverged from the replay at buckets=$b")
    }
  }

  test("deltaAssign: only the delta tier is assigned, each to its argmax standing centroid (replayed)") {
    import org.apache.spark.sql.functions.col
    // two loose families plus a per-(id, dim) ripple so vectors are
    // distinct and the trained centroids are not degenerate
    val vecs = (0L until 60L).map { i =>
      val base =
        if (i % 2 == 0) Seq.fill(dims)(0.8f)
        else Seq.tabulate(dims)(j => if (j % 2 == 0) 0.7f else -0.7f)
      (i, base.zipWithIndex.map { case (x, j) => x + ((i * 7 + j) % 5) * 0.01f })
    }
    val df = emb(vecs: _*)
    val out = Similarity.deltaAssign(df, nCells = 4, iters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: the same md5 split, the public trainer on the
    // corpus tier, then a plain-Scala argmax per delta vector
    val buckets = df
      .select(col("vec_id"), graft.operators.Corpus.hashBucket(col("vec_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deltaIds = buckets.collect { case (id, b) if b >= 95 => id }.toSet
    assert(deltaIds.nonEmpty && deltaIds.size < 60,
      s"test corpus must split into both tiers, delta=$deltaIds")
    assert(out.keySet === deltaIds, "exactly the delta tier is assigned")
    val corpusDf = df.filter(graft.operators.Corpus.hashBucket(col("vec_id")) < 95)
    val cents = Similarity.kmeansCentroids(corpusDf, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(cents.length > 1, "the corpus tier must train multiple centroids")
    val byId = vecs.toMap
    deltaIds.foreach { id =>
      val want = cents
        .map { case (cid, ce) => (cid, refCosine(byId(id), ce)) }
        .maxBy { case (cid, c) => (c, -cid) }._1
      assert(out(id) === want, s"delta vec $id assigned ${out(id)}, argmax is $want")
    }
    graft.Caches.releaseAll()
  }

  test("codebookDrift: per-cell cosine replayed from the two public trainers, presence flags exact") {
    import org.apache.spark.sql.functions.col
    val vecs = (0L until 60L).map { i =>
      val base =
        if (i % 2 == 0) Seq.fill(dims)(0.8f)
        else Seq.tabulate(dims)(j => if (j % 2 == 0) 0.7f else -0.7f)
      (i, base.zipWithIndex.map { case (x, j) => x + ((i * 7 + j) % 5) * 0.01f })
    }
    val df = emb(vecs: _*)
    val out = Similarity.codebookDrift(df, nCells = 4, iters = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))))
      .toMap
    val full = Similarity.kmeansCentroids(df, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val corpusDf = df.filter(graft.operators.Corpus.hashBucket(col("vec_id")) < 95)
    val standing = Similarity.kmeansCentroids(corpusDf, 4, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(out.keySet === (full.keySet ++ standing.keySet),
      "every cell of either codebook must be reported")
    out.foreach { case (cid, (inF, inS, cos)) =>
      assert(inF === full.contains(cid))
      assert(inS === standing.contains(cid))
      (full.get(cid), standing.get(cid)) match {
        case (Some(f), Some(s2)) =>
          assert(cos.contains(refCosine(f, s2)),
            s"cell $cid drift cosine must equal the fixed-point replay")
        case _ => assert(cos.isEmpty, s"cell $cid present on one side only must report NULL cosine")
      }
    }
    graft.Caches.releaseAll()
  }

  test("retrievalEval: hand MRR/recall on the micro grid; a singleton label reports zeros") {
    import spark.implicits._
    val v0 = Seq.fill(dims)(0.5f)
    val rows = Seq(
      (0L, v0, 1),                                    // query 0
      (1L, v0.updated(0, 0.51f), 9),                  // rank 1 for q0, label unique
      (2L, Seq.tabulate(dims)(i => if (i % 2 == 0) 0.9f else -0.9f), 2),
      (3L, v0.updated(1, 0.52f), 1),                  // rank 2 for q0, RELEVANT
      (4L, v0.map(_ * -1f), 2))                       // opposite
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.retrievalEval(df, k = 2, nQueries = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // query 0 (label 1): top-2 = v1 (not rel), v3 (rel) -> one hit at
    // rank 2; n_rel_total = 1 (only v3 shares the label), so recall@2
    // has denominator min(1, 2) = 1
    assert(out(0L) === ((1L, 2L, 500000L, 1L, 1000000L)))
    // query 1 (label 9, singleton): no relevant neighbour exists —
    // zeros, never NULL poison or a divide-by-zero
    assert(out(1L) === ((0L, 0L, 0L, 0L, 0L)))
  }
}
