package graft

import graft.operators.Quality

/** Planted-defect coverage for the data-quality audits: the testdata is
  * referentially clean (the q95 oracle proves zeros), so broken relations
  * are synthesized here to prove orphans are actually counted.
  */
class QualitySpec extends SparkSpec {

  test("fkAudit counts orphaned and null foreign keys") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(2L), Some(3L), Some(3L), Some(9L), None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Quality.fkAudit("child.fk->parent", child, "fk", parent, "pk")
      .collect().head
    assert(r.getAs[String]("relation") === "child.fk->parent")
    assert(r.getAs[Long]("n_child") === 6L)
    // 9L has no parent; the null fk counts under the strict reading
    assert(r.getAs[Long]("n_orphan") === 2L)
  }

  test("fkAudit does not multiply child rows through duplicate parent keys") {
    import spark.implicits._
    val child = Seq(1L, 2L).toDF("fk")
    val parent = Seq(1L, 1L, 1L, 2L).toDF("pk") // dup keys must collapse
    val r = Quality.fkAudit("c->p", child, "fk", parent, "pk").collect().head
    assert(r.getAs[Long]("n_child") === 2L)
    assert(r.getAs[Long]("n_orphan") === 0L)
  }

  test("fkIntegrity over the star schema reports all five edges clean") {
    val m = Quality.fkIntegrity(spark, sf0001).collect()
      .map(r => r.getAs[String]("relation") -> r.getAs[Long]("n_orphan")).toMap
    assert(m.size === 5)
    assert(m.values.forall(_ === 0L), s"unexpected orphans: $m")
  }

  test("auditedWrite collects metrics in the same pass as the write — one scan, CollectMetrics in plan") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val out = java.nio.file.Files.createTempDirectory("graft-audit-spec").toString + "/t"
    val metrics = Quality.auditedWrite(docs, out)
    // the written table is complete AND the observed metrics match a
    // direct recompute — same numbers, zero extra passes
    val written = spark.read.parquet(out)
    assert(metrics("n_rows") === written.count())
    import org.apache.spark.sql.functions._
    val expect = docs.agg(
      sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L)),
      sum(when(col("n_chars") < 10, 1L).otherwise(0L))).collect().head
    assert(metrics("n_empty_text") === expect.getLong(0))
    assert(metrics("n_short") === expect.getLong(1))
    // plan evidence: the audit rides a CollectMetrics node over ONE scan
    val observed = docs.observe("audit_plan_probe", count(lit(1)).as("n"))
    assert(Plans.nodes(observed).exists(_.isInstanceOf[org.apache.spark.sql.execution.CollectMetricsExec]),
      s"expected CollectMetrics node:\n${observed.queryExecution.executedPlan}")
  }

  test("columnProfile: a numeric column's min/max stringify numerically, not lexicographically") {
    val byCol = Quality.columnProfile(spark, sf0001).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    val n = byCol("n_chars")
    // lexicographic min/max of the stringified values would differ
    assert(n.getAs[String]("min_val").toLong <= n.getAs[String]("max_val").toLong)
    assert(n.getAs[Long]("n_rows") === n.getAs[Long]("n_nonnull"))
    assert(byCol("doc_id").getAs[Long]("n_distinct") === byCol("doc_id").getAs[Long]("n_rows"))
  }

  test("winsorizedLength: outliers clamp to the p05/p95 ladder values") {
    import spark.implicits._
    // 100 docs, lengths 1..100: lo_rank = ceil(5) = 5 -> 5,
    // hi_rank = ceil(95) = 95 -> 95. Mean of 5,5,5,5,5..95,95,95,95,95,95:
    // sum = 5*5 + (6..94 sum) + 6*95 = 25 + 4450 + 570 = 5045 -> 50.45
    val d = (1L to 100L).map(i => (i, "s", i)).toDF("doc_id", "source", "n_chars")
    val r = Quality.winsorizedLength(d).collect().head
    assert(r.getAs[Long]("n") === 100L)
    assert(r.getAs[Long]("lo_val") === 5L && r.getAs[Long]("hi_val") === 95L)
    assert(r.getAs[Double]("wins_mean") === 50.45)
  }

  test("lengthMad: nearest-rank median of absolute deviations") {
    import spark.implicits._
    // lengths 10,10,20,100,1000 -> median (rank 3 of 5) = 20;
    // devs 10,10,0,80,980 -> sorted 0,10,10,80,980 -> mad = 10
    val d = Seq((1L, 10L), (2L, 10L), (3L, 20L), (4L, 100L), (5L, 1000L))
      .map { case (i, c) => (i, "en", c) }.toDF("doc_id", "lang", "n_chars")
    val r = Quality.lengthMad(d).collect().head
    assert(r.getAs[Long]("n") === 5L)
    assert(r.getAs[Long]("median_chars") === 20L)
    assert(r.getAs[Long]("mad_chars") === 10L)
  }

  test("orderReconciliation: drift in cents, lineless orders against zero") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // order 1: total 30.00 vs lines 10+20 -> clean; order 2: total
    // 50.00 vs line 49.99 -> drift 1 cent; order 3: no lines -> drift
    // = full 5.00.
    val o = Seq((1L, 30.00), (2L, 50.00), (3L, 5.00))
      .map { case (k, p) => (k, 1L, "O", p, t0, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((1L, 1, 10.00), (1L, 2, 20.00), (2L, 1, 49.99))
      .map { case (k, n, x) => (k, 1L, 1L, n, 1.0, x, 0.0, 0.0, "N", "O", t0) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = Quality.orderReconciliation(o, li).collect().head
    assert(r.getAs[Long]("n_orders") === 3L)
    assert(r.getAs[Long]("n_mismatched") === 2L)
    assert(r.getAs[Long]("max_drift_c") === 500L)
    assert(r.getAs[Long]("total_drift_c") === 501L)
  }

  test("fiveNumber + iqrOutliers: quartile ranks and integer fences on a planted segment") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // one segment, values 1..100 dollars + one 10000 outlier.
    // n=101: p25 rank ceil(25.25)=26 -> 26.00; p50 rank 51 -> 51.00;
    // p75 rank 76 -> 76.00. IQR = 5000c; fences: lo 2600-7500 < 0 (none),
    // hi 7600+7500 = 15100c -> 152.00+ -> only the 10000 flags.
    val o = ((1 to 100).map(i => (i.toLong, i.toLong, i.toDouble)) :+ ((101L, 101L, 10000.0)))
      .map { case (k, c, p) => (k, c, "O", p, t0, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val cust = (1L to 101L).map(i => (i, s"c$i", 1L, 0.0, "SEG"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val fn = Quality.fiveNumber(o, cust).collect().head
    assert(fn.getAs[Long]("n") === 101L)
    assert(fn.getAs[Long]("min_c") === 100L && fn.getAs[Long]("max_c") === 1000000L)
    assert(fn.getAs[Long]("p25_c") === 2600L)
    assert(fn.getAs[Long]("p50_c") === 5100L)
    assert(fn.getAs[Long]("p75_c") === 7600L)
    val out = Quality.iqrOutliers(o, cust).collect().head
    assert(out.getAs[Long]("n_low") === 0L && out.getAs[Long]("n_high") === 1L)
  }

  test("contingency: marginals reconcile, residual chain matches a hand cell") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // 2 segments x 2 priorities, counts: (A,1)=3 (A,2)=1 (B,1)=1 (B,2)=3
    val rows = Seq(("A", "1"), ("A", "1"), ("A", "1"), ("A", "2"),
      ("B", "1"), ("B", "2"), ("B", "2"), ("B", "2"))
    val o = rows.zipWithIndex.map { case ((_, pr), i) =>
      (i.toLong, i.toLong, "O", 1.0, t0, pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val cust = rows.zipWithIndex.map { case ((seg, _), i) =>
      (i.toLong, s"c$i", 1L, 0.0, seg) }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val m = Quality.contingency(o, cust).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // cell (A,1): o=3, r=4, c=4, n=8 -> expected 2.0
    assert(m(("A", "1")) === ((3L, 4L, 4L, 2.0)))
    assert(m(("B", "2")) === ((3L, 4L, 4L, 2.0)))
    assert(m(("A", "2")) === ((1L, 4L, 4L, 2.0)))
  }

  test("benfordAudit: digits extracted from cents, expected shares sum to ~n") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // 19.99 -> 1999 cents -> digit 1; 0.42 -> 42 -> digit 4; 93.10 -> 9310 -> 9
    val o = Seq((1L, 19.99), (2L, 0.42), (3L, 93.10))
      .map { case (k, p) => (k, 1L, "O", p, t0, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Quality.benfordAudit(o).collect()
      .map(r => r.getAs[Int]("digit") -> (r.getAs[Long]("n"), r.getAs[Double]("expected"))).toMap
    assert(out.keySet === Set(1, 4, 9))
    assert(out(1)._1 === 1L)
    assert(math.abs(out(1)._2 - 3 * 0.30102999566398120) < 1e-15)
    assert(math.abs(out(9)._2 - 3 * 0.04575749056067514) < 1e-15)
  }

  test("skewProfile: hand-computed hot keys, shares, and skew factor with id tie-break") {
    import spark.implicits._
    // user 1: 6 rows, user 2: 2 rows, users 3/4: 1 row each -> 10 rows, 4 keys
    val events = (Seq.fill(6)(1L) ++ Seq.fill(2)(2L) ++ Seq(3L, 4L))
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("event_id", "user_id")
    val got = Quality.skewProfile(events, k = 3).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_rows_key"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_keys"),
        r.getAs[Double]("row_share"), r.getAs[Double]("skew_factor")))
      .sortBy(-_._2)
    // k=3 cut; the 1-row tie between users 3 and 4 breaks to the smaller id
    assert(got.toSeq === Seq(
      (1L, 6L, 10L, 4L, 0.6, 0.6 * 4),
      (2L, 2L, 10L, 4L, 0.2, 0.2 * 4),
      (3L, 1L, 10L, 4L, 0.1, 0.1 * 4)))
    graft.Caches.releaseAll()
  }

  test("joinCardinality: estimate equals the true inner-join row count; hot keys ranked") {
    import spark.implicits._
    // left: a×3, b×2, c×1; right: a×2, b×1, d×5 → matches: a=6, b=2
    val left = Seq("a", "a", "a", "b", "b", "c").toDF("lk")
    val right = Seq("a", "a", "b", "d", "d", "d", "d", "d").toDF("rk")
    val got = Quality.joinCardinality(left, "lk", right, "rk", k = 1).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt_left"),
        r.getAs[Long]("cnt_right"), r.getAs[Long]("contribution"),
        r.getAs[Long]("est_rows"), r.getAs[Long]("n_join_keys"),
        r.getAs[Double]("share")))
    assert(got.toSeq === Seq(("a", 3L, 2L, 6L, 8L, 2L, 0.75)))
    // the estimate is exact: it must equal the executed join's row count
    val actual = left.join(right, left("lk") === right("rk")).count()
    assert(actual === 8L)
    graft.Caches.releaseAll()
  }

  test("keyOverlapSketch: exact below k (planted overlap), duplication-proof, estimate path sane") {
    import spark.implicits._
    // A = 1..10, B = 6..15 → overlap 5, union 15; duplicates must not
    // move any sketch (KMV set semantics)
    val a = ((1L to 10L) ++ (1L to 10L)).toDF("ka")
    val b = (6L to 15L).toDF("kb")
    val got = Quality.keyOverlapSketch(a, "ka", b, "kb").collect().head
    assert(got.getAs[Long]("ndv_a") === 10L)
    assert(got.getAs[Long]("ndv_b") === 10L)
    assert(got.getAs[Long]("ndv_union") === 15L)
    assert(got.getAs[Long]("ndv_overlap") === 5L)
    assert(got.getAs[Double]("containment_a") === 0.5)
    assert(got.getAs[Double]("jaccard") === 5.0 / 15.0)
    // estimate path (n >> k): identical populations must read ~equal
    // ndv on both sides and a union equal to each (same hash stream),
    // so overlap = ndv and jaccard = 1 exactly — even though each ndv
    // is itself an estimate
    val big = (1L to 5000L).toDF("k1")
    val est = Quality.keyOverlapSketch(big, "k1", big.withColumnRenamed("k1", "k2"), "k2")
      .collect().head
    assert(est.getAs[Long]("ndv_a") === est.getAs[Long]("ndv_union"))
    assert(est.getAs[Double]("jaccard") === 1.0)
    // and the shared estimate is within the ~1/sqrt(64) error class
    val ndv = est.getAs[Long]("ndv_a").toDouble
    assert(math.abs(ndv - 5000.0) / 5000.0 < 0.4, s"ndv estimate off: $ndv")
  }

  test("sourceOlsFit: an exactly-linear source recovers its coefficients and r2 = 1 bit-exactly") {
    import spark.implicits._
    // y (tokens) = 3 + 0*n_chars + 2*ndw for every document, with n_chars
    // varied independently so the Gram matrix is non-singular: Cramer on
    // exact integer moments must return 3/0/2 and r2 = 1.0 EXACTLY
    val docs = Seq(
      (0L, "a b a a b a a", "en", "lin", 10L),             // y=7,  ndw=2
      (1L, "a b c a a b a a c", "en", "lin", 20L),         // y=9,  ndw=3
      (2L, "a b c d a a a a b c d", "en", "lin", 30L),     // y=11, ndw=4
      (3L, "x y x x y x x", "en", "lin", 40L),             // y=7,  ndw=2
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val row = Quality.sourceOlsFit(docs).collect().head
    assert(row.getAs[String]("source") === "lin")
    assert(row.getAs[Long]("n") === 4L)
    assert(row.getAs[Double]("beta0") === 3.0)
    assert(row.getAs[Double]("beta1") === 0.0)
    assert(row.getAs[Double]("beta2") === 2.0)
    assert(row.getAs[Double]("r2") === 1.0)
  }

  test("sourceOlsFit: per-source grouping equals the plain-JVM Cramer recompute on a random corpus") {
    import spark.implicits._
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rnd = new scala.util.Random(777)
    val rows = (0L until 80L).map { id =>
      val toks = Seq.fill(2 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size)))
      (id, toks.mkString(" "), "en", if (id % 2 == 0) "even" else "odd",
        (20 + rnd.nextInt(400)).toLong)
    }
    // plain-JVM moments + the SAME fixed-parenthesis Cramer expressions
    def fit(sub: Seq[(Long, String, String, String, Long)]) = {
      val f = sub.map { case (_, text, _, _, nc) =>
        val toks = text.split(" ").toSeq
        (nc, toks.distinct.size.toLong, toks.size.toLong)
      }
      val dn = f.size.toDouble
      val dx1 = f.map(_._1).sum.toDouble; val dx2 = f.map(_._2).sum.toDouble
      val dy = f.map(_._3).sum.toDouble
      val dx11 = f.map(t => t._1 * t._1).sum.toDouble
      val dx12 = f.map(t => t._1 * t._2).sum.toDouble
      val dx22 = f.map(t => t._2 * t._2).sum.toDouble
      val dx1y = f.map(t => t._1 * t._3).sum.toDouble
      val dx2y = f.map(t => t._2 * t._3).sum.toDouble
      val dyy = f.map(t => t._3 * t._3).sum.toDouble
      val det = (dn * (dx11 * dx22 - dx12 * dx12)
        - dx1 * (dx1 * dx22 - dx12 * dx2)) + dx2 * (dx1 * dx12 - dx11 * dx2)
      val det0 = (dy * (dx11 * dx22 - dx12 * dx12)
        - dx1 * (dx1y * dx22 - dx12 * dx2y)) + dx2 * (dx1y * dx12 - dx11 * dx2y)
      val det1 = (dn * (dx1y * dx22 - dx12 * dx2y)
        - dy * (dx1 * dx22 - dx12 * dx2)) + dx2 * (dx1 * dx2y - dx1y * dx2)
      val det2 = (dn * (dx11 * dx2y - dx1y * dx12)
        - dx1 * (dx1 * dx2y - dx1y * dx2)) + dy * (dx1 * dx12 - dx11 * dx2)
      val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
      val r2 = 1.0 - (dyy - ((b0 * dy + b1 * dx1y) + b2 * dx2y)) / (dyy - (dy * dy) / dn)
      (f.size.toLong, b0, b1, b2, r2)
    }
    val expected = rows.groupBy(_._4).view.mapValues(g => fit(g.toSeq)).toMap
    for (parts <- Seq(1, 5)) {
      val got = Quality.sourceOlsFit(
        rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(parts))
        .collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n"), r.getAs[Double]("beta0"), r.getAs[Double]("beta1"),
            r.getAs[Double]("beta2"), r.getAs[Double]("r2")))).toMap
      assert(got === expected, s"sourceOlsFit diverged at $parts partitions")
    }
  }

  test("scoreAuc: hand-computed tie-corrected midranks, perfect and one-class edges") {
    import spark.implicits._
    // dup-share micro scores by construction:
    //   "a a a"     -> grams {a a}x2        -> s = 1000000   (pos)
    //   "x y x y"   -> {x y}x2 {y x}x1, n=3 -> s = 666666    (pos)
    //   "p q r"     -> all distinct, n=2    -> s = 0         (neg)
    //   "m n m n"   -> s = 666666                            (neg)
    // ascending ranks: 0 -> 1, 666666 x2 -> midrank 2.5, 1e6 -> 4
    // ranksum_pos = 2.5 + 4 = 6.5; AUC = (6.5 - 3) / (2*2) = 0.875
    val docs = Seq(
      (1L, "a a a", "en", "s", 5L),
      (2L, "x y x y", "en", "s", 7L),
      (3L, "p q r", "de", "s", 5L),
      (4L, "m n m n", "de", "s", 7L),
      // perfect separation: the lone positive outranks both negatives
      (5L, "u u u", "en", "t", 5L),
      (6L, "c d e", "fr", "t", 5L),
      (7L, "f g h", "fr", "t", 5L),
      // one-class source: no positives -> undefined AUC (null)
      (8L, "i j k", "zh", "u", 5L),
      (9L, "l o l o", "zh", "u", 7L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    for (parts <- Seq(1, 3)) {
      val got = Quality.scoreAuc(docs.repartition(parts)).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("npos"), r.getAs[Long]("nneg"),
            Option(r.getAs[java.lang.Double]("auc"))))).toMap
      graft.Caches.releaseAll()
      assert(got("s") === ((2L, 2L, Some(0.875))),
        s"tie-corrected AUC wrong at $parts parts: $got")
      assert(got("t") === ((1L, 2L, Some(1.0))))
      assert(got("u") === ((0L, 2L, None)), "no-positive source must be null")
    }
  }

  test("calibrationBins: fixed micro-grid bins with exact means and rates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a", "en", "s", 5L),     // s = 1000000 -> bin 10
      (2L, "x y x y", "en", "s", 7L),   // s = 666666  -> bin 6
      (3L, "p q r", "de", "s", 5L),     // s = 0       -> bin 0
      (4L, "m n m n", "de", "s", 7L),   // s = 666666  -> bin 6
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Quality.calibrationBins(docs).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_score"),
          r.getAs[Double]("pos_rate")))).toMap
    assert(got.keySet === Set(0L, 6L, 10L))
    assert(got(0L) === ((1L, 0.0, 0.0)))
    assert(got(6L) === ((2L, 666666.0 * 2 / 1e6 / 2, 0.5)))
    assert(got(10L) === ((1L, 1.0, 1.0)))
  }

  test("youdenThreshold: hand-computed operating points, smallest-threshold tie-break, one-class nulls") {
    import spark.implicits._
    // source s: pos scores {1e6, 666666}, neg {0, 666666}
    //   t=666666: TPR 1.0, FPR 0.5, J 0.5 (jnum 2)
    //   t=1e6:    TPR 0.5, FPR 0.0, J 0.5 (jnum 2) -> tie, smaller t wins
    // source t: pos {1e6}, neg {0, 0} -> t=1e6 perfect: TPR 1, FPR 0, J 1
    // source u: no positives -> tpr/j NULL, argmax jnum=0 ties to t=0
    val docs = Seq(
      (1L, "a a a", "en", "s", 5L), (2L, "x y x y", "en", "s", 7L),
      (3L, "p q r", "de", "s", 5L), (4L, "m n m n", "de", "s", 7L),
      (5L, "u u u", "en", "t", 5L), (6L, "c d e", "fr", "t", 5L),
      (7L, "f g h", "fr", "t", 5L),
      (8L, "i j k", "zh", "u", 5L), (9L, "l o l o", "zh", "u", 7L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    for (parts <- Seq(1, 3)) {
      val got = Quality.youdenThreshold(docs.repartition(parts)).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("threshold_micro"),
            Option(r.getAs[java.lang.Double]("tpr")),
            Option(r.getAs[java.lang.Double]("fpr")),
            Option(r.getAs[java.lang.Double]("j"))))).toMap
      graft.Caches.releaseAll()
      assert(got("s") === ((666666L, Some(1.0), Some(0.5), Some(0.5))),
        s"tie-break must pick the smaller threshold at $parts parts: $got")
      assert(got("t") === ((1000000L, Some(1.0), Some(0.0), Some(1.0))))
      assert(got("u") === ((0L, None, Some(1.0), None)))
    }
  }

  test("decileLift: hand-computed deciles, atomic tie groups, exact lifts and cumulative capture") {
    import spark.implicits._
    // scores (desc): 1e6 (pos), 666666 (pos+neg tie group), 0 (neg)
    // N=4, NP=2, deciles by (10*above) div 4: 0, 2, 7
    val docs = Seq(
      (1L, "a a a", "en", "s", 5L), (2L, "x y x y", "en", "s", 7L),
      (3L, "m n m n", "de", "s", 7L), (4L, "p q r", "de", "s", 5L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    for (parts <- Seq(1, 3)) {
      val got = Quality.decileLift(docs.repartition(parts)).collect()
        .map(r => r.getAs[Long]("decile") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("npos"),
            r.getAs[Double]("response_rate"), r.getAs[Double]("lift"),
            r.getAs[Double]("cum_capture"), r.getAs[Double]("cum_lift"))))
        .toMap
      graft.Caches.releaseAll()
      assert(got === Map(
        0L -> ((1L, 1L, 1.0, 2.0, 0.5, 2.0)),
        2L -> ((2L, 1L, 0.5, 1.0, 1.0, 8.0 / 6.0)),
        7L -> ((1L, 0L, 0.0, 0.0, 1.0, 1.0))),
        s"decile table diverged at $parts partitions: $got")
    }
  }

  test("kappaAgreement equals the plain-JVM kappa recompute over the q245 confusion matrix") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val cm = graft.operators.Corpus.nbConfusion(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("predicted"),
        r.getAs[Long]("n")))
    graft.Caches.releaseAll()
    val row = Quality.kappaAgreement(docs).collect() match {
      case Array(r) => r
      case other => fail(s"expected one row, got ${other.length}")
    }
    graft.Caches.releaseAll()
    // recompute with BigInt floor division (the operator's div semantics)
    val nTotal = cm.map(_._3).sum
    val nAgree = cm.collect { case (a, p, n) if a == p => n }.sum
    val actual = cm.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val pred = cm.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val chance = actual.map { case (k, na) =>
      BigInt(na) * BigInt(pred.getOrElse(k, 0L)) }.sum
    val po = 1000000L * nAgree / nTotal
    val pe = (BigInt(1000000) * chance / (BigInt(nTotal) * BigInt(nTotal))).toLong
    val kappa = 1000000L * (po - pe) / (1000000L - pe)
    assert(row.getAs[Long]("n_total") === nTotal)
    assert(row.getAs[Long]("n_agree") === nAgree)
    assert(row.getAs[Long]("po_micro") === po)
    assert(row.getAs[Long]("pe_micro") === pe)
    assert(row.getAs[Long]("kappa_micro") === kappa)
    // the NB classifier genuinely beats chance on the test corpus —
    // kappa must be positive and below perfect
    assert(kappa > 0L && kappa < 1000000L, s"kappa degenerate: $kappa")
  }

  test("scoreAuc on the test tables: every AUC in [0,1], counts cover the bigram-bearing corpus") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val rows = Quality.scoreAuc(docs).collect()
    graft.Caches.releaseAll()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val auc = Option(r.getAs[java.lang.Double]("auc"))
      auc.foreach(a => assert(a >= 0.0 && a <= 1.0, s"AUC out of range: $r"))
      assert(r.getAs[Long]("npos") + r.getAs[Long]("nneg") > 0)
    }
  }

  test("neymanAllocation: zero-variance stratum draws zero; seats reconcile; corpus parity with a BigInt isqrt replay") {
    import spark.implicits._
    // "flat": every doc scores s=0 (all-distinct bigrams) -> variance 0;
    // "vary": scores {1e6, 0, 0} -> all 1000 seats must go to vary
    val d = Seq(
      (0L, "a b c d", "flat"), (1L, "e f g h", "flat"), (2L, "i j k l", "flat"),
      (10L, "x x x x", "vary"), (11L, "p q r s", "vary"), (12L, "m n o u", "vary"),
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val got = Quality.neymanAllocation(d).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("ns_sd"),
          r.getAs[Long]("alloc_docs")))).toMap
    graft.Caches.releaseAll()
    assert(got("flat")._2 === 0L && got("flat")._3 === 0L,
      s"zero-variance stratum must get zero seats: $got")
    assert(got("vary")._3 === 1000L)
    assert(got.values.map(_._3).sum === 1000L, "seats must reconcile")
    // vary: scores {1e6,0,0}: m = 3*1e12 - (1e6)^2 = 2e12; isqrt = 1414213
    assert(got("vary")._2 === 1414213L)

    // corpus parity: plain-Scala score derivation + BigInt isqrt +
    // largest-remainder replay must match the operator exactly
    def isqrt(m: BigInt): BigInt = {
      if (m == 0) BigInt(0)
      else { var r = BigInt(math.sqrt(m.toDouble).toLong)
        while ((r + 1) * (r + 1) <= m) r += 1
        while (r * r > m) r -= 1
        r }
    }
    val corpus = graft.sources.Tables.documents(spark, sf0001)
    val scores = corpus.collect().toSeq
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").split(" ", -1)))
      .filter(_._2.length >= 2)
      .map { case (src, w) =>
        val grams = w.sliding(2).map(p => p(0) + " " + p(1)).toSeq
        val cnt = grams.groupBy(identity).map(_._2.size.toLong)
        val dup = cnt.filter(_ >= 2).sum
        src -> (1000000L * dup / cnt.sum)
      }
    val weights = scores.groupBy(_._1).map { case (src, xs) =>
      val n = xs.size.toLong
      val s1 = xs.map(x => BigInt(x._2)).sum
      val s2 = xs.map(x => BigInt(x._2) * x._2).sum
      (src, n, isqrt(BigInt(n) * s2 - s1 * s1))
    }.toSeq
    val wTot = weights.map(_._3).sum
    val based = weights.map { case (src, n, w) =>
      (src, n, w, (BigInt(1000) * w / wTot).toLong, (BigInt(1000) * w % wTot)) }
    val residual = 1000L - based.map(_._4).sum
    val exp = based.sortBy { case (src, _, _, _, rem) => (-rem, src) }.zipWithIndex
      .map { case ((src, n, w, base, _), i) =>
        src -> ((n, w.toLong, base + (if (i + 1 <= residual) 1L else 0L))) }.toMap
    val gotC = Quality.neymanAllocation(corpus).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("ns_sd"),
          r.getAs[Long]("alloc_docs")))).toMap
    graft.Caches.releaseAll()
    assert(gotC === exp, "corpus Neyman allocation diverged from the replay")
    assert(gotC.values.map(_._3).sum === 1000L)
  }

  test("signalAgreement: BigInt midrank replay on the corpus; bucket-count invariant; rho on the 1e6 grid") {
    def isqrt(m: BigInt): BigInt = {
      if (m <= 0) BigInt(0)
      else { var r = BigInt(math.sqrt(m.toDouble).toLong)
        while ((r + 1) * (r + 1) <= m) r += 1
        while (r * r > m) r -= 1
        r }
    }
    val corpus = graft.sources.Tables.documents(spark, sf0001)
    val rows = corpus.collect().toSeq
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").split(" ", -1)))
      .filter(_._3.length >= 2)
    val bigrams = rows.flatMap { case (id, src, w) =>
      w.sliding(2).map(p => (id, src, p(0) + " " + p(1), p(0))).toSeq }
    // score A: dup-bigram share on the 1e6 grid
    val sA = bigrams.groupBy(b => (b._1, b._2)).map { case ((id, src), bs) =>
      val cnt = bs.groupBy(_._3).map(_._2.size.toLong)
      (id, src, 1000000L * cnt.filter(_ >= 2).sum / cnt.map(identity).sum)
    }.toSeq
    // score B: q236's inverse fluency as the exact integer mean
    val n12 = bigrams.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val n1 = bigrams.groupBy(_._4).map { case (k, v) => k -> v.size.toLong }
    val v = n1.size.toLong
    val sB = bigrams.groupBy(_._1).map { case (id, bs) =>
      val s = bs.map { b => (1000000L * (n1(b._4) + v)) / (n12(b._3) + 1L) }.sum
      id -> s / bs.size
    }
    val sc = sA.map { case (id, src, a) => (id, src, a, sB(id)) }
    def midranks(sel: ((Long, String, Long, Long)) => Long): Map[Long, Long] = {
      sc.groupBy(_._2).flatMap { case (_, docs) =>
        val ranked = docs.sortBy(d => (sel(d), d._1)).zipWithIndex
          .map { case (d, i) => (d._1, sel(d), i.toLong + 1) }
        val groups = ranked.groupBy(_._2).map { case (vv, g) =>
          vv -> (g.map(_._3).min + g.map(_._3).max) }
        ranked.map { case (id, vv, _) => id -> groups(vv) }
      }
    }
    val a2 = midranks(_._3)
    val b2 = midranks(_._4)
    val exp = sc.groupBy(_._2).map { case (src, docs) =>
      val n = BigInt(docs.size)
      val as = docs.map(d => BigInt(a2(d._1)))
      val bs = docs.map(d => BigInt(b2(d._1)))
      val (sa1, sb1) = (as.sum, bs.sum)
      val sab = docs.map(d => BigInt(a2(d._1)) * b2(d._1)).sum
      val saa = as.map(x => x * x).sum
      val sbb = bs.map(x => x * x).sum
      val covn = n * sab - sa1 * sb1
      val denom = (isqrt(n * saa - sa1 * sa1) * isqrt(n * sbb - sb1 * sb1)) / 1000000L
      val rho = if (denom > 0) Some((covn.abs / denom).toLong * (if (covn >= 0) 1L else -1L))
        else None
      src -> ((docs.size.toLong, rho))
    }
    for (buckets <- Seq(3, 32)) {
      val got = Quality.signalAgreement(corpus, buckets = buckets).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"),
            Option(r.get(r.fieldIndex("rho_micro"))).map(_.asInstanceOf[Long])))).toMap
      graft.Caches.releaseAll()
      assert(got === exp, s"signalAgreement diverged at buckets=$buckets")
      got.values.flatMap(_._2).foreach(rho =>
        assert(math.abs(rho) <= 1001000L, s"rho off the unit grid: $rho"))
    }
  }

  test("kAnonymityAudit: hand-checked classes, risk mass, and l-diversity floor") {
    import spark.implicits._
    // nation 1, width 10: band 0 holds 3 rows (k=3, segments A,B -> l=2);
    // band 1 holds 1 row (k=1, l=1). nation 2: band 0 holds 5 rows all
    // segment A (k=5 — NOT at risk under kFloor=5 — but l=1 leaks).
    val customer = Seq(
      (1, 1.0, "A"), (1, 2.0, "B"), (1, 9.0, "A"),
      (1, 15.0, "C"),
      (2, 0.0, "A"), (2, 1.0, "A"), (2, 2.0, "A"), (2, 3.0, "A"), (2, 4.0, "A"),
    ).toDF("c_nationkey", "c_acctbal", "c_mktsegment")
    val r = Quality.kAnonymityAudit(customer, widths = Seq(10L), kFloor = 5L)
      .collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("band_width") === 10L)
    assert(row.getAs[Long]("n_classes") === 3L)
    assert(row.getAs[Long]("min_k") === 1L)
    assert(row.getAs[Long]("max_k") === 5L)
    assert(row.getAs[Long]("records_at_risk") === 4L) // k=3 class + k=1 class
    assert(row.getAs[Long]("classes_at_risk") === 2L)
    assert(row.getAs[Long]("min_l") === 1L)
    assert(row.getAs[Long]("classes_l1") === 2L) // the k=1 and the k=5/l=1 class
  }

  test("kAnonymityAudit: coarser generalization is monotone in min_k on the ladder") {
    val got = Quality.kAnonymityAudit(spark, sf001).collect()
      .map(r => r.getAs[Long]("band_width") -> r.getAs[Long]("min_k")).toMap
    assert(got.keySet === Set(100L, 1000L, 10000L))
    // widening a band can only merge classes, never split them
    assert(got(100L) <= got(1000L) && got(1000L) <= got(10000L),
      s"generalization ladder not monotone: $got")
    // negative balances must band by floor (toward -inf), not truncate:
    // floor(-4.5) = -5, so a -450.0 balance at width 100 lands in band -5
    import spark.implicits._
    val neg = Seq((7, -450.0, "Z"), (7, -450.0, "Z")).toDF(
      "c_nationkey", "c_acctbal", "c_mktsegment")
    val one = Quality.kAnonymityAudit(neg, widths = Seq(100L)).collect().head
    assert(one.getAs[Long]("n_classes") === 1L)
    assert(one.getAs[Long]("max_k") === 2L)
  }

  test("isotonicCalibration: a hand violation pools to the weighted mean (minimax = PAV)") {
    import spark.implicits._
    // bin 10 (TTR 0.5): two identical docs -> dup rate 1e6; bin 20
    // (TTR 1.0): two unique docs -> rate 0. The violation pools to the
    // weighted mean 500000 on BOTH bins.
    val docs = Seq(
      (1L, "a a b b"), (2L, "a a b b"),
      (3L, "p q r s"), (4L, "t u v w"),
    ).toDF("doc_id", "text")
    val got = Quality.isotonicCalibration(docs).collect()
      .map(r => r.getAs[Long]("bin") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_dups"),
          r.getAs[Long]("rate_micro"), r.getAs[Long]("iso_micro")))).toMap
    graft.Caches.releaseAll()
    assert(got === Map(
      10L -> ((2L, 2L, 1000000L, 500000L)),
      20L -> ((2L, 0L, 0L, 500000L))))
  }

  test("isotonicCalibration equals stack-PAV on exact rationals (mod floor); fit is monotone") {
    val got = Quality.isotonicCalibration(spark, sf001).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_dups"), r.getAs[Long]("iso_micro")))
      .sortBy(_._1)
    graft.Caches.releaseAll()
    assert(got.nonEmpty)
    // monotone nondecreasing by construction
    got.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"fit must be isotone: $a then $b")
    case _ => }
    // classic stack PAV with exact BigInt rationals, floored at the end
    case class Pool(w: BigInt, y: BigInt)
    val pools = got.foldLeft(List.empty[(Pool, Int)]) { case (acc, (_, w, y, _)) =>
      var cur = (Pool(BigInt(w), BigInt(y)), 1)
      var rest = acc
      // merge while the previous pool's mean EXCEEDS the new one's
      while (rest.nonEmpty &&
        rest.head._1.y * cur._1.w > cur._1.y * rest.head._1.w) {
        cur = (Pool(rest.head._1.w + cur._1.w, rest.head._1.y + cur._1.y),
          rest.head._2 + cur._2)
        rest = rest.tail
      }
      cur :: rest
    }.reverse
    val exp = pools.flatMap { case (p, n) =>
      Seq.fill(n)((BigInt(1000000) * p.y / p.w).toLong) }
    assert(got.map(_._4).toSeq === exp,
      "minimax fit must equal the sequential PAV modulo the micro floor")
  }
}
