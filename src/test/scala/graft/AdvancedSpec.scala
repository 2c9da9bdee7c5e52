package graft

import org.apache.spark.sql.functions._

import graft.operators.Advanced

/** Unit coverage for the advanced operator family on hand-computable
  * testdata slices (the DuckDB gate covers full-table parity; these pin
  * the SEMANTICS with human-verified cases).
  */
class AdvancedSpec extends SparkSpec {

  test("as-of join: carried order is the latest at-or-before each event, ties to max key") {
    import spark.implicits._
    // hand-checkable reconstruction on sf0.001: for one event, recompute
    // the expected answer with a naive filter
    val out = Advanced.asofLastOrder(spark, sf0001).cache()
    val events = graft.sources.Tables.events(spark, sf0001)
      .select($"event_id", $"user_id", $"ts")
    val orders = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")

    val sample = out.filter($"last_order_key".isNotNull).limit(5).collect()
    assert(sample.nonEmpty, "expected some events with a prior order")
    sample.foreach { r =>
      val eventId = r.getAs[Long]("event_id")
      val userId = r.getAs[Long]("user_id")
      val ts = events.filter($"event_id" === eventId).collect().head.getAs[java.time.LocalDateTime]("ts")
      val naive = orders
        .filter($"o_custkey" === userId &&
          $"o_orderdate".cast("timestamp_ntz") <= lit(java.sql.Timestamp.valueOf(ts)).cast("timestamp_ntz"))
        .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
        .limit(1).collect().head
      assert(r.getAs[Long]("last_order_key") === naive.getAs[Long]("o_orderkey"),
        s"event $eventId: asof disagrees with naive argmax")
    }
    // events with NO prior order carry nulls, never a fabricated match
    val naiveNoPrior = events.as("e").join(orders.as("o"),
        $"e.user_id" === $"o.o_custkey" &&
          $"o.o_orderdate".cast("timestamp_ntz") <= $"e.ts", "left_anti")
      .count()
    assert(out.filter($"last_order_key".isNull).count() === naiveNoPrior)
  }

  test("salted aggregation equals the unsalted aggregate exactly") {
    import spark.implicits._
    val salted = Advanced.saltedSkewAgg(spark, sf0001)
      .as[(String, Long, Double)].collect().toSet
    val plain = graft.sources.Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
      .as[(String, Long, Double)].collect().toSet
    assert(salted === plain)
  }

  test("AQE skew-join: cannot rewrite q71's agg-fed shape, fires once the build side is a plain shuffle, answers match salting either way") {
    import spark.implicits._
    val salted = Advanced.saltedSkewJoin(spark, sf0001)
      .as[(Long, String, Double, Double, Double)].collect().toSet

    // AQE skew handling forced on, thresholds shrunk so sf0.001
    // partitions qualify (and coalescing kept from merging them away)
    val aqeConfs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1b",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = aqeConfs.map { case (k, _) => k -> spark.conf.getOption(k) }
    aqeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // AQE splits a skewed reduce partition along MAP-output boundaries;
      // sf0.001's single-split parquet scan would feed the shuffle from
      // one mapper and leave nothing to split, so spread the scan across
      // several upstream tasks first (at real scale this is free — the
      // scan has thousands of splits)
      val ev = graft.sources.Tables.events(spark, sf0001)
        .select($"event_id", $"event_type", $"value")
        .repartition(8)
      val stats = graft.sources.Tables.events(spark, sf0001)
        .groupBy($"event_type")
        .agg(graft.functions.Exact.davg($"value").as("type_mean"))

      def deviations(build: org.apache.spark.sql.DataFrame) = {
        val joined = ev.hint("merge").join(build, Seq("event_type"))
          .select($"event_id", $"event_type", $"value", $"type_mean",
            ($"value" - $"type_mean").as("deviation"))
        // collect THIS dataset (not an .as[] sibling) so its adaptive
        // plan finalizes and can be inspected
        val got = joined.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
            r.getDouble(3), r.getDouble(4))).toSet
        (got, joined.queryExecution.executedPlan)
      }
      // the skew rewrite marks the join and splits the skewed reads
      def skewHandled(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
        Plans.nodes(plan).exists {
          case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j.isSkewJoin
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => r.hasSkewedPartition
          case _ => false
        }

      // Shape 1 — q71's own shape: the build side is an AGGREGATE, so a
      // HashAggregate sits between its shuffle and the join.
      // OptimizeSkewedJoin only matches SMJ(Sort(shuffle), Sort(shuffle))
      // directly; even forced, the rewrite structurally cannot fire here.
      // The answer is still right — AQE just couldn't help with the skew.
      val (aggGot, aggPlan) = deviations(stats)
      assert(aggGot === salted,
        "unsalted agg-fed join under AQE must equal the salted answer")
      assert(!skewHandled(aggPlan),
        s"AQE should NOT have rewritten the agg-fed join shape:\n$aggPlan")

      // Shape 2 — materialize the build side first (localCheckpoint cuts
      // the agg out of the plan), leaving a plain shuffle under both
      // sorts: now the skew rewrite fires.
      val (ckGot, ckPlan) = deviations(stats.localCheckpoint())
      assert(ckGot === salted,
        "AQE skew-join answer must equal the salted-join answer")
      assert(skewHandled(ckPlan),
        s"expected the AQE skew rewrite in the final plan:\n$ckPlan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("range join assigns every event to exactly one band") {
    import spark.implicits._
    val out = Advanced.rangeJoinBands(spark, sf0001).cache()
    val nEvents = graft.sources.Tables.events(spark, sf0001).count()
    assert(out.count() === nEvents) // bands partition the domain
    assert(out.groupBy($"event_id").count().filter($"count" > 1).count() === 0)
    out.collect().foreach { r =>
      val v = r.getAs[Double]("value")
      val expected = if (v < 50) "LOW" else if (v < 150) "MID" else "HIGH"
      assert(r.getAs[String]("band") === expected)
    }
  }

  test("rolling revenue equals a naive trailing-30-day recomputation on samples") {
    import spark.implicits._
    val out = Advanced.rollingRevenue(spark, sf0001).cache()
    val base = out.select($"o_orderkey", $"o_custkey", $"day", $"trailing_30d").collect()
    val byCust = base.groupBy(_.getAs[Long]("o_custkey"))
    val orders = graft.sources.Tables.orders(spark, sf0001)
      .select($"o_orderkey",
        datediff($"o_orderdate".cast("date"), to_date(lit("1970-01-01"))).as("day"),
        $"o_totalprice".cast("decimal(18,2)").as("tp"))
      .collect().map(r => r.getAs[Long]("o_orderkey") ->
        (r.getAs[Int]("day"), r.getAs[java.math.BigDecimal]("tp"))).toMap
    base.take(200).foreach { r =>
      val cust = r.getAs[Long]("o_custkey")
      val day = r.getAs[Int]("day")
      val naive = byCust(cust)
        .map(x => orders(x.getAs[Long]("o_orderkey")))
        .filter { case (d, _) => d >= day - 29 && d <= day }
        .map(_._2.doubleValue).sum
      assert(math.abs(r.getAs[Double]("trailing_30d") - naive) < 1e-6,
        s"order ${r.getAs[Long]("o_orderkey")}")
    }
  }

  test("gap fill densifies each user's span and preserves event mass") {
    import spark.implicits._
    val out = Advanced.gapFillDaily(spark, sf0001).cache()
    // per user: exactly (last day - first day + 1) rows
    val spans = out.groupBy($"user_id")
      .agg(count(lit(1)).as("rows"),
        (datediff(max($"day"), min($"day")) + 1).as("span"))
      .filter($"rows" =!= $"span").count()
    assert(spans === 0)
    // total event count is preserved; filled rows are genuine zeros
    val total = graft.sources.Tables.events(spark, sf0001).count()
    assert(out.agg(sum($"n")).collect().head.getLong(0) === total)
    assert(out.filter($"n" === 0 && $"sum_value" =!= 0.0).count() === 0)
  }

  test("funnel stages: stage counts reconcile and each step is at-or-after the previous") {
    import spark.implicits._
    val out = Advanced.funnelStages(spark, sf0001).cache()
    out.collect().foreach { r =>
      val stage = r.getAs[Int]("stage")
      val v = r.getAs[Long]("view_sec")
      if (stage >= 2) assert(r.getAs[Long]("click_sec") >= v)
      if (stage === 3) assert(r.getAs[Long]("purchase_sec") >= r.getAs[Long]("click_sec"))
      if (stage === 1) assert(r.isNullAt(r.fieldIndex("click_sec")))
      if (stage <= 2) assert(r.isNullAt(r.fieldIndex("purchase_sec")))
    }
    // every user with a view appears exactly once
    val viewers = graft.sources.Tables.events(spark, sf0001)
      .filter($"event_type" === "view").select($"user_id").distinct().count()
    assert(out.count() === viewers)
  }

  test("props extraction buckets every event and preserves counts") {
    import spark.implicits._
    val out = Advanced.propsExtract(spark, sf0001).cache()
    val total = graft.sources.Tables.events(spark, sf0001).count()
    assert(out.agg(sum($"n")).collect().head.getLong(0) === total)
    out.collect().foreach { r =>
      val b = r.getAs[Long]("k_bucket")
      assert(b >= 0 && b <= 9, s"bucket out of range: $b")
    }
  }

  test("cohort retention: offset-0 row counts the full cohort, later offsets never exceed it") {
    import spark.implicits._
    val out = Advanced.cohortRetention(spark, sf0001).cache()
    val grid = out.collect()
      .map(r => (r.getAs[java.sql.Date]("cohort_day").toString, r.getAs[Int]("day_offset")) ->
        r.getAs[Long]("n_users")).toMap
    assert(grid.nonEmpty)
    // every user appears in their cohort's offset-0 cell by construction
    val day0Total = grid.collect { case ((_, 0), n) => n }.sum
    val totalUsers = graft.sources.Tables.events(spark, sf0001)
      .select($"user_id").distinct().count()
    assert(day0Total === totalUsers)
    // retention can only shrink or hold vs the cohort's own size
    grid.foreach { case ((cohort, off), n) =>
      assert(off >= 0)
      assert(n <= grid((cohort, 0)), s"cohort $cohort offset $off exceeds day-0")
    }
  }

  test("rollup emits leaf, subtotal, and grand-total levels consistently") {
    import spark.implicits._
    val out = Advanced.rollupRevenue(spark, sf0001).cache()
    val grand = out.filter($"n_name".isNull && $"o_orderstatus".isNull).collect()
    assert(grand.length === 1)
    val leafSum = out.filter($"n_name".isNotNull && $"o_orderstatus".isNotNull)
      .agg(sum($"n")).collect().head.getLong(0)
    assert(grand.head.getAs[Long]("n") === leafSum)
    // per-nation subtotal equals the sum of its leaves
    val subtotals = out.filter($"n_name".isNotNull && $"o_orderstatus".isNull)
      .select($"n_name", $"n").as[(String, Long)].collect().toMap
    val leaves = out.filter($"n_name".isNotNull && $"o_orderstatus".isNotNull)
      .groupBy($"n_name").agg(sum($"n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(subtotals === leaves)
  }

  test("revenueAnomaly: flat baseline scores null, a spike day scores positive, short history withheld") {
    import spark.implicits._
    import java.sql.Timestamp
    // 30 flat days at 100.00, then a 200.00 spike on day 31
    val rows = (1 to 30).map(d =>
      (d.toLong, 1L, Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"), 100.0)) :+
      ((31L, 1L, Timestamp.valueOf("2024-01-31 00:00:00"), 200.0))
    val orders = rows.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val out = Advanced.revenueAnomaly(orders, minHistory = 14).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        (r.getAs[Long]("n_baseline"), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    // first 14 days have <14 days of history and are withheld
    assert(!out.contains("2024-01-14"))
    // a flat trailing window has zero variance -> null, not NaN
    assert(out("2024-01-20") === ((19L, None)))
    // the spike scores against 28 flat days: mean=100, sd=0 would null,
    // but the window for day 31 is days 3..30 (all flat) -> still sd=0
    assert(out("2024-01-31")._2 === None)

    // now a varying baseline: alternate 100/102, spike to 200
    val rows2 = (1 to 30).map(d =>
      (d.toLong, 1L, Timestamp.valueOf(f"2024-01-$d%02d 00:00:00"),
        if (d % 2 == 0) 102.0 else 100.0)) :+
      ((31L, 1L, Timestamp.valueOf("2024-01-31 00:00:00"), 200.0))
    val out2 = Advanced.revenueAnomaly(
      rows2.toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
      minHistory = 14).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out2("2024-01-31").exists(_ > 50.0),
      s"a 2x spike against a ±1 baseline must score a large positive z: ${out2("2024-01-31")}")
  }

  test("eventTransitions: hand-checked counts, row-normalized probabilities") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // user 1: view->click->view->click ; user 2: view->click ; user 3: purchase (no transition)
    val e = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(1), 1L, "click"),
      (3L, ts(2), 1L, "view"), (4L, ts(3), 1L, "click"),
      (5L, ts(0), 2L, "view"), (6L, ts(1), 2L, "click"),
      (7L, ts(0), 3L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Advanced.eventTransitions(e).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // from=view: 3 transitions, all ->click; from=click: 1 ->view
    assert(out(("view", "click")) === ((3L, 1.0)))
    assert(out(("click", "view")) === ((1L, 1.0)))
    assert(out.size === 2, s"lone purchase must emit no transition row: $out")
  }

  test("basketPairs: apriori prune removes infrequent parts before pairing") {
    import spark.implicits._
    // parts 10 & 11 co-occur in baskets 1..5 (frequent pair); part 99
    // appears once — it must never reach the pair join
    val rows = (1L to 5L).flatMap(o => Seq((o, 10L), (o, 11L))) :+ ((6L, 99L)) :+ ((6L, 10L))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val out = Advanced.basketPairs(li, minSupport = 5L).collect()
    assert(out.length === 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((10L, 11L, 5L)))
    assert(r.getDouble(3) === 5.0 / 6.0) // 6 distinct baskets
  }

  test("concurrentSessions: overlap counted, back-to-back not, bucketing invariant") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: one session 10:00-10:10; user 2: one session 10:05-10:15
    // (overlaps user 1); user 3: a single event at the INSTANT of user
    // 1's last event — a session is active through its last event
    // (half-open [s, e+1µs)), so at 10:10 all three are concurrent
    val e = Seq(
      (1L, ts(10, 0), 1L), (2L, ts(10, 10), 1L),
      (3L, ts(10, 5), 2L), (4L, ts(10, 15), 2L),
      (5L, ts(10, 10), 3L)
    ).toDF("event_id", "ts", "user_id")
    def run(buckets: Int) = Advanced.concurrentSessions(e, buckets).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._4, t._2, t._3))
    val out = run(4)
    assert(out.map(_._5).max === 3, s"peak must be 3: ${out.mkString(", ")}")
    // the curve ends at zero — every +1 matched by a -1
    assert(out.last._5 === 0)
    // bucket boundaries must not change a single row
    assert(run(1).toSeq === out.toSeq && run(7).toSeq === out.toSeq)
  }

  test("sessionTimeWeighted: gap-weighted mean, zero-span session nulls") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int, s: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    // user 1, one session: 10.00 held for 60s, 20.00 held for 120s,
    // 40.00 final (no weight) -> tw = (10*60 + 20*120) / 180 = 16.666...
    // user 2: single event -> dur 0, null
    val e = Seq(
      (1L, ts(0, 0), 1L, 10.0), (2L, ts(1, 0), 1L, 20.0), (3L, ts(3, 0), 1L, 40.0),
      (4L, ts(0, 0), 2L, 99.0)
    ).toDF("event_id", "ts", "user_id", "value")
    val out = Advanced.sessionTimeWeighted(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L)._1 === 3L)
    assert(out(1L)._2 === 180L * 1000000L)
    val expected = (10.0 * 60 + 20.0 * 120) / 180.0
    assert(math.abs(out(1L)._3.get - expected) < 1e-9, s"${out(1L)}")
    assert(out(2L) === ((1L, 0L, None)))
  }

  test("copurchaseRank: hand-computed fixed-point ranks on a 3-node path") {
    import spark.implicits._
    // parts 1-2 co-occur in orders 1..3, parts 2-3 in orders 4..6:
    // path graph 1-2-3, degrees (1, 2, 1)
    val rows = (1L to 3L).flatMap(o => Seq((o, 1L), (o, 2L))) ++
      (4L to 6L).flatMap(o => Seq((o, 2L), (o, 3L)))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val out = Advanced.copurchaseRank(li, iters = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // iter1: r(1)=r(3)=0.15e12+0.85*(1e12/2)=575e9; r(2)=0.15e12+0.85*2e12=1850e9
    // iter2: r(1)=r(3)=0.15e12+0.85*(1850e9 div 2)=936.25e9
    //        r(2)=0.15e12+0.85*(575e9+575e9)=1127.5e9
    assert(out(1L) === ((1L, 936250000000L)))
    assert(out(2L) === ((2L, 1127500000000L)))
    assert(out(3L) === ((1L, 936250000000L)))
  }

  test("paretoFrontier equals the naive quadratic skyline; bucketing invariant") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // (key, cust, date, price): 1 dominates nothing special; planted:
    //  - k1 (100, d5) frontier; k2 (90, d9) frontier; k3 (100, d5) exact
    //    dup of k1 -> BOTH kept; k4 (90, d5) dominated by k1 (price+),
    //    k5 (100, d4) dominated by k1 (same price, later date exists);
    //    k6 (120, d2) frontier (highest price)
    val o = Seq(
      (1L, 1L, ts(5), 100.0), (2L, 1L, ts(9), 90.0), (3L, 1L, ts(5), 100.0),
      (4L, 1L, ts(5), 90.0), (5L, 1L, ts(4), 100.0), (6L, 1L, ts(2), 120.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    def keys(buckets: Int) = Advanced.paretoFrontier(o, buckets).collect()
      .map(_.getLong(0)).toSet
    val got = keys(4)
    // naive quadratic truth
    val rows = o.collect().map(r => (r.getLong(0), r.getDouble(3),
      r.getTimestamp(2).getTime))
    val naive = rows.filter { case (k, p, d) =>
      !rows.exists { case (k2, p2, d2) =>
        k2 != k && p2 >= p && d2 >= d && (p2 > p || d2 > d) }
    }.map(_._1).toSet
    assert(got === naive, s"got $got, naive $naive")
    assert(got === Set(1L, 2L, 3L, 6L))
    assert(keys(1) === got && keys(7) === got)
  }

  test("maxDrawdown: peak-to-trough in order sequence, exact cents") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // cust 1: 100, 300, 50, 200 -> worst dip 300-50 = 250.00
    // cust 2: ascending -> drawdown 0
    val o = Seq(
      (1L, 1L, ts(1), 100.0), (2L, 1L, ts(2), 300.0),
      (3L, 1L, ts(3), 50.0), (4L, 1L, ts(4), 200.0),
      (5L, 2L, ts(1), 10.0), (6L, 2L, ts(2), 20.0)
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val out = Advanced.maxDrawdown(o).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) === ((4L, 250.0)))
    assert(out(2L) === ((2L, 0.0)))
  }

  test("mergeIntervals: overlapping spans coalesce, gaps split episodes") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // span 30 min: events at 0 and 10 overlap -> one episode [0, 40);
    // event at 50 starts after 40 -> second episode [50, 80).
    // user 2: single event -> its own span.
    val e = Seq(
      (1L, ts(0), 1L, "click"), (2L, ts(10), 1L, "view"),
      (3L, ts(50), 1L, "click"), (4L, ts(5), 2L, "view")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val min = 60L * 1000000L
    val out = Advanced.mergeIntervals(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    assert(out((1L, 1L)) === ((base, base + 40 * min, 2L)))
    assert(out((1L, 2L)) === ((base + 50 * min, base + 80 * min, 1L)))
    assert(out((2L, 1L)) === ((base + 5 * min, base + 35 * min, 1L)))
  }

  test("activityStreaks: longest run wins, earliest start breaks ties") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    // user 1: days 1,2,3 then 5,6 -> best 3 starting d1 (two events on
    // d2 must collapse); user 2: two length-2 runs -> earliest start.
    val e = Seq(
      (1L, ts(1, 1), 1L), (2L, ts(2, 1), 1L), (3L, ts(2, 9), 1L),
      (4L, ts(3, 1), 1L), (5L, ts(5, 1), 1L), (6L, ts(6, 1), 1L),
      (7L, ts(1, 1), 2L), (8L, ts(2, 1), 2L), (9L, ts(4, 1), 2L), (10L, ts(5, 1), 2L)
    ).toDF("event_id", "ts", "user_id")
    val out = Advanced.activityStreaks(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDate(2).toString)).toMap
    assert(out(1L) === ((3L, "2024-01-01")))
    assert(out(2L) === ((2L, "2024-01-01")))
  }

  test("allocateProportional: per-order cents reconcile exactly; remainder order deterministic") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Timestamp.valueOf("2024-01-01 00:00:00")
    // order 1: $1.00 over equal quantities [1,1,1] -> bases 33/33/33,
    // one leftover cent to the lowest line number (remainders tie).
    // order 2: $10.01 over [1,2] -> exact thirds 333.67/667.33 ->
    // bases 333/667, leftover cent to line 1 (rem 2/3 > 1/3).
    val li = Seq(
      (1L, 1, 1.0), (1L, 2, 1.0), (1L, 3, 1.0),
      (2L, 1, 1.0), (2L, 2, 2.0)
    ).map { case (k, n, q) => (k, 10L, 10L, n, q, 1.0, 0.0, 0.0, "N", "O", d) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val o = Seq((1L, 1.00), (2L, 10.01))
      .map { case (k, p) => (k, 1L, "O", p, d, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.allocateProportional(li, o).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out((1L, 1)) === 34L && out((1L, 2)) === 33L && out((1L, 3)) === 33L)
    assert(out((2L, 1)) === 334L && out((2L, 2)) === 667L)
    // the invariant: every order's cents sum exactly to its total
    val sums = Advanced.allocateProportional(li, o)
      .groupBy("l_orderkey").agg(org.apache.spark.sql.functions.sum("alloc_c").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sums === Map(1L -> 100L, 2L -> 1001L))
  }

  test("triangleCounts: K4 yields 3 per corner; pendant edges contribute nothing") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles, each node in 3) plus pendant edge
    // (4,5): node 5 closes nothing and must be absent.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)
    ).toDF("a", "b")
    val out = Advanced.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("systematicSample: stride boundaries pick proportionally, heavy rows repeat") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Timestamp.valueOf("2024-01-01 00:00:00")
    // weights (cents): 100, 700, 100, 100 -> grand 1000, k=5 -> stride
    // 200. Boundaries at 200,400,600,800,1000: row 2 spans (100,800] ->
    // picked 3 times (floor(800/200)-floor(100/200)=4-0... compute:
    // cum 100,800,900,1000 -> picks: 0, 4-0=4, 4-4=0, 5-4=1.
    val o = Seq(
      (1L, 1.00), (2L, 7.00), (3L, 1.00), (4L, 1.00)
    ).map { case (k, p) => (k, 1L, "O", p, d, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.systematicSample(o, k = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out === Map(2L -> 4L, 4L -> 1L))
    // total picks = k whenever grand divides evenly
    assert(out.values.sum === 5L)
  }

  test("sessionPaths: ordered 3-prefix per session, short sessions shorten the path") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1 session 1: view,click,purchase,view -> path view>click>purchase
    // user 1 session 2 (2h later): view,click -> view>click
    // user 2: view,click,purchase (same path as u1s1 -> count 2)
    val e = Seq(
      (1L, ts(1, 0), 1L, "view"), (2L, ts(1, 5), 1L, "click"),
      (3L, ts(1, 10), 1L, "purchase"), (4L, ts(1, 15), 1L, "view"),
      (5L, ts(4, 0), 1L, "view"), (6L, ts(4, 5), 1L, "click"),
      (7L, ts(2, 0), 2L, "view"), (8L, ts(2, 5), 2L, "click"),
      (9L, ts(2, 10), 2L, "purchase")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Advanced.sessionPaths(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map(
      "view>click>purchase" -> ((2L, 1L)),
      "view>click" -> ((1L, 2L))))
  }

  test("growthAccounting: new/retained/resurrected/churned ledger reconciles") {
    import spark.implicits._
    import java.sql.Timestamp
    // Mondays: Jan 1, 8, 15, 22 of 2024.
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // u1: w1, w2, w4 -> new@w1, retained@w2, churned@w3, resurrected@w4
    // u2: w1 only -> new@w1, churned@w2 (horizon w4 allows posting)
    // u3: w4 only -> new@w4, churn unknowable (past horizon)
    val e = Seq(
      (1L, ts(1), 1L), (2L, ts(8), 1L), (3L, ts(22), 1L),
      (4L, ts(2), 2L), (5L, ts(23), 3L)
    ).map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Advanced.growthAccounting(e).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out === Map(
      "2024-01-01" -> ((2L, 0L, 0L, 0L)),
      "2024-01-08" -> ((0L, 1L, 0L, 1L)),
      "2024-01-15" -> ((0L, 0L, 0L, 1L)),
      "2024-01-22" -> ((1L, 0L, 1L, 0L))))
  }

  test("stateDwell: lead gaps per type, last event excluded") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    // u1: view@0 -> click@10 -> view@15: dwell view=10min, click=5min;
    // final view excluded. u2: single event -> nothing.
    val e = Seq(
      (1L, ts(0), 1L, "view"), (2L, ts(10), 1L, "click"), (3L, ts(15), 1L, "view"),
      (4L, ts(0), 2L, "view")
    ).map { case (id, t, u, k) => (id, t, u, k, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Advanced.stateDwell(e).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val min = 60L * 1000000L
    assert(out === Map("view" -> ((1L, 10 * min)), "click" -> ((1L, 5 * min))))
  }

  test("rfmSegments: recency inverts, quintiles from boundary ladder") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // 5 customers, one order each on days 1..5, prices 10,20,30,40,50.
    // n=5 -> each value is its own quintile. Customer 5 (latest, rec 0)
    // -> r=5; also highest price -> m=5; freq all 1 -> f collapses to 1.
    val o = (1 to 5).map(i => (i.toLong, i.toLong, "O", i * 10.0, ts(i), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.rfmSegments(o).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(out(5L) === ((5, 1, 5)))
    assert(out(1L) === ((1, 1, 1)))
    assert(out(3L) === ((3, 1, 3)))
  }

  test("shipLagPercentiles: nearest-rank picks over hand-built lags") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // one priority, lags 1..10 -> p50 = rank 5 -> 5, p90 = rank 9 -> 9
    val o = (1 to 10).map(i => (i.toLong, 1L, "O", 100.0, ts(1), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = (1 to 10).map(i => (i.toLong, 1L, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts(1 + i)))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = Advanced.shipLagPercentiles(li, o).collect().head
    assert(r.getLong(1) === 10L && r.getLong(2) === 5L && r.getLong(3) === 9L)
  }

  test("abcClassification: integer thresholds split 70/20/10") {
    import spark.implicits._
    import java.sql.Timestamp
    val d = Timestamp.valueOf("2024-01-01 00:00:00")
    // parts with revenue 70, 20, 6, 4 (total 100): cum 70 -> A (70*10 <= 700),
    // cum 90 -> B, cum 96/100 -> C.
    val li = Seq((1L, 70.0), (2L, 20.0), (3L, 6.0), (4L, 4.0))
      .map { case (p, x) => (p, p, 1L, 1, 1.0, x, 0.0, 0.0, "N", "O", d) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val out = Advanced.abcClassification(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("A" -> ((1L, 7000L)), "B" -> ((1L, 2000L)), "C" -> ((2L, 1000L))))
  }

  test("duplicateCharges: close-in-time similar amounts flag, others pass") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // cust 1: 100.00 then 102.00 five days later (2% -> flag);
    // then 200.00 (different amount -> clean);
    // cust 2: 100.00 twice but 60 days apart -> clean.
    val o = Seq(
      (1L, 1L, ts(1), 100.00), (2L, 1L, ts(6), 102.00), (3L, 1L, ts(10), 200.00),
      (4L, 2L, ts(1), 100.00), (5L, 2L, ts(1), 100.00)
    ).map { case (k, c, t, p) => (k, c, "O", p, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.duplicateCharges(o).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // cust 2's same-day exact duplicate also flags (gap 0, 0% diff)
    assert(out === Set((1L, 2L), (4L, 5L)))
  }

  test("weekdayProfile: ISO weekday numbering, shares sum to 1 per type") {
    import spark.implicits._
    import java.sql.Timestamp
    // 2024-01-01 is a Monday -> isodow 1; 2024-01-07 a Sunday -> 7.
    val e = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "view"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), 1L, "view"),
      (3L, Timestamp.valueOf("2024-01-07 10:00:00"), 1L, "view")
    ).map { case (id, t, u, k) => (id, t, u, k, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Advanced.weekdayProfile(e).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(1L -> ((2L, 2.0 / 3.0)), 7L -> ((1L, 1.0 / 3.0))))
  }

  test("stickiness: DAU/MAU ratio on a hand-built activity pattern") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    // day 1: users {1,2}; day 2: user {1}. MAU(day2) = {1,2} = 2.
    val e = Seq((1L, ts(1), 1L), (2L, ts(1), 2L), (3L, ts(2), 1L))
      .map { case (id, t, u) => (id, t, u, "view", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = Advanced.stickiness(e).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("2024-01-01") === ((2L, 2L, 1.0)))
    assert(out("2024-01-02") === ((1L, 2L, 0.5)))
  }

  test("orderBacklog: opens and closes net to zero, peak matches hand count") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // o1 [d1, d5], o2 [d2, d3], o3 [d10, d11]: peak 2 during d2-d3,
    // zero after d12.
    val o = Seq((1L, ts(1)), (2L, ts(2)), (3L, ts(10)))
      .map { case (k, t) => (k, 1L, "O", 10.0, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((1L, 1, ts(4)), (1L, 2, ts(5)), (2L, 1, ts(3)), (3L, 1, ts(11)))
      .map { case (k, n, t) => (k, 1L, 1L, n, 1.0, 1.0, 0.0, 0.0, "N", "O", t) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val rows = Advanced.orderBacklog(o, li).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(rows.map(_._2).max === 2L)
    assert(rows.maxBy(_._1)._2 === 0L)
  }

  test("revenueConcentration: tiers nest and shares grow") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // 100 customers, revenue = custkey dollars; top 1% = cust 100 alone.
    val o = (1 to 100).map(i => (i.toLong, i.toLong, "O", i.toDouble, t0, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.revenueConcentration(o).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((1L, 10000L)))              // cust 100: $100
    assert(out(5L) === ((5L, (96 to 100).map(_ * 100L).sum)))
    assert(out(20L)._1 === 20L)
  }

  test("purchaseRegularity: clockwork gaps give CV 0, bursts give positive CV") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // cust 1: days 1,8,15,22 -> gaps 7,7,7 -> CV 0; cust 2: gaps 1,13 ->
    // mean 7, sd sqrt(((2*170-196)/2))=sqrt(72)≈8.485 -> CV > 1
    val o = Seq(
      (1L, 1L, ts(1)), (2L, 1L, ts(8)), (3L, 1L, ts(15)), (4L, 1L, ts(22)),
      (5L, 2L, ts(1)), (6L, 2L, ts(2)), (7L, 2L, ts(15))
    ).map { case (k, c, t) => (k, c, "O", 10.0, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.purchaseRegularity(o).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 === 3L && out(1L)._2 === 7.0 && out(1L)._3 === 0.0)
    assert(out(2L)._2 === 7.0 && out(2L)._3 > 1.0)
  }

  test("ltvCurve: cumulative spend at tenure offsets, last value per offset month") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int, d: Int) = Timestamp.valueOf(f"2024-$m%02d-$d%02d 00:00:00")
    // cust 1: Jan $10 + $20 (same offset 0 -> cum 30), Mar $5 (offset 2, cum 35)
    // cust 2: Feb $100 (offset 0)
    val o = Seq(
      (1L, 1L, ts(1, 1), 10.0), (2L, 1L, ts(1, 20), 20.0), (3L, 1L, ts(3, 1), 5.0),
      (4L, 2L, ts(2, 1), 100.0)
    ).map { case (k, c, t, p) => (k, c, "O", p, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.ltvCurve(o).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L) === ((2L, 65.0))) // (30 + 100) / 2
    assert(out(2L) === ((1L, 35.0)))
  }

  test("lorenzCurve: shares monotone, final decile is the whole pie") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // 10 customers, revenue = custkey dollars -> decile d holds cum
    // share (sum 1..d)/55
    val o = (1 to 10).map(i => (i.toLong, i.toLong, "O", i.toDouble, t0, "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = Advanced.lorenzCurve(o).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    (1 to 10).foreach { d =>
      val (n, share) = out(d.toLong)
      assert(n === d.toLong)
      assert(math.abs(share - (1 to d).sum.toDouble / 55.0) < 1e-15, s"decile $d")
    }
    assert(out(10L)._2 === 1.0)
  }

  test("repurchaseCycle: same-day lines collapse, median over planted gaps") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // cust 1 buys family 'widget' on days 1 (two lines), 4, 10 ->
    // gaps 3, 6 -> median (rank 1 of 2) = 3
    val o = Seq((1L, ts(1)), (2L, ts(1)), (3L, ts(4)), (4L, ts(10)))
      .zipWithIndex.map { case ((k, t), _) => (k, 1L, "O", 10.0, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L))
      .zipWithIndex.map { case ((ok, pk), i) =>
        (ok, pk, 1L, i + 1, 1.0, 1.0, 0.0, 0.0, "N", "O", ts(1)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val p = Seq((10L, "widget alpha", "B", "T", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val out = Advanced.repurchaseCycle(li, o, p).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("widget" -> ((2L, 3L))))
  }

  test("modalEventType: count wins, lexicographic tie-break") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // user 1: 2 clicks vs 1 view -> click; user 2: 1 view vs 1 click
    // (tie) -> click (lexicographically smaller)
    val e = Seq(
      (1L, t0, 1L, "click"), (2L, t0, 1L, "click"), (3L, t0, 1L, "view"),
      (4L, t0, 2L, "view"), (5L, t0, 2L, "click")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val out = Advanced.modalEventType(e).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) === (("click", 2L)))
    assert(out(2L) === (("click", 1L)))
  }

  test("pageRank: plain-JVM fixed-point replay on a star-plus-edge graph") {
    import spark.implicits._
    // star 1-{2,3,4} plus edge 2-3: hub 1 should out-rank everything,
    // and 2/3 (degree 2) should out-rank 4 (degree 1)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)).toDF("a", "b")
    val got = Advanced.pageRank(edges, iters = 3).collect()
      .map(r => r.getAs[Long]("part") ->
        ((r.getAs[Long]("outdeg"), r.getAs[Long]("rank_ppb")))).toMap
    graft.Caches.releaseAll()
    // exact integer replay of the same supersteps
    val sym = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val outdeg = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r = outdeg.keys.map(_ -> BigInt(1000000000L)).toMap
    for (_ <- 1 to 3) {
      val inflow = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / outdeg(src) }.sum
      }
      r = inflow.map { case (n, in) => n -> (BigInt(150000000L) + in * 85 / 100) }
    }
    val exp = r.map { case (n, v) => n -> ((outdeg(n), v.toLong)) }
    assert(got === exp)
    assert(got(1L)._2 > got(2L)._2 && got(2L)._2 === got(3L)._2 &&
      got(3L)._2 > got(4L)._2, s"rank order violated: $got")
  }

  test("pageRank: rank mass is conserved up to floor-division loss; isolated support-filtered parts absent") {
    val out = Advanced.copurchasePageRank(spark, sf0001).collect()
    assert(out.nonEmpty)
    val n = out.length.toLong
    val mass = out.map(_.getAs[Long]("rank_ppb")).sum
    // each superstep floors |E_sym| divisions and one *85/100 per node:
    // total mass can only drop below N * 1e9, never rise, and by less
    // than (|E_sym| + N) grid units per superstep
    val eSym = out.map(_.getAs[Long]("outdeg")).sum
    assert(mass <= n * 1000000000L)
    assert(mass >= n * 1000000000L - 3L * (eSym + 2L * n),
      s"mass leaked more than floor-loss allows: n=$n mass=$mass")
    graft.Caches.releaseAll()
  }

  test("basketPairs: support-m pairs equal the support-2 pairs filtered at m (round-18 artifact derivation)") {
    import spark.implicits._
    // parts 10/11 pair in 5 baskets, 12/13 in exactly 2, 14 rides with 10
    // in 3 baskets — supports 2 and 3 disagree on which pairs survive,
    // and the apriori prune at 3 drops items the prune at 2 keeps
    val rows = (1L to 5L).flatMap(o => Seq((o, 10L), (o, 11L))) ++
      Seq((6L, 12L), (6L, 13L), (7L, 12L), (7L, 13L)) ++
      Seq((1L, 14L), (2L, 14L), (3L, 14L))
    val li = rows.toDF("l_orderkey", "l_partkey")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val s3 = rowsOf(Advanced.basketPairs(li, minSupport = 3L))
    val s2f = rowsOf(Advanced.basketPairs(li, minSupport = 2L)
      .filter(org.apache.spark.sql.functions.col("n") >= 3L))
    assert(s3 === s2f, s"support-3 must equal support-2 filtered: $s3 vs $s2f")
    // and the filtered set is non-trivial: (12,13) present at 2, gone at 3
    assert(rowsOf(Advanced.basketPairs(li, minSupport = 2L))
      .exists(t => t._1 == 12L && t._2 == 13L))
    assert(!s3.exists(t => t._1 == 12L && t._2 == 13L))
  }
}
