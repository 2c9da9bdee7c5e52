package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.operators.Warehouse

/** Warehouse identity scoping: bucketed-table names and locations are
  * keyed by (application, data dir, caller tag), so two queries — or two
  * sessions — running the bucketed join concurrently can never clobber
  * each other's catalog entries or table files.
  */
class WarehouseSpec extends SparkSpec {

  test("two concurrently tagged bucketed joins land in distinct tables and both answer correctly") {
    val expected = graft.sources.Tables.orders(spark, sf0001)
      .join(graft.sources.Tables.customer(spark, sf0001),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Exact.dsum(col("o_totalprice")).as("revenue"))
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet

    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      def run(tag: String) = Future {
        Warehouse.bucketedJoinRevenue(spark, sf0001, tag)
          .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet
      }
      val (a, b) = (run("qa"), run("qb"))
      assert(Await.result(a, 5.minutes) === expected)
      assert(Await.result(b, 5.minutes) === expected)
    } finally pool.shutdown()

    // the two runs must NOT have shared a catalog identity
    val names = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_orders_b")).toSeq
    assert(names.exists(_.endsWith("_qa")) && names.exists(_.endsWith("_qb")),
      s"expected per-tag bucketed tables, got $names")
  }

  test("incrementalMv: base+delta merge is lossless vs a from-scratch rollup") {
    import org.apache.spark.sql.types.DecimalType
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val cutoff = "1997-06-01"
    // the cutoff must split the fact table for the merge path to be exercised
    assert(orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp")).limit(1).count() === 1)
    assert(orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp")).limit(1).count() === 1)
    val merged = Warehouse.incrementalMv(orders, cutoff).collect()
      .map(r => r.get(0) -> (r.getAs[Long]("n_orders"), r.getAs[Long]("revenue_c"))).toMap
    val full = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")).as("c"))
      .collect().map(r => r.get(0) -> (r.getAs[Long]("n"), r.getAs[Long]("c"))).toMap
    assert(merged === full)
  }

  test("scd2History: one current row per customer; intervals half-open, chained, non-overlapping") {
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val hist = Warehouse.scd2History(orders).collect()
    assert(hist.length === orders.count()) // every order becomes exactly one version row

    val byCust = hist.groupBy(_.getAs[Long]("o_custkey"))
    byCust.foreach { case (ck, rows) =>
      // exactly one open (current) interval per customer
      assert(rows.count(_.getAs[Boolean]("is_current")) === 1,
        s"customer $ck must have exactly one is_current row")
      // sorted by (valid_from, o_orderkey), each interval's valid_to is the
      // next version's valid_from (chained, half-open, non-overlapping) and
      // only the last is open
      val sorted = rows.sortBy(r =>
        (r.getAs[java.time.LocalDateTime]("valid_from")
          .toEpochSecond(java.time.ZoneOffset.UTC), r.getAs[Long]("o_orderkey")))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[java.time.LocalDateTime]("valid_to") ===
            b.getAs[java.time.LocalDateTime]("valid_from"),
            s"customer $ck: interval chain broken")
        case _ => ()
      }
      assert(sorted.init.forall(!_.getAs[Boolean]("is_current")) &&
        sorted.last.getAs[Boolean]("is_current"))
    }
  }

  test("scd2AsOf: at most one version per customer qualifies at any probe time") {
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val t = java.time.LocalDateTime.parse("1996-06-01T00:00:00")
    val asOf = Warehouse.scd2AsOf(orders, "1996-06-01").collect()
    val perCust = asOf.groupBy(_.getAs[Long]("o_custkey")).view.mapValues(_.length)
    assert(perCust.values.forall(_ == 1),
      s"duplicate as-of versions: ${perCust.filter(_._2 > 1).toMap}")
    // exactly the customers with at least one order on/before T appear
    val expected = orders
      .filter(col("o_orderdate") <= lit("1996-06-01").cast("timestamp"))
      .select(col("o_custkey")).distinct().count()
    assert(asOf.length === expected)
    // and every returned interval actually covers T
    assert(asOf.forall { r =>
      val from = r.getAs[java.time.LocalDateTime]("valid_from")
      val to = r.getAs[java.time.LocalDateTime]("valid_to")
      !from.isAfter(t) && (to == null || to.isAfter(t))
    })
  }

  test("z-order layout prunes a 2-D box query to fewer files than a date-only sort") {
    val orders = graft.sources.Tables.orders(spark, sf001)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder-spec").toString
    val (zPath, dPath) = (s"$tmp/z", s"$tmp/d")
    val nFiles = 64 // enough files that custkey bits participate in the split
    Warehouse.writeZordered(orders, zPath, nFiles)
    Warehouse.writeDateSorted(orders, dPath, nFiles)

    // sum file hits over a 3x3 grid of ~10% x ~10% boxes (single boxes are
    // noisy: one straddling a major z-boundary can touch as many files as
    // the date sort does; aggregate pruning is the honest measure)
    val b = orders.agg(
      min(datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))),
      max(datediff(col("o_orderdate").cast("date"), to_date(lit("1970-01-01")))),
      min(col("o_custkey")), max(col("o_custkey"))).collect()(0)
    val (d0, d1, c0, c1) = (b.getInt(0), b.getInt(1), b.getLong(2), b.getLong(3))
    def boxes(path: String): Array[(Long, Long, Long, Long)] =
      Warehouse.fileBoxes(spark, path).collect().map(r =>
        (r.getAs[Int]("day_min").toLong, r.getAs[Int]("day_max").toLong,
          r.getAs[Long]("ck_min"), r.getAs[Long]("ck_max")))
    def touched(bs: Array[(Long, Long, Long, Long)]): Int =
      (for (dc <- Seq(20, 50, 80); cc <- Seq(20, 50, 80)) yield {
        val (dayLo, dayHi) = (d0 + (d1 - d0) * (dc - 5) / 100, d0 + (d1 - d0) * (dc + 5) / 100)
        val (ckLo, ckHi) = (c0 + (c1 - c0) * (cc - 5) / 100, c0 + (c1 - c0) * (cc + 5) / 100)
        bs.count { case (dMin, dMax, cMin, cMax) =>
          dMin <= dayHi && dMax >= dayLo && cMin <= ckHi && cMax >= ckLo }
      }).sum

    val (zTouched, dTouched) = (touched(boxes(zPath)), touched(boxes(dPath)))
    // date-sorted files each span the full custkey range, so only the date
    // dimension prunes; z-ordered files are rectangles in BOTH dimensions
    assert(zTouched < dTouched,
      s"z-order touched $zTouched file-hits over 9 boxes vs date-sort $dTouched — no pruning win")
  }

  test("mergeUpsert: actions partition the result, updates reprice 1.05x, inserts land past the keyspace") {
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val out = Warehouse.mergeUpsert(orders).collect()
    // every output key appears exactly once — MERGE may not duplicate
    assert(out.map(_.getAs[Long]("o_orderkey")).distinct.length === out.length)
    val byAction = out.groupBy(_.getAs[String]("action")).view.mapValues(_.length).toMap
    val keys = orders.select(col("o_orderkey")).collect().map(_.getLong(0))
    assert(byAction.getOrElse("update", 0) === keys.count(_ % 7 == 0))
    assert(byAction.getOrElse("insert", 0) === keys.count(_ % 97 == 0))
    assert(byAction.getOrElse("keep", 0) === keys.length - keys.count(_ % 7 == 0))
    // updated rows carry exactly the batch's value
    val origPrice = orders.select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.filter(_.getAs[String]("action") == "update").foreach { r =>
      assert(r.getAs[Double]("o_totalprice") === origPrice(r.getAs[Long]("o_orderkey")) * 1.05)
    }
    out.filter(_.getAs[String]("action") == "insert").foreach { r =>
      assert(r.getAs[Long]("o_orderkey") >= 6000000L)
    }
  }

  test("snapshotDiff: emits exactly the changed keys with the right change kinds") {
    val orders = graft.sources.Tables.orders(spark, sf0001)
    val keys = orders.select(col("o_orderkey")).collect().map(_.getLong(0))
    val out = Warehouse.snapshotDiff(orders).collect()
    val byChange = out.groupBy(_.getAs[String]("change")).view.mapValues(_.length).toMap
    assert(byChange.getOrElse("delete", 0) === keys.count(_ % 13 == 0))
    assert(byChange.getOrElse("insert", 0) === keys.count(_ % 101 == 0))
    assert(byChange.getOrElse("update", 0) === keys.count(k => k % 5 == 0 && k % 13 != 0))
    // unchanged keys never surface
    assert(out.length === byChange.values.sum)
    out.filter(_.getAs[String]("change") == "update").foreach { r =>
      assert(r.getAs[Double]("new_price") === r.getAs[Double]("old_price") + 10.0)
    }
  }

  test("compact collapses fragmented files to the target size and keeps ranges disjoint") {
    val orders = graft.sources.Tables.orders(spark, sf001) // 15000 rows
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-spec").toString
    val (frag, out) = (s"$tmp/frag", s"$tmp/out")
    orders.repartition(64, col("o_orderkey")).write.parquet(frag)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files(frag) === 64) // the streaming-append pathology

    val n = Warehouse.compact(spark, frag, out, "o_orderdate", rowsPerFile = 5000L)
    assert(n === 3L) // ceil(15000 / 5000)
    assert(files(out) === 3)
    assert(spark.read.parquet(out).count() === 15000L) // lossless

    // range clustering survives: per-file day ranges must not overlap
    // (range partitioning never splits one key value across files)
    val spans = Warehouse.fileBoxes(spark, out).collect()
      .map(r => (r.getAs[Int]("day_min"), r.getAs[Int]("day_max")))
      .sortBy(_._1)
    spans.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._1 >= a._2, s"compacted file ranges overlap: $a then $b")
      case _ => ()
    }
  }

  test("monthEndBalance: last observation per month, carried through inactive months") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(m: Int, d: Int) = Timestamp.valueOf(f"2024-$m%02d-$d%02d 00:00:00")
    // cust 1: two Jan orders (late one wins: $20), nothing in Feb
    // (carry $20), $30 in Mar. cust 2: first appears in Feb with $5 —
    // absent from Jan's total, present from Feb on.
    val o = Seq(
      (1L, 1L, ts(1, 3), 10.00), (2L, 1L, ts(1, 20), 20.00),
      (3L, 1L, ts(3, 5), 30.00), (4L, 2L, ts(2, 10), 5.00)
    ).map { case (k, c, d, p) => (k, c, "O", p, d, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val out = graft.operators.Warehouse.monthEndBalance(o).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out === Map(
      "2024-01-01" -> ((1L, 20.00)),
      "2024-02-01" -> ((2L, 25.00)),
      "2024-03-01" -> ((2L, 35.00))))
  }

  test("openOrderAging: only horizon-day closers count, ages bucket by year bounds") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(y: Int, m: Int) = Timestamp.valueOf(f"$y%04d-$m%02d-01 00:00:00")
    // horizon = 2024-06: o1 (ordered 2024-03, closes at horizon: 0-1y),
    // o2 (ordered 2020-01, closes at horizon: 3y+), o3 closes early ->
    // not open.
    val o = Seq((1L, ts(2024, 3), 100.0), (2L, ts(2020, 1), 50.0), (3L, ts(2024, 1), 70.0))
      .map { case (k, t, p) => (k, 1L, "O", p, t, "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val li = Seq((1L, 1, ts(2024, 6)), (2L, 1, ts(2024, 6)), (3L, 1, ts(2024, 2)))
      .map { case (k, n, t) => (k, 1L, 1L, n, 1.0, 1.0, 0.0, 0.0, "N", "O", t) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val out = graft.operators.Warehouse.openOrderAging(o, li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out === Map("0-1y" -> ((1L, 10000L)), "3y+" -> ((1L, 5000L))))
  }

  test("returnRates: planted R lines produce the exact share") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-15 00:00:00")
    // one month: qty 1+3 returned of 1+3+4=8 -> 0.5; rev 10+30 of 80 -> 0.5
    val li = Seq((1L, 1, 1.0, 10.0, "R"), (2L, 1, 3.0, 30.0, "R"), (3L, 1, 4.0, 40.0, "N"))
      .map { case (k, n, q, x, f) => (k, 1L, 1L, n, q, x, 0.0, 0.0, f, "O", t0) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val r = graft.operators.Warehouse.returnRates(li).collect().head
    assert(r.getAs[Long]("n_items") === 3L)
    assert(r.getAs[Double]("qty_return_rate") === 0.5)
    assert(r.getAs[Double]("rev_return_rate") === 0.5)
  }

  test("supplyRisk: sourcing buckets split on supplier-count thresholds") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    // part 1: 1 supplier (concentrated); part 2: 25 (moderate);
    // part 3: 35 (diversified)
    val rows = Seq((1L, Seq(1L)), (2L, (1L to 25L)), (3L, (1L to 35L)))
      .flatMap { case (p, ss) => ss.map(sup => (p, sup)) }
    val li = rows.zipWithIndex.map { case ((p, sup), i) =>
      (i.toLong, p, sup, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t0) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
    val out = graft.operators.Warehouse.supplyRisk(li).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("concentrated" -> 1L, "moderate" -> 1L, "diversified" -> 1L))
  }

  test("retentionSweep: expired months physically gone, retained intact, idempotent") {
    def run() = graft.operators.Warehouse
      .retentionSweepOf(spark, graft.sources.Tables.orders(spark, sf0001),
        "sf0_001_ttlspec")
      .collect()
      .map(r => r.getAs[String]("month") ->
        ((r.getAs[Long]("rows_src"), r.getAs[Long]("rows_after"),
          r.getAs[Boolean]("expired")))).toMap
    val out1 = run()
    val (expired, retained) = out1.partition(_._2._3)
    assert(expired.nonEmpty && retained.nonEmpty, s"degenerate sweep: $out1")
    assert(expired.values.forall(_._2 === 0L),
      s"expired months must read zero rows: $expired")
    assert(retained.values.forall(v => v._2 === v._1),
      s"retained months must be byte-count intact: $retained")
    // the BYTES are gone, not just the catalog entries (the q276 lesson)
    val tgtDir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-warehouse/sf0_001_ttlspec/orders_ttl_tgt")
    val onDisk = Option(tgtDir.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("month=")).map(_.getName).toSet
    expired.keys.foreach { m =>
      assert(!onDisk.contains(s"month=$m"),
        s"expired partition month=$m still on disk: $onDisk") }
    retained.keys.foreach { m =>
      assert(onDisk.contains(s"month=$m"),
        s"retained partition month=$m missing from disk") }
    // idempotent: a re-sweep of the already-swept table audits identically
    assert(run() === out1)
  }

  test("retentionSweep: a regenerated input under the same tag forces a snapshot rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("ttl_fp").toString
    val ordersPath = s"$tmp/orders.parquet"
    def sweep() = graft.operators.Warehouse
      .retentionSweepOf(spark, spark.read.parquet(ordersPath),
        "sf0_001_ttlfp")
      .collect()
      .map(r => r.getAs[String]("month") -> r.getAs[Long]("rows_src")).toMap
    val base = graft.sources.Tables.orders(spark, sf0001)
    base.filter(col("o_orderdate") < "1996-07-01")
      .write.mode("overwrite").parquet(ordersPath)
    val out1 = sweep()
    // regenerate IN PLACE under the same dir and tag: different rows,
    // different months — the round-15 staleness scenario
    base.filter(col("o_orderdate") >= "1996-07-01")
      .write.mode("overwrite").parquet(ordersPath)
    val out2 = sweep()
    assert(out1.nonEmpty && out2.nonEmpty)
    assert(out1 !== out2,
      s"sweep served the stale snapshot after the input changed: $out2")
    // the rebuilt audit reflects the NEW generation exactly
    val freshMonths = spark.read.parquet(ordersPath)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 === freshMonths)
  }

  test("gdprErase: victims physically gone, untouched buckets intact, idempotent across re-runs") {
    val out1 = graft.operators.Warehouse.gdprErase(spark, sf0001, tag = "gdprspec")
      .collect()
      .map(r => r.getAs[Int]("cust_bucket") ->
        ((r.getAs[Long]("rows_before"), r.getAs[Long]("rows_after"),
          r.getAs[Long]("erased"), r.getAs[Boolean]("rewritten"),
          r.getAs[Long]("residual_victims")))).toMap
    // zero residual victims anywhere: the erase is physically complete
    assert(out1.values.forall(_._5 === 0L), s"residual victim rows: $out1")
    // erasure happened and only on rewritten buckets
    val (hit, untouched) = out1.values.partition(_._4)
    assert(hit.nonEmpty && hit.map(_._3).sum > 0L,
      s"the five victims must erase some rows: $out1")
    hit.foreach { case (b, a, e, _, _) =>
      assert(a === b - e && e > 0L, s"rewritten bucket audit broken: $out1") }
    // untouched partitions must NOT be clobbered by the dynamic overwrite
    untouched.foreach { case (b, a, e, _, _) =>
      assert(a === b && e === 0L, s"an untouched bucket changed: $out1") }
    // idempotent: the steady-state erase re-run gives the identical audit
    val out2 = graft.operators.Warehouse.gdprErase(spark, sf0001, tag = "gdprspec")
      .collect()
      .map(r => r.getAs[Int]("cust_bucket") ->
        ((r.getAs[Long]("rows_before"), r.getAs[Long]("rows_after"),
          r.getAs[Long]("erased"), r.getAs[Boolean]("rewritten"),
          r.getAs[Long]("residual_victims")))).toMap
    assert(out2 === out1, "re-running the erase must be a no-op audit-wise")
  }

  test("gdprErase plan: the erase's source read is partition-pruned by the victim dim") {
    import org.apache.spark.sql.functions._
    // the erase ran in the previous test with tag=gdprspec; rebuild its
    // read shape against the materialized source table and pin pruning
    val app = spark.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val src = s"graft_orders_gdpr_src_sf0_001_${app}_gdprspec"
    assume(spark.catalog.tableExists(src))
    val victims = graft.sources.Tables.orders(spark, sf0001)
      .select(col("o_custkey")).distinct()
      .filter(graft.operators.Corpus.hashBucket(col("o_custkey")) < 10)
      .orderBy(col("o_custkey")).limit(5)
      .withColumn("cust_bucket", graft.operators.Corpus.hashBucket(col("o_custkey")))
    val affected = victims.select(col("cust_bucket")).distinct()
    val read = spark.table(src)
      .join(broadcast(affected), Seq("cust_bucket"), "left_semi")
    read.collect()
    assert(Plans.nodes(read).exists {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.partitionFilters.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression])
      case _ => false
    }, s"the bucket-partitioned source scan must be dynamically pruned " +
        s"by the victim dim:\n${read.queryExecution.executedPlan}")
  }
}
