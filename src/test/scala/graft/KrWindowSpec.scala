package graft

import graft.functions.KrWindowFp

/** Unit coverage for the Karp–Rabin rolling-window fingerprint kernel. */
class KrWindowSpec extends SparkSpec {

  /** BigInt direct-sum replay: h = Σ t_j·B^{k-1-j} mod M, t_j the first
    * 12 hex chars of md5(token) — no rolling, no Mersenne tricks. */
  private def replay(words: Seq[String], k: Int): Seq[String] = {
    def tok(w: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(12), 16)
    }
    val m = BigInt(KrWindowFp.M)
    val t = words.map(w => BigInt(tok(w)))
    (0 to words.length - k).map { i =>
      def h(b: Long): BigInt =
        (0 until k).map(j => t(i + j) * BigInt(b).modPow(k - 1 - j, m))
          .sum.mod(m)
      s"${h(KrWindowFp.B1)}:${h(KrWindowFp.B2)}"
    }
  }

  test("kernel equals the BigInt direct-sum replay; equal windows share fps, shifted content realigns") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val pool = Vector("alpha", "beta", "gamma", "delta", "x", "yy", "zzz")
    val texts = (0 until 25).map { i =>
      val n = 2 + rnd.nextInt(40)
      i.toLong -> Seq.fill(n)(pool(rnd.nextInt(pool.length)))
    }
    for (k <- Seq(2, 3, 8)) {
      val df = texts.toDF("id", "w")
        .select($"id", KrWindowFp.krWindowFp($"w", k).as("fps"))
      val got = df.collect()
        .map(r => r.getAs[Long]("id") ->
          r.getAs[scala.collection.Seq[String]]("fps").toSeq).toMap
      texts.foreach { case (id, w) =>
        val exp = if (w.length >= k) replay(w, k) else Seq.empty
        assert(got(id) === exp, s"doc $id k=$k diverged from the replay")
      }
    }
    // a shared run at DIFFERENT positions yields the same window fps —
    // the property the exact-substring anchor pass depends on
    val shared = Seq("one", "two", "three", "four", "five", "six", "seven", "eight")
    val a = Seq("pre", "amble") ++ shared ++ Seq("tail")
    val b = Seq("completely", "different", "opening", "words", "here") ++ shared
    val fa = replay(a, 8)
    val fb = replay(b, 8)
    assert(fa.contains(replay(shared, 8).head) && fb.contains(replay(shared, 8).head),
      "the shared 8-token window must fingerprint identically at any offset")
  }

  test("expression participates in whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a non-foldable input (derived from range) so neither constant
    // folding nor LocalTableScan hides the projection
    val df = spark.range(3).select(KrWindowFp.krWindowFp(
      split(concat(lit("a b c d "), $"id".cast("string")), " "), 2).as("fps"))
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    // the projection computing the kernel runs inside codegen stage 1
    assert(Plans.nodes(df).exists {
      case w: WholeStageCodegenExec => w.codegenStageId == 1 && (w.child match {
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[KrWindowFp]))
        case _ => false
      })
      case _ => false
    }, s"kr_window_fp must not break whole-stage codegen:\n${df.queryExecution.executedPlan}")
    assert(df.collect().head.getAs[scala.collection.Seq[String]]("fps").size === 4)
  }

  test("null array elements hash as the sentinel token instead of NPEing the task") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // kr_window_fp is a PUBLIC SQL function (GraftExtensions): a user
    // query with a NULL element must not crash the job (the round-13
    // advisor finding). Literal array with a typed null, k=2.
    val viaExpr = spark.range(1).select(KrWindowFp.krWindowFp(
      array(lit("a"), lit(null).cast("string"), lit("b")), 2).as("fps"))
      .collect().head.getAs[scala.collection.Seq[String]]("fps")
    assert(viaExpr.size === 2, "3 tokens, k=2 => 2 windows even with a null")
    // the sentinel is deterministic: two docs with nulls at the same
    // positions fingerprint identically; a null is NOT the empty string
    val df = Seq(
      (0L, Seq("a", null, "b")), (1L, Seq("a", null, "b")),
      (2L, Seq("a", "", "b"))).toDF("id", "w")
      .select($"id", KrWindowFp.krWindowFp($"w", 2).as("fps"))
    val got = df.collect().map(r =>
      r.getLong(0) -> r.getAs[scala.collection.Seq[String]]("fps").toSeq).toMap
    assert(got(0L) === got(1L), "null sentinel must be deterministic")
    assert(got(0L) !== got(2L), "null must not collide with the empty string")
  }

  test("mulmod/powmod agree with BigInt across edge magnitudes") {
    val m = BigInt(KrWindowFp.M)
    val rnd = new scala.util.Random(7L)
    val edges = Seq(0L, 1L, 2L, KrWindowFp.M - 1, KrWindowFp.M - 2,
      (1L << 48) - 1, (1L << 60) + 12345L)
    val samples = edges ++ Seq.fill(200)(math.abs(rnd.nextLong()) % KrWindowFp.M)
    for (a <- samples; b <- edges) {
      assert(BigInt(KrWindowFp.mulmod(a, b)) === (BigInt(a) * b).mod(m),
        s"mulmod($a, $b)")
    }
    for (e <- Seq(0, 1, 2, 7, 31, 63)) {
      assert(BigInt(KrWindowFp.powmod(KrWindowFp.B1, e)) ===
        BigInt(KrWindowFp.B1).modPow(e, m), s"powmod(B1, $e)")
    }
  }
}
