package graft

import graft.operators.TextAnalysis

/** Invariant coverage for the text-analysis evaluation operators (the
  * per-row q16–q19 projections are covered by the DuckDB oracle gate).
  */
class TextAnalysisSpec extends SparkSpec {

  test("langidConfusion: rows partition each label, recalls sum to 1") {
    val got = TextAnalysis.langidConfusion(spark, sf0001).collect()
      .map(r => (r.getAs[String]("labelled"), r.getAs[String]("predicted"),
        r.getAs[Long]("n"), r.getAs[Long]("n_labelled"),
        r.getAs[Double]("recall")))
    graft.Caches.releaseAll()
    assert(got.map(_._3).sum === 500L, "every document lands in one cell")
    got.groupBy(_._1).foreach { case (lab, rows) =>
      val nLab = rows.head._4
      assert(rows.forall(_._4 === nLab))
      assert(rows.map(_._3).sum === nLab,
        s"cells of $lab must partition its $nLab docs")
      assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-12,
        s"recalls of $lab must sum to 1")
    }
    // the matrix reports the classifier, it does not promise accuracy:
    // only the label vocabulary is pinned
    assert(got.map(_._2).toSet.subsetOf(Set("en", "es", "fr", "de", "und")))
  }

  test("codeSwitchProfile: embedded foreign window, und window, tie priority, partial tail") {
    import spark.implicits._
    val docs = Seq(
      // [en en en en][es es es es][en-ish + noise]: 1 foreign, 2 switches
      (1L, "en", "the and of to el la de que the is xx yy"),
      // no marker evidence at all: one und window, not "foreign"
      (2L, "en", "zz yy xx ww"),
      // en/es tie resolves to en by priority; the doc label is es,
      // so the window counts as FOREIGN mass
      (3L, "es", "the el xx yy"),
      // 5 tokens at window 4: a 1-token partial tail window
      (4L, "en", "the and of to the"),
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis.codeSwitchProfile(docs, window = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_und"),
          r.getAs[Long]("n_foreign"), r.getAs[Long]("n_switches")))).toMap
    assert(got(1L) === ((3L, 0L, 1L, 2L)))
    assert(got(2L) === ((1L, 1L, 0L, 0L)))
    assert(got(3L) === ((1L, 0L, 1L, 0L)))
    assert(got(4L) === ((2L, 0L, 0L, 0L)))
  }

  test("codeSwitchProfile plan: zero exchanges — the whole profile is one row-local projection") {
    val df = TextAnalysis.codeSwitchProfile(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    val ns = Plans.nodes(df)
    assert(!ns.exists(Plans.isExchange),
      s"window slicing, argmax, and the switch walk are HOFs — no shuffle:\n$plan")
    assert(!ns.exists(p => Plans.isJoin(p) || p.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
      s"no explode, no join:\n$plan")
  }
}
