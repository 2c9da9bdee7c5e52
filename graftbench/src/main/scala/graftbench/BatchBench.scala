package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Tables

/** One timed execution of one library query. */
final case class QueryRep(query: String, rep: Int, ms: Long, tag: String)

object BatchBench {
  /** The stage chains ROADMAP item 3 targets (q295, q273, q283, q161),
    * the four bounded-buffer kernels of item 4 (q24, q209, q239, q241),
    * the heaviest `Derived` build (q245) and a scan-and-aggregate
    * control (q02). */
  val Queries: IndexedSeq[String] = IndexedSeq(
    "q02_agg_pricing_summary", "q24_ann_topk", "q161_lorenz_curve",
    "q209_daily_uniques", "q239_price_quantile_sketch", "q241_mass_estimate",
    "q245_nb_confusion", "q273_signal_agreement", "q283_pagerank",
    "q295_delta_pair_update")

  def short(q: String): String = q.takeWhile(_ != '_')

  /** Touches the main tables once, as `graft.Bench` does before timing. */
  def warmTables(s: SparkSession, sf: String): Unit = {
    import org.apache.spark.sql.functions.spark_partition_id
    Seq(Tables.lineitem(s, sf), Tables.orders(s, sf), Tables.customer(s, sf),
      Tables.events(s, sf), Tables.documents(s, sf), Tables.embeddings(s, sf))
      .foreach(_.limit(1000).groupBy(spark_partition_id()).count().collect())
  }

  /** Runs `q` once through the public entry point; `out` keeps the rows
    * for the oracle check, otherwise they go to the `noop` sink. Jobs
    * carry the job tag `tag`. */
  def runOnce(s: SparkSession, sf: String, q: String, tag: String, out: Option[Path]): Long = {
    val sc = s.sparkContext
    sc.addJobTag(tag)
    val t0 = System.nanoTime()
    try {
      val w = SparkEntry.queries(q)(s, sf).write.mode("overwrite")
      out match {
        case Some(p) => w.parquet(p.resolve(q).toString)
        case None => w.format("noop").save()
      }
      (System.nanoTime() - t0) / 1000000L
    } finally {
      sc.removeJobTag(tag)
      s.catalog.clearCache()
    }
  }

  /** A cold pass that keeps every output, then warm passes over the same
    * order until `seconds` have gone by (at least one). */
  def run(s: SparkSession, sf: String, order: Seq[String], seconds: Int, out: Path)
      : (Seq[QueryRep], Seq[QueryRep]) = {
    val cold = order.map(q => QueryRep(q, 0, runOnce(s, sf, q, s"gb-${short(q)}-r0", Some(out)), s"gb-${short(q)}-r0"))
    val warm = Seq.newBuilder[QueryRep]
    val t0 = System.currentTimeMillis()
    var rep = 0
    while (rep == 0 || System.currentTimeMillis() - t0 < seconds * 1000L) {
      rep += 1
      order.foreach { q =>
        val tag = s"gb-${short(q)}-r$rep"
        warm += QueryRep(q, rep, runOnce(s, sf, q, tag, None), tag)
      }
    }
    (cold, warm.result())
  }
}
