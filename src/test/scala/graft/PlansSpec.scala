package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The plan walker every plan-shape assertion reads through. */
class PlansSpec extends SparkSpec {

  test("Plans.nodes finds a window inside a cached relation, an AQE query stage and a scalar subquery") {
    import spark.implicits._
    // distinct partitionings, so the cache serves none of the other two
    def ranked(name: String, groups: Int) = spark.range(40).select($"id",
      row_number().over(Window.partitionBy($"id" % groups).orderBy($"id")).as(name))
    val scope = Caches.open()
    try {
      val cached = Caches.track(ranked("cached_rank", 4))
      // the staged window feeds the aggregate's shuffle, so once AQE has
      // run the query it sits inside a query stage
      val df = ranked("staged_rank", 5).join(cached, "id")
        .groupBy($"staged_rank").agg(max($"cached_rank").as("m"))
        .withColumn("top", ranked("sub_rank", 3).agg(max($"sub_rank")).scalar())
      assert(df.collect().length === 8)
      val found = Plans.nodes(df).collect { case w: WindowExec => w.windowExpression.map(_.name) }.flatten
      assert(Set("cached_rank", "staged_rank", "sub_rank").subsetOf(found.toSet),
        s"windows found: $found\n${df.queryExecution.executedPlan}")
    } finally scope.release()
  }
}
