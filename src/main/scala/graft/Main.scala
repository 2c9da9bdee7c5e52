package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}

import graft.ops.Status
import graft.pipeline.TributePipeline
import graft.sources.Sources

/** Runnable demo of the flagship pipeline: replay event-batch JSON files in
  * order through enrich + latest-state and print the final state table.
  *
  * Usage: runMain graft.Main <streamingDataDir> <tributeCsv> <gameJson>
  */
object Main {
  /** Reference replay order (reference: README.md:138-185). Files not in
    * this list run after the known ones, alphabetically.
    */
  private val replayOrder = Seq(
    "preCornucopia", "postCornucopia", "aFewDaysAfterCornucopia",
    "katnissEdgeOfMap", "katnissInjured", "afterSponsorHelpsKatniss",
    "afterRue", "almostTheEnd", "theEnd")

  def main(args: Array[String]): Unit = {
    val Array(streamDir, tributeCsv, gameJson) = args
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-flagship")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // read once at context creation: with the reliable-checkpoint knob
      // (spark.graft.checkpointDir) active, superseded superstep dirs are
      // deleted when their RDDs are GC'd instead of growing unboundedly
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val files = {
      val all = new java.io.File(streamDir).listFiles()
        .filter(_.getName.endsWith(".json")).map(_.getPath).toSeq
      val known = replayOrder.flatMap(n => all.find(_.endsWith(s"/$n.json")))
      known ++ (all.toSet -- known.toSet).toSeq.sorted
    }
    // arrival order, stamped per file before the union: the file's ordinal
    // in the replay order, then the event's index in its file. A multi-line
    // JSON file is read as one partition, so on a one-file frame
    // `monotonically_increasing_id` is the in-file index (< 2^33).
    val events = files.zipWithIndex.map { case (f, i) =>
      Sources.eventBatch(spark, f).withColumn(TributePipeline.ArrivalSeqCol,
        lit(i.toLong << 33) + monotonically_increasing_id())
    }.reduce(_ unionAll _)
    val tributes = Sources.tributeDim(spark, tributeCsv)
    val games = Sources.gameDim(spark, gameJson)

    // schema introspection ×3, mirroring the reference's observability
    // surface (reference: script/TributeStreamingJob.py:87,98,137)
    tributes.printSchema()
    games.printSchema()

    val enriched = Status.enrich(events, tributes, games)
    enriched.printSchema()
    println(s"events enriched: ${enriched.count()}")
    val state = TributePipeline.latestStatePerTribute(enriched, col(TributePipeline.ArrivalSeqCol))
      .orderBy("tributeId")
    state.show(100, truncate = false)
    spark.stop()
  }
}
