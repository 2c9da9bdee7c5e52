package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.model.Schemas
import graft.pipeline.{KVRegistry, TributePipeline}
import graft.sources.Sources

/** Runnable demo of the flagship pipeline: replay event-batch JSON files in
  * order through `TributePipeline.run` and print the final state table.
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

  /** Stages the `.json` files of `streamDir` in a temporary directory, in
    * replay order with ascending modification times (the file source's
    * arrival order), drains them through `TributePipeline.run` into a
    * `file:` store and returns the store's snapshot, tributeId → item.
    * The store, the event log and the checkpoint live in the temporary
    * directory, which is deleted afterwards.
    */
  def replay(spark: SparkSession, streamDir: String, tributeCsv: String,
      gameJson: String): Map[String, Map[String, String]] = {
    val files = {
      val all = new java.io.File(streamDir).listFiles().filter(_.getName.endsWith(".json")).toSeq
      val known = replayOrder.flatMap(n => all.find(_.getName == s"$n.json"))
      known ++ all.filterNot(known.contains).sortBy(_.getName)
    }
    val work = Files.createTempDirectory("graft-main")
    try {
      val stream = Files.createDirectory(work.resolve("stream"))
      val t0 = System.currentTimeMillis() - 1000L * files.size
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = Files.copy(f.toPath, stream.resolve(f.getName))
        dst.toFile.setLastModified(t0 + i * 1000L)
      }
      val storeName = s"file:${work.resolve("store")}"
      val q = TributePipeline.run(
        Sources.eventStream(spark, stream.toString),
        Sources.tributeDim(spark, tributeCsv),
        Sources.gameDim(spark, gameJson),
        storeName, work.resolve("eventlog").toString, work.resolve("checkpoint").toString)
      try q.processAllAvailable() finally q.stop()
      KVRegistry.getOrCreate(storeName).snapshot()
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(work.toFile)
  }

  def main(args: Array[String]): Unit = {
    val Array(streamDir, tributeCsv, gameJson) = args
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-flagship")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val fields = Schemas.stateItemSchema.fieldNames.toSeq
    val rows = replay(spark, streamDir, tributeCsv, gameJson).toSeq.sortBy(_._1)
      .map { case (_, item) => Row.fromSeq(fields.map(item)) }
    val state = spark.createDataFrame(rows.asJava, Schemas.stateItemSchema)
    state.printSchema()
    state.show(100, truncate = false)
    spark.stop()
  }
}
