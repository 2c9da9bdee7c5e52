package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.sweepSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the library's unpartitioned windows all read bounded grid/decile
    // relations (spec-pinned, q256) — WindowExec's per-invocation WARN
    // floods the verify tail and buries real signals (round-19)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    def q(s: String): String = JsonEscape.quote(s)
    // A query that throws must be a LOUD red row, never a silent omission:
    // round 8's driver report simply lacked entries for 39 erroring queries
    // because the catch below only printed to stderr. Collect every failure
    // into errors.json beside the dumps so breakage is an explicit artifact.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      // local iteration: SPARK_GRAFT_ONLY=q105,q106; unset = full sweep
      .filter { case (name, _) => SparkEntry.selected(name) }
      .foreach { case (name, fn) =>
      // the parquet dump is the terminal action: scope the query and
      // release the caches its operators persisted for it (graft.Caches)
      val scope = Caches.open()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg.take(300)
      }
      finally scope.release()
    }
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED queries -> $outDir/errors.json")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
