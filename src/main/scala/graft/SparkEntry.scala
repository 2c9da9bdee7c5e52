package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Advanced, Corpus, Dedup, Multimodal, Prep, Quality, Relational, Similarity, TextAnalysis, Warehouse}
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB-equivalent in `oracleSql` with
  * IDENTICAL output column names; floating-point aggregates are routed
  * through DECIMAL on both sides so results hash-match bit-for-bit
  * (see graft.functions.Exact).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The testdata analog of the reference's enrichment pipeline: stream
    * events ⋈ two dims → ordered CASE status bands
    * (reference: script/TributeStreamingJob.py:106-135).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.statusBands(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(Seq(
    entries.AdvancedEntries.queries,
    entries.CorpusEntries.queries,
    entries.DedupEntries.queries,
    entries.MultimodalEntries.queries,
    entries.PrepEntries.queries,
    entries.QualityEntries.queries,
    entries.RelationalEntries.queries,
    entries.SimilarityEntries.queries,
    entries.WarehouseEntries.queries))

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables (driver correctness gate).
    */
  def oracleSql: Map[String, String] =
    merged(Seq(
    entries.AdvancedEntries.oracleSql,
    entries.CorpusEntries.oracleSql,
    entries.DedupEntries.oracleSql,
    entries.MultimodalEntries.oracleSql,
    entries.PrepEntries.oracleSql,
    entries.QualityEntries.oracleSql,
    entries.RelationalEntries.oracleSql,
    entries.SimilarityEntries.oracleSql,
    entries.WarehouseEntries.oracleSql))

  /** The session the query sweeps (Bench, Verify, ScaleSmoke) run in:
    * `local[cpus]` with one shuffle partition and one minimum file split
    * per core, UTC, no UI, and the context cleaner deleting superseded
    * reliable checkpoints (see [[Checkpoints]]). Callers add their own
    * memory settings before `getOrCreate`.
    */
  def sweepSession(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // read once at context creation
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")

  /** Whether the comma-separated query prefixes in `only` (the sweeps'
    * `SPARK_GRAFT_ONLY`, e.g. `q105,q21`) select query `name`. A prefix
    * matches the name itself or the name up to an underscore, so `q21`
    * selects `q21_*` but never `q210_*`; unset selects every query.
    */
  def selected(name: String, only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Boolean =
    only.forall(_.split(",").map(_.trim).exists(p => name == p || name.startsWith(p + "_")))

  /** Fold the per-family registries, refusing silent key collisions:
    * `++` would let two families register one query name and drop one
    * of them without a trace — the exact failure OracleCoverageSpec
    * could not see (both maps would lose the SAME key).
    */
  private def merged[A](parts: Seq[Map[String, A]]): Map[String, A] = {
    val m = parts.reduce(_ ++ _)
    require(m.size == parts.map(_.size).sum,
      "duplicate query keys across entry families")
    m
  }
}
