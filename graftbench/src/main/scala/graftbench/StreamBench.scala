package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.pipeline.{KVRegistry, TributePipeline}
import graft.sources.Sources

/** The directories one streaming query owns. */
final class StreamDirs(root: Path) {
  val stream: Path = Files.createDirectories(root.resolve("stream"))
  val staging: Path = Files.createDirectories(root.resolve("staging"))
  val log: Path = root.resolve("eventlog")
  val ckpt: Path = root.resolve("checkpoint")
  val storeName: String = "file:" + root.resolve("kv")
}

/** One drained or paced query: its files, in publication order, and the
  * micro-batches that carried them. Batch `i` carries file `i`, because
  * the source takes one file per trigger in modification-time order. */
final case class StreamRun(queryId: String, startMs: Long, endMs: Long,
    files: IndexedSeq[StreamFile], dueMs: IndexedSeq[Long], publishedMs: IndexedSeq[Long],
    batches: IndexedSeq[StreamingQueryProgress]) {
  def events: Int = files.map(_.eventIds.size).sum
  def batchStartMs(i: Int): Long = Instant.parse(batches(i).timestamp).toEpochMilli
  def batchEndMs(i: Int): Long = batchStartMs(i) + batches(i).durationMs.get("triggerExecution")
  def aligned: Boolean = batches.size == files.size &&
    batches.indices.forall(i => batches(i).numInputRows >= files(i).eventIds.size)
  /** Per event: milliseconds from its file's due time to the end of the
    * micro-batch that carried it. */
  def latenciesMs: IndexedSeq[Double] =
    for (i <- files.indices; _ <- files(i).eventIds) yield (batchEndMs(i) - dueMs(i)).toDouble
}

object StreamBench {
  /** Both dimensions, loaded and cached as the pipeline expects. */
  def dims(s: SparkSession, tributeCsv: Path, gameJson: Path): (DataFrame, DataFrame) = {
    val t = Sources.tributeDim(s, tributeCsv.toString)
    val g = Sources.gameDim(s, gameJson.toString)
    t.count(); g.count()
    (t, g)
  }

  def start(s: SparkSession, d: StreamDirs, dims: (DataFrame, DataFrame)): StreamingQuery =
    TributePipeline.run(Sources.eventStream(s, d.stream.toString), dims._1, dims._2,
      d.storeName, d.log.toString, d.ckpt.toString)

  private def dataBatches(q: StreamingQuery): IndexedSeq[StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).toIndexedSeq

  /** Starts a query over `warm` (untimed: the engine's first batches pay
    * codegen and JIT), then measures `files`: with no `periodMs` they are
    * a backlog, published at once and drained; with a period it is an
    * open loop, where one generator thread publishes file `k` at
    * `t0 + k * periodMs` whatever the query is doing. The run ends when
    * the last batch commits. Returns the warm-up wall ms and the run. */
  def run(s: SparkSession, d: StreamDirs, dims: (DataFrame, DataFrame), warm: Seq[StreamFile],
      files: IndexedSeq[StreamFile], periodMs: Option[Long]): (Long, StreamRun) = {
    val mtime0 = System.currentTimeMillis() - 600000L
    warm.zipWithIndex.foreach { case (f, i) => StreamFile.publish(f, d.staging, d.stream, mtime0 + i * 1000L) }
    val tw = System.currentTimeMillis()
    val q = start(s, d, dims)
    try {
      q.processAllAvailable()
      val warmMs = System.currentTimeMillis() - tw
      val warmBatches = dataBatches(q).size
      val t0 = System.currentTimeMillis() + periodMs.fold(0L)(_ => 200L)
      val due = files.indices.map(k => t0 + periodMs.fold(0L)(_ * k))
      val published = new Array[Long](files.size)
      val gen = new Thread(() => files.indices.foreach { k =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        StreamFile.publish(files(k), d.staging, d.stream,
          periodMs.fold(mtime0 + 300000L + k * 1000L)(_ => due(k)))
        published(k) = System.currentTimeMillis()
      }, "graftbench-generator")
      gen.start()
      gen.join()
      q.processAllAvailable()
      val t1 = System.currentTimeMillis()
      (warmMs, StreamRun(q.id.toString, t0, t1, files, due, published.toIndexedSeq,
        dataBatches(q).drop(warmBatches)))
    } finally q.stop()
  }

  /** One erase request: `forgetTributes` on `victims`, returning its wall
    * milliseconds and audit rows (id, state evicted, log objects deleted,
    * residual state, residual log objects). */
  def erase(s: SparkSession, d: StreamDirs, victims: Seq[String])
      : (Long, Seq[(String, Boolean, Long, Boolean, Long)]) = {
    val t0 = System.currentTimeMillis()
    val rows = TributePipeline.forgetTributes(s, victims, d.storeName, d.log.toString).collect()
    val ms = System.currentTimeMillis() - t0
    (ms, rows.toSeq.map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3), r.getLong(4))))
  }

  def state(d: StreamDirs): Map[String, Map[String, String]] =
    KVRegistry.getOrCreate(d.storeName).snapshot()
}
