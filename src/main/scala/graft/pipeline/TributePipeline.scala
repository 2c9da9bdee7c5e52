package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DecimalType

import graft.ops.Status

/** Keyed last-writer-wins state sink — the engine-side equivalent of the
  * reference's DynamoDB `put_item` keyed on tributeId
  * (reference: script/TributeStreamingJob.py:49-66; key schema
  * cloudformation/template.yml:16-21). Implementations must be
  * thread-safe: puts arrive from executor task threads.
  */
trait KVStore extends Serializable {
  def put(key: String, item: Map[String, String]): Unit
  def get(key: String): Option[Map[String, String]]
  def snapshot(): Map[String, Map[String, String]]
  /** Physical key removal — the compliance-erase primitive (DynamoDB
    * `delete_item` in the reference's deployment). Idempotent: deleting
    * an absent key is a no-op. */
  def delete(key: String): Unit
}

/** In-memory KV store for local mode and tests. In local[*] executors share
  * the driver JVM, so a registry lookup by name resolves the same instance
  * from task threads; a real deployment swaps in a client-per-partition
  * implementation (DynamoDB/HBase/Redis) behind the same trait.
  */
final class InMemoryKVStore extends KVStore {
  private val m = new ConcurrentHashMap[String, Map[String, String]]()
  override def put(key: String, item: Map[String, String]): Unit = m.put(key, item)
  override def get(key: String): Option[Map[String, String]] = Option(m.get(key))
  override def snapshot(): Map[String, Map[String, String]] = m.asScala.toMap
  override def delete(key: String): Unit = { m.remove(key); () }
}

/** Durable file-backed [[KVStore]]: one file per key under `root`, every
  * put staged to a unique temp file and ATOMICALLY renamed over the key's
  * file — a reader (same JVM or another process) sees the old item or the
  * new one, never a torn write; last rename wins, which is exactly the
  * keyed LWW contract. Deletes are physical unlinks, so the governed-erase
  * guarantees (RTBF state eviction, `forgetTributes`' residual check) are
  * proven against real bytes on disk rather than a heap map: after
  * `delete(k)`, `get(k)` is a filesystem probe that finds nothing.
  *
  * Encoding: keys URL-encode into file names (`k_<enc(key)>`); items are
  * one `enc(field)\tenc(value)` line each (a null value encodes as the
  * field alone), sorted by field for deterministic bytes. Everything is
  * reversible, so `snapshot()` is a directory scan. This mirrors the
  * event-log sink's discipline (one object per key, idempotent rewrite)
  * and stands in for the reference's DynamoDB table with actual
  * durability: a restarted process resolves the same root and reads the
  * state the previous run converged to.
  *
  * Concurrency: temp names are unique per put (no two writers collide),
  * rename is atomic within a filesystem, and readers tolerate keys
  * vanishing mid-scan (concurrent delete) by skipping them.
  */
final class FileKVStore(root: String) extends KVStore {
  import java.nio.file.{Files => JFiles, Paths => JPaths, StandardCopyOption}
  private def rootPath = {
    val p = JPaths.get(root)
    JFiles.createDirectories(p)
    p
  }
  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
  private def keyFile(key: String) = rootPath.resolve("k_" + enc(key))

  override def put(key: String, item: Map[String, String]): Unit = {
    val dir = rootPath
    val tmp = JFiles.createTempFile(dir, ".put-", ".tmp")
    val body = item.toSeq.sortBy(_._1).map { case (k, v) =>
      if (v == null) enc(k) else enc(k) + "\t" + enc(v)
    }.mkString("\n")
    JFiles.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try JFiles.move(tmp, keyFile(key),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        JFiles.move(tmp, keyFile(key), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def parse(body: String): Map[String, String] =
    body.split("\n").iterator.filter(_.nonEmpty).map { line =>
      line.split("\t", 2) match {
        case Array(k, v) => dec(k) -> dec(v)
        case Array(k) => dec(k) -> null
      }
    }.toMap

  override def get(key: String): Option[Map[String, String]] =
    try Some(parse(JFiles.readString(keyFile(key), StandardCharsets.UTF_8)))
    catch {
      case _: java.nio.file.NoSuchFileException => None
      case _: java.io.FileNotFoundException => None
    }

  override def snapshot(): Map[String, Map[String, String]] = {
    val out = Map.newBuilder[String, Map[String, String]]
    val stream = JFiles.list(rootPath)
    try stream.iterator().asScala.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("k_")) {
        try out += dec(n.stripPrefix("k_")) ->
          parse(JFiles.readString(p, StandardCharsets.UTF_8))
        catch {
          case _: java.nio.file.NoSuchFileException => // deleted mid-scan
          case _: java.io.FileNotFoundException =>
        }
      }
    } finally stream.close()
    out.result()
  }

  override def delete(key: String): Unit = {
    JFiles.deleteIfExists(keyFile(key))
    ()
  }
}

/** Name-keyed store registry. Names starting with `file:` resolve to a
  * durable [[FileKVStore]] rooted at the path after the prefix — and
  * because the NAME carries the full connection, task threads in ANY JVM
  * resolve equivalent clients over the same filesystem state (the
  * client-per-partition deployment shape, actually exercised). All other
  * names resolve to a per-JVM [[InMemoryKVStore]], which makes the
  * name-lookup-from-task-threads pattern a `local[*]` contract for them —
  * executors share the driver JVM here, so the task resolves the driver's
  * instance; on a real cluster each executor JVM would mint its own empty
  * map. See README "Design for scale" (the KV state store bullet).
  */
object KVRegistry {
  private val stores = new ConcurrentHashMap[String, KVStore]()
  def getOrCreate(name: String): KVStore =
    stores.computeIfAbsent(name, n =>
      if (n.startsWith("file:")) new FileKVStore(n.stripPrefix("file:"))
      else new InMemoryKVStore)
}

/** Hadoop Configuration is not Serializable; this wrapper ships it to
  * executors via its own Writable encoding so distributed file operations
  * (the forget-scrub's per-partition deletes) resolve the SAME FileSystem
  * the driver would — scheme, credentials, and all.
  */
private[pipeline] final class SerializableHadoopConf(
    @transient var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

/** The flagship continuous pipeline: stream-static enrich + two sinks
  * (reference: script/TributeStreamingJob.py:101-146).
  *
  * Two sink variants:
  *   - `run` (default): `foreachBatch`, one Spark action per micro-batch.
  *     The two dimensions are read once per query start, on its first data
  *     batch, and broadcast as key → rows maps ([[DimensionLookup]]); each
  *     batch is enriched against them partition by partition, with no join
  *     and no per-batch broadcast. One fused pass then repartitions the
  *     batch by tribute, writes every event's log object, and puts each
  *     tribute's last-arriving event as its state item — the batch-level
  *     last-writer-wins dedup that replaces the reference's one external
  *     put per row (its 5-WCU DynamoDB table was its de-facto output
  *     bottleneck). The arrival order LWW follows is explicit, see [[run]].
  *   - `runForeach`: per-row `ForeachWriter[Row]` parity sink — the direct
  *     mapping of the reference's `writeStream.foreach(write_data)`
  *     (script/TributeStreamingJob.py:78-82,139-144): one KV put + one log
  *     write per row, in record order per partition. Same converged state
  *     for single-partition batches (the reference's regime: one Kinesis
  *     shard); the foreachBatch path is the scale-correct default.
  *
  * At-least-once delivery from checkpointing + idempotent keyed upsert +
  * idempotent path-keyed log writes ⇒ converged output is effectively
  * exactly-once (SURVEY §2 #23).
  */
object TributePipeline {

  /** Name of the arrival-sequence column stamped by the streaming runners. */
  val ArrivalSeqCol = "__arrival_seq"

  // the source side of the streaming runners' arrival order, stamped at
  // wiring time: a file's modification time (µs) and path
  private val ArrivalMTimeCol = "__arrival_mtime"
  private val ArrivalPathCol = "__arrival_path"

  private def hasShuffle(plan: SparkPlan): Boolean = {
    val searchRoot = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    searchRoot.collectFirst { case _: ShuffleExchangeLike => () }.isDefined
  }

  /** Enriched rows → 12-field state items, one per tribute: the event with
    * the highest `arrivalSeq` per tribute wins (reference semantics: last
    * processed event per key, README.md:109-111). `arrivalSeq` must be an
    * expression over `enriched`'s columns that is monotone in arrival
    * order — a source offset, a (batch ordinal, record index) encoding, or
    * a column stamped on the raw source scan before any shuffle.
    */
  def latestStatePerTribute(enriched: DataFrame, arrivalSeq: Column): DataFrame = {
    val w = Window.partitionBy(col("tributeid")).orderBy(arrivalSeq.desc)
    val latest = enriched
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    Status.stateItem(latest)
  }

  /** Convenience overload deriving arrival order from physical layout
    * (`monotonically_increasing_id()`): valid ONLY while the input plan is
    * shuffle-free, because the id encodes (partition ordinal, row index) and
    * tracks record arrival order only when partition ordinals track
    * file/record order. Guarded: refuses a plan containing a shuffle
    * exchange rather than silently picking an arbitrary "winner" — callers
    * with a shuffled input must supply an explicit `arrivalSeq`. (The guard
    * inspects the physical plan; a cached input hides its upstream plan and
    * is accepted — cache preserves the partition order it captured.)
    */
  def latestStatePerTribute(enriched: DataFrame): DataFrame = {
    // forcing executedPlan on a streaming frame throws an unrelated
    // "must be executed with writeStream.start()" AnalysisException from
    // inside this guard — reject streaming inputs with the actionable
    // message first (streaming callers use streaming/StreamingOps.lwwState)
    require(!enriched.isStreaming,
      "latestStatePerTribute(df) inspects the batch physical plan and cannot " +
        "accept a streaming DataFrame; use StreamingOps.latestStatePerUser / " +
        "foreachBatch upsert for streams, or pass an explicit arrivalSeq column")
    require(!hasShuffle(enriched.queryExecution.executedPlan),
      "latestStatePerTribute(df) derives arrival order from physical layout, " +
        "which a shuffle upstream destroys; pass an explicit arrivalSeq column " +
        "captured at the source (latestStatePerTribute(df, arrivalSeq))")
    latestStatePerTribute(
      enriched.withColumn(ArrivalSeqCol, monotonically_increasing_id()),
      col(ArrivalSeqCol))
  }

  /** JSON-serialize a full row with the reference's decimal parity: the
    * reference's `DecimalEncoder` renders `Decimal` values as JSON
    * *strings* (`str(decimal)` — reference: script/TributeStreamingJob.py:
    * 41-45, applied at :73), so every decimal column is cast to string
    * before `to_json`. Strings render the value at its carried scale,
    * exactly as `str()` of the same decimal does.
    */
  private[graft] def rowJson(enriched: DataFrame): Column = {
    val fields = enriched.schema.fields.toIndexedSeq.map { f =>
      if (f.dataType.isInstanceOf[DecimalType]) col(f.name).cast("string").as(f.name)
      else col(f.name)
    }
    to_json(struct(fields: _*))
  }

  /** One event-history log object: the full enriched row's JSON,
    * path-keyed by streamingeventid (reference:
    * script/TributeStreamingJob.py:70-74, path data/<id>.json). An
    * overwrite, so a re-run of the same event rewrites the same bytes.
    */
  private def writeLogObject(logDir: String, eventId: String, json: String): Unit = {
    Files.write(Paths.get(logDir, eventId + ".json"), json.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
      StandardOpenOption.WRITE)
    ()
  }

  /** Puts one state item, given as its 12-field struct, under its
    * tributeId: every value stringified, nulls kept null. */
  private def putStateItem(store: KVStore, st: Row): Unit = {
    val item = st.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (if (st.isNullAt(i)) null else st.get(i).toString) }
      .toMap
    store.put(item("tributeId"), item)
  }

  /** Stamps the source side of the arrival order on the streaming frame.
    * A file source carries `_metadata` (checked here, at wiring time), and
    * its file's modification time and path are stamped; any other source
    * (a broker frame, a decoded message stream, a memory stream) has no
    * file to order by, and stamps constants.
    */
  private def stampSource(events: DataFrame): DataFrame = {
    val mtime = col("_metadata.file_modification_time")
    val path = col("_metadata.file_path")
    if (Try(events.select(mtime, path).schema).isSuccess)
      events.withColumn(ArrivalMTimeCol, unix_micros(mtime)).withColumn(ArrivalPathCol, path)
    else
      events.withColumn(ArrivalMTimeCol, lit(0L)).withColumn(ArrivalPathCol, lit(""))
  }

  /** Wire the continuous query: enrich → foreachBatch(append log + upsert),
    * checkpointed (reference: script/TributeStreamingJob.py:139-144).
    *
    * Each data micro-batch runs ONE Spark action: a shuffle by tribute
    * feeding one pass that writes the batch's log objects and puts its
    * state items, so per tribute the log is written before the state. A
    * retried task is idempotent: it rewrites the same path-keyed log
    * objects and puts the same winners. `tributes` and `games` are read
    * once per query start, when its first data batch builds the
    * [[DimensionLookup]]; later changes to them are not seen until the
    * query restarts.
    *
    * Last writer wins in arrival order, `(file modification time, file
    * path, in-partition id)`: the file source hands a trigger's files over
    * in modification-time order, so the latest file's event wins however
    * the files are packed into partitions, and within a file the later
    * record wins. The in-partition id (`monotonically_increasing_id`) is
    * stamped on the RAW batch, before enrichment or anything else, so any
    * downstream shuffle merely carries it. Sources without `_metadata`
    * order by the in-partition id alone, which tracks arrival order only
    * while one batch is one ordered partition (one shard, one file per
    * trigger) — as the reference's single Kinesis shard is.
    */
  def run(
      streamingEvents: DataFrame,
      tributes: DataFrame,
      games: DataFrame,
      storeName: String,
      logDir: String,
      checkpointDir: String): StreamingQuery = {
    lazy val dims = DimensionLookup(tributes, games)
    stampSource(streamingEvents).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, dims, storeName, logDir)
      }
      .start()
  }

  private def processBatch(
      batch: DataFrame,
      dims: DimensionLookup,
      storeName: String,
      logDir: String): Unit = {
    val enriched = dims.enrich(batch.withColumn(ArrivalSeqCol, monotonically_increasing_id()))
    val logged = enriched.drop(ArrivalMTimeCol, ArrivalPathCol, ArrivalSeqCol)
    val payload = enriched.select(
      col("tributeid").cast("string").as("__key"),
      col(ArrivalMTimeCol), col(ArrivalPathCol), col(ArrivalSeqCol),
      col("streamingeventid").cast("string"),
      rowJson(logged),
      struct(Status.stateItemCols: _*))
    Files.createDirectories(Paths.get(logDir))
    payload.repartition(col("__key")).foreachPartition { rows: Iterator[Row] =>
      writeBatchPartition(rows, storeName, logDir)
    }
  }

  /** The fused sink of one shuffle partition, which holds every event of
    * its tributes: each row's log object, then each tribute's
    * last-arriving row as its state item. Payload layout: (key, mtime,
    * path, seq, streamingeventid, full-row JSON, 12-field state struct).
    */
  private def writeBatchPartition(rows: Iterator[Row], storeName: String, logDir: String): Unit = {
    def arrivedAfter(a: Row, b: Row): Boolean =
      if (a.getLong(1) != b.getLong(1)) a.getLong(1) > b.getLong(1)
      else if (a.getString(2) != b.getString(2)) a.getString(2) > b.getString(2)
      else a.getLong(3) > b.getLong(3)
    val latest = new java.util.HashMap[String, Row]()
    rows.foreach { r =>
      writeLogObject(logDir, r.getString(4), r.getString(5))
      val prev = latest.get(r.getString(0))
      if (prev == null || arrivedAfter(r, prev)) latest.put(r.getString(0), r)
    }
    val store = KVRegistry.getOrCreate(storeName)
    latest.values.forEach(r => putStateItem(store, r.getStruct(6)))
  }

  /** The forget/tombstone side tables inherit the main store's
    * durability: for a `file:` store they live in hidden subdirectories
    * of its root (invisible to the parent's `k_`-prefixed snapshot
    * scan), so victim registrations and erase audits survive restarts
    * exactly like the state they govern — a forget request that died
    * with the JVM would be a compliance hole, not an inconvenience.
    */
  private[graft] def forgetStoreName(storeName: String): String =
    if (storeName.startsWith("file:")) s"$storeName/__forget"
    else s"forget:$storeName"
  private[graft] def tombstoneStoreName(storeName: String): String =
    if (storeName.startsWith("file:")) s"$storeName/__tombstones"
    else s"tombstones:$storeName"

  /** Right-to-be-forgotten propagation for the STREAMING side — q276's
    * twin. The batch erase rewrites warehouse partitions; a streaming
    * pipeline additionally owns (a) the KV state table, (b) the
    * path-keyed append event log (reference:
    * script/TributeStreamingJob.py:70-74 — one object per
    * streamingeventid, which is exactly why the log can be scrubbed
    * without rewriting unrelated objects), and (c) FUTURE batches, which
    * will keep re-materializing the victim unless the forget request
    * outlives the erase. So the op does all three:
    *
    *  1. registers the victims in a standing forget store (consulted by
    *     [[runGoverned]] on every micro-batch — including batches
    *     replayed after a checkpoint restart, which is what makes the
    *     erase RESTART-SAFE: an at-least-once replay of the victim's
    *     events is admitted by the filter exactly never);
    *  2. evicts the victims' keys from the KV state table (physical
    *     `delete`, not an overwrite);
    *  3. deletes the victims' event-log objects: a DISTRIBUTED scan of
    *     the log keyed by the `tributeid` field each object carries —
    *     the deletion set is bounded by the victims' own events, the
    *     q276 DPP analogue (executors delete their partition's matches;
    *     nothing row-scaled crosses the driver);
    *  4. writes one tombstone per victim to an audit store and returns
    *     the audit as a DataFrame: state_evicted, log_files_deleted,
    *     and the re-scanned residuals (both must read zero — the spec's
    *     full-erase invariant).
    *
    * Idempotent: a re-run evicts nothing, deletes nothing, and reports
    * the same zero residuals (tombstones record the LATEST audit).
    * Untouched keys/objects are never read for mutation — only the
    * victims' rows leave the scan filter.
    *
    * In-flight batches need no quiesce: the scrub reads the log at a
    * point in time, and [[runGoverned]] reads the forget snapshot at
    * micro-batch START — a batch already in flight when the erase runs
    * was admitted under the PRE-erase snapshot and may re-append victim
    * events after the scrub. [[runGoverned]] closes that race itself:
    * after each batch commits it diffs the forget store against the
    * batch's admission snapshot and re-runs the (idempotent)
    * [[scrubVictims]] core for any victim registered mid-flight, so the
    * erase converges to zero residuals by the end of the first
    * post-erase batch without stopping the query.
    */
  def forgetTributes(
      s: SparkSession,
      victims: Seq[String],
      storeName: String,
      logDir: String): DataFrame = {
    val forget = KVRegistry.getOrCreate(forgetStoreName(storeName))
    victims.foreach(v => forget.put(v, Map("tributeId" -> v)))
    val store = KVRegistry.getOrCreate(storeName)
    val hadState = victims.map(v => v -> store.get(v).isDefined).toMap
    val (deleted, residualLog) = scrubVictims(s, victims, storeName, logDir)
    val tomb = KVRegistry.getOrCreate(tombstoneStoreName(storeName))
    val audit = victims.map { v =>
      val row = (v, hadState(v), deleted.getOrElse(v, 0L),
        store.get(v).isDefined, residualLog.getOrElse(v, 0L))
      tomb.put(v, Map(
        "tributeId" -> v,
        "stateEvicted" -> row._2.toString,
        "logFilesDeleted" -> row._3.toString,
        "residualState" -> row._4.toString,
        "residualLog" -> row._5.toString))
      row
    }
    import s.implicits._
    audit.toDF("tribute_id", "state_evicted", "log_files_deleted",
      "residual_state", "residual_log")
  }

  /** The state-evict + log-scrub core shared by [[forgetTributes]] and
    * [[runGoverned]]'s post-batch residual re-scrub: evict the victims'
    * keys from the KV state table, then physically delete their event-log
    * objects. Returns (log files deleted, residual log files after the
    * scrub) per victim. Idempotent — a re-run deletes nothing and reports
    * the same zero residuals.
    */
  private[graft] def scrubVictims(
      s: SparkSession,
      victims: Seq[String],
      storeName: String,
      logDir: String): (Map[String, Long], Map[String, Long]) = {
    val store = KVRegistry.getOrCreate(storeName)
    victims.foreach(store.delete)
    // distributed log scrub: every object carries its tributeid; the
    // filter bounds the deletion set to the victims' events. Deletes go
    // through the Hadoop FileSystem resolved from each path's scheme, so
    // the scrub works on file:, hdfs:, and s3a: logs alike (the
    // reference's log is S3), and a delete that fails with the object
    // still present aborts the task — the audit must never count a file
    // whose victim bytes survived (Warehouse.gdprErase's delete contract).
    def victimLogCounts(delete: Boolean): Map[String, Long] = {
      val logPath = new org.apache.hadoop.fs.Path(logDir)
      val dfs = logPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val hasFiles = dfs.isDirectory(logPath) &&
        dfs.listFiles(logPath, false).hasNext
      if (!hasFiles) Map.empty
      else {
        val matches = s.read.json(logDir)
          .select(col("tributeid").cast("string").as("tid"),
            input_file_name().as("path"))
          .filter(col("tid").isin(victims: _*))
        val confBc = s.sparkContext.broadcast(
          new SerializableHadoopConf(s.sparkContext.hadoopConfiguration))
        val counted = matches.rdd.mapPartitions { rows =>
          val conf = confBc.value.conf
          rows.map { r =>
            if (delete) {
              val p = new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(1)))
              val fs = p.getFileSystem(conf)
              // delete()=false with the path still present = FAILURE;
              // false on an already-gone path is fine (idempotent re-run)
              if (!fs.delete(p, false) && fs.exists(p))
                throw new java.io.IOException(
                  s"scrubVictims: failed to delete log object $p — " +
                    "victim bytes still on disk")
            }
            (r.getString(0), 1L)
          }
        }.reduceByKey(_ + _).collect() // <= |victims| rows: the audit itself
        counted.toMap
      }
    }
    (victimLogCounts(delete = true), victimLogCounts(delete = false))
  }

  /** [[run]] with the forget filter applied per micro-batch: events of
    * forgotten tributes are dropped BEFORE enrichment, so neither sink
    * ever sees them again — including on checkpoint-restart replays
    * (the forget store is consulted at batch time, not at query wiring
    * time, so requests registered mid-stream take effect from the next
    * batch). With an empty forget store the plan is identical to
    * [[run]]'s.
    */
  def runGoverned(
      streamingEvents: DataFrame,
      tributes: DataFrame,
      games: DataFrame,
      storeName: String,
      logDir: String,
      checkpointDir: String,
      // test seam: runs after the batch's admission snapshot is taken and
      // before its writes — the only way to deterministically exercise an
      // erase landing mid-flight (production leaves the default no-op)
      onBatchAdmitted: () => Unit = () => ()): StreamingQuery = {
    lazy val dims = DimensionLookup(tributes, games)
    stampSource(streamingEvents).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val forget = KVRegistry.getOrCreate(forgetStoreName(storeName))
        val forgotten = forget.snapshot().keys.toSeq
        onBatchAdmitted()
        // Small forget sets stay an In-list (codegen'd, no join); a large
        // victim population would rebuild a huge literal list into every
        // micro-batch's plan (analysis + codegen cost per batch), so past
        // the threshold switch to a broadcast anti-join — same semantics,
        // plan size independent of |forgotten|.
        val admitted =
          if (forgotten.isEmpty) batch
          else if (forgotten.size <= 64) batch.filter(
            !col("tributeid").cast("string").isin(forgotten: _*))
          else {
            import batch.sparkSession.implicits._
            val ids = forgotten.toDF("__forgotten_id")
            batch.join(broadcast(ids),
              batch.col("tributeid").cast("string") === col("__forgotten_id"),
              "left_anti")
          }
        processBatch(admitted, dims, storeName, logDir)
        // In-flight erase race (round-15 advice): an erase that landed
        // AFTER this batch's admission snapshot was taken saw a log/state
        // point-in-time that this batch's writes may have just re-polluted
        // (the batch was admitted under the pre-erase snapshot). Re-scrub
        // those victims NOW, after the batch's writes committed — the
        // scrub is idempotent, so a victim the batch never touched costs
        // one no-op pass, and the erase needs no manual quiesce.
        val raced = (forget.snapshot().keys.toSet -- forgotten).toSeq.sorted
        if (raced.nonEmpty) {
          scrubVictims(batch.sparkSession, raced, storeName, logDir)
          ()
        }
      }
      .start()
  }

  /** Per-row parity writer: one KV put + one event-log file per processed
    * row, the direct mapping of the reference's `write_data` callback
    * (reference: script/TributeStreamingJob.py:78-82 — put_item at :49-66,
    * S3 put at :70-74). Row layout: (streamingeventid, full-row JSON,
    * 12-field state struct).
    */
  private final class TributeForeachWriter(storeName: String, logDir: String)
    extends ForeachWriter[Row] {
    @transient private var store: KVStore = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      store = KVRegistry.getOrCreate(storeName)
      Files.createDirectories(Paths.get(logDir))
      true
    }
    override def process(r: Row): Unit = {
      writeLogObject(logDir, r.getString(0), r.getString(1))
      putStateItem(store, r.getStruct(2))
    }
    override def close(errorOrNull: Throwable): Unit = ()
  }

  /** The reference's exact sink shape: `writeStream.foreach(writer)`, row at
    * a time (SURVEY §2 #19's first mapping). Last-writer-wins emerges from
    * put order, as in the reference: rows are processed in record order per
    * partition, so with single-partition micro-batches (the reference's
    * 1-shard regime, and the fixture replay) the converged state is
    * identical to the batch path. Prefer `run` at scale.
    */
  def runForeach(
      streamingEvents: DataFrame,
      tributes: DataFrame,
      games: DataFrame,
      storeName: String,
      logDir: String,
      checkpointDir: String): StreamingQuery = {
    val enriched = Status.enrich(streamingEvents, tributes, games)
    val payload = enriched.select(
      col("streamingeventid").cast("string"),
      rowJson(enriched),
      struct(Status.stateItemCols: _*))
    payload.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreach(new TributeForeachWriter(storeName, logDir))
      .start()
  }
}
