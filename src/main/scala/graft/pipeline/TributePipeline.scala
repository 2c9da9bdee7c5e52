package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, MapType, StringType, StructType}

import graft.streaming.LocalCheckpointFileManager

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
  /** The stored keys: `snapshot().keySet` without reading any item. */
  def keys(): Set[String]
  /** Physical key removal — the compliance-erase primitive (DynamoDB
    * `delete_item` in the reference's deployment). Idempotent: deleting
    * an absent key is a no-op. */
  def delete(key: String): Unit
}

object KVStore {
  /** A row as a store item: each field by name, its external value
    * stringified, nulls kept null. */
  def item(row: Row): Map[String, String] =
    row.schema.fieldNames.zipWithIndex
      .map { case (n, i) => n -> (if (row.isNullAt(i)) null else row.get(i).toString) }
      .toMap
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
  override def keys(): Set[String] = m.keySet.asScala.toSet
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
    keyFiles().foreach { case (key, p) =>
      try out += key -> parse(JFiles.readString(p, StandardCharsets.UTF_8))
      catch {
        case _: java.nio.file.NoSuchFileException => // deleted mid-scan
        case _: java.io.FileNotFoundException =>
      }
    }
    out.result()
  }

  /** A directory listing only: a key deleted mid-scan is either listed or
    * not, and no file is opened. */
  override def keys(): Set[String] = keyFiles().map(_._1).toSet

  /** Each key with its file, from one listing of the root. */
  private def keyFiles(): Seq[(String, java.nio.file.Path)] = {
    val stream = JFiles.list(rootPath)
    try stream.iterator().asScala
      .map(p => p -> p.getFileName.toString)
      .collect { case (p, n) if n.startsWith("k_") => dec(n.stripPrefix("k_")) -> p }
      .toList
    finally stream.close()
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
  * (reference: script/TributeStreamingJob.py:101-146), run by one runner,
  * [[run]]: `foreachBatch`, one Spark job per micro-batch, planned once per
  * query. On its first data batch the two dimensions are read and
  * broadcast as key → rows maps ([[DimensionLookup]]) and the batch payload
  * is planned ([[FlagshipPayload]]); each batch is then enriched against
  * the maps partition by partition, with no join, no per-batch broadcast
  * of the dimensions and no per-batch Catalyst planning. One fused pass
  * then shuffles the batch by tribute, writes every event's log object,
  * and puts each tribute's last-arriving event as its state item — the
  * batch-level last-writer-wins dedup that replaces the reference's one
  * external put per row (its 5-WCU DynamoDB table was its de-facto output
  * bottleneck). The arrival order LWW follows is explicit, and every batch
  * is admitted against the standing forget store of [[forgetTributes]];
  * see [[run]].
  *
  * This is the one enrichment and the one last-writer-wins in graft: the
  * `graft.Main` demo replays its fixture directory through [[run]] as well,
  * and the specs check the runner against a DataFrame reference of the
  * same path (broadcast joins and a window) that lives in test scope.
  *
  * At-least-once delivery from checkpointing + idempotent keyed upsert +
  * idempotent path-keyed log writes ⇒ converged output is effectively
  * exactly-once (SURVEY §2 #23).
  */
object TributePipeline {

  // the runner's arrival order: a file's modification time (µs) and path,
  // stamped on the streaming frame at wiring time, then the in-partition
  // id, stamped on each raw batch row by the payload pass
  private[pipeline] val ArrivalSeqCol = "__arrival_seq"
  private[pipeline] val ArrivalMTimeCol = "__arrival_mtime"
  private[pipeline] val ArrivalPathCol = "__arrival_path"

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

  /** Stamps the source side of the arrival order on the streaming frame.
    * A file source carries `_metadata` (checked here, at wiring time), and
    * its file's modification time and path are stamped; any other source
    * (a broker frame, a decoded message stream, a memory stream) has no
    * file to order by, and stamps constants.
    */
  private[graft] def stampSource(events: DataFrame): DataFrame = {
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
    * The query is planned once: its first data batch reads `tributes` and
    * `games` into a [[DimensionLookup]] and has Catalyst plan the batch
    * payload (enrichment, status columns, log JSON and state item) into a
    * [[FlagshipPayload]]. Later changes to the dimensions are not seen
    * until the query restarts. Every data micro-batch then runs ONE Spark
    * job over the rows the engine already planned, with no planning of its
    * own: the payload is computed partition by partition, shuffled by
    * tribute, and one pass writes the batch's log objects and puts its
    * state items, so per tribute the log is written before the state. A
    * retried task is idempotent: it rewrites the same path-keyed log
    * objects and puts the same winners.
    *
    * Last writer wins in arrival order, `(file modification time, file
    * path, in-partition id)`: the file source hands a trigger's files over
    * in modification-time order, so the latest file's event wins however
    * the files are packed into partitions, and within a file the later
    * record wins. The in-partition id is `monotonically_increasing_id`'s
    * encoding, stamped on the RAW batch row before enrichment, so the
    * shuffle merely carries it. Sources without `_metadata` order by the
    * in-partition id alone, which tracks arrival order only while one batch
    * is one ordered partition (one shard, one file per trigger) — as the
    * reference's single Kinesis shard is.
    *
    * Each batch is admitted against the key set of the forget store of
    * [[forgetTributes]] (`KVStore.keys`, no item is read), taken at batch
    * start: events of forgotten tributes
    * are dropped inside the payload pass, before the shuffle, so neither
    * sink ever sees them again — including on checkpoint-restart replays
    * (the store is consulted at batch time, not at wiring time, so requests
    * registered mid-stream take effect from the next batch). The filter is
    * a lookup of each event's `tributeid`, cast to a string, in the
    * forgotten set, which is broadcast once per batch while it is
    * non-empty; an event with a null `tributeid` drops at the dimension
    * lookup. After the batch's writes, victims registered since its
    * snapshot are re-scrubbed ([[scrubVictims]]), so an erase racing an
    * in-flight batch converges without stopping the query.
    *
    * The query's checkpoint commits (the source, offset and commit logs of
    * every micro-batch) go through [[LocalCheckpointFileManager]], unless
    * the session names its own manager: on a local (`file:`) checkpoint
    * they start no process, and any other scheme commits through Spark's
    * default manager, unchanged.
    */
  def run(
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
    val stamped = stampSource(streamingEvents)
    lazy val payload = FlagshipPayload(DimensionLookup(tributes, games), stamped.schema, stamped.sparkSession)
    LocalCheckpointFileManager.install(streamingEvents.sparkSession)
    stamped.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val forget = KVRegistry.getOrCreate(forgetStoreName(storeName))
        val forgotten = forget.keys()
        onBatchAdmitted()
        writeBatch(payload, batch, forgotten, storeName, logDir)
        // an erase that landed after this batch's admission snapshot saw a
        // log and state that this batch's writes may have just re-polluted:
        // re-scrub those victims now (idempotent, so a victim the batch
        // never touched costs one no-op pass)
        val raced = (forget.keys() -- forgotten).toSeq.sorted
        if (raced.nonEmpty) {
          scrubVictims(batch.sparkSession, raced, storeName, logDir)
          ()
        }
      }
      .start()
  }

  /** One micro-batch as one job of two stages: the payload of every
    * admitted event, shuffled by tribute into [[writeBatchPartition]]. The
    * shuffle is as wide as the session's shuffle partitions, at most one
    * partition per core. */
  private def writeBatch(
      payload: FlagshipPayload,
      batch: DataFrame,
      forgotten: Set[String],
      storeName: String,
      logDir: String): Unit = {
    val s = batch.sparkSession
    val width = math.min(s.sparkContext.defaultParallelism, s.conf.get("spark.sql.shuffle.partitions").toInt)
    val stateSchema = payload.stateSchema
    Files.createDirectories(Paths.get(logDir))
    payload.rows(batch, forgotten).partitionBy(new HashPartitioner(width)).foreachPartition { rows =>
      writeBatchPartition(rows, stateSchema, storeName, logDir)
    }
  }

  /** The fused sink of one shuffle partition, which holds every event of
    * its tributes: each row's log object, then each tribute's
    * last-arriving row as its state item ([[FlagshipPayload]] gives the
    * row layout).
    */
  private def writeBatchPartition(
      rows: Iterator[(String, InternalRow)],
      stateSchema: StructType,
      storeName: String,
      logDir: String): Unit = {
    def arrivedAfter(a: InternalRow, b: InternalRow): Boolean =
      if (a.getLong(1) != b.getLong(1)) a.getLong(1) > b.getLong(1)
      else if (a.getUTF8String(2) != b.getUTF8String(2)) a.getUTF8String(2).compareTo(b.getUTF8String(2)) > 0
      else a.getLong(3) > b.getLong(3)
    val latest = new java.util.HashMap[String, InternalRow]()
    rows.foreach { case (key, r) =>
      writeLogObject(logDir, if (r.isNullAt(4)) null else r.getUTF8String(4).toString, r.getUTF8String(5).toString)
      val prev = latest.get(key)
      if (prev == null || arrivedAfter(r, prev)) latest.put(key, r)
    }
    val store = KVRegistry.getOrCreate(storeName)
    val toRow = CatalystTypeConverters.createToScalaConverter(stateSchema)
    latest.values.forEach { r =>
      val item = KVStore.item(toRow(r.getStruct(6, stateSchema.size)).asInstanceOf[Row])
      store.put(item("tributeId"), item)
    }
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
    *     [[run]] on every micro-batch — including batches
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
    * point in time, and [[run]] reads the forget snapshot at
    * micro-batch START — a batch already in flight when the erase runs
    * was admitted under the PRE-erase snapshot and may re-append victim
    * events after the scrub. [[run]] closes that race itself:
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
    * [[run]]'s post-batch residual re-scrub: evict the victims'
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
        // each object is one line of JSON; only its key is read, under any
        // spelling of `tributeid` (the event frame's column name), with no
        // schema inference over the whole log
        val fields = from_json(col("value"), MapType(StringType, StringType))
        val tid = try_element_at(
          map_values(map_filter(fields, (k, _) => lower(k) === "tributeid")), lit(1))
        val matches = s.read.text(logDir)
          .select(tid.as("tid"), input_file_name().as("path"))
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
}
