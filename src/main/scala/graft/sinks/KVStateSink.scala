package graft.sinks

import java.util.{Map => JuMap, Set => JuSet}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.model.Schemas
import graft.pipeline.KVRegistry

/** DataSource V2 writer for the keyed last-writer-wins state table — the
  * connector-shaped stand-in for the reference's DynamoDB sink
  * (reference: script/TributeStreamingJob.py:49-66; table key schema
  * cloudformation/template.yml:16-21), per SURVEY.md §7.3's optional sink.
  *
  * Usage:
  * {{{
  *   stateItems.write.format("graft-kv")
  *     .option("store", name)            // KVRegistry store name
  *     .option("key", "tributeId")       // key column (default tributeId)
  *     .mode("append").save()
  *   // or continuously:
  *   stateItems.writeStream.format("graft-kv").option("store", name)...
  * }}}
  *
  * Rows are upserted key→item from executor task threads, one writer per
  * partition — no driver involvement, no collect. Puts are idempotent, so
  * at-least-once replay (batch retry, streaming epoch re-run) converges to
  * the same state; commit/abort are no-ops by design (the store is the
  * source of truth, exactly like a DynamoDB put_item sink). A real KV
  * service client would buffer rows in `write` and flush in `commit` for
  * batching — the seams are all here.
  */
final class KVStateTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kv"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.stateItemSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: JuMap[String, String]): Table =
    new KVStateTable(schema, properties.get("store"), properties.getOrDefault("key", "tributeId"))
}

private final class KVStateTable(tableSchema: StructType, storeName: String, keyCol: String)
  extends Table with SupportsWrite {
  require(storeName != null && storeName.nonEmpty,
    "graft-kv sink requires option 'store' (KVRegistry store name)")

  override def name(): String = s"graft-kv:$storeName"
  override def schema(): StructType = tableSchema
  override def capabilities(): JuSet[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val writeSchema = info.schema()
    require(writeSchema.fieldNames.contains(keyCol),
      s"graft-kv sink: key column '$keyCol' not in input schema " +
        writeSchema.fieldNames.mkString("[", ", ", "]"))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new KVWrite(writeSchema, storeName, keyCol)
        override def toStreaming: StreamingWrite = new KVWrite(writeSchema, storeName, keyCol)
      }
    }
  }
}

/** One class serves both batch and streaming epochs: the writer factory is
  * the same and commit is a no-op either way (idempotent upsert sink).
  */
private final class KVWrite(schema: StructType, storeName: String, keyCol: String)
  extends BatchWrite with StreamingWrite with Serializable {
  // both parent traits supply a default; disambiguate (no coordination
  // needed — puts are idempotent, so speculative duplicates are harmless)
  override def useCommitCoordinator(): Boolean = false
  private def factory = new KVWriterFactory(schema, storeName, keyCol)
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = factory
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private final class KVWriterFactory(schema: StructType, storeName: String, keyCol: String)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new KVDataWriter(schema, storeName, keyCol)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KVDataWriter(schema, storeName, keyCol)
}

private final class KVDataWriter(schema: StructType, storeName: String, keyCol: String)
  extends DataWriter[InternalRow] {
  private val store = KVRegistry.getOrCreate(storeName)
  private val fields = schema.fields
  private val keyIdx = schema.fieldIndex(keyCol)
  // InternalRow carries Catalyst-internal representations (timestamps as
  // micros longs, strings as UTF8String, dates as day ints); stringify the
  // EXTERNAL value so this path stores the same rendering as the Row-based
  // TributePipeline writers for the same data
  private val toExternal = fields.map(f =>
    org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(f.dataType))

  override def write(row: InternalRow): Unit = {
    val item = fields.indices.map { i =>
      fields(i).name ->
        (if (row.isNullAt(i)) null
         else toExternal(i)(row.get(i, fields(i).dataType)).toString)
    }.toMap
    val key = if (row.isNullAt(keyIdx)) null
      else toExternal(keyIdx)(row.get(keyIdx, fields(keyIdx).dataType)).toString
    store.put(key, item)
  }

  private object Done extends WriterCommitMessage
  override def commit(): WriterCommitMessage = Done
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
