package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{LongType, StructType}

import graft.ops.Status
import graft.pipeline.TributePipeline.{ArrivalMTimeCol, ArrivalPathCol, ArrivalSeqCol, rowJson}

/** The flagship micro-batch's payload, planned by Catalyst once per query
  * and run on each batch as plain RDD code: a batch pays for no analysis,
  * optimisation, adaptive execution or plan rendering of its own.
  *
  * Per event row, in its partition: the arrival sequence is stamped as
  * `monotonically_increasing_id` encodes it, `(partition << 33) + index`;
  * the row is joined against the dimensions ([[DimensionLookup.rowJoin]]);
  * each joined row goes through the chain of projections Catalyst
  * optimised from `Status.derive`, `TributePipeline.rowJson` and
  * `Status.stateItemCols` over an empty frame of the joined schema. Those
  * three stay the one copy of the logic; this class only binds the plan
  * they produce.
  *
  * Payload layout: (key, mtime, path, seq, streamingeventid, full-row
  * JSON, 12-field state struct), the key being `tributeid` as a string.
  */
private[graft] final class FlagshipPayload private (
    join: DimensionLookup.RowJoin,
    chain: Seq[Seq[Expression]],
    val schema: StructType) {

  def stateSchema: StructType = schema(6).dataType.asInstanceOf[StructType]

  /** The payload rows of one `foreachBatch` frame, keyed by tribute,
    * without those of the `forgotten` tributes (broadcast with the batch's
    * tasks when there are any). */
  def rows(batch: DataFrame, forgotten: Set[String]): RDD[(String, InternalRow)] = {
    val (join, chain) = (this.join, this.chain)
    val drop = if (forgotten.isEmpty) None else Some(batch.sparkSession.sparkContext.broadcast(forgotten))
    batch.queryExecution.toRdd.mapPartitionsWithIndex { (p, events) =>
      val projections = chain.map(UnsafeProjection.create(_))
      val first = p.toLong << 33
      var i = -1L
      events.flatMap { e =>
        i += 1
        join(new JoinedRow(e, InternalRow(first + i)))
      }.map { joined =>
        val out = projections.foldLeft(joined: InternalRow)((r, project) => project(r))
        (out.getUTF8String(0).toString, out.copy())
      }.filter { case (key, _) => drop.forall(!_.value.contains(key)) }
    }
  }
}

private[graft] object FlagshipPayload {

  /** Plans the payload of batches of schema `events` (a streaming frame as
    * the pipeline stamps it). */
  def apply(dims: DimensionLookup, events: StructType, spark: SparkSession): FlagshipPayload = {
    val join = dims.rowJoin(events.add(ArrivalSeqCol, LongType, nullable = false))
    // nullable throughout, so the bound projections check every value
    val nullable = StructType(join.schema.map(_.copy(nullable = true)))
    val template = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], nullable)
    val enriched = Status.derive(template)
    val logged = enriched.drop(ArrivalMTimeCol, ArrivalPathCol, ArrivalSeqCol)
    val payload = enriched.select(
      col("tributeid").cast("string").as("__key"),
      col(ArrivalMTimeCol), col(ArrivalPathCol), col(ArrivalSeqCol),
      col("streamingeventid").cast("string"),
      rowJson(logged),
      struct(Status.stateItemCols: _*))
    new FlagshipPayload(join, bind(payload.queryExecution.optimizedPlan), payload.schema)
  }

  /** Each projection of `plan`, innermost first, bound to its input. */
  private def bind(plan: LogicalPlan): List[Seq[Expression]] = plan match {
    case p: Project => bind(p.child) :+ BindReferences.bindReferences(p.projectList, p.child.output)
    case _: LogicalRDD => Nil
    case other => throw new IllegalStateException(
      s"the flagship payload must plan to projections over its input, found ${other.nodeName}:\n$plan")
  }
}
