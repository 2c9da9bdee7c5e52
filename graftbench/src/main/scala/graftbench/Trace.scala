package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.Planning
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** A timed call from the benchmark into a layer, or a listener-observed
  * unit of work (job, stage), held in memory until the run ends. */
final case class Span(name: String, startMs: Long, endMs: Long)

/** A Spark job, attributed to the innermost `graft.*` function on its
  * call site. `query`/`batch` name the streaming micro-batch that
  * launched it. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, site: String,
    query: Option[String], batch: Option[Long], execution: Option[Long], tags: Set[String],
    stages: Seq[Int])

final case class StageRec(id: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long)

/** Listener-side tracing. `enabled = false` records only the benchmark's
  * own spans, so untraced runs pay for no listener. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  private val stageRecs = new ConcurrentHashMap[Int, StageRec]()
  private val progressQ = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val planMs = new ConcurrentHashMap[Long, Long]() // execution id -> planning ms
  private val execTags = new ConcurrentHashMap[Long, Set[String]]()
  private val execLabels = new ConcurrentHashMap[Long, String]()

  private val GraftFrame = """\bgraft\.([\w.$]+?)\$?\.(\w+)\(""".r

  /** `TributePipeline.appendEventLog` for a job launched from there. */
  private def site(details: String): String =
    GraftFrame.findFirstMatchIn(Option(details).getOrElse(""))
      .map(m => s"${m.group(1).split('.').last.stripSuffix("$")}.${m.group(2)}")
      .getOrElse("other")

  /** The step of `TributePipeline`'s micro-batch an SQL execution
    * belongs to, told by its physical plan: a streaming query's jobs all
    * carry the call site of the query's start, not of the step. */
  private def planLabel(plan: String): String =
    if (plan == null) "other"
    else if (plan.contains("Window")) "state_upsert"
    else if (plan.contains("CollectLimit")) "empty_probe"
    else if (plan.contains("InMemoryRelation")) "log_write"
    else "other"

  /** The plan label of the SQL execution that launched `j`. */
  def label(j: JobRec): String =
    j.execution.flatMap(e => Option(execLabels.get(e))).getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.put(e.jobId, e); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStarts.remove(e.jobId)).foreach { s =>
      val props = Option(s.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobRecs.add(JobRec(e.jobId, s.time, e.time,
        site(s.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull),
        prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("spark.job.tags").map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty),
        s.stageIds))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stageRecs.put(i.stageId, StageRec(i.stageId, i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten))
      ()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execTags.put(s.executionId, s.jobTags)
        execLabels.put(s.executionId, planLabel(s.physicalPlanDescription))
        ()
      case e: SparkListenerSQLExecutionEnd =>
        Planning.ms(e).foreach(ms => planMs.put(e.executionId, ms))
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progressQ.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
  }

  def uninstall(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.removeSparkListener(sparkListener)
    s.streams.removeListener(streamListener)
  }

  /** Times `f` as a span named `name`. */
  def span[T](name: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally { spans.add(Span(name, t0, System.currentTimeMillis())); () }
  }

  /** Waits until the listener bus has gone quiet (no new job for 500 ms,
    * at most 10 s), so the records below are complete. */
  def settle(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000L
    var seen = -1
    while (seen != jobRecs.size + progressQ.size && System.currentTimeMillis() < deadline) {
      seen = jobRecs.size + progressQ.size
      Thread.sleep(500)
    }
  }

  def jobs: Seq[JobRec] = jobRecs.asScala.toSeq.sortBy(_.id)
  def stage(id: Int): Option[StageRec] = Option(stageRecs.get(id))
  def progress: Seq[StreamingQueryProgress] = progressQ.asScala.toSeq
  def spanList: Seq[Span] = spans.asScala.toSeq

  /** Planning milliseconds of the SQL executions carrying job tag `tag`. */
  def planningMs(tag: String): Long =
    execTags.asScala.collect { case (id, tags) if tags(tag) => Option(planMs.get(id)).getOrElse(0L) }.sum

  /** Writes the spans, jobs and stages as one JSON document. */
  def writeOut(path: Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val spanJs = spanList.map(s =>
      s"""{"name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    val jobJs = jobs.map(j =>
      s"""{"name":${q("job:" + j.site)},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""parent":${q(j.batch.map("batch:" + _).getOrElse(j.tags.mkString(",")))},""" +
        s""""job":${j.id},"stages":[${j.stages.flatMap(stage).map(st =>
          s"""{"id":${st.id},"tasks":${st.tasks},"run_ms":${st.runMs},"cpu_ns":${st.cpuNs},""" +
            s""""gc_ms":${st.gcMs},"shuffle_write_bytes":${st.shuffleWriteBytes}}""").mkString(",")}]}""")
    Files.createDirectories(path.getParent)
    Files.write(path, (spanJs ++ jobJs).mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    ()
  }
}
