package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the
  * enclosing span on the same thread (-1 at the top); spans of one op
  * share `op` (-1 = set-up). */
final case class Span(id: Int, parent: Int, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded by the benchmark around each call into a graft layer.
  *
  * Tracing is decided per op: `op(id, traced)` marks the calling thread
  * (and, through a Spark job tag, every job the op launches) as traced
  * or not, and `span` records only inside traced ops or traced set-up.
  * Spans stay in memory until `write` at the end of the run. */
final class Tracer(val enabled: Boolean) {
  val Tag = "perfbench-traced"
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val curOp = new ThreadLocal[Option[Long]] { override def initialValue(): Option[Long] = None }

  /** Run one op (or set-up step, id -1); traced only when the run is. */
  def op[T](sc: SparkContext, id: Long, traced: Boolean)(body: => T): T =
    if (!(enabled && traced)) body
    else {
      curOp.set(Some(id)); sc.addJobTag(Tag)
      try span("op")(body)
      finally { sc.removeJobTag(Tag); curOp.set(None) }
    }

  def span[T](name: String)(body: => T): T = curOp.get match {
    case None => body
    case Some(op) =>
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Mean span time per call, by span name. */
  def meanMs(name: String): Double = {
    val s = all.filter(_.name == name)
    if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
  }

  /** Self time per span name: span time minus the part of it covered by
    * child spans (children of one span may overlap only if the layer
    * itself ran them concurrently, so coverage is a union of intervals). */
  def selfMs: Map[String, (Int, Double)] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.groupBy(_.name).map { case (name, group) =>
      val self = group.map { sp =>
        val ivs = kids.getOrElse(sp.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
        var covered = 0L; var end = Long.MinValue
        ivs.foreach { case (a, b) =>
          val lo = math.max(a, end)
          if (b > lo) covered += b - lo
          end = math.max(end, b)
        }
        (sp.endNs - sp.startNs - covered) / 1e6
      }
      name -> (group.size, self.sum)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map(sp =>
      s"""{"id":${sp.id},"parent":${sp.parent},"op":${sp.op},"name":"${sp.name}",""" +
        s""""start_ns":${sp.startNs},"end_ns":${sp.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Layer counters from Spark's public listener interfaces, counted only
  * for work whose jobs carry the tracer's tag (traced ops):
  *  - `SparkListener`: jobs, stages, tasks, executor time, shuffle,
  *    plus the SQL execution events that name each execution's call
  *    site and carry the file-writer metrics;
  *  - `QueryExecutionListener`: plan-phase times per query;
  *  - `StreamingQueryListener`: micro-batch trigger breakdown;
  *  - `ExternalCatalogEventListener`: catalog DDL count and time. */
final class Layers(spark: SparkSession, tracer: Tracer) {
  private val Tag = tracer.Tag
  val modules = Seq("core", "ops", "jobs", "streaming", "dedup", "text", "bench")

  // every counter is only touched under `this` lock
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }

  private val execTraced = mutable.Map.empty[Long, Boolean]
  private val execModule = mutable.Map.empty[Long, String]
  private val writeAcc = mutable.Map.empty[Long, String] // accumulator id -> write metric
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobModule = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, Set[Int]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val submitted = mutable.Set.empty[Int]
  private val tracedRuns = mutable.Set.empty[java.util.UUID]
  @volatile var opStartNs: Long = 0L

  private def tagged(tags: String): Boolean =
    tags != null && tags.split(",").contains(Tag)

  private def threadTraced: Boolean =
    tagged(spark.sparkContext.getLocalProperty("spark.job.tags"))

  /** The graft module of the first non-Spark frame of a call site. */
  private def moduleOf(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").map(_.trim)
      .find(f => !Seq("org.apache.spark", "scala.", "java.", "jdk.", "sun.").exists(f.startsWith))
      .map { f =>
        if (f.startsWith("perfbench.")) "bench"
        else if (f.startsWith("graft.")) f.split("[.$]")(1)
        else "other"
      }.getOrElse("other")

  private val writeNames = Map(
    "number of written files" -> "write.files",
    "written output" -> "write.bytes",
    "task commit time" -> "write.task_commit_ms",
    "job commit time" -> "write.job_commit_ms")

  private def collectWriteAccs(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => writeNames.get(m.name).foreach(k => writeAcc(m.accumulatorId) = k))
    p.children.foreach(collectWriteAccs)
  }

  object sparkListener extends SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => Layers.this.synchronized {
        execTraced(e.executionId) = e.jobTags.contains(Tag)
        execModule(e.executionId) = moduleOf(e.details)
        if (e.jobTags.contains(Tag)) collectWriteAccs(e.sparkPlanInfo)
      }
      case e: SparkListenerDriverAccumUpdates => Layers.this.synchronized {
        if (execTraced.getOrElse(e.executionId, false))
          e.accumUpdates.foreach { case (id, v) =>
            writeAcc.get(id).foreach { k =>
              c(k) += v.toDouble
              if (k == "write.bytes") c(s"${execModule(e.executionId)}.write_bytes") += v.toDouble
            }
          }
      }
      case e: SparkListenerSQLExecutionEnd => Layers.this.synchronized {
        pendingPhases match {
          case Some(ph) => planPhases(e.executionId, ph); pendingPhases = None
          case None => lastEnd = Some(e.executionId)
        }
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Layers.this.synchronized {
      val props = Option(e.properties)
      if (props.exists(p => tagged(p.getProperty("spark.job.tags")))) {
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        val module = exec.flatMap(execModule.get)
          .getOrElse(moduleOf(e.stageInfos.headOption.map(_.details).orNull))
        jobStart(e.jobId) = e.time
        jobModule(e.jobId) = module
        jobStages(e.jobId) = e.stageIds.toSet
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        c("sched.jobs") += 1
        c(s"$module.jobs") += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Layers.this.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        c("sched.job_wall_ms") += e.time - t0
        val stages = jobStages.remove(e.jobId).getOrElse(Set.empty)
        c("sched.stages_skipped") += stages.count(s => !submitted.contains(s))
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Layers.this.synchronized {
      val id = e.stageInfo.stageId
      if (stageJob.contains(id)) {
        submitted += id
        stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Layers.this.synchronized {
      if (stageJob.contains(e.stageInfo.stageId)) c("sched.stages") += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Layers.this.synchronized {
      stageJob.get(e.stageId).foreach { job =>
        c("sched.tasks") += 1
        if (e.reason != org.apache.spark.Success) c("sched.tasks_failed") += 1
        stageSubmit.get(e.stageId).foreach(t => c("sched.slot_wait_ms") += math.max(0L, e.taskInfo.launchTime - t))
        val m = e.taskMetrics
        if (m != null) {
          c("sched.task_ms") += m.executorRunTime
          c("sched.task_cpu_ms") += m.executorCpuTime / 1e6
          c("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
          c("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
          c("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
          jobModule.get(job).foreach(mod => c(s"$mod.task_ms") += m.executorRunTime)
        }
        // file-writer metrics updated inside the task (e.g. task commit time)
        e.taskInfo.accumulables.foreach { a =>
          writeAcc.get(a.id).foreach(k => a.update.foreach(u => c(k) += u.toString.toDouble))
        }
      }
    }
  }

  // A QueryExecution does not carry its SQL execution id, but Spark calls
  // `onSuccess` while it delivers that execution's end event, so the two
  // callbacks are adjacent on the listener bus. Sessions that existed
  // before `install` registered their listener bus first (`onSuccess`
  // precedes our end event); sessions cloned later, e.g. for a streaming
  // query, registered after us (our end event comes first).
  private var lastEnd: Option[Long] = None
  private var pendingPhases: Option[Map[String, Long]] = None
  private val earlySessions = mutable.Set.empty[SparkSession]

  private def planPhases(exec: Long, phases: Map[String, Long]): Unit =
    if (execTraced.getOrElse(exec, false)) {
      c("plan.queries") += 1
      phases.foreach { case (p, ms) => c(s"plan.${p}_ms") += ms }
    }

  object queryListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Layers.this.synchronized {
        val ph = Seq("analysis", "optimization", "planning")
          .flatMap(p => qe.tracker.phases.get(p).map(s => p -> s.durationMs)).toMap
        if (earlySessions.exists(_ eq qe.sparkSession)) pendingPhases = Some(ph)
        else lastEnd.foreach(exec => planPhases(exec, ph))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  object streamListener extends StreamingQueryListener {
    import StreamingQueryListener._
    // called synchronously on the thread that starts the query
    override def onQueryStarted(e: QueryStartedEvent): Unit = if (threadTraced) {
      add("stream.query_start_ms", (System.nanoTime() - opStartNs) / 1e6)
      Layers.this.synchronized { tracedRuns += e.runId }
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = Layers.this.synchronized {
      val p = e.progress
      if (tracedRuns.contains(p.runId)) {
        val d = p.durationMs.asScala
        if (p.numInputRows > 0) c("stream.batches") += 1
        c("stream.trigger_ms") += d.get("triggerExecution").map(_.toDouble).getOrElse(0.0)
        c("stream.add_batch_ms") += d.get("addBatch").map(_.toDouble).getOrElse(0.0)
        c("stream.wal_commit_ms") += d.get("walCommit").map(_.toDouble).getOrElse(0.0)
      }
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  // catalog events are posted synchronously on the thread running the
  // DDL, so a pre/post pair on one thread brackets the operation
  object catalogListener extends ExternalCatalogEventListener {
    private val pre = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
    override def onEvent(event: ExternalCatalogEvent): Unit = if (threadTraced) {
      if (event.getClass.getSimpleName.endsWith("PreEvent")) pre.set(System.nanoTime() :: pre.get)
      else pre.get match {
        case t0 :: rest =>
          pre.set(rest)
          add("catalog.ddl_ops", 1); add("catalog.ddl_ms", (System.nanoTime() - t0) / 1e6)
        case Nil => add("catalog.ddl_ops", 1)
      }
    }
  }

  def install(sessions: SparkSession*): Unit = {
    earlySessions ++= sessions
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    spark.sharedState.externalCatalog.addListener(catalogListener)
  }

  /** Listener events arrive asynchronously: wait until the counters stop
    * moving before reading them. */
  def drain(): Unit = {
    var last = Map.empty[String, Double]; var quiet = 0; var waited = 0
    while (quiet < 3 && waited < 10000) {
      Thread.sleep(100); waited += 100
      val now = synchronized(c.toMap)
      if (now == last && synchronized(jobStart.isEmpty)) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def snapshot: Map[String, Double] = synchronized(c.toMap).withDefaultValue(0.0)
}
