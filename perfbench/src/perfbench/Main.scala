package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Settings every workload sees. `scale` shrinks inputs for the
  * self-test; `corrupt` makes the reference deliberately wrong so the
  * self-test can prove the checks fail. */
final case class Ctx(work: Path, seed: Long, scale: Double, corrupt: Boolean, tracer: Tracer) {
  def n(full: Int): Int = math.max(2, (full * scale).round.toInt)
}

/** One benchmark workload.
  *
  * Life cycle: `generate` (seeded inputs, untimed) → `setup` several
  * times (each a fresh standing state; `setup_s`) → `warm` → a closed
  * loop of `op` calls per client → `check` (reference outside every
  * timed region). */
trait Workload {
  def clients: Int = 1
  /** Standing-state builds per run; `setup_s` takes their median. */
  def setupReps: Int = 3
  /** Generate inputs and feed their content to the digest. */
  def generate(spark: SparkSession, d: Gen.Digest): Unit
  /** Build the standing state from scratch (timed, several times). */
  def setup(spark: SparkSession, rep: Int): Unit
  /** Warm the last build with one untimed op-sized step. */
  def warm(): Unit
  /** Untimed per-op preparation (e.g. landing the op's input file). */
  def prepare(op: Long): Unit = ()
  /** One op; returns the input docs it processed (0 for reads). */
  def op(op: Long): Long
  /** Untimed per-op follow-up (e.g. snapshotting outputs for `check`). */
  def after(op: Long): Unit = ()
  /** Per-op correctness against an independent reference: op id -> ok. */
  def check(ops: Seq[Long]): Map[Long, Boolean]
  /** Bytes of the input docs the given ops processed (for write.amp). */
  def inputBytes(ops: Seq[Long]): Long = 0L
  /** Extra end-of-run figures for the report line. */
  def report(): Seq[(String, Double, String)] = Nil
}

object Main {
  final case class OpRec(id: Long, traced: Boolean, ms: Double, docs: Long, ok: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val cores = args.getOrElse("cores", "4").toInt
    val work = Paths.get(args("work")).toAbsolutePath
    val tracer = new Tracer(trace)
    val ctx = Ctx(work, seed, args.getOrElse("scale", "1").toDouble,
      args.getOrElse("corrupt-reference", "0") == "1", tracer)
    val w: Workload = workload match {
      case "graph_read" => new GraphRead(ctx)
      case "stream_ingest" => new StreamIngest(ctx)
      case "recipe_chain" => new RecipeChain(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: session start + standing state ----------------------
    // setup_s = session start + the median of `reps` standing-state
    // builds (each from scratch, the first one JIT-cold); the last build
    // is then warmed by one untimed op-sized step and serves the run
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val digest = new Gen.Digest
    val g0 = System.nanoTime()
    w.generate(spark, digest)
    val genS = (System.nanoTime() - g0) / 1e9
    var session = spark
    val builds = (1 to w.setupReps).map { rep =>
      if (rep > 1) session = spark.newSession()
      val s0 = System.nanoTime()
      tracer.op(spark.sparkContext, -1, traced = true)(w.setup(session, rep))
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = sessionS + median(builds)
    val w0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - w0) / 1e9

    // one timing of the steady-state calibration kernel: co-tenant noise
    // shows in the header (not a metric)
    val c0 = System.nanoTime()
    graft.SteadyState.calibrationKernel(spark)
    val calib = (System.nanoTime() - c0) / 1e9
    val buildList = builds.map(b => "%.3f".format(b)).mkString(",")
    println(s"# perfbench workload=$workload seed=$seed inputs_sha256=${digest.hex} " +
      s"cores=$cores commit=${args.getOrElse("commit", "unknown")} trace=${if (trace) 1 else 0} " +
      "calibration_s=%.4f (not gated) session_s=%.3f builds_s=%s generate_s=%.3f warm_s=%.3f"
        .format(calib, sessionS, buildList, genS, warmS))

    // ---- measured closed loop ----------------------------------------
    val layers = new Layers(session, tracer)
    if (trace) layers.install(spark, session)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val landingNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { cl =>
      new Thread(() => {
        var k = 0L
        // a traced run makes at least one traced and one untraced op per
        // client, so trace.overhead_pct has both halves
        while (System.nanoTime() < deadline || (trace && k < 2)) {
          val id = k * w.clients + cl
          val traced = trace && k % 2 == 0
          var docs = -1L
          var ms = 0.0
          try {
            val l0 = System.nanoTime(); w.prepare(id); landingNs.addAndGet(System.nanoTime() - l0)
            val o0 = System.nanoTime()
            layers.opStartNs = o0
            try docs = tracer.op(spark.sparkContext, id, traced)(w.op(id))
            finally ms = (System.nanoTime() - o0) / 1e6
            val a0 = System.nanoTime(); w.after(id); landingNs.addAndGet(System.nanoTime() - a0)
          } catch {
            case e: Throwable => System.err.println(s"[perfbench] op $id failed: $e"); docs = -1L
          }
          recs.add(OpRec(id, traced, ms, math.max(docs, 0L), docs >= 0))
          k += 1
        }
      }, s"perfbench-client-$cl")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val wallS = (System.nanoTime() - start - landingNs.get) / 1e9
    val gcMs = gcBeans.map(_.getCollectionTime).sum - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (trace) layers.drain()

    // ---- correctness, outside every timed region ---------------------
    val ops = recs.asScala.toSeq.sortBy(_.id)
    val verdict = w.check(ops.filter(_.ok).map(_.id))
    val good = ops.filter(o => o.ok && verdict.getOrElse(o.id, false))
    val failed = ops.size - good.size
    val attempted = ops.size
    // speed figures count only ops that completed and checked correct: an
    // op that throws early must not read as a fast op
    val lat = good.map(_.ms)
    val docs = good.map(_.docs).sum

    val report = Seq.newBuilder[(String, Double, String)]
    if (w.clients > 1) report += (("reads_per_s", good.size / wallS, "1/s"))
    else report += (("docs_per_s", docs / wallS, "1/s"))
    tail(lat).foreach { case (p, v) => report += ((s"op_tail_ms_p$p", v, "ms")) }
    report += (("error_rate", failed.toDouble / math.max(1, attempted), "fraction"))
    report += (("peak_rss_mb", peakRssMb(heapPeakMb), "MB"))
    report ++= w.report()
    report += (("ops", attempted.toDouble, "count"))
    println("# report " + report.result().map { case (k, v, u) => f"$k=$v%.4f $u" }.mkString("  "))
    if (attempted <= 50) println("# op_ms " + ops.map(o => "%.1f".format(o.ms)).mkString(" "))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", median(lat), "ms"),
        ("ops_per_s", good.size / wallS, "1/s"))
      else {
        val traced = ops.filter(_.traced)
        val n = math.max(1, traced.size).toDouble
        val c = layers.snapshot
        val inBytes = w.inputBytes(traced.map(_.id))
        val untracedP50 = median(good.filterNot(_.traced).map(_.ms))
        val tracedP50 = median(good.filter(_.traced).map(_.ms))
        val overhead = if (untracedP50 > 0 && tracedP50 > 0) 100.0 * (tracedP50 / untracedP50 - 1) else 0.0
        val spanMetrics = PerLayer.spans.map { case (metric, span) => (metric, tracer.meanMs(span), "ms") }
        val perOp = Seq(
          ("plan.queries", "count"), ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
          ("plan.planning_ms", "ms"),
          ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
          ("sched.job_wall_ms", "ms"), ("sched.task_ms", "ms"), ("sched.task_cpu_ms", "ms"),
          ("sched.slot_wait_ms", "ms"), ("sched.tasks_failed", "count"),
          ("sched.stages_skipped", "count"), ("shuffle.fetch_wait_ms", "ms"),
          ("write.files", "count"), ("write.task_commit_ms", "ms"), ("write.job_commit_ms", "ms"),
          ("catalog.ddl_ops", "count"), ("catalog.ddl_ms", "ms"),
          ("stream.batches", "count"), ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
          ("stream.wal_commit_ms", "ms"), ("stream.query_start_ms", "ms"))
          .map { case (k, u) => (k, c(k) / n, u) }
        val mb = 1048576.0
        val derived = Seq(
          ("sched.busy_frac", c("sched.task_ms") / (cores * math.max(1e-9, traced.map(_.ms).sum)), "fraction"),
          ("shuffle.read_mb", c("shuffle.read_bytes") / mb / n, "MB"),
          ("shuffle.write_mb", c("shuffle.write_bytes") / mb / n, "MB"),
          ("write.mb", c("write.bytes") / mb / n, "MB"),
          ("write.amp", if (inBytes > 0) c("write.bytes") / inBytes else 0.0, "ratio"),
          ("jvm.gc_ms", gcMs / math.max(1, attempted).toDouble, "ms"),
          ("jvm.heap_peak_mb", heapPeakMb, "MB"),
          ("trace.overhead_pct", overhead, "%"))
        val modules = layers.modules.flatMap(m => Seq(
          (s"$m.jobs", c(s"$m.jobs") / n, "count"),
          (s"$m.task_ms", c(s"$m.task_ms") / n, "ms"),
          (s"$m.write_mb", c(s"$m.write_bytes") / mb / n, "MB")))
        val selfMs = tracer.selfMs
        selfMs.toSeq.sortBy(-_._2._2).foreach { case (name, (calls, self)) =>
          println(f"# self_ms $name%-48s calls=$calls%5d total=$self%10.2f mean=${self / calls}%9.3f")
        }
        println(f"# trace overhead: traced-op p50 vs untraced-op p50 in this run = $overhead%.2f%%")
        args.get("trace-out").foreach(p => tracer.write(Paths.get(p)))
        spanMetrics ++ perOp ++ derived ++ modules
      }

    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest percentile with at least ten samples beyond it (nearest
    * rank); None when no percentile above p50 qualifies. */
  def tail(xs: Seq[Double]): Option[(String, Double)] = {
    val s = xs.sorted; val n = s.size
    Seq(("99.9", 0.999), ("99", 0.99), ("95", 0.95), ("90", 0.9), ("75", 0.75))
      .find { case (_, q) => n * (1 - q) >= 10 }
      .map { case (p, q) => (p.replace(".", "_"), s(math.min(n - 1, math.ceil(q * n).toInt - 1))) }
  }

  /** Peak resident set of this process (VmHWM); the heap peak where the
    * kernel does not report it. */
  def peakRssMb(fallback: Double): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    }.getOrElse(fallback)
}

/** The span-derived per-layer metrics: (metric name, span name). */
object PerLayer {
  private val calls = Seq(
    "core.EntityGraph.lookup", "core.EntityGraph.detailsLookup", "core.EntityGraph.out",
    "core.EntityGraph.in", "core.EntityGraph.out2", "core.EntityGraph.outStar",
    "core.EntityGraph.inPaged", "ops.ChangeLog.changesSince", "ops.ChangeLog.asOf",
    "ops.TimeTravel.inAtTime")
  val spans: Seq[(String, String)] =
    calls.flatMap(c => Seq(s"$c.build_ms" -> s"$c.build", s"$c.exec_ms" -> s"$c.exec")) ++ Seq(
      "streaming.OnChange.streamingDedupDelta.ms" -> "streaming.OnChange.streamingDedupDelta",
      "dedup.Dedup.buildShingleIndex.ms" -> "dedup.Dedup.buildShingleIndex",
      "jobs.Recipe.recipeJob.tick_ms" -> "jobs.Recipe.recipeJob.tick",
      "jobs.Recipe.emissionRollupJob.tick_ms" -> "jobs.Recipe.emissionRollupJob.tick",
      "text.PackIndex.packJob.tick_ms" -> "text.PackIndex.packJob.tick",
      "read.placements_ms" -> "read.placements",
      "jobs.Recipe.buildStanding.ms" -> "jobs.Recipe.buildStanding")
}
