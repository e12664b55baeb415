package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.jobs.{CronScheduler, DatasetRegistry, Recipe}
import graft.text.{Bpe, PackIndex, TextAnalysis}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** recipe_chain: the cron-fired refinery → rollup → packer chain.
  *
  * Set-up builds the standing refinery (`Recipe.buildStanding`), the
  * token log and the pack state. Each op is one simulated day: a seeded window (new docs plus re-ingested
  * revisions) is appended to the raw-log parquet directory the registry
  * re-points to, the three jobs tick through `CronScheduler.tick`, and
  * the day ends when its placements are readable.
  *
  * Reference (plain Scala over the collected datasets): one placement
  * per live window doc, no duplicate ids, and each doc's token mass
  * equal in the emission, the token log and the placements. */
final class RecipeChain(ctx: Ctx) extends Workload {
  val NewDocs = 12; val Revisions = 3
  // one build takes about as long as a day; two keep the run affordable
  override val setupReps = 2
  val Budgets = Map("en" -> 30000L, "fr" -> 800L)
  private val nStanding = ctx.n(240); private val nEval = ctx.n(40)
  private val nDays = 40
  private val dir = ctx.work.resolve("data")

  private val r = new Random(ctx.seed)
  private val v = Gen.vocab(ctx.seed * 17 + 3, 2500)
  private val dupSpan = Gen.words(new Random(ctx.seed + 1), v, 22, 22).mkString(" ")
  private val junk = "zzjunk qqnoise xxspam zzjunk qqnoise xxspam"
  private def lang() = if (r.nextInt(5) == 0) "fr" else "en"
  private def body(id: Long) = {
    val ws = Gen.words(r, v, 20, 60).mkString(" ")
    ws + (if (id % 10 == 0) " " + dupSpan else "") + (if (id % 4 == 1) " " + junk else "")
  }

  // standing: (id, text, lang, label); eval: (id, text, lang)
  private val standing = (0L until nStanding).map(id => (id, body(id), lang(), id % 4 != 1))
  private val eval = (100000L until 100000L + nEval).map(id => (id, Gen.words(r, v, 30, 60).mkString(" "), "en"))
  /** windows(d) = the docs recorded on day d (day 0 is empty). */
  private val windows: IndexedSeq[IndexedSeq[(Long, String, String)]] = {
    val live = mutable.LinkedHashMap(standing.map(s => s._1 -> (s._2, s._3)): _*)
    IndexedSeq(IndexedSeq.empty) ++ (1 to nDays).map { d =>
      val fresh = (0 until NewDocs).map { j =>
        val id = 10000L + d * 100L + j
        // every 5th new doc quotes an eval doc: eval decontamination bites
        val leak = if (j % 5 == 0) " " + eval(r.nextInt(eval.size))._2.split(" ").take(20).mkString(" ") else ""
        (id, body(id) + leak, lang())
      }
      val ids = live.keys.toIndexedSeq
      val revs = r.shuffle(ids.indices.toList).take(Revisions).map { i =>
        val (t, l) = live(ids(i)); (ids(i), s"revision $d of this document $t", l)
      }
      val w = fresh ++ revs
      w.foreach { case (id, t, l) => live(id) = (t, l) }
      w
    }
  }

  def generate(spark: SparkSession, d: Gen.Digest): Unit = {
    standing.foreach(s => d.add(s"standing|$s"))
    eval.foreach(e => d.add(s"eval|$e"))
    windows.zipWithIndex.foreach { case (w, i) => w.foreach(x => d.add(s"day$i|$x")) }
    import spark.implicits._
    standing.toDF("doc_id", "text", "lang", "label").coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("standing").toString)
    eval.toDF("doc_id", "text", "lang").coalesce(1).write.mode("overwrite").parquet(dir.resolve("eval").toString)
  }

  // ---- set-up --------------------------------------------------------
  private var spark: SparkSession = _
  private var prefix: String = _
  private var rawDir: Path = _
  private var reg: DatasetRegistry = _
  private var sched: CronScheduler = _
  private var placements: Array[Row] = _
  private val snapshots = mutable.Map.empty[Long, (Array[Row], Array[Row], Array[Row])]

  def setup(s: SparkSession, rep: Int): Unit = {
    spark = s
    prefix = s"rc_r$rep"
    rawDir = Files.createDirectories(ctx.work.resolve(s"recipe_r$rep").resolve("rawlog"))
    val std = s.read.parquet(dir.resolve("standing").toString)
    val st = ctx.tracer.span("jobs.Recipe.buildStanding") {
      Recipe.buildStanding(s, std, s.read.parquet(dir.resolve("eval").toString),
        "text", "doc_id", "lang", "label", k = 15, Bpe.DefaultMerges, prefix = prefix, buckets = 8)
    }
    // bootstrap, as a deployment seeds the chain: the standing corpus's
    // own emission masses seed the token log and the pack state
    val totS = s.table(st.counts).groupBy("lang").agg(sum("bpe_tokens").cast("long").as("__tot"))
    val massS = TextAnalysis.tokenBudgetRepeatAgainst(s.table(st.counts), totS, "doc_id", "lang", Budgets)
      .groupBy("doc_id").agg(sum("bpe_tokens").cast("long").as("emitted_tokens"))
    val toklog0 = graft.core.Checkpoints.truncate(
      std.select(col("doc_id"), col("lang")).join(massS, Seq("doc_id"), "left")
        .withColumn("emitted_tokens", coalesce(col("emitted_tokens"), lit(0L)))
        .withColumn("recorded", lit(0L)))
    val packTbl = s"${prefix}_pack"
    PackIndex.buildPackState(toklog0, "doc_id", "lang", "emitted_tokens",
      capacity = 512L, shardSize = 300L, packTbl)
    reg = new DatasetRegistry
    reg.put("toklog", toklog0)
    sched = new CronScheduler(Seq(
      Recipe.recipeJob(reg, st, "rawlog", "doc_id", "recorded", "text", "lang", Budgets, k = 15,
        Bpe.DefaultMerges, "emission", cron = "0 3 * * *"),
      Recipe.emissionRollupJob(reg, "rawlog", "emission", "toklog", "doc_id", "lang", "recorded",
        cron = "30 3 * * *"),
      PackIndex.packJob(reg, "toklog", "doc_id", "lang", "emitted_tokens", "recorded",
        capacity = 512L, shardSize = 300L, packTbl, "placements", cron = "0 4 * * *")))
  }

  /** No warm-up day: one costs as much as a measured day, which a short
    * run has no room for. The standing builds already run the text
    * kernels and the sinks' code; day 1 is still 10-20% slower than
    * day 2. */
  def warm(): Unit = ()

  /** Append day d's window to the raw log and re-point the registry. */
  private def land(d: Int): Unit = {
    val s = spark
    import s.implicits._
    windows(d).map { case (id, t, l) => (id, t, l, d.toLong) }.toDF("doc_id", "text", "lang", "recorded")
      .coalesce(1).write.mode("append").parquet(rawDir.toString)
    reg.put("rawlog", spark.read.parquet(rawDir.toString))
  }

  private def day(d: Int): Unit = {
    val t = LocalDateTime.of(2026, 1, 1, 3, 0).plusDays(d)
    val tr = ctx.tracer
    // the scheduler isolates a failed job from the rest of its tick;
    // for the benchmark any failed firing fails the day
    def tick(span: String, at: LocalDateTime): Unit = tr.span(span) {
      sched.tickOutcomes(spark, reg, at).foreach { case (id, err) =>
        err.foreach(e => throw new RuntimeException(s"cron job $id failed", e))
      }
    }
    tick("jobs.Recipe.recipeJob.tick", t)
    tick("jobs.Recipe.emissionRollupJob.tick", t.plusMinutes(30))
    tick("text.PackIndex.packJob.tick", t.plusMinutes(60))
    placements = tr.span("read.placements")(reg.get("placements").collect())
  }

  // op k is day k + 1
  override def prepare(op: Long): Unit = land(op.toInt + 1)
  def op(op: Long): Long = { day(op.toInt + 1); windows(op.toInt + 1).size.toLong }
  override def after(op: Long): Unit =
    snapshots(op) = (placements, reg.get("toklog").collect(), reg.get("emission").collect())

  override def inputBytes(ops: Seq[Long]): Long =
    ops.map(o => windows(o.toInt + 1).map(_._2.getBytes("UTF-8").length.toLong).sum).sum

  // ---- reference -----------------------------------------------------
  def check(ops: Seq[Long]): Map[Long, Boolean] = ops.map { op =>
    val d = op.toInt + 1
    val (pl, tok, em) = snapshots(op)
    val liveIds = (1 to d).flatMap(windows(_).map(_._1)).toSet
    def long(row: Row, c: String): Long = row.get(row.fieldIndex(c)).asInstanceOf[Number].longValue
    val plBy = pl.groupBy(long(_, "doc_id"))
    val tokBy = tok.groupBy(long(_, "doc_id"))
    val emSum = em.groupBy(long(_, "doc_id")).map { case (k, rs) => k -> rs.map(long(_, "bpe_tokens")).sum }
    val noDups = plBy.values.forall(_.length == 1) && tokBy.values.forall(_.length == 1)
    val conserved = liveIds.forall { id =>
      val e = emSum.getOrElse(id, 0L) + (if (ctx.corrupt && op % 2 == 0) 1L else 0L)
      plBy.get(id).exists(_.length == 1) && tokBy.get(id).exists(_.length == 1) &&
        long(tokBy(id)(0), "emitted_tokens") == e && long(plBy(id)(0), "emitted_tokens") == e
    }
    op -> (noDups && conserved)
  }.toMap

  override def report(): Seq[(String, Double, String)] = {
    val wh = ctx.work.resolve("warehouse")
    val stateBytes = Files.list(wh).iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix.toLowerCase))
      .map(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum).sum
    val live = mutable.LinkedHashMap(standing.map(s => s._1 -> s._2): _*)
    val days = snapshots.keys.maxOption.map(_.toInt + 1).getOrElse(0)
    (1 to days).foreach(d => windows(d).foreach { case (id, t, _) => live(id) = t })
    val docBytes = live.values.map(_.getBytes("UTF-8").length.toLong).sum
    Seq(("space_amp", stateBytes.toDouble / docBytes, "ratio"))
  }
}
