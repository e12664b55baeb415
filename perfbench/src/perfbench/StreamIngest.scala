package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.dedup.Dedup
import graft.streaming.OnChange
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** stream_ingest: `onchange` dedup against a standing shingle index.
  *
  * Set-up builds the index over a seeded standing corpus
  * (`Dedup.buildShingleIndex`); one firing warms it. Each op lands
  * one seeded chunk file and runs one `OnChange.streamingDedupDelta`
  * firing on the persistent checkpoint and index. A chunk holds held-out
  * docs, near-dup variants of corpus docs (fixed seeded edit rate) and
  * re-emitted ids (the supersede path).
  *
  * Reference: the stream replayed in plain Scala, exact 3-gram Jaccard
  * per batch against the index state at its arrival — the union of the
  * per-firing pair sets equals the one-shot exact pair set of the stream. */
final class StreamIngest(ctx: Ctx) extends Workload {
  val Threshold = 0.8
  val ChunkDocs = 30
  val HeldOut = 0.5; val NearDup = 0.3 // the rest re-emits live ids
  val EditRate = 0.04
  // two index builds: a third moves setup_s little and costs a run 2-3 s
  override val setupReps = 2
  private val nCorpus = ctx.n(400)
  private val nChunks = 400 // far more than a run fires
  private val dir = ctx.work.resolve("data")

  private val r = new Random(ctx.seed)
  private val v = Gen.vocab(ctx.seed * 31 + 7, 3000)
  private def text(ws: IndexedSeq[String]) = ws.mkString(" ")

  // corpus ids 1..nCorpus, stream ids after
  private val corpus: IndexedSeq[(Long, String)] =
    (1L to nCorpus).map(id => id -> text(Gen.words(r, v, 30, 70)))
  private val chunks: IndexedSeq[IndexedSeq[(Long, String)]] = {
    val live = mutable.LinkedHashMap(corpus: _*)
    var next = nCorpus + 1L
    (0 until nChunks).map { _ =>
      val nHeld = (ChunkDocs * HeldOut).toInt; val nNear = (ChunkDocs * NearDup).toInt
      val liveMax = next - 1 // ids 1..liveMax are live before this chunk
      val held = (1 to nHeld).map { _ => next += 1; (next - 1) -> text(Gen.words(r, v, 30, 70)) }
      val near = (1 to nNear).map { _ =>
        val src = corpus(r.nextInt(corpus.size))._2.split(" ").toIndexedSeq
        next += 1; (next - 1) -> text(Gen.mutate(r, v, src, EditRate))
      }
      val picked = mutable.LinkedHashSet.empty[Long]
      while (picked.size < ChunkDocs - nHeld - nNear) picked += 1L + r.nextInt(liveMax.toInt)
      val re = picked.toIndexedSeq.map { id =>
        id -> text(Gen.mutate(r, v, live(id).split(" ").toIndexedSeq, EditRate))
      }
      val chunk = held ++ near ++ re
      live ++= chunk
      chunk
    }
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  def generate(spark: SparkSession, d: Gen.Digest): Unit = {
    corpus.foreach { case (id, t) => d.add(s"corpus|$id|$t") }
    chunks.zipWithIndex.foreach { case (c, i) => c.foreach { case (id, t) => d.add(s"chunk$i|$id|$t") } }
    spark.createDataFrame(corpus.map { case (id, t) => Row(id, t) }.asJava, schema)
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("corpus").toString)
  }

  // ---- set-up --------------------------------------------------------
  private var spark: SparkSession = _
  private var table: String = _
  private var docsDir: Path = _
  private var pairs: String = _
  private var ckpt: String = _

  /** Write chunk i as one parquet file, then move it into the stream dir. */
  private def land(i: Int): Unit = {
    val staged = ctx.work.resolve(s"staging-$i")
    spark.createDataFrame(chunks(i).map { case (id, t) => Row(id, t) }.asJava, schema)
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, docsDir.resolve(f"c$i%04d.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def fire(): Unit = ctx.tracer.span("streaming.OnChange.streamingDedupDelta") {
    OnChange.streamingDedupDelta(spark, docsDir.toString, "text", "doc_id", 3, Threshold, table, pairs, ckpt)
  }

  def setup(s: SparkSession, rep: Int): Unit = {
    spark = s
    table = s"shingles_r$rep"
    val run = ctx.work.resolve(s"stream_r$rep")
    docsDir = Files.createDirectories(run.resolve("docs"))
    pairs = run.resolve("pairs").toString
    ckpt = run.resolve("checkpoint").toString
    ctx.tracer.span("dedup.Dedup.buildShingleIndex") {
      Dedup.buildShingleIndex(s.read.parquet(dir.resolve("corpus").toString), "text", "doc_id", 3,
        table, buckets = 8)
    }
  }

  /** Chunk 0 is the warm-up firing: a JIT-cold first firing costs about
    * twice a warm one. */
  def warm(): Unit = { land(0); fire() }

  // op k lands chunk k + 1 (untimed) and fires it as micro-batch k + 1
  override def prepare(op: Long): Unit = land(op.toInt + 1)
  def op(op: Long): Long = { fire(); chunks(op.toInt + 1).size.toLong }

  override def inputBytes(ops: Seq[Long]): Long =
    ops.map(o => chunks(o.toInt + 1).map(_._2.getBytes("UTF-8").length.toLong).sum).sum

  // ---- reference -----------------------------------------------------
  private def shingles(t: String): Set[String] = t.split(" ").sliding(3).filter(_.length == 3)
    .map(_.mkString(" ")).toSet

  private def expectedPairs(upTo: Int): IndexedSeq[Set[String]] = {
    val index = mutable.Map(corpus.map { case (id, t) => id -> shingles(t) }: _*)
    (0 to upTo).map { i =>
      val batch = chunks(i).map { case (id, t) => id -> shingles(t) }.filter(_._2.nonEmpty)
      val ids = batch.map(_._1).toSet
      val others = index.iterator.filterNot { case (id, _) => ids(id) }.toSeq
      val cand = batch.flatMap { case (a, sa) =>
        batch.filter(_._1 > a).map(b => (a, sa, b._1, b._2)) ++ others.map { case (b, sb) => (a, sa, b, sb) }
      }
      val out = cand.flatMap { case (a, sa, b, sb) =>
        val inter = (sa intersect sb).size
        val jac = inter.toDouble / (sa.size + sb.size - inter).toDouble
        if (inter > 0 && jac >= Threshold)
          Some(s"${math.min(a, b)}|${math.max(a, b)}|${BigDecimal(jac).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble}")
        else None
      }.toSet
      index --= ids; index ++= batch
      out
    }
  }

  def check(ops: Seq[Long]): Map[Long, Boolean] = {
    if (ops.isEmpty) return Map.empty
    val want = expectedPairs(ops.max.toInt + 1)
    ops.map { op =>
      val b = op.toInt + 1
      val path = java.nio.file.Paths.get(pairs, s"batch_id=$b")
      val got =
        if (!Files.exists(path) || !Files.list(path).iterator().asScala.exists(_.toString.endsWith(".parquet"))) Set.empty[String]
        else spark.read.parquet(path.toString).collect().map(_.mkString("|")).toSet
      val w = if (ctx.corrupt && op % 2 == 0) want(b) + "0|0|1.0" else want(b)
      op -> (got == w)
    }.toMap
  }

  override def report(): Seq[(String, Double, String)] = {
    val wh = ctx.work.resolve("warehouse")
    val stateBytes = Files.list(wh).iterator().asScala
      .filter(_.getFileName.toString.startsWith(table.toLowerCase))
      .map(p => Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum).sum
    val live = mutable.LinkedHashMap(corpus: _*)
    val fired = Files.list(docsDir).count().toInt
    chunks.take(fired).foreach(live ++= _)
    val docBytes = live.values.map(_.getBytes("UTF-8").length.toLong).sum
    Seq(("space_amp", stateBytes.toDouble / docBytes, "ratio"))
  }
}
