package perfbench

import scala.util.Random

import graft.core.{EntityGraph, Tpch}
import graft.ops.{ChangeLog, TimeTravel}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** graph_read: entity lookups, traversals and change / as-of reads from
  * two closed-loop clients sharing one session and one `Tpch.graph`.
  *
  * Inputs: a seeded TPC-H-shaped star schema plus an `events` version
  * log, and a seeded request stream. Reference: every response's rows,
  * computed in plain Scala from the generated rows (no Spark, no graft). */
final class GraphRead(ctx: Ctx) extends Workload {
  import GraphRead._

  override val clients = 2
  private val dir = ctx.work.resolve("data").toString
  private val r = new Random(ctx.seed)

  private val nCust = ctx.n(3000); private val nSupp = ctx.n(200); private val nPart = ctx.n(2000)
  private val nOrd = ctx.n(6000); private val nUsers = ctx.n(1000); private val nEvents = ctx.n(10000)
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val types = Seq("view", "click", "purchase", "signup", "error")

  // generated rows, kept for the reference
  private val region = (0 until 5).map(k => Row(k, s"REGION_$k"))
  private val nation = (0 until 25).map(k => Row(k, s"NATION_$k", k % 5))
  private val customer = (1L to nCust).map(k => Row(k, f"Customer#$k%09d", r.nextInt(25),
    (r.nextInt(1100000) - 100000) / 100.0, segments(r.nextInt(5))))
  private val supplier = (1L to nSupp).map(k => Row(k, f"Supplier#$k%09d", r.nextInt(25),
    (r.nextInt(1100000) - 100000) / 100.0))
  private val part = (1L to nPart).map(k => Row(k, s"part ${r.nextInt(1000)} ${r.nextInt(1000)}",
    s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", s"TYPE_${r.nextInt(30)}", 1 + r.nextInt(50),
    900 + r.nextInt(110000) / 100.0))
  private val orders = (1L to nOrd).map(k => Row(k, 1L + r.nextInt(nCust), Seq("F", "O", "P")(r.nextInt(3)),
    r.nextInt(50000000) / 100.0, s"${1 + r.nextInt(5)}-PRIO"))
  private val lineitem = orders.flatMap { o =>
    (1 to 1 + r.nextInt(5)).map(ln => Row(o.getLong(0), 1L + r.nextInt(nPart), 1L + r.nextInt(nSupp), ln,
      1.0 + r.nextInt(50), r.nextInt(10000000) / 100.0, r.nextInt(11) / 100.0, Seq("A", "N", "R")(r.nextInt(3))))
  }
  private val events = (0L until nEvents).map(k => Row(k, r.nextInt(nUsers).toLong,
    types(if (r.nextInt(10) == 0) 4 else r.nextInt(4)), r.nextInt(100000) / 100.0))

  private def schema(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
  private val tables = Seq(
    "region" -> (region, schema("r_regionkey" -> IntegerType, "r_name" -> StringType)),
    "nation" -> (nation, schema("n_nationkey" -> IntegerType, "n_name" -> StringType, "n_regionkey" -> IntegerType)),
    "customer" -> (customer, schema("c_custkey" -> LongType, "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType)),
    "supplier" -> (supplier, schema("s_suppkey" -> LongType, "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType)),
    "part" -> (part, schema("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
      "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType)),
    "orders" -> (orders, schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderpriority" -> StringType)),
    "lineitem" -> (lineitem, schema("l_orderkey" -> LongType, "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_returnflag" -> StringType)),
    "events" -> (events, schema("event_id" -> LongType, "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType)))

  // ---- the request stream ------------------------------------------
  private val scopes = Seq(Seq("customer", "supplier"), Seq("customer"), Seq("supplier"))
  // every block of ten requests holds each kind once, in seeded order: a
  // run's mix does not drift with the seed, so neither does its median
  private val requests: IndexedSeq[Req] =
    IndexedSeq.fill(410)(r.shuffle((0 until 10).toList)).flatten.map {
      case 0 => Lookup(1L + r.nextInt(nCust))
      case 1 => Details(1L + r.nextInt(nPart))
      case 2 => Out(1L + r.nextInt(nCust))
      case 3 => In(r.nextInt(25), scopes(r.nextInt(3)))
      case 4 => Out2(1L + r.nextInt(nCust))
      case 5 => OutStar(1L + r.nextInt(nOrd))
      case 6 => InPaged(r.nextInt(25), scopes(r.nextInt(2)), 3)
      case 7 => Changes(r.nextInt(nEvents).toLong)
      case 8 => AsOf(r.nextInt(nEvents).toLong, r.nextInt(nUsers).toLong)
      case _ => InAtTime(r.nextInt(nEvents).toLong, r.nextInt(nUsers).toLong)
    }
  private def req(op: Long): Req = requests((op % requests.size).toInt)

  def generate(spark: SparkSession, d: Gen.Digest): Unit = {
    tables.foreach { case (name, (rows, _)) => rows.foreach(row => d.add(s"$name|${row.mkString("|")}")) }
    requests.foreach(q => d.add(q.toString))
    parallel(tables, tables.size) { case (name, (rows, sch)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), sch).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  // ---- set-up: the graph a server would hold -------------------------
  @volatile private var g: EntityGraph = _
  @volatile private var log: DataFrame = _

  def setup(spark: SparkSession, rep: Int): Unit = {
    g = Tpch.graph(spark, dir)
    log = Tpch.eventsLog(spark, dir)
  }

  /** Three rounds of one request of every kind, spread over the clients:
    * after one round the planner is still being JIT-compiled during the
    * measured window, and ops read 10-15% slower than after three. */
  def warm(): Unit = (0 until 3).foreach { i =>
    parallel(requests.groupBy(_.getClass).values.map(_(i)).toSeq, clients)(run)
  }

  private def parallel[A](xs: Seq[A], threads: Int)(f: A => Any): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) })).foreach(_.get())
    finally pool.shutdown()
  }

  private val responses = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()

  def op(op: Long): Long = { responses.put(op, run(req(op))); 0L }

  private def str(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.mkString("|"))

  private def call(layer: String)(df: => DataFrame): Seq[String] = {
    val t = ctx.tracer
    val built = t.span(s"$layer.build")(df)
    t.span(s"$layer.exec")(str(built.collect()))
  }

  private val srcNs = "http://graft.io/events/user/"
  private val tgtNs = "http://graft.io/events/type/"
  private val did = Tpch.schemaNs + "did"

  private def run(q: Req): Seq[String] = q match {
    case Lookup(k) => call("core.EntityGraph.lookup")(g.lookup("customer", k))
    case Details(k) => call("core.EntityGraph.detailsLookup")(
      g.detailsLookup("part", k, Seq("p_name", "p_brand", "p_type", "p_size")))
    case Out(lo) => call("core.EntityGraph.out")(
      g.out("customer", Tpch.pNation, col("c_custkey").between(lo, lo + 19)))
    case In(n, scope) => call("core.EntityGraph.in")(
      g.in("nation", Tpch.pNation, col("n_name") === s"NATION_$n", scope))
    case Out2(lo) => call("core.EntityGraph.out2")(
      g.out2("customer", Tpch.pNation, Tpch.pRegion, col("c_custkey").between(lo, lo + 19)))
    case OutStar(lo) => call("core.EntityGraph.outStar")(
      g.outStar("lineitem", col("l_orderkey").between(lo, lo + 4)))
    case InPaged(n, scope, pages) =>
      // follow the continuation token: resume past the last row served
      var after: Option[(String, Long)] = None
      (1 to pages).flatMap { _ =>
        val page = call("core.EntityGraph.inPaged")(
          g.inPaged("nation", Tpch.pNation, col("n_name") === s"NATION_$n", scope, after, pageSize = 20))
        page.lastOption.foreach { l => val f = l.split("\\|"); after = Some((f(2), f(4).toLong)) }
        page
      }
    case Changes(since) => call("ops.ChangeLog.changesSince")(
      ChangeLog.changesSince(log, "event_id", since, limit = Some(50)))
    case AsOf(t, lo) => call("ops.ChangeLog.asOf")(
      ChangeLog.asOf(log.filter(col("user_id").between(lo, lo + 49)), "user_id", "event_id", t))
    case InAtTime(t, lo) => call("ops.TimeTravel.inAtTime")(
      TimeTravel.inAtTime(log.filter(col("user_id").between(lo, lo + 49)), "user_id", "event_id",
        col("event_type") === "error", "event_type", t, srcNs, did, tgtNs))
  }

  // ---- reference: plain Scala over the generated rows ---------------
  private lazy val custBy = customer.map(r => r.getLong(0) -> r).toMap
  private lazy val partBy = part.map(r => r.getLong(0) -> r).toMap
  private lazy val natBy = nation.map(r => r.getInt(0) -> r).toMap
  private lazy val regBy = region.map(r => r.getInt(0) -> r).toMap
  private def u(ds: String, k: Any) = s"${Tpch.base}$ds/$k"
  private def line(xs: Any*) = xs.mkString("|")

  private def incoming(n: Int, scope: Seq[String]): Seq[(String, Long, String)] = {
    val legs = Seq("customer" -> customer.map(r => (r.getLong(0), r.getInt(2))),
      "supplier" -> supplier.map(r => (r.getLong(0), r.getInt(2))))
    legs.filter(l => scope.contains(l._1)).flatMap { case (ds, rows) =>
      rows.filter(_._2 == n).map { case (k, _) =>
        (ds, k, line(u("nation", n), Tpch.pNation, ds, u(ds, k), k))
      }
    }.sortBy(x => (x._1, x._2))
  }

  private def latest(t: Long, lo: Long): Seq[Row] =
    events.filter(e => e.getLong(0) <= t && e.getLong(1) >= lo && e.getLong(1) <= lo + 49)
      .groupBy(_.getLong(1)).values.map(_.maxBy(_.getLong(0))).toSeq

  private def expected(q: Req): Seq[String] = q match {
    case Lookup(k) => custBy.get(k).map(r => r.mkString("|")).toSeq
    case Details(k) => partBy.get(k).toSeq.flatMap { p =>
      Seq("p_brand" -> p.get(2), "p_name" -> p.get(1), "p_size" -> p.get(4), "p_type" -> p.get(3))
        .map { case (c, v) => line(u("part", k), s"${Tpch.schemaNs}part/$c", v, "part") }
    }
    case Out(lo) => customer.filter(c => c.getLong(0) >= lo && c.getLong(0) <= lo + 19).map { c =>
      val n = natBy(c.getInt(2))
      line(u("customer", c.getLong(0)), Tpch.pNation, u("nation", n.getInt(0)), n.mkString("|"))
    }
    case In(n, scope) => incoming(n, scope).map(_._3)
    case Out2(lo) => customer.filter(c => c.getLong(0) >= lo && c.getLong(0) <= lo + 19).map { c =>
      val rg = regBy(natBy(c.getInt(2)).getInt(2))
      line(u("customer", c.getLong(0)), u("region", rg.getInt(0)), rg.mkString("|"))
    }
    case OutStar(lo) => lineitem.filter(l => l.getLong(0) >= lo && l.getLong(0) <= lo + 4).flatMap { l =>
      val id = u("lineitem", s"${l.getLong(0)}-${l.getInt(3)}")
      Seq(line(id, Tpch.pOrder, u("orders", l.getLong(0))),
        line(id, Tpch.pPart, u("part", l.getLong(1))),
        line(id, Tpch.pSupplier, u("supplier", l.getLong(2))))
    }
    case InPaged(n, scope, pages) => incoming(n, scope).take(pages * 20).map(_._3)
    case Changes(since) => events.filter(_.getLong(0) > since).take(50).map(_.mkString("|"))
    case AsOf(t, lo) => latest(t, lo).map(_.mkString("|"))
    case InAtTime(t, lo) => latest(t, lo).filter(_.getString(2) != "error").map(e =>
      line(tgtNs + e.getString(2), did, srcNs + e.getLong(1), e.getLong(1)))
  }

  /** Ordered responses (paged and limited reads) compare as lists; the
    * rest as multisets. */
  private def ordered(q: Req) = q.isInstanceOf[InPaged] || q.isInstanceOf[Changes]

  def check(ops: Seq[Long]): Map[Long, Boolean] = ops.map { op =>
    val q = req(op)
    val want0 = expected(q)
    // a wrong reference for the self-test: one extra expected row
    val want = if (ctx.corrupt && op % 3 == 0) want0 :+ "corrupt" else want0
    val got = responses.get(op)
    op -> (got != null && (if (ordered(q)) got == want else got.sorted == want.sorted))
  }.toMap
}

object GraphRead {
  sealed trait Req
  final case class Lookup(key: Long) extends Req
  final case class Details(key: Long) extends Req
  final case class Out(lo: Long) extends Req
  final case class In(nation: Int, scope: Seq[String]) extends Req
  final case class Out2(lo: Long) extends Req
  final case class OutStar(lo: Long) extends Req
  final case class InPaged(nation: Int, scope: Seq[String], pages: Int) extends Req
  final case class Changes(since: Long) extends Req
  final case class AsOf(t: Long, userLo: Long) extends Req
  final case class InAtTime(t: Long, userLo: Long) extends Req
}
