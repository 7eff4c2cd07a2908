package perfbench

import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.GraftRun
import graft.core.config.{AppConfig, TaskConfig}
import graft.core.macros.{AssetCompiler, QueryMacros}
import graft.core.window.CustomWindow
import graft.engine.{Dialect, StatementSplitter}

/** Source tables of the backfill: TPC-H-shaped `orders` and `lineitem`
  * over one year at the sf0.1 daily density (≈60 orders and ≈250 line
  * items per day, the per-window load of the reference's daily jobs). Fixed, so every seed sets up the same inputs; the seed
  * picks windows and job order. Money and quantities are whole numbers so
  * every expected aggregate is exact.
  */
object BackfillData {
  val Days = 365
  val OrdersPerDay = 63
  val FirstDay: LocalDate = LocalDate.of(2023, 1, 1)
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Array("F", "O", "P")
  val Flags = Array("A", "N", "R")
  val LineStatuses = Array("F", "O")

  final case class Order(key: Long, cust: Long, status: String, price: Long, day: Int,
      sec: Int, prio: String)
  final case class Line(order: Long, part: Long, supp: Long, no: Int, qty: Long, ext: Long,
      disc: Double, tax: Double, flag: String, status: String, shipDay: Int)

  /** Every day holds exactly 63 orders and 252 line items (1–7 per
    * order), so an op's input rows depend on its spec, not on the day the
    * seed picked. */
  def generate(): (IndexedSeq[Order], IndexedSeq[Line]) = {
    val r = new java.util.SplittableRandom(19920101L)
    val orders = mutable.ArrayBuffer[Order]()
    val lines = mutable.ArrayBuffer[Line]()
    var key = 1L
    for (day <- 0 until Days; i <- 0 until OrdersPerDay) {
      var price = 0L
      for (no <- 1 to 1 + i % 7) {
        val part = 1L + r.nextInt(20000)
        val qty = 1L + r.nextInt(50)
        val ext = qty * (900L + part % 200L)
        price += ext
        lines += Line(key, part, 1L + r.nextInt(1000), no, qty, ext, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Flags(r.nextInt(3)), LineStatuses(r.nextInt(2)),
          day + 1 + r.nextInt(30))
      }
      orders += Order(key, 1L + r.nextInt(15000), Statuses(r.nextInt(3)), price, day,
        r.nextInt(86400), Priorities(r.nextInt(5)))
      key += 1
    }
    (orders.toIndexedSeq, lines.toIndexedSeq)
  }

  def ts(day: Int, sec: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(FirstDay.plusDays(day.toLong).atStartOfDay.plusSeconds(sec.toLong))

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))
  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))
}

/** `bq2bq_backfill`: a daily-window backfill where each op is one
  * `GraftRun.run` with its own env contract, job dir and xcom — the
  * reference's own traffic. The job mix covers all five load methods, a
  * share of dry runs, and re-runs over windows already loaded.
  */
final class Backfill(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import Backfill._
  import BackfillData._

  private val root = work.resolve("backfill")
  private val rnd = new java.util.Random(seed)
  private var orders: IndexedSeq[Order] = IndexedSeq.empty
  private var linesByOrder: Map[Long, IndexedSeq[Line]] = Map.empty
  private var ordersByDay: Map[Int, IndexedSeq[Order]] = Map.empty
  private val oracle = new Oracle
  private val loaded = mutable.Map[String, mutable.ArrayBuffer[Int]]()
  private val opsByTable = mutable.Map[String, mutable.Set[Long]]()
  private var cycle = List.empty[String]
  private var cycles = 0
  private var jobSeq = 0

  def prepare(): Unit = {
    deleteTree(root)
    val (os, ls) = generate()
    orders = os
    linesByOrder = ls.groupBy(_.order)
    ordersByDay = os.groupBy(_.day)
    val src = root.resolve("src")
    spark.createDataFrame(os.map(o => Row(o.key, o.cust, o.status, o.price.toDouble,
        ts(o.day, o.sec), o.prio)).asJava, orderSchema)
      .coalesce(1).write.parquet(src.resolve("orders").toString)
    spark.createDataFrame(ls.map(l => Row(l.order, l.part, l.supp, l.no, l.qty.toDouble,
        l.ext.toDouble, l.disc, l.tax, l.flag, l.status, ts(l.shipDay, 0))).asJava, lineSchema)
      .coalesce(1).write.parquet(src.resolve("lineitem").toString)
    spark.sql("DROP DATABASE IF EXISTS bench__src CASCADE")
    spark.sql(s"CREATE DATABASE bench__src LOCATION '${src.resolve("db")}'")
    spark.sql(s"CREATE TABLE bench__src.orders USING parquet LOCATION '${src.resolve("orders")}'")
    spark.sql(s"CREATE TABLE bench__src.lineitem USING parquet LOCATION '${src.resolve("lineitem")}'")
    spark.sql("DROP DATABASE IF EXISTS bench__mart CASCADE")
    spark.sql(s"CREATE DATABASE bench__mart LOCATION '${root.resolve("mart")}'")
    Tables.foreach { case (t, ddl) => spark.sql(s"CREATE TABLE bench__mart.$t $ddl") }
    oracle.reset()
    loaded.clear()
    opsByTable.clear()
  }

  /** Two passes over the specs: after one, JIT compilation still takes
    * about a third of the CPU of the timed ops and varies from run to run. */
  def warmUp(): Unit = {
    (1 to 2).foreach(_ => Specs.foreach(s => runUntimed(newJob(s, dryRun = false))))
    runUntimed(newJob(Specs.head, dryRun = true))
  }

  private def runUntimed(j: Job): Unit = {
    j.run(Spans.Off)
    if (!j.check()) throw new IllegalStateException(s"warm-up job ${j.kind} produced a wrong xcom")
  }

  override val cycleLength: Int = Specs.size + 2

  /** Cycles of eight ops in seeded order: one per spec, one dry run and
    * one re-run of an already-loaded window; the dry-run and re-run specs
    * rotate from cycle to cycle. */
  def next(): Op = {
    if (cycle.isEmpty) {
      cycle = new scala.util.Random(rnd).shuffle(Specs.map(_.name) ++ Seq("dry", "rerun")).toList
      cycles += 1
    }
    val pick = cycle.head
    cycle = cycle.tail
    pick match {
      case "dry" => newJob(Specs(cycles % Specs.size), dryRun = true)
      case "rerun" =>
        val s = Specs((cycles + Specs.size / 2) % Specs.size)
        loaded.get(s.name).filter(_.nonEmpty) match {
          case Some(days) => newJob(s, dryRun = false, day = Some(days(rnd.nextInt(days.size))))
          case None => newJob(s, dryRun = false)
        }
      case name => newJob(Specs.find(_.name == name).get, dryRun = false)
    }
  }

  private def newJob(s: Spec, dryRun: Boolean, day: Option[Int] = None): Job = {
    jobSeq += 1
    val d0 = day.getOrElse(rnd.nextInt(Days - s.days + 1))
    new Job(s, d0, dryRun, root.resolve(s"jobs/$jobSeq"))
  }

  def finalCheck(): Set[Long] = {
    val bad = Tables.map(_._1).filterNot { t =>
      val got = spark.table(s"bench__mart.$t").collect().map(r => r.toSeq.mkString("|")).toSeq.sorted
      val want = oracle.rows(t).sorted
      if (got != want)
        System.err.println(s"[perfbench] backfill table $t differs from the recomputation: " +
          s"${got.size} rows vs ${want.size} expected; first diff " +
          got.diff(want).take(2).mkString(", ") + " / " + want.diff(got).take(2).mkString(", "))
      got == want
    }
    bad.flatMap(t => opsByTable.getOrElse(t, Nil)).toSet
  }

  /** rows of the window's orders (+ their line items where read) */
  private def inputRows(s: Spec, d0: Int): Long = {
    val os = (d0 until d0 + s.days).flatMap(ordersByDay.getOrElse(_, Nil))
    os.size + (if (s.readsLines) os.map(o => linesByOrder.getOrElse(o.key, Nil).size).sum else 0)
  }

  final class Job(s: Spec, d0: Int, dryRun: Boolean, dir: Path) extends Op {
    val kind: String = if (dryRun) s"${s.name}.dry" else s.name
    val inputRows: Long = if (dryRun) 0L else Backfill.this.inputRows(s, d0)
    private val start = FirstDay.plusDays(d0.toLong)
    private val sql =
      if (s.sliced) Seq.fill(s.days)(s.sql).mkString(AssetCompiler.BreakMarker) else s.sql
    private val xcom = dir.resolve("xcom.json")
    val env: Map[String, String] = Map(
      "JOB_DIR" -> dir.toString, "XCOM_PATH" -> xcom.toString,
      "DSTART" -> s"${start}T00:00:00", "DEND" -> s"${start.plusDays(s.days.toLong)}T00:00:00",
      "EXECUTION_TIME" -> s"${start.plusDays(s.days.toLong)}T01:00:00",
      "JOB_LABELS" -> s"owner=perfbench,job=${s.name}", "DRY_RUN" -> dryRun.toString,
      "PROJECT" -> "bench", "DATASET" -> "mart", "TABLE" -> s.table,
      "LOAD_METHOD" -> s.method, "CONCURRENCY" -> s.concurrency.toString)
    Files.createDirectories(dir.resolve("in"))
    Files.writeString(dir.resolve("in/query.sql"), sql)

    private var ran = false
    def run(spans: Spans): Unit = {
      opsByTable.getOrElseUpdate(s.table, mutable.Set[Long]()) += Loop.currentId
      spans.span("graft.run")(GraftRun.run(env, spark))
      ran = true
      if (!dryRun) {
        oracle(s, d0, orders = (d0 until d0 + s.days).flatMap(ordersByDay.getOrElse(_, Nil)),
          linesOf = o => linesByOrder.getOrElse(o, Nil))
        loaded.getOrElseUpdate(s.name, mutable.ArrayBuffer[Int]()) += d0
      }
    }

    /** the xcom carries both monitoring fields */
    def check(): Boolean = ran && Files.exists(xcom) && {
      val x = Files.readString(xcom)
      Seq("slot_millis", "total_bytes_processed").forall(f => s""""$f": *\\d+""".r.findFirstIn(x).isDefined)
    }

    override def probe(t: Tracer): Unit = {
      val id = Loop.currentId
      val reps = 20
      def each(name: String)(body: => Unit): Unit = {
        val t0 = System.nanoTime()
        t.detached(name, id) { var i = 0; while (i < reps) { body; i += 1 } }
        t.record(name + "_ms", "ms", (System.nanoTime() - t0) / 1e6 / reps)
      }
      each("core.config") { TaskConfig.fromEnv(env); AppConfig.fromEnv(env) }
      val slices = AssetCompiler.splitOnMarker(sql)
      val execTime = LocalDateTime.parse(env("EXECUTION_TIME"))
      def windowOf(i: Int) =
        if (s.sliced) CustomWindow(start.plusDays(i.toLong).atStartOfDay, start.plusDays(i + 1L).atStartOfDay)
        else CustomWindow(start.atStartOfDay, start.plusDays(s.days.toLong).atStartOfDay)
      val dest = s"bench.mart.${s.table}"
      var rendered = Seq.empty[String]
      each("core.render") {
        rendered = slices.zipWithIndex.map { case (q, i) => QueryMacros.render(q, windowOf(i), execTime, dest) }
      }
      each("dialect.rewrite") { rendered.foreach(q => Dialect.rewrite(q)) }
      var statements = 0
      each("script.split") { statements = rendered.map(q => StatementSplitter.split(q).size).sum }
      t.record("script.statements_per_op", "count", statements)
      if (!dryRun) commitProbe(t)
    }

    private def commitProbe(t: Tracer): Unit = {
      val loc = root.resolve(s"mart/${s.table}")
      val files = Files.walk(loc).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      def hidden(p: Path) = loc.relativize(p).iterator().asScala.exists { c =>
        val n = c.toString; n.startsWith(".") || n.startsWith("_")
      }
      val live = files.filterNot(hidden)
      val liveBytes = live.map(Files.size).sum.toDouble
      val touched = if (!s.partitioned) live else {
        val days = if (s.method == "REPLACE_ALL") Seq(start) else (0 until s.days).map(i => start.plusDays(i.toLong))
        val dirs = days.map(d => loc.resolve(s"d=$d")).toSet
        live.filter(p => dirs.contains(p.getParent))
      }
      val nParts = if (s.partitioned) math.max(1, touched.map(_.getParent).distinct.size) else 1
      t.record("commit.files_per_partition", "count", touched.size.toDouble / nParts)
      t.record("commit.write_amplification", "ratio",
        t.opBytesWritten(id = Loop.currentId) / math.max(1.0, touched.map(Files.size).sum.toDouble))
      t.record("commit.space_amplification", "ratio", files.map(Files.size).sum / math.max(1.0, liveBytes))
      t.record("commit.snapshots_retained", "count",
        Files.list(loc).iterator().asScala.count(_.getFileName.toString.startsWith(".graft_snap_")).toDouble)
    }
  }

  /** Expected destination contents, recomputed from the generated source
    * rows in plain Scala (no engine code). */
  private final class Oracle {
    private val daily = mutable.Map[Int, String]()
    private val prio = mutable.Map[Int, Seq[String]]()
    private val status = mutable.Map[Int, Seq[String]]()
    private val lineLog = mutable.ArrayBuffer[String]()
    private val custDay = mutable.Map[(Long, Int), String]()

    def reset(): Unit = { daily.clear(); prio.clear(); status.clear(); lineLog.clear(); custDay.clear() }

    def apply(s: Spec, d0: Int, orders: Seq[Order], linesOf: Long => Seq[Line]): Unit = {
      def day(d: Int) = FirstDay.plusDays(d.toLong).toString
      val byDay = orders.groupBy(_.day)
      s.table match {
        case "daily_revenue" =>
          (d0 until d0 + s.days).foreach { d =>
            val os = byDay.getOrElse(d, Nil)
            val ls = os.flatMap(o => linesOf(o.key))
            daily(d) = Seq(os.size, ls.size, ls.map(_.qty).sum, ls.map(_.ext).sum, day(d)).mkString("|")
          }
        case "order_priority" =>
          byDay.foreach { case (d, os) =>
            prio(d) = os.groupBy(_.prio).toSeq.map { case (p, g) =>
              Seq(p, g.size, g.map(_.price).sum, day(d)).mkString("|") }
          }
        case "status_daily" =>
          status(d0) = orders.groupBy(_.status).toSeq.map { case (st, g) =>
            Seq(st, g.size, day(d0)).mkString("|") }
        case "line_log" =>
          byDay.foreach { case (d, os) =>
            os.flatMap(o => linesOf(o.key)).groupBy(l => (l.flag, l.status)).foreach { case ((f, st), g) =>
              lineLog += Seq(f, st, g.size, g.map(_.qty).sum, day(d)).mkString("|")
            }
          }
        case "customer_day" =>
          orders.groupBy(o => (o.cust, o.day)).foreach { case ((c, d), g) =>
            custDay((c, d)) = Seq(c, day(d), g.size, g.map(_.price).sum).mkString("|")
          }
      }
    }

    def rows(table: String): Seq[String] = table match {
      case "daily_revenue" => daily.values.toSeq
      case "order_priority" => prio.values.flatten.toSeq
      case "status_daily" => status.values.flatten.toSeq
      case "line_log" => lineLog.toSeq
      case "customer_day" => custDay.values.toSeq
    }
  }
}

object Backfill {
  final case class Spec(name: String, method: String, table: String, days: Int,
      concurrency: Int, readsLines: Boolean, partitioned: Boolean, sliced: Boolean, sql: String)

  private val window =
    "o.o_orderdate >= TIMESTAMP('__dstart__') AND o.o_orderdate < TIMESTAMP('__dend__')"
  private val dayExpr = "FORMAT_DATE('%Y-%m-%d', DATE(o.o_orderdate))"

  private val dailyRevenue =
    s"""SELECT COUNT(DISTINCT o.o_orderkey) AS n_orders, COUNT(*) AS n_lines,
       |  CAST(SUM(l.l_quantity) AS INT64) AS qty,
       |  CAST(SUM(l.l_extendedprice) AS INT64) AS revenue,
       |  $dayExpr AS d
       |FROM `bench.src.orders` AS o
       |JOIN `bench.src.lineitem` AS l ON l.l_orderkey = o.o_orderkey
       |WHERE $window
       |GROUP BY d""".stripMargin

  val Specs: Seq[Spec] = Seq(
    Spec("replace_1d", "REPLACE", "daily_revenue", 1, 1, readsLines = true,
      partitioned = true, sliced = false, dailyRevenue),
    Spec("replace_3d_sliced", "REPLACE", "daily_revenue", 3, 3, readsLines = true,
      partitioned = true, sliced = true, dailyRevenue),
    Spec("replace_merge_2d", "REPLACE_MERGE", "order_priority", 2, 1, readsLines = false,
      partitioned = true, sliced = false,
      s"""SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders,
         |  CAST(SUM(o.o_totalprice) AS INT64) AS total_price, $dayExpr AS d
         |FROM `bench.src.orders` AS o
         |WHERE $window
         |GROUP BY priority, d""".stripMargin),
    Spec("replace_all_2d", "REPLACE_ALL", "status_daily", 2, 1, readsLines = false,
      partitioned = true, sliced = false,
      s"""SELECT o.o_orderstatus AS status, COUNT(*) AS n_orders
         |FROM `bench.src.orders` AS o
         |WHERE $window
         |GROUP BY status""".stripMargin),
    Spec("append_1d", "APPEND", "line_log", 1, 1, readsLines = true,
      partitioned = false, sliced = false,
      s"""SELECT l.l_returnflag AS flag, l.l_linestatus AS status, COUNT(*) AS n_lines,
         |  CAST(SUM(l.l_quantity) AS INT64) AS qty, $dayExpr AS d
         |FROM `bench.src.orders` AS o
         |JOIN `bench.src.lineitem` AS l ON l.l_orderkey = o.o_orderkey
         |WHERE $window
         |GROUP BY flag, status, d""".stripMargin),
    Spec("merge_1d", "MERGE", "customer_day", 1, 1, readsLines = false,
      partitioned = false, sliced = false,
      s"""MERGE INTO `bench.mart.customer_day` T
         |USING (
         |  SELECT o.o_custkey AS custkey, $dayExpr AS d, COUNT(*) AS n_orders,
         |    CAST(SUM(o.o_totalprice) AS INT64) AS total_price
         |  FROM `bench.src.orders` AS o
         |  WHERE $window
         |  GROUP BY custkey, d
         |) S
         |ON T.custkey = S.custkey AND T.d = S.d
         |WHEN MATCHED THEN UPDATE SET n_orders = S.n_orders, total_price = S.total_price
         |WHEN NOT MATCHED THEN INSERT (custkey, d, n_orders, total_price)
         |  VALUES (S.custkey, S.d, S.n_orders, S.total_price)""".stripMargin))

  val Tables: Seq[(String, String)] = Seq(
    "daily_revenue" ->
      "(n_orders BIGINT, n_lines BIGINT, qty BIGINT, revenue BIGINT, d STRING) USING parquet PARTITIONED BY (d)",
    "order_priority" ->
      "(priority STRING, n_orders BIGINT, total_price BIGINT, d STRING) USING parquet PARTITIONED BY (d)",
    "status_daily" -> "(status STRING, n_orders BIGINT, d STRING) USING parquet PARTITIONED BY (d)",
    "line_log" -> "(flag STRING, status STRING, n_lines BIGINT, qty BIGINT, d STRING) USING parquet",
    "customer_day" -> "(custkey BIGINT, d STRING, n_orders BIGINT, total_price BIGINT) USING parquet")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
}
