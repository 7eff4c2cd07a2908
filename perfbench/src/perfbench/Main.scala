package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload, drive it from a single
  * closed-loop client for `--seconds` of op time, check every op's
  * output, and print the result line. With `--trace 1` the time is split
  * between an untraced phase and a phase with the listeners and spans of
  * [[Tracer]] attached, and the per-layer metrics replace the end-to-end
  * ones.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: Path, traceDir: Path, benchDir: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, Paths.get(m("work")).toAbsolutePath,
      Paths.get(m("trace-dir")).toAbsolutePath, Paths.get(m("bench-dir")).toAbsolutePath)
  }

  /** Number of set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit =
    try {
      if (argv.headOption.contains("--init-metastore")) initMetastore(Paths.get(argv(1)))
      else run(parse(argv))
    } catch { case e: Throwable =>
      e.printStackTrace()
      // no result line: the launcher reports the failed run
      sys.exit(1)
    }

  /** Creates an empty Hive metastore (schema and `default` database) in
    * `dir`. The launcher keeps one per checkout and copies it into each
    * backfill run, as `GraftRun.main`'s persistent metastore outlives
    * its runs. */
  private def initMetastore(dir: Path): Unit = {
    val s = withHive(SparkSession.builder().master("local[1]").appName("perfbench-metastore")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString), dir.toAbsolutePath)
      .getOrCreate()
    s.sql("SHOW DATABASES").collect()
    s.stop()
    sys.exit(0)
  }

  private def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val wl: Workload = a.workload match {
      case "bq2bq_backfill" => new Backfill(spark, a.work, a.seed)
      case "corpus_dedup" => new CorpusDedup(spark, a.work, a.seed)
      case "stream_gates" => new StreamGates(spark, a.work, a.seed, a.benchDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepS = (1 to SetupReps).map(_ => Clock.seconds(wl.prepare()))
    val warmS = Clock.seconds(wl.warmUp())
    val setupS = sessionS + Stats.median(prepS) + warmS
    System.err.println(f"[perfbench] setup: session $sessionS%.3f s, prepare " +
      prepS.map(s => f"$s%.3f").mkString("/") + f" s, warm-up $warmS%.3f s")

    // a traced run splits its time between an untraced and a traced phase
    val phaseSeconds = if (a.trace) a.seconds / 2 else a.seconds
    val plain = Loop.run(wl, phaseSeconds, Spans.Off)
    log(s"timed phase done: ${plain.ops.size} ops")
    val liveHeap = LiveHeap.sampleBytes()
    val traced =
      if (!a.trace) None
      else {
        val tracer = new Tracer(spark)
        val phase = Loop.run(wl, phaseSeconds, tracer)
        tracer.close()
        Kernels.measure(
          if (wl.kernelTexts.nonEmpty) wl.kernelTexts else new Corpus(a.seed, 2000).docs.map(_._2),
          tracer)
        Some((phase, tracer))
      }

    val phases = plain +: traced.map(_._1).toSeq
    val wrong = wl.finalCheck()
    log("final check done")
    val ops = phases.flatMap(_.ops)
    val failed = ops.count(o => !o.ok || wrong.contains(o.id))
    val attempted = ops.size

    val endToEnd = Report.endToEnd(plain, setupS, liveHeap, wrong)
    Report.printTable(s"${a.workload} seed=${a.seed} end-to-end (tracing off)", endToEnd)
    val metrics = traced match {
      case None => endToEnd.filter(_.inResult)
      case Some((phase, tracer)) =>
        val layer = tracer.layerMetrics() :+
          Metric("trace.overhead_ms", "ms",
            (Stats.median(phase.ops.map(_.seconds)) - Stats.median(plain.ops.map(_.seconds))) * 1e3,
            phase.ops.size)
        Report.printTable(s"${a.workload} seed=${a.seed} per layer (traced)", layer)
        tracer.writeSpans(a.traceDir.resolve(s"${a.workload}-seed${a.seed}.jsonl"))
        Report.printSelfTimes(tracer.selfTimes())
        layer
    }
    spark.sparkContext.setLogLevel("ERROR")
    try spark.stop() catch { case _: Throwable => }
    log("session stopped")
    println("PERFBENCH_RESULT " + Report.resultJson(failed == 0 && attempted > 0,
      attempted, failed, metrics))
    System.out.flush()
    // threads the program leaves behind must not hold the JVM open
    sys.exit(0)
  }

  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $msg")

  /** The session of a run. `bq2bq_backfill` gets the catalog of
    * `GraftRun.main`, the program's own CLI session: Hive support over an
    * embedded Derby metastore, here the run directory's copy of the
    * checkout's empty metastore. The metastore is opened before the clock
    * stops, so connecting to it counts in `setup_s`. */
  private def session(a: Args): SparkSession = {
    Files.createDirectories(a.work.resolve("local"))
    val hive = a.workload == "bq2bq_backfill"
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("tmp").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("ckpt").toString)
    val s = (if (hive) withHive(b, a.work.resolve("metastore")) else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (hive) s.sql("SHOW DATABASES").collect()
    s
  }

  /** Hive support over an embedded Derby metastore in `meta`, with every
    * Derby and Hive scratch path under it. */
  private def withHive(b: SparkSession.Builder, meta: Path): SparkSession.Builder = {
    Files.createDirectories(meta)
    System.setProperty("derby.system.home", meta.toString)
    System.setProperty("derby.stream.error.file", meta.resolve("derby.log").toString)
    b.config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${meta.resolve("metastore_db")};create=true")
      .config("spark.hadoop.hive.exec.scratchdir", meta.resolve("scratch").toString)
      .config("spark.hadoop.hive.exec.local.scratchdir", meta.resolve("local-scratch").toString)
      .config("spark.hadoop.hive.downloaded.resources.dir", meta.resolve("resources").toString)
      .config("spark.hadoop.hive.querylog.location", meta.resolve("querylog").toString)
      .enableHiveSupport()
  }
}

/** One unit of client work. `run` is timed; `check` runs after the clock
  * stops and says whether the op's output was right.
  */
trait Op {
  def kind: String
  def inputRows: Long
  def run(spans: Spans): Unit
  def check(): Boolean
  /** traced phase only, after the op's span: extra per-layer probes */
  def probe(tracer: Tracer): Unit = ()
}

trait Workload {
  /** Generate the inputs and register them; repeatable (each call
    * starts from scratch). */
  def prepare(): Unit
  /** Untimed ops that warm JIT, codegen and caches. */
  def warmUp(): Unit
  def next(): Op
  /** Checks of the state all ops left behind; returns the ids of ops
    * whose output was wrong. */
  def finalCheck(): Set[Long]
  /** the timed phase ends on a multiple of this many ops, so every run
    * sees the same op mix */
  def cycleLength: Int = 1
  /** texts whose tokens feed the kernel timings; empty = a corpus sample */
  def kernelTexts: Seq[String] = Nil
}

final case class OpRecord(id: Long, seconds: Double, cpuSeconds: Double, inputRows: Long,
    ok: Boolean)

final case class Phase(ops: Seq[OpRecord]) {
  def opSeconds: Double = ops.map(_.seconds).sum
}

object Loop {
  private var nextId = 0L
  /** id of the op being run (0 outside the timed phases) */
  @volatile var currentId = 0L
  private val cpu = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Closed loop, one client: the next op starts when the previous one
    * (and its output check) is done, until `seconds` of op time and a
    * whole number of the workload's op cycles. */
  def run(wl: Workload, seconds: Double, spans: Spans): Phase = {
    val recs = ArrayBuffer[OpRecord]()
    var total = 0.0
    while (total < seconds || recs.size % wl.cycleLength != 0) {
      val op = wl.next()
      nextId += 1
      val id = nextId
      currentId = id
      val c0 = cpu.getProcessCpuTime
      val t0 = Clock.nowMs
      spans.opStart(id, op.kind, t0)
      val threw = try { op.run(spans); None } catch { case e: Throwable => Some(e) }
      val t1 = Clock.nowMs
      val c1 = cpu.getProcessCpuTime
      spans.opEnd(id, t1)
      threw.foreach(e => System.err.println(s"[perfbench] op $id (${op.kind}) threw: $e"))
      val ok = threw.isEmpty && (try op.check() catch { case e: Throwable =>
        System.err.println(s"[perfbench] op $id (${op.kind}) check threw: $e"); false })
      if (threw.isEmpty && !ok) System.err.println(s"[perfbench] op $id (${op.kind}) wrong result")
      spans match {
        case t: Tracer => op.probe(t)
        case _ =>
      }
      currentId = 0L
      val secs = (t1 - t0) / 1e3
      recs += OpRecord(id, secs, (c1 - c0) / 1e9, op.inputRows, ok)
      total += secs
      Main.log(f"op $id ${op.kind} $secs%.3f s ok=$ok")
    }
    Phase(recs.toSeq)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's listener timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile of the sorted sample */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Live heap retained after a timed phase: heap occupancy right after a
  * full collection forced once the last op is done. Two collections with
  * a pause between them, so blocks Spark's context cleaner releases in
  * response to the first are gone by the second. Taken outside every op,
  * so op times keep their own GC cost. */
object LiveHeap {
  def sampleBytes(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

final case class Metric(name: String, unit: String, value: Double, samples: Int,
    inResult: Boolean = true, note: String = "")

object Report {
  /** Ops of at least this many samples report a p90 (≥ 10 samples lie
    * beyond it). */
  val MinOpsForP90 = 100

  def endToEnd(p: Phase, setupS: Double, liveHeap: Long, wrong: Set[Long]): Seq[Metric] = {
    val n = p.ops.size
    val secs = p.ops.map(_.seconds)
    val failed = p.ops.count(o => !o.ok || wrong.contains(o.id))
    Seq(
      Metric("setup_s", "s", setupS, Main.SetupReps,
        note = s"session start + median of ${Main.SetupReps} input set-ups + warm-up"),
      Metric("op_p50_s", "s", Stats.median(secs), n),
      if (n >= MinOpsForP90) Metric("op_p90_s", "s", Stats.quantile(secs, 0.9), n, inResult = false)
      else Metric("op_p90_s", "s", Double.NaN, n, inResult = false,
        note = s"omitted: $n ops < $MinOpsForP90"),
      Metric("rows_per_s", "rows/s", p.ops.map(_.inputRows).sum / p.opSeconds, n),
      Metric("cpu_s_per_op", "s", p.ops.map(_.cpuSeconds).sum / n, n),
      Metric("live_heap_mb", "MB", liveHeap / 1048576.0, n),
      Metric("failed_ratio", "ratio", failed.toDouble / n, n, inResult = false))
  }

  def printTable(title: String, ms: Seq[Metric]): Unit = {
    System.err.println(s"[perfbench] $title")
    ms.foreach { m =>
      val v = if (m.value.isNaN) "-" else f"${m.value}%.6g"
      val note = if (m.note.isEmpty) "" else s"  (${m.note})"
      System.err.println(f"[perfbench]   ${m.name}%-32s $v%14s ${m.unit}%-7s n=${m.samples}$note")
    }
  }

  def printSelfTimes(self: Seq[(String, Double, Int)]): Unit = {
    System.err.println("[perfbench] self time by span (traced phase)")
    self.foreach { case (name, ms, n) =>
      System.err.println(f"[perfbench]   $name%-32s $ms%12.3f ms  spans=$n")
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    val body = ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
