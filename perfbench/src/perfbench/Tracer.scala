package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span sink the workloads call around their calls into each layer. */
trait Spans {
  def opStart(id: Long, kind: String, tMs: Double): Unit
  def opEnd(id: Long, tMs: Double): Unit
  def span[T](name: String)(body: => T): T
}

object Spans {
  object Off extends Spans {
    def opStart(id: Long, kind: String, tMs: Double): Unit = ()
    def opEnd(id: Long, tMs: Double): Unit = ()
    def span[T](name: String)(body: => T): T = body
  }
}

/** A timed interval: `parent` indexes the enclosing span, -1 for none. */
final case class Span(name: String, startMs: Double, endMs: Double, parent: Int, op: Long)

/** Traced-phase recorder: spans from the benchmark's own calls into each
  * layer, plus what Spark's listeners report (jobs, stages, tasks,
  * Catalyst phases, streaming progress). Everything is kept in memory;
  * listener events are attributed to the op whose interval holds them
  * (one closed-loop client runs one op at a time).
  */
final class Tracer(spark: SparkSession) extends Spans {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var curOp = 0L

  def opStart(id: Long, kind: String, tMs: Double): Unit = {
    curOp = id
    spans += Span("op." + kind, tMs, Double.NaN, -1, id)
    open = List(spans.size - 1)
  }
  def opEnd(id: Long, tMs: Double): Unit = {
    spans(open.last) = spans(open.last).copy(endMs = tMs)
    open = Nil
  }
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse(-1)
    spans += Span(name, Clock.nowMs, Double.NaN, parent, curOp)
    val idx = spans.size - 1
    open = idx :: open
    try body finally {
      spans(idx) = spans(idx).copy(endMs = Clock.nowMs)
      open = open.tail
    }
  }
  /** A span outside any op's interval that still belongs to op `op`
    * (probes of pure functions on the op's own inputs). */
  def detached[T](name: String, op: Long)(body: => T): T = {
    val t0 = Clock.nowMs
    try body finally spans += Span(name, t0, Clock.nowMs, -1, op)
  }

  // ---- listeners -------------------------------------------------------
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add(JobRec(s.toDouble, e.time.toDouble)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stages.add(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(TaskRec(i.launchTime.toDouble, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed))
      else {
        val run = m.executorRunTime
        val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - i.gettingResultTime)
        tasks.add(TaskRec(i.launchTime.toDouble, run, delay, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.jvmGCTime, m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, failed))
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def p(n: String) = ph.get(n)
      val start = p("analysis").orElse(p("optimization")).orElse(p("planning"))
        .map(_.startTimeMs.toDouble).getOrElse(System.currentTimeMillis().toDouble)
      queries.add(QueryRec(start,
        p("analysis").map(_.durationMs.toDouble).getOrElse(0.0),
        p("optimization").map(_.durationMs.toDouble).getOrElse(0.0),
        p("planning").map(_.durationMs.toDouble).getOrElse(0.0)))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.withDefaultValue(0.0)
      val ops = p.stateOperators
      progress.add(ProgressRec(p.id.toString, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
        d("commitOffsets"), ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum.toDouble))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Detach the listeners once every queued event was delivered. */
  def close(): Unit = {
    BusDrain.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    addListenerSpans()
  }

  /** workload-specific per-op metrics, recorded by the ops' probes */
  private val extra = scala.collection.mutable.LinkedHashMap[String, (String, ArrayBuffer[Double])]()
  def record(name: String, unit: String, v: Double): Unit =
    extra.getOrElseUpdate(name, (unit, ArrayBuffer[Double]()))._2 += v

  /** bytes written by the tasks of op `id` (drains the bus first) */
  def opBytesWritten(id: Long): Double = {
    BusDrain.drain(spark.sparkContext)
    spans.find(s => s.op == id && s.parent == -1 && s.name.startsWith("op."))
      .map(s => within(tasks.asScala, s)(_.launch).map(_.bytesOut).sum).getOrElse(0.0)
  }

  private def opSpans: Seq[Span] = spans.toSeq.filter(s => s.parent == -1 && s.name.startsWith("op."))

  private def within[T](xs: Iterable[T], s: Span)(t: T => Double): Iterable[T] =
    xs.filter { x => val v = t(x); v >= s.startMs && v <= s.endMs }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    cl.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Spark jobs, Catalyst phases and micro-batches as spans, each under
    * the innermost benchmark span that holds its start. */
  private def addListenerSpans(): Unit = {
    val base = spans.toIndexedSeq.zipWithIndex
    def parentOf(t: Double): (Int, Long) = {
      val holders = base.filter { case (s, _) => t >= s.startMs && t <= s.endMs }
      if (holders.isEmpty) (-1, 0L)
      else {
        val (s, i) = holders.minBy { case (s, _) => s.endMs - s.startMs }
        (i, s.op)
      }
    }
    jobs.asScala.foreach { j =>
      val (p, op) = parentOf(j.start)
      if (p >= 0) spans += Span("spark.job", j.start, j.end, p, op)
    }
    queries.asScala.foreach { q =>
      val (p, op) = parentOf(q.start)
      if (p >= 0) {
        var t = q.start
        Seq("catalyst.analysis" -> q.analysisMs, "catalyst.optimization" -> q.optimizationMs,
          "catalyst.planning" -> q.planningMs).foreach { case (n, d) =>
          spans += Span(n, t, t + d, p, op); t += d
        }
      }
    }
    progress.asScala.foreach { b =>
      val (p, op) = parentOf(b.start)
      if (p >= 0) spans += Span("stream.batch", b.start, b.start + b.triggerMs, p, op)
    }
  }

  /** Self time per span name: duration minus the part its direct
    * children cover. Returns (name, total self ms, span count). */
  def selfTimes(): Seq[(String, Double, Int)] = {
    val all = spans.toIndexedSeq
    val children = all.zipWithIndex.groupBy(_._1.parent)
    all.zipWithIndex.map { case (s, i) =>
      val kids = children.getOrElse(i, Nil).map { case (c, _) => (c.startMs, c.endMs) }
      s.name -> ((s.endMs - s.startMs) - covered(kids, s.startMs, s.endMs))
    }.groupBy(_._1).map { case (n, xs) => (n, xs.map(_._2).sum, xs.size) }
      .toSeq.sortBy(-_._2)
  }

  def writeSpans(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      f"""{"name": "${s.name}", "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "parent": ${s.parent}, "op": ${s.op}}"""
    }
    Files.write(path, lines.asJava)
  }

  /** Per-layer metrics of the traced phase, each a mean per op unless
    * its name says otherwise; layers a workload never reaches read 0. */
  def layerMetrics(): Seq[Metric] = {
    val ops = opSpans
    val n = math.max(1, ops.size)
    val jobL = jobs.asScala.toSeq
    val taskL = tasks.asScala.toSeq
    val stageL = stages.asScala.toSeq
    val qL = queries.asScala.toSeq
    val pL = progress.asScala.toSeq
    def perOp(f: Span => Double): Double = ops.map(f).sum / n
    val opTasks = ops.map(s => within(taskL, s)(_.launch).toSeq)
    val opJobs = ops.map(s => within(jobL, s)(_.start).toSeq)
    def taskSum(f: TaskRec => Double): Double = opTasks.map(_.map(f).sum).sum / n
    val opQueries = ops.map(s => within(qL, s)(_.start).toSeq)
    val opProg = ops.map(s => within(pL, s)(_.start).toSeq)
    val batches = opProg.flatten
    val nb = math.max(1, batches.size)
    // stream start = op start to the first trigger; stop = end of the
    // last trigger to the end of the gate call (span "stream.query")
    val streamEdges = ops.zip(opProg).filter(_._2.nonEmpty).map { case (s, ps) =>
      val q = spans.find(x => x.op == s.op && x.name == "stream.query").getOrElse(s)
      val last = ps.maxBy(_.start)
      (ps.map(_.start).min - s.startMs, q.endMs - (last.start + last.triggerMs))
    }
    val ne = math.max(1, streamEdges.size)
    def ex(name: String, unit: String): Metric = extra.get(name) match {
      case Some((u, xs)) if xs.nonEmpty => Metric(name, u, xs.sum / xs.size, xs.size)
      case _ => Metric(name, unit, 0.0, 0)
    }
    def stat(name: String, unit: String, v: Double, k: Int = ops.size) = Metric(name, unit, v, k)
    Seq(
      ex("core.config_ms", "ms"), ex("core.render_ms", "ms"), ex("dialect.rewrite_ms", "ms"),
      ex("script.split_ms", "ms"), ex("script.statements_per_op", "count"),
      stat("catalyst.queries_per_op", "count", opQueries.map(_.size).sum.toDouble / n),
      stat("catalyst.analysis_ms", "ms", opQueries.flatten.map(_.analysisMs).sum / n),
      stat("catalyst.optimization_ms", "ms", opQueries.flatten.map(_.optimizationMs).sum / n),
      stat("catalyst.planning_ms", "ms", opQueries.flatten.map(_.planningMs).sum / n),
      stat("spark.jobs_per_op", "count", opJobs.map(_.size).sum.toDouble / n),
      stat("spark.stages_per_op", "count", ops.map(s => within(stageL, s)(_.toDouble).size).sum.toDouble / n),
      stat("spark.tasks_per_op", "count", opTasks.map(_.size).sum.toDouble / n),
      stat("spark.task_ms_per_op", "ms", taskSum(_.runMs)),
      stat("spark.job_wall_ms", "ms", ops.zip(opJobs).map { case (s, js) =>
        covered(js.map(j => (j.start, j.end)), s.startMs, s.endMs) }.sum / n),
      stat("spark.driver_gap_ms", "ms", ops.zip(opJobs).map { case (s, js) =>
        (s.endMs - s.startMs) - covered(js.map(j => (j.start, j.end)), s.startMs, s.endMs) }.sum / n),
      stat("spark.scheduler_delay_ms", "ms", taskSum(_.schedDelayMs)),
      stat("spark.input_bytes", "bytes", taskSum(_.inputBytes)),
      stat("spark.shuffle_read_bytes", "bytes", taskSum(_.shuffleRead)),
      stat("spark.shuffle_write_bytes", "bytes", taskSum(_.shuffleWrite)),
      stat("spark.spill_bytes", "bytes", taskSum(_.spill)),
      stat("spark.gc_ms", "ms", taskSum(_.gcMs)),
      stat("spark.failed_tasks", "count", opTasks.map(_.count(_.failed)).sum.toDouble),
      stat("commit.tail_ms", "ms", ops.zip(opJobs).map { case (s, js) =>
        s.endMs - (if (js.isEmpty) s.startMs else math.min(s.endMs, js.map(_.end).max)) }.sum / n),
      stat("commit.rows_written", "rows", taskSum(_.rowsOut)),
      stat("commit.bytes_written", "bytes", taskSum(_.bytesOut)),
      ex("commit.files_per_partition", "count"), ex("commit.write_amplification", "ratio"),
      ex("commit.space_amplification", "ratio"), ex("commit.snapshots_retained", "count"),
      ex("kernel.md5_60_ns", "ns"), ex("kernel.farmhash64_ns", "ns"), ex("kernel.minhash32_ns", "ns"),
      ex("kernel.simhash64_ns", "ns"), ex("kernel.shingles_ns", "ns"), ex("kernel.rolling_ns", "ns"),
      ex("ops.exact_dedup_s", "s"), ex("ops.minhash_lsh_s", "s"),
      ex("ops.connected_components_s", "s"), ex("ops.simhash_s", "s"), ex("ops.pair_recall", "ratio"),
      stat("stream.batches_per_op", "count", batches.size.toDouble / n),
      stat("stream.batch_ms", "ms", batches.map(_.triggerMs).sum / nb, batches.size),
      stat("stream.add_batch_ms", "ms", batches.map(_.addBatchMs).sum / nb, batches.size),
      stat("stream.query_planning_ms", "ms", batches.map(_.planningMs).sum / nb, batches.size),
      stat("stream.wal_commit_ms", "ms", batches.map(_.walMs).sum / nb, batches.size),
      stat("stream.commit_offsets_ms", "ms", batches.map(_.commitOffsetsMs).sum / nb, batches.size),
      stat("stream.state_rows", "rows", opProg.map(ps =>
        ps.groupBy(_.query).values.map(_.maxBy(_.start).stateRows).sum.toDouble).sum / n),
      stat("stream.state_commit_ms", "ms", batches.map(_.stateCommitMs).sum / nb, batches.size),
      stat("stream.start_ms", "ms", streamEdges.map(_._1).sum / ne, streamEdges.size),
      stat("stream.stop_ms", "ms", streamEdges.map(_._2).sum / ne, streamEdges.size)
    )
  }
}

object Tracer {
  final case class JobRec(start: Double, end: Double)
  final case class TaskRec(launch: Double, runMs: Double, schedDelayMs: Double, inputBytes: Double,
      shuffleRead: Double, shuffleWrite: Double, spill: Double, gcMs: Double,
      bytesOut: Double, rowsOut: Double, failed: Boolean)
  final case class QueryRec(start: Double, analysisMs: Double, optimizationMs: Double,
      planningMs: Double)
  final case class ProgressRec(query: String, start: Double, triggerMs: Double, addBatchMs: Double,
      planningMs: Double, walMs: Double, commitOffsetsMs: Double, stateRows: Long,
      stateCommitMs: Double)
}
