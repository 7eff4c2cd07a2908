package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FarmHashKernels, Md5Kernel, SketchKernels}
import graft.ops.TextDedup

/** Seeded synthetic corpus: doc texts are 20–49 tokens over a
  * 1,000-word vocabulary, derived from the doc id alone. The seed picks
  * the id range and which docs get planted copies: a 10 % near-duplicate
  * share (the doc plus one appended token, Jaccard ≥ 0.95 on word
  * 3-grams) and a 1 % exact-duplicate share.
  */
final class Corpus(seed: Long, val nDocs: Int) {
  val VariantOffset = 500000000L
  val CopyOffset = 700000000L
  val lo: Long = 1000000L * math.floorMod(seed, 1000L)
  val ids: IndexedSeq[Long] = (0 until nDocs).map(lo + _)
  private val chosen = new scala.util.Random(seed).shuffle(ids)
  val variants: IndexedSeq[Long] = chosen.take(nDocs / 10).sorted
  val copies: IndexedSeq[Long] = chosen.takeRight(nDocs / 100).sorted

  def text(id: Long): String = {
    // fmix64 of the id: nearby ids must not seed overlapping streams
    var z = id ^ (id >>> 33)
    z *= 0xff51afd7ed558ccdL; z ^= z >>> 33
    z *= 0xc4ceb9fe1a85ec53L; z ^= z >>> 33
    val r = new java.util.SplittableRandom(z)
    val n = 20 + r.nextInt(30)
    (0 until n).map(_ => "tok" + r.nextInt(1000)).mkString(" ")
  }

  /** (doc_id, text) of every doc, planted ones included */
  def docs: IndexedSeq[(Long, String)] =
    ids.map(i => i -> text(i)) ++
      variants.map(i => (i + VariantOffset) -> (text(i) + " zz")) ++
      copies.map(i => (i + CopyOffset) -> text(i))
}

/** `corpus_dedup`: one op is a full near-duplicate pass —
  * `exactDedup` → `minhashLshPairs` → `connectedComponents` over those
  * pairs → `simhashPairs` — over a seeded corpus written to parquet at
  * set-up. Exercises the `functions` kernels, `ops.TextDedup` and its
  * shuffles; writes no table. At 11,100 docs about a third of a pass on
  * 4 cores is driver gap between jobs rather than task time (the traced
  * run's `spark.driver_gap_ms` against `spark.job_wall_ms`).
  */
final class CorpusDedup(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val corpus = new Corpus(seed, CorpusDedup.Docs)
  private val path = work.resolve("corpus").toString
  private lazy val all = corpus.docs

  def prepare(): Unit = {
    Backfill.deleteTree(work.resolve("corpus"))
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(corpus.docs.map { case (i, t) => Row(i, t) }.asJava, schema)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(path)
  }

  /** two untimed passes: the first pays class loading and codegen, the
    * second most of the JIT */
  def warmUp(): Unit = (1 to 2).foreach { _ =>
    val op = new Pass
    op.run(Spans.Off)
    if (!op.check()) throw new IllegalStateException("warm-up corpus pass gave a wrong result")
  }

  /** At least three timed passes, so `op_p50_s` is a true median: one
    * slow pass (a stall of the host) does not move it. */
  override val cycleLength: Int = 3

  def next(): Op = new Pass
  def finalCheck(): Set[Long] = Set.empty
  override def kernelTexts: Seq[String] = all.map(_._2)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final class Pass extends Op {
    val kind = "dedup_pass"
    val inputRows: Long = all.size.toLong
    private var exactGroups = -1L
    private var pairs: Set[(Long, Long)] = Set.empty
    private var labels: Map[Long, Long] = Map.empty
    private var sim: Seq[(Long, Long, Long)] = Nil
    private var pairsDf: DataFrame = _
    private var ccDf: DataFrame = _
    private var simDf: DataFrame = _
    private val secs = scala.collection.mutable.LinkedHashMap[String, Double]()

    private def stage[T](spans: Spans, name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try spans.span(name)(body) finally secs(name) = (System.nanoTime() - t0) / 1e9
    }

    def run(spans: Spans): Unit = {
      val docs = spark.read.parquet(path)
      stage(spans, "ops.exact_dedup") {
        val obs = Observation()
        noop(TextDedup.exactDedup(docs)
          .observe(obs, sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("groups")))
        exactGroups = Option(obs.get("groups")).map(_.asInstanceOf[Long]).getOrElse(0L)
      }
      pairsDf = stage(spans, "ops.minhash_lsh") {
        val p = TextDedup.minhashLshPairs(docs)
        noop(p)
        p
      }
      ccDf = stage(spans, "ops.connected_components") {
        val c = TextDedup.connectedComponents(pairsDf.select("a", "b"))
        noop(c)
        c
      }
      simDf = stage(spans, "ops.simhash") {
        val s = TextDedup.simhashPairs(docs)
        noop(s)
        s
      }
    }

    private def plantedFound: Int =
      corpus.variants.count(i => pairs.contains((i, i + corpus.VariantOffset)))

    /** exact-dup groups match the planted copies; ≥ 99 % of planted
      * near-dup pairs found; each found pair shares a component; every
      * planted exact copy is a SimHash pair at distance 0. */
    def check(): Boolean = {
      pairs = pairsDf.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      labels = ccDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sim = simDf.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val simSet = sim.map(x => (x._1, x._2)).toSet
      val okExact = exactGroups == corpus.copies.size
      val okRecall = plantedFound >= 0.99 * corpus.variants.size
      val okCc = pairs.forall { case (a, b) => labels.get(a).exists(labels.get(b).contains) }
      val okSim = sim.forall(x => x._1 < x._2 && x._3 <= 3) &&
        corpus.copies.forall(i => simSet.contains((i, i + corpus.CopyOffset)))
      if (!(okExact && okRecall && okCc && okSim))
        System.err.println(s"[perfbench] corpus check: exact groups $exactGroups " +
          s"(want ${corpus.copies.size}), planted found $plantedFound/${corpus.variants.size}, " +
          s"${pairs.size} pairs, ${labels.size} component nodes, " +
          s"components ok $okCc, simhash ok $okSim")
      okExact && okRecall && okCc && okSim
    }

    override def probe(t: Tracer): Unit = {
      secs.foreach { case (n, s) => t.record(n + "_s", "s", s) }
      t.record("ops.pair_recall", "ratio", plantedFound.toDouble / corpus.variants.size)
    }
  }
}

object CorpusDedup {
  /** corpus size before planting (11,100 docs with the planted ones) */
  val Docs = 10000
}

/** ns per element of the public `functions` kernels, called directly on
  * a workload's own token stream after JIT warm-up. */
object Kernels {
  def measure(texts: Seq[String], t: Tracer): Unit = {
    val toks: Array[Array[UTF8String]] =
      texts.map(_.split(" ").map(UTF8String.fromString)).toArray
    val flat = toks.flatten
    val tokArrays = toks.map(a => new GenericArrayData(a.asInstanceOf[Array[Any]]))
    val shingles = tokArrays.map(SketchKernels.wordShingles)
    def longs(a: Array[UTF8String]) = new GenericArrayData(a.map(s => Md5Kernel.prefix60(s): Any))
    val hashes = toks.map(longs)
    val distinctHashes = toks.map(a => longs(a.distinct))
    var sink = 0L
    def bench(name: String, elements: Long)(body: => Unit): Unit = {
      (1 to 3).foreach(_ => body) // JIT warm-up
      val reps = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / elements
      }
      t.record(name, "ns", Stats.median(reps))
    }
    bench("kernel.md5_60_ns", flat.length) { flat.foreach(s => sink += Md5Kernel.prefix60(s)) }
    bench("kernel.farmhash64_ns", flat.length) { flat.foreach(s => sink += FarmHashKernels.fingerprint64(s)) }
    bench("kernel.shingles_ns", flat.length) {
      tokArrays.foreach(a => sink += SketchKernels.wordShingles(a).numElements()) }
    bench("kernel.minhash32_ns", shingles.map(_.numElements().toLong).sum) {
      shingles.foreach(a => sink += SketchKernels.minhash32(a).getLong(0)) }
    bench("kernel.simhash64_ns", distinctHashes.map(_.numElements().toLong).sum) {
      distinctHashes.foreach(a => sink += SketchKernels.simhash64(a)) }
    bench("kernel.rolling_ns", hashes.map(_.numElements().toLong).sum) {
      hashes.foreach(a => sink += SketchKernels.rollingWindowHashes(a, 8).numElements()) }
    if (sink == 42L) System.err.println("") // keep the results live
  }
}
