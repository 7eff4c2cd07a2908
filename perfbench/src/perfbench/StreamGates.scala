package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.StreamingQueries

/** Fixed inputs of the streaming gates, in the layout of the repo's
  * sf0.1 tables: 100,000 `events` over 30 days, 15,000 `customer` rows
  * and 5,000 `documents`, one parquet file each. Not seeded: the seed
  * only orders the gates, so one recorded fingerprint per gate checks
  * every run.
  */
object StreamData {
  private val types = Array("click", "view", "purchase", "signup", "error")
  private val words = Array("spark", "table", "stream", "query", "data", "scan", "hash", "join",
    "group", "sort", "window", "value", "key", "row", "part", "line", "order", "fast", "slow",
    "big", "small", "filter", "agg", "batch", "merge", "vector", "column", "customer", "the",
    "a", "of", "and", "to", "in", "is")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val langs = Array("en", "en", "en", "zh", "fr", "es", "de")

  def write(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    val r = new java.util.SplittableRandom(20240101L)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    var micros = 0L
    val events = (0 until 100000).map { i =>
      micros += 1 + r.nextLong(51840000L)
      Row(i.toLong, java.sql.Timestamp.valueOf(t0.plusNanos(micros * 1000L)),
        r.nextInt(1500).toLong, types(r.nextInt(types.length)), r.nextInt(56022) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
    one(spark, dir, "events", events, StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
    val customers = (0 until 15000).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), r.nextInt(1100000) / 100.0 - 999.99,
        segments(r.nextInt(segments.length)))
    }
    one(spark, dir, "customer", customers, StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    val docs = (0 until 5000).map { i =>
      val text = (0 until 8 + r.nextInt(80)).map(_ => words(r.nextInt(words.length))).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    one(spark, dir, "documents", docs, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  /** one single-file `<name>.parquet`, as the gates' glob filters expect */
  private def one(spark: SparkSession, dir: Path, name: String, rows: Seq[Row],
      schema: StructType): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Backfill.deleteTree(tmp)
  }
}

/** `stream_gates`: each op runs one bounded streaming gate from
  * `StreamingQueries.queries` from start to stop and materializes its
  * result in full. The only workload that reaches `streaming.StreamingOps`
  * (state store, WAL and offset commits, micro-batch planning).
  */
final class StreamGates(spark: SparkSession, work: Path, seed: Long, benchDir: Path)
    extends Workload {
  private val dir = work.resolve("stream")
  StreamGates.redirectScratch(work.resolve("stream-scratch"))
  private val gates: Seq[String] = StreamGates.Gates
  private val order = new scala.util.Random(seed).shuffle(gates)
  private var pos = 0
  private val fingerprintFile = benchDir.resolve("stream_fingerprints.tsv")
  private val expected: Map[String, String] =
    if (!Files.exists(fingerprintFile)) Map.empty
    else Files.readAllLines(fingerprintFile).asScala.filterNot(_.startsWith("#"))
      .map(_.split("\t")).collect { case Array(g, fp) => g -> fp }.toMap
  private val inputRowsSeen = new java.util.concurrent.atomic.AtomicLong()
  spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      inputRowsSeen.addAndGet(e.progress.numInputRows)
  })

  def prepare(): Unit = {
    Backfill.deleteTree(dir)
    StreamData.write(spark, dir)
  }

  /** one untimed run of every gate in the mix */
  def warmUp(): Unit = {
    gates.foreach { g =>
      val op = new Gate(g)
      op.run(Spans.Off)
      if (!op.check()) throw new IllegalStateException(s"warm-up gate $g gave a wrong result")
    }
  }

  /** whole rounds, so every run times each gate equally often */
  override val cycleLength: Int = gates.size

  def next(): Op = {
    val g = order(pos % order.size)
    pos += 1
    new Gate(g)
  }

  def finalCheck(): Set[Long] = Set.empty

  final class Gate(name: String) extends Op {
    val kind: String = name
    private var rows = 0L
    private var fingerprint = ""
    def inputRows: Long = rows

    def run(spans: Spans): Unit = {
      rows = -inputRowsSeen.get()
      val df = spans.span("stream.query")(StreamingQueries.queries(name)(spark, dir.toString))
      spans.span("materialize") {
        val obs = Observation()
        StreamGates.fingerprinted(df, obs).write.format("noop").mode("overwrite").save()
        val m = obs.get
        fingerprint = s"${m("n")}:${Option(m("h")).getOrElse(0)}"
      }
    }

    /** also settles the op's input rows: every source row its
      * micro-batches read */
    def check(): Boolean = {
      org.apache.spark.BusDrain.drain(spark.sparkContext)
      rows += inputRowsSeen.get()
      val ok = expected.get(name).contains(fingerprint)
      if (!ok) System.err.println(s"[perfbench] gate $name fingerprint $fingerprint, " +
        s"recorded ${expected.getOrElse(name, "none")}")
      ok
    }
  }
}

object StreamGates {
  /** `StreamingOps` keeps stream checkpoints and replay fixtures under a
    * JVM-lifetime scratch root it picks itself: /dev/shm when writable,
    * else java.io.tmpdir. A benchmark run may write only inside its
    * checkout, so the root is set to the run's work directory (on disk).
    * That is the program's own fallback placement, but not the tmpfs one
    * it prefers; the stream figures include disk checkpoint I/O. If the
    * root cannot be set (the field moved or was renamed), the run fails
    * rather than measure a different placement. */
  def redirectScratch(dir: Path): Unit =
    try {
      val c = Class.forName("graft.streaming.StreamingOps$Scratch$")
      Files.createDirectories(dir)
      val root = c.getDeclaredField("root")
      root.setAccessible(true)
      root.set(null, dir)
      val init = c.getDeclaredField("bitmap$0")
      init.setAccessible(true)
      init.setBoolean(null, true)
    } catch {
      case e: ReflectiveOperationException =>
        throw new IllegalStateException(
          "cannot point StreamingOps' scratch root into the run directory; " +
            "update StreamGates.redirectScratch to the program's scratch placement", e)
    }

  /** The gate mix: four of the 25 gates on the default (HDFS-backed)
    * state store — watermarked window aggregation, flatMapGroupsWithState,
    * a stateless stream-static join and an available-now run of two
    * micro-batches. Four, not 25, so set-up plus a run fits the
    * benchmark's time budget. The RocksDB gates (s10, s18) are left out:
    * with them in the mix the ten-seed spread (IQR / median) of op_p50_s
    * on a 4-core VM was 0.37, above the benchmark's 0.25 bound, against
    * 0.17 without. Warm times are 1.3–2.0 s each on 4 cores. */
  val Gates: Seq[String] = Seq("s01_stream_window_agg", "s03_stream_first_seen",
    "s06_stream_static_enrichment", "s21_stream_available_now")

  /** Order-independent fingerprint observed while the result is written
    * to a noop sink: row count and the sum of per-row hashes, with
    * doubles rounded so summation order cannot move the last digits. */
  def fingerprinted(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 4)
        case _ => c
      }
    }
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("h"))
  }
}
