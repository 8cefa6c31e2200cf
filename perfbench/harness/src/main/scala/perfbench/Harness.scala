package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.functions.{TextHash, VecFunctions}
import graft.operators.{EcommerceOps, EcommercePipelines}
import graft.sources.{Ecommerce, Tables}
import graft.streaming.StreamRunner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark JVM: builds a session, runs one workload, and writes its
  * spans, micro-batch durations and output checks as JSON to `out`. Inputs arrive fully
  * generated; arguments are `key=value` pairs written by `run.py`. */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val spark = Trace.span("session.build", "session") {
      val s = graft.GraftSession.builder(s"local[${a("cores")}]")
        .config("spark.sql.warehouse.dir", a("warehouse"))
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val json = mutable.LinkedHashMap[String, String]("ready_ms" -> System.currentTimeMillis().toString)
    if (a("mode") == "setup") {
      // a set-up sample only
      Files.writeString(Paths.get(a("out")), Json.obj(json.toSeq))
      spark.stop()
      return
    }
    val progress = new ProgressCounters
    Trace.install(spark.sparkContext, a("trace") == "1")
    val w = new Workloads(spark, a, progress)
    Files.writeString(Paths.get(a("results"), "oracle_sql.json"),
      Json.obj(graft.SparkEntry.oracleSql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    Trace.span("run", "run") {
      a("mode") match {
        case "clickstream_ingest" => w.ingest()
        case "curation_night" => w.night()
      }
    }
    if (Trace.traced) Trace.span("probes", "functions")(w.probes())
    Trace.span("drain", "check") {
      Trace.drain()
      progress.flushState()
    }
    json("checks") = Json.obj(w.checks.toSeq)
    json("first_measured_pass") = w.firstMeasured.toString
    json("batches") = Json.arr(Trace.batches.toArray.toSeq.map {
      case (id: Int, ms: Long) => Json.arr(Seq(id.toString, ms.toString))
    })
    json("spans") = Json.arr(Trace.all.map(spanJson))
    json("rss_hwm_kb") = peakRssKb.toString
    // past the reservoir's size codegen.compile_ms undercounts
    json("compile_ms_exact") = (JvmSample.compiles <= JvmSample.ReservoirSize).toString
    Files.writeString(Paths.get(a("out")), Json.obj(json.toSeq))
    spark.stop()
  }

  private def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
    "layer" -> Json.str(s.layer), "pass" -> s.pass.toString,
    "start_ms" -> Json.num((s.startNs - Trace.all.head.startNs) / 1e6),
    "dur_ms" -> Json.num((s.endNs - s.startNs) / 1e6),
    "counters" -> Json.obj(s.snapshot.map { case (k, v) => k -> Json.num(v) })))

  /** The process's peak resident set (VmHWM), in kB. */
  private def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}

/** The workloads. Every timed step is a span; the Python side turns
  * spans into metrics. Output checks run outside the timed spans. */
final class Workloads(base: SparkSession, a: Map[String, String], progress: ProgressCounters) {
  private val spark = session(base)
  private val data = a("data")
  private val results = a("results")
  private val seconds = a("seconds").toDouble
  private val queries = graft.SparkEntry.queries
  private var phaseStart = 0L
  /** The first measured pass; the warm passes before it are warm-up. */
  var firstMeasured = -1
  val checks = mutable.LinkedHashMap.empty[String, String]

  /** Streaming listeners are per session: every session the workload uses
    * carries the progress listener. */
  private def session(s: SparkSession): SparkSession = { s.streams.addListener(progress); s }

  /** Warm passes start at pass 1. Warm-up passes run until WarmupSeconds
    * have passed (at least one): the JIT compiler is still working off the
    * cold pass's backlog, and a pass cost up to a fifth more while it did.
    * Measured passes then run until `seconds` have passed since the first
    * of them began (at least one). */
  private def more(p: Int): Boolean = {
    val now = System.nanoTime()
    if (p == 1) phaseStart = now
    else if (firstMeasured < 0 && (now - phaseStart) / 1e9 >= Workloads.WarmupSeconds) {
      firstMeasured = p
      phaseStart = now
    }
    firstMeasured < 0 || p == firstMeasured || (now - phaseStart) / 1e9 < seconds
  }
  private def list(key: String): Seq[String] = a(key).split(",").toSeq.filter(_.nonEmpty)

  /** One query execution: the query-function call (which includes eager
    * materializations), then physical planning, then the action, a noop
    * sink. */
  private def runQuery(s: SparkSession, name: String, layer: String): DataFrame =
    Trace.span(name, layer) {
      val df = Trace.span("build", layer)(queries(name)(s, data))
      Trace.span("plan", layer)(df.queryExecution.executedPlan)
      Trace.span("exec", layer)(df.write.format("noop").mode("overwrite").save())
      df
    }

  /** Result written once for the oracle comparison. */
  private def keep(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$results/$name")

  private def pass[T](p: Int)(f: => T): T = {
    Trace.pass = p
    try Trace.span("pass", "run")(f) finally Trace.pass = -1
  }

  /** The paper's two ingestion pipelines, then the stateful stream queries.
    * Each pass runs in a fresh session, so the replay and artifact caches
    * that the engine keys by session are rebuilt every pass. */
  def ingest(): Unit = {
    val csv = a("csv")
    val slices = a("slices").toInt
    val streamQs = list("stream_queries")
    val cols = Ecommerce.schema.fieldNames.toIndexedSeq
    val batchRows, streamRows = mutable.ArrayBuffer.empty[Long]
    var p = 0
    while (p == 0 || more(p)) {
      val s = session(spark.newSession())
      val batchOut = s"$results/batch_sink_$p"
      val (sink, kept) = pass(p) {
        Trace.span("batch", "operators")(EcommercePipelines.runBatch(s, csv, Some(batchOut)))
        val sink = Trace.span("replay", "streaming") {
          val messages = Ecommerce.readCsv(s, csv).select(
            try_to_timestamp(col("event_time"), lit("yyyy-MM-dd HH:mm:ss zzz")).as("__pace_ts"),
            EcommerceOps.encodeMessage(cols.map(col)).as("value"))
          val stream = Trace.span("publish", "streaming")(
            StreamRunner.replayPaced(s, messages, "__pace_ts", slices, "bench_wire"))
          Trace.span("consume", "streaming")(StreamRunner.toParquet(s,
            EcommerceOps.streamTransform(EcommercePipelines.decodeWire(stream.drop("__pace_ts"))),
            "bench_sink"))
        }
        val kept = Trace.span("stream_queries", "streaming")(
          streamQs.map(q => q -> runQuery(s, q, "streaming")))
        (sink, kept)
      }
      Trace.span("count", "check") {
        batchRows += s.read.parquet(batchOut).count()
        streamRows += sink.count()
      }
      if (p == 0) {
        Trace.span("keep", "check") {
          sink.write.parquet(s"$results/stream_sink")
          kept.foreach { case (q, df) => keep(q, df) }
        }
      }
      p += 1
    }
    checks("batch_rows") = Json.arr(batchRows.map(_.toString).toSeq)
    checks("stream_rows") = Json.arr(streamRows.map(_.toString).toSeq)
  }

  /** The nightly curation set: first cold, in the fresh JVM's first
    * session (its results are kept for the oracle), then again in a fresh
    * session per night, so every night rebuilds its artifacts. */
  def night(): Unit = {
    val qs = list("queries")
    val dfs = pass(0)(qs.map(q => q -> runQuery(spark, q, "queries")))
    Trace.span("keep", "check")(dfs.foreach { case (q, df) => keep(q, df) })
    var p = 1
    while (more(p)) {
      val s = session(spark.newSession())
      pass(p)(qs.foreach(runQuery(s, _, "queries")))
      p += 1
    }
  }

  /** Kernel probes (traced runs only): each column function over the
    * workload's documents corpus (repeated five times, to a measurable size) or its
    * embeddings, forced through a noop sink. Rows are recorded per span. */
  def probes(): Unit = {
    val s = spark.newSession()
    VecFunctions.register(s)
    val reps = 5
    val docs = Tables(s, data, "documents").select(col("text"))
      .crossJoin(s.range(reps).toDF("rep"))
      .select(TextHash.tokens(col("text")).as("toks"))
    val emb = Tables(s, data, "embeddings").crossJoin(s.range(reps).toDF("rep"))
    val sig = docs.select(TextHash.shingles(col("toks")).as("sh"))
      .select(TextHash.hashArray(col("sh")).as("h"))
      .select(TextHash.minhashSig(col("h")).as("sig"))
    val probes = Seq(
      "tokens" -> docs.select(size(col("toks"))),
      "minhash" -> sig,
      "lsh" -> sig.select(TextHash.lshBandKeys(col("sig"))),
      "simhash" -> docs.select(TextHash.hashArray(col("toks")).as("h"))
        .select(TextHash.simhash16(col("h"))),
      "vec_dot" -> emb.select(VecFunctions.vecDot(col("embedding"), col("embedding"))))
    for ((name, df) <- probes) {
      // an untimed first run: the probe times the kernel, not code generation
      df.write.format("noop").mode("overwrite").save()
      val rows = df.count()
      Trace.span(s"probe.$name", "functions") {
        df.write.format("noop").mode("overwrite").save()
        Trace.current.add("rows", rows.toDouble)
      }
    }
  }
}

object Workloads {
  val WarmupSeconds = 6.0
}

/** Minimal JSON rendering; values are pre-rendered strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
