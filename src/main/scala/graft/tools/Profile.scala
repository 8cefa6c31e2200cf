package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.{Bench, Explain, SparkEntry, TaskMetricsListener}
import graft.queries.{DedupQueries, SimilarityQueries}

/** One profiler: `runMain graft.tools.Profile <sfDir> <target>[,<target>…]
  * [passes=2] [planDir]`. A target is a SparkEntry query name or unique
  * `qNN[x]` prefix, or a fixed frame: `semdedup_k<k>` (SemDeDup at k
  * clusters), `sa_night<k>` (both SA-chain frames after k nights; run in
  * order, night k's first pass pays only night k), `ann_build`,
  * `ann_encode_batch`, `ann_encode_scratch` (q24p's codes, nightly encode,
  * from-scratch re-encode). Each (target, pass) is one [[Bench.measure]] of
  * building the frames and noop-writing them, printed as a JSON line:
  * `build_ms` (the building call: eager materializations, stream replays),
  * Bench's row by column name, `jobs` ([id, ms, description, SQL execution
  * id or null]), `batches` (per micro-batch: stream name, `durationMs`,
  * input rows, state operators), `outside_s` (wall outside every
  * `triggerExecution`), `forks` (processes the JVM started: JFR
  * `jdk.ProcessStart` events), `large_alloc_mb` (MiB allocated in objects
  * of at least 512 KiB, G1's humongous size at a 1 MiB region: JFR
  * `jdk.ObjectAllocationOutsideTLAB`), `state_dir_b` (bytes of the
  * newest scratch state dirs, q45b/q45c; -1 if none). `planDir` gets each
  * target's plans as `<short>.txt`. */
object Profile {

  private type Frames = (SparkSession, String) => Seq[DataFrame]
  private[graft] final case class Target(name: String, short: String, frames: Frames)
  private val SemDedup = "semdedup_k([0-9]{1,4})".r
  private val SaNight = "sa_night([0-9])".r

  /** The target named `t`; an IllegalArgumentException naming it if none. */
  private[graft] def resolve(t: String): Target = {
    def one(f: Frames) = Some(Target(t, t, f))
    (t match {
      case "ann_build" => one((s, d) => Seq(SimilarityQueries.q24pMergedCodes(s, d)))
      case "ann_encode_batch" => one((s, d) => Seq(SimilarityQueries.q24pBatchEncodeFrame(s, d)))
      case "ann_encode_scratch" => one((s, d) => Seq(SimilarityQueries.q24pFromScratchCodes(s, d)))
      case SemDedup(k) if k.toInt > 0 =>
        one((s, d) => Seq(SimilarityQueries.semanticDedupFrame(s, d, k.toInt)))
      case SaNight(k) if k.toInt <= DedupQueries.ChainNights =>
        one { (s, d) => val (keys, lcp) = DedupQueries.saChainUpTo(s, d, k.toInt); Seq(keys, lcp) }
      case _ => None
    }).getOrElse {
      val names = SparkEntry.queries.keys.toSeq
      val full = names.find(_ == t).orElse(Some(names.filter(_.startsWith(t + "_")))
        .collect { case Seq(n) => n })
        .getOrElse(throw new IllegalArgumentException(s"unknown profile target '$t'"))
      Target(full, full.takeWhile(_ != '_'), (s, d) => Seq(SparkEntry.queries(full)(s, d)))
    }
  }

  /** Every stream's micro-batch progress. Progress and termination arrive
    * on the listener bus in order, so once every started query reported
    * terminated, all of its batches are in. */
  private final class Batches extends StreamingQueryListener {
    import StreamingQueryListener._
    private val started, ended = new AtomicInteger
    private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = { started.incrementAndGet(); () }
    override def onQueryProgress(e: QueryProgressEvent): Unit = { progress.add(e.progress); () }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = { ended.incrementAndGet(); () }
    def take(): Seq[StreamingQueryProgress] = {
      val deadline = System.nanoTime() + 3_000_000_000L
      while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(10)
      Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
    }
  }

  /** What the JVM did in a window, on one JFR stream that records nothing
    * else: processes started (`jdk.ProcessStart`) and allocations of at
    * least [[JvmEvents.LargeAllocB]] (`jdk.ObjectAllocationOutsideTLAB`,
    * without stack traces; smaller ones are dropped on arrival). Events
    * arrive with the stream's periodic flush (about once a second), so a
    * window is counted once two flushes have passed since it closed: the
    * second flush's chunk starts after the window. */
  private[graft] final class JvmEvents extends AutoCloseable {
    private val starts = new ConcurrentLinkedQueue[Instant]()
    private val large = new ConcurrentLinkedQueue[(Instant, Long)]()
    private val flushes = new AtomicLong
    private val stream = new RecordingStream()
    stream.enable("jdk.ProcessStart")
    stream.enable("jdk.ObjectAllocationOutsideTLAB").withoutStackTrace()
    stream.onEvent("jdk.ProcessStart", e => { starts.add(e.getStartTime); () })
    stream.onEvent("jdk.ObjectAllocationOutsideTLAB", { e =>
      val b = e.getLong("allocationSize")
      if (b >= JvmEvents.LargeAllocB) large.add((e.getStartTime, b))
      ()
    })
    stream.onFlush(() => { flushes.incrementAndGet(); () })
    stream.startAsync()

    /** Processes started and large-allocation bytes in [from, to];
      * forgets every event up to `to`. */
    def within(from: Instant, to: Instant): JvmEvents.Window = {
      val (seen, deadline) = (flushes.get, System.nanoTime() + 5_000_000_000L)
      while (flushes.get < seen + 2 && System.nanoTime() < deadline) Thread.sleep(10)
      def in(t: Instant) = !t.isBefore(from) && !t.isAfter(to)
      val w = JvmEvents.Window(starts.asScala.count(in),
        large.asScala.collect { case (t, b) if in(t) => b }.sum)
      starts.removeIf(t => !t.isAfter(to))
      large.removeIf(a => !a._1.isAfter(to))
      w
    }
    def close(): Unit = stream.close()
  }

  private[graft] object JvmEvents {
    /** Half of G1's smallest region: an object this large is humongous at
      * every heap size. */
    val LargeAllocB: Long = 512L << 10
    final case class Window(forks: Int, largeAllocB: Long)
  }

  private def str(s: String): String = Option(s).getOrElse("").flatMap { case '"' => "\\\""
    case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString }.mkString("\"", "", "\"")

  private def stateDirBytes(short: String): Long = {
    def newest(prefix: String) = Option(new File(System.getProperty("java.io.tmpdir")).listFiles)
      .toSeq.flatten.filter(_.getName.startsWith(prefix)).sortBy(_.lastModified).lastOption
    def bytes(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(bytes).sum else f.length
    val dirs = newest(s"graft_${short}_state_").toSeq ++
      newest(s"graft_${short}_chk_").map(new File(_, "state")).filter(_.exists)
    if (dirs.isEmpty) -1L else dirs.map(bytes).sum
  }

  private def line(t: Target, pass: Int, buildMs: Long, m: Bench.Measurement,
                   ps: Seq[StreamingQueryProgress], jvm: JvmEvents.Window): String = {
    def obj(kv: Seq[(String, Any)]) = kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val batches = ps.map(p => obj(Seq("query" -> str(p.name), "batch" -> p.batchId,
      "rows" -> p.numInputRows, "ms" -> obj(p.durationMs.asScala.toSeq.sortBy(_._1)),
      "state" -> p.stateOperators.map(o => obj(Seq("rows" -> o.numRowsTotal,
        "updated" -> o.numRowsUpdated, "mem_b" -> o.memoryUsedBytes))).mkString("[", ",", "]"))))
    val trigger = ps.map(_.durationMs.asScala.get("triggerExecution").fold(0L)(_.longValue)).sum
    obj(Seq("target" -> str(t.name), "pass" -> pass, "build_ms" -> buildMs) ++
      Bench.cols.zip(m.row) ++ Seq(
        "jobs" -> m.jobs.map(j => s"[${j.id},${j.ms},${str(j.desc)},${j.execId.getOrElse("null")}]")
          .mkString("[", ",", "]"),
        "batches" -> batches.mkString("[", ",", "]"), "outside_s" -> (m.row(0) - trigger) / 1000.0,
        "forks" -> jvm.forks, "large_alloc_mb" -> math.round(jvm.largeAllocB / 104857.6) / 10.0,
        "state_dir_b" -> stateDirBytes(t.short)))
  }

  /** Profile each target `passes` times on `spark`, handing each JSON line
    * to `emit`. Every target and `passes` are checked before any job runs;
    * both listeners and the JFR stream are removed again afterwards. */
  def run(spark: SparkSession, dir: String, targets: Seq[String], passes: Int,
          planDir: Option[String] = None, emit: String => Unit = println(_)): Unit = {
    require(passes >= 1, s"passes must be at least 1, got $passes")
    val resolved = targets.map(resolve)
    val (tasks, batches, jvm) = (new TaskMetricsListener, new Batches, new JvmEvents)
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(batches)
    try {
      for (t <- resolved; pass <- 1 to passes) {
        batches.take()
        var buildMs = 0L
        val from = Instant.now()
        val m = Bench.measure(tasks) {
          val t0 = System.nanoTime()
          val frames = t.frames(spark, dir)
          buildMs = (System.nanoTime() - t0) / 1000000L
          frames.foreach(_.write.format("noop").mode("overwrite").save())
        }
        val to = Instant.now()
        emit(line(t, pass, buildMs, m, batches.take(), jvm.within(from, to)))
      }
      for (pd <- planDir; t <- resolved) {
        val text = if (SparkEntry.queries.contains(t.name)) Explain.planText(spark, t.name, dir)
          else t.frames(spark, dir).map(_.queryExecution.explainString(FormattedMode)).mkString("\n")
        Files.createDirectories(Paths.get(pd))
        Files.writeString(Paths.get(pd, s"${t.short}.txt"), s"-- ${t.name} @ $dir --\n$text")
      }
    } finally {
      jvm.close()
      spark.streams.removeListener(batches)
      spark.sparkContext.removeSparkListener(tasks)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: Profile <sfDir> <target>[,<target>…] [passes=2] [planDir]")
    val spark = graft.GraftSession.get()
    try run(spark, args(0), args(1).split(',').toSeq, args.lift(2).fold(2)(_.toInt), args.lift(3))
    finally spark.stop()
  }
}
