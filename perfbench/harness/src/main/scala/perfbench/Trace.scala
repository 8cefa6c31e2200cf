package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.Try
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `pass` is the workload pass the
  * span belongs to (-1 outside passes). Counters named `incl.*` are
  * inclusive deltas sampled at the span's edges (children included); all
  * other counters are attributed to this span alone. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val layer: String, val pass: Int) {
  val startNs: Long = System.nanoTime()
  var endNs: Long = 0L
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit =
    synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def snapshot: Seq[(String, Double)] = synchronized(counters.toSeq)
}

/** In-memory span recorder for one JVM. Spans are always recorded (they
  * are the benchmark's clock); counters, listeners other than the
  * micro-batch progress listener, and JVM/codegen sampling are attached only
  * when `traced` is set. Spans are written once, when the JVM finishes. */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile var traced = false
  @volatile var pass = -1
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** Trigger durations (ms) of every micro-batch that read rows, by span. */
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM. */
  def processCpuNs: Long = os.getProcessCpuTime

  /** The JIT compiler's threads, which ThreadMXBean does not list. The JVM
    * runs with a fixed set of them (-XX:-UseDynamicNumberOfCompilerThreads),
    * all started with it, so the set is found once. */
  private lazy val jitThreads: Seq[java.nio.file.Path] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map(_.toPath)
      .filter { t =>
        val comm = Try(Files.readString(t.resolve("comm"))).getOrElse("")
        comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
      }

  /** CPU time of the JIT compiler's threads (0 where /proc is missing). */
  def jitCpuNs: Long =
    jitThreads.map(t => Try(Files.readString(t.resolve("schedstat")).split(" ")(0).toLong).getOrElse(0L)).sum

  def current: Span = stack.head

  def currentId: Int = stack.headOption.fold(-1)(_.id)

  def spanById(id: Int): Option[Span] =
    synchronized(if (id >= 0 && id < spans.size) Some(spans(id)) else None)

  def all: Seq[Span] = synchronized(spans.toList)

  def install(context: SparkContext, withCounters: Boolean): Unit = {
    sc = context
    traced = withCounters
    if (withCounters) context.addSparkListener(new TaskCounters)
  }

  def span[T](name: String, layer: String)(f: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, currentId, name, layer, pass)
      spans += s
      s
    }
    val before = if (traced) JvmSample() else null
    val cpu0 = processCpuNs
    val jit0 = jitCpuNs
    stack = s :: stack
    if (sc != null) sc.setLocalProperty(SpanProperty, s.id.toString)
    try f
    finally {
      s.endNs = System.nanoTime()
      s.add("incl.cpu_ms", (processCpuNs - cpu0) / 1e6)
      s.add("incl.jit_cpu_ms", (jitCpuNs - jit0) / 1e6)
      if (before != null) JvmSample().minus(before).foreach { case (k, v) => s.add(k, v) }
      stack = stack.tail
      if (sc != null) sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until every posted scheduler/streaming event has reached the
    * listeners, so counters read afterwards are complete. */
  def drain(): Unit = if (sc != null) org.apache.spark.PerfbenchBus.drain(sc)

  def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProperty))).flatMap(s => spanById(s.toInt))
}

/** Process-wide counters sampled at span edges: janino compiles and their
  * time (Spark's CodegenMetrics), GC time and JIT compile time (MXBeans). */
final case class JvmSample(values: Map[String, Double]) {
  def minus(o: JvmSample): Map[String, Double] =
    values.map { case (k, v) => k -> (v - o.values.getOrElse(k, 0.0)) }
}

object JvmSample {
  /** Samples Spark's compile-time histogram (Dropwizard's default
    * ExponentiallyDecayingReservoir) keeps before it starts replacing them. */
  val ReservoirSize = 1028

  /** Janino compiles so far in this JVM. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def apply(): JvmSample = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    // Spark records each compile in whole ms. Up to ReservoirSize compiles
    // the reservoir holds every one, so the sum of its values is the total;
    // its mean is decay-weighted and is not sum / count.
    val ms = h.getSnapshot.getValues.sum.toDouble
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    JvmSample(Map("incl.codegen.compiles" -> n.toDouble, "incl.codegen.compile_ms" -> ms,
      "incl.jvm.gc_ms" -> gc.toDouble, "incl.jvm.jit_ms" -> jit.toDouble))
  }
}

/** Task metrics attributed to the span whose id rode the job's local
  * properties (streaming queries inherit the id of the span that started
  * them). */
final class TaskCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Trace.spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.add("tasks", 1)
      s.add("task_cpu_ms", m.executorCpuTime / 1e6)
      s.add("task_run_ms", m.executorRunTime.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      s.add("spill_bytes", m.diskBytesSpilled.toDouble)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("input_records", m.inputMetrics.recordsRead.toDouble)
      s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }
}

/** Micro-batch progress, attributed to the span that started the query.
  * Always attached: the untraced run needs the trigger durations. */
final class ProgressCounters extends StreamingQueryListener {
  import StreamingQueryListener._
  private val runSpan = new ConcurrentHashMap[java.util.UUID, Integer]()
  // per query run: (span, last total state rows, last state memory bytes)
  private val lastState = new ConcurrentHashMap[java.util.UUID, (Int, Long, Long)]()

  // delivered synchronously on the thread that calls start()
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    runSpan.put(e.runId, Trace.currentId)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val id: Int = Option(runSpan.get(p.runId)).map(_.intValue).getOrElse(-1)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    if (p.numInputRows > 0) Trace.batches.add((id, d.getOrElse("triggerExecution", 0L)))
    if (Trace.traced) Trace.spanById(id).foreach { s =>
      s.add("batches", 1)
      s.add("batch_planning_ms", d.getOrElse("queryPlanning", 0L).toDouble)
      s.add("batch_add_ms", d.getOrElse("addBatch", 0L).toDouble)
      s.add("batch_commit_ms", (d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)).toDouble)
      s.add("batch_offset_ms", (d.getOrElse("latestOffset", 0L) + d.getOrElse("getBatch", 0L)).toDouble)
      s.add("state_commit_ms", p.stateOperators.map(_.commitTimeMs).sum.toDouble)
      lastState.put(p.runId, (id, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Final state size of each finished query, added to its span. */
  def flushState(): Unit = {
    lastState.asScala.foreach { case (_, (id, rows, mem)) =>
      Trace.spanById(id).foreach { s => s.add("state_rows", rows.toDouble); s.add("state_mem_bytes", mem.toDouble) }
    }
    lastState.clear()
  }
}
