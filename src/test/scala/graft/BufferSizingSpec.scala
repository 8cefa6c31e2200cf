package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, desc, length, max, substring}
import org.apache.spark.sql.streaming.Trigger

/** The engine sizes Spark's two per-stage buffers for the data
  * (GraftSession): 256 KiB broadcast blocks and 1 MiB Tungsten pages, on
  * every session and streaming batch. No broadcast or page is then a G1
  * humongous allocation, and a record larger than a page still gets a
  * page of its own size. BASELINE.md "Cluster-sized buffers off the
  * humongous path". */
class BufferSizingSpec extends SparkSpec {

  private def sizes(): (Long, Long) =
    (SparkEnv.get.memoryManager.pageSizeBytes,
      SparkEnv.get.conf.getSizeAsKb("spark.broadcast.blockSize"))

  test("sessions, new sessions and streaming batches use 1 MiB pages, 256 KiB broadcast blocks") {
    val want = (1L << 20, 256L)
    assert(spark.range(1).count() === 1 && sizes() === want)
    assert(spark.newSession().range(1).count() === 1 && sizes() === want)
    val src = TempDirs.create("graft_buffer_src_")
    spark.range(0, 10).write.mode("overwrite").parquet(src)
    val seen = new ConcurrentLinkedQueue[(Long, Long)]()
    spark.readStream.schema(spark.range(0).schema).parquet(src)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); seen.add(sizes()); () }
      .option("checkpointLocation", TempDirs.create("graft_buffer_chk_"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    assert(seen.asScala.toSeq.nonEmpty && seen.asScala.forall(_ == want), seen)
  }

  test("a broadcast join, a hash aggregate and a sort allocate no humongous broadcast block " +
    "or page") {
    final case class Alloc(bytes: Long, frames: Seq[String]) {
      def under(frame: String): Boolean = frames.exists(_.startsWith(frame))
      override def toString: String = s"$bytes B at ${frames.take(16).mkString(" < ")}"
    }
    val large = new ConcurrentLinkedQueue[Alloc]()
    val flushes = new AtomicLong
    val stream = new RecordingStream()
    stream.enable("jdk.ObjectAllocationOutsideTLAB").withStackTrace()
    stream.onEvent("jdk.ObjectAllocationOutsideTLAB", { e =>
      val b = e.getLong("allocationSize")
      if (b >= (512L << 10)) large.add(Alloc(b, Option(e.getStackTrace).toSeq.flatMap(
        _.getFrames.asScala.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))
      ()
    })
    stream.onFlush(() => { flushes.incrementAndGet(); () })
    stream.startAsync()
    try {
      val fresh = spark.newSession()
      Seq("q10_region_revenue", "q22_exact_dedup").foreach(q =>
        assert(SparkEntry.queries(q)(fresh, sf).collect().nonEmpty, q))
      // events arrive with the stream's flush: the second one after the
      // queries starts after them
      val (seen, deadline) = (flushes.get, System.nanoTime() + 10_000_000_000L)
      while (flushes.get < seen + 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally stream.close()
    val all = large.asScala.toSeq
    val page = "org.apache.spark.memory.TaskMemoryManager.allocatePage"
    val task = "org.apache.spark.executor.Executor$TaskRunner.run"
    val result = "org.apache.spark.serializer.SerializerHelper"
    // The recording saw the queries' tasks, with their stacks: the executor
    // serializes every task result into a fresh 1 MiB chunk
    // (SerializerHelper.serializeToChunkedBuffer's default estimate, which
    // no setting moves; pages may come from Spark's pool instead)
    assert(all.exists(a => a.under(task) && a.under(result)), all.mkString("\n"))
    val broadcast = all.filter(_.under("org.apache.spark.broadcast.TorrentBroadcast"))
    assert(broadcast.isEmpty, broadcast.mkString("\n"))
    // A 1 MiB page is a long[131072], 16 B of array header on top. Spark's
    // own fixed 1 MiB task buffers sit at that bound too: the task-result
    // chunk, collect's partitions (SparkPlan.getByteArrayRdd) and the
    // shuffle writer's serializer buffer.
    val overPage = all.filter(a => a.bytes > (1L << 20) + 64 && (a.under(page) || a.under(task)))
    assert(overPage.isEmpty, overPage.mkString("\n"))
  }

  test("a sort and an aggregate over 3 MiB strings, each over a page, return the right rows") {
    val rows = spark.range(6).selectExpr("id", "id % 2 AS k", "repeat(char(65 + id), 3145728) AS s")
    val sorted = rows.orderBy(desc("s")).select(col("id"), length(col("s")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(sorted === (5L to 0L by -1L).map(id => (id, 3145728)))
    val maxed = rows.groupBy("k").agg(max("s").as("m"))
      .select(col("k"), length(col("m")).as("n"), substring(col("m"), 1, 1).as("c"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(maxed === Seq((0L, 3145728, "E"), (1L, 3145728, "F")))
  }
}
