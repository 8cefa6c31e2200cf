package graft

import java.io.File

import graft.streaming.StreamRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The layout every StreamRunner publisher commits: one visible, uniquely
  * named file per slice, in slice order by mtime, with every row in exactly
  * the slice it was assigned — quantile slices by timestamp, per-event
  * slices by distinct time, explicit slices, bulk commits — and the
  * degenerate inputs (empty frame, null pace values). */
class PacedSlicesSpec extends SparkSpec {
  import spark.implicits._

  /** `id`, and a pace time in seconds: ties at 5 s put two quantile
    * boundaries on the same value, which leaves a middle slice empty. */
  private val tied: DataFrame = Seq(1L, 2L, 5L, 5L, 5L, 5L, 7L, 8L).zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    .select($"id", timestamp_seconds(lit(1704067200L) + $"t").as("ts"))

  /** Data files of `dir` as the file source sees them, oldest commit first. */
  private def commits(dir: String): Seq[File] =
    spark.read.parquet(dir).inputFiles.toSeq
      .map(p => new File(new java.net.URI(p).getPath))
      .sortBy(_.lastModified())

  private def ids(f: File): Set[Long] =
    spark.read.parquet(f.getPath).select($"id").as[Long].collect().toSet

  /** The rows of slice j by definition: qs(j-1) <= ts < qs(j). */
  private def expected(df: DataFrame, slices: Int): Seq[Set[Long]] = {
    val d = df.select($"id", $"ts".cast("double").as("d"))
    val qs =
      if (slices == 1) Array.empty[Double]
      else d.stat.approxQuantile("d", (1 until slices).map(_.toDouble / slices).toArray, 0.0)
    (0 until slices).map { j =>
      var s = d
      if (j > 0) s = s.filter($"d" >= qs(j - 1))
      if (j < slices - 1) s = s.filter($"d" < qs(j))
      s.select($"id").as[Long].collect().toSet
    }
  }

  /** `dir` holds exactly one visible, uniquely named commit per entry of
    * `want`, in order by mtime, each with that entry's ids — and nothing
    * else (no staging dir, no stray files). */
  private def assertLayout(dir: String, want: Seq[Set[Long]]): Unit = {
    val got = commits(dir)
    assert(got.length === want.length, s"commits: ${got.map(_.getName)}")
    assert(got.map(_.getName).distinct.length === want.length)
    assert(got.forall(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")))
    assert(got.map(_.lastModified()).distinct.length === want.length,
      "tied commit mtimes leave the replay order undefined")
    assert(got.map(ids) === want)
    assert(new File(dir).list().toSet === got.map(_.getName).toSet)
  }

  test("every publisher commits one visible file per slice, in slice order") {
    // quantile slices: four leave a middle slice empty, one is the whole frame
    for (slices <- Seq(4, 1)) {
      val dir = TempDirs.create("graft_paced_layout_")
      StreamRunner.writePacedSlices(tied, "ts", slices, dir)
      val want = expected(tied, slices)
      if (slices == 4)
        assert(want.slice(1, slices - 1).exists(_.isEmpty),
          s"fixture must leave a middle slice empty: $want")
      assertLayout(dir, want)
    }
    // per event: one commit per distinct time (1, 2, 5, 7, 8 s), in time order
    val perEvent = TempDirs.create("graft_pevent_layout_")
    assert(StreamRunner.writePerEventSlices(tied, "ts", perEvent, maxTimes = 5) === 5)
    assertLayout(perEvent, Seq(Set(0L), Set(1L), Set(2L, 3L, 4L, 5L), Set(6L), Set(7L)))
    // explicit slices, the middle one empty
    val slices = Seq(tied.filter($"id" < 3), tied.filter($"id" < 0), tied.filter($"id" >= 3))
    assertLayout(StreamRunner.writeSlices(slices, "layout"),
      Seq(Set(0L, 1L, 2L), Set.empty[Long], Set(3L, 4L, 5L, 6L, 7L)))
    // two bulk commits into one dir, the second ordered after the first
    val bulk = TempDirs.create("graft_bulk_layout_")
    StreamRunner.writeOrderedCommit(tied.filter($"id" < 4), bulk)
    StreamRunner.writeOrderedCommit(tied.filter($"id" >= 4), bulk)
    assertLayout(bulk, Seq(Set(0L, 1L, 2L, 3L), Set(4L, 5L, 6L, 7L)))
  }

  test("an empty frame publishes `slices` empty commits and replays no rows") {
    val empty = tied.filter($"id" < 0)
    val dir = TempDirs.create("graft_paced_empty_")
    StreamRunner.writePacedSlices(empty, "ts", 3, dir)
    assert(commits(dir).length === 3)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = StreamRunner.openSlices(spark, dir, empty.schema).writeStream
      .foreachBatch { (b: DataFrame, _: Long) => batches.add(b.count()); () }
      .option("checkpointLocation", TempDirs.create("graft_paced_empty_chk_"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counts = batches.toArray.toSeq
    assert(counts.length === 3 && counts.forall(_ == 0L), s"batches: $counts")
  }

  test("paced slicing refuses a null pace value before committing anything") {
    val withNull = tied.withColumn("ts", when($"id" === 3L, lit(null)).otherwise($"ts"))
    for (slices <- Seq(3, 1)) {
      val dir = TempDirs.create("graft_paced_null_")
      val e = intercept[IllegalArgumentException](
        StreamRunner.writePacedSlices(withNull, "ts", slices, dir))
      assert(e.getMessage.contains("non-null"))
      assert(new File(dir).list().isEmpty,
        s"left behind: ${new File(dir).list().mkString(",")}")
    }
  }

  test("TempDirs.delete removes a tree holding a non-empty nested _temporary dir") {
    val dir = TempDirs.create("graft_delete_tree_")
    val tmp = new File(dir, ".staging_x/_temporary/0/task_0")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(new File(tmp, "part-0.parquet").toPath, "x")
    java.nio.file.Files.writeString(new File(dir, ".staging_x/_SUCCESS").toPath, "")
    TempDirs.delete(dir)
    assert(!new File(dir).exists())
    TempDirs.delete(dir) // a missing path returns quietly
  }
}
