package graft

import java.io.File

import graft.streaming.StreamRunner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The layout [[StreamRunner.writePacedSlices]] commits: one visible,
  * uniquely named file per quantile slice, in slice order by mtime, with
  * every row in exactly the slice its timestamp selects — and the
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

  test("paced slices commit one visible file per slice, in slice order") {
    for (slices <- Seq(4, 1)) {
      val dir = TempDirs.create("graft_paced_layout_")
      StreamRunner.writePacedSlices(tied, "ts", slices, dir)
      val want = expected(tied, slices)
      if (slices == 4)
        assert(want.slice(1, slices - 1).exists(_.isEmpty),
          s"fixture must leave a middle slice empty: $want")
      val got = commits(dir)
      assert(got.length === slices, s"commits: ${got.map(_.getName)}")
      assert(got.map(_.getName).distinct.length === slices)
      assert(got.forall(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")))
      assert(got.map(_.lastModified()).distinct.length === slices,
        "tied commit mtimes leave the replay order undefined")
      assert(got.map(ids) === want)
      // nothing else is left behind: no staging dir, no stray files
      assert(new File(dir).list().toSet === got.map(_.getName).toSet)
    }
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
}
