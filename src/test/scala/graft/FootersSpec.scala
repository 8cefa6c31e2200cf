package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.queries.Materialize
import graft.sources.{Footers, Tables}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The parquet catalog's contract: the footer schema is the one Spark's
  * inference would give, it follows a path regenerated in place, each
  * directory is read with its own schema, a bad path fails loudly, and no
  * read — on a fresh session or off a Materialize hit — runs a job. */
class FootersSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = TempDirs.create(prefix)

  test("footer schema equals Spark's inferred schema for every testdata table") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"/root/testdata/$d")
      .filter(d => Files.isDirectory(Paths.get(d)))
    assume(dirs.nonEmpty)
    for (d <- dirs; t <- Tables.names) {
      val p = s"$d/$t.parquet"
      assert(Footers.schema(spark, p) === spark.read.parquet(p).schema, p)
    }
  }

  test("events.ts: footer schema equals inference under both timestamp encodings") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val micros = 1583066096789000L // 2020-03-01 12:34:56.789 UTC
    for ((unit, v) <- Seq("NANOS" -> micros * 1000L, "MICROS" -> micros)) {
      val dir = tmp("graft_footers_ts")
      val p = s"$dir/events.parquet"
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required binary user_id (STRING); " +
          s"required int64 ts (TIMESTAMP($unit,false)); }")
      val w = ExampleParquetWriter.builder(new Path(p)).withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", "u1").append("ts", v))
      finally w.close()
      assert(Footers.schema(spark, p) === spark.read.parquet(p).schema, unit)
      assert(Footers.read(spark, p).schema === spark.read.parquet(p).schema, unit)
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType, unit)
      assert(ev.selectExpr("unix_micros(ts)").as[Long].head() === micros, unit)
    }
  }

  test("a table regenerated in place under the same file name is re-read") {
    val root = tmp("graft_footers_regen")
    val table = Paths.get(root, "t.parquet")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("a", "b").coalesce(1)
      .write.parquet(table.toString)
    assert(Tables(spark, root, "t").columns.toSeq === Seq("a", "b"))
    assert(Footers.rowCount(spark, table.toString) === 3L)
    // regenerate: another shape's part file (and its checksum) copied over
    // the old names, and the directory's mtime put back — nothing about
    // the directory entry itself says it changed
    val dirMtime = Files.getLastModifiedTime(table)
    val next = tmp("graft_footers_next") + "/t.parquet"
    (1 to 5).map(i => (i.toLong, s"x$i", i * 2)).toDF("a", "b", "c").coalesce(1)
      .write.parquet(next)
    def part(d: String) = Files.list(Paths.get(d)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).ensuring(_.length == 1).head
    val (from, to) = (Paths.get(part(next)), Paths.get(part(table.toString)))
    Files.copy(from, to, StandardCopyOption.REPLACE_EXISTING)
    // the local file system's checksum sibling, when it writes one
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
    if (Files.exists(crc(to)))
      Files.copy(crc(from), crc(to), StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(table, dirMtime)
    val t = Tables(spark, root, "t")
    assert(t.columns.toSeq === Seq("a", "b", "c"))
    assert(Footers.rowCount(spark, table.toString) === 5L)
    assert(t.filter(col("c") === 10).as[(Long, String, Int)].collect().toSeq === Seq((5L, "x5", 10)))
  }

  test("differently shaped directories each read back with their own columns") {
    val d1 = tmp("graft_footers_d1")
    val d2 = tmp("graft_footers_d2")
    Seq((1L, 2.5)).toDF("x", "y").write.mode("overwrite").parquet(d1)
    Seq(("k", 7)).toDF("name", "n").write.mode("overwrite").parquet(d2)
    assert(Footers.read(spark, d1).as[(Long, Double)].collect().toSeq === Seq((1L, 2.5)))
    assert(Footers.read(spark, d2).as[(String, Int)].collect().toSeq === Seq(("k", 7)))
    // one scratch dir overwritten under a new shape, as a builder round does
    Seq((true, 3L, "z")).toDF("f", "g", "h").write.mode("overwrite").parquet(d1)
    assert(Footers.read(spark, d1).columns.toSeq === Seq("f", "g", "h"))
  }

  test("an empty or missing directory fails naming the path, never assumed big") {
    val empty = tmp("graft_footers_empty")
    val missing = s"$empty/nope"
    val e = intercept[IllegalArgumentException](Footers.read(spark, empty))
    assert(e.getMessage.contains(empty), e.getMessage)
    val m = intercept[java.io.FileNotFoundException](Tables(spark, empty, "nope"))
    assert(m.getMessage.contains(s"$empty/nope.parquet"), m.getMessage)
    val g = intercept[java.io.FileNotFoundException](
      Materialize.spread(spark, missing, col("id"))(spark.range(3).toDF()))
    assert(g.getMessage.contains(missing), g.getMessage)
  }

  test("a fresh session's table reads and a Materialize hit run no job") {
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val f = spark.newSession()
      Materialize(f, sf, "footers_spec_hit")(Tables.nation(f, sf).select(col("n_nationkey")))
      val m = Bench.measure(listener) {
        val g = spark.newSession()
        Tables.names.foreach(t => Tables(g, sf, t).schema)
        Tables.events(g, sf)
        Materialize(f, sf, "footers_spec_hit")(fail("a hit must not rebuild")).schema
      }
      assert(m.jobs.isEmpty, m.jobs)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a corpus regenerated mid-session rebuilds its sigtok artifact") {
    val dir = tmp("graft_footers_corpus")
    def regen(n: Int): Long = {
      Tables.documents(spark, sf).orderBy("doc_id").limit(n).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      Tables.documents(spark, dir).filter(col("text").isNotNull).count()
    }
    def sigRows(): Long = {
      SparkEntry.queries("q23_doc_signatures")(spark, dir).count()
      Footers.rowCount(spark, Materialize.pathFor(spark, dir, "sigtok").get)
    }
    val first = regen(30)
    assert(sigRows() === first)
    val second = regen(12)
    assert(second < first)
    assert(sigRows() === second)
  }

  test("events regenerated mid-session re-collect q36e's affected buckets") {
    import graft.queries.BehaviorQueries
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val dir = tmp("graft_footers_events")
    // regenerate events.parquet from one half of the users; the affected
    // bucket set computed from scratch over it
    def regen(half: Int): Seq[Int] = {
      Tables.events(spark, sf).filter(pmod(col("user_id"), lit(2)) === half).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      BehaviorQueries.fourColEvents(spark, dir).filter(BehaviorQueries.scdDeltaPred(spark, dir))
        .select(pmod(hash(col("user_id")), lit(BehaviorQueries.ScdBuckets))).distinct()
        .as[Int].collect().sorted.toSeq
    }
    val first = regen(0)
    assert(BehaviorQueries.affectedBuckets(spark, dir) === first)
    val second = regen(1)
    assert(second.nonEmpty && second != first)
    assert(BehaviorQueries.affectedBuckets(spark, dir) === second)
  }

  test("listing: bytes and signature follow the files under the path") {
    val d = tmp("graft_footers_listing")
    Seq(1L, 2L).toDF("v").write.mode("overwrite").parquet(s"$d/p")
    val a = Footers.listing(spark, d)
    assert(a.bytes === a.files.map(_.getLen).sum && a.bytes > 0)
    assert(a.dataFiles.nonEmpty && a.dataFiles.forall(_.getPath.getName.startsWith("part-")))
    Seq(3L).toDF("v").write.mode("append").parquet(s"$d/p")
    val b = Footers.listing(spark, d)
    assert(b.signature != a.signature && b.bytes > a.bytes)
    assert(Footers.listing(spark, d).signature === b.signature)
    // `_SUCCESS` is listed (and signed) but is not data
    assert(b.files.exists(_.getPath.getName == "_SUCCESS"))
    assert(!b.dataFiles.exists(_.getPath.getName == "_SUCCESS"))
    assert(Footers.schema(spark, s"$d/p").fieldNames.toSeq === Seq("v"))
    assert(Footers.schema(spark, s"$d/p")("v").dataType === LongType)
  }
}
