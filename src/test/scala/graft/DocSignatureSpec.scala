package graft

import graft.functions.DocSignature
import graft.functions.TextHash._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native signature kernel against the Column primitives it replaces:
  * every field of `DocSignature(text)` equals the composition of
  * [[graft.functions.TextHash]]'s `tokens`/`shingles`/`hashArray`/
  * `minhashSig`/`simhash16` (`shash` as a set — the kernel sorts it), on
  * random texts built from awkward whitespace and multibyte tokens and on
  * the sf0.01 corpus, through generated code and through the interpreted
  * path. */
class DocSignatureSpec extends SparkSpec {
  import spark.implicits._

  private val pieces = Gen.oneOf(
    Gen.oneOf("a", "b", "ab", "foo", "bar", "x1", "ünï", "日本語", "é", "🙂"),
    Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", " \t\n", "\u000B", "\f", "\u2003", "\u00a0"))
  private val texts = Gen.frequency(
    1 -> Gen.const(""),
    10 -> Gen.listOf(pieces).map(_.mkString),
    3 -> Gen.listOfN(60, pieces).map(_.mkString))

  private lazy val randomTexts: Seq[String] =
    (0 until 300).flatMap(i => texts.apply(Gen.Parameters.default, Seed(7L + i))) ++
      Seq("", " ", "   ", "\ta b", "a b\t", " \t\n ", "\t\n", "solo", "two tokens",
        "a a a a a a", "a b a b a b a b", "α β γ δ", "x y z", "\u2003", " a\u2003b")

  /** (kernel, reference) signature rows of `docs`' (doc_id, text), by id. */
  private def both(docs: DataFrame): (Map[Long, Row], Map[Long, Row]) = {
    DocSignature.register(spark)
    val kernel = docs
      .select(col("doc_id"), DocSignature.of(col("text")).as("d"))
      .select(col("doc_id"), col("d.shash"), col("d.sig"), col("d.thash"), col("d.simhash"))
    val reference = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        array_distinct(hashArray(shingles(col("toks")))).as("sh"))
      .select(col("doc_id"), col("sh").as("shash"), minhashSig(col("sh")).as("sig"),
        hashArray(col("toks")).as("thash"), simhash16(hashArray(col("toks"))).as("simhash"))
    def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r).toMap
    (byId(kernel), byId(reference))
  }

  private def assertParity(docs: DataFrame): Unit = {
    val (k, r) = both(docs)
    assert(k.keySet === r.keySet && k.nonEmpty)
    for ((id, kr) <- k) {
      val rr = r(id)
      val shash = kr.getSeq[Long](1)
      assert(shash.toSet === rr.getSeq[Long](1).toSet, s"shash of doc $id")
      assert(shash === shash.sorted.distinct, s"shash of doc $id not sorted and distinct")
      assert(kr.getSeq[Long](2) === rr.getSeq[Long](2), s"sig of doc $id")
      assert(kr.getSeq[Long](3) === rr.getSeq[Long](3), s"thash of doc $id")
      assert(kr.getLong(4) === rr.getLong(4), s"simhash of doc $id")
    }
  }

  private lazy val randomDocs: DataFrame =
    randomTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("property: every field equals the Column-primitive composition on random texts") {
    assertParity(randomDocs)
  }

  test("the interpreted path gives the same rows as generated code") {
    graft.Confs.withConfs(spark, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assertParity(randomDocs))
  }

  test("every field equals the Column-primitive composition on the sf0.01 corpus") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    assertParity(spark.read.parquet(s"$sf01/documents.parquet").select("doc_id", "text"))
  }

  test("a NULL text gives a NULL signature") {
    DocSignature.register(spark)
    val out = Seq((0L, Option.empty[String]), (1L, Some("a b c"))).toDF("doc_id", "text")
      .select(DocSignature.of(col("text")).isNull).as[Boolean].collect()
    assert(out.toSeq === Seq(true, false))
  }
}
