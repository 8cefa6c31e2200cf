package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A document's whole dedup signature in ONE native pass over its tokens
  * (SURVEY.md §2.11 X1/X2): `struct<shash, sig, thash, simhash>` — the
  * sorted distinct 3-shingle hashes, the [[TextHash.MinhashK]]-slot MinHash
  * over them, the token hashes in token order, and the 16-bit SimHash of
  * the token hashes. This is the row of the shared signature table
  * (`DedupQueries.sigTokFrame`) and q29c's per-record near-dup gate.
  *
  * Why an Expression: composed from the [[TextHash]] Column primitives the
  * signature is either a chain of higher-order functions (evaluated
  * interpreted, per element) or an explode → union → 34-aggregate rebuild
  * whose `collect_set`/`collect_list` force a non-codegen
  * ObjectHashAggregate and a shuffle. Here `doGenCode` keeps the scan's
  * stage whole-stage-codegen'd and makes one static-shaped helper call per
  * row (the [[CdcChunkFps]] pattern); the helper is plain JVM loops — one
  * md5 per token and per shingle, integer arithmetic for the rest.
  *
  * Parity with the Column primitives (and so with the DuckDB oracle, which
  * replays those): tokens are Spark's own `UTF8String.trim().split("\\s+",
  * -1)`, the methods behind `split(trim(text), "\\s+")`, so they equal
  * [[TextHash.tokens]] by construction; a token or shingle hash is the
  * first 4 md5 digest bytes — the value [[TextHash.hash32]] decodes from
  * the first 8 hex digits; a shingle is its tokens joined by one space,
  * with the one-shingle floor of [[TextHash.shingles]] for docs shorter
  * than [[TextHash.ShingleN]]; the MinHash slots and SimHash votes use
  * [[TextHash.permA]]/[[TextHash.permB]]/[[TextHash.Mod]] and the bit rule
  * of [[TextHash.minhashSig]]/[[TextHash.simhash16]]. `DocSignatureSpec`
  * pins every field against that composition. A NULL text gives a NULL
  * struct. */
case class DocSignature(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = DocSignature.Type
  override def prettyName: String = "doc_signature"

  override protected def nullSafeEval(input: Any): Any =
    DocSignature.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val helper = ctx.addReferenceObj("docSigHelper", DocSignature,
        DocSignature.getClass.getName)
      s"${ev.value} = $helper.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DocSignature {

  import TextHash.{MinhashK, Mod, ShingleN, permA, permB}

  private val longs = ArrayType(LongType, containsNull = false)
  private val Type: StructType = StructType(Seq(
    StructField("shash", longs, nullable = false),
    StructField("sig", longs, nullable = false),
    StructField("thash", longs, nullable = false),
    StructField("simhash", LongType, nullable = false)))

  private val Ws = UTF8String.fromString("\\s+")
  private val PermA = Array.tabulate(MinhashK)(permA)
  private val PermB = Array.tabulate(MinhashK)(permB)
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** First 4 bytes of the md5 digest `md` has accumulated, as a long in
    * [0, 2^32); resets `md`. `d` is a 16-byte scratch buffer. */
  private def take32(md: MessageDigest, d: Array[Byte]): Long = {
    md.digest(d, 0, 16)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  def compute(text: UTF8String): InternalRow = {
    val md = md5.get()
    val d = new Array[Byte](16)
    // split allocates each token once; getBytes hands back that array
    val toks = text.trim().split(Ws, -1).map(_.getBytes)
    val n = toks.length
    val thash = new Array[Long](n)
    val votes = new Array[Int](16)
    var i = 0
    while (i < n) {
      md.update(toks(i))
      val h = take32(md, d)
      thash(i) = h
      var b = 0
      while (b < 16) { votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1); b += 1 }
      i += 1
    }
    var simhash = 0L
    var b = 0
    while (b < 16) { if (votes(b) > 0) simhash |= 1L << b; b += 1 }

    val m = math.max(n - (ShingleN - 1), 1)
    val sh = new Array[Long](m)
    i = 0
    while (i < m) {
      val end = math.min(i + ShingleN, n)
      var j = i
      while (j < end) {
        if (j > i) md.update(' '.toByte)
        md.update(toks(j))
        j += 1
      }
      sh(i) = take32(md, d)
      i += 1
    }
    java.util.Arrays.sort(sh)
    var k = 1
    i = 1
    while (i < m) { if (sh(i) != sh(k - 1)) { sh(k) = sh(i); k += 1 }; i += 1 }

    val sig = Array.fill(MinhashK)(Long.MaxValue)
    i = 0
    while (i < k) {
      val h = sh(i)
      var s = 0
      while (s < MinhashK) {
        val v = (h * PermA(s) + PermB(s)) % Mod
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    InternalRow(
      UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(sh, k)),
      UnsafeArrayData.fromPrimitiveArray(sig),
      UnsafeArrayData.fromPrimitiveArray(thash),
      simhash)
  }

  /** Idempotently register `doc_signature` in the session's function
    * registry. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("doc_signature")
    if (!reg.functionExists(id)) {
      reg.registerFunction(
        id,
        new ExpressionInfo(classOf[DocSignature].getName, "doc_signature"),
        (exprs: Seq[Expression]) => DocSignature(exprs.head))
    }
  }

  /** The signature struct of a string column (requires [[register]]). */
  def of(text: Column): Column = call_function("doc_signature", text)
}
