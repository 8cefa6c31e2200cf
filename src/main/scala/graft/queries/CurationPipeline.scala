package graft.queries

import graft.functions.TextHash.{hash32, shingles, sqlHash32, sqlShingles, sqlTokens, tokens}
import graft.sources.{Footers, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q44/Q45 — the end-to-end LLM training-data curation DAG (VERDICT r10
  * #8) and its INCREMENTAL nightly form: the five stages that exist
  * separately as q22 (exact dedup), q22e (span-level boilerplate removal),
  * q25h (quality rules), q25j (train/val/test split) and q25o (sequence
  * packing), composed into the ONE pipeline a user actually runs — raw
  * corpus in, packed training sequences out. Every stage reuses the
  * standalone operator's exact program and constants (imported, not
  * copied), so the composed semantics can never drift from the parts, and
  * the oracles are the same stages composed as one CTE chain.
  *
  * Plan economy (PlanSpec-pinned for q44): the RAW corpus is scanned
  * exactly ONCE end-to-end. Stage 1's dedup survivor set materializes
  * (`q44_kept`), the span-clean stage reads and re-reads only that
  * materialization (its boilerplate-df aggregation and anti-join branches
  * would otherwise each re-scan the raw corpus), and the curated text
  * materializes again (`q44_curated`) so the quality/split/packing plan —
  * which fans out into token, bigram, and packing branches — touches only
  * a deduped, cleaned, two-column table. At 100 TB these materializations
  * ARE the pipeline's checkpoint tables (every production curation DAG
  * persists stage boundaries for reruns and audits); the alternative —
  * one fused plan — would scan the corpus once per branch, five times or
  * more.
  *
  * Stage semantics under composition: boilerplate document frequency is
  * computed on the DEDUPED corpus (a span repeated only via exact-dup
  * copies is not boilerplate — dedup first is the standard order); quality
  * rules run on the CLEANED text (a doc that is boilerplate-heavy fails
  * type-token or length bounds after removal, which is the intent);
  * packing receives quality-passing TRAIN-split docs only, so sequence
  * offsets are dense within the final training corpus.
  */
object CurationPipeline {

  import DedupQueries.{BoilerplateDf, SpanLen}
  import CurationQueries.SeqLen
  import QualityQueries.{MaxMeanWordLen, MaxTopBigramFrac, MinMeanWordLen, MinTypeTokenRatio, TestFrom, ValFrom}

  /** q45 batch rule: a FIXED-COUNT nightly batch — docs with doc_id ≡ 0
    * modulo a footer-derived modulus (target ~[[BatchTarget]] docs,
    * floored at 7 so the 500-doc oracle SFs keep a ~70-doc batch). Fixed
    * COUNT, not a fixed fraction: a nightly ingest volume does not grow
    * with the corpus it lands in, and the fixed count is what makes the
    * ×10/×20 growth rows measure the claim that matters — the incremental
    * path's marginal cost is BATCH-proportional, flat as the standing
    * corpus scales (q23j's and q36e's pattern). The rest is the standing
    * curated history. */
  private val BatchTarget = 70L

  private def batchMod(s: SparkSession, dir: String): Long =
    math.max(7L,
      Footers.rowCount(s, s"$dir/documents.parquet") / BatchTarget)

  /** The modulus in the oracle's dialect — a 1-row subquery over the
    * identical table, so both engines derive the identical batch. */
  private val sqlBatchMod: String =
    s"(SELECT GREATEST(COUNT(*) // $BatchTarget, 7) FROM documents)"

  // ----- stage programs over arbitrary document frames -------------------

  /** Stage 1 (q22's rule): exact-dedup survivors of `docs` — keep = lowest
    * doc_id per normalized-text hash. */
  private def dedupKeep(docs: DataFrame): DataFrame = {
    val h = sha2(lower(trim(col("text"))), 256)
    docs
      .select(col("doc_id"), col("lang"), col("text"),
        row_number().over(Window.partitionBy(h).orderBy(col("doc_id"))).as("rnk"))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("lang"), col("text"))
  }

  /** q22e's span grid over a (doc_id, lang, text) frame:
    * (doc_id, lang, j, stext, hh). */
  private def segsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("toks")) / lit(SpanLen.toDouble)).cast("int") - 1),
          j => concat_ws(" ", slice(col("toks"), j * SpanLen + 1, lit(SpanLen)))))
          .as(Seq("j", "stext")))
      .withColumn("hh", hash32(col("stext")))

  /** The boilerplate span list of a segment frame (df ≥ BoilerplateDf). */
  private def boilerplateOf(h: DataFrame): DataFrame =
    h.groupBy(col("hh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= BoilerplateDf)
      .select(col("hh"))

  /** q22e's removal + reassembly: segments minus the (broadcast)
    * boilerplate list, re-agg'd per doc; docs whose every span is
    * boilerplate survive with ctext = '' and die at the quality gate. */
  private def spanClean(h: DataFrame, bp: DataFrame): DataFrame = {
    val keptseg = h.join(broadcast(bp), Seq("hh"), "left_anti")
    val agg = keptseg.groupBy(col("doc_id")).agg(
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("j"), col("stext")))),
        _.getField("stext"))).as("clean_text"))
    h.select(col("doc_id"), col("lang")).distinct()
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("clean_text"), lit("")).as("ctext"))
  }

  /** Tokenized curated frame: (doc_id, lang, toks). */
  private def tokenized(cur: DataFrame): DataFrame =
    cur.select(col("doc_id"), col("lang"), tokens(col("ctext")).as("toks"))

  /** Stage 3 (q25h): doc_ids of `ct` that pass the quality rules. */
  private[graft] def qualityDocs(ct: DataFrame): DataFrame = {
    val tok = ct.select(col("doc_id"), lit(0).as("kind"), explode(col("toks")).as("v"))
    val bg = ct.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), lit(1).as("kind"),
        explode(shingles(col("toks"), n = 2)).as("v"))
    val m = tok.unionByName(bg)
      .groupBy(col("doc_id"), col("kind"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("kind") === 0, col("cnt")).otherwise(0L)).as("n_tok"),
        sum(when(col("kind") === 0, 1L).otherwise(0L)).as("n_types"),
        sum(when(col("kind") === 0, col("cnt") * length(col("v"))).otherwise(0L))
          .as("wlen_sum"),
        max(when(col("kind") === 1, col("cnt"))).as("top_bg"),
        sum(when(col("kind") === 1, col("cnt")).otherwise(0L)).as("n_bg"))
    val meanWlen = col("wlen_sum").cast("double") / col("n_tok")
    val ttr = col("n_types").cast("double") / col("n_tok")
    val topBgFrac = coalesce(col("top_bg"), lit(0L)).cast("double") /
      greatest(col("n_bg"), lit(1L))
    m.filter(
        meanWlen.between(MinMeanWordLen, MaxMeanWordLen) &&
          ttr >= MinTypeTokenRatio && topBgFrac <= MaxTopBigramFrac)
      .select(col("doc_id"))
  }

  /** q25j's split bucket of a doc_id column. */
  private def splitBucket: Column =
    hash32(concat(lit("split:"), col("doc_id"))) % 100

  /** Stages 3+4 (q25h + q25j): quality-passing docs in the train split. */
  private def qualityTrainDocs(ct: DataFrame): DataFrame =
    qualityDocs(ct).filter(splitBucket < ValFrom)

  /** Stage-3 boundary MATERIALIZED for the full curated corpus: the
    * quality-passing doc_ids q44's pack and q46's card both read. The card
    * already documents itself as "per-lang aggregates over checkpoint
    * tables"; without this table the (doc, kind, feature) exploded
    * aggregation re-ran live once per consumer per execution (twice in q46
    * alone — split counts + packable; measured round 16). Bounded: one
    * doc_id per passing doc. */
  private def q44Quality(s: SparkSession, dir: String): DataFrame =
    Materialize(s, dir, "q44_quality")(
      qualityDocs(tokenized(curatedCorpus(s, dir))))

  /** [[packable]] off a precomputed quality table instead of re-running
    * the stage-3 aggregation: same rows by construction. */
  private def packableWith(ct: DataFrame, quality: DataFrame): DataFrame =
    ct.join(quality.filter(splitBucket < ValFrom), Seq("doc_id"))
      .select(col("lang"), col("doc_id"),
        size(filter(col("toks"), x => x =!= "")).cast("long").as("n_tok"))

  /** Packable token counts of the quality-passing train docs:
    * (lang, doc_id, n_tok) with empty tokens excluded (q25o's rule). */
  private def packable(ct: DataFrame): DataFrame =
    ct.join(qualityTrainDocs(ct), Seq("doc_id"))
      .select(col("lang"), col("doc_id"),
        size(filter(col("toks"), x => x =!= "")).cast("long").as("n_tok"))

  /** Stage 5 (q25o): fixed-length sequence segments for `t` =
    * (lang, doc_id, n_tok), offsets starting at `base` (a per-lang BIGINT
    * `base` column joined by lang; 0 where absent) — the incremental form
    * appends after the standing corpus's packed end. */
  private def packFrom(t: DataFrame, base: DataFrame): DataFrame = {
    val off = (coalesce(col("base"), lit(0L)) +
      sum(col("n_tok")).over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      - col("n_tok")).as("off")
    val L = lit(SeqLen.toLong)
    t.join(broadcast(base), Seq("lang"), "left")
      .select(col("lang"), col("doc_id"), col("n_tok"), off)
      .filter(col("n_tok") > 0)
      .select(col("lang"), col("doc_id"), col("n_tok"), col("off"),
        explode(sequence(
          expr(s"off div $SeqLen"),
          expr(s"(off + n_tok - 1) div $SeqLen"))).as("seq"))
      .select(
        col("lang"), col("doc_id"), col("seq"),
        greatest(col("seq") * L - col("off"), lit(0L)).as("seg_begin"),
        (least((col("seq") + 1) * L, col("off") + col("n_tok"))
          - greatest(col("seq") * L, col("off"))).as("seg_len"),
        greatest(col("off") - col("seq") * L, lit(0L)).as("offset_in_seq"))
      .orderBy("lang", "seq", "doc_id")
  }

  private def zeroBase(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, Long)].toDF("lang", "base")
  }

  // ----- q44: full-corpus pipeline ---------------------------------------

  /** Stage-1 program (unmaterialized, exposed for PlanSpec's one-raw-scan
    * pin): exact-dedup survivors with their lang and raw text. */
  private[graft] def keptFrame(s: SparkSession, dir: String): DataFrame =
    dedupKeep(Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))

  /** Stages 1+2 materialized: (doc_id, lang, ctext) — dedup survivors with
    * span-cleaned text. Exposed for PlanSpec. */
  private def keptCorpus(s: SparkSession, dir: String): DataFrame =
    Materialize(s, dir, "q44_kept")(keptFrame(s, dir))

  private[graft] def curatedCorpus(s: SparkSession, dir: String): DataFrame =
    // spread on write (guide §6): q44/q46's tokenize passes ride this scan
    Materialize.spreadOnWrite(s, dir, "q44_curated", col("doc_id")) {
      val h = segsOf(keptCorpus(s, dir))
      spanClean(h, boilerplateOf(h))
    }

  // ----- q45: incremental (nightly batch vs standing history) ------------

  /** The ONE materialized night-batch frame (doc_id, lang, source, text)
    * every fixed-residue nightly consumer reads — the drift monitors
    * (q64/q65/q67), the SA merge (q63g/q63h), and the q68 composite's
    * curation stages. Raw batch documents are scanned exactly ONCE per
    * session, by this builder; everything nightly downstream reads the
    * stored frame (VERDICT r15 #5, plan-pinned). The residue is the
    * drift/index family's shared doc_id % 7 rule (q45's own batch uses
    * the footer-derived fixed-count modulus instead — its gate predates
    * the rule and its growth rows depend on it). */
  private[graft] def nightBatch(s: SparkSession, dir: String): DataFrame =
    Materialize(s, dir, "night_batch")(nightBatchBuilder(s, dir))

  /** The builder behind [[nightBatch]] — exposed so the q68 plan pin can
    * assert it is ONE raw documents scan (q44's keptFrame pattern). */
  private[graft] def nightBatchBuilder(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))

  private def histDocsAt(s: SparkSession, dir: String, m: Long): DataFrame =
    Tables.documents(s, dir).filter(col("doc_id") % m =!= 0)
      .select(col("doc_id"), col("lang"), col("text"))

  /** The standing history artifacts a production pipeline keeps between
    * runs, rebuilt once per session here: the deduped history (for the
    * incremental dedup's key set), the FROZEN boilerplate list (batch docs
    * are cleaned against the history's list — a nightly batch must not
    * redefine boilerplate), and the curated history text. Parameterized by
    * the history modulus + artifact tag: q45 keeps its fixed-count split
    * ("q45_*" tags), the q68 composite instantiates the same builders at
    * the shared doc_id % 7 night split ("q68_*"). */
  private def histKeptAt(s: SparkSession, dir: String, m: Long,
                         tag: String): DataFrame =
    Materialize(s, dir, s"${tag}_hist_kept")(dedupKeep(histDocsAt(s, dir, m)))

  private def histBoilerplateAt(s: SparkSession, dir: String, m: Long,
                                tag: String): DataFrame =
    Materialize(s, dir, s"${tag}_bp")(
      boilerplateOf(segsOf(histKeptAt(s, dir, m, tag))))

  private def histCuratedAt(s: SparkSession, dir: String, m: Long,
                            tag: String): DataFrame =
    Materialize(s, dir, s"${tag}_hist_curated")(
      spanClean(segsOf(histKeptAt(s, dir, m, tag)),
        histBoilerplateAt(s, dir, m, tag)))

  private def histTokenBaseAt(s: SparkSession, dir: String, m: Long,
                              tag: String): DataFrame =
    Materialize(s, dir, s"${tag}_hist_base")(
      packable(tokenized(histCuratedAt(s, dir, m, tag)))
        .groupBy(col("lang")).agg(sum(col("n_tok")).as("base")))

  private def histKept(s: SparkSession, dir: String): DataFrame =
    histKeptAt(s, dir, batchMod(s, dir), "q45")

  /** q45's stage chain over an arbitrary (history modulus, batch frame) —
    * incremental dedup (a Bloom of the batch keys rides the history scan,
    * the q22d machinery: built DISTRIBUTED via bloom_filter_agg and
    * delivered as a scalar subquery, VERDICT r13 #4; survivors broadcast
    * into the anti-join; then within-batch first-wins rank) →
    // frozen-boilerplate span clean (a materialized stage boundary, the
    * q44 rule: without it the quality/packing fan-out replays the whole
    * dedup+clean pipeline per branch) → quality + train-split gates →
    * sequence packing continuing from the standing per-lang token
    * offsets. q45 instantiates it at the fixed-count modulus, the q68
    * composite at the shared doc_id % 7 night split over the ONE
    * materialized night-batch frame. `batchDocs` must be
    * (doc_id, lang, text)⊇. */
  private[graft] def incrementalCurationAt(s: SparkSession, dir: String,
                                           m: Long, tag: String,
                                           batchDocs: DataFrame)
      : (DataFrame, DataFrame) = {
    val key = lower(trim(col("text")))
    val batch = batchDocs
      .select(col("doc_id"), col("lang"), col("text"), key.as("k"))
    // expected-insertions from the ACTUAL batch cardinality (footer count
    // over the sampling modulus), not the BatchTarget constant: if the
    // batch rule is ever retuned upward a constant would silently degrade
    // the FPP and balloon the history scan's survivor volume (ADVICE r11)
    val expected = math.max(1000L,
      2L * (Footers.rowCount(s, s"$dir/documents.parquet") / m))
    graft.functions.SketchFunctions.register(s)
    val sketch = batch.select(xxhash64(col("k")).as("kh"))
      .agg(graft.functions.SketchFunctions
        .bloomSketchAgg(col("kh"), expected, 0.01).as("sk"))
      .scalar()
    val histCand = histKeptAt(s, dir, m, tag).select(key.as("hk"))
      .filter(graft.functions.SketchFunctions.bloomMightContain(
        sketch, xxhash64(col("hk"))))
    val batchKept = batch
      .join(broadcast(histCand), col("k") === col("hk"), "left_anti")
      .select(col("doc_id"), col("lang"), col("text"),
        row_number().over(Window.partitionBy(col("k")).orderBy(col("doc_id"))).as("rnk"))
      .filter(col("rnk") === 1)
      .select(col("doc_id"), col("lang"), col("text"))
    val bclean = Materialize(s, dir, s"${tag}_batch_curated")(
      spanClean(segsOf(batchKept), histBoilerplateAt(s, dir, m, tag)))
    (packFrom(packable(tokenized(bclean)), histTokenBaseAt(s, dir, m, tag)),
      bclean)
  }

  private def histBoilerplate(s: SparkSession, dir: String): DataFrame =
    histBoilerplateAt(s, dir, batchMod(s, dir), "q45")

  /** Per-lang packed-token totals of the standing train corpus — the
    * offset base the batch's packing continues from (bounded: one row per
    * lang). Materialized: this is a STANDING artifact (production keeps it
    * next to the packed corpus), and without the checkpoint every
    * execution would replay the history-sized quality gate — the one
    * history-proportional cost that must not ride the nightly path
    * (caught by the first growth capture: 7.5 s at ×10, history-shaped). */
  private[graft] def histTokenBase(s: SparkSession, dir: String): DataFrame =
    histTokenBaseAt(s, dir, batchMod(s, dir), "q45")

  /** q45b's slice count: the nightly batch arrives as this many
    * doc_id-ordered micro-batches (files-arriving source, one file per
    * trigger). */
  private val StreamSlices = 4

  /** Compact the seen-key deltas once this many accumulate past the last
    * compact (4 slices → one compaction fires on every full q45b run, so
    * the path is always exercised, and a continuous stream's read fan-in
    * stays ≤ 1 compact + [[CompactEvery]] delta dirs). */
  private val CompactEvery = 3

  private val keySchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kh",
      org.apache.spark.sql.types.StringType)))
  private val baseSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("base",
      org.apache.spark.sql.types.LongType)))
  private val packedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seg_begin",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("seg_len",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("offset_in_seq",
      org.apache.spark.sql.types.LongType)))

  /** Ids of committed versioned dirs `<root>/<prefix><id>` with id strictly
    * below `before`, ascending. `before` = the running micro-batch's id:
    * foreachBatch is at-least-once, so a dir AT the current id is a failed
    * earlier attempt of this very batch (its offsets never committed) and
    * must be invisible to the retry — the retry rereads exactly the state
    * the first attempt saw and overwrites its own versions, which is what
    * makes every state write idempotent. This listing is ALSO the recovery
    * path: a restarted job derives its entire cross-batch state from here,
    * never from driver memory (VERDICT r14 #1). */
  private def versionsBelow(s: SparkSession, root: String, prefix: String,
                            before: Long): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
        n.length > prefix.length && n.drop(prefix.length).forall(_.isDigit) =>
        n.drop(prefix.length).toLong }
      .filter(_ < before).sorted
  }

  private def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** The nightly batch with the replay event-time column (exposed so the
    * restart spec can publish it to a source dir in halves). */
  private[graft] def curationBatchDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") % batchMod(s, dir) === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("dts", timestamp_seconds(lit(1704067200L) + col("doc_id")))

  /** The packed output of a (possibly multi-run) streaming-curation job:
    * the union of its per-batch versioned output dirs.
    *
    * Validity contract (ADVICE r15): this lists every written out_v* dir,
    * so it is only the "union of committed versions" AFTER a run that
    * terminated normally or was RESUMED to completion — foreachBatch is
    * at-least-once, and an attempt that wrote out_v<id> but crashed
    * before its checkpoint offsets committed leaves a dir whose content
    * the retry will overwrite (versionsBelow's `before` rule makes it
    * invisible to the retry itself, which re-reads the pre-attempt state
    * and rewrites its own versions — see its doc). Readers that cannot
    * guarantee the run completed must resume the stream against the same
    * checkpoint first; the q45b/q45c callers and the restart spec do
    * exactly that. */
  private[graft] def readPacked(s: SparkSession, outRoot: String): DataFrame = {
    val vs = versionsBelow(s, outRoot, "out_v", Long.MaxValue)
    if (vs.isEmpty)
      s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        packedSchema)
    else s.read.schema(packedSchema)
      .parquet(vs.map(v => s"$outRoot/out_v$v"): _*)
      .orderBy("lang", "seq", "doc_id")
  }

  /** Sorted (version, rows, bytes) of the committed seen-key DELTA dirs —
    * the spec's instrument for the state-maintenance contract: each delta
    * holds only its own slice's new keys, so per-slice state-write bytes
    * are ∝ slice, never ∝ accumulated history. */
  private[graft] def seenDeltaStats(s: SparkSession,
                                    stateRoot: String): Seq[(Long, Long, Long)] =
    versionsBelow(s, stateRoot, "seen_v", Long.MaxValue).map { v =>
      val d = s"$stateRoot/seen_v$v"
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      (v, s.read.schema(keySchema).parquet(d).count(),
        fs.getContentSummary(p).getLength)
    }

  /** One slice's clean→quality→pack tail, shared by q45b and q45c: pin the
    * slice-sized stage boundary (the q45 checkpoint shape), taken AFTER
    * the quality gate — the packing write and the offset-state update both
    * consume the 3-column (lang, doc_id, n_tok) table, so pinning it
    * (rather than the text-heavy cleaned table) keeps the whole
    * clean→quality pipeline to ONE execution per slice and the pin bytes
    * to a few longs per surviving doc. Output and the offsets table write
    * versioned per batch id (overwrite) — idempotent under retries. */
  private def packSlice(ss: SparkSession, kept: DataFrame, id: Long,
      outRoot: String, stateRoot: String, bp: DataFrame,
      baseNow: DataFrame): Unit = {
    val tDir = s"$stateRoot/t_v$id"
    val pk = packable(tokenized(spanClean(segsOf(kept), bp)))
    pk.write.mode("overwrite").parquet(tDir)
    val t = Footers.read(ss, tDir)
    packFrom(t, baseNow).write.mode("overwrite").parquet(s"$outRoot/out_v$id")
    val nb = baseNow
      .unionByName(t.groupBy(col("lang")).agg(sum(col("n_tok")).as("base")))
      .groupBy(col("lang")).agg(sum(col("base")).as("base"))
    nb.write.mode("overwrite").parquet(s"$stateRoot/base_v$id")
    ()
  }

  /** The recovered per-lang offsets base for batch `id` (max committed
    * base version below it; the standing totals before any). */
  private def baseBefore(ss: SparkSession, stateRoot: String, id: Long,
      base0: DataFrame): DataFrame =
    versionsBelow(ss, stateRoot, "base_v", id).lastOption
      .map(b => ss.read.schema(baseSchema).parquet(s"$stateRoot/base_v$b"))
      .getOrElse(base0)

  /** The streaming form of the q45 DAG (see the q45b QueryDef), RESUMABLE:
    * consume doc_id-ordered slices from `sdf` (one micro-batch each) and
    * run the SAME imported stage programs per micro-batch inside
    * `foreachBatch`, carrying the two pieces of cross-batch state a
    * continuous curation job owns — the seen-key set (cross-slice exact
    * dedup: a doc in slice 3 that duplicates a slice-1 keeper must drop
    * exactly as q45's whole-batch first-wins rank drops it; doc_id-ordered
    * slices make "first seen" and "lowest doc_id" coincide) and the
    * per-lang packed-token offsets (seeded from the standing corpus's
    * totals, advanced by each slice's packed mass — sequence offsets stay
    * dense across micro-batches).
    *
    * State design (VERDICT r14 #1): every piece of cross-batch state lives
    * under `stateRoot` as versioned parquet and is re-derived per batch
    * from the directory listing — no driver-memory pointers, so a job
    * restarted mid-stream (same checkpoint + stateRoot) resumes with its
    * full seen-set and offsets (the restart spec pins byte-identical
    * output). The seen-key state is a DELTA LOG: each batch writes only
    * its own slice's new keys (slices are key-disjoint by the seen
    * anti-join), read as the union of the last compact + later deltas, and
    * compacted every [[CompactEvery]] deltas — per-batch state write is
    * O(slice) and cumulative write over a stream's life is O(n·n/K)
    * amortized to O(n) between compactions, not the O(n²) a full-union
    * rewrite per batch costs. The offsets table rewrites whole per batch —
    * it is one row per lang, bounded. Writes are idempotent under
    * foreachBatch's at-least-once contract: versions are keyed by batch
    * id, a retry sees only versions < its id (the exact state the failed
    * attempt saw) and overwrites its own. Output is versioned the same way
    * (`out_v<id>`, overwrite — a retried batch replaces, never
    * double-appends) and read back as the union of committed versions.
    *
    * At scale each slice's work is slice-proportional: the history is
    * probed through a slice-side Bloom (scalar subquery, the q45
    * machinery), the boilerplate list is the frozen standing artifact, and
    * the quality / packing stages see only the slice's survivors. */
  private[graft] def runStreamingCuration(s: SparkSession, dir: String,
      sdf: DataFrame, outRoot: String, stateRoot: String,
      checkpoint: String): Unit = {
    import graft.streaming.StreamRunner
    val key = lower(trim(col("text")))
    // standing artifacts, shared object-for-object with q45
    val histK = histKept(s, dir)
    val bp = histBoilerplate(s, dir)
    val base0 = histTokenBase(s, dir)
    graft.functions.SketchFunctions.register(s)
    // flush=false: the job is stateless-at-the-engine level (all state is
    // caller-managed parquet), so no-data flush micro-batches would plan
    // and commit without ever doing work
    StreamRunner.runBatches(s, sdf, "q45b", flush = false,
        checkpoint = Some(checkpoint)) { (slice0, id) =>
      val ss = slice0.sparkSession
      val slice = slice0.drop("dts").withColumn("k", key)
      // slice-side sketch riding the history scan: the batch rule is
      // fixed-count, so a constant bound sizes it (the max(1000, ·) floor
      // dominates at BatchTarget volumes)
      val sketch = slice.select(xxhash64(col("k")).as("kh"))
        .agg(graft.functions.SketchFunctions
          .bloomSketchAgg(col("kh"), math.max(1000L, 2L * BatchTarget), 0.01).as("sk"))
        .scalar()
      val histCand = histK.select(key.as("hk"))
        .filter(graft.functions.SketchFunctions.bloomMightContain(
          sketch, xxhash64(col("hk"))))
      // recovered state: last compact + later deltas, all from the listing
      val deltas = versionsBelow(ss, stateRoot, "seen_v", id)
      val lastCompact = versionsBelow(ss, stateRoot, "seen_compact_v", id)
        .lastOption
      val seenDirs = lastCompact.map(c => s"$stateRoot/seen_compact_v$c").toSeq ++
        deltas.filter(d => lastCompact.forall(d > _))
          .map(d => s"$stateRoot/seen_v$d")
      val seen =
        if (seenDirs.isEmpty) ss.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), keySchema)
        else ss.read.schema(keySchema).parquet(seenDirs: _*)
      val baseNow = baseBefore(ss, stateRoot, id, base0)
      // the seen-key state stores sha256(k), not the normalized text: at a
      // production nightly volume the state table is what every future
      // slice anti-joins against, and 32 bytes/key vs document-sized
      // strings is the difference between a broadcastable digest table and
      // a text-sized shuffle (dedupKeep's hash-the-key precedent; a
      // 256-bit digest adds no practical collision risk to an exact path)
      val kept = slice
        .join(broadcast(histCand), col("k") === col("hk"), "left_anti")
        .join(seen.select(col("kh").as("skh")),
          sha2(col("k"), 256) === col("skh"), "left_anti")
        .select(col("doc_id"), col("lang"), col("text"), col("k"),
          row_number().over(
            Window.partitionBy(col("k")).orderBy(col("doc_id"))).as("rnk"))
        .filter(col("rnk") === 1)
      packSlice(ss, kept.select(col("doc_id"), col("lang"), col("text")),
        id, outRoot, stateRoot, bp, baseNow)
      // seen DELTA: only this slice's new keys — no distinct needed (the
      // rank-1 filter leaves one row per key, and the seen anti-join above
      // makes slices key-disjoint), and no union with history (that union
      // is what made per-batch state writes O(accumulated keys))
      kept.select(sha2(col("k"), 256).as("kh"))
        .write.mode("overwrite").parquet(s"$stateRoot/seen_v$id")
      // compaction: once CompactEvery deltas accumulate past the last
      // compact, fold them (and it) into one table keyed by this batch id
      val uncompacted = deltas.filter(d => lastCompact.forall(d > _)).size + 1
      if (uncompacted >= CompactEvery) {
        seen.unionByName(
            ss.read.schema(keySchema).parquet(s"$stateRoot/seen_v$id"))
          .write.mode("overwrite").parquet(s"$stateRoot/seen_compact_v$id")
        // reclaim versions subsumed by the PREVIOUS compact: a retry of
        // THIS batch id still reads lastCompact + deltas in (lastCompact,
        // id), so those must stay; anything ≤ the previous compact is
        // covered by it and dead
        for (c <- lastCompact) {
          deltas.filter(_ <= c)
            .foreach(d => deleteDir(ss, s"$stateRoot/seen_v$d"))
          versionsBelow(ss, stateRoot, "seen_compact_v", c)
            .foreach(d => deleteDir(ss, s"$stateRoot/seen_compact_v$d"))
        }
      }
      ()
    }
  }

  /** One-shot q45b run: replay the full nightly batch as
    * [[StreamSlices]] doc_id-ordered micro-batches into fresh
    * output/state/checkpoint roots and read the packed union back. */
  private[graft] def streamingCuration(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamRunner
    val sdf = StreamRunner.replayPaced(
      s, curationBatchDocs(s, dir), "dts", StreamSlices, "q45b")
    val outRoot = graft.TempDirs.create("graft_q45b_out_")
    val stateRoot = graft.TempDirs.create("graft_q45b_state_")
    val chk = graft.TempDirs.create("graft_q45b_chk_")
    runStreamingCuration(s, dir, sdf, outRoot, stateRoot, chk)
    readPacked(s, outRoot)
  }

  /** q45c — q45b with the seen-key state carried by the ENGINE: the
    * cross-slice first-wins dedup runs as a `transformWithState` stateful
    * operator (typed ValueState per sha256 key, RocksDB state store —
    * [[graft.streaming.SeenKeyKeeperProcessor]]) INSIDE the stream, so
    * checkpointing, exactly-once under micro-batch retries, and restart
    * recovery of the seen set are the engine's contract instead of the
    * caller-managed delta log q45b maintains. Everything downstream of
    * the dedup — Bloom-vs-history anti-join, frozen-boilerplate clean,
    * quality gate, packing with versioned parquet offsets — is the SAME
    * shared slice tail ([[packSlice]]); the per-lang offsets stay
    * caller-managed (one bounded row per lang — nothing a keyed state
    * store improves). The two state designs answer to the SAME q45
    * oracle, so they are benchmarked against each other under one gate. */
  private[graft] def streamingCurationTws(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamRunner
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import s.implicits._
    val key = lower(trim(col("text")))
    val histK = histKept(s, dir)
    val bp = histBoilerplate(s, dir)
    val base0 = histTokenBase(s, dir)
    graft.functions.SketchFunctions.register(s)
    val sdf = StreamRunner.replayPaced(
      s, curationBatchDocs(s, dir), "dts", StreamSlices, "q45c")
    val outRoot = graft.TempDirs.create("graft_q45c_out_")
    val stateRoot = graft.TempDirs.create("graft_q45c_state_")
    val chk = graft.TempDirs.create("graft_q45c_chk_")
    // transformWithState requires the RocksDB provider; the conf is
    // SESSION-GLOBAL (no per-query writeStream option exists for it in
    // this Spark), so any OTHER streaming query started while this run is
    // in flight would silently pick up RocksDB — and the finally-block's
    // StateStore.stop() unloads providers session-wide (ADVICE r15). The
    // engine executes queries sequentially (Verify/Bench/specs all run
    // one query at a time), which this swap-and-restore depends on; a
    // concurrent-streaming caller must scope sessions per query instead.
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(pk)
    s.conf.set(pk,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the engine-stateful dedup rides the STREAM, ahead of foreachBatch:
      // each micro-batch delivers only keys never seen by any earlier
      // slice, first-wins keeper per key
      val deduped = sdf.drop("dts")
        .select(col("doc_id"), col("lang"), col("text"),
          sha2(key, 256).as("kh"))
        .as[(Long, String, String, String)]
        .groupByKey(_._4)
        .transformWithState(new graft.streaming.SeenKeyKeeperProcessor,
          TimeMode.None(), OutputMode.Append())
        .toDF("doc_id", "lang", "text")
      StreamRunner.runBatches(s, deduped, "q45c", flush = false,
          checkpoint = Some(chk)) { (slice0, id) =>
        val ss = slice0.sparkSession
        val slice = slice0.withColumn("k", key)
        val sketch = slice.select(xxhash64(col("k")).as("skh"))
          .agg(graft.functions.SketchFunctions
            .bloomSketchAgg(col("skh"), math.max(1000L, 2L * BatchTarget), 0.01)
            .as("sk"))
          .scalar()
        val histCand = histK.select(key.as("hk"))
          .filter(graft.functions.SketchFunctions.bloomMightContain(
            sketch, xxhash64(col("hk"))))
        val kept = slice
          .join(broadcast(histCand), col("k") === col("hk"), "left_anti")
          .select(col("doc_id"), col("lang"), col("text"))
        packSlice(ss, kept, id, outRoot, stateRoot, bp,
          baseBefore(ss, stateRoot, id, base0))
      }
    } finally {
      prev.fold(s.conf.unset(pk))(v => s.conf.set(pk, v))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    }
    readPacked(s, outRoot)
  }

  /** The q45 oracle text — shared VERBATIM by q45 (the batch
    * incremental form) and q45b (the same DAG run as a Structured
    * Streaming job): stream-batch parity is pinned by one gate. */
  private lazy val sqlQ45Oracle: String = sqlQ45OracleAt(sqlBatchMod)

  /** The q68 oracle: every composed stage recomputed from raw documents
    * in DuckDB at the shared doc_id % 7 night split, each reusing its
    * constituent's vetted oracle text as a subquery (the curation chain =
    * [[sqlQ45OracleAt]] at 7), aggregated to the (stage, item, value)
    * night-report rows. */
  private lazy val sqlQ68Oracle: String = {
    def oracleOf(defs: Seq[QueryDef], name: String): String =
      defs.find(_.name == name).get.sql.get
    val cur = sqlQ45OracleAt("7")
    val sub = oracleOf(DedupQueries.defs, "q47b_incremental_substring")
    val v64 = oracleOf(CurationQueries.defs, "q64_vocab_drift")
    val v65 = oracleOf(DedupQueries.defs, "q65_neardup_drift")
    val v67 = oracleOf(SimilarityQueries.defs, "q67_embedding_drift")
    s"""WITH curq AS (SELECT * FROM ($cur)),
       |subq AS (SELECT * FROM ($sub)),
       |ntoks AS (SELECT doc_id, len(${sqlTokens("text")}) AS n FROM documents)
       |SELECT stage, item, value FROM (
       |  SELECT 'curation' AS stage, 'packed_rows' AS item,
       |    COUNT(*)::DOUBLE AS value FROM curq
       |  UNION ALL SELECT 'curation', 'sequences',
       |    COUNT(DISTINCT (lang, seq))::DOUBLE FROM curq
       |  UNION ALL SELECT 'exact_dedup', 'batch_docs', COUNT(*)::DOUBLE
       |    FROM documents WHERE doc_id % 7 = 0
       |  UNION ALL SELECT 'exact_dedup', 'new_docs', COUNT(DISTINCT k)::DOUBLE
       |    FROM (SELECT lower(trim(text)) AS k FROM documents
       |          WHERE doc_id % 7 = 0
       |            AND lower(trim(text)) NOT IN (
       |              SELECT DISTINCT lower(trim(text)) FROM documents
       |              WHERE doc_id % 7 <> 0))
       |  UNION ALL SELECT 'substring_dedup', 'flagged_docs',
       |    COUNT(*)::DOUBLE FROM subq
       |  UNION ALL SELECT 'substring_dedup', 'dup_tokens',
       |    COALESCE(SUM(dup_tokens), 0)::DOUBLE FROM subq
       |  UNION ALL SELECT 'sa_merge', 'batch_positions',
       |    COALESCE(SUM(n), 0)::DOUBLE FROM ntoks WHERE doc_id % 7 = 0
       |  UNION ALL SELECT 'sa_merge', 'merged_positions',
       |    COALESCE(SUM(n), 0)::DOUBLE FROM ntoks
       |  UNION ALL SELECT 'vocab_drift', source, new_type_frac FROM ($v64)
       |  UNION ALL SELECT 'neardup_drift', source, neardup_frac FROM ($v65)
       |  UNION ALL SELECT 'embedding_drift', source, neardup_frac FROM ($v67)
       |) ORDER BY stage, item""".stripMargin
  }

  /** [[sqlQ45Oracle]] parameterized by the batch modulus — q45/q45b/q45c
    * gate at the footer-derived fixed-count split, the q68 composite's
    * curation stage at the shared doc_id % 7 night split. ONE text. */
  private def sqlQ45OracleAt(mod: String): String =
        s"""WITH hist AS (SELECT doc_id, lang, text FROM documents
           |        WHERE doc_id % $mod <> 0),
           |batch AS (SELECT doc_id, lang, text FROM documents
           |        WHERE doc_id % $mod = 0),
           |hd AS (SELECT doc_id, lang, text,
           |    ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
           |                       ORDER BY doc_id) AS rnk FROM hist),
           |hk AS (SELECT doc_id, lang, text FROM hd WHERE rnk = 1),
           |hsrc AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM hk),
           |hsegs AS (SELECT doc_id, lang, j,
           |    array_to_string(toks[(j*$SpanLen+1):(j*$SpanLen+$SpanLen)], ' ') AS stext
           |  FROM hsrc, unnest(generate_series(0,
           |    CAST(ceil(len(toks)/$SpanLen.0) AS BIGINT) - 1)) AS g(j)),
           |hsg AS (SELECT doc_id, lang, j, stext, ${sqlHash32("stext")} AS hh FROM hsegs),
           |bp AS (SELECT hh FROM (SELECT hh, COUNT(DISTINCT doc_id) AS df
           |                       FROM hsg GROUP BY 1) WHERE df >= $BoilerplateDf),
           |hkeptseg AS (SELECT doc_id, j, stext FROM hsg
           |             WHERE hh NOT IN (SELECT hh FROM bp)),
           |hagg AS (SELECT doc_id, string_agg(stext, ' ' ORDER BY j) AS clean_text
           |         FROM hkeptseg GROUP BY 1),
           |hcur AS (SELECT t.doc_id, t.lang, COALESCE(hagg.clean_text, '') AS ctext
           |         FROM (SELECT DISTINCT doc_id, lang FROM hsg) t
           |         LEFT JOIN hagg ON t.doc_id = hagg.doc_id),
           |ct AS (SELECT doc_id, lang, ${sqlTokens("ctext")} AS toks FROM hcur),
           |${sqlQualityTrainCtes("ct", "")},
           |ht AS (SELECT ct.lang, ct.doc_id,
           |    len(list_filter(ct.toks, x -> x <> '')) AS n_tok
           |  FROM ct JOIN tr ON ct.doc_id = tr.doc_id),
           |htot AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS base FROM ht GROUP BY 1),
           |hkeys AS (SELECT DISTINCT lower(trim(text)) AS hkey FROM hk),
           |bk1 AS (SELECT doc_id, lang, text, lower(trim(text)) AS k FROM batch
           |        WHERE lower(trim(text)) NOT IN (SELECT hkey FROM hkeys)),
           |bk AS (SELECT doc_id, lang, text FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY doc_id) AS rnk
           |    FROM bk1) WHERE rnk = 1),
           |bsrc AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM bk),
           |bsegs AS (SELECT doc_id, lang, j,
           |    array_to_string(toks[(j*$SpanLen+1):(j*$SpanLen+$SpanLen)], ' ') AS stext
           |  FROM bsrc, unnest(generate_series(0,
           |    CAST(ceil(len(toks)/$SpanLen.0) AS BIGINT) - 1)) AS g2(j)),
           |bh AS (SELECT doc_id, lang, j, stext, ${sqlHash32("stext")} AS hh FROM bsegs),
           |bkeptseg AS (SELECT doc_id, j, stext FROM bh
           |             WHERE bh.hh NOT IN (SELECT hh FROM bp)),
           |bagg AS (SELECT doc_id, string_agg(stext, ' ' ORDER BY j) AS clean_text
           |         FROM bkeptseg GROUP BY 1),
           |bcur AS (SELECT t.doc_id, t.lang, COALESCE(bagg.clean_text, '') AS ctext
           |         FROM (SELECT DISTINCT doc_id, lang FROM bh) t
           |         LEFT JOIN bagg ON t.doc_id = bagg.doc_id),
           |bct AS (SELECT doc_id, lang, ${sqlTokens("ctext")} AS toks FROM bcur),
           |${sqlQualityTrainCtes("bct", "b")},
           |bt AS (SELECT bct.lang, bct.doc_id,
           |    len(list_filter(bct.toks, x -> x <> '')) AS n_tok
           |  FROM bct JOIN btr ON bct.doc_id = btr.doc_id),
           |o AS (SELECT bt.lang, bt.doc_id, bt.n_tok,
           |  COALESCE(htot.base, 0) +
           |  CAST(SUM(bt.n_tok) OVER (PARTITION BY bt.lang ORDER BY bt.doc_id
           |    ROWS UNBOUNDED PRECEDING) - bt.n_tok AS BIGINT) AS off
           |  FROM bt LEFT JOIN htot ON bt.lang = htot.lang),
           |sq AS (SELECT lang, doc_id, n_tok, off,
           |  unnest(generate_series(off // $SeqLen, (off + n_tok - 1) // $SeqLen)) AS seq
           |  FROM o WHERE n_tok > 0)
           |$sqlPackSelect""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q44_curation_pipeline",
      s"""WITH d AS (SELECT doc_id, lang, text,
         |    ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
         |                       ORDER BY doc_id) AS rnk
         |  FROM documents),
         |k AS (SELECT doc_id, lang, text FROM d WHERE rnk = 1),
         |src AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM k),
         |segs AS (SELECT doc_id, lang, j,
         |    array_to_string(toks[(j*$SpanLen+1):(j*$SpanLen+$SpanLen)], ' ') AS stext
         |  FROM src, unnest(generate_series(0,
         |    CAST(ceil(len(toks)/$SpanLen.0) AS BIGINT) - 1)) AS g(j)),
         |h AS (SELECT doc_id, lang, j, stext, ${sqlHash32("stext")} AS hh FROM segs),
         |bp AS (SELECT hh FROM (SELECT hh, COUNT(DISTINCT doc_id) AS df
         |                       FROM h GROUP BY 1) WHERE df >= $BoilerplateDf),
         |keptseg AS (SELECT doc_id, j, stext FROM h
         |            WHERE hh NOT IN (SELECT hh FROM bp)),
         |agg AS (SELECT doc_id, string_agg(stext, ' ' ORDER BY j) AS clean_text
         |        FROM keptseg GROUP BY 1),
         |cur AS (SELECT t.doc_id, t.lang, COALESCE(agg.clean_text, '') AS ctext
         |        FROM (SELECT DISTINCT doc_id, lang FROM h) t
         |        LEFT JOIN agg ON t.doc_id = agg.doc_id),
         |ct AS (SELECT doc_id, lang, ${sqlTokens("ctext")} AS toks FROM cur),
         |${sqlQualityTrainCtes("ct", "")},
         |t AS (SELECT ct.lang, ct.doc_id,
         |    len(list_filter(ct.toks, x -> x <> '')) AS n_tok
         |  FROM ct JOIN tr ON ct.doc_id = tr.doc_id),
         |o AS (SELECT lang, doc_id, n_tok,
         |  CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS off
         |  FROM t),
         |sq AS (SELECT lang, doc_id, n_tok, off,
         |  unnest(generate_series(off // $SeqLen, (off + n_tok - 1) // $SeqLen)) AS seq
         |  FROM o WHERE n_tok > 0)
         |$sqlPackSelect""".stripMargin) { (s, dir) =>
      val ct = tokenized(curatedCorpus(s, dir))
      packFrom(packableWith(ct, q44Quality(s, dir)), zeroBase(s))
    },

    // Q45 — the INCREMENTAL curation DAG (q44's nightly form, the shape a
    // standing 100 TB corpus actually runs): tonight's batch (doc_id %
    // 7 == 0) is deduplicated AGAINST THE STANDING HISTORY — a Bloom
    // sketch of the batch's normalized-text keys rides the history scan
    // (q22d's native might_contain machinery: no false negatives, the
    // broadcast anti-join confirm removes false positives) so only
    // key-colliding history rows ever shuffle — then within-batch
    // first-wins dedup, span-cleaning against the history's FROZEN
    // boilerplate list (a nightly batch must not redefine boilerplate),
    // the same quality + train-split gates, and sequence packing whose
    // per-lang offsets CONTINUE from the standing train corpus's packed
    // end (the new segments fill the partially-filled last sequences).
    // Cost model at 100 TB: history is touched by ONE Bloom-filtered
    // column scan (its curated artifacts — kept set, boilerplate list,
    // per-lang token totals — are standing tables a production pipeline
    // maintains, rebuilt per session here); everything else is
    // proportional to the BATCH. Output = packing rows for batch docs
    // only; the oracle recomputes the whole chain, so the equivalence
    // "incremental ≡ recompute-on-batch-with-frozen-history-artifacts" is
    // hash-checked end to end.
    QueryDef(
      "q45_incremental_curation",
      sqlQ45Oracle) { (s, dir) =>
      incrementalCurationAt(s, dir, batchMod(s, dir), "q45",
        Tables.documents(s, dir)
          .filter(col("doc_id") % batchMod(s, dir) === 0)
          .select(col("doc_id"), col("lang"), col("text")))._1
    },

    // Q45b — STREAMING incremental curation (VERDICT r13 #8): q45's
    // nightly DAG as a Structured Streaming job over a files-arriving
    // source — the continuous-ingestion form a production corpus pipeline
    // eventually runs. The batch replays as doc_id-ordered slices, one
    // micro-batch each (the T4 pacing machinery); each micro-batch runs
    // the SAME imported stage programs (Bloom-vs-history dedup →
    // cross-batch seen-key dedup → frozen-boilerplate span clean →
    // quality gates → packing) inside `foreachBatch`, with the two pieces
    // of cross-batch state a continuous curation job must carry — the
    // seen-key set (a compacted DELTA LOG: per-batch writes ∝ slice, see
    // runStreamingCuration) and the per-lang packed-token offsets (seeded
    // from the standing corpus's totals) — as versioned parquet recovered
    // from the stateRoot listing, never from driver memory, so the job
    // survives a mid-stream restart (spec-pinned). The oracle IS q45's
    // verbatim: stream-batch parity (q19–q21's pattern), pinned by the
    // same gate at every SF.
    QueryDef("q45b_streaming_curation", sqlQ45Oracle) { (s, dir) =>
      streamingCuration(s, dir)
    },

    // Q45c — q45b with ENGINE-MANAGED seen-key state (VERDICT r14 #7): the
    // cross-slice first-wins dedup as a `transformWithState` typed
    // ValueState per content digest on the RocksDB state store (the API
    // requires it; it is also the 100 TB state backend), riding the stream
    // ahead of foreachBatch — state checkpointing, retry exactly-once, and
    // restart recovery become the engine's contract, vs q45b's
    // caller-managed compacted delta log. Downstream of the dedup both
    // variants run the SAME shared slice tail, and the oracle is q45's
    // VERBATIM — three state designs (whole-batch rank, caller parquet
    // log, engine state store), one gate.
    QueryDef("q45c_streaming_curation_tws", sqlQ45Oracle) { (s, dir) =>
      streamingCurationTws(s, dir)
    },

    // Q46 — the corpus DATA CARD: the per-language funnel every shipped
    // training corpus documents — raw docs → exact-dedup survivors →
    // docs with text left after boilerplate removal → quality-passing →
    // train/val/test split sizes → packed train tokens and the number of
    // 2048-token sequences they fill. One reporting query over the SAME
    // stage programs q44 runs (imported, never re-derived), reading the
    // stage-boundary materializations — so the card can never disagree
    // with the pipeline it describes, and producing it costs per-lang
    // aggregates over checkpoint tables, not corpus re-scans. At 100 TB
    // this is the audit/telemetry table a curation run publishes with its
    // output.
    QueryDef(
      "q46_corpus_datacard",
      s"""WITH d AS (SELECT doc_id, lang, text,
         |    ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text)))
         |                       ORDER BY doc_id) AS rnk
         |  FROM documents),
         |k AS (SELECT doc_id, lang, text FROM d WHERE rnk = 1),
         |src AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM k),
         |segs AS (SELECT doc_id, lang, j,
         |    array_to_string(toks[(j*$SpanLen+1):(j*$SpanLen+$SpanLen)], ' ') AS stext
         |  FROM src, unnest(generate_series(0,
         |    CAST(ceil(len(toks)/$SpanLen.0) AS BIGINT) - 1)) AS g(j)),
         |h AS (SELECT doc_id, lang, j, stext, ${sqlHash32("stext")} AS hh FROM segs),
         |bp AS (SELECT hh FROM (SELECT hh, COUNT(DISTINCT doc_id) AS df
         |                       FROM h GROUP BY 1) WHERE df >= $BoilerplateDf),
         |keptseg AS (SELECT doc_id, j, stext FROM h
         |            WHERE hh NOT IN (SELECT hh FROM bp)),
         |agg AS (SELECT doc_id, string_agg(stext, ' ' ORDER BY j) AS clean_text
         |        FROM keptseg GROUP BY 1),
         |cur AS (SELECT t.doc_id, t.lang, COALESCE(agg.clean_text, '') AS ctext
         |        FROM (SELECT DISTINCT doc_id, lang FROM h) t
         |        LEFT JOIN agg ON t.doc_id = agg.doc_id),
         |ct AS (SELECT doc_id, lang, ${sqlTokens("ctext")} AS toks FROM cur),
         |${sqlQualityTrainCtes("ct", "")},
         |t AS (SELECT ct.lang, ct.doc_id,
         |    len(list_filter(ct.toks, x -> x <> '')) AS n_tok
         |  FROM ct JOIN tr ON ct.doc_id = tr.doc_id),
         |o AS (SELECT lang, doc_id, n_tok,
         |  CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS off
         |  FROM t),
         |sq AS (SELECT lang, doc_id, n_tok, off,
         |  unnest(generate_series(off // $SeqLen, (off + n_tok - 1) // $SeqLen)) AS seq
         |  FROM o WHERE n_tok > 0),
         |raw AS (SELECT lang, COUNT(*) AS n_raw FROM documents GROUP BY 1),
         |ded AS (SELECT lang, COUNT(*) AS n_dedup FROM k GROUP BY 1),
         |cln AS (SELECT lang, COUNT(*) AS n_clean FROM cur
         |        WHERE ctext <> '' GROUP BY 1),
         |spl AS (SELECT ct.lang,
         |  COUNT(*) AS n_quality,
         |  CAST(SUM(CASE WHEN x.b < $ValFrom THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(SUM(CASE WHEN x.b >= $ValFrom AND x.b < $TestFrom
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |  CAST(SUM(CASE WHEN x.b >= $TestFrom THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |  FROM (SELECT doc_id,
         |          ${sqlHash32("concat('split:', doc_id)")} % 100 AS b FROM q) x
         |  JOIN ct ON x.doc_id = ct.doc_id GROUP BY 1),
         |pt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS train_tokens
         |       FROM t GROUP BY 1),
         |ns AS (SELECT lang, COUNT(DISTINCT seq) AS n_sequences FROM sq GROUP BY 1)
         |SELECT raw.lang AS lang, raw.n_raw,
         |  COALESCE(ded.n_dedup, 0) AS n_dedup,
         |  COALESCE(cln.n_clean, 0) AS n_clean,
         |  COALESCE(spl.n_quality, 0) AS n_quality,
         |  COALESCE(spl.n_train, 0) AS n_train,
         |  COALESCE(spl.n_val, 0) AS n_val,
         |  COALESCE(spl.n_test, 0) AS n_test,
         |  COALESCE(pt.train_tokens, 0) AS train_tokens,
         |  COALESCE(ns.n_sequences, 0) AS n_sequences
         |FROM raw
         |LEFT JOIN ded ON raw.lang = ded.lang
         |LEFT JOIN cln ON raw.lang = cln.lang
         |LEFT JOIN spl ON raw.lang = spl.lang
         |LEFT JOIN pt ON raw.lang = pt.lang
         |LEFT JOIN ns ON raw.lang = ns.lang
         |ORDER BY raw.lang""".stripMargin) { (s, dir) =>
      val ct = tokenized(curatedCorpus(s, dir))
      val raw = Tables.documents(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
      val ded = keptCorpus(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_dedup"))
      val cln = curatedCorpus(s, dir).filter(col("ctext") =!= "")
        .groupBy(col("lang")).agg(count(lit(1)).as("n_clean"))
      val spl = q44Quality(s, dir)
        .select(col("doc_id"), splitBucket.as("b"))
        .join(ct.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_quality"),
          sum(when(col("b") < ValFrom, 1L).otherwise(0L)).as("n_train"),
          sum(when(col("b") >= ValFrom && col("b") < TestFrom, 1L)
            .otherwise(0L)).as("n_val"),
          sum(when(col("b") >= TestFrom, 1L).otherwise(0L)).as("n_test"))
      val t = packableWith(ct, q44Quality(s, dir))
      val pt = t.groupBy(col("lang")).agg(sum(col("n_tok")).as("train_tokens"))
      val ns = packFrom(t, zeroBase(s))
        .groupBy(col("lang")).agg(countDistinct(col("seq")).as("n_sequences"))
      def z(c: String) = coalesce(col(c), lit(0L)).as(c)
      raw
        .join(ded, Seq("lang"), "left")
        .join(cln, Seq("lang"), "left")
        .join(spl, Seq("lang"), "left")
        .join(pt, Seq("lang"), "left")
        .join(ns, Seq("lang"), "left")
        .select(col("lang"), col("n_raw"), z("n_dedup"), z("n_clean"),
          z("n_quality"), z("n_train"), z("n_val"), z("n_test"),
          z("train_tokens"), z("n_sequences"))
        .orderBy("lang")
    },

    // Q68 — the NIGHTLY-OPS COMPOSITE (VERDICT r15 #5): one materialized
    // night-batch frame (doc_id % 7, the drift/index family's shared
    // rule) feeding EVERY nightly operation — the q45 curation stages
    // instantiated at the night split, the three drift monitors
    // (q64 lexical / q65 shingle / q67 embedding), and the
    // index-maintenance probes (exact-key dedup = the curation chain's
    // Bloom-vs-history stage, q47b's substring windows, q63g's SA merge)
    // — emitting the q46-style per-stage night report an operator reads
    // every morning. Raw batch documents are scanned exactly ONCE across
    // the whole composite: the nightBatch builder's scan (plan-pinned —
    // q44's single-scan rule, one level up); every stage program reads
    // the stored frame or a standing materialized artifact, and the
    // report itself is bounded aggregates over stage outputs (per-stage
    // counts, per-source rates), never a corpus re-scan. The ORACLE
    // recomputes every stage from raw documents in DuckDB (reusing each
    // constituent's vetted oracle text as a subquery), so the report can
    // only be green if every composed stage agrees with its own gate at
    // the shared night split.
    QueryDef(
      "q68_night_report",
      sqlQ68Oracle) { (s, dir) =>
      val nb = nightBatch(s, dir)
      val (packed, bclean) = incrementalCurationAt(s, dir, 7L, "q68",
        nb.select(col("doc_id"), col("lang"), col("text")))
      def one(stage: String, item: String, v: Column, from: DataFrame) =
        from.agg(v.cast("double").as("value"))
          .select(lit(stage).as("stage"), lit(item).as("item"), col("value"))
      // two report rows off ONE pass over the frame (round 17): both
      // values compute in a single aggregation and explode to rows —
      // previously each row was its own aggregate, so a LIVE frame (the
      // q47b constituent) executed once per row it contributed
      def two(stage: String, i1: String, v1: Column,
              i2: String, v2: Column, from: DataFrame) =
        from.agg(v1.cast("double").as("v1"), v2.cast("double").as("v2"))
          .select(lit(stage).as("stage"), explode(array(
            struct(lit(i1).as("item"), col("v1").as("value")),
            struct(lit(i2).as("item"), col("v2").as("value")))).as("x"))
          .select(col("stage"), col("x.item").as("item"),
            col("x.value").as("value"))
      def drift(stage: String, name: String, defs: Seq[QueryDef], rate: String) =
        defs.find(_.name == name).get.df(s, dir)
          .select(lit(stage).as("stage"), col("source").as("item"),
            col(rate).as("value"))
      val sub = DedupQueries.defs
        .find(_.name == "q47b_incremental_substring").get.df(s, dir)
      val m = DedupQueries.mergedSaFrame(s, dir)
      two("curation", "packed_rows", count(lit(1)),
          "sequences", countDistinct(struct(col("lang"), col("seq"))), packed)
        .unionByName(one("exact_dedup", "batch_docs", count(lit(1)), nb))
        .unionByName(one("exact_dedup", "new_docs",
          countDistinct(col("doc_id")), bclean))
        .unionByName(two("substring_dedup", "flagged_docs", count(lit(1)),
          "dup_tokens", coalesce(sum(col("dup_tokens")), lit(0L)), sub))
        .unionByName(two("sa_merge", "batch_positions",
          coalesce(sum(col("isb")), lit(0L)),
          "merged_positions", count(lit(1)), m))
        .unionByName(drift("vocab_drift", "q64_vocab_drift",
          CurationQueries.defs, "new_type_frac"))
        .unionByName(drift("neardup_drift", "q65_neardup_drift",
          DedupQueries.defs, "neardup_frac"))
        .unionByName(drift("embedding_drift", "q67_embedding_drift",
          SimilarityQueries.defs, "neardup_frac"))
        .orderBy("stage", "item")
    },

    // X1+/Q51 — corpus SNAPSHOT DIFF (dataset versioning/lineage): the
    // changelog between two corpus versions — per doc: added / removed /
    // changed, with both content fingerprints — the audit every versioned
    // dataset release ships (what changed since v1?) and the input to
    // incremental reprocessing (only 'added'/'changed' docs re-enter the
    // q45 nightly pipeline). Both snapshots derive deterministically from
    // the one fixture (v_old drops the docs the 'added' rule marks,
    // v_new drops 'removed' docs and revises 'changed' text — in
    // production these are two parquet snapshot dirs and the rules
    // disappear). Shape: each side projects to (doc_id, md5) AT THE SCAN —
    // the full-outer join on doc_id then moves 16-byte fingerprints, never
    // text; at 100 TB both snapshots bucket by doc_id (q32d's layout) and
    // the diff is a zero-exchange sort-merge with output only the changed
    // tail, not the corpus.
    QueryDef(
      "q51_snapshot_diff",
      """WITH vold AS (SELECT doc_id, md5(text) AS fp FROM documents
        |             WHERE doc_id % 13 <> 2),
        |vnew AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 5),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        o.fp AS ofp, n.fp AS nfp
        |      FROM vold o FULL OUTER JOIN vnew n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ofp IS NULL THEN 'added'
        |       WHEN nfp IS NULL THEN 'removed'
        |       WHEN ofp <> nfp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  COALESCE(ofp, '') AS old_fp, COALESCE(nfp, '') AS new_fp
        |FROM d WHERE ofp IS NULL OR nfp IS NULL OR ofp <> nfp
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      snapshotDiffCore(snapshotVold(s, dir), snapshotVnew(s, dir))
        .orderBy("doc_id")
    },

    // X1+/Q51b — q51 over doc_id-BUCKETED snapshot layouts: the prose
    // claim q51 carried ("at 100 TB both snapshots bucket by doc_id and
    // the diff is a zero-exchange sort-merge"), EXECUTED (VERDICT r12 #5)
    // via the q32d/q33d CLUSTERED-BY machinery. Both fingerprint
    // projections write once as 32-bucket tables keyed on their doc id;
    // the full-outer join's scans then carry HashPartitioning(id) on both
    // sides and the diff plans with ZERO exchanges before the SMJ
    // (PlanSpec pin) — the versioned-release analogue: every nightly diff
    // against a snapshot laid out CLUSTERED BY doc_id skips both
    // corpus-sized shuffles; only the changed tail is ever sorted for
    // presentation. Results are q51's exactly (same oracle text):
    // bucketing changes layout, never content.
    QueryDef(
      "q51b_snapshot_diff_bucketed",
      """WITH vold AS (SELECT doc_id, md5(text) AS fp FROM documents
        |             WHERE doc_id % 13 <> 2),
        |vnew AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 7 = 3 THEN text || ' rev2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 11 <> 5),
        |d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |        o.fp AS ofp, n.fp AS nfp
        |      FROM vold o FULL OUTER JOIN vnew n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |  CASE WHEN ofp IS NULL THEN 'added'
        |       WHEN nfp IS NULL THEN 'removed'
        |       WHEN ofp <> nfp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  COALESCE(ofp, '') AS old_fp, COALESCE(nfp, '') AS new_fp
        |FROM d WHERE ofp IS NULL OR nfp IS NULL OR ofp <> nfp
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      bucketedSnapshotDiff(s, dir).orderBy("doc_id")
    }
  )

  /** q51's old-snapshot side: (o_id, md5 fingerprint) — projected AT THE
    * SCAN so no downstream operator ever moves text. */
  private def snapshotVold(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 13 =!= 2)
      .select(col("doc_id").as("o_id"), md5(col("text")).as("ofp"))

  /** q51's new-snapshot side, with the deterministic revision rule. */
  private def snapshotVnew(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 11 =!= 5)
      .select(col("doc_id").as("n_id"),
        md5(when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("nfp"))

  /** The changelog program over two fingerprint sides — ONE builder shared
    * by q51 (flat scans) and q51b (bucketed scans) so the diff semantics
    * can never diverge between layouts. No presentation sort: callers
    * append it, and PlanSpec pins the bucketed core exchange-free. */
  private def snapshotDiffCore(vold: DataFrame, vnew: DataFrame): DataFrame =
    vold.join(vnew, col("o_id") === col("n_id"), "full_outer")
      .select(coalesce(col("o_id"), col("n_id")).as("doc_id"),
        col("ofp"), col("nfp"))
      .filter(col("ofp").isNull || col("nfp").isNull || col("ofp") =!= col("nfp"))
      .select(col("doc_id"),
        when(col("ofp").isNull, "added")
          .when(col("nfp").isNull, "removed")
          .when(col("ofp") =!= col("nfp"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("ofp"), lit("")).as("old_fp"),
        coalesce(col("nfp"), lit("")).as("new_fp"))

  /** q51b's diff over the bucketed layouts (exposed for PlanSpec): both
    * sides are 32-bucket CLUSTERED-BY-id tables, so the full-outer SMJ
    * plans with zero exchanges — only in-partition sorts remain. */
  private[graft] def bucketedSnapshotDiff(s: SparkSession, dir: String): DataFrame =
    snapshotDiffCore(
      Bucketed(s, dir, "q51b_vold", 32, "o_id")(snapshotVold(s, dir)),
      Bucketed(s, dir, "q51b_vnew", 32, "n_id")(snapshotVnew(s, dir)))

  /** Shared quality + train-split CTE block (q25h's aggregation + q25j's
    * hash rule over a tokenized frame `src`), ending in `<p>tr(doc_id)`.
    * Prefix-parameterized so q45 can instantiate it twice (history and
    * batch) in one statement without name collisions — ONE builder, so the
    * history gate, the batch gate, and q44's gate can never diverge. */
  private def sqlQualityTrainCtes(src: String, p: String): String =
    s"""${p}tok AS (SELECT doc_id, 0 AS kind, unnest(toks) AS v FROM $src),
       |${p}bg AS (SELECT doc_id, 1 AS kind,
       |  unnest(${sqlShingles("toks", n = 2)}) AS v FROM $src
       |  WHERE len(toks) >= 2),
       |${p}c AS (SELECT doc_id, kind, v, COUNT(*) AS cnt
       |      FROM (SELECT * FROM ${p}tok UNION ALL SELECT * FROM ${p}bg)
       |      GROUP BY doc_id, kind, v),
       |${p}m AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN kind = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_tok,
       |  SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS n_types,
       |  SUM(CASE WHEN kind = 0 THEN cnt * length(v) ELSE 0 END) AS wlen_sum,
       |  MAX(CASE WHEN kind = 1 THEN cnt END) AS top_bg,
       |  SUM(CASE WHEN kind = 1 THEN cnt ELSE 0 END) AS n_bg
       |  FROM ${p}c GROUP BY doc_id),
       |${p}q AS (SELECT doc_id FROM ${p}m
       |  WHERE wlen_sum::DOUBLE / n_tok BETWEEN $MinMeanWordLen AND $MaxMeanWordLen
       |    AND n_types::DOUBLE / n_tok >= $MinTypeTokenRatio
       |    AND COALESCE(top_bg, 0)::DOUBLE / greatest(n_bg, 1) <= $MaxTopBigramFrac),
       |${p}tr AS (SELECT doc_id FROM ${p}q
       |  WHERE ${sqlHash32("concat('split:', doc_id)")} % 100 < $ValFrom)""".stripMargin

  /** The shared final SELECT of both packing oracles (over a CTE `sq`). */
  private lazy val sqlPackSelect: String =
    s"""SELECT lang, doc_id, seq,
       |  greatest(seq * $SeqLen - off, 0) AS seg_begin,
       |  least((seq + 1) * $SeqLen, off + n_tok) - greatest(seq * $SeqLen, off) AS seg_len,
       |  greatest(off - seq * $SeqLen, 0) AS offset_in_seq
       |FROM sq ORDER BY lang, seq, doc_id""".stripMargin
}
