package graft.queries

import graft.functions.TextHash._
import graft.sources.Tables
import graft.streaming.StreamRunner
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Q22–Q23 — deduplication operators over the `documents` table (SURVEY.md
  * §2.11 X1/X2; BASELINE.json north star): exact hash dedup, MinHash
  * signatures, MinHash+LSH near-dup pairs, SimHash near-dup pairs, and
  * char-n-gram Jaccard under prefix blocking.
  *
  * Scale design: every pair-producing query goes through a *blocking* stage
  * (LSH band buckets, SimHash sub-bands, or token-prefix keys) so the join is
  * an equi-join on a bucket key — a plain shuffle join that scales linearly —
  * never an all-pairs cross join. At 100 TB the same plans hold: the bucket
  * key is the shuffle key, AQE splits skewed buckets, and the per-doc
  * signature computation (one md5 per shingle + k integer permutations) is a
  * narrow projection that rides the scan. The signature frame is persisted
  * before self-joining so signatures are computed once per doc, not once per
  * plan branch.
  */
object DedupQueries {

  /** Combined per-doc signature frame: distinct shingle-hash set, MinHash
    * signature, ordered token hashes, and SimHash — ONE aggregation pass.
    *
    * Formulated as explode → codegen'd hash + codegen'd conditional
    * aggregates → reassemble, NOT as per-row higher-order lambdas: HOFs
    * evaluate interpreted (~10× slower here), while this shape keeps
    * md5/conv and the permutation arithmetic inside whole-stage codegen and
    * compresses the exploded rows back down with map-side partial
    * aggregation before the (tiny) shuffle on doc_id — the shape that stays
    * linear at 100 TB. The shingle and token streams are exploded in
    * separate codegen'd branches, unioned with a `kind` marker, and
    * aggregated once: every downstream consumer (q23, q23b, q23e) reads one
    * materialized signature table, with parquet column pruning dropping the
    * columns a consumer doesn't need. Null-skipping aggregates (`min`,
    * `collect_set/list`, `sum`) make the conditional per-kind aggregation
    * exact.
    *
    * Tiny-doc contract (pinned by `DedupEdgeSpec`): a doc with fewer tokens
    * than the shingle width still yields exactly one (shorter) shingle —
    * `shingles` floors its sequence length at 1 and `concat_ws` skips the
    * NULLs `try_element_at` returns past the end — and an empty/whitespace
    * text tokenizes to one empty-string token in BOTH engines (Spark
    * `split(trim(s),"\\s+")` and DuckDB `regexp_split_to_array` each return
    * `[""]`), so `shash` is never empty and the minhash slots are never
    * null for any non-null text. A NULL text drops out of both exploded
    * branches and therefore out of the signature table entirely (testdata
    * has none; the oracle CTEs would keep a NULL-signature row, so null
    * text is outside the parity contract). */
  private[graft] def sigTokFrame(s: SparkSession, dir: String): DataFrame = {
    // tokens bound to an attribute BEFORE shingling: a lambda body
    // re-evaluates its argument expression per array element, so passing the
    // raw split() into shingles() would re-run the regex split 3× per
    // shingle (CollapseProject keeps the binding because it is multi-use)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val sh = base
      .select(col("doc_id"), explode(shingles(col("toks"))).as("v"))
      .select(col("doc_id"), lit(0).as("kind"), lit(-1).as("p"), hash32(col("v")).as("h"))
    val tk = base
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("p", "tok")))
      .select(col("doc_id"), lit(1).as("kind"), col("p"), hash32(col("tok")).as("h"))
    val isSh = col("kind") === 0
    val mins = (0 until MinhashK).map(i =>
      min(when(isSh, (col("h") * permA(i) + permB(i)) % Mod)).as(s"m$i"))
    val votes = (0 until 16).map { b =>
      val p = 1L << b
      sum(when(!isSh, when(col("h") % (2 * p) >= p, 1L).otherwise(-1L))).as(s"v$b")
    }
    val ph = array_sort(
      collect_list(when(!isSh, struct(col("p"), col("h"))))).as("ph")
    sh.unionByName(tk)
      .groupBy(col("doc_id"))
      .agg(collect_set(when(isSh, col("h"))).as("shash"), (mins ++ votes :+ ph): _*)
      .select(
        col("doc_id"), col("shash"),
        array((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"),
        transform(col("ph"), x => x.getField("h")).as("thash"),
        simhashFromVotes((0 until 16).map(b => col(s"v$b"))).as("simhash"))
  }

  /** The shared materialized signature table (one compute per session+dir). */
  private def sigTable(s: SparkSession, dir: String): DataFrame =
    // spread on write (guide §6): AQE coalesced the build to one output
    // file, so every signature consumer (the q23 family, q29c, q49, q65)
    // scanned it — and ran its band/shingle explodes — on one task
    Materialize.spreadOnWrite(s, dir, "sigtok", col("doc_id"))(
      sigTokFrame(s, dir))

  private def simhashFromVotes: Seq[Column] => Column = vs =>
    vs.zipWithIndex
      .map { case (v, b) => when(v > 0, lit(1L << b)).otherwise(lit(0L)) }
      .reduce(_ + _)

  private val sqlSigCtes =
    s"""src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |shd AS (SELECT doc_id, ${sqlHashArray("toks")} AS thash,
       |        list_distinct(${sqlHashArray(sqlShingles("toks"))}) AS shash FROM src),
       |sig AS (SELECT *, ${sqlMinhashSig("shash")} AS sig FROM shd)""".stripMargin

  /** Confirmed near-dup pair CTEs (band-bucket candidates → exact-Jaccard
    * confirm) — the pair set q23e canonicalizes one hop over and q23g
    * closes into full components. Appended after [[sqlSigCtes]]. */
  /** q22e span geometry: fixed 8-token non-overlapping segments (the span
    * unit standing in for paragraphs on this newline-free corpus) removed
    * corpus-wide once they appear in ≥ BoilerplateDf distinct docs. */
  private[queries] val SpanLen = 8
  private[queries] val BoilerplateDf = 3

  /** q47 duplicated-substring window width, in tokens. Production
    * ExactSubstr uses 50; scaled to the synthetic corpus's 10–99-token
    * docs so every doc yields windows and the injected duplicates produce
    * partial- as well as whole-doc spans. */
  private[queries] val SubstrW = 8

  /** q63d's minimum-match threshold — the second operating point that
    * makes the suffix array's width-FREEDOM real (VERDICT r13): Lee et
    * al. 2022 pick ~50 chars off the LCP spectrum; scaled here to the
    * corpus the way [[SubstrW]] is, and strictly larger than it so the
    * two instances exercise genuinely different removal sets. Must stay
    * ≤ [[SaDepth]]: the LCP is bounded by the array's comparison depth,
    * so only thresholds up to SaDepth are certifiable from it. */
  private[queries] val SaMinMatch = 16

  /** Every width-`ww` token window of every doc holding at least ww
    * tokens, fingerprinted: (doc_id, n, pos, wh). Shared by q47
    * (duplicated-substring removal, [[SubstrW]]) and the q52 family
    * (split-contamination audit — width-parameterized so q52b can run the
    * GPT-3 13-gram recipe over the same plumbing). Windows explode BEFORE
    * hashing so the md5 + conv run as plain row-level codegen'd
    * expressions after Generate, not as an interpreted higher-order
    * lambda over a per-doc array.
    *
    * MATERIALIZED per width (round 13): q47 consumes the stream twice
    * (the skew-safe groupBy resolution + the join-back probe) and q52
    * twice more (train window set + probe side) — recomputing the
    * tokenize→explode→md5 pipeline per consumer doubled q47's wall when
    * the resolution moved off window aggregates. The fingerprint table is
    * the ExactSubstr analogue of the q23 signature table: written once,
    * column-pruned on read, served to the removal pass AND the
    * contamination audits — exactly the checkpoint table a production
    * dedup pipeline persists (Lee et al.'s suffix array is likewise a
    * materialized index over the corpus). */
  private def substrWindows(s: SparkSession, dir: String,
                            ww: Int = SubstrW): DataFrame =
    // spread on write (guide §6): the window stream's four consumers (q47's
    // resolution + probe, the q52 audits) each scanned the one coalesced
    // output file serially
    Materialize.spreadOnWrite(s, dir, s"substr_w$ww", col("doc_id")) {
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .filter(col("n") >= ww)
      src
        .select(col("doc_id"), col("n"), col("toks"),
          explode(sequence(lit(1), col("n") - (ww - 1))).as("pos"))
        .select(col("doc_id"), col("n"), col("pos"),
          hash60(concat_ws(" ",
            (0 until ww).map(j => try_element_at(col("toks"), col("pos") + lit(j))): _*))
            .as("wh"))
    }

  /** SQL twin of [[substrWindows]] — ends with w(doc_id, n, pos, wh). */
  private def sqlSubstrWindowCtesW(ww: Int): String =
    s"""wsrc AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |wd AS (SELECT doc_id, toks, len(toks) AS n FROM wsrc
       |       WHERE len(toks) >= $ww),
       |w AS (SELECT doc_id, n, i AS pos,
       |  ${sqlHash60("concat_ws(' ', " + (0 until ww).map(j => s"toks[i+$j]").mkString(", ") + ")")} AS wh
       |  FROM wd, unnest(generate_series(1, n - ${ww - 1})) AS t(i))""".stripMargin

  private val sqlSubstrWindowCtes = sqlSubstrWindowCtesW(SubstrW)

  /** Shared tail of the ExactSubstr family (q47/q47b): gaps-and-islands
    * span merge over a removable-window CTE `r(doc_id, n, pos, endp)` +
    * the per-doc span report. ONE text so the full and incremental forms
    * can never diverge on span semantics. */
  private val sqlSubstrSpanTail =
    s"""s AS (SELECT doc_id, n, pos, endp,
       |  CASE WHEN pos > COALESCE(MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -999) + 1
       |  THEN 1 ELSE 0 END AS brk FROM r),
       |isl AS (SELECT doc_id, n, pos, endp,
       |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
       |  FROM s),
       |sp AS (SELECT doc_id, gid, MIN(pos) AS sp_start, MAX(endp) AS sp_end,
       |  MAX(n) AS n FROM isl GROUP BY doc_id, gid)
       |SELECT doc_id, COUNT(*) AS n_spans,
       |  CAST(SUM(sp_end - sp_start + 1) AS BIGINT) AS dup_tokens,
       |  round(SUM(sp_end - sp_start + 1)::DOUBLE / MAX(n), 6) AS dup_frac
       |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The FULL ExactSubstr oracle at window width `ww` (windows →
    * repeated-fingerprint keeper resolution → span merge → per-doc
    * report). ONE text shared by q47 (the fingerprint fast path, width
    * [[SubstrW]]) and the suffix-array exact paths (q63c at the same
    * width, q63d at [[SaMinMatch]]): two independent algorithms
    * hash-compared against the same SQL is the cross-validation — if
    * either diverges, the gate catches both. */
  private def sqlExactSubstrOracleW(ww: Int): String =
    s"""WITH ${sqlSubstrWindowCtesW(ww)},
       |dup AS (SELECT wh, MIN(ROW(doc_id, pos)) AS keeper FROM w
       |        GROUP BY wh HAVING COUNT(*) >= 2),
       |r AS (SELECT w.doc_id, w.n, w.pos, w.pos + ${ww - 1} AS endp
       |      FROM w JOIN dup ON w.wh = dup.wh
       |      WHERE ROW(w.doc_id, w.pos) <> dup.keeper),
       |$sqlSubstrSpanTail""".stripMargin

  private lazy val sqlExactSubstrOracle: String = sqlExactSubstrOracleW(SubstrW)

  /** Spark twin of [[sqlSubstrSpanTail]]: removable windows
    * (doc_id, n, pos, endp) → merged maximal spans → per-doc report.
    * The windows partition by doc_id — bounded by document length. */
  private def substrSpanReport(r: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("endp")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val isl = r
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-999)) + 1, 1L).otherwise(0L))
      .withColumn("gid",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val sp = isl.groupBy(col("doc_id"), col("gid"))
      .agg(min(col("pos")).as("sp_start"), max(col("endp")).as("sp_end"),
        max(col("n")).as("n"))
    sp.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("sp_end") - col("sp_start") + 1).as("dup_tokens"),
        max(col("n")).as("nn"))
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        round(col("dup_tokens").cast("double") / col("nn"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** q23i's deterministic recall-sample rule: every doc with
    * doc_id % 10 == 0 is a monitored query point. Fixed RATE (not fixed
    * count) keeps the eval's cost profile constant per unit data while the
    * sample stays representative. The production fixed-COUNT form — mod
    * derived from the footer row count so the eval's absolute cost is
    * CONSTANT as the corpus grows — is q23j ([[recallSampleMod]];
    * VERDICT r9 #3). */
  private val RecallSampleMod = 10

  /** q23j's target sample SIZE: the monitored-query count a production
    * recall monitor pins regardless of corpus scale. */
  private val RecallSampleTarget = 50

  /** q23j's corpus-derived sample modulus: ⌊n / target⌋ (≥1) from parquet
    * footer metadata — no scan job; doc_id % mod == 0 then selects ~target
    * docs at EVERY scale (the ×10/×20 growth rows measure the flat
    * sample-side work). The same rule is spelled in the oracle's dialect
    * ([[sqlRecallSampleMod]]) so both engines derive the identical mod
    * from the identical table. */
  private def recallSampleMod(s: SparkSession, dir: String): Long =
    math.max(1L,
      Tables.parquetRowCount(s, s"$dir/documents.parquet") / RecallSampleTarget)

  private val sqlRecallSampleMod: String =
    s"(SELECT GREATEST(COUNT(*) // $RecallSampleTarget, 1) FROM documents)"

  /** q63 suffix-order resolution depth, in tokens (a power of two —
    * ⌈log₂ SaDepth⌉ = 5 doubling rounds). Suffixes agreeing on their first
    * SaDepth tokens tie-break on (doc_id, pos): ExactSubstr only needs
    * suffix ORDER to the minimum-match length (Lee et al. 2022 use 50
    * chars), so relative order past the bound carries no information the
    * dedup consumer reads — bounding the depth is what makes the round
    * count fixed and data-independent. */
  private[graft] val SaDepth = 32

  /** q63 reported suffix-array prefix length (the full array is computed;
    * the report takes the first SaTopK entries). */
  private[graft] val SaTopK = 500

  /** Distributed DENSE RANK over the (already-distinct) key rows of
    * `keysDf`, ascending — the scalable re-rank a prefix-doubling round
    * needs, built so NO single-partition window ever sees the data:
    * range-repartition on the keys (Spark's parallel sampled range
    * exchange, identical keys land together by construction), dense-rank
    * LOCALLY inside each range (window partitioned by the range id — every
    * partition sorts in parallel), then add broadcast cumulative
    * per-range distinct counts. The only global window runs over the
    * ≤ `spark.sql.shuffle.partitions` per-range count rows. The sampled
    * range boundaries are not deterministic, but the returned rank is
    * boundary-invariant: local rank + preceding-range total is the same
    * global dense rank under ANY ordered partitioning of the key space
    * (AQE coalescing merges adjacent ranges, which preserves that).
    *
    * The (_pid, _lr) frame is PINNED to parquet before fan-out (ADVICE
    * r13): the offsets aggregate and the join-back BOTH depend on the
    * sampled boundaries and `spark_partition_id()`, so without a
    * materialization their agreement rests entirely on Spark's
    * exchange-reuse rule deduplicating the identical subtree — disable
    * reuse (or diverge canonicalization) and local ranks and offsets would
    * come from two independent samplings, silently mis-ranking. One
    * eager write makes both consumers read one physical partitioning, and
    * — parquet, not `localCheckpoint` — keeps the frame recomputable from
    * durable storage when an executor dies mid-build. `scratch` collects
    * the pin dir so iterative callers can reclaim it the moment the
    * result is itself materialized.
    * Output: the key columns + `r` (1-based BIGINT). */
  private def distDenseRank(s: org.apache.spark.sql.SparkSession,
                            keysDf: DataFrame, keys: Seq[String], tag: String,
                            scratch: Option[scala.collection.mutable.Buffer[String]] = None)
    : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keys.map(col)
    val pinDir = graft.TempDirs.create(s"graft_${tag}_lr_")
    scratch.foreach(_ += pinDir)
    val pinned = keysDf.repartitionByRange(kc: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lr",
        dense_rank().over(Window.partitionBy(col("_pid")).orderBy(kc: _*)).cast("long"))
    pinned.write.mode("overwrite").parquet(pinDir)
    // one-time POST-write inference per tag (ADVICE r16), zero jobs after
    val local = Materialize.pinnedRead(s, s"ddr_$tag", pinDir)
    val offs = local.groupBy(col("_pid")).agg(max(col("_lr")).as("_cnt"))
      .withColumn("_off",
        coalesce(sum(col("_cnt")).over(
          Window.orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("_pid"), col("_off"))
    local.join(broadcast(offs), Seq("_pid"))
      .withColumn("r", col("_lr") + col("_off"))
      .drop("_pid", "_lr")
  }

  /** q63/q63b shared construction: per-document suffix ranks by distributed
    * prefix doubling (see the q63 entry for the full scale argument).
    * Returns (docs(doc_id, toks), ranks(doc_id, pos, r)) where `r` is the
    * dense rank of the suffix's depth-[[SaDepth]] token prefix over the
    * whole corpus — equal prefixes share a rank; (doc_id, pos) breaks the
    * tie downstream. Rounds are eagerly MATERIALIZED TO PARQUET (VERDICT
    * r13 #2 — `localCheckpoint` truncated lineage but stored blocks only
    * on executors, so one lost executor mid-build aborted all 5 rounds;
    * on a spot fleet that is the common case): the shifted self-join
    * reads the previous round TWICE, so un-truncated lineage doubles the
    * logical plan per round (2^rounds copies of the base chain by the end)
    * and the optimizer itself becomes the bottleneck — the parquet
    * round-trip truncates the same lineage while keeping every round
    * recomputable from durable storage (a DFS in production; session
    * scratch here). Scratch residency stays bounded at ~2 rounds: each
    * superseded round (and the rank tables' internal pins) is reclaimed
    * the moment the next round lands. */
  private def suffixRanks(s: org.apache.spark.sql.SparkSession, dir: String)
    : (DataFrame, DataFrame) =
    suffixRanksOf(s, dir,
      Tables.documents(s, dir).select(col("doc_id"), col("text")), "sa_ranks")

  /** [[suffixRanks]] over an ARBITRARY (doc_id, text) frame, materialized
    * under `mTag` — the q63g incremental form builds one rank table for
    * the standing history and a second, batch-sized one for the nightly
    * batch (Materialize keys on (session, tag, srcDir), so the three
    * instances coexist). */
  private def suffixRanksOf(s: org.apache.spark.sql.SparkSession, dir: String,
                            docsFrame: DataFrame, mTag: String)
    : (DataFrame, DataFrame) = {
    // spread: `docs` is the LIVE tokenized side every SA consumer joins
    // its (doc, pos) frames back to (saSubstrDedup's window slices, the
    // suffix-slice builders) — off a single-file scan it tokenized the
    // whole corpus on one task per run (guide §2.5; identity at scale)
    val docs = Spread(docsFrame, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // The finished rank table is MATERIALIZED (the substrWindows
    // precedent): the suffix array is exactly the index Lee et al. build
    // once and persist — construction runs in whichever consumer touches
    // it first (q63), and the report (q63), LCP spectrum (q63b), and
    // removal pass (q63c) all serve from the stored table.
    val ranks = Materialize(s, dir, mTag) {
      val scratch = scala.collection.mutable.Buffer[String]()
      def round(df: DataFrame, tag: String): (DataFrame, String) = {
        val d = graft.TempDirs.create(s"graft_${tag}_")
        df.write.mode("overwrite").parquet(d)
        // one-time POST-write inference per builder (ADVICE r16): every
        // round writes the same (doc_id, pos, r) shape, so the first
        // round's footer job serves the rest
        (Materialize.pinnedRead(s, s"${mTag}_round", d), d)
      }
      // the superseded round + the pins feeding the round just written are
      // dead the moment the write commits — reclaim them eagerly so the
      // build's scratch footprint is O(current + previous round)
      def reclaim(dirs: String*): Unit = {
        dirs.foreach(graft.TempDirs.delete)
        scratch.foreach(graft.TempDirs.delete)
        scratch.clear()
      }
      val pos = docs
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
      // depth-1 ranks: dense rank of the token itself over the distinct
      // vocabulary (Heaps-sublinear in corpus size)
      val vocab = distDenseRank(s, pos.select(col("tok")).distinct(), Seq("tok"),
        "sa_vocab", Some(scratch))
      var (r, rDir) = round(
        pos.join(vocab, Seq("tok")).select(col("doc_id"), col("pos"), col("r")),
        "sa_round1")
      reclaim()
      var depth = 1
      while (depth < SaDepth) {
        // r2 = rank of the suffix 2^k positions later in the SAME doc;
        // -1 (below every real rank) when the doc ends first — the same
        // order the oracle's shorter-prefix-sorts-first string compare gives
        val paired = r.as("a")
          .join(r.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("a.pos") + lit(depth) === col("b.pos"),
            "left")
          .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"),
            col("a.r").as("r1"), coalesce(col("b.r"), lit(-1L)).as("r2"))
        val ranks = distDenseRank(s,
          paired.select(col("r1"), col("r2")).distinct(), Seq("r1", "r2"),
          s"sa_rr$depth", Some(scratch))
        val (r2, d2) = round(
          paired.join(ranks, Seq("r1", "r2"))
            .select(col("doc_id"), col("pos"), col("r")),
          s"sa_round${depth * 2}")
        reclaim(rDir)
        r = r2; rDir = d2
        depth *= 2
      }
      r
    }
    (docs, ranks)
  }

  /** The q63 report oracle — the DuckDB string-sorted SA, first [[SaTopK]]
    * entries with an 8-token evidence prefix. Shared VERBATIM by q63 (the
    * full rebuild) and q63g (the incremental merge): merge–rebuild parity
    * is pinned by one gate, the q45/q45b pattern. */
  private lazy val sqlSaReportOracle: String =
    s"""WITH t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |p AS (SELECT doc_id, i AS pos,
       |    array_to_string(toks[i:least(i + ${SaDepth - 1}, len(toks))], chr(1)) AS sfx
       |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
       |sel AS (SELECT doc_id, pos,
       |    ROW_NUMBER() OVER (ORDER BY sfx, doc_id, pos) AS sa_pos FROM p)
       |SELECT s.sa_pos, s.doc_id, s.pos,
       |  array_to_string(t.toks[s.pos:least(s.pos + 7, len(t.toks))], ' ') AS prefix8
       |FROM sel s JOIN t ON s.doc_id = t.doc_id
       |WHERE s.sa_pos <= $SaTopK ORDER BY s.sa_pos""".stripMargin

  /** The suffix's depth-[[SaDepth]] token slice as a chr(1)-joined ORDER
    * KEY:  sorts below every token byte, so string order over these
    * keys equals the engine's depth-bounded suffix order (the equivalence
    * the q63 oracle itself rests on — its DuckDB side sorts exactly these
    * strings). q63g compares batch suffixes against standing-index
    * suffixes through this key. */
  private def suffixKey: Column =
    concat_ws("\u0001", slice(col("toks"), col("pos").cast("int"), lit(SaDepth)))

  /** STANDING history SA key table (doc_id, pos, sa_pos, skey) — the
    * per-snapshot index artifact the q63g nightly merge probes: history
    * suffix-array positions (built once by the q63 machinery over history
    * docs only) carrying their depth-bounded order keys. */
  private def histSaKeys(s: SparkSession, dir: String): DataFrame =
    Materialize(s, dir, "sa_hist_keys") {
      saKeysOf(s, dir,
        Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), col("text")), "sa_hist_ranks", "sa_hist_pos")
    }

  /** SA KEY TABLE of an arbitrary (doc_id, text) frame — (doc_id, pos,
    * sa_pos, skey): suffix-array positions built by the q63 machinery
    * carrying their depth-bounded order keys, the snapshot artifact shape
    * every standing index ([[histSaKeys]], the [[saChain]] base) stores. */
  private def saKeysOf(s: SparkSession, dir: String, docsFrame: DataFrame,
                       rankTag: String, posTag: String): DataFrame = {
    val (docs, r) = suffixRanksOf(s, dir, docsFrame, rankTag)
    distDenseRank(s, r.select(col("r").as("rk"), col("doc_id"), col("pos")),
        Seq("rk", "doc_id", "pos"), posTag)
      .select(col("doc_id"), col("pos"), col("r").as("sa_pos"))
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("sa_pos"), suffixKey.as("skey"))
  }

  /** The NIGHTLY SA merge (q63g/q63h shared): batch suffix ranks built by
    * the q63 machinery over batch docs only, interleaved into the standing
    * history SA key table by ONE range exchange over the union of
    * precomputed key rows + per-range local windows counting cross-side
    * predecessors. Merged position = OWN stored rank + cross-side count:
    * for a batch row, local hist-before = _rn - _cb (rows strictly before
    * it minus batch rows strictly before it — both window terms include
    * self, which cancels); for a history row, local batch-before = _cb
    * (its own isb is 0, and no cross-side tuple ties exist: doc sets are
    * disjoint and (skey, doc_id, pos) is a total order). The windowed
    * frame PINS to parquet before the offsets fan-out (distDenseRank's
    * ADVICE-r13 rule: both consumers must read one sampled range
    * partitioning); the only global window runs over the ≤
    * shuffle-partition per-range count rows.
    * MATERIALIZED under `mTag` (VERDICT r15 #2: q63g and q63h both
    * consume the merge; the per-call TempDir pin made the update's only
    * corpus-linear pass run twice in a night that runs both — now the
    * second consumer reads the stored frame), and the materialized frame
    * IS the night's versioned snapshot: projecting (doc_id, pos,
    * m_pos AS sa_pos, skey) off it is the next standing key table, which
    * is how [[saChain]] compounds nights without ever re-deriving keys.
    * Output: (doc_id, pos, sa_pos, isb, m_pos, skey) — sa_pos is the
    * STANDING array position (0 for batch rows), isb marks batch rows,
    * m_pos the merged position, skey the depth-bounded order key. */
  private def mergedSaOf(s: SparkSession, dir: String, hk: DataFrame,
                         batchDocs: DataFrame, rankTag: String,
                         mTag: String): DataFrame =
    Materialize(s, dir, mTag) {
      import org.apache.spark.sql.expressions.Window
      val (bDocs, bR) = suffixRanksOf(s, dir, batchDocs, rankTag)
      val bSa = distDenseRank(s,
          bR.select(col("r").as("rk"), col("doc_id"), col("pos")),
          Seq("rk", "doc_id", "pos"), s"${rankTag}_pos")
        .select(col("doc_id"), col("pos"), col("r").as("b_rank"))
      val bk = bSa.join(bDocs, Seq("doc_id"))
        .select(col("doc_id"), col("pos"), col("b_rank"), suffixKey.as("skey"))
      val u = hk.select(col("skey"), col("doc_id"), col("pos"),
          col("sa_pos"), lit(0L).as("isb"), lit(0L).as("b_rank"))
        .unionByName(bk.select(col("skey"), col("doc_id"), col("pos"),
          lit(0L).as("sa_pos"), lit(1L).as("isb"), col("b_rank")))
      val ord = Seq(col("skey"), col("doc_id"), col("pos"))
      val w = Window.partitionBy(col("_pid")).orderBy(ord: _*)
      val pinDir = graft.TempDirs.create("graft_sa_merge_")
      val pinned = u.repartitionByRange(ord: _*)
        .withColumn("_pid", spark_partition_id())
        .withColumn("_rn", row_number().over(w).cast("long"))
        .withColumn("_cb", sum(col("isb")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
      pinned.write.mode("overwrite").parquet(pinDir)
      // one-time POST-write inference per merge tag (ADVICE r16)
      val loc = Materialize.pinnedRead(s, s"${mTag}_pin", pinDir)
      val offs = loc.groupBy(col("_pid"))
        .agg(count(lit(1)).as("_n"), sum(col("isb")).as("_nb"))
        .select(col("_pid"),
          coalesce(sum(col("_n") - col("_nb")).over(
            Window.orderBy(col("_pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_hoff"),
          coalesce(sum(col("_nb")).over(
            Window.orderBy(col("_pid"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_boff"))
      loc.join(broadcast(offs), Seq("_pid"))
        .select(col("doc_id"), col("pos"), col("sa_pos"), col("isb"),
          when(col("isb") === 1,
            col("b_rank") + col("_hoff") + (col("_rn") - col("_cb")))
            .otherwise(col("sa_pos") + col("_boff") + col("_cb")).as("m_pos"),
          col("skey"))
    }

  /** [[mergedSa]] for cross-object consumers (q68's night report reads
    * the merged frame's row counts off the shared materialization). */
  private[graft] def mergedSaFrame(s: SparkSession, dir: String): DataFrame =
    mergedSa(s, dir)

  /** The SA report's evidence tail shared by q63g/q63i: the bounded
    * top-k (sa_pos, doc_id, pos) frame broadcast-joins the RAW text scan
    * and only the ≤ [[SaTopK]] surviving rows are tokenized for their
    * 8-token prefix (round 17; guide §8 "decide with small rows") —
    * previously each report tokenized the whole corpus to render a
    * bounded result. */
  private def prefix8Report(s: SparkSession, dir: String,
                            top: DataFrame): DataFrame =
    Tables.documents(s, dir)
      .join(broadcast(top), Seq("doc_id"))
      .select(col("sa_pos"), col("doc_id"), col("pos"),
        tokens(col("text")).as("toks"))
      .select(col("sa_pos"), col("doc_id"), col("pos"),
        concat_ws(" ",
          (0 until 8).map(j =>
            try_element_at(col("toks"), (col("pos") + lit(j)).cast("int"))): _*)
          .as("prefix8"))
      .orderBy("sa_pos")

  /** The q63g/q63h night: tonight's batch (the doc_id % 7 rule) merged
    * into the [[histSaKeys]] standing snapshot, stored once as
    * `sa_merged` and read by both consumers. */
  private def mergedSa(s: SparkSession, dir: String): DataFrame =
    mergedSaOf(s, dir, histSaKeys(s, dir),
      CurationPipeline.nightBatch(s, dir).select(col("doc_id"), col("text")),
      "sa_batch_ranks", "sa_merged")

  /** Suffix-array POSITIONS (doc_id, pos, sa_pos), materialized: the
    * prefix-doubling ranks are dense over depth-[[SaDepth]] prefix
    * classes, so appending the (doc_id, pos) tie-break makes every key
    * unique and a dense rank over (r, doc_id, pos) IS the suffix-array
    * position — the same two-phase distributed re-rank assigns it, no
    * global sort anywhere. Stored once beside the rank table (this is the
    * index Lee et al. persist and operate on) and shared by the LCP table
    * below — previously q63b and q63c each re-derived it per query. */
  private def saPositions(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (docs, r) = suffixRanks(s, dir)
    val sa = Materialize(s, dir, "sa_positions") {
      distDenseRank(s, r.select(col("r").as("rk"), col("doc_id"), col("pos")),
        Seq("rk", "doc_id", "pos"), "sa_pos")
        .select(col("doc_id"), col("pos"), col("r").as("sa_pos"))
    }
    (docs, sa)
  }

  /** The LCP ARRAY over suffix-array neighbors, materialized:
    * (a_doc, a_pos, b_doc, b_pos, lcp) for each adjacent pair (i, i+1),
    * LCP bounded at [[SaDepth]] like the array order itself. Neighbor
    * pairing is ONE equi-join on sa_pos = sa_pos + 1 (AQE-splittable);
    * the compare joins each side's bounded token slice and runs
    * zip_with + array_position over them — codegen'd, no UDF (zip_with
    * pads the shorter side with null and <=> reads that as a mismatch,
    * exactly the oracle's IS NOT DISTINCT FROM over the range-capped
    * index list; no mismatch ⇒ identical slices ⇒ lcp = min length).
    * Built ONCE, width-free — the point of the suffix array: the same
    * stored (SA, LCP) pair serves the duplication spectrum (q63b) and
    * removal at EVERY minimum-match threshold (q63c, q63d) without
    * touching the corpus again. */
  private def saLcp(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (docs, sa) = saPositions(s, dir)
    // spread on write (guide §6): q63b/c/d/e/f all layer per-row work on
    // this table's scan; one coalesced output file serialized it
    val lcpT = Materialize.spreadOnWrite(s, dir, "sa_lcp", col("a_doc")) {
      lcpOfAdjacent(withSuffixSlices(sa, docs)).drop("a_sa", "b_sa")
    }
    (docs, lcpT)
  }

  /** (sa_pos, doc_id, pos, sfx) — positioned suffixes with their
    * depth-bounded token slices, the input shape of [[lcpOfAdjacent]]. */
  private def withSuffixSlices(sa: DataFrame, docs: DataFrame): DataFrame =
    sa.join(docs, Seq("doc_id"))
      .select(col("sa_pos"), col("doc_id"), col("pos"),
        slice(col("toks"), col("pos").cast("int"), lit(SaDepth)).as("sfx"))

  /** Adjacent-pair LCPs of a positioned suffix frame: ONE sa_pos+1
    * equi-join, zip_with + array_position compare (codegen'd, no UDF —
    * zip_with pads the shorter side with null and <=> reads that as a
    * mismatch, the oracle's IS NOT DISTINCT FROM; no mismatch ⇒ identical
    * slices ⇒ lcp = min length). Shared by the full-corpus LCP table
    * (q63b/c/d via [[saLcp]]) and the standing HISTORY LCP table the q63h
    * incremental update retains entries from — one compare rule, so the
    * two tables cannot diverge on what "LCP" means. Output:
    * (a_sa, a_doc, a_pos, b_sa, b_doc, b_pos, lcp). */
  private def lcpOfAdjacent(withToks: DataFrame): DataFrame = {
    val pairs = withToks.as("x")
      .join(withToks.as("y"), col("x.sa_pos") + 1 === col("y.sa_pos"))
    val ap = array_position(
      zip_with(col("x.sfx"), col("y.sfx"), (u, v) => u.eqNullSafe(v)), false)
    pairs.select(
      col("x.sa_pos").as("a_sa"), col("x.doc_id").as("a_doc"),
      col("x.pos").as("a_pos"),
      col("y.sa_pos").as("b_sa"), col("y.doc_id").as("b_doc"),
      col("y.pos").as("b_pos"),
      coalesce(when(ap > 0, ap - 1),
        least(size(col("x.sfx")), size(col("y.sfx"))).cast("long")).as("lcp"))
  }

  /** STANDING history LCP table (a_sa, a_doc, a_pos, b_sa, b_doc, b_pos,
    * lcp) — the per-snapshot artifact beside [[histSaKeys]]: adjacency
    * LCPs of the HISTORY suffix array, which the q63h incremental update
    * carries forward wherever no batch suffix split the pair. */
  private def histSaLcp(s: SparkSession, dir: String): DataFrame =
    // spread on write: q63h's retained-pair pass rides this table's scan
    Materialize.spreadOnWrite(s, dir, "sa_hist_lcp", col("a_doc")) {
      val hdocs = Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      lcpOfAdjacent(withSuffixSlices(
        histSaKeys(s, dir).select(col("doc_id"), col("pos"), col("sa_pos")),
        hdocs))
    }

  /** The NIGHTLY LCP UPDATE off a merge frame `m` (a [[mergedSaOf]]
    * output) and standing LCP table `hl` — the q63h decomposition as a
    * reusable builder so the [[saChain]] compounding runs the IDENTICAL
    * update each night. A standing pair stays adjacent iff no batch
    * suffix landed in its merged gap, in which case its left member's
    * immediate merged successor is a batch row — i.e. the left member
    * appears as the standing-side member of a (standing, batch) NEW pair.
    * Retention is therefore ONE broadcast anti-join of the standing table
    * against those rows, keyed by the left suffix's STABLE identity
    * (a_doc, a_pos) — positions shift every merge, suffix identity never
    * does, which is what lets the output table be the next night's input
    * without any re-keying join. Every adjacency involving a batch suffix
    * is new (≤ 2·batch+1 pairs, batch-PROPORTIONAL — not constant-bounded:
    * at production batch sizes these frames are far past any broadcast
    * envelope, so NOTHING here forces a broadcast — every probe joins
    * plain and AQE applies the real size gate, broadcasting while small
    * and shuffle-hashing once batch-proportional mass exceeds it; a
    * forced broadcast is deserialized per task and measured 4.1× CPU on
    * 2× data at ×20, ADVICE r15 + growth_r16a). Nothing standing-sized
    * is ever re-COMPARED; the only
    * corpus-linear work is the merge frame itself, paid once per night.
    * Output: (a_doc, a_pos, b_doc, b_pos, lcp). */
  private def updatedLcp(m: DataFrame, hl: DataFrame,
                         docsRaw: DataFrame): DataFrame = {
    val bpos = m.filter(col("isb") === 1).select(col("m_pos"))
    val cand = bpos.select((col("m_pos") - 1).as("lp"), col("m_pos").as("rp"))
      .unionByName(
        bpos.select(col("m_pos").as("lp"), (col("m_pos") + 1).as("rp")))
      .filter(col("lp") >= 1).distinct()
    // NO forced broadcast anywhere below (growth_r16a finding): these
    // frames are batch-PROPORTIONAL — ~2 rows per batch suffix position,
    // millions at x20 — and a forced broadcast is deserialized once per
    // task, so its cost scales as (batch size x task count): measured
    // 4.1x CPU on 2x data. Plain equi-joins let AQE apply the actual
    // size gate — broadcast while the frames are under the threshold
    // (every oracle SF), shuffle-hash once they are not.
    val left = m.join(cand, col("m_pos") === col("lp"))
      .select(col("lp"), col("rp"),
        col("doc_id").as("a_doc"), col("pos").as("a_pos"),
        col("isb").as("a_isb"))
    val right = m.join(cand
          .withColumnRenamed("lp", "lp2").withColumnRenamed("rp", "rp2"),
        col("m_pos") === col("rp2"))
      .select(col("lp2"), col("rp2"),
        col("doc_id").as("b_doc"), col("pos").as("b_pos"),
        col("isb").as("b_isb"))
    val np0 = left.join(right,
      col("lp") === col("lp2") && col("rp") === col("rp2"))
    val np = np0.select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"))
    val brokenA = np0.filter(col("a_isb") === 0 && col("b_isb") === 1)
      .select(col("a_doc").as("bk_doc"), col("a_pos").as("bk_pos"))
    val retained = hl
      .join(brokenA,
        col("a_doc") === col("bk_doc") && col("a_pos") === col("bk_pos"),
        "left_anti")
      .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
        col("lcp"))
    // slices for the new pairs: only the docs the endpoint frame touches
    // are TOKENIZED at all (round 17; guide §8 "decide with small rows"):
    // the distinct endpoint doc_ids semi-filter the RAW text scan before
    // the tokenizer projection, so the per-night tokenize cost is
    // batch-proportional — previously the whole corpus was tokenized to
    // serve batch-proportional slice lookups. The resulting slice rows
    // are the wide ones and meet the pair frame by equi-join.
    val ends = np.select(col("a_doc").as("doc_id"), col("a_pos").as("pos"))
      .unionByName(np.select(col("b_doc").as("doc_id"), col("b_pos").as("pos")))
      .distinct()
    val needDocs = docsRaw
      .join(ends.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val slices = needDocs.join(ends, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        slice(col("toks"), col("pos").cast("int"), lit(SaDepth)).as("sfx"))
    val withA = np.join(slices,
        col("a_doc") === col("doc_id") && col("a_pos") === col("pos"))
      .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
        col("sfx").as("asfx"))
    val withB = withA.join(
        slices.select(col("doc_id").as("d2"), col("pos").as("p2"),
          col("sfx").as("bsfx")),
        col("b_doc") === col("d2") && col("b_pos") === col("p2"))
    val ap = array_position(
      zip_with(col("asfx"), col("bsfx"), (u, v) => u.eqNullSafe(v)), false)
    val newLcp = withB.select(col("a_doc"), col("a_pos"),
      col("b_doc"), col("b_pos"),
      coalesce(when(ap > 0, ap - 1),
        least(size(col("asfx")), size(col("bsfx"))).cast("long")).as("lcp"))
    retained.unionByName(newLcp)
  }

  /** The LCP duplicate-mass histogram tail shared verbatim by q63b's
    * full-table read, q63h's one-night update, and q63j's chained table:
    * per-value pair count + least (doc_id, pos) witness. */
  private def lcpHistogram(lcpRows: DataFrame): DataFrame =
    lcpRows.groupBy(col("lcp"))
      .agg(count(lit(1)).as("n_pairs"),
        min(struct(col("a_doc").as("doc_id"), col("a_pos").as("pos"))).as("ex"))
      .select(col("lcp"), col("n_pairs"),
        col("ex.doc_id").as("example_doc_id"),
        col("ex.pos").as("example_pos"))
      .orderBy("lcp")

  /** Nights in the q63i/q63j compounding chain (batches doc_id % 7 == 0,
    * 1, …, ChainNights−1 against a base of doc_id % 7 ≥ ChainNights). */
  private[graft] val ChainNights = 3

  /** MULTI-NIGHT COMPOUNDING of the incremental SA index (VERDICT r15
    * #1): night k merges batch doc_id % 7 == k into night k−1's standing
    * snapshot pair. The merged frame night k materializes
    * (`sa_chain_merged_v{k+1}`) IS night k+1's standing key table — its
    * (doc_id, pos, m_pos AS sa_pos, skey) projection — and the updated
    * LCP table persists beside it as `sa_chain_lcp_v{k+1}`, so the index
    * genuinely compounds: no night re-derives standing keys or
    * re-compares standing pairs, and both sides' stored state is
    * load-bearing every night (a single stale carry anywhere breaks the
    * final permutation or a histogram count and fails the q63i/q63j
    * gates). After [[ChainNights]] nights the snapshot covers ALL
    * documents, which is what lets q63i/q63j share q63/q63b's VERBATIM
    * full-rebuild oracles — chain–rebuild parity by one gate, the
    * q63g/q63h pattern iterated. Per-night cost is flat in the night
    * index: one range exchange over (standing + batch) narrow key rows,
    * the batch-sized rank build, and the batch-proportional LCP delta
    * (growth rows in BASELINE.md r16). Returns (keys_vN, lcp_vN). */
  private def saChain(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    saChainUpTo(s, dir, ChainNights)

  /** [[saChain]] stopped after `nights` merges (the base snapshot is
    * always the % 7 >= ChainNights split, so night k's inputs are
    * identical however many nights follow). Materialize caching makes
    * successive calls pay ONLY the new night — the per-night growth
    * probe's instrument (Profile `sa_night<k>`). */
  private[graft] def saChainUpTo(s: SparkSession, dir: String,
                                 nights: Int): (DataFrame, DataFrame) = {
    require(nights >= 0 && nights <= ChainNights, s"nights 0..$ChainNights")
    // raw text scan for the nightly LCP updates: updatedLcp semi-filters
    // it to each night's endpoint docs before tokenizing (round 17)
    val docsAll = Tables.documents(s, dir)
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") % 7 >= ChainNights)
    var hk = Materialize(s, dir, "sa_chain_keys_v0") {
      saKeysOf(s, dir, base.select(col("doc_id"), col("text")),
        "sa_chain_ranks_v0", "sa_chain_pos_v0")
    }
    var hl = Materialize(s, dir, "sa_chain_lcp_v0") {
      val hdocs = base.select(col("doc_id"), tokens(col("text")).as("toks"))
      lcpOfAdjacent(withSuffixSlices(
          hk.select(col("doc_id"), col("pos"), col("sa_pos")), hdocs))
        .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"),
          col("lcp"))
    }
    for (k <- 0 until nights) {
      val m = mergedSaOf(s, dir, hk,
        Tables.documents(s, dir).filter(col("doc_id") % 7 === k)
          .select(col("doc_id"), col("text")),
        s"sa_chain_branks_v$k", s"sa_chain_merged_v${k + 1}")
      hk = m.select(col("doc_id"), col("pos"),
        col("m_pos").as("sa_pos"), col("skey"))
      hl = Materialize(s, dir, s"sa_chain_lcp_v${k + 1}") {
        updatedLcp(m, hl, docsAll)
      }
    }
    (hk, hl)
  }

  /** SA-adjacency ExactSubstr removal at minimum-match width `ww` (≤
    * [[SaDepth]]): a width-ww window occurs ≥ 2 times in the corpus iff
    * its suffix shares an LCP ≥ ww with a suffix-array NEIGHBOR
    * (equal-prefix suffixes form a contiguous SA block; every member of a
    * ≥2 block touches an adjacent pair with LCP ≥ ww, a size-1 block
    * touches none) — no hashing anywhere in the detection, and the
    * detection reads the MATERIALIZED LCP table, so changing ww re-runs
    * only this tail. Only the marked positions (the duplicate mass, not
    * the corpus) rejoin the docs for their literal ww-token window
    * content; then q47's min(struct(doc_id, pos)) keeper rule and the
    * shared span merge + report. An LCP ≥ ww pair's suffixes both hold
    * ≥ ww tokens (LCP ≤ min suffix length), so the slice is always full
    * width. */
  private def saSubstrDedup(s: SparkSession, dir: String, ww: Int): DataFrame = {
    require(ww <= SaDepth, s"minimum-match width $ww exceeds SA depth $SaDepth")
    val (_, lcpT) = saLcp(s, dir)
    val marked = lcpT.filter(col("lcp") >= ww)
      .select(explode(array(
        struct(col("a_doc").as("doc_id"), col("a_pos").as("pos")),
        struct(col("b_doc").as("doc_id"), col("b_pos").as("pos")))).as("m"))
      .select(col("m.doc_id"), col("m.pos"))
      .distinct()
    // tokenize AFTER the marked-doc semi-filter (round 17; guide §8):
    // only docs that actually hold duplicate mass are tokenized for their
    // window content — previously the removal tail re-tokenized the WHOLE
    // corpus per consumer per run to serve marked-position lookups
    val docs = Tables.documents(s, dir)
      .join(marked.select(col("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val withWin = marked.join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        size(col("toks")).cast("long").as("n"),
        concat_ws("\u0001",
          slice(col("toks"), col("pos").cast("int"), lit(ww))).as("win"))
    val keeper = withWin.groupBy(col("win"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val r = withWin.join(keeper, Seq("win"))
      .filter(col("doc_id") =!= col("keeper.doc_id") ||
        col("pos") =!= col("keeper.pos"))
      .select(col("doc_id"), col("n"), col("pos"),
        (col("pos") + (ww - 1)).as("endp"))
    substrSpanReport(r)
  }

  /** Oracle CTE chain ending in `l(doc_id, pos, lcp)` — the DuckDB
    * string-sorted SA + list_position LCP construction, shared by the
    * spectrum (q63b) and the threshold selector (q63e) so the two can
    * never diverge on what "the LCP array" means. */
  private lazy val sqlSaLcpCtes: String =
    s"""t AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |p AS (SELECT doc_id, i AS pos,
       |    toks[i:least(i + ${SaDepth - 1}, len(toks))] AS a,
       |    array_to_string(toks[i:least(i + ${SaDepth - 1}, len(toks))], chr(1)) AS sfx
       |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
       |sel AS (SELECT doc_id, pos, a,
       |    ROW_NUMBER() OVER (ORDER BY sfx, doc_id, pos) AS sa_pos FROM p),
       |pr AS (SELECT x.doc_id, x.pos, x.a AS a, y.a AS b
       |  FROM sel x JOIN sel y ON y.sa_pos = x.sa_pos + 1),
       |l AS (SELECT doc_id, pos,
       |    (coalesce(nullif(list_position(list_transform(range(1, greatest(len(a), len(b)) + 1),
       |        i -> a[i] IS NOT DISTINCT FROM b[i]), false), 0) - 1,
       |      least(len(a), len(b))))::BIGINT AS lcp
       |  FROM pr)""".stripMargin

  /** The LCP duplicate-mass histogram oracle (DuckDB string-sorted SA +
    * list_position LCP, per-value pair count + least witness) — shared
    * VERBATIM by q63b (the full LCP rebuild) and q63h (the incremental
    * LCP update): update–rebuild parity pinned by one gate, the
    * q63/q63g pattern applied to the LCP table. */
  private lazy val sqlLcpHistogramOracle: String =
    s"""WITH $sqlSaLcpCtes,
       |l2 AS (SELECT lcp, doc_id, pos,
       |    ROW_NUMBER() OVER (PARTITION BY lcp ORDER BY doc_id, pos) AS rn,
       |    COUNT(*) OVER (PARTITION BY lcp) AS cnt FROM l)
       |SELECT lcp, cnt AS n_pairs, doc_id AS example_doc_id, pos AS example_pos
       |FROM l2 WHERE rn = 1 ORDER BY lcp""".stripMargin

  /** q63e's duplication budget: the recommended minimum-match threshold is
    * the smallest width whose duplicated-adjacency rate (SA-neighbor pairs
    * with LCP ≥ L, over all adjacencies) is at or under this fraction —
    * the quantitative form of how Lee et al. read ~50 chars off the LCP
    * profile. */
  private[queries] val DupFracBudget = 0.05

  /** q63e/q63f shared threshold machinery: (curve, tot, rec) — the
    * per-width cumulative adjacency counts over the stored LCP table, the
    * total adjacency count, and the 1-row recommended width (smallest
    * in-budget L). All bounded arithmetic; the index never rebuilds. */
  private def lcpThresholdFrames(s: SparkSession,
                                 dir: String): (DataFrame, DataFrame, DataFrame) = {
    val (_, lcpT) = saLcp(s, dir)
    val spec = lcpT.filter(col("lcp") >= 1)
      .groupBy(col("lcp")).agg(count(lit(1)).as("np"))
    val tot = lcpT.agg(count(lit(1)).as("tot"))
    val grid = s.range(1, SaDepth + 1).select(col("id").as("min_match"))
    val curve = grid.join(broadcast(spec), col("lcp") >= col("min_match"), "left")
      .groupBy(col("min_match"))
      .agg(coalesce(sum(col("np")), lit(0L)).as("n_pairs_ge"))
    val rec = curve.crossJoin(broadcast(tot))
      .filter(col("n_pairs_ge").cast("double") / col("tot") <= DupFracBudget)
      .agg(min(col("min_match")).as("rm"))
    (curve, tot, rec)
  }

  /** The RECOMMENDED minimum-match width as a driver value (q63f): the
    * q63e grid argmin off the stored LCP table, [[SaDepth]] when no width
    * meets the budget (remove only the longest-run duplicates rather than
    * nothing — the conservative fallback, mirrored in the oracle's
    * COALESCE). A 1-row collect: the width parameterizes literal slice
    * bounds in the removal program, so it is a plan-construction scalar —
    * the same class as BpeTrain's per-round argmax, not a data-path
    * collect. */
  private[graft] def recommendedMinMatch(s: SparkSession, dir: String): Int = {
    val (_, _, rec) = lcpThresholdFrames(s, dir)
    val row = rec.collect()(0)
    if (row.isNullAt(0)) SaDepth else row.getLong(0).toInt
  }

  /** The threshold-curve CTE block (over [[sqlSaLcpCtes]]'s `l`), ending in
    * `curve(min_match, n_pairs_ge)`, `tot(tot)`, `rec(rm)` — ONE text shared
    * by the q63e report and the q63f removal so the two consumers of the
    * recommendation can never diverge on how it is derived. */
  private lazy val sqlThresholdCtes: String =
    s"""spec AS (SELECT lcp, COUNT(*) AS np FROM l WHERE lcp >= 1 GROUP BY lcp),
       |tot AS (SELECT COUNT(*) AS tot FROM l),
       |grid AS (SELECT i AS min_match FROM unnest(generate_series(1, $SaDepth)) g(i)),
       |curve AS (SELECT g.min_match,
       |    CAST(COALESCE(SUM(s.np), 0) AS BIGINT) AS n_pairs_ge
       |  FROM grid g LEFT JOIN spec s ON s.lcp >= g.min_match GROUP BY 1),
       |rec AS (SELECT MIN(min_match) AS rm FROM curve, tot
       |        WHERE n_pairs_ge::DOUBLE / tot <= $DupFracBudget)""".stripMargin

  /** Banding-recall eval oracle, parameterized on the sample-modulus
    * expression — ONE text for q23i (literal rate) and q23j (corpus-derived
    * fixed count) so the two monitors can never diverge on eval semantics. */
  private def sqlRecallEval(modExpr: String): String =
    s"""WITH $sqlSigCtes,
       |$sqlPairCtes,
       |sizes AS (SELECT doc_id, len(shash) AS nsh FROM sig),
       |post AS (SELECT doc_id, unnest(shash) AS h FROM sig),
       |qpost AS (SELECT doc_id AS qid, h FROM post
       |          WHERE doc_id % $modExpr = 0),
       |shared AS (
       |  SELECT qid, p.doc_id AS did, COUNT(*) AS sh
       |  FROM qpost q JOIN post p ON q.h = p.h AND p.doc_id <> q.qid
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT qid, COUNT(*) AS truth_pairs
       |  FROM shared JOIN sizes a ON a.doc_id = qid
       |              JOIN sizes b ON b.doc_id = did
       |  WHERE sh::DOUBLE / (a.nsh + b.nsh - sh) >= 0.2
       |  GROUP BY 1),
       |found AS (
       |  SELECT qid, COUNT(*) AS found_pairs
       |  FROM (SELECT unnest([da, db]) AS qid FROM pairs)
       |  WHERE qid % $modExpr = 0 GROUP BY 1)
       |SELECT t.qid AS doc_id, truth_pairs,
       |  COALESCE(found_pairs, 0) AS found_pairs,
       |  COALESCE(found_pairs, 0)::DOUBLE / truth_pairs AS recall
       |FROM truth t LEFT JOIN found f ON f.qid = t.qid
       |ORDER BY doc_id""".stripMargin

  /** The recall eval's DataFrame program, parameterized on the sample
    * modulus — shared by q23i and q23j (see [[sqlRecallEval]]). Ground
    * truth comes from the shingle inverted index (explode + equi-join +
    * per-pair shared count — linear, never all-pairs); the sampled query
    * side is ≤ ⌈n/mod⌉ docs, which q23j holds constant by scale. */
  private def recallEvalFrame(s: SparkSession, dir: String, mod: Long): DataFrame = {
    val sigs = sigTable(s, dir)
    val sizes = sigs.select(col("doc_id"), size(col("shash")).as("nsh"))
    val post = sigs.select(col("doc_id"), explode(col("shash")).as("h"))
    val qpost = post.filter(col("doc_id") % mod === 0)
      .select(col("doc_id").as("qid"), col("h"))
    val shared = qpost.join(post, Seq("h"))
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("did"))
      .agg(count(lit(1)).as("sh"))
    val truth = shared
      .join(sizes.select(col("doc_id").as("qid"), col("nsh").as("na")), "qid")
      .join(sizes.select(col("doc_id").as("did"), col("nsh").as("nb")), "did")
      .filter(col("sh").cast("double") / (col("na") + col("nb") - col("sh")) >= 0.2)
      .groupBy(col("qid")).agg(count(lit(1)).as("truth_pairs"))
    val found = confirmedPairs(s, dir)
      .select(explode(array(col("da"), col("db"))).as("qid"))
      .filter(col("qid") % mod === 0)
      .groupBy(col("qid")).agg(count(lit(1)).as("found_pairs"))
    truth.join(found, Seq("qid"), "left")
      .select(col("qid").as("doc_id"), col("truth_pairs"),
        coalesce(col("found_pairs"), lit(0L)).as("found_pairs"),
        (coalesce(col("found_pairs"), lit(0L)).cast("double") / col("truth_pairs"))
          .as("recall"))
      .orderBy("doc_id")
  }

  private val sqlPairCtes =
    s"""bands AS (
       |  SELECT doc_id, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
       |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk
       |    AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT da, db FROM cand
       |  JOIN sig x ON da = x.doc_id JOIN sig y ON db = y.doc_id
       |  WHERE ${sqlJaccard("x.shash", "y.shash")} >= 0.2)""".stripMargin

  /** One-hop canonical assignment over the confirmed pair graph (q23e's
    * result frame, unordered): (doc_id, canon, is_dup) with canon = min of
    * self and min-neighbor. Shared by q23e and q22f's cluster-keyed split. */
  private def canonFrame(s: SparkSession, dir: String): DataFrame = {
    val pairs = confirmedPairs(s, dir)
    val nbrs = pairs.select(col("da").as("doc_id"), col("db").as("nbr"))
      .union(pairs.select(col("db").as("doc_id"), col("da").as("nbr")))
    val m = nbrs.groupBy(col("doc_id")).agg(min(col("nbr")).as("mn"))
      .withColumnRenamed("doc_id", "mid")
    Tables.documents(s, dir).select(col("doc_id"))
      .join(m, col("doc_id") === col("mid"), "left")
      .select(
        col("doc_id"),
        coalesce(least(col("doc_id"), col("mn")), col("doc_id")).as("canon"),
        (col("mn").isNotNull && col("mn") < col("doc_id")).as("is_dup"))
  }

  /** Spark twin of [[sqlPairCtes]]: confirmed (da < db) near-dup pairs off
    * the shared materialized signature table. */
  private def confirmedPairs(s: SparkSession, dir: String): DataFrame = {
    val sigs = sigTable(s, dir)
    val bands = sigs.select(
      col("doc_id"), posexplode(lshBandKeys(col("sig"))).as(Seq("j", "bk")))
    val cand = bands.alias("a")
      .join(bands.alias("b"),
        col("a.j") === col("b.j") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val x = sigs.select(col("doc_id").as("xid"), col("shash").as("xsh"))
    val y = sigs.select(col("doc_id").as("yid"), col("shash").as("ysh"))
    cand
      .join(x, col("da") === col("xid"))
      .join(y, col("db") === col("yid"))
      .filter(jaccard(col("xsh"), col("ysh")) >= 0.2)
      .select(col("da"), col("db"))
  }

  /** q23d's per-doc gram-set stage, parameterized on the gram-hash
    * expression: (doc_id, pkey, grams, n, bkt) with grams = the distinct
    * `gramHash` values of the doc's stride-2 char-4-grams, pkey = the
    * 3-token prefix block key, bkt = the gram-count log-bucket (width
    * ln(10/3)) that bounds hot prefix blocks (see q23d's QueryDef comment).
    *
    * Production passes `xxhash64(_)`; `DedupEdgeSpec` injects a
    * deliberately-COLLIDING hash to pin the collision blast-radius
    * invariant (a collision can only perturb pairs whose gram sets contain
    * the colliding grams) as a tested property rather than a probability
    * claim in a comment.
    *
    * Gram generation is explode + codegen'd substr/hash + collect_set, not
    * a per-row lambda (same distinct-gram sets, interpreted-HOF cost gone). */
  private[graft] def charGramKeyed(docs: DataFrame,
                                   gramHash: Column => Column): DataFrame = {
    val bucketWidth = math.log(10.0 / 3.0)
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id"), col("text"),
        concat_ws(" ",
          try_element_at(col("toks"), lit(1)), try_element_at(col("toks"), lit(2)),
          try_element_at(col("toks"), lit(3))).as("pkey"))
      .select(col("doc_id"), col("pkey"), col("text"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - (CharGramN - 1), lit(1)),
          lit(2))).as("i"))
      .select(col("doc_id"), col("pkey"),
        col("text").substr(col("i"), lit(CharGramN)).as("graw"))
      // xxhash64(NULL) yields the SEED (42), not NULL — an unfiltered
      // null-text doc would emit one phantom gram (and two such docs
      // sharing a pkey would pair at jaccard=1.0) that the DuckDB
      // oracle, whose char-gram list of NULL text is empty, never
      // produces. Drop null grams BEFORE hashing.
      .filter(col("graw").isNotNull)
      .select(col("doc_id"), col("pkey"), gramHash(col("graw")).as("g"))
      .groupBy(col("doc_id"), col("pkey"))
      .agg(collect_set(col("g")).as("grams"))
      .select(col("doc_id"), col("pkey"), col("grams"),
        size(col("grams")).as("n"),
        floor(log(size(col("grams")).cast("double")) / bucketWidth)
          .cast("long").as("bkt"))
  }

  /** q23d's pair stage over [[charGramKeyed]] output: prefix-block +
    * gram-count-bucket equi-join, one array_intersect per candidate,
    * J ≥ 0.3 confirm. */
  private[graft] def charGramJaccardPairs(keyed: DataFrame): DataFrame = {
    val probe = keyed.select(
      col("doc_id"), col("pkey"), col("grams"), col("n"),
      explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    keyed.alias("a")
      .join(probe.alias("b"),
        col("a.pkey") === col("b.pkey") && col("a.bkt") === col("b.bkt") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("n_int",
        size(array_intersect(col("a.grams"), col("b.grams"))))
      .withColumn("jac",
        col("n_int").cast("double") / (col("a.n") + col("b.n") - col("n_int")))
      .filter(col("jac") >= 0.3)
      .select(
        col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        round(col("jac"), 6).as("gram_jaccard"))
      .orderBy("da", "db")
  }

  val defs: Seq[QueryDef] = Seq(
    // X1/Q22 — exact dedup by normalized text hash: rank within each hash
    // group (kept = rank 1). One shuffle on the 256-bit hash; at 100 TB this
    // is the standard exact-dedup pass (hash computed in the scan projection,
    // shuffle carries only (hash, doc_id)).
    QueryDef(
      "q22_exact_dedup",
      """SELECT doc_id, sha256(lower(trim(text))) AS text_sha,
        |ROW_NUMBER() OVER (PARTITION BY sha256(lower(trim(text))) ORDER BY doc_id) AS dup_rank
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = sha2(lower(trim(col("text"))), 256)
      Tables.documents(s, dir).select(
        col("doc_id"),
        h.as("text_sha"),
        row_number().over(Window.partitionBy(h).orderBy(col("doc_id"))).as("dup_rank"))
        .orderBy("doc_id")
    },

    // X2/Q23 — per-doc MinHash signature + SimHash + rolling fingerprint
    // (doc-level: always N rows, verifies the hashing machinery end-to-end).
    QueryDef(
      "q23_doc_signatures",
      s"""WITH $sqlSigCtes
         |SELECT doc_id, len(shash) AS n_shingles,
         |array_to_string(list_transform(sig, x -> x::VARCHAR), '-') AS sig_str,
         |${sqlSimhash16("thash")} AS simhash,
         |${sqlFingerprint("thash")} AS fp
         |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // one read of the shared signature table — no join: the combined
      // single-pass materialization carries every signature column
      sigTable(s, dir)
        .select(
          col("doc_id"),
          size(col("shash")).cast("long").as("n_shingles"),
          concat_ws("-", transform(col("sig"), _.cast("string"))).as("sig_str"),
          col("simhash"),
          fingerprint(col("thash")).as("fp"))
        .orderBy("doc_id")
    },

    // X2/Q23b — MinHash + LSH near-dup pairs: band-bucket equi-join produces
    // candidates; exact Jaccard on distinct shingle-hash sets confirms.
    // Estimated (signature) Jaccard reported alongside.
    QueryDef(
      "q23b_minhash_lsh_pairs",
      s"""WITH $sqlSigCtes,
         |bands AS (
         |  SELECT doc_id, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b ON a.j = b.j AND a.bk = b.bk
         |    AND a.doc_id < b.doc_id)
         |SELECT da, db,
         |round(${sqlEstJaccard("x.sig", "y.sig")}, 6) AS est_jaccard,
         |round(${sqlJaccard("x.shash", "y.shash")}, 6) AS jaccard
         |FROM cand JOIN sig x ON da = x.doc_id JOIN sig y ON db = y.doc_id
         |WHERE ${sqlJaccard("x.shash", "y.shash")} >= 0.2
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
      val sigs = sigTable(s, dir)
      val bands = sigs.select(
        col("doc_id"), posexplode(lshBandKeys(col("sig"))).as(Seq("j", "bk")))
      val cand = bands.alias("a")
        .join(bands.alias("b"),
          col("a.j") === col("b.j") && col("a.bk") === col("b.bk") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .distinct()
      val x = sigs.select(col("doc_id").as("xid"), col("sig").as("xsig"), col("shash").as("xsh"))
      val y = sigs.select(col("doc_id").as("yid"), col("sig").as("ysig"), col("shash").as("ysh"))
      cand
        .join(x, col("da") === col("xid"))
        .join(y, col("db") === col("yid"))
        .filter(jaccard(col("xsh"), col("ysh")) >= 0.2)
        .select(
          col("da"), col("db"),
          round(estJaccard(col("xsig"), col("ysig")), 6).as("est_jaccard"),
          round(jaccard(col("xsh"), col("ysh")), 6).as("jaccard"))
        .orderBy("da", "db")
    },

    // X2+/Q23e — near-dup canonical assignment: every document mapped to
    // the minimum doc_id among itself and its confirmed LSH neighbours —
    // the "choose one representative per duplicate group" step a curation
    // pipeline runs after pair generation. ONE-HOP canonicalization by
    // design: true connected components iterates this join to a fixpoint
    // (O(log n) rounds of the same shuffle); one hop already collapses the
    // dominant case (pairs/small stars) and is what this query verifies.
    // Reuses the materialized signature table — the pair machinery is
    // shared with q23b, not recomputed.
    QueryDef(
      "q23e_dup_canon",
      s"""WITH $sqlSigCtes,
         |$sqlPairCtes,
         |nbrs AS (SELECT da AS doc_id, db AS nbr FROM pairs
         |         UNION ALL SELECT db, da FROM pairs),
         |m AS (SELECT doc_id, MIN(nbr) AS mn FROM nbrs GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS canon,
         |  (m.mn IS NOT NULL AND m.mn < d.doc_id) AS is_dup
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      canonFrame(s, dir).orderBy("doc_id")
    },

    // X2+/Q22f — leakage-safe split assignment: q25j's deterministic
    // 90/5/5 hash split re-keyed on the near-dup CANONICAL id instead of
    // the document id, so every member of a duplicate cluster lands in the
    // SAME split — the eval-contamination guard a training pipeline needs
    // (hash-splitting raw doc ids puts near-identical texts on both sides
    // of the train/test fence; Lee et al. 2022's motivating leak). Reuses
    // q23e's one-hop canonicalization off the shared materialized pair
    // table (q23g's fixpoint is the full-CC upgrade, same key swap); the
    // split rule, salt, and thresholds are LITERALLY q25j's constants, so
    // non-duplicated docs keep their q25j assignment and only dup-cluster
    // members move (onto their canonical's bucket). Scale shape: one
    // broadcast-ish left join of the min-neighbor frame onto the corpus
    // plus scan-riding hash arithmetic — the split itself adds no shuffle.
    QueryDef(
      "q22f_cluster_split",
      s"""WITH $sqlSigCtes,
         |$sqlPairCtes,
         |nbrs AS (SELECT da AS doc_id, db AS nbr FROM pairs
         |         UNION ALL SELECT db, da FROM pairs),
         |m AS (SELECT doc_id, MIN(nbr) AS mn FROM nbrs GROUP BY doc_id),
         |canon AS (SELECT d.doc_id,
         |  COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS canon
         |  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id)
         |SELECT doc_id, canon,
         |  ${sqlHash32("concat('split:', canon)")} % 100 AS bucket,
         |  CASE WHEN ${sqlHash32("concat('split:', canon)")} % 100 >= ${QualityQueries.TestFrom} THEN 'test'
         |       WHEN ${sqlHash32("concat('split:', canon)")} % 100 >= ${QualityQueries.ValFrom} THEN 'val'
         |       ELSE 'train' END AS split
         |FROM canon ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = hash32(concat(lit("split:"), col("canon"))) % 100
      canonFrame(s, dir)
        .select(
          col("doc_id"), col("canon"),
          bucket.as("bucket"),
          when(bucket >= QualityQueries.TestFrom, "test")
            .when(bucket >= QualityQueries.ValFrom, "val")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    },

    // X1+X4/Q22g — benchmark DECONTAMINATION (round 10): the eval-set
    // n-gram-overlap scrub every serious pretraining pipeline runs (the
    // GPT-3 appendix-C recipe; Lee et al. 2022 §6) — distinct from q22f,
    // which fences INTRA-corpus duplicates across the split; this fences
    // the corpus against an EXTERNAL benchmark: any train doc sharing a
    // token shingle with a held-out doc is flagged (with its hit counts,
    // so the operator reports severity, not just membership). Held-out
    // stand-in = doc_id % 10 == 7 (production: the actual benchmark files;
    // n here = the dedup family's shared ShingleN — production uses
    // 13-grams, one constant). Scale shape: the benchmark side is TINY at
    // any corpus scale (evals are MBs against 100 TB), so its posting list
    // BROADCASTS into the train postings — the contamination check rides
    // the corpus scan with no corpus-sized shuffle except the per-doc hit
    // aggregation over the (contamination-sized) hit set; both distinct
    // counts are computed as separate dedup+count aggs sharing the doc_id
    // shuffle, NOT one multi-DISTINCT Expand (q37's lesson). Reads the
    // shared materialized signature table — no new corpus pass.
    QueryDef(
      "q22g_decontaminate",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |shd AS (SELECT doc_id,
         |  list_distinct(${sqlHashArray(sqlShingles("toks"))}) AS shash FROM src),
         |bpost AS (SELECT doc_id AS bid, unnest(shash) AS h FROM shd
         |          WHERE doc_id % 10 = 7),
         |tpost AS (SELECT doc_id, unnest(shash) AS h FROM shd
         |          WHERE doc_id % 10 <> 7),
         |hits AS (SELECT DISTINCT t.doc_id, t.h, b.bid
         |         FROM tpost t JOIN bpost b USING (h)),
         |hsh AS (SELECT doc_id, COUNT(*) AS n_hit_shingles
         |        FROM (SELECT DISTINCT doc_id, h FROM hits) GROUP BY doc_id),
         |hbd AS (SELECT doc_id, COUNT(*) AS n_bench_docs
         |        FROM (SELECT DISTINCT doc_id, bid FROM hits) GROUP BY doc_id)
         |SELECT s.doc_id, n_hit_shingles, n_bench_docs,
         |  len(s.shash) AS n_shingles,
         |  n_hit_shingles::DOUBLE / len(s.shash) AS hit_frac
         |FROM hsh JOIN hbd USING (doc_id) JOIN shd s USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
      val sig = sigTable(s, dir).select(col("doc_id"), col("shash"))
      val bpost = sig.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id").as("bid"), explode(col("shash")).as("h"))
      val train = sig.filter(col("doc_id") % 10 =!= 7)
      val hits = train
        .select(col("doc_id"), explode(col("shash")).as("h"))
        .join(broadcast(bpost), Seq("h"))
        .select(col("doc_id"), col("h"), col("bid")).distinct()
      val hsh = hits.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit_shingles"))
      val hbd = hits.select(col("doc_id"), col("bid")).distinct()
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bench_docs"))
      hsh.join(hbd, Seq("doc_id"))
        .join(train.select(col("doc_id"), size(col("shash")).as("n_shingles")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_hit_shingles"), col("n_bench_docs"),
          col("n_shingles").cast("long").as("n_shingles"),
          (col("n_hit_shingles").cast("double") / col("n_shingles"))
            .as("hit_frac"))
        .orderBy("doc_id")
    },

    // X2+/Q23i — LSH recall eval: q24g's measured-quality rigor for the
    // TEXT near-dup family. Per sampled doc (deterministic doc_id % 10
    // sample — what a production dedup run monitors continuously), recall
    // of the band-bucket candidate producer (q23b/q23e/q23g's `pairs`)
    // against EXACT ground truth at the same Jaccard-0.2 confirm
    // threshold. Ground truth is NOT an all-pairs scan: exact-Jaccard
    // neighbors of the sampled docs come from the shingle INVERTED INDEX
    // (explode + equi-join + per-pair shared count — q22c's linear shape;
    // sh/(na+nb−sh) over distinct shingle sets IS exact Jaccard), so the
    // eval scales: fixed sample size, postings join touches only pairs
    // sharing ≥1 shingle. found ⊆ truth by construction (confirmed pairs
    // pass the same threshold), so recall ∈ [0,1] and quantifies ONLY
    // banding misses — the r=2/b=8 S-curve (P(candidate|j) = 1−(1−j²)⁸:
    // ≈0.28 at j=0.2, →1 as j→1): true near-dups are caught, borderline
    // pairs are the probabilistic tail the threshold's operator reads off
    // this table.
    QueryDef(
      "q23i_lsh_recall_eval",
      sqlRecallEval(RecallSampleMod.toString)) { (s, dir) =>
      recallEvalFrame(s, dir, RecallSampleMod.toLong)
    },

    // X2+/Q23j — q23i's production form (VERDICT r9 #3): the recall
    // monitor at FIXED SAMPLE SIZE. q23i's fixed-RATE sample makes the
    // eval's total work O(corpus × rate) — at 100 TB that monitors ten
    // billion docs. A production monitor pins a fixed COUNT instead: the
    // modulus is derived from the corpus row count (parquet footer
    // metadata — no scan job; the identical GREATEST(n // target, 1) rule
    // as a 1-row subquery on the oracle side), so doc_id % mod == 0
    // selects ~RecallSampleTarget monitored docs at EVERY scale and the
    // query-side postings, truth join, and recall math stay CONSTANT-sized
    // as the corpus grows (the ×10/×20 growth rows measure exactly this —
    // flat sample-side work). Same eval semantics as q23i otherwise:
    // banding recall vs exact-Jaccard ground truth from the inverted
    // index, found ⊆ truth by construction.
    QueryDef(
      "q23j_lsh_recall_fixed_count",
      sqlRecallEval(sqlRecallSampleMod)) { (s, dir) =>
      recallEvalFrame(s, dir, recallSampleMod(s, dir))
    },

    // X2+/Q23g — FULL connected components over the confirmed near-dup
    // graph: q23e's one-hop canonicalization iterated to a fixpoint, so
    // chains (A~B~C with A≁C) collapse to one representative. Min-label
    // propagation: labels start at doc_id, each round takes the min over
    // self ∪ neighbors, materialized per round (lineage truncation — the
    // iterative-plan lesson from q24f), stopping when a round changes no
    // label. Convergence needs O(graph diameter) rounds of one join + one
    // aggregation each, both shuffling on doc_id so the partitioning is
    // reused round to round; near-dup components are overwhelmingly tiny
    // (pairs/stars), so real corpora converge in 2–3 rounds. (The
    // O(log n)-round large-star/small-star variant is the same shuffle
    // pattern with a different neighbor rule — diameter is the honest
    // bound here.) The driver-side convergence check reads ONE count per
    // round, not data. Oracle: DuckDB recursive CTE computing min
    // reachable doc_id — a genuinely different algorithm, same fixpoint.
    QueryDef(
      "q23g_connected_components",
      s"""WITH RECURSIVE $sqlSigCtes,
         |$sqlPairCtes,
         |nbrs AS (SELECT da AS doc_id, db AS nbr FROM pairs
         |         UNION ALL SELECT db, da FROM pairs),
         |walk(doc_id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT n.doc_id, w.lbl FROM walk w JOIN nbrs n ON w.doc_id = n.nbr),
         |comp AS (SELECT doc_id, MIN(lbl) AS comp FROM walk GROUP BY doc_id),
         |sizes AS (SELECT comp AS c, COUNT(*) AS n_members FROM comp GROUP BY comp)
         |SELECT doc_id, comp, n_members
         |FROM comp JOIN sizes ON comp = c
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val pairs = confirmedPairs(s, dir)
      val edges = Materialize(s, dir, "cc_edges")(
        pairs.select(col("da").as("src"), col("db").as("dst"))
          .union(pairs.select(col("db").as("src"), col("da").as("dst"))))
      var labels = Materialize(s, dir, "cc_it0")(
        Tables.documents(s, dir).select(col("doc_id"), col("doc_id").as("comp")))
      var round = 0
      var changed = true
      while (changed && round < 20) {
        round += 1
        val viaNbr = edges
          .join(labels, edges("src") === labels("doc_id"))
          .select(col("dst").as("doc_id"), col("comp"))
        val next = Materialize(s, dir, s"cc_it$round")(
          labels.unionByName(viaNbr)
            .groupBy(col("doc_id")).agg(min(col("comp")).as("comp")))
        changed = next
          .join(labels.select(col("doc_id"), col("comp").as("prev")), "doc_id")
          .filter(col("comp") =!= col("prev"))
          .limit(1).count() > 0
        labels = next
      }
      val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("n_members"))
      labels.join(sizes, "comp")
        .select(col("doc_id"), col("comp"), col("n_members"))
        .orderBy("doc_id")
    },

    // X2+/Q23f — benchmark decontamination: flag corpus documents sharing
    // ≥ 5 distinct 3-token shingles with the held-out eval set (doc_id <
    // 25 stands in for the benchmark). The classic pre-training hygiene
    // pass: the eval set's shingle-hash set is tiny → broadcast, the corpus
    // side explodes its (already materialized) distinct shingle hashes and
    // semi-joins against it — one broadcast join + one aggregation, no
    // shuffle of the corpus text. At 100 TB the eval set stays broadcast
    // and the pass stays a single linear scan of the signature table.
    QueryDef(
      "q23f_contamination",
      s"""WITH $sqlSigCtes,
         |eval AS (SELECT DISTINCT unnest(shash) AS h FROM shd WHERE doc_id < 25),
         |ex AS (SELECT doc_id, unnest(shash) AS h FROM shd WHERE doc_id >= 25),
         |hits AS (SELECT ex.doc_id, COUNT(*) AS n_shared
         |         FROM ex JOIN eval USING (h) GROUP BY ex.doc_id)
         |SELECT doc_id, n_shared FROM hits
         |WHERE n_shared >= 5 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val shd = sigTable(s, dir).select(col("doc_id"), col("shash"))
      val eval = shd.filter(col("doc_id") < 25)
        .select(explode(col("shash")).as("h")).distinct()
      shd.filter(col("doc_id") >= 25)
        .select(col("doc_id"), explode(col("shash")).as("h"))
        .join(broadcast(eval), "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 5)
        .orderBy("doc_id")
    },

    // X2/Q23c — SimHash near-dup pairs: 2 sub-bands of 8 bits; pigeonhole
    // guarantees any pair at Hamming distance ≤ 1 shares at least one
    // sub-band, so the bucket equi-join finds all of them — and 8-bit bands
    // keep buckets ~16× smaller than 4-bit ones, shrinking the candidate
    // join quadratically. (16-bit SimHash is the testdata-scale demo; the
    // 100-TB config is 64-bit with wider bands — same plan shape.)
    QueryDef(
      "q23c_simhash_pairs",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |sh AS (SELECT doc_id, ${sqlSimhash16(sqlHashArray("toks"))} AS h FROM src),
         |bands AS (
         |  SELECT doc_id, h, j, (h // CAST(power(256, j) AS BIGINT)) % 256 AS bv
         |  FROM sh, (SELECT unnest(generate_series(0, 1)) AS j)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.h AS ha, b.h AS hb
         |  FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv
         |    AND a.doc_id < b.doc_id)
         |SELECT da, db, ha, hb, ${sqlHamming("ha", "hb")} AS ham
         |FROM cand WHERE ${sqlHamming("ha", "hb")} <= 1
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
      // parquet column pruning reads only (doc_id, simhash) off the shared
      // signature table — no separate SimHash pass
      val base = sigTable(s, dir).select(col("doc_id"), col("simhash").as("h"))
      val bandRows = base
        .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(1))).as("j"))
        .withColumn("bv", floor(col("h") / pow(lit(256), col("j"))).cast("long") % 256)
      // hamming filter sits in the join condition so the (large) bucket
      // collision set shrinks before the distinct's shuffle
      bandRows.alias("a")
        .join(bandRows.alias("b"),
          col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id") &&
            hamming(col("a.h"), col("b.h")) <= 1)
        .select(
          col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          col("a.h").as("ha"), col("b.h").as("hb"))
        .distinct()
        .withColumn("ham", hamming(col("ha"), col("hb")))
        .orderBy("da", "db")
    },

    // X2/Q23d — char-4-gram Jaccard (stride-2 w-shingling) under
    // token-prefix blocking: docs sharing their first 3 tokens are compared
    // exactly. Prefix blocking is the cheap high-recall blocker for
    // boilerplate/near-identical docs; the block key is the shuffle key; the
    // stride halves gram volume with near-identical pair discrimination.
    //
    // Engine-side representation: grams are xxhash64'd to int64 BEFORE the
    // per-doc collect_set, so the materialized table and the join carry
    // array<bigint>, not array<string> — ~8× less payload and allocation
    // than 4-char UTF8Strings, and set sizes/intersections are identical to
    // the string sets barring a 64-bit collision within one compared pair
    // (p < 1e-13 per pair; deterministic, and the oracle below, which
    // compares the RAW gram strings in DuckDB, would catch one). Jaccard is
    // computed from ONE array_intersect (|A∪B| = |A|+|B|−|A∩B| for the
    // duplicate-free collect_set arrays), not intersect+union twice.
    //
    // Block bound: a gram-count bucket (width ln(10/3) in log-size space) is
    // a SECONDARY join key. J ≥ 0.3 ⇒ J ≤ min/max ⇒ |A|/|B| ≤ 10/3 ⇒ the
    // two log-sizes differ by < one bucket width, so every qualifying pair
    // is found with the probe side exploded to buckets {b−1, b, b+1}
    // (each pair matches exactly ONE of the three — no dedup needed). A
    // boilerplate-heavy corpus where thousands of docs share a 3-token
    // prefix no longer forms one O(|block|²) hot block unless the docs are
    // ALSO within 3.3× of each other in gram count — the remaining pairs
    // are exactly the candidates the J ≥ 0.3 predicate could accept.
    // Oracle parity: bucketing only prunes pairs that cannot pass the
    // Jaccard filter, so the prefix-only DuckDB formulation is unchanged.
    QueryDef(
      "q23d_ngram_jaccard_pairs",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks,
         |    list_distinct(${sqlCharGrams("text", stride = 2)}) AS grams FROM documents),
         |keyed AS (SELECT doc_id, grams,
         |    concat_ws(' ', toks[1], toks[2], toks[3]) AS pkey FROM src)
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |round(${sqlJaccard("a.grams", "b.grams")}, 6) AS gram_jaccard
         |FROM keyed a JOIN keyed b ON a.pkey = b.pkey AND a.doc_id < b.doc_id
         |WHERE ${sqlJaccard("a.grams", "b.grams")} >= 0.3
         |ORDER BY da, db""".stripMargin) { (s, dir) =>
      val keyed = Materialize(s, dir, "q23d_keyed")(
        charGramKeyed(Tables.documents(s, dir), xxhash64(_)))
      charGramJaccardPairs(keyed)
    },

    // X1+/Q22c — sub-document duplication: per document, the fraction of its
    // distinct 3-token shingles that also occur in at least one OTHER
    // document — the span-level dedup signal (boilerplate detection) that
    // doc-level hashing misses. Shape: explode the (already materialized)
    // distinct shingle-hash sets, aggregate document frequency per hash,
    // join back, re-aggregate per doc — two shuffles, both on keys with
    // bounded cardinality growth, the standard corpus-scale recipe. At
    // 100 TB the df table is the corpus-wide shingle index; heavy-hitter
    // shingle hashes (boilerplate) are exactly the skewed keys AQE splits.
    QueryDef(
      "q22c_dup_ngram_frac",
      s"""WITH $sqlSigCtes,
         |ex AS (SELECT doc_id, unnest(shash) AS h FROM shd),
         |df AS (SELECT h, COUNT(*) AS df FROM ex GROUP BY h)
         |SELECT ex.doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
         |  round(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         |    AS shared_frac
         |FROM ex JOIN df ON ex.h = df.h
         |GROUP BY ex.doc_id ORDER BY ex.doc_id""".stripMargin) { (s, dir) =>
      // shash is distinct per doc, so COUNT per hash = document frequency
      val ex = sigTable(s, dir).select(col("doc_id"), explode(col("shash")).as("h"))
      val df = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      ex.join(df, "h")
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(
          col("doc_id"), col("n_shingles"), col("n_shared"),
          round(col("n_shared").cast("double") / col("n_shingles"), 6).as("shared_frac"))
        .orderBy("doc_id")
    },

    // X2+++/Q23h — fuzzy entity matching via SymSpell deletion-neighborhood
    // blocking, over customer names (the document vocabulary is 31 tokens
    // with no near-misses; names differing in one digit are the classic
    // entity-resolution case): every name emits itself plus its 1-deletion
    // variants as join keys; two strings at edit distance 1 (sub/ins/del)
    // ALWAYS share a key (substitution: both delete the differing position;
    // ins/del: the longer one's delete IS the shorter), so the candidate
    // equi-join is provably complete — no all-pairs levenshtein scan, which
    // is the naive quadratic formulation. Candidates are confirmed with one
    // levenshtein call per pair, then aggregated to a per-name fuzzy-dup
    // degree. Keys per name = len+1 (linear in table size); the join key is
    // the shuffle key — the same blocked-pair shape as q23b/q23d, which is
    // what survives a 100 TB entity table.
    QueryDef(
      "q23h_symspell_fuzzy",
      """WITH v AS (SELECT DISTINCT c_name AS t FROM customer),
        |keys AS (SELECT t, unnest(list_append(
        |    list_transform(generate_series(1, len(t)),
        |                   i -> substr(t, 1, i-1) || substr(t, i+1, len(t))), t)) AS k
        |  FROM v),
        |cand AS (SELECT DISTINCT a.t AS wa, b.t AS wb
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.t < b.t),
        |conf AS (SELECT wa, wb FROM cand WHERE levenshtein(wa, wb) = 1),
        |sym AS (SELECT wa AS t, wb AS nbr FROM conf
        |        UNION ALL SELECT wb, wa FROM conf)
        |SELECT t AS name, COUNT(*) AS n_nbrs FROM sym
        |GROUP BY t ORDER BY name""".stripMargin) { (s, dir) =>
      val v = Tables.customer(s, dir).select(col("c_name").as("t")).distinct()
      val keys = v.select(col("t"), explode(expr(
        """array_append(
          |  transform(sequence(1, length(t)),
          |            i -> concat(substring(t, 1, i-1),
          |                        substring(t, i+1, length(t)))), t)""".stripMargin))
        .as("k"))
      // Materialized: both branches of the symmetrization union read `conf`,
      // and without this the whole scan→explode→blocked-join→distinct→
      // levenshtein subtree is instantiated twice in the physical plan
      // (round-3 bench: 12.6 s, slowest query in the suite). One parquet
      // round-trip of the tiny confirmed-pair table halves the work; at
      // entity-resolution scale the confirmed-match table is exactly the
      // artifact you'd persist anyway.
      val conf = Materialize(s, dir, "q23h_conf")(
        keys.alias("a")
          .join(keys.alias("b"),
            col("a.k") === col("b.k") && col("a.t") < col("b.t"))
          .select(col("a.t").as("wa"), col("b.t").as("wb"))
          .distinct()
          .filter(levenshtein(col("wa"), col("wb")) === 1))
      conf.select(col("wa").as("t"))
        .unionByName(conf.select(col("wb").as("t")))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_nbrs"))
        .select(col("t").as("name"), col("n_nbrs"))
        .orderBy("name")
    },

    // X2+T7/Q29c — streaming near-dup gate: every incoming document is
    // MinHash-banded PER EVENT and probed against the FROZEN corpus band
    // index — the incremental-ingest shape of LSH dedup (new data vs an
    // existing signature index), where q23b is the batch backfill over the
    // whole corpus. Per-event signatures use the higher-order-function form
    // (no aggregation state on the stream; the HOF-vs-explode trade
    // documented on sigTokFrame flips for per-record gating), the index
    // probe is a stream-static equi-join on the band key, and the only
    // stateful operator is one update-mode count — bounded by docs in
    // flight. At 100 TB the index is the bucketed band table this join
    // co-locates with; the gate's n_band_matches is collision multiplicity
    // (each shared (band, index entry) counts once), deliberately BEFORE
    // the exact-Jaccard confirm so the stream stays one narrow pass — the
    // confirm is q23b's batch job over the flagged slice.
    QueryDef(
      "q29c_stream_neardup_gate",
      s"""WITH $sqlSigCtes,
         |bands AS (
         |  SELECT doc_id, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)),
         |m AS (
         |  SELECT a.doc_id, COUNT(b.doc_id) AS n_band_matches
         |  FROM bands a LEFT JOIN bands b
         |    ON a.j = b.j AND a.bk = b.bk AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id)
         |SELECT doc_id, n_band_matches, n_band_matches > 0 AS flagged
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val gated = neardupGateStream(s, dir, StreamRunner.replay(
        s, Tables.documents(s, dir).select(col("doc_id"), col("text")), "q29c"))
      StreamRunner.toUpsert(s, gated, Seq("doc_id"), "q29c", flush = false)
        .orderBy("doc_id")
    },

    // X1/Q22d — incremental ingest dedup: an append-only corpus's new batch
    // (doc_id % 5 == 0 here; in production the day's arrivals) deduped
    // against the frozen history WITHOUT anti-joining the full archive. A
    // Bloom sketch of the BATCH keys (the small side — built by Spark's
    // distributed treeAggregate, a few MB on the driver) prefilters the
    // history scan: a history row can reach the confirm join only if the
    // sketch says its key might be in the batch. No false negatives ⇒ every
    // true duplicate survives the prefilter ⇒ the anti-join result is EXACT
    // regardless of false positives (those only inflate the candidate set by
    // ~fpp·|history|). The candidate set (true dups + fpp·|history|) is then
    // small enough to BROADCAST, so the batch side never shuffles: at 100 TB
    // the archive is one scan-riding bloom probe and the join is map-side.
    // (At extreme history sizes, size the broadcast by lowering fpp, or drop
    // the hint — the shuffle anti-join is still reduced ~1/fpp×.)
    // Exactness incl. the false-positive path is pinned by DedupEdgeSpec
    // (fpp = 0.5 run must equal the naive anti-join).
    QueryDef(
      "q22d_incremental_dedup",
      """SELECT d.doc_id, sha256(lower(trim(d.text))) AS text_sha
        |FROM documents d
        |WHERE d.doc_id % 5 = 0
        |  AND NOT EXISTS (SELECT 1 FROM documents h
        |                  WHERE h.doc_id % 5 <> 0
        |                    AND lower(trim(h.text)) = lower(trim(d.text)))
        |ORDER BY doc_id""".stripMargin)(
      (s, dir) => incrementalDedup(s, dir, fpp = 0.01)),

    // X1+/Q22e — SPAN-level dedup (CCNet-style paragraph/boilerplate
    // removal): the transform between doc-level dedup (q22: whole doc gone)
    // and the dup-fraction SIGNAL (q22c): repeated spans are REMOVED from
    // otherwise-unique docs and the cleaned text reassembled — headers,
    // footers, navigation chrome at web scale. Span unit here = fixed
    // 8-token segments (this corpus has no newline structure; with real
    // paragraphs the split expression changes, nothing else does). Shape at
    // 100 TB: segment slicing + hashing rides the scan (one md5 per ~8
    // tokens — q25p's chunk geometry, not CDC's per-byte rule); corpus df
    // is ONE explode + count-distinct-doc agg; the boilerplate list
    // (df ≥ 3) is df-filtered TINY (17 segments of 3.4k at sf0.01) and
    // broadcasts into a LEFT ANTI join, so the corpus never shuffles for
    // the removal; reassembly is a per-doc sort of surviving (position,
    // segment) pairs. Docs whose every span is boilerplate survive with
    // clean_text = '' (the downstream length filter kills them — this
    // operator never silently drops rows).
    QueryDef(
      "q22e_span_dedup",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |segs AS (SELECT doc_id, j,
         |    array_to_string(toks[(j*$SpanLen+1):(j*$SpanLen+$SpanLen)], ' ') AS stext
         |  FROM src, unnest(generate_series(0,
         |    CAST(ceil(len(toks)/$SpanLen.0) AS BIGINT) - 1)) AS t(j)),
         |h AS (SELECT doc_id, j, stext, ${sqlHash32("stext")} AS hh FROM segs),
         |bp AS (SELECT hh FROM (SELECT hh, COUNT(DISTINCT doc_id) AS df
         |                       FROM h GROUP BY 1) WHERE df >= $BoilerplateDf),
         |kept AS (SELECT doc_id, j, stext FROM h
         |         WHERE hh NOT IN (SELECT hh FROM bp)),
         |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
         |          string_agg(stext, ' ' ORDER BY j) AS clean_text
         |        FROM kept GROUP BY 1),
         |tot AS (SELECT doc_id, COUNT(*) AS n_segments FROM h GROUP BY 1)
         |SELECT t.doc_id, t.n_segments,
         |  t.n_segments - COALESCE(agg.n_kept, 0) AS n_removed,
         |  COALESCE(agg.clean_text, '') AS clean_text
         |FROM tot t LEFT JOIN agg ON t.doc_id = agg.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      // measured round 16: a scan spread here REGRESSED wall 0.94→1.66 s
      // (the collect_list/array_sort reassembly is GC/alloc-bound and
      // inflates under 32-way contention more than the serial scan costs)
      // — left on the narrow scan deliberately
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val segs = src.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(col("toks")) / lit(SpanLen.toDouble)).cast("int") - 1),
          j => concat_ws(" ", slice(col("toks"), j * SpanLen + 1, lit(SpanLen)))))
          .as(Seq("j", "stext")))
      val h = segs.withColumn("hh", hash32(col("stext")))
      val bp = h.groupBy(col("hh"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= BoilerplateDf)
        .select(col("hh"))
      val kept = h.join(broadcast(bp), Seq("hh"), "left_anti")
      val agg = kept.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("j"), col("stext")))),
          _.getField("stext"))).as("clean_text"))
      val tot = h.groupBy(col("doc_id")).agg(count(lit(1)).as("n_segments"))
      tot.join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_segments"),
          (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },

    // X1+/Q47 — cross-document duplicated-substring removal (the
    // ExactSubstr dedup of Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", 2022): any run of ≥ SubstrW consecutive
    // tokens that occurs more than once in the corpus is removed from every
    // occurrence EXCEPT the globally-first one. The suffix-array the paper
    // builds is replaced by the shuffle-native equivalent: slide a
    // SubstrW-token window over every doc, fingerprint each window
    // (60-bit md5 — collision odds negligible where 32 bits would already
    // birthday-collide), and resolve duplicates with a fingerprint-keyed
    // HASH AGGREGATION (count + lexicographic-min (doc_id, pos) keeper)
    // joined back onto the window stream. NOT window aggregates over
    // PARTITION BY fingerprint (VERDICT r12 #3): a boilerplate 8-token run
    // occurring 10^7 times across a 100 TB corpus is a heavy-hitter key,
    // and a window partition must land WHOLE in one task — AQE cannot
    // split it. The groupBy collapses heavy hitters map-side (partial
    // count/min before the shuffle ever sees them), and the join back on
    // the fingerprint is an equi-join AQE's skew rule CAN split. The
    // keeper key is min(struct(doc_id, pos)) — true lexicographic
    // first-occurrence, no radix packing for a ≥10^6-token document to
    // overflow (the old doc_id*1e6+pos form bled pos into the next doc's
    // range; DedupEdgeSpec pins the boundary). Non-keeper occurrences
    // merge into maximal per-doc spans (gaps-and-islands over pos), the
    // exact removal intervals ExactSubstr emits. Scale: the explode is
    // ~token-count rows — the declared cost of exact-substring dedup —
    // the dup side shrinks to repeated fingerprints only before the join,
    // and everything downstream is per-doc window/agg work, linear at
    // 100 TB.
    QueryDef(
      "q47_substring_dedup",
      sqlExactSubstrOracle) { (s, dir) =>
      val w = substrWindows(s, dir)
      // skew-safe duplicate resolution: groupBy on the fingerprint with
      // map-side partial count/min (a heavy-hitter fingerprint collapses
      // to one row per map partition before the shuffle), HAVING-filtered
      // to repeated fingerprints only, then joined back — the join is an
      // equi-join AQE's skew rule can split, unlike a window partition
      val dup = w.groupBy(col("wh")).agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keeper"))
        .filter(col("cnt") >= 2)
        .select(col("wh"), col("keeper"))
      val r = w.join(dup, Seq("wh"))
        .filter(col("doc_id") =!= col("keeper.doc_id") ||
          col("pos") =!= col("keeper.pos"))
        .select(col("doc_id"), col("n"), col("pos"),
          (col("pos") + (SubstrW - 1)).as("endp"))
      substrSpanReport(r)
    },

    // X1+++/Q47b — INCREMENTAL ExactSubstr: tonight's batch (q45's
    // doc_id % 7 == 0 rule) substring-deduplicated against the STANDING
    // corpus without re-resolving history-vs-history duplicates. The
    // materialized width-8 fingerprint table (substrWindows) plays the
    // standing index a production pipeline persists: a batch window is
    // removable if it appears ANYWHERE in history (history is immutable,
    // so the history copy is always the keeper — even when the batch doc
    // id is lower) or if it repeats within the batch (min(struct) keeper,
    // q47's rule). Marginal work is batch-proportional the q22d/q45 way:
    // a Bloom sketch of the BATCH's fingerprints rides the history index
    // scan (native might_contain, codegen'd, no shuffle of history), so
    // only ~batch-sized survivors reach the distinct + confirm join —
    // hash-of-hash keeps the no-false-negatives guarantee, and the exact
    // equi-join on wh discards any false positive before it can flag a
    // window. Span semantics are q47's verbatim (shared tail).
    QueryDef(
      "q47b_incremental_substring",
      s"""WITH $sqlSubstrWindowCtes,
         |bw AS (SELECT doc_id, n, pos, wh FROM w WHERE doc_id % 7 = 0),
         |hw AS (SELECT DISTINCT wh AS hwh FROM w WHERE doc_id % 7 <> 0),
         |bd AS (SELECT wh AS bwh, MIN(ROW(doc_id, pos)) AS keeper FROM bw
         |       GROUP BY wh HAVING COUNT(*) >= 2),
         |r AS (SELECT bw.doc_id, bw.n, bw.pos, bw.pos + ${SubstrW - 1} AS endp
         |      FROM bw LEFT JOIN hw ON bw.wh = hw.hwh
         |              LEFT JOIN bd ON bw.wh = bd.bwh
         |      WHERE hw.hwh IS NOT NULL
         |         OR (bd.bwh IS NOT NULL AND ROW(bw.doc_id, bw.pos) <> bd.keeper)),
         |$sqlSubstrSpanTail""".stripMargin) { (s, dir) =>
      val w = substrWindows(s, dir)
      val bw = w.filter(col("doc_id") % 7 === 0)
      // batch-fingerprint sketch, sized from the MATERIALIZED window
      // table's parquet footers (ADVICE r13: the old docs×128/7 bound
      // undersized on long-document corpora, inflating the FP rate — the
      // footers carry the actual corpus window count; metadata only, no
      // counting job) and built DISTRIBUTED via the bloom_filter_agg
      // machinery (VERDICT r13 #4): per-task partial filters OR-merge up
      // the aggregation tree, and the probe receives the sketch as a
      // SCALAR SUBQUERY — the exact build/probe pair InjectRuntimeFilter
      // emits (q43) — so no driver-built filter and no batch-proportional
      // task-binary literal; size is clamped by the runtime-bloom-filter
      // conf caps. Probed INSIDE the history scan so history is never
      // shuffled wholesale.
      val totalWindows = Materialize.pathFor(s, dir, s"substr_w$SubstrW")
        .map(Tables.parquetRowCount(s, _))
        .getOrElse(Tables.parquetRowCount(s, s"$dir/documents.parquet") * 128)
      val expected = math.max(1000L, totalWindows / 7 + 1)
      graft.functions.SketchFunctions.register(s)
      val sketch = bw.select(xxhash64(col("wh")).as("kh"))
        .agg(graft.functions.SketchFunctions
          .bloomSketchAgg(col("kh"), expected, 0.01).as("sk"))
        .scalar()
      val hw = w.filter(col("doc_id") % 7 =!= 0)
        .filter(graft.functions.SketchFunctions.bloomMightContain(
          sketch, xxhash64(col("wh"))))
        .select(col("wh").as("hwh")).distinct()
      val bd = bw.groupBy(col("wh")).agg(
        count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("keeper"))
        .filter(col("cnt") >= 2)
        .select(col("wh").as("bwh"), col("keeper"))
      val r = bw
        .join(hw, col("wh") === col("hwh"), "left")
        .join(bd, col("wh") === col("bwh"), "left")
        .filter(col("hwh").isNotNull ||
          (col("bwh").isNotNull && (col("doc_id") =!= col("keeper.doc_id") ||
            col("pos") =!= col("keeper.pos"))))
        .select(col("doc_id"), col("n"), col("pos"),
          (col("pos") + (SubstrW - 1)).as("endp"))
      substrSpanReport(r)
    },

    // X2+/Q49 — cross-source corpus-overlap matrix: the union MinHash of a
    // source is the ELEMENT-WISE MIN of its docs' signatures (min over a
    // union = min of mins), so per-source signatures cost one bounded-state
    // aggregation over the already-materialized per-doc signature table —
    // k longs per source — and the pairwise Jaccard matrix is a broadcast
    // self-join over #sources rows. The data-mixing diagnostic a curation
    // pipeline runs before setting source weights (which crawls duplicate
    // which); at 100 TB the per-doc sig computation rides the scan
    // (materialized once, shared with q23/q23b/q29c), the per-source state
    // is KB, and the pair join is O(sources²) on grams of data.
    QueryDef(
      "q49_source_overlap",
      s"""WITH $sqlSigCtes,
         |ds AS (SELECT g.doc_id, d.source, g.sig FROM sig g
         |       JOIN documents d ON g.doc_id = d.doc_id),
         |u AS (SELECT source,
         |  ${(1 to MinhashK).map(i => s"min(sig[$i])").mkString("[", ", ", "]")} AS msig
         |  FROM ds GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  round(${sqlEstJaccard("a.msig", "b.msig")}, 6) AS est_j
         |FROM u a JOIN u b ON a.source < b.source
         |ORDER BY src_a, src_b""".stripMargin) { (s, dir) =>
      val ds = sigTable(s, dir).select(col("doc_id"), col("sig"))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      val u = ds.groupBy(col("source")).agg(
        array((1 to MinhashK).map(i =>
          min(try_element_at(col("sig"), lit(i)))): _*).as("msig"))
      u.alias("a")
        .join(broadcast(u.alias("b")), col("a.source") < col("b.source"))
        .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
          round(estJaccard(col("a.msig"), col("b.msig")), 6).as("est_j"))
        .orderBy("src_a", "src_b")
    },

    // X1+X4/Q50 — keep-BEST-per-duplicate-cluster: q23e's one-hop canonical
    // clusters re-resolved by QUALITY instead of first-occurrence — the
    // representative a production pipeline actually keeps is the
    // highest-quality member of each near-dup cluster (CCNet keeps
    // lowest-perplexity; here q48's classifier score, ties to the lowest
    // doc_id so the choice is total). Composition of two existing
    // materialization-backed stages: the canon frame (shared pair table)
    // joins the classifier accumulation on doc_id, then ONE window
    // ranked by (wsum DESC, doc_id) inside each cluster picks the keeper.
    // Scale: the join and the window both key on doc_id/canon — clusters
    // are tiny (pairs/stars; singletons dominate), so the cluster window
    // has near-unique keys and no skew. Ranking is the MEAN weight
    // wsum/n_feats (raw wsum is length-biased — a longer doc accumulates
    // more features, not better ones); the division is one IEEE double op
    // over exact integers, bit-identical in any engine, with doc_id
    // breaking the residual ties totally.
    QueryDef(
      "q50_cluster_keep_best",
      s"""WITH $sqlSigCtes,
         |$sqlPairCtes,
         |nbrs AS (SELECT da AS doc_id, db AS nbr FROM pairs
         |         UNION ALL SELECT db, da FROM pairs),
         |m AS (SELECT doc_id, MIN(nbr) AS mn FROM nbrs GROUP BY doc_id),
         |canon AS (SELECT d.doc_id,
         |  COALESCE(LEAST(d.doc_id, m.mn), d.doc_id) AS canon
         |  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
         |${QualityQueries.sqlClsCtes},
         |j AS (SELECT c.doc_id, c.canon, cm.n_feats, cm.wsum
         |      FROM canon c JOIN cm ON c.doc_id = cm.doc_id),
         |r AS (SELECT doc_id, canon, n_feats, wsum,
         |  ROW_NUMBER() OVER (PARTITION BY canon
         |                     ORDER BY wsum::DOUBLE / n_feats DESC, doc_id) AS rk
         |  FROM j)
         |SELECT doc_id, canon,
         |  round(wsum::DOUBLE / (n_feats * 500.0), 6) AS score,
         |  rk = 1 AS kept
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val j = canonFrame(s, dir).select(col("doc_id"), col("canon"))
        .join(QualityQueries.clsScored(s, dir), Seq("doc_id"))
      val byCluster = Window.partitionBy(col("canon"))
        .orderBy((col("wsum").cast("double") / col("n_feats")).desc, col("doc_id"))
      j.withColumn("rk", row_number().over(byCluster))
        .select(col("doc_id"), col("canon"),
          round(col("wsum").cast("double") / (col("n_feats") * 500.0), 6)
            .as("score"),
          (col("rk") === 1).as("kept"))
        .orderBy("doc_id")
    },

    // X1+X4/Q52 — train/val-split CONTAMINATION AUDIT: the overlap report
    // (GPT-3 appendix C's "dirty" analysis, Lee et al. 2022 §6.2) measuring
    // how much verbatim train text leaks into each val/test document under
    // the NAIVE doc-id hash split (q25j's literal rule — q22f's
    // cluster-keyed split is the fix this audit motivates). Per val/test
    // doc: total width-SubstrW windows, windows also present in ANY train
    // doc, and the leaked fraction — severity, not just membership.
    // Reuses q47's window fingerprints; the split label is scan-riding
    // hash arithmetic (no join to assign it). Scale: the train window set
    // stays distributed — the probe is a left equi-join on the near-unique
    // 60-bit fingerprint (one shuffle of the window stream, q47's declared
    // cost); the report is val/test-sized (~10% of docs), nothing collects.
    contaminationDef("q52_split_contamination", SubstrW),

    // X1+X4/Q52b — the SAME audit at window width 13: GPT-3's filtering
    // recipe measured overlap with 13-gram collisions (Brown et al. 2020,
    // appendix C), where q52's width-8 is q47's removal granularity. One
    // builder instantiated at both widths (VERDICT r12 #8) pins that the
    // recipe PARAMETERIZES — the fingerprint width is a knob of the shared
    // window machinery, not a constant baked through the plumbing. Fewer
    // docs qualify (need ≥ 13 tokens) and hits are strictly rarer (a
    // 13-gram collision implies its 8-gram prefixes collide, not vice
    // versa); cost profile is identical to q52's.
    contaminationDef("q52b_contamination_n13", 13),

    // X1+/Q61 — SOURCE-PRECEDENCE exact dedup: when the same document
    // arrives through multiple crawls/feeds, keep the copy from the
    // highest-priority source (RefinedWeb/Dolma keep curated > crawl;
    // CommonCrawl dedup keeps the newest snapshot) — the third keeper
    // policy beside q22's first-occurrence and q50's quality-argmax, and
    // the one an ingest pipeline with heterogeneous feeds actually runs.
    // The priority is a deterministic hash of the source name standing in
    // for the curated precedence list (q48's trained-weight precedent:
    // swap the hash for a broadcast |sources|-row lookup and nothing else
    // changes — it's scan-riding arithmetic either way, never a shuffle
    // key). Resolution is q47's skew-safe shape verbatim: ONE
    // sha-keyed groupBy with map-side partial count/min — a boilerplate
    // doc duplicated across every feed collapses per map partition before
    // the shuffle — then an AQE-splittable equi-join back; keeper =
    // lexicographic min(struct(prio, source, doc_id)) (source breaks
    // priority ties, doc_id totalizes). Linear at 100 TB.
    QueryDef(
      "q61_source_precedence",
      s"""WITH d AS (SELECT doc_id, source,
         |    ${sqlHash32("concat('prio:', source)")} % 100 AS prio,
         |    sha256(lower(trim(text))) AS text_sha FROM documents),
         |g AS (SELECT text_sha, COUNT(*) AS n_copies,
         |    MIN(ROW(prio, source, doc_id)) AS keeper
         |  FROM d GROUP BY text_sha)
         |SELECT d.doc_id, d.source, d.prio, d.text_sha, g.n_copies,
         |  ROW(d.prio, d.source, d.doc_id) = g.keeper AS kept
         |FROM d JOIN g ON d.text_sha = g.text_sha
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          (hash32(concat(lit("prio:"), col("source"))) % 100).as("prio"),
          sha2(lower(trim(col("text"))), 256).as("text_sha"))
      val g = d.groupBy(col("text_sha")).agg(
        count(lit(1)).as("n_copies"),
        min(struct(col("prio"), col("source"), col("doc_id"))).as("keeper"))
      d.join(g, Seq("text_sha"))
        .select(col("doc_id"), col("source"), col("prio"), col("text_sha"),
          col("n_copies"),
          (col("prio") === col("keeper.prio") &&
            col("source") === col("keeper.source") &&
            col("doc_id") === col("keeper.doc_id")).as("kept"))
        .orderBy("doc_id")
    },

    // X1+++/Q63 — GENERALIZED SUFFIX ARRAY by distributed PREFIX DOUBLING:
    // the actual index Lee et al. 2022 build for ExactSubstr (q47
    // approximates it with fixed-width fingerprints; the suffix array is
    // the exact, width-free structure — longest-match queries, LCP-based
    // duplicate mining, substring search all read it). Construction is
    // Manber–Myers prefix doubling in its distributed-sort formulation
    // (Flick & Aluru, SC'15): rank suffixes by their first 2^k tokens,
    // then pair each position's rank with the rank at pos+2^k and
    // re-rank — depth doubles per round.
    //
    // Scale shape (the reason this is Spark-expressible at 100 TB):
    //  - GENERALIZED (per-document) suffixes, ordered globally: suffixes
    //    end at their doc's end, so no corpus-global token offset — and
    //    therefore no global prefix-sum — ever exists. Cross-doc suffixes
    //    are meaningless for dedup anyway (production separators stop
    //    matches at doc boundaries).
    //  - Depth bounded at SaDepth=32 tokens (ties → (doc_id, pos)):
    //    fixes the round count at 5, data-independent. See [[SaDepth]].
    //  - Each round: ONE (doc_id, pos)-keyed shifted SELF-JOIN (plain
    //    equi-join — AQE-splittable, no window), one distinct over
    //    (r1, r2) pairs, one [[distDenseRank]] (range exchange + parallel
    //    local ranks + broadcast range offsets — the two-phase distributed
    //    re-rank; NO single-partition window anywhere), one rank
    //    join-back. ~4 linear shuffles × 5 rounds, all AQE-managed.
    //  - Rounds materialize eagerly TO PARQUET (durable — recomputable
    //    after executor loss, unlike a local checkpoint; superseded
    //    rounds reclaimed as the next lands) because the shifted
    //    self-join reads the previous round twice — un-truncated lineage
    //    doubles the LOGICAL PLAN per round (2^rounds copies of the base
    //    chain by the end) and recomputes the whole chain per branch.
    // The oracle is a DIFFERENT algorithm for the same object — DuckDB
    // sorts the depth-32 suffix prefixes directly as strings (chr(1)
    // separator: below every token byte, so concatenated-string order ==
    // token-sequence order, and a doc-end prefix sorts before its
    // extensions exactly like the rank chain's r2 = -1) — so parity pins
    // the construction, not a shared formula.
    QueryDef(
      "q63_suffix_array",
      sqlSaReportOracle) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val (_, r) = suffixRanks(s, dir)
      // the report: first SaTopK array entries (TakeOrderedAndProject —
      // map-side top-k partials, never a full result sort) + an 8-token
      // prefix as human-readable evidence. The RAW text joins the
      // broadcast top-k first and only the ≤ SaTopK surviving rows are
      // tokenized (round 17) — previously the whole corpus was tokenized
      // to render a bounded report.
      val top = r.orderBy(col("r"), col("doc_id"), col("pos")).limit(SaTopK)
      Tables.documents(s, dir)
        .join(broadcast(top), Seq("doc_id"))
        .select(col("doc_id"), col("pos"), col("r"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("pos"), col("r"),
          concat_ws(" ",
            (0 until 8).map(j =>
              try_element_at(col("toks"), (col("pos") + lit(j)).cast("int"))): _*)
            .as("prefix8"))
        .withColumn("sa_pos",
          row_number().over(Window.orderBy(col("r"), col("doc_id"), col("pos")))
            .cast("long"))
        .select(col("sa_pos"), col("doc_id"), col("pos"), col("prefix8"))
        .orderBy("sa_pos")
    },

    // X1+++/Q63b — LCP DUPLICATE-MASS SPECTRUM: the consumer the suffix
    // array exists for. LCP[i] = length of the common token prefix of
    // suffix-array neighbors i and i+1 (bounded at SaDepth, like the array
    // order itself); every duplicated substring of length L in the corpus
    // appears as a maximal run of adjacent entries with LCP ≥ L, so the
    // histogram of LCP values is the corpus's duplication spectrum — the
    // figure that tells you what ExactSubstr's minimum-match threshold
    // would remove BEFORE running removal (Lee et al. 2022 §4 pick 50
    // chars by exactly this kind of profile). Per LCP value: pair count +
    // the lexicographically-least witness (doc_id, pos).
    //
    // Scale shape:
    //  - Global SA adjacency WITHOUT a global sort: the prefix-doubling
    //    ranks are dense over depth-32 prefix classes, so appending the
    //    (doc_id, pos) tie-break makes every row's key unique and a dense
    //    rank over (r, doc_id, pos) IS the suffix-array position — the
    //    same two-phase distributed re-rank (range exchange + per-range
    //    local windows + broadcast offsets) assigns it; neighbor pairing
    //    is then ONE equi-join on sa_pos = sa_pos + 1, AQE-splittable.
    //  - The LCP compare joins each entry's depth-32 token slice
    //    (~SaDepth small tokens/row, one shuffle each side). That is the
    //    same per-round shuffle mass as carrying the 6 rank tables through
    //    the classic rank-chain LCP walk (12 joins of ~24-byte rows), in
    //    TWO joins instead of twelve — at any scale the bytes tie and the
    //    stage count wins.
    //  - The compare itself is zip_with + array_position over the two
    //    bounded slices — codegen'd, no UDF; the final aggregate has
    //    ≤ SaDepth+1 groups (map-side partials collapse everything).
    QueryDef(
      "q63b_lcp_mining",
      sqlLcpHistogramOracle) { (s, dir) =>
      // the spectrum is a ≤ SaDepth+1-group aggregate over the stored LCP
      // array ([[saLcp]] — built once, shared with q63c/q63d); map-side
      // partials collapse everything before the shuffle
      val (_, lcpT) = saLcp(s, dir)
      lcpT
        .groupBy("lcp")
        .agg(count(lit(1)).as("n_pairs"),
          min(struct(col("a_doc").as("doc_id"), col("a_pos").as("pos"))).as("ex"))
        .select(col("lcp"), col("n_pairs"),
          col("ex.doc_id").as("example_doc_id"),
          col("ex.pos").as("example_pos"))
        .orderBy("lcp")
    },

    // X1+++/Q63c — SUFFIX-ARRAY ExactSubstr removal: the paper-faithful
    // path. Lee et al. 2022 mine duplicated spans from the suffix array
    // itself; q47 replaces that with width-SubstrW fingerprints (fast, but
    // a 60-bit hash admits collisions in principle). Here the array does
    // the detection EXACTLY: a width-SubstrW window occurs ≥ 2 times in
    // the corpus iff its suffix shares an LCP ≥ SubstrW with a suffix-
    // array NEIGHBOR (equal-prefix suffixes form a contiguous SA block;
    // every member of a ≥2 block touches an adjacent pair with LCP ≥
    // SubstrW, a size-1 block touches none) — no hashing anywhere in the
    // detection. Keeper resolution then groups the MARKED positions by
    // the literal 8-token window content (the marked set is only the
    // duplicated windows — the group-by runs over the duplicate mass, not
    // the corpus) with q47's min(struct(doc_id, pos)) rule, and the span
    // merge + report is the shared tail. The ORACLE IS q47's, verbatim
    // ([[sqlExactSubstrOracle]]): two independent algorithms — hash
    // resolution vs suffix-array adjacency — pinned to byte-identical
    // output by the same gate, which is simultaneously the collision
    // certification for q47's fingerprints on this corpus.
    QueryDef("q63c_sa_substring_dedup", sqlExactSubstrOracle) { (s, dir) =>
      saSubstrDedup(s, dir, SubstrW)
    },

    // X1+++/Q63d — MINIMUM-MATCH-parameterized SA removal (VERDICT r13
    // "what's missing" #1): the suffix array's entire advantage over
    // fixed-width fingerprints is width-FREEDOM — Lee et al. 2022 read
    // their ~50-char threshold off the LCP profile and mine at that
    // length; q63b computes exactly that spectrum, and this query is the
    // consumer that turns a spectrum reading into a removal decision.
    // Same stored (SA, LCP) index as q63c — detection is one `lcp >=
    // SaMinMatch` knob on the materialized LCP table, no corpus rescan,
    // no new index build; keeper + span machinery unchanged. The oracle
    // is the width-SaMinMatch instance of the shared ExactSubstr text —
    // the fingerprint algorithm at a second width pinning the SA
    // algorithm at that width, the q63c cross-validation replayed at a
    // different operating point (SaSpec pins the width-8 instance equal
    // to q47 byte-for-byte).
    QueryDef("q63d_sa_substring_minmatch", sqlExactSubstrOracleW(SaMinMatch)) {
      (s, dir) => saSubstrDedup(s, dir, SaMinMatch)
    },

    // X1+++/Q63e — THRESHOLD SELECTION off the LCP spectrum: the decision
    // step between q63b (the spectrum) and q63d (removal at a width) —
    // for every candidate minimum-match width L ≤ SaDepth, the number of
    // SA adjacencies with LCP ≥ L and its rate over all adjacencies, plus
    // the RECOMMENDED width (smallest L at or under [[DupFracBudget]]) —
    // the quantitative form of Lee et al. reading ~50 chars off the
    // profile. Everything is bounded arithmetic over the stored LCP
    // table: one ≤ SaDepth-group count, a 32-row candidate grid theta-
    // joined to it (NO window, not even a 32-row one), and two broadcast
    // 1-row frames (total adjacencies; the argmin). Changing the budget
    // re-runs only this report — the index never rebuilds.
    QueryDef(
      "q63e_threshold_select",
      s"""WITH $sqlSaLcpCtes,
         |$sqlThresholdCtes
         |SELECT c.min_match, c.n_pairs_ge,
         |  round(c.n_pairs_ge::DOUBLE / tot.tot, 6) AS dup_frac,
         |  COALESCE(c.min_match = rec.rm, false) AS recommended
         |FROM curve c, tot, rec ORDER BY c.min_match""".stripMargin) { (s, dir) =>
      val (curve, tot, rec) = lcpThresholdFrames(s, dir)
      curve.crossJoin(broadcast(tot)).crossJoin(broadcast(rec))
        .select(col("min_match"), col("n_pairs_ge"),
          round(col("n_pairs_ge").cast("double") / col("tot"), 6).as("dup_frac"),
          coalesce(col("min_match") === col("rm"), lit(false)).as("recommended"))
        .orderBy("min_match")
    },

    // X1+++/Q63f — the spectrum→threshold→removal loop CLOSED (VERDICT r14
    // #3): q63e recommends a minimum-match width, and this query RUNS the
    // removal at that width — the full nightly decision a production
    // ExactSubstr pipeline executes (read the LCP profile → pick the
    // smallest in-budget width → mine at it), previously two disconnected
    // halves (q63e recommended, q63d removed at a compile-time constant).
    // The width is the q63e grid argmin read off the stored LCP table (a
    // 1-row plan-construction scalar, Lee et al.'s "read ~50 chars off the
    // profile" made algorithmic; COALESCE to SaDepth when no width meets
    // budget); the removal is the same stored-index saSubstrDedup tail —
    // no corpus rescan, no index rebuild, changing the budget re-runs only
    // arithmetic + the removal tail. The ORACLE derives the width the same
    // way (shared sqlThresholdCtes — the derivation text is ONE string, so
    // engine and oracle cannot diverge) and removes with dynamic-width
    // windows grouped by LITERAL window content (array_to_string slices —
    // hash-free, so this gate is also collision-free by construction),
    // q47's min(doc_id, pos) keeper rule, and the shared span-merge tail.
    QueryDef(
      "q63f_recommended_removal",
      s"""WITH $sqlSaLcpCtes,
         |$sqlThresholdCtes,
         |recw AS (SELECT COALESCE(rm, $SaDepth) AS rm FROM rec),
         |wsrc AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |wd AS (SELECT doc_id, toks, len(toks) AS n, rm FROM wsrc, recw
         |       WHERE len(toks) >= rm),
         |w AS (SELECT doc_id, n, rm, i AS pos,
         |    array_to_string(toks[i:i+rm-1], chr(1)) AS wh
         |  FROM wd, unnest(generate_series(1, n - rm + 1)) AS t(i)),
         |dup AS (SELECT wh, MIN(ROW(doc_id, pos)) AS keeper FROM w
         |        GROUP BY wh HAVING COUNT(*) >= 2),
         |r AS (SELECT w.doc_id, w.n, w.pos, w.pos + rm - 1 AS endp
         |      FROM w JOIN dup ON w.wh = dup.wh
         |      WHERE ROW(w.doc_id, w.pos) <> dup.keeper),
         |$sqlSubstrSpanTail""".stripMargin) { (s, dir) =>
      saSubstrDedup(s, dir, recommendedMinMatch(s, dir))
    },

    // X1+++/Q63g — INCREMENTAL SA MAINTENANCE (VERDICT r14 #4): the
    // suffix-array path's batch-vs-history form, completing the
    // incremental family (q22d keys, q47b windows, q64 vocabulary, q65
    // near-dup bands). A nightly batch (the shared doc_id % 7 rule)
    // arrives against a STANDING index — the history SA key table
    // ([[histSaKeys]]): instead of re-running the 5-round prefix-doubling
    // over history+batch (~20 corpus-sized shuffles), the nightly job
    //  (a) builds the BATCH's own suffix ranks with the q63 machinery
    //      over batch docs only (5 rounds over batch-sized frames), and
    //  (b) MERGES the two sorted rank sequences by rank interleave: one
    //      range exchange over the union of (standing key rows, batch key
    //      rows) ordered by the depth-bounded suffix key, then per-range
    //      local windows compute each batch suffix's history-predecessor
    //      count and each history suffix's batch-predecessor count —
    //      merged position = OWN stored rank + cross-side predecessors
    //      (batch: b_rank + hist-before; history: sa_pos + batch-before).
    //      Both sides' stored ranks are LOAD-BEARING: a stale or
    //      inconsistent standing index breaks the merged permutation and
    //      the gate catches it.
    // The (_pid, local-window) frame pins to parquet before the offsets
    // fan-out (distDenseRank's ADVICE-r13 rule: both consumers must read
    // ONE sampled range partitioning), and the only global window runs
    // over the ≤ shuffle-partition per-range count rows. Cost: the merge
    // is ONE linear shuffle of narrow precomputed key rows + the
    // batch-sized index build — vs the full rebuild's 5 rank-doubling
    // rounds over everything (growth rows in BASELINE.md). The ORACLE is
    // q63's VERBATIM (the full-rebuild string-sorted SA over
    // history+batch = all documents): merge–rebuild parity pinned by one
    // gate, the q45/q45b pattern.
    QueryDef("q63g_incremental_sa", sqlSaReportOracle) { (s, dir) =>
      val top = mergedSa(s, dir).filter(col("m_pos") <= SaTopK)
        .select(col("m_pos").as("sa_pos"), col("doc_id"), col("pos"))
      prefix8Report(s, dir, top)
    },

    // X1+++/Q63h — INCREMENTAL LCP MAINTENANCE: the second half of the
    // nightly index update (q63g merges POSITIONS; this updates the LCP
    // table the removal/threshold consumers actually read). The merged
    // array's adjacencies decompose exactly: a history pair stays
    // adjacent iff NO batch suffix landed between its members — and with
    // merged_h = sa_pos + batchBefore, that is the pure arithmetic test
    // batchBefore(left) == batchBefore(right) on the merge frame, no key
    // compare at all — while every adjacency INVOLVING a batch suffix is
    // new (≤ 2·batch+1 pairs: each inserted suffix touches its merged
    // neighbors at ±1). So the update = standing history LCP entries
    // FILTERED by the anti-join (carried forward verbatim, never
    // recomputed) ∪ freshly-compared new pairs (batch-PROPORTIONAL:
    // narrow probes broadcast, slice-widened rows shuffle — see
    // updatedLcp). Nothing history-sized is ever re-COMPARED — the only
    // corpus-linear work is the merge frame itself, now MATERIALIZED
    // once and shared with q63g (VERDICT r15 #2: previously each of the
    // two consumers rebuilt it).
    // ORACLE IS q63b's VERBATIM (the full-rebuild LCP histogram over
    // history+batch): update–rebuild parity pinned by one gate — and
    // since witnesses ride the per-lcp min, a single retained-vs-broken
    // misclassification anywhere flips a count or a witness and fails
    // the hash.
    QueryDef("q63h_incremental_lcp", sqlLcpHistogramOracle) { (s, dir) =>
      // raw text scan: updatedLcp semi-filters it to the endpoint docs
      // BEFORE tokenizing (round 17) — no corpus-wide tokenize, so the
      // round-16 Spread is obsolete here (the filtered work is
      // batch-proportional, not scan-bound)
      lcpHistogram(updatedLcp(mergedSa(s, dir), histSaLcp(s, dir),
        Tables.documents(s, dir)))
    },

    // X1++++/Q63i — MULTI-NIGHT COMPOUNDING, SA side (VERDICT r15 #1):
    // three successive nightly batches (doc_id % 7 == 0, 1, 2) merge into
    // a standing base (doc_id % 7 ≥ 3), each night's merged output
    // BECOMING the next night's standing key table (saChain) — the
    // single-night q63g gate iterated until the snapshot covers all
    // documents. ORACLE IS q63's VERBATIM full-rebuild report: a stale
    // carry in ANY night breaks the final permutation and fails the hash.
    QueryDef("q63i_chained_sa", sqlSaReportOracle) { (s, dir) =>
      val (hk, _) = saChain(s, dir)
      val top = hk.filter(col("sa_pos") <= SaTopK)
        .select(col("sa_pos"), col("doc_id"), col("pos"))
      prefix8Report(s, dir, top)
    },

    // X1++++/Q63j — MULTI-NIGHT COMPOUNDING, LCP side: the q63h update
    // applied each night to the PREVIOUS night's output table (keyed by
    // stable left-suffix identity, so no re-keying join exists anywhere
    // in the chain). ORACLE IS q63b's VERBATIM full-rebuild histogram
    // over all documents — night-3 chained ≡ rebuild by one gate.
    QueryDef("q63j_chained_lcp", sqlLcpHistogramOracle) { (s, dir) =>
      val (_, hl) = saChain(s, dir)
      lcpHistogram(hl)
    },

    // X2++/Q65 — batch-vs-history NEAR-DUP drift: the per-source rate of
    // tonight's batch (the q47b/q45/q64 doc_id % 7 rule) that is a
    // NEAR-duplicate of the standing corpus — band collision against the
    // history's LSH index, confirmed by exact shingle Jaccard ≥ 0.2. The
    // fourth instance of the batch-vs-history pattern (q22d exact keys,
    // q47b substring windows, q64 vocabulary, q65 near-dup content), and
    // q29c's streaming gate in its nightly-report form: a source whose
    // near-dup-of-history rate spikes is re-crawling content the corpus
    // already holds. Scale shape: signatures come from the SHARED
    // materialized sigtok table (one compute serves q23/q23b/q29c/q49 and
    // this), the history band index is a standing materialized artifact
    // (rebuilt per corpus snapshot, not per batch), the probe is a
    // batch-side band equi-join (AQE-splittable; candidates only —
    // never history × batch), and the confirm joins touch candidate
    // pairs only. Marginal cost is batch-proportional.
    QueryDef(
      "q65_neardup_drift",
      s"""WITH $sqlSigCtes,
         |hb AS (SELECT doc_id AS hid, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)
         |  WHERE doc_id % 7 <> 0),
         |bb AS (SELECT doc_id AS bid, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)
         |  WHERE doc_id % 7 = 0),
         |cand AS (SELECT DISTINCT bb.bid, hb.hid
         |  FROM bb JOIN hb ON bb.j = hb.j AND bb.bk = hb.bk),
         |conf AS (SELECT DISTINCT bid FROM cand
         |  JOIN sig x ON bid = x.doc_id JOIN sig y ON hid = y.doc_id
         |  WHERE ${sqlJaccard("x.shash", "y.shash")} >= 0.2),
         |b AS (SELECT doc_id, source FROM documents WHERE doc_id % 7 = 0)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN conf.bid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup,
         |  round(SUM(CASE WHEN conf.bid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(*), 6) AS neardup_frac
         |FROM b LEFT JOIN conf ON b.doc_id = conf.bid
         |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val sigs = sigTable(s, dir)
      // standing artifact: the history's band index (q29c materializes the
      // full-corpus form for its gate; the drift report needs history-only)
      val histIdx = Materialize(s, dir, "q65_hist_bands")(
        sigs.filter(col("doc_id") % 7 =!= 0)
          .select(col("doc_id").as("hid"),
            posexplode(lshBandKeys(col("sig"))).as(Seq("j", "bk"))))
      val batchBands = sigs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("bid"),
          posexplode(lshBandKeys(col("sig"))).as(Seq("bj", "bbk")))
      val cand = batchBands
        .join(histIdx, col("bj") === col("j") && col("bbk") === col("bk"))
        .select(col("bid"), col("hid")).distinct()
      val conf = cand
        .join(sigs.select(col("doc_id").as("xid"), col("shash").as("xsh")),
          col("bid") === col("xid"))
        .join(sigs.select(col("doc_id").as("yid"), col("shash").as("ysh")),
          col("hid") === col("yid"))
        .filter(jaccard(col("xsh"), col("ysh")) >= 0.2)
        .select(col("bid")).distinct()
      CurationPipeline.nightBatch(s, dir)
        .select(col("doc_id"), col("source"))
        .join(conf, col("doc_id") === col("bid"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bid").isNotNull, 1L).otherwise(0L)).as("n_neardup"))
        .select(col("source"), col("n_docs"), col("n_neardup"),
          round(col("n_neardup").cast("double") / col("n_docs"), 6)
            .as("neardup_frac"))
        .orderBy("source")
    },

    // X2+++/Q65b — MULTI-NIGHT COMPOUNDING of the LSH band index (the
    // q63i/q64b chain pattern applied to q65's standing artifact): night k
    // probes batch doc_id % 7 == k against the standing band index, then
    // APPENDS its own batch's band rows as a materialized delta that IS
    // part of night k+1's standing index — so a night-1 doc that near-dups
    // a night-0 BATCH doc must flag (the cross-night edge only a genuine
    // carry can see), while within-night pairs still must not (the index
    // grows after the night's probe). State write per night = the batch's
    // band rows (∝ batch, never a full-index rewrite); probes stay band
    // equi-joins against stored parquet — never history × batch; the
    // night's resolved verdicts materialize once (`q65b_conf_v{k}`), so
    // the served report re-runs only source-sized aggregates. Oracle
    // recomputes each night from raw docs with history = base + earlier
    // batches (chain–rebuild parity per night, q63i's gate shape).
    QueryDef("q65b_chained_neardup_drift", sqlChainedBandOracle) { (s, dir) =>
      val sigs = sigTable(s, dir)
      var idx: DataFrame = Materialize(s, dir, "q65b_bands_v0")(
        sigs.filter(col("doc_id") % 7 >= ChainNights)
          .select(col("doc_id").as("hid"),
            posexplode(lshBandKeys(col("sig"))).as(Seq("j", "bk"))))
      (0 until ChainNights).map { k =>
        val batchBands = sigs.filter(col("doc_id") % 7 === k)
          .select(col("doc_id").as("bid"),
            posexplode(lshBandKeys(col("sig"))).as(Seq("bj", "bbk")))
        val cand = batchBands
          .join(idx, col("bj") === col("j") && col("bbk") === col("bk"))
          .select(col("bid"), col("hid")).distinct()
        val conf = Materialize(s, dir, s"q65b_conf_v$k") {
          cand
            .join(sigs.select(col("doc_id").as("xid"), col("shash").as("xsh")),
              col("bid") === col("xid"))
            .join(sigs.select(col("doc_id").as("yid"), col("shash").as("ysh")),
              col("hid") === col("yid"))
            .filter(jaccard(col("xsh"), col("ysh")) >= 0.2)
            .select(col("bid")).distinct()
        }
        val delta = Materialize(s, dir, s"q65b_bands_v${k + 1}")(
          batchBands.select(col("bid").as("hid"), col("bj").as("j"),
            col("bbk").as("bk")))
        idx = idx.unionByName(delta)
        Tables.documents(s, dir).filter(col("doc_id") % 7 === k)
          .select(col("doc_id"), col("source"))
          .join(conf, col("doc_id") === col("bid"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("bid").isNotNull, 1L).otherwise(0L)).as("n_neardup"))
          .select(lit(k).as("night"), col("source"), col("n_docs"),
            col("n_neardup"),
            round(col("n_neardup").cast("double") / col("n_docs"), 6)
              .as("neardup_frac"))
      }.reduce(_.unionByName(_)).orderBy("night", "source")
    }
  )

  /** q65b's oracle: each night's q65 report recomputed from raw docs with
    * history = base (% 7 >= ChainNights) + all earlier batches. */
  private def sqlChainedBandOracle: String = {
    val blocks = (0 until ChainNights).map { k =>
      s"""hb$k AS (SELECT doc_id AS hid, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)
         |  WHERE doc_id % 7 >= $ChainNights OR doc_id % 7 < $k),
         |bb$k AS (SELECT doc_id AS bid, j, ${sqlLshBandKeys("sig")}[j+1] AS bk
         |  FROM sig, (SELECT unnest(generate_series(0, ${Bands - 1})) AS j)
         |  WHERE doc_id % 7 = $k),
         |cand$k AS (SELECT DISTINCT bb$k.bid, hb$k.hid
         |  FROM bb$k JOIN hb$k ON bb$k.j = hb$k.j AND bb$k.bk = hb$k.bk),
         |conf$k AS (SELECT DISTINCT bid FROM cand$k
         |  JOIN sig x ON bid = x.doc_id JOIN sig y ON hid = y.doc_id
         |  WHERE ${sqlJaccard("x.shash", "y.shash")} >= 0.2),
         |r$k AS (SELECT $k AS night, source, COUNT(*) AS n_docs,
         |    CAST(SUM(CASE WHEN conf$k.bid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_neardup,
         |    round(SUM(CASE WHEN conf$k.bid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |      / COUNT(*), 6) AS neardup_frac
         |  FROM (SELECT doc_id, source FROM documents WHERE doc_id % 7 = $k) b
         |  LEFT JOIN conf$k ON b.doc_id = conf$k.bid
         |  GROUP BY source)""".stripMargin
    }
    val union = (0 until ChainNights)
      .map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
    s"WITH $sqlSigCtes,\n${blocks.mkString(",\n")}\n$union ORDER BY night, source"
  }

  /** Width-parameterized train→val/test contamination audit (q52/q52b):
    * per non-train doc, total width-`ww` windows, windows also present in
    * ANY train doc, and the leaked fraction. The split label is
    * scan-riding hash arithmetic (no join to assign it); the probe is a
    * left equi-join on the near-unique 60-bit fingerprint (one shuffle of
    * the window stream); the report is val/test-sized. */
  private def contaminationDef(name: String, ww: Int): QueryDef =
    QueryDef(
      name,
      s"""WITH ${sqlSubstrWindowCtesW(ww)},
         |sw AS (SELECT doc_id, wh,
         |  CASE WHEN ${sqlHash32("concat('split:', doc_id)")} % 100 >= ${QualityQueries.TestFrom} THEN 'test'
         |       WHEN ${sqlHash32("concat('split:', doc_id)")} % 100 >= ${QualityQueries.ValFrom} THEN 'val'
         |       ELSE 'train' END AS split FROM w),
         |tw AS (SELECT DISTINCT wh AS twh FROM sw WHERE split = 'train'),
         |ev AS (SELECT doc_id, split, COUNT(*) AS n_windows, COUNT(twh) AS n_hit
         |       FROM sw LEFT JOIN tw ON sw.wh = tw.twh
         |       WHERE sw.split <> 'train'
         |       GROUP BY doc_id, split)
         |SELECT doc_id, split, n_windows, n_hit,
         |  round(n_hit::DOUBLE / n_windows, 6) AS hit_frac
         |FROM ev ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = hash32(concat(lit("split:"), col("doc_id"))) % 100
      // measured round 16: spreading the materialized window read was a
      // wash (q52 −0.2 s, q52b +0.2 s — the probe join's own exchange
      // already parallelizes the heavy half); left narrow deliberately
      val sw = substrWindows(s, dir, ww).select(col("doc_id"), col("wh"),
        when(bucket >= QualityQueries.TestFrom, "test")
          .when(bucket >= QualityQueries.ValFrom, "val")
          .otherwise("train").as("split"))
      val tw = sw.filter(col("split") === "train")
        .select(col("wh").as("twh")).distinct()
      sw.filter(col("split") =!= "train")
        .join(tw, col("wh") === col("twh"), "left")
        .groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_windows"), count(col("twh")).as("n_hit"))
        .select(col("doc_id"), col("split"), col("n_windows"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_windows"), 6).as("hit_frac"))
        .orderBy("doc_id")
    }

  /** q29c's gated pipeline over an arbitrary (doc_id, text) stream — shared
    * by the query (parquet replay of the documents table) and
    * StreamingSpec's bounded-state pin (a MemoryStream long replay).
    *
    * Shingle hashes are bound to an attribute before the k permutation
    * lambdas iterate them (the one-split-per-row rule); the index probe is
    * a stream-static equi-join on the band key; the only stateful operator
    * is one update-mode count. That count's state is NOT left to grow with
    * the corpus (VERDICT r9 #4 — the eviction is now CONFIGURED, not
    * claimed): each doc carries a deterministic arrival event-time
    * (epoch + doc_id seconds — the replayed stand-in for ingest time), the
    * stream is watermarked [[GateWatermark]] behind it, and the count
    * groups by (event-time window, doc_id). A doc's band probes all land
    * in its arrival micro-batch, so its count is final after that batch
    * and update mode emits it exactly once; once the watermark passes a
    * window, its groups' state is evicted — state is bounded by docs
    * inside the horizon (in flight), never the corpus
    * (StreamingSpec pins numRowsTotal ≪ docs ingested across a long
    * multi-batch replay). The window never changes results: doc_id is in
    * the group key and each doc has exactly one event-time.
    *
    * ORDERING PRECONDITION (ADVICE r10): because event time is synthesized
    * from doc_id, the watermark tracks max(doc_id seen) − [[GateWatermark]],
    * so correctness requires micro-batches to deliver doc_ids roughly in
    * order — a doc arriving more than ~10 ids after a later id has been
    * seen would be dropped as late data. Both current callers satisfy it
    * structurally: q29c's parquet replay delivers ONE batch (nothing can be
    * late within a batch), and StreamingSpec's MemoryStream replay feeds
    * ascending id slices. A future multi-batch/paced caller whose source
    * reorders doc_ids beyond that skew must either widen [[GateWatermark]]
    * past the source's worst id skew or synthesize event time from actual
    * arrival time instead of doc_id. */
  private[graft] val GateWatermark = "10 seconds"
  private[graft] def neardupGateStream(s: SparkSession, dir: String,
                                       docs: DataFrame): DataFrame = {
    val idx = Materialize(s, dir, "q29c_band_index")(
      sigTable(s, dir).select(
        col("doc_id").as("idx_doc"),
        posexplode(lshBandKeys(col("sig"))).as(Seq("j", "bk"))))
    val ev = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(transform(shingles(col("toks")), v => hash32(v))).as("shash"))
      .select(col("doc_id"), minhashSig(col("shash")).as("sig"))
      .select(col("doc_id"), posexplode(lshBandKeys(col("sig"))).as(Seq("sj", "sbk")))
      .withColumn("dts", timestamp_seconds(lit(1704067200L) + col("doc_id")))
      .withWatermark("dts", GateWatermark)
    ev
      .join(idx,
        col("sj") === col("j") && col("sbk") === col("bk") &&
          col("idx_doc") =!= col("doc_id"),
        "left_outer")
      .groupBy(window(col("dts"), GateWatermark), col("doc_id"))
      .agg(count(col("idx_doc")).as("n_band_matches"))
      .select(col("doc_id"), col("n_band_matches"),
        (col("n_band_matches") > 0).as("flagged"))
  }

  /** q22d's pipeline with the bloom false-positive rate exposed so the spec
    * can crank it to 0.5 and pin that FPs never change the result. */
  private[graft] def incrementalDedup(s: SparkSession, dir: String, fpp: Double): DataFrame = {
    val key = lower(trim(col("text")))
    val docs = Tables.documents(s, dir)
    val batch = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), key.as("k"))
    val hist = docs.filter(col("doc_id") % 5 =!= 0).select(key.as("hk"))
    // expected-items bound from the parquet footers — metadata only, no scan
    // job (the sketch build below is the one distributed pass over the batch)
    val expected =
      math.max(1000L, Tables.parquetRowCount(s, s"$dir/documents.parquet") / 5 + 1)
    // The sketch stores xxhash64(key) longs — the exact put/probe pairing
    // Spark's own InjectRuntimeFilter emits (BloomFilterAggregate over
    // XxHash64 on the build side, BloomFilterMightContain + XxHash64 on the
    // probe side; both sides org.apache.spark.util.sketch.BloomFilter), so
    // the probe rides the history scan through the NATIVE `might_contain`
    // expression with whole-stage codegen — no scalar UDF, no
    // BatchEvalPython/Invoke node in the plan. Hash-of-hash keeps the
    // no-false-negatives guarantee: identical keys hash identically, so
    // every true duplicate still reaches the confirm join. Built
    // DISTRIBUTED (VERDICT r13 #4): bloom_sketch_agg merges per-task
    // partial filters up the agg tree and the probe takes the sketch as a
    // scalar subquery — no driver-resident filter, no batch-proportional
    // expression literal.
    graft.functions.SketchFunctions.register(s)
    val sketch = batch.select(xxhash64(col("k")).as("kh"))
      .agg(graft.functions.SketchFunctions
        .bloomSketchAgg(col("kh"), expected, fpp).as("sk"))
      .scalar()
    val histCand = hist.filter(
      graft.functions.SketchFunctions.bloomMightContain(sketch, xxhash64(col("hk"))))
    batch.join(broadcast(histCand), col("k") === col("hk"), "left_anti")
      .select(col("doc_id"), sha2(col("k"), 256).as("text_sha"))
      .orderBy("doc_id")
  }
}
