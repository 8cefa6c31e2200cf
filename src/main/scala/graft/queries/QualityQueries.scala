package graft.queries

import graft.functions.TextHash.{hash32, shingles, sqlHash32, sqlShingles, sqlTokens, tokens}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Q25h–Q25j — document-quality and dataset-hygiene operators (SURVEY.md
  * §2.11 X4 extensions): repetition-based quality rules, pattern redaction,
  * and deterministic train/val/test split assignment. The three passes a
  * training-data pipeline runs between raw ingest and tokenization.
  *
  * Scale design: the quality rules are the only query with a shuffle (two,
  * both keyed on doc_id-dominated composites with map-side partial
  * aggregation); redaction and split assignment are
  * pure per-row projections that ride the scan at any scale.
  */
object QualityQueries {

  /** Quality-rule thresholds (Gopher-style repetition bounds, scaled to the
    * synthetic corpus's ~30-word vocabulary). Emitted as literals into both
    * the Column and SQL forms. */
  private[queries] val MinMeanWordLen = 3.0
  private[queries] val MaxMeanWordLen = 10.0
  private[queries] val MinTypeTokenRatio = 0.4
  private[queries] val MaxTopBigramFrac = 0.07

  /** Split assignment: hash32("split:" + doc_id) mod 100 → 90/5/5. */
  private[queries] val ValFrom = 90
  private[queries] val TestFrom = 95

  /** q58 Gopher repetition bounds (Rae et al. 2021 table A1): maximum
    * document-coverage fraction of the most frequent 2-/3-/4-gram, and of
    * duplicated 3-grams by position. The 0.20/0.18/0.16 ladder is
    * Gopher's own; the duplicate-coverage bound stands in for its
    * dup-n-gram-characters family at this corpus's token granularity. */
  private[queries] val RepKinds = Seq(2, 3, 4)
  private[queries] val RepTop2Max = 0.20
  private[queries] val RepTop3Max = 0.18
  private[queries] val RepTop4Max = 0.16
  private[queries] val RepDup3Max = 0.20

  /** q25i2 PII pattern battery. Explicit ASCII classes only ([0-9],
    * [A-Za-z]) so the same text means the same thing to Java regex
    * (Spark) and RE2 (DuckDB); no `$`, `\d`, or backrefs. Application
    * order matters and is part of the contract: email → UUID → IPv4 →
    * phone → residual digit runs, each class counting/redacting on the
    * text the previous classes already scrubbed (a UUID's hex digits must
    * not re-count as digit runs). */
  private[queries] val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[queries] val PiiUuid =
    "[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"
  private[queries] val PiiIpv4 = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  private[queries] val PiiPhone = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"

  /** q25i2's projection over an `(event_id, props)` frame — exposed so
    * QualitySpec can run the identical battery over a fixture that plants
    * one instance of every PII class (the synthetic corpus only exercises
    * the digit-run tail). One select: the five replace/count cascades
    * fuse into a single codegen'd projection riding the scan. */
  private[graft] def piiRedaction(events: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val s0 = col("props")
    val nEmail = regexp_count(s0, lit(PiiEmail)).cast("long")
    val s1 = regexp_replace(s0, PiiEmail, "<EMAIL>")
    val nUuid = regexp_count(s1, lit(PiiUuid)).cast("long")
    val s2 = regexp_replace(s1, PiiUuid, "<UUID>")
    val nIp = regexp_count(s2, lit(PiiIpv4)).cast("long")
    val s3 = regexp_replace(s2, PiiIpv4, "<IP>")
    val nPhone = regexp_count(s3, lit(PiiPhone)).cast("long")
    val s4 = regexp_replace(s3, PiiPhone, "<PHONE>")
    val nNum = regexp_count(s4, lit("[0-9]+")).cast("long")
    val s5 = regexp_replace(s4, "[0-9]+", "<NUM>")
    events.select(
      col("event_id"), s5.as("redacted"),
      nEmail.as("n_email"), nUuid.as("n_uuid"), nIp.as("n_ip"),
      nPhone.as("n_phone"), nNum.as("n_num"),
      (nEmail + nUuid + nIp + nPhone + nNum > 0).as("has_pii"))
      .orderBy("event_id")
  }

  /** q48 feature-hashing buckets (fastText's default is 2M bigram buckets;
    * scaled to the synthetic vocabulary) and the Knuth multiplier that
    * derives the deterministic stand-in weight for bucket b. */
  private[queries] val ClsBuckets = 4096
  private[queries] val ClsA = 2654435761L

  /** q48's per-doc classifier accumulation — (doc_id, n_feats, wsum) —
    * shared with q50's keep-best-per-cluster selection. CTE names are
    * c-prefixed so the text composes into oracles that already bind
    * src/tok/bg (the dedup family's signature CTEs). */
  private[queries] val sqlClsCtes: String =
    s"""csrc AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |ctok AS (SELECT doc_id, unnest(toks) AS v FROM csrc),
       |cbg AS (SELECT doc_id, unnest(${sqlShingles("toks", n = 2)}) AS v FROM csrc
       |        WHERE len(toks) >= 2),
       |ch AS (SELECT doc_id, (${sqlHash32("v")}) % $ClsBuckets AS b
       |       FROM (SELECT * FROM ctok UNION ALL SELECT * FROM cbg)),
       |cm AS (SELECT doc_id, COUNT(*) AS n_feats,
       |  CAST(SUM(((b + 1) * $ClsA) % ${graft.functions.TextHash.Mod} % 1001 - 500) AS BIGINT) AS wsum
       |  FROM ch GROUP BY doc_id)""".stripMargin

  /** Spark twin of [[sqlClsCtes]]: feature explode → one doc_id-keyed
    * aggregation with map-side partials. (private[graft]: DedupEdgeSpec
    * re-derives the q50 ranking key from it.) */
  private[graft] def clsScored(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // spread the scan: the unigram and bigram passes below both re-run
    // tokenize off it — after the spread they embed identical Exchange
    // subtrees, so ReuseExchange tokenizes ONCE and both passes run at
    // session parallelism instead of serially on the one scan task
    // (guide §2.4/§2.5; benefits q48, q50, q66)
    val src = Spread(Tables.documents(s, dir), col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val tok = src.select(col("doc_id"), explode(col("toks")).as("v"))
    val bg = src.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(shingles(col("toks"), n = 2)).as("v"))
    tok.unionByName(bg)
      .select(col("doc_id"), (hash32(col("v")) % ClsBuckets).as("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        sum((col("b") + 1) * ClsA % graft.functions.TextHash.Mod % 1001 - 500)
          .as("wsum"))
  }

  /** q25h's oracle CTE chain ending in m(doc_id, n_tok, n_types,
    * wlen_sum, top_bg, n_bg), and the rule predicate over it — ONE text
    * shared by q25h and the calibration report (q66) so the two can never
    * diverge on what "passes the rules" means. */
  private[queries] val sqlQualityMCtes: String =
    s"""src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |tok AS (SELECT doc_id, 0 AS kind, unnest(toks) AS v FROM src),
       |bg AS (SELECT doc_id, 1 AS kind,
       |  unnest(${sqlShingles("toks", n = 2)}) AS v FROM src
       |  WHERE len(toks) >= 2),
       |c AS (SELECT doc_id, kind, v, COUNT(*) AS cnt
       |      FROM (SELECT * FROM tok UNION ALL SELECT * FROM bg)
       |      GROUP BY doc_id, kind, v),
       |m AS (SELECT doc_id,
       |  CAST(SUM(CASE WHEN kind = 0 THEN cnt ELSE 0 END) AS BIGINT) AS n_tok,
       |  SUM(CASE WHEN kind = 0 THEN 1 ELSE 0 END) AS n_types,
       |  SUM(CASE WHEN kind = 0 THEN cnt * length(v) ELSE 0 END) AS wlen_sum,
       |  MAX(CASE WHEN kind = 1 THEN cnt END) AS top_bg,
       |  SUM(CASE WHEN kind = 1 THEN cnt ELSE 0 END) AS n_bg
       |  FROM c GROUP BY doc_id)""".stripMargin

  private[queries] val sqlRulePredicate: String =
    s"""(wlen_sum::DOUBLE / n_tok BETWEEN $MinMeanWordLen AND $MaxMeanWordLen
       |   AND n_types::DOUBLE / n_tok >= $MinTypeTokenRatio
       |   AND COALESCE(top_bg, 0)::DOUBLE / greatest(n_bg, 1) <= $MaxTopBigramFrac)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // X4+/Q25h — repetition/quality filter rules: per document, mean word
    // length, type-token ratio, and the frequency share of the most-repeated
    // bigram; a doc is kept iff all three sit inside the configured bounds —
    // the Gopher-style heuristic battery that runs before any model-based
    // quality scoring. Shape: one exploded union of token and bigram
    // streams → ONE (doc_id, kind, value) counting aggregation (map-side
    // partials compress the exploded rows before the shuffle) → one per-doc
    // aggregation. Both shuffles are linear in corpus token count. (The
    // signature table left this explode-and-aggregate shape for a per-row
    // kernel, DocSignature; these counts are per (doc, value), which a
    // per-row kernel does not produce.)
    QueryDef(
      "q25h_quality_rules",
      s"""WITH $sqlQualityMCtes
         |SELECT doc_id, n_tok,
         |  round(wlen_sum::DOUBLE / n_tok, 6) AS mean_wlen,
         |  round(n_types::DOUBLE / n_tok, 6) AS ttr,
         |  round(COALESCE(top_bg, 0)::DOUBLE / greatest(n_bg, 1), 6) AS top_bigram_frac,
         |  $sqlRulePredicate AS keep
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // spread the scan: the token and bigram passes re-run tokenize off
      // it — spread, they share one exchange (ReuseExchange) and run at
      // session parallelism (guide §2.4/§2.5, the clsScored fix)
      val src = Spread(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val tok = src.select(col("doc_id"), lit(0).as("kind"), explode(col("toks")).as("v"))
      // shingles() floors its output at one shingle even for 1-token docs,
      // which would fabricate a "bigram" — the length guard keeps the
      // bigram stream exact (matching the oracle's WHERE len(toks) >= 2)
      val bg = src.filter(size(col("toks")) >= 2)
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
      val topBgFrac =
        coalesce(col("top_bg"), lit(0L)).cast("double") / greatest(col("n_bg"), lit(1L))
      m.select(
          col("doc_id"), col("n_tok"),
          round(meanWlen, 6).as("mean_wlen"),
          round(ttr, 6).as("ttr"),
          round(topBgFrac, 6).as("top_bigram_frac"),
          (meanWlen.between(MinMeanWordLen, MaxMeanWordLen) &&
            ttr >= MinTypeTokenRatio && topBgFrac <= MaxTopBigramFrac).as("keep"))
        .orderBy("doc_id")
    },

    // X4+/Q25i — pattern redaction: replace every digit run in the event
    // payload with a placeholder and count the matches — the shape of a PII
    // scrubbing pass (emails/phones/SSNs are the same machinery with wider
    // regexes). Pure per-row projection: the regex runs inside the scan
    // projection with no shuffle, so the pass is embarrassingly parallel at
    // any scale. Spark's regexp_replace is replace-all by default; DuckDB
    // needs the explicit 'g' flag — a cross-engine semantic the oracle pins.
    QueryDef(
      "q25i_pattern_redaction",
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(props, '[0-9]+')) AS n_matches,
        |  len(regexp_extract_all(props, '[0-9]+')) > 0 AS has_match
        |FROM events ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("redacted"),
          regexp_count(col("props"), lit("[0-9]+")).cast("long").as("n_matches"),
          (regexp_count(col("props"), lit("[0-9]+")) > 0).as("has_match"))
        .orderBy("event_id")
    },

    // X4+/Q25i2 — MULTI-CLASS PII redaction (VERDICT r13 "what's missing"
    // #3): q25i generalized to the battery a production curation pass
    // actually runs — emails, UUIDs, IPv4 addresses, phone-shaped digit
    // groups, then residual digit runs, each with its own placeholder and
    // match count, in ONE scan-riding projection (five chained
    // regexp_replace calls fuse into the same whole-stage-codegen
    // projection; no shuffle, embarrassingly parallel at any scale).
    // Counts are STAGE-WISE — each class counts on the text AFTER the
    // previous classes redacted (an email's digits must not double-count
    // as digit runs) — which makes the per-class attribution well-defined
    // and engine-comparable; the oracle mirrors the same cascade in
    // chained CTEs. Patterns use explicit ASCII classes ([0-9], [A-Za-z])
    // so Java regex (Spark) and RE2 (DuckDB) agree; the synthetic props
    // exercise the digit-run tail at sf scale, and QualitySpec plants one
    // instance of every class to pin each pattern's replace semantics.
    QueryDef(
      "q25i2_pii_redaction",
      s"""WITH r0 AS (SELECT event_id, props AS s0 FROM events),
         |r1 AS (SELECT event_id,
         |  len(regexp_extract_all(s0, '$PiiEmail')) AS n_email,
         |  regexp_replace(s0, '$PiiEmail', '<EMAIL>', 'g') AS s1 FROM r0),
         |r2 AS (SELECT event_id, n_email,
         |  len(regexp_extract_all(s1, '$PiiUuid')) AS n_uuid,
         |  regexp_replace(s1, '$PiiUuid', '<UUID>', 'g') AS s2 FROM r1),
         |r3 AS (SELECT event_id, n_email, n_uuid,
         |  len(regexp_extract_all(s2, '$PiiIpv4')) AS n_ip,
         |  regexp_replace(s2, '$PiiIpv4', '<IP>', 'g') AS s3 FROM r2),
         |r4 AS (SELECT event_id, n_email, n_uuid, n_ip,
         |  len(regexp_extract_all(s3, '$PiiPhone')) AS n_phone,
         |  regexp_replace(s3, '$PiiPhone', '<PHONE>', 'g') AS s4 FROM r3),
         |r5 AS (SELECT event_id, n_email, n_uuid, n_ip, n_phone,
         |  len(regexp_extract_all(s4, '[0-9]+')) AS n_num,
         |  regexp_replace(s4, '[0-9]+', '<NUM>', 'g') AS s5 FROM r4)
         |SELECT event_id, s5 AS redacted, n_email, n_uuid, n_ip, n_phone, n_num,
         |  (n_email + n_uuid + n_ip + n_phone + n_num) > 0 AS has_pii
         |FROM r5 ORDER BY event_id""".stripMargin) { (s, dir) =>
      // measured round 16: a scan spread here parallelized the cascade but
      // bought no wall (regex work inflates ~7x in task CPU under 32-way
      // memory contention — the cpi signature); the narrow one-projection
      // plan stays, matching the plan pin
      piiRedaction(Tables.events(s, dir))
    },

    // X4+/Q25j — deterministic train/val/test split: bucket =
    // hash32("split:" + doc_id) mod 100, split by fixed cut points (90/5/5).
    // Hash-based assignment is stable across runs, engines, and data
    // re-shuffles (no RNG state, no global sort), keyed on the document's
    // identity — adding documents never reassigns existing ones, which is
    // the property that keeps eval sets frozen as the corpus grows. Rides
    // the scan: no shuffle, no driver participation.
    QueryDef(
      "q25j_split_assign",
      s"""SELECT doc_id,
         |  ${sqlHash32("concat('split:', doc_id)")} % 100 AS bucket,
         |  CASE WHEN ${sqlHash32("concat('split:', doc_id)")} % 100 >= $TestFrom THEN 'test'
         |       WHEN ${sqlHash32("concat('split:', doc_id)")} % 100 >= $ValFrom THEN 'val'
         |       ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket = hash32(concat(lit("split:"), col("doc_id"))) % 100
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          bucket.as("bucket"),
          when(bucket >= TestFrom, "test")
            .when(bucket >= ValFrom, "val")
            .otherwise("train").as("split"))
        .orderBy("doc_id")
    },

    // X4+/Q48 — fastText-style hashed linear quality classifier (the
    // model-based scoring pass that runs AFTER q25h's rule battery — the
    // CCNet / LLaMA-corpus "quality classifier" stage): features are
    // unigrams + bigrams hashed into [[ClsBuckets]] buckets, the score is
    // the mean bucket weight, keep = positive score. Weights here are a
    // deterministic integer hash of the bucket index (a stand-in for
    // trained coefficients — the PLUMBING is the operator: feature
    // hashing, per-doc accumulation, thresholding; swap the weight
    // expression for a broadcast lookup of learned values and nothing
    // else changes). All-integer accumulation (weights in [-500, 500],
    // exact SUM) keeps the score bit-identical across engines — no
    // float-order dependence, no exp(). Shape is the q25h recipe: two
    // codegen'd exploded streams → ONE count/sum aggregation keyed on
    // doc_id with map-side partials; linear at 100 TB, no driver state.
    QueryDef(
      "q48_quality_classifier",
      s"""WITH $sqlClsCtes
         |SELECT doc_id, n_feats,
         |  round(wsum::DOUBLE / (n_feats * 500.0), 6) AS score,
         |  wsum > 0 AS keep
         |FROM cm ORDER BY doc_id""".stripMargin) { (s, dir) =>
      clsScored(s, dir).select(col("doc_id"), col("n_feats"),
          round(col("wsum").cast("double") / (col("n_feats") * 500.0), 6).as("score"),
          (col("wsum") > 0).as("keep"))
        .orderBy("doc_id")
    },

    // X4+/Q58 — Gopher REPETITION filter (Rae et al. 2021, table A1): the
    // intra-document self-similarity battery q25h's rule set lacks. Two
    // metric families, Gopher's thresholds verbatim:
    //  - top-n-gram coverage ladder: the fraction of the doc covered by
    //    its MOST FREQUENT 2-/3-/4-gram (count × n / n_tok — the token
    //    form of Gopher's "fraction of characters in the most frequent
    //    n-gram"; limits ≤ 0.20 / 0.18 / 0.16). Distinct from q25h's
    //    top_bigram_frac, which is occurrence share among bigrams, not
    //    document coverage.
    //  - duplicate-n-gram POSITION coverage: the fraction of token
    //    positions lying inside a 3-gram that occurs ≥2 times in the SAME
    //    doc — overlapping repeats must not double-count, so removable
    //    windows merge into maximal spans first (q47's gaps-and-islands,
    //    applied intra-doc).
    // Scale: the ladder is two doc-keyed hash aggregations with map-side
    // partials (the q25h shape); the coverage path's windows partition by
    // doc_id — bounded by DOC length, never a corpus key, so no
    // heavy-hitter hazard exists (q47's global-fingerprint lesson does
    // not transfer: the group key here is (doc, gram)) — and the dup
    // probe is a (doc_id, gram) equi-join. Everything is linear in
    // corpus tokens at 100 TB.
    QueryDef(
      "q58_repetition_filter", {
        val gramCtes = RepKinds.map { k =>
          val parts = (0 until k).map(j => s"toks[i+$j]").mkString(", ")
          s"""SELECT doc_id, $k AS kind,
             |  unnest(list_transform(generate_series(1, n - ${k - 1}),
             |    i -> concat_ws(' ', $parts))) AS g FROM rd WHERE n >= $k"""
            .stripMargin
        }.mkString("\n UNION ALL ")
        s"""WITH rsrc AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
           |rd AS (SELECT doc_id, toks, len(toks) AS n FROM rsrc),
           |rg AS ($gramCtes),
           |rc AS (SELECT doc_id, kind, g, COUNT(*) AS c FROM rg
           |       GROUP BY doc_id, kind, g),
           |rt AS (SELECT doc_id,
           |  ${RepKinds.map(k => s"MAX(CASE WHEN kind = $k THEN c END) AS t$k").mkString(", ")}
           |  FROM rc GROUP BY doc_id),
           |rw AS (SELECT doc_id, i AS pos,
           |  concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS g
           |  FROM rd, unnest(generate_series(1, n - 2)) AS t(i) WHERE n >= 3),
           |rdup AS (SELECT doc_id, g FROM rw GROUP BY doc_id, g
           |         HAVING COUNT(*) >= 2),
           |rr AS (SELECT rw.doc_id, rw.pos, rw.pos + 2 AS endp
           |       FROM rw JOIN rdup ON rw.doc_id = rdup.doc_id AND rw.g = rdup.g),
           |rs AS (SELECT doc_id, pos, endp,
           |  CASE WHEN pos > COALESCE(MAX(endp) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9) + 1
           |  THEN 1 ELSE 0 END AS brk FROM rr),
           |risl AS (SELECT doc_id, pos, endp,
           |  SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid
           |  FROM rs),
           |rsp AS (SELECT doc_id, gid, MIN(pos) AS a, MAX(endp) AS b
           |        FROM risl GROUP BY doc_id, gid),
           |rcov AS (SELECT doc_id, CAST(SUM(b - a + 1) AS BIGINT) AS cov
           |         FROM rsp GROUP BY doc_id),
           |rf AS (SELECT rd.doc_id, rd.n AS n_tok,
           |  round(COALESCE(t2, 0) * 2.0 / rd.n, 6) AS top2_frac,
           |  round(COALESCE(t3, 0) * 3.0 / rd.n, 6) AS top3_frac,
           |  round(COALESCE(t4, 0) * 4.0 / rd.n, 6) AS top4_frac,
           |  round(COALESCE(cov, 0) * 1.0 / rd.n, 6) AS dup3_frac
           |  FROM rd LEFT JOIN rt ON rd.doc_id = rt.doc_id
           |          LEFT JOIN rcov ON rd.doc_id = rcov.doc_id)
           |SELECT doc_id, n_tok, top2_frac, top3_frac, top4_frac, dup3_frac,
           |  (top2_frac <= $RepTop2Max AND top3_frac <= $RepTop3Max
           |   AND top4_frac <= $RepTop4Max AND dup3_frac <= $RepDup3Max) AS keep
           |FROM rf ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      // four consumers (three gram widths + the position stream) re-run
      // tokenize off this scan; the spread parallelizes it AND lets
      // ReuseExchange share one tokenize across them (guide §2.4/§2.5)
      val src = Spread(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      // dup-3gram position stream, built FIRST because the ladder's k=3
      // column rides it too (round 17): the positioned 3-gram strings and
      // the ladder's kind-3 gram strings are the same strings, so one
      // explode + one (doc, g) count serves both — previously the corpus
      // 3-grams were built and shuffled twice (once inside the kind union,
      // once here)
      val rw = src.filter(col("n") >= 3)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), col("n") - 2)).as("pos"))
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", try_element_at(col("toks"), col("pos")),
            try_element_at(col("toks"), col("pos") + lit(1)),
            try_element_at(col("toks"), col("pos") + lit(2))).as("g"))
      val rc3 = rw.groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("c"))
      val rdup = rc3.filter(col("c") >= 2)
        .select(col("doc_id"), col("g"))
      val t3 = rc3.groupBy(col("doc_id")).agg(max(col("c")).as("t3"))
      // top-n-gram ladder: kinds 2 and 4 via the kind-tagged union ->
      // (doc, kind, gram) counts -> per-doc max per kind (all map-side-
      // combinable); kind 3 joins in from the shared rc3 counts. Every
      // doc with a kind-3 row (n >= 3) also has kind-2 rows (n >= 2), so
      // the left join loses nothing.
      def grams(k: Int) = src.filter(col("n") >= k)
        .select(col("doc_id"), lit(k).as("kind"),
          explode(transform(sequence(lit(1), col("n") - (k - 1)),
            i => concat_ws(" ",
              (0 until k).map(j => try_element_at(col("toks"), i + lit(j))): _*)))
            .as("g"))
      val rt = RepKinds.filterNot(_ == 3).map(grams).reduce(_ unionByName _)
        .groupBy(col("doc_id"), col("kind"), col("g"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(max(when(col("kind") === 2, col("c"))).as("t2"),
          max(when(col("kind") === 4, col("c"))).as("t4"))
        .join(t3, Seq("doc_id"), "left")
      // dup-3gram position coverage: in-doc repeated windows merged to
      // maximal spans (per-doc islands — the window key is doc_id, whose
      // partition size is bounded by document length)
      val rr = rw.join(rdup, Seq("doc_id", "g"))
        .select(col("doc_id"), col("pos"), (col("pos") + 2).as("endp"))
      val rcov = DedupQueries.mergedSpans(rr)
        .groupBy(col("doc_id"))
        .agg(sum(col("sp_end") - col("sp_start") + 1).as("cov"))
      def frac(c: org.apache.spark.sql.Column, mult: Double) =
        round(coalesce(c, lit(0L)) * lit(mult) / col("n"), 6)
      val rf = src.select(col("doc_id"), col("n"))
        .join(rt, Seq("doc_id"), "left")
        .join(rcov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").as("n_tok"),
          frac(col("t2"), 2.0).as("top2_frac"),
          frac(col("t3"), 3.0).as("top3_frac"),
          frac(col("t4"), 4.0).as("top4_frac"),
          frac(col("cov"), 1.0).as("dup3_frac"))
      rf.select(col("doc_id"), col("n_tok"), col("top2_frac"), col("top3_frac"),
          col("top4_frac"), col("dup3_frac"),
          (col("top2_frac") <= RepTop2Max && col("top3_frac") <= RepTop3Max &&
            col("top4_frac") <= RepTop4Max && col("dup3_frac") <= RepDup3Max)
            .as("keep"))
        .orderBy("doc_id")
    },

    // X4++/Q66 — CLASSIFIER CALIBRATION: the q48 model's scores binned
    // against the q25h rule battery's verdicts — the agreement table a
    // pipeline reads before trusting the model-based filter to replace
    // (or gate ahead of) the heuristic battery, and the drift check it
    // re-reads whenever either side is retrained/retuned. Per score band
    // (floor(score·10) over q48's score ∈ [-1, 1]): doc count, rule-pass
    // rate, classifier-keep rate, and the agreement rate. Both verdicts
    // come from the SHARED stage programs (clsScored; CurationPipeline's
    // qualityDocs — the same imported q25h gate q44/q45 run), and the
    // oracle composes the SAME two CTE chains (sqlClsCtes is c-prefixed
    // precisely so it coexists with the quality chain), so neither side
    // can drift from the operator it calibrates. Banding is
    // floor-of-identical-IEEE-doubles (exact integer wsum/n_feats on both
    // engines — the q50 ranking-key precedent). Scale: two doc-keyed
    // aggregations (both linear, map-side partials) + one doc-keyed join
    // + a ≤21-group report aggregate.
    QueryDef(
      "q66_classifier_calibration",
      s"""WITH $sqlQualityMCtes,
         |$sqlClsCtes,
         |rq AS (SELECT doc_id, $sqlRulePredicate AS rule_keep FROM m),
         |sb AS (SELECT cm.doc_id,
         |    CAST(floor(cm.wsum::DOUBLE / (cm.n_feats * 500.0) * 10) AS BIGINT) AS band,
         |    cm.wsum > 0 AS cls_keep, rq.rule_keep
         |  FROM cm JOIN rq ON cm.doc_id = rq.doc_id)
         |SELECT band, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_pass,
         |  CAST(SUM(CASE WHEN cls_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_cls_keep,
         |  CAST(SUM(CASE WHEN rule_keep = cls_keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_agree,
         |  round(SUM(CASE WHEN rule_keep THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
         |    AS rule_pass_frac,
         |  round(SUM(CASE WHEN rule_keep = cls_keep THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(*), 6) AS agree_frac
         |FROM sb GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      // rule battery + classifier both tokenize; spread the scan so the
      // two doc-keyed aggregations run parallel, not on one task (§2.5)
      val ct = Spread(Tables.documents(s, dir), col("doc_id"))
        .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      val ruleKeep = CurationPipeline.qualityDocs(ct).withColumn("rk", lit(1))
      val clsKeep = col("wsum") > 0
      val ruled = clsScored(s, dir)
        .join(ruleKeep, Seq("doc_id"), "left")
        .select(
          floor(col("wsum").cast("double") / (col("n_feats") * 500.0) * 10)
            .cast("long").as("band"),
          col("rk").isNotNull.as("rule_keep"), clsKeep.as("cls_keep"))
      ruled.groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rule_keep"), 1L).otherwise(0L)).as("n_rule_pass"),
          sum(when(col("cls_keep"), 1L).otherwise(0L)).as("n_cls_keep"),
          sum(when(col("rule_keep") === col("cls_keep"), 1L).otherwise(0L))
            .as("n_agree"))
        .select(col("band"), col("n_docs"), col("n_rule_pass"), col("n_cls_keep"),
          col("n_agree"),
          round(col("n_rule_pass").cast("double") / col("n_docs"), 6)
            .as("rule_pass_frac"),
          round(col("n_agree").cast("double") / col("n_docs"), 6).as("agree_frac"))
        .orderBy("band")
    }
  )
}
