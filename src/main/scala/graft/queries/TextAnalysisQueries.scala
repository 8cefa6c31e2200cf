package graft.queries

import graft.functions.TextHash.{hash32, sqlHash32, sqlTokens, tokens}
import graft.functions.TopKByScore
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Q25 — text analysis over the `documents` table (SURVEY.md §2.11 X4;
  * BASELINE.json north star): token counting (whitespace + BPE-ish regex),
  * quality scoring, n-gram-heuristic language ID, per-language aggregates,
  * and a corpus token histogram.
  *
  * All per-document metrics are narrow projections riding the scan; the
  * corpus-level queries (per-lang aggregates, token histogram) are single
  * hash aggregations with map-side partial state — the shapes that stay
  * linear at 100 TB. Language-ID marker lists and the quality formula are
  * shared constants between the Column form and the generated DuckDB SQL.
  */
object TextAnalysisQueries {

  /** Marker stopwords per language, used by both the quality score (en) and
    * the language-ID vote. Alphabetical language order is the tie-break. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un", "une", "est"),
    "zh" -> Seq("的", "是", "了", "在", "有", "我", "不", "这"))

  private[queries] val enStops = Markers.toMap.apply("en")

  /** BPE-ish tokenizer: letter runs, digit runs, single punctuation. */
  private val BpePat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Punctuation class for the quality score. */
  private[queries] val PunctPat = "[.,!?;:()\\[\\]{}-]"

  private[queries] def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  private[queries] def sqlMarkerCount(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> t IN (${words.map(w => s"'$w'").mkString(", ")})))"

  /** Argmax over per-language scores with alphabetical tie-break, generated
    * as one CASE chain on both sides (first language whose score is >= all
    * later ones wins, scanning alphabetically). */
  private[queries] def predictLang(scores: Seq[(String, Column)]): Column =
    scores.init
      .zipWithIndex
      .foldRight(lit(scores.last._1)) { case (((lang, s), i), elseCol) =>
        val rest = scores.drop(i + 1).map(_._2)
        when(rest.map(s >= _).reduce(_ && _), lit(lang)).otherwise(elseCol)
      }

  private[queries] def sqlPredictLang(scores: Seq[(String, String)]): String = {
    val cases = scores.init.zipWithIndex.map { case ((lang, s), i) =>
      val cond = scores.drop(i + 1).map { case (_, o) => s"$s >= $o" }.mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${scores.last._1}' END"
  }

  /** BM25 query set, shared between the DataFrame form and the VALUES CTE.
    * Terms come from the corpus vocabulary (TESTDATA.md). */
  private val QueryTerms: Seq[(Long, String)] = Seq(
    1L -> "hash", 1L -> "join",
    2L -> "stream", 2L -> "window", 2L -> "group",
    3L -> "slow", 3L -> "scan", 3L -> "filter")

  private val SqlQueryTerms: String =
    QueryTerms.map { case (q, t) => s"($q, '$t')" }.mkString(", ")

  /** Count-min sketch geometry: d hash rows × w buckets. */
  private val CmsD = 4
  private val CmsW = 512

  /** q25n keep bar, fixed-point millionths: a doc is kept iff its mean
    * per-bigram corpus probability ≥ MinFamFp/1e6. The decision compares
    * integers (fam_fp ≥ MinFamFp·n_bigrams), never floats. */
  private val MinFamFp = 34000L

  val defs: Seq[QueryDef] = Seq(
    // X4/Q25 — per-doc stats + quality score: whitespace and BPE-ish token
    // counts, stopword/punctuation ratios, composite quality in [0,1].
    QueryDef(
      "q25_text_stats",
      s"""WITH src AS (SELECT doc_id, text, ${sqlTokens("text")} AS toks FROM documents),
         |m AS (SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  len(regexp_extract_all(text, '$BpePat')) AS n_tokens_bpe,
         |  length(text) AS n_chars_m,
         |  ${sqlMarkerCount("toks", enStops)} AS n_stop,
         |  length(text) - length(regexp_replace(text, '$PunctPat', '', 'g')) AS n_punct
         |  FROM src)
         |SELECT doc_id, n_tokens, n_tokens_bpe, n_chars_m,
         |  round(n_stop::DOUBLE / n_tokens, 6) AS stop_ratio,
         |  round(n_punct::DOUBLE / n_chars_m, 6) AS punct_ratio,
         |  round(0.5 * least(1.0, n_tokens / 100.0)
         |      + 0.3 * (n_stop::DOUBLE / n_tokens)
         |      + 0.2 * (1.0 - n_punct::DOUBLE / n_chars_m), 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = tokens(col("text"))
      val m = Tables.documents(s, dir).select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePat), lit(0))).cast("long").as("n_tokens_bpe"),
        length(col("text")).cast("long").as("n_chars_m"),
        markerCount(toks, enStops).cast("long").as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), PunctPat, "")))
          .cast("long").as("n_punct"))
      m.select(
        col("doc_id"), col("n_tokens"), col("n_tokens_bpe"), col("n_chars_m"),
        round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
        round(col("n_punct").cast("double") / col("n_chars_m"), 6).as("punct_ratio"),
        round(
          lit(0.5) * least(lit(1.0), col("n_tokens") / 100.0)
            + lit(0.3) * (col("n_stop").cast("double") / col("n_tokens"))
            + lit(0.2) * (lit(1.0) - col("n_punct").cast("double") / col("n_chars_m")),
          6).as("quality"))
        .orderBy("doc_id")
    },

    // X4/Q25b — language ID: per-language marker votes, argmax with
    // alphabetical tie-break, compared against the labeled lang.
    QueryDef(
      "q25b_lang_id",
      s"""WITH src AS (SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents),
         |scored AS (SELECT doc_id, lang,
         |${Markers.map { case (l, ws) => s"  ${sqlMarkerCount("toks", ws)} AS s_$l" }
                   .mkString(",\n")}
         |  FROM src)
         |SELECT doc_id, lang,
         |  ${sqlPredictLang(Markers.map { case (l, _) => l -> s"s_$l" })} AS predicted,
         |  (${sqlPredictLang(Markers.map { case (l, _) => l -> s"s_$l" })} = lang) AS agree
         |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = tokens(col("text"))
      val scored = Tables.documents(s, dir).select(
        col("doc_id") +: col("lang") +:
          Markers.map { case (l, ws) => markerCount(toks, ws).as(s"s_$l") }: _*)
      val pred = predictLang(Markers.map { case (l, _) => l -> col(s"s_$l") })
      scored.select(
        col("doc_id"), col("lang"),
        pred.as("predicted"),
        (pred === col("lang")).as("agree"))
        .orderBy("doc_id")
    },

    // X4/Q25c — per-language corpus aggregates (exact-decimal means).
    QueryDef(
      "q25c_lang_profile",
      s"""SELECT lang, source, COUNT(*) AS n_docs,
         |${Det.sqlAvg("n_chars")} AS avg_chars,
         |${Det.sqlAvg(s"len(${sqlTokens("text")})")} AS avg_tokens,
         |MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
         |FROM documents GROUP BY lang, source
         |ORDER BY lang, source""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          Det.davg(col("n_chars")).as("avg_chars"),
          Det.davg(size(tokens(col("text"))).cast("long")).as("avg_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("lang", "source")
    },

    // A7+/Q27 — exact interpolated percentiles per group (Spark `percentile`
    // ≡ DuckDB `quantile_cont`). Exact percentiles sort within each group —
    // fine at test scale, the wrong tool at 100 TB; q27b below is the
    // sketch-based scale path.
    QueryDef(
      "q27_value_percentiles",
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS p50,
        |round(quantile_cont(value, 0.95), 6) AS p95,
        |round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          round(expr("percentile(value, 0.99)"), 6).as("p99"))
        .orderBy("event_type")
    },

    // A7+/Q27b — approx_percentile (t-digest-style sketch): bounded-memory
    // partial state, mergeable across partitions — the 100-TB percentile
    // path. Sketch values are engine-specific, so the cross-engine contract
    // is a tolerance: the output carries the exact percentiles plus boolean
    // `*_ok` flags asserting the sketch landed within 5% (+1e-3 absolute
    // slack) of exact. The oracle recomputes the exact columns and expects
    // every flag TRUE — a drifting sketch flips a flag and fails the hash.
    // Output is all-scalar (an array column would crash the driver's
    // canonicalizer).
    QueryDef(
      "q27b_approx_percentiles",
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 6) AS exact_p50,
        |round(quantile_cont(value, 0.95), 6) AS exact_p95,
        |round(quantile_cont(value, 0.99), 6) AS exact_p99,
        |TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      def ok(approx: Column, exact: Column): Column =
        abs(approx - exact) <= abs(exact) * 0.05 + 0.001
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, array(0.5, 0.95, 0.99), 1000)").as("ap"),
          expr("percentile(value, 0.5)").as("e50"),
          expr("percentile(value, 0.95)").as("e95"),
          expr("percentile(value, 0.99)").as("e99"))
        .select(
          col("event_type"),
          round(col("e50"), 6).as("exact_p50"),
          round(col("e95"), 6).as("exact_p95"),
          round(col("e99"), 6).as("exact_p99"),
          ok(element_at(col("ap"), 1), col("e50")).as("p50_ok"),
          ok(element_at(col("ap"), 2), col("e95")).as("p95_ok"),
          ok(element_at(col("ap"), 3), col("e99")).as("p99_ok"))
        .orderBy("event_type")
    },

    // X4/Q25d — corpus token histogram, top-20: explode + hash-agg with
    // map-side partials + TakeOrderedAndProject (no global sort).
    QueryDef(
      "q25d_token_topk",
      s"""SELECT t AS token, COUNT(*) AS cnt
         |FROM (SELECT unnest(${sqlTokens("text")}) AS t FROM documents)
         |GROUP BY t ORDER BY cnt DESC, token LIMIT 20""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(20)
    },

    // X4++/Q25k — BM25 keyword search: rank documents against a small
    // keyword query set (the retrieval half of a data-curation /
    // RAG-indexing pipeline; tf-idf's saturated, length-normalized
    // successor). Shape at 100 TB: the corpus is scanned ONCE into a
    // materialized (doc_id, term, tf, dl) postings table — the inverted
    // index you keep anyway — and everything else derives from it: df and
    // the corpus stats are small re-reads of the postings parquet (Spark
    // does not CSE across DataFrame branches, so without materializing,
    // each derived frame would re-scan and re-tokenize the raw corpus);
    // both are kilobyte frames broadcast back onto it. The per-query top-5
    // goes through the bounded `TopKByScore` aggregator, so each map task
    // ships at most 5 rows per query — a handful of query partitions never
    // funnels the corpus through one reducer the way a row_number window
    // would.
    //
    // Cross-engine determinism: k1=1.5, b=0.75 (binary-exact constants),
    // log-free idf (n-df+0.5)/(df+0.5) — every per-term score is the same
    // chain of IEEE ops on the same integers in both engines, hence
    // bit-identical; the order-dependent SUM over matched terms runs on
    // floor(score·1e6) BIGINTs, which add associatively.
    QueryDef(
      "q25k_bm25_search",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |tf AS (SELECT doc_id, t AS term, COUNT(*) AS tf, MIN(dl) AS dl
         |       FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM src)
         |       GROUP BY doc_id, t),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |stats AS (SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS total_tok FROM src),
         |q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
         |      FROM (VALUES $SqlQueryTerms) v(query_id, term)),
         |scored AS (
         |  SELECT q.query_id, tf.doc_id,
         |    SUM(CAST(floor(
         |      ((n_docs - df + 0.5) / (df + 0.5)) *
         |      ((tf * 2.5) / (tf + 1.5 * (0.25 + 0.75 * (dl / (total_tok / n_docs))))) *
         |      1000000.0) AS BIGINT)) AS score_fp
         |  FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats
         |  GROUP BY q.query_id, tf.doc_id),
         |r AS (SELECT query_id, doc_id, score_fp,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score_fp DESC, doc_id) AS rank
         |      FROM scored)
         |SELECT query_id, rank, doc_id, score_fp / 1000000.0 AS score
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val tf = Materialize(s, dir, "bm25_tf")(
        Tables.documents(s, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("term"))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"), min(col("dl")).as("dl")))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      // n_docs / total_tok off the postings table: every doc has ≥1 token
      // (empty text tokenizes to [""]), and Σ tf = Σ dl = total tokens
      val stats = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dtoks"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dtoks")).as("total_tok"))
      val qterms = QueryTerms.toDF("query_id", "term")
      val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
      val norm = (col("tf") * lit(2.5)) /
        (col("tf") + lit(1.5) * (lit(0.25) +
          lit(0.75) * (col("dl") / (col("total_tok") / col("n_docs")))))
      val topk = udaf(new TopKByScore(5))
      tf
        .join(broadcast(qterms), "term")
        .join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .select(col("query_id"), col("doc_id"),
          floor(idf * norm * lit(1000000.0)).cast("long").as("fp"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("fp")).as("score_fp"))
        .groupBy(col("query_id"))
        .agg(topk(col("score_fp").cast("double"), col("doc_id")).as("top"))
        .select(col("query_id"), posexplode(col("top")).as(Seq("r", "s")))
        .select(col("query_id"), (col("r") + 1).cast("long").as("rank"),
          col("s").getField("_2").as("doc_id"),
          (col("s").getField("_1") / lit(1000000.0)).as("score"))
        .orderBy("query_id", "rank")
    },

    // X4++/Q25l — count-min-sketch heavy hitters: the fixed-size mergeable
    // sketch for frequency estimation on unbounded token streams. The
    // sketch is d=4 hash rows × w=512 buckets of integer counts, bounded
    // at 2048 cells no matter the corpus size. The corpus is tokenized and
    // counted ONCE (explode + hash agg with map-side partials); the d×
    // fan-out, hashing, and cell sums then run over the tiny per-token
    // count frame — summing counts into cells is exactly the occurrence-
    // level sketch, 4× cheaper to build. Estimates (min over the 4 rows'
    // cells) are checked against the exact top-20 counts; CMS never
    // underestimates, so the `sound` flag is provably TRUE and both
    // engines agree exactly — every count is integer arithmetic over the
    // shared md5 hash.
    QueryDef(
      "q25l_cms_heavy_hitters",
      s"""WITH tok AS (SELECT unnest(${sqlTokens("text")}) AS t FROM documents),
         |tc AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
         |rs AS (SELECT unnest(generate_series(0, ${CmsD - 1})) AS r),
         |cms AS (SELECT r, ${sqlHash32(s"concat(r, ':', t)")} % $CmsW AS b,
         |        CAST(SUM(cnt) AS BIGINT) AS cnt
         |        FROM tc CROSS JOIN rs GROUP BY r, b),
         |top AS (SELECT t, cnt AS exact_cnt FROM tc
         |        ORDER BY exact_cnt DESC, t LIMIT 20),
         |cand AS (SELECT t, exact_cnt, r,
         |         ${sqlHash32(s"concat(r, ':', t)")} % $CmsW AS b
         |         FROM top CROSS JOIN rs)
         |SELECT t AS token, exact_cnt, MIN(cnt) AS cms_est,
         |       MIN(cnt) >= exact_cnt AS sound
         |FROM cand JOIN cms USING (r, b)
         |GROUP BY t, exact_cnt ORDER BY exact_cnt DESC, token""".stripMargin) { (s, dir) =>
      def bucket(r: Column, t: Column): Column =
        hash32(concat(r.cast("string"), lit(":"), t)) % CmsW
      val tc = Materialize(s, dir, "q25l_tc")(
        Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("cnt")))
      val fan = tc.select(col("t"), col("cnt"),
        explode(array((0 until CmsD).map(r => lit(r.toLong)): _*)).as("r"))
      val cms = fan
        .select(col("r"), bucket(col("r"), col("t")).as("b"), col("cnt"))
        .groupBy(col("r"), col("b"))
        .agg(sum(col("cnt")).as("cnt"))
      val top = tc.select(col("t"), col("cnt").as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("t"))
        .limit(20)
      top
        .select(col("t"), col("exact_cnt"),
          explode(array((0 until CmsD).map(r => lit(r.toLong)): _*)).as("r"))
        .withColumn("b", bucket(col("r"), col("t")))
        .join(broadcast(cms), Seq("r", "b"))
        .groupBy(col("t"), col("exact_cnt"))
        .agg(min(col("cnt")).as("cms_est"))
        .select(col("t").as("token"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") >= col("exact_cnt")).as("sound"))
        .orderBy(col("exact_cnt").desc, col("token"))
    },

    // X4/Q25m — bigram language-model estimation: the count-based n-gram
    // LM a data pipeline fits over a corpus (KenLM-style, order 2). Bigram
    // extraction is a narrow zip of each token array with its own tail (no
    // window, no self-join — the pairing rides the scan), then ONE hash
    // aggregation with map-side partials to (w1, w2) counts; the context
    // total and the successor rank share one w1-partitioned sort. Output =
    // top-3 successors per context token with conditional probability
    // P(w2|w1) — a single division of identical integers on both engines,
    // so the doubles are bit-identical. The c_ctx floor keeps the output
    // bounded; at 100 TB the rank funnel would swap to the bounded
    // TopKByScore aggregator, and counts shard exactly like q25g.
    QueryDef(
      "q25m_bigram_lm",
      s"""WITH src AS (SELECT ${sqlTokens("text")} AS toks FROM documents),
         |bg AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
         |              unnest(toks[2:len(toks)]) AS w2 FROM src),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c_bigram FROM bg GROUP BY w1, w2),
         |ranked AS (SELECT w1, w2, c_bigram,
         |  CAST(SUM(c_bigram) OVER (PARTITION BY w1) AS BIGINT) AS c_ctx,
         |  ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c_bigram DESC, w2) AS rk
         |  FROM c2)
         |SELECT w1, w2, c_bigram, c_ctx, rk,
         |  CAST(c_bigram AS DOUBLE) / c_ctx AS p_next
         |FROM ranked WHERE rk <= 3 AND c_ctx >= 100
         |ORDER BY w1, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // tokens bound to an attribute first: a lambda or slice re-evaluates
      // its argument per use, so this keeps one split per row, not one per
      // consuming expression (the TextHash.shingles PERF note)
      val t = col("toks")
      val bg = Tables.documents(s, dir)
        .select(tokens(col("text")).as("toks"))
        // slice length floored at 0: a negative length throws at runtime.
        // tokens() can never return an empty array today (empty text splits
        // to [""]), but that invariant lives in the helper, not here —
        // mirror shingles()'s greatest() guard rather than lean on it.
        .select(explode(arrays_zip(
          slice(t, lit(1), greatest(size(t) - 1, lit(0))),
          slice(t, lit(2), greatest(size(t) - 1, lit(0))))).as("z"))
        .select(col("z.0").as("w1"), col("z.1").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c_bigram"))
      val byW1 = Window.partitionBy(col("w1"))
      c2.select(col("w1"), col("w2"), col("c_bigram"),
          sum(col("c_bigram")).over(byW1).as("c_ctx"),
          row_number().over(byW1.orderBy(col("c_bigram").desc, col("w2"))).as("rk"))
        .filter(col("rk") <= 3 && col("c_ctx") >= 100)
        .withColumn("p_next", col("c_bigram").cast("double") / col("c_ctx"))
        .orderBy("w1", "rk")
    },

    // X4+++++/Q25n — LM-familiarity filter (the CCNet/Wenzek-style corpus
    // quality gate, with q25m's count LM standing in for KenLM): score each
    // document by the mean corpus probability of its bigrams and keep docs
    // above the bar — low scores mark gibberish/outlier text that an n-gram
    // LM finds unfamiliar. Fixed-point parity recipe (the q25k pattern):
    // per-bigram floor(1e6·c_bigram/c_ctx) summed as BIGINT, one double
    // division at the end, and the keep decision compares INTEGERS
    // (fam_fp ≥ threshold·n_bigrams), so no engine ever branches on a
    // float. Shape at 100 TB: the bigram-count model is vocabulary-sized
    // (broadcastable), the per-doc score is one (w1,w2)-keyed join of the
    // doc's bigram stream against it plus one per-doc aggregation — rides
    // the same shuffles as signature computation. The model here includes
    // each doc's own counts; the leave-one-out refinement subtracts the
    // doc's contribution at score time (one extra per-doc count column).
    QueryDef(
      "q25n_lm_familiarity",
      s"""WITH src AS (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
         |bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
         |              unnest(toks[2:len(toks)]) AS w2 FROM src),
         |c2 AS (SELECT w1, w2, COUNT(*) AS c_bigram FROM bg GROUP BY w1, w2),
         |ctx AS (SELECT w1, CAST(SUM(c_bigram) AS BIGINT) AS c_ctx
         |        FROM c2 GROUP BY w1),
         |sc AS (SELECT b.doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(CAST(floor(1000000.0 * c.c_bigram / x.c_ctx) AS BIGINT))
         |       AS BIGINT) AS fam_fp
         |  FROM bg b JOIN c2 c ON b.w1 = c.w1 AND b.w2 = c.w2
         |            JOIN ctx x ON b.w1 = x.w1
         |  GROUP BY b.doc_id)
         |SELECT d.doc_id, sc.n_bigrams,
         |  sc.fam_fp / (1000000.0 * sc.n_bigrams) AS familiarity,
         |  COALESCE(sc.fam_fp >= $MinFamFp * sc.n_bigrams, FALSE) AS keep
         |FROM (SELECT DISTINCT doc_id FROM src) d
         |LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val t = col("toks")
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(arrays_zip(
          slice(t, lit(1), greatest(size(t) - 1, lit(0))),
          slice(t, lit(2), greatest(size(t) - 1, lit(0))))).as("z"))
        .select(col("doc_id"), col("z.0").as("w1"), col("z.1").as("w2"))
      val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
      val ctx = c2.groupBy(col("w1")).agg(sum(col("c_bigram")).as("c_ctx"))
      val sc = bg
        .join(c2, Seq("w1", "w2"))
        .join(broadcast(ctx), Seq("w1"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(floor(lit(1000000.0) * col("c_bigram") / col("c_ctx"))
            .cast("long")).as("fam_fp"))
      Tables.documents(s, dir).select(col("doc_id")).distinct()
        .join(sc, Seq("doc_id"), "left")
        // familiarity is the RAW division of identical integers — never
        // round(): a quotient landing on a 6-dp rounding tie (hit at sf0.1)
        // rounds differently across engines from the same double
        .select(
          col("doc_id"), col("n_bigrams"),
          (col("fam_fp") / (lit(1000000.0) * col("n_bigrams")))
            .as("familiarity"),
          coalesce(col("fam_fp") >= lit(MinFamFp) * col("n_bigrams"), lit(false))
            .as("keep"))
        .orderBy("doc_id")
    },

    // X4/Q25r — BPE merge-pair counting (one vocab-induction step): the
    // corpus-weighted frequency of every adjacent character pair, the
    // quantity a BPE tokenizer trainer maximizes at each merge. The 100 TB
    // shape is the point: the corpus scan collapses to the DISTINCT-token
    // frequency table in one map-side-partial aggregation (vocab is
    // millions of rows however big the corpus), the pair explode runs over
    // that small table only — corpus size buys you nothing but bigger tf
    // counts — and the final top-k is a TakeOrderedAndProject, never a
    // global sort. (q25m counts WORD bigrams for an LM; this counts CHAR
    // pairs inside tokens for tokenizer training — different op.)
    QueryDef(
      "q25r_bpe_pairs",
      s"""WITH toks AS (
         |  SELECT unnest(${sqlTokens("lower(text)")}) AS tok FROM documents),
         |tf AS (SELECT tok, COUNT(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok),
         |pairs AS (
         |  SELECT substr(tok, i, 2) AS pair, tf
         |  FROM (SELECT tok, tf,
         |          unnest(generate_series(1, greatest(length(tok) - 1, 1))) AS i
         |        FROM tf)
         |  WHERE i <= length(tok) - 1)
         |SELECT pair, CAST(SUM(tf) AS BIGINT) AS c_pair,
         |  CAST(COUNT(*) AS BIGINT) AS n_pos
         |FROM pairs GROUP BY pair
         |ORDER BY c_pair DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      val tf = Tables.documents(s, dir)
        .select(explode(tokens(lower(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      tf
        // step pinned to lit(1): sequence(1, 0) without a step would infer
        // step -1 and emit [1, 0]; the floor keeps the bound valid and the
        // i <= len-1 filter drops 1-char tokens (no pair) exactly like the
        // oracle's WHERE
        .select(col("tok"), col("tf"),
          explode(sequence(lit(1), greatest(length(col("tok")) - 1, lit(1)),
            lit(1))).as("i"))
        .filter(col("i") <= length(col("tok")) - 1)
        .select(col("tok").substr(col("i"), lit(2)).as("pair"), col("tf"))
        .groupBy(col("pair"))
        .agg(sum(col("tf")).as("c_pair"), count(lit(1)).as("n_pos"))
        .orderBy(col("c_pair").desc, col("pair"))
        .limit(20)
    },

    // X4/Q25t — BPE tokenizer TRAINING as three unrolled declarative merge
    // rounds (q25r is one round's pair-counting stage; q42/q24f are the
    // iterative-plan precedent). State between rounds is the weighted word
    // inventory with each word as a bracket-delimited symbol string
    // ("<h><e><l><l><o>", sentinels can't occur in the lowercase corpus), so
    // GREEDY left-to-right merge application is plain `replace`:
    // "<a><a><a><a>" + merge (a,a) → "<aa><aa>" because scanning resumes
    // after each replacement — the bracket encoding makes non-overlapping
    // string replace EXACTLY the BPE merge rule, identically in both
    // engines, with no sequential fold needed. Each round = one pair-count
    // aggregation over the VOCABULARY (distinct words × tf — corpus text is
    // never re-scanned after the first tf pass), one 1-row argmax broadcast
    // back, one scan-riding replace. At 100 TB: round cost is vocabulary-
    // not corpus-sized — the same collapse q25r measured flat on 20× data;
    // real trainers run thousands of rounds by iterating this exact plan
    // (driver loop, one tiny argmax read per round — q23g's convergence
    // pattern). Deterministic argmax tiebreak: count DESC, pair ASC.
    QueryDef(
      "q25t_bpe_train",
      s"""WITH toks AS (
         |  SELECT unnest(${sqlTokens("lower(text)")}) AS tok FROM documents),
         |tf AS (SELECT tok, COUNT(*) AS tf FROM toks WHERE tok <> '' GROUP BY tok),
         |w0 AS (SELECT '<' || array_to_string(list_transform(
         |    generate_series(1, length(tok)), i -> substring(tok, i, 1)), '><')
         |    || '>' AS w, tf FROM tf),
         |p1 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w0),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
         |w1 AS (SELECT replace(w, '<'||a||'><'||b||'>', '<'||a||b||'>') AS w, tf
         |       FROM w0, m1),
         |p2 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w1),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
         |w2 AS (SELECT replace(w, '<'||a||'><'||b||'>', '<'||a||b||'>') AS w, tf
         |       FROM w1, m2),
         |p3 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w2),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1)
         |SELECT * FROM (
         |  SELECT 1 AS round, a AS p1, b AS p2, c AS pair_count FROM m1
         |  UNION ALL SELECT 2, a, b, c FROM m2
         |  UNION ALL SELECT 3, a, b, c FROM m3)
         |ORDER BY round""".stripMargin) { (s, dir) =>
      def pairsOf(words: DataFrame): DataFrame =
        words
          .select(regexp_extract_all(col("w"), lit("<([^>]*)>"), lit(1)).as("syms"),
            col("tf"))
          .select(col("syms"), col("tf"),
            explode(sequence(lit(1), greatest(size(col("syms")) - 1, lit(1)),
              lit(1))).as("i"))
          .filter(col("i") <= size(col("syms")) - 1)
          .select(element_at(col("syms"), col("i")).as("a"),
            element_at(col("syms"), col("i") + 1).as("b"), col("tf"))
          .groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c"))
      def top1(p: DataFrame): DataFrame =
        p.orderBy(col("c").desc, col("a"), col("b")).limit(1)
      def applyMerge(words: DataFrame, m: DataFrame): DataFrame =
        words.crossJoin(broadcast(m))
          .select(
            call_function("replace", col("w"),
              concat(lit("<"), col("a"), lit("><"), col("b"), lit(">")),
              concat(lit("<"), col("a"), col("b"), lit(">"))).as("w"),
            col("tf"))
      val w0 = Tables.documents(s, dir)
        .select(explode(tokens(lower(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .select(concat(lit("<"),
          concat_ws("><", transform(sequence(lit(1), length(col("tok"))),
            i => col("tok").substr(i, lit(1)))),
          lit(">")).as("w"), col("tf"))
      val m1 = top1(pairsOf(w0))
      val w1 = applyMerge(w0, m1)
      val m2 = top1(pairsOf(w1))
      val w2 = applyMerge(w1, m2)
      val m3 = top1(pairsOf(w2))
      def out(m: DataFrame, r: Int): DataFrame =
        m.select(lit(r).as("round"), col("a").as("p1"), col("b").as("p2"),
          col("c").as("pair_count"))
      out(m1, 1).unionAll(out(m2, 2)).unionAll(out(m3, 3)).orderBy("round")
    },

    // X4/Q25u — BPE tokenizer APPLICATION, closing the q25t loop: re-derive
    // the same three merges (same corpus → same argmax chain), apply them to
    // the VOCABULARY (tok → encoded symbol count), then score every document
    // by joining its per-token counts against that encoded vocab. The
    // per-doc deliverable is tokenizer fertility — BPE units per 10k
    // whitespace tokens — the metric tokenizer teams actually track. At
    // 100 TB the shape is the q25t collapse plus one broadcast: merge
    // training never re-scans text after the single tf pass, the encoded
    // vocab is vocabulary-sized and broadcasts, and the per-doc aggregation
    // rides the same shuffle that built the doc×token counts — corpus text
    // is scanned exactly once end-to-end.
    QueryDef(
      "q25u_bpe_encode",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${sqlTokens("lower(text)")}) AS tok FROM documents),
         |tfd AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks
         |        WHERE tok <> '' GROUP BY doc_id, tok),
         |tf AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS tf FROM tfd GROUP BY tok),
         |w0 AS (SELECT tok, '<' || array_to_string(list_transform(
         |    generate_series(1, length(tok)), i -> substring(tok, i, 1)), '><')
         |    || '>' AS w, tf FROM tf),
         |p1 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w0),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m1 AS (SELECT a, b FROM p1 ORDER BY c DESC, a, b LIMIT 1),
         |w1 AS (SELECT tok, replace(w, '<'||a||'><'||b||'>', '<'||a||b||'>') AS w, tf
         |       FROM w0, m1),
         |p2 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w1),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m2 AS (SELECT a, b FROM p2 ORDER BY c DESC, a, b LIMIT 1),
         |w2 AS (SELECT tok, replace(w, '<'||a||'><'||b||'>', '<'||a||b||'>') AS w, tf
         |       FROM w1, m2),
         |p3 AS (SELECT syms[i] AS a, syms[i+1] AS b, CAST(SUM(tf) AS BIGINT) AS c
         |  FROM (SELECT regexp_extract_all(w, '<([^>]*)>', 1) AS syms, tf FROM w2),
         |       unnest(generate_series(1, greatest(len(syms) - 1, 1))) AS t(i)
         |  WHERE i <= len(syms) - 1 GROUP BY 1, 2),
         |m3 AS (SELECT a, b FROM p3 ORDER BY c DESC, a, b LIMIT 1),
         |w3 AS (SELECT tok, replace(w, '<'||a||'><'||b||'>', '<'||a||b||'>') AS w
         |       FROM w2, m3),
         |enc AS (SELECT tok,
         |    CAST(len(regexp_extract_all(w, '<([^>]*)>', 1)) AS BIGINT) AS n_units
         |  FROM w3)
         |SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
         |  CAST(SUM(d.cnt * e.n_units) AS BIGINT) AS n_units,
         |  (CAST(SUM(d.cnt * e.n_units) AS BIGINT) * 10000)
         |    // CAST(SUM(d.cnt) AS BIGINT) AS fert_fp
         |FROM tfd d JOIN enc e USING (tok)
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      // Same local helpers as q25t, with `tok` carried through the merge
      // chain so the trained inventory doubles as the tok→units encoder.
      def pairsOf(words: DataFrame): DataFrame =
        words
          .select(regexp_extract_all(col("w"), lit("<([^>]*)>"), lit(1)).as("syms"),
            col("tf"))
          .select(col("syms"), col("tf"),
            explode(sequence(lit(1), greatest(size(col("syms")) - 1, lit(1)),
              lit(1))).as("i"))
          .filter(col("i") <= size(col("syms")) - 1)
          .select(element_at(col("syms"), col("i")).as("a"),
            element_at(col("syms"), col("i") + 1).as("b"), col("tf"))
          .groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c"))
      def top1(p: DataFrame): DataFrame =
        p.orderBy(col("c").desc, col("a"), col("b")).limit(1).select("a", "b")
      def applyMerge(words: DataFrame, m: DataFrame): DataFrame =
        words.crossJoin(broadcast(m))
          .select(col("tok"),
            call_function("replace", col("w"),
              concat(lit("<"), col("a"), lit("><"), col("b"), lit(">")),
              concat(lit("<"), col("a"), col("b"), lit(">"))).as("w"),
            col("tf"))
      val tfd = Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      val w0 = tfd
        .groupBy(col("tok")).agg(sum(col("cnt")).as("tf"))
        .select(col("tok"),
          concat(lit("<"),
            concat_ws("><", transform(sequence(lit(1), length(col("tok"))),
              i => col("tok").substr(i, lit(1)))),
            lit(">")).as("w"), col("tf"))
      // the trained tok→units encoder is a standing artifact (a shipped
      // tokenizer IS this table): materialized once per session so serving
      // runs don't re-train the merge chain (3 rounds × pair-agg + argmax
      // stages per execution — round 16; vocabulary-sized, broadcasts)
      val enc = graft.queries.Materialize(s, dir, "q25u_enc") {
        val w1 = applyMerge(w0, top1(pairsOf(w0)))
        val w2 = applyMerge(w1, top1(pairsOf(w1)))
        val w3 = applyMerge(w2, top1(pairsOf(w2)))
        w3.select(col("tok"),
          size(regexp_extract_all(col("w"), lit("<([^>]*)>"), lit(1)))
            .cast("long").as("n_units"))
      }
      tfd.join(broadcast(enc), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * col("n_units")).as("n_units"))
        .select(col("doc_id"), col("n_tokens"), col("n_units"),
          expr("(n_units * 10000) div n_tokens").as("fert_fp"))
        .orderBy("doc_id")
    },

    // X4+/Q59 — Heaps-law VOCABULARY GROWTH curve: new type count and
    // cumulative type/token totals per corpus-prefix decile — the scaling
    // diagnostic run before sizing a tokenizer vocabulary or projecting
    // dedup yield (vocabulary growing ~n^β says the corpus still adds
    // novelty; a flattening curve says more data is mostly repetition).
    // The prefix bucket is SCAN-RIDING ARITHMETIC on the doc id against a
    // broadcast 1-row (min, span) stats frame — deliberately not ntile():
    // a global rank at 100 TB is a range-partitioned full-corpus sort,
    // while (doc_id - min) * B div span is exact integer math both engines
    // share (operands nonnegative, so DuckDB's floored // and Spark's
    // truncating div agree). First-occurrence attribution is the dedup
    // trick at type granularity: min(bucket) per token — one token-keyed
    // hash agg whose key space is the VOCABULARY (bounded, Heaps-law
    // sublinear), with map-side partials collapsing repeats before the
    // shuffle; per-bucket token totals are a second linear agg. The only
    // window runs over ≤ B rows (the decile frame), never the corpus.
    QueryDef(
      "q59_vocab_growth",
      s"""WITH st AS (SELECT MIN(doc_id) AS mn,
         |    MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
         |db AS (SELECT LEAST(9, ((doc_id - mn) * 10) // span) AS bucket,
         |    ${sqlTokens("text")} AS toks FROM documents, st),
         |tk AS (SELECT bucket, unnest(toks) AS v FROM db),
         |per AS (SELECT bucket, COUNT(*) AS n_tokens FROM tk GROUP BY bucket),
         |fo AS (SELECT v, MIN(bucket) AS fb FROM tk GROUP BY v),
         |nt AS (SELECT fb AS bucket, COUNT(*) AS new_types FROM fo GROUP BY fb),
         |g AS (SELECT p.bucket, p.n_tokens,
         |    COALESCE(nt.new_types, 0) AS new_types
         |  FROM per p LEFT JOIN nt ON p.bucket = nt.bucket),
         |cum AS (SELECT bucket, n_tokens, new_types,
         |    CAST(SUM(n_tokens) OVER (ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |    CAST(SUM(new_types) OVER (ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         |  FROM g)
         |SELECT bucket, n_tokens, cum_tokens, new_types, cum_types,
         |  round(cum_types::DOUBLE / cum_tokens, 6) AS cum_ttr
         |FROM cum ORDER BY bucket""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val st = Tables.documents(s, dir)
        .agg(min(col("doc_id")).as("mn"),
          (max(col("doc_id")) - min(col("doc_id")) + 1).as("span"))
      val db = Tables.documents(s, dir)
        .crossJoin(broadcast(st))
        .select(least(lit(9L), expr("((doc_id - mn) * 10) div span")).as("bucket"),
          tokens(col("text")).as("toks"))
      val tk = db.select(col("bucket"), explode(col("toks")).as("v"))
      val per = tk.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
      val nt = tk.groupBy(col("v")).agg(min(col("bucket")).as("fb"))
        .groupBy(col("fb")).agg(count(lit(1)).as("new_types"))
        .withColumnRenamed("fb", "bucket")
      // the running totals window sees <= 10 rows — a driver-scale frame,
      // not a corpus-scale sort
      val wc = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
      per.join(nt, Seq("bucket"), "left")
        .select(col("bucket"), col("n_tokens"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .select(col("bucket"), col("n_tokens"),
          sum(col("n_tokens")).over(wc).as("cum_tokens"),
          col("new_types"),
          sum(col("new_types")).over(wc).as("cum_types"))
        .select(col("bucket"), col("n_tokens"), col("cum_tokens"),
          col("new_types"), col("cum_types"),
          round(col("cum_types").cast("double") / col("cum_tokens"), 6)
            .as("cum_ttr"))
        .orderBy("bucket")
    }
  )
}
