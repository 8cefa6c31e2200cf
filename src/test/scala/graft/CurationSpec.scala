package graft

import graft.queries.CurationQueries
import org.apache.spark.sql.functions._

/** Properties of the curation operators the row-level oracle can't express:
  * sampling determinism/stratum caps and curation-filter soundness. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def byName(name: String) =
    CurationQueries.defs.find(_.name == name).get.df

  test("stratified sample is deterministic and respects the stratum cap") {
    val run1 = byName("q25f_stratified_sample")(spark, sf).collect().toSeq
    val run2 = byName("q25f_stratified_sample")(spark, sf).collect().toSeq
    // hash-based sampling: identical output across runs, no RNG state
    assert(run1 === run2)
    // every sampled stratum stays within ~cap + binomial slack: the
    // keep-probability is floor(1000·min(1,100/cnt))/1000, so the expected
    // stratum size is ≤ 100; 2× is far beyond any realistic deviation
    val perLang = byName("q25f_stratified_sample")(spark, sf)
      .groupBy("lang").agg(count(lit(1)).as("n")).as[(String, Long)].collect()
    perLang.foreach { case (lang, n) => assert(n <= 200, s"stratum $lang: $n") }
  }

  test("BPE encode: unit counts sit between token and character counts") {
    val docTokChars = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(trim(lower(col("text"))), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("toks"), sum(length(col("tok"))).as("chars"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val rows = graft.queries.TextAnalysisQueries.defs
      .find(_.name == "q25u_bpe_encode").get.df(spark, sf)
      .select("doc_id", "n_tokens", "n_units", "fert_fp")
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.length === docTokChars.size)
    rows.foreach { case (doc, nTok, nUnits, fert) =>
      val (toks, chars) = docTokChars(doc)
      assert(nTok === toks, s"doc $doc token count")
      // ≥: every token is at least one unit; ≤: 3 merges can only shrink
      // the all-singletons encoding, never below one unit per token
      assert(nUnits >= nTok && nUnits <= chars, s"doc $doc units $nUnits")
      assert(fert === nUnits * 10000 / nTok, s"doc $doc fertility")
    }
  }

  test("LM familiarity: bounded scores, keep tracks the bar, both classes occur") {
    val rows = graft.queries.TextAnalysisQueries.defs
      .find(_.name == "q25n_lm_familiarity").get.df(spark, sf)
      .select("familiarity", "keep").as[(Double, Boolean)].collect()
    assert(rows.nonEmpty)
    // probabilities averaged over bigrams: always a valid probability
    rows.foreach { case (f, _) => assert(f >= 0.0 && f <= 1.0, s"score $f") }
    // keep is the integer fixed-point compare at 0.034; allow the rounding
    // width of the reported (6-dp) score around the bar itself
    rows.foreach { case (f, k) =>
      if (f > 0.034 + 1e-6) assert(k, s"familiar doc ($f) dropped")
      if (f < 0.034 - 1e-6) assert(!k, s"unfamiliar doc ($f) kept")
    }
    assert(rows.exists(_._2) && rows.exists(!_._2),
      "the bar must split the test corpus, not rubber-stamp it")
  }

  test("sequence packing tiles every doc exactly and fills every non-final sequence") {
    val segs = byName("q25o_sequence_packing")(spark, sf)
      .select("lang", "doc_id", "seq", "seg_begin", "seg_len", "offset_in_seq")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(segs.nonEmpty)
    // a doc's segments tile it: begins chain 0, len1, len1+len2, ... and
    // lengths sum to its recomputed token count
    val nTok = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(graft.functions.TextHash.tokens(col("text")), x => x =!= ""))
          .cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    segs.groupBy(_._2).foreach { case (doc, ss) =>
      val ordered = ss.sortBy(_._3)
      assert(ordered.map(_._5).sum === nTok(doc), s"doc $doc not tiled")
      ordered.foldLeft(0L) { case (expect, (_, _, _, begin, len, _)) =>
        assert(begin === expect, s"doc $doc segment gap at $begin")
        begin + len
      }
    }
    // every sequence except each lang's last holds exactly 2048 tokens
    segs.groupBy(s => (s._1, s._3)).foreach { case ((lang, seq), ss) =>
      val fill = ss.map(_._5).sum
      val lastSeq = segs.filter(_._1 == lang).map(_._3).max
      if (seq != lastSeq) assert(fill === 2048L, s"($lang,$seq) holds $fill")
      else assert(fill <= 2048L, s"($lang,$seq) overfull: $fill")
    }
    // straddling docs exist in the fixture (the operator's reason to exist)
    assert(segs.groupBy(_._2).exists(_._2.length > 1), "no straddles exercised")
  }

  test("doc chunks cover every token, stride uniformly, and carry their own text") {
    val chunks = byName("q25p_doc_chunks")(spark, sf)
      .select("doc_id", "chunk_id", "tok_begin", "tok_len", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(chunks.nonEmpty)
    val nTok = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(graft.functions.TextHash.tokens(col("text")), x => x =!= ""))
          .cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val ordered = cs.sortBy(_._2)
      // chunk ids dense from 0; begins are an exact 48-stride grid
      ordered.zipWithIndex.foreach { case ((_, k, begin, len, text), i) =>
        assert(k === i.toLong, s"doc $doc chunk ids not dense")
        assert(begin === k * 48, s"doc $doc chunk $k begins at $begin")
        assert(len === math.min(64L, nTok(doc) - begin), s"doc $doc chunk $k len")
        // the text IS the claimed token window
        assert(text.split(" ").count(_.nonEmpty).toLong === len,
          s"doc $doc chunk $k text/len mismatch")
      }
      // full coverage: the last chunk reaches the doc's final token, and
      // every token index < n falls inside at least one chunk window
      val last = ordered.last
      assert(last._3 + last._4 === nTok(doc), s"doc $doc tail uncovered")
      assert(ordered.forall(c => c._3 < nTok(doc)), s"doc $doc phantom chunk")
      // no window is fully contained in its predecessor (chunk ends
      // strictly increase): a contained suffix-duplicate chunk is
      // returnable junk in a retrieval index
      ordered.map(c => c._3 + c._4).sliding(2).foreach {
        case Array(a, b) => assert(a < b, s"doc $doc contained chunk")
        case _ =>
      }
    }
    // overlap actually occurs in the fixture (docs longer than one window)
    assert(chunks.groupBy(_._1).exists(_._2.length > 1), "no multi-chunk docs")
  }

  test("DSIR selection keeps exactly the quota and skews toward the target domain") {
    val rows = byName("q25q_dsir_selection")(spark, sf)
      .select("doc_id", "lang", "n_tok", "score_fp", "sel")
      .as[(Long, String, Long, Long, Boolean)].collect()
    assert(rows.count(_._5) === 100)
    // the operator's purpose: the selected set is richer in the target
    // domain than the corpus at large
    val enAll = rows.count(_._2 == "en").toDouble / rows.length
    val enSel = rows.filter(_._5).count(_._2 == "en").toDouble / 100
    assert(enSel > enAll, s"no skew toward target: $enSel vs corpus $enAll")
    // selection is exactly the per-token-ratio order (ties break by doc_id,
    // so the boundary values may be equal but never inverted)
    val perTok = (r: (Long, String, Long, Long, Boolean)) => r._4 / r._3
    assert(rows.filter(_._5).map(perTok).min >= rows.filterNot(_._5).map(perTok).max,
      "an unselected doc out-scores a selected one")
  }

  test("curated corpus is a subset of rank-1 docs meeting the quality bar") {
    val curated = byName("q22b_corpus_curation")(spark, sf)
      .select("doc_id", "quality", "dup_rank")
      .as[(Long, Double, Int)].collect()
    assert(curated.nonEmpty)
    curated.foreach { case (id, q, r) =>
      assert(r === 1, s"doc $id: non-first duplicate survived")
      assert(q >= 0.5, s"doc $id: quality $q below bar")
    }
  }

  test("tf-idf keywords: rank is dense 1..k per doc and scores non-increasing") {
    val rows = byName("q25e_tfidf_keywords")(spark, sf)
      .select("doc_id", "rank", "score")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq, s"doc $doc ranks")
      assert(sorted.map(_._3).toSeq.reverse.sorted.reverse === sorted.map(_._3).toSeq,
        s"doc $doc scores not non-increasing")
    }
  }

  test("q25v mixture weights: distribution sums to 1, sqrt-temperature flattens") {
    val rows = byName("q25v_mixture_weights")(spark, sf)
      .select("lang", "n_tok", "p_native", "w_sample", "boost")
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(rows.size >= 2, "need a multilingual corpus")
    // both the native shares and the sampling weights are distributions
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    // α = 1/2 flattening: sampling keeps the ORDER of the native mixture
    // but compresses the ratios, and the boost (duplication factor) is
    // strictly anti-monotone in corpus share — the lowest-resource
    // language is upsampled the hardest
    val bySize = rows.sortBy(_._2)
    assert(bySize.map(_._4).toSeq === bySize.map(_._4).sorted.toSeq,
      "weights must preserve the native ordering")
    bySize.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo._5 >= hi._5, s"boost must favor the smaller language: $lo vs $hi")
      if (lo._2 != hi._2) {
        assert(lo._4 / lo._3 > hi._4 / hi._3 - 1e-9,
          "relative lift must shrink as share grows")
      }
    }
    val smallest = bySize.head
    val largest = bySize.last
    assert(smallest._5 > 1.0, "lowest-resource language must be upsampled")
    assert(largest._5 < 1.0, "highest-resource language must be downsampled")
  }

  test("q44/q45 pipeline composition: packing invariants and offset continuity") {
    // the composed DAGs beyond the row-level oracle: q44's packed segments
    // tile each lang's token stream gaplessly from offset 0; q45's batch
    // segments (a) come only from batch doc_ids, (b) are disjoint from
    // q44's packed train docs except via the batch rule, and (c) CONTINUE
    // each lang's stream where the standing history's packed end left it —
    // the first batch segment's global offset equals the history total,
    // i.e. seq*SeqLen + offset_in_seq is dense across the boundary
    def segs(name: String) =
      SparkEntry.queries(name)(spark, sf)
        .select("lang", "doc_id", "seq", "seg_begin", "seg_len", "offset_in_seq")
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    def checkTiling(rows: Seq[(String, Long, Long, Long, Long, Long)],
                    startOf: String => Long): Unit =
      rows.groupBy(_._1).foreach { case (lang, rs) =>
        // global token positions: segment covers [seq*L + offset_in_seq,
        // seq*L + offset_in_seq + seg_len); sorted, they must tile a
        // contiguous range starting at startOf(lang) with no gap/overlap
        val l = 2048L
        val spans = rs.map(r => (r._3 * l + r._6, r._3 * l + r._6 + r._5)).sortBy(_._1)
        assert(spans.head._1 === startOf(lang),
          s"$lang stream must start at ${startOf(lang)}, got ${spans.head._1}")
        spans.sliding(2).foreach {
          case Seq(a, b) => assert(b._1 === a._2, s"$lang gap/overlap at $a -> $b")
          case _ =>
        }
        rs.foreach(r => assert(r._5 > 0 && r._6 >= 0 && r._6 < l && r._4 >= 0))
      }
    val full = segs("q44_curation_pipeline")
    checkTiling(full, _ => 0L)
    val inc = segs("q45_incremental_curation")
    assert(inc.nonEmpty)
    // batch membership: every incremental row is a batch doc (footer-mod rule)
    val mod = math.max(7L,
      graft.sources.Footers.rowCount(spark, s"$sf/documents.parquet") / 70L)
    inc.foreach(r => assert(r._2 % mod === 0L, s"doc ${r._2} not in the batch"))
    // continuity: each lang's incremental stream starts EXACTLY at the
    // standing history's packed token total and tiles gaplessly from there
    val base = graft.queries.CurationPipeline.histTokenBase(spark, sf)
      .as[(String, Long)].collect().toMap
    inc.groupBy(_._1).foreach { case (lang, rs) =>
      checkTiling(rs, lg => base.getOrElse(lg, 0L))
      assert(base.contains(lang) || rs.map(_._3).min === 0L)
    }
  }

  test("q46 data card: funnel monotone, splits partition quality, totals match q44's packing") {
    val card = SparkEntry.queries("q46_corpus_datacard")(spark, sf)
      .select("lang", "n_raw", "n_dedup", "n_clean", "n_quality",
        "n_train", "n_val", "n_test", "train_tokens", "n_sequences")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect()
    assert(card.nonEmpty)
    card.foreach { case (lang, raw, ded, cln, q, tr, vl, te, toks, seqs) =>
      // the funnel can only shrink, and the split partitions the quality set
      assert(raw >= ded && ded >= cln && cln >= q, s"$lang funnel not monotone")
      assert(q === tr + vl + te, s"$lang split does not partition quality")
      assert(toks >= 0 && seqs >= 0)
      if (tr > 0) assert(toks > 0 && seqs > 0, s"$lang train docs but no tokens")
    }
    // cross-check against the pipeline's own output: per-lang packed token
    // totals and distinct sequence counts must equal q44's, exactly
    val q44 = SparkEntry.queries("q44_curation_pipeline")(spark, sf)
      .select("lang", "seq", "seg_len")
      .as[(String, Long, Long)].collect()
    val tokBy = q44.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val seqBy = q44.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    card.foreach { case (lang, _, _, _, _, _, _, _, toks, seqs) =>
      assert(toks === tokBy.getOrElse(lang, 0L), s"$lang train_tokens vs q44")
      assert(seqs === seqBy.getOrElse(lang, 0L), s"$lang n_sequences vs q44")
    }
  }

  test("q51 snapshot diff: every status matches its version rule, no 'unchanged' rows") {
    val out = SparkEntry.queries("q51_snapshot_diff")(spark, sf)
      .as[(Long, String, String, String)].collect()
    val ids = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    val statusOf = out.map(r => r._1 -> r._2).toMap
    ids.foreach { id =>
      val expect =
        if (id % 13 == 2 && id % 11 == 5) None // in neither snapshot
        else if (id % 13 == 2) Some("added")
        else if (id % 11 == 5) Some("removed")
        else if (id % 7 == 3) Some("changed")
        else None // identical fingerprints -> filtered out
      assert(statusOf.get(id) === expect, s"doc $id")
    }
    out.foreach { case (id, st, ofp, nfp) =>
      assert(st != "unchanged", s"doc $id leaked an unchanged row")
      if (st == "added") assert(ofp.isEmpty && nfp.nonEmpty, s"doc $id fps")
      if (st == "removed") assert(ofp.nonEmpty && nfp.isEmpty, s"doc $id fps")
      if (st == "changed") assert(ofp.nonEmpty && nfp.nonEmpty && ofp != nfp, s"doc $id fps")
    }
    // the fixture exercises all three statuses
    assert(Set("added", "removed", "changed").subsetOf(out.map(_._2).toSet))
  }

  test("q53 training order: a bijective permutation with dense per-shard positions") {
    val out = byName("q53_training_order")(spark, sf)
      .as[(Long, Long, Long)].collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "one slot per document")
    assert(out.map(_._1).distinct.length === out.length, "a doc appears twice")
    out.groupBy(_._2).foreach { case (shard, slots) =>
      assert(shard >= 0 && shard < 32, s"shard $shard out of range")
      assert(slots.map(_._3).sorted.toSeq === (1L to slots.length).toSeq,
        s"shard $shard: positions not dense")
    }
    // deterministic: the permutation is hash-derived, no RNG state
    val again = byName("q53_training_order")(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq === again.toSeq)
  }

  test("q57 mixture sample: dense per-source ranks hit the sqrt-rebalanced targets") {
    val out = byName("q57_mixture_sample")(spark, sf)
      .select("doc_id", "source", "rk", "src_target")
      .as[(Long, String, Long, Long)].collect()
    val ns = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    val t = ns.values.sum / 2
    val bySrc = out.groupBy(_._2)
    bySrc.foreach { case (src, rows) =>
      val targets = rows.map(_._4).distinct
      assert(targets.length === 1, s"$src: inconsistent target")
      // selection fills the target exactly (target never exceeds the
      // source, since weights are sub-linear in size) with dense ranks
      assert(rows.length.toLong === targets.head, s"$src: target not filled")
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq,
        s"$src: ranks not dense")
    }
    // the floor per source loses < 1 doc each: total within |sources| of T
    val total = out.length.toLong
    assert(total <= t && total >= t - ns.size, s"total $total vs target $t")
    // √ rebalancing: the smallest source is sampled at a rate >= the
    // largest's (floor slack tolerated), when sizes actually differ
    val (sMin, nMin) = ns.minBy(_._2)
    val (sMax, nMax) = ns.maxBy(_._2)
    if (nMax > nMin) {
      val fMin = bySrc(sMin).length.toDouble / nMin
      val fMax = bySrc(sMax).length.toDouble / nMax
      assert(fMin + 1.0 / nMin >= fMax, s"no boost: $fMin vs $fMax")
    }
  }

  test("q59 vocab growth: exact curve on a constructed two-tokens-per-doc corpus") {
    // doc i = "t<i> common": bucket = i/2 (20 ids over 10 deciles), so each
    // bucket holds 4 tokens; "common" is new only in bucket 0, t<i> always
    // new -> new_types = 3, 2, 2, ... and cum_types = 3 + 2b.
    val d = TempDirs.create("graft_vocab_")
    (0 until 20).map(i => (i.toLong, s"t$i common", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q59_vocab_growth")(spark, d)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toList
    val expected = (0 until 10).map { b =>
      val nt = if (b == 0) 3L else 2L
      val cumT = 3L + 2L * b
      (b.toLong, 4L, 4L * (b + 1), nt, cumT,
        BigDecimal(cumT.toDouble / (4 * (b + 1)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toList
    assert(out === expected, out.toString)
  }

  test("q59 vocab growth: corpus totals reconcile with direct counts") {
    val out = SparkEntry.queries("q59_vocab_growth")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("v"))
    assert(out.map(_._2).sum === toks.count(), "token total")
    assert(out.map(_._4).sum === toks.distinct().count(), "type total")
    // cumulative columns are exactly the running sums, monotone
    assert(out.map(_._3).toSeq === out.map(_._2).scanLeft(0L)(_ + _).tail.toSeq)
    assert(out.map(_._5).toSeq === out.map(_._4).scanLeft(0L)(_ + _).tail.toSeq)
  }

  test("q25i2 PII battery: every class redacts, counts stage-wise, leaves clean text alone") {
    // one instance of EVERY class (VERDICT r13 #6) — the synthetic corpus
    // only exercises the digit-run tail, so the per-pattern replace
    // semantics are pinned here
    val fixture = Seq(
      (1L, "contact alice.smith+spam@example.co.uk for details"),
      (2L, "req id 550e8400-e29b-41d4-a716-446655440000 logged"),
      (3L, "from 192.168.10.254 port 8080"),
      (4L, "call +1 555-867-5309 or 415.555.2671 now"),
      (5L, "plain digits 12345 and 007"),
      (6L, "no pii here at all"),
      (7L, "mixed: bob@corp.io at 10.0.0.1 ref 99"))
      .toDF("event_id", "props")
    val out = graft.queries.QualityQueries.piiRedaction(fixture)
      .as[(Long, String, Long, Long, Long, Long, Long, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "contact <EMAIL> for details" && out(1L)._3 === 1L)
    assert(out(2L)._2 === "req id <UUID> logged" && out(2L)._4 === 1L)
    assert(out(3L)._2 === "from <IP> port <NUM>" && out(3L)._5 === 1L && out(3L)._7 === 1L)
    // "+1 555-867-5309": the phone pattern anchors on the 3-3-4 groups, the
    // leading "+1 " digit falls through to the residual digit-run class
    assert(out(4L)._2 === "call +<NUM> <PHONE> or <PHONE> now" && out(4L)._6 === 2L)
    assert(out(5L)._2 === "plain digits <NUM> and <NUM>" && out(5L)._7 === 2L)
    assert(out(6L)._2 === "no pii here at all" && !out(6L)._8)
    // stage-wise counts: the email's and IP's digits never re-count as runs
    assert(out(7L)._2 === "mixed: <EMAIL> at <IP> ref <NUM>")
    assert(out(7L)._3 === 1L && out(7L)._5 === 1L && out(7L)._7 === 1L)
    assert(out.values.count(_._8) === 6)
  }

  test("q66 calibration: classifier verdicts are sign-consistent with their score bands") {
    val rows = graft.queries.QualityQueries.defs
      .find(_.name == "q66_classifier_calibration").get.df(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(rows.nonEmpty)
    rows.foreach { case (band, nDocs, nRule, nCls, nAgree, _, _) =>
      // strictly positive bands keep everything, strictly negative keep
      // nothing (band 0 mixes wsum=0 with small positives)
      if (band >= 1) assert(nCls === nDocs, s"band $band")
      if (band <= -1) assert(nCls === 0L, s"band $band")
      assert(nRule <= nDocs && nAgree <= nDocs)
    }
    // the report actually spans both sides of the decision boundary
    assert(rows.exists(_._1 < 0) && rows.exists(_._1 >= 0))
  }

  test("q64 vocab drift: a shifted-domain source reads high, in-vocab sources read zero") {
    // history (ids 1..97, not %7==0): vocabulary = w0..w59 spread over
    // docs; batch (ids %7==0): doc 7/src_a repeats history words (zero
    // drift), doc 14/src_b is half new words, doc 21/src_c entirely new
    val histWords = (0 until 60).map(i => s"w$i")
    def t(ws: Seq[String]) = ws.mkString(" ")
    val rows = (1 to 97).filter(_ % 7 != 0).map { i =>
      (i.toLong, t((0 until 20).map(j => histWords((i * 3 + j) % 60))), "en", "hist", 10L)
    } ++ Seq(
      (7L, t(histWords.take(20)), "en", "src_a", 10L),
      (14L, t(histWords.take(10) ++ (0 until 10).map(i => s"fresh$i")), "en", "src_b", 10L),
      (21L, t((0 until 20).map(i => s"alien$i")), "en", "src_c", 10L))
    val d = TempDirs.create("graft_q64_")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q64_vocab_drift")(spark, d)
      .as[(String, Long, Long, Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set("src_a", "src_b", "src_c"))
    assert(out("src_a")._4 === 0L && out("src_a")._6 === 0.0)
    assert(out("src_b")._4 === 10L && out("src_b")._5 === 0.5)
    assert(out("src_c")._4 === 20L && out("src_c")._5 === 1.0 && out("src_c")._6 === 1.0)
  }

  test("q64b chained vocab: a type introduced by an earlier NIGHT reads known later") {
    // base (%7 >= 3): vocabulary w0..w9. night 0 (doc 7) introduces
    // fresh0/fresh1; night 1 (doc 8) REUSES them — with a genuine carry
    // its new_types is 0, with a stale/missing night-0 delta it reads 2.
    // night 1 also introduces alien0 (doc 15); night 2 (doc 9) reuses one
    // type from EACH earlier night plus one brand-new — exactly 1 new.
    val baseWords = (0 until 10).map(i => s"w$i")
    val rows = Seq(3L, 4L, 5L, 6L).map(i =>
      (i, baseWords.mkString(" "), "en", "hist", 10L)) ++ Seq(
      (7L, "w0 w1 fresh0 fresh1", "en", "s_n0", 10L),
      (8L, "fresh0 fresh1", "en", "s_carry", 10L),
      (15L, "alien0 w2", "en", "s_new1", 10L),
      (9L, "alien0 fresh0 brand0", "en", "s_n2", 10L))
    val d = TempDirs.create("graft_q64b_")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q64b_chained_vocab_drift")(spark, d)
      .as[(Int, String, Long, Long, Long, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(out((0, "s_n0"))._5 === 2L, "night 0 introduces fresh0/fresh1")
    assert(out((1, "s_carry"))._5 === 0L,
      "night 1 must see night 0's types as KNOWN — the carry is load-bearing")
    assert(out((1, "s_new1"))._5 === 1L, "alien0 is new at night 1, w2 is base")
    assert(out((2, "s_n2"))._5 === 1L,
      "night 2 must see night-0 AND night-1 types as known; only brand0 is new")
  }

  test("q62 dynamic batching: classes are tight powers of two and batches fill to capacity") {
    val out = SparkEntry.queries("q62_dynamic_batching")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "one row per document")
    out.foreach { case (doc, n, pc, shard, _, waste, fill) =>
      assert((pc & (pc - 1)) == 0L && pc >= 1, s"doc $doc: pclass $pc not a power of 2")
      // tight: the class admits n but its half does not
      assert(n <= pc && (pc == 1 || n > pc / 2), s"doc $doc: n=$n pclass=$pc not tight")
      assert(shard >= 0 && shard < 32, s"doc $doc: shard $shard")
      assert(waste === pc - n, s"doc $doc: waste")
      assert(math.abs(fill - BigDecimal(n.toDouble / pc)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"doc $doc: fill")
    }
    // within every (pclass, shard) stream: doc-id order chunked at
    // capacity = max(1, 512 / pclass) reproduces the batch ids exactly
    out.groupBy(r => (r._3, r._4)).foreach { case ((pc, shard), rows) =>
      val cap = math.max(1L, 512L / pc)
      val expected = rows.sortBy(_._1).zipWithIndex
        .map { case (r, i) => (r._1, i / cap) }.toMap
      rows.foreach { r =>
        assert(r._5 === expected(r._1), s"(pclass=$pc shard=$shard) doc ${r._1}: batch")
      }
    }
    // the synthetic corpus spans at least two padding classes
    assert(out.map(_._3).distinct.length >= 2, "one class only — fixture degenerate")
  }
}
