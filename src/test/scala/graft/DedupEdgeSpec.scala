package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the tiny-doc contract of the combined signature frame
  * (DedupQueries.sigTokFrame): documents with fewer tokens than the shingle
  * width — including empty/whitespace-only text — still receive a complete
  * signature row (non-empty shingle set, fully-populated minhash slots), so
  * the q23 family's engine/oracle parity cannot diverge on degenerate docs.
  * ADVICE round 2 flagged this edge as unpinned. */
class DedupEdgeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fixtureDir: String = {
    val d = TempDirs.create("graft_tinydocs_")
    Seq(
      (0L, "alpha beta gamma delta", "en", "src0", 22L), // >= shingle width
      (1L, "solo", "en", "src0", 4L),                    // 1 token
      (2L, "two tokens", "en", "src0", 10L),             // 2 tokens < width 3
      (3L, "", "en", "src0", 0L),                        // empty text
      (4L, "   ", "en", "src0", 3L)                      // whitespace only
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val rows: Map[Long, Row] =
    DedupQueries.sigTokFrame(spark, fixtureDir)
      .collect().map(r => r.getLong(0) -> r).toMap

  test("every non-null-text doc gets a signature row") {
    assert(rows.keySet === Set(0L, 1L, 2L, 3L, 4L))
  }

  test("tiny docs yield exactly one shingle, never an empty shingle set") {
    val nShingles = DedupQueries.sigTokFrame(spark, fixtureDir)
      .select(col("doc_id"), size(col("shash")))
      .as[(Long, Int)].collect().toMap
    assert(nShingles(0L) === 2) // 4 tokens -> 2 three-token shingles
    assert(nShingles(1L) === 1)
    assert(nShingles(2L) === 1)
    // empty + whitespace text both tokenize to [""] -> one shingle of ""
    assert(nShingles(3L) === 1)
    assert(nShingles(4L) === 1)
  }

  test("minhash slots are fully populated for every doc") {
    val nulls = DedupQueries.sigTokFrame(spark, fixtureDir)
      .select(size(filter(col("sig"), _.isNull)).as("n"))
      .as[Int].collect()
    assert(nulls.forall(_ === 0))
  }

  test("empty and whitespace-only text share one identical signature") {
    assert(rows(3L).getAs[scala.collection.Seq[Long]]("sig") ===
      rows(4L).getAs[scala.collection.Seq[Long]]("sig"))
    assert(rows(3L).getAs[Long]("simhash") === rows(4L).getAs[Long]("simhash"))
  }

  private def byName(name: String) =
    DedupQueries.defs.find(_.name == name).get.df

  test("q23g components are a fixpoint refining q23e's one-hop canon") {
    val comp = byName("q23g_connected_components")(spark, sf)
      .select("doc_id", "comp").as[(Long, Long)].collect().toMap
    // every confirmed near-dup pair is in one component (edge consistency —
    // the fixpoint property one-hop canonicalization lacks)
    val pairs = byName("q23b_minhash_lsh_pairs")(spark, sf)
      .select("da", "db").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(comp(a) === comp(b), s"pair ($a,$b) split across components")
    }
    // the component label is the minimum member id
    comp.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min === c, s"component $c not labeled by its min member")
    }
    // components only coarsen the one-hop canon: comp(d) <= canon(d) <= doc_id
    val canon = byName("q23e_dup_canon")(spark, sf)
      .select("doc_id", "canon").as[(Long, Long)].collect().toMap
    canon.foreach { case (d, cn) =>
      assert(comp(d) <= cn, s"doc $d: component ${comp(d)} above canon $cn")
    }
  }

  test("q23d: a gram-hash collision only inflates Jaccard within pairs holding the colliding grams") {
    // q23d hashes grams to int64 before collect_set and claims (comment at
    // DedupQueries.charGramKeyed) that a 64-bit collision can only perturb
    // the one compared pair whose gram sets contain the colliding grams.
    // Constructing a REAL xxhash64 collision is impractical here: a birthday
    // search needs ~2^32.5 evaluations plus a stored hash→gram table
    // (~10^2 GB), and within the actual input space (4-char grams, ≈2^32
    // ASCII inputs into 2^64 outputs) the expected number of colliding pairs
    // is C(2^32,2)/2^64 ≈ 0.5 — a collision plausibly does not exist at all.
    // So the invariant is pinned by INJECTION: run the exact production
    // dataflow (charGramKeyed/charGramJaccardPairs) with a hash that forces
    // h(g1) = h(g2) for one chosen gram pair, and assert the blast radius.
    import org.apache.spark.sql.Column
    val docs = Seq(
      (1L, "p q r aabbccddeeff1122"),
      (2L, "p q r aabbccddeeff3344"),
      (3L, "p q r zzyyxxwwvvuuttss"),
      (4L, "p q r zzyyxxwwvvuuttss")
    ).toDF("doc_id", "text")
    // raw (string) gram sets via the production extraction, hash = identity
    val raw = DedupQueries.charGramKeyed(docs, identity[Column])
      .select(col("doc_id"), col("grams"))
      .as[(Long, Seq[String])].collect().toMap.view.mapValues(_.toSet).toMap
    val tailGrams = (a: Long, b: Long) =>
      (raw(a) -- raw(b)) -- raw(3L) // distinct tail, absent from docs 3/4
    val g1 = tailGrams(1L, 2L).head
    val g2 = tailGrams(2L, 1L).head
    assert(g1 !== g2)
    val collide: Column => Column = c =>
      when(c === lit(g1), xxhash64(lit(g2))).otherwise(xxhash64(c))
    def run(h: Column => Column): Map[(Long, Long), Double] =
      DedupQueries.charGramJaccardPairs(DedupQueries.charGramKeyed(docs, h))
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
    def keyedSets(h: Column => Column): Map[Long, Set[Long]] =
      DedupQueries.charGramKeyed(docs, h)
        .select(col("doc_id"), col("grams"))
        .as[(Long, Seq[Long])].collect().toMap.view.mapValues(_.toSet).toMap
    val base = run(xxhash64(_))
    val coll = run(collide)
    // blast radius: every pair row except (1,2) is bit-identical
    assert(base.keySet === coll.keySet)
    for (k <- base.keySet if k != (1L, 2L))
      assert(base(k) === coll(k), s"pair $k perturbed by an unrelated collision")
    assert(base((3L, 4L)) === 1.0 && coll((3L, 4L)) === 1.0)
    // the affected pair inflates by EXACTLY one intersection element:
    // doc1 carries h(g1)=xxhash64(g2), doc2 carries xxhash64(g2) genuinely
    val sb = keyedSets(xxhash64(_)); val sc = keyedSets(collide)
    // set SIZES are unchanged (g2 ∉ doc1, so no within-doc merge)
    assert(sb.forall { case (d, s) => sc(d).size === s.size })
    def jac(a: Set[Long], b: Set[Long]): Double = {
      val i = (a & b).size
      math.rint(i.toDouble / (a.size + b.size - i) * 1e6) / 1e6
    }
    assert((sc(1L) & sc(2L)).size === (sb(1L) & sb(2L)).size + 1)
    assert(coll((1L, 2L)) === jac(sc(1L), sc(2L)))
    assert(coll((1L, 2L)) > base((1L, 2L)))
  }

  test("streaming near-dup gate never misses a confirmed batch near-dup") {
    // q29c flags on band collision BEFORE the Jaccard confirm, so its
    // flagged set must cover every member of every q23b confirmed pair
    // (banding can over-flag, never under-flag a confirmed neighbor) —
    // the recall contract that makes the gate safe as an ingest filter.
    val flagged = byName("q29c_stream_neardup_gate")(spark, sf)
      .filter("flagged").select("doc_id").as[Long].collect().toSet
    val pairs = byName("q23b_minhash_lsh_pairs")(spark, sf)
      .select("da", "db").as[(Long, Long)].collect()
    assert(pairs.nonEmpty && flagged.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(flagged(a) && flagged(b),
        s"confirmed pair ($a,$b) not fully flagged by the gate")
    }
  }

  test("q22d: bloom false positives never change the incremental-dedup result") {
    // fpp = 0.5 floods the history prefilter with false positives; the
    // confirm join must absorb every one of them — the result is defined
    // to equal the naive full anti-join, which has no sketch in it at all.
    val sf = "/root/testdata/sf0.001"
    val got = DedupQueries.incrementalDedup(spark, sf, fpp = 0.5)
      .select("doc_id").as[Long].collect().toSeq.sorted
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(col("text"))).as("k"))
    val expected = docs.filter(col("doc_id") % 5 === 0)
      .join(docs.filter(col("doc_id") % 5 =!= 0).select(col("k").as("hk")),
        col("k") === col("hk"), "left_anti")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(got === expected)
    assert(got.nonEmpty, "fixture batch unexpectedly empty")
  }

  test("q22d: the confirm anti-join broadcasts the sketch-reduced history side") {
    val plan = DedupQueries.incrementalDedup(spark, "/root/testdata/sf0.001", fpp = 0.01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast left-anti confirm join, got:\n$plan")
  }

  test("q22d: the bloom probe is the native codegen expression, not a UDF") {
    // VERDICT r8 #7: the history-scan prefilter must ride whole-stage
    // codegen through Spark's own BloomFilterMightContain (registered as
    // bloom_might_contain), leaving no scalar-UDF Invoke in the plan.
    val plan = DedupQueries.incrementalDedup(spark, "/root/testdata/sf0.001", fpp = 0.01)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"expected the native bloom probe expression in the plan, got:\n$plan")
    assert(!plan.contains("UDF"), s"scalar UDF survived in the q22d plan:\n$plan")
  }

  test("q22f cluster split: dup clusters never straddle splits; singletons keep q25j's assignment") {
    val q22f = DedupQueries.defs.find(_.name == "q22f_cluster_split").get
      .df(spark, sf).select("doc_id", "canon", "split")
      .as[(Long, Long, String)].collect()
    // every member of a cluster carries its canonical's split — equal
    // canon must mean equal split, including across confirmed pairs
    q22f.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length === 1, s"cluster $c straddles splits")
    }
    // docs untouched by dedup (their own canonical) keep the q25j split
    val q25j = graft.queries.QualityQueries.defs.find(_.name == "q25j_split_assign").get
      .df(spark, sf).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val singletons = q22f.filter(r => r._2 == r._1)
    assert(singletons.nonEmpty)
    singletons.foreach { case (d, _, sp) =>
      assert(sp === q25j(d), s"singleton $d moved from its q25j split")
    }
    // the guard is exercised: the corpus has real dup clusters to re-key
    assert(q22f.exists(r => r._2 != r._1), "corpus has no dup clusters")
  }

  test("q47 removes exactly the duplicated span from the NON-keeper occurrence") {
    // doc 0 opens with a 9-token run w1..w9; doc 1 embeds the same run at
    // token 4 (two overlapping width-8 windows -> ONE merged 9-token span);
    // doc 2 shares nothing. ExactSubstr semantics: doc 0 is the global-first
    // occurrence (keeper) and reports nothing; doc 1 reports the merged span.
    val run = (1 to 9).map(i => s"w$i").mkString(" ")
    val d = TempDirs.create("graft_substr_")
    Seq(
      (0L, s"$run u1 u2 u3 u4", "en", "src0", 0L),
      (1L, s"v1 v2 v3 $run v4 v5", "en", "src0", 0L),
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q47_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List((1L, 1L, 9L, 0.642857)), out.toString) // 9 of doc 1's 14 tokens
  }

  test("q47 heavy-hitter fingerprint: one run duplicated across 30% of docs resolves skew-safely") {
    // VERDICT r12 #3: the skew case the ×10/×20 growth captures can never
    // contain (ScaleUp rotates replica text so shingles decouple) — ONE
    // 8-token boilerplate run embedded in 30% of docs puts every
    // occurrence on a single fingerprint key. The groupBy resolution must
    // still produce exact spans: every flagged doc except the
    // lexicographic-first occurrence reports exactly the 8-token span.
    val run = (1 to 8).map(i => s"hh$i").mkString(" ")
    val d = TempDirs.create("graft_heavyhit_")
    val docs = (0L until 200L).map { id =>
      // globally-unique filler so ONLY the planted run's window repeats
      val pre = (1 to 3).map(j => s"u${id}p$j").mkString(" ")
      val suf = (1 to 5).map(j => s"u${id}s$j").mkString(" ")
      val text = if (id % 10 < 3) s"$pre $run $suf"
                 else s"$pre ${(1 to 8).map(j => s"u${id}m$j").mkString(" ")} $suf"
      (id, text, "en", "src0", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8) // heavy hitter spread over many input partitions
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q47_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toList.sortBy(_._1)
    val hit = (0L until 200L).filter(_ % 10 < 3)
    // keeper = lowest doc_id holding the run (all occurrences at pos 4)
    val expected = hit.tail.map(id => (id, 1L, 8L, 0.5)).toList
    assert(out === expected, s"got ${out.take(5)}... (${out.length} rows)")
  }

  test("q47 keeper attribution survives the 1e6-token position boundary") {
    // regression pin for the retired doc_id*1e6+pos radix packing (ADVICE
    // r12): a >=1e6-token document's positions bled into the next doc's
    // range, flipping the keeper. doc 1 holds the run at pos 1,200,001 —
    // packed occ 1*1e6+1200001 = 2,200,001 > doc 2's 2,000,004 — so the
    // packed rule kept doc 2; lexicographic min(struct(doc_id, pos)) must
    // keep doc 1 and flag ONLY doc 2.
    val run = (1 to 9).map(i => s"kk$i").mkString(" ")
    val nFill = 1200000
    val filler = new StringBuilder(10 * nFill)
    (1 to nFill).foreach { j => filler.append('a').append(j).append(' ') }
    val d = TempDirs.create("graft_radix_")
    Seq(
      (1L, filler.result() + run, "en", "src0", 0L),
      (2L, s"v1 v2 v3 $run v4 v5", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q47_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List((2L, 1L, 9L, 0.642857)), out.toString)
  }

  test("q47b incremental: history always keeps (even vs a lower batch id); batch dups resolve by struct-min") {
    // batch docs are doc_id % 7 == 0. Three planted geometries:
    //  - run X lives in history doc 1 and batch doc 7 -> doc 7's copy
    //    removed (history keeper);
    //  - run Z lives in history doc 8 and batch doc 0 -> doc 0's copy
    //    removed EVEN THOUGH 0 < 8 — history is immutable, so its copy is
    //    the keeper regardless of id order (the full-q47 rule would have
    //    kept doc 0 and flagged doc 8);
    //  - run Y lives only in batch docs 0 and 14 -> struct-min keeper is
    //    doc 0's occurrence, doc 14 reports the span;
    //  - batch doc 21 is unique -> absent from the report.
    val x = (1 to 9).map(i => s"x$i").mkString(" ")
    val y = (1 to 9).map(i => s"y$i").mkString(" ")
    val z = (1 to 9).map(i => s"z$i").mkString(" ")
    val d = TempDirs.create("graft_incsub_")
    Seq(
      (1L, s"$x h1 h2 h3", "en", "src0", 0L),          // history
      (8L, s"g1 $z g2", "en", "src0", 0L),             // history
      (0L, s"c1 c2 c3 $y c4 $z", "en", "src0", 0L),    // batch, n=22
      (7L, s"b1 b2 $x b3", "en", "src0", 0L),          // batch, n=12
      (14L, s"d1 $y d2 d3", "en", "src0", 0L),         // batch, n=12
      (21L, "u1 u2 u3 u4 u5 u6 u7 u8 u9", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q47b_incremental_substring")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(out === List(
      (0L, 1L, 9L, 0.409091),
      (7L, 1L, 9L, 0.75),
      (14L, 1L, 9L, 0.75)), out.toString)
  }

  test("q47 corpus run: spans stay inside their docs and the keeper copy of a dup survives") {
    val out = SparkEntry.queries("q47_substring_dedup")(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(out.nonEmpty, "corpus has injected duplicates; q47 must fire")
    out.foreach { case (doc, nSpans, dupTok, frac) =>
      assert(nSpans >= 1 && dupTok >= 8, s"doc $doc: degenerate span")
      assert(frac > 0.0 && frac <= 1.0, s"doc $doc: frac $frac out of range")
    }
    // exact-duplicate TEXT groups (q22's finding): every doc of the group
    // except the globally-first must be fully covered; the first must not
    // be flagged as 100% duplicated by its own copies alone
    val flagged = out.map(r => r._1 -> r._4).toMap
    // exact-text dup groups exist at sf0.01+ but not in the 50-doc spec
    // fixture — the invariant applies whenever the corpus carries them
    val dups = graft.sources.Tables.documents(spark, sf)
      .groupBy(lower(trim($"text"))).agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") >= 2).select($"ids").as[Seq[Long]].collect()
    dups.foreach { ids =>
      ids.sorted.tail.foreach { id =>
        assert(flagged.get(id).contains(1.0), s"dup copy $id not fully covered")
      }
    }
  }

  test("q48 classifier: score is the bounded mean weight and keep is its sign") {
    val out = SparkEntry.queries("q48_quality_classifier")(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "one score per document")
    out.foreach { case (doc, n, score, keep) =>
      assert(n >= 1, s"doc $doc: no features")
      assert(score >= -1.0 && score <= 1.0, s"doc $doc: score $score out of range")
      assert(keep === (score > 0.0), s"doc $doc: keep disagrees with score sign")
    }
  }

  test("q49 overlap matrix: one row per unordered source pair, estimates in [0,1]") {
    val out = SparkEntry.queries("q49_source_overlap")(spark, sf)
      .as[(String, String, Double)].collect()
    val s = graft.sources.Tables.documents(spark, sf)
      .select($"source").distinct().count().toInt
    assert(out.length === s * (s - 1) / 2, s"expected C($s,2) pairs")
    out.foreach { case (a, b, j) =>
      assert(a < b, s"pair ($a,$b) not canonically ordered")
      assert(j >= 0.0 && j <= 1.0, s"($a,$b): est $j out of range")
    }
  }

  test("q50: exactly one keeper per cluster, and it is the max-score member") {
    val out = SparkEntry.queries("q50_cluster_keep_best")(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "one decision per document")
    // recompute the ranking key exactly as the query does: one IEEE double
    // division over the exact integer accumulation (JVM Double./ is the
    // same operation Spark and DuckDB execute on identical operands)
    val acc = graft.queries.QualityQueries.clsScored(spark, sf)
      .select($"doc_id", $"n_feats", $"wsum").as[(Long, Long, Long)]
      .collect().map(r => r._1 -> (r._3.toDouble / r._2)).toMap
    out.groupBy(_._2).foreach { case (canon, members) =>
      assert(members.count(_._4) === 1, s"cluster $canon: keeper count != 1")
      val keeper = members.find(_._4).get
      // keeper maximizes mean weight; among exact ties it is the lowest doc_id
      val best = members.map(m => acc(m._1)).max
      assert(acc(keeper._1) === best, s"cluster $canon: keeper below max mean weight")
      val tied = members.filter(m => acc(m._1) === best).map(_._1).min
      assert(keeper._1 === tied, s"cluster $canon: tie not broken by doc_id")
    }
    // the composition is non-trivial on the fixture: multi-doc clusters exist
    assert(out.groupBy(_._2).exists(_._2.length >= 2), "no dup clusters in corpus")
  }

  test("q52 audit: a planted train->val verbatim run is reported with exact severity") {
    // find ids whose q25j bucket lands in train (<90) and val ([90,95)) so
    // the planted docs straddle the split the audit measures
    val buckets = spark.range(0, 300)
      .select($"id", (graft.functions.TextHash.hash32(
        concat(lit("split:"), $"id")) % 100).as("b"))
      .as[(Long, Long)].collect().toMap
    val trainId = (0L until 300L).find(i => buckets(i) < 90).get
    val valId = (0L until 300L).find(i => buckets(i) >= 90 && buckets(i) < 95).get
    val run = (1 to 9).map(i => s"w$i").mkString(" ")
    val d = TempDirs.create("graft_contam_")
    Seq(
      (trainId, s"$run t1 t2 t3", "en", "src0", 0L),     // train doc holds the run
      (valId, s"v1 v2 $run v3", "en", "src0", 0L),       // val doc embeds it
      (trainId + 300, "z1 z2 z3 z4 z5 z6 z7 z8", "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q52_split_contamination")(spark, d)
      .as[(Long, String, Long, Long, Double)].collect().toList
    // the val doc has 12 tokens -> 5 windows; the shared 9-token run
    // contributes exactly its 2 width-8 windows as hits
    val expected = out.filter(_._1 == valId)
    assert(expected.map(r => (r._2, r._3, r._4)) === List(("val", 5L, 2L)),
      out.toString)
  }

  test("q52b at width 13: a 14-token leak counts its two 13-gram windows; a 9-token leak is invisible") {
    // the GPT-3 recipe's width knob (VERDICT r12 #8): the same planted
    // train->val geometry as the q52 spec, but the audit runs at N=13 — a
    // 14-token verbatim run contributes exactly its two width-13 windows,
    // while a 9-token run (a q52-width hit) contains NO width-13 window
    // and must not be reported as leakage.
    val buckets = spark.range(0, 300)
      .select($"id", (graft.functions.TextHash.hash32(
        concat(lit("split:"), $"id")) % 100).as("b"))
      .as[(Long, Long)].collect().toMap
    val trainId = (0L until 300L).find(i => buckets(i) < 90).get
    val valIds = (0L until 300L).filter(i => buckets(i) >= 90 && buckets(i) < 95)
    val (valA, valB) = (valIds(0), valIds(1))
    val run14 = (1 to 14).map(i => s"x$i").mkString(" ")
    val run9 = (1 to 9).map(i => s"y$i").mkString(" ")
    val d = TempDirs.create("graft_contam13_")
    Seq(
      (trainId, s"$run14 t1 t2 $run9", "en", "src0", 0L),
      (valA, s"a1 a2 $run14 a3", "en", "src0", 0L),   // 17 tok -> 5 windows, 2 hits
      (valB, s"b1 b2 b3 b4 $run9", "en", "src0", 0L)  // 13 tok -> 1 window, 0 hits
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q52b_contamination_n13")(spark, d)
      .as[(Long, String, Long, Long, Double)].collect().toList
    val byId = out.map(r => r._1 -> (r._3, r._4)).toMap
    assert(byId(valA) === ((5L, 2L)), out.toString)
    assert(byId(valB) === ((1L, 0L)), out.toString)
  }

  test("q58 repetition filter: exact Gopher metrics on a constructed repeat/clean pair") {
    // docB front-loads "a b" ×4 (8 tokens) before 22 unique tokens: the
    // most frequent 2/3/4-grams are the run's, and the duplicated-3gram
    // positions [1..8] merge into ONE span (overlapping repeats must not
    // double-count). docA is 30 unique tokens — every n-gram unique, zero
    // dup coverage, inside every Gopher bound.
    val uniq = (1 to 30).map(i => s"u$i")
    val d = TempDirs.create("graft_rep_")
    Seq(
      (0L, uniq.mkString(" "), "en", "src0", 0L),
      (1L, "a b a b a b a b " + uniq.take(22).mkString(" "), "en", "src0", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q58_repetition_filter")(spark, d)
      .as[(Long, Long, Double, Double, Double, Double, Boolean)].collect().toList
    assert(out === List(
      (0L, 30L, 0.066667, 0.1, 0.133333, 0.0, true),
      (1L, 30L, 0.266667, 0.3, 0.4, 0.266667, false)), out.toString)
  }

  test("q58 corpus run: fractions bounded, keep consistent with its own thresholds") {
    val out = SparkEntry.queries("q58_repetition_filter")(spark, sf)
      .as[(Long, Long, Double, Double, Double, Double, Boolean)].collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length.toLong === nDocs, "one row per document")
    out.foreach { case (doc, n, t2, t3, t4, d3, keep) =>
      assert(n >= 1, s"doc $doc: empty")
      Seq(t2, t3, t4, d3).foreach(f => assert(f >= 0.0 && f <= 1.0, s"doc $doc: $f"))
      assert(keep === (t2 <= 0.20 && t3 <= 0.18 && t4 <= 0.16 && d3 <= 0.20),
        s"doc $doc: keep disagrees with thresholds")
    }
    // the battery discriminates on the fixture corpus: both classes exist
    assert(out.exists(_._7) && out.exists(!_._7), "thresholds never fired")
  }

  test("q52 corpus run: rows are val/test only and severity is bounded") {
    val out = SparkEntry.queries("q52_split_contamination")(spark, sf)
      .as[(Long, String, Long, Long, Double)].collect()
    assert(out.nonEmpty, "fixture corpus has val/test docs with windows")
    out.foreach { case (doc, split, nw, nh, frac) =>
      assert(split == "val" || split == "test", s"doc $doc: split $split")
      assert(nh >= 0 && nh <= nw, s"doc $doc: n_hit $nh out of [0, $nw]")
      assert(math.abs(frac - nh.toDouble / nw) < 1e-5, s"doc $doc: frac")
    }
  }

  test("q61 source precedence: one keeper per exact cluster, chosen by (prio, source, doc_id)") {
    // the same text planted across three sources (plus normalization-only
    // variants that must land in the SAME cluster), and two unique docs
    val d = TempDirs.create("graft_prec_")
    Seq(
      (0L, "shared body text", "srcA", 0L),
      (1L, "shared body text", "srcB", 0L),
      (2L, "  Shared Body Text  ".toLowerCase, "srcC", 0L), // trim/case-normalized dup
      (3L, "unique one", "srcA", 0L),
      (4L, "unique two", "srcB", 0L)
    ).map { case (id, t, s, n) => (id, t, "en", s, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q61_source_precedence")(spark, d)
      .as[(Long, String, Long, String, Long, Boolean)].collect()
    assert(out.length === 5)
    out.groupBy(_._4).foreach { case (_, rows) =>
      assert(rows.forall(_._5 === rows.length.toLong), "n_copies != cluster size")
      val kept = rows.filter(_._6)
      assert(kept.length === 1, s"cluster keeps ${kept.length} copies")
      // the keeper is the lexicographic (prio, source, doc_id) minimum
      val expect = rows.map(r => (r._3, r._2, r._1)).min
      assert((kept.head._3, kept.head._2, kept.head._1) === expect, "wrong keeper")
    }
    // the three normalized copies share one cluster; uniques are singletons
    val sizes = out.groupBy(_._4).values.map(_.length).toList.sorted
    assert(sizes === List(1, 1, 3), sizes.toString)
    // priorities depend only on the source name
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).distinct.length === 1, "prio varies within a source")
    }
  }

  /** q63: the prefix-doubling suffix array must equal a sequential
    * brute-force suffix sort (depth-32 token prefixes, shorter-prefix-first,
    * (doc_id, pos) ties) on a fixture engineered for every tie class:
    * identical suffixes across docs, a proper-prefix suffix at a doc end,
    * and a 40-token shared run whose suffixes are EQUAL through the depth
    * bound but diverge beyond it. */
  test("q63 suffix array matches a sequential suffix sort on tie fixtures") {
    import scala.math.Ordering.Implicits.seqOrdering
    val run40 = (0 until 40).map(i => f"run$i%02d").mkString(" ")
    val docsFixture = Seq(
      (10L, "b c d e"),              // suffix [b,c,d,e] ties with doc 11 pos 2
      (11L, "a b c d e"),
      (12L, "b c"),                  // proper prefix of [b,c,d,e] — sorts first
      (13L, s"$run40 zz end"),       // depth-32-equal with doc 14, differs later
      (14L, s"$run40 aa tail")
    )
    val d = TempDirs.create("graft_sa_")
    docsFixture.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val expected = docsFixture.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      (1 to toks.length).map { pos =>
        (toks.slice(pos - 1, pos - 1 + DedupQueries.SaDepth), id, pos.toLong)
      }
    }.sorted.zipWithIndex.map { case ((_, id, pos), i) => (i + 1L, id, pos) }
    val out = SparkEntry.queries("q63_suffix_array")(spark, d)
      .select("sa_pos", "doc_id", "pos").as[(Long, Long, Long)].collect().toSeq
    assert(out === expected)
    // the depth-bound tie really is exercised: doc 13/14 suffixes at pos 1
    // share their first 32 tokens, so doc 13 precedes purely by doc_id even
    // though its full suffix ("zz...") sorts AFTER doc 14's ("aa...")
    val sa13 = out.find(r => r._2 === 13L && r._3 === 1L).get._1
    val sa14 = out.find(r => r._2 === 14L && r._3 === 1L).get._1
    assert(sa13 === sa14 - 1)
    // doc-end prefix order: [b,c] < [b,c,d,e] (doc 10) < doc 11's copy
    val bc = Seq(out.find(r => r._2 === 12L && r._3 === 1L).get._1,
      out.find(r => r._2 === 10L && r._3 === 1L).get._1,
      out.find(r => r._2 === 11L && r._3 === 2L).get._1)
    assert(bc === bc.sorted && bc(1) === bc(0) + 1 && bc(2) === bc(1) + 1)
  }

  /** q63b: the LCP histogram must equal a sequential brute force over the
    * same tie fixture — whose pairs exercise the full range: identical
    * cross-doc suffixes (lcp = full suffix length), the doc-end proper
    * prefix (lcp = shorter length), and the 40-token run shared past the
    * depth bound (lcp capped at exactly SaDepth). */
  test("q63b LCP histogram matches a sequential brute force on tie fixtures") {
    val run40 = (0 until 40).map(i => f"run$i%02d").mkString(" ")
    val docsFixture = Seq(
      (10L, "b c d e"), (11L, "a b c d e"), (12L, "b c"),
      (13L, s"$run40 zz end"), (14L, s"$run40 aa tail"))
    val d = TempDirs.create("graft_lcp_")
    docsFixture.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    import scala.math.Ordering.Implicits.seqOrdering
    val sa = docsFixture.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      (1 to toks.length).map { pos =>
        (toks.slice(pos - 1, pos - 1 + DedupQueries.SaDepth), id, pos.toLong)
      }
    }.sorted
    val expected = sa.zip(sa.tail).map { case ((a, id, pos), (b, _, _)) =>
      (a.zip(b).takeWhile(t => t._1 == t._2).length.toLong, id, pos)
    }.groupBy(_._1).toSeq.map { case (lcp, g) =>
      val w = g.map(p => (p._2, p._3)).min
      (lcp, g.size.toLong, w._1, w._2)
    }.sortBy(_._1)
    // the fixture really spans the spectrum: a depth-capped pair (docs
    // 13/14 share 40 > SaDepth tokens) and an exact cross-doc duplicate
    assert(expected.exists(_._1 === DedupQueries.SaDepth.toLong))
    val out = SparkEntry.queries("q63b_lcp_mining")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === expected)
  }

  /** q63c: the suffix-array removal path must produce byte-identical spans
    * to q47's fingerprint path on a fixture with a cross-doc 40-token run
    * (multi-window span), a WITHIN-doc verbatim 8-run repeat (keeper =
    * earlier pos of the same doc), and short docs that yield no windows. */
  test("q63c SA removal equals q47's fingerprint path on repeat fixtures") {
    val run40 = (0 until 40).map(i => f"run$i%02d").mkString(" ")
    val rep8 = (0 until 8).map(i => s"rep$i").mkString(" ")
    val docsFixture = Seq(
      (10L, "b c d e"),                      // < 8 tokens: no windows
      (13L, s"$run40 zz end"),               // shares the 40-run with 14
      (14L, s"$run40 aa tail"),
      (15L, s"$rep8 mid $rep8 post"),        // internal repeat, keeper pos 1
      (16L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))   // unique: must not appear
    val d = TempDirs.create("graft_sac_")
    docsFixture.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val viaHash = SparkEntry.queries("q47_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val viaSa = SparkEntry.queries("q63c_sa_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(viaSa === viaHash)
    // the fixture actually removes something, from the right docs only
    assert(viaSa.map(_._1).toSet === Set(14L, 15L))
  }

  /** q63d: the minimum-match knob must actually change the operating
    * point — a 40-token cross-doc run is removed at width SaMinMatch=16
    * (its LCP caps at SaDepth ≥ 16), while an 8-token verbatim repeat is
    * INVISIBLE at 16 (no width-16 window repeats) though q63c removes it
    * at width 8. Same stored index, different threshold, different
    * removal set. */
  test("q63d min-match removal keeps sub-threshold repeats that q63c removes") {
    val run40 = (0 until 40).map(i => f"run$i%02d").mkString(" ")
    val rep8 = (0 until 8).map(i => s"rep$i").mkString(" ")
    val docsFixture = Seq(
      (10L, "b c d e"),
      (13L, s"$run40 zz end"),
      (14L, s"$run40 aa tail"),
      (15L, s"$rep8 mid $rep8 post"),
      (16L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
    val d = TempDirs.create("graft_sad_")
    docsFixture.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val at16 = SparkEntry.queries("q63d_sa_substring_minmatch")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // only the 40-run doc loses tokens; keeper = lexicographic min → doc 13
    assert(at16.map(_._1) === Seq(14L))
    val (_, _, dupToks, _) = at16.head
    assert(dupToks === 40L, s"expected the full 40-token run marked, got $dupToks")
    val at8 = SparkEntry.queries("q63c_sa_substring_dedup")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(at8.map(_._1).toSet === Set(14L, 15L),
      "width-8 must still remove the 8-token repeat the 16 threshold ignores")
  }

  /** q65: planted drift — a batch doc that near-duplicates a history doc
    * (one token changed out of 30) must flag; an all-fresh batch doc must
    * not; a batch doc duplicating another BATCH doc must not flag either
    * (the monitor measures drift against the STANDING corpus only). */
  test("q65 near-dup drift flags history near-dups only") {
    val run30 = (0 until 30).map(i => s"nd$i").mkString(" ")
    val run30b = ((0 until 15).map(i => s"nd$i") ++ Seq("CHANGED") ++
      (16 until 30).map(i => s"nd$i")).mkString(" ")
    val fresh = (0 until 30).map(i => s"zq$i").mkString(" ")
    val fresh2 = (0 until 30).map(i => s"yk$i").mkString(" ")
    val rows = Seq(
      (1L, run30, "en", "hist", 10L),            // history
      (2L, (0 until 30).map(i => s"hx$i").mkString(" "), "en", "hist", 10L),
      (7L, run30b, "en", "src_dup", 10L),        // batch: near-dup of doc 1
      (14L, fresh, "en", "src_new", 10L),        // batch: fresh
      (21L, fresh2, "en", "src_pair", 10L),      // batch pair: dup of 28,
      (28L, fresh2, "en", "src_pair", 10L))      //   but NOT of history
    val d = TempDirs.create("graft_q65_")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q65_neardup_drift")(spark, d)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("src_dup")._3 === 1L && out("src_dup")._4 === 1.0)
    assert(out("src_new")._3 === 0L)
    assert(out("src_pair")._3 === 0L,
      "within-batch duplicates must not count as history drift")
  }

  /** q65b: the cross-NIGHT compounding edge — a night-1 doc near-dupping a
    * night-0 BATCH doc must flag (only a genuine night-0 delta carry can
    * see it), while a within-night pair still must not. */
  test("q65b chained near-dup drift sees earlier nights' batches as standing") {
    val hist30 = (0 until 30).map(i => s"hh$i").mkString(" ")
    val night0 = (0 until 30).map(i => s"nz$i").mkString(" ")
    val night0b = ((0 until 15).map(i => s"nz$i") ++ Seq("CHANGED") ++
      (16 until 30).map(i => s"nz$i")).mkString(" ")
    val fresh = (0 until 30).map(i => s"fr$i").mkString(" ")
    val freshB = ((0 until 15).map(i => s"fr$i") ++ Seq("ALTERED") ++
      (16 until 30).map(i => s"fr$i")).mkString(" ")
    val rows = Seq(
      (3L, hist30, "en", "hist", 10L),                 // base
      (4L, (0 until 30).map(i => s"zz$i").mkString(" "), "en", "hist", 10L),
      (7L, night0, "en", "n0_fresh", 10L),             // night 0: fresh
      (14L, (0 until 30).map(i => s"qq$i").mkString(" "), "en", "n0_other", 10L),
      (8L, night0b, "en", "n1_xnight", 10L),           // night 1: near-dups doc 7
      (15L, fresh, "en", "n1_pair", 10L),              // night 1 within-night pair
      (22L, fresh, "en", "n1_pair", 10L),              //   (must NOT flag)
      (9L, freshB, "en", "n2_xnight", 10L))            // night 2: near-dups night 1
    val d = TempDirs.create("graft_q65b_")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q65b_chained_neardup_drift")(spark, d)
      .as[(Int, String, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(out((0, "n0_fresh"))._4 === 0L, "night 0 vs base only: fresh is clean")
    assert(out((1, "n1_xnight"))._4 === 1L,
      "a night-1 near-dup of a night-0 BATCH doc must flag — the carry is load-bearing")
    assert(out((1, "n1_pair"))._4 === 0L,
      "a within-night duplicate pair must not flag (index grows after the probe)")
    assert(out((2, "n2_xnight"))._4 === 1L,
      "night 2 must see night 1's batch as standing")
  }

  /** q67b: q65b's cross-night edge in EMBEDDING space. */
  test("q67b chained embedding drift sees earlier nights' batches as standing") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val baseDir = v(i => if (i < 2) 1f else 0f)
    val n0New = v(i => if (i == 10 || i == 11) 1f else 0f)   // fresh at night 0
    val n1Dup = v(i => if (i == 10 || i == 11) 3f else 0f)   // colinear with n0New
    val n1Pair = v(i => if (i == 20) 1f else if (i == 21) -1f else 0f)
    val n2Dup = v(i => if (i == 20) 2f else if (i == 21) -2f else 0f) // colinear n1Pair
    val vecs = Seq(
      (3L, baseDir, 0), (4L, v(i => if (i == 4 || i == 5) 1f else 0f), 0), // base
      (7L, n0New, 0),                                   // night 0: fresh
      (8L, n1Dup, 0),                                   // night 1: dups night 0
      (15L, n1Pair, 0), (22L, n1Pair, 0),               // night 1 within-night pair
      (9L, n2Dup, 0))                                   // night 2: dups night 1
    val srcs = Map(3L -> "hist", 4L -> "hist", 7L -> "n0_fresh",
      8L -> "n1_xnight", 15L -> "n1_pair", 22L -> "n1_pair", 9L -> "n2_xnight")
    val d = TempDirs.create("graft_q67b_")
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    vecs.map { case (id, _, _) => (id, s"text $id", "en", srcs(id), 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q67b_chained_embedding_drift")(spark, d)
      .as[(Int, String, Long, Long, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(out((0, "n0_fresh"))._4 === 0L, "night 0 vs base only: fresh is clean")
    assert(out((1, "n1_xnight"))._4 === 1L,
      "a night-1 vector colinear with a night-0 BATCH vector must flag")
    assert(out((1, "n1_pair"))._4 === 0L,
      "a within-night identical pair must not flag")
    assert(out((2, "n2_xnight"))._4 === 1L,
      "night 2 must see night 1's batch as standing")
  }

  /** q67: planted SEMANTIC drift — a batch vector colinear with a history
    * vector (cosine 1.0 at a different magnitude, the paraphrase-analogue
    * the lexical monitors can't see) must flag; an orthogonal fresh batch
    * vector must not; an identical batch-batch pair must not (drift is
    * measured against the STANDING corpus only — q65's rule, embedding
    * space). */
  test("q67 embedding drift flags history near-dups only") {
    val dim = 64
    def v(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val a = v(i => if (i < 2) 1f else 0f)               // history direction
    val d2 = v(i => if (i == 2 || i == 3) 1f else 0f)   // second history dir
    val bDup = v(i => if (i < 2) 2f else 0f)            // colinear with a
    val bNew = v(i => if (i == 62) 1f else if (i == 63) -1f else 0f)
    val bPair = v(i => if (i == 4) 1f else if (i == 5) -1f else 0f)
    val vecs = Seq(
      (1L, a, 0), (2L, d2, 0),                          // history
      (7L, bDup, 0), (14L, bNew, 0),                    // batch
      (21L, bPair, 0), (28L, bPair, 0))                 // batch pair
    val srcs = Map(1L -> "hist", 2L -> "hist", 7L -> "src_dup",
      14L -> "src_new", 21L -> "src_pair", 28L -> "src_pair")
    val d = TempDirs.create("graft_q67_")
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    vecs.map { case (id, _, _) =>
        (id, s"text $id", "en", srcs(id), 7L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val out = SparkEntry.queries("q67_embedding_drift")(spark, d)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("src_dup") === (("src_dup", 1L, 1L, 1.0)),
      "a batch vector colinear with history must flag")
    assert(out("src_new")._3 === 0L, "an orthogonal fresh vector must not flag")
    assert(out("src_pair") === (("src_pair", 2L, 0L, 0.0)),
      "within-batch duplicates must not count as history drift")
    assert(!out.contains("hist"), "history sources must not appear in the report")
  }

  /** q63e: the threshold curve's structural contract — cumulative counts
    * are monotone nonincreasing in the width, the rate denominators agree
    * with the spectrum's own mass, and "recommended" marks exactly the
    * smallest width whose rate meets the budget (and nothing else). */
  test("q63e threshold curve is monotone and recommends the smallest in-budget width") {
    val rows = SparkEntry.queries("q63e_threshold_select")(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    assert(rows.map(_._1) === (1L to DedupQueries.SaDepth.toLong))
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 >= b._2, s"curve not monotone at ${b._1}") }
    val inBudget = rows.filter(_._3 <= 0.05).map(_._1)
    val rec = rows.filter(_._4).map(_._1)
    if (inBudget.nonEmpty) assert(rec === Seq(inBudget.min),
      s"expected recommended == ${inBudget.min}, got $rec")
    else assert(rec.isEmpty)
    // the selector actually fires on the fixture corpus
    assert(rec.nonEmpty, "budget never met on the fixture corpus — selector untested")
  }

  /** q63f: the spectrum→threshold→removal loop — the width q63f removes at
    * must be EXACTLY the q63e report's recommended row (wiring), and on a
    * controlled fixture the whole loop must match a sequential brute force
    * that independently derives the spectrum, the budgeted argmin, and the
    * removal at that width. */
  test("q63f removes at exactly the q63e-recommended width, end to end") {
    // wiring on the standard fixture SF
    val rows63e = SparkEntry.queries("q63e_threshold_select")(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    val recRow = rows63e.filter(_._4).map(_._1)
    val expectedW =
      if (recRow.isEmpty) DedupQueries.SaDepth.toLong else recRow.head
    assert(DedupQueries.recommendedMinMatch(spark, sf).toLong === expectedW,
      "q63f's driver width must be q63e's recommended row")

    // end-to-end fixture: a cross-doc 40-token run (the duplicate mass), an
    // 8-token repeat (invisible once the recommended width exceeds 8), and
    // unique filler sized so the budget lands strictly inside (1, SaDepth)
    val run40 = (0 until 40).map(i => f"fr$i%02d").mkString(" ")
    val rep8 = (0 until 8).map(i => s"fq$i").mkString(" ")
    val docsFixture = Seq(
      (13L, s"$run40 zz end"),
      (14L, s"$run40 aa tail"),
      (15L, s"$rep8 mid $rep8 post")) ++
      (20 until 35).map(i =>
        (i.toLong, (0 until 20).map(j => s"u${i}_$j").mkString(" ")))
    val d = TempDirs.create("graft_q63f_")
    docsFixture.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // brute force: depth-bounded SA → adjacency LCPs → curve → argmin
    import scala.math.Ordering.Implicits.seqOrdering
    val sa = docsFixture.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      (1 to toks.length).map { pos =>
        (toks.slice(pos - 1, pos - 1 + DedupQueries.SaDepth), id, pos.toLong)
      }
    }.sorted
    val lcps = sa.zip(sa.tail).map { case ((a, _, _), (b, _, _)) =>
      a.zip(b).takeWhile(t => t._1 == t._2).length.toLong }
    val rec = (1 to DedupQueries.SaDepth)
      .find(L => lcps.count(_ >= L).toDouble / lcps.size <= 0.05)
      .getOrElse(DedupQueries.SaDepth)
    assert(rec > 1 && rec < DedupQueries.SaDepth,
      s"fixture must land the budget strictly inside the grid, got $rec")
    assert(DedupQueries.recommendedMinMatch(spark, d) === rec)
    // brute-force removal at the recommended width
    val wins = docsFixture.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      (1 to toks.length - rec + 1).map(p =>
        (toks.slice(p - 1, p - 1 + rec).mkString(""),
          id, p.toLong, toks.length.toLong))
    }
    val removable = wins.groupBy(_._1).filter(_._2.size >= 2).values.flatMap { g =>
      val keeper = g.map(w => (w._2, w._3)).min
      g.filter(w => (w._2, w._3) != keeper)
    }.toSeq
    val expected = removable.groupBy(_._2).toSeq.map { case (id, ws) =>
      val n = ws.head._4
      val spans = ws.map(w => (w._3, w._3 + rec - 1)).sortBy(_._1)
        .foldLeft(List.empty[(Long, Long)]) {
          case ((ps, pe) :: rest, (s0, e0)) if s0 <= pe + 1 =>
            (ps, math.max(pe, e0)) :: rest
          case (acc, (s0, e0)) => (s0, e0) :: acc
        }.reverse
      val dupTok = spans.map(sp => sp._2 - sp._1 + 1).sum
      (id, spans.size.toLong, dupTok,
        BigDecimal(dupTok.toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val out = SparkEntry.queries("q63f_recommended_removal")(spark, d)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === expected)
    assert(out.map(_._1).toSet === Set(14L),
      "at a width > 8 only the 40-run duplicate may lose tokens")
  }

  /** q63g: the incremental merge must equal the full rebuild on a fixture
    * that forces every merge edge — a batch suffix set sorting BEFORE all
    * history (zero history predecessors), batch text exactly DUPLICATING a
    * history doc (key ties broken by doc_id across the two sides), batch
    * suffixes interleaving inside history runs, and short docs. */
  test("q63g incremental SA merge equals the full rebuild on interleaving fixtures") {
    val run12 = (0 until 12).map(i => f"mm$i%02d").mkString(" ")
    val rows = Seq(
      // history (doc_id % 7 != 0)
      (13L, s"$run12 zz end"),
      (20L, s"$run12 aa tail"),      // shares the 12-run with 13 and 14
      (15L, "b c d e"),
      (16L, "zz top last"),
      // batch (doc_id % 7 == 0)
      (7L, s"$run12 zz end"),        // exact duplicate of hist 13: every
                                     //   suffix key ties; 7 < 13 wins
      (14L, s"$run12 qq mid"),       // interleaves inside the run block
      (21L, "a a a a a"),            // sorts before all history suffixes
      (28L, "b c"))                  // proper-prefix tie with hist 15
    val d = TempDirs.create("graft_q63g_")
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val rebuild = SparkEntry.queries("q63_suffix_array")(spark, d)
      .as[(Long, Long, Long, String)].collect().toSeq
    val merge = SparkEntry.queries("q63g_incremental_sa")(spark, d)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(merge === rebuild, "incremental merge diverged from full rebuild")
    // the merged positions are a dense permutation (no gaps, no collisions)
    assert(merge.map(_._1) === (1L to merge.length.toLong))
    // the tie edge really fired: doc 7's full-text duplicate suffixes sort
    // immediately before doc 13's (equal keys, lower doc_id first)
    val pos1 = merge.filter(r => r._3 === 1L && (r._2 === 7L || r._2 === 13L))
      .sortBy(_._1).map(_._2)
    assert(pos1 === Seq(7L, 13L), s"expected the 7-before-13 tie, got $pos1")
    // the before-all-history edge fired: the global minimum is batch doc 21
    assert(merge.head._2 === 21L)
    // q63h: the incremental LCP update (retained history pairs + bounded
    // new pairs) must equal the full-rebuild histogram on the SAME fixture
    // — whose interleavings guarantee BROKEN history pairs (doc 7's
    // duplicate suffixes insert directly before every doc-13 suffix, and
    // doc 14 splits the 12-run block), so the retained-vs-broken
    // arithmetic is genuinely exercised, not vacuous
    val rebuildLcp = SparkEntry.queries("q63b_lcp_mining")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val incLcp = SparkEntry.queries("q63h_incremental_lcp")(spark, d)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(incLcp === rebuildLcp, "incremental LCP diverged from full rebuild")
    assert(rebuildLcp.nonEmpty)
  }

  /** q63g/q63h degenerate nights: an EMPTY batch (no doc_id % 7 == 0 docs
    * arrived — the merge must reduce to the standing index) and an EMPTY
    * history (first night ever — the merge must reduce to the batch-built
    * index). Both against the full rebuild. */
  test("q63g/q63h: empty-batch and empty-history nights equal the rebuild") {
    def fixture(ids: Seq[Long]): String = {
      val d = TempDirs.create("graft_q63g_deg_")
      ids.map { id =>
          (id, (0 until 12).map(i => s"dg${id * 41 + i}z").mkString(" "),
            "en", "src0", 10L) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    // ids with no multiples of 7 → empty batch; only multiples → empty hist
    for (ids <- Seq(Seq(1L, 2L, 3L, 4L, 5L, 6L, 8L, 9L),
                    Seq(0L, 7L, 14L, 21L))) {
      val d = fixture(ids)
      val rebuild = SparkEntry.queries("q63_suffix_array")(spark, d)
        .as[(Long, Long, Long, String)].collect().toSeq
      val merge = SparkEntry.queries("q63g_incremental_sa")(spark, d)
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(merge === rebuild, s"degenerate merge diverged for ids $ids")
      val lcpRebuild = SparkEntry.queries("q63b_lcp_mining")(spark, d)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val lcpInc = SparkEntry.queries("q63h_incremental_lcp")(spark, d)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(lcpInc === lcpRebuild, s"degenerate LCP update diverged for ids $ids")
    }
  }

  /** q63i/q63j (VERDICT r15 #1): the 3-night chained snapshots must equal
    * the full rebuild on a fixture that forces COMPOUNDING edges — a
    * night-2 batch doc duplicating a night-1 batch doc (so night 2 must
    * break adjacencies night 1 CREATED, not base adjacencies: stale-carry
    * detection across nights), duplicates tying across the base/batch
    * boundary, interleavers, and an EMPTY middle night in the second
    * fixture (the chain must pass state through a no-op night intact). */
  test("q63i/q63j: night-3 chained snapshots equal the full rebuild") {
    val run10 = (0 until 10).map(i => f"ch$i%02d").mkString(" ")
    val fixtures = Seq(
      Seq(
        // base (doc_id % 7 >= 3)
        (3L, s"$run10 zz end"),
        (4L, s"$run10 aa tail"),
        (5L, "b c d e"),
        (6L, "zz top last"),
        (10L, s"$run10 kk"),
        // night-0 batch (% 7 == 0): ties with base, interleaver
        (7L, s"$run10 zz end"),   // exact duplicate of base 3
        (14L, s"$run10 qq mid"),
        // night-1 batch (% 7 == 1): duplicates the NIGHT-0 doc — its
        // suffixes insert directly before doc 7's, breaking pairs that
        // did not exist in the base snapshot
        (1L, s"$run10 zz end"),
        (8L, "a a a a"),          // sorts before everything
        // night-2 batch (% 7 == 2): duplicates the night-1 doc again and
        // adds a proper-prefix tie
        (2L, s"$run10 zz end"),
        (9L, "b c")),
      // second fixture: NO % 7 == 1 docs — night 1 is an empty batch and
      // the chain must carry night-0's state through it unchanged
      Seq(
        (3L, s"$run10 pp"),
        (5L, "x y z"),
        (7L, s"$run10 pp"),
        (14L, "x y"),
        (2L, s"$run10 pp"),
        (9L, "p q r s")),
      // third fixture, every night degenerate: a single-document base,
      // an all-duplicate night 0, an empty night 1 and a one-document
      // night 2 that is a proper suffix of every other doc
      Seq(
        (3L, s"$run10 pp"),
        (7L, s"$run10 pp"),
        (14L, s"$run10 pp"),
        (2L, "pp")))
    for (rows <- fixtures) {
      val d = TempDirs.create("graft_q63i_")
      rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
      val rebuild = SparkEntry.queries("q63_suffix_array")(spark, d)
        .as[(Long, Long, Long, String)].collect().toSeq
      val chained = SparkEntry.queries("q63i_chained_sa")(spark, d)
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(chained === rebuild, "night-3 chained SA diverged from rebuild")
      assert(chained.map(_._1) === (1L to chained.length.toLong))
      val rebuildLcp = SparkEntry.queries("q63b_lcp_mining")(spark, d)
        .as[(Long, Long, Long, Long)].collect().toSeq
      val chainedLcp = SparkEntry.queries("q63j_chained_lcp")(spark, d)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(chainedLcp === rebuildLcp, "night-3 chained LCP diverged from rebuild")
      assert(rebuildLcp.nonEmpty)
    }
  }

  /** VERDICT r13 #4: the incremental sketches must be built DISTRIBUTED
    * (bloom_filter_agg partials merged up the agg tree) and reach the
    * probe as a scalar subquery — not a driver-built filter baked into
    * the expression tree as a batch-proportional binary literal. */
  test("q47b/q22d sketches are scalar subqueries over bloom_filter_agg, not literals") {
    for ((name, df) <- Seq(
      "q47b" -> SparkEntry.queries("q47b_incremental_substring")(spark, sf),
      "q22d" -> DedupQueries.incrementalDedup(spark, sf, fpp = 0.01))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain(Subquery subquery"),
        s"$name: expected the bloom probe to read a scalar subquery, got:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"$name: expected the distributed bloom_filter_agg build in the subquery tree")
      assert(!plan.contains("might_contain(0x"),
        s"$name: driver-built binary literal sketch survived in the plan")
    }
  }
}
