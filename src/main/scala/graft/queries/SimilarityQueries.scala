package graft.queries

import graft.functions.{TopKByScore, VecFunctions}
import graft.functions.TextHash.{hash32, sqlHash32}
import graft.sources.{Footers, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Q24 — similarity search over the `embeddings` table (SURVEY.md §2.11
  * X3/X5): brute-force cosine top-k as the correctness baseline, an
  * IVF-style cluster-pruned variant as the scale path, and an embedding
  * near-duplicate pair scan.
  *
  * Scale design: the query set is always the small side — broadcast — so the
  * corpus streams through a single narrow pass (BroadcastNestedLoopJoin with
  * the codegen'd [[graft.functions.VectorDot]] in the inner loop). Top-k per
  * query uses the bounded [[graft.functions.TopKByScore]] aggregator, whose
  * partial state is ≤k rows per map task — the shuffle carries k·tasks rows,
  * not the N·Q candidate set (a window function would shuffle every
  * candidate to one reducer per query). The IVF variant prunes the corpus to
  * the probed clusters first — at 100 TB, with the corpus partitioned by
  * cluster id, that is partition pruning, not just row filtering.
  */
object SimilarityQueries {

  private val K = 5
  private val NQueries = 10
  private val Probes = 2

  /** q24k ranking-metric discounts, precomputed ONCE here so neither engine
    * ever evaluates log2 at query time: libm logs are not required to be
    * correctly rounded and may differ across engines in the last ulp,
    * while both engines parsing the same shortest-round-trip decimal
    * literal yields the identical double. Index i (1-based rank) →
    * 1/log2(i+1). */
  private val NdcgDiscounts: Seq[Double] =
    Seq(1.0, 0.6309297535714575, 0.5, 0.43067655807339306, 0.38685280723454163)
  require(NdcgDiscounts.length >= K,
    s"q24k discount table covers ${NdcgDiscounts.length} ranks but K = $K — " +
      "extend it before raising K or both engines silently drop the tail")

  /** q24k IDCG prefix table, derived from [[NdcgDiscounts]] ALONE
    * (ADVICE r9): index j = the ideal DCG of j relevant results in the
    * top-K — the exact DECIMAL(28,12) accumulation both engines previously
    * performed row-wise over the ACTUAL result list. Making IDCG a
    * function of the discount literals (not of result rows) keeps NDCG
    * correct even when the corpus has fewer than K+1 vectors and the
    * result list comes up short. Shared as decimal STRINGS: each engine
    * parses the identical literal, so the doubles agree by construction
    * (and equal the old row-summed values whenever the list was full —
    * verified by q24k's unchanged oracle hash). */
  private val NdcgIdcgPrefix: Seq[String] =
    NdcgDiscounts.take(K)
      .scanLeft(java.math.BigDecimal.ZERO)((acc, d) =>
        acc.add(java.math.BigDecimal.valueOf(d)
          .setScale(12, java.math.RoundingMode.HALF_UP)))
      .map(_.toPlainString)

  /** q24j MMR geometry: rerank the top-`MmrPool` relevance shortlist down
    * to `MmrK` diversified picks; score = λ·rel − (1−λ)·max-sim-to-chosen.
    * λ and 1−λ are spelled as separate literals so both engines parse the
    * identical decimal strings (1.0 − 0.7 in binary is NOT 0.3). */
  private val MmrPool = 20
  private val MmrK = 5
  private val MmrLambda = 0.7
  private val MmrDiv = 0.3

  /** k-means configuration (q24f/q24h): cluster count and unrolled Lloyd
    * iterations — shared by the DataFrame loop and the generated SQL. */
  private val KmK = 8
  private val KmIters = 2

  /** q24i product quantization geometry: 16 subspaces × 4 dims (Dim = 64),
    * 16 codewords per subspace, ADC shortlist of 50 re-ranked exactly —
    * measured recall@5 = 0.96 on the synthetic corpus (random embeddings,
    * PQ's worst case; production uses 256 codewords, same plan shape). */
  private val PqM = 16
  private val PqSubDim = 4
  private val PqKsub = 16
  private val PqShortlist = 50

  /** The nightly split on the embeddings table — vec_id % 7 == 0 is
    * tonight's batch, the same residue rule the document-side nightly
    * family (q22d/q45/q47b/q63g) and q67 use. Declared with the other
    * interpolation constants: oracle strings are forced during `defs`
    * initialization, so anything they interpolate must precede it. */
  private val VecNightMod = 7

  /** Fixed-subspace-order ADC sum (each conditional SUM sees exactly one
    * row, so the chain's addition order — not the agg's — decides). */
  private val sqlAdcSum: String =
    (1 to PqM).map(m => s"SUM(CASE WHEN cd.m = $m THEN t.d END)").mkString(" + ")

  /** Near-duplicate cosine threshold — THE shared bar for q24c (all-pairs
    * ground truth), q24d (hyperplane LSH) and q24h (semantic dedup), so the
    * three near-dup views agree on what "near-duplicate" means and the
    * subset contracts between them (RecallSpec) hold by construction. */
  private val NearDupTau = 0.45

  /** q24o's metadata predicate: vec_id % FilterMod == 0 qualifies (~⅓ of
    * the corpus) — deliberately UNALIGNED with the coarse cells so the
    * filter exercises candidate-stream filtering, not partition pruning
    * (that composition is q24m's, already pinned). */
  private[graft] val FilterMod = 3L

  /** SemDeDup's target CLUSTER SIZE — the quantity the production recipe
    * holds constant as the corpus grows (Abbas et al. 2023 fix cluster
    * size, not cluster count). The measured rule (BASELINE.md round 8,
    * Profile `semdedup_k<k>`): fixed k=8 blows up 6.8× on ×20 data (cluster size
    * doubles per doubling ⇒ quadratic within-cluster work), while k=16 at
    * ×20 — exactly this constant — returns the curve to 2.6×/doubling.
    * 2500 reproduces those measured points: ceil(n/2500) clamped at KmK
    * gives k=8 up to 20k vectors (all oracle SFs and the ×10 dir share
    * q24f's geometry) and k=16 at the ×20 dir. */
  private[graft] val SemDedupClusterSize = 2500L

  /** k ∝ n, derived from parquet footer metadata (no scan job): the
    * production q24h code path, not a tool-side note (VERDICT r8 #3). */
  private[graft] def autoK(s: SparkSession, dir: String): Int = {
    val n = Footers.rowCount(s, s"$dir/embeddings.parquet")
    math.max(KmK, math.ceil(n.toDouble / SemDedupClusterSize).toInt)
  }

  /** The same rule in the oracle's dialect: a 1-row subquery DuckDB
    * evaluates against the identical table, so both engines derive the
    * identical k from the data (= KmK at every oracle-tested SF). */
  private lazy val sqlAutoK: String =
    s"(SELECT GREATEST($KmK, CAST(CEIL(COUNT(*) / $SemDedupClusterSize.0) AS BIGINT)) FROM embeddings)"

  /** The unrolled Lloyd-iteration CTE chain ending in `asg$KmIters`
    * (final vector→cluster assignment) and `cent$KmIters` (final
    * centroids), plus the `emb`/`dims`/`cent0` prefix. Shared by the q24f
    * oracle (fixed demo geometry, `kExpr` = KmK) and q24h's cluster-blocked
    * semantic dedup (auto-k) — one SQL builder, identical iteration
    * structure. */
  private def kmCtes(kExpr: String): String = {
    val iterCtes = (1 to KmIters).map { t =>
      s"""scored$t AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    c.cn2 - 2 * ${sqlDot("e.embedding", "c.cvec")} AS dist
         |  FROM emb e CROSS JOIN cent${t - 1} c),
         |asg$t AS (
         |  SELECT vec_id, embedding, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM scored$t) WHERE rn = 1),
         |cent$t AS (
         |  SELECT cid, cvec, ${sqlDot("cvec", "cvec")} AS cn2 FROM (
         |    SELECT cid, list_transform(list(cval ORDER BY i), x -> x::FLOAT) AS cvec
         |    FROM (SELECT cid, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
         |          FROM asg$t, dims GROUP BY cid, i)
         |    GROUP BY cid))""".stripMargin
    }.mkString(",\n")
    s"""emb AS (SELECT vec_id, embedding FROM embeddings),
       |dims AS (SELECT unnest(generate_series(1,
       |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
       |cent0 AS (SELECT vec_id AS cid, embedding AS cvec,
       |  ${sqlDot("embedding", "embedding")} AS cn2 FROM emb WHERE vec_id < $kExpr),
       |$iterCtes""".stripMargin
  }

  private lazy val sqlKmCtes: String = kmCtes(KmK.toString)
  private lazy val sqlKmCtesAutoK: String = kmCtes(sqlAutoK)

  /** The Spark twin of [[sqlKmCtes]]: run the unrolled Lloyd loop and
    * return the FINAL materialized (vec_id, embedding, cid) assignment.
    * Materialize tags match q24f's, so when both q24f and q24h run in one
    * session the iterations execute once and both read the same parquet. */
  private def kmFinalAssignments(s: SparkSession, dir: String,
                                 k: Int = KmK): DataFrame = {
    import VecFunctions.vecDot
    val emb = base(s, dir).select(col("vec_id"), col("embedding"))
    def withN2(df: DataFrame): DataFrame =
      df.withColumn("cn2", vecDot(col("cvec"), col("cvec")))
    var cent = withN2(emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec")))
    var lastAsg: DataFrame = null
    for (t <- 1 to KmIters) {
      val scored = emb.crossJoin(broadcast(cent))
        .withColumn("dist",
          col("cn2") - lit(2.0) * vecDot(col("embedding"), col("cvec")))
      // each iteration's assignment is materialized: the standard
      // lineage-truncation step of iterative Spark algorithms — without
      // it every downstream branch (next iteration's centroids, the
      // final cent/sizes pair) re-executes the whole unrolled chain
      // non-default k (Profile's `semdedup_k<k>` frames) gets its own tags so
      // it cannot clobber or absorb q24f/q24h's shared artifacts
      val tag = if (k == KmK) s"q24f_asg$t" else s"q24f_asg${t}_k$k"
      lastAsg = Materialize(s, dir, tag)(scored
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("cid"), col("embedding"))).as("m"))
        .select(col("vec_id"), col("m.embedding").as("embedding"), col("m.cid").as("cid")))
      cent = withN2(decimalCentroids(lastAsg, "cid"))
    }
    lastAsg
  }

  /** q24h's body: cluster-blocked within-cluster near-dup detection,
    * keep = lowest id per neighborhood, with k derived from the corpus by
    * [[autoK]] — the production rule IS the code path. The explicit-k
    * overload exists for Profile's `semdedup_k<k>` frames (demonstrating the
    * fixed-k blow-up requires pinning k): pairwise work is quadratic in
    * CLUSTER size, so doubling the corpus at fixed k quadruples it, while
    * k ∝ n restores the cluster size and the cost curve. */
  private[graft] def semanticDedupFrame(s: SparkSession, dir: String): DataFrame =
    semanticDedupFrame(s, dir, autoK(s, dir))

  private[graft] def semanticDedupFrame(s: SparkSession, dir: String,
                                        k: Int): DataFrame = {
    import VecFunctions.vecDot
    val a = kmFinalAssignments(s, dir, k).select(col("vec_id"), col("cid"))
      .join(base(s, dir), "vec_id")
    val lo = a.select(col("vec_id").as("lo_id"), col("cid").as("lo_cid"),
      col("embedding").as("le"), col("nrm").as("ln"))
    val dup = a.join(lo,
        col("cid") === col("lo_cid") && col("lo_id") < col("vec_id"))
      .filter(vecDot(col("embedding"), col("le")) / (col("nrm") * col("ln")) >= NearDupTau)
      .groupBy(col("vec_id")).agg(min(col("lo_id")).as("dup_of"))
    a.select(col("vec_id"), col("cid"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Random-hyperplane LSH: 16 fixed hyperplanes generated by a seeded
    * xorshift so the engine's `typedlit` arrays and the oracle's SQL list
    * literals are the same constants (Float shortest-repr round-trips
    * through both parsers). */
  private val SigBits = 16
  private val LshBands = 4
  private val LshRows = 4
  private val Dim = 64

  /** q55 fixed-point geometry: values scaled [[PcaS]], the per-vector dot
    * rescaled by [[PcaDotDiv]] (= S × 100: keeps the w-sum's per-term
    * magnitude ~1e11 so the column sums stay BIGINT-safe far past the
    * bench's ×20 corpus), [[PcaIters]] power-iteration rounds from the
    * all-ones start vector (deterministic sign). */
  private val PcaDim = 64
  private val PcaS = 1000000L
  private val PcaDotDiv = 100000000L
  private val PcaIters = 3

  /** Truncate-toward-zero integer division as SQL text (DuckDB `//` floors
    * negatives where Spark DIV truncates — the sign split removes the only
    * divergence between the two engines' integer semantics). */
  private def sqlTdiv(x: String, d: Any): String =
    s"(CASE WHEN ($x) < 0 THEN -((-($x)) // ($d)) ELSE ($x) // ($d) END)"
  private val Planes: Seq[Seq[Float]] = {
    var x = 88172645463325252L
    def next(): Long = { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    Seq.fill(SigBits)(Seq.fill(Dim) {
      val v = (next() >>> 11).toDouble / (1L << 53).toDouble
      (v * 2 - 1).toFloat
    })
  }
  private val sqlPlanesCte: String =
    Planes.zipWithIndex
      .map { case (p, b) => s"($b, ${p.mkString("[", ",", "]")}::FLOAT[])" }
      .mkString("planes AS (SELECT * FROM (VALUES ", ", ", ") AS t(b, v))")

  /** Shared hyperplane-signature CTE (q24d + q60b): 16 sign bits summed
    * into one BIGINT per vector. ONE text so the LSH paths can never
    * desynchronize on the signature rule. */
  private lazy val sqlSigCte: String =
    s"""sig AS (
       |  SELECT e.vec_id, e.embedding, e.nrm,
       |    SUM(CASE WHEN ${sqlDot("e.embedding", "p.v")} > 0
       |        THEN CAST(power(2, p.b) AS BIGINT) ELSE 0 END) AS sig
       |  FROM base e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding, e.nrm)"""
      .stripMargin

  /** Materialized (vec_id, embedding, nrm, sig) hyperplane signatures —
    * built once per (session, dir), shared by q24d's near-dup pair scan
    * and q60b's decontamination candidates. */
  private def lshSigs(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    val sigBitCols = (0 until SigBits).map { b =>
      when(vecDot(col("embedding"), typedlit(Planes(b))) > 0, lit(1L << b))
        .otherwise(lit(0L))
    }
    Materialize(s, dir, "q24d_sig")(
      base(s, dir).withColumn("sig", sigBitCols.reduce(_ + _)))
  }

  // -----------------------------------------------------------------------
  // q60/q60b semantic decontamination: packed-argmax plumbing
  // -----------------------------------------------------------------------

  /** The (cos, vid) argmax is packed into ONE BIGINT so the per-eval-doc
    * reduction is a codegen'd HashAggregate over a primitive column —
    * max(struct(...)) has no mutable aggregation buffer, so past 128 keys
    * per partition ObjectHashAggregate falls back to SORT-based
    * aggregation and sorts the entire pair stream (measured: 1.1 GB of
    * spill at ×20 corpus — the 100 TB scale-killer this packing removes).
    * Encoding: floor(cos·1e8) ∈ [-1e8, 1e8] biased to [1e8, 3e8], shifted
    * by 2^33, plus the train vec id — max key ≈ 2.6e18 < 2^63, ordering
    * lexicographic in (fixed-point cos, vid). Ties inside 1e-8 of cosine
    * resolve to the larger vid (documented granularity; both engines
    * compute the identical floor, so parity is exact). Bound: vid < 2^33
    * (8.6 B vectors); past that the same key widens to DECIMAL(38,0). */
  private val DcCosScale = 100000000L
  private val DcBias = 200000000L
  private val DcVidSpace = 8589934592L
  private val DcTauFp: Long = (NearDupTau * DcCosScale).toLong

  /** Split CTEs over [[sqlSigCte]]-compatible `sb` input: q25j's hash rule
    * on the vector id, eval = val/test buckets, train = the rest. `extra`
    * carries the signature column into the LSH variant. */
  private def sqlDeconSplitCtes(src: String, extra: String): String =
    s"""sb AS (SELECT vec_id, embedding, nrm$extra,
       |    ${sqlHash32("concat('split:', vec_id)")} % 100 AS b FROM $src),
       |ev AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm$extra,
       |    CASE WHEN b >= ${QualityQueries.TestFrom} THEN 'test'
       |         ELSE 'val' END AS split
       |  FROM sb WHERE b >= ${QualityQueries.ValFrom}),
       |tr AS (SELECT vec_id, embedding, nrm$extra FROM sb
       |       WHERE b < ${QualityQueries.ValFrom})""".stripMargin

  /** Packed-key SQL expression for a (e=eval, t=train) pair. */
  private val sqlDeconKey: String =
    s"(CAST(floor(${sqlDot("t.embedding", "e.qemb")} / (t.nrm * e.qnrm)" +
      s" * $DcCosScale) AS BIGINT) + $DcBias) * $DcVidSpace + t.vec_id"

  /** Shared report tail over a `p(qid, ukey)` CTE: per-eval max key,
    * decoded back to (fixed-point cos, nearest train id). */
  private val sqlDeconReport: String =
    s"""mx AS (SELECT qid, MAX(ukey) AS k FROM p GROUP BY qid),
       |dec AS (SELECT qid, k // $DcVidSpace - $DcBias AS cfp,
       |               k % $DcVidSpace AS vid FROM mx),
       |r AS (SELECT e.qid AS eval_id, e.split, d.cfp, d.vid
       |      FROM ev e JOIN dec d ON e.qid = d.qid)
       |SELECT eval_id, split,
       |  cfp / $DcCosScale.0 AS max_cos,
       |  vid AS nn_train_id, cfp >= $DcTauFp AS contaminated
       |FROM r ORDER BY eval_id""".stripMargin

  /** Spark twins of the decon split / key / report pieces. */
  private def deconSplit(src: DataFrame, extra: Seq[String])
      : (DataFrame, DataFrame) = {
    val sb = src.withColumn("b",
      hash32(concat(lit("split:"), col("vec_id"))) % 100)
    val ev = sb.filter(col("b") >= QualityQueries.ValFrom)
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"),
        when(col("b") >= QualityQueries.TestFrom, "test")
          .otherwise("val").as("split")) ++ extra.map(col): _*)
    val tr = sb.filter(col("b") < QualityQueries.ValFrom)
      .select(Seq(col("vec_id"), col("embedding"), col("nrm")) ++
        extra.map(col): _*)
    (ev, tr)
  }

  private def deconKey(cos: Column, vid: Column): Column =
    (floor(cos * DcCosScale) + DcBias) * DcVidSpace + vid

  private def deconReport(ev: DataFrame, pairs: DataFrame): DataFrame = {
    val dec = pairs.groupBy(col("qid")).agg(max(col("ukey")).as("k"))
      .select(col("qid"),
        (expr(s"k div $DcVidSpace") - DcBias).as("cfp"),
        (col("k") % DcVidSpace).as("vid"))
    ev.select(col("qid"), col("split"))
      .join(dec, Seq("qid"))
      .select(col("qid").as("eval_id"), col("split"),
        // NO round(): cfp/1e8 is one correctly-rounded IEEE division of
        // exact inputs (identical in any engine), while round-to-6 of it
        // hits a decimal half whenever cfp ends in 50 — and Spark rounds
        // the shortest decimal rendering where DuckDB rounds the binary
        // value, so halves diverge. The fixed-point value IS the result.
        (col("cfp").cast("double") / DcCosScale).as("max_cos"),
        col("vid").as("nn_train_id"),
        (col("cfp") >= DcTauFp).as("contaminated"))
      .orderBy("eval_id")
  }

  /** Deterministic high-precision mean for centroid computation: exact
    * decimal(38,12) sum (order-independent) divided by count, in double. */
  private def dmean12(c: Column): Column =
    (sum(c.cast(DecimalType(38, 12))).cast("double") / count(c))

  private val sqlDmean12 =
    (e: String) => s"(CAST(SUM(CAST(($e) AS DECIMAL(38,12))) AS DOUBLE) / COUNT($e))"

  /** Elementwise cluster centroids via posexplode + exact decimal mean,
    * reassembled in dimension order and cast to float — THE cross-engine
    * parity path for centroid computation (deterministic regardless of
    * aggregation order). Shared by q24b (label clusters) and q24f
    * (k-means): a parity fix here fixes both oracles. */
  private def decimalCentroids(df: org.apache.spark.sql.DataFrame,
                               keyCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(keyCol), posexplode(col("embedding")).as(Seq("p", "v")))
      .groupBy(col(keyCol), (col("p") + 1).as("i"))
      .agg(dmean12(col("v").cast("double")).as("cval"))
      .groupBy(col(keyCol))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("cval")))),
        x => x.getField("cval").cast("float")).as("cvec"))

  /** DuckDB twin of VectorDot: index-ordered double-widened product sum. */
  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, least(len($a), len($b))), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE))"

  /** Corpus with precomputed norms; vec_dot registered on the session.
    * Materialized once and shared by the whole q24 family (and by both
    * bench passes): every consumer reads one normed parquet table instead
    * of recomputing norms per plan branch — at warehouse scale this is the
    * normed embedding table a vector pipeline maintains alongside the raw
    * vectors. */
  private def base(s: SparkSession, dir: String): DataFrame = {
    VecFunctions.register(s)
    import VecFunctions.vecDot
    // spread on write (guide §6): the whole q24 family layers vector math
    // on this table's scan; one coalesced output file serialized it
    Materialize.spreadOnWrite(s, dir, "q24_base", col("vec_id"))(
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding"))
        .withColumn("nrm", sqrt(vecDot(col("embedding"), col("embedding")))))
  }

  private val sqlBaseCte =
    s"""base AS (SELECT vec_id, label, embedding,
       |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings)""".stripMargin

  /** Corpus row count for q24c's scale guard, read from the materialized
    * [[base]] table's parquet footers — the guard must not add a corpus
    * scan (or any job) to every run (it is consulted on both bench passes
    * and by the verify gate). */
  private def guardCount(s: SparkSession, dir: String): Long = {
    base(s, dir)
    Footers.rowCount(s, Materialize.pathFor(s, dir, "q24_base").get)
  }

  /** Brute-force (qid, vec_id, cos) candidate frame: broadcast query set ×
    * full corpus — shared by q24 and the q24g recall evaluation. */
  private def brutePairs(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    val corpus = base(s, dir)
    val qs = base(s, dir)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
    corpus
      .join(broadcast(qs), col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id"),
        (vecDot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm"))).as("cos"))
  }

  /** IVF (qid, vec_id, cos) candidate frame: probe the nearest `Probes`
    * centroids, search only those clusters — shared by q24b and q24g. */
  private def ivfPairs(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    val corpus = base(s, dir)
    // Centroids: elementwise mean per cluster via posexplode + exact
    // decimal mean, reassembled in dimension order, then cast to float
    // (matching the oracle's double→float centroid storage).
    val cent = Materialize(s, dir, "q24b_cent")(
      decimalCentroids(base(s, dir), "label")
        .withColumn("cnrm", sqrt(vecDot(col("cvec"), col("cvec")))))
    val qs = base(s, dir)
      .filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"), col("nrm").as("qnrm"))
    import org.apache.spark.sql.expressions.Window
    val probe = broadcast(qs)
      .crossJoin(broadcast(cent))
      .withColumn("csim", vecDot(col("cvec"), col("qemb")) / (col("cnrm") * col("qnrm")))
      .withColumn("pr",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("csim").desc, col("label"))))
      .filter(col("pr") <= Probes)
      .select(col("qid"), col("label").as("plabel"))
    corpus
      .join(broadcast(probe.join(qs, "qid")),
        col("label") === col("plabel") && col("vec_id") =!= col("qid"))
      .select(
        col("qid"), col("vec_id"),
        (vecDot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm"))).as("cos"))
  }

  /** Shared q24i/q24l/q24m/q24n PQ oracle CTE chain: per-subspace codebook
    * training (2 unrolled Lloyd rounds keyed by subspace) ending in
    * `codes(vec_id, m, cid)` and `qtab(qid, m, cid, d)` — ONE definition so
    * the PQ oracles can never desynchronize on the training rule
    * (tiebreaks, PqKsub, round count), mirroring the Scala-side
    * pqArtifacts sharing. `src` is the table codebooks train on and codes
    * encode (raw `base`, or the residual table for q24n); `qsubs` is the
    * relation the QUERY subvectors come from — raw-vs-residual differ
    * here: residual PQ still looks up RAW query subvectors against the
    * residual codebooks (q·(c+r) = q·c + q·r decomposes with q raw). */
  private def sqlPqCtes(src: String, qsubs: String = "subs"): String =
    s"""ms AS (SELECT unnest(generate_series(1, $PqM)) AS m),
       |subs AS (SELECT vec_id, m,
       |  embedding[(m-1)*$PqSubDim+1 : m*$PqSubDim] AS sv FROM $src, ms),
       |sdims AS (SELECT unnest(generate_series(1, $PqSubDim)) AS i),
       |c0 AS (SELECT m, vec_id AS cid, sv AS cvec, ${sqlDot("sv", "sv")} AS cn2
       |  FROM subs WHERE vec_id < $PqKsub),
       |s1 AS (SELECT s.vec_id, s.m, s.sv, c.cid,
       |  c.cn2 - 2 * ${sqlDot("s.sv", "c.cvec")} AS dist
       |  FROM subs s JOIN c0 c ON s.m = c.m),
       |a1 AS (SELECT vec_id, m, sv, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist, cid) AS rn FROM s1) WHERE rn = 1),
       |c1 AS (SELECT m, cid, cvec, ${sqlDot("cvec", "cvec")} AS cn2 FROM (
       |  SELECT m, cid, list_transform(list(cval ORDER BY i), x -> x::FLOAT) AS cvec
       |  FROM (SELECT m, cid, i, ${sqlDmean12("sv[i]::DOUBLE")} AS cval
       |        FROM a1, sdims GROUP BY m, cid, i)
       |  GROUP BY m, cid)),
       |s2 AS (SELECT s.vec_id, s.m, s.sv, c.cid,
       |  c.cn2 - 2 * ${sqlDot("s.sv", "c.cvec")} AS dist
       |  FROM subs s JOIN c1 c ON s.m = c.m),
       |a2 AS (SELECT vec_id, m, sv, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist, cid) AS rn FROM s2) WHERE rn = 1),
       |c2 AS (SELECT m, cid, cvec FROM (
       |  SELECT m, cid, list_transform(list(cval ORDER BY i), x -> x::FLOAT) AS cvec
       |  FROM (SELECT m, cid, i, ${sqlDmean12("sv[i]::DOUBLE")} AS cval
       |        FROM a2, sdims GROUP BY m, cid, i)
       |  GROUP BY m, cid)),
       |codes AS (SELECT vec_id, m, cid FROM a2),
       |qs AS (SELECT vec_id AS qid, m, sv AS qsv FROM $qsubs WHERE vec_id < $NQueries),
       |qtab AS (SELECT q.qid, c.m, c.cid, ${sqlDot("q.qsv", "c.cvec")} AS d
       |  FROM qs q JOIN c2 c ON q.m = c.m)""".stripMargin

  /** PQ build shared by q24i and q24l: per-subspace codebooks (PqKsub
    * codewords, KmIters Lloyd rounds, per-round materialized assignments —
    * tags shared so the two queries train ONE set of codebooks per
    * session) → (`codes` = (vec_id, m, cid), `qtab` = per-query ADC lookup
    * table (qid, m, cid, d)). */
  private def pqArtifacts(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqArtifactsFrom(s, dir, base(s, dir), base(s, dir), "q24i")

  /** [[pqArtifacts]] generalized: codebooks train on (and codes encode)
    * `src`; the query lookup table is built from `qsrc`'s subvectors
    * against those codebooks — raw query × residual codebooks for q24n
    * (q·(c+r) decomposes with q raw). `tag` keys the per-round
    * materializations so raw (q24i/l/m) and residual (q24n) trainings
    * each share ONE artifact set per session. */
  private def pqArtifactsFrom(s: SparkSession, dir: String, src: DataFrame,
                              qsrc: DataFrame, tag: String): (DataFrame, DataFrame) = {
    val a = pqArtifactsFull(s, dir, src, qsrc, tag)
    (a.codes, a.qtab)
  }

  /** The full PQ artifact set: beside codes and the query lookup table,
    * the two codebooks a FROZEN-codebook consumer (q24p) needs — `encCent`
    * is the codebook the final ASSIGNMENT ran against (round KmIters−1's
    * centroids: `codes` is that assignment, the q24i convention), so
    * encoding a NEW vector against encCent is bit-identical to what a
    * from-scratch encode of the enlarged corpus would assign it; `adcCent`
    * is the final-round centroid table the ADC lookup reads. */
  private case class PqArtifacts(codes: DataFrame, qtab: DataFrame,
                                 encCent: DataFrame, adcCent: DataFrame)

  private def pqSubvectors(df: DataFrame): DataFrame = df
    .select(col("vec_id"), explode(sequence(lit(1), lit(PqM))).as("m"),
      col("embedding"))
    .select(col("vec_id"), col("m"),
      expr(s"slice(embedding, (m - 1) * $PqSubDim + 1, $PqSubDim)").as("sv"))

  /** One frozen-codebook ASSIGNMENT pass: each (vec, subspace) row of
    * `subs` takes the argmin-distance codeword of `cent` — the single
    * step a nightly encode pays, shared verbatim with the training loop's
    * per-round assignment so incremental and from-scratch codes can never
    * diverge on the assignment rule (ties break on cid through the
    * min-struct, the oracle's ORDER BY dist, cid). */
  private def pqAssign(subs: DataFrame, cent: DataFrame): DataFrame = {
    import VecFunctions.vecDot
    subs.join(broadcast(cent), Seq("m"))
      .withColumn("dist",
        col("cn2") - lit(2.0) * vecDot(col("sv"), col("cvec")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"), col("sv"))).as("x"))
      .select(col("vec_id"), col("m"), col("x.sv").as("sv"),
        col("x.cid").as("cid"))
  }

  private def pqArtifactsFull(s: SparkSession, dir: String, src: DataFrame,
                              qsrc: DataFrame, tag: String): PqArtifacts = {
    import VecFunctions.vecDot
    val subs = pqSubvectors(src)
    def withN2(df: DataFrame): DataFrame =
      df.withColumn("cn2", vecDot(col("cvec"), col("cvec")))
    // per-subspace centroids: decimalCentroids keyed by (m, cid)
    def pqCentroids(asg: DataFrame): DataFrame =
      asg.select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("p", "v")))
        .groupBy(col("m"), col("cid"), (col("p") + 1).as("i"))
        .agg(dmean12(col("v").cast("double")).as("cval"))
        .groupBy(col("m"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("i"), col("cval")))),
          x => x.getField("cval").cast("float")).as("cvec"))
    var cent = withN2(subs.filter(col("vec_id") < PqKsub)
      .select(col("m"), col("vec_id").as("cid"), col("sv").as("cvec")))
    var encCent = cent
    var lastAsg: DataFrame = null
    for (t <- 1 to KmIters) {
      encCent = cent
      // same lineage-truncation discipline as kmFinalAssignments: each
      // round's (vec, subspace) assignment is materialized once
      lastAsg = Materialize(s, dir, s"${tag}_asg$t")(pqAssign(subs, cent))
      cent = withN2(pqCentroids(lastAsg))
    }
    val codes = lastAsg.select(col("vec_id"), col("m"), col("cid"))
    // the final codebook and the per-query ADC lookup table are standing
    // serving artifacts (FAISS persists exactly these beside the codes);
    // without the materialization every consumer run re-executed the
    // centroid aggregation + lookup join — measured round 16 as ~1 s of
    // per-run stage overhead spread across q24i/l/m/n/o (guide §1.2: don't
    // recompute what an index already stores). Bounded: PqM × PqKsub
    // centroid rows, NQueries × PqM × PqKsub lookup rows.
    val centF = Materialize(s, dir, s"${tag}_centf")(cent)
    val encCentF = Materialize(s, dir, s"${tag}_enccent")(encCent)
    val qtab = Materialize(s, dir, s"${tag}_qtab")(
      pqSubvectors(qsrc).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
        .join(centF.select(col("m"), col("cid"), col("cvec")), Seq("m"))
        .select(col("qid"), col("m"), col("cid"),
          vecDot(col("qsv"), col("cvec")).as("d")))
    PqArtifacts(codes, qtab, encCentF, centF)
  }

  /** ADC scoring + shortlist + exact re-rank over a pre-joined
    * (qid, vec_id, m, d) candidate frame — the second half of the PQ
    * pipeline, shared by q24i (all codes) and q24l (IVF-routed codes).
    * Fixed-order addition (each per-subspace conditional sum holds exactly
    * one value): the ADC sum is order-pinned on both sides, no float-agg
    * nondeterminism; the shortlist cut reuses the bounded TopKByScore
    * partial-agg shape so the shuffle carries ≤ PqShortlist rows per
    * (query, map task). */
  private def pqAdcSearch(s: SparkSession, dir: String,
                          cand: DataFrame, withOffset: Boolean = false): DataFrame = {
    import VecFunctions.vecDot
    // With `withOffset`, cand carries an `off` column constant per
    // (qid, vec_id) group — the q·cell-centroid term of residual ADC
    // (q24n): dotv = (fixed-order subspace chain) + off, the offset added
    // LAST on both engines so the one extra float addition stays
    // order-pinned too.
    val adcSums = (1 to PqM).map(m =>
      sum(when(col("m") === m, col("d"))).as(s"d$m")) ++
      (if (withOffset) Seq(min(col("off")).as("off")) else Nil)
    val chain = (1 to PqM).map(m => col(s"d$m")).reduce(_ + _)
    val adc = cand
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(adcSums.head, adcSums.tail: _*)
      .select(col("qid"), col("vec_id"),
        (if (withOffset) chain + col("off") else chain).as("dotv"))
    val shortCut = udaf(new TopKByScore(PqShortlist))
    val short = adc
      .groupBy(col("qid"))
      .agg(shortCut(col("dotv"), col("vec_id")).as("top"))
      .select(col("qid"), explode(col("top")).as("s"))
      .select(col("qid"), col("s").getField("_2").as("vec_id"))
    val raw = base(s, dir)
      .select(col("vec_id"), col("embedding"), col("nrm"))
    val qf = raw.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"))
    val pairs = short
      .join(raw, Seq("vec_id"))
      .join(broadcast(qf), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        (vecDot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm")))
          .as("cos"))
    topK(pairs)
  }

  /** (qid, cos, vec_id) frame → top-K rows per qid via the bounded
    * aggregator, exploded back to (qid, rank, vec_id, cos). */
  private def topK(pairs: DataFrame): DataFrame = {
    val topk = udaf(new TopKByScore(K))
    pairs
      .groupBy(col("qid"))
      .agg(topk(col("cos"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("r", "s")))
      .select(
        col("qid"),
        (col("r") + 1).cast("long").as("rank"),
        col("s").getField("_2").as("vec_id"),
        round(col("s").getField("_1"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  val defs: Seq[QueryDef] = Seq(
    // X3/Q24 — brute-force cosine top-k: broadcast the query set, stream the
    // corpus once, bounded top-k per query.
    QueryDef(
      "q24_cosine_topk",
      s"""WITH $sqlBaseCte,
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM base WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS cos
         |  FROM base b, q WHERE b.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM pairs)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      topK(brutePairs(s, dir))
    },

    // X3/Q24b — IVF-style top-k: centroid per coarse cluster (the `label`
    // column is the cluster assignment), each query probes its nearest
    // `Probes` centroids and searches only those clusters. The recall/cost
    // trade is the point: this is the 100-TB path where the corpus is
    // partitioned by cluster id and unprobed partitions are never read.
    QueryDef(
      "q24b_ivf_topk",
      s"""WITH $sqlBaseCte,
         |dims AS (SELECT unnest(generate_series(1,
         |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
         |cent AS (
         |  SELECT label, list(cval ORDER BY i) AS cvec
         |  FROM (SELECT label, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
         |        FROM base, dims GROUP BY label, i)
         |  GROUP BY label),
         |centf AS (SELECT label, list_transform(cvec, x -> x::FLOAT) AS cvec,
         |  sqrt(${sqlDot("list_transform(cvec, x -> x::FLOAT)",
                          "list_transform(cvec, x -> x::FLOAT)")}) AS cnrm FROM cent),
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM base WHERE vec_id < $NQueries),
         |probe AS (
         |  SELECT qid, label FROM (
         |    SELECT q.qid, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        ${sqlDot("c.cvec", "q.qemb")} / (c.cnrm * q.qnrm) DESC, c.label) AS pr
         |    FROM q, centf c) WHERE pr <= $Probes),
         |pairs AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS cos
         |  FROM q JOIN probe ON q.qid = probe.qid
         |    JOIN base b ON b.label = probe.label AND b.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, vec_id, cos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM pairs)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      topK(ivfPairs(s, dir))
    },

    // X3+/Q24g — ANN quality evaluation: recall@$K of the IVF cluster-pruned
    // search against the brute-force ground truth, per query. The
    // measurement every approximate index needs before it replaces an exact
    // scan: ground-truth top-k (one corpus pass) LEFT JOIN approximate
    // top-k, hits/K per query. Both sides reuse the q24/q24b machinery and
    // materializations — the eval adds one tiny (NQueries×K rows) join, so
    // measuring recall stays O(corpus), not a new quadratic pass.
    QueryDef(
      "q24g_recall_eval",
      s"""WITH $sqlBaseCte,
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM base WHERE vec_id < $NQueries),
         |bp AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS cos
         |  FROM base b, q WHERE b.vec_id <> q.qid),
         |br AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |    FROM bp) WHERE rank <= $K),
         |dims AS (SELECT unnest(generate_series(1,
         |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
         |cent AS (
         |  SELECT label, list(cval ORDER BY i) AS cvec
         |  FROM (SELECT label, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
         |        FROM base, dims GROUP BY label, i)
         |  GROUP BY label),
         |centf AS (SELECT label, list_transform(cvec, x -> x::FLOAT) AS cvec,
         |  sqrt(${sqlDot("list_transform(cvec, x -> x::FLOAT)",
                          "list_transform(cvec, x -> x::FLOAT)")}) AS cnrm FROM cent),
         |probe AS (
         |  SELECT qid, label FROM (
         |    SELECT q.qid, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        ${sqlDot("c.cvec", "q.qemb")} / (c.cnrm * q.qnrm) DESC, c.label) AS pr
         |    FROM q, centf c) WHERE pr <= $Probes),
         |ip AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS cos
         |  FROM q JOIN probe ON q.qid = probe.qid
         |    JOIN base b ON b.label = probe.label AND b.vec_id <> q.qid),
         |ir AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |    FROM ip) WHERE rank <= $K)
         |SELECT b.qid, COUNT(i.vec_id) AS n_hits,
         |  round(COUNT(i.vec_id)::DOUBLE / $K, 6) AS recall
         |FROM br b LEFT JOIN ir i ON b.qid = i.qid AND b.vec_id = i.vec_id
         |GROUP BY b.qid ORDER BY b.qid""".stripMargin) { (s, dir) =>
      val brute = topK(brutePairs(s, dir)).select(col("qid"), col("vec_id"))
      val ivf = topK(ivfPairs(s, dir))
        .select(col("qid").as("iqid"), col("vec_id").as("ivid"))
      brute
        .join(ivf, col("qid") === col("iqid") && col("vec_id") === col("ivid"), "left")
        .groupBy(col("qid"))
        .agg(
          count(col("ivid")).as("n_hits"),
          round(count(col("ivid")).cast("double") / K, 6).as("recall"))
        .orderBy("qid")
    },

    // X3+/Q24e — int8 scale-quantized top-k: per-vector symmetric
    // quantization (scale = max|x|/127, q = round-half-up(x/scale)), exact
    // norms kept alongside — the 4× storage compression a 100 TB embedding
    // store runs, searching the int8 representation and never touching the
    // float vectors. The quantized values are stored as float arrays of
    // integers so the codegen'd VectorDot computes the integer inner
    // product EXACTLY (|q|≤127 ⇒ every product ≤ 16129 and every partial
    // sum < 2^24, all exactly representable in float32) — bit-identical on
    // both engines, no interpreted lambda in the pair loop. Round-half-up
    // is spelled floor(x+0.5) because the engines' round() differ on halves.
    QueryDef(
      "q24e_quantized_topk",
      s"""WITH $sqlBaseCte,
         |qs AS (SELECT vec_id, nrm,
         |  greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-30) / 127 AS qscale,
         |  embedding FROM base),
         |quant AS (SELECT vec_id, nrm, qscale,
         |  list_transform(embedding,
         |    x -> CAST(floor(x::DOUBLE / qscale + 0.5) AS FLOAT)) AS qv FROM qs),
         |q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm, qscale AS qqs
         |      FROM quant WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT q.qid, b.vec_id,
         |    (b.qscale * q.qqs * ${sqlDot("b.qv", "q.qqv")}) / (b.nrm * q.qnrm) AS qcos
         |  FROM quant b, q WHERE b.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, vec_id, qcos,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qcos DESC, vec_id) AS rank
         |  FROM pairs)
         |SELECT qid, rank, vec_id, round(qcos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      val quant = Materialize(s, dir, "q24e_quant")(
        base(s, dir)
          .withColumn("qscale",
            greatest(
              aggregate(col("embedding"), lit(0.0d),
                (acc, x) => greatest(acc, abs(x.cast("double")))),
              lit(1e-30)) / 127)
          .select(col("vec_id"), col("nrm"), col("qscale"),
            transform(col("embedding"),
              x => floor(x.cast("double") / col("qscale") + 0.5).cast("float")).as("qv")))
      val qs = quant
        .filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("qv").as("qqv"),
          col("nrm").as("qnrm"), col("qscale").as("qqs"))
      val pairs = quant
        .join(broadcast(qs), col("vec_id") =!= col("qid"))
        .select(
          col("qid"), col("vec_id"),
          ((col("qscale") * col("qqs") * vecDot(col("qv"), col("qqv")))
            / (col("nrm") * col("qnrm"))).as("cos"))
      topK(pairs)
    },

    // X3+/Q24f — k-means (Lloyd's) as a declarative iterative plan: the
    // canonical distributed-ML refinement loop, unrolled KmIters times.
    // Each iteration is assign (corpus × broadcast centroids, argmin of
    // ||c||² − 2·x·c — ||c||² hoisted once per centroid, the argmin a
    // `min(struct(dist, cid, embedding))` aggregation so per-vector state
    // partial-aggregates map-side instead of window-shuffling the full
    // N×K candidate set) then update (posexplode + exact-decimal dimension
    // means — the shared [[decimalCentroids]] parity path). At 100 TB each
    // iteration is one broadcast join + a combinable argmin + one shuffle
    // on (cid, dim); the oracle runs the identical unrolled iterations
    // generated from the same constants (its ROW_NUMBER argmin has the
    // same (dist, cid) order — cid is unique per candidate so the
    // tie-break never reaches the embedding field). Initialization = the
    // first KmK vectors (deterministic).
    QueryDef(
      "q24f_kmeans",
      s"""WITH $sqlKmCtes,
         |sizes AS (SELECT cid, COUNT(*) AS n_members FROM asg$KmIters GROUP BY cid)
         |SELECT c.cid, d.i, round(c.cvec[d.i]::DOUBLE, 6) AS cval, s.n_members
         |FROM cent$KmIters c CROSS JOIN dims d JOIN sizes s ON s.cid = c.cid
         |ORDER BY c.cid, d.i""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      val lastAsg = kmFinalAssignments(s, dir)
      val cent = decimalCentroids(lastAsg, "cid")
        .withColumn("cn2", vecDot(col("cvec"), col("cvec")))
      val sizes = lastAsg.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .withColumnRenamed("cid", "scid")
      cent
        .select(col("cid"), posexplode(col("cvec")).as(Seq("p", "cv")))
        .select(col("cid"), (col("p") + 1).as("i"), round(col("cv").cast("double"), 6).as("cval"))
        .join(sizes, col("cid") === col("scid"))
        .select(col("cid"), col("i"), col("cval"), col("n_members"))
        .orderBy("cid", "i")
    },

    // X2+X3/Q24h — semantic dedup (the SemDeDup recipe, Abbas et al. 2023):
    // cluster the corpus with k-means, then search for near-duplicates ONLY
    // within each cluster and keep the lowest-id member of every duplicate
    // neighborhood. The within-cluster join is the production shape for
    // embedding dedup at 100 TB: pairwise work is quadratic only in cluster
    // size (bounded by k and balance), never in corpus size, and with the
    // corpus partitioned by cluster id the join is co-located — the same
    // blocked-pair structure as q23b/q24d, with clusters as the blocks.
    // Cluster COUNT follows the corpus (autoK: k = n / SemDedupClusterSize,
    // floored at KmK — the measured k ∝ n production rule, derived by both
    // engines from the same table so the oracle geometry stays identical);
    // at every oracle SF that resolves to exactly q24f's k=8 geometry
    // (shared CTE builder / shared materialized assignments), threshold
    // exactly q24c/q24d's, so the three near-dup views agree on semantics
    // and the recall trade is measurable: dups whose twin landed in another
    // cluster are the misses k-means accepts for linear-time blocking.
    QueryDef(
      "q24h_semantic_dedup",
      s"""WITH $sqlBaseCte,
         |$sqlKmCtesAutoK,
         |a AS (SELECT b.vec_id, g.cid, b.embedding, b.nrm
         |      FROM base b JOIN asg$KmIters g ON b.vec_id = g.vec_id),
         |d AS (SELECT hi.vec_id, MIN(lo.vec_id) AS dup_of
         |      FROM a hi JOIN a lo ON hi.cid = lo.cid AND lo.vec_id < hi.vec_id
         |      WHERE ${sqlDot("hi.embedding", "lo.embedding")} / (hi.nrm * lo.nrm) >= $NearDupTau
         |      GROUP BY hi.vec_id)
         |SELECT a.vec_id, a.cid, d.dup_of, (d.dup_of IS NOT NULL) AS is_dup
         |FROM a LEFT JOIN d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, dir) =>
      semanticDedupFrame(s, dir).orderBy("vec_id")
    },

    // X2+X3/Q24c — embedding near-duplicate pairs: all-pairs cosine ≥ 0.45.
    // Quadratic by construction — correct at test scale; the 100-TB path is
    // the IVF/LSH bucketing above (compare within buckets only).
    QueryDef(
      "q24c_embed_neardup_pairs",
      s"""WITH $sqlBaseCte
         |SELECT a.vec_id AS va, b.vec_id AS vb,
         |  round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |FROM base a, base b
         |WHERE a.vec_id < b.vec_id
         |  AND ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupTau
         |ORDER BY va, vb""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      // HARD GUARD: this plan is quadratic (BroadcastNestedLoop over all
      // pairs) and exists only as the oracle twin of q24d's LSH path. Refuse
      // to run beyond test scale so it can never be lifted into a
      // production pipeline — q24d is the scale answer. The bound comes
      // from the session-cached count of the materialized base (no extra
      // raw-corpus scan per run).
      val n = guardCount(s, dir)
      require(n <= 100000L,
        s"q24c_embed_neardup_pairs is test-scale-only (all-pairs, O(n²)): " +
          s"corpus has $n rows; use q24d_lsh_neardup_pairs at scale")
      // the quadratic cosine work runs on the STREAM side of the BNLJ, so
      // its parallelism is the stream side's scan parallelism — one task on
      // a single-file base table (guide §2.5: repartition after the read)
      val a = Spread(base(s, dir), col("vec_id"))
        .select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = base(s, dir)
        .select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(broadcast(b), col("va") < col("vb"))
        .withColumn("cos", vecDot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= NearDupTau)
        .select(col("va"), col("vb"), round(col("cos"), 6).as("cos"))
        .orderBy("va", "vb")
    },

    // X3/Q24d — the LSH-bucketed scale path for the same pair scan:
    // 16-bit random-hyperplane signature, 4 bands × 4 bits, candidate pairs
    // only within shared band buckets, cosine confirmed in the join filter
    // before the distinct. Linear in corpus size per bucket (vs q24c's
    // quadratic all-pairs); recall at this low threshold (0.45) is the
    // honest LSH trade (~55% per the band math) — at a true near-dup
    // threshold (≥0.95) the same configuration recalls ≥98%.
    QueryDef(
      "q24d_lsh_neardup_pairs",
      s"""WITH $sqlBaseCte,
         |$sqlPlanesCte,
         |$sqlSigCte,
         |bands AS (
         |  SELECT vec_id, embedding, nrm, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv
         |  FROM sig, (SELECT unnest(generate_series(0, ${LshBands - 1})) AS j))
         |SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb,
         |  round(${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |FROM bands a JOIN bands b ON a.j = b.j AND a.bv = b.bv
         |  AND a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $NearDupTau
         |ORDER BY va, vb""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      // signatures (16 hyperplane dots per row) materialized once, so the
      // self-join's two branches read them instead of each recomputing
      val sigs = lshSigs(s, dir)
      def bandRows(name: String) = sigs
        .select(col("vec_id"), col("embedding"), col("nrm"), col("sig"),
          explode(sequence(lit(0), lit(LshBands - 1))).as("j"))
        .withColumn("bv", floor(col("sig") / pow(lit(16), col("j"))).cast("long") % 16)
        .alias(name)
      val cos = vecDot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))
      bandRows("a")
        .join(bandRows("b"),
          col("a.j") === col("b.j") && col("a.bv") === col("b.bv") &&
            col("a.vec_id") < col("b.vec_id") && cos >= NearDupTau)
        .select(
          col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          round(cos, 6).as("cos"))
        .distinct()
        .orderBy("va", "vb")
    },

    // X3/Q24i — product quantization (PQ) search, the compression half of
    // the IVF-PQ recipe (q24b is the IVF half): the 64-dim embedding splits
    // into 16 subspaces of 4 dims, each subspace trains its own codebook
    // (16 codewords, 2 Lloyd rounds — q24f's iteration structure keyed by
    // subspace), and every vector is stored as 16 small codes. A query
    // scores the corpus by Asymmetric Distance Computation — dot its 16
    // subvectors against each codebook ONCE (a 256-entry table per query),
    // every corpus vector's approximate dot is 16 table lookups summed in
    // fixed subspace order (a generated conditional-sum chain, not an
    // order-dependent float agg — exact cross-engine parity) — then the
    // top-50 ADC shortlist is re-ranked with the EXACT cosine, the
    // standard two-stage ANN serving shape (measured recall@5 0.96 here).
    // At 100 TB the point is memory: the shortlist scan reads 16 bytes of
    // codes per vector instead of 256 bytes of floats, codebooks and query
    // tables broadcast at kilobyte size, the exact re-rank touches only
    // 50 raw vectors per query, and the whole plan composes with q24b's
    // IVF routing to scan only the probed cells' codes.
    QueryDef(
      "q24i_pq_topk",
      s"""WITH $sqlBaseCte,
         |${sqlPqCtes("base")},
         |adc AS (SELECT t.qid, cd.vec_id, $sqlAdcSum AS dotv
         |  FROM codes cd JOIN qtab t ON t.m = cd.m AND t.cid = cd.cid
         |  WHERE cd.vec_id <> t.qid
         |  GROUP BY t.qid, cd.vec_id),
         |short AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY dotv DESC, vec_id) AS rk FROM adc) WHERE rk <= $PqShortlist),
         |qf AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |  FROM base WHERE vec_id < $NQueries),
         |rr AS (SELECT sh.qid, sh.vec_id,
         |  ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS pcos
         |  FROM short sh JOIN base b ON sh.vec_id = b.vec_id
         |       JOIN qf q ON sh.qid = q.qid),
         |ranked AS (SELECT qid, vec_id, pcos,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rank
         |  FROM rr)
         |SELECT qid, rank, vec_id, round(pcos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val (codes, qtab) = pqArtifacts(s, dir)
      pqAdcSearch(s, dir, codes.join(broadcast(qtab), Seq("m", "cid")))
    },

    // X3/Q24j — MMR-diversified top-k (maximal marginal relevance): rerank
    // a bounded relevance shortlist so the k results are relevant AND
    // mutually dissimilar — the retrieval-side dual of SemDeDup (q24h
    // dedups the corpus; MMR dedups one query's result list). Greedy
    // selection, unrolled like the Lloyd loop: seed with the most relevant
    // candidate, then MmrK-1 rounds of argmax over
    //   λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).
    // Scale shape: the ONLY corpus-sized work is the q24-style relevance
    // pass (broadcast queries, bounded TopKByScore partial agg — at most
    // MmrPool rows per (query, map task) reach the shuffle) plus one
    // broadcast-hash fetch of the MmrPool winners' vectors from the normed
    // corpus table; everything after — the pool×pool sim matrix and the
    // greedy rounds — runs on an NQueries×MmrPool frame measured in
    // kilobytes at ANY corpus size, because MMR's per-query cost is
    // O(pool²·k) by construction, independent of n. The pool and sim
    // frames materialize once so the unrolled rounds read tiny parquet
    // instead of re-deriving the shortlist per round. Determinism: rel and
    // sim reuse the exact q24 dot/norm arithmetic, the λ-blend is the same
    // two-literal expression tree on both engines, and every argmax
    // tie-breaks on vec_id.
    QueryDef(
      "q24j_mmr_topk", {
      val steps = (2 to MmrK).map { t =>
        s"""mx$t AS (SELECT si.qid, si.va AS vec_id, MAX(si.sim) AS msim
           |  FROM sim si JOIN st${t - 1} v ON si.qid = v.qid AND si.vb = v.vec_id
           |  GROUP BY si.qid, si.va),
           |sel$t AS (SELECT qid, vec_id, rel FROM (
           |  SELECT c.qid, c.vec_id, c.rel,
           |    ROW_NUMBER() OVER (PARTITION BY c.qid
           |      ORDER BY ($MmrLambda * c.rel - $MmrDiv * m.msim) DESC, c.vec_id) AS rn
           |  FROM cand c
           |  JOIN mx$t m ON c.qid = m.qid AND c.vec_id = m.vec_id
           |  LEFT JOIN st${t - 1} x ON c.qid = x.qid AND c.vec_id = x.vec_id
           |  WHERE x.vec_id IS NULL) WHERE rn = 1),
           |st$t AS (SELECT * FROM st${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
      }.mkString(",\n")
      val branches = (1 to MmrK).map(t =>
        s"SELECT qid, vec_id, rel, CAST($t AS BIGINT) AS mmr_rank FROM sel$t")
        .mkString("\n  UNION ALL ")
      s"""WITH $sqlBaseCte,
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |      FROM base WHERE vec_id < $NQueries),
         |rel AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS rel
         |  FROM base b, q WHERE b.vec_id <> q.qid),
         |cand AS (SELECT qid, vec_id, rel FROM (
         |  SELECT qid, vec_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
         |  FROM rel) WHERE rn <= $MmrPool),
         |ce AS (SELECT c.qid, c.vec_id, c.rel, b.embedding, b.nrm
         |       FROM cand c JOIN base b ON c.vec_id = b.vec_id),
         |sim AS (SELECT a.qid, a.vec_id AS va, b.vec_id AS vb,
         |  ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS sim
         |  FROM ce a JOIN ce b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
         |sel1 AS (SELECT qid, vec_id, rel FROM (
         |  SELECT qid, vec_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, vec_id) AS rn
         |  FROM cand) WHERE rn = 1),
         |st1 AS (SELECT * FROM sel1),
         |$steps
         |SELECT qid, mmr_rank, vec_id, round(rel, 6) AS rel FROM (
         |  $branches)
         |ORDER BY qid, mmr_rank""".stripMargin
      }) { (s, dir) =>
      import VecFunctions.vecDot
      val topPool = udaf(new TopKByScore(MmrPool))
      val candIds = brutePairs(s, dir)
        .groupBy(col("qid"))
        .agg(topPool(col("cos"), col("vec_id")).as("top"))
        .select(col("qid"), explode(col("top")).as("c"))
        .select(col("qid"), col("c").getField("_2").as("vec_id"),
          col("c").getField("_1").as("rel"))
      val ce = Materialize(s, dir, "q24j_cand")(
        base(s, dir).select(col("vec_id"), col("embedding"), col("nrm"))
          .join(broadcast(candIds), Seq("vec_id")))
      val cand = ce.select(col("qid"), col("vec_id"), col("rel"))
      val simDf = Materialize(s, dir, "q24j_sim")(
        ce.select(col("qid"), col("vec_id").as("va"),
            col("embedding").as("ea"), col("nrm").as("na"))
          .join(
            ce.select(col("qid"), col("vec_id").as("vb"),
              col("embedding").as("eb"), col("nrm").as("nb")),
            Seq("qid"))
          .filter(col("va") =!= col("vb"))
          .select(col("qid"), col("va"), col("vb"),
            (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("sim")))
      import org.apache.spark.sql.expressions.Window
      val wq = Window.partitionBy(col("qid"))
      var selected = cand
        .withColumn("rn",
          row_number().over(wq.orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("rel"), lit(1L).as("mmr_rank"))
      for (t <- 2 to MmrK) {
        val mx = simDf
          .join(selected.select(col("qid"), col("vec_id").as("vb")), Seq("qid", "vb"))
          .groupBy(col("qid"), col("va").as("vec_id"))
          .agg(max(col("sim")).as("msim"))
        val step = cand
          .join(mx, Seq("qid", "vec_id"))
          .join(selected.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_anti")
          .withColumn("rn",
            row_number().over(wq.orderBy(
              (lit(MmrLambda) * col("rel") - lit(MmrDiv) * col("msim")).desc,
              col("vec_id"))))
          .filter(col("rn") === 1)
          .select(col("qid"), col("vec_id"), col("rel"), lit(t.toLong).as("mmr_rank"))
        // checkpoint each round (≤ NQueries·t rows): without this the
        // round-t plan re-derives every earlier round's windows and joins
        // inside its anti-join branch, and planning cost compounds with
        // unroll depth — the same reason the Lloyd loop materializes its
        // per-iteration assignments
        selected = Materialize(s, dir, s"q24j_sel$t")(selected.unionByName(step))
      }
      selected
        .select(col("qid"), col("mmr_rank"), col("vec_id"),
          round(col("rel"), 6).as("rel"))
        .orderBy("qid", "mmr_rank")
    },

    // X3/Q24k — ranking-quality evaluation (NDCG@k + MRR) of the cosine
    // top-k against the corpus `label` as binary relevance — the metric
    // layer every retrieval pipeline runs next to its recall eval (q24g
    // measures overlap with exact search; q24k measures usefulness of the
    // ranking itself). Scale shape: the result list under evaluation is
    // NQueries×K rows, so metric math is broadcast-sized; the corpus
    // contributes the same one brute/bounded-top-k pass q24 already makes
    // plus ONE per-label count aggregate (|labels| rows, broadcast) for
    // the ideal-DCG normalizer — nothing pairwise, nothing resorted.
    // Determinism: log2 discounts are shared literal constants (see
    // NdcgDiscounts), DCG goes through the exact decimal accumulator, and
    // IDCG is a literal prefix table over those same constants
    // (NdcgIdcgPrefix — never read off the actual result list, so a short
    // list can't silently deflate it; ADVICE r9), leaving divisions of
    // identical operands as the only float ops.
    QueryDef(
      "q24k_ndcg_eval", {
      val discCase = NdcgDiscounts.zipWithIndex
        .map { case (d, i) => s"WHEN ${i + 1} THEN $d" }.mkString(" ")
      // IDCG straight from the literal prefix table (ADVICE r9): the ideal
      // ranking's DCG depends only on how many relevant results exist, so
      // it must never be read off the actual (possibly short) result list
      val idcgCase = NdcgIdcgPrefix.zipWithIndex
        .map { case (p, j) => s"WHEN $j THEN CAST('$p' AS DOUBLE)" }.mkString(" ")
      s"""WITH $sqlBaseCte,
         |q AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm,
         |             label AS qlabel
         |      FROM base WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT q.qid, b.vec_id, ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS cos
         |  FROM base b, q WHERE b.vec_id <> q.qid),
         |res AS (SELECT qid, vec_id, rank FROM (
         |  SELECT qid, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
         |  FROM pairs) WHERE rank <= $K),
         |lc AS (SELECT label, COUNT(*) AS c FROM base GROUP BY label),
         |rcount AS (SELECT q.qid, CAST(COALESCE(lc.c - 1, 0) AS BIGINT) AS n_rel
         |  FROM q LEFT JOIN lc ON q.qlabel = lc.label),
         |rws AS (SELECT r.qid, r.rank,
         |    CASE r.rank $discCase END AS disc,
         |    CASE WHEN b.label = q.qlabel THEN 1 ELSE 0 END AS rel
         |  FROM res r JOIN base b ON r.vec_id = b.vec_id
         |  JOIN q ON r.qid = q.qid),
         |agg AS (SELECT rw.qid,
         |    CAST(SUM(CAST(rw.rel * rw.disc AS DECIMAL(28,12))) AS DOUBLE) AS dcg,
         |    MIN(CASE WHEN rw.rel = 1 THEN rw.rank END) AS fr
         |  FROM rws rw GROUP BY rw.qid),
         |ideal AS (SELECT qid, n_rel,
         |    CASE LEAST(n_rel, $K) $idcgCase END AS idcg
         |  FROM rcount)
         |SELECT a.qid, i.n_rel,
         |  round(CASE WHEN i.idcg > 0.0 THEN a.dcg / i.idcg ELSE 0.0 END, 6) AS ndcg5,
         |  round(COALESCE(1.0 / a.fr, 0.0), 6) AS mrr
         |FROM agg a JOIN ideal i ON a.qid = i.qid
         |ORDER BY a.qid""".stripMargin
      }) { (s, dir) =>
      import org.apache.spark.sql.types.DecimalType
      val qs = base(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"))
      val res = topK(brutePairs(s, dir)).select(col("qid"), col("rank"), col("vec_id"))
      val lc = base(s, dir).groupBy(col("label")).agg(count(lit(1)).as("c"))
      val rcount = qs.join(broadcast(lc), col("qlabel") === col("label"), "left")
        .select(col("qid"), coalesce(col("c") - 1, lit(0L)).cast("long").as("n_rel"))
      val disc = NdcgDiscounts.zipWithIndex.tail.foldLeft(
        when(col("rank") === 1, lit(NdcgDiscounts.head))) {
        case (acc, (d, i)) => acc.when(col("rank") === (i + 1), lit(d))
      }
      val rws = base(s, dir).select(col("vec_id"), col("label"))
        .join(broadcast(res), Seq("vec_id"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("rank"), disc.as("disc"),
          when(col("label") === col("qlabel"), 1).otherwise(0).as("rel"))
      val agg = rws
        .groupBy(col("qid"))
        .agg(
          sum((col("rel") * col("disc")).cast(DecimalType(28, 12)))
            .cast("double").as("dcg"),
          min(when(col("rel") === 1, col("rank"))).as("fr"))
      // IDCG from the shared literal prefix table keyed by min(n_rel, K) —
      // independent of how many result rows actually came back (ADVICE r9)
      val nIdeal = least(col("n_rel"), lit(K.toLong))
      val idcg = NdcgIdcgPrefix.zipWithIndex.tail.foldLeft(
        when(nIdeal === 0, lit(NdcgIdcgPrefix.head).cast("double"))) {
        case (acc, (p, j)) => acc.when(nIdeal === j, lit(p).cast("double"))
      }
      agg.join(broadcast(rcount), Seq("qid"))
        .withColumn("idcg", idcg)
        .select(
          col("qid"), col("n_rel"),
          round(when(col("idcg") > 0.0, col("dcg") / col("idcg"))
            .otherwise(lit(0.0)), 6).as("ndcg5"),
          round(coalesce(lit(1.0) / col("fr"), lit(0.0)), 6).as("mrr"))
        .orderBy("qid")
    },

    // X3/Q24l — IVF-PQ composed search, executing the composition q24i's
    // comment promises: route each query to its `Probes` nearest coarse
    // centroids (q24b's IVF half), ADC-score ONLY the code rows of vectors
    // in the probed cells (q24i's PQ half), then the exact re-rank. This
    // is the full production ANN serving recipe (FAISS IVFPQ): at 100 TB
    // the codes table is partitioned by cell, unprobed partitions are
    // never read, each probed cell's scan reads 16 code bytes per vector,
    // and codebooks + per-query lookup tables + the probe map all
    // broadcast at kilobyte size. Both engines train identical codebooks
    // (shared per-round materialized assignments on the Spark side, the
    // identical unrolled CTE chain in the oracle) and route with the same
    // centroid-cosine argmax, so the candidate sets — and after the
    // order-pinned ADC chain, the scores — agree exactly.
    QueryDef(
      "q24l_ivfpq_topk",
      sqlIvfPq) { (s, dir) =>
      val (codes, qtab) = pqArtifacts(s, dir)
      val cand = codes
        .join(base(s, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
        .join(broadcast(probeMap(s, dir)), col("label") === col("plabel"))
        .join(broadcast(qtab), Seq("qid", "m", "cid"))
        .select(col("qid"), col("vec_id"), col("m"), col("d"))
      pqAdcSearch(s, dir, cand)
    },

    // Q24M — q24l's serving LAYOUT executed (VERDICT r9 #2): the PQ codes
    // table written ONE DIRECTORY PER COARSE CELL (partitionBy(cell)) and
    // the probe routed as a LITERAL filter on the partition column, so the
    // codes scan is STATICALLY partition-pruned at plan time — unprobed
    // cells are never listed, opened, or read (PlanSpec pins
    // partitionFilters + selected-partition count == probed-cell count,
    // q41's mechanism applied to the ANN serving path). At 100 TB this is
    // the FAISS/SPANN on-disk recipe: codes sharded by cell, a query's I/O
    // proportional to its probed cells, independent of corpus size. The
    // probed-cell list is collected driver-side — bounded by the coarse
    // codebook size (NQueries × Probes pairs over ≤|cells| labels, router
    // metadata a serving tier holds in memory), NOT corpus-sized. Results
    // are identical to q24l by construction (same codebooks via shared
    // Materialize tags, same probe map, same order-pinned ADC chain).
    QueryDef(
      "q24m_ivfpq_partitioned",
      sqlIvfPq) { (s, dir) =>
      val qtab = pqArtifacts(s, dir)._2
      val cand = prunedCellCodes(s, dir)
        .join(broadcast(probeMap(s, dir)), col("cell") === col("plabel"))
        .join(broadcast(qtab), Seq("qid", "m", "cid"))
        .select(col("qid"), col("vec_id"), col("m"), col("d"))
      pqAdcSearch(s, dir, cand)
    },

    // Q24N — RESIDUAL-encoded IVF-PQ (round 10): the final piece of the
    // production FAISS recipe. q24i/q24l/q24m quantize RAW vectors; FAISS
    // IVF-PQ encodes each vector's RESIDUAL x − centroid(cell) — residuals
    // are centered and much smaller in norm, so the same 16×16-codeword
    // budget spends its resolution on the part of x the coarse quantizer
    // didn't already explain. Scoring decomposes exactly:
    //   q·x ≈ q·centroid(cell) + q·residual_code
    // so the query stays RAW — its subvectors look up the RESIDUAL
    // codebooks (one kilobyte table per query, as before) and the
    // per-(query, cell) offset q·centroid is one extra broadcast-sized
    // join, added LAST in the order-pinned ADC chain. Everything else —
    // coarse routing, probed-cell candidate set, top-50 shortlist, exact
    // re-rank — is q24l's machinery verbatim (shared probe map, shared
    // coarse-centroid materialization; the residual codebooks train
    // through the SAME Lloyd chain, just over the residual table). At
    // 100 TB the cost model is q24l/q24m's: codes are 16 bytes/vector
    // (layout-compatible with q24m's cell partitioning), codebooks/
    // offsets/probe map broadcast at KB size.
    QueryDef(
      "q24n_ivfpq_residual",
      sqlIvfPqResidual) { (s, dir) =>
      import VecFunctions.vecDot
      val cent = coarseCentroids(s, dir)
      val rbase = Materialize(s, dir, "q24n_rbase")(
        base(s, dir).join(cent.select(col("label"), col("cvec")), Seq("label"))
          .select(col("vec_id"), col("label"),
            zip_with(col("embedding"), col("cvec"),
              (a, b) => (a.cast("double") - b.cast("double")).cast("float"))
              .as("embedding")))
      val (codesR, qtabR) = pqArtifactsFrom(s, dir, rbase, base(s, dir), "q24n")
      val qs = base(s, dir).filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val qoff = broadcast(qs).crossJoin(broadcast(cent))
        .select(col("qid"), col("label"),
          vecDot(col("qemb"), col("cvec")).as("off"))
      val cand = codesR
        .join(base(s, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
        .join(broadcast(probeMap(s, dir)), col("label") === col("plabel"))
        .join(broadcast(qtabR), Seq("qid", "m", "cid"))
        .join(broadcast(qoff), Seq("qid", "label"))
        .select(col("qid"), col("vec_id"), col("m"), col("d"), col("off"))
      pqAdcSearch(s, dir, cand, withOffset = true)
    },

    // X3++/Q24o — FILTERED vector search ("hybrid search"): top-k among
    // only the corpus vectors satisfying a metadata predicate (here
    // vec_id % 3 == 0, a random third of the corpus standing in for any
    // attribute filter — tenant, language, date range). This is the other
    // operator every production vector store serves, and the recipe here
    // is PRE-FILTERED ANN: the predicate lands on the CANDIDATE stream
    // between IVF routing and ADC scoring, so the whole PQ shortlist
    // budget (top-50 → exact re-rank) is spent on qualifying vectors —
    // where POST-filtering the unfiltered top-k would return < k rows
    // whenever the filter is selective (the classic filtered-ANN failure).
    // Everything else — codebooks, probe map, order-pinned ADC, re-rank —
    // is q24l's machinery verbatim (shared Materialize tags, the oracle is
    // sqlIvfPq plus one AND). At 100 TB the predicate is pushed to the
    // codes scan (a metadata column riding the 16-byte code rows, or a
    // partition dimension when the filter aligns with layout — q24m's
    // pruning composes); recall-vs-exact-filtered is pinned in RecallSpec.
    QueryDef(
      "q24o_filtered_topk",
      sqlIvfPqFiltered(s" AND cd.vec_id % $FilterMod = 0")) { (s, dir) =>
      val (codes, qtab) = pqArtifacts(s, dir)
      val cand = codes
        .filter(col("vec_id") % FilterMod === 0)
        .join(base(s, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
        .join(broadcast(probeMap(s, dir)), col("label") === col("plabel"))
        .join(broadcast(qtab), Seq("qid", "m", "cid"))
        .select(col("qid"), col("vec_id"), col("m"), col("d"))
      pqAdcSearch(s, dir, cand)
    },

    // X3+++/Q24P — INCREMENTAL IVF-PQ INDEX MAINTENANCE (VERDICT r15 #3):
    // the serving stack q24l/q24m builds is build-once; this is the
    // nightly path that keeps it alive without a rebuild. Coarse
    // centroids and PQ codebooks train on HISTORY only and then FREEZE;
    // tonight's batch (the shared vec_id % 7 rule) is routed to the
    // frozen cells (argmax centroid cosine), PQ-encoded against the
    // frozen codebook by the SAME assignment rule the training loop used,
    // and APPENDED as new parquet files into the existing
    // partitionBy(cell) directories — standing files never rewritten,
    // nightly marginal cost ∝ batch (encode + small write; growth rows in
    // BASELINE.md r16). Because encoding is a pure argmin against frozen
    // codebooks, the incremental index is BIT-IDENTICAL to a from-scratch
    // encode of history+batch over the same artifacts — the oracle runs
    // exactly that from-scratch pipeline, so parity is exact, not a
    // recall tolerance. Serving is q24m verbatim over the merged table:
    // statically pruned cell scan, broadcast probe map + ADC lookup,
    // order-pinned ADC chain, exact re-rank over history+batch. The
    // RETRAIN trigger (the only operation allowed to rewrite the standing
    // files) is q67's embedding-drift novelty rate — q24pRetrainDue,
    // wiring pinned by spec.
    QueryDef(
      "q24p_incremental_ivfpq",
      sqlIvfPqIncremental) { (s, dir) =>
      val qtab = q24pArtifacts(s, dir).qtab
      val cand = q24pPrunedCodes(s, dir)
        .join(broadcast(probeMapOf(s, dir, q24pCent(s, dir))),
          col("cell") === col("plabel"))
        .join(broadcast(qtab), Seq("qid", "m", "cid"))
        .select(col("qid"), col("vec_id"), col("m"), col("d"))
      pqAdcSearch(s, dir, cand)
    },

    // Q55 — PCA top component by power iteration + per-vector projection:
    // the embedding-whitening / dominant-direction primitive (SemDeDup-
    // style pipelines project out or inspect the top component before
    // cosine clustering; the projection score is also the 1-D curriculum /
    // outlier axis). Spark-first shape: the centered matrix never
    // materializes as a matrix — each iteration is two hash aggregations
    // over the exploded (vec_id, dim, value) frame (dot per vector, then
    // weighted column sum per dim), with the 64-long iterate collected and
    // re-broadcast as a literal (q24f's bounded-driver-state k-means
    // precedent; d doubles per round, never corpus-sized). ALL arithmetic
    // is fixed-point BIGINT — values scaled 1e6 with explicit
    // truncate-toward-zero division (Spark DIV truncates, DuckDB //
    // floors: the sign split makes both walk identical sequences), means
    // centered by truncated integer mean, the iterate ∞-normalized by
    // integer max — so there is no float accumulation order to diverge
    // and the oracle matches bit-exactly. Scales: each round is 2 shuffles
    // of a (corpus × d)-row frame (the SAME cost class as one q24 scan),
    // the iterate is d longs, and the materialized centered frame is
    // reused across rounds. Headroom: terms stay ≤ ~1e11 × n_vectors —
    // BIGINT-safe to ~10^7 vectors/partition of the 1e6 scale; a 100 TB
    // run drops the scale or sums DECIMAL(38).
    QueryDef(
      "q55_pca_projection", {
        val it = (1 to PcaIters).map { k =>
          s"""d$k AS (SELECT vec_id, ${sqlTdiv(s"SUM(ci * v)", PcaDotDiv)} AS dot
             |  FROM ci JOIN v${k - 1} vv ON ci.i = vv.i GROUP BY vec_id),
             |w$k AS (SELECT i, CAST(SUM(ci * dot) AS BIGINT) AS w
             |  FROM ci JOIN d$k dd ON ci.vec_id = dd.vec_id GROUP BY i),
             |m$k AS (SELECT GREATEST(MAX(ABS(w)) // $PcaS, 1) AS md FROM w$k),
             |v$k AS (SELECT i, ${sqlTdiv("w", "md")} AS v FROM w$k, m$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH dims AS (SELECT unnest(generate_series(1,
           |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
           |xm AS (SELECT vec_id, i,
           |  CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * $PcaS) AS BIGINT) AS xi
           |  FROM embeddings, dims),
           |mu AS (SELECT i, ${sqlTdiv("SUM(xi)", "COUNT(*)")} AS mui
           |       FROM xm GROUP BY i),
           |ci AS (SELECT vec_id, xm.i, xi - mui AS ci
           |       FROM xm JOIN mu ON xm.i = mu.i),
           |v0 AS (SELECT i, CAST($PcaS AS BIGINT) AS v FROM dims),
           |$it,
           |pj AS (SELECT vec_id, ${sqlTdiv(s"SUM(ci * v)", PcaS)} AS proj
           |  FROM ci JOIN v$PcaIters vv ON ci.i = vv.i GROUP BY vec_id)
           |SELECT e.vec_id, e.label, CAST(pj.proj AS BIGINT) AS proj
           |FROM embeddings e JOIN pj ON e.vec_id = pj.vec_id
           |ORDER BY e.vec_id""".stripMargin
      }) { (s, dir) =>
      val ci = Materialize(s, dir, "q55_ci") {
        val xm = Tables.embeddings(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "x")))
          // FLOOR of the float-widened double × 1e6: pure IEEE ops, bit-
          // identical in both engines — a decimal cast here diverges on
          // representation ties (Spark rounds the SHORTEST double repr,
          // DuckDB the exact binary value)
          .select(col("vec_id"), (col("i0") + 1).as("i"),
            floor(col("x").cast("double") * lit(PcaS.toDouble)).cast("long").as("xi"))
        val mu = xm.groupBy(col("i"))
          .agg(sum(col("xi")).as("sx"), count(lit(1)).as("n"))
          .select(col("i"), expr(
            "CASE WHEN sx < 0 THEN -((-sx) DIV n) ELSE sx DIV n END").as("mui"))
        xm.join(broadcast(mu), Seq("i"))
          .select(col("vec_id"), col("i"), (col("xi") - col("mui")).as("ci"))
      }
      // the iterate is a PcaDim-long literal while the oracle sizes its
      // dimension spine from the data — a fixture of any other width would
      // silently drop dims (null element_at) instead of failing loudly
      // (ADVICE r12); assert the scanned width before the first iteration
      val widths = Tables.embeddings(s, dir)
        .agg(min(size(col("embedding"))).as("lo"), max(size(col("embedding"))).as("hi"))
        .head()
      require(widths.getInt(0) == PcaDim && widths.getInt(1) == PcaDim,
        s"q55: embedding width ${widths.getInt(0)}..${widths.getInt(1)} != PcaDim $PcaDim")
      var v: Array[Long] = Array.fill(PcaDim)(PcaS)
      for (_ <- 1 to PcaIters) {
        val vlit = typedLit(v.toSeq)
        val dots = ci
          .select(col("vec_id"),
            (col("ci") * element_at(vlit, col("i").cast("int"))).as("p"))
          .groupBy(col("vec_id")).agg(sum(col("p")).as("sp"))
          .select(col("vec_id"), expr(
            s"CASE WHEN sp < 0 THEN -((-sp) DIV $PcaDotDiv) ELSE sp DIV $PcaDotDiv END")
            .as("dot"))
        val w = ci.join(dots, Seq("vec_id"))
          .groupBy(col("i")).agg(sum(col("ci") * col("dot")).as("w"))
          .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
        // ∞-normalization on the collected d-vector: EXACTLY the oracle's
        // m_k/v_k CTEs, in Long arithmetic (Scala / truncates like DIV)
        val md = math.max(1L, w.values.map(math.abs).max / PcaS)
        v = Array.tabulate(PcaDim) { j =>
          val wj = w.getOrElse((j + 1).toLong, 0L)
          if (wj < 0) -((-wj) / md) else wj / md
        }
      }
      val vfin = typedLit(v.toSeq)
      val pj = ci
        .select(col("vec_id"),
          (col("ci") * element_at(vfin, col("i").cast("int"))).as("p"))
        .groupBy(col("vec_id")).agg(sum(col("p")).as("sp"))
        .select(col("vec_id"), expr(
          s"CASE WHEN sp < 0 THEN -((-sp) DIV $PcaS) ELSE sp DIV $PcaS END").as("proj"))
      Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
        .join(pj, Seq("vec_id"))
        .select(col("vec_id"), col("label"), col("proj"))
        .orderBy("vec_id")
    },

    // X1+X3/Q60 — SEMANTIC decontamination (exact form): the embedding-
    // space twin of q52's verbatim-window audit — per held-out (val/test
    // by q25j's hash rule, applied to the vector id) document, the maximum
    // cosine against ANY train document and its nearest train neighbor;
    // contaminated iff max cosine ≥ [[NearDupTau]] (THE shared near-dup
    // bar, so q24c/q24d/q24h/q60 agree on what "near-duplicate" means).
    // This is the eval-hygiene pass verbatim n-gram audits miss: a
    // paraphrased or reformatted benchmark answer shares no 8-token window
    // but sits at cosine ~1. Plan: the eval set is small BY CONSTRUCTION
    // (a benchmark/held-out split — q22g's broadcast precedent), so it
    // broadcasts into ONE scan of the train side; per-pair keys never
    // survive the map side because the packed-BIGINT argmax (see
    // [[DcCosScale]]) aggregates in a codegen'd HashAggregate with
    // map-side partials — each task emits ≤ |eval| partial longs, the
    // final shuffle is |eval|-keyed and tiny. The brute pair scan is the
    // declared O(|eval|·|train|) oracle baseline (q24c's role); q60b is
    // the LSH-routed scale path.
    QueryDef(
      "q60_semantic_decontamination",
      s"""WITH $sqlBaseCte,
         |${sqlDeconSplitCtes("base", "")},
         |p AS (SELECT e.qid, $sqlDeconKey AS ukey FROM ev e, tr t),
         |$sqlDeconReport""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      val (ev, tr) = deconSplit(base(s, dir), Seq.empty)
      val pairs = tr
        .crossJoin(broadcast(ev.select(col("qid"), col("qemb"), col("qnrm"))))
        .select(col("qid"),
          deconKey(
            vecDot(col("embedding"), col("qemb")) / (col("nrm") * col("qnrm")),
            col("vec_id")).as("ukey"))
      deconReport(ev, pairs)
    },

    // X1+X3/Q60b — the LSH-ROUTED decontamination scale path: q24d's
    // 16-bit hyperplane signatures (SHARED materialized table — one build
    // serves the near-dup pair scan and this audit) bucket both splits
    // into 4 bands × 4 bits; cosines are computed ONLY for (eval, train)
    // pairs colliding in ≥1 band, then the identical packed-argmax tail
    // runs over the candidate stream. The eval band rows broadcast, so
    // candidate generation is a broadcast hash join keyed on (band,
    // bucket) — the full-corpus dot-product sweep becomes |collisions|
    // dots (~1/16 of all pairs per band at these widths; wider bands cut
    // candidates geometrically at the recall cost RecallSpec measures —
    // the knob every production vector store tunes). Eval docs whose
    // buckets collide with NO train doc drop from the report (no
    // candidate neighbor — at a near-dup bar, absence of collision IS the
    // evidence of non-contamination); q60's exact rows are the recall
    // reference. Own oracle: DuckDB mirrors the same planes, signatures,
    // bands, and packed key, so the approximate path is hash-compared
    // exactly, not just spec-bounded.
    QueryDef(
      "q60b_lsh_decontamination",
      s"""WITH $sqlBaseCte,
         |$sqlPlanesCte,
         |$sqlSigCte,
         |${sqlDeconSplitCtes("sig", ", sig")},
         |js AS (SELECT unnest(generate_series(0, ${LshBands - 1})) AS j),
         |eb AS (SELECT qid, qemb, qnrm, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv FROM ev, js),
         |tb AS (SELECT vec_id, embedding, nrm, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv FROM tr, js),
         |p AS (SELECT e.qid, $sqlDeconKey AS ukey
         |      FROM eb e JOIN tb t ON e.j = t.j AND e.bv = t.bv),
         |$sqlDeconReport""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      val (ev, tr) = deconSplit(lshSigs(s, dir), Seq("sig"))
      def bands(df: DataFrame) = df
        .withColumn("j", explode(sequence(lit(0), lit(LshBands - 1))))
        .withColumn("bv", floor(col("sig") / pow(lit(16), col("j"))).cast("long") % 16)
      val cand = bands(tr).alias("t")
        .join(broadcast(bands(ev.select(col("qid"), col("qemb"), col("qnrm"),
          col("sig"))).alias("e")),
          col("e.j") === col("t.j") && col("e.bv") === col("t.bv"))
      val pairs = cand.select(col("qid"),
        deconKey(
          vecDot(col("t.embedding"), col("e.qemb")) /
            (col("t.nrm") * col("e.qnrm")),
          col("t.vec_id")).as("ukey"))
      deconReport(ev, pairs)
    },

    // X3++/Q67 — EMBEDDING-DRIFT monitor (VERDICT r14 #5): the semantic
    // third of the drift triptych — q64 watches the LEXICAL surface
    // (new word types), q65 the SHINGLE surface (near-dup text); this
    // watches the EMBEDDING space: per source, the rate of tonight's
    // batch vectors (the shared vec_id % 7 rule) that are a SEMANTIC
    // near-dup (cosine ≥ NearDupTau, q24c/q24d/q60's shared bar) of the
    // standing corpus — a source whose rate spikes is re-crawling or
    // paraphrasing content the corpus already embeds, invisible to q64/
    // q65 once the wording shifts. Fifth instance of the batch-vs-history
    // pattern (q22d keys, q47b windows, q64 vocabulary, q65 bands).
    // Scale shape: signatures come from the SHARED materialized
    // hyperplane table (one build serves q24d, q60b, and this), the
    // HISTORY band index is a standing per-snapshot artifact, the probe
    // is a batch-side band equi-join (candidates only — never history ×
    // batch), and exact cosines touch candidate pairs only; marginal
    // cost is batch-proportional, shuffle bound by candidate mass.
    // Report shape = q64/q65's (source, count, flagged, rate).
    QueryDef(
      "q67_embedding_drift",
      s"""WITH $sqlBaseCte,
         |$sqlPlanesCte,
         |$sqlSigCte,
         |js AS (SELECT unnest(generate_series(0, ${LshBands - 1})) AS j),
         |hb AS (SELECT vec_id AS hid, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv
         |  FROM sig, js WHERE vec_id % 7 <> 0),
         |bb AS (SELECT vec_id AS bid, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv
         |  FROM sig, js WHERE vec_id % 7 = 0),
         |cand AS (SELECT DISTINCT bb.bid, hb.hid
         |  FROM bb JOIN hb ON bb.j = hb.j AND bb.bv = hb.bv),
         |conf AS (SELECT DISTINCT bid FROM cand
         |  JOIN base x ON bid = x.vec_id JOIN base y ON hid = y.vec_id
         |  WHERE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
         |    >= $NearDupTau),
         |b AS (SELECT e.vec_id, d.source FROM embeddings e
         |      JOIN documents d ON e.vec_id = d.doc_id
         |      WHERE e.vec_id % 7 = 0)
         |SELECT source, COUNT(*) AS n_vecs,
         |  CAST(SUM(CASE WHEN conf.bid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_neardup,
         |  round(SUM(CASE WHEN conf.bid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / COUNT(*), 6) AS neardup_frac
         |FROM b LEFT JOIN conf ON b.vec_id = conf.bid
         |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import VecFunctions.vecDot
      val sigs = lshSigs(s, dir)
      def bandKeys(df: DataFrame, idAs: String) = df
        .withColumn("j", explode(sequence(lit(0), lit(LshBands - 1))))
        .select(col("vec_id").as(idAs), col("j"),
          (floor(col("sig") / pow(lit(16), col("j"))).cast("long") % 16).as("bv"))
      // standing artifact: the history's band index (rebuilt per corpus
      // snapshot, not per batch — the q65_hist_bands precedent)
      val histIdx = Materialize(s, dir, "q67_hist_bands")(
        bandKeys(sigs.filter(col("vec_id") % 7 =!= 0), "hid"))
      val cand = bandKeys(sigs.filter(col("vec_id") % 7 === 0), "bid")
        .withColumnRenamed("j", "bj").withColumnRenamed("bv", "bbv")
        .join(histIdx, col("bj") === col("j") && col("bbv") === col("bv"))
        .select(col("bid"), col("hid")).distinct()
      val emb = base(s, dir)
      val conf = cand
        .join(emb.select(col("vec_id").as("bid"), col("embedding").as("bemb"),
          col("nrm").as("bnrm")), Seq("bid"))
        .join(emb.select(col("vec_id").as("hid"), col("embedding").as("hemb"),
          col("nrm").as("hnrm")), Seq("hid"))
        .filter(vecDot(col("bemb"), col("hemb")) /
          (col("bnrm") * col("hnrm")) >= NearDupTau)
        .select(col("bid")).distinct()
      Tables.embeddings(s, dir).select(col("vec_id"))
        .filter(col("vec_id") % 7 === 0)
        .join(CurationPipeline.nightBatch(s, dir)
            .select(col("doc_id"), col("source")),
          col("vec_id") === col("doc_id"))
        .join(conf, col("vec_id") === col("bid"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("bid").isNotNull, 1L).otherwise(0L)).as("n_neardup"))
        .select(col("source"), col("n_vecs"), col("n_neardup"),
          round(col("n_neardup").cast("double") / col("n_vecs"), 6)
            .as("neardup_frac"))
        .orderBy("source")
    },

    // X3++++/Q67b — MULTI-NIGHT COMPOUNDING of the embedding band index
    // (q63i/q64b/q65b's chain pattern, semantic space): night k probes
    // batch vec_id % 7 == k against the standing hyperplane-band index,
    // then appends its own batch's band rows as a materialized delta that
    // IS part of night k+1's standing index — a night-1 vector colinear
    // with a night-0 BATCH vector must flag (the cross-night edge), a
    // within-night pair must not. This closes VERDICT r15 missing-#1 for
    // the whole drift triptych: every standing index the nightly ops
    // probe (SA keys+LCP, vocabulary, shingle bands, embedding bands) now
    // genuinely compounds. State write per night ∝ batch band rows;
    // exact cosines touch candidate pairs only; the night's verdicts
    // materialize once (`q67b_conf_v{k}`). Oracle recomputes each night
    // with history = base + earlier batches.
    QueryDef("q67b_chained_embedding_drift", sqlChainedEmbOracle) { (s, dir) =>
      import VecFunctions.vecDot
      val sigs = lshSigs(s, dir)
      val nights = DedupQueries.ChainNights
      def bandKeys(df: DataFrame, idAs: String) = df
        .withColumn("j", explode(sequence(lit(0), lit(LshBands - 1))))
        .select(col("vec_id").as(idAs), col("j"),
          (floor(col("sig") / pow(lit(16), col("j"))).cast("long") % 16).as("bv"))
      var idx: DataFrame = Materialize(s, dir, "q67b_bands_v0")(
        bandKeys(sigs.filter(col("vec_id") % 7 >= nights), "hid"))
      val emb = base(s, dir)
      (0 until nights).map { k =>
        val batchBands = bandKeys(sigs.filter(col("vec_id") % 7 === k), "bid")
          .withColumnRenamed("j", "bj").withColumnRenamed("bv", "bbv")
        val cand = batchBands
          .join(idx, col("bj") === col("j") && col("bbv") === col("bv"))
          .select(col("bid"), col("hid")).distinct()
        val conf = Materialize(s, dir, s"q67b_conf_v$k") {
          cand
            .join(emb.select(col("vec_id").as("bid"),
              col("embedding").as("bemb"), col("nrm").as("bnrm")), Seq("bid"))
            .join(emb.select(col("vec_id").as("hid"),
              col("embedding").as("hemb"), col("nrm").as("hnrm")), Seq("hid"))
            .filter(vecDot(col("bemb"), col("hemb")) /
              (col("bnrm") * col("hnrm")) >= NearDupTau)
            .select(col("bid")).distinct()
        }
        val delta = Materialize(s, dir, s"q67b_bands_v${k + 1}")(
          batchBands.select(col("bid").as("hid"), col("bj").as("j"),
            col("bbv").as("bv")))
        idx = idx.unionByName(delta)
        Tables.embeddings(s, dir).select(col("vec_id"))
          .filter(col("vec_id") % 7 === k)
          .join(Tables.documents(s, dir).select(col("doc_id"), col("source")),
            col("vec_id") === col("doc_id"))
          .join(conf, col("vec_id") === col("bid"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(when(col("bid").isNotNull, 1L).otherwise(0L)).as("n_neardup"))
          .select(lit(k).as("night"), col("source"), col("n_vecs"),
            col("n_neardup"),
            round(col("n_neardup").cast("double") / col("n_vecs"), 6)
              .as("neardup_frac"))
      }.reduce(_.unionByName(_)).orderBy("night", "source")
    }
  )

  /** q67b's oracle: each night's q67 report recomputed from raw
    * embeddings with history = base (% 7 >= ChainNights) + all earlier
    * batches — the full-rebuild twin of the chained band index. */
  private def sqlChainedEmbOracle: String = {
    val nights = DedupQueries.ChainNights
    val blocks = (0 until nights).map { k =>
      s"""hb$k AS (SELECT vec_id AS hid, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv
         |  FROM sig, js WHERE vec_id % 7 >= $nights OR vec_id % 7 < $k),
         |bb$k AS (SELECT vec_id AS bid, j,
         |    (sig // CAST(power(16, j) AS BIGINT)) % 16 AS bv
         |  FROM sig, js WHERE vec_id % 7 = $k),
         |cand$k AS (SELECT DISTINCT bb$k.bid, hb$k.hid
         |  FROM bb$k JOIN hb$k ON bb$k.j = hb$k.j AND bb$k.bv = hb$k.bv),
         |conf$k AS (SELECT DISTINCT bid FROM cand$k
         |  JOIN base x ON bid = x.vec_id JOIN base y ON hid = y.vec_id
         |  WHERE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
         |    >= $NearDupTau),
         |r$k AS (SELECT $k AS night, source, COUNT(*) AS n_vecs,
         |    CAST(SUM(CASE WHEN conf$k.bid IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_neardup,
         |    round(SUM(CASE WHEN conf$k.bid IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |      / COUNT(*), 6) AS neardup_frac
         |  FROM (SELECT e.vec_id, d.source FROM embeddings e
         |        JOIN documents d ON e.vec_id = d.doc_id
         |        WHERE e.vec_id % 7 = $k) b
         |  LEFT JOIN conf$k ON b.vec_id = conf$k.bid
         |  GROUP BY source)""".stripMargin
    }
    val union = (0 until nights)
      .map(k => s"SELECT * FROM r$k").mkString(" UNION ALL ")
    s"""WITH $sqlBaseCte,
       |$sqlPlanesCte,
       |$sqlSigCte,
       |js AS (SELECT unnest(generate_series(0, ${LshBands - 1})) AS j),
       |${blocks.mkString(",\n")}
       |$union ORDER BY night, source""".stripMargin
  }


  /** The q24l/q24m oracle: IVF-routed ADC over the shared PQ CTE chain —
    * ONE text so the flat (q24l) and cell-partitioned (q24m) executions
    * can never desynchronize from the oracle or from each other. */
  private lazy val sqlIvfPq: String = sqlIvfPqFiltered("")

  /** [[sqlIvfPq]] with an extra candidate predicate AND-appended to the
    * ADC stage (the shortlist and exact re-rank inherit it — they only
    * ever see ADC survivors) — q24o's filtered search shares every other
    * line with q24l/q24m. */
  private def sqlIvfPqFiltered(extra: String): String =
    s"""WITH $sqlBaseCte,
       |${sqlPqCtes("base")},
         |qv AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |  FROM base WHERE vec_id < $NQueries),
         |cdims AS (SELECT unnest(generate_series(1,
         |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
         |cent AS (
         |  SELECT label, list(cval ORDER BY i) AS cvec
         |  FROM (SELECT label, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
         |        FROM base, cdims GROUP BY label, i)
         |  GROUP BY label),
         |centf AS (SELECT label, list_transform(cvec, x -> x::FLOAT) AS cvec,
         |  sqrt(${sqlDot("list_transform(cvec, x -> x::FLOAT)",
                          "list_transform(cvec, x -> x::FLOAT)")}) AS cnrm FROM cent),
         |probe AS (
         |  SELECT qid, label FROM (
         |    SELECT q.qid, c.label,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        ${sqlDot("c.cvec", "q.qemb")} / (c.cnrm * q.qnrm) DESC, c.label) AS pr
         |    FROM qv q, centf c) WHERE pr <= $Probes),
         |lblv AS (SELECT vec_id, label FROM base),
         |adc AS (SELECT t.qid, cd.vec_id, $sqlAdcSum AS dotv
         |  FROM codes cd
         |  JOIN lblv v ON v.vec_id = cd.vec_id
         |  JOIN probe p ON p.label = v.label
         |  JOIN qtab t ON t.qid = p.qid AND t.m = cd.m AND t.cid = cd.cid
         |  WHERE cd.vec_id <> t.qid$extra
         |  GROUP BY t.qid, cd.vec_id),
         |short AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY dotv DESC, vec_id) AS rk FROM adc) WHERE rk <= $PqShortlist),
         |qf AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
         |  FROM base WHERE vec_id < $NQueries),
         |rr AS (SELECT sh.qid, sh.vec_id,
         |  ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS pcos
         |  FROM short sh JOIN base b ON sh.vec_id = b.vec_id
         |       JOIN qf q ON sh.qid = q.qid),
         |ranked AS (SELECT qid, vec_id, pcos,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rank
         |  FROM rr)
         |SELECT qid, rank, vec_id, round(pcos, 6) AS cos
         |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  /** The q24p oracle: the FROM-SCRATCH run of the frozen-artifact
    * pipeline — PQ chain trained on HISTORY subvectors only (c1/c2 frozen
    * there), history codes from the training chain's final assignment,
    * batch codes from ONE assignment pass of the batch subvectors against
    * the frozen c1 (`bs`/`ab` — the exact rule the Spark append runs), the
    * coarse router = per-label centroids of HISTORY with batch cells
    * assigned by frozen-centroid argmax (`bcell`), then q24l/q24m's
    * routing + ADC + shortlist + re-rank verbatim over the merged codes.
    * Equality with the Spark side is exact: both derive every code from
    * the same frozen codebooks by the same argmin. */
  private lazy val sqlIvfPqIncremental: String =
    s"""WITH $sqlBaseCte,
       |histb AS (SELECT * FROM base WHERE vec_id % $VecNightMod <> 0),
       |batchb AS (SELECT * FROM base WHERE vec_id % $VecNightMod = 0),
       |allsubs AS (SELECT vec_id, m,
       |  embedding[(m-1)*$PqSubDim+1 : m*$PqSubDim] AS sv
       |  FROM base, (SELECT unnest(generate_series(1, $PqM)) AS m)),
       |${sqlPqCtes("histb", "allsubs")},
       |bs AS (SELECT s.vec_id, s.m, s.sv, c.cid,
       |  c.cn2 - 2 * ${sqlDot("s.sv", "c.cvec")} AS dist
       |  FROM allsubs s JOIN c1 c ON s.m = c.m
       |  WHERE s.vec_id % $VecNightMod = 0),
       |ab AS (SELECT vec_id, m, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist, cid) AS rn FROM bs) WHERE rn = 1),
       |mcodes AS (SELECT vec_id, m, cid FROM codes
       |  UNION ALL SELECT vec_id, m, cid FROM ab),
       |qv AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
       |  FROM base WHERE vec_id < $NQueries),
       |cdims AS (SELECT unnest(generate_series(1,
       |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
       |cent AS (
       |  SELECT label, list(cval ORDER BY i) AS cvec
       |  FROM (SELECT label, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
       |        FROM histb, cdims GROUP BY label, i)
       |  GROUP BY label),
       |centf AS (SELECT label, list_transform(cvec, x -> x::FLOAT) AS cvec,
       |  sqrt(${sqlDot("list_transform(cvec, x -> x::FLOAT)",
                        "list_transform(cvec, x -> x::FLOAT)")}) AS cnrm FROM cent),
       |bcell AS (SELECT vec_id, label FROM (
       |  SELECT b.vec_id, c.label,
       |    ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
       |      ${sqlDot("c.cvec", "b.embedding")} / (c.cnrm * b.nrm) DESC,
       |      c.label) AS rn
       |  FROM batchb b, centf c) WHERE rn = 1),
       |probe AS (
       |  SELECT qid, label FROM (
       |    SELECT q.qid, c.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |        ${sqlDot("c.cvec", "q.qemb")} / (c.cnrm * q.qnrm) DESC, c.label) AS pr
       |    FROM qv q, centf c) WHERE pr <= $Probes),
       |lblv AS (SELECT vec_id, label FROM histb
       |  UNION ALL SELECT vec_id, label FROM bcell),
       |adc AS (SELECT t.qid, cd.vec_id, $sqlAdcSum AS dotv
       |  FROM mcodes cd
       |  JOIN lblv v ON v.vec_id = cd.vec_id
       |  JOIN probe p ON p.label = v.label
       |  JOIN qtab t ON t.qid = p.qid AND t.m = cd.m AND t.cid = cd.cid
       |  WHERE cd.vec_id <> t.qid
       |  GROUP BY t.qid, cd.vec_id),
       |short AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dotv DESC, vec_id) AS rk FROM adc) WHERE rk <= $PqShortlist),
       |qf AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
       |  FROM base WHERE vec_id < $NQueries),
       |rr AS (SELECT sh.qid, sh.vec_id,
       |  ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS pcos
       |  FROM short sh JOIN base b ON sh.vec_id = b.vec_id
       |       JOIN qf q ON sh.qid = q.qid),
       |ranked AS (SELECT qid, vec_id, pcos,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rank
       |  FROM rr)
       |SELECT qid, rank, vec_id, round(pcos, 6) AS cos
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  /** The q24n oracle: sqlIvfPq with the PQ chain trained on the RESIDUAL
    * table (x − float coarse centroid, the identical double-subtract-then-
    * float-cast both engines perform), query subvectors staying RAW
    * (`rawsubs`), and the q·centroid offset added LAST per (query, cell)
    * in the ADC aggregation — the one extra order-pinned float addition. */
  private lazy val sqlIvfPqResidual: String =
    s"""WITH $sqlBaseCte,
       |qv AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
       |  FROM base WHERE vec_id < $NQueries),
       |cdims AS (SELECT unnest(generate_series(1,
       |  (SELECT max(len(embedding)) FROM embeddings))) AS i),
       |cent AS (
       |  SELECT label, list(cval ORDER BY i) AS cvec
       |  FROM (SELECT label, i, ${sqlDmean12("embedding[i]::DOUBLE")} AS cval
       |        FROM base, cdims GROUP BY label, i)
       |  GROUP BY label),
       |centf AS (SELECT label, list_transform(cvec, x -> x::FLOAT) AS cvec,
       |  sqrt(${sqlDot("list_transform(cvec, x -> x::FLOAT)",
                        "list_transform(cvec, x -> x::FLOAT)")}) AS cnrm FROM cent),
       |rbase AS (SELECT b.vec_id, b.label,
       |  list_transform(generate_series(1, len(b.embedding)),
       |    i -> CAST(CAST(b.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)
       |              AS FLOAT)) AS embedding
       |  FROM base b JOIN centf c ON b.label = c.label),
       |rawsubs AS (SELECT vec_id, m,
       |  embedding[(m-1)*$PqSubDim+1 : m*$PqSubDim] AS sv
       |  FROM base, (SELECT unnest(generate_series(1, $PqM)) AS m)),
       |${sqlPqCtes("rbase", "rawsubs")},
       |probe AS (
       |  SELECT qid, label FROM (
       |    SELECT q.qid, c.label,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |        ${sqlDot("c.cvec", "q.qemb")} / (c.cnrm * q.qnrm) DESC, c.label) AS pr
       |    FROM qv q, centf c) WHERE pr <= $Probes),
       |qoff AS (SELECT q.qid, c.label, ${sqlDot("q.qemb", "c.cvec")} AS off
       |  FROM qv q, centf c),
       |lblv AS (SELECT vec_id, label FROM base),
       |adc AS (SELECT t.qid, cd.vec_id, ($sqlAdcSum) + MIN(o.off) AS dotv
       |  FROM codes cd
       |  JOIN lblv v ON v.vec_id = cd.vec_id
       |  JOIN probe p ON p.label = v.label
       |  JOIN qtab t ON t.qid = p.qid AND t.m = cd.m AND t.cid = cd.cid
       |  JOIN qoff o ON o.qid = t.qid AND o.label = v.label
       |  WHERE cd.vec_id <> t.qid
       |  GROUP BY t.qid, cd.vec_id),
       |short AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY dotv DESC, vec_id) AS rk FROM adc) WHERE rk <= $PqShortlist),
       |qf AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
       |  FROM base WHERE vec_id < $NQueries),
       |rr AS (SELECT sh.qid, sh.vec_id,
       |  ${sqlDot("b.embedding", "q.qemb")} / (b.nrm * q.qnrm) AS pcos
       |  FROM short sh JOIN base b ON sh.vec_id = b.vec_id
       |       JOIN qf q ON sh.qid = q.qid),
       |ranked AS (SELECT qid, vec_id, pcos,
       |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pcos DESC, vec_id) AS rank
       |  FROM rr)
       |SELECT qid, rank, vec_id, round(pcos, 6) AS cos
       |FROM ranked WHERE rank <= $K ORDER BY qid, rank""".stripMargin

  /** The materialized per-label coarse centroid table (float cvec + norm) —
    * q24b's routing table, shared by probeMap, q24n's residual base, and
    * the residual query offsets. */
  private def coarseCentroids(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    Materialize(s, dir, "q24b_cent")(
      decimalCentroids(base(s, dir), "label")
        .withColumn("cnrm", sqrt(vecDot(col("cvec"), col("cvec")))))
  }

  private def probeMap(s: SparkSession, dir: String): DataFrame =
    // standing router artifact (≤ NQueries × Probes rows): materialized so
    // the four IVF consumers read it instead of each re-running the
    // query × centroid scoring window per execution (round 16)
    Materialize(s, dir, "q24_probemap")(
      probeMapOf(s, dir, coarseCentroids(s, dir)))

  /** [[probeMap]] against an arbitrary centroid table — q24p routes with
    * the FROZEN history centroids instead of the full-corpus ones. */
  private def probeMapOf(s: SparkSession, dir: String,
                         cent: DataFrame): DataFrame = {
    import VecFunctions.vecDot
    import org.apache.spark.sql.expressions.Window
    val qs = base(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"))
    broadcast(qs).crossJoin(broadcast(cent))
      .withColumn("csim",
        vecDot(col("cvec"), col("qemb")) / (col("cnrm") * col("qnrm")))
      .withColumn("pr",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("csim").desc, col("label"))))
      .filter(col("pr") <= Probes)
      .select(col("qid"), col("label").as("plabel"))
  }

  /** q24m's statically partition-pruned codes scan: the PQ codes laid out
    * `partitionBy(cell)` (cell = IVF coarse label), filtered by a LITERAL
    * IN over the session's probed-cell set. The filter resolves against
    * directory names at planning time — unprobed cells' files are never
    * listed or opened (PlanSpec pins selected-partition count ==
    * probed-cell count). Exposed for the spec, like q41's prunedWeek. */
  private[graft] def prunedCellCodes(s: SparkSession, dir: String): DataFrame = {
    val codes = pqArtifacts(s, dir)._1
    val byCell = Materialize.partitioned(s, dir, "q24m_codes_by_cell", Seq("cell"))(
      codes.join(base(s, dir).select(col("vec_id"), col("label").as("cell")),
        Seq("vec_id")))
    // the probed-cell literal: distinct plabel of the broadcast-sized probe
    // map — router metadata (≤ |coarse cells| values), collected ONCE per
    // (session, dir, dir listing) and cached: the probe set is a pure
    // function of the materialized centroids + query set, and re-collecting
    // it per execution would bill every bench pass one more collect job
    val cells = probedCells.computeIfAbsent(Footers.cacheKey(s, dir),
      _ => probeMap(s, dir).select(col("plabel")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq)
    byCell.filter(col("cell").isin(cells.map(Int.box): _*))
  }

  private val probedCells =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()

  // ---- q24p: incremental maintenance of the IVF-PQ index -----------------

  private def histBase(s: SparkSession, dir: String): DataFrame =
    base(s, dir).filter(col("vec_id") % VecNightMod =!= 0)
  private def batchBase(s: SparkSession, dir: String): DataFrame =
    base(s, dir).filter(col("vec_id") % VecNightMod === 0)

  /** q24p's FROZEN artifact set: PQ codebooks trained on HISTORY vectors
    * only (own Materialize tags — one training per session), queries
    * looked up raw against them. encCent is the codebook tonight's batch
    * encodes against. */
  private def q24pArtifacts(s: SparkSession, dir: String): PqArtifacts =
    pqArtifactsFull(s, dir, histBase(s, dir), base(s, dir), "q24p")

  /** q24p's FROZEN coarse router: per-label centroids of HISTORY vectors
    * (the standing snapshot's cells — batch vectors route to these, they
    * never move them until a retrain, see [[q24pRetrainDue]]). */
  private def q24pCent(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    Materialize(s, dir, "q24p_cent")(
      decimalCentroids(histBase(s, dir), "label")
        .withColumn("cnrm", sqrt(vecDot(col("cvec"), col("cvec")))))
  }

  /** Tonight's batch vectors assigned to the FROZEN coarse cells: argmax
    * centroid cosine, ties on label — the routing a from-scratch encode
    * over the same frozen centroids would give, mirrored in the oracle's
    * bcell CTE. Batch-proportional: |batch| × |cells| scored rows against
    * a broadcast centroid table. */
  private def q24pBatchCells(s: SparkSession, dir: String): DataFrame = {
    import VecFunctions.vecDot
    import org.apache.spark.sql.expressions.Window
    batchBase(s, dir).select(col("vec_id"), col("embedding"), col("nrm"))
      .crossJoin(broadcast(q24pCent(s, dir)))
      .withColumn("csim",
        vecDot(col("cvec"), col("embedding")) / (col("cnrm") * col("nrm")))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(col("csim").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label").as("cell"))
  }

  private val q24pCodesDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The MERGED cell-partitioned codes table (vec_id, m, cid, cell):
    * standing history codes written once partitionBy(cell) (q24m's
    * layout), then tonight's batch PQ-encoded against the FROZEN encCent
    * codebook ([[pqAssign]] — the identical assignment rule the training
    * loop used, so incremental codes are bit-equal to a from-scratch
    * encode), routed to frozen cells, and APPENDED as new files into the
    * existing cell directories — the standing files are never rewritten.
    * The nightly marginal cost is the batch encode + batch-sized write;
    * at 100 TB this is the FAISS/SPANN maintenance recipe: the index
    * gains one small parquet file per touched cell per night, compaction
    * is q43's job, and a RETRAIN (the only operation that rewrites the
    * standing files) is triggered by q67's drift signal, not by the
    * append path. Built once per (session, dir, dir listing);
    * check-then-putIfAbsent like Materialize (the append must not re-run
    * on a bench re-pass — it would duplicate batch rows). */
  private[graft] def q24pMergedCodes(s: SparkSession, dir: String): DataFrame = {
    val key = Footers.cacheKey(s, dir)
    var d = q24pCodesDirs.get(key)
    if (d == null) {
      val a = q24pArtifacts(s, dir)
      val dd = graft.TempDirs.create("graft_q24p_codes_")
      a.codes
        .join(histBase(s, dir).select(col("vec_id"), col("label").as("cell")),
          Seq("vec_id"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(dd)
      q24pBatchEncodeFrame(s, dir)
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(dd)
      val prev = q24pCodesDirs.putIfAbsent(key, dd)
      d = if (prev == null) dd else prev
    }
    Footers.read(s, d)
  }

  /** q24p's statically pruned serving scan: the merged codes table
    * filtered by the probed-cell literal (probes routed via the FROZEN
    * centroids) — q24m's pruning mechanism over the incrementally
    * maintained layout. */
  private[graft] def q24pPrunedCodes(s: SparkSession, dir: String): DataFrame = {
    val merged = q24pMergedCodes(s, dir)
    val cells = probedCells.computeIfAbsent(s"q24p|${Footers.cacheKey(s, dir)}",
      _ => probeMapOf(s, dir, q24pCent(s, dir)).select(col("plabel")).distinct()
        .collect().map(_.getInt(0)).sorted.toSeq)
    merged.filter(col("cell").isin(cells.map(Int.box): _*))
  }

  /** The NIGHTLY MARGINAL work of q24p in one frame: tonight's batch
    * PQ-encoded against the frozen codebook and routed to frozen cells —
    * what the append writes. Exposed for the growth probe
    * (Profile `ann_encode_batch`): its cost is the per-night update cost, measured
    * beside the from-scratch re-encode it replaces. */
  private[graft] def q24pBatchEncodeFrame(s: SparkSession, dir: String): DataFrame = {
    val a = q24pArtifacts(s, dir)
    pqAssign(pqSubvectors(batchBase(s, dir)), a.encCent)
      .select(col("vec_id"), col("m"), col("cid"))
      .join(q24pBatchCells(s, dir), Seq("vec_id"))
  }

  /** From-scratch twin of [[q24pMergedCodes]] for the parity spec: every
    * vector (history + batch) encoded in ONE pass against the same frozen
    * codebook, cells = history label ∪ batch routing. Pins that the
    * incremental append is bit-equal to a full re-encode — pqAssign is
    * per-row, so encoding the union must equal the union of encodings. */
  private[graft] def q24pFromScratchCodes(s: SparkSession, dir: String): DataFrame = {
    val a = q24pArtifacts(s, dir)
    val cells = histBase(s, dir).select(col("vec_id"), col("label").as("cell"))
      .unionByName(q24pBatchCells(s, dir))
    pqAssign(pqSubvectors(base(s, dir)), a.encCent)
      .select(col("vec_id"), col("m"), col("cid"))
      .join(cells, Seq("vec_id"))
  }

  /** The documented RETRAIN TRIGGER for q24p's frozen artifacts: q67's
    * embedding-drift monitor is the signal. A source whose batch NOVELTY
    * rate (1 − neardup_frac — the fraction of tonight's vectors with NO
    * semantic near-dup in the standing corpus) exceeds
    * [[RetrainNoveltyBar]] is shipping vectors the frozen coarse
    * centroids + PQ codebooks were never trained to represent; the
    * nightly append keeps the index CORRECT regardless (parity is exact
    * for any codebook), but quantization error — and with it recall —
    * degrades, so the operator rebuilds the q24p artifacts and re-encodes
    * when this frame is non-empty. Wiring pinned by spec. */
  private[graft] val RetrainNoveltyBar = 0.5
  private[graft] def q24pRetrainDue(s: SparkSession, dir: String): DataFrame =
    defs.find(_.name == "q67_embedding_drift").get.df(s, dir)
      .filter(lit(1.0) - col("neardup_frac") > RetrainNoveltyBar)
      .select(col("source"),
        round(lit(1.0) - col("neardup_frac"), 6).as("novelty_frac"))

  /** Parameterized IVF-PQ serving pair for the production-cell-count
    * crossover capture (VERDICT r10 #3 / tools.AnnCellScale). The demo
    * geometry behind q24l/q24m has 10 coarse cells and the 10-query set
    * probes 80–90% of them, so the partitioned read can never win at toy
    * scale; HERE cells come from k-means at `nCells` (64–256 — production
    * coarse-codebook sizes) with `probes` per query, making the probed
    * fraction ≤ 10% and the layout's I/O-proportionality measurable.
    * Returns the FLAT (q24l-shape: full codes scan ⋈ cell map ⋈ broadcast
    * probe) and CELL-PARTITIONED (q24m-shape: statically pruned scan of
    * codes laid out partitionBy(cell)) executions over the SAME codes,
    * codebooks, and probe map; both end in the shared ADC + shortlist +
    * exact re-rank, so their results are identical by construction (the
    * tool asserts it) and the delta is purely the candidate-generation
    * read path — the thing the layout changes. */
  private[graft] def ivfpqAtScale(s: SparkSession, dir: String,
                                  nCells: Int, probes: Int): (DataFrame, DataFrame) = {
    import VecFunctions.vecDot
    import org.apache.spark.sql.expressions.Window
    val asg = kmFinalAssignments(s, dir, nCells)
    val cellMap = asg.select(col("vec_id"), col("cid").as("cell"))
    val cent = Materialize(s, dir, s"xc_cent_k$nCells")(
      decimalCentroids(asg.select(col("cid"), col("embedding")), "cid")
        .withColumn("cnrm", sqrt(vecDot(col("cvec"), col("cvec")))))
    val qs = base(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"),
        col("nrm").as("qnrm"))
    val probe = broadcast(qs).crossJoin(broadcast(cent))
      .withColumn("csim",
        vecDot(col("cvec"), col("qemb")) / (col("cnrm") * col("qnrm")))
      .withColumn("pr",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("csim").desc, col("cid"))))
      .filter(col("pr") <= probes)
      .select(col("qid"), col("cid").as("plabel"))
    val (codes, qtab) = pqArtifacts(s, dir)
    val flat = codes
      .join(cellMap, Seq("vec_id"))
      .join(broadcast(probe), col("cell") === col("plabel"))
      .join(broadcast(qtab), Seq("qid", "m", "cid"))
      .select(col("qid"), col("vec_id"), col("m"), col("d"))
    // clustered write: one task (= one file set) per cell directory — the
    // layout a production writer produces; without the repartition the 32
    // shuffle tasks each spray rows into every probed dir and the
    // partitioned table's encoding (many tiny unsorted files) is unfairly
    // worse than the flat table's
    val byCell = Materialize.partitioned(s, dir, s"xc_codes_by_cell_k$nCells",
      Seq("cell"))(codes.join(cellMap, Seq("vec_id")).repartition(col("cell")))
    // probed-cell literal: ≤ nCells·probes router-metadata values
    val cells = probe.select(col("plabel")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val pruned = byCell.filter(col("cell").isin(cells.map(Long.box): _*))
      .join(broadcast(probe), col("cell") === col("plabel"))
      .join(broadcast(qtab), Seq("qid", "m", "cid"))
      .select(col("qid"), col("vec_id"), col("m"), col("d"))
    (pqAdcSearch(s, dir, flat), pqAdcSearch(s, dir, pruned))
  }
}
