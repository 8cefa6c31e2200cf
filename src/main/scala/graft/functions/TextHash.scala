package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable text hashing primitives for the dedup / fingerprint
  * operators (SURVEY.md §2.11 X1/X2): tokenization, shingling, MinHash,
  * SimHash, and a polynomial rolling-hash fingerprint.
  *
  * Every primitive exists twice — as a Spark `Column` expression and as a
  * DuckDB SQL fragment generated from the *same constants* — because the
  * correctness gate hash-compares engine output against DuckDB. The only
  * portable hash both engines share is `md5`, so hashing bottoms out in one
  * md5 per token/shingle whose leading 8 hex digits become a 32-bit BIGINT
  * (Spark `conv`, DuckDB `'0x…'::BIGINT` — both single codegen-friendly
  * ops). Everything downstream (MinHash permutations, SimHash bit votes,
  * LSH band keys, rolling fingerprints) is exact 64-bit integer arithmetic,
  * bit-identical across engines and cheap: k MinHash slots cost k integer
  * multiply-adds per shingle, not k md5 calls.
  *
  * Scale notes: all of this is per-row expression work over the document's
  * own token array — narrow plan, no shuffle, no UDFs (higher-order
  * functions evaluate as JVM expressions on executors) — so signature
  * computation rides the scan and parallelizes with it at 100 TB.
  */
object TextHash {

  /** MinHash signature length. */
  val MinhashK = 16

  /** LSH banding: Bands × RowsPerBand == MinhashK. r=2 keeps the collision
    * probability 1-(1-j^2)^8 high for moderately similar docs (≥0.79 at
    * j=0.5) while random pairs (j≈0.001 on testdata) never collide. */
  val Bands = 8
  val RowsPerBand = 2

  /** Word-shingle width for MinHash. */
  val ShingleN = 3

  /** Character n-gram width for the n-gram Jaccard dedup variant. */
  val CharGramN = 4

  /** Mersenne-ish modulus for all integer mixing (fits: A < 2^30, h < 2^32
    * ⇒ A*h + B < 2^62, no 64-bit overflow in either engine). */
  val Mod = 2147483647L

  /** MinHash permutation constants, derived from Knuth/xxhash multipliers —
    * emitted as literals into both the Column and SQL forms. */
  def permA(s: Int): Long = (2654435761L * (s + 1)) % 1073741789L + 1
  def permB(s: Int): Long = (2246822519L * (s + 1)) % Mod

  /** Rolling-hash fingerprint multiplier (acc < Mod ⇒ acc*FpMult + 2^32
    * < 2^52, exact in both engines). */
  val FpMult = 1000003L

  // -----------------------------------------------------------------------
  // Tokenization / shingling
  // -----------------------------------------------------------------------

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def sqlTokens(text: String): String =
    s"regexp_split_to_array(trim($text), '\\s+')"

  /** Word n-shingles: shingle i = tokens i..i+n-1 joined by one space.
    * Docs shorter than n yield one (shorter) shingle — `concat_ws` skips the
    * NULLs that `try_element_at` returns past the end, identically to
    * DuckDB's NULL-skipping `concat_ws` over out-of-range list indexes.
    *
    * PERF: pass `toks` as a *bound attribute* (`.as("toks")` in a prior
    * select), not a raw `split(...)` expression — the lambda body re-runs
    * its argument expression per element, so an inlined split would execute
    * n× per shingle. */
  def shingles(toks: Column, n: Int = ShingleN): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", (0 until n).map(j => try_element_at(toks, i + lit(j))): _*))

  /** `toks` must be a simple column reference (it is repeated n times). */
  def sqlShingles(toks: String, n: Int = ShingleN): String = {
    val parts = (0 until n).map(j => s"$toks[i+$j]").mkString(", ")
    s"list_transform(generate_series(1, greatest(len($toks)-${n - 1}, 1)), " +
      s"i -> concat_ws(' ', $parts))"
  }

  /** Character n-grams of the raw text, as DuckDB SQL; `stride` > 1 gives
    * the w-shingling variant (overlapping windows every `stride` chars —
    * ~1/stride the grams with near-identical pair discrimination). */
  def sqlCharGrams(text: String, n: Int = CharGramN, stride: Int = 1): String =
    s"list_transform(generate_series(1, greatest(length($text)-${n - 1}, 1), $stride), " +
      s"i -> substring($text, i, $n))"

  // -----------------------------------------------------------------------
  // Portable 32-bit hash (one md5 per input value)
  // -----------------------------------------------------------------------

  /** First 8 md5 hex digits as a BIGINT in [0, 2^32). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  def sqlHash32(c: String): String =
    s"concat('0x', substring(md5($c), 1, 8))::BIGINT"

  /** First 15 md5 hex digits as a BIGINT in [0, 2^60) — the wide variant
    * for fingerprints that key a global equality (duplicated-substring
    * windows): at 2^60 the birthday collision odds stay negligible at
    * corpus scale where 32 bits would already collide at ~10^5 windows. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  def sqlHash60(c: String): String =
    s"concat('0x', substring(md5($c), 1, 15))::BIGINT"

  /** Hash every element of a string array.
    *
    * No engine query calls this Column form ([[DocSignature]] computes
    * it); `DocSignatureSpec` and the perfbench `functions.*` probes do. */
  def hashArray(arr: Column): Column = transform(arr, hash32(_))

  def sqlHashArray(arr: String): String =
    s"list_transform($arr, v -> ${sqlHash32("v")})"

  // -----------------------------------------------------------------------
  // MinHash + LSH banding (over a pre-hashed BIGINT array)
  // -----------------------------------------------------------------------

  /** k-slot MinHash signature over hashed shingles: slot s =
    * min over h of (A_s*h + B_s) mod Mod.
    *
    * No engine query calls this Column form ([[DocSignature]] computes
    * it); `DocSignatureSpec` and the perfbench `functions.*` probes do. */
  def minhashSig(hashes: Column, k: Int = MinhashK): Column =
    array((0 until k).map { s =>
      array_min(transform(hashes, h => (h * permA(s) + permB(s)) % Mod))
    }: _*)

  def sqlMinhashSig(hashes: String, k: Int = MinhashK): String =
    (0 until k)
      .map(s => s"list_min(list_transform($hashes, h -> (h*${permA(s)} + ${permB(s)}) % $Mod))")
      .mkString("[", ", ", "]")

  /** Band keys for LSH: band j (0-based) = polynomial combine of the j-th
    * r-slot slice. Docs sharing any (band, key) are candidate pairs. */
  def lshBandKeys(sig: Column, bands: Int = Bands, r: Int = RowsPerBand): Column =
    array((0 until bands).map { j =>
      (1 to r)
        .map(i => try_element_at(sig, lit(j * r + i)))
        .reduce((acc, x) => (acc * 8191L + x) % Mod)
    }: _*)

  def sqlLshBandKeys(sig: String, bands: Int = Bands, r: Int = RowsPerBand): String =
    (0 until bands)
      .map { j =>
        (1 to r)
          .map(i => s"$sig[${j * r + i}]")
          .reduce((acc, x) => s"(($acc)*8191 + $x) % $Mod")
      }
      .mkString("[", ", ", "]")

  /** Estimated Jaccard from two k-slot signatures: matching slots / k. */
  def estJaccard(a: Column, b: Column, k: Int = MinhashK): Column =
    aggregate(
      sequence(lit(1), lit(k)),
      lit(0L),
      (acc, i) => acc + when(try_element_at(a, i) === try_element_at(b, i), 1L).otherwise(0L)
    ).cast("double") / k

  def sqlEstJaccard(a: String, b: String, k: Int = MinhashK): String =
    s"(list_sum(list_transform(generate_series(1, $k), " +
      s"i -> CASE WHEN $a[i] = $b[i] THEN 1 ELSE 0 END))::DOUBLE / $k)"

  /** Exact Jaccard of two (deduped) element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  def sqlJaccard(a: String, b: String): String =
    s"(len(list_intersect($a, $b))::DOUBLE / len(list_distinct(list_concat($a, $b))))"

  // -----------------------------------------------------------------------
  // SimHash (16-bit, token-frequency weighted, over pre-hashed tokens)
  // -----------------------------------------------------------------------

  /** 16-bit SimHash over hashed tokens: output bit b is set iff the +1/-1
    * vote over tokens for bit b of the token hash sums positive. Bit test is
    * pure modular arithmetic (h % 2^(b+1) >= 2^b) so both engines agree
    * without shift operators.
    *
    * No engine query calls this Column form ([[DocSignature]] computes
    * it); `DocSignatureSpec` and the perfbench `functions.*` probes do. */
  def simhash16(hashes: Column): Column =
    (0 until 16)
      .map { b =>
        val p = 1L << b
        val p2 = 2L * p
        when(
          aggregate(hashes, lit(0L),
            (acc, h) => acc + when(h % p2 >= p, 1L).otherwise(-1L)) > 0,
          lit(p)).otherwise(lit(0L))
      }
      .reduce(_ + _)

  def sqlSimhash16(hashes: String): String =
    (0 until 16)
      .map { b =>
        val p = 1L << b
        val p2 = 2L * p
        s"(CASE WHEN list_sum(list_transform($hashes, " +
          s"x -> CASE WHEN x % $p2 >= $p THEN 1 ELSE -1 END)) > 0 THEN $p ELSE 0 END)"
      }
      .mkString("(", " + ", ")")

  /** Hamming distance between two small non-negative ints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  def sqlHamming(a: String, b: String): String = s"bit_count(xor($a, $b))"

  // -----------------------------------------------------------------------
  // Content-defined chunking (rolling-window boundary rule)
  // -----------------------------------------------------------------------

  /** CDC boundary rule: a chunk boundary lands after byte position p iff the
    * Horner hash (base CdcB mod Mod) of the CdcW-byte window ending at p is
    * ≡ 0 (mod CdcDiv) — expected chunk length ≈ CdcDiv bytes. Boundaries
    * depend only on the local window, so an insertion re-aligns at most the
    * chunks that straddle the edit; every boundary downstream of it
    * re-synchronizes because the window CONTENT at the old boundary is
    * unchanged. Fixed-stride framing (q26c) shifts every later frame
    * instead. No max-chunk cap here: a divisor-unlucky doc degrades to one
    * whole-doc chunk (still correct — recall falls back to exact-dup, never
    * wrong pairs); production adds a cap by forcing a boundary every
    * MaxChunk bytes.
    *
    * Deliberately INTEGER hashing, not [[hash32]]: CDC evaluates a window
    * hash at every byte position, and an md5 per position is ~40 µs
    * interpreted (measured; see [[CdcChunkFps]]) — the engine side runs the
    * whole rule in one codegen'd pass ([[CdcChunkFps.compute]]), and these
    * SQL fragments replay the identical 64-bit arithmetic over the UTF-8
    * BYTE array (exact: acc < 2^31, acc*CdcB + 255 < 2^40, acc*FpMult
    * + 255 < 2^52 — no overflow in either engine). */
  val CdcW = 8
  val CdcDiv = 64L

  /** Window-hash Horner base (any small prime > 255 mixes bytes). */
  val CdcB = 257L

  /** UTF-8 BYTE values of the text, extracted from its hex encoding —
    * DuckDB 1.0 has no blob byte indexing, but `hex(encode(text))` round-
    * trips every byte as two hex digits and `strpos` decodes them exactly
    * (16·hi + lo). This makes the oracle fold the SAME values the engine's
    * [[CdcChunkFps]] folds on ANY input, multibyte included (VERDICT r10
    * #5 — previously an `ascii()` codepoint array, identical to bytes only
    * on pure-ASCII corpora). `hx` must be a simple column reference holding
    * `upper(hex(encode(text)))` and `n` one holding
    * `octet_length(encode(text))`. */
  def sqlCdcCodes(hx: String, n: String): String =
    s"list_transform(generate_series(1, $n), i -> CAST(" +
      s"strpos('0123456789ABCDEF', substring($hx, 2*i-1, 1)) * 16 + " +
      s"strpos('0123456789ABCDEF', substring($hx, 2*i, 1)) - 17 AS BIGINT))"

  /** Boundary positions (1-based byte index of each chunk's last byte),
    * strictly inside the text. `codes`/`n` must be simple column references
    * holding [[sqlCdcCodes]] and `octet_length(encode(text))`. */
  def sqlCdcBoundaries(codes: String, n: String): String =
    s"list_filter(generate_series($CdcW, greatest($n, $CdcW)), " +
      s"i -> i < $n AND list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"$codes[i-${CdcW - 1}:i]), (a, x) -> (a*$CdcB + x) % $Mod) % $CdcDiv = 0)"

  /** Distinct fingerprints of the chunks delimited by `bnds`: chunk j spans
    * (prev boundary + 1) .. boundary j, the last chunk runs to end-of-text;
    * fingerprint = Horner fold base [[FpMult]] mod [[Mod]] (the empty
    * string folds to 0 — one empty chunk, same as the engine side).
    * `codes`, `n`, `bnds` must be simple column references. */
  def sqlCdcChunkFps(codes: String, n: String, bnds: String): String = {
    val start = s"CASE WHEN j = 1 THEN 1 ELSE $bnds[j-1] + 1 END"
    val stop = s"CASE WHEN j = len($bnds) + 1 THEN $n ELSE $bnds[j] END"
    s"list_distinct(list_transform(generate_series(1, len($bnds) + 1), j -> " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes[($start):($stop)]), " +
      s"(a, x) -> (a*$FpMult + x) % $Mod)))"
  }

  // -----------------------------------------------------------------------
  // Rolling-hash document fingerprint
  // -----------------------------------------------------------------------

  /** Order-sensitive polynomial fingerprint over hashed tokens:
    * acc = (acc * FpMult + h) % Mod. Two docs share a fingerprint iff their
    * token *sequences* (not just sets) collide. */
  def fingerprint(hashes: Column): Column =
    aggregate(hashes, lit(0L), (acc, h) => (acc * FpMult + h) % Mod)

  def sqlFingerprint(hashes: String): String =
    s"list_reduce(list_prepend(0::BIGINT, $hashes), (a, b) -> (a*$FpMult + b) % $Mod)"
}
