package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFiles

/** Session factory for the engine.
  *
  * Scale stance (designed for a multi-executor cluster, tested on local[N]):
  *   - AQE on: runtime join-strategy switching, skew-join splitting,
  *     partition coalescing replace any hand-tuned per-query plans.
  *   - shuffle.partitions sized to the local core count here; on a real
  *     cluster this is expected to be overridden (or left to AQE coalescing
  *     from a high initial value).
  *   - UTC session timezone: required for oracle parity and the only sane
  *     choice for a 100 TB event store.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)

  /** The languages whose default-locale case mapping differs from the
    * root locale's — the JDK's own list (String.toLowerCase/toUpperCase
    * special-case exactly these: dotted and dotless i in Turkish and
    * Azeri, the combining dot above in Lithuanian). */
  private val CaseChangingLanguages = Set("tr", "az", "lt")

  /** Refuses a JVM whose default locale changes case mapping. With ICU
    * off (below), Spark's lower/upper on non-ASCII text call
    * String.toLowerCase()/toUpperCase() under the JVM's DEFAULT locale
    * (UTF8String.toLowerCaseSlow), so under tr, az or lt they map I/i
    * differently from DuckDB, the oracle: a silent misread, refused here
    * instead (CaseMappingSpec). */
  private def requireCaseNeutralLocale(): Unit = {
    val l = java.util.Locale.getDefault
    if (CaseChangingLanguages(l.getLanguage))
      throw new IllegalStateException(
        s"default locale ${l.toLanguageTag} changes lower/upper case mapping (I/i), " +
          "so queries would not match the oracle; start the JVM with a " +
          "case-neutral language, e.g. -Duser.language=en")
  }

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder = {
    requireCaseNeutralLocale()
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // static conf: the default 100-entry whole-stage-codegen cache
      // thrashes under this engine's 110-query workload (several hundred
      // distinct codegen stages), forcing repeated janino recompiles —
      // measured 104→78 s on the warm bench suite. Sized to the workload,
      // as a long-running cluster would.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // static conf: the codegen cache above is keyed by (context class
      // loader, source), and per-session artifact isolation (Spark's
      // default) gives every session — and every streaming query, which
      // runs on a clone of its session — its own executor class loader, so
      // no compiled class is reused across sessions or queries (a warm
      // benchmark pass in a fresh session recompiles all 65-66 of its
      // classes). The engine adds no session-scoped jars or files, so the
      // isolation buys nothing; off, every session shares one loader and
      // one cache (CodegenReuseSpec).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // lower/upper through the JVM's Unicode tables, not ICU. With ICU
      // (Spark 4's default) the first lower/upper call runs
      // CollationAwareUTF8String.<clinit>, which fills initcap's one-to-many
      // title-case table by calling ICU's toTitleCase on all 1,114,112 code
      // points: about 2 s of CPU once per JVM, in every cold pass (q22's
      // cold task CPU at sf0.01 fell 3286 -> 1240 ms on a 4-vCPU VM). No
      // engine query calls initcap. Off, lower/upper are UTF8String.toLowerCase/
      // toUpperCase (an ASCII fast path, then String's). Over every Unicode
      // scalar value the two differ on 67 code points each, all added or
      // given a case partner in Unicode 14-16, newer than JDK 17's tables;
      // against DuckDB, the oracle, ICU differs on 71 (lower) and 172
      // (upper), the JVM on 4 and 105, and on no code point does ICU match
      // DuckDB where the JVM does not (tools/case_sweep.py, BASELINE.md
      // "Case mapping on the JVM"; CaseMappingSpec).
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // Two per-stage buffers sized for the data, not for a cluster
      // executor. TorrentBroadcast allocates one whole block (4 MiB by
      // default) for every broadcast, even a 5 KB one, and every stage's
      // task binary, every parquet scan's Hadoop conf and every broadcast
      // join is broadcast. Tungsten's page defaults to executor memory /
      // cores / 16 (32 MiB on a 2 GiB heap), and every hash aggregate,
      // fast hash map and sort task takes one page on its first insert.
      // On G1 each of those is a humongous allocation (at least half a
      // region; regions are 1 MiB at heaps below 4 GiB), and that churn,
      // not retained data, set peak RSS. 256 KiB is under half of G1's
      // smallest region, so a broadcast chunk is never humongous; a large
      // broadcast gets more pieces. 1 MiB is Spark's own page floor; a
      // record larger than a page still gets a page of its size, and the
      // 8,192-entry page table caps one task at 8 GiB. No query's plan,
      // output or spill changes. Measured on perfbench's curation_night
      // (2 GiB heap, local[2], one run): allocations of at least 512 KiB
      // fell 3,696 -> 663 MB (JFR jdk.ObjectAllocationOutsideTLAB), and
      // humongous regions before a young GC from a mean of 409 to 109;
      // median peak RSS over 10 runs fell 1,853 -> 1,281 MB
      // (BufferSizingSpec; BASELINE.md "Cluster-sized buffers off the
      // humongous path").
      .config("spark.broadcast.blockSize", "256k")
      .config("spark.buffer.pageSize", "1m")
      // file: through graft.sources.LocalFiles, Hadoop's local filesystem
      // with its two forking calls on java.nio. Hadoop runs without
      // libhadoop here, so stock RawLocalFileSystem forks `chmod` after
      // every create and mkdirs and `readlink` twice per FileContext
      // rename, each with a process reaper and a stderr reader thread:
      // 5,110 process starts in one clickstream_ingest run (the offset,
      // commit, state-delta and sink logs of every micro-batch), 41 with
      // this binding (Spark's own `rm -rf` of each collected session's
      // artifact dir, and two start-up probes). The checksum layers (.crc
      // written and verified), Spark's checkpoint manager and its atomic
      // rename, and every other scheme are stock (LocalFilesSpec;
      // BASELINE.md "Local files without forks").
      .config("spark.hadoop.fs.file.impl", classOf[LocalFiles.Checksummed].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFiles.Context].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      // events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
      // type, so read as long and convert in the loader (Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // File-open cost model sized to the storage medium (round 16): the
      // 4 MB default models remote object stores; on this host artifacts
      // live on tmpfs/NVMe where an open is ~free, and the default
      // bin-packs a 32-file artifact table into 1-2 scan splits, undoing
      // the spread-on-write layout. Parameterized: a deployment on S3/GCS
      // sets SPARK_GRAFT_OPEN_COST back to 4194304.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", "131072"))
      .config("spark.ui.enabled", "false")
  }

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
