package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench regression tripwire (VERDICT r8 #5): the min(mid,warm)
  * reporting protocol must not be able to silently absorb a query that is
  * elevated in BOTH post-JIT passes. Pure-function tests — the tripwire's
  * value is its logic, not a Spark run. */
class BenchTripwireSpec extends AnyFunSuite {

  test("parseQueriesJson extracts the per-query map from a bench line") {
    val line =
      """{"metric":"total","value":61.606,"unit":"sec","queries":{"q01":0.797,""" +
        """"q10":1.649,"q23e":0.443},"cold_total":186.1,"failed":[],"sf":"x"}"""
    val m = Bench.parseQueriesJson(line)
    assert(m === Map("q01" -> 0.797, "q10" -> 1.649, "q23e" -> 0.443))
  }

  test("parseQueriesJson is empty on a line without a queries object") {
    assert(Bench.parseQueriesJson("""{"metric":"total","value":1.0}""") === Map.empty)
  }

  test("flags a query elevated >1.5x AND >0.3s over its reference row") {
    val ref = Map("q10" -> 1.0, "q20b" -> 2.0)
    val rep = Map("q10" -> 1.8, "q20b" -> 2.1)
    assert(Bench.tripwire(rep, ref) === Seq("q10"))
  }

  test("the absolute floor suppresses noise-floor ratios (r8's q23e case)") {
    // 0.443 -> 0.712 is 1.61x but only a 0.27s delta: noise, not regression
    val ref = Map("q23e" -> 0.443)
    assert(Bench.tripwire(Map("q23e" -> 0.712), ref) === Seq.empty)
    // same ratio on a row big enough to matter IS flagged
    assert(Bench.tripwire(Map("q23e" -> 7.12), Map("q23e" -> 4.43)) === Seq("q23e"))
  }

  test("queries new this round (absent from reference) are skipped, not flagged") {
    assert(Bench.tripwire(Map("q99" -> 30.0), Map("q10" -> 1.0)) === Seq.empty)
  }

  test("failed passes (-1) never trip, in report or reference") {
    assert(Bench.tripwire(Map("q10" -> -1.0), Map("q10" -> 1.0)) === Seq.empty)
    assert(Bench.tripwire(Map("q10" -> 5.0), Map("q10" -> -1.0)) === Seq.empty)
  }

  test("capture parsers tolerate pretty-printed JSON (round-11 doctored-ref smoke)") {
    // a reference file round-tripped through python json.dumps gains
    // ": "/", " separators; the strict parsers read such a file as EMPTY —
    // silently disabling the tripwire — which is exactly what the first
    // doctored-reference smoke run did
    val pretty = """{"metric": "total", "value": 9.1, "unit": "sec", """ +
      """"queries": {"q22": 0.05, "q23b": 0.077}, "sf": "sf0.01"}"""
    assert(Bench.parseQueriesJson(pretty) === Map("q22" -> 0.05, "q23b" -> 0.077))
    assert(Bench.parseSfField(pretty) === "sf0.01")
    // and the compact form Bench itself emits still parses identically
    val compact = """{"metric":"total","queries":{"q22":0.05,"q23b":0.077},"sf":"sf0.01"}"""
    assert(Bench.parseQueriesJson(compact) === Map("q22" -> 0.05, "q23b" -> 0.077))
    assert(Bench.parseSfField(compact) === "sf0.01")
  }

  test("parseQueriesJson handles a newline-indented capture file (ADVICE r11)") {
    // json.dumps(indent=2) puts each entry on its own line; the tripwire
    // reads reference.json as one raw string, so the scan must cross
    // newlines — the queries object is flat, so its first '}' still closes it
    val indented = Seq(
      "{", "  \"metric\": \"total\",", "  \"queries\": {",
      "    \"q22\": 0.05,", "    \"q23b\": 0.077", "  },",
      "  \"sf\": \"sf0.01\"", "}").mkString("\n")
    assert(Bench.parseQueriesJson(indented) === Map("q22" -> 0.05, "q23b" -> 0.077))
    assert(Bench.parseSfField(indented) === "sf0.01")
  }

  test("the pinned bench/reference.json parses to a full per-query map") {
    val p = java.nio.file.Paths.get("bench/reference.json")
    assume(java.nio.file.Files.exists(p))
    val m = Bench.parseQueriesJson(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    assert(m.size > 100, s"reference capture should cover the suite, got ${m.size}")
    assert(m.values.forall(_ >= 0))
  }

  test("the reference capture declares its scale factor (the tripwire's SF guard reads it)") {
    // a growth run at x10/x20 data must not be compared against the sf0.1
    // reference — the guard keys off this field, so it must be present
    val p = java.nio.file.Paths.get("bench/reference.json")
    assume(java.nio.file.Files.exists(p))
    val raw = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // since round 11 the line carries the SCALE TOKEN, not the full path;
    // the guard normalizes both forms through scaleToken, so pin the token
    assert(Bench.scaleToken(Bench.parseSfField(raw)) === "sf0.1")
    assert(Bench.parseSfField("""{"queries":{}}""") === "")
    assert(Bench.parseSfField("""{"sf":"/tmp/sfx10"}""") === "/tmp/sfx10")
  }

  test("parseSfField reads the TRAILING sf field, not an embedded byte match (ADVICE r9)") {
    // a failure message or query name containing the byte sequence must not
    // shadow the real trailing top-level field
    val line = """{"failed":["oops \"sf\":\"bogus\" inline"],"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseSfField(line) === "/root/testdata/sf0.1")
  }

  test("scale guard compares the trailing path token, not the raw path (ADVICE r9)") {
    assert(Bench.scaleToken("/root/testdata/sf0.1") === "sf0.1")
    assert(Bench.scaleToken("/mnt/moved/testdata/sf0.1/") === "sf0.1")
    assert(Bench.scaleToken("/root/testdata/sfx10") === "sfx10")
    // same scale under a moved root compares equal; different scales do not
    assert(Bench.scaleToken("/a/sf0.1") === Bench.scaleToken("/b/sf0.1"))
    assert(Bench.scaleToken("/a/sf0.1") !== Bench.scaleToken("/a/sfx10"))
  }

  // --- tripwire self-adjudication (VERDICT r9 #1) ---

  private val metricsDump =
    """{"cpus":32,"cols":["ms","shuffle_write_b","task_cpu_ms"],""" +
      """"tripwire_ratios":{},"cold":{"q33":[1510,3000000,1400]},""" +
      """"mid":{"q33":[510,3000000,480],"q34":[250,94000,230]},""" +
      """"warm":{"q33":[530,3000000,500],"q34":[260,94000,240]},""" +
      """"sf":"/root/testdata/sf0.1"}"""

  test("parseMetricsPass extracts per-query rows; parseColsField names the columns") {
    assert(Bench.parseColsField(metricsDump) === Seq("ms", "shuffle_write_b", "task_cpu_ms"))
    val warm = Bench.parseMetricsPass(metricsDump, "warm")
    assert(warm.keySet === Set("q33", "q34"))
    assert(warm("q33").toSeq === Seq(530L, 3000000L, 500L))
    assert(Bench.parseMetricsPass(metricsDump, "nope") === Map.empty)
  }

  private def row(ms: Long, bytes: Long, cpu: Long, run: Long,
      spill: Long = 0, gc: Long = 0, janino: Long = 0, load: Long = 3100): Map[String, Long] =
    Map("ms" -> ms, "shuffle_write_b" -> bytes, "task_cpu_ms" -> cpu,
      "task_run_ms" -> run, "spill_mem_b" -> spill, "spill_disk_b" -> 0L,
      "task_gc_ms" -> gc, "janino_compiles" -> janino, "load_x100" -> load)

  test("classifyTrip: grown shuffle bytes => plan") {
    val ref = row(ms = 500, bytes = 3L << 20, cpu = 480, run = 500)
    val cur = row(ms = 1600, bytes = 9L << 20, cpu = 1500, run = 1550)
    assert(Bench.classifyTrip(cur, ref, 32) === "plan")
  }

  test("classifyTrip: spill / warm recompile / heavy task GC => jvm") {
    val ref = row(ms = 500, bytes = 3L << 20, cpu = 480, run = 500)
    assert(Bench.classifyTrip(row(1600, 3L << 20, 1500, 1550, spill = 1L << 26), ref, 32) === "jvm")
    assert(Bench.classifyTrip(row(1600, 3L << 20, 1500, 1550, janino = 2), ref, 32) === "jvm")
    assert(Bench.classifyTrip(row(1600, 3L << 20, 1500, 1550, gc = 400), ref, 32) === "jvm")
  }

  test("classifyTrip: wall grew but CPU work did not (descheduled / out-of-task) => env") {
    val ref = row(ms = 250, bytes = 94000, cpu = 230, run = 250)
    // r9's q34 signature: 1.12s wall carrying 0.62s task time, cpu ~flat
    assert(Bench.classifyTrip(row(1120, 94000, 240, 620), ref, 32) === "env")
    // run >> cpu mid-task: threads descheduled by host contention
    assert(Bench.classifyTrip(row(1120, 94000, 900, 2500), ref, 32) === "env")
  }

  test("classifyTrip: CPU grown at equal bytes, clean counters => cpi (rerun adjudicates)") {
    // r9's q33 signature: cpu ≈ run BOTH inflated, bytes at reference, no
    // spill/GC/recompiles — ambiguous, sent to bench/rerun_tripped.sh
    val ref = row(ms = 510, bytes = 3L << 20, cpu = 480, run = 510)
    assert(Bench.classifyTrip(row(1620, 3L << 20, 1550, 1600), ref, 32) === "cpi")
    // same signature with host load far above our 32 threads: env
    assert(Bench.classifyTrip(row(1620, 3L << 20, 1550, 1600, load = 5200), ref, 32) === "env")
  }

  test("classifyTrip: missing reference row => noref; missing current row => nocur") {
    assert(Bench.classifyTrip(row(1620, 3L << 20, 1550, 1600), Map.empty, 32) === "noref")
    // ADVICE r10: a missing CURRENT row is a distinct condition — an
    // operator hunting a missing reference capture would never find it
    assert(Bench.classifyTrip(Map.empty, row(510, 3L << 20, 480, 510), 32) === "nocur")
  }

  // --- adjudicateRerun: the secondary (post-fresh-JVM) verdict ------------

  private def taskRow(bytes: Long, tasks: Long, cpu: Long): Map[String, Long] =
    Map("shuffle_write_b" -> bytes, "tasks" -> tasks, "task_cpu_ms" -> cpu)

  test("adjudicateRerun: reproduced at reference (after scalar) => env") {
    // child got 1.3s under a 1.4x window; ref 0.9 — normalized 0.93, clean
    assert(Bench.adjudicateRerun(1.3, 1.4, 0.9, 2.5,
      taskRow(2L << 20, 200, 6000), taskRow(2L << 20, 200, 2800), 1.0) === ">env")
  }

  test("adjudicateRerun: still elevated with GROWN bytes or tasks => plan") {
    // bytes doubled vs the reference row: plan genuinely moves more data
    assert(Bench.adjudicateRerun(3.2, 1.0, 0.9, 2.5,
      taskRow(8L << 20, 200, 12000), taskRow(2L << 20, 200, 2800), 2.0) === ">plan")
    // same bytes but task count exploded (layout/partitioning change)
    assert(Bench.adjudicateRerun(3.2, 1.0, 0.9, 2.5,
      taskRow(2L << 20, 800, 12000), taskRow(2L << 20, 200, 2800), 2.0) === ">plan")
  }

  test("adjudicateRerun: r11's q36e case — identical shape, CPU inside the window envelope => cpi") {
    // the round-11 misfire: child 3.2s vs ref 0.92 survived the light-
    // controls wall scalar (1.17) — but its bytes and tasks matched the
    // reference row exactly and its 2.5x CPU sat inside the CPU-dense
    // controls' measured inflation (2.2x * 1.4 headroom)
    assert(Bench.adjudicateRerun(3.2, 1.17, 0.92, 2.53,
      taskRow(2490219, 200, 7000), taskRow(2520363, 201, 2800), 2.2) === ">cpi")
  }

  test("adjudicateRerun: identical shape but CPU beyond the envelope => plan") {
    // same bytes, 6x CPU under a host window of only 1.1x: an expression-
    // level code regression, not the window — and the compile counters
    // are clean, so the recompile exoneration must NOT fire
    assert(Bench.adjudicateRerun(3.2, 1.0, 0.9, 2.5,
      taskRow(2L << 20, 200, 17000), taskRow(2L << 20, 200, 2800), 1.1) === ">plan")
  }

  test("adjudicateRerun: r12's q44 case — identical shape, CPU elevated by recompiles => jit") {
    // VERDICT r12 #2: shape byte- and task-identical, CPU beyond the
    // envelope, but the elevated row carries janino recompiles and CPU net
    // of its jit_ms charge falls back inside the envelope — generated-
    // class/JIT cache churn, not a plan regression
    val child = taskRow(6191386, 13, 8300) ++
      Map("janino_compiles" -> 9L, "jit_ms" -> 2100L)
    assert(Bench.adjudicateRerun(2.4, 1.0, 0.94, 2.47,
      child, taskRow(6191386, 13, 3600), 1.2) === ">jit")
    // the same row WITHOUT recompiles stays a plan verdict: nothing to
    // exonerate the extra CPU with
    assert(Bench.adjudicateRerun(2.4, 1.0, 0.94, 2.47,
      taskRow(6191386, 13, 8300) ++ Map("jit_ms" -> 2100L),
      taskRow(6191386, 13, 3600), 1.2) === ">plan")
    // recompiles present but CPU-net-of-jit STILL beyond the envelope:
    // the recompiles do not account for the elevation => plan
    assert(Bench.adjudicateRerun(2.4, 1.0, 0.94, 2.47,
      taskRow(6191386, 13, 17000) ++
        Map("janino_compiles" -> 9L, "jit_ms" -> 2100L),
      taskRow(6191386, 13, 3600), 1.2) === ">plan")
  }

  test("adjudicateRerun: missing metrics rows degrade to the wall-only rule (plan)") {
    assert(Bench.adjudicateRerun(3.2, 1.0, 0.9, 2.5,
      Map.empty, Map.empty, 1.0) === ">plan")
  }

  test("bestPassRows picks each query's better post-JIT pass as named columns") {
    val raw =
      """{"cols":["ms","shuffle_write_b"],""" +
        """"cold":{"qa":[9000,7]},""" +
        """"mid":{"qa":[1500,7],"qb":[400,9]},""" +
        """"warm":{"qa":[1200,7],"qb":[700,9]}}"""
    val rows = Bench.bestPassRows(raw)
    assert(rows("qa") === Map("ms" -> 1200L, "shuffle_write_b" -> 7L))
    assert(rows("qb") === Map("ms" -> 400L, "shuffle_write_b" -> 9L))
  }

  test("inline bench-line membership ranks by the reference, so swapped times near the cut keep the set") {
    val ref = Map("q01" -> 5.0, "q02" -> 4.0, "q03" -> 3.0, "q04" -> 2.0)
    val keys = Seq("q01", "q02", "q03", "q04", "q05")
    val runA = Map("q01" -> 5.0, "q02" -> 4.0, "q03" -> 2.9, "q04" -> 3.1, "q05" -> 0.1)
    val runB = runA ++ Map("q03" -> 3.1, "q04" -> 2.9)
    // ranking by this run's own times would swap q03/q04 across a cut of 3
    assert(keys.sortBy(k => -runA(k)).take(3).toSet !== keys.sortBy(k => -runB(k)).take(3).toSet)
    val cutA = Bench.slowestFirst(keys, runA, ref).take(3)
    assert(cutA.toSet === Set("q01", "q02", "q03"))
    assert(Bench.slowestFirst(keys, runB, ref).take(3).toSet === cutA.toSet)
    // a key with no reference row ranks by this run's figure
    assert(Bench.slowestFirst(keys, runA ++ Map("q05" -> 4.5), ref).take(2) === Seq("q01", "q05"))
  }

  test("measure rows carry every named column, input bytes appended last") {
    assert(Bench.cols.take(14) === Seq("ms", "shuffle_write_b", "shuffle_read_b",
      "spill_mem_b", "spill_disk_b", "task_gc_ms", "task_run_ms", "tasks",
      "task_cpu_ms", "driver_gc_ms", "proc_cpu_ms", "load_x100", "jit_ms", "janino_compiles"))
    assert(Bench.cols.last === "input_b")
  }
}
