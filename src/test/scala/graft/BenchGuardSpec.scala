package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench outlier guard (r15 verdict #1): three rounds running,
  * same-code bench records disagreed per-query by up to 55x (x35 0.42
  * vs 23.04 s) because min-of-3 still loses when every rep lands in a
  * contended window. The guard compares each query's min against the
  * prior committed record and re-runs bounded retries; these tests pin
  * the two pure pieces — the baseline parser over the exact
  * BENCH_FULL.json layout Bench writes, and the anomaly rule's
  * boundaries (3x AND +1 s absolute; failures never retried).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("parseBaseline reads the queries object of a BENCH_FULL record") {
    val json = """{"metric":"total","value":204.7,"unit":"sec",""" +
      """"queries":{"q1_revenue_by_month":0.412,"x35_cdc_apply":0.42,""" +
      """"x58_betweenness":14.22},"flaky":[],"full":"/x.json",""" +
      """"sf":"/root/testdata/sf0.1","reps":3,""" +
      """"samples":{"q1_revenue_by_month":[0.5,0.412,0.6]}}"""
    val b = Bench.parseBaseline(json)
    assert(b === Map("q1_revenue_by_month" -> 0.412,
      "x35_cdc_apply" -> 0.42, "x58_betweenness" -> 14.22))
  }

  test("parseBaseline is tolerant of junk") {
    assert(Bench.parseBaseline("") === Map.empty)
    assert(Bench.parseBaseline("{\"metric\":\"total\"}") === Map.empty)
    assert(Bench.parseBaseline("not json at all") === Map.empty)
    // unparseable value drops that key only
    val b = Bench.parseBaseline("""{"queries":{"a":1.5,"b":oops}}""")
    assert(b === Map("a" -> 1.5))
  }

  test("anomaly rule: both 3x and +1s absolute must hold") {
    // the x35 case: 23.04 vs 0.42 committed — anomalous
    assert(Bench.isAnomalous(23.04, Some(0.42)))
    // sub-second jitter: 4x ratio but under the +1 s floor — not
    assert(!Bench.isAnomalous(0.4, Some(0.1)))
    // big absolute but under 3x: a 14 s query drifting to 20 s — not
    assert(!Bench.isAnomalous(20.0, Some(14.2)))
    // exactly at the 3x boundary is NOT anomalous (strict >)
    assert(!Bench.isAnomalous(1.26, Some(0.42)))
    // just past both bounds is
    assert(Bench.isAnomalous(1.43, Some(0.42)))
    // r22 heavy tier: the r21 miss — 11.72 s vs a 6.9 s history is
    // 1.7x and +4.8 s: anomalous now (was under the 3x tier)
    assert(Bench.isAnomalous(11.72, Some(6.9)))
    // heavy but under 1.5x (20 vs 14.2 = 1.41x): still not anomalous
    assert(!Bench.isAnomalous(20.0, Some(14.2)))
    // 1.5x+ but under the +3 s floor (2.2 vs 1.2): sub-3s jitter, not
    // anomalous — the tier must never touch small queries
    assert(!Bench.isAnomalous(2.2, Some(1.2)))
  }

  test("anomaly rule: failures and missing baselines never retry") {
    assert(!Bench.isAnomalous(-1.0, Some(0.42)))
    assert(!Bench.isAnomalous(23.04, None))
    assert(!Bench.isAnomalous(23.04, Some(-1.0)))
  }

  test("parseBaseline round-trips the REAL fileJson writer output") {
    // r16 advice: the parser is coupled to the writer's layout; pinning
    // it against a hand-built string let format drift silently disarm
    // the guard. This builds a record through the actual writer.
    val results = Seq("q1_revenue_by_month" -> 0.412,
      "x35_cdc_apply" -> 0.42, "x58_betweenness" -> 14.22)
    val json = Bench.fileJson(results,
      canaryStart = Seq("q1_revenue_by_month" -> 0.41),
      canaryEnd = Seq("q1_revenue_by_month" -> 0.83),
      flaky = Seq("x35_cdc_apply"), anomalous = Seq("x58_betweenness"),
      outPath = "/x.json", sfDir = "/root/testdata/sf0.1", reps = 3,
      samples = results.map { case (k, v) => (k, Seq(v + 0.1, v, -1.0)) },
      retries = Seq("x58_betweenness" -> Seq(15.0, -1.0)),
      memo = Seq("cleaned:/root/testdata/sf0.1" -> ((11L, 1L)),
        "contamination" -> ((4L, 2L))))
    assert(Bench.parseBaseline(json) === results.toMap)
    // retries live in their own map: `reps` still describes the samples
    // arrays, and a failed retry rep must not contaminate them
    assert(json.contains(""""reps":3"""))
    assert(json.contains(""""retries":{"x58_betweenness":[15.0,-1.0]}"""))
    assert(json.contains(
      """"samples":{"q1_revenue_by_month":[0.512,0.412,-1.0]"""))
    // r17 verdict #1: the record must carry BOTH canary bookends (a
    // mid-run host step shows as end >> start) and the memo hit/build
    // counters (builds > 1 = eviction/rebuild mid-suite)
    assert(json.contains(""""canary_start":{"q1_revenue_by_month":0.41}"""))
    assert(json.contains(""""canary_end":{"q1_revenue_by_month":0.83}"""))
    assert(json.contains(
      """"memo":{"cleaned:/root/testdata/sf0.1":{"hits":11,"builds":1},""" +
        """"contamination":{"hits":4,"builds":2}}"""))
  }

  test("record carries per-query wall-clock timestamps and drift") {
    // r18 verdict #1: the driver bench showed 19 queries >1.5x
    // committed in three CONTIGUOUS execution-order windows with
    // healthy memo/canary telemetry — transient host slowdown was the
    // obvious read but unprovable without time coordinates. The record
    // now carries epoch-millis start per query plus the canary bookend
    // timestamps, so every anomalous flag is plottable against wall
    // time; and the drift map prices the sub-retry-threshold regime
    // (the r18 t24/t27/x68 2x small-query drifts) against the
    // historical min, so compounding drift is visible record-to-record
    // without burning retries on sub-second jitter.
    val json = Bench.fileJson(
      Seq("q1" -> 0.5, "t24" -> 0.63),
      canaryStart = Nil, canaryEnd = Nil, flaky = Nil, anomalous = Nil,
      outPath = "/x.json", sfDir = "/root/testdata/sf0.1", reps = 3,
      samples = Seq("q1" -> Seq(0.5), "t24" -> Seq(0.63)),
      retries = Nil, memo = Nil,
      started = Seq("q1" -> 1755300000123L, "t24" -> 1755300012456L),
      drift = Seq("q1" -> 1.0, "t24" -> 2.03),
      canaryStartMs = 1755299990000L, canaryEndMs = 1755300100000L)
    assert(json.contains(
      """"started":{"q1":1755300000123,"t24":1755300012456}"""))
    assert(json.contains(""""drift":{"q1":1.00,"t24":2.03}"""))
    assert(json.contains(""""canary_start_ms":1755299990000"""))
    assert(json.contains(""""canary_end_ms":1755300100000"""))
    // the extra maps must not confuse the baseline parser
    assert(Bench.parseBaseline(json) === Map("q1" -> 0.5, "t24" -> 0.63))
  }

  test("a disarmed guard marks the record, armed runs stay clean") {
    // review finding: a record-scale run with no baseline printed an
    // ERROR but still wrote a record self-certifying "zero anomalous";
    // guard_disarmed:true makes that state machine-readable
    val disarmed = Bench.headJson(Seq("q1" -> 1.0), Nil, Nil, Nil, Nil,
      outPath = "/x.json", sfDir = "/root/testdata/sf0.1", _.toString,
      guardDisarmed = true)
    assert(disarmed.contains(""""guard_disarmed":true"""))
    assert(Bench.parseBaseline(disarmed) === Map("q1" -> 1.0))
    val armed = Bench.headJson(Seq("q1" -> 1.0), Nil, Nil, Nil, Nil,
      outPath = "/x.json", sfDir = "/root/testdata/sf0.1", _.toString)
    assert(!armed.contains("guard_disarmed"))
    // the file copy inherits the flag through the shared head
    val file = Bench.fileJson(Seq("q1" -> 1.0), Nil, Nil, Nil, Nil,
      outPath = "/x.json", sfDir = "/root/testdata/sf0.1", reps = 1,
      samples = Seq("q1" -> Seq(1.0)), retries = Nil,
      guardDisarmed = true)
    assert(file.contains(""""guard_disarmed":true"""))
  }

  test("jstr escapes quotes, backslashes, and control characters") {
    // r17 advice: a quote/backslash in SPARK_GRAFT_BENCH_OUT produced
    // invalid JSON, and the tolerant parser silently disarmed the next
    // run's guard; now such a path round-trips as a valid literal
    assert(Bench.jstr("plain") === "\"plain\"")
    assert(Bench.jstr("a\"b") === "\"a\\\"b\"")
    assert(Bench.jstr("a\\b") === "\"a\\\\b\"")
    assert(Bench.jstr("a\nb") === "\"a\\u000ab\"")
    // a record head built with a hostile path still parses: the
    // queries object is intact and the guard stays armed
    val json = Bench.headJson(Seq("q1" -> 1.0), Nil, Nil, Nil, Nil,
      outPath = "/tmp/we\"ird\\path.json", sfDir = "/root/testdata/sf0.1",
      _.toString)
    assert(Bench.parseBaseline(json) === Map("q1" -> 1.0))
  }

  test("record paths derive from the repo root, not a literal") {
    // r17 advice: /root/repo was hardcoded; now both the record and
    // the baseline anchor build from repoRoot (working directory or
    // the graft.repo.root override), and the sf0.1 gate is a boolean
    assert(Bench.isRecordScale("/root/testdata/sf0.1"))
    assert(Bench.isRecordScale("/any/where/sf0.1/"))
    assert(!Bench.isRecordScale("/root/testdata/sf0.01"))
    assert(Bench.defaultOut("/root/testdata/sf0.1") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
  }

  test("parseBaseline reads the baseline-builder layout too") {
    // tools/build_bench_baseline.py writes {"built_from":..,"queries":{..}}
    val b = Bench.parseBaseline(
      """{"built_from":"git log -- BENCH_FULL.json (16 records)",""" +
        """"queries":{"a":0.7,"b":1.1}}""")
    assert(b === Map("a" -> 0.7, "b" -> 1.1))
  }

  test("only sf0.1 runs default their record into the repo") {
    // committed BENCH_FULL.json is the guard's anchor corpus; sf0.01
    // smoke records committed under the same name poisoned the minima
    // with ~10x-smaller-corpus numbers (the r17 s2 forensics)
    assert(Bench.defaultOut("/root/testdata/sf0.1") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
    assert(Bench.defaultOut("/root/testdata/sf0.1/") ==
      s"${Bench.repoRoot}/BENCH_FULL.json")
    assert(Bench.defaultOut("/root/testdata/sf0.01") ==
      "/tmp/BENCH_FULL_sf0.01.json")
    assert(Bench.defaultOut("/root/testdata/sf0.001") ==
      "/tmp/BENCH_FULL_sf0.001.json")
  }

  test("every canary key resolves in SparkEntry.queries") {
    // the host-speed witness set must not silently shrink when a
    // query is renamed — Bench logs an ERROR at runtime, and this
    // pins the keys at test time
    val missing = Bench.canaryKeys.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"canary keys missing from queries: $missing")
  }

  test("anomalyContext adjudicates shared-window vs isolated at record " +
    "time") {
    // four queries share a wall-clock window [0s, 100s]; a fifth runs
    // alone much later. Ratios: the window's cohabitants are all
    // inflated; the late one's neighbors (none) leave it undecidable;
    // a sixth sits among HEALTHY neighbors — the regression shape.
    val spans = Seq(
      ("a", 0L, 40_000L), ("b", 10_000L, 60_000L),
      ("c", 20_000L, 90_000L), ("d", 50_000L, 100_000L),
      ("late", 500_000L, 520_000L),
      ("lone", 1_000_000L, 1_020_000L),
      ("h1", 990_000L, 1_005_000L), ("h2", 1_010_000L, 1_030_000L))
    val ratios = Map("a" -> 3.2, "b" -> 2.1, "c" -> 4.0, "d" -> 1.9,
      "late" -> 3.5, "lone" -> 5.0, "h1" -> 1.0, "h2" -> 1.1)
    val ctx = Bench.anomalyContext(spans, ratios,
      Seq("a", "late", "lone")).toMap
    assert(ctx("a") === ((3, 3, "shared_slow_window")),
      "every overlapping neighbor inflated -> host window")
    assert(ctx("late") === ((0, 0, "no_neighbors")),
      "nothing overlapped -> undecidable at record time")
    assert(ctx("lone") === ((2, 0, "isolated")),
      "healthy neighbors -> regression candidate")
  }

  test("mergeBaselines anchors to the per-query historical MIN") {
    // the r16 failure mode: two consecutive ~1.7x drifts compound to
    // ~3x invisibly when the anchor ratchets off only the prior record.
    // Anchored to the min across records, the compounded value trips.
    val hist = Map("t24" -> 0.32, "t19" -> 0.34, "new_q" -> -1.0)
    val prior = Map("t24" -> 0.87, "added_q" -> 2.0)
    val m = Bench.mergeBaselines(Seq(hist, prior))
    assert(m === Map("t24" -> 0.32, "t19" -> 0.34, "added_q" -> 2.0))
    // 1.66 s committed at r16 vs 0.32 historical min: flagged now
    assert(Bench.isAnomalous(1.66, m.get("t24")))
    // against only the prior record it slid under the 3x trigger
    assert(!Bench.isAnomalous(1.66, prior.get("t24")))
  }

  test("record carries per-query codegen compiles and JIT ms, file only") {
    // the codegen cache finding: a query whose warm reps still compile
    // generated classes overruns Spark's 100-entry cache; the record
    // must carry the counters, and the parser reads them back
    val json = Bench.fileJson(Seq("q1" -> 0.5, "s26" -> 4.2),
      canaryStart = Nil, canaryEnd = Nil, flaky = Nil, anomalous = Nil,
      outPath = "/x.json", sfDir = "/data/sf0.1", reps = 1,
      samples = Seq("q1" -> Seq(0.5), "s26" -> Seq(4.2)), retries = Nil,
      codegen = Seq("q1" -> ((3L, 120L)), "s26" -> ((41L, 5300L))))
    assert(Bench.parseNumMap(json, "codegen_compiles") ===
      Map("q1" -> 3.0, "s26" -> 41.0))
    assert(Bench.parseNumMap(json, "jit_ms") ===
      Map("q1" -> 120.0, "s26" -> 5300.0))
    assert(Bench.parseBaseline(json) === Map("q1" -> 0.5, "s26" -> 4.2))
    // the stdout line stays lean
    val head = Bench.headJson(Seq("q1" -> 0.5), Nil, Nil, Nil, Nil,
      outPath = "/x.json", sfDir = "/data/sf0.1", _.toString)
    assert(!head.contains("codegen_compiles") && !head.contains("jit_ms"))
  }

  test("codegen counters move when Spark compiles a new plan") {
    val spark = SparkTestSession.spark
    val (c0, j0) = Bench.codegenCounters()
    // a constant no other plan uses: its generated class is new
    val salt = System.nanoTime() % 1000003L
    spark.range(10).selectExpr(s"id * $salt + 7919 AS v").collect()
    val (c1, j1) = Bench.codegenCounters()
    assert(c1 > c0, "a new plan shape must count a compile")
    assert(j1 >= j0)
  }

  test("a failed record write is reported, never swallowed") {
    // the record anchors the next run's guard: a swallowed failure left
    // the stale one in place, so main now exits non-zero on false
    val dir = java.nio.file.Files.createTempDirectory("bench_record")
    val ok = dir.resolve("BENCH_FULL.json")
    assert(Bench.writeRecord(ok.toString, "{}"))
    assert(java.nio.file.Files.readString(ok) == "{}")
    assert(!Bench.writeRecord(dir.toString, "{}"),
      "a directory in the record's place must fail the write")
    assert(!Bench.writeRecord(
      dir.resolve("missing").resolve("BENCH_FULL.json").toString, "{}"))
  }
}
