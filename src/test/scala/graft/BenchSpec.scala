package graft

import org.scalatest.funsuite.AnyFunSuite

/** The vs_prev artifact parser — pure string code, but three rounds
  * of verdicts hit bugs in it (r11 #8 asked for the comparison, r12
  * shipped it before the tail window and lost it, r13's regex missed
  * the escaped-quote pairs and printed null), so its input traps are
  * pinned on real artifact shapes here. */
class BenchSpec extends AnyFunSuite {

  test("parses escaped-quote pairs inside the driver's tail string") {
    // the driver wraps Bench stdout in a JSON "tail" STRING — the
    // exact shape of BENCH_r13.json that defeated the r13 regex
    val artifact =
      """{
        |  "n": 13,
        |  "rc": 0,
        |  "cpus": 32,
        |  "sf": 0.1,
        |  "tail": "ts_funnel\":0.691,\"q3_join\":0.695,\"events_pmi\":0.696"
        |}""".stripMargin
    val got = Bench.parsePrevQueryTimes(artifact)
    // the leading truncated token ("ts_funnel" is a mid-token cut of
    // events_funnel) still parses as a pair — harmless, its mangled
    // name never matches a current query — and the wrapper's meta
    // keys (n, rc, cpus, sf) are excluded
    assert(got("q3_join") == 0.695 && got("events_pmi") == 0.696)
    assert(!got.contains("n") && !got.contains("rc") && !got.contains("cpus"))
  }

  test("parses a raw unescaped artifact (local bench output)") {
    val artifact =
      """{"metric":"total","value":123.4,"unit":"sec","sf":"/root/testdata/sf0.1","errors":{},"queries":{"q1_agg":0.5,"dedup_exact":1.25}}"""
    val got = Bench.parsePrevQueryTimes(artifact)
    assert(got == Map("q1_agg" -> 0.5, "dedup_exact" -> 1.25))
  }

  test("the prev run's own vs_prev ratios are never misread as times") {
    val artifact =
      """{"queries":{"q1_agg":0.5}}
        |{"metric":"vs_prev","value":{"round":12,"lines":78,"geomean":1.03,"shifted_gt20pct":{"sample_dsir":12.2}},"loadavg":[1.0,2.0]}"""
        .stripMargin
    val got = Bench.parsePrevQueryTimes(artifact)
    assert(got == Map("q1_agg" -> 0.5), got.toString)
    assert(!got.contains("sample_dsir"))
  }

  test("truncation mid-number drops the trailing pair, keeps the rest") {
    // the driver's tail cut can land mid-number: 1.25 truncated to
    // "1.2" would PARSE as 1.2 and fabricate a 20% vs_prev shift
    // (ADVICE r14) — an end-of-text match is excluded instead
    val artifact = """"tail": "\"q1_agg\":0.5,\"dedup_exact\":1.2"""
    val got = Bench.parsePrevQueryTimes(artifact)
    assert(got("q1_agg") == 0.5)
    assert(!got.contains("dedup_exact"))
    // a cleanly terminated final pair (delimiter after the number)
    // is NOT dropped — both the escaped-tail and raw-JSON shapes
    val clean = """"tail": "\"q1_agg\":0.5,\"dedup_exact\":1.25\"}"""
    assert(Bench.parsePrevQueryTimes(clean)("dedup_exact") == 1.25)
    val rawJson = """{"queries":{"q1_agg":0.5,"dedup_exact":1.25}}"""
    assert(Bench.parsePrevQueryTimes(rawJson)("dedup_exact") == 1.25)
  }

  test("compact line fits the driver's 2000-char tail and keeps the " +
      "slowest lines (VERDICT r19 #1)") {
    // 164 realistic-length names: the full map never fit the window
    // (parsed: null in every committed BENCH_r*.json) — the compact
    // line must stay under budget whatever the suite size
    val results = (1 to 164).map { i =>
      (f"events_rolling_distinct_$i%03d", 165.0 - i)
    }
    val line = Bench.compactLine("133.042", "/root/testdata/sf0.1",
      results, Some(1.02), 0)
    assert(line.length <= 1850, s"compact line ${line.length} chars")
    // it is one COMPLETE JSON object: balanced braces, proper close
    assert(line.startsWith("{\"metric\":\"total\",\"value\":133.042,"))
    assert(line.endsWith("}}"))
    assert(line.contains("\"compact\":true"))
    assert(line.contains("\"lines\":164"))
    assert(line.contains("\"geomean_vs_local\":1.02"))
    // the SLOWEST lines survive; the cheapest are what truncation drops
    assert(line.contains("\"events_rolling_distinct_001\":164"))
    val parsed = Bench.parsePrevQueryTimes(line)
    assert(parsed("events_rolling_distinct_001") == 164.0)
    assert(!parsed.contains("lines") && !parsed.contains("errors_n") &&
      !parsed.contains("geomean_vs_local") && !parsed.contains("value"))
    // failed queries ride as -1, never as a fast time
    val withErr = Bench.compactLine("10.0", "/x",
      Seq(("slow_q", 9.0), ("dead_q", -1.0)), None, 1)
    assert(withErr.contains("\"dead_q\":-1"))
    assert(withErr.contains("\"geomean_vs_local\":null"))
    assert(withErr.contains("\"errors_n\":1"))
  }

  test("the full 3-line r20 artifact shape: compact pairs recovered " +
      "past the vs_prev cut, ratios still excluded") {
    // what the driver's 2000-char tail will hold from r20 on: the cut
    // END of the main line, the vs_prev line (ratios!), the compact
    // line, sbt's success trailer — all inside the escaped "tail"
    // string of the artifact JSON
    val artifact =
      """{"n": 20, "rc": 0, "tail": "up_eval\":3.211,\"graph_pagerank\":4.478}}\n{\"metric\":\"vs_prev\",\"value\":{\"source\":\"BENCH_LOCAL\",\"lines\":164,\"geomean\":0.97,\"shifted_n\":2,\"shifted_gt20pct\":{\"sample_dsir\":1.44,\"knn_batch\":0.65}},\"loadavg\":[1.0],\"contaminated\":false}\n{\"metric\":\"total\",\"value\":125.100,\"unit\":\"sec\",\"sf\":\"/root/testdata/sf0.1\",\"compact\":true,\"lines\":164,\"geomean_vs_local\":0.97,\"errors_n\":0,\"queries\":{\"dedup_minhash_sweep\":4.400,\"graph_pagerank\":4.100,\"dedup_eval\":3.100}}\n[success] Total time: 1804 s (30:04)\n"}"""
    val got = Bench.parsePrevQueryTimes(artifact)
    // compact-line pairs recovered even though they sit AFTER vs_prev
    assert(got("dedup_minhash_sweep") == 4.4)
    assert(got("dedup_eval") == 3.1)
    // compact values win over the main line's cut tail remnant
    assert(got("graph_pagerank") == 4.1)
    // the vs_prev ratios and meta fields never read as times
    assert(!got.contains("sample_dsir") && !got.contains("knn_batch"))
    assert(!got.contains("shifted_n") && !got.contains("errors_n") &&
      !got.contains("geomean_vs_local"))
  }

  test("a contaminated pass never replaces a same-sf clean history " +
      "(VERDICT r15 #3)") {
    val sf = "/root/testdata/sf0.1"
    val clean = s"""{"sf":"$sf","loadavg":[1.0],"contaminated":false,"queries":{}}"""
    val dirty = s"""{"sf":"$sf","loadavg":[6.2],"contaminated":true,"queries":{}}"""
    val legacy = s"""{"sf":"$sf","errors":{},"queries":{}}"""
    val otherSf = clean.replace("sf0.1", "sf0.01")
    // clean pass always persists
    assert(Bench.shouldPersist(contaminated = false, Some(clean), sf))
    assert(Bench.shouldPersist(contaminated = false, Some(dirty), sf))
    // contaminated pass: refuses only against a same-sf self-labeled
    // clean base...
    assert(!Bench.shouldPersist(contaminated = true, Some(clean), sf))
    // ...but may seed an empty history, replace another sf's file, a
    // contaminated base, or a pre-flag legacy file (the pre-r16
    // history IS the loaded r15 end-of-round pass)
    assert(Bench.shouldPersist(contaminated = true, None, sf))
    assert(Bench.shouldPersist(contaminated = true, Some(otherSf), sf))
    assert(Bench.shouldPersist(contaminated = true, Some(dirty), sf))
    assert(Bench.shouldPersist(contaminated = true, Some(legacy), sf))
  }

  test("history is kept per core count: a pass never replaces or " +
      "compares with a base of another core count") {
    // each core count has its own file
    assert(Bench.historyFile(8) == "BENCH_LOCAL_c8.json")
    assert(Bench.historyFile(32) == "BENCH_LOCAL_c32.json")
    val sf = "/root/testdata/sf0.1"
    val c32 = s"""{"sf":"$sf","cpus":32,"contaminated":false,"queries":{"q1_agg":0.5}}"""
    val c32dirty = c32.replace("\"contaminated\":false", "\"contaminated\":true")
    val legacy = s"""{"sf":"$sf","contaminated":false,"queries":{"q1_agg":0.5}}"""
    // within one file the sf/contamination table applies
    assert(Bench.shouldPersist(contaminated = false, Some(c32), sf))
    assert(!Bench.shouldPersist(contaminated = true, Some(c32), sf))
    assert(Bench.shouldPersist(contaminated = true, Some(c32dirty), sf))
    assert(Bench.shouldPersist(contaminated = false, Some(legacy), sf))
    assert(Bench.shouldPersist(contaminated = true, None, sf))
    // comparison needs the same sf; a file that records no core count
    // is compared too, since its name carries the count
    assert(Bench.comparableHistory(c32, sf))
    assert(!Bench.comparableHistory(c32, "/root/testdata/sf0.01"))
    assert(Bench.comparableHistory(legacy, sf))
    // the artifact wrapper spells it with a space
    assert(Bench.recordedCpus("""{"n": 20, "cpus": 8, "tail": "x"}""").contains(8))
    // and the recorded count never parses as a query time
    assert(Bench.parsePrevQueryTimes(c32) == Map("q1_agg" -> 0.5))
  }

  test("the compact line refuses a header that cannot fit") {
    val longSf = "/data/" + "nested/" * 300 + "sf0.1"
    val e = intercept[IllegalArgumentException](
      Bench.compactLine("1.000", longSf, Seq(("q1_agg", 1.0)), None, 0))
    assert(e.getMessage.contains("header"))
    // a header that fits still yields a complete line
    assert(Bench.compactLine("1.000", "/x", Seq(("q1_agg", 1.0)), None, 0)
      .endsWith("}}"))
  }

  test("the self-label fields never parse as query times") {
    val artifact =
      """{"sf":"/root/testdata/sf0.1","loadavg":[6.20,5.45,3.57],"ext_cores":1.23,"ext_max":2.51,"io_cores":0.43,"noisy_lines":4,"contaminated":true,"errors":{},"queries":{"q1_agg":0.5}}"""
    assert(Bench.parsePrevQueryTimes(artifact) == Map("q1_agg" -> 0.5))
  }

  test("the vs_prev warnings fields never parse as query times") {
    // the tail window can start inside the vs_prev line, past its
    // "vs_prev" token, so the cut that drops its ratios never fires
    val artifact =
      """{"n": 21, "rc": 0, "tail": "ted\":false,\"warnings_n\":2,\"warnings\":[\"warm-up q1_agg: IOException\",\"history-write: AccessDeniedException\"]}\n{\"metric\":\"total\",\"value\":1.500,\"unit\":\"sec\",\"sf\":\"/data/sf0.1\",\"compact\":true,\"lines\":1,\"geomean_vs_local\":null,\"errors_n\":0,\"queries\":{\"q1_agg\":1.500}}\n"}"""
    assert(Bench.parsePrevQueryTimes(artifact) == Map("q1_agg" -> 1.5))
  }

  test("iowait jiffies come from field 5 of the aggregate cpu line") {
    //           user nice sys idle iowait irq softirq steal
    assert(Bench.iowaitJiffies("cpu  100 2 30 5000 70 4 5 6 0 0") == 70L)
    assert(Bench.iowaitJiffies("cpu  1 2 3 4") == 0L) // truncated line
  }

  test("per-query slices coalesce into >=2s windows, tail folds back") {
    import Bench.Seg
    val segs = Seq(
      Seg(100, 10, 80, 200, 0.8), Seg(100, 10, 80, 200, 0.8),
      Seg(100, 10, 80, 200, 0.8),
      Seg(900, 90, 100, 5000, 2.5),
      Seg(50, 5, 40, 100, 0.4))
    val w = Bench.coalesceWindows(segs, 2.0)
    // first three slices (0.8+0.8+0.8 = 2.4s) merge; the 2.5s slice
    // stands alone; the 0.4s tail folds into it rather than dropping
    assert(w.size == 2)
    assert(w(0) == Seg(300, 30, 240, 600, 0.8 * 3))
    assert(w(1) == Seg(950, 95, 140, 5100, 2.9))
    // an all-tail run (every slice under min) still yields one window
    val tiny = Bench.coalesceWindows(Seq(Seg(10, 1, 8, 20, 0.3)), 2.0)
    assert(tiny == Seq(Seg(10, 1, 8, 20, 0.3)))
    assert(Bench.coalesceWindows(Nil, 2.0).isEmpty)
  }

  test("spread ratio is max-of-reps over median-of-reps") {
    assert(Bench.spreadRatio(Seq(1.0, 1.1, 4.5)) == 4.5 / 1.1)
    // TWO surviving reps (one timed rep failed): the lower median —
    // the upper would BE the max, pinning the ratio at 1.0 and hiding
    // exactly the one-bad-rep contention hit this counts
    assert(Bench.spreadRatio(Seq(0.5, 5.0)) == 10.0)
    assert(Bench.spreadRatio(Seq(2.0)) == 1.0)       // single rep
    assert(Bench.spreadRatio(Nil) == 1.0)
    assert(Bench.spreadRatio(Seq(0.0, 0.0)) == 1.0)  // degenerate median
  }

  test("contamination matrix: avg-CPU, burst-window, IO, disk-queue") {
    val (extCap, ioCap, dqCap) = (2.0, 2.0, 6.0)
    def c(extAvg: Double, extMax: Double, ioAvg: Double, ioMax: Double,
          dqAvg: Double = 0.0, dqMax: Double = 0.0) =
      Bench.isContaminated(extAvg, extMax, ioAvg, ioMax, dqAvg, dqMax,
        extCap, ioCap, dqCap)
    // clean pass
    assert(!c(0.1, 0.5, 0.3, 0.4, 0.2, 1.0))
    // whole-run external average over cap (the r14/r15 CPU-tenant era)
    assert(c(2.5, 2.5, 0.1, 0.1))
    // short burst: average dilutes under the cap but one >=2s window
    // exceeds it (the ADVICE r16 phantom-regression mode)
    assert(c(0.9, 4.0, 0.1, 0.1))
    // the r16 final-pass shape: ext_cores 0.80 self-labeled clean
    // while the disk was the contended resource — the IO channel now
    // flags it (VERDICT r16 #1)
    assert(c(0.80, 1.0, 3.5, 3.5))
    // a 30s disk-saturating burst that dilutes the run-average IO:
    // the per-window IO maximum flags it (same dilution mode as CPU)
    assert(c(0.1, 0.5, 0.4, 5.0))
    // saturated-CPU / dirty-disk (VERDICT r18 #3): the bench's own
    // 32 threads keep every core busy, so iowait reads ~0 and the
    // co-tenant burns almost no CPU — only the time-in-queue channel
    // sees the saturated device, on the whole run or one window
    assert(c(0.3, 0.5, 0.0, 0.0, dqAvg = 9.0, dqMax = 9.0))
    assert(c(0.3, 0.5, 0.0, 0.0, dqAvg = 1.0, dqMax = 8.0))
    // boundary: at-cap is clean on every channel, only strictly-over
    assert(!c(2.0, 2.0, 2.0, 2.0, 6.0, 6.0))
  }

  test("diskstats channel: parse, device filter, busiest-device delta") {
    val t0 =
      """   7       0 loop0 9 0 9 9 0 0 0 0 0 9 99999 0 0 0 0 0 0
        | 253       0 zram0 9 0 9 9 0 0 0 0 0 9 99999 0 0 0 0 0 0
        | 254       0 vda 48935 20832 2790866 286482 248791 1555863 151266856 6954445 0 505844 7761172 710737 22 139443208 519940 250 303
        | 254      16 vdb 1253 858 16906 98 0 0 0 0 0 48 98 0 0 0 0 0 0""".stripMargin
    val m0 = Bench.diskWeightedMs(t0)
    // virtual devices are dropped; real ones keyed by name
    assert(m0 == Map("vda" -> 7761172L, "vdb" -> 98L))
    // truncated line (fewer than 11 stats) is skipped, not a crash
    assert(Bench.diskWeightedMs(" 254 0 vda 1 2 3") == Map.empty)
    // busiest-device delta: vda +3000ms, vdb +10ms -> 3000
    val m1 = Map("vda" -> 7764172L, "vdb" -> 108L)
    assert(Bench.diskDeltaMs(m0, m1) == 3000L)
    // counter wrap / hotplug reads as zero, never negative
    assert(Bench.diskDeltaMs(m1, m0) == 0L)
    assert(Bench.diskDeltaMs(Map.empty, m1) == 0L)
    assert(Bench.diskDeltaMs(m0, Map("vdc" -> 500L)) == 0L)
  }

  test("external-cores accounting: /proc parsing and the window math") {
    // aggregate cpu line: user nice system idle iowait irq softirq
    // steal guest guest_nice -> busy = 100+2+30+0+0+4+5+6 = 147
    assert(Bench.busyJiffies(
      "cpu  100 2 30 5000 70 4 5 6 0 0") == 147L)
    // /proc/self/stat with a hostile comm containing ') (' — fields
    // 14/15 (utime, stime) after the LAST ')': 500 + 250
    val selfStat = "4242 (java) S 1 4242 4242 0 -1 4194560 " +
      "100 0 0 0 500 250 0 0 20 0 33 0 12345 1000000 2000 " +
      "18446744073709551615 1 1 0 0 0 0 0 0 0 0 0 0 17 3 0 0 0 0 0"
    assert(Bench.selfJiffies(selfStat) == 750L)
    val hostile = selfStat.replace("(java)", "(a) (b)")
    assert(Bench.selfJiffies(hostile) == 750L)
    // 10 wall seconds, 2000 busy jiffies total, 1500 of them ours:
    // (2000-1500)/100Hz/10s = 0.5 external cores
    assert(Bench.externalCores(2000L, 1500L, 10.0) == 0.5)
    // self can exceed measured busy across reads (tick skew): clamp 0
    assert(Bench.externalCores(100L, 150L, 10.0) == 0.0)
    assert(Bench.externalCores(100L, 50L, 0.0) == 0.0)
  }

  test("retry decision table (VERDICT r17 #1: self-healing bench)") {
    val (extCap, ioCap, dqCap) = (2.0, 2.0, 6.0)
    def d(dirty: Boolean, solo: Boolean, retries: Boolean,
          pe: Double, pi: Double, pd: Double = 0.0,
          measured: Boolean = true) =
      Bench.retryDecision(dirty, solo, retries, measured, pe, pi, pd,
        extCap, ioCap, dqCap)
    // clean first pass: publish it, never retry (probe values moot)
    assert(d(dirty = false, solo = false, retries = true, 9.0, 9.0)
      == "publish_first")
    // solo (SPARK_GRAFT_ONLY) runs never retry — they never persist,
    // and an adjudication run must measure the box AS IT IS
    assert(d(dirty = true, solo = true, retries = true, 0.0, 0.0)
      == "no_retry")
    // retries disabled by env: publish the labeled-dirty first pass
    assert(d(dirty = true, solo = false, retries = false, 0.0, 0.0)
      == "no_retry")
    // cooldown probe still above EITHER cap: a second 10-minute pass
    // would burn dirty — skip, publish the labeled-dirty first pass
    assert(d(dirty = true, solo = false, retries = true, 2.1, 0.0)
      == "skip_busy")
    assert(d(dirty = true, solo = false, retries = true, 0.0, 2.1)
      == "skip_busy")
    // probe disk queue still saturated: the co-tenant that tripped
    // the dq channel is still writing — skip, don't burn a retry
    assert(d(dirty = true, solo = false, retries = true, 0.0, 0.0,
      pd = 6.5) == "skip_busy")
    // an UNMEASURABLE probe (no /proc — the loadavg-fallback boxes)
    // must not read as clean: a blind retry is a guaranteed second
    // full pass that predictably publishes dirty again
    assert(d(dirty = true, solo = false, retries = true, 0.0, 0.0,
      measured = false) == "skip_busy")
    // probe clean: retry once (the r17 driver shape — ext_max 4.66
    // mid-pass, box idle again by round end — becomes a clean
    // second attempt instead of a refused artifact)
    assert(d(dirty = true, solo = false, retries = true, 0.3, 0.1,
      pd = 0.5) == "retry")
    // at-cap probe is clean, matching isContaminated's boundary
    assert(d(dirty = true, solo = false, retries = true, 2.0, 2.0,
      pd = 6.0) == "retry")
  }

  test("published label keeps both attempts visible (artifact shape)") {
    val dirty = Bench.Pass(Map.empty,
      Vector(9.0), Some(4.2), Some(4.66), Some(0.1), Some(0.2),
      Some(0.4), Some(2.1), 22, contaminated = true)
    val clean = Bench.Pass(Map.empty,
      Vector(1.0), Some(0.1), Some(0.3), Some(0.0), Some(0.1),
      Some(0.1), Some(0.9), 0, contaminated = false)
    assert(dirty.labelJson.contains("\"contaminated\":true"))
    assert(dirty.labelJson.contains("\"ext_max\":4.66"))
    // each attempt carries its own loadavg — on the /proc-less
    // fallback path that is the only evidence of why it read dirty
    assert(dirty.labelJson.contains("\"loadavg\":[9.00]"))
    assert(clean.labelJson.contains("\"contaminated\":false"))
    // the shouldPersist literal-protection contract: a retried-clean
    // full line (clean top-level label + dirty attempt embedded)
    // still contains "contaminated":false and stays protected; a
    // skip_busy dirty line contains no false-literal and stays
    // replaceable
    val retriedLine = s"""{"sf":"/x","contaminated":false,"attempts":[${dirty.labelJson},${clean.labelJson}]}"""
    assert(!Bench.shouldPersist(contaminated = true,
      Some(retriedLine.replace("/x", "/root/testdata/sf0.1")), "/root/testdata/sf0.1"))
    val skipLine = s"""{"sf":"/root/testdata/sf0.1","contaminated":true,"attempts":[${dirty.labelJson}]}"""
    assert(Bench.shouldPersist(contaminated = true, Some(skipLine),
      "/root/testdata/sf0.1"))
    // and the attempts' numeric fields never parse as query times
    val parsed = Bench.parsePrevQueryTimes(retriedLine)
    assert(parsed.isEmpty, s"attempt label fields leaked as times: $parsed")
  }
}
