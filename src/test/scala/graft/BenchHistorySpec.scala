package graft

/** The committed bench record (bench/history.jsonl). The stdout
  * contract stays bounded (the driver tail-parses it); the side file
  * carries the FULL per-query map so a cross-round total swing is
  * attributable to named queries — and divisible by calib to separate
  * VM drift from a real plan regression. */
class BenchHistorySpec extends SparkTestBase {

  private val results = Seq(
    ("q_b", Some(1.23456), 2),
    ("q_a", Some(0.5), 2),
    ("q_fail", None, 2))

  test("line: carries the optional IO calib anchor") {
    // r11: the pure-CPU calib proved non-comparable across days (it
    // dropped 35% while queries were raw-flat); the second anchor
    // with an IO+decode term rides in the history line only
    val line = BenchHistory.line("/sf/x", 0.4, 0.6, 1.0, results,
      calibIo = Some((1.25, 1.35)))
    assert(line.contains(""""calib_io_sec":[1.2500,1.3500]"""), line)
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // round-trips through the same-sf parser unchanged
    val dir = java.nio.file.Files.createTempDirectory("bench-io")
    val p = dir.resolve("h.jsonl").toString
    BenchHistory.append(p, line)
    assert(BenchHistory.prevEntry(p, "/sf/x").exists(_._1 == 0.5))
  }

  test("line: one JSON object, sorted query keys, null for failures") {
    val line = BenchHistory.line("/root/testdata/sf0.1", 0.4, 0.6, 1.73456, results)
    assert(!line.contains("\n"), "one run = one jsonl line")
    assert(line.indexOf("\"q_a\"") < line.indexOf("\"q_b\""),
      "sorted keys so consecutive runs diff cleanly")
    assert(line.contains(""""q_fail":{"sec":null,"passes":2}"""))
    assert(line.contains(""""calib_mean":0.5000"""))
    assert(line.contains(""""calib_sec":[0.4000,0.6000]"""))
    assert(line.contains(""""n_queries":3"""))
    // parseable by any JSON reader: balance check suffices without a lib
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.startsWith("{") && line.endsWith("}"))
  }

  test("append: creates parents, appends in order, never throws") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val p = dir.resolve("sub/history.jsonl").toString
    BenchHistory.append(p, """{"run":1}""")
    BenchHistory.append(p, """{"run":2}""")
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p))
    assert(lines.size() == 2 && lines.get(0) == """{"run":1}""" && lines.get(1) == """{"run":2}""")
    // unwritable path: the bench must not fail on a read-only checkout
    BenchHistory.append("/proc/graft-definitely-not-writable/x.jsonl", "{}")
  }

  test("vs_prev: calib-normalized per-query ratio against the prior entry") {
    // prev ran on a fast VM (calib 0.5); this run's VM is 2x slower
    // (calib 1.0). q_a's raw sec doubled with the VM -> vs_prev = 1.0
    // (pure noise); q_b's raw sec quadrupled -> vs_prev = 2.0 (real).
    val prev = Some((0.5, Map("q_a" -> 0.5, "q_b" -> 1.0)))
    val cur = Seq(
      ("q_a", Some(1.0), 2),
      ("q_b", Some(4.0), 2),
      ("q_new", Some(0.1), 2), // not in prev -> no vs_prev
      ("q_fail", None, 2))     // failed -> no vs_prev
    val line = BenchHistory.line("/root/testdata/sf0.1", 1.0, 1.0, 5.1, cur, prev)
    assert(line.contains(""""q_a":{"sec":1.0000,"passes":2,"vs_prev":1.000}"""), line)
    assert(line.contains(""""q_b":{"sec":4.0000,"passes":2,"vs_prev":2.000}"""), line)
    assert(line.contains(""""q_new":{"sec":0.1000,"passes":2}"""), line)
    assert(line.contains(""""q_fail":{"sec":null,"passes":2}"""), line)
    assert(line.contains(""""calib_vs_prev":2.000"""),
      "the run must self-identify as 2x-slower-VM: " + line)
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("prevEntry: round-trips a line written by BenchHistory.line itself") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val p = dir.resolve("history.jsonl").toString
    BenchHistory.append(p, BenchHistory.line("/sf/other", 0.1, 0.1, 9.0,
      Seq(("q_a", Some(9.0), 2))))               // different sf: must be skipped
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.4, 0.6, 1.73,
      Seq(("q_a", Some(0.5), 2), ("q_fail", None, 1))))
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.2, 0.2, 1.0,
      Seq(("q_a", Some(0.25), 2))))              // LAST same-sf entry wins
    val Some((calib, qs)) = BenchHistory.prevEntry(p, "/sf/x")
    assert(calib == 0.2, s"calib_mean of the LAST /sf/x line, got $calib")
    assert(qs == Map("q_a" -> 0.25), s"failed queries excluded, got $qs")
    assert(BenchHistory.prevEntry(p, "/sf/absent").isEmpty)
    assert(BenchHistory.prevEntry("/nonexistent/h.jsonl", "/sf/x").isEmpty)
  }

  test("isSuspect: 1.5x raw-seconds trigger with a 0.3s floor") {
    // r9 forensics: three unexplained drifts (largest 1.74x) sat in the
    // old 1.5-2.0x blind band with the retry budget untouched. The gate
    // now fires at >1.5x so that band gets adjudicated by a retry pass.
    assert(Bench.isSuspect(Some(1.74), Some(1.0)), "1.74x must now retry")
    assert(Bench.isSuspect(Some(0.76), Some(0.5)), "1.52x above floor fires")
    assert(!Bench.isSuspect(Some(1.49), Some(1.0)), "<=1.5x stays quiet")
    assert(!Bench.isSuspect(Some(0.29), Some(0.1)),
      "sub-0.3s jitter never burns retries even at 2.9x")
    assert(!Bench.isSuspect(None, Some(1.0)), "failed query is not a suspect")
    assert(!Bench.isSuspect(Some(2.0), None), "new query has no baseline")
    assert(!Bench.isSuspect(Some(2.0), Some(0.0)), "zero prev never divides")
  }

  test("retryPlan: drift-ordered; passes:1 granted except under whole-run drift") {
    val baseline = Map("q_small" -> 1.0, "q_big" -> 1.0, "q_one" -> 1.0,
      "q_quiet" -> 1.0)
    val rs = Seq(
      ("q_small", Some(1.6), 2), // suspect, drift 1.6
      ("q_big", Some(3.0), 2),   // suspect, drift 3.0
      ("q_one", Some(1.7), 1),   // suspect, single-pass (deadline-starved)
      ("q_quiet", Some(1.2), 2), // under the trigger
      ("q_new", Some(9.9), 2),   // no baseline -> never a suspect
      ("q_fail", None, 1))       // failed -> never a suspect
    // r10 forensics: first-come order let early small drifts burn the
    // budget while the worst offender at the tail went unretried.
    assert(Bench.retryPlan(rs, baseline, wholeRunDrift = false) ==
      Seq("q_big", "q_one", "q_small"), "largest normalized drift first")
    // cap of 1 covers only the largest drift — but the passes:1 row is
    // granted anyway: a single-pass number has no min-of-two protection,
    // so it is the least trustworthy measurement in the run.
    assert(Bench.retryPlan(rs, baseline, wholeRunDrift = false, cap = 1) ==
      Seq("q_big", "q_one"), "passes:1 suspect granted past the cap")
    // whole-run drift (calib bracket itself >1.5x prev): the VM is slow,
    // not the code — damp to 3 so retries don't double a slow run's
    // wall time re-measuring machine noise. passes:1 grants do NOT
    // bypass the damper: on a drifted VM past the deadline nearly
    // every query is a single-pass suspect, and uncapped grants would
    // re-run most of the suite.
    val many = (1 to 10).map(i => (s"q_$i", Some(2.0 + i * 0.1), 2)) :+
      ("q_one", Some(1.7), 1)
    val manyBase = many.map(_._1 -> 1.0).toMap
    val damped = Bench.retryPlan(many, manyBase, wholeRunDrift = true)
    assert(damped == Seq("q_10", "q_9", "q_8"),
      s"damped to the 3 largest drifts, no grant bypass, got $damped")
    // no double-retry when the passes:1 row is already in budget
    assert(Bench.retryPlan(rs, baseline, wholeRunDrift = false, cap = 3)
      .count(_ == "q_one") == 1, "grant list deduplicates")
  }

  test("minOverRecent: per-query min across the last k same-sf entries") {
    // a junk entry (VM load burst) inflates the last entry's numbers;
    // the gate baseline must still see the honest minimum
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val p = dir.resolve("history.jsonl").toString
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.5, 0.5, 3.0,
      Seq(("q_a", Some(1.0), 2), ("q_old", Some(2.0), 2))))
    BenchHistory.append(p, BenchHistory.line("/sf/x", 2.4, 2.4, 9.0,
      Seq(("q_a", Some(4.0), 1))))                       // the junk entry
    BenchHistory.append(p, BenchHistory.line("/sf/other", 0.5, 0.5, 1.0,
      Seq(("q_a", Some(0.1), 2))))                       // other sf: ignored
    val base = BenchHistory.minOverRecent(p, "/sf/x", 3)
    assert(base("q_a") == 1.0, s"min over entries, not the last one: $base")
    assert(base("q_old") == 2.0, "queries absent from later entries still baseline")
    val base1 = BenchHistory.minOverRecent(p, "/sf/x", 1)
    assert(base1("q_a") == 4.0 && !base1.contains("q_old"),
      s"k=1 degenerates to the last entry: $base1")
    assert(BenchHistory.minOverRecent("/nonexistent/h.jsonl", "/sf/x", 3).isEmpty)
  }

  test("calib_flagged: loaded runs self-describe against the recent calib band") {
    // r11: BENCH_r11.json snapshotted an afternoon-load run (calib
    // 0.82 vs the 0.38-0.45 band) with nothing in the entry saying so
    assert(Bench.isCalibFlagged(0.82, Some(0.40)), "2x the band min flags")
    assert(!Bench.isCalibFlagged(0.55, Some(0.40)), "1.37x stays quiet")
    assert(!Bench.isCalibFlagged(0.82, None), "no history -> no flag")
    assert(!Bench.isCalibFlagged(0.82, Some(0.0)), "zero band never divides")
    // the marker lands in the history line only when flagged
    val flagged = BenchHistory.line("/sf/x", 0.8, 0.84, 1.0, results,
      calibFlagged = true)
    assert(flagged.contains(""""calib_flagged":true"""), flagged)
    assert(flagged.count(_ == '{') == flagged.count(_ == '}'))
    val clean = BenchHistory.line("/sf/x", 0.4, 0.4, 1.0, results)
    assert(!clean.contains("calib_flagged"), clean)
    // minCalibOverRecent: min of calib_mean over last k same-sf entries
    val dir = java.nio.file.Files.createTempDirectory("bench-flag")
    val p = dir.resolve("h.jsonl").toString
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.4, 0.4, 1.0,
      Seq(("q_a", Some(0.5), 2))))
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.9, 0.9, 2.0,
      Seq(("q_a", Some(1.0), 2))))  // the loaded entry
    BenchHistory.append(p, BenchHistory.line("/sf/other", 0.1, 0.1, 1.0,
      Seq(("q_a", Some(0.1), 2))))  // other sf ignored
    assert(BenchHistory.minCalibOverRecent(p, "/sf/x", 5).contains(0.4),
      "min over the band, so one loaded entry can't blind the flag")
    assert(BenchHistory.minCalibOverRecent(p, "/sf/x", 1).contains(0.9),
      "k=1 degenerates to the last entry")
    assert(BenchHistory.minCalibOverRecent(p, "/sf/absent", 5).isEmpty)
  }

  test("two-anchor cross-day normalization: calib_io_vs_prev + median_raw_ratio") {
    // prev entry carries the IO anchor; the new line must report the
    // anchor's drift and the median of per-query RAW ratios (the
    // PLANS.md r11 rule: across days, trust the raw-ratio median —
    // r11's CPU calib dropped 35% while queries were raw-flat)
    val dir = java.nio.file.Files.createTempDirectory("bench-anchor")
    val p = dir.resolve("h.jsonl").toString
    BenchHistory.append(p, BenchHistory.line("/sf/x", 0.5, 0.5, 3.0,
      Seq(("q_a", Some(1.0), 2), ("q_b", Some(2.0), 2), ("q_c", Some(4.0), 2)),
      calibIo = Some((1.0, 1.2))))
    assert(BenchHistory.prevCalibIo(p, "/sf/x").contains(1.1), "io anchor mean")
    assert(BenchHistory.prevCalibIo(p, "/sf/absent").isEmpty)
    val prev = BenchHistory.prevEntry(p, "/sf/x")
    val cur = Seq(
      ("q_a", Some(1.0), 2),   // raw ratio 1.0
      ("q_b", Some(3.0), 2),   // raw ratio 1.5
      ("q_c", Some(8.0), 2),   // raw ratio 2.0
      ("q_new", Some(0.1), 2), // no prev -> excluded from the median
      ("q_fail", None, 2))
    val line = BenchHistory.line("/sf/x", 0.5, 0.5, 12.1, cur, prev,
      calibIo = Some((1.3, 1.5)),
      prevCalibIoMean = BenchHistory.prevCalibIo(p, "/sf/x"))
    assert(line.contains(""""calib_io_vs_prev":1.273"""), line) // 1.4/1.1
    assert(line.contains(""""median_raw_ratio":1.500"""), line)
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // no prev -> neither instrument appears
    val bare = BenchHistory.line("/sf/x", 0.5, 0.5, 1.0, cur,
      calibIo = Some((1.3, 1.5)))
    assert(!bare.contains("calib_io_vs_prev") && !bare.contains("median_raw_ratio"),
      bare)
  }

  test("totalLine: contract line carries the per-query map, sorted, null on failure") {
    // r13: PERF_r12 came back per_query:{} / now_bench_ok:false because
    // the final stdout line had no "queries" key — the driver's
    // per-query and 32-vs-8-cpu scaling comparisons read THIS map.
    val line = Bench.totalLine(1.73456, "/sf/x", 2, results, 0.4, 0.6,
      flagged = false, passesSec = Seq(1.0, 0.73456))
    assert(line.startsWith("""{"metric":"total","value":1.73456,"unit":"sec","queries":{"""),
      line)
    assert(line.contains(""""q_a":0.5000""") &&
      line.contains(""""q_b":1.2346""") &&
      line.contains(""""q_fail":null"""), line)
    assert(line.indexOf("\"q_a\"") < line.indexOf("\"q_b\""), "sorted keys")
    assert(line.contains(""""sf":"/sf/x","passes":2,"n_queries":3,"calib_sec":[0.4,0.6]}"""),
      line)
    assert(!line.contains("\n") && line.count(_ == '{') == line.count(_ == '}'))
    val flagged = Bench.totalLine(1.0, "/sf/x", 1, results, 0.9, 0.9,
      flagged = true, passesSec = Seq(1.0))
    assert(flagged.endsWith(""","calib_flagged":true}"""), flagged)
  }

  test("totalLine: per-pass seconds ride between the query map and sf") {
    val line = Bench.totalLine(1.73456, "/sf/x", 2, results, 0.4, 0.6,
      flagged = false, passesSec = Seq(1.9, 1.73456))
    assert(line.contains("""},"passes_sec":[1.9000,1.7346],"sf":"/sf/x","""), line)
    // a run whose budget ran out before pass 2 reports 0 s for it
    val single = Bench.totalLine(1.0, "/sf/x", 1, results, 0.4, 0.6,
      flagged = false, passesSec = Seq(1.0, 0.0))
    assert(single.contains(""""passes_sec":[1.0000,0.0000]"""), single)
    assert(line.count(_ == '{') == line.count(_ == '}'))
  }

  test("gitHead resolves this repo's HEAD to a 12-char sha") {
    val sha = BenchHistory.gitHead("/root/repo")
    assert(sha.length == 12 && sha.forall(c => c.isDigit || ('a' to 'f').contains(c)),
      s"got: $sha")
    assert(BenchHistory.gitHead("/tmp") == "unknown", "no .git -> unknown, not a throw")
  }
}
