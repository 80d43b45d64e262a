package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Stdout contract (the driver tail-captures a bounded
  * buffer and parses the LAST line):
  *
  *   - a `{"query":"__calib__","sec":…,"passes":1}` line FIRST — a
  *     fixed-cost, sf-independent shuffle+agg run right after warm-up,
  *   - one line PER QUERY next:  {"query":"q1_agg","sec":1.234,"passes":2}
  *     (`sec` is null when the query failed — never a -1 sentinel)
  *   - a second `__calib__` line (same query, run after the whole suite),
  *   - then ONE final line: {"metric":"total","value":N,"unit":"sec",
  *     "queries":{"name":sec,...},"passes_sec":[p1,p2],"sf":"...",
  *     "passes":2,"n_queries":N,"calib_sec":[a,b]}
  *     (`passes_sec`: the summed seconds of each pass over the suite;
  *     suspect retries are in neither)
  *
  * Calibration: per-query wall times on the driver VM swing ~2× run to
  * run for reasons unrelated to the plans (noisy-neighbor VM drift, GC).
  * The two `__calib__` runs bracket the suite with a workload whose cost
  * is constant by construction (spark.range → hash shuffle → sum, no
  * files, no data-size dependence), so any round's per-query numbers can
  * be normalized: divide by mean(calib_sec) / reference_calib before
  * comparing across rounds. A round where calib itself doubled is a slow
  * VM, not a regression. `value` (total) still excludes calibration.
  *
  * The final line carries the per-query map (`"queries"`) — the driver
  * contract field its scaling/per-query comparison reads. History note:
  * rounds 1–2 emitted the map and the driver's parse came back empty,
  * which was misdiagnosed at the time as tail-buffer truncation and the
  * map was dropped from rounds 3–12. Round-13 forensics (BENCH_r01.json)
  * show the r01 final line was COMPLETE and valid JSON inside the
  * captured tail — the parse failed because sbt's logger glued an
  * `[info] ` prefix onto the line, which later rounds' raw stdout no
  * longer has. Dropping the map meant PERF_r12 measured nothing
  * per-query (`per_query: {}`, `now_bench_ok: false`, the 32-vs-8-cpu
  * scaling section empty), so the map is restored. The committed side
  * file (`bench/history.jsonl`, one line per run via [[BenchHistory]])
  * stays the richer falsifiable record: when a round's total moves, the
  * per-query history says WHICH queries moved and whether calib moved
  * with them (VM drift) or alone (real regression).
  */
object Bench {
  /** Suspect-retry trigger ratio. Round-9 forensics: all three of that
    * round's unexplained drifts (largest: dedup_minhash_oracle at
    * ~1.74×) sat in the old 1.5–2.0× blind band while the 15-retry
    * budget went completely unused (0 retries fired) — so the gate was
    * tightened from 2.0 to 1.5. A transient VM burst loses to the extra
    * pass; a real regression reproduces and keeps its number. */
  private[graft] val SuspectRatio = 1.5
  /** True when this run's min-of-passes landed far above the previous
    * same-SF history entry for the query. RAW seconds, not
    * calib-normalized: the calib bracket cannot see a mid-run burst,
    * which is exactly the failure mode this defends against. The 0.3 s
    * floor keeps sub-second jitter from burning retries. */
  private[graft] def isSuspect(best: Option[Double], prevSec: Option[Double]): Boolean =
    best.exists(b => b > 0.3 && prevSec.exists(ps => ps > 0 && b / ps > SuspectRatio))

  /** Loaded-run self-description (r11: BENCH_r11.json snapshotted an
    * afternoon-load run at 160.3 s vs the 131.6 s clean entry, and
    * nothing in the entry itself said so). A run whose calib bracket
    * mean exceeds [[CalibFlagRatio]]× the MIN calib over recent
    * same-SF entries ran on a loaded VM: its entry (and the stdout
    * total line) carries `calib_flagged` so any later reader —
    * including a driver snapshot that lands on it — sees the caveat
    * without cross-referencing history. The entry still appends
    * (refusing would blind vs_prev for the next run). */
  private[graft] val CalibFlagRatio = 1.5
  private[graft] def isCalibFlagged(
      runCalibMean: Double, minRecentCalib: Option[Double]): Boolean =
    minRecentCalib.exists(m => m > 0 && runCalibMean / m > CalibFlagRatio)

  /** Which queries get a suspect-retry pass, in retry ORDER. Pure so
    * the policy is spec-testable (BenchHistorySpec).
    *
    * Round-10 forensics drove the shape: the final entry's burst slowed
    * the suite past the pass-2 soft deadline, the alphabetically-late
    * text_* rows ran passes:1 (no min-of-two noise protection), and the
    * first-come retry loop had already spent its budget on earlier,
    * smaller drifts — the least-measured numbers got the least
    * re-measurement. So: (a) suspects are ordered by normalized drift,
    * LARGEST first, so the cap covers the worst offenders; (b) a
    * passes:1 suspect is granted a retry even past the cap — a
    * single-pass number is precisely the least trustworthy one in the
    * run — EXCEPT under whole-run drift, where the grant is suppressed
    * along with the cap (a drifted VM that also blew the deadline
    * makes nearly every query a single-pass suspect, and uncapped
    * grants would re-run most of the suite); (c) when `wholeRunDrift`
    * (the calib bracket itself exceeded SuspectRatio vs the previous
    * entry — the VM is slow, not the code) the cap damps to 3: most
    * suspects are machine noise a retry can't fix, and 15 retries on
    * a slow VM roughly double wall time while calib_vs_prev already
    * explains the entry. */
  private[graft] def retryPlan(
      results: Seq[(String, Option[Double], Int)],
      baseline: Map[String, Double],
      wholeRunDrift: Boolean,
      cap: Int = 15): Seq[String] = {
    val suspects = results
      .collect { case (n, best, p) if isSuspect(best, baseline.get(n)) =>
        (n, best.get / baseline(n), p) }
      .sortBy { case (_, drift, _) => -drift }
    val budget = if (wholeRunDrift) math.min(cap, 3) else cap
    val inBudget = suspects.take(budget).map(_._1)
    // passes:1 grants do NOT bypass the whole-run-drift damper (r11
    // review): on a drifted VM that also blew the pass-2 deadline,
    // nearly every query is a single-pass suspect and uncapped grants
    // would re-run most of the suite — the exact cost the damper
    // exists to avoid. calib_vs_prev already marks the entry.
    val singlePass =
      if (wholeRunDrift) Nil else suspects.collect { case (n, _, 1) => n }
    (inBudget ++ singlePass).distinct
  }

  /** The ONE contract line the driver parses (last JSON line on stdout).
    * Carries the per-query map (`"queries"`) the driver's per-query and
    * 32-vs-8-cpu scaling comparisons read — restored r13, see the object
    * scaladoc for the r01 misdiagnosis. Sorted names so runs diff
    * cleanly; a failed query renders `null`, matching its per-query
    * line. `passesSec` is each pass's summed seconds. Pure so
    * BenchHistorySpec can pin the shape. */
  private[graft] def totalLine(
      total: Double,
      sfDir: String,
      minPasses: Int,
      results: Seq[(String, Option[Double], Int)],
      calibBefore: Double,
      calibAfter: Double,
      flagged: Boolean,
      passesSec: Seq[Double]): String = {
    val flagField = if (flagged) ""","calib_flagged":true""" else ""
    val qMap = results.sortBy(_._1).map { case (n, best, _) =>
      s""""$n":${best.map(v => f"$v%.4f").getOrElse("null")}"""
    }.mkString(",")
    val passes = passesSec.map(v => f"$v%.4f").mkString(",")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":{$qMap},"passes_sec":[$passes],"sf":"$sfDir","passes":$minPasses,"n_queries":${results.size},"calib_sec":[$calibBefore,$calibAfter]$flagField}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // parallelismFirst stays at its DEFAULT (true) — measured, not
      // assumed (r13 honest negative): size-first AQE coalescing
      // (`coalescePartitions.parallelismFirst=false`, the guide §2.2
      // posture for byte-bound shuffles) ran the full suite at 181.8 s
      // vs 156.1 back-to-back (median per-query raw ratio 1.103, 83
      // rows >1.2× vs 14 <0.8×): this suite's shuffles are CPU-heavy
      // but small in bytes (md5/gram/vector arithmetic over ≤ tens of
      // MB), so folding them toward 64 MB partitions serializes the
      // compute (dedup_prefix_filter 2.7 → 6.2 s). The same shape
      // holds on a cluster — partition sizing must follow compute
      // density here, which parallelism-first already does.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The noop sink executes every operator and projection (count() would
    // let Spark skip column evaluation).
    def exec(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
      } finally {
        // Queries that materialize intermediate tables (minhash
        // signatures, decontamination grams, affected-rebuild weighted)
        // never drop those blocks themselves; across 86 queries × 2
        // passes they pile up in the block manager and squeeze
        // execution memory for every query that runs later — the
        // leading suspect for the q_weighted_events 7 s outlier on the
        // driver VM that never reproduced in isolation. Unpersisting
        // between queries keeps each measurement independent (a
        // query's checkpoints still serve all consumers WITHIN it).
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }
    // Constant-cost calibration workload: 64M synthetic longs hashed into
    // 4096 groups and summed — one shuffle, full codegen, zero file I/O,
    // zero dependence on SPARK_GRAFT_SF_DIR. Its wall time moves only
    // when the VM does.
    def calib(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(0L, 64L * 1024 * 1024, 1L, 32)
        .select((pmod(col("id") * lit(2654435761L), lit(4096))).as("k"), col("id").as("v"))
        .groupBy("k").agg(sum("v").as("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def calibLine(sec: Double): Unit =
      println(s"""{"query":"__calib__","sec":$sec,"passes":1}""")
    // SECOND calibration anchor, with an IO+decode term (r11
    // forensics: the pure-CPU calib dropped 35% day-over-day while
    // every query was raw-flat, so single-anchor normalization lied
    // about a 1.36× "regression"; a full lineitem scan-and-sum moves
    // with the machine's IO/decode profile instead). Same-SF entries
    // only ever compare to each other, so sf-dependence is fine.
    // Recorded in the committed history line ONLY — the stdout
    // contract (driver-parsed) stays untouched.
    def calibIo(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      graft.sources.ViewingData.table(spark, sfDir, "lineitem")
        .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_ONLY=q1,q2 narrows the run for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-run random EXECUTION order (r10 forensics: the pass-2 soft
    // deadline always truncated the same alphabetical tail — text_* —
    // so one query family was systematically the least-measured in
    // every long run). The history line still sorts by name; only the
    // run order varies.
    val sortedNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val names = new scala.util.Random().shuffle(sortedNames)
    // Warm-up: touch every table (first-scan I/O + footer caching) and
    // run two queries (codegen/JIT) so measured runs reflect compute.
    // The warm pair is FIXED (alphabetically first two), not the
    // shuffled head — a random pair would get an extra JIT-warm pass
    // on a different pair each run, injecting per-query cross-run
    // variance into the history the suspect gate consumes.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.sources.ViewingData.table(spark, sfDir, t).count())
    sortedNames.take(2).foreach(exec)
    calib() // calib's own warm-up (first run JITs its codegen'd stage)
    val calibBefore = calib()
    val calibIoBefore = { calibIo(); calibIo() } // first run warms footers/JIT
    // Wall times swing ~2× run to run (GC/JIT/VM noise lands on random
    // queries); per-query MIN over two back-to-back passes reports
    // steady-state throughput, the JMH practice. Second passes stop once
    // the soft deadline is hit (first passes always run), so a long
    // suite degrades to single-pass per query instead of being skipped
    // wholesale — and each line records how many passes it got.
    // 900, not 420 (r13): at 250 queries the driver's own r12 runs blew
    // the 420 s soft deadline mid-suite (loaded 32-cpu pass 1 alone was
    // 463 s; the 8-cpu run crossed it halfway), so most rows recorded
    // passes:1 — single-pass numbers exactly where the driver measures.
    // The deadline still degrades a pathological run to single-pass
    // instead of hanging; it just no longer truncates a NORMAL 250-query
    // run's second pass at either core count.
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "900").toDouble
    val started = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - started) / 1e9
    val passes = names.map { n =>
      val t1 = exec(n)
      // the second attempt also runs when pass 1 FAILED — a transient
      // error should cost one pass, not the whole query's number
      val t2 = if (elapsed < budget) exec(n) else None
      (n, t1, t2)
    }
    val results = passes.map { case (n, t1, t2) =>
      (n, (t1.toSeq ++ t2.toSeq).minOption, t1.size + t2.size)
    }
    val passesSec = Seq(passes.flatMap(_._2).sum, passes.flatMap(_._3).sum)
    // LOAD-BURST DEFENSE (driver-round-8 forensics: a VM burst minted
    // a 15.4× vs_prev row for dedup_embedding that cost a round to
    // disprove). Before a full run enters the committed history, any
    // query whose min-of-two landed far above its previous-entry time
    // gets ONE more pass — a transient burst loses to the retry, a
    // real regression reproduces and keeps its number. Raw-seconds
    // threshold (not calib-normalized): the calib bracket can't see a
    // mid-run burst, which is exactly the failure mode this defends
    // against. Capped at 15 retries: more suspects than that is a
    // wholesale VM/code shift the retry pass can't fix (and vs_prev +
    // calib_vs_prev already make it legible).
    val histPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY", "bench/history.jsonl")
    val prevForGate =
      if (only.isEmpty) BenchHistory.prevEntry(histPath, sfDir) else None
    val prevIo =
      if (only.isEmpty) BenchHistory.prevCalibIo(histPath, sfDir) else None
    val minRecentCalib =
      if (only.isEmpty) BenchHistory.minCalibOverRecent(histPath, sfDir, 5) else None
    // The gate's baseline is the per-query MIN over the last few
    // entries, not the single last entry: a junk entry measured under
    // a VM load burst (calib 2-4× normal — two such landed in r10)
    // would otherwise blind the gate for the NEXT run, since every
    // query looks fast against inflated numbers. vs_prev in the
    // history line still compares the last entry (continuity).
    val gateBaseline =
      if (only.isEmpty) BenchHistory.minOverRecent(histPath, sfDir, 3)
      else Map.empty[String, Double]
    val retried = prevForGate match {
      case Some((prevCalib, _)) =>
        // Whole-run drift check (r10 advice): a calib probe right
        // before the retry phase, so a burst that started mid-run is
        // seen too. When the bracket itself exceeds SuspectRatio the
        // VM is slow — damp the budget instead of burning 15 retries
        // re-measuring machine noise (calib_vs_prev already marks the
        // entry as drifted).
        val calibMid = calib()
        val wholeRunDrift = prevCalib > 0 &&
          math.max(calibBefore, calibMid) / prevCalib > SuspectRatio
        if (wholeRunDrift) System.err.println(
          f"[bench] whole-run VM drift (calib ${math.max(calibBefore, calibMid)}%.3f vs prev $prevCalib%.3f) — damping retry budget")
        val plan = retryPlan(results, gateBaseline, wholeRunDrift)
        val extra = plan.map { n =>
          System.err.println(
            f"[bench] re-measuring suspect $n (baseline ${gateBaseline(n)}%.3f s)")
          n -> exec(n)
        }.toMap
        results.map { case r @ (n, best, p) =>
          extra.get(n) match {
            case Some(t3) => (n, (best.toSeq ++ t3.toSeq).minOption, p + t3.size)
            case None => r
          }
        }
      case None => results
    }
    val calibAfter = calib()
    val calibIoAfter = calibIo()
    calibLine(calibBefore)
    retried.foreach { case (n, best, p) =>
      println(s"""{"query":"$n","sec":${best.map(_.toString).getOrElse("null")},"passes":$p}""")
    }
    calibLine(calibAfter)
    val total = retried.flatMap(_._2).sum
    // summary passes = weakest SUCCESSFUL query (failed queries print
    // sec:null on their own line; they must not zero the contract field)
    val succeeded = retried.filter(_._2.isDefined)
    val minPasses = if (succeeded.isEmpty) 0 else succeeded.map(_._3).min
    val flagged = isCalibFlagged((calibBefore + calibAfter) / 2.0, minRecentCalib)
    if (flagged) System.err.println(
      f"[bench] calib_flagged: bracket mean ${(calibBefore + calibAfter) / 2.0}%.3f exceeds ${CalibFlagRatio}x the recent min ${minRecentCalib.getOrElse(0.0)}%.3f — loaded VM, totals are not comparable raw")
    println(totalLine(total, sfDir, minPasses, retried, calibBefore,
      calibAfter, flagged, passesSec))
    // Narrowed iteration runs stay out of the committed history: a
    // 3-query line would become the next full run's vs_prev baseline
    // and blind the per-query deltas for everything it omits.
    if (only.isEmpty)
      BenchHistory.append(histPath,
        BenchHistory.line(sfDir, calibBefore, calibAfter, total, retried,
          prevForGate, calibIo = Some((calibIoBefore, calibIoAfter)),
          prevCalibIoMean = prevIo, calibFlagged = flagged))
    spark.stop()
  }
}

/** The committed per-query record the stdout contract can't carry.
  * One JSON line per bench RUN appended to `bench/history.jsonl`
  * (git-tracked), holding the complete per-query map plus the calib
  * bracket and the commit it ran against. Analysis rule: a query's
  * cross-round regression is real only if `sec / calib_mean` moved —
  * raw seconds move with the VM (the round-6 driver total swung +23%
  * on calib drift alone, and without this file that was unfalsifiable
  * until a full manual re-run). */
object BenchHistory {
  /** Render one run as a single JSON line. Key order is stable
    * (sorted query names) so consecutive runs diff cleanly.
    *
    * When `prev` (the last same-SF entry, from [[prevEntry]]) is
    * given, each query additionally records `vs_prev` — the ratio of
    * CALIB-NORMALIZED times, (sec/calib_mean) / (prev_sec/prev_calib)
    * — and the top level records `calib_vs_prev`. Reading rule: a
    * run whose `calib_vs_prev` is far from 1 ran on a drifted VM and
    * its raw seconds are noise; a query whose `vs_prev` is far from 1
    * while `calib_vs_prev` stayed near 1 is a real plan change. This
    * is exactly the analysis the round-6 driver bench needed (total
    * +145% on calib +300% — noise, but only provable by hand). */
  def line(
      sfDir: String,
      calibBefore: Double,
      calibAfter: Double,
      total: Double,
      results: Seq[(String, Option[Double], Int)],
      prev: Option[(Double, Map[String, Double])] = None,
      calibIo: Option[(Double, Double)] = None,
      prevCalibIoMean: Option[Double] = None,
      calibFlagged: Boolean = false): String = {
    val ts = java.time.Instant.now().toString
    val calibMean = (calibBefore + calibAfter) / 2.0
    val qs = results.sortBy(_._1).map { case (n, sec, passes) =>
      val s = sec.map(v => f"$v%.4f").getOrElse("null")
      val vs = for {
        (pCalib, pSecs) <- prev
        cur <- sec
        p <- pSecs.get(n)
        if p > 0 && pCalib > 0 && calibMean > 0
      } yield f""","vs_prev":${(cur / calibMean) / (p / pCalib)}%.3f"""
      s""""$n":{"sec":$s,"passes":$passes${vs.getOrElse("")}}"""
    }.mkString(",")
    val calibVs = prev.collect { case (pCalib, _) if pCalib > 0 =>
      f""","calib_vs_prev":${calibMean / pCalib}%.3f""" }.getOrElse("")
    val io = calibIo.map { case (a, b) =>
      f""","calib_io_sec":[$a%.4f,$b%.4f]""" }.getOrElse("")
    // Cross-day instruments (PLANS.md r11: the pure-CPU calib dropped
    // 35% day-over-day while queries were raw-flat, so single-anchor
    // normalized totals lied). Two additions make any entry readable
    // on its own: `calib_io_vs_prev` — the IO+decode anchor's drift,
    // the second opinion on whether the MACHINE moved — and
    // `median_raw_ratio` — the median of per-query RAW sec ratios vs
    // the previous entry, the robust code-change instrument (a VM
    // shift moves the calibs; a plan change moves the median).
    val ioVs = (for {
      (a, b) <- calibIo; p <- prevCalibIoMean if p > 0
    } yield f""","calib_io_vs_prev":${((a + b) / 2.0) / p}%.3f""").getOrElse("")
    val medRaw = prev.map(_._2).map { pSecs =>
      val ratios = results.flatMap { case (n, sec, _) =>
        for (cur <- sec; p <- pSecs.get(n) if p > 0) yield cur / p
      }.sorted
      ratios
    }.filter(_.nonEmpty).map { r =>
      val m = if (r.size % 2 == 1) r(r.size / 2)
              else (r(r.size / 2 - 1) + r(r.size / 2)) / 2.0
      f""","median_raw_ratio":$m%.3f"""
    }.getOrElse("")
    val flag = if (calibFlagged) ""","calib_flagged":true""" else ""
    f"""{"ts":"$ts","git":"${gitHead()}","sf":"$sfDir","calib_sec":[$calibBefore%.4f,$calibAfter%.4f],"calib_mean":$calibMean%.4f$io$ioVs$calibVs$medRaw$flag,"total_sec":$total%.4f,"n_queries":${results.size},"queries":{$qs}}"""
  }

  private val CalibMeanRe = """"calib_mean":([0-9.eE+-]+)""".r
  private val QuerySecRe = """"([A-Za-z0-9_]+)":\{"sec":([0-9.eE+-]+)""".r
  private val CalibIoRe =
    """"calib_io_sec":\[([0-9.eE+-]+),([0-9.eE+-]+)\]""".r

  /** Shared last-k reader: the most recent `k` same-SF history lines,
    * newest first. */
  private def lastEntries(path: String, sfDir: String, k: Int): List[String] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) Nil
      else {
        val needle = s""""sf":"$sfDir""""
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        try src.getLines().filter(_.contains(needle))
          .foldLeft(List.empty[String])((acc, l) => (l :: acc).take(k))
        finally src.close()
      }
    } catch { case _: Exception => Nil }

  /** `[0-9.eE+-]+` admits strings toDouble rejects (`1.2e`, `-`);
    * history is telemetry, not a dependency — a hand-edited line must
    * degrade to "no data", never throw (the prevEntry contract; r12
    * review: the refactor to [[lastEntries]] had moved the parses
    * outside any catch). */
  private def parseDouble(s: String): Option[Double] =
    try Some(s.toDouble) catch { case _: NumberFormatException => None }

  /** Mean of the last same-SF entry's `calib_io_sec` bracket — the
    * IO+decode anchor's previous value for `calib_io_vs_prev`. */
  def prevCalibIo(path: String, sfDir: String): Option[Double] =
    lastEntries(path, sfDir, 1).headOption.flatMap { l =>
      CalibIoRe.findFirstMatchIn(l).flatMap { m =>
        for (a <- parseDouble(m.group(1)); b <- parseDouble(m.group(2)))
          yield (a + b) / 2.0
      }
    }

  /** MIN `calib_mean` over the last `k` same-SF entries — the
    * loaded-run flag's baseline ([[Bench.isCalibFlagged]]). Min, not
    * last: a junk (loaded) previous entry would otherwise make the
    * next clean run look normal-by-comparison and the next loaded
    * run unflaggable. */
  def minCalibOverRecent(path: String, sfDir: String, k: Int): Option[Double] =
    lastEntries(path, sfDir, k)
      .flatMap(l => CalibMeanRe.findFirstMatchIn(l)
        .flatMap(m => parseDouble(m.group(1))))
      .minOption

  /** The last history entry for the SAME sf dir — (calib_mean,
    * query→sec). Parsed with regexes over the format [[line]] itself
    * emits (no JSON lib on the unmanaged classpath); a hand-edited or
    * foreign line that doesn't match simply yields None/empty, never
    * a throw — history is telemetry, not a dependency. */
  def prevEntry(path: String, sfDir: String): Option[(Double, Map[String, Double])] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val needle = s""""sf":"$sfDir""""
        val src = scala.io.Source.fromFile(p.toFile, "UTF-8")
        val last = try src.getLines().filter(_.contains(needle)).foldLeft(
          Option.empty[String])((_, l) => Some(l)) finally src.close()
        last.flatMap { l =>
          CalibMeanRe.findFirstMatchIn(l).flatMap { m =>
            parseDouble(m.group(1)).map { calib =>
              // per-value parse (r12 review): one malformed sec must
              // skip that value, not discard the whole entry
              val qs = QuerySecRe.findAllMatchIn(l)
                .flatMap(q => parseDouble(q.group(2)).map(q.group(1) -> _))
                .toMap
              (calib, qs)
            }
          }
        }
      }
    } catch { case _: Exception => None }

  /** Per-query MIN seconds over the last `k` same-SF history entries —
    * the suspect-gate baseline. Min-of-recent is robust to a junk
    * entry measured under a VM load burst (r10 minted two with calib
    * 2–4× normal): against an inflated last entry every query looks
    * fast and the gate goes blind for a round; against the min of a
    * few entries only a genuinely slower query fires it. Queries not
    * present in any of the k entries are absent (new rows have no
    * baseline). */
  def minOverRecent(path: String, sfDir: String, k: Int): Map[String, Double] =
    lastEntries(path, sfDir, k).flatMap { l =>
      QuerySecRe.findAllMatchIn(l)
        .flatMap(q => parseDouble(q.group(2)).map(q.group(1) -> _))
    }.groupMapReduce(_._1)(_._2)(math.min)

  /** Append (create parents on first run). Best-effort by design: a
    * read-only checkout must not fail the bench — stdout is still the
    * driver contract; the file is the record. */
  def append(path: String, jsonLine: String): Unit =
    try {
      val p = java.nio.file.Paths.get(path)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(
        p, (jsonLine + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch {
      case e: Exception => System.err.println(s"[bench] history append skipped: $e")
    }

  /** Short commit sha of the working tree the bench ran in, resolved
    * by reading .git directly (no shell-out — the bench must not fork
    * processes on the driver VM). */
  private[graft] def gitHead(dir: String = "."): String =
    try {
      val git = java.nio.file.Paths.get(dir, ".git")
      val head = new String(
        java.nio.file.Files.readAllBytes(git.resolve("HEAD")), "UTF-8").trim
      val sha =
        if (head.startsWith("ref: ")) {
          val ref = git.resolve(head.stripPrefix("ref: "))
          if (java.nio.file.Files.exists(ref))
            new String(java.nio.file.Files.readAllBytes(ref), "UTF-8").trim
          else { // packed-refs fallback after gc
            val packed = git.resolve("packed-refs")
            scala.io.Source.fromFile(packed.toFile, "UTF-8").getLines()
              .find(_.endsWith(" " + head.stripPrefix("ref: ")))
              .map(_.split(" ")(0)).getOrElse("")
          }
        } else head
      if (sha.isEmpty) "unknown" else sha.take(12)
    } catch { case _: Exception => "unknown" }
}
