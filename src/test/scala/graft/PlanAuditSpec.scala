package graft

/** Automated plan-regression guards for the scale properties PLANS.md
  * documents — if a refactor breaks pushdown, pruning, broadcast
  * placement, or the single-fact-shuffle sessionization, this fails
  * before the bench notices. Assertions run on the executed plan
  * string at sf0.001 (plan SHAPE is scale-invariant; sizes are not,
  * so only shapes are pinned). */
class PlanAuditSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, Sf).queryExecution.executedPlan.toString

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val df = SparkEntry.queries("q1_agg")(spark, Sf)
    // sparkPlan, not executedPlan: AQE wraps the tree and hides leaves
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val meta = scans.map(_.metadata).head
    assert(meta("PushedFilters").contains("LessThanOrEqual(l_shipdate"),
      s"shipdate predicate must reach the scan: ${meta("PushedFilters")}")
    // column pruning: the 11-column lineitem scan reads only 6 columns
    // (count parsed fields — a string split would miscount decimal(p,s))
    assert(scans.head.requiredSchema.fields.length <= 6,
      scans.head.requiredSchema.treeString)
  }

  test("corpus_ppl_buckets serves WINDOWLESS — thresholds are literals") {
    // the CCNet bucketing's scale claim: the rank window runs only
    // over the calibration sample (inside the builder, collected to
    // two literal thresholds); the SERVED frame must therefore plan
    // no Window and no global Sort — a refactor that buckets via
    // ntile/rank over the corpus would reintroduce the single-reducer
    // global window this row exists to avoid
    val p = plan("corpus_ppl_buckets")
    assert(!p.contains("Window"), s"serving path must be windowless:\n$p")
    assert(!p.contains("Sort ["), s"serving path must not globally sort:\n$p")
  }

  test("corpus_ppl_buckets threshold selection reads a rate-CAPPED sample") {
    // the r11 weak item: the calibration pool (doc_id % 10) fed the
    // single-task rank window uncapped — 10% of a 100-TB corpus
    // through one sort task. The fix gates the pool by an md5 rate
    // threshold targeting a fixed N; this pin builds the calibration
    // frame directly and asserts (a) the gate is in-plan below the
    // window stage and (b) the sample lands in the cap's binomial
    // envelope, not at pool size.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val lp = spark.range(0L, 50000L).toDF("doc_id")
      .withColumn("logprob", col("doc_id").cast("double") / 100.0)
    val gated = QueriesLLM.pplCalibrationPool(lp, cap = 128L)
    val n = gated.count() // pool is 5000; expected 128, sd ~11
    assert(n > 60 && n < 256, s"cap=128 over a 5000-doc pool drew $n")
    val gp = gated.queryExecution.executedPlan.toString
    assert(gp.contains("md5"), s"the rate gate must be in-plan:\n$gp")
    // and at cap >= pool the gate keeps (65535/65536 of) everything
    val full = QueriesLLM.pplCalibrationPool(lp, cap = 1000000L).count()
    assert(full >= 4998 && full <= 5000, s"uncapped pool must survive: $full")
  }

  test("text_contamination_report folds once, broadcast joins only") {
    val p = plan("text_contamination_report")
    assert(!p.contains("SortMergeJoin"),
      s"test-gram probes must broadcast, never shuffle-join:\n$p")
    // ONE per-doc fold computes both counts (r11 review: the
    // two-aggregate + doc_id-join shape spent three shuffles); the
    // gram-keyed distincts (test set, matched set) are their own
    // aggregates and don't count
    val docFolds = "HashAggregate\\(keys=\\[doc_id".r.findAllIn(p).length
    assert(docFolds == 2, // partial + final of the single fold
      s"the per-test-doc fold must run once, got $docFolds doc_id aggregates:\n$p")
  }

  test("q_join_dims plans broadcast joins only — no shuffle join") {
    val p = plan("q_join_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"dim joins must broadcast:\n$p")
  }

  test("q_sessionize shuffles the fact side exactly once") {
    val p = plan("q_sessionize")
    // the one fact shuffle is the sessions fold's
    // hashpartitioning(hh_id, title, content_id); the only other
    // exchanges sit under tiny broadcast/dim subtrees
    val factExchanges = "Exchange hashpartitioning\\(hh_id".r.findAllIn(p).size
    assert(factExchanges == 1, s"expected ONE fact shuffle, got $factExchanges:\n$p")
  }

  test("Pipeline.sessions folds in one pass: no Window, no aggregate, one exchange on the session keys") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val root = Pipeline.sessions(spark, Sf).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // the fact side: every node outside the small broadcast subtrees
    def factSide(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: BroadcastExchangeExec => Nil
      case _ => p.children.flatMap(factSide)
    })
    val nodes = factSide(root)
    assert(nodes.exists(_.isInstanceOf[graft.plans.SessionFoldExec]), root.toString)
    assert(!nodes.exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[BaseAggregateExec]),
      s"the sessions fold must replace the windows and the aggregate:\n$root")
    val shuffled = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val keyed = shuffled.collect { case h: HashPartitioning =>
      h.expressions.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute].name)
    }
    assert(shuffled.size == 1 && keyed == Seq(Pipeline.SessionKeys),
      s"expected one exchange on ${Pipeline.SessionKeys}, got $shuffled:\n$root")
  }

  test("q_topk_window plans WindowGroupLimit (map-side top-k pruning)") {
    assert(plan("q_topk_window").contains("WindowGroupLimit"))
  }

  test("q_lateral rewrites correlated LIMIT 1 to WindowGroupLimit + broadcast") {
    val p = plan("q_lateral")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("ann_bruteforce plans distributed TakeOrderedAndProject, not a global sort") {
    val p = plan("ann_bruteforce")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_tokens scan prunes to the two referenced columns") {
    val df = SparkEntry.queries("text_tokens")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val schema = scans.head.metadata("ReadSchema")
    assert(schema.contains("doc_id") && schema.contains("text") &&
      !schema.contains("lang") && !schema.contains("source"), schema)
  }

  test("text_decontaminate broadcasts the test-gram side — training side never shuffles on gram") {
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    // exactly ONE gram-keyed exchange: the tiny test-set distinct.
    // The training side's exchanges key on doc_id (per-doc distinct /
    // counts); a second gram-first exchange would mean the corpus is
    // being shuffled on the gram key — the scale-killer.
    val gramKeyed = "Exchange hashpartitioning\\(gram".r.findAllIn(p).size
    assert(gramKeyed <= 1, s"corpus-side gram shuffle:\n$p")
  }

  test("text_repetition never shuffles on a key — at most one local fan-out") {
    val p = plan("text_repetition")
    // the per-row signal must not hash-shuffle; the only exchange
    // allowed is Par.widen's round-robin, which fires only when the
    // scan under-fills local parallelism (identity at scale)
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row signal must not key-shuffle:\n$p")
    val fanOuts = "Exchange RoundRobinPartitioning".r.findAllIn(p).size
    assert(fanOuts <= 1, s"expected at most one fan-out:\n$p")
  }

  test("q_weighted_events keeps the fact side broadcast-only — no fact shuffle, no merge join") {
    val p = plan("q_weighted_events")
    // the weight join must broadcast the small side and the panel
    // as-of is a projection; the only hash exchanges permitted are
    // inside the tiny broadcast subtree (the weights' distinct
    // Mondays), never keyed on a fact column
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"weight/panel joins must broadcast:\n$p")
    val factKeyed =
      "Exchange hashpartitioning\\((smba_id|event_id|exposure_start_ts|metadata_date)".r
        .findAllIn(p).size
    assert(factKeyed == 0, s"fact-side exchange found:\n$p")
  }

  test("corpus_shuffle is a pure projection — no exchange, no window") {
    val p = plan("corpus_shuffle")
    assert(!p.contains("Exchange") && !p.contains("Window"), p)
  }

  test("ann_knn_join prunes per-query top-k map-side (WindowGroupLimit)") {
    val p = plan("ann_knn_join")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k filter must prune before the window exchange:\n$p")
  }

  test("q_ingest_reject routes valid+rejected in ONE scan of the feed") {
    val df = SparkEntry.queries("q_ingest_reject")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // a union of tryIngest's two sides would read events twice — the
    // summary must stay a single marked projection
    assert(scans.length == 1, s"expected one scan, got ${scans.length}")
    assert(!df.queryExecution.executedPlan.toString.contains("Union"),
      "routing must be a projection, not a two-sided union")
  }

  test("corpus_prep_e2e gate filter reads materialized signals, not inlined re-tokenization") {
    val p = plan("corpus_prep_e2e")
    // without the signal-table barrier, predicate pushdown inlines
    // every gate alias into one Filter — split() appeared 33× in the
    // plan and re-tokenized each row ~30×. Post-barrier the only
    // split is the scrubbed-text token count.
    val splits = "split\\(".r.findAllIn(p).size
    assert(splits <= 2, s"gate signals are being re-derived ($splits split() calls):\n$p")
  }

  test("q_bitmap_reach pre-aggregates map-side (two-level bitmap aggregate)") {
    val p = plan("q_bitmap_reach")
    // partial bitmap_distinct below the exchange, merge above — the
    // property that gives COUNT(DISTINCT)'s answer sum()'s shuffle
    assert("ObjectHashAggregate.*partial_bitmap_distinct".r.findFirstIn(p).isDefined
      || "partial_bitmap_distinct".r.findAllIn(p).size >= 1, p)
    assert("bitmap_distinct".r.findAllIn(p).size >= 2, s"two levels expected:\n$p")
  }

  test("text_decontaminate_bloom probes the sketch BEFORE the gram distinct") {
    val p = plan("text_decontaminate_bloom")
    // the might_contain filter must sit below the candidate distinct's
    // exchange: the gram shuffle carries only probable hits
    val i = p.indexOf("might_contain")
    assert(i >= 0, p)
    val exchangeAfter = p.indexOf("Exchange hashpartitioning", 0)
    // textual order in the executed plan tree: the filter appears
    // DEEPER (later in the string) than the distinct exchange above it
    assert(i > exchangeAfter, s"bloom probe must be under the distinct exchange:\n$p")
  }

  test("q_islands runs distinct + window + both rollups on one user exchange") {
    val p = plan("q_islands")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userExchanges == 1, s"expected ONE user_id shuffle, got $userExchanges:\n$p")
  }

  test("partitioned upsert's target read prunes to the touched partitions") {
    // the exact read shape upsertPartitionedParquet issues: filter on
    // the partition column must land in PartitionFilters (directory
    // pruning), leaving the data filter list empty — the O(touched)
    // claim in the sink's contract
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prunepin").toString + "/t"
    (1 to 300).map(i => (i.toLong, i % 30, s"v$i"))
      .toDF("k", "day", "v").write.partitionBy("day").parquet(dir)
    val pruned = spark.read.option("basePath", dir).parquet(dir)
      .filter(org.apache.spark.sql.functions.col("day").isin(7, 8))
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "day")),
      s"day filter must be a partition filter: ${scan.partitionFilters}")
    // directory pruning is real: only the two touched partitions' files
    // are selected for read
    assert(scan.selectedPartitions.partitionCount == 2,
      s"expected 2 selected partitions, got ${scan.selectedPartitions.partitionCount}")
  }

  test("q_sliding_reach windows merge checkpointed day-bitmaps — no second events scan") {
    val p = plan("q_sliding_reach")
    // the events parquet is read ONCE, at the daily-bitmap
    // materialization; the 7-window explode+merge below must consume
    // the checkpoint, not re-scan the fact table
    assert(!p.contains("events.parquet"),
      s"sliding-window merge must read the checkpointed daily bitmaps:\n$p")
    assert(p.contains("bitmap_or_count"), p)
  }

  test("q_star_join6 keeps all dims broadcast — no cartesian, one fact-key shuffle pair") {
    val p = plan("q_star_join6")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"six-way star join must stay equi-join only:\n$p")
    val bcasts = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bcasts >= 3, s"region/nation/supplier (+customer) should broadcast, got $bcasts:\n$p")
    // the only hash exchanges allowed are the orders↔lineitem fact
    // keys (shuffle join at scale; at this SF they broadcast too) and
    // the final group-by — never a dim key
    val allowed =
      "Exchange hashpartitioning\\((l_orderkey|o_orderkey|r_name)".r.findAllIn(p).size
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(allExchanges == allowed,
      s"no dim-key shuffles expected:\n$p")
  }

  test("q_star_join3 pushes all three filters into their scans") {
    val p = plan("q_star_join3")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)") ||
      p.contains("EqualTo(c_mktsegment,BUILDING)"), s"segment filter must reach the scan:\n$p")
    assert(p.contains("LessThan(o_orderdate") && p.contains("GreaterThan(l_shipdate"),
      s"date filters must reach the scans:\n$p")
  }

  test("q_gap_fill scans events once: spine + fill consume the checkpointed daily agg") {
    val p = plan("q_gap_fill")
    assert(!p.contains("events.parquet"),
      s"users/bounds/daily must all derive from ONE events read:\n$p")
  }

  test("q_match_recognize packs sequences on one per-user exchange") {
    val p = plan("q_match_recognize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one user exchange, got $exchanges:\n$p")
  }

  test("q_sample_reservoir pre-aggregates the draw map-side — no window sort of all rows") {
    val p = plan("q_sample_reservoir")
    assert(p.contains("partial_topk_by"),
      s"reservoir must ride partial aggregation:\n$p")
    assert(!p.contains("Window"), s"no window operator expected:\n$p")
  }

  test("q_change_events rides ONE user exchange: lag + both counters + rollup") {
    val p = plan("q_change_events")
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1, s"expected ONE user_id shuffle, got $exchanges:\n$p")
    // one sort feeds every window pass and the final aggregate
    assert("\\bSort \\[".r.findAllIn(p).size == 1, s"expected one sort:\n$p")
  }

  test("q_ratio_report's window runs over the reduced daily frame, not events") {
    val p = plan("q_ratio_report")
    // aggregate first (partial+final pair), THEN the share window — the
    // window's exchange carries |type × day| rows, not |events|
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0 && winIdx < aggIdx,
      s"window must sit ABOVE the aggregate in the tree:\n$p")
  }

  test("dedup_embedding_incremental: delta broadcasts, corpus never shuffles") {
    val p = plan("dedup_embedding_incremental")
    // the old×new probe is a broadcast hash join (delta side); the
    // corpus side must not be exchanged on label for it
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must stream through a broadcast probe, not sort-merge:\n$p")
  }

  test("dedup_incremental_oracle: index streams through a broadcast band probe") {
    val p = plan("dedup_incremental_oracle")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"the band index must stream through a broadcast probe:\n$p")
  }

  test("text_bm25 selects its top-k distributed (TakeOrderedAndProject, no corpus-wide window sort)") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ewma and q_twap ride ONE user-keyed exchange each (window + agg co-partitioned)") {
    val pe = plan("q_ewma")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(pe).size == 1,
      s"ewma must shuffle once on user_id:\n$pe")
    // twap: window keys (user_id, day) and the groupBy reuse one exchange
    val pt = plan("q_twap")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(pt).size == 1,
      s"twap must shuffle once on (user_id, day):\n$pt")
  }

  test("text_tfidf prunes per-doc top-k map-side (WindowGroupLimit); chunk+embed stay shuffle-free") {
    assert(plan("text_tfidf").contains("WindowGroupLimit"), plan("text_tfidf"))
    // chunk→embed never shuffles on a KEY; the only exchange allowed is
    // Par.widen's local round-robin fan-out (identity at scale)
    val pc = plan("q_chunk_embed")
    assert(!pc.contains("Exchange hashpartitioning") &&
      !pc.contains("Exchange rangepartitioning"),
      s"chunk→embed is a scan-speed projection:\n$pc")
  }

  test("q_profile: four SINGLE-COLUMN scans, no multi-distinct Expand") {
    // r11: the one-scan/four-countDistinct form planned an Expand that
    // multiplied every row 5× before the wide aggregate (2.07 s at
    // sf0.1); four single-distinct aggregates cross-joined scan ONE
    // parquet column each with no row expansion (0.69 s). The pin:
    // column pruning must hold per scan (a regression to a shared
    // wide scan or a re-merged multi-distinct brings Expand back).
    val df = SparkEntry.queries("q_profile")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 4, s"one pruned scan per profiled column, got ${scans.size}")
    scans.foreach(s => assert(s.requiredSchema.fields.length == 1,
      s"each profile scan reads exactly its own column: ${s.requiredSchema.treeString}"))
    assert(!df.queryExecution.sparkPlan.toString.contains("Expand"),
      "the 5x multi-distinct Expand must stay gone")
  }

  test("dedup_fuzzy_names pairs only within blocks after the distinct-first fold") {
    val p = plan("dedup_fuzzy_names")
    // the entity fold aggregates BEFORE any join, and the pair join is
    // an equi-join on the block key (never a cartesian/NL over rows)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy pairing must be block-bucketed:\n$p")
  }

  test("q_anomaly_mad joins group medians back by broadcast only") {
    val p = plan("q_anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"|event_type|-row median tables must broadcast:\n$p")
  }

  test("dedup_substring_fast is two hash exchanges: bucket fold + pair count") {
    val p = plan("dedup_substring_fast")
    // fingerprinting is scan-local; the only hash shuffles are the
    // fingerprint bucket aggregate and the (doc_a, doc_b) count — the
    // df-cap join and a/b self-join exchanges were folded away
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no join shuffle in the capped path:\n$p")
  }

  test("corpus_dsir broadcasts the 64-row contrast table into the token scan") {
    val p = plan("corpus_dsir")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"bucket-contrast join must broadcast:\n$p")
  }

  test("mm_frame_sample is a pure scan: no shuffle, no join") {
    val p = plan("mm_frame_sample")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"frame sampling must stay scan-local:\n$p")
  }

  test("graph_triangles joins are equi-joins — never a cartesian wedge") {
    val p = plan("graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"oriented wedge join must be an equi-join:\n$p")
  }

  test("ann_q8_oracle scores at scan speed: broadcast query, TakeOrdered top-k") {
    val p = plan("ann_q8_oracle")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the one-row query frame must broadcast:\n$p")
  }

  test("mm_audio_energy is a pure scan: no shuffle, no join, pcm_frames in codegen") {
    val p = plan("mm_audio_energy")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"PCM framing must stay scan-local:\n$p")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("pcm_frames")),
      s"expected pcm_frames inside a codegen stage:\n$p")
  }

  test("q_anonymity_audit is ONE scan through the multi-distinct expand") {
    val df = SparkEntry.queries("q_anonymity_audit")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"audit must scan events once, got ${scans.size}")
    assert(df.queryExecution.sparkPlan.toString.contains("Expand"),
      "exact k/l distincts go through Expand by design (swap to bitmap at 100 TB)")
  }

  test("ann_diversity_sample draws per-cell quotas via the bounded topk_by heap") {
    val p = plan("ann_diversity_sample")
    assert(p.contains("topk_by"), s"per-cell draw must be the bounded heap:\n$p")
    assert(!p.contains("WindowGroupLimit") && !"""Window\b""".r.findFirstIn(p).isDefined,
      s"no whole-cell window sort:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"centroids must broadcast:\n$p")
  }

  test("mm_audio_segments: island window + segment agg share ONE exchange") {
    val p = plan("mm_audio_segments")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected one (doc_id, active) exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), s"segmentation is single-table:\n$p")
  }

  test("ann_pair_mining: positives cell-bucketed (equi-join), negatives broadcast") {
    val p = plan("ann_pair_mining")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hard-positive search must stay cell-local:\n$p")
  }

  test("q_anonymity_enforce: both release branches read the materialized group table") {
    val df = SparkEntry.queries("q_anonymity_enforce")(spark, Sf)
    // the audit aggregate materializes once (localCheckpoint); the
    // release plan must contain NO parquet scan — a file scan here
    // means a branch re-instantiated the aggregate (fact read twice)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty,
      s"pass/generalize split is group-table arithmetic, got ${scans.size} scans")
  }

  test("q_freq_distribution: panel weights broadcast, fact folds before the join") {
    val p = plan("q_freq_distribution")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"panel-sized weight table must broadcast:\n$p")
  }

  test("q_geo_distance folds at scan speed: zero joins, one aggregate exchange") {
    val p = plan("q_geo_distance")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_geohash_cells: encode is scan-local — no join, one cell-agg exchange") {
    val p = plan("q_geohash_cells")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_interpolate: both fill windows share one per-user partitioning") {
    val p = plan("q_interpolate")
    // spine fan-out is a broadcast one-row bounds frame (its global
    // min/max agg is the only SinglePartition exchange); the prev/next
    // windows and the spine join all ride ONE hashpartitioning(user_id)
    assert(!p.contains("CartesianProduct"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    val windows = "windowspecdefinition\\(user_id".r.findAllIn(p).size
    assert(windows == 2, s"both fill windows must partition by user_id:\n$p")
  }

  test("graph_jaccard: wedge join and degree joins are equi-joins") {
    val p = plan("graph_jaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_peak_concurrency: curve window and peak agg share one content exchange") {
    val p = plan("q_peak_concurrency")
    assert("Exchange hashpartitioning\\(content_id".r.findAllIn(p).size == 1, p)
  }

  test("q_trip_segment: LAG, cumsum, and trip agg share one user exchange") {
    val p = plan("q_trip_segment")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_weighted_median: weights broadcast, no shuffle join") {
    val p = plan("q_weighted_median")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q_asof_nearest: both direction windows ride ONE key-only exchange") {
    val p = plan("q_asof_nearest")
    // one (k, t) exchange belongs to the right side's dedup pre-agg;
    // the as-of itself gets exactly one key-only exchange shared by
    // BOTH direction windows
    assert("hashpartitioning\\(k#\\d+L, \\d+\\)".r.findAllIn(p).size == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_asof_tolerance keeps nearestBefore's single-shuffle shape") {
    val p = plan("q_asof_tolerance")
    assert("hashpartitioning\\(k#\\d+L, \\d+\\)".r.findAllIn(p).size == 1, p)
  }

  test("q_asof_join: one key-only exchange and no broadcast probe") {
    val p = plan("q_asof_join")
    // nearestBefore has one plan, the union+window form, whatever the
    // right side's size: ONE key-only exchange, no custom operator
    assert("hashpartitioning\\(k#\\d+L, \\d+\\)".r.findAllIn(p).size == 1, p)
    assert(!p.contains("BroadcastAsOfJoin"), p)
  }

  test("q_connect_by: the hierarchy is walked on the driver — no join, no exchange") {
    // the documents tree fits Hierarchy's local route: the answer is a
    // local relation, so a change that sends the row back to the
    // per-level barrier loop brings its joins and exchanges back
    val p = plan("q_connect_by")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q_geo_dbscan / q_geofence_events: no cartesian anywhere") {
    Seq("q_geo_dbscan", "q_geofence_events").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(1200)}")
    }
  }

  test("q_binge_sessions: lag window, run cumsum, and run agg share ONE fact exchange") {
    val p = plan("q_binge_sessions")
    val factExchanges = "Exchange hashpartitioning\\(smba_id".r.findAllIn(p).size
    assert(factExchanges == 1, s"expected ONE (smba_id, title) shuffle, got $factExchanges:\n$p")
  }

  test("q_ratings_share / q_heavy_viewers: fact folds first; stat frames broadcast back") {
    val pr = plan("q_ratings_share")
    // weights and the three one-row stat frames join as broadcasts —
    // the fact never shuffles on a join key
    assert(pr.contains("BroadcastHashJoin") || pr.contains("BroadcastNestedLoopJoin"), pr)
    assert(!pr.contains("SortMergeJoin"), s"no shuffled join in ratings:\n$pr")
    val ph = plan("q_heavy_viewers")
    // the global ntile sorts the |viewers| entity fold, not the corpus:
    // the single-partition exchange must sit ABOVE the per-viewer agg
    assert(ph.contains("Exchange SinglePartition"), ph)
    assert(ph.indexOf("Exchange SinglePartition") <
      ph.indexOf("Exchange hashpartitioning(smba_id"),
      s"ntile must ride the entity fold (agg below the single-partition sort):\n$ph")
  }

  test("q_audience_duplication folds the fact once; pair explode rides the entity frame") {
    val p = plan("q_audience_duplication")
    // ONE fact-side exchange: the (smba_id, w) set fold (collect_set
    // subsumes the distinct). The pair/per folds group the exploded
    // ENTITY frame (checkpointed), and the per-network total joins
    // back broadcast — no second events scan, no fact self-join.
    val factExchanges = "Exchange hashpartitioning\\(smba_id".r.findAllIn(p).size
    assert(factExchanges <= 1, s"fact must fold once, got $factExchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_audience_flow checks lead-in viewer-locally — no slot self-join, one viewer exchange") {
    val p = plan("q_audience_flow")
    // the slot+1800 check is lead(slot) over (network, smba_id): the
    // dup-marking lag and the retention lead ride ONE viewer exchange
    // (same window spec, filter in between preserves partitioning and
    // ordering), plus the |network x slots| readout fold — never a
    // join of the slot grid against itself, and O(1) state per row
    // (the r9 verdict flagged the prior collect_set form as
    // span-proportional per-viewer state)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no join may appear — retention is a window lead:\n$p")
    val viewerExchanges =
      "Exchange hashpartitioning\\(network[^)]*smba_id".r.findAllIn(p).size
    assert(viewerExchanges == 1,
      s"both windows must share ONE (network, smba_id) exchange, got $viewerExchanges:\n$p")
    assert(p.contains("lead(slot"), p)
  }

  test("dedup_icws_incremental: index scan prunes sig; delta broadcasts into the probe") {
    // the economics of the persisted-index probe (r10): the candidate
    // join never reads the stored signatures — the index scan's
    // required schema is (doc_id, lsh_key) only — and the delta side
    // broadcasts (daily-increment contract), so the index is streamed,
    // shuffled never. Pinned on the OPERATOR's candidate frame: the
    // registry row checkpoints candidates before the verify, so the
    // returned plan no longer carries the index scan.
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.ViewingData.table(spark, Sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val path = java.nio.file.Files.createTempDirectory("icwsplan").toString + "/idx"
    graft.operators.IcwsDelta.writeBatch(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", path, 0L)
    val cand = graft.operators.IcwsDelta.incrementalCandidates(
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
      graft.operators.IcwsDelta.readIndex(spark, path))
    val idxScans = cand.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("icwsplan")) => s
    }
    assert(idxScans.nonEmpty, "the probe must read the persisted index")
    idxScans.foreach { s =>
      assert(!s.requiredSchema.fieldNames.contains("sig"),
        s"index scan must column-prune the signatures:\n${s.requiredSchema.treeString}")
    }
    assert(cand.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the delta band rows must broadcast into the index probe")
  }

  test("ann_range_search_batch: cells scan carries a literal partition filter") {
    // the file-level triangle-bound guarantee: excluded cells' files
    // are never listed — the scan of the persisted index must carry
    // PartitionFilters on the cell column, and nothing may cartesian
    val df = SparkEntry.queries("ann_range_search_batch")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfrange")) => s
    }
    assert(scans.nonEmpty, "the probe must read the persisted index cells")
    assert(scans.exists(_.metadata.get("PartitionFilters").exists(_.contains("label"))),
      scans.map(_.metadata.getOrElse("PartitionFilters", "?")).mkString("\n"))
    assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("ann_ivfpq probes the pre-built index with partition-pruned cell reads") {
    val df = SparkEntry.queries("ann_ivfpq")(spark, Sf)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => s
    }
    assert(scans.nonEmpty, "the probe must read the persisted index")
    assert(scans.exists(_.metadata.get("PartitionFilters").exists(_.contains("label"))),
      scans.map(_.metadata.getOrElse("PartitionFilters", "?")).mkString("\n"))
  }

  test("text_segment_dedup: df joins by segment KEY; rebuild is one per-doc fold") {
    // the df join is keyed on the segment (Catalyst broadcasts it
    // only while it FITS — at corpus scale the vocabulary-sized
    // table exceeds the threshold and the same plan degrades to a
    // key shuffle join, which is the point of joining by key rather
    // than forcing broadcast()); what IS shape-invariant: no
    // cartesian anywhere, and the ordered rebuild groups by doc_id
    // exactly once
    val p = plan("text_segment_dedup")
    assert(!p.contains("CartesianProduct"), p)
    val docFolds = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(docFolds == 1, s"rebuild must fold per doc exactly once, got $docFolds:\n$p")
  }

  test("dataset_card plans the single-distinct rewrite — no Expand") {
    val p = plan("dataset_card")
    assert(!p.contains("Expand"),
      s"one countDistinct must not plan an Expand:\n$p")
  }

  test("text_novelty shuffles grams once — window min, no gram join-back") {
    val p = plan("text_novelty")
    val gramKeyed = "Exchange hashpartitioning\\(gram".r.findAllIn(p).size
    assert(gramKeyed == 1, s"expected exactly one gram exchange:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"first-occurrence must come from the window, not a join-back:\n$p")
  }

  test("ann_multiprobe_recall's ground truth prunes top-10 map-side") {
    // the probe branch localCheckpoints (its BroadcastHashJoin +
    // WindowGroupLimit execute inside the checkpoint and vanish from
    // the final plan — same probe shape as E12, behavior-pinned in
    // MultiprobeSpec); the EXACT branch stays in-plan and must prune
    // its per-query top-10 before the shuffle
    val p = plan("ann_multiprobe_recall")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("dedup_lsh_tuning's truth stage: broadcast hash join, one (qid,cid) exchange, no nested loop") {
    val (_, grams, qs) = QueriesML.lshTuningGramsAndSample(spark, Sf)
    val p = QueriesML.lshTuningTruth(grams, qs)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"no per-pair nested-loop evaluation:\n$p")
    // partial count folds map-side; ONE shuffle on the pair key
    val pairKeyed = "Exchange hashpartitioning\\(qid".r.findAllIn(p).size
    assert(pairKeyed == 1, s"expected one (qid, cid) exchange:\n$p")
  }
}
