package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT set-similarity self-join by prefix filtering (the
  * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
  * WWW'08): every pair with Jaccard ≥ τ over word-shingle sets is
  * found, with NO blocking heuristic (D2's (lang, n_chars) buckets
  * trade recall for cost) and NO probabilistic miss (D3's LSH bands).
  *
  * The guarantee: order the element universe totally (rarest-first by
  * (df, gram) — any total order is correct, rarest-first makes
  * prefixes selective); give each document's sorted element list a
  * PREFIX of length n − ceil(τ·n) + 1. If J(a,b) ≥ τ then
  * |a∩b| ≥ ceil(τ·max(na,nb)), and two sets whose prefixes are
  * disjoint can intersect in at most min(n_a − L_a, n_b − L_b) =
  * min(ceil(τ·n_a), ceil(τ·n_b)) − 1 elements — fewer than any
  * qualifying pair shares. So candidate generation = explode PREFIX
  * elements only, group by element, pair within groups; exact Jaccard
  * verification on the full sets keeps the result identical to
  * brute force (PrefixFilterSpec proves completeness against it).
  *
  * Scale shape: ONE corpus scan folds shingle sets (checkpointed —
  * df, prefixes, and the verify sets all derive from it); the df
  * dictionary is \|vocab\|-sized (the BpeTrain argument: vocabulary
  * folds corpus-independent) and broadcast; the only big shuffle
  * groups prefix elements, whose buckets the rarest-first order keeps
  * small — the df-cap escape hatch of the winnow path applies
  * unchanged if a degenerate corpus needs it. */
object PrefixFilter {

  /** Distinct word-`shingle`-gram sets per document. Documents with
    * fewer than `shingle` words yield an empty set and cannot pair. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingle: Int): DataFrame =
    docs.select(col(idCol), split(col(textCol), " ").as("__ws"))
      // filter BEFORE the sequence: sequence(0, -1) throws on
      // sub-shingle docs, and a doc with no shingles can't pair anyway
      .filter(size(col("__ws")) >= shingle)
      .select(col(idCol), array_distinct(expr(
        s"""transform(sequence(0, size(__ws) - $shingle),
            i -> array_join(slice(__ws, i + 1, $shingle), ' '))"""))
        .as("grams"))

  /** All pairs (id_a < id_b) with Jaccard(grams_a, grams_b) ≥ tau,
    * exactly. Output: (id_a, id_b, jaccard) with jaccard rounded to
    * 6 dp (one integer-ratio division — the only FP in the chain).
    *
    * `maxDf` is the degenerate-corpus defense (the stop-gram
    * discipline of [[Winnow.candidatePairs]], here as code rather
    * than a comment): grams present in more than `maxDf` documents
    * are dropped from the CANDIDATE universe before prefixes are
    * built, bounding every bucket's pairing work at maxDf²/2
    * corpus-independently. Verification still computes exact Jaccard
    * on the FULL gram sets and filters at the unrounded tau, so the
    * capped output is always a SUBSET of the exact result. The
    * retained prefix length is computed against the FULL set size
    * (n_ret − ceil(τ·n_full) + 1, clamped at 0) and the AllPairs
    * length filter runs on full sizes, which makes the recall
    * contract provable: the standard prefix argument on the retained
    * lists shows a pair is generated whenever its sub-cap shared
    * grams ALONE number ≥ ceil(τ·max(n_full_a, n_full_b)) — the same
    * count bound a qualifying pair must meet in total. Hence every
    * qualifying pair whose shared grams are all sub-cap is caught,
    * and a miss REQUIRES the qualifying overlap to lean on capped
    * grams (retained overlap below the bound). A pair sharing one
    * token sub-cap gram but qualifying mostly through boilerplate
    * may still be dropped — that is the precise price of the cap,
    * pinned by PrefixFilterSpec on a boilerplate-densified corpus
    * including exactly that adversarial shape. Default Int.MaxValue
    * = exact PPJoin (n_ret = n_full), plan-identical to the
    * uncapped form. */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
      shingle: Int, tau: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must allow at least one pair, got $maxDf")
    val sets = Barrier.materialize(shingleSets(docs, idCol, textCol, shingle))._1
    val dfTab = sets.select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    // per doc: RETAINED (df <= maxDf) elements sorted rarest-first,
    // prefix = first n_ret - ceil(tau*n_full) + 1 (clamped at 0 —
    // a doc whose retained grams alone can't reach the count bound
    // legitimately emits nothing). Anchoring the prefix arithmetic
    // and the length filter on FULL sizes is what makes the capped
    // recall contract provable (scaladoc): retained-overlap ≥
    // ceil(tau*max(n_full)) ⇒ candidate generated. One shuffle: the
    // full-vs-retained split happens inside the aggregated row, not
    // via a second join.
    val universe = sets.select(col(idCol), explode(col("grams")).as("gram"))
      .join(broadcast(dfTab), "gram")
    // uncapped fast path: skip the per-row filter() HOF entirely —
    // higher-order functions evaluate interpreted (no whole-stage
    // codegen), so the default path must not pay a no-op df check on
    // every corpus row just to keep one code shape. This is also what
    // keeps the scaladoc's "plan-identical to the uncapped form" true.
    val retainExpr =
      if (maxDf == Int.MaxValue) "transform(ordered, x -> x.gram)"
      else s"transform(filter(ordered, x -> x.df <= ${maxDf}L), x -> x.gram)"
    // materialized: BOTH sides of the candidate self-join below
    // derive from this frame, and without the checkpoint the planner
    // compiles the whole universe-shuffle + rarest-first
    // ObjectHashAggregate chain TWICE (the broadcast side is a
    // BroadcastExchange, so ReuseExchange never fires — plan audit
    // r13, plans/r13/dedup_prefix_filter_before.txt ops 10-18 vs
    // 34-42). One |docs|-row write with hashed-prefix arrays buys
    // out a full second aggregation pass — the q_market_basket
    // discipline.
    val ranked = Barrier.materialize(universe
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("df"), col("gram"))))
        .as("ordered"),
        count(lit(1)).as("n"))
      .select(col(idCol), col("n"),
        expr(retainExpr).as("sorted_grams"))
      // FP-safe ⌈τ·n⌉: ceil over the rounded product can overshoot by
      // one when τ·n rounds up across an integer (τ = 0.4, n = 5), and
      // an overshoot SHORTENS the prefix — a completeness break, the
      // only unsafe direction. floor(τ·n) then one ratio test (k/n >= τ,
      // a single correctly-rounded division, which never under-accepts)
      // picks the true ceiling or errs one LOW — a longer prefix, more
      // candidates, never a missed pair.
      .withColumn("__k0", floor(col("n") * tau))
      .withColumn("__minov",
        when(col("__k0") / col("n") >= tau, col("__k0"))
          .otherwise(col("__k0") + 1))
      .withColumn("prefix", slice(col("sorted_grams"), lit(1),
        greatest(lit(0),
          (size(col("sorted_grams")) - col("__minov") + 1).cast("int"))))
      // candidate buckets key on xxhash64(gram), not the gram string
      // (r13): the bucket key's only job is "same gram → same bucket";
      // a 64-bit hash keeps that (a collision can only ADD a candidate
      // pair, which exact verification removes — same one-sided
      // argument as the maxDf cap, in the other direction), while the
      // prefix arrays, the checkpoint write, and the self-join shuffle
      // all shrink from ~25-byte strings to longs and the join
      // compares longs. The rarest-first ORDER is untouched — it was
      // fixed upstream by sort_array over (df, gram).
      .select(col(idCol), col("n"),
        expr("transform(prefix, g -> xxhash64(g))").as("prefix")))._1
    val pref = ranked.select(col(idCol), col("n"),
      posexplode(col("prefix")).as(Seq("pos", "gram")))
    // LENGTH FILTER (AllPairs, exactness-preserving): J >= tau forces
    // tau·na <= nb <= na/tau — applied inside the bucket join it cuts
    // the candidate quadratic before the aggregation.
    // POSITION FILTER (PPJoin, set-parallel form — Vernica et al.
    // SIGMOD'10): J >= tau also forces overlap o >= α =
    // ceil(τ(na+nb)/(1+τ)). For a QUALIFYING pair, the first shared
    // gram in the global rarest-first order is in BOTH prefixes and
    // minimizes the match position in BOTH lists simultaneously (both
    // lists are sorted by the same global order), so min(pa)/min(pb)
    // over the pair's prefix matches land on that gram; every shared
    // gram sits at-or-after it, hence o <= min(na − pa, nb − pb)
    // (0-based positions). Pairs whose bound falls below α provably
    // cannot qualify — dropping them is exactness-preserving, and on
    // this shared-vocabulary corpus it cuts the verify join's input
    // 2.5× (measured 310k → 125k candidates at sf0.1, verify stage
    // 5.2 → 2.2 s). Under the maxDf cap,
    // retained-list positions understate full positions, which only
    // LOOSENS the bound — the cap's recall contract is untouched.
    //
    // The keep test is the RATIO form b/(na+nb−b) >= τ, not a
    // pre-computed ceil(τ(na+nb)/(1+τ)) threshold: x/(s−x) is
    // increasing in x, so o <= b gives b/(s−b) >= o/(s−o) >= τ for
    // every qualifying pair, and one correctly-rounded division
    // compared >= τ can never under-accept (a real value >= τ rounds
    // to >= τ) — whereas ceil over the FP product τ/(1+τ)·s overshoots
    // by 1 for taus like 0.4 whose quotient rounds UP in binary,
    // silently dropping qualifying pairs (review finding, spec'd at
    // τ=0.4 in PrefixFilterSpec). Same exactness argument as the
    // final verify filter below.
    val cand = pref.select(col("gram"), col(idCol).as("id_a"),
        col("n").as("na"), col("pos").as("pa"))
      .join(pref.select(col("gram"), col(idCol).as("id_b"),
        col("n").as("nb"), col("pos").as("pb")), "gram")
      // the length filter in ratio form for the same FP reason:
      // ceil(na·τ) can overshoot when the product rounds up across an
      // integer; nb/na >= τ under one correctly-rounded division
      // never under-accepts
      .filter(col("id_a") < col("id_b") &&
        col("nb") / col("na") >= tau &&
        col("na") / col("nb") >= tau)
      .groupBy("id_a", "id_b")
      .agg(min("pa").as("pa"), min("pb").as("pb"),
        min("na").as("na"), min("nb").as("nb"))
      .withColumn("bound", least(col("na") - col("pa"), col("nb") - col("pb")))
      .filter(col("bound") / (col("na") + col("nb") - col("bound")) >= tau)
      .select("id_a", "id_b")
    val a = sets.select(col(idCol).as("id_a"), col("grams").as("ga"))
    val b = sets.select(col(idCol).as("id_b"), col("grams").as("gb"))
    cand.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      // filter on the UNROUNDED ratio: the prefix guarantee covers
      // pairs with TRUE J >= tau — a round-then-compare filter would
      // also admit J in [tau - 5e-7, tau), which candidates may miss;
      // the rounded column is display-only
      .filter(col("inter") /
        (size(col("ga")) + size(col("gb")) - col("inter")) >= tau)
      .withColumn("jaccard", round(col("inter") /
        (size(col("ga")) + size(col("gb")) - col("inter")), 6))
      .select("id_a", "id_b", "jaccard")
  }
}
