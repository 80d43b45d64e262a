package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm) — substring-level duplicate
  * detection at corpus scale, the practical stand-in for
  * suffix-array substring dedup over training corpora.
  *
  * Hash every k-character gram of a document, then slide a window of
  * `w` consecutive hashes and keep each window's MINIMUM. The
  * winnowing guarantee: any substring shared between two documents of
  * length >= k + w - 1 contributes at least one IDENTICAL fingerprint
  * to both — regardless of where the substring sits in either
  * document (offset-independent, which aligned-stride chunk hashing
  * is not). Expected fingerprint density is 2/(w+1) of positions, so
  * the shuffled fingerprint table is a fraction of corpus size.
  *
  * Scale shape: fingerprinting is scan-local per document (one md5
  * per character position, folded to window minima inside array
  * expressions — no shuffle, no UDF); candidate generation groups
  * fingerprints across documents — the LSH-band equi-join shape,
  * never all-pairs. A boilerplate-hot fingerprint is ordinary
  * equi-join skew (AQE splits it).
  */
object Winnow extends CompactableIndex {

  /** Fold key of the compacted `batch=-1` slot. No range manifest
    * ([[CompactableIndex.postFold]] stays the no-op): the incremental
    * probe buckets on `fp` over the whole standing side, so what
    * compaction buys here is bounded file/dir counts (a 1 s-trigger
    * stream is ~86k dirs/day otherwise), not range pruning. NOTE this
    * family's preserve-the-in-flight-batch contract is a CORRECTNESS
    * requirement, not hygiene: n_shared COUNTS rows, so a replayed
    * folded batch's duplicated (id, fp) rows would double-count into
    * the threshold. */
  override protected def clusterCols: Seq[String] = Seq("fp")

  /** First 48 bits of md5 as a long — collision odds at 2^48 are
    * negligible for candidate generation (and a collision only adds
    * a candidate, never loses one). */
  private def hash48(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")

  /** One row per (id, fingerprint), distinct within a document.
    * Documents shorter than `k` produce no rows. */
  def fingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k w=$w")
    val txt = col(textCol)
    val m = (length(txt) - lit(k - 1)).cast("int")
    val hs = when(m >= 1,
      transform(sequence(lit(1), m), i => hash48(txt.substr(i, lit(k)))))
      .otherwise(array().cast("array<long>"))
    // 1 <= m < w leaves a single (truncated) window — slice past the
    // array end returns the remainder, matching the oracle's list
    // slicing semantics
    val starts = when(m >= 1, sequence(lit(1), greatest(m - lit(w - 1), lit(1))))
      .otherwise(array().cast("array<int>"))
    val fps = array_distinct(
      transform(starts, j => array_min(slice(col("__gr_hs"), j, lit(w)))))
    df.select(col(idCol), txt)
      .withColumn("__gr_hs", hs)
      .select(col(idCol), explode(fps).as("fp"))
  }

  /** [[fingerprints]] on the native `winnow_fps` kernel
    * ([[graft.plans.WinnowFpsExpr]]): a rolling polynomial hash +
    * monotone-deque window minima in ONE codegen'd O(n) pass per
    * document, versus the md5-per-position expression chain. Same
    * output contract (distinct fingerprints per doc), different hash
    * family — candidate SETS agree to the extent two winnowing hash
    * choices select the same positions (high, spec'd), and both sides
    * feed the same [[candidatePairs]]. */
  def fingerprintsFast(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8): DataFrame =
    df.select(col(idCol),
      explode(call_function("winnow_fps", col(textCol), lit(k), lit(w)))
        .as("fp"))

  /** Incremental candidate pairs: a DELTA of new documents probes the
    * STANDING fingerprint table — corpus text is never re-hashed, and
    * the output is exactly [[candidatePairs]] over the union
    * RESTRICTED to pairs touching the delta (the D8/D11 incremental
    * discipline; spec'd equivalent, and the streamed multi-batch loop
    * converges to the one-shot set). With a finite `maxDf` the cap,
    * the standing×delta probe, and the within-delta pairs collapse
    * into ONE tagged bucket fold (bucket-local pair explode, only
    * delta-touching pairs kept); without a cap, delta fingerprints
    * broadcast into the standing scan and within-delta pairs
    * self-join. `maxDf` document frequencies are taken over the UNION
    * (standing + delta) at probe time — at production scale the
    * standing side's (fp, df) aggregate is part of the persisted
    * index manifest and the union df is an increment, not a rescan,
    * and the probe keeps the broadcast shape. Under a growing
    * corpus the cap engages the moment a fingerprint's df exceeds
    * maxDf; pairs emitted while it was still rare stand (the cap is
    * candidate pruning, not a semantic guarantee), so one-shot
    * equivalence is exact whenever no fingerprint crosses the cap
    * between batches — the regime the spec pins. */
  def incrementalPairs(standing: DataFrame, delta: DataFrame, idCol: String,
      minShared: Int = 2, maxDf: Int = Int.MaxValue,
      absorbReplays: Boolean = true): DataFrame = {
    // a replayed at-least-once batch arrives with its docs ALREADY in
    // the standing index — those standing rows are the same documents,
    // not neighbors: pairing against them yields self-pairs, double
    // counts, and cap-busting duplicate bucket members. Dropping the
    // delta's ids from the standing side makes a replay reproduce its
    // original output exactly (the Ivf.nearDupProbe absorb discipline).
    // The id set broadcasts (ids only, delta-sized); callers whose
    // split is disjoint BY CONSTRUCTION (a partitioned backfill, the
    // registry row) pass absorbReplays = false and skip the guard's
    // extra evaluation of the delta subtree entirely.
    val standing0 =
      if (!absorbReplays) standing
      else standing.join(
        broadcast(delta.select(col(idCol)).distinct()), Seq(idCol), "left_anti")
    if (maxDf == Int.MaxValue) {
      // unbounded buckets: broadcast-probe shape (collect_list of an
      // uncapped bucket is an executor-memory hazard)
      val d = delta.select(col(idCol), col("fp"))
      val oldNew = standing0.select(col(idCol).as("__sid"), col("fp"))
        .join(broadcast(d.select(col(idCol).as("__did"), col("fp"))), Seq("fp"))
        .select(least(col("__sid"), col("__did")).as("doc_a"),
          greatest(col("__sid"), col("__did")).as("doc_b"))
      val a = d.select(col(idCol).as("doc_a"), col("fp"))
      val b = d.select(col(idCol).as("doc_b"), col("fp"))
      val newNew = a.join(b, Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
      oldNew.unionByName(newNew)
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    } else {
      // capped buckets: the union's probe-time df, the cap, and BOTH
      // pair families (standing×delta, delta×delta) collapse into one
      // tagged bucket fold — pairs explode bucket-locally and keep
      // only delta-touching ones. One shuffle instead of the df
      // aggregate + two keep-joins + probe join chain.
      val all = standing0
        .select(col(idCol).as("__id"), col("fp"), lit(false).as("__d"))
        .unionByName(delta
          .select(col(idCol).as("__id"), col("fp"), lit(true).as("__d")))
      val ids = array_sort(col("__ids"))
      all.groupBy("fp")
        .agg(collect_list(struct(col("__id"), col("__d"))).as("__ids"))
        .filter(size(col("__ids")).between(2, maxDf))
        .select(explode(flatten(transform(ids, (x, i) =>
          transform(slice(ids, i + 2, size(ids) - i - 1), y =>
            struct(x.getField("__id").as("doc_a"),
              y.getField("__id").as("doc_b"),
              (x.getField("__d") || y.getField("__d")).as("touch")))))).as("p"))
        .filter(col("p.touch"))
        .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    }
  }

  /** Persist one batch of fingerprints —
    * [[CompactableIndex.landBatch]]'s replay-idempotent
    * overwrite-by-dir landing (batch-mode: any non-negative id;
    * streaming loops use the guarded pair below). */
  def writeBatch(fps: DataFrame, path: String, batchId: Long): Unit =
    landBatch(fps, path, batchId)

  /** Lands a STREAM micro-batch's fingerprints — refuses the seed
    * space, so a micro-batch id can never overwrite a seeded standing
    * corpus (r12 review: this family was the one streaming loop still
    * appending through the unguarded batch-mode landing, leaving the
    * id-space split a comment instead of a `require`). */
  def writeStreamBatch(fps: DataFrame, path: String, batchId: Long): Unit =
    landStreamBatch(fps, path, batchId)

  /** Seeds the standing corpus for a
    * [[graft.streaming.StreamSubstringDedup]] loop — the landing
    * constrained to the seed id space. */
  def seedBatch(fps: DataFrame, path: String,
      seedId: Long = SeedBatchId): Unit =
    landSeedBatch(fps, path, seedId)

  /** Candidate pairs (a < b) sharing at least `minShared`
    * fingerprints, with the shared count — the verification-ready
    * output (a downstream exact pass confirms/locates the spans).
    *
    * `maxDf` drops fingerprints present in more than that many
    * documents BEFORE the pair join — the stop-gram discipline every
    * fingerprint/LSH system applies (MOSS calls them "too common to
    * be interesting"): a boilerplate gram shared by f docs costs
    * f²/2 pairs, so one hot fingerprint dominates the join output
    * while carrying no dedup signal. The cap bounds per-bucket work
    * at maxDf²/2 regardless of corpus size; genuine near-dup
    * CLUSTERS still pair through their many uncommon fingerprints. */
  def candidatePairs(fps: DataFrame, idCol: String,
      minShared: Int = 2, maxDf: Int = Int.MaxValue): DataFrame = {
    val pairs =
      if (maxDf == Int.MaxValue) {
        // unbounded buckets: the self-join shape (a collect_list of an
        // uncapped bucket is an executor-memory hazard)
        val a = fps.select(col(idCol).as("doc_a"), col("fp"))
        val b = fps.select(col(idCol).as("doc_b"), col("fp"))
        a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
      } else {
        // capped buckets: ONE shuffle folds each fingerprint's ≤maxDf
        // member list, pairs explode bucket-locally — the df cap, the
        // dedup of the a/b exchange, and the join all collapse into
        // the aggregate (~2 shuffles saved vs join-then-filter; the
        // list is bounded by the cap, so collect_list is safe)
        val ids = array_sort(col("__ids"))
        fps.groupBy("fp").agg(collect_list(col(idCol)).as("__ids"))
          .filter(size(col("__ids")).between(2, maxDf))
          .select(explode(flatten(transform(ids, (x, i) =>
            transform(slice(ids, i + 2, size(ids) - i - 1), y =>
              struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
          .select(col("p.doc_a"), col("p.doc_b"))
      }
    pairs
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
