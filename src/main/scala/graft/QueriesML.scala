package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{HashFunctions, Multimodal, TextFunctions, VectorFunctions}
import graft.operators.Barrier
import graft.sources.ViewingData

/** SURVEY.md §2 suites D (dedup), E (similarity search), F (text
  * analysis), G (multimodal), H3 (stream/batch parity) — the
  * training-data-pipeline operators beyond the reference's own surface.
  */
object QueriesML {

  import VectorFunctions._

  // ---------------------------------------------------------------------
  // F. Text analysis
  // ---------------------------------------------------------------------
  private val textTokens = Q(
    "text_tokens",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.wsTokenCount(col("text")).as("ws_tokens"),
      TextFunctions.wordCount(col("text")).as("word_tokens"),
      TextFunctions.bpeishCount(col("text")).as("bpeish_tokens")),
    Some("""SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS word_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
FROM documents"""))

  private def duckStop(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")
  private def duckHits(set: String): String =
    s"CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), t -> t IN $set)) AS BIGINT)"

  private val textQuality = Q(
    "text_quality",
    // Tokenize ONCE into `toks`, derive every count from the array.
    // CollapseProject keeps the two projections separate (the alias is
    // non-cheap and multiply referenced), so split() runs once per row
    // instead of 3× — the higher-order filter is CodegenFallback and
    // gets no subexpression elimination.
    (s, dir) => ViewingData.table(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("ws_tokens"),
        TextFunctions.stopHitsIn(col("toks"), TextFunctions.EnStop).as("stop_hits"),
        TextFunctions.punctCount(col("text")).as("punct_cnt"),
        TextFunctions.qualityScoreFromTokens(col("toks"), col("text")).as("quality_score")),
    Some(s"""SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS ws_tokens,
       ${duckHits(duckStop(TextFunctions.EnStop))} AS stop_hits,
       CAST(len(regexp_extract_all(text, '[.,;:!?()]')) AS BIGINT) AS punct_cnt,
       round(
         least(1.0, CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) / 50.0) * 0.5 +
         least(1.0, (${duckHits(duckStop(TextFunctions.EnStop))} /
                     CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE)) * 2.0) * 0.3 +
         greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[.,;:!?()]')) AS DOUBLE) /
                              CAST(length(text) AS DOUBLE)) * 4.0) * 0.2,
         6) AS quality_score
FROM documents"""))

  private val textLangid = Q(
    "text_langid",
    // Same tokenize-once shape as text_quality: one split per row, four
    // membership counts over the materialized array (was 4× re-split).
    (s, dir) => ViewingData.table(s, dir, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        col("labeled_lang"),
        TextFunctions.langIdFromTokens(col("toks")).as("predicted_lang")),
    Some(s"""WITH hits AS (
  SELECT doc_id, lang AS labeled_lang,
         ${duckHits(duckStop(TextFunctions.EnStop))} AS en,
         ${duckHits(duckStop(TextFunctions.EsStop))} AS es,
         ${duckHits(duckStop(TextFunctions.DeStop))} AS de,
         ${duckHits(duckStop(TextFunctions.FrStop))} AS fr
  FROM documents)
SELECT doc_id, labeled_lang,
       CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
            WHEN en >= es AND en >= de AND en >= fr THEN 'en'
            WHEN es >= de AND es >= fr THEN 'es'
            WHEN de >= fr THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM hits"""))

  private val textFingerprint = Q(
    "text_fingerprint",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fingerprint")),
    Some("""SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
         (h, c) -> (h * 31 + c) % 2147483647) AS fingerprint
FROM documents"""))

  // ---------------------------------------------------------------------
  // D. Dedup
  // ---------------------------------------------------------------------
  private val dedupExact = Q(
    "dedup_exact",
    (s, dir) => ViewingData.table(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)"""))

  /** Near-dup pair list shared by D2 (pairs) and D6 (components):
    * candidates bucket on (lang, n_chars) — near-identical docs agree
    * on both — then exact 3-gram Jaccard within buckets, rounded to
    * 6dp, threshold 0.3. Kept in ONE place so the pairs → components
    * story can't drift. */
  /** The ngram pair stage's single tuning point (shared by the
    * one-shot self-join, the delta-touching probe join, and both
    * DuckDB CTEs — the constants must not drift apart). */
  private[graft] val NgramShingle = 3
  private[graft] val NgramTau = 0.3

  /** The shared gram frame + scored bucket join both pair flavors
    * compose. */
  private def ngramGrams(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    // build-once idiom (same as dedup_minhash): without the barrier the
    // join instantiates the interpreted shingle transform per side
    // — two full gram builds before the bucket-local pair loop
    Barrier.materialize(ViewingData.table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextFunctions.shingles("text", NgramShingle).as("grams")))._1

  /** (doc_id, lang, n_chars, grams) over an explicit docs frame — the
    * gram rows [[scoredPairs]] consumes; also the unit the streaming
    * corpus-prep index persists ([[graft.streaming.StreamCorpusPrep]]). */
  private[graft] def gramRowsOf(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("lang"), col("n_chars"),
      TextFunctions.shingles("text", NgramShingle).as("grams"))

  /** The blocked pair join + exact gram-Jaccard scoring WITHOUT the
    * τ filter — one definition for every consumer of the D2
    * arithmetic: [[scoredPairs]] adds the τ gate; D20's calibration
    * histogram reads the unfiltered distribution (r12 review: the
    * histogram had inlined a copy, the drift class the
    * pairs-story-in-one-place rule exists to kill). */
  private def scoredPairsRaw(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, cond: String): org.apache.spark.sql.DataFrame =
    a.as("a").join(b.as("b"),
        expr(s"a.lang = b.lang AND a.n_chars = b.n_chars AND $cond"))
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        round(
          size(array_intersect(col("a.grams"), col("b.grams"))).cast("double") /
            size(array_union(col("a.grams"), col("b.grams"))).cast("double"),
          6).as("jaccard"))

  private[graft] def scoredPairs(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame, cond: String): org.apache.spark.sql.DataFrame =
    scoredPairsRaw(a, b, cond).filter(col("jaccard") >= NgramTau)

  private[graft] def ngramJaccardPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val docs = ngramGrams(s, dir)
    scoredPairs(docs, docs, "a.doc_id < b.doc_id")
  }

  /** [[ngramJaccardPairs]] materialized ONCE per (sf dir, source
    * stamp) as a persisted pair table — the reference's own
    * materialized-intermediate discipline (etl-ddl-backfill.sql lands
    * raw_viewing_events/weighted_events as TABLES that every
    * downstream stage reads; a dedup pipeline likewise lands its pair
    * table once and derives components, canonical picks, cluster
    * stats, and survivorship from it, never recomputing the bucket
    * join per readout). Deterministic, so the consuming rows' DuckDB
    * oracles are unchanged. dedup_ngram_jaccard itself and
    * corpus_prep_e2e still compute pairs LIVE — their rows ARE the
    * pair-stage / full-pipeline cost. */
  private[graft] def ngramJaccardPairsCached(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val path = stampedIndexPath(s, dir, "documents",
      s"ngrampairs_s${NgramShingle}t${(NgramTau * 100).toInt}v1")
    ensureArtifact(s, path, "_SUCCESS") { staged =>
      ngramJaccardPairs(s, dir).select("id_a", "id_b")
        .write.parquet(staged)
    }
    s.read.parquet(path)
  }

  /** [[ngramJaccardPairs]] restricted to pairs TOUCHING the docs
    * matching `probe` — the incremental probe join
    * (corpus_prep_incremental): grams build once over one scan, the
    * probe side joins against the FULL frame bucket-locally, and the
    * standing side is never self-joined. Same shingle/τ/blocks
    * definition as the one-shot — one tuning point, per the
    * pairs-story-in-one-place rule above. Output is (id_a < id_b)
    * normalized and distinct (probe×probe pairs match twice). */
  private[graft] def ngramJaccardPairsTouching(
      s: org.apache.spark.sql.SparkSession, dir: String,
      probe: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val docs = ngramGrams(s, dir)
    scoredPairs(docs, docs.filter(probe), "a.doc_id <> b.doc_id")
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
  }

  /** DuckDB twin of [[ngramGrams]] as a CTE (`g`) — shared by the
    * pair CTE below and D20's unfiltered similarity histogram (one
    * gram-SQL definition, the pairs-story-in-one-place rule). */
  private[graft] val ngramGramsCte: String = s"""g AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_transform(generate_series(1, greatest(1, length(text) - ${NgramShingle - 1})),
                                      i -> substring(text, i, $NgramShingle))) AS grams
  FROM documents)"""

  /** DuckDB twin of [[ngramJaccardPairs]] as a CTE body (`g`, `pairs`). */
  private[graft] val ngramPairsCte: String = s"""$ngramGramsCte,
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS jaccard
  FROM g a JOIN g b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) >= $NgramTau)"""

  private val dedupNgramJaccard = Q(
    "dedup_ngram_jaccard",
    (s, dir) => ngramJaccardPairs(s, dir),
    Some(s"WITH $ngramPairsCte\nSELECT id_a, id_b, jaccard FROM pairs"))

  /** D20 — the τ-CALIBRATION artifact a curation team reads BEFORE
    * choosing a dedup threshold: the exact similarity histogram of
    * blocked candidate pairs (D2's gram/block arithmetic, UNfiltered)
    * in 0.1 buckets, with the cumulative count at-or-above each
    * bucket — "how many pairs would τ = b merge?" reads straight off
    * `n_pairs_ge`. F35 calibrates a SAMPLE because its signal needs a
    * rank; here the histogram is a bounded aggregate (≤ 10 rows), so
    * the full blocked-pair population folds map-side after the same
    * bucket-local join D2 pays — never all-pairs, and the cumulative
    * window runs over the 10-row histogram only. NOTE: the fixed 0.1
    * buckets mean the tail readout is exact only at bucket-boundary
    * τ values; a τ like 0.35 needs a finer bucket width (one
    * constant), and DedupThresholdSpec pins the boundary coupling so
    * a NgramTau retune that breaks it fails loudly. */
  private val dedupThresholdReport = Q(
    "dedup_threshold_report",
    (s, dir) => {
      val g = ngramGrams(s, dir)
      val sim = scoredPairsRaw(g, g, "a.doc_id < b.doc_id")
        .select(col("jaccard").as("j"))
      sim.select(least(lit(9L), floor(col("j") * 10).cast("long")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("n_pairs"))
        .withColumn("n_pairs_ge", sum("n_pairs").over(
          Window.orderBy(col("b").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(round(col("b") / 10.0, 1).as("sim_bucket"),
          col("n_pairs"), col("n_pairs_ge"))
    },
    Some(s"""WITH $ngramGramsCte,
sim AS (
  SELECT round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) AS j
  FROM g a JOIN g b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
hist AS (
  SELECT least(9, CAST(floor(j * 10) AS BIGINT)) AS b,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM sim GROUP BY 1)
SELECT round(b / 10.0, 1) AS sim_bucket, n_pairs,
       CAST(SUM(n_pairs) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_pairs_ge
FROM hist"""))

  /** Exact weighted Jaccard over CANDIDATE pairs: tf folds once, the
    * shared-min join is pair×shared-vocab bounded, and
    * Σmax = T_a + T_b − Σmin keeps everything integer to one final
    * division (no per-word max union needed). Shared by D18 (blocked
    * candidates — the oracle flavor) and D19 (ICWS LSH candidates —
    * the scale flavor). */
  private[graft] def weightedJaccardVerify(
      docs: org.apache.spark.sql.DataFrame, cand: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame = {
    // feeds the shared-min join twice + totals
    val tf = Barrier.materialize(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf")))._1
    val tot = tf.groupBy("doc_id").agg(sum("tf").as("t"))
    val shared = cand
      .join(tf.select(col("doc_id").as("id_a"), col("w"), col("tf").as("tfa")), "id_a")
      .join(tf.select(col("doc_id").as("id_b"), col("w"), col("tf").as("tfb")),
        Seq("id_b", "w"))
      .groupBy("id_a", "id_b").agg(sum(least(col("tfa"), col("tfb"))).as("smin"))
    shared
      .join(tot.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(tot.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
      .withColumn("jw",
        col("smin") / (col("ta") + col("tb") - col("smin")))
      .filter(col("jw") >= tau)
      .select(col("id_a"), col("id_b"),
        round(col("jw"), 6).as("weighted_jaccard"))
  }

  /** D18 — EXACT tf-weighted Jaccard dedup (the D2 discipline with
    * weights): word tf vectors, candidates blocked on
    * (lang, n_chars), J_w = Σmin/Σmax ≥ 0.5. Repetition-heavy docs
    * that set Jaccard conflates (same vocab, different emphasis)
    * separate under the weighted form — the tf-weighted near-dup
    * semantics a curation pipeline wants for templated text. Fully
    * DuckDB-oracled (integer Σmin/totals to one division). */
  private val dedupWeightedJaccard = Q(
    "dedup_weighted_jaccard",
    (s, dir) => {
      val docs = Barrier.materialize(ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))._1
      val cand = docs.as("a").join(docs.as("b"),
          expr("a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      weightedJaccardVerify(docs, cand, 0.5)
    },
    Some("""WITH d AS (
  SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ws FROM documents),
tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM d, UNNEST(ws) AS u(w) GROUP BY 1, 2),
tot AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS t FROM tf GROUP BY 1),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id),
sh AS (
  SELECT c.id_a, c.id_b, CAST(SUM(least(x.tf, y.tf)) AS BIGINT) AS smin
  FROM cand c
  JOIN tf x ON x.doc_id = c.id_a
  JOIN tf y ON y.doc_id = c.id_b AND y.w = x.w
  GROUP BY 1, 2),
j AS (
  SELECT sh.id_a, sh.id_b, CAST(smin AS DOUBLE) / (ta.t + tb.t - smin) AS jw
  FROM sh JOIN tot ta ON ta.doc_id = sh.id_a
          JOIN tot tb ON tb.doc_id = sh.id_b)
SELECT id_a, id_b, round(jw, 6) AS weighted_jaccard FROM j WHERE jw >= 0.5"""))

  /** D19 — the SCALE flavor of D18: ICWS weighted-MinHash signatures
    * (operators/Icws.scala, Ioffe ICDM'10) banded 8×2 generate
    * bucket-local candidates with collision probability J_w per
    * sample, then [[weightedJaccardVerify]] re-checks exactly.
    * The band key COMPOSES the (lang, n_chars) blocking keys (see
    * Icws.candidates scaladoc: this corpus's ≈40-word vocabulary
    * puts random pairs at J_w ≈ 0.5, and no rows-per-band setting
    * separates that from τ = 0.7 without killing recall — measured
    * 6.4M candidates unblocked at sf0.1, bucket-bounded with the
    * blocks composed). τ = 0.55: the blocked-pair J_w ceiling on this
    * corpus is ≈ 0.61–0.68, so 0.7 would return nothing; at 0.55 the
    * per-pair all-bands-miss probability is (1 − J_w²)⁸ ≈ 0.058.
    * Output ⊆ the blocked exact result at τ. Rows-only BY DESIGN: the
    * ICWS draws go through ln/exp, where a last-ulp argmin tie could
    * differ across engines; IcwsSpec pins the estimator (collision
    * rate ≈ J_w), subset-of-exact, and measured recall instead. */
  private val dedupIcws = Q(
    "dedup_icws",
    (s, dir) => {
      val docs = Barrier.materialize(ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))._1
      val sigs = operators.Icws.signatures(docs, "doc_id", "text", h = 16)
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
      val cand = operators.Icws.candidates(sigs, "doc_id",
        bands = 8, rowsPerBand = 2, blockCols = Seq("lang", "n_chars"))
      // full-frame verify, DELIBERATELY: the restricted form
      // (IcwsDelta.verifyExact) must materialize the candidate frame
      // for its id semi-join, and at registry scale that checkpoint
      // costs more than the corpus tf fold it saves (measured 3.8 s →
      // 5.1 s when tried in r10); the restriction pays off only when
      // the corpus text scan dominates — the incremental row's regime
      weightedJaccardVerify(docs, cand, 0.55)
    },
    None)

  /** D19's incremental form ([[graft.operators.IcwsDelta]]) — the
    * probe-persisted-index flavor every other dedup family member
    * already had (D3→D8/D10, D5→D11, D13→D13c; r9 directive #1): the
    * corpus (3/4 of documents) is a pre-built ICWS band index probed
    * by the delta (1/4) — corpus text is never re-tokenized, the
    * h·Σ|vocab| draw chain runs over the delta alone, the index scan
    * column-prunes to (doc_id, lsh_key), and the exact verify is
    * restricted to candidate-touching docs. The index PERSISTS at a
    * source-stamped tmp path (build-if-missing, the ann_ivfpq
    * discipline) so the row measures what a standing increment
    * actually pays — delta draws + probe + verify — not a per-run
    * corpus re-index (measured 4.9 s with the in-row index build vs
    * 3.2 s probing the standing one at sf0.1 — the residual over the
    * sweep's 2.3 s probe is the row's own docs checkpoint; the full
    * dedup_icws recompute is 3.8 s). Rows-only like dedup_icws (ln/exp argmin
    * has no DuckDB twin); IcwsDeltaSpec pins exact parity with the
    * full dedup_icws recompute restricted to delta-touching pairs,
    * replay idempotence, and pruned-probe equality. */
  private val dedupIcwsIncremental = Q(
    "dedup_icws_incremental",
    (s, dir) => {
      import graft.operators.IcwsDelta
      val docs = Barrier.materialize(ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text")))._1
      val path = stampedIndexPath(s, dir, "documents",
        s"icwsidx_h${IcwsDelta.H}b${IcwsDelta.Bands}r${IcwsDelta.RowsPerBand}v1")
      ensureArtifact(s, path, "batch=0/_SUCCESS") { staged =>
        IcwsDelta.writeBatch(
          docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", staged, 0L)
      }
      val cand = IcwsDelta.incrementalCandidates(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text",
        IcwsDelta.readIndex(s, path))
      IcwsDelta.verifyExact(docs, cand, IcwsDelta.Tau)
    },
    None)

  /** D3's MinHash-LSH near-dup pairs, shared by the registry row and
    * Sweep's `corpus_prep_minhash` (the declared production swap for
    * corpus_prep's blocked-exact pair stage — LSH candidate volume
    * tracks TRUE near-dup density, not bucket-membership growth).
    * MinHash(k=32) → 8 bands × 4 rows → bucket-local candidate join →
    * signature-estimate ≥ 0.4. */
  private[graft] def minhashPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    // Single small file → 1 input partition; spread the shingle
    // explode across the cluster before the codegen'd bulk MinHash.
    // Bands are 4×8 (collision prob J^8): this corpus shares most of
    // its vocabulary, so shorter bands flood the candidate join.
    // Verification uses the O(k) signature estimate (matching
    // components / k) — the exact-Jaccard pass over full shingle
    // sets belongs to dedup_ngram_jaccard.
    val base = ViewingData.table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    // The signature table is the LSH index: build it ONCE
    // (a barrier — the self-join would otherwise instantiate
    // the 32-min aggregation per side, AQE's broadcast conversion
    // defeating exchange reuse), then probe. Signatures ride through
    // the bucket join as payload so verification needs no join-back.
    val docs = Barrier.materialize(
      HashFunctions.minhashSignaturesText(base, "doc_id", "text", 5, 32)
        .withColumn("bands", HashFunctions.lshBands(col("sig"), 4, 8)))._1
    HashFunctions.bucketedPairs(docs, "doc_id", "bands", payload = Seq("sig"))
      .select(col("id_a"), col("id_b"),
        HashFunctions.signatureEstimate(col("sig_a"), col("sig_b"), 32)
          .as("jaccard_est"))
      .filter(col("jaccard_est") >= 0.4)
      .distinct()
  }

  private val dedupMinhash = Q(
    "dedup_minhash",
    // Not SQL-expressible (seeded xxhash64) → rows-only check;
    // planted-dup behavior is spec-tested (MinhashAccuracySpec).
    (s, dir) => minhashPairs(s, dir),
    None)

  /** Incremental near-dup dedup ([[graft.operators.MinhashDelta]]):
    * the corpus (3/4 of documents) is a pre-built band index; the
    * delta (1/4) probes it and self-joins — corpus text is never
    * re-shingled, and the delta's checkpointed band rows give AQE
    * exact size stats so a small delta broadcasts (the index streams)
    * while a bulk one degrades to a shuffled equi-join (r10 advice:
    * no forced broadcast). Rows-only like dedup_minhash (seeded
    * xxhash64 isn't SQL-expressible); MinhashDeltaSpec pins exact
    * parity with the full recompute restricted to delta-touching
    * pairs, the persisted batch=N layout's replay idempotence, and
    * the probe plan shape under the daily-increment hint. */
  private val dedupIncremental = Q(
    "dedup_incremental",
    (s, dir) => {
      import graft.operators.MinhashDelta
      val docs = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"))
      val index = MinhashDelta.bandRows(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text")
      MinhashDelta.incrementalPairs(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", index)
    },
    None)

  /** The md5-string minhash CTE chain shared by the two oracle-flavor
    * dedup queries: 5-gram shingles → k=16 md5 min-hashes (seed
    * appended textually) → 2 bands × 8 rows (same J^8 per-band
    * collision prob as production's 4×8 over k=32) → band-collision
    * candidates → signature-estimate threshold. Every step is the
    * SAME arithmetic in DuckDB, so unlike dedup_minhash (seeded
    * xxhash64, rows-only) these hash-match a full oracle. */
  private val md5PairsCte = """WITH g AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(1, length(text)-4)),
                                i -> substring(text, i, 5)) AS grams
  FROM documents),
sig AS (
  SELECT doc_id, s AS seed,
         list_min(list_transform(grams, g2 -> md5(g2 || ':' || s))) AS h
  FROM g, generate_series(0, 15) t(s)),
band AS (
  SELECT doc_id, seed // 8 AS band_id, md5(string_agg(h, '|' ORDER BY seed)) AS bh
  FROM sig GROUP BY doc_id, seed // 8),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
est AS (
  SELECT c.id_a, c.id_b,
         round(CAST(sum(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS DOUBLE) / 16, 6) AS jaccard_est
  FROM cand c
  JOIN sig x ON x.doc_id = c.id_a
  JOIN sig y ON y.doc_id = c.id_b AND y.seed = x.seed
  GROUP BY 1, 2)"""

  /** md5-signature band rows with sig payload. Each oracle-flavor
    * query builds its OWN checkpoint (a def, invoked per query — the
    * registry's queries are self-contained for the oracle gate, so
    * dedup_incremental_oracle's bench time includes this rebuild);
    * the checkpoint exists so the self-join WITHIN a query doesn't
    * instantiate the 16-min aggregation per side. */
  private def md5SigDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Barrier.materialize(HashFunctions.md5MinhashSignaturesText(
        ViewingData.table(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"), col("text")),
        "doc_id", "text", 5, 16)
      .withColumn("bands", HashFunctions.md5Bands(col("sig"), 2, 8)))._1

  private val dedupMinhashOracle = Q(
    "dedup_minhash_oracle",
    (s, dir) => {
      val docs = md5SigDocs(s, dir)
      HashFunctions.bucketedPairs(docs, "doc_id", "bands", payload = Seq("sig"))
        .select(col("id_a"), col("id_b"),
          HashFunctions.signatureEstimate(col("sig_a"), col("sig_b"), 16)
            .as("jaccard_est"))
        .filter(col("jaccard_est") >= 0.4)
        .distinct()
    },
    Some(s"$md5PairsCte\nSELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= 0.4"))

  /** dedup_incremental's EXACT shape — streamed index × broadcast
    * delta probe plus delta self-join — under the md5 signature, so
    * the incremental split's arithmetic is DuckDB-checked: the oracle
    * is the FULL pipeline's pairs restricted to delta-touching ones,
    * which is precisely what the incremental path must produce
    * (MinhashDeltaSpec pins the same property for the xxhash64
    * production flavor, engine-side only). */
  private val dedupIncrementalOracle = Q(
    "dedup_incremental_oracle",
    (s, dir) => {
      val docs = md5SigDocs(s, dir)
      def bandRows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), explode(col("bands")).as("lsh_key"), col("sig"))
      val index = bandRows(docs.filter(col("doc_id") % 4 =!= 0))
      val delta = bandRows(docs.filter(col("doc_id") % 4 === 0))
      val est = HashFunctions.signatureEstimate(col("i.sig"), col("d.sig"), 16)
      val oldNew = index.as("i")
        .join(broadcast(delta).as("d"),
          expr("i.lsh_key = d.lsh_key AND i.doc_id <> d.doc_id"))
        .select(
          least(col("i.doc_id"), col("d.doc_id")).as("id_a"),
          greatest(col("i.doc_id"), col("d.doc_id")).as("id_b"),
          est.as("jaccard_est"))
      val self = delta.as("a")
        .join(delta.as("b"), expr("a.lsh_key = b.lsh_key AND a.doc_id < b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          HashFunctions.signatureEstimate(col("a.sig"), col("b.sig"), 16)
            .as("jaccard_est"))
      oldNew.unionAll(self)
        .filter(col("jaccard_est") >= 0.4)
        .distinct()
    },
    Some(s"""$md5PairsCte
SELECT id_a, id_b, jaccard_est FROM est
WHERE jaccard_est >= 0.4 AND (id_a % 4 = 0 OR id_b % 4 = 0)"""))

  /** D21 — the (bands × rows-per-band) TUNING report an LSH dedup
    * deployment reads before picking its banding (the S-curve table
    * in Leskovec/Rajaraman/Ullman ch.3): for each config derivable
    * from one k=16 signature (1×16, 2×8, 4×4, 8×2), the measured
    * recall and precision of band-collision candidate generation
    * against EXACT ground truth. Ground truth is exact distinct-
    * 5-gram Jaccard ≥ 0.5 between a fixed-size query sample and the
    * corpus — the τ≥0.5 test is the integer ratio form
    * `3·|I| ≥ |a|+|b|` (one exact integer compare, no FP threshold);
    * the sample is md5-rate-gated to an expected [[LshTuneCap]] docs
    * whatever the corpus size (the F35/F18 idiom), so the
    * |sample|×|corpus| truth join is bounded BY DESIGN — the E12
    * discipline: the eval pays a capped brute pass the serving path
    * never runs. Signatures are the D9 md5 flavor, so every stage —
    * gate, truth, bands, collisions, recall arithmetic — hash-checks
    * against DuckDB. Expected shape: recall climbs as rows-per-band
    * shrinks (collision prob 1-(1-J^r)^b) while candidate volume
    * (and so precision) degrades — the trade the report exists to
    * price. */
  private[graft] val LshTuneCap = 48L

  /** D21's exact-truth stage, exposed un-checkpointed so
    * PlanAuditSpec can pin its shape (the registry row checkpoints
    * the result, which truncates the audited plan): overlap counts
    * from a broadcast HASH join of exploded corpus grams against the
    * capped sample's gram rows, folded map-side per (qid, cid) — then
    * the exact integer ratio test. Measured 2.1× faster at ×10 than a
    * nested-loop join evaluating array_intersect per pair (25.3 →
    * 12.1 s; tied at sf0.1 where the signature build dominates). */
  private[graft] def lshTuningTruth(grams: org.apache.spark.sql.DataFrame,
      qs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val qex = qs.select(col("doc_id").as("qid"), size(col("grams")).as("nq"),
      explode(col("grams")).as("gram"))
    grams.select(col("doc_id").as("cid"),
        size(col("grams")).as("nc"), explode(col("grams")).as("gram"))
      .join(broadcast(qex), "gram")
      .filter(col("qid") =!= col("cid"))
      .groupBy("qid", "cid", "nq", "nc")
      .agg(count(lit(1)).as("ni"))
      .filter(col("ni") * 3 >= col("nq") + col("nc"))
      .select(col("qid"), col("cid"))
  }

  /** D21's docs frame + distinct-gram frame + capped sample, shared
    * with the plan audit; the docs frame rides along so the registry
    * row's signature build reuses the ONE table scan (r12 review).
    * The gate's pool size is counted on the grams barrier's own job. */
  private[graft] def lshTuningGramsAndSample(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = ViewingData.table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    // consumed by the gate filter and the corpus side. Keeping the
    // checkpoint is MEASURED, not assumed (r13 honest negative):
    // dropping it regressed the row 4.3-5.3 → 6.8-8.1 s isolated
    // (anchor query steady) — without the materialization the
    // gram-array expression is re-evaluated per consumer, and
    // CollapseProject additionally inlines it TWICE into the truth
    // stage's `size(grams)` + `explode(grams)` projections, so the
    // ~5×-corpus-bytes write it saves is far cheaper than the 4-5
    // re-evaluations it prevents.
    val (grams, observed) = Barrier.materialize(docs.select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), greatest(lit(1), length(col("text")) - 4)),
          i => call_function("substring", col("text"), i, lit(5)))).as("grams")),
      count(lit(1)))
    val poolCnt = math.max(1L, observed.getLong(0))
    val rate = math.min(1.0, LshTuneCap.toDouble / poolCnt)
    val thHex = HashFunctions.rateGateHex(rate)
    (docs, grams, grams.filter(substring(
      md5(concat(lit("graft-lsh-rec:"), col("doc_id").cast("string")).cast("binary")),
      1, 4) < lit(thHex)))
  }

  private val dedupLshTuning = Q(
    "dedup_lsh_tuning",
    (s, dir) => {
      import s.implicits._
      // one documents scan feeds grams, the rate-capped query sample,
      // and the signature build; grams use the signature's own gram
      // definition so truth and index measure the same universe
      val (docs, grams, qs) = lshTuningGramsAndSample(s, dir)
      // exact directed truth pairs: (sampled query, corpus doc) with
      // distinct-gram Jaccard >= 0.5 ([[lshTuningTruth]])
      // consumed by the hits join and the count
      val truth = Barrier.materialize(lshTuningTruth(grams, qs))._1
      // one signature build feeds all four configs
      val sig = Barrier.materialize(
        HashFunctions.md5MinhashSignaturesText(docs, "doc_id", "text", 5, 16))._1
      val bandAll = Seq(16, 8, 4, 2).map { r =>
        sig.select(lit(r.toLong).as("rows_per_band"), col("doc_id"),
          explode(HashFunctions.md5Bands(col("sig"), 16 / r, r)).as("bk"))
      }.reduce(_ unionAll _)
      val qids = qs.select(col("doc_id").as("qid"))
      // query-side band keys from the CAPPED sample's signatures only
      // (sig ⨝ qids first, THEN band-explode) — the old shape computed
      // the full-corpus band explode a second time on the a-side just
      // to filter it to ≤ LshTuneCap docs. The sample side is bounded
      // by the cap at any corpus size, so broadcasting it keeps the
      // corpus-side bandAll un-shuffled (one full-corpus md5Bands
      // evaluation instead of two, no exchange on the big side).
      val qBand = Seq(16, 8, 4, 2).map { r =>
        sig.join(broadcast(qids), col("doc_id") === col("qid"))
          .select(lit(r.toLong).as("rows_per_band"), col("qid"),
            explode(HashFunctions.md5Bands(col("sig"), 16 / r, r)).as("bk"))
      }.reduce(_ unionAll _)
      // consumed by the per-config count and the hits join
      val cand = Barrier.materialize(broadcast(qBand).as("a")
        .join(bandAll.as("b"), expr(
          "a.rows_per_band = b.rows_per_band AND a.bk = b.bk AND a.qid <> b.doc_id"))
        .select(col("a.rows_per_band").as("rows_per_band"),
          col("a.qid").as("qid"), col("b.doc_id").as("cid"))
        .distinct())._1
      val nCand = cand.groupBy("rows_per_band").agg(count(lit(1)).as("n_cand"))
      val nHits = cand.join(truth, Seq("qid", "cid"))
        .groupBy("rows_per_band").agg(count(lit(1)).as("n_hits"))
      val cfg = Seq((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L))
        .toDF("bands", "rows_per_band")
      cfg.crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .join(nCand, Seq("rows_per_band"), "left")
        .join(nHits, Seq("rows_per_band"), "left")
        .select(col("bands"), col("rows_per_band"), col("n_true"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            greatest(col("n_true"), lit(1L)), 4).as("recall"),
          round(coalesce(col("n_hits"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_cand"), lit(0L)), lit(1L)), 6).as("prec"))
    },
    Some(s"""WITH g0 AS (
  SELECT doc_id, list_transform(generate_series(1, greatest(1, length(text)-4)),
                                i -> substring(text, i, 5)) AS grams
  FROM documents),
gd AS (SELECT doc_id, list_distinct(grams) AS grams FROM g0),
gate AS (
  SELECT lpad(lower(to_hex(CAST(least(65535, greatest(1, floor(
           least(1.0, CAST($LshTuneCap AS DOUBLE) / greatest(1, COUNT(*))) * 65536.0)))
         AS BIGINT))), 4, '0') AS keep_below
  FROM gd),
q AS (
  SELECT gd.* FROM gd CROSS JOIN gate
  WHERE substring(md5('graft-lsh-rec:' || CAST(doc_id AS VARCHAR)), 1, 4) < keep_below),
truth AS (
  SELECT q.doc_id AS qid, c.doc_id AS cid
  FROM q JOIN gd c ON c.doc_id <> q.doc_id
   AND 3 * length(list_intersect(q.grams, c.grams)) >= length(q.grams) + length(c.grams)),
sig AS (
  SELECT doc_id, s AS seed,
         list_min(list_transform(grams, g2 -> md5(g2 || ':' || s))) AS h
  FROM g0, generate_series(0, 15) t(s)),
band AS (
  SELECT doc_id, r, seed // r AS band_id,
         md5(string_agg(h, '|' ORDER BY seed)) AS bh
  FROM sig, (VALUES (16), (8), (4), (2)) cfgr(r)
  GROUP BY doc_id, r, seed // r),
cand AS (
  SELECT DISTINCT a.r, a.doc_id AS qid, b.doc_id AS cid
  FROM band a
  JOIN band b ON b.r = a.r AND b.band_id = a.band_id AND b.bh = a.bh
             AND b.doc_id <> a.doc_id
  WHERE a.doc_id IN (SELECT doc_id FROM q)),
ncand AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY r),
nhits AS (
  SELECT c.r, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM cand c JOIN truth t ON t.qid = c.qid AND t.cid = c.cid
  GROUP BY c.r),
tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth),
cfg AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4), (8, 2)) t(bands, r))
SELECT CAST(cfg.bands AS BIGINT) AS bands,
       CAST(cfg.r AS BIGINT) AS rows_per_band,
       tc.n_true,
       CAST(COALESCE(ncand.n_cand, 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(nhits.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(COALESCE(nhits.n_hits, 0) AS DOUBLE)
             / greatest(tc.n_true, 1), 4) AS recall,
       round(CAST(COALESCE(nhits.n_hits, 0) AS DOUBLE)
             / greatest(COALESCE(ncand.n_cand, 0), 1), 6) AS prec
FROM cfg CROSS JOIN tc
LEFT JOIN ncand ON ncand.r = cfg.r
LEFT JOIN nhits ON nhits.r = cfg.r"""))

  private val dedupSimhash = Q(
    "dedup_simhash",
    (s, dir) => {
      val base = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // Same build-once/probe-many shape as dedup_minhash: checkpoint
      // the hash index, carry the hash through the bucket join.
      val docs = Barrier.materialize(HashFunctions.simhashes(base, "doc_id", "toks")
        .withColumn("chunks", HashFunctions.simhashChunks(col("simhash"))))._1
      // hamming <= 3 matches the 4-chunk pigeonhole guarantee: every
      // pair within the threshold shares a chunk and IS generated. A
      // looser filter (e.g. <=12) would emit a biased sample — pairs
      // in the 4..12 band appear only if they luckily share a chunk.
      HashFunctions.bucketedPairs(docs, "doc_id", "chunks", payload = Seq("simhash"))
        .select(col("id_a"), col("id_b"),
          HashFunctions.hammingDistance(col("simhash_a"), col("simhash_b")).as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
    },
    None)

  /** D4's hash-checkable twin (the D9/E2b discipline): SimHash vote
    * bits from md5 ([[HashFunctions.simhashesMd5]] — the first 16 hex
    * chars of each token's digest parsed as a 64-bit value) instead
    * of xxhash64, with the SAME lane-packed bulk aggregation, sign
    * rule, chunk LSH keys ([[HashFunctions.simhashChunks]]),
    * chunk-collision candidates and hamming verify as production D4 —
    * and the DuckDB oracle reproduces every stage with hex-nibble
    * arithmetic (bit i = nibble-bit i%4 of hex char 16 − i/4). With
    * this row every dedup family member (exact, n-gram, minhash,
    * simhash, embedding) has a fully hash-checked flavor. */
  private val dedupSimhashOracle = Q(
    "dedup_simhash_oracle",
    (s, dir) => {
      val base = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      val docs = Barrier.materialize(HashFunctions.simhashesMd5(base, "doc_id", "toks")
        .withColumn("chunks", HashFunctions.simhashChunks(col("simhash"))))._1
      HashFunctions.bucketedPairs(docs, "doc_id", "chunks", payload = Seq("simhash"))
        .select(col("id_a"), col("id_b"),
          HashFunctions.hammingDistance(col("simhash_a"), col("simhash_b"))
            .cast("long").as("hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
h AS (
  SELECT doc_id, CAST(least(len(toks), 65535) AS BIGINT) AS n,
         list_transform(toks[1:65535], tk -> md5('graft-sh:' || tk)) AS hs
  FROM t),
bits AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, 63), i ->
           CAST(list_sum(list_transform(hs, hh ->
             (strpos('0123456789abcdef',
                substring(hh, CAST(16 - i // 4 AS INT), 1)) - 1)
               >> CAST(i % 4 AS INT) & 1)) AS BIGINT)) AS ones
  FROM h),
ch AS (
  SELECT doc_id,
         list_transform(generate_series(0, 3), g ->
           CAST(list_sum(list_transform(generate_series(0, 15), j ->
             CASE WHEN 2 * ones[CAST(g * 16 + j + 1 AS INT)] > n
               THEN (CAST(1 AS BIGINT) << CAST(j AS INT)) ELSE 0 END))
             AS BIGINT)) AS chunks
  FROM bits),
e AS (
  SELECT doc_id, gs.g AS chunk_id, chunks[CAST(gs.g + 1 AS INT)] AS chunk
  FROM ch, generate_series(0, 3) gs(g)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM e a JOIN e b
    ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM (
  SELECT p.id_a, p.id_b,
         CAST(list_sum(list_transform(generate_series(1, 4), i ->
           bit_count(xor(ca.chunks[CAST(i AS INT)], cb.chunks[CAST(i AS INT)]))))
           AS BIGINT) AS hamming
  FROM pairs p
  JOIN ch ca ON ca.doc_id = p.id_a
  JOIN ch cb ON cb.doc_id = p.id_b)
WHERE hamming <= 3"""))

  private val dedupEmbedding = Q(
    "dedup_embedding",
    (s, dir) => {
      // Embedding near-dup pairs, IVF-style: candidates restricted to
      // the same coarse partition (label); vectors unit-normalized ONCE
      // per row so the pair loop is a bare dot product.
      val v = ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("label"),
          normalize(toDouble(col("embedding"))).as("e"))
      val a = v.as("a")
      val b = v.as("b")
      a.join(b, expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .select(
          col("a.vec_id").as("id_a"),
          col("b.vec_id").as("id_b"),
          round(dot(col("a.e"), col("b.e")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
    },
    Some("""WITH v0 AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])), 6) AS cos_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])), 6) >= 0.3"""))

  /** dedup_embedding under D8's incremental split: the corpus (3/4)
    * is the standing side, the delta (1/4) broadcasts into a
    * same-cell probe plus its own self-join — the online "does this
    * new embedding near-dup anything?" shape, with the full pipeline
    * restricted-to-delta oracle (cosine is plain arithmetic, so
    * unlike D8 the incremental EMBEDDING dedup is hash-checked).
    * At scale the standing side is the persisted Ivf index
    * ([[graft.operators.Ivf.appendToIndex]] lands the delta after
    * the probe); cells here are the coarse label partition, the same
    * candidate restriction dedup_embedding uses. */
  private val dedupEmbeddingIncremental = Q(
    "dedup_embedding_incremental",
    (s, dir) => {
      // normalize ONCE; corpus and delta both derive from the
      // checkpoint so the broadcast side is not recomputed per branch
      val v = embCorpus(s, dir)
      val corpus = v.filter(col("vec_id") % 4 =!= 0)
      val delta = v.filter(col("vec_id") % 4 === 0)
      val oldNew = corpus.as("i")
        .join(broadcast(delta).as("d"), expr("i.label = d.label"))
        .select(
          least(col("i.vec_id"), col("d.vec_id")).as("id_a"),
          greatest(col("i.vec_id"), col("d.vec_id")).as("id_b"),
          round(dot(col("i.e"), col("d.e")), 6).as("cos_sim"))
      val self = delta.as("a")
        .join(delta.as("b"), expr("a.label = b.label AND a.vec_id < b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          round(dot(col("a.e"), col("b.e")), 6).as("cos_sim"))
      oldNew.unionAll(self).filter(col("cos_sim") >= 0.3)
    },
    Some("""WITH v0 AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])), 6) AS cos_sim
FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])), 6) >= 0.3
  AND (a.vec_id % 4 = 0 OR b.vec_id % 4 = 0)"""))

  // ---------------------------------------------------------------------
  // E. Similarity search
  // ---------------------------------------------------------------------
  /** BPE merge induction ([[operators.BpeTrain]]) — the tokenizer-
    * training half of the F-suite's token counting: the corpus folds
    * to a (word, count) vocabulary in ONE shuffle, then each of the
    * 20 merge rounds is a narrow pair-count aggregate over the vocab
    * plus a driver argmax (control plane), with deterministic
    * lexicographic tie-breaks. Iterative argmax isn't SQL → rows-only;
    * BpeTrainSpec proves the merge sequence identical to an
    * independent single-machine reference implementation. */
  private val bpeTrain = Q(
    "bpe_train",
    (s, dir) => {
      import s.implicits._
      operators.BpeTrain.train(ViewingData.table(s, dir, "documents"), "text", 20)
        .map(m => (m.rank, m.left, m.right, m.pairCount))
        .toDF("rank", "left", "right", "pair_count")
    },
    None)

  /** F22's serving half as a registry row: the learned merges applied
    * CORPUS-WIDE — segmentation runs only over the distinct-word
    * vocabulary ([[operators.BpeTrain.segmentVocabulary]]) and the
    * corpus joins words to finished segment arrays (broadcast: the
    * vocab is control-plane-sized), so the scan never evaluates the
    * merge fold. Output is the per-doc subword economics a tokenizer
    * team reads: learned-subword count vs whitespace-word count.
    * Training isn't SQL → rows-only; BpeTrainSpec pins the merge
    * sequence and the segment round-trip. */
  private val bpeSegment = Q(
    "bpe_segment",
    (s, dir) => {
      val docs = ViewingData.table(s, dir, "documents")
      // APPLIES A PERSISTED TOKENIZER (the ann_ivfpq discipline, r10):
      // for three rounds this row re-TRAINED the 20 merges per run —
      // a cost production pays once per tokenizer release, not per
      // corpus pass. The merges artifact persists at a source-stamped
      // path (train-if-missing); bpe_train remains the explicit
      // training-cost row. Measured 2.8 s → 1.1 s at sf0.1 (the
      // remaining cost is the vocab-sized merge-apply fold + the
      // corpus join, the true serving cost).
      val path = stampedIndexPath(s, dir, "documents", "bpemerges_n20v1")
      val done = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      // cold path uses trainAndSegment's OWN final vocabulary (the
      // training fold ends holding the segmentation — replaying all 20
      // merges through segmentVocabulary would double the miss cost,
      // review finding); the warm path replays them over the vocab
      // from the loaded artifact, which BpeTrainSpec pins equal
      val segs =
        if (done.getFileSystem(s.sparkContext.hadoopConfiguration).exists(done))
          operators.BpeTrain.segmentVocabulary(docs, "text",
            operators.BpeTrain.loadMerges(s, path))
        else {
          val (merges, trained) =
            operators.BpeTrain.trainAndSegment(docs, "text", 20)
          ensureArtifact(s, path, "_SUCCESS")(
            operators.BpeTrain.saveMerges(s, merges, _))
          trained
        }
      docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .join(broadcast(segs), "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("segments"))).cast("long").as("n_subwords"))
    },
    None)

  private val annBruteforce = Q(
    "ann_bruteforce",
    (s, dir) => {
      val v = ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), normalize(toDouble(col("embedding"))).as("e"))
      val q = v.filter(col("vec_id") === 0)
        .select(col("e").as("qe"))
      val scored = v.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), round(dot(col("e"), col("qe")), 6).as("cos_sim"))
      // Distributed top-k (TakeOrderedAndProject): per-partition heads
      // merged on the driver — no single-partition global window.
      val top = scored.orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
      top.withColumn("rank",
        row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id,
         round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) AS cos_sim
  FROM v, q WHERE v.vec_id <> 0)
SELECT vec_id, cos_sim, CAST(rk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rk FROM scored)
WHERE rk <= 10"""))

  private val annBucketed = Q(
    "ann_bucketed",
    (s, dir) => {
      // Scale path: 4 random-hyperplane bits → 16 buckets (sized to the
      // test corpus; planes scale with corpus size), probe = vec_id 0's
      // bucket, top-10 by cosine within it.
      val v = bucketedEmb(s, dir, hyperplaneBucket(_, 4))
      val q = v.filter(col("vec_id") === 0)
        .select(col("e").as("qe"), col("bucket").as("qbucket"))
      v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0 && col("bucket") === col("qbucket"))
        .select(col("vec_id"), col("bucket"),
          round(dot(col("e"), col("qe")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    },
    None)

  private val annBucketedOracle = Q(
    "ann_bucketed_oracle",
    (s, dir) => {
      // ann_bucketed's hash-checkable twin (the D9/D10 pattern): the
      // hyperplane signs come from md5 — reproducible verbatim in
      // DuckDB — so the ENTIRE probe (bucketing, pruning, cosine
      // top-10) is pinned by the oracle, not just row counts. Same
      // plan shape as ann_bucketed: build-once index, one-bucket
      // probe, distributed top-k.
      val v = bucketedEmb(s, dir, hyperplaneBucketMd5(_, 4))
      val q = v.filter(col("vec_id") === 0)
        .select(col("e").as("qe"), col("bucket").as("qbucket"))
      v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0 && col("bucket") === col("qbucket"))
        .select(col("vec_id"), col("bucket"),
          round(dot(col("e"), col("qe")), 6).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id")).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v1 AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
v AS (
  SELECT vec_id, e,
         CAST(list_sum(list_transform(generate_series(0, 3), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(e)), i ->
             CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN e[i] ELSE -e[i] END)) > 0
           THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM v1),
q AS (SELECT e AS qe, bucket AS qbucket FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id, v.bucket,
         round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) AS cos_sim
  FROM v, q WHERE v.vec_id <> 0 AND v.bucket = q.qbucket)
SELECT vec_id, bucket, cos_sim, CAST(rk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rk FROM scored)
WHERE rk <= 10"""))

  /** ONE builder shared by ann_q8 (the original rows-only row, kept
    * for registry continuity) and ann_q8_oracle — "byte-identical
    * pipeline" holds by construction, not by hand-kept duplication.
    * Quantized brute force: the index stores array<tinyint> + one
    * scale (8× narrower scans than array<double> — the memory-fit
    * lever at 100 TB); scoring is integer multiply-accumulate via the
    * native vec_dot_q8 expression. NativeExpressionSpec pins ≥0.9
    * recall@10 vs full precision and the quantization error bound. */
  private def q8Pipeline(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val v = ViewingData.table(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        quantize(normalize(toDouble(col("embedding")))).as("z"))
    val q = v.filter(col("vec_id") === 0).select(col("z").as("qz"))
    v.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(dotQ8(col("z"), col("qz")), 6).as("cos_q8"))
      .orderBy(col("cos_q8").desc, col("vec_id")).limit(10)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cos_q8").desc, col("vec_id"))))
  }

  private val annQ8 = Q("ann_q8", q8Pipeline, None)

  /** E5's hash-checkable twin — literally the SAME builder as ann_q8
    * ([[q8Pipeline]]), with the oracle restating the kernel's exact
    * arithmetic: scale = max|x|/127, q_i = floor(x_i/scale + 0.5)
    * (the kernel's STATED round-half-up convention — DuckDB's round()
    * builtin ties differ, the floor form's do not), integer
    * multiply-accumulate, then scaleA·scaleB·Σ. Zero vectors score
    * 0.0 on both engines (the kernel's scale-0 branch; the oracle's
    * coalesce — DuckDB's x/sqrt(0) is NULL). With this row every
    * native vector kernel (vec_dot, vec_q8, vec_dot_q8, argmax-dot
    * via E6b, winnow_fps) is DuckDB-proven. */
  private val annQ8Oracle = Q(
    "ann_q8_oracle",
    q8Pipeline,
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, list_transform(e, x ->
    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
z AS (
  SELECT vec_id,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale,
         e
  FROM v),
qt AS (
  SELECT vec_id, scale,
         list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS q
  FROM z),
qv AS (SELECT scale AS qscale, q AS qq FROM qt WHERE vec_id = 0),
sc AS (
  SELECT qt.vec_id,
         round(coalesce(qt.scale * qv.qscale *
           CAST(list_sum(list_transform(generate_series(1, len(qt.q)), i ->
             qt.q[i] * qv.qq[i])) AS DOUBLE), 0.0), 6) AS cos_q8
  FROM qt CROSS JOIN qv WHERE qt.vec_id <> 0),
top AS (
  SELECT vec_id, cos_q8 FROM sc
  ORDER BY cos_q8 DESC, vec_id LIMIT 10)
SELECT vec_id, cos_q8,
       CAST(row_number() OVER (ORDER BY cos_q8 DESC, vec_id) AS INTEGER) AS rank
FROM top"""))

  /** E16 — the QUANTIZATION-QUALITY table that decides whether int8
    * serving is safe (the eval run before flipping an index to
    * vec_q8 storage, completing the knob-pricing family: D21 prices
    * banding, E15 planes, E14 multiprobe, E13 occupancy — this row
    * prices precision): per label, the L2 reconstruction error of
    * the NATIVE `vec_q8` kernel's round-trip (dequant = q_i·scale)
    * and the quantized norm's drift from the unit sphere. The
    * per-vector arithmetic runs through the same codegen'd kernel
    * E5 serves with; the DuckDB twin restates the E5b quantization
    * CTE and recomputes the error independently, so a kernel
    * regression in EITHER direction (rounding convention, scale,
    * sign) hash-mismatches. Scan + one small groupBy. */
  private val annQ8Error = Q(
    "ann_q8_error_report",
    (s, dir) => {
      // checkpoint BEFORE the HOF readout: CollapseProject would
      // otherwise inline `quantize(e)` into every z.q / z.scale
      // reference inside the lambdas — the O(d²) re-evaluation the
      // kernel's scaladoc warns about
      val v = Barrier.materialize(ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("label"),
          normalize(toDouble(col("embedding"))).as("e"))
        .withColumn("z", quantize(col("e"))))._1
      val err = sqrt(aggregate(
        zip_with(col("e"), col("z.q"), (x, qi) =>
          (x - qi.cast("double") * col("z.scale")) *
            (x - qi.cast("double") * col("z.scale"))),
        lit(0.0), (acc, t) => acc + t))
      val qnorm = sqrt(aggregate(
        transform(col("z.q"), qi =>
          qi.cast("double") * col("z.scale") * qi.cast("double") * col("z.scale")),
        lit(0.0), (acc, t) => acc + t))
      v.select(col("label"), err.as("err"), qnorm.as("qnorm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          round(avg("err"), 6).as("avg_err"),
          round(max("err"), 6).as("max_err"),
          round(avg("qnorm"), 6).as("avg_qnorm"))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, label, list_transform(e, x ->
    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
z AS (
  SELECT vec_id, label, e,
         list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
  FROM v),
qt AS (
  SELECT vec_id, label, e, scale,
         CASE WHEN scale = 0
              THEN list_transform(e, x -> CAST(0 AS BIGINT))
              ELSE list_transform(e, x -> CAST(floor(x / scale + 0.5) AS BIGINT))
         END AS q
  FROM z),
m AS (
  SELECT label,
         sqrt(list_sum(list_transform(generate_series(1, len(e)), i ->
           (e[i] - q[i] * scale) * (e[i] - q[i] * scale)))) AS err,
         sqrt(list_sum(list_transform(generate_series(1, len(e)), i ->
           q[i] * scale * q[i] * scale))) AS qnorm
  FROM qt)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(AVG(err), 6) AS avg_err,
       round(MAX(err), 6) AS max_err,
       round(AVG(qnorm), 6) AS avg_qnorm
FROM m GROUP BY label"""))

  private val annIvf = Q(
    "ann_ivf",
    (s, dir) => {
      // IVF-Flat multi-probe: cells seeded from the label column,
      // refined to true centroids, nprobe=3 of 10 cells. Index built
      // once (a barrier per frame); probe touches ~30% of the corpus.
      val v = embCorpus(s, dir)
      val cents = Barrier.materialize(operators.Ivf.centroids(v, "label", "e"))._1
      val index = Barrier.materialize(operators.Ivf.assign(v, cents, "vec_id", "e", "label"))._1
      val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
      operators.Ivf.probe(index.filter(col("vec_id") =!= 0), cents, query,
          "vec_id", "e", "label", nprobe = 3, k = 10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    },
    None)

  /** The normalized embeddings frame every IVF and label-cell ANN row
    * starts from, materialized once. */
  private def embCorpus(s: SparkSession, dir: String) =
    Barrier.materialize(ViewingData.table(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"),
        normalize(toDouble(col("embedding"))).as("e")))._1

  /** The build-once hyperplane-bucketed index of the normalized
    * embeddings: materialized so the probe and index branches read one
    * projection instead of each recomputing it. */
  private def bucketedEmb(s: SparkSession, dir: String, bucket: Column => Column) =
    Barrier.materialize(ViewingData.table(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"), normalize(toDouble(col("embedding"))).as("e"))
      .withColumn("bucket", bucket(col("e"))))._1

  /** Control-plane fingerprint of a source parquet table (no data
    * scan) baked into a persisted index's path: a testdata
    * regeneration changes the stamp, so a probe can never silently
    * serve an index built from a PREVIOUS corpus. A single file
    * stamps as mtime+length; a DIRECTORY hashes its recursive
    * leaf-file listing (names + lengths + mtimes) — directory length
    * is ~0/constant on most filesystems and directory mtime only
    * tracks direct-child renames, so the old status-of-the-dir stamp
    * was effectively mtime alone (r10 advice: a regen that preserved
    * the dir mtime would have served a stale artifact). */
  private def tableStamp(s: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isFile) s"${st.getModificationTime}_${st.getLen}"
    else {
      // ROOT-RELATIVE paths, not bare names (r11 review: a file moved
      // between partition subdirs preserving name/len/mtime would
      // otherwise keep the stamp while changing the data)
      val rootStr = st.getPath.toString
      val leaves = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        leaves +=
          s"${f.getPath.toString.stripPrefix(rootStr)}:${f.getLen}:${f.getModificationTime}"
      }
      // sorted: listing order is filesystem-dependent and must not
      // mint a new stamp for an unchanged table
      java.security.MessageDigest.getInstance("MD5")
        .digest(leaves.sorted.mkString("|").getBytes("UTF-8"))
        .take(8).map("%02x".format(_)).mkString
    }
  }

  /** The ONE path constructor for every persisted probe index (review
    * finding: hand-repeated path strings let a build row and its probe
    * row silently drift to different paths, un-splitting the
    * build/probe economics). `scheme` must encode every build
    * parameter and key-scheme version the stored layout depends on
    * (bands, m/k, hashing scheme …) — the source stamp only protects
    * against DATA changes; a code change to the scheme must change
    * this token or a stale /tmp index from the previous code would be
    * probed with incompatible keys (zero collisions, silently empty
    * candidates).
    *
    * Tmpdir growth: a stamp change (testdata regen, scheme bump)
    * orphans the previously built artifacts under java.io.tmpdir —
    * they are never deleted here BY DESIGN: a sweep keyed on "not the
    * current stamp" would race concurrent graft JVMs (bench + the
    * correctness harness run together on the driver) still probing an
    * index built moments earlier from another sf dir. /tmp is
    * machine-managed scratch; long-lived deployments should point
    * java.io.tmpdir at a quota'd scratch volume. */
  private[graft] def stampedIndexPath(s: SparkSession, dir: String,
      table: String, scheme: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${scheme}_" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + tableStamp(s, dir, table)

  /** Staged publish for every build-if-missing artifact writer (r10
    * advice: the old check-then-overwrite-in-place writers let two
    * concurrent graft JVMs — e.g. bench and the correctness harness —
    * race, and `mode("overwrite")` deleted files out from under the
    * loser's reader). `build` writes the COMPLETE artifact into a
    * unique staging dir; it is renamed into place only when done, so
    * at no instant does a reader see a partial artifact at `path`.
    * `marker` is the build-complete file relative to `path`
    * (parquet's _SUCCESS of the LAST artifact written). The loser of
    * a publish race drops its staged copy and reads the winner's. */
  private[graft] def ensureArtifact(s: SparkSession, path: String,
      marker: String)(build: String => Unit): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
    val done = new org.apache.hadoop.fs.Path(s"$path/$marker")
    if (fs.exists(done)) return
    val staged = new org.apache.hadoop.fs.Path(
      s"$path.__stage_${java.util.UUID.randomUUID()}__")
    try {
      build(staged.toString)
      // Publish invariant: a staged artifact is COMPLETE — its marker
      // sits INSIDE the staged dir — and rename is atomic, so at
      // every instant `path` either doesn't exist or holds a complete
      // artifact WITH its marker. Race handling never DELETES a
      // target that might be a winner (r11 review, twice): a
      // marker-less target is moved ASIDE atomically and inspected —
      // if it turns out to be a winner that landed in the
      // check-to-rename gap, it is moved straight back; only a
      // confirmed torn leftover (a crashed pre-staging in-place
      // build) is dropped. And because local-fs rename has mv
      // semantics (renaming onto an existing dir NESTS the source
      // inside it), a publish that nested into a fresh winner is
      // detected and the nested copy removed — the winner stands
      // untouched in every interleaving.
      if (fs.exists(done)) return
      if (fs.exists(target)) {
        val aside = new org.apache.hadoop.fs.Path(
          s"$path.__torn_${java.util.UUID.randomUUID()}__")
        if (fs.rename(target, aside)) {
          if (fs.exists(new org.apache.hadoop.fs.Path(s"$aside/$marker"))) {
            // we grabbed a concurrent winner — restore it, drop ours
            fs.rename(aside, target)
            return
          }
          fs.delete(aside, true) // confirmed torn leftover
        }
      }
      val renamed = fs.rename(staged, target)
      // mv semantics: if a winner landed between the check and the
      // rename, our staged dir nested INSIDE it — remove the nested
      // copy; the winner is complete and stands
      val nested = new org.apache.hadoop.fs.Path(target, staged.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
      // r11 advice: on filesystems where rename onto an existing dir
      // returns FALSE instead of nesting (HDFS), a silently-discarded
      // publish would surface later as an obscure read error — verify
      // that either our publish or a concurrent winner holds the
      // marker, and fail loudly otherwise
      if (!renamed && !fs.exists(done))
        throw new IllegalStateException(
          s"artifact publish failed: rename($staged -> $target) returned " +
            s"false and no complete artifact holds $done")
    } finally
      // failed build, lost race, or leftover: never leak staging dirs
      if (fs.exists(staged)) fs.delete(staged, true)
  }

  /** Unconditional-REBUILD flavor for the explicit build-cost rows
    * (ann_ivfpq_build): stage the fresh index, then swap it live via
    * [[sources.LakeWriter.publish]] — a concurrent probe of the old
    * copy keeps its open file handles; the swap is rename-atomic. */
  private[graft] def rebuildArtifact(s: SparkSession, path: String)(
      build: String => Unit): Unit = {
    val staged = s"$path.__stage_${java.util.UUID.randomUUID()}__"
    // a failed build must not leak its staged dir next to the live
    // index (r11 advice: ensureArtifact cleaned this case, the
    // rebuild flavor did not)
    try build(staged)
    catch { case e: Throwable =>
      val p = new org.apache.hadoop.fs.Path(staged)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      throw e
    }
    sources.LakeWriter.publish(s, staged, path)
  }

  /** IVF-PQ build parameters — ONE definition driving BOTH writeIndex
    * call sites and the scheme token (review finding: hand-duplicated
    * literals with a "keep in lockstep" comment recreate exactly the
    * drift the token exists to kill — a tuning that missed one site
    * would build incompatible indexes at the same path). */
  private val IvfPqM = 16
  private val IvfPqK = 16
  private val IvfPqIvfRounds = 1
  private val IvfPqPqRounds = 2
  private val IvfPqScheme =
    s"ivfpq_m${IvfPqM}k${IvfPqK}i${IvfPqIvfRounds}p$IvfPqPqRounds"

  /** Build-if-missing for the persisted IVF-PQ index the ann_ivfpq
    * serving row probes: the index lives at a path keyed by (sf dir,
    * source stamp) and is built ONCE — errstats is the last artifact
    * [[operators.IvfPq.writeIndex]] lands, so its _SUCCESS is the
    * build-complete marker. Returns the index path. */
  private def ensureIvfPqIndex(s: SparkSession, dir: String,
      v: DataFrame): String = {
    val path = stampedIndexPath(s, dir, "embeddings", IvfPqScheme)
    ensureArtifact(s, path, "errstats/_SUCCESS") { staged =>
      operators.IvfPq.writeIndex(v, "vec_id", "e", "label", staged,
        m = IvfPqM, k = IvfPqK, ivfRounds = IvfPqIvfRounds, pqRounds = IvfPqPqRounds)
    }
    path
  }

  private val annIvfPq = Q(
    "ann_ivfpq",
    (s, dir) => {
      // The composed production index: IVF cells persisted as parquet
      // directories carrying PQ residual codes. Probe = directory-
      // pruned cells → literal-LUT ADC shortlist → exact re-rank of
      // shortlist ids only. Rows-only (seeded k-means + quantization
      // have no DuckDB twin); IvfPqSpec pins ≥0.9 recall@10 vs brute
      // force plus the pruned-read layout.
      //
      // PROBES A PRE-BUILT INDEX (r9 directive): for three rounds this
      // row's bench number was dominated by rebuilding the index every
      // run — a cost production amortizes build-once/probe-many. The
      // index now persists at a source-stamped path and only builds
      // when absent (first run on a fresh VM / after a testdata
      // regen); ann_ivfpq_build is the explicit build-cost row.
      import s.implicits._
      val v = embCorpus(s, dir)
      val path = ensureIvfPqIndex(s, dir, v)
      val q = v.filter(col("vec_id") === 0).select("e").as[Seq[Double]].head()
      operators.IvfPq.probe(s, path, v.filter(col("vec_id") =!= 0), q,
          "vec_id", "e", "label", nprobe = 8, k = 10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id"))))
    },
    None)

  private val annIvfPqBuild = Q(
    "ann_ivfpq_build",
    (s, dir) => {
      // The build side of the split: a FULL index rebuild (IVF train +
      // assign + PQ residual codebooks + cell-partitioned write),
      // timed explicitly so the bench history carries the true
      // build-once cost next to ann_ivfpq's probe cost instead of
      // mixing them in one number. One Lloyd round per quantizer (the
      // amortized-build economics; IvfPqSpec pins recall at the full
      // default rounds). Returns the per-(batch, cell) fill — the
      // retrain-signal readout — so the row has checkable output;
      // rows-only (seeded k-means has no DuckDB twin).
      val v = embCorpus(s, dir)
      val path = stampedIndexPath(s, dir, "embeddings", IvfPqScheme)
      rebuildArtifact(s, path) { staged =>
        operators.IvfPq.writeIndex(v, "vec_id", "e", "label", staged,
          m = IvfPqM, k = IvfPqK, ivfRounds = IvfPqIvfRounds, pqRounds = IvfPqPqRounds)
      }
      operators.Ivf.cellFill(s, path, "label")
        .orderBy("batch", "label")
    },
    None)

  /** Exact radius search via IVF cell pruning (E11) — every vector
    * with cos ≥ τ of the query, served by [[operators.Ivf.rangeProbe]]:
    * per-cell max-radius stats + the triangle bound decide which
    * cells CANNOT hold a qualifying vector; surviving cells scan
    * exactly. The result provably equals brute force REGARDLESS of
    * what k-means did, which is why this ANN-family row is fully
    * DuckDB-oracled (the brute-force radius query) rather than
    * rows-only like its top-k siblings — the index only decides how
    * much is READ, never what is returned. On THIS corpus (uniform
    * high-dim, label-seeded cells) the bound prunes nothing — every
    * cell radius ≈ the unit-sphere diameter — and the row documents
    * that honestly; IvfRangeSpec pins the clustered regime where the
    * same code prunes most cells, plus exactness in both. */
  private val annRangeSearch = Q(
    "ann_range_search",
    (s, dir) => {
      val v = embCorpus(s, dir)
      val cents = Barrier.materialize(operators.Ivf.centroids(v, "label", "e"))._1
      val index = Barrier.materialize(operators.Ivf.assign(v, cents, "vec_id", "e", "label"))._1
      val query = v.filter(col("vec_id") === 0).select(col("e").as("q"))
      operators.Ivf.rangeProbe(index.filter(col("vec_id") =!= 0), cents,
        query, "vec_id", "e", "label", minCos = 0.2)
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id,
         list_sum(list_transform(generate_series(1, len(v.e)),
                                 i -> v.e[i] * q.qe[i])) AS c
  FROM v, q WHERE v.vec_id <> 0)
SELECT vec_id, round(c, 6) AS cos_sim FROM scored WHERE c >= 0.2"""))

  /** Batch radius search over the persisted index (E11's batch form,
    * r9 directive) — every (query, vector) pair with cos ≥ τ for a
    * whole query SET in one pass, the offline contamination-radius-
    * scan shape. Served by [[operators.Ivf.rangeProbeIndexedBatch]]:
    * index + per-cell radius stats persist at a source-stamped path
    * (build-if-missing — the probe is what a standing scan pays), the
    * cells scan carries one literal partition filter over the union
    * of every query's surviving cells, and candidates join the
    * (query, cell) pairs without a forced broadcast. Fully
    * DuckDB-oracled like its single-query sibling: the triangle bound
    * decides only what is READ, never what is returned, so exactness
    * is index-independent even though the index is k-means-built. */
  private val annRangeSearchBatch = Q(
    "ann_range_search_batch",
    (s, dir) => {
      val v = embCorpus(s, dir)
      // label-seeded cells, no trained quantizer: v1 covers the layout
      val path = stampedIndexPath(s, dir, "embeddings", "ivfrange_v1")
      // writeCellStats lands last → its _SUCCESS marks a complete
      // (index + stats) build; the staged publish means a reader can
      // never see the index without its stats
      ensureArtifact(s, path, "cellstats/_SUCCESS") { staged =>
        val cents = Barrier.materialize(operators.Ivf.centroids(v, "label", "e"))._1
        operators.Ivf.writeIndex(
          operators.Ivf.assign(v, cents, "vec_id", "e", "label"),
          cents, "label", staged)
        operators.Ivf.writeCellStats(s, staged, "e", "label")
      }
      val queries = v.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("e").as("q"))
      operators.Ivf.rangeProbeIndexedBatch(s, path, queries,
          "vec_id", "e", "label", minCos = 0.2)
        .filter(col("vec_id") =!= col("query_id"))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id,
         list_sum(list_transform(generate_series(1, len(v.e)),
                                 i -> v.e[i] * q.qe[i])) AS c
  FROM v, q WHERE v.vec_id <> q.query_id)
SELECT query_id, vec_id, round(c, 6) AS cos_sim FROM scored WHERE c >= 0.2"""))

  /** Batch k-NN join — top-k neighbors for EVERY vector at once, the
    * offline shape retrieval indexing and embedding-dedup actually
    * run (the single-query probes above are the serving shape).
    * Bucketed on the label cell like dedup_embedding, so the
    * self-join is cell-local; the per-query top-k is a window that
    * Spark executes with WindowGroupLimit (map-side partial top-k
    * BEFORE the exchange — no per-query sort of full candidate
    * lists). One index build, one bucket-local join, one pruned
    * window: every stage is |cell|-bounded, never |corpus|². */
  private val annKnnJoin = Q(
    "ann_knn_join",
    (s, dir) => {
      val v = embCorpus(s, dir)
      v.as("a").join(v.as("b"),
          expr("a.label = b.label AND a.vec_id <> b.vec_id"))
        .select(
          col("a.vec_id").as("query_id"),
          col("b.vec_id").as("neighbor_id"),
          round(dot(col("a.e"), col("b.e")), 6).as("cos_sim"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("cos_sim").desc, col("neighbor_id"))))
        .filter(col("rank") <= 3)
    },
    Some("""WITH v0 AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, label,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         round(list_sum(list_transform(generate_series(1, len(a.e)), i -> a.e[i] * b.e[i])), 6) AS cos_sim
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored)
WHERE rk <= 3"""))

  /** E12 — the INDEX-QUALITY EVAL every production ANN deployment
    * runs on a schedule: recall@10 of the approximate probe vs exact
    * brute-force ground truth over a deterministic query sample (here
    * vec_id < 8; production samples recent query logs). The probe
    * under eval is the md5-hyperplane bucket search (E2b's exact
    * arithmetic — both engines reproduce it verbatim, which is what
    * makes a RECALL number hash-checkable end to end, the property no
    * seeded-kmeans index can offer). Per query: exact top-10, bucket
    * top-10, hits = |intersection|, recall_10 = hits/10, plus the
    * probe's candidate count (the cost side of the recall/cost
    * trade). Scale shape: the brute side is |sample|×|corpus| BY
    * DESIGN — ground truth for an eval runs over a bounded query
    * sample, not the serving path; the probe side is one bucket
    * equi-join. Both top-10s prune map-side (WindowGroupLimit, the
    * ann_knn_join shape). */
  /** E13 — the INDEX-HEALTH report an ANN deployment watches next to
    * E12's recall eval: per-bucket occupancy of the hyperplane index,
    * each bucket's share of the corpus, its skew vs the uniform
    * expectation over the FULL 2^planes bucket space (n · 2^p / N — a
    * balanced random-hyperplane index sits near 1.0, and empty
    * buckets push the survivors' skew up where an occupied-count
    * denominator would hide them), and the global expected candidate count
    * for a random query, E[occupancy of the query's bucket] =
    * Σn²/N — THE number that prices a single-bucket probe before
    * anyone runs one (compare: E12 measures the same trade after).
    * Same md5-hyperplane arithmetic as E2b, so every column
    * hash-checks. One scan + a ≤ 2^planes-row aggregate; the
    * unpartitioned window runs over that bounded 16-row frame only
    * (the plan-audit convention for report rows). */
  private val annBucketBalance = Q(
    "ann_bucket_balance",
    (s, dir) => {
      val v = ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), normalize(toDouble(col("embedding"))).as("e"))
        .withColumn("bucket", hyperplaneBucketMd5(col("e"), 4))
      val w = Window.partitionBy(lit(1))
      // skew normalizes by the FULL 2^planes bucket space, not the
      // occupied-bucket count (r12 review: an all-in-one-bucket index
      // would otherwise report skew = 1.0 — the "balanced" value —
      // with every empty bucket invisible to the metric)
      v.groupBy("bucket").agg(count(lit(1)).as("n_vecs"))
        .withColumn("total", sum("n_vecs").over(w))
        .select(col("bucket"), col("n_vecs"),
          round(col("n_vecs").cast("double") / col("total"), 6).as("share"),
          round(col("n_vecs").cast("double") * lit(16) / col("total"), 4)
            .as("skew"),
          round(sum(col("n_vecs") * col("n_vecs")).over(w).cast("double")
            / col("total"), 2).as("expected_candidates"))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v1 AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
v AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(generate_series(0, 3), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(e)), i ->
             CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN e[i] ELSE -e[i] END)) > 0
           THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM v1),
occ AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM v GROUP BY bucket)
SELECT bucket, n_vecs,
       round(n_vecs / CAST(SUM(n_vecs) OVER () AS DOUBLE), 6) AS share,
       round(n_vecs * 16.0 / SUM(n_vecs) OVER (), 4) AS skew,
       round(SUM(n_vecs * n_vecs) OVER () / CAST(SUM(n_vecs) OVER () AS DOUBLE), 2)
         AS expected_candidates
FROM occ"""))

  /** The ONE recall-eval readout shared by E12 (single-probe) and E14
    * (multi-probe) — exact brute top-10 per query vs an approximate
    * CANDIDATE frame (columns query_id, vec_id, e, qe), emitting
    * (query_id, n_candidates, hits, recall_10). Kept in one place so
    * a fix to either report's readout cannot drift from the other
    * (r12 review — the same rule as scoredPairsRaw). The approx top
    * frame carries its per-query count through the same window pass
    * and checkpoints, so the hits join and the count readout share
    * one execution (the r12 E12 fix, now inherited by every probe
    * flavor). */
  private def recallScored(
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = cand
    .select(col("query_id"), col("vec_id"),
      round(dot(col("e"), col("qe")), 6).as("cos_sim"))

  /** Exact brute top-10 per query — the ground truth every recall
    * report compares against. Exposed so a multi-config sweep (E15)
    * computes it ONCE and shares the checkpointed frame across its
    * probes (r12 review: the first cut re-ran the corpus cross join
    * per config). */
  private def recallExact(v: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    recallScored(v.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 10)

  private def recallReadout(v: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame,
      approxCand: org.apache.spark.sql.DataFrame,
      exactTop: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    recallReadoutScored(exactTop.getOrElse(recallExact(v, q)),
      recallScored(approxCand))

  /** [[recallReadout]] over an ALREADY-SCORED candidate frame
    * (query_id, vec_id, cos_sim) — split out (r13) so a multi-config
    * sweep whose candidate sets are nested (E15: the p-plane set is
    * the (p+1)-plane superset) scores each pair ONCE and feeds per-
    * config FILTERS of the one scored frame through the same readout,
    * instead of re-running the dot products per config. */
  private def recallReadoutScored(
      exact: org.apache.spark.sql.DataFrame,
      scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wq = Window.partitionBy("query_id")
    val approxTop = Barrier.materialize(scored
      .withColumn("n_candidates", count(lit(1)).over(wq))
      .withColumn("rank", row_number().over(
        wq.orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= 10))._1
    val nCand = approxTop.groupBy("query_id")
      .agg(max("n_candidates").as("n_candidates"))
    exact.select("query_id", "vec_id")
      .join(approxTop.select(col("query_id"), col("vec_id"),
        lit(1L).as("hit")), Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(coalesce(sum("hit"), lit(0L)).as("hits"))
      .join(nCand, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("hits"),
        round(col("hits") / lit(10.0), 4).as("recall_10"))
  }

  /** E14 — MULTI-PROBE LSH (Lv et al., VLDB 2007): probe the query's
    * bucket PLUS its four Hamming-1 neighbors (one hyperplane sign
    * flipped — the buckets a borderline vector most likely fell
    * into), trading ~5× probe volume for recall WITHOUT touching the
    * index — the standard serving-knob between E2's single-probe and
    * a rebuild with more planes. Measured with E12's exact recall
    * methodology and emitted in E12's schema, so the two reports read
    * side by side: same queries, same ground truth, single- vs
    * multi-probe recall/cost. Probe set is exploded to an equi-join
    * on bucket (5 keys per query, hash join, never a scan); the
    * ≤ 10·|sample| top frame checkpoints so hits join and count
    * readout share one execution (the E12 discipline). */
  private val annMultiprobeRecall = Q(
    "ann_multiprobe_recall",
    (s, dir) => {
      val v = bucketedEmb(s, dir, hyperplaneBucketMd5(_, 4))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("bucket").as("qbucket"))
      val probes = q.withColumn("pbucket", explode(array(
        col("qbucket"), expr("qbucket ^ 1"), expr("qbucket ^ 2"),
        expr("qbucket ^ 4"), expr("qbucket ^ 8"))))
      recallReadout(v, q, v.join(broadcast(probes),
        col("bucket") === col("pbucket") && col("vec_id") =!= col("query_id")))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v1 AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
v AS (
  SELECT vec_id, e,
         CAST(list_sum(list_transform(generate_series(0, 3), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(e)), i ->
             CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN e[i] ELSE -e[i] END)) > 0
           THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM v1),
q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qbucket FROM v WHERE vec_id < 8),
probes AS (
  SELECT query_id, qe,
         unnest([qbucket, xor(qbucket, CAST(1 AS BIGINT)), xor(qbucket, CAST(2 AS BIGINT)),
                 xor(qbucket, CAST(4 AS BIGINT)), xor(qbucket, CAST(8 AS BIGINT))]) AS pbucket
  FROM q),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) DESC,
             v.vec_id) AS rk
    FROM v, q WHERE v.vec_id <> q.query_id)
  WHERE rk <= 10),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * p.qe[i])), 6) DESC,
             v.vec_id) AS rk
    FROM v JOIN probes p ON v.bucket = p.pbucket AND v.vec_id <> p.query_id)
  WHERE rk <= 10),
ncand AS (
  SELECT p.query_id, CAST(count(*) AS BIGINT) AS n_candidates
  FROM v JOIN probes p ON v.bucket = p.pbucket AND v.vec_id <> p.query_id
  GROUP BY 1)
SELECT e.query_id,
       coalesce(n.n_candidates, 0) AS n_candidates,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / 10.0, 4) AS recall_10
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
LEFT JOIN ncand n ON n.query_id = e.query_id
GROUP BY 1, 2"""))

  /** E15 — the PLANES-COUNT tuning table (the vector-side analog of
    * D21's banding S-curve): recall@10 and candidate cost of the
    * single-bucket probe at every index granularity p ∈ {1,2,3,4}
    * hyperplanes, all derived from ONE 4-plane bucketing — plane
    * signs are independent bits, so the p-plane bucket is the 4-plane
    * bucket's low p bits (`bucket & (2^p − 1)`), and the whole sweep
    * reuses the one checkpointed index. Answers "how many planes?"
    * the way D21 answers "which banding?": halving planes doubles
    * expected candidates and can only grow recall (coarser buckets
    * are supersets — the E14 dominance argument). Emitted per
    * (planes, query) through the shared [[recallReadout]]. */
  private val annPlanesTuning = Q(
    "ann_planes_tuning",
    (s, dir) => {
      val v = bucketedEmb(s, dir, hyperplaneBucketMd5(_, 4))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("bucket").as("qbucket"))
      // ground truth is p-invariant: compute the brute top-10 ONCE
      // and share it across the four probes (r12 review)
      val exact = Barrier.materialize(recallExact(v, q))._1
      // the p-plane candidate set is the low-p-bits agreement set, so
      // the four sets are NESTED (cand(4) ⊆ cand(3) ⊆ … ⊆ cand(1)):
      // ONE broadcast join at the coarsest mask computes every pair's
      // cos_sim once, annotated with its agreement DEPTH (lvl = count
      // of consecutive matching low bits); probe p filters lvl ≥ p —
      // r13, guide §1.2/§2.4: the first cut re-joined v per p and
      // re-evaluated ~1.9× the coarse set's dot products across the
      // sweep, all of which the p=1 join already contains.
      val lvl = expr("""CASE WHEN (bucket ^ qbucket) & 15 = 0 THEN 4
                             WHEN (bucket ^ qbucket) & 7 = 0 THEN 3
                             WHEN (bucket ^ qbucket) & 3 = 0 THEN 2
                             ELSE 1 END""")
      val scoredAll = Barrier.materialize(v.join(broadcast(q),
          expr("(bucket & 1) = (qbucket & 1)") &&
            col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), lvl.as("lvl"),
          round(dot(col("e"), col("qe")), 6).as("cos_sim")))._1
      (1 to 4).map { p =>
        recallReadoutScored(exact,
            scoredAll.filter(col("lvl") >= p)
              .select("query_id", "vec_id", "cos_sim"))
          .select(lit(p.toLong).as("planes"), col("query_id"),
            col("n_candidates"), col("hits"), col("recall_10"))
      }.reduce(_ unionAll _)
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v1 AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
v AS (
  SELECT vec_id, e,
         CAST(list_sum(list_transform(generate_series(0, 3), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(e)), i ->
             CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN e[i] ELSE -e[i] END)) > 0
           THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM v1),
q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qbucket FROM v WHERE vec_id < 8),
cfg AS (SELECT * FROM (VALUES (1), (2), (3), (4)) t(p)),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) DESC,
             v.vec_id) AS rk
    FROM v, q WHERE v.vec_id <> q.query_id)
  WHERE rk <= 10),
cand AS (
  SELECT cfg.p, q.query_id, v.vec_id, v.e, q.qe
  FROM v JOIN q ON v.vec_id <> q.query_id CROSS JOIN cfg
  WHERE (v.bucket & ((1 << cfg.p) - 1)) = (q.qbucket & ((1 << cfg.p) - 1))),
approx AS (
  SELECT p, query_id, vec_id FROM (
    SELECT p, query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY p, query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(e)), i -> e[i] * qe[i])), 6) DESC,
             vec_id) AS rk
    FROM cand)
  WHERE rk <= 10),
ncand AS (
  SELECT p, query_id, CAST(count(*) AS BIGINT) AS n_candidates
  FROM cand GROUP BY 1, 2)
SELECT CAST(pp.p AS BIGINT) AS planes, e.query_id,
       CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / 10.0, 4) AS recall_10
FROM exact e
CROSS JOIN (SELECT DISTINCT p FROM cfg) pp
LEFT JOIN ncand n ON n.query_id = e.query_id AND n.p = pp.p
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id AND a.p = pp.p
GROUP BY 1, 2, 3"""))

  private val annRecallReport = Q(
    "ann_recall_report",
    (s, dir) => {
      // build-once index: queries + both probe sides
      val v = bucketedEmb(s, dir, hyperplaneBucketMd5(_, 4))
      val q = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("e").as("qe"),
          col("bucket").as("qbucket"))
      // probe + exact + readout live in [[recallReadout]], shared with
      // E14 so the two reports cannot drift
      recallReadout(v, q, v.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id")))
    },
    Some("""WITH v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v1 AS (
  SELECT vec_id,
         list_transform(e, x -> x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
v AS (
  SELECT vec_id, e,
         CAST(list_sum(list_transform(generate_series(0, 3), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, len(e)), i ->
             CASE WHEN substring(md5(CAST(j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1)
                  IN ('0','2','4','6','8','a','c','e')
             THEN e[i] ELSE -e[i] END)) > 0
           THEN CAST(pow(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
  FROM v1),
q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qbucket FROM v WHERE vec_id < 8),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) DESC,
             v.vec_id) AS rk
    FROM v, q WHERE v.vec_id <> q.query_id)
  WHERE rk <= 10),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
             round(list_sum(list_transform(generate_series(1, len(v.e)), i -> v.e[i] * q.qe[i])), 6) DESC,
             v.vec_id) AS rk
    FROM v JOIN q ON v.bucket = q.qbucket AND v.vec_id <> q.query_id)
  WHERE rk <= 10),
ncand AS (
  SELECT q.query_id, CAST(count(*) AS BIGINT) AS n_candidates
  FROM v JOIN q ON v.bucket = q.qbucket AND v.vec_id <> q.query_id
  GROUP BY 1)
SELECT e.query_id,
       coalesce(n.n_candidates, 0) AS n_candidates,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       round(count(a.vec_id) / 10.0, 4) AS recall_10
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
LEFT JOIN ncand n ON n.query_id = e.query_id
GROUP BY 1, 2"""))

  // ---------------------------------------------------------------------
  // G. Multimodal
  // ---------------------------------------------------------------------
  // NOTE on the oracle's constant mime: the synthetic documents corpus
  // is plain text, so no payload starts with a magic-byte prefix and
  // sniffMime's fallthrough ('application/octet-stream') is the right
  // answer for EVERY row — the oracle checks the fallthrough, not the
  // discrimination. Magic-byte discrimination is exercised where real
  // headers exist: mm_header_parse (synthesized bit-valid PNG/GIF/WAV/
  // JPEG headers, oracle-matched) and MultimodalSpec.
  private val mmBinaryMeta = Q(
    "mm_binary_meta",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      octet_length(col("text")).cast("long").as("n_bytes"),
      ascii(col("text")).cast("long").as("first_cp"),
      Multimodal.sniffMime(col("text").cast("binary")).as("mime")),
    Some("""SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(ascii(text) AS BIGINT) AS first_cp,
       'application/octet-stream' AS mime
FROM documents"""))

  /** The frame-sampling stage of the G2 pipeline as its own
    * hash-checked row: [[Multimodal.sampleFrames]] over the BINARY
    * payload (fixed 64-byte frames, every 2nd kept, past-end frames
    * dropped, empty payloads yield no frames — the clamp semantics
    * the scaladoc documents), frames emitted with their ids and byte
    * lengths. Payload bytes are the ASCII text bytes, so the DuckDB
    * twin restates the slicing over the text column verbatim
    * (SourceContractSpec pins the ASCII contract). Scan-speed array
    * expressions, zero shuffle. */
  private val mmFrameSample = Q(
    "mm_frame_sample",
    (s, dir) => {
      val bin = col("text").cast("binary")
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"),
          explode(Multimodal.sampleFrames(bin, 64, 2)).as("f"))
        .select(col("doc_id"), col("f.frame_id").as("frame_id"),
          col("f.frame").cast("string").as("frame"),
          octet_length(col("f.frame")).cast("long").as("frame_bytes"))
    },
    Some("""WITH ids AS (
  SELECT doc_id, text,
         unnest(range(0,
           greatest(CAST(floor((strlen(text) - 1) / 64) AS BIGINT), 0) + 1))
           AS frame_id
  FROM documents)
SELECT doc_id, frame_id,
       substring(text, CAST(frame_id * 64 + 1 AS BIGINT), 64) AS frame,
       CAST(strlen(substring(text, CAST(frame_id * 64 + 1 AS BIGINT), 64))
         AS BIGINT) AS frame_bytes
FROM ids
WHERE frame_id % 2 = 0 AND frame_id * 64 < strlen(text)"""))

  /** The audio leg of the G2 pipeline as a hash-checked row: the
    * payload read as little-endian signed-int16 PCM, folded into
    * per-frame energy (Σ v², exact in a long) and peak (max |v|) by
    * the native `pcm_frames` kernel ([[graft.plans.PcmFramesExpr]] —
    * ONE codegen'd byte pass per row, no UDF). 32-sample frames, last
    * frame partial, trailing odd byte dropped — the decode contract
    * [[graft.functions.PcmAudio]] documents, restated verbatim by the
    * DuckDB twin over the ASCII payload bytes (`ord(substring(...))`
    * pairs; all-integer arithmetic, so no FP boundary anywhere).
    * Scan-speed, zero shuffle: at 100 TB this is embarrassingly
    * parallel over the payload scan, like every G-family stage. */
  private val mmAudioEnergy = Q(
    "mm_audio_energy",
    (s, dir) => {
      val bin = col("text").cast("binary")
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"),
          expr("octet_length(cast(text as binary)) div 2").as("nsamp"),
          posexplode(call_function("pcm_frames", bin, lit(32))))
        .select(col("doc_id"),
          col("pos").cast("int").as("frame_id"),
          least(lit(32L), col("nsamp") - col("pos") * 32L).cast("int")
            .as("n_samples"),
          col("col.energy").as("energy"),
          col("col.peak").as("peak"))
    },
    Some("""WITH f AS (
  SELECT doc_id, text, strlen(text) // 2 AS nsamp,
         unnest(range(0, CAST(ceil((strlen(text) // 2) / 32.0) AS BIGINT)))
           AS frame_id
  FROM documents
  WHERE strlen(text) >= 2),
s AS (
  SELECT doc_id, frame_id, text,
         unnest(range(frame_id * 32, least((frame_id + 1) * 32, nsamp))) AS si
  FROM f),
u AS (
  SELECT doc_id, frame_id,
         ord(substring(text, CAST(2 * si + 1 AS BIGINT), 1))
           + 256 * ord(substring(text, CAST(2 * si + 2 AS BIGINT), 1)) AS uv
  FROM s),
v AS (
  SELECT doc_id, frame_id,
         CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS val
  FROM u)
SELECT doc_id, CAST(frame_id AS INTEGER) AS frame_id,
       CAST(count(*) AS INTEGER) AS n_samples,
       CAST(sum(CAST(val AS BIGINT) * val) AS BIGINT) AS energy,
       CAST(max(abs(val)) AS INTEGER) AS peak
FROM v GROUP BY doc_id, frame_id"""))

  /** Voice-activity-shaped SEGMENTATION over the PCM frames — the
    * composed pipeline a speech-data curator runs (frame energies →
    * active/silent classification → contiguous segments): G6's native
    * frame fold classified by an integer mean-square threshold
    * (energy ≥ τ·n_samples, τ = 6.5e8 ≈ the corpus median — no
    * division, no FP), then the gaps-and-islands fold (the C45
    * pattern) collapses runs into (seg_start, seg_end, n_frames)
    * segments per activity class.
    *
    * Plan shape: the frame explode is scan-local; the island
    * row_number window and the segment aggregate share ONE
    * (doc_id, active) exchange. Per-doc frame counts bound every
    * partition, so the window never sees more than one payload's
    * frames. */
  private val mmAudioSegments = Q(
    "mm_audio_segments",
    (s, dir) => {
      val bin = col("text").cast("binary")
      val frames = ViewingData.table(s, dir, "documents")
        .select(col("doc_id"),
          expr("octet_length(cast(text as binary)) div 2").as("nsamp"),
          posexplode(call_function("pcm_frames", bin, lit(32))))
        .select(col("doc_id"),
          col("pos").cast("int").as("frame_id"),
          (col("col.energy") >=
            lit(650000000L) *
              least(lit(32L), col("nsamp") - col("pos") * 32L)).as("active"))
      import org.apache.spark.sql.expressions.Window
      frames
        .withColumn("grp", col("frame_id") - row_number().over(
          Window.partitionBy("doc_id", "active").orderBy("frame_id")))
        .groupBy("doc_id", "active", "grp")
        .agg(min("frame_id").as("seg_start"),
          max("frame_id").as("seg_end"),
          count(lit(1)).cast("int").as("n_frames"))
        .drop("grp")
    },
    Some("""WITH f AS (
  SELECT doc_id, text, strlen(text) // 2 AS nsamp,
         unnest(range(0, CAST(ceil((strlen(text) // 2) / 32.0) AS BIGINT)))
           AS frame_id
  FROM documents
  WHERE strlen(text) >= 2),
s AS (
  SELECT doc_id, frame_id, text,
         unnest(range(frame_id * 32, least((frame_id + 1) * 32, nsamp))) AS si
  FROM f),
u AS (
  SELECT doc_id, frame_id,
         ord(substring(text, CAST(2 * si + 1 AS BIGINT), 1))
           + 256 * ord(substring(text, CAST(2 * si + 2 AS BIGINT), 1)) AS uv
  FROM s),
e AS (
  SELECT doc_id, frame_id,
         sum(CAST(CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS BIGINT)
             * (CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END)) AS energy,
         count(*) AS n
  FROM u GROUP BY 1, 2),
a AS (
  SELECT doc_id, frame_id, energy >= 650000000 * n AS active FROM e),
g AS (
  SELECT doc_id, frame_id, active,
         frame_id - row_number()
           OVER (PARTITION BY doc_id, active ORDER BY frame_id) AS grp
  FROM a)
SELECT doc_id, active,
       CAST(min(frame_id) AS INTEGER) AS seg_start,
       CAST(max(frame_id) AS INTEGER) AS seg_end,
       CAST(count(*) AS INTEGER) AS n_frames
FROM g GROUP BY doc_id, active, grp"""))

  private val mmDecode = Q(
    "mm_decode",
    (s, dir) => {
      // The G2 decode pipeline end-to-end over real rows: binary
      // payloads → per-partition batched (fake) decode → typed
      // features + frame-sample counts. ONE scan of documents: the
      // projected base (payload + frame counts) is checkpointed and
      // both the decode input and the n_frames side derive from it.
      // Deterministic but byte-level (rows-only; MultimodalSpec pins
      // the decode semantics).
      import s.implicits._
      val bin = col("text").cast("binary")
      val base = Barrier.materialize(ViewingData.table(s, dir, "documents")
        .select(col("doc_id").as("id"), bin.as("payload"),
          Multimodal.sniffMime(bin).as("mime"),
          size(Multimodal.sampleFrames(bin, 64, 2)).cast("long").as("n_frames")))._1
      val media = base.select("id", "payload", "mime").as[Multimodal.MediaRow]
      Multimodal.decodeFeatures(media).toDF()
        .join(base.select("id", "n_frames"), "id")
    },
    None)

  // ---------------------------------------------------------------------
  // H3. Stream/batch parity: the tumbling-window weighted aggregation
  // the streaming job runs, executed in batch (same plan shape
  // Structured Streaming uses per micro-batch).
  // ---------------------------------------------------------------------
  private val streamBatchParity = Q(
    "q_stream_batch_parity",
    (s, dir) => ViewingData.table(s, dir, "events")
      .groupBy(
        window(col("ts"), "1 hour").getField("start").cast("string").as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("events"),
        sum(floor(col("value")).cast("long")).as("value_sum")),
    Some("""SELECT CAST(CAST(date_trunc('hour', ts) AS TIMESTAMP) AS VARCHAR) AS hour_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS events,
       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS value_sum
FROM events
GROUP BY 1, 2"""))

  private val topTerms = Q(
    "text_top_terms",
    (s, dir) => {
      // explode/unnest surface: top-5 tokens per language by frequency.
      val toks = ViewingData.table(s, dir, "documents")
        .select(col("lang"), explode(TextFunctions.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 2)
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("occurrences"))
      val w = Window.partitionBy("lang")
        .orderBy(col("occurrences").desc, col("token"))
      toks.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    },
    Some("""WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents),
counts AS (
  SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS occurrences
  FROM toks WHERE length(token) > 2
  GROUP BY lang, token)
SELECT lang, token, occurrences, CAST(rk AS INTEGER) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY occurrences DESC, token) AS rk
      FROM counts)
WHERE rk <= 5"""))

  private val histogram = Q(
    "q_histogram",
    (s, dir) => ViewingData.table(s, dir, "events")
      .groupBy(col("event_type"), (floor(col("value") / 25) * 25).cast("long").as("bin"))
      .agg(count(lit(1)).as("n")),
    Some("""SELECT event_type,
       CAST(floor(value / 25) * 25 AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2"""))

  /** Entity resolution by blocked fuzzy match — the dedup family's
    * EDIT-DISTANCE member (D2 is set-similarity, D3/D4 are hashed
    * sketches; this is the "same entity, typo'd name" shape). The
    * scalable design is DISTINCT-FIRST: collapse rows to entities
    * before any pairing (|entities| ≪ |rows| — here 10⁴ parts fold to
    * ~10² names; at 100 TB the same fold is what makes pairing
    * possible at all), then pair only within a blocking key
    * (2-char prefix), the LSH-style recall/cost knob — candidate
    * generation is bucket-local, never all-pairs. BOUNDED
    * levenshtein ≤ 3 on the survivors (Spark's threshold form runs a
    * banded O(k·n) early-exit DP — the per-pair cost term at
    * fuzzy-join scale); both engines implement the identical standard
    * edit distance (parity already pinned by q_string_funcs2);
    * threshold 3 matches the corpus vocabulary (closest distinct names
    * sit at distance 3, e.g. "hot ring"/"hot rod"). */
  private val dedupFuzzyNames = Q(
    "dedup_fuzzy_names",
    (s, dir) => {
      val names = ViewingData.table(s, dir, "part")
        .groupBy("p_name").agg(count(lit(1)).as("n_parts"))
        .withColumn("blk", substring(col("p_name"), 1, 2))
      val a = names.select(col("blk"), col("p_name").as("name_a"),
        col("n_parts").as("n_parts_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"),
        col("n_parts").as("n_parts_b"))
      // BOUNDED levenshtein (Spark 3.5+ threshold arg): the banded
      // O(k·n) early-exit form — at blocking-bucket scale the full
      // O(n²) DP per pair is the cost center; -1 encodes "exceeds k"
      val d = levenshtein(col("name_a"), col("name_b"), 3)
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b") && d =!= -1)
        .select(col("name_a"), col("name_b"),
          d.cast("long").as("dist"),
          col("n_parts_a"), col("n_parts_b"))
    },
    Some("""WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts,
         substring(p_name, 1, 2) AS blk
  FROM part GROUP BY 1)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.blk = b.blk AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 3"""))

  /** E3's hash-checkable twin (the D9/E2b discipline): the PRODUCTION
    * probe path — [[graft.operators.Ivf.assign]] then
    * [[graft.operators.Ivf.probe]], byte-identical code to ann_ivf —
    * but with the trained centroids replaced by md5-derived FIXED unit
    * vectors (and the query likewise), so every stage — assignment
    * argmax, nprobe cell ranking, candidate scoring, rounded top-k —
    * is reproduced by the DuckDB oracle with list arithmetic. The
    * rows-only E3 check proves recall of the trained index; this row
    * proves the probe ARITHMETIC the recall spec can't hash. Ties in
    * the assignment break on the GREATER cell id (Ivf.assign's max_by
    * struct ordering), mirrored by the oracle's ORDER BY dot DESC,
    * cell DESC. */
  /** The 8 fixed md5-derived unit centroids every hash-checked ANN
    * row shares (assignment, diversity draw, pair mining, cluster
    * quality) — ONE definition so the Spark side and the DuckDB twin
    * prelude ([[ivfTwinCte]]) cannot drift apart per row. */
  private def fixedCentroids(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    s.range(8).toDF("cell")
      .select(col("cell").cast("int").as("cell"),
        QueriesLLM.hashEmbed(
          concat(lit("graft-ivfc-"), col("cell").cast("string")), 64)
          .as("centroid"))

  /** The L2-normalized embedding corpus those same rows scan. */
  private def normalizedVecs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    ViewingData.table(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id"),
        VectorFunctions.normalize(
          VectorFunctions.toDouble(col("embedding"))).as("e"))

  /** Shared DuckDB twin prelude: the fixed centroids (cells/craw/c)
    * and the normalized corpus (v0/v) — the SQL mirror of
    * [[fixedCentroids]] + [[normalizedVecs]]. */
  private val ivfTwinCte: String =
    s"""cells AS (SELECT unnest(range(0, 8)) AS cell),
craw AS (
  SELECT cell, list_transform(range(0, 64), i ->
    ${QueriesLLM.hex6Sql(
        "md5('graft-ivfc-' || CAST(cell AS VARCHAR) || ':' || CAST(i AS VARCHAR))")}
      / 16777216.0 * 2 - 1) AS raw
  FROM cells),
c AS (
  SELECT cell, list_transform(raw, x ->
    x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS ce
  FROM craw),
v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, list_transform(e, x ->
    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0)"""

  private val annIvfOracle = Q(
    "ann_ivf_oracle",
    (s, dir) => {
      val cents = fixedCentroids(s)
      val v = normalizedVecs(s, dir)
      val index = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "cell")
      val query = s.range(1)
        .select(QueriesLLM.hashEmbed(lit("graft-ivfq-1"), 64).as("q"))
      graft.operators.Ivf.probe(index, cents, query,
        "vec_id", "e", "cell", nprobe = 2, k = 10)
    },
    Some(s"""WITH $ivfTwinCte,
qraw AS (
  SELECT list_transform(range(0, 64), i ->
    ${QueriesLLM.hex6Sql("md5('graft-ivfq-1:' || CAST(i AS VARCHAR))")}
      / 16777216.0 * 2 - 1) AS raw),
q AS (
  SELECT list_transform(raw, x ->
    x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS qe
  FROM qraw),
ad AS (
  SELECT v.vec_id, v.e, c.cell,
         list_sum(list_transform(generate_series(1, 64), i ->
           v.e[i] * c.ce[i])) AS dot
  FROM v CROSS JOIN c),
asg AS (
  SELECT vec_id, e, cell FROM (
    SELECT vec_id, e, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cell DESC) AS rn
    FROM ad) WHERE rn = 1),
pc AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (ORDER BY list_sum(list_transform(
             generate_series(1, 64), i -> q.qe[i] * c.ce[i])) DESC,
             c.cell) AS rn
    FROM c CROSS JOIN q) WHERE rn <= 2)
SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
       round(list_sum(list_transform(generate_series(1, 64), i ->
         a.e[i] * q.qe[i])), 6) AS cos_sim
FROM asg a JOIN pc USING (cell) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  /** Cluster-balanced DIVERSITY sampling — the curation move that
    * keeps a subsample semantically representative instead of letting
    * frequent modes dominate (the SemDeDup/DSIR-era selection shape):
    * embeddings are assigned to semantic cells (the SAME fixed
    * hash-derived spherical centroids as ann_ivf_oracle, so the whole
    * chain stays hash-checkable) and an equal per-cell quota is drawn
    * by deterministic md5 priority — rare clusters survive at full
    * quota while dominant ones are capped.
    *
    * Scale shape: centroids broadcast, assignment is the map-side
    * argmax fold ([[graft.operators.Ivf.assign]]); the per-cell draw
    * is the native `topk_by` bounded heap — each task ships at most
    * k rows per cell, so the one shuffle carries O(cells·k·tasks)
    * rows no matter the corpus size (never a whole-cell sort). The
    * DuckDB twin restates assignment + md5 ranking verbatim. */
  private val annDiversitySample = Q(
    "ann_diversity_sample",
    (s, dir) => {
      val cents = fixedCentroids(s)
      val v = normalizedVecs(s, dir)
      val index = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "cell")
      index
        .select(col("cell"),
          (-conv(substring(md5(concat(lit("graft-divs:"),
              col("vec_id").cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("double")).as("nkey"),
          col("vec_id"))
        .groupBy("cell")
        .agg(expr("topk_by(nkey, vec_id, 5)").as("res"))
        .select(col("cell"), posexplode(col("res")))
        .select(col("cell"),
          (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("vec_id"))
    },
    Some(s"""WITH $ivfTwinCte,
ad AS (
  SELECT v.vec_id, v.e, c.cell,
         list_sum(list_transform(generate_series(1, 64), i ->
           v.e[i] * c.ce[i])) AS dot
  FROM v CROSS JOIN c),
asg AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cell DESC) AS rn
    FROM ad) WHERE rn = 1),
keyed AS (
  SELECT cell, vec_id,
         ${QueriesLLM.hexNSql(
        "md5('graft-divs:' || CAST(vec_id AS VARCHAR))", 12)} AS key
  FROM asg)
SELECT CAST(cell AS INTEGER) AS cell, CAST(rk AS INTEGER) AS rank, vec_id
FROM (SELECT cell, vec_id,
        row_number() OVER (PARTITION BY cell ORDER BY key, vec_id) AS rk
      FROM keyed)
WHERE rk <= 5"""))

  /** Contrastive TRAINING-PAIR MINING (the embedding-finetune data
    * stage: anchor → hard positive + cross-cluster negative): per
    * anchor, the positive is its highest-cosine SAME-CELL neighbor
    * (hard positive — cell-local candidate generation, the IVF-cell
    * trade that keeps pair mining off the |corpus|² cliff) and the
    * negative is the neighboring cell's md5 diversity exemplar
    * (E8's rank-1 draw from cell+1 mod 8 — deterministic, so the
    * whole mining chain stays hash-checkable).
    *
    * Scale shape: assignment is the broadcast argmax fold; the
    * positive search is a cell-bucketed self-join + max_by (per-cell
    * work bounded by cell size, the E4 argument); negatives are a
    * cells-sized broadcast. Ties break (sim DESC, cand ASC) on both
    * engines — dot products are the identical FP sequence, so the
    * pre-round argmax agrees. */
  private val annPairMining = Q(
    "ann_pair_mining",
    (s, dir) => {
      val cents = fixedCentroids(s)
      val v = normalizedVecs(s, dir)
      val index =
        Barrier.materialize(graft.operators.Ivf.assign(v, cents, "vec_id", "e", "cell"))._1
      val a = index.select(col("cell"), col("vec_id").as("anchor"),
        col("e").as("ea"))
      val b = index.select(col("cell"), col("vec_id").as("cand"),
        col("e").as("eb"))
      val pos = a.join(b, "cell").filter(col("anchor") =!= col("cand"))
        .withColumn("sim", VectorFunctions.dot(col("ea"), col("eb")))
        .groupBy("cell", "anchor")
        .agg(max_by(struct(col("cand"), col("sim")),
          struct(col("sim"), -col("cand"))).as("best"))
        .select(col("cell"), col("anchor"),
          col("best.cand").as("pos_id"),
          round(col("best.sim"), 6).as("pos_sim"))
      val neg = index
        .select(col("cell"),
          (-conv(substring(md5(concat(lit("graft-divs:"),
              col("vec_id").cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("double")).as("nkey"),
          col("vec_id"))
        .groupBy("cell")
        .agg(expr("topk_by(nkey, vec_id, 1)").as("r"))
        .select(col("cell").as("neg_cell"),
          element_at(col("r"), 1).getField("id").as("neg_id"))
      pos.withColumn("neg_cell", (col("cell") + 1) % 8)
        .join(broadcast(neg), "neg_cell")
        .select(col("anchor"), col("cell"), col("pos_id"), col("pos_sim"),
          col("neg_id"))
    },
    Some(s"""WITH $ivfTwinCte,
ad AS (
  SELECT v.vec_id, v.e, c.cell,
         list_sum(list_transform(generate_series(1, 64), i ->
           v.e[i] * c.ce[i])) AS dot
  FROM v CROSS JOIN c),
asg AS (
  SELECT vec_id, e, cell FROM (
    SELECT vec_id, e, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cell DESC) AS rn
    FROM ad) WHERE rn = 1),
pos AS (
  SELECT a.cell, a.vec_id AS anchor, b.vec_id AS cand,
         list_sum(list_transform(generate_series(1, 64), i ->
           a.e[i] * b.e[i])) AS dot
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
best AS (
  SELECT cell, anchor, cand AS pos_id, round(dot, 6) AS pos_sim FROM (
    SELECT cell, anchor, cand, dot,
           row_number() OVER (PARTITION BY anchor
                              ORDER BY dot DESC, cand) AS rk
    FROM pos) WHERE rk = 1),
neg AS (
  SELECT cell AS neg_cell, vec_id AS neg_id FROM (
    SELECT cell, vec_id,
           row_number() OVER (PARTITION BY cell ORDER BY
             ${QueriesLLM.hexNSql(
        "md5('graft-divs:' || CAST(vec_id AS VARCHAR))", 12)}, vec_id) AS rk
    FROM asg) WHERE rk = 1)
SELECT b.anchor, CAST(b.cell AS INTEGER) AS cell, b.pos_id, b.pos_sim,
       n.neg_id
FROM best b JOIN neg n ON n.neg_cell = (b.cell + 1) % 8"""))

  /** CLUSTER-QUALITY report (the silhouette-style margin audit read
    * before trusting a semantic partitioning — the eval complement of
    * Ivf.cellFill's occupancy signal): per vector, cosine to its own
    * centroid (best) and to the runner-up (second, the
    * assignment-ambiguity witness); per cell, mean own-similarity and
    * mean margin (best − second). A thin margin marks cells whose
    * members straddle a boundary — re-train or raise nprobe there.
    *
    * Scale shape: centroids broadcast into the ONE vector scan; the
    * per-vector top-2 is a bounded collect over |cells| dots (sorted
    * desc (dot, cell) — the exact Ivf.assign tie-break); the report is
    * a |cells|-row aggregate. Double sums cross partition order →
    * both engines round the two means (the C36 stats precedent). */
  private val annClusterQuality = Q(
    "ann_cluster_quality",
    (s, dir) => {
      val cents = fixedCentroids(s)
      val v = normalizedVecs(s, dir)
      val top2 = v.crossJoin(broadcast(cents))
        .withColumn("dot", VectorFunctions.dot(col("e"), col("centroid")))
        .groupBy("vec_id")
        .agg(sort_array(collect_list(struct(col("dot"), col("cell"))),
          asc = false).as("arr"))
        .select(col("vec_id"),
          col("arr")(0).getField("cell").as("cell"),
          col("arr")(0).getField("dot").as("best"),
          col("arr")(1).getField("dot").as("second"))
      top2.groupBy("cell")
        .agg(count(lit(1)).as("n_members"),
          round(sum(col("best")) / count(lit(1)), 6).as("avg_own"),
          round(sum(col("best") - col("second")) / count(lit(1)), 6)
            .as("avg_margin"))
    },
    Some(s"""WITH $ivfTwinCte,
ad AS (
  SELECT v.vec_id, c.cell,
         list_sum(list_transform(generate_series(1, 64), i ->
           v.e[i] * c.ce[i])) AS dot
  FROM v CROSS JOIN c),
rk AS (
  SELECT vec_id, cell, dot,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot DESC, cell DESC) AS rn
  FROM ad),
top2 AS (
  SELECT b1.vec_id, b1.cell, b1.dot AS best, b2.dot AS second
  FROM (SELECT * FROM rk WHERE rn = 1) b1
  JOIN (SELECT * FROM rk WHERE rn = 2) b2 USING (vec_id))
SELECT CAST(cell AS INTEGER) AS cell,
       CAST(count(*) AS BIGINT) AS n_members,
       round(sum(best) / count(*), 6) AS avg_own,
       round(sum(best - second) / count(*), 6) AS avg_margin
FROM top2 GROUP BY cell"""))

  /** First-6-hex-chars md5 fraction in [-1, 1) — the SAME value
    * DuckDB's hex-fold of md5 yields, computed driver-side (codebooks
    * and query vectors are control-plane metadata). */
  private def md5Unit(seed: String): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
    val hex6 = d.take(3).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex6, 16).toDouble / 16777216.0 * 2 - 1
  }

  /** ONE definition of the fixed md5-derived PQ codebooks shared by
    * the PQ and IVF-PQ oracle rows — the seed strings must stay
    * identical for the oracles' shared-codebook story. */
  private def md5Codebooks(s: org.apache.spark.sql.SparkSession,
      m: Int, kCodes: Int, segLen: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    (for { sg <- 0 until m; c <- 0 until kCodes } yield
      (sg, c, (0 until segLen).map(i => md5Unit(s"graft-pqcb-$sg-$c:$i"))))
      .toDF("seg", "code", "centroid")
  }

  /** E6/E7's hash-checkable twin (the E3b discipline): the PRODUCTION
    * PQ path — [[graft.operators.Pq.encode]] (native argmaxDot L2
    * argmin against literal codebooks) then [[graft.operators.Pq
    * .adcTopK]] (driver-built m×k LUT, per-row `Σ lut[s][code]`
    * scoring, zero join/shuffle) — with the TRAINED codebooks replaced
    * by md5-derived fixed entries and an md5-derived query, so the
    * whole quantize-and-score arithmetic (per-segment objective
    * `v_s·c − ‖c‖²/2`, first-max tie to the smallest code, LUT sum,
    * rounded top-k) is reproduced by the DuckDB oracle. PqSpec's
    * recall floors prove the TRAINED index; this row proves the
    * ARITHMETIC those floors ride on. */
  private val annPqOracle = Q(
    "ann_pq_oracle",
    (s, dir) => {
      val m = 8; val kCodes = 16; val segLen = 8
      val cb = md5Codebooks(s, m, kCodes, segLen)
      val qv = (0 until m * segLen).map(i => md5Unit(s"graft-pqq-1:$i"))
      val v = ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          VectorFunctions.normalize(
            VectorFunctions.toDouble(col("embedding"))).as("e"))
      val codes = graft.operators.Pq.encode(v, cb, "vec_id", "e", m)
      graft.operators.Pq.adcTopK(s, codes, cb, qv, "vec_id", m, k = 10)
    },
    Some(s"""WITH cb AS (
  SELECT sg.s AS s, cc.c AS c,
         list_transform(range(0, 8), i ->
           ${QueriesLLM.hex6Sql(
             "md5('graft-pqcb-' || sg.s || '-' || cc.c || ':' || i)")}
             / 16777216.0 * 2 - 1) AS cent
  FROM (SELECT unnest(range(0, 8)) AS s) sg
  CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cc),
q AS (
  SELECT list_transform(range(0, 64), i ->
    ${QueriesLLM.hex6Sql("md5('graft-pqq-1:' || i)")}
      / 16777216.0 * 2 - 1) AS qe),
v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, list_transform(e, x ->
    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
enc AS (
  SELECT v.vec_id, cb.s, cb.c,
         list_sum(list_transform(generate_series(1, 8), i ->
           v.e[CAST(cb.s * 8 + i AS INT)] * cb.cent[CAST(i AS INT)]))
           - list_sum(list_transform(cb.cent, x -> x * x)) / 2 AS obj
  FROM v CROSS JOIN cb),
codes AS (
  SELECT vec_id, s, c FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY obj DESC, c) AS rn
    FROM enc) WHERE rn = 1),
sc AS (
  SELECT codes.vec_id,
         SUM(list_sum(list_transform(generate_series(1, 8), i ->
           q.qe[CAST(codes.s * 8 + i AS INT)] * cb.cent[CAST(i AS INT)])))
           AS score
  FROM codes
  JOIN cb ON cb.s = codes.s AND cb.c = codes.c
  CROSS JOIN q
  GROUP BY 1)
SELECT vec_id, round(score, 6) AS adc_score
FROM sc ORDER BY round(score, 6) DESC, vec_id LIMIT 10"""))

  /** The COMPOSED index's twin — E7's residual arithmetic under fixed
    * quantizers: [[graft.operators.Ivf.assign]] against md5-derived
    * unit centroids, residual `e − c`, [[graft.operators.Pq.encode]]
    * of the residuals, then the IVF-PQ probe identity
    * `q·x ≈ q·c + Σ lut[s][code]` over the nprobe=2 driver-ranked
    * cells via [[graft.operators.Pq.adcScore]] — the same primitives
    * `IvfPq.writeIndex`/`probe` compose, with trained quantizers
    * swapped for hash-derived ones so DuckDB reproduces assignment,
    * residual, per-segment argmin, cell ranking, LUT sum and the
    * rounded top-k. With E3b and E6b this closes the LAST unhashed
    * arithmetic in the ANN family: the composition itself. */
  private val annIvfPqOracle = Q(
    "ann_ivfpq_oracle",
    (s, dir) => {
      import s.implicits._
      val m = 8; val kCodes = 16; val segLen = 8; val dim = 64
      def unitVec(tag: String, d: Int): Seq[Double] = {
        val raw = (0 until d).map(i => md5Unit(s"$tag:$i"))
        val norm = math.sqrt(raw.map(x => x * x).sum)
        raw.map(_ / norm)
      }
      val centSeq = (0 until 8).map(cl => (cl, unitVec(s"graft-ivfc-$cl", dim)))
      val cents = centSeq.toDF("cell", "centroid")
      val cb = md5Codebooks(s, m, kCodes, segLen)
      val qn = unitVec("graft-ivfq-1", dim)
      val v = ViewingData.table(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"),
          VectorFunctions.normalize(
            VectorFunctions.toDouble(col("embedding"))).as("e"))
      val assigned = graft.operators.Ivf.assign(v, cents, "vec_id", "e", "cell")
      val withRes = assigned
        .join(broadcast(cents), "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(col("e"), col("centroid"), (a, b) => a - b).as("r"))
      val codes = graft.operators.Pq.encode(withRes, cb, "vec_id", "r", m,
        carry = Seq("cell"))
      // driver-ranked probe cells + their q·c terms (control plane)
      val ranked = centSeq
        .map { case (cl, ce) =>
          (cl, qn.zip(ce).map { case (a, b) => a * b }.sum) }
        .sortBy { case (cl, d0) => (-d0, cl) }
        .take(2)
      // coalesce over one when() per probed cell — safe for any nprobe
      // (chained .otherwise throws past two branches)
      val qdotc = coalesce(ranked.map { case (cl, d0) =>
        when(col("cell") === cl, lit(d0)) }: _*)
      codes.filter(col("cell").isin(ranked.map(_._1): _*))
        .select(col("vec_id"), col("cell"),
          round(qdotc + graft.operators.Pq.adcScore(cb, qn, m), 6)
            .as("adc_score"))
        .orderBy(col("adc_score").desc, col("vec_id")).limit(10)
    },
    Some(s"""WITH cells AS (SELECT unnest(range(0, 8)) AS cell),
craw AS (
  SELECT cell, list_transform(range(0, 64), i ->
    ${QueriesLLM.hex6Sql(
        "md5('graft-ivfc-' || CAST(cell AS VARCHAR) || ':' || CAST(i AS VARCHAR))")}
      / 16777216.0 * 2 - 1) AS raw
  FROM cells),
c AS (
  SELECT cell, list_transform(raw, x ->
    x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS ce
  FROM craw),
cb AS (
  SELECT sg.s AS s, cc.c AS c,
         list_transform(range(0, 8), i ->
           ${QueriesLLM.hex6Sql(
             "md5('graft-pqcb-' || sg.s || '-' || cc.c || ':' || i)")}
             / 16777216.0 * 2 - 1) AS cent
  FROM (SELECT unnest(range(0, 8)) AS s) sg
  CROSS JOIN (SELECT unnest(range(0, 16)) AS c) cc),
qraw AS (
  SELECT list_transform(range(0, 64), i ->
    ${QueriesLLM.hex6Sql("md5('graft-ivfq-1:' || CAST(i AS VARCHAR))")}
      / 16777216.0 * 2 - 1) AS raw),
q AS (
  SELECT list_transform(raw, x ->
    x / sqrt(list_sum(list_transform(raw, y -> y * y)))) AS qe
  FROM qraw),
v0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings),
v AS (
  SELECT vec_id, list_transform(e, x ->
    x / sqrt(list_sum(list_transform(e, y -> y * y)))) AS e
  FROM v0),
ad AS (
  SELECT v.vec_id, v.e, c.cell,
         list_sum(list_transform(generate_series(1, 64), i ->
           v.e[i] * c.ce[i])) AS dot
  FROM v CROSS JOIN c),
asg AS (
  SELECT vec_id, e, cell FROM (
    SELECT vec_id, e, cell,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cell DESC) AS rn
    FROM ad) WHERE rn = 1),
res AS (
  SELECT a.vec_id, a.cell,
         list_transform(generate_series(1, 64), i -> a.e[i] - c.ce[i]) AS r
  FROM asg a JOIN c USING (cell)),
enc AS (
  SELECT res.vec_id, res.cell, cb.s, cb.c,
         list_sum(list_transform(generate_series(1, 8), i ->
           res.r[CAST(cb.s * 8 + i AS INT)] * cb.cent[CAST(i AS INT)]))
           - list_sum(list_transform(cb.cent, x -> x * x)) / 2 AS obj
  FROM res CROSS JOIN cb),
codes AS (
  SELECT vec_id, cell, s, c FROM (
    SELECT vec_id, cell, s, c,
           row_number() OVER (PARTITION BY vec_id, s
                              ORDER BY obj DESC, c) AS rn
    FROM enc) WHERE rn = 1),
pc AS (
  SELECT cell, qd FROM (
    SELECT c.cell,
           list_sum(list_transform(generate_series(1, 64), i ->
             q.qe[i] * c.ce[i])) AS qd,
           row_number() OVER (ORDER BY list_sum(list_transform(
             generate_series(1, 64), i -> q.qe[i] * c.ce[i])) DESC,
             c.cell) AS rn
    FROM c CROSS JOIN q) WHERE rn <= 2),
sc AS (
  SELECT codes.vec_id, codes.cell,
         MIN(pc.qd) + SUM(list_sum(list_transform(generate_series(1, 8), i ->
           q.qe[CAST(codes.s * 8 + i AS INT)] * cb.cent[CAST(i AS INT)])))
           AS score
  FROM codes
  JOIN pc ON pc.cell = codes.cell
  JOIN cb ON cb.s = codes.s AND cb.c = codes.c
  CROSS JOIN q
  GROUP BY 1, 2)
SELECT vec_id, CAST(cell AS INTEGER) AS cell, round(score, 6) AS adc_score
FROM sc ORDER BY round(score, 6) DESC, vec_id LIMIT 10"""))

  val all: Seq[Q] = Seq(
    textTokens, textQuality, textLangid, textFingerprint, topTerms, histogram,
    bpeTrain, bpeSegment,
    dedupExact, dedupNgramJaccard, dedupThresholdReport,
    dedupWeightedJaccard, dedupIcws,
    dedupIcwsIncremental, dedupMinhash, dedupSimhash,
    dedupSimhashOracle, dedupEmbedding,
    dedupIncremental, dedupMinhashOracle, dedupIncrementalOracle, dedupLshTuning,
    dedupEmbeddingIncremental, dedupFuzzyNames,
    annBruteforce, annBucketed, annBucketedOracle, annIvf, annIvfOracle,
    annIvfPq, annIvfPqBuild, annIvfPqOracle, annKnnJoin,
    annRangeSearch, annRangeSearchBatch,
    annPqOracle, annQ8, annQ8Oracle, annQ8Error,
    annDiversitySample, annPairMining, annClusterQuality, annRecallReport,
    annBucketBalance, annMultiprobeRecall, annPlanesTuning,
    mmBinaryMeta, mmDecode, mmFrameSample, mmAudioEnergy, mmAudioSegments,
    streamBatchParity)
}
