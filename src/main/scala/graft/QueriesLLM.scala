package graft

import org.apache.spark.sql.functions._

import graft.functions.{Multimodal, TextFunctions, VectorFunctions}
import graft.operators.{Barrier, Components, DocPack}
import graft.sources.ViewingData

/** SURVEY.md §2 suite F9-F12: corpus-hygiene operators a training-data
  * pipeline runs between dedup and packing — repetition filtering,
  * train/test decontamination, PII redaction, deterministic shuffle.
  * Each is oracle-checked against DuckDB; the discriminating cases
  * (repeated text, planted PII, contaminated documents) are pinned in
  * LlmOpsSpec since the synthetic corpus exercises them sparsely.
  */
object QueriesLLM {

  /** SQL IN-list literal from the shared stopword seqs, so the oracle
    * can never drift from the Spark-side lists. */
  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  /** DuckDB twin of [[gateSignals]] as a CTE chain (t/tg/sig/lbl)
    * over relation `src` (doc_id, text) — lbl carries the per-doc
    * gate signals. Parameterized by source so the gate query and the
    * end-to-end prep pipeline share one definition. */
  private def gateSigSql(src: String): String = s"""t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM $src),
tg AS (
  SELECT doc_id, text, toks,
         CASE WHEN len(toks) < 3 THEN []
              ELSE list_transform(range(1, len(toks)-1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
  FROM t),
sig AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(tris) = 0 THEN 0.0
              ELSE round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 6)
         END AS dup_ratio,
         CAST(len(list_filter(toks, x -> x IN ${inList(TextFunctions.EnStop)})) AS BIGINT) AS en,
         CAST(len(list_filter(toks, x -> x IN ${inList(TextFunctions.EsStop)})) AS BIGINT) AS es,
         CAST(len(list_filter(toks, x -> x IN ${inList(TextFunctions.DeStop)})) AS BIGINT) AS de,
         CAST(len(list_filter(toks, x -> x IN ${inList(TextFunctions.FrStop)})) AS BIGINT) AS fr,
         round(
           least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.5 +
           least(1.0, (CAST(len(list_filter(toks, x -> x IN ${inList(TextFunctions.EnStop)})) AS DOUBLE) /
                       CAST(len(toks) AS DOUBLE)) * 2.0) * 0.3 +
           greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[.,;:!?()]')) AS DOUBLE) /
                                CAST(length(text) AS DOUBLE)) * 4.0) * 0.2,
           6) AS quality
  FROM tg),
lbl AS (
  SELECT doc_id, n_tokens, dup_ratio, quality,
         CASE WHEN en = 0 AND es = 0 AND de = 0 AND fr = 0 THEN 'und'
              WHEN en >= es AND en >= de AND en >= fr THEN 'en'
              WHEN es >= de AND es >= fr THEN 'es'
              WHEN de >= fr THEN 'de'
              ELSE 'fr' END AS lang
  FROM sig)"""

  /** The three PII regexp_replace passes as DuckDB SQL over `col`. */
  private def piiScrubSql(c: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($c,
         '${TextFunctions.EmailRe}', '<EMAIL>', 'g'),
         '${TextFunctions.PhoneRe}', '<PHONE>', 'g'),
         '${TextFunctions.IpRe}', '<IP>', 'g')"""

  /** Intra-document repetition (the Gopher duplicate-3-gram signal):
    * docs whose text loops score dup_ratio → 1 and get dropped by a
    * quality gate. Pure per-row array expressions — at scale this runs
    * at scan speed with zero shuffle (Par.widen is the identity there);
    * locally the widen spreads the interpreted n-gram transform across
    * cores instead of serializing it on the single-file scan task. */
  private val textRepetition = Q(
    "text_repetition",
    (s, dir) => graft.Par.widen(
        ViewingData.table(s, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TextFunctions.wordNgrams(col("toks"), 3).as("tris"))
      .select(
        col("doc_id"),
        size(col("tris")).cast("long").as("n_tri"),
        TextFunctions.dupNgramRatio(col("tris")).as("dup_ratio")),
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
tg AS (
  SELECT doc_id, CASE WHEN len(toks) < 3 THEN []
           ELSE list_transform(range(1, len(toks)-1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS tris
  FROM t)
SELECT doc_id, CAST(len(tris) AS BIGINT) AS n_tri,
       CASE WHEN len(tris) = 0 THEN 0.0
            ELSE round(1.0 - CAST(len(list_distinct(tris)) AS DOUBLE) / len(tris), 6)
       END AS dup_ratio
FROM tg"""))

  /** The repartition→tokenize→5-gram→checkpoint gram table shared by
    * the three contamination-family rows (r11 review: it lived three
    * times, with the rationale documented at only one copy).
    * Repartition BEFORE the gram build — the interpreted n-gram
    * transform is the dominant per-doc cost and a single-file scan
    * would run it on one task; the checkpoint exists because every
    * consumer reads the gram table more than once (the build-once
    * idiom of the minhash signature table). */
  /** leak_pct + severity readout over (doc_id, n_grams,
    * leaked_grams) — shared by F36 and the streaming monitor so the
    * report schema and the severity thresholds cannot drift. */
  private[graft] def contaminationReadout(
      counts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    counts.select(col("doc_id"), col("n_grams"), col("leaked_grams"),
        round(col("leaked_grams") / col("n_grams").cast("double"), 6)
          .as("leak_pct"))
      .withColumn("severity",
        when(col("leaked_grams") === 0, lit("clean"))
          .when(col("leaked_grams") * 2 < col("n_grams"), lit("partial"))
          .otherwise(lit("leaked")))

  /** (doc_id, grams) word-5-gram rows over an explicit docs frame —
    * the contamination family's gram unit, shared with the streaming
    * monitor ([[graft.streaming.StreamContamination]]). */
  private[graft] def wordGramRows(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextFunctions.wordNgrams(col("toks"), 5).as("grams"))

  private def gramTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Barrier.materialize(wordGramRows(ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)))._1

  /** One oracle for both decontamination implementations: the bloom
    * prefilter is false-positive-only and the exact join re-verifies,
    * so results are bit-identical by construction. */
  private val decontamOracle = """WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
g AS (
  SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
           ELSE list_transform(range(1, len(toks)-3),
                i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]) END AS grams
  FROM t),
test AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
train_g AS (SELECT DISTINCT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hit_grams
         FROM train_g JOIN test USING (gram) GROUP BY doc_id)
SELECT g.doc_id,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_grams,
       CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS n_contaminated,
       coalesce(h.hit_grams, 0) > 0 AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
WHERE g.doc_id % 97 <> 0"""

  /** F36 — the EVAL-INTEGRITY readout complementing F10: per
    * TEST-set document, what fraction of its distinct 5-grams leaks
    * in the training corpus (the contamination report benchmark
    * maintainers publish — GPT-3 App. C / PaLM-style n-gram overlap
    * audits — where F10 answers the training-side question "which
    * train docs must I drop"). Scale shape: ONE pass over the train
    * grams probing the broadcast test-gram set (the F10 join
    * reversed) yields the matched-gram set, which is ⊆ the test
    * grams and therefore broadcast-sized — the per-test-doc fold
    * then never touches train data again. Severity buckets at 0 /
    * <50% / ≥50% leaked. */
  private val contaminationReport = Q(
    "text_contamination_report",
    (s, dir) => {
      val grams = gramTable(s, dir)
      // consumed twice: probe set + per-doc fold
      val testG = Barrier.materialize(grams.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"), explode(array_distinct(col("grams"))).as("gram")))._1
      val testSet = testG.select("gram").distinct()
      // one train pass, broadcast probe; output ⊆ test grams (small)
      val matched = grams.filter(col("doc_id") % 97 =!= 0)
        .select(explode(col("grams")).as("gram"))
        .join(broadcast(testSet), "gram")
        .distinct()
      // ONE pass over testG: a broadcast left join against the matched
      // set computes total and leaked counts in the same fold (r11
      // review: a semi-join aggregate + a second aggregate + a doc_id
      // join spent three shuffles on what one does)
      contaminationReadout(
        testG.join(broadcast(matched.withColumn("hit", lit(1))),
            Seq("gram"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).cast("long").as("n_grams"),
            count(col("hit")).as("leaked_grams")))
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
g AS (
  SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
           ELSE list_transform(range(1, len(toks)-3),
                i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]) END AS grams
  FROM t),
testg AS (
  SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g WHERE doc_id % 97 = 0),
train AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
leaked AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS leaked_grams
  FROM testg JOIN train USING (gram) GROUP BY doc_id),
base AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM testg GROUP BY doc_id)
SELECT b.doc_id, b.n_grams,
       CAST(coalesce(l.leaked_grams, 0) AS BIGINT) AS leaked_grams,
       round(coalesce(l.leaked_grams, 0) / CAST(b.n_grams AS DOUBLE), 6) AS leak_pct,
       CASE WHEN coalesce(l.leaked_grams, 0) = 0 THEN 'clean'
            WHEN coalesce(l.leaked_grams, 0) * 2 < b.n_grams THEN 'partial'
            ELSE 'leaked' END AS severity
FROM base b LEFT JOIN leaked l ON b.doc_id = l.doc_id"""))

  /** Train/test decontamination: any training doc sharing a 5-gram
    * with the held-out set (doc_id % 97 = 0 here; any id predicate
    * works) is flagged. The test set's distinct 5-grams are tiny
    * relative to the corpus → broadcast semi-shaped join, so the
    * training side never shuffles on the gram key; per-doc counts
    * shuffle once on doc_id. */
  private val textDecontaminate = Q(
    "text_decontaminate",
    (s, dir) => {
      val grams = gramTable(s, dir)
      val test = grams.filter(col("doc_id") % 97 === 0)
        .select(explode(col("grams")).as("gram")).distinct()
      val train = grams.filter(col("doc_id") % 97 =!= 0)
      val hits = train.select(col("doc_id"), explode(col("grams")).as("gram")).distinct()
        .join(broadcast(test), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
      train
        .select(col("doc_id"), size(array_distinct(col("grams"))).cast("long").as("n_grams"))
        .join(hits, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          col("n_grams"),
          coalesce(col("hit_grams"), lit(0L)).as("n_contaminated"),
          (coalesce(col("hit_grams"), lit(0L)) > 0).as("contaminated"))
    },
    Some(decontamOracle))

  /** Decontamination via BLOOM semi-join reduction — the 100-TB form.
    * text_decontaminate broadcasts the test set's exact distinct grams;
    * that works while the benchmark suite is small, but a large
    * held-out corpus's gram set is GBs where its bloom is MBs. Here
    * the test grams fold into ONE binary sketch
    * (`bloom_filter_agg`, Spark's own runtime-filter aggregate, one
    * scalar row), every train gram passes the codegen'd
    * `might_contain` probe BEFORE the distinct — so the gram shuffle
    * carries only probable hits (~fpp of the corpus instead of all of
    * it) — and the surviving candidates re-verify against the exact
    * test set, which removes the false positives: identical output to
    * text_decontaminate, proven by sharing its oracle. */
  private val textDecontaminateBloom = Q(
    "text_decontaminate_bloom",
    (s, dir) => {
      gramTable(s, dir).createOrReplaceTempView("decon_grams_bloom")
      // might_contain demands its bloom be a constant or SCALAR
      // SUBQUERY (same contract Spark's InjectRuntimeFilter plans) —
      // hence SQL: the sketch stays a one-row plan node, never a
      // driver value.
      s.sql("""
WITH test AS (
  SELECT DISTINCT gram FROM (
    SELECT explode(grams) AS gram FROM decon_grams_bloom WHERE doc_id % 97 = 0)),
cand AS (
  SELECT DISTINCT doc_id, gram
  FROM (SELECT doc_id, explode(grams) AS gram
        FROM decon_grams_bloom WHERE doc_id % 97 != 0)
  WHERE might_contain(
          (SELECT bloom_filter_agg(xxhash64(gram), 100000L, 800000L) FROM test),
          xxhash64(gram))),
hits AS (
  SELECT c.doc_id, count(1) AS hit_grams
  FROM cand c JOIN test t ON c.gram = t.gram
  GROUP BY c.doc_id),
train AS (
  SELECT doc_id, CAST(size(array_distinct(grams)) AS BIGINT) AS n_grams
  FROM decon_grams_bloom WHERE doc_id % 97 != 0)
SELECT tr.doc_id, tr.n_grams,
       coalesce(h.hit_grams, 0L) AS n_contaminated,
       coalesce(h.hit_grams, 0L) > 0 AS contaminated
FROM train tr LEFT JOIN hits h ON tr.doc_id = h.doc_id""")
    },
    Some(decontamOracle))

  /** PII redaction with per-kind counts (counted on the original
    * text). Four regex passes in one projection — scan-speed, no
    * shuffle. */
  private val piiScrubQ = Q(
    "text_pii_scrub",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      regexp_count(col("text"), lit(TextFunctions.EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(TextFunctions.PhoneRe)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(TextFunctions.IpRe)).cast("long").as("n_ips"),
      TextFunctions.piiScrub(col("text")).as("scrubbed")),
    // The regex literals interpolate verbatim: DuckDB single-quoted
    // strings do not process backslash escapes, so the same runtime
    // string is the same regex in both engines.
    Some(s"""SELECT doc_id,
       CAST(len(regexp_extract_all(text, '${TextFunctions.EmailRe}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '${TextFunctions.PhoneRe}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '${TextFunctions.IpRe}')) AS BIGINT) AS n_ips,
       ${piiScrubSql("text")} AS scrubbed
FROM documents"""))

  /** F37 — arrival-order novelty scan: for each doc, the fraction of
    * its distinct word 5-grams whose FIRST corpus occurrence (min
    * doc_id) is this doc — "how much content does this doc add that
    * no earlier doc already had?" The curation signal behind
    * crawl-snapshot triage (later snapshots re-crawl mostly-known
    * content) and memorization studies (low-novelty docs are the
    * n-gram-duplicated ones). One |grams| shuffle: first-occurrence
    * comes from `min(doc_id) over (partition by gram)` on the
    * exploded distinct-gram rows — no gram-key join-back — then one
    * doc_id shuffle folds the per-doc counts. At 100 TB the gram
    * window partitions by gram hash across executors like any
    * aggregate; no skew beyond gram df (stop-gram-capped corpora
    * bound it). Docs under 5 tokens emit no grams and drop out —
    * same convention as F10's gram table. */
  private val textNovelty = Q(
    "text_novelty",
    (s, dir) => {
      val ex = gramTable(s, dir)
        .select(col("doc_id"), explode(array_distinct(col("grams"))).as("gram"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
      ex.withColumn("first_id", min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel").cast("double") / col("n_grams"), 6).as("novelty"))
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents),
g AS (
  SELECT doc_id, CASE WHEN len(toks) < 5 THEN []
           ELSE list_transform(range(1, len(toks)-3),
                i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||toks[i+4]) END AS grams
  FROM t),
ex AS (SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g),
f AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY gram) AS first_id FROM ex)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM f GROUP BY doc_id"""))

  /** F38 — the dataset-card composition table every corpus release
    * publishes (per source × language: volume, token mass, exact-dup
    * rate, length profile). One documents scan, one groupBy — every
    * measure folds map-side; the single countDistinct(md5) plans
    * Spark's single-distinct rewrite (two-phase, NO Expand — the
    * multi-distinct trap q_profile escaped doesn't arise with one
    * distinct column). At 100 TB this is the same shape as any
    * per-source rollup: |sources × langs| groups, tiny result. */
  private val datasetCard = Q(
    "dataset_card",
    (s, dir) => ViewingData.table(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_unique_texts"),
        sum(TextFunctions.wsTokenCount(col("text"))).as("total_tokens"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(sum(when(col("n_chars") < 200, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("pct_short"))
      .withColumn("dup_rate", round(
        lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"), 6)),
    Some("""SELECT source, lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS total_tokens,
       round(AVG(n_chars), 2) AS avg_chars,
       round(SUM(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS pct_short,
       round(1.0 - COUNT(DISTINCT md5(text)) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM documents
GROUP BY source, lang"""))

  /** Deterministic corpus shuffle: the pre-training global shuffle as
    * a pure key derivation (md5 of seeded id) — writers range-sort by
    * shuffle_key, readers stream in that order; shard is the leading
    * byte for partitioned output. No window, no global state:
    * reproducible across engines, retries, and reshards, which
    * rand()-based shuffles are not. */
  private val corpusShuffle = Q(
    "corpus_shuffle",
    (s, dir) => ViewingData.table(s, dir, "documents").select(
      col("doc_id"),
      md5(concat(lit("graft-shuffle-42:"), col("doc_id").cast("string")).cast("binary"))
        .as("shuffle_key"))
      .withColumn("shard", substring(col("shuffle_key"), 1, 2)),
    Some("""SELECT doc_id,
       md5('graft-shuffle-42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       substring(md5('graft-shuffle-42:' || CAST(doc_id AS VARCHAR)), 1, 2) AS shard
FROM documents"""))

  /** Source-mixture sampling: pre-training corpora are blended by
    * SOURCE at target proportions (web downsampled, curated sources
    * kept). Deterministic keep-decision per doc: lowercase-hex md5
    * compares identically in both engines, so a string-range threshold
    * IS an exact rate (first two hex chars uniform over 256 buckets —
    * '80' ≈ 0.5, '40' ≈ 0.25). No rand(), so retries/reshards keep the
    * same rows, and the filter is scan-speed with no shuffle. */
  private val corpusMix = Q(
    "corpus_mix",
    (s, dir) => {
      val key = substring(
        md5(concat(lit("graft-mix-7:"), col("doc_id").cast("string")).cast("binary")),
        1, 2)
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), col("source"), key.as("mix_key"))
        .filter(
          col("source").isin("src0", "src1") || // curated: keep all
          (col("source").isin("src2", "src3") && col("mix_key") < "80") || // 1/2
          col("mix_key") < "40") // everything else: 1/4
    },
    Some("""WITH keyed AS (
  SELECT doc_id, source,
         substring(md5('graft-mix-7:' || CAST(doc_id AS VARCHAR)), 1, 2) AS mix_key
  FROM documents)
SELECT doc_id, source, mix_key
FROM keyed
WHERE source IN ('src0','src1')
   OR (source IN ('src2','src3') AND mix_key < '80')
   OR mix_key < '40'"""))

  /** Per-document WEIGHTED Poisson sampling — corpus_mix's continuous
    * sibling (that one applies per-SOURCE constant rates; curation
    * also wants per-doc rates from a quality/length signal). Rate =
    * min(1, ws_tokens/200) here; the keep decision compares the doc's
    * 16-bit md5 slice against the rate's 4-hex-digit threshold string
    * — deterministic, retry/reshard-stable, no rand(), and EXACTLY
    * reproducible in the DuckDB twin (threshold capped at 0xffff, so
    * rate 1.0 keeps 65535/65536 — the bias is one key value, identical
    * on both engines). Scan-speed filter, zero shuffle. */
  private val sampleWeighted = Q(
    "q_sample_weighted",
    (s, dir) => {
      val nTok = TextFunctions.wsTokenCount(col("text"))
      val rate = least(lit(1.0), nTok / lit(200.0))
      val threshold = lpad(lower(hex(
        least(lit(65535L), floor(rate * 65536).cast("long")))), 4, "0")
      val key = substring(
        md5(concat(lit("graft-wsamp-3:"), col("doc_id").cast("string")).cast("binary")),
        1, 4)
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), nTok.as("ws_tokens"), key.as("samp_key"),
          threshold.as("keep_below"))
        .filter(col("samp_key") < col("keep_below"))
    },
    Some("""WITH scored AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS ws_tokens,
         substring(md5('graft-wsamp-3:' || CAST(doc_id AS VARCHAR)), 1, 4) AS samp_key
  FROM documents),
thresholded AS (
  SELECT doc_id, ws_tokens, samp_key,
         lpad(lower(to_hex(CAST(least(65535,
              floor(least(1.0, ws_tokens / 200.0) * 65536)) AS BIGINT))), 4, '0')
           AS keep_below
  FROM scored)
SELECT doc_id, ws_tokens, samp_key, keep_below
FROM thresholded WHERE samp_key < keep_below"""))

  /** Unigram language-model scoring (the CCNet/quality-filter signal
    * a real LM perplexity approximates): corpus-wide unigram
    * frequencies, then each doc scored by its tokens' mean log
    * probability — per-doc logprob (6 dp) + token count, shared by
    * the F16 registry row and F35's bucketing (r11 review: the chain
    * lived twice in Spark and twice in SQL; a smoothing or
    * token-filter change would have had to land in four places).
    * Two aggregations: token frequencies (one |vocab| shuffle,
    * map-side combined) and per-doc means (one |docs| shuffle). The
    * token→frequency join carries no hint: vocab ≪ corpus, so AQE
    * broadcasts it while it fits and shuffles when a 100-TB
    * vocabulary wouldn't. The token table is built ONCE (checkpoint)
    * for both consumers. */
  private def unigramLogprobPerDoc(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val toks = Barrier.materialize(tokenRows(ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)))._1
    logprobOfToks(toks, unigramFreqOfToks(toks))
  }

  /** The (doc_id, tok) exploded token table — the LM chain's input
    * unit, shared with [[graft.streaming.StreamPplBuckets]]. */
  private[graft] def tokenRows(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))

  /** Unigram counts (tok, c double) of a token table — one |vocab|
    * shuffle, map-side combined. */
  private[graft] def unigramFreqOfToks(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    toks.groupBy("tok").agg(count(lit(1)).cast("double").as("c"))

  /** Per-doc mean log probability of `toks` under a FIXED freq table
    * — the F16 scoring arithmetic on an explicit LM (inner join:
    * out-of-vocabulary tokens are skipped and score nothing; a doc
    * with no in-vocab tokens is absent). The freq join carries no
    * hint: vocab ≪ corpus, so AQE broadcasts while it fits. */
  private[graft] def logprobOfToks(toks: org.apache.spark.sql.DataFrame,
      freq: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val total = freq.agg(sum("c").as("n"))
    toks.join(freq, "tok").crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        round(avg(log(col("c") / col("n"))), 6).as("logprob"),
        count(lit(1)).cast("long").as("n_tokens"))
  }

  /** The matching DuckDB CTE chain, ending in
    * `lp(doc_id, logprob, n_tokens)`. */
  private val unigramLpCte = """t AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents),
f AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM t GROUP BY tok),
n AS (SELECT SUM(c) AS n FROM f),
lp AS (
  SELECT doc_id, round(avg(ln(c / n)), 6) AS logprob,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM t JOIN f USING (tok) CROSS JOIN n
  GROUP BY doc_id)"""

  private val textUnigramLogprob = Q(
    "text_unigram_logprob",
    (s, dir) => unigramLogprobPerDoc(s, dir),
    Some(s"WITH $unigramLpCte\nSELECT doc_id, logprob, n_tokens FROM lp"))

  /** Model-based quality scoring as SCAN-SPEED inference: a linear
    * classifier over feature-hashed bag-of-words (the fastText /
    * CCNet quality-gate shape — hashing trick per Weinberger et al.,
    * so the model is a fixed-width weight table, no vocabulary join)
    * evaluated entirely in codegen'd expressions: tokenize → hash
    * each token → weight lookup → mean → threshold. No UDF, no
    * shuffle, no state — the score is a projection, so gating 100 TB
    * costs exactly the scan. In production the weights are a trained
    * model shipped as a broadcast literal array; here they are
    * md5-DERIVED pseudo-weights (w(tok) = byte(md5("graft-qm:"+tok))
    * scaled to [-1, 1]), which keeps every arithmetic step
    * reproducible by the DuckDB oracle — the D9 discipline applied
    * to model inference. Weights are INTEGER (a byte per token, as a
    * quantized linear model would ship) and the keep/drop margin is
    * exact integer arithmetic — 2·Σw − 255·n > 0 is "mean weight
    * above midpoint" with no division, no floats, no rounding, so
    * the oracle comparison has no ulp boundary to straddle. */
  private val qualityModel = Q(
    "text_quality_model",
    (s, dir) => {
      val w = "(instr('0123456789abcdef', substring(md5(cast(concat('graft-qm:', t) as binary)), 1, 1)) - 1) * 16L " +
        "+ (instr('0123456789abcdef', substring(md5(cast(concat('graft-qm:', t) as binary)), 2, 1)) - 1)"
      ViewingData.table(s, dir, "documents")
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .withColumn("mq_raw", expr(s"aggregate(toks, 0L, (acc, t) -> acc + ($w))"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          col("mq_raw"),
          (col("mq_raw") * 2 - size(col("toks")) * 255L).as("mq_margin"),
          when(col("mq_raw") * 2 - size(col("toks")) * 255L > 0, lit("keep"))
            .otherwise(lit("drop")).as("verdict"))
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
s AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t ->
             (strpos('0123456789abcdef', substring(md5('graft-qm:' || t), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substring(md5('graft-qm:' || t), 2, 1)) - 1))), 0)
           AS BIGINT) AS mq_raw
  FROM t)
SELECT doc_id, n_tokens, mq_raw,
       CAST(mq_raw * 2 - n_tokens * 255 AS BIGINT) AS mq_margin,
       CASE WHEN mq_raw * 2 - n_tokens * 255 > 0 THEN 'keep' ELSE 'drop' END AS verdict
FROM s"""))

  /** F20's TRAINED counterpart — the full production loop: label a
    * corpus slice (here with F20's deterministic gate, standing in
    * for human/LLM labels), fit a logistic model over hashed
    * bag-of-words on the driver from a distributed feature sample
    * ([[operators.HashedLinearModel]]), then serve the fitted
    * weights as broadcast literals at scan speed. The target IS a
    * linear function of token counts, so the trained model must
    * recover it — HashedLinearModelSpec pins ≥0.9 held-out accuracy,
    * bit-reproducible retraining, and the shuffle-free inference
    * plan. Training isn't SQL-expressible → rows-only row. */
  private val qualityModelTrained = Q(
    "text_quality_model_trained",
    (s, dir) => {
      val labeled = qualityModel.run(s, dir)
        .select(col("doc_id").as("l_id"), (col("verdict") === "keep").as("label"))
      val docs = ViewingData.table(s, dir, "documents")
      val model = operators.HashedLinearModel.train(
        docs.join(labeled, col("doc_id") === col("l_id"))
          .filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", "label")
      docs.select(col("doc_id"),
          round(operators.HashedLinearModel.scoreCol(col("text"), model), 4)
            .as("mq_prob"))
        .withColumn("verdict",
          when(col("mq_prob") > 0.5, lit("keep")).otherwise(lit("drop")))
    },
    None)

  /** F35's calibration cap: threshold selection reads an EXPECTED
    * ≤ cap docs whatever the corpus size. Two deterministic gates
    * compose: the `doc_id % 10` pool (the CCNet 10% convention), then
    * a 16-bit md5 slice vs a rate threshold derived from the pool
    * count (the F18 `q_sample_weighted` idiom — rate = min(1, cap /
    * |pool|), keep when `md5[0:4] < hex(rate·2^16)`; as there, the
    * threshold caps at 0xffff, so rate 1.0 keeps 65535/65536 — a
    * one-key-value bias, identical on both engines). The pool count
    * is one distributed aggregate; the rank window downstream sorts
    * only the gated sample, so the single-task sort is bounded by the
    * cap's binomial envelope, not the corpus. Both gates are pure key
    * arithmetic both engines express bit-identically. */
  private[graft] def pplCalibrationPool(
      lp: org.apache.spark.sql.DataFrame,
      cap: Long): org.apache.spark.sql.DataFrame = {
    val pool = lp.filter(col("doc_id") % 10 === 0)
      .select(col("logprob"), col("doc_id"))
    val poolCnt = math.max(1L, pool.count())
    val rate = math.min(1.0, cap.toDouble / poolCnt)
    // clamp semantics live in the ONE shared gate helper — see
    // HashFunctions.rateGateHex (never "0000", caps at 0xffff)
    val thHex = graft.functions.HashFunctions.rateGateHex(rate)
    pool.filter(substring(
      md5(concat(lit("graft-ppl-cal:"), col("doc_id").cast("string")).cast("binary")),
      1, 4) < lit(thHex))
  }

  private[graft] val PplCalCap = 65536L

  /** Tertile thresholds BY RANK over the capped calibration sample —
    * 0, 1, or 2 values (0 when the pool is empty). Control-plane:
    * the rank window's input is bounded by [[PplCalCap]]'s binomial
    * envelope. Shared by the F35 registry row and the streaming
    * twin's recalibration. */
  private[graft] def pplThresholds(lp: org.apache.spark.sql.DataFrame)
      : Array[Double] = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logprob"), col("doc_id"))
    val (samp, observed) = Barrier.materialize(pplCalibrationPool(lp, PplCalCap)
      .withColumn("rn", row_number().over(w)), count(lit(1)))
    val cnt = observed.getLong(0)
    val (k1, k2) = (math.max(1L, cnt / 3), math.max(1L, 2 * cnt / 3))
    samp.filter(col("rn") === k1 || col("rn") === k2)
      .orderBy("rn").select("logprob").collect().map(_.getDouble(0))
  }

  /** The scan-speed bucket projection against literal thresholds.
    * Empty calibration sample: the oracle's thresholds are NULL and
    * `logprob <= NULL` is never true, so everything lands 'head' —
    * mirrored exactly instead of crashing (r11 review: th.head threw
    * on a corpus with no doc_id % 10 docs while DuckDB silently
    * bucketed all-head). */
  private[graft] def pplBucketCol(th: Array[Double])
      : org.apache.spark.sql.Column =
    if (th.isEmpty) lit("head")
    else
      when(col("logprob") <= th.head, lit("tail"))
        .when(col("logprob") <= th.last, lit("middle"))
        .otherwise(lit("head"))

  /** F35 — CCNet-style LM-quality bucketing (Wenzek et al. 2020:
    * documents are split head/middle/tail by language-model
    * perplexity tertiles and training mixes upsample the head). The
    * per-doc signal is F16's unigram logprob (higher = more fluent =
    * lower perplexity); tertile THRESHOLDS come from a DETERMINISTIC
    * capped calibration sample ([[pplCalibrationPool]]: doc_id % 10,
    * then an md5 rate gate targeting [[PplCalCap]] docs — threshold
    * selection is control-plane regardless of corpus size) selected
    * BY RANK over the 6-dp-rounded logprob, which both engines order
    * identically; the full corpus is then bucketed by a scan-speed
    * comparison against the two literal thresholds — no global sort
    * or window ever touches the serving path, the CCNet shape at
    * 100 TB. */
  private val corpusPplBuckets = Q(
    "corpus_ppl_buckets",
    (s, dir) => {
      // consumed twice: threshold sample + bucketing
      val lp = Barrier.materialize(unigramLogprobPerDoc(s, dir))._1
      lp.select(col("doc_id"), col("logprob"), col("n_tokens"),
        pplBucketCol(pplThresholds(lp)).as("bucket"))
    },
    Some(s"""WITH $unigramLpCte,
pool AS (SELECT logprob, doc_id FROM lp WHERE doc_id % 10 = 0),
gate AS (
  SELECT lpad(lower(to_hex(CAST(least(65535, greatest(1, floor(
           least(1.0, CAST($PplCalCap AS DOUBLE) / greatest(1, COUNT(*))) * 65536.0)))
         AS BIGINT))), 4, '0') AS keep_below
  FROM pool),
samp AS (
  SELECT logprob, row_number() OVER (ORDER BY logprob, doc_id) AS rn,
         COUNT(*) OVER () AS cnt
  FROM pool CROSS JOIN gate
  WHERE substring(md5('graft-ppl-cal:' || CAST(doc_id AS VARCHAR)), 1, 4) < keep_below),
th AS (
  SELECT max(CASE WHEN rn = greatest(1, cnt // 3) THEN logprob END) AS t1,
         max(CASE WHEN rn = greatest(1, (2 * cnt) // 3) THEN logprob END) AS t2
  FROM samp)
SELECT doc_id, logprob, n_tokens,
       CASE WHEN logprob <= t1 THEN 'tail'
            WHEN logprob <= t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM lp CROSS JOIN th"""))

  /** Bigram-LM quality scoring with stupid backoff (Brants et al.
    * 2007) — F16's unigram signal upgraded to the transition level:
    * S(w|prev) = count(prev w)/count(prev) when the bigram was seen,
    * else 0.4 · count(w)/N. Two count aggregates (bigram one |V²|-
    * bounded shuffle, unigram one |V|), then per-doc mean log score
    * over transitions. Both count joins stay hint-free: at this SF
    * AQE broadcasts them, at 100-TB vocabulary it shuffles — F16's
    * documented posture. Transitions come from the token ARRAY
    * (zip_with of adjacent slices), so no window sort per doc. */
  private val textBigramLogprob = Q(
    "text_bigram_logprob",
    (s, dir) => {
      val toks = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      // consumed by counts AND scoring
      val pairs = Barrier.materialize(toks
        .select(col("doc_id"), explode(zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"), col("p.cur").as("cur")))._1
      val uni = Barrier.materialize(toks.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("double").as("uc")))._1
      val total = uni.agg(sum("uc").as("n"))
      val bi = pairs.groupBy("prev", "cur").agg(count(lit(1)).cast("double").as("bc"))
      // the transition score depends only on (prev, cur), so it is
      // computed ONCE PER DISTINCT BIGRAM (bc/uc/backoff joined on the
      // |V²|-bounded bi table) and the corpus-sized pairs frame joins
      // the finished score table in ONE join — r13, guide §2.3: the
      // first cut ran three joins over the exploded transition frame
      // (bi + unigram-as-prev + unigram-as-cur), shuffling/probing the
      // big side three times to attach values that are per-key
      // constants. Same arithmetic per key (the when() is evaluated on
      // identical (bc, pc, cc, n)), same per-doc multiset → identical
      // output. Inner join is exact here: every pairs key is in bi by
      // construction (bi = pairs.groupBy).
      val score = bi
        .join(uni.select(col("tok").as("prev"), col("uc").as("pc")), Seq("prev"), "left")
        .join(uni.select(col("tok").as("cur"), col("uc").as("cc")), Seq("cur"), "left")
        .crossJoin(broadcast(total))
        .select(col("prev"), col("cur"),
          when(col("bc").isNotNull, col("bc") / col("pc"))
            .otherwise(lit(0.4) * col("cc") / col("n")).as("s"))
      pairs
        .join(score, Seq("prev", "cur"))
        .groupBy("doc_id")
        .agg(round(avg(log(col("s"))), 6).as("logprob_bi"),
          count(lit(1)).cast("long").as("n_transitions"))
    },
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
pairs AS (
  SELECT doc_id, toks[CAST(i AS INT)] AS prev, toks[CAST(i + 1 AS INT)] AS cur
  FROM t, unnest(generate_series(1, len(toks) - 1)) u(i)),
uni AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS uc
  FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
total AS (SELECT SUM(uc) AS n FROM uni),
bi AS (SELECT prev, cur, CAST(COUNT(*) AS DOUBLE) AS bc FROM pairs GROUP BY prev, cur)
SELECT p.doc_id,
       round(avg(ln(CASE WHEN bi.bc IS NOT NULL THEN bi.bc / up.uc
                         ELSE 0.4 * uc2.uc / total.n END)), 6) AS logprob_bi,
       CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM pairs p
LEFT JOIN bi ON bi.prev = p.prev AND bi.cur = p.cur
LEFT JOIN uni up ON up.tok = p.prev
LEFT JOIN uni uc2 ON uc2.tok = p.cur
CROSS JOIN total
GROUP BY p.doc_id"""))

  /** The model-vs-heuristic agreement matrix a filter team reads
    * before swapping a trained gate in: the model trains on the F13
    * COMPOSITE gate's keep label (the real heuristic, not F20's
    * linear stand-in) and the held-out quarter is broken down per
    * drop-reason — which reasons the hashed-BOW model can mimic
    * (length, quality correlate with token content) and which it
    * structurally cannot (language: this corpus shares one
    * vocabulary across langs). Honest reporting over forced
    * accuracy: the output IS the disagreement. Training isn't SQL →
    * rows-only; HashedLinearModelSpec pins the matrix invariants. */
  private val qualityModelEval = Q(
    "text_quality_model_eval",
    (s, dir) => {
      val gate = qualityGate.run(s, dir)
        .select(col("doc_id").as("g_id"), col("keep"), col("drop_reasons"))
      val docs = ViewingData.table(s, dir, "documents")
      val labeled = docs.join(gate, col("doc_id") === col("g_id"))
        .select("doc_id", "text", "keep", "drop_reasons")
      // SCORES A PERSISTED MODEL (the ann_ivfpq/bpe_segment
      // discipline, r10): the SGD epochs ran on every eval for three
      // rounds — production trains once per model release and scores
      // everywhere. Train-if-missing at a source-stamped path;
      // text_quality_model_trained remains the explicit training row.
      // Measured 3.4 s → 0.9 s at sf0.1.
      // scheme encodes the training hyperparameters (the
      // stampedIndexPath contract — a dims/iters/lr tuning must change
      // the path or the stale artifact keeps serving; scoreCol reads
      // dims from the artifact, so nothing would fail loudly) and the
      // %4 split
      val path = QueriesML.stampedIndexPath(s, dir, "documents",
        "qmodel_gate_d512i1500lr30s4v1")
      val done = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
      val model =
        if (done.getFileSystem(s.sparkContext.hadoopConfiguration).exists(done))
          operators.HashedLinearModel.load(s, path)
        else {
          val m = operators.HashedLinearModel.train(
            labeled.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", "keep")
          QueriesML.ensureArtifact(s, path, "_SUCCESS")(
            operators.HashedLinearModel.save(s, m, _))
          m
        }
      labeled.filter(col("doc_id") % 4 === 0)
        .withColumn("pred_keep",
          operators.HashedLinearModel.scoreCol(col("text"), model) > 0.5)
        .select(col("pred_keep"),
          explode(when(col("keep"), array(lit("gate_keep")))
            .otherwise(split(col("drop_reasons"), ","))).as("reason"))
        .groupBy("reason")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("pred_keep"), 1L).otherwise(0L)).as("model_keep"),
          round(avg(when(col("pred_keep") === (col("reason") === "gate_keep"),
            1.0).otherwise(0.0)), 4).as("agree_rate"))
    },
    None)

  /** Bit-valid PNG signature + IHDR with the given planted dims —
    * shared by G4 (parse round-trip) and G8 (dims card), one header
    * synthesis so the two rows cannot drift. */
  private def synthPng(w: org.apache.spark.sql.Column,
      h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(concat(
      lit("89504E470D0A1A0A"), // PNG signature
      lit("0000000D"), // IHDR length 13
      lit("49484452"), // "IHDR"
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("0806000000"))) // bit depth 8, RGBA, deflate/adam7 defaults

  /** REAL container-header decode, oracle-checked by construction:
    * build a bit-valid PNG signature + IHDR and a JPEG (APP0 + SOF0)
    * with doc-derived dimensions, then recover them — PNG via
    * fixed-offset hex arithmetic ([[Multimodal.pngDims]]), JPEG via
    * the native SOF-scan expression ([[graft.plans.JpegDimsExpr]],
    * which must walk the APP0 segment to find the frame header). The
    * oracle computes the planted dimensions directly, so a parser
    * that misreads ANY byte offset, segment length, or endianness
    * hash-mismatches. Everything is a scan-speed projection. */
  private val mmHeaderParse = Q(
    "mm_header_parse",
    (s, dir) => {
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      val png = synthPng(w, h)
      val jw = (col("doc_id") % 1920 + 1).cast("int")
      val jh = (col("doc_id") % 1080 + 1).cast("int")
      val jpeg = unhex(concat(
        lit("FFD8"), // SOI
        lit("FFE000104A46494600010100000100010000"), // APP0 JFIF, len 16
        lit("FFC0000B08"), // SOF0, len 11, precision 8
        lpad(hex(jh), 4, "0"), lpad(hex(jw), 4, "0"),
        lit("01011100"))) // 1 component
      ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), png.as("png"), jpeg.as("jpeg"))
        .select(
          col("doc_id"),
          Multimodal.sniffMime(col("png")).as("mime"),
          Multimodal.pngDims(col("png")).getField("width").as("width"),
          Multimodal.pngDims(col("png")).getField("height").as("height"),
          Multimodal.jpegDims(col("jpeg")).getField("width").as("jpeg_width"),
          Multimodal.jpegDims(col("jpeg")).getField("height").as("jpeg_height"))
    },
    Some("""SELECT doc_id,
       'image/png' AS mime,
       CAST(doc_id % 640 + 1 AS INTEGER) AS width,
       CAST(doc_id % 480 + 1 AS INTEGER) AS height,
       CAST(doc_id % 1920 + 1 AS INTEGER) AS jpeg_width,
       CAST(doc_id % 1080 + 1 AS INTEGER) AS jpeg_height
FROM documents"""))

  /** G8 — the MULTIMODAL dataset card (F38's sibling for vision
    * data): composition per orientation × resolution bucket — asset
    * counts, payload mass, average dims — the table that drives
    * resize/crop policy and storage planning before a vision-data
    * release. Dims come from the REAL header parse
    * ([[Multimodal.pngDims]] over a bit-valid synthesized IHDR, the
    * G4 discipline), so the card aggregates PARSED values and the
    * planted-arithmetic oracle catches any parse or bucketing drift.
    * Scan-speed projection + one small groupBy; the payload stand-in
    * for asset size is the text byte length (G1's convention). */
  private val mmDimsCard = Q(
    "mm_dims_card",
    (s, dir) => {
      val w = (col("doc_id") % 640 + 1).cast("int")
      val h = (col("doc_id") % 480 + 1).cast("int")
      val dims = Multimodal.pngDims(synthPng(w, h))
      ViewingData.table(s, dir, "documents")
        .select(octet_length(col("text")).cast("long").as("n_bytes"),
          dims.getField("width").as("w"), dims.getField("height").as("h"))
        .select(
          when(col("w") > col("h"), "landscape")
            .when(col("w") < col("h"), "portrait")
            .otherwise("square").as("orientation"),
          floor(col("w") * col("h") / lit(65536.0)).cast("long").as("px_bucket"),
          col("n_bytes"), col("w"), col("h"))
        .groupBy("orientation", "px_bucket")
        .agg(count(lit(1)).as("n_assets"),
          sum("n_bytes").as("total_bytes"),
          round(avg("w"), 2).as("avg_width"),
          round(avg("h"), 2).as("avg_height"))
    },
    Some("""WITH d AS (
  SELECT doc_id,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         CAST(doc_id % 640 + 1 AS INTEGER) AS w,
         CAST(doc_id % 480 + 1 AS INTEGER) AS h
  FROM documents)
SELECT CASE WHEN w > h THEN 'landscape' WHEN w < h THEN 'portrait'
            ELSE 'square' END AS orientation,
       CAST(floor((w * h) / 65536.0) AS BIGINT) AS px_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       round(AVG(w), 2) AS avg_width,
       round(AVG(h), 2) AS avg_height
FROM d GROUP BY 1, 2"""))

  /** C4/Gopher-style composite quality gate: every per-doc signal
    * (length, repetition, language, quality score) computed from ONE
    * tokenization, folded into a keep flag + comma-joined drop
    * reasons (concat_ws skips the NULL branches in both engines).
    * One projection over one scan — the whole gate runs at scan
    * speed; this is the filter stage a corpus pipeline applies
    * between dedup and packing. */
  /** Per-doc gate signals from ONE tokenization — shared by the gate
    * query and the end-to-end corpus-prep pipeline. Input needs
    * (doc_id, text); output carries text through so a downstream
    * stage can consume gated documents with a FILTER, not a join
    * back to the source. */
  private def gateSignals(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"), col("toks"),
        TextFunctions.wordNgrams(col("toks"), 3).as("tris"))
      .select(
        col("doc_id"), col("text"),
        size(col("toks")).cast("long").as("n_tokens"),
        TextFunctions.dupNgramRatio(col("tris")).as("dup_ratio"),
        TextFunctions.langIdFromTokens(col("toks")).as("lang"),
        TextFunctions.qualityScoreFromTokens(col("toks"), col("text")).as("quality"))

  private val qualityGate = Q(
    "text_quality_gate",
    (s, dir) => {
      val sig = gateSignals(ViewingData.table(s, dir, "documents"))
      sig.select(
        col("doc_id"), col("n_tokens"), col("dup_ratio"), col("lang"), col("quality"),
        concat_ws(",",
          when(col("n_tokens") < 10, lit("too_short")),
          when(col("n_tokens") > 5000, lit("too_long")),
          when(col("dup_ratio") > 0.2, lit("repetitive")),
          when(col("lang") =!= "en", lit("non_english")),
          when(col("quality") < 0.3, lit("low_quality"))).as("drop_reasons"))
        .withColumn("keep", col("drop_reasons") === "")
    },
    Some(s"""WITH ${gateSigSql("documents")}
SELECT doc_id, n_tokens, dup_ratio, lang, quality,
       concat_ws(',',
         CASE WHEN n_tokens < 10 THEN 'too_short' END,
         CASE WHEN n_tokens > 5000 THEN 'too_long' END,
         CASE WHEN dup_ratio > 0.2 THEN 'repetitive' END,
         CASE WHEN lang <> 'en' THEN 'non_english' END,
         CASE WHEN quality < 0.3 THEN 'low_quality' END) AS drop_reasons,
       concat_ws(',',
         CASE WHEN n_tokens < 10 THEN 'too_short' END,
         CASE WHEN n_tokens > 5000 THEN 'too_long' END,
         CASE WHEN dup_ratio > 0.2 THEN 'repetitive' END,
         CASE WHEN lang <> 'en' THEN 'non_english' END,
         CASE WHEN quality < 0.3 THEN 'low_quality' END) = '' AS keep
FROM lbl"""))

  /** The COMPLETE corpus-prep pipeline as ONE Catalyst plan — what a
    * training-data team actually runs: near-dup dedup (exact-Jaccard
    * pairs → connected components → keep canonical), quality gate on
    * the survivors, PII scrub, then sharded context-length packing of
    * the scrubbed text. Every stage is the same operator the
    * standalone queries use, and the oracle composes the SAME SQL
    * fragments (recursive-CTE components, shared gate CTEs, shared
    * scrub regexes), so the composition itself is hash-checked end to
    * end. Scale shape: one bucketed self-join (pairs), Pregel
    * supersteps on the tiny edge set, everything else scan-speed
    * projections, and the final pack windows per shard. */
  /** corpus_prep's chain AFTER pair generation — shared so Sweep's
    * `corpus_prep_minhash` can drive the identical dedup→gate→scrub→
    * pack stages with the LSH pair stage swapped in (the documented
    * production form: blocked-exact pairs are the hash-checkable
    * flavor, LSH pairs are the shape whose candidate volume tracks
    * true near-dup density instead of bucket membership). */
  private[graft] def corpusPrepFrom(s: org.apache.spark.sql.SparkSession,
      dir: String, pairs: org.apache.spark.sql.DataFrame,
      scope: org.apache.spark.sql.Column = lit(true))
      : org.apache.spark.sql.DataFrame = {
      // repartition at the head: gate trigrams and PII regexes are
      // the per-doc CPU cost, and the single-file scan would run them
      // on one task (pairs repartitions internally already).
      // `scope` restricts which docs are PREPPED (the incremental form
      // preps the delta only); pairs/dupes may reference out-of-scope
      // ids — the anti-join just never matches them. Default lit(true)
      // optimizes away (PruneFilters), keeping the one-shot plan
      // identical.
      corpusPrepFromDupes(s, dir,
        Components.connectedComponents(pairs, "id_a", "id_b")
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("doc_id")),
        scope)
  }

  /** [[corpusPrepFrom]] with the duplicate set supplied directly —
    * the incremental row needs survivorship semantics the one-shot's
    * min-id rule cannot express (standing docs always win). */
  private[graft] def corpusPrepFromDupes(s: org.apache.spark.sql.SparkSession,
      dir: String, dupes: org.apache.spark.sql.DataFrame,
      scope: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
      val docs = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .filter(scope)
      prepKept(docs.join(dupes, Seq("doc_id"), "left_anti"))
  }

  /** The prep chain AFTER survivorship — gate → filter → scrub → pack
    * over an explicit kept-docs frame (needs doc_id, text). Shared by
    * the one-shot/incremental registry rows and the streaming loop
    * ([[graft.streaming.StreamCorpusPrep]]), so the stages cannot
    * drift between the batch and streamed forms. */
  private[graft] def prepKept(
      kept: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // gate → filter → scrub in ONE pass over kept: signals carry the
    // text, so no join back to the source and no second anti-join.
    // The checkpoint is a PUSHDOWN BARRIER, not just caching:
    // without it, predicate pushdown substitutes every signal alias
    // into one Filter (CodegenFallback lambdas get no subexpression
    // elimination), re-running split() ~30x per row — measured 14s
    // vs 4s at sf0.1. A production pipeline materializes the signal
    // table between stages anyway.
    val sized = Barrier.materialize(gateSignals(kept))._1
      .filter(col("n_tokens") >= 10 && col("n_tokens") <= 5000 &&
        col("dup_ratio") <= 0.2 && col("lang") === "en" && col("quality") >= 0.3)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(8)).as("shard"),
        TextFunctions.piiScrub(col("text")).as("stext"))
      .select(col("doc_id"), col("shard"),
        md5(col("stext").cast("binary")).as("text_sig"),
        TextFunctions.wsTokenCount(col("stext")).as("n_tokens"))
    DocPack.packSharded(sized, "shard", "doc_id", "n_tokens", 2048)
  }

  private val corpusPrep = Q(
    "corpus_prep_e2e",
    (s, dir) => corpusPrepFrom(s, dir,
      Barrier.materialize(QueriesML.ngramJaccardPairs(s, dir)
        .select("id_a", "id_b"))._1),
    Some(s"""WITH RECURSIVE ${QueriesML.ngramPairsCte},
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s),
comp AS (SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s),
dupes AS (SELECT doc_id FROM comp WHERE doc_id <> canonical_id),
kept AS (SELECT d.doc_id, d.text FROM documents d ANTI JOIN dupes USING (doc_id)),
${gateSigSql("kept")},
gated AS (SELECT doc_id FROM lbl
          WHERE n_tokens >= 10 AND n_tokens <= 5000 AND dup_ratio <= 0.2
            AND lang = 'en' AND quality >= 0.3),
scr AS (SELECT k.doc_id, k.doc_id % 8 AS shard,
               ${piiScrubSql("k.text")} AS stext
        FROM kept k JOIN gated USING (doc_id)),
sized AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                 md5(stext) AS text_sig,
                 CAST(len(regexp_split_to_array(trim(lower(stext)), '\\s+')) AS BIGINT) AS n_tokens
          FROM scr)
SELECT doc_id, shard, text_sig, n_tokens,
       CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor((SUM(n_tokens) OVER w - n_tokens) / 2048) AS BIGINT) AS pack_id
FROM sized
WINDOW w AS (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  /** corpus_prep's CONTINUOUS-INGESTION form (F14b, r10): the standing
    * corpus (3/4 of documents) is already prepped; a delta (1/4)
    * lands, and the output is the prep of the DELTA ALONE — dedup
    * edges restricted to delta-touching pairs (delta×standing via the
    * same (lang, n_chars) buckets the one-shot uses, plus
    * delta×delta), connected components over that edge set, then the
    * identical gate → scrub → pack chain scoped to surviving delta
    * docs. The gram build runs ONCE over one scan; the pair join's
    * probe side is the DELTA (bucket-local — the standing side is
    * only ever compared against delta buckets, never itself: the
    * standing×standing quadratic was paid at initial prep and never
    * again, the etl-dag.sql watermark discipline applied to curation).
    *
    * Survivorship is FIRST-ARRIVAL-WINS, not the one-shot's min-id
    * rule: a delta doc duplicating ANYTHING standing is dropped
    * regardless of id order (the standing copy is already published —
    * evicting it would leave the combined corpus carrying both
    * near-dups and break the very invariant the next increment relies
    * on), and among delta-only components the min delta id survives.
    * That invariant — the standing corpus is dedup-clean, because
    * every standing doc survived this same rule when IT was the
    * delta — is also what lets the delta-touching edge set suffice
    * (delta docs chain through at most one standing hop). Fully
    * DuckDB-oracled: delta-restricted pairs, recursive CC,
    * first-arrival survivorship, and the shared gate/scrub/pack
    * fragments. */
  private val corpusPrepIncremental = Q(
    "corpus_prep_incremental",
    (s, dir) => {
      val pairs = Barrier.materialize(QueriesML.ngramJaccardPairsTouching(
          s, dir, col("doc_id") % 4 === 0))._1
      val cc = Components.connectedComponents(pairs, "id_a", "id_b")
      // per component: does it touch the standing corpus, and which
      // delta member arrived first (min id — the intra-delta tie rule)
      val flags = cc.groupBy("comp").agg(
        max(when(col("id") % 4 =!= 0, 1L).otherwise(0L)).as("has_standing"),
        min(when(col("id") % 4 === 0, col("id"))).as("min_delta"))
      val dupes = cc.filter(col("id") % 4 === 0)
        .join(flags, "comp")
        .filter(col("has_standing") === 1L || col("id") =!= col("min_delta"))
        .select(col("id").as("doc_id"))
      corpusPrepFromDupes(s, dir, dupes, scope = col("doc_id") % 4 === 0)
    },
    Some(s"""WITH RECURSIVE g AS (
  SELECT doc_id, lang, n_chars,
         list_distinct(list_transform(generate_series(1, greatest(1, length(text) - ${QueriesML.NgramShingle - 1})),
                                      i -> substring(text, i, ${QueriesML.NgramShingle}))) AS grams
  FROM documents),
pairs AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM g a JOIN g b ON a.lang = b.lang AND a.n_chars = b.n_chars
                   AND a.doc_id <> b.doc_id
  WHERE b.doc_id % 4 = 0
    AND round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE), 6) >= ${QueriesML.NgramTau}),
edges AS (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(s, n) AS (SELECT s, s FROM edges UNION
                SELECT r.s, e.d FROM reach r JOIN edges e ON r.n = e.s),
comp AS (SELECT s AS doc_id, MIN(n) AS canonical_id FROM reach GROUP BY s),
flags AS (SELECT canonical_id,
                 max(CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END) AS has_standing,
                 MIN(CASE WHEN doc_id % 4 = 0 THEN doc_id END) AS min_delta
          FROM comp GROUP BY 1),
dupes AS (SELECT c.doc_id FROM comp c JOIN flags f USING (canonical_id)
          WHERE c.doc_id % 4 = 0
            AND (f.has_standing = 1 OR c.doc_id <> f.min_delta)),
kept AS (SELECT d.doc_id, d.text FROM documents d ANTI JOIN dupes USING (doc_id)
         WHERE d.doc_id % 4 = 0),
${gateSigSql("kept")},
gated AS (SELECT doc_id FROM lbl
          WHERE n_tokens >= 10 AND n_tokens <= 5000 AND dup_ratio <= 0.2
            AND lang = 'en' AND quality >= 0.3),
scr AS (SELECT k.doc_id, k.doc_id % 8 AS shard,
               ${piiScrubSql("k.text")} AS stext
        FROM kept k JOIN gated USING (doc_id)),
sized AS (SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                 md5(stext) AS text_sig,
                 CAST(len(regexp_split_to_array(trim(lower(stext)), '\\s+')) AS BIGINT) AS n_tokens
          FROM scr)
SELECT doc_id, shard, text_sig, n_tokens,
       CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor((SUM(n_tokens) OVER w - n_tokens) / 2048) AS BIGINT) AS pack_id
FROM sized
WINDOW w AS (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""))

  /** Context-window CHUNKING with overlap (the RAG / embedding-prep
    * shape: every doc split into 64-token windows advancing by 48, so
    * consecutive chunks share 16 tokens of context). One tokenize +
    * one explode over the start offsets — scan-speed, zero shuffle,
    * output rows ∝ corpus tokens / stride. A trailing window that
    * would be entirely contained in its predecessor (start ≥ 0 and
    * n ≤ start + overlap) is suppressed — it would carry no new
    * tokens; chunk_idx = start/stride stays stable under that filter
    * so chunk ids are reproducible across runs and engines. */
  /** Overlapping token-window chunking over (doc_id, text) — shared
    * by doc_chunk and RagOpsSpec's coverage-property cases. A window
    * whose start > 0 and whose tokens all lie within its predecessor
    * (n ≤ start + overlap) is suppressed as redundant. */
  private[graft] def chunkDocs(df: org.apache.spark.sql.DataFrame,
      window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    val ov = window - stride
    df.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)),
          lit(stride))).as("start"))
      .filter(col("start") === 0 || size(col("toks")) > col("start") + ov)
      .select(col("doc_id"),
        (col("start") / stride).cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(window)))
          .as("chunk_text"),
        least(size(col("toks")) - col("start"), lit(window)).cast("long")
          .as("n_chunk_tokens"))
  }

  private val docChunk = Q(
    "doc_chunk",
    (s, dir) => chunkDocs(
      graft.Par.widen(
        ViewingData.table(s, dir, "documents").select("doc_id", "text")),
      window = 64, stride = 48),
    Some("""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks)-1, 0) + 1, 48)) AS start
  FROM t)
SELECT doc_id, CAST(start / 48 AS INTEGER) AS chunk_idx,
       array_to_string(toks[start+1 : start+64], ' ') AS chunk_text,
       CAST(least(len(toks) - start, 64) AS BIGINT) AS n_chunk_tokens
FROM s WHERE start = 0 OR len(toks) > start + 16"""))

  /** TF-IDF top-terms per document (the retrieval / keyword-signal
    * upgrade of F5's raw term frequency): smooth idf
    * ln((N+1)/(df+1)) + 1. Scale shape: tf aggregates on
    * (doc, term) — ONE corpus-token shuffle, map-side combined — and
    * df derives from tf (count of docs per term over the already
    * aggregated frame), never a second corpus scan; the tf⋈df join is
    * hint-free so AQE broadcasts the |vocab| side while it fits
    * (F16's documented posture); the per-doc top-5 rides a doc_id
    * window that WindowGroupLimit prunes below the exchange. Rank
    * ties break on term ASC so the oracle can exist. */
  /** TF-IDF top-k terms per doc over (doc_id, text) — shared by
    * text_tfidf and RagOpsSpec's crafted rare-vs-common ordering. */
  private[graft] def tfidfTopK(docs: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    // reused by df AND the join — one tf build
    val tf = Barrier.materialize(docs
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))._1
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n)) // one-row bounds frame
      .withColumn("score",
        col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1))
          + 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"), col("rk"))
  }

  private val textTfidf = Q(
    "text_tfidf",
    (s, dir) => tfidfTopK(
      ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select("doc_id", "text"),
      k = 5),
    Some("""WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score DESC, term ASC) AS rk
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS score, CAST(rk AS INTEGER) AS rk
FROM rk WHERE rk <= 5"""))

  /** Weighted k-sample WITHOUT replacement per group (Efraimidis &
    * Spirakis 2006): each doc draws key = -ln(u)/w from a
    * deterministic md5 uniform, and the k SMALLEST keys per source
    * are exactly a w-weighted reservoir — the weighted generalization
    * of C26b's uniform reservoir, served by the same mergeable
    * `topk_by` heap (score = -key), so each map task ships ≤k rows
    * per group and no window sort touches the corpus. u is the first
    * 6 md5 hex digits (+1, /16^6+1 keeps it in (0,1]) — both engines
    * derive the identical double, so DuckDB's exact window ranking
    * verifies the draw end to end. */
  /** Efraimidis–Spirakis weighted k-reservoir over (grp, id, w) via
    * the mergeable topk_by heap; key = -ln(u)/w with u derived from
    * md5(seedTag:id). Weights must be POSITIVE and are honored at any
    * scale — fractional probability weights included; the 1e-9 floor
    * only guards zero/negative garbage from dividing by zero (a
    * review caught the first cut flooring at 1.0, which silently
    * uniformized sub-1 weights). Shared by q_sample_weighted_k and
    * RagOpsSpec. */
  private[graft] def weightedSampleK(df: org.apache.spark.sql.DataFrame,
      grp: String, id: String, w: String, k: Int, seedTag: String)
      : org.apache.spark.sql.DataFrame = {
    val key = expr(
      s"""-ln((cast(conv(substring(md5(cast(concat('$seedTag:',
             cast($id as string)) as binary)), 1, 6), 16, 10) as double) + 1)
           / 16777217.0)
         / greatest(cast($w as double), 1e-9)""")
    df.select(col(grp), col(id), key.as("key"))
      .groupBy(grp)
      .agg(expr(s"topk_by(-key, $id, $k)").as("res"))
      .select(col(grp), posexplode(col("res")))
      .select(col(grp),
        (col("pos") + 1).cast("long").as("draw_rank"),
        col("col.id").as(id),
        round(-col("col.score"), 9).as("priority"))
  }

  /** Deterministic hash-derived unit embedding of a text column —
    * dim components from md5(text:i) scaled to [-1, 1), L2-normalized.
    * This is the honest EMBED STUB of the RAG path (a real embedder is
    * a model server / mapInPandas; no model runs in this container):
    * the plumbing it pins is real — pure codegen-able expressions, a
    * dense array<double> column at scan speed, deterministic across
    * retries/engines so the whole chunk→embed stage is hash-checkable
    * end to end, and the output feeds [[operators.Ivf]] unchanged
    * (RagPipelineSpec drives chunk→embed→index→probe). */
  /** The pre-normalization component array of [[hashEmbed]] — split
    * out so consumers that need FP-order-exact cosine arithmetic
    * (q_hybrid_search's oracle) can divide by norms at the dot, not
    * per component. */
  private[graft] def hashEmbedRaw(c: org.apache.spark.sql.Column, dim: Int)
      : org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => conv(substring(md5(concat(c, lit(":"), i.cast("string"))
          .cast("binary")), 1, 6), 16, 10)
        .cast("double") / lit(16777216.0) * 2 - 1)

  private[graft] def hashEmbed(c: org.apache.spark.sql.Column, dim: Int)
      : org.apache.spark.sql.Column = {
    val raw = hashEmbedRaw(c, dim)
    val norm = sqrt(aggregate(transform(raw, x => x * x),
      lit(0.0), (a, b) => a + b))
    transform(raw, x => x / norm)
  }

  /** DuckDB integer value of the first `n` hex chars of expression
    * `e` (12 digits = 48 bits, still BIGINT-safe). */
  private[graft] def hexNSql(e: String, n: Int): String =
    (1 to n).map(i =>
      s"(strpos('0123456789abcdef', substring($e, $i, 1)) - 1) * ${math.pow(16, n - i).toLong}")
      .mkString("(", " + ", ")")

  /** DuckDB integer value of the first 6 hex chars of expression `e`. */
  private[graft] def hex6Sql(e: String): String = hexNSql(e, 6)

  private val chunkEmbed = Q(
    "q_chunk_embed",
    // The embedding is emitted as a comma-joined fixed-format string
    // (NOT array<double>): the check harness sorts result columns with
    // pandas, which cannot hash/sort raw arrays. round-then-format is
    // engine-stable; `+ 0.0` collapses any -0.0 the rounding produces
    // so both engines print "0.000000". The raw array<double> form of
    // the same embedding is what RagPipelineSpec feeds to Ivf.
    (s, dir) => chunkDocs(
        graft.Par.widen(
          ViewingData.table(s, dir, "documents").select("doc_id", "text")),
        window = 64, stride = 48)
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(",", transform(hashEmbed(col("chunk_text"), 8),
          x => format_string("%.6f", round(x, 6) + lit(0.0))))
          .as("embedding")),
    Some(s"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks)-1, 0) + 1, 48)) AS start
  FROM t),
c AS (
  SELECT doc_id, CAST(start / 48 AS INTEGER) AS chunk_idx,
         array_to_string(toks[start+1 : start+64], ' ') AS chunk_text
  FROM s WHERE start = 0 OR len(toks) > start + 16),
r AS (
  SELECT doc_id, chunk_idx,
         list_transform(range(0, 8), i ->
           ${hex6Sql("md5(chunk_text || ':' || CAST(i AS VARCHAR))")}
             / 16777216.0 * 2 - 1) AS raw
  FROM c)
SELECT doc_id, chunk_idx,
       array_to_string(list_transform(raw, x ->
         printf('%.6f',
           round(x / sqrt(list_sum(list_transform(raw, y -> y*y))), 6)
             + 0.0)), ',')
         AS embedding
FROM r"""))

  private val sampleWeightedK = Q(
    "q_sample_weighted_k",
    (s, dir) => {
      weightedSampleK(ViewingData.table(s, dir, "documents"),
        "source", "doc_id", "n_chars", k = 3, seedTag = "graft-wrs-11")
    },
    Some(s"""WITH keyed AS (
  SELECT source, doc_id,
         -ln((${hex6Sql("md5('graft-wrs-11:' || CAST(doc_id AS VARCHAR))")}
           + 1) / 16777217.0)
         / greatest(CAST(n_chars AS DOUBLE), 1e-9) AS skey
  FROM documents),
r AS (
  SELECT source, doc_id, skey,
         row_number() OVER (PARTITION BY source
           ORDER BY skey ASC, doc_id ASC) AS rn
  FROM keyed)
SELECT source, CAST(rn AS BIGINT) AS draw_rank, doc_id,
       round(skey, 9) AS priority
FROM r WHERE rn <= 3"""))

  // ---------------------------------------------------------------------
  // Retrieval serving: BM25 lexical scoring + hybrid RRF fusion
  // ---------------------------------------------------------------------

  /** Okapi BM25 (k1=1.2, b=0.75, Robertson idf) of every doc against
    * a fixed term set — the LEXICAL half of hybrid retrieval. Scale
    * shape: the corpus tokenizes ONCE (checkpoint feeds tf and dl);
    * the query-term filter lands BEFORE the tf aggregate so the
    * shuffle carries only matching (doc, term) rows — |terms|-bounded,
    * not corpus-bounded; df and the (avgdl, N) stats frame are
    * broadcast one-row/|terms| frames. Constants are written as the
    * SAME literals on both engines (2.2, 0.25, 0.75 — never 1.2+1,
    * whose rounding differs from the literal 2.2). */
  private[graft] def bm25(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = Barrier.materialize(docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks")))._1
    val dl = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfT), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) *
              (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))))
      .groupBy("doc_id").agg(sum("contrib").as("score"))
  }

  /** DuckDB twin of [[bm25]] as a CTE chain ending in `bm(doc_id,
    * score)` — generated from the same term list so the two can't
    * drift. */
  private def bm25Cte(terms: Seq[String]): String = s"""tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
dlen AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT) AS dl
  FROM documents),
stats AS (SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS BIGINT) AS n FROM dlen),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM tok WHERE term IN ${inList(terms)} GROUP BY 1, 2),
dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
bm AS (
  SELECT tf.doc_id,
         SUM(ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
             ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))) AS score
  FROM tf JOIN dfx USING (term) JOIN dlen ON tf.doc_id = dlen.doc_id
  CROSS JOIN stats
  GROUP BY 1)"""

  private val QueryTerms = Seq("table", "stream", "merge")
  private val QueryText = QueryTerms.mkString(" ")

  private val textBm25 = Q(
    "text_bm25",
    (s, dir) => {
      val scored = bm25(
        ViewingData.table(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select("doc_id", "text"),
        QueryTerms)
      // distributed top-k (TakeOrderedAndProject — map-side partial
      // top-20, no single-partition window over the scored frame,
      // which at 100 TB is |docs matching any term|, not control
      // plane); the rank column derives on the 20 survivors
      val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(20)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id").asc)
      top.withColumn("rank", row_number().over(w))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          col("rank").cast("long").as("rank"))
    },
    Some(s"""WITH ${bm25Cte(QueryTerms)},
r AS (SELECT doc_id, score,
        row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM bm)
SELECT doc_id, round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 20"""))

  // --- hybrid retrieval shared pieces (q_hybrid_search + _indexed) ---

  private def vss(a: org.apache.spark.sql.Column) =
    aggregate(transform(a, x => x * x), lit(0.0), (p, q) => p + q)
  private def hybridQv = hashEmbedRaw(lit(QueryText), 8)

  /** BM25 top-20 with ranks — distributed TakeOrderedAndProject; the
    * rank window runs on the 20 survivors (control plane). */
  private def hybridLexTop(docs: org.apache.spark.sql.DataFrame) = {
    val wLex = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    bm25(docs, QueryTerms)
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
      .withColumn("lex_rank", row_number().over(wLex))
      .select("doc_id", "lex_rank")
  }

  /** (doc_id, cos) against the hybrid query — cosine divides by both
    * norms AT the dot so both engines run the identical FP sequence
    * (the oracle's arithmetic; also the _indexed row's re-rank). */
  private def hybridDenseCos(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), hashEmbedRaw(col("text"), 8).as("d"))
      .select(col("doc_id"),
        (VectorFunctions.dot(col("d"), hybridQv) / (sqrt(vss(col("d"))) * sqrt(vss(hybridQv))))
          .as("cos"))

  /** Reciprocal-rank fusion Σ 1/(60 + rank) of the two 20-row lists —
    * everything here is control-plane-sized. `dense20` carries
    * (doc_id, cos) sorted-and-limited by the caller. */
  private def hybridFuse(lex: org.apache.spark.sql.DataFrame,
      dense20: org.apache.spark.sql.DataFrame) = {
    val wDen = org.apache.spark.sql.expressions.Window
      .orderBy(col("cos").desc, col("doc_id").asc)
    val dense = dense20
      .withColumn("dense_rank", row_number().over(wDen))
      .select("doc_id", "dense_rank")
    val wRrf = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
      .withColumn("rank", row_number().over(wRrf))
      .filter(col("rank") <= 10)
      .select(col("doc_id"),
        col("lex_rank").cast("long").as("lex_rank"),
        col("dense_rank").cast("long").as("dense_rank"),
        round(col("rrf"), 6).as("rrf"),
        col("rank").cast("long").as("rank"))
  }

  /** HYBRID retrieval — the serving shape of a RAG stack: lexical
    * BM25 top-20 and dense cosine top-20 (query + docs embedded by
    * the same deterministic hash embedder, so the WHOLE chain is
    * oracle-checkable) fused by reciprocal-rank fusion
    * Σ 1/(60 + rank). The dense side here is the documented
    * brute-force BASELINE — every doc embedded per query batch;
    * [[hybridSearchIndexed]] is the 100-TB serving path. */
  /** The ONE oracle both hybrid rows share: global BM25 top-20 ×
    * global dense top-20 × RRF. The _indexed row may legitimately
    * claim it because its index decides only what is READ, never
    * what is returned. */
  private val hybridOracleSql = s"""WITH ${bm25Cte(QueryTerms)},
lexr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
         FROM bm QUALIFY lex_rank <= 20),
emb AS (
  SELECT doc_id,
         list_transform(range(0, 8), i ->
           ${hex6Sql("md5(text || ':' || CAST(i AS VARCHAR))")}
             / 16777216.0 * 2 - 1) AS d
  FROM documents),
qv AS (
  SELECT list_transform(range(0, 8), i ->
           ${hex6Sql(s"md5('$QueryText' || ':' || CAST(i AS VARCHAR))")}
             / 16777216.0 * 2 - 1) AS q),
cosd AS (
  SELECT doc_id,
         list_sum(list_transform(range(1, 9), j -> d[j] * q[j]))
           / (sqrt(list_sum(list_transform(range(1, 9), j -> d[j] * d[j])))
              * sqrt(list_sum(list_transform(range(1, 9), j -> q[j] * q[j]))))
           AS cos
  FROM emb CROSS JOIN qv),
denr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS dense_rank
         FROM cosd QUALIFY dense_rank <= 20),
fused AS (
  SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
         CAST(l.lex_rank AS BIGINT) AS lex_rank,
         CAST(d.dense_rank AS BIGINT) AS dense_rank,
         coalesce(1.0 / (60 + l.lex_rank), 0.0)
           + coalesce(1.0 / (60 + d.dense_rank), 0.0) AS rrf
  FROM lexr l FULL OUTER JOIN denr d ON l.doc_id = d.doc_id)
SELECT doc_id, lex_rank, dense_rank, round(rrf, 6) AS rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rank
FROM fused QUALIFY rank <= 10"""

  private val hybridSearch = Q(
    "q_hybrid_search",
    (s, dir) => {
      val docs = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select("doc_id", "text")
      hybridFuse(
        hybridLexTop(docs),
        hybridDenseCos(docs)
          .orderBy(col("cos").desc, col("doc_id").asc).limit(20))
    },
    Some(hybridOracleSql))

  /** F28b — q_hybrid_search with the dense side served by a PERSISTED
    * IVF index (r10 verdict directive #4): the brute-force baseline
    * embeds the ENTIRE corpus per query batch (md5-chain per doc — the
    * ×10 sweep's 5.63 s was ~all embedding), which at 100 TB scales
    * with |corpus|×|queries|. Here the embeddings are computed ONCE
    * into a source-stamped IVF index (orthant-seeded cells over the
    * normalized 8-dim hash embeddings; build-if-missing via the staged
    * publish); the dense top-20 is served by an EXACT radius probe
    * ([[operators.Ivf.rangeProbeIndexed]], triangle bound — decides
    * what is READ, never what is returned) followed by an exact
    * re-rank of the candidate ids under the ORACLE's FP sequence
    * (raw dot / norm product, [[hybridDenseCos]]), so the row claims
    * the full q_hybrid_search oracle.
    *
    * Exactness guarantee, checked at runtime: the probe returns EVERY
    * doc with cos ≥ τ, so when 20 candidates clear τ with an FP+
    * rounding margin the global top-20 is provably inside the
    * candidate set. If the corpus ever fails the check (fewer than 20
    * docs within τ of the query), the row falls back to the
    * brute-force scan — exactness is never a function of index
    * quality. The probe+re-rank cost is |candidates|, not |corpus|:
    * only candidate docs are re-embedded. */
  private val hybridSearchIndexed = Q(
    "q_hybrid_search_indexed",
    (s, dir) => {
      import graft.functions.VectorFunctions.normalize
      val docs = ViewingData.table(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select("doc_id", "text")
      val path = QueriesML.stampedIndexPath(s, dir, "documents", "hybivf_d8c16v1")
      QueriesML.ensureArtifact(s, path, "cellstats/_SUCCESS") { staged =>
        // cells seeded by the sign orthant of the first 4 components
        // (content-derived, so same-orthant vectors are genuinely
        // close); Ivf.assign then snaps members to nearest centroid.
        // Exactness never depends on this choice — only pruning does.
        val v = Barrier.materialize(docs
          .select(col("doc_id"),
            normalize(hashEmbedRaw(col("text"), 8)).as("e"))
          .withColumn("cell",
            (when(element_at(col("e"), 1) >= 0, 8).otherwise(0) +
              when(element_at(col("e"), 2) >= 0, 4).otherwise(0) +
              when(element_at(col("e"), 3) >= 0, 2).otherwise(0) +
              when(element_at(col("e"), 4) >= 0, 1).otherwise(0)).cast("int")))._1
        val cents = Barrier.materialize(operators.Ivf.centroids(v, "cell", "e"))._1
        operators.Ivf.writeIndex(
          operators.Ivf.assign(v, cents, "doc_id", "e", "cell"),
          cents, "cell", staged)
        operators.Ivf.writeCellStats(s, staged, "e", "cell")
      }
      // Descending τ LADDER: the radius that proves exactness cheaply
      // depends on the corpus — the 20th-best cosine grows with N, so
      // a big corpus proves it at a TIGHT radius (tiny candidate set)
      // while a small one needs a loose radius. A rung FAILS only
      // when fewer than 20 candidates clear τ + margin; the result is
      // the global top-20 whichever rung wins, so the ladder is a
      // cost knob, not a semantics knob. Tightest radius first, fall
      // through on failure, brute-force scan as the final rung.
      // Without the ladder, a fixed τ=0.2 at ×10 admitted ~25% of the
      // corpus and the re-rank ate the probe's win (measured 4.5 s vs
      // 4.0 s brute; laddered, a big corpus wins at 0.8 and re-ranks
      // hundreds, not tens of thousands).
      // A rung usually
      // fails because its candidate set is too small to hold 20 docs
      // (cheap probe); the edge where it fails WITH a large set — 20
      // rows collected but the 20th sits inside the FP margin
      // [τ, τ+1e-5) — pays one full probe, which the next rung's
      // superset probe would have paid anyway, so the ladder never
      // worse than doubles the winning rung's cost
      val ladder = Seq(0.8, 0.5, 0.2)
      // the freshness check + the three index relation resolutions run
      // ONCE for the whole ladder (r12: each rung re-resolved
      // cellstats/centroids/cells and re-ran the two staleness actions
      // — pure per-rung metadata cost on an index that cannot change
      // mid-query); the query vector plan is likewise shared
      val idx = operators.Ivf.rangeProbeFrames(s, path)
      val qv = s.range(1).select(normalize(hybridQv).as("q"))
      def rerankAt(tau: Double) = {
        val candIds = operators.Ivf.rangeProbeWithFrames(idx, qv,
            "doc_id", "e", "cell", minCos = tau)
          .select("doc_id")
        // exact re-rank of candidate ids only, oracle FP sequence; the
        // laddered candidate set is hundreds of ids — broadcast the
        // semi-join so the re-rank never shuffles the corpus scan
        val r = hybridDenseCos(
            docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
          .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
        // ONE action on the 20-row result: the collected rows both
        // decide the guarantee check and BECOME the winning frame (a
        // LocalRelation), where the old checkpoint+collect pair
        // paid two actions per rung for identical values
        val top = r.collect()
        // the probe returns EVERY doc with cos ≥ τ, so 20 rows above
        // τ + an FP/rounding margin prove the global top-20 ⊆ candidates
        if (top.length == 20 && top.map(_.getDouble(1)).min >= tau + 1e-5)
          Some(s.createDataFrame(
            java.util.Arrays.asList(top: _*), r.schema))
        else None
      }
      val dense20 = ladder.view.flatMap(rerankAt).headOption
        .getOrElse(hybridDenseCos(docs)
          .orderBy(col("cos").desc, col("doc_id").asc).limit(20))
      hybridFuse(hybridLexTop(docs), dense20)
    },
    Some(hybridOracleSql))

  val all: Seq[Q] =
    Seq(textRepetition, textDecontaminate, textDecontaminateBloom, piiScrubQ, corpusShuffle,
      corpusMix, sampleWeighted, textUnigramLogprob, textBigramLogprob, qualityModel,
      qualityModelTrained, qualityModelEval, mmHeaderParse, qualityGate, corpusPrep,
      corpusPrepIncremental,
      docChunk, textTfidf, sampleWeightedK, chunkEmbed, textBm25, hybridSearch,
      hybridSearchIndexed, corpusPplBuckets, contaminationReport, textNovelty,
      datasetCard, mmDimsCard)
}
