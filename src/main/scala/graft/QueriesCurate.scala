package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Barrier
import graft.sources.ViewingData

/** Corpus-curation operators beyond the dedup/mixing families already
  * landed: substring-level duplicate detection via winnowing
  * fingerprints (Schleimer/Wilkerson/Aiken's local fingerprinting —
  * the scalable stand-in for suffix-array substring dedup), hashed
  * n-gram importance filtering (the DSIR shape: score docs by how
  * target-like their hashed feature mass is), and temperature-scaled
  * source mixing (the multilingual-training `p ∝ n^α` rebalance).
  *
  * All three are fully DuckDB-oracled: hashes are md5-derived (both
  * engines agree byte-for-byte), importance scores use an integer
  * cross-multiplied contrast instead of a float log-ratio (same
  * ordering for the two-distribution case, zero FP boundary), and the
  * temperature keep-probability is a single correctly-rounded sqrt
  * compared against an exact 16-bit hash fraction.
  */
object QueriesCurate {

  /** Shared DuckDB hex fold — one definition for the whole package. */
  private def hexNSql(e: String, n: Int): String = QueriesLLM.hexNSql(e, n)

  // Winnowing parameters: k-gram length and hash-window width. Any
  // substring shared between two documents of length >= k + w - 1
  // (= 23 chars) is GUARANTEED to contribute a shared fingerprint
  // (the winnowing guarantee), at ~2/(w+1) the density of
  // every-position hashing. See operators.Winnow. private[graft] so
  // Sweep's dedup_substring_probe measures the SAME (k, w) workload
  // as the registry rows.
  private[graft] val K = 16
  private[graft] val W = 8

  /** ONE definition of the winnowing oracle CTE chain (per-position
    * k-gram hashes → window minima → distinct fingerprints → df≤64
    * stop-gram cap → bucket pairs) shared by all three
    * dedup_substring flavors — only the hash CTEs and the final
    * SELECT differ per row. `rolling = true` refolds the
    * base-31-mod-2^31−1 + MINSTD-mix hash `WinnowHash` computes;
    * false is the md5 flavor. */
  private def winnowCtes(rolling: Boolean, havingExtra: String = ""): String = {
    val hash =
      if (rolling) s"""WITH d0 AS (
  SELECT doc_id,
         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))
           AS cs
  FROM documents),
d AS (
  SELECT doc_id, cs, CAST(len(cs) - ${K - 1} AS INTEGER) AS m FROM d0),
h AS (
  SELECT doc_id, m,
         list_transform(
           CASE WHEN m >= 1 THEN range(1, m + 1) ELSE [] END,
           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), cs[i:i+${K - 1}]),
                            (h, c) -> (h * 31 + c) % 2147483647)
                  * 48271 % 2147483647) AS hs
  FROM d)"""
      else s"""WITH d AS (
  SELECT doc_id, text, CAST(len(text) - ${K - 1} AS INTEGER) AS m
  FROM documents),
h AS (
  SELECT doc_id, m,
         list_transform(
           CASE WHEN m >= 1 THEN range(1, m + 1) ELSE [] END,
           i -> ${hexNSql(s"md5(substring(text, CAST(i AS INTEGER), $K))", 12)})
           AS hs
  FROM d)"""
    hash + s""",
f AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           CASE WHEN m >= 1 THEN range(1, greatest(m - ${W - 1}, 1) + 1)
                ELSE [] END,
           j -> list_min(hs[j:j+${W - 1}])))) AS fp
  FROM h),
kept AS (
  SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 64),
fk AS (
  SELECT f.doc_id, f.fp FROM f JOIN kept USING (fp)),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM p GROUP BY 1, 2
HAVING COUNT(*) >= 2$havingExtra"""
  }

  /** Substring-duplication detection: winnowing fingerprints per doc,
    * then candidate pairs from fingerprint-bucket equality — never
    * all-pairs, exactly the LSH-band join shape. Per doc the work is
    * one md5 per character position folded to ~|chars|/4 distinct
    * fingerprints (window minima), so the shuffled fingerprint table
    * is a fraction of corpus size; fingerprints hotter than 64 docs
    * are dropped as stop-grams BEFORE the pair join (the MOSS
    * discipline — see [[graft.operators.Winnow.candidatePairs]]),
    * bounding per-bucket pair output at corpus-independent maxDf²/2.
    * Offset-independent by construction — a copied paragraph matches
    * wherever it lands in the copying doc, which aligned-stride chunk
    * hashing cannot do. */
  private val dedupSubstring = Q(
    "dedup_substring",
    (s, dir) => {
      val f = graft.operators.Winnow.fingerprints(
        graft.Par.widen(
          ViewingData.table(s, dir, "documents").select("doc_id", "text")),
        "doc_id", "text", K, W)
      graft.operators.Winnow.candidatePairs(f, "doc_id", minShared = 2,
        maxDf = 64)
    },
    Some(winnowCtes(rolling = false)))

  /** dedup_substring on the PRODUCTION kernel: the native `winnow_fps`
    * expression ([[graft.plans.WinnowFpsExpr]]) — rolling polynomial
    * hash + monotone-deque window minima, one codegen'd O(n) pass per
    * document instead of one md5 per character position. STILL fully
    * oracled: the DuckDB twin refolds each k-gram with `list_reduce`
    * under the same `(h·31 + c) mod 2^31-1` convention plus the final
    * MINSTD de-biasing mix (see [[graft.functions.WinnowHash]]) and
    * takes the same window minima — the rolling update is pure
    * algebra, so the hash values match exactly. Same candidate/cap
    * pipeline as dedup_substring. */
  private val dedupSubstringFast = Q(
    "dedup_substring_fast",
    (s, dir) => {
      val f = graft.operators.Winnow.fingerprintsFast(
        graft.Par.widen(
          ViewingData.table(s, dir, "documents").select("doc_id", "text")),
        "doc_id", "text", K, W)
      graft.operators.Winnow.candidatePairs(f, "doc_id", minShared = 2,
        maxDf = 64)
    },
    Some(winnowCtes(rolling = true)))

  /** dedup_substring under the D8/D11 incremental split: the corpus
    * (3/4 of docs) is the standing fingerprint side, the delta (1/4)
    * probes it — "does this new document copy a span from anything
    * already ingested?" — plus its own self-join, via
    * [[graft.operators.Winnow.incrementalPairs]]. Corpus text is
    * never re-hashed; delta fingerprints broadcast. Runs on the
    * native `winnow_fps` kernel — the production combination
    * (incremental probe + rolling hash, the two costs that matter at
    * 100 TB). The oracle refolds the rolling hash per k-gram and
    * restricts the FULL recompute to delta-touching pairs — the
    * exact-parity contract (WinnowSpec also proves the streamed
    * two-batch loop converges to this same set). */
  private val dedupSubstringIncremental = Q(
    "dedup_substring_incremental",
    (s, dir) => {
      val docs = graft.Par.widen(
        ViewingData.table(s, dir, "documents").select("doc_id", "text"))
      val fc = graft.operators.Winnow.fingerprintsFast(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", K, W)
      val fd = graft.operators.Winnow.fingerprintsFast(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", K, W)
      graft.operators.Winnow.incrementalPairs(fc, fd, "doc_id",
        minShared = 2, maxDf = 64,
        absorbReplays = false) // %4 split is disjoint by construction
    },
    Some(winnowCtes(rolling = true,
      havingExtra = " AND (doc_a % 4 = 0 OR doc_b % 4 = 0)")))

  /** Hashed n-gram importance filtering — the DSIR selection shape
    * (Xie et al. 2023): hash every token into B buckets, estimate a
    * target distribution (here: lang='en' docs) and the raw
    * distribution from the SAME one-token-scan aggregate, and score
    * each doc by the sum of its tokens' target-vs-raw contrast. The
    * published form sums log(p_target/p_raw); this row uses the
    * integer cross-product contrast `t[b]·N_raw − r[b]·N_target`
    * (same sign, exact arithmetic → hash-stable oracle; the log form
    * is a one-line swap where calibrated magnitudes matter). Plan:
    * one token scan feeds BOTH the 64-row bucket table (map-side
    * combined) and the per-doc score join (bucket table broadcast);
    * top-k is a TakeOrdered, not a global sort. */
  private val corpusDsir = Q(
    "corpus_dsir",
    (s, dir) => {
      val docs = graft.Par.widen(
        ViewingData.table(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")))
      // the token table is built ONCE (checkpoint) for both consumers
      // — the bucket-mass aggregate and the per-doc score join — the
      // text_unigram_logprob discipline
      val toks = Barrier.materialize(docs.select(col("doc_id"), col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
        .withColumn("b",
          conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10)
            .cast("long") % 64)
        .drop("tok"))._1
      val bt = toks.groupBy("b").agg(
        count(lit(1)).as("r"),
        count(when(col("lang") === "en", 1)).as("t"))
      val tot = bt.agg(sum("r").as("nr"), sum("t").as("nt"))
      val contrast = bt.crossJoin(broadcast(tot))
        .select(col("b"), (col("t") * col("nr") - col("r") * col("nt")).as("c"))
      toks.join(broadcast(contrast), "b")
        .groupBy("doc_id")
        .agg(min("lang").as("lang"), sum("c").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(50)
    },
    Some(s"""WITH toks AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
tb AS (
  SELECT doc_id, lang, ${hexNSql("md5(tok)", 4)} % 64 AS b FROM toks),
bt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS r,
         CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS t
  FROM tb GROUP BY 1),
tot AS (SELECT CAST(SUM(r) AS BIGINT) AS nr, CAST(SUM(t) AS BIGINT) AS nt FROM bt),
c AS (
  SELECT b, t * (SELECT nr FROM tot) - r * (SELECT nt FROM tot) AS c
  FROM bt)
SELECT tb.doc_id, MIN(tb.lang) AS lang, CAST(SUM(c.c) AS BIGINT) AS score
FROM tb JOIN c USING (b)
GROUP BY tb.doc_id
ORDER BY score DESC, doc_id LIMIT 50"""))

  /** Temperature-scaled language mixing: keep probability
    * `p = (n_min / n_lang)^(1-α)` with α = 0.5 — the multilingual
    * `p ∝ n^α` rebalance (small languages kept whole, dominant ones
    * downsampled toward balance; α=1 keeps everything, α=0 equalizes
    * counts). The keep decision is md5-deterministic per doc
    * (retry/reshard-stable, no rand()), and every float on the
    * boundary is reproducible: an integer ratio, one IEEE sqrt, and
    * an exact 16-bit hash fraction. Group sizes are a broadcast
    * |langs|-row table; the filter itself is scan-speed. */
  private val corpusMixTemp = Q(
    "corpus_mix_temp",
    (s, dir) => {
      val docs = ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
      // |langs|-row fold checkpoints so the n_min derivation doesn't
      // re-aggregate the corpus
      val counts = Barrier.materialize(docs.groupBy("lang").agg(count(lit(1)).as("n_lang")))._1
      val nmin = counts.agg(min("n_lang").as("n_min"))
      val withP = docs
        .join(broadcast(counts), "lang")
        .crossJoin(broadcast(nmin))
        .withColumn("p_keep", sqrt(col("n_min") / col("n_lang")))
      withP
        .withColumn("frac",
          conv(substring(md5(concat(lit("graft-temp-5:"),
            col("doc_id").cast("string")).cast("binary")), 1, 4), 16, 10)
            .cast("double") / 65536.0)
        .filter(col("frac") < col("p_keep"))
        .select(col("doc_id"), col("lang"), round(col("p_keep"), 9).as("p_keep"))
    },
    Some(s"""WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM documents GROUP BY 1),
nmin AS (SELECT MIN(n_lang) AS n_min FROM counts)
SELECT d.doc_id, d.lang,
       round(sqrt(CAST(n.n_min AS DOUBLE) / c.n_lang), 9) AS p_keep
FROM documents d
JOIN counts c USING (lang)
CROSS JOIN nmin n
WHERE ${hexNSql("md5('graft-temp-5:' || CAST(d.doc_id AS VARCHAR))", 4)}
        / 65536.0
      < sqrt(CAST(n.n_min AS DOUBLE) / c.n_lang)"""))

  /** EXACT set-similarity self-join by PREFIX FILTERING
    * ([[graft.operators.PrefixFilter]] — the AllPairs/PPJoin family):
    * every word-trigram-Jaccard ≥ 0.5 pair, with no blocking
    * heuristic (D2 trades recall via (lang, n_chars) buckets) and no
    * probabilistic miss (D3's LSH) — candidate generation explodes
    * only each document's rarest-first PREFIX (n − ceil(τn) + 1
    * elements), which provably collides for every qualifying pair;
    * exact verification keeps the output identical to brute force,
    * which is exactly what the DuckDB oracle computes. */
  private val dedupPrefixFilter = Q(
    "dedup_prefix_filter",
    (s, dir) => graft.operators.PrefixFilter.pairs(
      ViewingData.table(s, dir, "documents"),
      "doc_id", "text", shingle = 3, tau = 0.5),
    Some("""WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws) - 2),
           i -> array_to_string(ws[i:i+2], ' '))) AS grams
  FROM w WHERE len(ws) >= 3),
j AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.grams, b.grams)) * 1.0 /
         (len(a.grams) + len(b.grams)
          - len(list_intersect(a.grams, b.grams))) AS jx
  FROM g a JOIN g b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(jx, 6) AS jaccard FROM j WHERE jx >= 0.5"""))

  /** Segment-level boilerplate removal (D17) — the CCNet/RefinedWeb
    * "paragraph dedup" pass, adapted to the corpus's flat texts:
    * split each document into consecutive NON-OVERLAPPING 10-word
    * segments (the paragraph stand-in), hash-count each segment's
    * document frequency across the WHOLE corpus, drop segments
    * appearing in more than `maxSegDf` distinct documents (shared
    * boilerplate — nav chrome, licence blocks, templated headers),
    * and rebuild every document from its surviving segments in
    * order. Output per doc: segment counts and the md5 of the
    * rebuilt text (both engines' md5 agree byte-for-byte, so the
    * reconstruction — order, joins, empty-doc edge — is fully
    * hash-checked).
    *
    * Scale shape: one corpus scan explodes segments (positional);
    * the df fold groups by segment hash (the winnow/PrefixFilter
    * bucket discipline — never all-pairs); the df table is
    * corpus-vocabulary-sized so it joins back by SEGMENT KEY (a
    * shuffle join on both sides — at 100 TB this table does NOT
    * broadcast, unlike the |networks|-sized TV dims); the rebuild is
    * one per-doc fold over (idx, seg, drop) structs. */
  private val textSegmentDedup = Q(
    "text_segment_dedup",
    (s, dir) => {
      val maxSegDf = 2
      // feeds the df fold AND the rebuild join
      val segs = Barrier.materialize(ViewingData.table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), expr(
          """transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1),
             i -> array_join(slice(ws, i * 10 + 1, 10), ' '))""").as("segs"))
        .select(col("doc_id"), posexplode(col("segs")).as(Seq("idx", "seg"))))._1
      val dfTab = segs.groupBy("seg")
        .agg(countDistinct("doc_id").as("sdf"))
      segs.join(dfTab, "seg")
        .withColumn("dropf", col("sdf") > maxSegDf)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segments"),
          sum(when(col("dropf"), 1L).otherwise(0L)).as("n_dropped"),
          sort_array(collect_list(struct(col("idx"), col("seg"), col("dropf"))))
            .as("ordered"))
        .select(col("doc_id"), col("n_segments"), col("n_dropped"),
          md5(expr(
            "array_join(transform(filter(ordered, x -> NOT x.dropf), x -> x.seg), ' ')"))
            .as("clean_md5"))
    },
    Some("""WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
segs AS (
  SELECT doc_id, i AS idx,
         array_to_string(ws[(i * 10 + 1):(i * 10 + 10)], ' ') AS seg
  FROM ws, UNNEST(range(0, CAST(ceil(len(ws) / 10.0) AS INT))) AS t(i)),
dfs AS (SELECT seg, COUNT(DISTINCT doc_id) AS sdf FROM segs GROUP BY 1),
j AS (SELECT s.doc_id, s.idx, s.seg, d.sdf > 2 AS dropf
      FROM segs s JOIN dfs d ON d.seg = s.seg)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN dropf THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN NOT dropf THEN seg END, ' '
                               ORDER BY idx), '')) AS clean_md5
FROM j GROUP BY 1"""))

  val all: Seq[Q] =
    Seq(dedupSubstring, dedupSubstringFast, dedupSubstringIncremental,
      corpusDsir, corpusMixTemp, dedupPrefixFilter, textSegmentDedup)
}
