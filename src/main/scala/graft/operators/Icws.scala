package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted MinHash by Improved Consistent Weighted Sampling — Ioffe,
  * "Improved Consistent Sampling, Weighted Minhash and L1 Sketching"
  * (ICDM 2010). Set MinHash (D3) treats a document as a SET of grams;
  * tf-weighted near-dup semantics need the weighted Jaccard
  *   J_w(a, b) = Σ_w min(a_w, b_w) / Σ_w max(a_w, b_w)
  * whose unbiased sampler is ICWS: per hash i and element w with
  * weight t, draw (r, c, β) consistently from the (i, w) hash alone
  * (r, c ~ Gamma(2,1) as −ln(u·u′), β ~ U(0,1]), then
  *   t_i = ⌊ln t / r + β⌋,   a = c · exp(−r·(t_i − β) − r)
  * and sample_i = (argmin_w a, t_argmin) — the sample is the PAIR of
  * the minimizing element and its quantized log-weight level t, not
  * the element alone (two docs picking the same word at different
  * weight levels must NOT collide, or the estimator biases high —
  * measured +0.18 on a J_w=3/7 pair before the fix).
  * Pr[sample_i(a) = sample_i(b)] = J_w — the collision property
  * banding then exploits exactly like D3's unweighted LSH.
  *
  * Every draw derives from xxhash64((i, w, k)) 24-bit fractions, so
  * signatures are deterministic across runs; the transcendentals
  * (ln/exp) keep this flavor rows-only in the registry (an argmin on
  * a last-ulp tie could differ across ENGINES), with IcwsSpec
  * pinning the estimator against the EXACT weighted-Jaccard row
  * (D18) instead.
  *
  * Scale shape: one tf fold (doc × distinct word), one narrow
  * (doc, hash) argmin exchange over h·Σ|vocab_doc| rows, band
  * buckets bound all pairing work — the D3 economics with weights. */
object Icws {

  /** One (t, a) draw per (i, w, tf) row, built for WHOLE-STAGE
    * CODEGEN: uniforms come from xxhash64 (a native, codegen\'d long
    * hash) rather than md5+conv+substring string plumbing, and the
    * intermediates are PLAIN columns — CollapseProject inlines them
    * (r appears 4\u00d7 across t and a), but recomputing a handful of
    * hash+ln nodes in generated code costs far less than forcing a
    * let-bound nested-`transform` form, which evaluates INTERPRETED
    * (higher-order functions have no codegen): measured on the
    * sf0.1 corpus\'s 1.9M (i, w) rows, the draw went 9.2 s
    * (let-bound md5 HOFs) \u2192 ~1 s (this form). Uniforms shift off
    * zero so ln stays finite. */
  private def u(k: Int) =
    (pmod(xxhash64(lit("icws"), col("i"), col("w"), lit(k)),
      lit(1 << 24)).cast("double") + 1.0) / 16777217.0

  /** (idCol, sig) — sig = array of `h` ICWS samples (the argmin word
    * per hash) over the doc's word tf vector. */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      h: Int): DataFrame = {
    val tf = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("tf"))
    val avals = tf
      .select(col(idCol), col("w"), col("tf"),
        explode(expr(s"sequence(0, ${h - 1})")).as("i"))
      .withColumn("r", -(log(u(1)) + log(u(2))))
      .withColumn("c", -(log(u(3)) + log(u(4))))
      .withColumn("b", u(5))
      .withColumn("t",
        floor(log(col("tf").cast("double")) / col("r") + col("b")).cast("long"))
      .withColumn("a",
        col("c") * exp(-col("r") * (col("t").cast("double") - col("b")) - col("r")))
    // per (doc, hash): the minimizing (word, t) SAMPLE as ONE hashed
    // long — xxhash64 over the pair, not a delimited string concat,
    // so a word containing ':' (or later '|' in the band key) cannot
    // alias two distinct samples into one key (r9 advice: exactness
    // survived via downstream verify, but candidate-volume/recall
    // numbers could be distorted on such vocabularies; a 64-bit
    // cross-pair hash collision is ~2⁻⁶⁴ — negligible vs the banding
    // false-positive rate it feeds). (a, w) struct order makes the
    // last-resort tie deterministic.
    val sig = avals.groupBy(idCol, "i")
      .agg(min_by(xxhash64(lit("icws-sample"), col("w"), col("t")),
        struct(col("a"), col("w"))).as("s"))
    sig.groupBy(idCol)
      .agg(expr("transform(sort_array(collect_list(struct(i, s))), x -> x.s)")
        .as("sig"))
  }

  /** One row per (doc, band) over [[signatures]]: `bands` buckets of
    * `rowsPerBand` samples, each rendered as ONE xxhash64 over the
    * band's samples AND the doc's `blockCols` values — the composed
    * band key. (Samples are already hashed longs, so the band-slice
    * concat has no delimiter ambiguity to defend against; hashing the
    * block values in keeps the key a fixed-width long whatever the
    * blocking columns are.) Returns (idCol, band, key, sig) — the
    * persistable LSH index unit ([[IcwsDelta]] lands exactly this,
    * keyed as MinhashDelta's lsh_key struct).
    *
    * Geometry guard: bands × rowsPerBand must tile EVERY signature
    * exactly. Oversized products make every trailing band slice past
    * the array → empty key for EVERY doc → a silent within-block
    * quadratic pairing explosion; undersized silently ignores tail
    * samples. The min AND max length, observed on the barrier that
    * materializes the signatures, pin it against the data itself (r9
    * advice: a first-row-only peek let a heterogeneous union — frames
    * built with different h — slip through and silently slice wrong
    * for the other rows, the exact failure the guard exists to
    * prevent). */
  def bandRows(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int,
      blockCols: Seq[String] = Nil): DataFrame = {
    // The signatures are materialized here and the guard's min and max
    // length ride that barrier's own job: the ICWS draw chain runs once
    // for the guard and the banding together, with no separate
    // aggregate action. LIFETIME: the returned band frame reads the
    // barrier's blocks lazily, so they are never explicitly
    // unpersisted; the ContextCleaner frees them when the frame
    // becomes unreachable.
    val (sigsM, len) = Barrier.materialize(sigs,
      min(size(col("sig"))), max(size(col("sig"))))
    if (!len.isNullAt(0)) {
      val (lo, hi) = (len.getInt(0), len.getInt(1))
      require(lo == hi,
        s"heterogeneous signature lengths ($lo..$hi) — all rows must " +
          s"come from one signatures() call with a single h")
      require(bands * rowsPerBand == lo,
        s"bands ($bands) × rowsPerBand ($rowsPerBand) must equal the " +
          s"signature length ($lo)")
    }
    val blockIn = blockCols.map(c => s", x.$c").mkString
    sigsM.as("x").select(
      col(idCol),
      posexplode(expr(
        s"""transform(sequence(0, ${bands - 1}),
            b -> xxhash64(concat_ws('|',
                   slice(sig, b * $rowsPerBand + 1, $rowsPerBand))$blockIn))"""))
        .as(Seq("band", "key")),
      col("sig"))
  }

  /** Banded LSH candidates over [[signatures]]: a pair collides when
    * any band's composed key matches — Pr ≈ 1 − (1 − J_w^rows)^bands.
    * Pairing work is bucket-local (the D3/D16 discipline).
    *
    * `blockCols` (columns that must ALSO match, carried on `sigs`)
    * compose the domain's cheap blocking keys into the band key.
    * This matters when the BACKGROUND similarity sits near the
    * threshold: on the test corpus (≈40-word vocabulary, random
    * pairs at J_w ≈ 0.5 vs τ = 0.7) pure 8×2 banding admitted 6.4M
    * candidate pairs at sf0.1 — the S-curve cannot separate 0.5 from
    * 0.7 cheaply, and no rows-per-band setting fixes that without
    * killing recall. Composing (lang, n_chars) bounds every bucket
    * by its block, the same defense D18 uses outright; corpora with
    * genuinely low background similarity can pass Nil. */
  def candidates(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int,
      blockCols: Seq[String] = Nil): DataFrame = {
    val banded = bandRows(sigs, idCol, bands, rowsPerBand, blockCols)
      .drop("sig")
    banded.as("x").join(banded.as("y"),
        expr(s"x.band = y.band AND x.key = y.key AND x.$idCol < y.$idCol"))
      .select(col(s"x.$idCol").as("id_a"), col(s"y.$idCol").as("id_b"))
      .distinct()
  }
}
