package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{argmaxDot, vecSum}

/** Product quantization (the FAISS PQ memory layout): split each
  * d-dim vector into `m` segments, k-means each segment to a `k`-entry
  * codebook, store only the per-segment code ids — `m` small ints per
  * vector instead of `d` doubles, the compression that decides whether
  * a 100-TB embedding index fits a cluster's memory at all (int8
  * quantization is 8×; PQ with m=4,k=16 on d=8 doubles is 32×).
  *
  * Scoring is ADC (asymmetric distance computation): the query stays
  * exact, each segment's dot contribution is precomputed into an m×k
  * LUT — tiny, driver-built, shipped as a LITERAL — so scoring a code
  * row is `Σ_s lut[s][code_s]`: pure per-row arithmetic, zero shuffle,
  * zero join. Training minimizes per-segment L2 (argmin ‖x−c‖² ≡
  * argmax x·c − ‖c‖²/2), the PQ objective — NOT the spherical
  * max-cosine of [[Ivf]], because segments are not unit vectors.
  */
object Pq {

  private def seg(vecCol: Column, s: Int, segLen: Int): Column =
    slice(vecCol, s * segLen + 1, segLen)

  /** Per-segment L2 argmin against a LITERAL codebook via the native
    * [[argmaxDot]] kernel: argmax of sv·c − ‖c‖²/2 (the L2
    * objective), first max wins ties (= smallest cell id). One
    * codegen'd expression node per segment. */
  private def argminL2(sv: Column,
      cands: Seq[(Int, Array[Double])]): Column =
    element_at(lit(cands.map(_._1).toArray),
      argmaxDot(sv,
        typedlit(cands.map(_._2.toSeq)),
        typedlit(cands.map { case (_, c) => -c.map(x => x * x).sum / 2.0 }))
        + 1)

  /** One Lloyd sync over all m segments: assign each (row, segment)
    * to a cell — the hashed seed when `books` is null, else the
    * literal-codebook L2 argmin — then per-(seg, cell) mean via ONE
    * [[vecSum]] exchange, collected driver-side. The codebook is
    * control-plane metadata (m·k·segLen doubles), so each round is
    * exactly one narrow shuffle + one tiny collect — the MLlib
    * k-means shape (driver syncs centers between iterations). */
  private def lloydRound(sampled: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, segLen: Int,
      books: Array[(Int, Int, Array[Double])]): Array[(Int, Int, Array[Double])] = {
    val entries = (0 until m).map { s =>
      val sv = seg(col(vecCol), s, segLen)
      val cell =
        if (books == null)
          pmod(xxhash64(col(idCol), lit(s)), lit(k)).cast("int")
        else
          argminL2(sv, books.filter(_._1 == s).sortBy(_._2)
            .map { case (_, c, cent) => (c, cent) }.toSeq)
      struct(lit(s).as("seg"), cell.as("cell"), sv.as("sv"))
    }
    sampled.select(explode(array(entries: _*)).as("e"))
      .select(col("e.seg").as("seg"), col("e.cell").as("cell"),
        col("e.sv").as("sv"))
      .groupBy("seg", "cell")
      .agg(vecSum(col("sv")).as("s"), count(lit(1)).as("n"))
      .collect()
      .map { r =>
        val cnt = r.getLong(3)
        (r.getInt(0), r.getInt(1),
          r.getSeq[Double](2).map(_ / cnt).toArray)
      }
  }

  /** Trains one codebook per segment. Returns (seg, code, centroid)
    * with DENSE code ids 0..<cells per segment — array-indexable, which
    * is what lets ADC scoring be a literal lookup.
    *
    * All m segments train together: each Lloyd round is ONE exchange
    * (the [[vecSum]] centroid aggregate over the exploded segments)
    * plus one control-plane collect, whether m is 4 or 64. Training
    * input is capped at `trainCap` rows via a deterministic
    * hash-sample (the FAISS shape: codebooks come from a sample,
    * [[encode]] covers everything), so training cost is independent
    * of corpus size. */
  def train(v: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, rounds: Int, trainCap: Long = 1L << 16): DataFrame = {
    val head = v.agg(first(size(col(vecCol))).as("d"),
      count(lit(1)).as("n")).head()
    val d = head.getInt(0); val n = head.getLong(1)
    require(d % m == 0, s"dim $d must divide into $m segments")
    val segLen = d / m
    val sampled = if (n <= trainCap) v else {
      // hash-threshold sample: deterministic (retry/reshard-stable),
      // no rand(), expected |sample| ≈ trainCap
      val den = 1000000L
      v.filter(pmod(xxhash64(col(idCol)), lit(den)) <
        lit(trainCap * den / n))
    }
    var books: Array[(Int, Int, Array[Double])] = null
    for (_ <- 0 to rounds)
      books = lloydRound(sampled, idCol, vecCol, m, k, segLen, books)
    // densify code ids per segment (empty cells leave holes) and
    // emit as a local-relation DataFrame — the codebook is tiny
    val dense = books.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (s, rows) => rows.sortBy(_._2).zipWithIndex.map {
        case ((_, _, cent), i) => (s, i, cent.toSeq)
      }
    }
    val spark = v.sparkSession
    import spark.implicits._
    dense.toDF("seg", "code", "centroid")
  }

  /** Encodes every vector: per segment, the L2-nearest code id →
    * `codes array<int>` ordered by segment. The trained codebook is
    * control-plane metadata (m×k rows, like the ADC LUT) — it is
    * collected once and inlined as LITERALS, so encoding is a pure
    * per-row projection: ZERO shuffle, ZERO join, embarrassingly
    * parallel over any corpus size. Scoring is argmin L2 via
    * sv·c − ‖c‖²/2; ties resolve to the smallest code id
    * (array_position finds the FIRST max). `carry` columns pass
    * through unchanged (e.g. the IVF cell id) so callers never need
    * a join to re-attach them. */
  def encode(v: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, m: Int, carry: Seq[String] = Nil): DataFrame = {
    val d = v.select(size(col(vecCol))).first().getInt(0)
    val segLen = d / m
    val books = codebooks.collect().map { r =>
      (r.getAs[Int]("seg"), r.getAs[Int]("code"),
        r.getSeq[Double](r.fieldIndex("centroid")))
    }
    val codeExprs = (0 until m).map { s =>
      val cands = books.filter(_._1 == s).sortBy(_._2)
      // dense code ids == row index, so the kernel's argmax IS the code
      argmaxDot(seg(col(vecCol), s, segLen),
        typedlit(cands.map(_._3.toSeq).toSeq),
        typedlit(cands.map { case (_, _, c) =>
          -c.map(x => x * x).sum / 2.0 }.toSeq))
    }
    v.select(col(idCol) +: carry.map(col) :+
      array(codeExprs: _*).as("codes"): _*)
  }

  /** The ADC scoring EXPRESSION over a `codes array<int>` column:
    * `Σ_s lut[s][codes[s]]` with the m×k LUT built driver-side from
    * the codebooks and query and shipped as a literal. Exposed so
    * composed indexes (IVF-PQ: `q·c + adcScore` over residual codes)
    * reuse the exact same arithmetic [[adcTopK]] scores with. */
  def adcScore(codebooks: DataFrame, queryVec: Seq[Double], m: Int): Column = {
    val d = queryVec.length
    val segLen = d / m
    val lut: Map[(Int, Int), Double] = codebooks
      .collect().map { r =>
        val s = r.getAs[Int]("seg"); val c = r.getAs[Int]("code")
        val cent = r.getSeq[Double](r.fieldIndex("centroid"))
        val q = queryVec.slice(s * segLen, (s + 1) * segLen)
        (s, c) -> q.zip(cent).map { case (a, b) => a * b }.sum
      }.toMap
    val lutLit = array((0 until m).map { s =>
      val row = (0 to lut.keys.filter(_._1 == s).map(_._2).max)
        .map(c => lut.getOrElse((s, c), Double.NegativeInfinity))
      array(row.map(lit): _*)
    }: _*)
    (0 until m)
      .map(s => element_at(element_at(lutLit, s + 1), col("codes")(s) + 1))
      .reduce(_ + _)
  }

  /** ADC top-k: [[adcScore]] over the codes table — per-row LUT
    * arithmetic with NO join and NO shuffle before the final
    * distributed top-k (the LUT is control-plane metadata, like a
    * partition predicate). */
  def adcTopK(spark: SparkSession, codes: DataFrame, codebooks: DataFrame,
      queryVec: Seq[Double], idCol: String, m: Int, k: Int): DataFrame =
    codes.select(col(idCol),
        round(adcScore(codebooks, queryVec, m), 6).as("adc_score"))
      .orderBy(col("adc_score").desc, col(idCol)).limit(k)
}
