package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<double>` columns: graft's native
  * expressions and codegen'd higher-order functions — no UDFs, so the
  * whole similarity pipeline stays inside WholeStageCodegen.
  * Left-fold summation order is fixed (sequential), which keeps results
  * bitwise-reproducible across partitionings.
  */
object VectorFunctions {

  /** Cast array<float> → array<double> (float arithmetic differs across
    * engines; all scoring happens in double). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd dot product of two `array<double>` ([[graft.plans.DotProduct]]):
    * a primitive loop with the left fold of
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`, so bitwise-identical
    * to it, NULL included (lengths differ or an element is NULL). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalize once per row so pairwise cosine degrades to a bare
    * dot product — 3× less arithmetic in the pair loop, which is where
    * all the time goes in O(n²)-per-bucket similarity. */
  def normalize(v: Column): Column = {
    val n = norm(v)
    transform(v, x => x / n)
  }

  /** Symmetric int8 quantization: each vector carries its own scale
    * (`max|x| / 127`) so dequantization is exact to one multiply —
    * the classic IVF-Flat-Q8 memory layout. At 100 TB this is the
    * difference between an 8× and a 1× fit of the index in cluster
    * memory: the probe scans read `array<tinyint>` + one double scale
    * instead of `array<double>`. Returns struct(q array<tinyint>,
    * scale double); zero vectors quantize to all-zero with scale 0.
    * Native expression ([[graft.plans.VecQuantize]]). */
  def quantize(v: Column): Column = call_function("vec_q8", v)

  /** Dot product of two quantized vectors: integer multiply-accumulate
    * re-scaled once — `scale_a * scale_b * Σ qa·qb`. The inner sum is
    * exact (int arithmetic); only the two scales carry quantization
    * error ([[graft.plans.VecDotQ8]]). */
  def dotQ8(a: Column, b: Column): Column = call_function("vec_dot_q8", a, b)

  /** Element-wise vector sum AGGREGATE ([[graft.plans.VecSum]]) — the
    * centroid primitive: `groupBy(cell).agg(vecSum(vec))` shuffles one
    * partial-sum row per (partition, cell) where a posexplode
    * formulation shuffles n×d element rows. */
  def vecSum(v: Column): Column = call_function("vec_sum", v)

  /** 0-based index of the `mat` row maximizing `v·mat[i] + bias[i]`
    * (first max wins ties) — the quantizer-assignment kernel
    * ([[graft.plans.VecArgmaxDot]]): `bias = −‖c‖²/2` gives L2
    * argmin, `bias = 0` cosine argmax over unit vectors. Pass the
    * codebook as nested literals for a one-node codegen'd plan. */
  def argmaxDot(v: Column, mat: Column, bias: Column): Column =
    call_function("vec_argmax_dot", v, mat, bias)

  /** Random-hyperplane LSH bucket (signed projections packed to a long).
    * Hyperplane components are pseudo-random ±1 derived from
    * xxhash64(plane, dim) — deterministic across runs and engines, no
    * stored model. `planes` ≤ 63. */
  def hyperplaneBucket(v: Column, planes: Int): Column = {
    val bits = transform(sequence(lit(0), lit(planes - 1)), j => {
      val proj = aggregate(
        zip_with(
          v,
          sequence(lit(0), size(v) - 1),
          (x, i) => when(pmod(xxhash64(j, i), lit(2)) === 0, x).otherwise(-x)),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    // pack: sum(bit_j << j)
    aggregate(
      zip_with(bits, sequence(lit(0), lit(planes - 1)), (b, j) =>
        b * pow(lit(2.0), j.cast("double")).cast("long")),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** [[hyperplaneBucket]] with the ±1 signs derived from md5 instead
    * of xxhash64: sign(plane j, dim i) = +1 iff the first hex char of
    * md5("j:i") is even. Statistically the same hyperplanes, but md5
    * exists verbatim in DuckDB, so a bucket (and therefore the whole
    * LSH probe) is reproducible by a plain SQL oracle — the D9/D10
    * pattern that upgraded the minhash rows from rows-only to
    * hash-checked. Prefer [[hyperplaneBucket]] in production (xxhash64
    * is one codegen'd call; md5-per-dim costs a digest per element);
    * this twin exists to pin the probe's arithmetic. */
  def hyperplaneBucketMd5(v: Column, planes: Int): Column = {
    val evens = Seq("0", "2", "4", "6", "8", "a", "c", "e")
    val bits = transform(sequence(lit(0), lit(planes - 1)), j => {
      val proj = aggregate(
        zip_with(
          v,
          sequence(lit(0), size(v) - 1),
          (x, i) => when(
            substring(md5(concat(j.cast("string"), lit(":"), i.cast("string"))
              .cast("binary")), 1, 1).isin(evens: _*), x).otherwise(-x)),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(
      zip_with(bits, sequence(lit(0), lit(planes - 1)), (b, j) =>
        b * pow(lit(2.0), j.cast("double")).cast("long")),
      lit(0L),
      (acc, x) => acc + x)
  }
}
