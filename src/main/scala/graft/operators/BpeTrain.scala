package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BPE (byte-pair-encoding) merge induction over a corpus — the
  * vocabulary-training half of the tokenizer loop (Sennrich et al.
  * 2016), distributed the way the algorithm's structure demands:
  *
  *  - The corpus is read ONCE, into a (word, count) vocabulary —
  *    |vocab| ≪ |corpus| is the whole trick: 100 TB of text folds to
  *    a vocabulary of at most a few million rows in one
  *    explode+groupBy shuffle, and every later round touches only
  *    that.
  *  - Each merge round is ONE narrow aggregate over the vocabulary
  *    (adjacent-pair counts weighted by word frequency, map-side
  *    combined) plus a driver-side argmax — the winning pair is
  *    control-plane metadata, like a centroid sync in [[Pq]]'s Lloyd
  *    rounds. The merge applies as a pure column expression (a
  *    left-to-right greedy fold over each word's symbol array), so
  *    no round re-reads or reshuffles anything but the vocab.
  *  - Ties break lexicographically (then-smaller pair wins), making
  *    training DETERMINISTIC across partitionings and retries — the
  *    same property every other operator here buys with seeded
  *    hashes.
  *
  * Segmenting a corpus with the learned merges inverts the same
  * economics: segment the VOCABULARY (tiny) and broadcast-join words
  * to their segmentation — the 100-TB scan never evaluates the merge
  * fold itself.
  */
object BpeTrain {

  /** One learned merge: `rank` = order learned, `left`+`right` →
    * concatenated symbol, `pair_count` = weighted frequency at the
    * time of the merge. */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Greedy left-to-right application of one merge to a symbol
    * array — the BPE apply rule ("aaa" + (a,a) → ["aa","a"]). */
  private[operators] def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  private def chars(w: Column): Column =
    // sequence(1, 0) yields [1, 0] (descending step default), so an
    // empty word must short-circuit to an empty symbol array instead
    // of two phantom "" symbols that could learn a bogus ("","") merge
    when(length(w) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(w)), i => substring_dyn(w, i)))

  private def substring_dyn(w: Column, i: Column): Column =
    call_function("substring", w, i, lit(1))

  /** The (word, count, symbols) working vocabulary — one corpus
    * shuffle, then a [[Barrier]] so the merge rounds iterate a
    * materialized frame instead of re-deriving the corpus scan. */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    Barrier.materialize(docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"), chars(col("w")).as("syms")))._1

  /** Learns up to `nMerges` merges. Stops early when no adjacent
    * pair remains (fully merged vocabulary). */
  def train(docs: DataFrame, textCol: String, nMerges: Int): Seq[Merge] =
    trainAndSegment(docs, textCol, nMerges)._1

  /** [[train]] that ALSO returns the final vocabulary's segmentation
    * (word, segments) — after the last merge round the working vocab
    * holds exactly each word's segmented form, so callers that want
    * both (the train-then-apply registry shape) pay ONE corpus scan
    * and one merge fold instead of re-deriving the vocabulary and
    * replaying every merge through [[segmentVocabulary]] (which
    * remains the tool for applying SAVED merges to a NEW corpus).
    *
    * Bounded driver-local fast path (the [[Components]] tryLocalSolve
    * discipline): when the checkpointed vocabulary is small enough to
    * collect (≤ `localMaxVocab` words — one cheap count on the
    * already-materialized frame decides), the merge rounds run as a
    * driver loop over the collected (cnt, syms) rows instead of
    * `nMerges` cluster jobs whose per-round aggregate touches a
    * control-plane-sized frame — at bench scale the loop was ~30
    * driver-sync jobs of pure scheduling overhead. The merges are
    * IDENTICAL by construction: pair counts are exact integer sums
    * (order-free), the argmax tie-break compares strings by UTF-8
    * bytes (exactly Spark's UTF8String ordering), and the greedy
    * apply is the same left-to-right fold. BpeTrainSpec pins both
    * paths equal. A 100-TB corpus's multi-million-word vocabulary
    * fails the probe and takes the distributed rounds unchanged. */
  def trainAndSegment(docs: DataFrame, textCol: String,
      nMerges: Int, localMaxVocab: Long = 1L << 16): (Seq[Merge], DataFrame) = {
    var vocab = vocabulary(docs, textCol)
    if (fitsOnDriver(vocab, "syms", localMaxVocab))
      return trainAndSegmentLocal(vocab, nMerges)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    var round = 0
    while (round < nMerges && !done) {
      val top = vocab
        .select(col("cnt"), explode(zip_with(
          // greatest(..., 0): empty symbol arrays (empty-string words)
          // have no adjacent pairs; a raw size-1 would be -1
          slice(col("syms"), lit(1), greatest(size(col("syms")) - 1, lit(0))),
          slice(col("syms"), lit(2), greatest(size(col("syms")) - 1, lit(0))),
          (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l"), col("r"))
        .head(1)
      if (top.isEmpty) done = true
      else {
        val l = top(0).getString(0)
        val r = top(0).getString(1)
        val c = top(0).getLong(2)
        merges += Merge(round, l, r, c)
        vocab = vocab.withColumn("syms", applyMerge(col("syms"), l, r))
        // the fold deepens lineage linearly; rematerialize every few
        // rounds so round k's plan never replays rounds 1..k-1
        if ((round + 1) % 4 == 0) vocab = Barrier.materialize(vocab)._1
        round += 1
      }
    }
    (merges.toSeq, vocab.select(col("w"), col("syms").as("segments")))
  }

  /** Driver-local-path probe over an already-materialized vocabulary
    * frame: ONE aggregate returning (rows, total symbols). The word
    * count alone bounds the wrong quantity (r12 ADVICE): 65k natural
    * words are driver-cheap, but 65k long words (URLs, concatenated
    * tokens) collect tens of millions of symbol strings plus per-round
    * pair HashMaps. [[LocalMaxSyms]] (4M symbols ≈ low hundreds of MB
    * of driver strings at worst) bounds what the collect actually
    * costs; a corpus failing EITHER bound takes the distributed rounds
    * unchanged. Same action count as the old count() probe. */
  private[graft] val LocalMaxSyms = 1L << 22
  private[graft] def fitsOnDriver(vocab: DataFrame, symsCol: String,
      localMaxVocab: Long, maxSyms: Long = LocalMaxSyms): Boolean = {
    val r = vocab.agg(count(lit(1)), sum(size(col(symsCol)))).head()
    r.getLong(0) <= localMaxVocab &&
      (r.isNullAt(1) || r.getLong(1) <= maxSyms)
  }

  /** Spark's string comparisons run on UTF8String — unsigned byte-wise
    * over the UTF-8 encoding. The driver-local tie-break must order
    * identically (Java String.compareTo differs on supplementary
    * characters), so compare raw UTF-8 bytes. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** The greedy left-to-right merge on a driver-side symbol array —
    * [[applyMerge]]'s fold, verbatim. */
  private def applyMergeLocal(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (out.nonEmpty && out.last == a && syms(i) == b)
        out(out.length - 1) = a + b
      else out += syms(i)
      i += 1
    }
    out.toArray
  }

  /** Driver-local merge rounds over a collected vocabulary — same
    * integer pair counts, same (count desc, left, right) argmax with
    * the UTF-8 byte tie-break, same greedy apply, same early stop. */
  private def trainAndSegmentLocal(vocab: DataFrame,
      nMerges: Int): (Seq[Merge], DataFrame) = {
    val spark = vocab.sparkSession
    val rows = vocab.select(col("w"), col("cnt"), col("syms")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getSeq[String](2).toArray))
    val syms = rows.map(_._3)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    var round = 0
    while (round < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < rows.length) {
        val s = syms(i); val c = rows(i)._2
        var j = 0
        while (j + 1 < s.length) {
          val k = (s(j), s(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
          j += 1
        }
        i += 1
      }
      if (counts.isEmpty) done = true
      else {
        // max count, ties to the UTF-8-smaller (left, right) — the
        // distributed loop's orderBy(c desc, l, r) head(1)
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2)))))
            best = e
        }
        val ((l, r), c) = best
        merges += Merge(round, l, r, c)
        i = 0
        while (i < rows.length) {
          syms(i) = applyMergeLocal(syms(i), l, r)
          i += 1
        }
        round += 1
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("segments",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))))
    val out: Array[org.apache.spark.sql.Row] = rows.indices.map(i =>
      org.apache.spark.sql.Row(rows(i)._1, syms(i).toSeq)).toArray
    (merges.toSeq, spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema))
  }

  /** Persists learned merges as a tiny rank-ordered parquet table —
    * the tokenizer ARTIFACT: train once, segment everywhere. The
    * merge list is control-plane-sized (its row count is the merge
    * budget), so save/load are driver-side concerns; ORDER is the
    * semantics, hence the explicit rank column and the sorted read. */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge], path: String): Unit = {
    import spark.implicits._
    merges.map(m => (m.rank, m.left, m.right, m.pairCount))
      .toDF("rank", "left", "right", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Loads a [[saveMerges]] artifact, rank order restored. */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Merge] =
    spark.read.parquet(path)
      .select("rank", "left", "right", "pair_count").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_.rank).toSeq

  /** Segmentation of `textCol`'s words under learned merges, as a
    * per-word broadcast join: the merge fold runs over the DISTINCT
    * words only; the corpus scan joins words to finished segment
    * arrays. Returns (word, segments) for the corpus vocabulary —
    * join it to any exploded token stream. */
  def segmentVocabulary(docs: DataFrame, textCol: String,
      merges: Seq[Merge], localMaxVocab: Long = 1L << 16): DataFrame = {
    val start = Barrier.materialize(docs.select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .distinct()
      .select(col("w"), chars(col("w")).as("segments")))._1
    // bounded driver-local fast path, mirroring [[trainAndSegment]]:
    // a collectable vocabulary (bounded on BOTH word count and total
    // symbols — fitsOnDriver) replays the merge fold as a driver loop
    // (identical greedy apply) instead of `merges`/4 checkpoint jobs
    // over interpreted higher-order folds; a huge vocabulary takes
    // the distributed fold unchanged
    if (fitsOnDriver(start, "segments", localMaxVocab)) {
      val spark = start.sparkSession
      val rows = start.collect().map { r =>
        var s = r.getSeq[String](1).toArray
        merges.foreach(m => s = applyMergeLocal(s, m.left, m.right))
        org.apache.spark.sql.Row(r.getString(0), s.toSeq)
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), start.schema)
    } else
      merges.zipWithIndex.foldLeft(start) { case (df, (m, i)) =>
        val next = df.withColumn("segments", applyMerge(col("segments"), m.left, m.right))
        // the upfront checkpoint above IS round 0's materialization,
        // so the fold's first checkpoint is skipped (r12 ADVICE: the
        // distributed path was paying one extra full materialization);
        // the first segment's lineage runs 8 merges, the cadence-4
        // depth elsewhere was conservative
        if ((i + 1) % 4 == 0 && i > 3) Barrier.materialize(next)._1 else next
      }
  }
}
