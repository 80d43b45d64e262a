package graft

import org.apache.spark.sql.functions._
import graft.operators.Winnow

/** The winnowing guarantee and the shapes around it — the executable
  * contract behind the `dedup_substring` registry row. */
class WinnowSpec extends SparkTestBase {
  import spark.implicits._

  private val K = 16
  private val W = 8
  // guarantee threshold: shared substrings of this length MUST share
  // a fingerprint
  private val T = K + W - 1

  test("shared substring >= k+w-1 is detected at ANY offset pair") {
    val shared = "x" * 0 + "the quick brown fox jumps over it" // 33 chars > T
    assert(shared.length >= T)
    val docs = Seq(
      (1L, "AAAA " + shared + " tail one padding text"),
      (2L, "completely different leading content 12345 " + shared),
      (3L, "no overlap here at all - unrelated prose entirely")
    ).toDF("doc_id", "text")
    val pairs = Winnow.candidatePairs(
      Winnow.fingerprints(docs, "doc_id", "text", K, W), "doc_id",
      minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)),
      s"offset-shifted shared span must collide; got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
  }

  test("identical documents share ALL fingerprints") {
    val txt = "some sufficiently long body of text for fingerprinting here"
    val docs = Seq((1L, txt), (2L, txt)).toDF("doc_id", "text")
    val f = Winnow.fingerprints(docs, "doc_id", "text", K, W)
    val per = f.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(per(1L) == per(2L) && per(1L) > 0)
    val shared = Winnow.candidatePairs(f, "doc_id", minShared = 1)
      .select("n_shared").as[Long].head()
    assert(shared == per(1L), "dup doc must share every fingerprint")
  }

  test("documents shorter than k produce no fingerprints and no crash") {
    val docs = Seq((1L, "tiny"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(Winnow.fingerprints(docs, "doc_id", "text", K, W).count() == 0)
  }

  test("fingerprint density is the winnowing fraction, not every position") {
    val txt = (1 to 200).map(i => f"w$i%03d").mkString(" ") // ~1000 chars
    val docs = Seq((1L, txt)).toDF("doc_id", "text")
    val n = Winnow.fingerprints(docs, "doc_id", "text", K, W).count()
    val positions = txt.length - K + 1
    // expected 2/(w+1) ≈ 0.22 of positions; distinct-fold shrinks it
    // further — assert an honest band
    assert(n < positions / 2, s"$n fingerprints for $positions positions")
    assert(n > positions / 20, s"$n suspiciously few for $positions positions")
  }

  test("fingerprinting is scan-local: no shuffle before candidate grouping") {
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz 0123456789 abcdef"))
      .toDF("doc_id", "text")
    val plan = Winnow.fingerprints(docs, "doc_id", "text", K, W)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"fingerprints must not shuffle:\n$plan")
  }

  test("maxDf drops boilerplate fingerprints but keeps true near-dup pairs") {
    val boiler = "this exact same boilerplate header appears everywhere in all"
    val unique = "totally distinctive duplicated body paragraph number nine"
    // 6 docs share the boilerplate; only docs 1 and 2 share the body
    val docs = (1L to 6L).map { i =>
      val body = if (i <= 2) unique else s"doc $i body ${"z" * 30} ${i * 7919}"
      (i, s"$boiler $body")
    }.toDF("doc_id", "text")
    val f = Winnow.fingerprints(docs, "doc_id", "text", K, W)
    val capped = Winnow.candidatePairs(f, "doc_id", minShared = 1, maxDf = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)), s"true dup must survive the cap: $capped")
    // boilerplate-only pairs (e.g. 3-4) must be gone: their only
    // shared fingerprints sit in all 6 docs, above maxDf=3
    assert(!capped.contains((3L, 4L)), s"boilerplate-only pair must drop: $capped")
  }

  test("incrementalPairs == one-shot restricted to delta-touching pairs") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val all = Winnow.fingerprints(docs, "doc_id", "text", K, W)
    val oneShot = Winnow.candidatePairs(all, "doc_id", 2, maxDf = 64)
      .filter(col("doc_a") % 4 === 0 || col("doc_b") % 4 === 0)
      .as[(Long, Long, Long)].collect().toSet
    val fc = Winnow.fingerprints(
      docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", K, W)
    val fd = Winnow.fingerprints(
      docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", K, W)
    val inc = Winnow.incrementalPairs(fc, fd, "doc_id", 2, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(inc == oneShot, s"diff: ${(inc diff oneShot) ++ (oneShot diff inc)}")
    assert(inc.nonEmpty)
  }

  test("streamed batches converge to the one-shot delta pair set") {
    // two micro-batches: each probes standing = corpus + earlier
    // batches, then its fingerprints append — the foreachBatch loop
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val b1 = docs.filter(col("doc_id") % 8 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0)
    var standing = Winnow.fingerprints(corpus, "doc_id", "text", K, W)
      .localCheckpoint()
    val got = scala.collection.mutable.Set[(Long, Long, Long)]()
    Seq(b1, b2).foreach { batch =>
      val fd = Winnow.fingerprints(batch, "doc_id", "text", K, W)
        .localCheckpoint()
      got ++= Winnow.incrementalPairs(standing, fd, "doc_id", 2, maxDf = 64)
        .as[(Long, Long, Long)].collect()
      standing = standing.unionByName(fd).localCheckpoint()
    }
    val oneShot = Winnow.candidatePairs(
      Winnow.fingerprints(docs, "doc_id", "text", K, W), "doc_id", 2,
      maxDf = 64)
      .filter(col("doc_a") % 4 === 0 || col("doc_b") % 4 === 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.toSet == oneShot,
      s"diff: ${(got.toSet diff oneShot) ++ (oneShot diff got.toSet)}")
  }

  test("rolling hash equals the per-gram refold at every position") {
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val n = 1 + rnd.nextInt(120)
      val s = (1 to n).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
      val m = s.length - K + 1
      if (m >= 1) {
        // re-derive fingerprints from independent per-gram refolds
        val hs = (0 until m).map(i =>
          graft.functions.WinnowHash.gramHash(s, i, K))
        val wins = (0 until math.max(m - W + 1, 1)).map(j =>
          hs.slice(j, j + W).min)
        val expect = wins.distinct.sorted
        val got = graft.functions.WinnowHash.fingerprints(s, K, W).toSeq
        assert(got == expect, s"mismatch for '$s'")
      } else {
        assert(graft.functions.WinnowHash.fingerprints(s, K, W).isEmpty)
      }
    }
  }

  test("winnow_fps native expression runs under strict codegen") {
    withStrictCodegen {
      val docs = Seq((1L, "the quick brown fox jumps over the lazy dog body"))
        .toDF("doc_id", "text")
      val n = docs.select(explode(call_function("winnow_fps",
        col("text"), lit(K), lit(W)))).count()
      assert(n > 0)
    }
  }

  test("fast (rolling) flavor finds every strong md5-flavor pair") {
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val md5Strong = Winnow.candidatePairs(
      Winnow.fingerprints(docs, "doc_id", "text", K, W), "doc_id",
      minShared = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val fastAll = Winnow.candidatePairs(
      Winnow.fingerprintsFast(docs, "doc_id", "text", K, W), "doc_id",
      minShared = 1)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(md5Strong.nonEmpty)
    val missed = md5Strong diff fastAll
    assert(missed.isEmpty,
      s"pairs sharing >=5 md5 winnow fps must share a rolling fp: $missed")
  }

  test("Structured Streaming foreachBatch loop over a persisted index converges") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("winstream").toString
    val idxPath = s"$base/idx"
    val pairsPath = s"$base/pairs"
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    // standing index seeded OUTSIDE the stream id space — and the
    // structural split holds (r12 review: this was the one streaming
    // family whose append ran through the unguarded batch landing)
    Winnow.seedBatch(
      Winnow.fingerprintsFast(corpus, "doc_id", "text", K, W), idxPath)
    intercept[IllegalArgumentException] {
      Winnow.seedBatch(corpus.limit(0).select(col("doc_id"), col("doc_id").as("fp")),
        idxPath, seedId = 0L)
    }
    intercept[IllegalArgumentException] {
      Winnow.writeStreamBatch(
        corpus.limit(0).select(col("doc_id"), col("doc_id").as("fp")),
        idxPath, Winnow.SeedBatchId)
    }
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val deltaIds = docs.filter(col("doc_id") % 4 === 0)
      .select("doc_id").as[Long].collect().sorted
    val (half1, half2) = deltaIds.splitAt(deltaIds.length / 2)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val sink = graft.streaming.StreamSubstringDedup.probeThenAppendParquet(
      idxPath, pairsPath, k = K, w = W, minShared = 2, maxDf = 64) _
    val q = input.toDF().toDF("doc_id").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val withText = batch.as[Long].collect().toSeq
          .map(i => (i, texts(i))).toDF("doc_id", "text")
        sink(withText, id)
      }
      .start()
    try {
      input.addData(half1: _*); q.processAllAvailable()
      input.addData(half2: _*); q.processAllAvailable()
      val streamed = spark.read.parquet(pairsPath)
        .select("doc_a", "doc_b", "n_shared")
        .as[(Long, Long, Long)].collect().toSet
      val oneShot = Winnow.candidatePairs(
        Winnow.fingerprintsFast(docs, "doc_id", "text", K, W), "doc_id", 2,
        maxDf = 64)
        .filter(col("doc_a") % 4 === 0 || col("doc_b") % 4 === 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == oneShot,
        s"missing=${(oneShot -- streamed).take(5)} extra=${(streamed -- oneShot).take(5)}")
    } finally q.stop()
  }

  test("in-loop compaction keeps n_shared exact across the replay crash window") {
    val base = java.nio.file.Files.createTempDirectory("winloop").toString
    val (idxPath, pairsPath) = (s"$base/idx", s"$base/pairs")
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    // seedBatch, not a hand-picked low id: a seed INSIDE the stream id
    // space is exactly what the guard cannot protect (micro-batch
    // 1000000 would silently overwrite it) — the r12 review caught
    // this test keeping the deprecated pattern alive as reference
    Winnow.seedBatch(
      Winnow.fingerprintsFast(corpus, "doc_id", "text", K, W), idxPath)
    val sink = graft.streaming.StreamSubstringDedup.probeThenAppendParquet(
      idxPath, pairsPath, k = K, w = W, minShared = 2, maxDf = 64,
      compactEvery = 1) _
    val deltaDf = docs.filter(col("doc_id") % 4 === 0)
    val parts = (0 until 2).map(i => deltaDf.filter(col("doc_id") % 8 === i * 4))
    parts.zipWithIndex.foreach { case (p, i) => sink(p, i.toLong) }
    def streamed() = spark.read.parquet(pairsPath)
      .select("doc_a", "doc_b", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    val oneShot = Winnow.candidatePairs(
        Winnow.fingerprintsFast(docs, "doc_id", "text", K, W), "doc_id", 2,
        maxDf = 64)
      .filter(col("doc_a") % 4 === 0 || col("doc_b") % 4 === 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed() == oneShot,
      "compaction between micro-batches must not change pairs or counts")
    // THE failure mode the preserve contract kills for this family: a
    // batch folded into batch=-1 that then replays would duplicate its
    // (id, fp) rows, and n_shared COUNTS rows — every shared count for
    // its pairs would double. Preserved, the replay overwrites its own
    // dir and every n_shared value stays exact.
    sink(parts(1), 1L)
    assert(streamed() == oneShot,
      "replay across a compaction must leave n_shared values exact")
    val idx = Winnow.readIndex(spark, idxPath).localCheckpoint()
    assert(idx.count() == idx.distinct().count(),
      "a replayed batch must not duplicate (id, fp) rows")
    val dirs = new java.io.File(idxPath).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(dirs.size <= 2 && dirs.contains("batch=-1"),
      s"dir count must stay bounded, got $dirs")
  }

  test("a replayed batch (docs already standing) reproduces its original pairs") {
    // at-least-once crash shape: the batch's fingerprints landed in the
    // standing index, the stream restarts, the batch re-probes — its
    // stale standing rows must NOT self-pair or double-count
    val docs = spark.read.parquet(s"$Sf/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val delta = docs.filter(col("doc_id") % 4 === 0)
    val fc = Winnow.fingerprints(corpus, "doc_id", "text", K, W)
      .localCheckpoint()
    val fd = Winnow.fingerprints(delta, "doc_id", "text", K, W)
      .localCheckpoint()
    val original = Winnow.incrementalPairs(fc, fd, "doc_id", 2, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    val replayed = Winnow.incrementalPairs(
        fc.unionByName(fd), fd, "doc_id", 2, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == original,
      s"diff: ${(replayed diff original).take(5)} ${(original diff replayed).take(5)}")
    assert(!replayed.exists(p => p._1 == p._2), "no self-pairs")
  }

  test("registry row matches a literal re-derivation on real data") {
    val q = SparkEntry.queries("dedup_substring")(spark, Sf)
    val rows = q.collect()
    assert(rows.nonEmpty, "sf0.001 corpus has near-dup docs; pairs expected")
    // symmetric sanity: every pair ordered, counts >= threshold
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= 2)
    }
  }
}
