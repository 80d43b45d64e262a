package graft

import org.apache.spark.sql.functions._

/** Property coverage for the RAG-prep operators (doc_chunk,
  * text_tfidf, q_sample_weighted_k) whose sf-data oracle checks can't
  * state the structural guarantees: chunk coverage/overlap laws,
  * rare-vs-common tf-idf ordering, and the Efraimidis–Spirakis
  * weighted-draw semantics of the topk_by reservoir.
  */
class RagOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def doc(n: Int): (Long, String) =
    (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))

  test("doc_chunk: every token covered exactly by the window/stride law, no redundant tails") {
    val W = 64; val S = 48; val ov = W - S
    // doc_id doubles as the token count for these crafted docs
    val sizes = Seq(1, 15, 16, 17, 47, 48, 49, 63, 64, 65, 112, 113, 200)
    val docs = sizes.map(doc).toDF("doc_id", "text")
    val chunks = QueriesLLM.chunkDocs(docs, W, S)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    for (n <- sizes) {
      val cs = chunks(n.toLong).sortBy(_._2)
      // chunk_idx is dense from 0 and equals start/stride
      assert(cs.map(_._2).toSeq == cs.indices.toSeq, s"n=$n idx gap")
      // coverage: the union of [start, start+W) spans [0, n) exactly
      val covered = cs.flatMap { case (_, idx, _, len) =>
        val start = idx * S; start until (start + len.toInt)
      }.toSet
      assert(covered == (0 until n).toSet, s"n=$n coverage hole")
      // no chunk is fully contained in its predecessor (redundant-tail law)
      cs.sliding(2).foreach {
        case Array(a, b) =>
          val aEnd = a._2 * S + a._4
          val bEnd = b._2 * S + b._4
          assert(bEnd > aEnd, s"n=$n chunk ${b._2} adds no tokens")
        case _ =>
      }
      // token text round-trips: each chunk holds its slice verbatim
      cs.foreach { case (_, idx, text, len) =>
        val start = idx * S
        val want = ((start + 1) to math.min(start + W, n)).map(i => s"t$i")
        assert(text.split(" ").toSeq == want && len == want.size,
          s"n=$n idx=$idx wrong tokens")
      }
      // full-size neighbors overlap by exactly W-S tokens
      cs.sliding(2).foreach {
        case Array(a, b) if a._4 == W && b._4 == W =>
          val aSet = (a._2 * S until a._2 * S + W).toSet
          val bSet = (b._2 * S until b._2 * S + W).toSet
          assert((aSet & bSet).size == ov, s"n=$n overlap != $ov")
        case _ =>
      }
    }
  }

  test("doc_chunk: zero shuffle — chunking runs at scan speed") {
    val docs = Seq(doc(100), doc(10)).toDF("doc_id", "text")
    val plan = QueriesLLM.chunkDocs(docs, 64, 48)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("tf-idf: a rare term outranks a common term at equal tf; ubiquitous term scores tf") {
    // 4 docs; "common" in all, "rare" once in doc 1 — both once per doc.
    val docs = Seq(
      (1L, "common rare"),
      (2L, "common alpha"),
      (3L, "common beta"),
      (4L, "common gamma")).toDF("doc_id", "text")
    val out = QueriesLLM.tfidfTopK(docs, k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4), r.getInt(5)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._4)
    assert(d1.map(_._2).toSeq == Seq("rare", "common"),
      s"rare must rank first in doc 1: ${d1.toSeq}")
    // df == N ⇒ idf = ln((N+1)/(N+1)) + 1 = 1 ⇒ score == tf == 1
    val common = out.find(t => t._1 == 2L && t._2 == "common").get
    assert(math.abs(common._3 - 1.0) < 1e-9, s"ubiquitous idf must be 1: $common")
  }

  test("weighted k-sample: selection is exactly the k smallest -ln(u)/w keys (window twin)") {
    // heavy-tailed weights so selection really depends on w
    val rows = (1 to 200).map(i => ("g" + (i % 3), i.toLong,
      if (i % 17 == 0) 5000L else 1L + i % 7))
    val df = rows.toDF("grp", "id", "w")
    val got = QueriesLLM.weightedSampleK(df, "grp", "id", "w", k = 4, "rag-spec-1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // independent window-ranked twin over the same key derivation
    val key = expr(
      """-ln((cast(conv(substring(md5(cast(concat('rag-spec-1:',
             cast(id as string)) as binary)), 1, 6), 16, 10) as double) + 1)
           / 16777217.0)
         / greatest(cast(w as double), 1.0)""")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("key").asc, col("id").asc)
    val want = df.select(col("grp"), col("id"), key.as("key"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
      .collect().map(r => (r.getString(0), r.getInt(3).toLong, r.getLong(1)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == want, s"heap draw != window draw\n$got\n$want")
    // determinism: a second run reproduces the draw bit-for-bit
    val again = QueriesLLM.weightedSampleK(df, "grp", "id", "w", k = 4, "rag-spec-1")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(again == got)
    // the 5000-weight ids (expected-u^(1/5000) ≈ 1) should dominate:
    // each group's draw contains at least one heavy id
    val heavy = rows.filter(_._3 == 5000L).map(_._2).toSet
    Seq("g0", "g1", "g2").foreach { g =>
      assert(got.filter(_._1 == g).exists(t => heavy(t._3)),
        s"group $g drew no heavy-weight id — weighting is broken")
    }
  }

  test("weighted k-sample honors FRACTIONAL weights (no silent floor to uniform)") {
    // 100 light ids at w=0.01, 10 heavy at w=0.9 — a 0.01-vs-0.9 split
    // a floor-at-1.0 clamp would erase entirely (the first cut did)
    val rows = (1 to 110).map(i =>
      ("g", i.toLong, if (i <= 10) 0.9 else 0.01))
    val df = rows.toDF("grp", "id", "w")
    val got = QueriesLLM.weightedSampleK(df, "grp", "id", "w", k = 6, "rag-frac-1")
      .collect().map(r => (r.getLong(2))).toSet
    // parity with the window twin under the SAME fractional weights
    val key = expr(
      """-ln((cast(conv(substring(md5(cast(concat('rag-frac-1:',
             cast(id as string)) as binary)), 1, 6), 16, 10) as double) + 1)
           / 16777217.0)
         / greatest(cast(w as double), 1e-9)""")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("key").asc, col("id").asc)
    val want = df.select(col("grp"), col("id"), key.as("key"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 6)
      .collect().map(_.getLong(1)).toSet
    assert(got == want, s"$got vs $want")
    // with a 90x weight ratio the heavy tenth must dominate the draw;
    // E[heavy in top-6] ≈ 5.2 — under uniformization it would be ~0.5
    val nHeavy = got.count(_ <= 10L)
    assert(nHeavy >= 3, s"fractional weights collapsed toward uniform: $got")
  }

  test("bm25: higher tf wins at equal length; shorter doc wins at equal tf; idf favors rarer term") {
    val filler = (1 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"table table table $filler"),          // tf=3, len 23
      (2L, s"table $filler"),                      // tf=1, len 21
      (3L, s"table $filler $filler"),              // tf=1, len 41 (longer)
      (4L, s"rare $filler")                        // rare term, tf=1
    ).toDF("doc_id", "text")
    val s1 = QueriesLLM.bm25(docs, Seq("table", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s1(1L) > s1(2L), s"tf must raise the score: $s1")
    assert(s1(2L) > s1(3L), s"length normalization must penalize padding: $s1")
    // df(rare)=1 < df(table)=3 ⇒ rare's single hit outscores table's
    assert(s1(4L) > s1(2L), s"idf must favor the rarer term: $s1")
  }
}
