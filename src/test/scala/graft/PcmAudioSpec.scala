package graft

import org.apache.spark.sql.functions._
import graft.functions.PcmAudio
import graft.sources.ViewingData

class PcmAudioSpec extends SparkTestBase {
  import spark.implicits._

  /** Naive reference decode: LE signed int16, trailing odd byte
    * dropped, last frame partial. */
  private def ref(bytes: Array[Byte], n: Int): Seq[(Long, Int)] =
    bytes.take(bytes.length / 2 * 2).grouped(2).map { p =>
      java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .getShort.toInt
    }.grouped(n).map { f =>
      (f.map(v => v.toLong * v).sum, f.map(math.abs).max)
    }.toSeq

  test("kernel matches the ByteBuffer reference on deterministic payloads") {
    val rnd = new scala.util.Random(42)
    for (len <- Seq(0, 1, 2, 3, 63, 64, 65, 640, 1001); fs <- Seq(1, 7, 32)) {
      val bytes = Array.fill(len)(rnd.nextInt(256).toByte)
      val got = PcmAudio.frames(bytes, fs)
      val want = ref(bytes, fs)
      assert(got.numElements() == want.length, s"len=$len fs=$fs frame count")
      for (i <- want.indices) {
        val row = got.getStruct(i, 2)
        assert(row.getLong(0) == want(i)._1, s"len=$len fs=$fs frame=$i energy")
        assert(row.getInt(1) == want(i)._2, s"len=$len fs=$fs frame=$i peak")
      }
    }
  }

  test("full-scale negative sample: peak is 32768, energy exact") {
    // 0x8000 LE = -32768; |v| = 32768 must not wrap in the int peak
    val bytes = Array[Byte](0x00, 0x80.toByte, 0x01, 0x00)
    val got = PcmAudio.frames(bytes, 32)
    assert(got.numElements() == 1)
    val row = got.getStruct(0, 2)
    assert(row.getLong(0) == 32768L * 32768L + 1L)
    assert(row.getInt(1) == 32768)
  }

  test("pcm_frames runs inside WholeStageCodegen over a parquet scan") {
    val df = ViewingData.table(spark, Sf, "documents")
      .select(size(call_function(
        "pcm_frames", col("text").cast("binary"), lit(32))).as("n"))
    assert(df.agg(sum("n")).head.getLong(0) > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("pcm_frames")),
      s"expected pcm_frames inside a codegen stage in:\n$plan")
  }

  test("mm_audio_energy row: framing invariants hold on the real corpus") {
    val out = SparkEntry.queries("mm_audio_energy")(spark, Sf).cache()
    try {
      assert(out.count() > 0)
      // per-frame bounds (ASCII payload: samples in [0, 32639])
      assert(out.filter(col("peak") < 0 || col("peak") > 32767).count() == 0)
      assert(out.filter(col("energy") < 0 ||
        col("energy") > col("n_samples").cast("long") * 32767L * 32767L).count() == 0)
      assert(out.filter(col("n_samples") < 1 || col("n_samples") > 32).count() == 0)
      // frames tile the payload: per doc, Σ n_samples = nsamp and
      // frame_ids are 0..ceil(nsamp/32)-1
      val docs = ViewingData.table(spark, Sf, "documents")
        .select(col("doc_id"),
          expr("octet_length(cast(text as binary)) div 2").as("nsamp"))
      val agg = out.groupBy("doc_id").agg(
        sum("n_samples").as("s"), count(lit(1)).as("nf"), max("frame_id").as("mf"))
      val bad = agg.join(docs, "doc_id")
        .filter(col("s") =!= col("nsamp") ||
          col("nf") =!= ceil(col("nsamp") / 32.0).cast("long") ||
          col("mf") =!= col("nf") - 1)
      assert(bad.count() == 0)
    } finally out.unpersist()
  }
}
