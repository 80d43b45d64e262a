package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{RawLoader, ViewingData}
import graft.streaming.MergeSink

/** The nightly increment (etl-dag.sql) pays a fixed cost per Spark job,
  * and at a daily delta's size that cost dominates the run. This pins
  * the number of jobs its graft calls launch, so a job-count
  * regression on the path fails here and not only in the benchmark. */
class IncrementJobBudgetSpec extends SparkTestBase {

  /** Jobs launched by `copyInto` → `viewingEvents` → `insertOnlyParquet`
    * → `weightedFrom` → `insertOnlyParquet` over an existing target. The
    * ledger and the targets' keys are read with known schemas, so no
    * schema-inference job runs (19 when they were inferred). */
  val IncrementJobBudget = 16

  test("the nightly increment's graft calls stay within their job budget at sf0.001") {
    val root = Files.createTempDirectory("job-budget").toString
    val events = ViewingData.table(spark, Sf, "events")
    def deliver(dd: String, parity: Int): Unit =
      events.filter(col("event_id") % 2 === parity).coalesce(1)
        .write.parquet(s"$root/stage/events/yyyy=2024/mm=01/dd=$dd")
    val windows = s"$root/panel/windows"
    val weights = s"$root/panel/weights"
    Pipeline.panelWindows(spark, Sf).write.parquet(windows)
    ViewingData.geoWeights(spark, Sf).write.parquet(weights)

    def increment(run: String): Unit = {
      RawLoader.copyInto(spark, s"$root/stage", "events",
        s"$root/landed/$run/events.parquet", s"$root/ledger")
      val batch = Pipeline.viewingEvents(spark, s"$root/landed/$run")
      MergeSink.insertOnlyParquet(s"$root/raw", Seq("event_id"))(batch, 0L)
      val fresh = Pipeline.weightedFrom(batch, spark.read.parquet(windows), spark.read.parquet(weights))
      MergeSink.insertOnlyParquet(s"$root/weighted", Seq("event_id"))(fresh, 0L)
    }
    // history: the targets exist before the counted run, as they do nightly
    deliver("01", 0)
    increment("history")
    deliver("02", 1)
    val jobs = jobsOf("increment-budget")(increment("day02"))

    info(s"$jobs jobs")
    assert(jobs > 0, "the listener saw no job of the group")
    assert(jobs <= IncrementJobBudget,
      s"the increment launched $jobs jobs, over its budget of $IncrementJobBudget")
    // the counted run did its work: both halves of the feed are in
    val raw = spark.read.parquet(s"$root/raw")
    assert(raw.count() == Pipeline.viewingEvents(spark, Sf).count())
    assert(raw.select("event_id").distinct().count() == raw.count())
  }
}
