package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry}
import graft.operators.{AudienceMetrics, IncrementalMerge}
import graft.sources.{RawLoader, ViewingData}
import graft.streaming.MergeSink

/** A closed loop with one caller: `pass` runs one unit of user-visible
  * work and returns the number of sub-units it attempted and how many
  * failed. `setup` brings the workload to its starting state (including
  * a warm-up pass) and does the same work each time it is called;
  * `check` compares outputs outside the timed passes. */
trait Workload {
  def setup(spark: SparkSession): Unit
  /** Untimed preparation before each pass. */
  def prepare(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, t: Tracer): (Int, Int)
  def check(spark: SparkSession): Seq[Check]
}

/** One output check. `ok = None` leaves the verdict to the caller (the
  * DuckDB oracle replay runs outside the JVM on `path` and `sqlPath`). */
final case class Check(name: String, ok: Option[Boolean], detail: String,
    path: String = "", sqlPath: String = "")

object Workloads {

  /** Day 1 of the generated feed (perfbench/gen.py FEED_START). */
  val FeedStart = "2024-01-01"

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def writeText(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s)
  }

  /** Order-independent content hash: row count plus the sum of per-row
    * xxhash64 over the columns in name order. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  private def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Days loaded during set-up; the timed passes replay the days after it. */
  val HistoryDays = 4

  /** The etl-dag.sql increment, replayed one simulated day at a time
    * from delivery files the generator laid out under
    * `<data>/deliveries/day=NN/` (the day's hive-path files plus a share
    * of re-delivered rows from earlier days). */
  final class Daily(data: String, work: String) extends Workload {
    private val deliveries = s"$data/deliveries"
    private val days: Seq[Int] = new java.io.File(deliveries).list().toSeq
      .filter(_.startsWith("day=")).map(_.stripPrefix("day=").toInt).sorted
    private val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    private var state = ""
    private var cycle = 0
    private var next = 0

    private val replayDays = days.filter(_ > HistoryDays)
    private var pos = 0

    private def root = s"$work/daily/$state"
    private def stage = s"$root/stage"

    /** Copies one day's delivery into the stage: the upstream feed
      * landing files, not work the program does, so it is not timed. */
    private def land(day: Int): Unit = {
      val src = new java.io.File(f"$deliveries/day=$day%02d")
      val files = org.apache.commons.io.FileUtils.listFiles(src, Array("parquet"), true)
      files.forEach { f =>
        val rel = src.toPath.relativize(f.toPath)
        val dst = java.nio.file.Paths.get(stage, "events").resolve(rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(f.toPath, dst)
      }
    }

    private def panel = s"$work/daily/panel"

    /** One nightly run over whatever the stage holds. */
    private def increment(spark: SparkSession, tag: String, tr: Tracer): (Int, Int) = {
      try {
        tr.span("daily.increment") {
          val copied = tr.span("sources.copy_into") {
            RawLoader.copyInto(spark, stage, "events", s"$root/landed/$tag/events.parquet",
              s"$root/ledger")
          }
          tr.count("files_loaded", copied.filesLoaded.toDouble)
          tr.count("files_listed", (copied.filesLoaded + copied.filesSkipped).toDouble)
          tr.count("rows_delivered", copied.rowsLoaded.toDouble)
          val batch = Pipeline.viewingEvents(spark, s"$root/landed/$tag")
          tr.span("streaming.merge_sink") {
            MergeSink.insertOnlyParquet(s"$root/raw", Seq("event_id"))(batch, 0L)
          }
          val windows = spark.read.parquet(s"$panel/windows")
          val weights = spark.read.parquet(s"$panel/weights")
          val fresh = Pipeline.weightedFrom(batch, windows, weights)
          tr.span("operators.weighted") {
            MergeSink.insertOnlyParquet(s"$root/weighted", Seq("event_id"))(fresh, 0L)
          }
          tr.span("operators.rebuild") {
            val keys = IncrementalMerge.affectedKeys(fresh, Pipeline.SessionKeys)
            val weighted = spark.read.parquet(s"$root/weighted")
            if (tr ne Tracer.off) {
              // traced runs only: two counting jobs, charged to their own span
              val (affected, groups) = tr.span("bench.counters") {
                (keys.count(), weighted.select(Pipeline.SessionKeys.map(col): _*).distinct().count())
              }
              tr.count("affected_groups", affected.toDouble)
              tr.count("groups", groups.toDouble)
            }
            val rebuilt = Pipeline.sessions(weighted.join(broadcast(keys), Pipeline.SessionKeys, "left_semi"))
            val prev = s"$root/sessions/$next"
            val merged =
              if (!fs.exists(new org.apache.hadoop.fs.Path(prev))) rebuilt
              else spark.read.parquet(prev)
                .join(broadcast(keys), Pipeline.SessionKeys, "left_anti")
                .unionByName(rebuilt)
            write(merged, s"$root/sessions/${next + 1}")
            fs.delete(new org.apache.hadoop.fs.Path(prev), true)
            next += 1
          }
          tr.span("operators.metrics") {
            write(AudienceMetrics.reachAndFrequency(spark.read.parquet(s"$root/sessions/$next"),
              Pipeline.SessionKeys.tail), s"$root/audience_metrics")
          }
          tr.span("operators.control") {
            val raw = spark.read.parquet(s"$root/raw")
            write(IncrementalMerge.controlTable(
              Seq(raw.filter(col("source_table") === "ACR"), raw.filter(col("source_table") === "STB")),
              weights, "metadata_date"), s"$root/task_control")
          }
        }
        (1, 0)
      } catch { case e: Exception => Main.warn(s"increment $tag failed: ${e.getMessage}"); (1, 1) }
      finally unpersistAll(spark)
    }

    /** A fresh state directory holding the history up to [[HistoryDays]]. */
    private def loadHistory(spark: SparkSession): Unit = {
      state = s"cycle-$cycle"
      cycle += 1
      next = 0
      pos = 0
      days.filter(_ <= HistoryDays).foreach(land)
      increment(spark, "history", Tracer.off)
    }

    def setup(spark: SparkSession): Unit = {
      // the panel feed advances on its own (etl-dag.sql): its windows and
      // weekly weights are materialized from the whole feed
      write(Pipeline.panelWindows(spark, data), s"$panel/windows")
      write(ViewingData.geoWeights(spark, data), s"$panel/weights")
      loadHistory(spark)
    }

    override def prepare(spark: SparkSession): Unit = {
      if (pos == replayDays.size) loadHistory(spark)
      land(replayDays(pos))
    }

    def pass(spark: SparkSession, t: Tracer): (Int, Int) = {
      val day = replayDays(pos)
      pos += 1
      increment(spark, f"day$day%02d", t)
    }

    /** The reference rule that the incremental path matches the full
      * rebuild: the replayed tables against the Pipeline stages recomputed
      * from scratch over every event delivered so far, with the same
      * panel feed. */
    def check(spark: SparkSession): Seq[Check] = {
      val lastDay = if (pos == 0) HistoryDays else replayDays(pos - 1)
      val ref = s"$work/daily/reference"
      spark.read.parquet(s"$data/events.parquet")
        .filter(to_date(col("ts")) <= date_add(to_date(lit(FeedStart)), lastDay - 1))
        .write.mode("overwrite").parquet(s"$ref/events.parquet")
      val raw = Pipeline.viewingEvents(spark, ref)
      val weighted = Pipeline.weightedFrom(raw,
        spark.read.parquet(s"$panel/windows"), spark.read.parquet(s"$panel/weights"))
      val sessions = Pipeline.sessions(weighted)
      val metrics = AudienceMetrics.reachAndFrequency(sessions, Pipeline.SessionKeys.tail)
      val mine = Map(
        "raw" -> spark.read.parquet(s"$root/raw"),
        "weighted" -> spark.read.parquet(s"$root/weighted"),
        "sessions" -> spark.read.parquet(s"$root/sessions/$next"),
        "metrics" -> spark.read.parquet(s"$root/audience_metrics"))
      val theirs = Map("raw" -> raw, "weighted" -> weighted, "sessions" -> sessions, "metrics" -> metrics)
      Seq("raw", "weighted", "sessions", "metrics").map { name =>
        val cols = theirs(name).columns.sorted.map(col)
        val a = contentHash(mine(name).select(cols: _*))
        val b = contentHash(theirs(name).select(cols: _*))
        Check(s"daily.$name", Some(a == b), s"through day $lastDay: incremental $a vs rebuild $b")
      }
    }
  }

  /** Training-data registry rows, each written to the noop sink. */
  final class Curation(data: String, work: String, rows: Seq[String]) extends Workload {
    private val queries = SparkEntry.queries
    private val oracles = SparkEntry.oracleSql
    private var checks: Seq[Check] = Nil

    private def run(spark: SparkSession, name: String, sink: DataFrame => Unit, tr: Tracer): Boolean =
      try {
        tr.span(s"registry.$name")(sink(queries(name)(spark, data)))
        true
      } catch { case e: Exception => Main.warn(s"$name failed: ${e.getMessage}"); false }
      finally unpersistAll(spark)

    private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** The warm-up pass writes each row with an oracle to parquet for
      * the check; the last set-up's outputs are the ones checked. */
    def setup(spark: SparkSession): Unit =
      checks = rows.flatMap { name =>
        oracles.get(name) match {
          case None =>
            if (run(spark, name, noop, Tracer.off)) Nil
            else Seq(Check(s"curation.$name", Some(false), "failed"))
          case Some(sql) =>
            val path = s"$work/check/$name"
            val ok = run(spark, name, df => df.coalesce(1).write.mode("overwrite").parquet(path), Tracer.off)
            val sqlPath = s"$work/check/$name.sql"
            writeText(sqlPath, sql)
            if (ok) Seq(Check(s"curation.$name", None, "oracle", path, sqlPath))
            else Seq(Check(s"curation.$name", Some(false), "failed"))
        }
      }

    def pass(spark: SparkSession, t: Tracer): (Int, Int) = {
      val ok = rows.map(run(spark, _, noop, t))
      (ok.size, ok.count(!_))
    }

    def check(spark: SparkSession): Seq[Check] = checks
  }
}
