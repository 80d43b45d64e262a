package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.RawLoader

class RawLoaderSpec extends SparkTestBase {
  import spark.implicits._

  test("recovers yyyy/mm/dd + metadata_date from hive-style paths") {
    val root = Files.createTempDirectory("rawloader").toString
    Seq((1L, "x")).toDF("id", "v")
      .write.parquet(s"$root/STB/yyyy=2024/mm=01/dd=05")
    Seq((2L, "y")).toDF("id", "v")
      .write.parquet(s"$root/STB/yyyy=2024/mm=01/dd=06")
    Seq((3L, "z")).toDF("id", "v")
      .write.parquet(s"$root/STB/yyyy=__HIVE_DEFAULT_PARTITION__/mm=01/dd=07")

    val out = RawLoader.load(spark, root, "STB")
      .select("id", "yyyy", "mm", "dd", "metadata_date")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3), Option(r.getDate(4)))).toMap

    assert(out(1L) == (("2024", "01", "05", Some(java.sql.Date.valueOf("2024-01-05")))))
    assert(out(2L)._3 == "06")
    // sentinel partition → NULL yyyy → NULL date (NULLIF + try_cast path)
    assert(out(3L)._1 == null && out(3L)._4.isEmpty)
  }

  test("stage: local url round-trips, s3a conf lands bucket-scoped, allowlist enforced") {
    val root = Files.createTempDirectory("stage").toString
    Seq((1L, "x")).toDF("id", "v")
      .write.parquet(s"$root/ACR/yyyy=2024/mm=03/dd=09")
    val local = RawLoader.Stage(url = root, allowedLocations = Seq(root))
    val out = RawLoader.stageLoad(spark, local, "ACR")
      .select("id", "mm").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "03")))

    // credential mapping: STORAGE_AWS_ROLE_ARN → bucket-scoped s3a keys
    val s3 = RawLoader.Stage(url = "s3a://samba-stage/raw",
      roleArn = Some("arn:aws:iam::000000000000:role/stage-read"),
      allowedLocations = Seq("s3a://samba-stage/"))
    RawLoader.configureStage(spark, s3)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(conf.get("fs.s3a.bucket.samba-stage.assumed.role.arn")
      == "arn:aws:iam::000000000000:role/stage-read")
    assert(conf.get("fs.s3a.bucket.samba-stage.aws.credentials.provider")
      .contains("AssumedRoleCredentialProvider"))

    // STORAGE_ALLOWED_LOCATIONS: out-of-list url refuses at read time
    val rogue = RawLoader.Stage(url = "s3a://other-bucket/raw",
      allowedLocations = Seq("s3a://samba-stage/"))
    intercept[IllegalArgumentException] {
      RawLoader.stageLoad(spark, rogue, "ACR")
    }
  }

  test("copyInto: file-level load history — re-runs load only missing files") {
    val root = Files.createTempDirectory("copyinto").toString
    val target = s"$root/out/acr"
    val ledger = s"$root/out/acr_load_history"
    def day(dd: String, ids: Seq[Long]) =
      ids.toDF("id").write.mode("append")
        .parquet(s"$root/ACR/yyyy=2024/mm=01/dd=$dd")
    day("05", Seq(1L, 2L))
    day("06", Seq(3L))

    val first = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(first.filesLoaded > 0 && first.rowsLoaded == 3, first)

    // exact re-run: every file skips, the target does not grow
    val rerun = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(rerun == RawLoader.CopyResult(0, first.filesLoaded, 0), rerun)
    assert(spark.read.parquet(target).count() == 3)

    // the failed-backfill shape: day 06 gets a late second file and a
    // new day 07 arrives; the re-run loads ONLY those files' rows
    day("06", Seq(4L))
    day("07", Seq(5L, 6L))
    val backfill = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(backfill.rowsLoaded == 3, backfill)
    assert(backfill.filesSkipped == first.filesLoaded, backfill)
    val out = spark.read.parquet(target)
    assert(out.count() == 6, "no duplicates from skipped files")
    assert(out.select("id").as[Long].collect().sorted.toSeq == (1L to 6L))
    // path recovery rode along
    assert(out.filter(col("metadata_date") === "2024-01-07").count() == 2)
    // ledger is one row per loaded file
    assert(spark.read.parquet(ledger).count() ==
      first.filesLoaded + backfill.filesLoaded)

    // ---- crash between data write and ledger commit ----
    // simulate: run a load, then roll the ledger back to its pre-run
    // state (the data run dir stays = crashed-before-commit)
    val ledgerSnap = s"$root/out/ledger_snap"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ledger), new java.io.File(ledgerSnap))
    day("08", Seq(7L, 8L))
    RawLoader.copyInto(spark, root, "ACR", target, ledger)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ledger))
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(ledgerSnap), new java.io.File(ledger))
    // plain read = at-least-once (sees the uncommitted run);
    // committed read = exactly-once (does not)
    assert(spark.read.parquet(target).count() == 8)
    assert(RawLoader.readCommitted(spark, target, ledger).count() == 6,
      "committed reader must not see the uncommitted run")
    // the retry HEALS in place: same fresh set → same run id → the
    // partial dir is overwritten, then committed; no duplicates anywhere
    val retry = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(retry.rowsLoaded == 2, retry)
    assert(spark.read.parquet(target).count() == 8, "no duplicate data files")
    assert(RawLoader.readCommitted(spark, target, ledger)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 8L))

    // ---- vacuum: an orphan run whose retry never comes ----
    Seq(99L).toDF("id").write.parquet(s"$target/run=deadbeef")
    val deleted = RawLoader.vacuumUncommitted(spark, target, ledger)
    assert(deleted == Seq("deadbeef"), deleted)
    assert(spark.read.parquet(target).count() == 8, "committed runs untouched")

    // ---- ledger compaction: many per-commit files → one, losslessly ----
    def ledgerFiles() = new java.io.File(ledger).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(ledgerFiles() > 1, "each commit should have appended a file")
    val beforeRows = spark.read.parquet(ledger).count()
    RawLoader.compactLedger(spark, ledger)
    assert(ledgerFiles() == 1, "compaction must leave a single file")
    assert(spark.read.parquet(ledger).count() == beforeRows,
      "compaction must not lose commits")
    // skip behavior and the committed view survive compaction
    val postCompact = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(postCompact.filesLoaded == 0, postCompact)
    assert(RawLoader.readCommitted(spark, target, ledger).count() == 8)
    // and new arrivals still load + commit against the compacted ledger
    day("09", Seq(9L))
    val after = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    assert(after.rowsLoaded == 1, after)
    assert(RawLoader.readCommitted(spark, target, ledger)
      .select("id").as[Long].collect().sorted.toSeq == (1L to 9L))
  }

  test("copyInto: each ledger row carries its file, run id, load time and run rows") {
    val root = Files.createTempDirectory("copyledger").toString
    val target = s"$root/out/acr"
    val ledger = s"$root/out/acr_load_history"
    def day(dd: String, ids: Seq[Long]) =
      ids.toDF("id").coalesce(1).write.mode("append")
        .parquet(s"$root/ACR/yyyy=2024/mm=01/dd=$dd")
    day("05", Seq(1L, 2L))
    day("06", Seq(3L))
    val before = System.currentTimeMillis()
    val first = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    day("07", Seq(4L, 5L, 6L, 7L))
    val second = RawLoader.copyInto(spark, root, "ACR", target, ledger)
    val after = System.currentTimeMillis()
    val rows = spark.read.parquet(ledger)
    assert(rows.columns.toSeq == Seq("file_name", "run_id", "loaded_at", "run_rows"))
    val got = rows.collect().toSeq.map { r =>
      (r.getString(0), r.getString(1), r.getTimestamp(2).getTime, r.getLong(3))
    }.sortBy(_._1)
    assert(got.size == 3 && got.map(_._1).distinct.size == 3, got)
    assert(got.forall { case (_, _, t, _) => t >= before - 1000 && t <= after + 1000 }, got)
    // one run id per COPY; run_rows is that run's row count
    val byRun = got.groupBy(_._2)
    assert(byRun.size == 2, got)
    assert(byRun.values.map(fs => (fs.size, fs.map(_._4).distinct)).toSet ==
      Set((first.filesLoaded.toInt, Seq(first.rowsLoaded)), (second.filesLoaded.toInt, Seq(second.rowsLoaded))),
      got)
    assert(got.filter(_._1.contains("dd=07")).map(_._4) == Seq(4L), got)
  }

  test("copyInto: a repeated COPY compiles no new code") {
    // a nightly COPY differs from the last one only in its files, load
    // time and row counts, none of which may reach generated code: a
    // repeat must reuse every class the previous run compiled
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("copycodegen").toString
    def copyDay(dd: String, ids: Seq[Long]) = {
      ids.toDF("id").coalesce(1).write.parquet(s"$root/ACR/yyyy=2024/mm=01/dd=$dd")
      RawLoader.copyInto(spark, root, "ACR", s"$root/out/acr", s"$root/out/ledger")
    }
    copyDay("05", Seq(1L))
    copyDay("06", Seq(2L))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val third = copyDay("07", Seq(3L, 4L))
    assert(third.rowsLoaded == 2, third)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the third COPY compiled new classes")
  }

  test("date predicate prunes to matching files only") {
    val root = Files.createTempDirectory("rawloader2").toString
    Seq(1L).toDF("id").write.parquet(s"$root/ACR/yyyy=2024/mm=01/dd=05")
    Seq(2L).toDF("id").write.parquet(s"$root/ACR/yyyy=2024/mm=02/dd=05")
    val out = RawLoader.load(spark, root, "ACR")
      .filter(col("metadata_date") === "2024-02-05")
      .select("id").as[Long].collect()
    assert(out.toSeq == Seq(2L))
  }

  test("schema evolution: widened feed reads old+new files, absent columns null") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString + "/feed"
    // v1 era: two columns
    Seq((1L, "a"), (2L, "b")).toDF("id", "kind")
      .write.mode("append").parquet(dir)
    // v2 era: a score column appears
    Seq((3L, "c", 0.5), (4L, "d", 0.9)).toDF("id", "kind", "score")
      .write.mode("append").parquet(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("id", "kind", "score"))
    val rows = df.orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.get(2)))).toSeq
    assert(rows == Seq(1L -> None, 2L -> None, 3L -> Some(0.5), 4L -> Some(0.9)),
      s"old files must surface null for the new column: $rows")
    // without mergeSchema, footer sampling may miss the new column —
    // the option is the contract, pin that the narrow read still works
    assert(spark.read.parquet(dir).count() == 4)
  }
}
