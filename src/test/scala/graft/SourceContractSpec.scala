package graft

import org.apache.spark.sql.types._

import graft.sources.ViewingData

/** The post-load SOURCE CONTRACT: every synthetic table, at every
  * scale factor present, loads through [[ViewingData.table]] into one
  * pinned shape. The driver regenerates `/root/testdata` between (and
  * sometimes mid-) rounds and has already shipped the same column
  * under three parquet encodings — TIMESTAMP(NANOS), then
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) — so this spec exists to
  * turn the NEXT encoding drift into one named failure here, instead
  * of analysis-time cast errors three frames deep in whichever
  * operators happen to consume the drifted column.
  *
  * Hard contract: `events.ts` is a zoned TimestampType after load, no
  * matter the file encoding (that is the type the range-join
  * bucketing, session_window and unix_micros consumers assume).
  * Date-like dimension columns are allowed any date/timestamp flavor
  * because every consumer goes through `to_date`/`unix_timestamp`,
  * which accept all of them.
  */
class SourceContractSpec extends SparkTestBase {

  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"/root/testdata/$sf")
    .filter(d => new java.io.File(d).isDirectory)

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def dateLike(t: DataType): Boolean = t match {
    case DateType | TimestampType | TimestampNTZType => true
    case _                                           => false
  }

  test("testdata has at least one scale factor on disk") {
    assert(sfDirs.nonEmpty, "no /root/testdata/sf* directories found")
  }

  test("every table loads at every SF with its contract columns") {
    val required: Map[String, Seq[String]] = Map(
      "region"     -> Seq("r_regionkey", "r_name"),
      "nation"     -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer"   -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
      "supplier"   -> Seq("s_suppkey", "s_name", "s_nationkey"),
      "part"       -> Seq("p_partkey", "p_name"),
      "orders"     -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events"     -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents"  -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    for (dir <- sfDirs; t <- tables) {
      val df = ViewingData.table(spark, dir, t)
      val missing = required(t).filterNot(df.columns.contains)
      assert(missing.isEmpty, s"$dir/$t missing columns: ${missing.mkString(", ")}")
      assert(df.limit(1).count() == 1, s"$dir/$t is empty")
    }
  }

  test("events.ts post-load is a zoned TimestampType at every SF") {
    for (dir <- sfDirs) {
      val t = ViewingData.table(spark, dir, "events").schema("ts").dataType
      assert(t == TimestampType,
        s"$dir/events.ts loaded as ${t.simpleString}; ViewingData.table must " +
          "normalize every parquet encoding of ts to TimestampType")
    }
  }

  test("the ts repair is ACTIVE: the raw parquet needs normalization") {
    // If this starts failing with ts already TimestampType in the raw
    // file, the generator began writing isAdjustedToUTC=true micros —
    // the repair becomes a no-op and this assertion should be relaxed.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"${sfDirs.head}/events.parquet").schema("ts").dataType
    assert(raw == LongType || raw == TimestampNTZType,
      s"raw events.ts is ${raw.simpleString} — generator changed encoding again; " +
        "re-check ViewingData.table covers it and update this spec")
  }

  test("NTZ interpretation is session-tz-independent, incl. the DST overlap") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 2025-11-02 09:30 UTC wall clock = 01:30 in America/Los_Angeles,
    // which occurs TWICE on fall-back day — a local-zone round-trip
    // must guess and shifts half the overlap by an hour; the
    // field-wise UTC rebuild must not
    val wall = Seq("2025-11-02 08:30:00", "2025-11-02 09:30:00",
      "2025-07-01 12:00:00.123456")
    val expected = Seq(1762072200000000L, 1762075800000000L, 1751371200123456L)
    for (tz <- Seq("UTC", "America/Los_Angeles", "Asia/Tokyo")) {
      withConfs("spark.sql.session.timeZone" -> tz) {
        val got = wall.toDF("s")
          .select(unix_micros(graft.functions.TimeFunctions.ntzWallClockAsUtc(
            to_timestamp_ntz(col("s")))))
          .as[Long].collect().toSeq
        assert(got == expected, s"tz=$tz: $got != $expected")
      }
    }
  }

  test("ts values are interpreted wall-clock-as-UTC (oracle parity anchor)") {
    // DuckDB reads the same file as a naive timestamp and compares via
    // epoch_us; our load must place the instant so unix_micros agrees.
    // Cross-check against the raw NTZ/long value on one row.
    import org.apache.spark.sql.functions._
    val dir = sfDirs.head
    val loaded = ViewingData.table(spark, dir, "events")
      .orderBy("event_id").select(unix_micros(col("ts"))).head().getLong(0)
    val rawDf = spark.read.parquet(s"$dir/events.parquet")
    val raw = rawDf.schema("ts").dataType match {
      case LongType => // nanos as long
        rawDf.orderBy("event_id").select(expr("ts div 1000")).head().getLong(0)
      case TimestampNTZType =>
        // test session tz is UTC, so a plain NTZ->timestamp cast IS the
        // wall-clock-as-UTC interpretation
        rawDf.orderBy("event_id")
          .select(expr("unix_micros(cast(ts as timestamp))"))
          .head().getLong(0)
      case other => fail(s"unexpected raw ts type ${other.simpleString}")
    }
    assert(loaded == raw, s"loaded instant $loaded != raw wall-clock-as-UTC $raw")
  }

  test("relCache: invalidate(dir) drops stale relations after a rewrite") {
    // r12 ADVICE: the cache's dir-immutability contract needs an
    // enforcement path — a caller that rewrites a source dir
    // mid-session must be able to invalidate it and read fresh.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("relcache").toString
    spark.range(3).toDF("x").write.parquet(s"$dir/events.parquet")
    assert(ViewingData.table(spark, dir, "events").count() == 3)
    spark.range(5).toDF("x").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    // without invalidation the cached entry is stale by design (it may
    // read old rows or fail on the deleted listing — both are the
    // documented contract violation); after the hook the read is fresh
    ViewingData.invalidate(dir)
    assert(ViewingData.table(spark, dir, "events").count() == 5)
    ViewingData.invalidate(dir) // cleanup for any later reader
  }

  test("relCache: at most MaxCachedRelations entries; an evicted dir still reads correctly") {
    val root = java.nio.file.Files.createTempDirectory("relcache-bound")
    spark.range(4).toDF("x").coalesce(1).write.parquet(s"$root/seed/events.parquet")
    val seed = root.resolve("seed/events.parquet")
    // one dir more than the bound, each a copy of the same tiny table
    val dirs = (0 to ViewingData.MaxCachedRelations).map { i =>
      val d = root.resolve(s"run$i")
      org.apache.commons.io.FileUtils.copyDirectory(seed.toFile, d.resolve("events.parquet").toFile)
      d.toString
    }
    dirs.foreach(ViewingData.table(spark, _, "events"))
    assert(ViewingData.cachedRelations <= ViewingData.MaxCachedRelations)
    assert(!ViewingData.isCached(spark, dirs.head, "events"), "the oldest entry is evicted first")
    assert(ViewingData.isCached(spark, dirs.last, "events"))
    assert(ViewingData.table(spark, dirs.head, "events").count() == 4)
    dirs.foreach(ViewingData.invalidate)
  }

  test("documents.text is ASCII — the substring-row oracle contract") {
    // The dedup_substring_fast/incremental oracles restate WinnowHash's
    // code-point iteration with DuckDB's string_split(text, '') +
    // ascii(); the two tokenizations are only guaranteed to agree on
    // ASCII (combining sequences / grapheme clustering could diverge).
    // Pin the corpus property so a generator drift to non-ASCII text
    // fails HERE, not as an opaque hash mismatch three stages deep.
    import org.apache.spark.sql.functions._
    sfDirs.foreach { dir =>
      val nonAscii = ViewingData.table(spark, dir, "documents")
        .filter(col("text").rlike("[^\\x00-\\x7F]")).count()
      assert(nonAscii == 0,
        s"$dir: $nonAscii non-ASCII docs — revisit the substring-row oracles")
    }
  }
}
