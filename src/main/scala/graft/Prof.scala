package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ad-hoc plan/time profiler for local iteration (not part of the
  * library surface).
  *
  *  - `runMain graft.Prof scans` — every registry query's file-scan
  *    count per table (flags avoidable re-reads; Barrier
  *    barriers legitimately hide their upstream scan).
  *  - `runMain graft.Prof time <variants>` — noop-sink timings.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.headOption.getOrElse("scans") match {
      case "scans" =>
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          try {
            val df = fn(spark, dir)
            val perTable = df.queryExecution.sparkPlan.collect {
              case s: org.apache.spark.sql.execution.FileSourceScanExec =>
                s.relation.location.rootPaths.headOption
                  .map(_.getName).getOrElse("?")
            }.groupBy(identity).view.mapValues(_.size).toMap
            val multi = perTable.filter(_._2 > 1)
            if (multi.nonEmpty)
              println(s"MULTI  $name: ${perTable.mkString(", ")}")
          } catch { case e: Throwable => println(s"ERR    $name: ${e.getMessage}") }
        }
      case "time" =>
        def time(name: String)(df: => DataFrame): Unit = {
          def once: Double = {
            val t0 = System.nanoTime()
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          once
          println(f"$name%-40s ${math.min(once, once)}%8.3f s")
        }
        args.drop(1).foreach(n => time(n)(SparkEntry.queries(n)(spark, dir)))
    }
    spark.stop()
  }
}
