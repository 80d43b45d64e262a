package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one fresh JVM:
  *
  * {{{
  * graftbench.Main --workload <daily_incremental|curation_mix>
  *   --data <input dir> --work <scratch dir> --out <result json>
  *   --seconds <s> --trace <0|1> [--rows r1,r2,...] [--spans <spans jsonl>]
  * }}}
  *
  * Set-up runs [[SetupReps]] times, each the same work including a
  * warm-up pass; then passes run back to back until their summed time
  * reaches `seconds` and there are at least [[MinPasses]].
  * The result file holds the raw samples, the output checks, and in a
  * traced run the per-layer numbers; perfbench/run.py turns it into the
  * benchmark's result line. */
object Main {

  /** Set-up repetitions; the result reports their median. */
  val SetupReps = 3
  /** Fewest timed passes; a median of three drops one slow pass, such as
    * a first one that runs while the JIT compiles a path set-up did not
    * take. */
  val MinPasses = 3

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args.get("trace").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    // Each set-up repetition starts a fresh session with a fresh tmpdir,
    // so first-call work (codegen, relation caches, indexes stamped
    // under java.io.tmpdir) lands in set-up every time; the timed passes
    // then run on the last, warmed session.
    def session(rep: Int): SparkSession = {
      val tmp = new java.io.File(s"$work/tmp-$rep")
      tmp.mkdirs()
      System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }

    val w: Workload = workload match {
      case "daily_incremental" => new Workloads.Daily(data, work)
      case "curation_mix" => new Workloads.Curation(data, work, args("rows").split(",").toSeq)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val setupS = (0 until SetupReps).map { rep =>
      val t0 = if (rep == 0) jvmStartNs else System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(rep)
      w.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val tracer: Tracer = if (traced) new SpanTracer(spark) else Tracer.off

    var attempted = 0
    var failed = 0

    val wall = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    while (wall.sum < seconds || wall.size < MinPasses) {
      w.prepare(spark)
      val c0 = processCpuS
      val t0 = System.nanoTime()
      val (a, f) = tracer.span(s"$workload.pass")(w.pass(spark, tracer))
      wall += (System.nanoTime() - t0) / 1e9
      cpu += processCpuS - c0
      attempted += a
      failed += f
    }
    val rssMb = vmHwmMb

    val checks = w.check(spark)
    val layers = if (traced) Layers.of(tracer.spans, s"$workload.pass", wall.size, cores) else Map.empty[String, Double]
    args.get("spans").foreach(p => Layers.writeSpans(tracer.spans, p))
    spark.stop()

    val json = Json.obj(
      "setup_reps_s" -> setupS,
      "setup_median_s" -> median(setupS),
      "passes_s" -> wall.toSeq,
      "passes_cpu_s" -> cpu.toSeq,
      "wall_s" -> median(wall.toSeq),
      "cpu_s" -> median(cpu.toSeq),
      "rss_peak_mb" -> rssMb,
      "attempted" -> attempted,
      "failed" -> failed,
      "checks" -> checks.map(c => Json.obj(
        "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail,
        "path" -> c.path, "sql_path" -> c.sqlPath)),
      "layers" -> layers)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), json.text)
  }
}

/** Per-layer numbers from a traced run's spans, each per timed pass. */
object Layers {

  private def under(spans: Seq[Span], root: Span): Seq[Span] = {
    val ids = mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }
  }

  /** Wall seconds in `[start, end]` covered by at least one interval. */
  private def covered(intervals: Seq[(Long, Long)], start: Long, end: Long): Double = {
    var total = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total / 1e6
  }

  def of(spans: Seq[Span], rootName: String, passes: Int, cores: Int): Map[String, Double] = {
    val roots = spans.filter(_.name == rootName)
    val inPasses = roots.flatMap(r => under(spans, r))
    // the bench's own counting jobs are tracing cost, not program work
    val work = inPasses.filterNot(_.name.startsWith("bench."))
    val p = math.max(passes, 1).toDouble
    def time(name: String) = inPasses.filter(_.name == name).map(_.seconds).sum / p
    def sum(key: String, of: Seq[Span] = work) = of.map(_.counters(key)).sum
    def named(name: String) = inPasses.filter(_.name == name)
    def frac(a: Double, b: Double) = if (b > 0) a / b else 0.0
    // wall time without the bench's own spans, and no-task time outside
    // them: both figures cover program work only
    val benchSpans = inPasses.filter(_.name.startsWith("bench."))
    val wall = roots.map(_.seconds).sum - benchSpans.map(_.seconds).sum
    val gap = roots.map { r =>
      val (bench, program) = under(spans, r).partition(_.name.startsWith("bench."))
      val busy = program.flatMap(_.taskIntervals) ++ bench.map(b => (b.startUs, b.endUs))
      r.seconds - covered(busy, r.startUs, r.endUs)
    }.sum
    val registry = inPasses.filter(_.name.startsWith("registry.")).groupBy(_.name).flatMap {
      case (name, ss) => Seq(s"$name.s" -> ss.map(_.seconds).sum / p,
        s"$name.jobs" -> ss.map(_.counters("jobs")).sum / p)
    }
    Map(
      "sources.input_mb" -> sum("input_mb") / p,
      "sources.copy_into_s" -> time("sources.copy_into"),
      "sources.files_loaded_frac" -> frac(sum("files_loaded"), sum("files_listed")),
      "operators.weighted_s" -> time("operators.weighted"),
      "operators.metrics_s" -> time("operators.metrics"),
      "operators.weight_kept_frac" -> frac(sum("output_rows", named("operators.weighted")),
        sum("output_rows", named("streaming.merge_sink"))),
      "operators.rebuild_s" -> time("operators.rebuild"),
      "operators.rebuild_groups_frac" -> frac(sum("affected_groups"), sum("groups")),
      "operators.control_s" -> time("operators.control"),
      "streaming.merge_sink_s" -> time("streaming.merge_sink"),
      "streaming.fresh_frac" -> frac(sum("output_rows", named("streaming.merge_sink")),
        sum("rows_delivered")),
      "plans.analysis_ms" -> sum("analysis_ms") / p,
      "plans.optimizer_ms" -> sum("optimizer_ms") / p,
      "plans.planning_ms" -> sum("planning_ms") / p,
      "plans.broadcast_mb" -> sum("broadcast_mb") / p,
      "spark.jobs" -> sum("jobs") / p,
      "spark.stages" -> sum("stages") / p,
      "spark.tasks" -> sum("tasks") / p,
      "spark.driver_gap_s" -> gap / p,
      "spark.busy_frac" -> frac(sum("executor_run_s"), wall * cores),
      "spark.executor_cpu_s" -> sum("executor_cpu_s") / p,
      "spark.gc_s" -> sum("gc_s") / p,
      "spark.shuffle_write_mb" -> sum("shuffle_write_mb") / p,
      "spark.shuffle_read_mb" -> sum("shuffle_read_mb") / p,
      "spark.spill_mb" -> sum("spill_mb") / p,
      "spark.output_mb" -> sum("output_mb") / p,
      "spark.persisted_blocks" -> sum("persisted_blocks") / p,
      "trace.wall_s" -> {
        val s = roots.map(_.seconds).sorted
        if (s.isEmpty) 0.0 else s(s.size / 2)
      }) ++ registry
  }

  /** One JSON object per span, with its self time: its duration minus
    * the part of it that its child spans cover. */
  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      val self = s.seconds - covered(kids, s.startUs, s.endUs)
      Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_s" -> self,
        "counters" -> s.counters.toMap)
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.map(_.text).mkString("", "\n", "\n"))
  }
}

/** Just enough JSON for the result and span files. */
object Json {
  final case class Raw(text: String)

  def obj(kv: (String, Any)*): Raw = Raw(render(kv.toMap))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(text) => text
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
