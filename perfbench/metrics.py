"""The benchmark's sizes and metric names, shared by run.py, the tests
and BENCHMARK.json (test_bench.py checks that the file matches)."""

# curation rows run on the sf0.1-shaped tables times this
CURATION_SCALE = 0.25
# -Xms = -Xmx: a heap that grows on demand made the peak RSS vary by a
# sixth between runs of the same inputs
HEAP = "3g"

CURATION_ROWS = [
    "q_connect_by",
    "q_rfm_segments", "doc_pack",
    "q_asof_join", "q_asof_native",
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rss_peak_mb", "unit": "MB", "better": "lower", "bound": 0.1},
]


def _layer(name, unit, better):
    return {"name": name, "unit": unit, "better": better}


PER_LAYER = [
    _layer("sources.input_mb", "MB", "lower"),
    _layer("sources.copy_into_s", "s", "lower"),
    _layer("sources.files_loaded_frac", "ratio", "higher"),
    _layer("operators.weighted_s", "s", "lower"),
    _layer("operators.metrics_s", "s", "lower"),
    _layer("operators.weight_kept_frac", "ratio", "higher"),
    _layer("operators.rebuild_s", "s", "lower"),
    _layer("operators.rebuild_groups_frac", "ratio", "lower"),
    _layer("operators.control_s", "s", "lower"),
    _layer("streaming.merge_sink_s", "s", "lower"),
    _layer("streaming.fresh_frac", "ratio", "higher"),
    _layer("plans.analysis_ms", "ms", "lower"),
    _layer("plans.optimizer_ms", "ms", "lower"),
    _layer("plans.planning_ms", "ms", "lower"),
    _layer("plans.broadcast_mb", "MB", "lower"),
    _layer("spark.jobs", "count", "lower"),
    _layer("spark.stages", "count", "lower"),
    _layer("spark.tasks", "count", "lower"),
    _layer("spark.driver_gap_s", "s", "lower"),
    _layer("spark.busy_frac", "ratio", "higher"),
    _layer("spark.executor_cpu_s", "s", "lower"),
    _layer("spark.gc_s", "s", "lower"),
    _layer("spark.shuffle_write_mb", "MB", "lower"),
    _layer("spark.shuffle_read_mb", "MB", "lower"),
    _layer("spark.spill_mb", "MB", "lower"),
    _layer("spark.output_mb", "MB", "lower"),
    _layer("spark.persisted_blocks", "count", "lower"),
    # process CPU per timed pass: an end-to-end number by intent, but over
    # ten seeds its spread reached a fifth of its median on curation_mix
    _layer("spark.process_cpu_s", "s", "lower"),
    _layer("trace.wall_s", "s", "lower"),
    # the first set-up, timed from JVM start: the median behind setup_s
    # leaves its JVM start, class loading and cold JIT out
    _layer("setup.cold_s", "s", "lower"),
] + [m for row in CURATION_ROWS for m in (
    _layer(f"registry.{row}.s", "s", "lower"),
    _layer(f"registry.{row}.jobs", "count", "lower"))]
