#!/usr/bin/env python3
"""graft's benchmark: one run of one workload in one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the library and
the harness with sbt (offline) and caches the classpath under
perfbench/.work/; every run then generates its inputs from the seed,
starts a JVM at local[<nproc>], sets the workload up, times passes for
`--seconds`, checks the outputs, and prints one JSON result line.  See
perfbench/NOTES.md for what each workload and metric is for.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170

# Spark on JDK 17 needs these outside spark-submit (graft's build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per workload: input shape and the JVM's workload arguments.
WORKLOADS = {
    "daily_incremental": dict(only=("events", "customer"), deliveries=True, args=[]),
    "curation_mix": dict(scale=metrics.CURATION_SCALE,
                         args=["--rows", ",".join(metrics.CURATION_ROWS)]),
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                 "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in d.split(os.sep) for f in fs)
        for f in paths:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compiles graft and the harness once per source tree; returns the classpath."""
    stamp = os.path.join(WORK, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True,
        timeout=max(10, deadline - time.monotonic()))
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def run_jvm(classpath, workload, data, run_dir, seconds, trace, spans, deadline, args=None):
    """Runs graftbench.Main in a fresh JVM; returns its result file."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(run_dir, "result.json")
    cmd = ["java", f"-Xmx{metrics.HEAP}", f"-Xms{metrics.HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload, "--data", data,
            "--work", os.path.join(run_dir, "work"), "--out", out, "--seconds", str(seconds),
            "--trace", str(trace)] + (WORKLOADS[workload]["args"] if args is None else args)
    if spans:
        cmd += ["--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.monotonic()))
        except BaseException as e:
            # out of time, or this process was told to stop: never leave the JVM behind
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit("the JVM ran out of time")
            raise
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"the JVM failed with code {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def score(res, data, gen_s, trace):
    """The result line: every end-to-end metric, or every per-layer one."""
    import oracle  # graft's tools/check.py, so only in a full checkout

    failures = [c["name"] for c in res["checks"] if c["ok"] is False]
    for c in res["checks"]:
        if c["ok"] is None:
            ok, detail = oracle.compare(data, c["sql_path"], c["path"])
            if not ok:
                failures.append(c["name"])
                log(f"check {c['name']} failed: {detail}")
    attempted = res["attempted"] + len(res["checks"])
    failed = res["failed"] + len(failures)
    if trace:
        layers = dict(res["layers"], **{"spark.process_cpu_s": res["cpu_s"],
                                        "setup.cold_s": res["setup_reps_s"][0]})
        values = {m["name"]: layers.get(m["name"], 0.0) for m in metrics.PER_LAYER}
        units = {m["name"]: m["unit"] for m in metrics.PER_LAYER}
    else:
        values = {
            "setup_s": gen_s + res["setup_median_s"],
            "wall_s": res["wall_s"],
            "rss_peak_mb": res["rss_peak_mb"],
        }
        units = {m["name"]: m["unit"] for m in metrics.END_TO_END}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("graft's sources are not next to perfbench/; run from a full checkout")
    classpath = build(start + 700)
    # the build may take long on a fresh checkout; the run itself gets its own budget
    deadline = time.monotonic() + DEADLINE_S
    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = os.path.join(run_dir, "data")
        t0 = time.monotonic()
        digest = gen.generate(data, a.seed, w.get("scale", 1.0), w.get("only"),
                              w.get("deliveries", False))
        gen_s = time.monotonic() - t0
        log(f"inputs {a.workload} seed={a.seed} digest={digest}")
        spans = None
        if a.trace:
            spans = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        res = run_jvm(classpath, a.workload, data, run_dir, a.seconds, a.trace, spans, deadline)
        log(f"passes_s={res['passes_s']} setup_reps_s={res['setup_reps_s']}")
        line = score(res, data, gen_s, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
