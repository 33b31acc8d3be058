#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_tpch|etl_roundtrip \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the benchmark program (perfbench/build.sbt,
which compiles the repo's library sources with perfbench/src) when the
sources changed since the last build, runs one workload in one JVM (perfbench.Main), checks every result, and prints
one JSON object as the last line of stdout. Everything else goes to
stderr. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("olap_tpch", "etl_roundtrip")
# olap_tpch's input: the sf0.01 TPC-H-ish fixture tables (FIXTURES.md
# section B); expected.json holds the results on them
DATA = os.path.join(HERE, "data", "sf0.01")
XMX = "3g"
JVM_TIMEOUT_S = 165
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_geomean_s", "s"),
              ("peak_heap_mb", "MB")]
PER_LAYER = [
    ("tables.load_s", "s"), ("tables.load_jobs", "count"),
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("queries.build_tasks", "count"), ("queries.build_task_s", "s"),
    ("queries.empty_results", "count"),
    ("catalyst.plan_s", "s"), ("catalyst.exchanges", "count"),
    ("catalyst.broadcasts", "count"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.deser_s", "s"), ("exec.busy_frac", "ratio"),
    ("exec.shuffle_write_mb", "MB"), ("exec.shuffle_read_mb", "MB"),
    ("exec.fetch_wait_s", "s"), ("exec.input_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.result_rows", "count"),
    ("sources.generate_write_s", "s"), ("sources.files_written", "count"),
    ("sources.read_s", "s"), ("sources.stored_bytes_per_row", "B/row"),
    ("ingest.upsert_s", "s"), ("ingest.batches", "count"),
    ("ingest.batch_p50_ms", "ms"), ("ingest.batch_peak_ms", "ms"),
    ("ingest.sink_busy_s", "s"), ("ingest.task_s", "s"), ("ingest.gc_s", "s"),
    ("streaming.sink_s", "s"), ("streaming.batches", "count"),
    ("streaming.batch_p50_s", "s"), ("streaming.batch_max_s", "s"),
    ("export.fetch_s", "s"), ("export.write_s", "s"), ("export.deser_s", "s"),
    ("export.task_s", "s"),
    ("jvm.gc_s", "s"), ("trace.overhead_s", "s"),
]
# ETL stage -> the per-layer metrics its listener deltas feed
STAGE_LAYERS = {
    "generate_write": {"time": "sources.generate_write_s"},
    "read": {"time": "sources.read_s"},
    "upsert": {"time": "ingest.upsert_s", "exec.task_s": "ingest.task_s",
               "exec.gc_s": "ingest.gc_s"},
    "stream_upsert": {"time": "streaming.sink_s"},
    "export_fetch": {"time": "export.fetch_s", "exec.deser_s": "export.deser_s",
                     "exec.task_s": "export.task_s"},
    "export_write": {"time": "export.write_s", "exec.deser_s": "export.deser_s",
                     "exec.task_s": "export.task_s"},
}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_digest():
    """Hash of everything the build compiles; a changed hash rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    want = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("[perfbench] building the benchmark program and library with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)


def classpath():
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("[perfbench] SPARK_HOME must name the Spark installation")
    return f"{CLASSES}:{os.path.join(os.environ['SPARK_HOME'], 'jars')}/*"


def java_cmd(work, args):
    """Command line of perfbench.Main with `args`; its scratch stays under `work`."""
    opens = [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opens, f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath(), "perfbench.Main", *args]


JVM_ENV = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")


def run_jvm(args, work, log_path):
    """Runs perfbench.Main; returns its result JSON and the launch time."""
    out = os.path.join(work, "result.json")
    cmd = java_cmd(work, ["run", "--out", out, "--work", work, *args])
    with open(log_path, "w") as lf:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, env=JVM_ENV, stdin=subprocess.DEVNULL,
                                stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"[perfbench] benchmark JVM still running after "
                             f"{JVM_TIMEOUT_S}s; stopped")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as lf:
            tail = lf.read()[-4000:]
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {rc}):\n{tail}")
    with open(out) as fh:
        return json.load(fh), launched


def median(xs):
    return statistics.median(xs) if xs else 0.0


def check_ops(res, expected):
    """Marks each op wrong when its result differs from the reference."""
    for p in res["passes"]:
        for op in p["ops"]:
            exp = expected.get(op["name"])
            if op["ok"] and exp is not None and (
                    op["rows"] != exp["rows"] or op["digest"] != exp["digest"]):
                op["ok"] = False
                op["error"] = (f"wrong result: {op['rows']} rows digest {op['digest']}, "
                               f"expected {exp['rows']} rows digest {exp['digest']}")


def end_to_end(res, setup_s):
    passes = res["passes"]
    good = [op for p in passes for op in p["ops"] if op["ok"]]
    by_name = {}
    for op in good:
        by_name.setdefault(op["name"], []).append(op["s"])
    lat = [op["s"] for op in good]
    geo = math.exp(statistics.fmean(math.log(median(v)) for v in by_name.values())) \
        if by_name else 0.0
    metrics = {
        "setup_s": setup_s,
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_geomean_s": geo,
        # the least pass: cleanup Spark's context cleaner has not finished
        # (such as broadcast relations of earlier queries) only adds to a sample
        "peak_heap_mb": min(p["live_heap_mb"] for p in passes),
    }
    return metrics, lat


def per_layer(res, cores):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    sums = []
    for p in traced:
        s = {name: 0.0 for name, _ in PER_LAYER}
        s.update(p["layers"])
        for op in p["ops"]:
            layers = op["layers"]
            mapping = STAGE_LAYERS.get(op["name"], {})
            for k, v in layers.items():
                if k in s:
                    s[k] += v
                if k in mapping:
                    s[mapping[k]] += v
            if "time" in mapping and op["ok"]:
                s[mapping["time"]] += op["s"]
        wall = s["exec.action_s"] * cores
        s["exec.busy_frac"] = s["exec.task_s"] / wall if wall > 0 else 0.0
        s["jvm.gc_s"] = p["gc_s"]
        sums.append(s)
    out = {name: median([s[name] for s in sums]) for name, _ in PER_LAYER}
    # the untraced passes bracket the traced one, so JIT warming between
    # passes cancels out
    out["trace.overhead_s"] = (median([p["wall_s"] for p in traced])
                               - statistics.fmean(p["wall_s"] for p in untraced))
    return out


def _terminate(signum, _frame):
    raise SystemExit(f"[perfbench] stopped by signal {signum}")


def main():
    # a SIGTERM unwinds through run_jvm's finally, which stops the JVM
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no library sources at src/main/scala/graft; "
                         "run from the root of a full checkout")
    build()

    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    try:
        res, launched = run_jvm(
            ["--workload", a.workload, "--data", DATA, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            work, os.path.join(OUT, f"jvm_{a.workload}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)["results"] if a.workload == "olap_tpch" else {}
    check_ops(res, expected)
    ops = [op for p in res["passes"] for op in p["ops"]]
    failed = [op for op in ops if not op["ok"]]
    for op in failed:
        log(f"[perfbench] FAILED {op['name']}: {op['error']}")
    for w in res["warmup_failures"]:
        log(f"[perfbench] FAILED in warm-up: {w}")

    boot_s = res["main_entry_epoch_ms"] / 1e3 - launched
    setup_s = boot_s + median(res["session_s"]) + res["warmup_s"]
    cores = res["provenance"]["cores"]
    if a.trace:
        metrics = per_layer(res, cores)
        units = dict(PER_LAYER)
        trace_path = os.path.join(OUT, f"trace_{a.workload}_{a.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"provenance": res["provenance"], "passes": res["passes"],
                       "spans": res["spans"]}, fh)
        log(f"[perfbench] per-query detail and spans: {os.path.relpath(trace_path, ROOT)}")
    else:
        metrics, lat = end_to_end(res, setup_s)
        units = dict(END_TO_END)
        log(f"[perfbench] latency samples={len(lat)} p50={median(lat):.4f}s")
    paths = sorted({op["note"] for op in ops if op.get("note")})
    if paths:
        log(f"[perfbench] export fetch path: {paths}")
    zero_rows = sorted({op["name"] for op in ops if op["rows"] == 0})
    if zero_rows:
        log(f"[perfbench] 0-row results (not fast queries): {zero_rows}")
    log("[perfbench] provenance: " + json.dumps(res["provenance"], sort_keys=True))
    log(f"[perfbench] setup: boot={boot_s:.3f}s "
        f"sessions={[round(x, 3) for x in res['session_s']]} "
        f"warmup={res['warmup_s']:.3f}s; "
        f"pass walls={[round(p['wall_s'], 3) for p in res['passes']]} "
        f"failed_frac={len(failed) / max(1, len(ops)):.4f}")
    for k, v in metrics.items():
        log(f"[perfbench]   {k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not failed and not res["warmup_failures"],
        "attempted": max(1, len(ops)),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
