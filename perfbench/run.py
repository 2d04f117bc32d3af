"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <serve|dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout.  The first run builds graft and
the harness from source (sbt, offline) into perfbench/harness/target;
later runs reuse that build while the sources are unchanged.  Inputs are
generated from the seed under .bench_build/, graft runs in one JVM, its
outputs are checked against answers computed here, and the last line of
standard output is the result as one JSON object.  See README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
TARGET = os.path.join(HARNESS, "target")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("serve", "dedup")
JVM_TIMEOUT_S = 150
HEAP = "3g"

# The metrics on the last line, with their units, as BENCHMARK.json lists
# them; README.md says what each means on each workload.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt"),
                      os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness unless the last build is current."""
    stamp_file = os.path.join(TARGET, "source.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    log("building graft and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "writeClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build failed (exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_jvm(workload, work, seconds, trace, cpus):
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", workload, work, str(seconds),
            str(trace), str(cpus)]
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        output, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"graft run exceeded {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(output[-6000:])
        raise SystemExit(f"graft run failed (exit {proc.returncode})")
    with open(os.path.join(work, "out.json")) as fh:
        out = json.load(fh)
    return out, out["setup_done_epoch_ms"] / 1000.0 - launched


def median(xs):
    return statistics.median(xs)


def percentile(xs, p):
    s = sorted(xs)
    return s[min(len(s) - 1, int(p * len(s)))]


def detail_figures(workload, s):
    """The figures named per workload in README.md, from the raw samples."""
    d = {"samples": {k: v if len(v) <= 12 else len(v) for k, v in s.items()}}
    if workload == "serve":
        for pre in ("", "pq_") if "pq_build_s" in s else ("",):
            d[pre + "build_s"] = median(s[pre + "build_s"])
            d[pre + "fill_s"] = median(s[pre + "fill_s"])
            d[pre + "point_p50_ms"] = median(s[pre + "op_ms"])
            d[pre + "point_p99_ms"] = percentile(s[pre + "op_ms"], 0.99)
            d[pre + "batch_qps"] = median(s[pre + "rate_per_s"])
        d["upsert_s"] = median(s["upsert_s"])
        d["refill_s"] = median(s["refill_s"])
        d["upsert_rows_per_s"] = median(s["upsert_rows_per_s"])
    else:
        d["dedup_s"] = median(s["ready_s"])
        d["lsh_p50_ms"] = median(s["op_ms"])
        d["dedup_docs_per_s"] = median(s["rate_per_s"])
        for k in ("lsh_s", "cc_s", "exact_groups_s"):
            d[k] = median(s[k])
    return d


def layer_metrics(out):
    layers = dict(out.get("layers", {}))
    timed = [p for name, p in out["phases"].items() if not name.startswith("trace_")]
    total = {k: sum(p[k] for p in timed) for k in timed[0]}
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "planning_ms", "gc_ms"):
        layers[k] = total[k]
    layers["cpu_busy_cores"] = total["task_cpu_s"] / total["wall_s"]
    return {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise SystemExit("graft sources not found: run from the root of a graft checkout")
    build()

    import checks
    import gen

    work = os.path.join(ROOT, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        maker = {"serve": gen.gen_serve, "dedup": gen.gen_dedup}[a.workload]
        data = maker(a.seed, work)
        cpus = max(1, min(2, os.cpu_count() or 1))
        out, setup_s = run_jvm(a.workload, work, a.seconds, a.trace, cpus)
        if a.trace:
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(traces, f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = 0
    try:
        figures = checks.CHECKS[a.workload](out["results"], data)
        correct = True
    except checks.CheckFailed as e:
        log(f"check failed: {e}")
        figures, correct = {"recall": 0.0}, False

    s = out["samples"]
    detail = detail_figures(a.workload, s)
    detail.update(figures)
    quality = figures["recall"]
    if a.trace:
        detail["layers"] = out.get("layers", {})
        detail["span_self_s"] = out.get("span_self_s", {})
        detail["phases"] = out["phases"]
        metrics = layer_metrics(out)
    else:
        values = {"setup_s": setup_s, "ready_s": median(s["ready_s"]),
                  "rate_per_s": median(s["rate_per_s"]), "recall": quality}
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": int(out["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
