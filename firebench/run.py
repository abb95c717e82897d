#!/usr/bin/env python3
"""FireWatch benchmark: one run of one workload.

Usage (from the repo root):
  python3 firebench/run.py --workload live_cameras|backfill_replay \
      --seed N --seconds S --trace 0|1

Builds the program from source on first use (firebench/build.py), makes
the workload's inputs from the seed, starts one JVM (firebench.Main) on
local[nproc], checks the outputs, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 a plain run is made first and then a traced one, and the
metrics are the per-layer metrics, trace.overhead_ratio included.

Everything is written under <build dir>/firebench (CARGO_TARGET_DIR if
set, else .bench_build); each run's scratch directory is deleted when
the run ends, its host context is appended to runs.jsonl there, and a
traced run's spans are kept as spans-<workload>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("live_cameras", "backfill_replay")
MIN_FREE_BYTES = 4 << 30
DEADLINE_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[firebench] {msg}", file=sys.stderr, flush=True)


def host_context(seed):
    """For reading results only: never gates or retries a run."""
    def read(p):
        try:
            return Path(p).read_text().strip()
        except OSError:
            return None
    return {"nproc": os.cpu_count(), "loadavg": read("/proc/loadavg"),
            "pressure_cpu": read("/proc/pressure/cpu"), "seed": seed}


# ---- one JVM ----

class Child:
    proc = None


def run_jvm(a, trace, classpath, base, deadline):
    work = base / f"run-{os.getpid()}-{trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = ["java", *[x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'tmp'}", f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "firebench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(trace), "--work", str(work),
           "--out", str(out)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    try:
        with open(work / "jvm.log", "w") as logf:
            Child.proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
            try:
                rc = Child.proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                Child.proc.kill()
                Child.proc.wait()
                raise SystemExit("JVM timed out")
            finally:
                Child.proc = None
        if rc != 0 or not out.exists():
            tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
            sys.stderr.write("\n".join(tail) + "\n")
            raise SystemExit(f"JVM exited with {rc}")
        res = json.loads(out.read_text())
        if trace:
            shutil.copy(work / "spans.jsonl", base / f"spans-{a.workload}.jsonl")
        return res, int(res["info"]["bytes_written"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if not (root / "src" / "main" / "scala").is_dir():
        raise SystemExit("run from the root of a checkout of the program (no src/main/scala here)")
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "firebench"
    base.mkdir(parents=True, exist_ok=True)
    free = shutil.disk_usage(base).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"only {free >> 20} MiB free under {base}; need {MIN_FREE_BYTES >> 20}")

    def on_term(signum, frame):
        if Child.proc is not None:
            Child.proc.kill()
        raise SystemExit(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, on_term)

    ctx = host_context(a.seed)
    classpath = build.build(root, base)
    deadline = time.monotonic() + DEADLINE_S  # a first build has its own budget

    plain, written = run_jvm(a, 0, classpath, base, deadline)
    attempted, failed = plain["attempted"], plain["failed"]
    if a.trace:
        traced, w2 = run_jvm(a, 1, classpath, base, deadline)
        written += w2
        attempted += traced["attempted"]
        failed += traced["failed"]
        m = dict(traced["metrics"])
        m["trace.overhead_ratio"] = {
            "value": traced["metrics"]["latency_ms"]["value"] / plain["metrics"]["latency_ms"]["value"],
            "unit": "ratio"}
        names = [x["name"] for x in spec["per_layer"]]
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        # a layer the workload does not exercise reads 0
        metrics = {n: m.get(n, {"value": 0.0, "unit": units[n]}) for n in names}
    else:
        metrics = {x["name"]: plain["metrics"][x["name"]] for x in spec["end_to_end"]}

    record = {"time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "workload": a.workload,
              "trace": a.trace, "seconds": a.seconds, **ctx, "bytes_written": written,
              "attempted": attempted, "failed": failed,
              "failed_ratio": failed / max(attempted, 1), "info": plain.get("info", {}),
              "metrics": {k: v["value"] for k, v in metrics.items()}}
    with open(base / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    log(f"host nproc={ctx['nproc']} loadavg={ctx['loadavg']} seed={a.seed} "
        f"bytes_written={written} failed_ratio={record['failed_ratio']}")
    for k, v in metrics.items():
        log(f"{k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
