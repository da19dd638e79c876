#!/usr/bin/env python3
"""Benchmark entry point: builds the program from source, runs one
workload, checks its outputs and prints the result as one JSON line.

    python3 perfbench/run.py --workload query_core --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads: ``cdc_stream`` and
``query_core`` (see perfbench/README.md). ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ledger. Everything the
run writes lands under ``.bench_build/``; the full detail of the last
run of each workload is ``.bench_build/run/<workload>/detail.json``.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import gen_tables  # noqa: E402

JVM_TIMEOUT_S = 170
# the first run after a compile may take 900 s; training takes ~2 min
TRAIN_TIMEOUT_S = 600
HEAP = "2g"

def cores() -> int:
    """Half the CPUs the process may use (at least one). Both workloads are
    driver-bound: on 4 vCPUs, local[2] ran as fast as local[4] and its
    timings spread less, because the driver, JIT and GC threads keep CPUs
    of their own instead of queueing behind the task threads."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def percentile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q * len(s) + 0.5)) - 1))
    return s[k]


def run_jvm(classpath, args, log_path, tmp, jvm_flags=(), timeout_s=JVM_TIMEOUT_S):
    cmd = (["java", "-XX:-UsePerfData", *jvm_flags, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-cp", classpath]
           + build.JVM_OPENS + ["graftbench.BenchMain"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"benchmark JVM exceeded {timeout_s}s (log: {log_path})")
    if rc != 0:
        tail = Path(log_path).read_text(errors="replace")[-2000:]
        raise RuntimeError(f"benchmark JVM exited {rc}: ...{tail}")


def class_share_flags(root: Path, classpath: str):
    """JVM flags that map the class-data sharing archive of this build:
    the classes a session, the query entries and the CDC job load, parsed
    and verified once. On a 4-vCPU VM it saves ~4 s of session start and
    ~3 s of the first micro-batch per run. A build without the archive makes it first from a
    training JVM that runs both workloads' set-up and checks (seed 0, no
    timed operations)."""
    jsa = root / ".bench_build" / "classes" / "app.jsa"
    if not jsa.is_file():
        train = root / ".bench_build" / "train"
        shutil.rmtree(train, ignore_errors=True)
        out_dir, data_dir, tmp = train / "out", train / "data", train / "tmp"
        for d in (out_dir, data_dir, tmp):
            d.mkdir(parents=True)
        gen_tables.write(str(data_dir), 0)
        run_jvm(classpath, ["train", "0", "0", "0", str(data_dir), str(out_dir), str(cores())],
                train / "jvm.log", tmp, [f"-XX:ArchiveClassesAtExit={jsa}"],
                TRAIN_TIMEOUT_S)
        shutil.rmtree(train, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={jsa}"] if jsa.is_file() else []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc_stream", "query_core"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    classpath = build.build(root)  # exits non-zero when the sources are missing
    jvm_flags = class_share_flags(root, classpath)

    t_start = time.monotonic()
    run_dir = root / ".bench_build" / "run" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir, data_dir, tmp = run_dir / "out", run_dir / "data", run_dir / "tmp"
    for d in (out_dir, data_dir, tmp):
        d.mkdir(parents=True)
    table_rows = gen_tables.write(str(data_dir), a.seed) if a.workload == "query_core" else {}
    n = cores()
    run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        str(data_dir), str(out_dir), str(n)],
            run_dir / "jvm.log", tmp, jvm_flags)
    res = json.loads((out_dir / "result.json").read_text())

    ops = res["ops"]
    by_name = {}
    for op in ops:
        by_name.setdefault(op["name"], []).append(op["ms"])
    # one operation of each kind at its mean latency: the query mix of
    # query_core (a partial last pass does not change it), one micro-batch
    # of cdc_stream
    mix_s = sum(statistics.mean(v) for v in by_name.values()) / 1000.0
    if a.workload == "query_core":
        failures, check_facts, bad = checks.query_core(res, data_dir, out_dir)
        rows_per_s = sum(res["rows_in"].get(n, 0) for n in by_name) / mix_s
    else:
        failures, check_facts = res["failures"], res["facts"]
        bad = set(["batch"]) if failures else set()
        rows_per_s = res["rows_timed"] / (sum(op["ms"] for op in ops) / 1000.0)

    layers = dict(res["layers"], **{"engine.session_ms": res["engine.session_ms"]})
    if a.trace:
        failures += [f"probe stream: {f}" for f in layers.get("probe.failures", [])]
        failures += [f"{k} = {v}" for k, v in layers.items()
                     if k.endswith("_mismatched_rows") and v != 0]

    failures += [f"{op['name']}: threw in the timed loop" for op in ops if not op["ok"]]
    lat = [op["ms"] for op in ops]
    failed = sum(1 for op in ops if not op["ok"] or op["name"] in bad)
    timed_s = sum(lat) / 1000.0
    wall_s = time.monotonic() - t_start
    metrics = {
        "setup_s": wall_s - timed_s,
        "ops_per_s": len(by_name) / mix_s,
        "rows_per_s": rows_per_s,
        # the median entry's median latency (all samples on cdc_stream)
        "latency_p50_ms": statistics.median(statistics.median(v) for v in by_name.values()),
        "latency_p90_ms": percentile(lat, 0.90),
        "heap_peak_mb": res["heap_mb"],
    }
    env = dict(res["env"], workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace)
    detail = {
        "env": env, "metrics": metrics, "failures": failures, "checks": check_facts,
        "ops": len(ops), "samples_beyond_p90": sum(1 for x in lat if x > metrics["latency_p90_ms"]),
        "setup_ms": res["setup_ms"], "layers": layers,
        "table_rows": table_rows, "per_op": ops,
    }
    (run_dir / "detail.json").write_text(json.dumps(detail, indent=1))

    print(json.dumps({"env": env, "ops": len(ops), "failures": failures[:3],
                      "detail": str((run_dir / "detail.json").relative_to(root))}))
    values = layers if a.trace else metrics
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    shown = {k: {"value": values[k], "unit": units[k]} for k in names}
    print(json.dumps({"correct": not failures, "attempted": len(ops), "failed": failed,
                      "metrics": shown}, separators=(",", ":")))


if __name__ == "__main__":
    main()
