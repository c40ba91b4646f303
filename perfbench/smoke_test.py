#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at a tiny scale (sf0.001 collections).

    python3 perfbench/smoke_test.py

For every workload it runs perfbench/run.py untraced and traced and asserts
that the run passed its correctness checks and printed every metric
BENCHMARK.json names, with its unit (end-to-end metrics untraced, per-layer
metrics traced), and that end-to-end values are positive. It then checks that
a directory holding only BENCHMARK.json and the benchmark's own files fails
fast without printing a result. Exit code 0 means every check passed.
"""

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.1"  # cdc_drain's 15,000-document collection becomes 1,500 (sf0.001)


def run(cwd, workload, trace, timeout=600):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace,
           "--scale", SCALE]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        for trace, metrics in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            p = run(ROOT, w, trace)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            r = json.loads(lines[-1])
            if set(r) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(r)}")
            if r.get("correct") is not True or r.get("failed") != 0 or r.get("attempted", 0) < 1:
                failures.append(f"{tag}: correct={r.get('correct')} attempted={r.get('attempted')} "
                                f"failed={r.get('failed')}")
            got = r.get("metrics", {})
            for m in metrics:
                v = got.get(m["name"])
                if v is None:
                    failures.append(f"{tag}: metric {m['name']} missing")
                elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    failures.append(f"{tag}: metric {m['name']} printed as {v}, unit {m['unit']}")
                elif trace == "0" and not v["value"] > 0:
                    failures.append(f"{tag}: end-to-end metric {m['name']} is {v['value']}")
            extra = set(got) - {m["name"] for m in metrics}
            if extra:
                failures.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"ok {tag}" if not any(f.startswith(tag + ":") for f in failures)
                  else f"FAIL {tag}", flush=True)

    # a tree with only the benchmark's own files cannot build: fail fast, print nothing
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=lambda d, names: [n for n in names if n in ("target", ".work", ".traces")
                                             or (n == "project" and os.path.basename(d) == "project")])
    t0 = time.time()
    p = run(bare, workloads[0], "0", timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        failures.append(f"bare tree: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    else:
        print(f"ok bare tree fails fast ({time.time() - t0:.1f} s)", flush=True)

    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
