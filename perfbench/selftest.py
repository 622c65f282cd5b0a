"""Self-test of the benchmark: every workload on sf0.001-sized inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (all four by default) it runs ``run.py --tiny`` once
untraced and once traced, and fails unless the run exits 0, every
iteration's verification passed, and every metric BENCHMARK.json names
is emitted with its unit and its direction. Takes about nine minutes
on a 4-vCPU VM, most of it in corpus_fineweb.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, spec: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    tag = f"{workload} trace={trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    errs = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        record = json.loads(lines[-2])
        errs.append(f"{tag}: verification failed: {record['verification']}")
    summary = {ln.split()[1]: ln for ln in lines[:-2] if ln.startswith(workload)}
    for m in spec:
        got = result["metrics"].get(m)
        if got is None:
            errs.append(f"{tag}: metric {m} missing")
            continue
        if got["unit"] != spec[m]["unit"]:
            errs.append(f"{tag}: {m} unit {got['unit']!r}, "
                        f"BENCHMARK.json says {spec[m]['unit']!r}")
        if f"({spec[m]['better']} is better)" not in summary.get(m, ""):
            errs.append(f"{tag}: {m} direction differs from BENCHMARK.json")
    return errs


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    errs = []
    for w in argv or list(WORKLOADS):
        for trace, spec in ((0, e2e), (1, layers)):
            got = check(w, trace, spec)
            print(f"{w:16} trace={trace}: {'ok' if not got else 'FAIL'}")
            errs += got
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
