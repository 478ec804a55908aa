"""Self-tests of the benchmark, at sf0.001.

    python3 perfbench/selftest.py

Checks that every workload prints every metric named in BENCHMARK.json with
its unit and no failed operation, traced and untraced; that the seed fixes
the operation order; that the traced run's construct and execute spans
cover each operation's wall time within 5%; and that a corrupted expected
result and an HTTP 500 from the fake endpoint both count as failed
operations. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import REGISTRY  # noqa: E402


def bench(*args: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1", "--scale", "sf0.001", *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(args)}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def order(workload: str, seed: int) -> list:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "12", "--list-ops"],
        cwd=ROOT, capture_output=True, text=True, check=True, timeout=60,
    ).stdout
    return json.loads(out)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }

    for w in workloads:
        check(order(w, 1) == order(w, 1), f"{w}: the same seed gives the same operation list")
        check(order(w, 1) != order(w, 2), f"{w}: another seed gives another order")
        check(sorted(order(w, 1)[0]) == sorted(order(w, 2)[0]),
              f"{w}: seeds change the order, not the operation set")

    for w in workloads:
        for trace in (0, 1):
            r = bench("--workload", w, "--seed", "7", "--trace", str(trace))
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == units[trace], f"{w} trace={trace}: every named metric with its unit")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} trace={trace}: no failed operation ({r['failed']}/{r['attempted']})")
            if trace:
                m = r["metrics"]
                check(m["error_rate"]["value"] == 0, f"{w}: error_rate 0")
                check(m["trace.coverage_min"]["value"] >= 0.95,
                      f"{w}: construct+execute cover each operation within 5% "
                      f"({m['trace.coverage_min']['value']:.3f})")

    registry = next(w for w in workloads if w != "connector")
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)
    name = REGISTRY[registry][0]
    expected["0.001"][name]["rows"] += 1
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=HERE, delete=False) as fh:
        json.dump(expected, fh)
    try:
        r = bench("--workload", registry, "--seed", "7", "--trace", "1", "--expected", fh.name)
    finally:
        os.unlink(fh.name)
    check(r["failed"] > 0 and r["metrics"]["error_rate"]["value"] > 0,
          f"{registry}: a corrupted expected result ({name}) raises error_rate")

    r = bench("--workload", "connector", "--seed", "7", "--trace", "0", "--fail-requests", "3")
    check(r["failed"] > 0 and not r["correct"], "connector: an HTTP 500 counts as a failed operation")
    return 0


if __name__ == "__main__":
    sys.exit(main())
