"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Checks that:

* every workload emits every end-to-end metric (``--trace 0``) and every
  per-layer metric (``--trace 1``) named in BENCHMARK.json, with its unit,
  and reports its outputs correct;
* a deliberately corrupted output (a duplicated ``results`` row) fails the
  output check, so the check is live;
* in a directory holding only BENCHMARK.json and the benchmark, the run
  exits non-zero without printing a result.

Takes a few minutes: each run still starts Spark and makes a cold pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"enrich_long": 64, "dedup_dense": 192}  # dedup_dense: two families


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--clips", str(TINY[workload]), *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(w["name"], trace)
            what = f"{w['name']} --trace {trace}"
            expect(rc == 0 and res is not None, f"{what}: exits 0 with a result"
                   + ("" if rc == 0 else f" (rc={rc}: {err[-500:]})"))
            if res is None:
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{what}: outputs correct ({res['attempted']} attempted)")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float)),
                       f"{what}: {m['name']} [{m['unit']}] = "
                       f"{got['value'] if got else None}")

    rc, res, _ = run("dedup_dense", 0, "--corrupt")
    expect(rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           "a duplicated results row fails the output check")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _ = run("dedup_dense", 0, cwd=bare)
    expect(rc != 0 and res is None, f"without the program: exits {rc}, prints no result")
    shutil.rmtree(bare)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
