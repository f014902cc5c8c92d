"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

From the root of a checkout, runs ``run.py`` as a subprocess:

1. a tiny-size run of each workload, untraced and traced, must exit 0 and
   print every end-to-end, respectively per-layer, metric that
   ``BENCHMARK.json`` declares;
2. negative runs — one silver token row corrupted after the backfill, one
   duplicate handed to the corpus check — must exit non-zero with
   ``"correct": false``;
3. a directory holding only ``BENCHMARK.json`` and the benchmark must make
   the command exit non-zero without printing a result.

Prints one line per case and exits non-zero if any case fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return p.returncode, last, p.stdout + p.stderr


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    failures = 0

    def report(case: str, ok: bool, detail: str = "") -> None:
        nonlocal failures
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {case}{': ' + detail if detail and not ok else ''}", flush=True)

    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            code, res, out = _run(ROOT, "--workload", w, "--trace", str(trace), "--size", "tiny")
            got = set(res["metrics"]) if res else set()
            ok = code == 0 and res is not None and res["correct"] and got == want[trace]
            report(f"{w} tiny trace={trace}", ok, f"exit {code}, missing {want[trace] - got}, extra {got - want[trace]}\n{out[-3000:]}")

    for w, fault in (("chain_backfill", "corrupt_silver"), ("analytics_ingest", "admit_duplicate")):
        code, res, out = _run(ROOT, "--workload", w, "--trace", "0", "--size", "tiny", "--fault", fault)
        ok = code != 0 and res is not None and res["correct"] is False and "CHECK FAILED" in out
        report(f"{w} --fault {fault} is caught", ok, f"exit {code}\n{out[-3000:]}")

    os.makedirs(os.path.join(ROOT, ".perfbench_runs"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_runs"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, res, out = _run(bare, "--workload", spec["workloads"][0]["name"], "--trace", "0")
        report("bare directory exits non-zero without a result", code != 0 and res is None, f"exit {code}\n{out[-2000:]}")
    finally:
        shutil.rmtree(os.path.dirname(bare) if len(os.listdir(os.path.dirname(bare))) == 1 else bare)

    print("ALL OK" if not failures else f"{failures} failing case(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
