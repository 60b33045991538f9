"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. A tiny-size run of every workload in ``BENCHMARK.json``, untraced and
   traced, must exit 0, be correct, and print exactly the metrics
   ``BENCHMARK.json`` names for that mode.
2. The same tiny runs with every expected result deliberately wrong must
   fail every step (``error_rate`` 1) and exit non-zero.

Prints one line per run and exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _run(workload: str, trace: int, wrong: bool) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace),
           "--size", "tiny"] + (["--wrong-digest"] if wrong else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-3000:])
        return proc.returncode, None


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, res = _run(w, trace, wrong=False)
            good = (code == 0 and res is not None and res["correct"]
                    and res["failed"] == 0
                    and set(res["metrics"]) == names[trace])
            print(f"{'ok  ' if good else 'FAIL'} smoke {w} trace={trace}")
            ok &= good
        code, res = _run(w, 0, wrong=True)
        good = (code != 0 and res is not None and not res["correct"]
                and res["attempted"] >= 1
                and res["failed"] == res["attempted"])
        print(f"{'ok  ' if good else 'FAIL'} wrong-digest {w} "
              f"(error_rate 1, exit {code})")
        ok &= good
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
