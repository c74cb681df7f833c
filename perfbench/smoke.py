"""Smoke test of the benchmark itself, at the smallest sizes.

    python3 perfbench/smoke.py            (from the repository root)

For every workload in BENCHMARK.json, and for the on-demand
corpus_build, it runs one untraced and one traced run and checks that
each end-to-end (untraced) or per-layer (traced) metric the file names
is printed with its unit, and that the gates pass. Then it plants faults
and checks that each makes the run fail: an acknowledged event the sink
drops (app_ingest), a wrong expected row count (query_mix) and a planted
exact duplicate reported as kept (corpus_build). Exits non-zero on the
first check that does not hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = ["--seed", "7", "--seconds", "4", "--scale", "0.2"]


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--trace", str(trace), *SMALL, *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-4000:])
        return p.returncode, None
    if not res["correct"] and len(lines) > 1:
        record = json.loads(lines[-2])
        print("     gate details:", record.get("errors") or record.get("mismatches"), flush=True)
    return p.returncode, res


def _check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in [x["name"] for x in bench["workloads"]] + ["corpus_build"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, res = _run(w, trace)
            _check(rc == 0 and res is not None and res["correct"], f"{w} trace={trace} passes its gates")
            got = res["metrics"]
            for m in bench[key]:
                _check(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
                       f"{w} trace={trace} reports {m['name']} in {m['unit']}")
            _check(set(got) == {m["name"] for m in bench[key]}, f"{w} trace={trace} reports no other metric")
    for w, fault in (("app_ingest", "drop_ack"), ("query_mix", "wrong_count"),
                     ("corpus_build", "keep_exact_dup")):
        rc, res = _run(w, 0, "--fault", fault)
        _check(rc != 0 and res is not None and not res["correct"] and res["failed"] > 0,
               f"{w} with planted fault {fault} fails its gate")
    return 0


if __name__ == "__main__":
    sys.exit(main())
