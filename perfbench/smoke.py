"""Smoke check: every metric named in BENCHMARK.json is emitted, with
its unit, by every workload ``run.py`` knows, untraced and traced.

    python3 perfbench/smoke.py

Runs each workload twice (``--trace 0`` and ``--trace 1``) on tiny
inputs (sf0.001 tables, small workbooks) for one second each, in child
processes, and exits non-zero on any missing or mis-unitted metric, a
failed operation, or a wrong output.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shrink() -> None:
    """Scale every workload's inputs down to sf0.001."""
    from perfbench import headline, xlsx_ingest

    headline.SF = 0.001
    xlsx_ingest.SF = 0.001
    xlsx_ingest.MULTI_ROWS = xlsx_ingest.SINGLE_ROWS = xlsx_ingest.EXPORT_ROWS = 400
    xlsx_ingest.SMALL_ROWS = 20


def _child(workload: str, trace: str) -> int:
    sys.path.insert(0, ROOT)
    _shrink()
    from perfbench import run

    return run.main(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", trace])


def main() -> int:
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        "0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    from perfbench import run

    bad = []
    for w in run._workloads():
        for trace in ("0", "1"):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", w, trace],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = p.stdout.strip().splitlines()
            if p.returncode or not lines:
                bad.append(f"{w} trace={trace}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                units = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                bad.append(f"{w} trace={trace}: missing {missing} extra {extra} unit mismatch {units}")
            if not res["correct"] or res["failed"]:
                bad.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}: {lines[-2][:1500]}")
            print(f"{w} trace={trace}: {len(got)} metrics, correct={res['correct']}", flush=True)
    for b in bad:
        print("FAIL", b)
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        sys.exit(_child(sys.argv[2], sys.argv[3]))
    sys.exit(main())
