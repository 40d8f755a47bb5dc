#!/usr/bin/env python3
"""The per-batch job table of a traced pipeline run, as markdown.

    python3 scripts/batch_jobs.py .bench_build/traces/pipeline_live-seed1.jsonl

Reads the span tree `perfbench/run.py --trace 1` writes and prints one
row per timed batch: the batch and `addBatch` times, then each job
under `addBatch` in start order as `start+duration ms` (start measured
from the start of `addBatch`) with its summed task run time.
"""
import json
import sys


def main() -> int:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    spans = [json.loads(l) for l in open(sys.argv[1])]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def ms(a, b):
        return (b - a) / 1000

    timed = next(s for s in spans if s["name"] == "timed")
    batches = sorted(kids.get(timed["id"], []), key=lambda s: s["start_us"])
    width = max(len(kids.get(next(k["id"] for k in kids[b["id"]] if k["name"] == "addBatch"), []))
                for b in batches)
    print("| batch | batch ms | addBatch ms | "
          + " | ".join(f"job {i + 1}: start+ms (task ms)" for i in range(width)) + " |")
    print("|---|---|---|" + "---|" * width)
    for b in batches:
        add = next(k for k in kids[b["id"]] if k["name"] == "addBatch")
        jobs = sorted(kids.get(add["id"], []), key=lambda s: s["start_us"])
        cells = [f"{ms(add['start_us'], j['start_us']):.0f}+{ms(j['start_us'], j['end_us']):.0f}"
                 f" ({j['counters'].get('task_run_ms', 0):.0f})" for j in jobs]
        cells += [""] * (width - len(cells))
        print(f"| {b['name'].split()[-1]} | {ms(b['start_us'], b['end_us']):.0f} | "
              f"{ms(add['start_us'], add['end_us']):.0f} | " + " | ".join(cells) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
