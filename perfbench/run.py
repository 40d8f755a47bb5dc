#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload pipeline_live --seed 1 --seconds 16 --trace 0

Run from anywhere inside a checkout of the repository. The first run
builds the program and the harness (perfbench/build.py). With
`--trace 0` the result holds every end-to-end metric of BENCHMARK.json;
with `--trace 1` every per-layer metric, and the span tree is written
to .bench_build/traces/. See perfbench/README.md for the workloads and
metrics.
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

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes: Path, work: Path, args: list) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xms1g", "-Xmx1g", "-XX:-UsePerfData", "-XX:+UseSerialGC", "-XX:CICompilerCount=2",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
            "-cp", f"{classes}:{build.SPARK_HOME / 'jars' / '*'}",
            "perfbench.Main", *args]


# Per-layer metrics of the layers a workload does not run, by name
# prefix. They read 0; any other metric missing from a run is an error.
NOT_RUN = {
    "pipeline_live": ("iter.",),
    "queries_iterative": ("source.", "reliability.", "sink.", "microbatch.", "live."),
}


def pick(spec: list, measured: dict, not_run: tuple) -> dict:
    """The metrics BENCHMARK.json names, checked against what ran."""
    out = {}
    for m in spec:
        got = measured.get(m["name"])
        if got is None and m["name"].startswith(not_run):
            got = {"value": 0, "unit": m["unit"]}
        if got is None:
            sys.exit(f"run: metric {m['name']} was not measured")
        if got["unit"] != m["unit"]:
            sys.exit(f"run: {m['name']} measured in {got['unit']}, declared {m['unit']}")
        out[m["name"]] = got
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        sys.exit(f"run: unknown workload {a.workload}")
    classes = build.build()
    out = build.BUILD_DIR
    work = out / f"run-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = out / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    trace_out = out / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--data", str(ROOT / "perfbench" / "data"),
            "--trace-out", str(trace_out)]
    try:
        with open(log, "w") as err:
            launch_us = time.time_ns() // 1000
            p = subprocess.run(
                jvm_command(classes, work, args + ["--launch-us", str(launch_us)]),
                cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run: no result within {JVM_TIMEOUT_S} s, see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        sys.exit(f"run: harness exited with code {p.returncode}, see {log}")
    res = json.loads(lines[-1])
    for n in res["notes"]:
        print(f"[{a.workload}] {n}", file=sys.stderr)

    # every run's metrics, keyed by build and window length, so the
    # tracing overhead compares only runs of the same code and settings
    history = out / "results.jsonl"
    key = {"workload": a.workload, "classes": classes.name, "seconds": a.seconds}
    with open(history, "a") as h:
        h.write(json.dumps({**key, "seed": a.seed, "trace": a.trace,
                            "metrics": res["metrics"]}) + "\n")
    if a.trace:
        res["metrics"]["trace.throughput_per_s"] = dict(res["metrics"]["throughput_per_s"])
        untraced = [r["metrics"] for r in map(json.loads, history.read_text().splitlines())
                    if r["trace"] == 0 and all(r.get(k) == v for k, v in key.items())]
        if untraced:
            # traced minus untraced median, as a share of the untraced median
            diffs = []
            for m in bench["end_to_end"]:
                base = statistics.median(r[m["name"]]["value"] for r in untraced)
                if base:
                    traced = res["metrics"][m["name"]]["value"]
                    diffs.append(f"{m['name']} {(traced - base) / base:+.1%}")
            print(f"[{a.workload}] tracing overhead (traced - untraced, vs the median of "
                  f"{len(untraced)} untraced runs of this build): {', '.join(diffs)}",
                  file=sys.stderr)
        else:
            print(f"[{a.workload}] tracing overhead: no untraced run of this build "
                  f"and --seconds to compare with", file=sys.stderr)
        print(f"[{a.workload}] spans: {trace_out}", file=sys.stderr)

    spec = bench["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": pick(spec, res["metrics"],
                                       NOT_RUN[a.workload] if a.trace else ())}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
