#!/usr/bin/env python3
"""Smoke test of the benchmark: short runs on tiny inputs.

    python3 perfbench/smoke_test.py

Runs every BENCHMARK.json workload with --smoke, untraced and traced, and
asserts that each run is correct and emits every metric BENCHMARK.json
names, with its unit: the end-to-end metrics untraced, the per-layer
metrics traced. It also asserts that pubsub injected schema rejections and
dead letters, and that the streaming spans of the traced runs carry Spark
jobs. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-workload names, reported next to the shared metric names
WORKLOAD_NAMES = {"pubsub": {"publish_p50_ms", "publish_p90_ms", "publish_eps"},
                  "log_replay": {"read_p50_ms", "read_p90_ms", "drain_eps"}}
# metrics a traced run must report above 0, by workload
NONZERO = {"pubsub": ("schema.rejected", "dlq.dead_lettered", "broker.handler_retries",
                      "streaming.rows_per_batch", "spark.jobs_per_op"),
           "log_replay": ("dlq.dead_lettered", "streaming.drain_batches",
                          "sources.files_per_scan", "spark.jobs_per_op")}
STREAM_SPANS = {"pubsub": "streaming.start", "log_replay": "streaming.runAvailable"}
# pubsub needs about 40 publishes to hold an injected schema rejection
SECONDS = {"pubsub": 6, "log_replay": 2}


def run(*args):
    cmd = [sys.executable, os.path.join(HERE, "run.py")] + [str(a) for a in args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def expect(result, wanted, label):
    got = result["metrics"]
    missing = [k for k in wanted if k not in got]
    wrong = [k for k, u in wanted.items() if k in got and got[k]["unit"] != u]
    extra = [k for k in got if k not in wanted]
    if missing or wrong or extra or not result["correct"] or result["failed"] != 0 \
            or result["attempted"] < 1:
        raise SystemExit(f"FAIL {label}: missing={missing} wrong_unit={wrong} extra={extra} "
                         f"correct={result['correct']} attempted={result['attempted']} "
                         f"failed={result['failed']}")
    print(f"ok   {label}: {len(got)} metrics, attempted={result['attempted']}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in (x["name"] for x in bench["workloads"]):
        base = ("--workload", w, "--seed", 7, "--seconds", SECONDS[w], "--smoke")
        result, info = run(*base, "--trace", 0)
        expect(result, e2e, f"{w} untraced")
        names = json.loads(next(l for l in info if l.startswith("# workload_names: "))
                           .split(": ", 1)[1])
        if not WORKLOAD_NAMES[w] <= set(names):
            raise SystemExit(f"FAIL {w}: names {WORKLOAD_NAMES[w] - set(names)} not reported")
        result, info = run(*base, "--trace", 1)
        expect(result, layers, f"{w} traced")
        zero = [k for k in NONZERO[w] if not result["metrics"][k]["value"] > 0]
        if zero:
            raise SystemExit(f"FAIL {w} traced: {zero} not above 0")
        if not any(l.startswith("# tracing_overhead") for l in info):
            raise SystemExit(f"FAIL {w}: traced run reported no tracing overhead")
        with open(os.path.join(HERE, ".runs", f"{w}-t1-smoke", "spans.jsonl")) as fh:
            spans = [json.loads(l) for l in fh]
        streams = [s for s in spans if s["name"] == STREAM_SPANS[w]]
        if not streams or not all(s["jobs"] > 0 for s in streams):
            raise SystemExit(f"FAIL {w}: {STREAM_SPANS[w]} spans without Spark jobs: "
                             f"{[s['jobs'] for s in streams]}")
        if any(s["parent"] and s["parent"] not in {x["id"] for x in spans} for s in spans):
            raise SystemExit(f"FAIL {w}: a span's parent is missing from spans.jsonl")
    print("smoke ok")


if __name__ == "__main__":
    main()
