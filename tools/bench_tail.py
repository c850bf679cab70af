#!/usr/bin/env python3
"""Summarize the output contract of a `runMain graft.Bench` stdout capture.

For every bare JSON metric line, in printed order, prints the metric name
and its field names. Then replays the harness parse -- keep the last 2000
characters of stdout, take the last line that parses as a bare JSON
object -- and prints which metric it lands on, whether per_query_ms is
still whole in that tail, and the parsed line's store_builds.

    python3 tools/bench_tail.py bench.out             # one capture
    python3 tools/bench_tail.py parent.out change.out # diff of two summaries

With two captures the output is a unified diff of their summaries (empty
when the contracts match) and the exit status is 1 when they differ.
"""
import difflib
import json
import sys

TAIL_CHARS = 2000


def json_lines(text):
    for line in text.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict):
            yield obj


def summary(text):
    out = []
    for obj in json_lines(text):
        if "metric" in obj:
            out.append("%s: %s" % (obj["metric"], ",".join(obj)))
    tail = list(json_lines(text[-TAIL_CHARS:]))
    last = tail[-1] if tail else None
    out.append("tail parse: %s" % (last.get("metric") if last else None))
    whole = [o.get("metric") for o in tail]
    out.append("tail holds per_query_ms whole: %s" % ("per_query_ms" in whole))
    if last is not None and "store_builds" in last:
        out.append("tail store_builds: %s" % last["store_builds"])
    return out


def read(path):
    if path == "-":
        return sys.stdin.read()
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read()


def main(argv):
    if len(argv) not in (2, 3):
        sys.stderr.write(__doc__)
        return 2
    if len(argv) == 2:
        print("\n".join(summary(read(argv[1]))))
        return 0
    a, b = (summary(read(p)) for p in argv[1:])
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2], lineterm="", n=0))
    print("\n".join(diff))
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
