#!/usr/bin/env python3
"""Compare the per-query physical plans of two `SPARK_GRAFT_EXPLAIN=1` Bench captures.

Bench prints `===== <query> =====` and then the query's formatted plan for
every query before it times anything. Two captures of the SAME code still
differ in parts that carry no plan information, so each plan is masked
before the compare:

  - expression ids (`#123`), `plan_id=` tags and RDD ids (`RDD[45]`);
  - source lines of RDD call sites (`ResultMemo.scala:105`);
  - stage numbers: whole-stage codegen ids (`[codegen id : 7]`,
    `WholeStageCodegen (7)`) and AQE query-stage ids (a `...QueryStage`
    node's `Arguments: 3`), which follow stage materialization order;
  - scratch-dir names: temp dirs with random suffixes and the artifact
    store root (every path is cut to its last two components, then any
    digit run in it is masked);
  - lambda identities (`lambda x_12`, `$$Lambda$34/0x...@5e2f`).

Prints the name of every plan that differs (or exists in only one capture),
then a summary line, and exits 1 when any plan differs.

    SPARK_GRAFT_EXPLAIN=1 SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Bench" > a.out
    python3 tools/plan_diff.py a.out b.out
"""
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"\$\$Lambda\$?[\w$/.]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\$\$Lambda[\w$/.]*"), "$$Lambda"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"\b(x|y|acc|a|b|t)_\d+\b"), r"\1_N"),
]

PATH = re.compile(r"(file:)?(/[^\s,\]\[()]+)")


def mask_path(m):
    parts = m.group(2).rstrip("/").split("/")
    tail = "/".join(parts[-2:])
    return "<path>/" + re.sub(r"\d+", "N", tail)


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return PATH.sub(mask_path, line)


QUERY_STAGE = re.compile(r"^\(\d+\) \w*QueryStage\b")
STAGE_ID = re.compile(r"^Arguments: \d+$")


def plans(path):
    out, name, body, in_stage = {}, None, [], False
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                if name is not None:
                    out[name] = body
                name, body = m.group(1), []
            elif name is not None and not line.startswith('{"metric"'):
                if QUERY_STAGE.match(line):
                    in_stage = True
                elif not line:
                    in_stage = False
                elif in_stage and STAGE_ID.match(line):
                    line = "Arguments: N"
                body.append(mask(line))
    if name is not None:
        out[name] = body
    return {k: "\n".join(v).strip() for k, v in out.items()}


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    names = sorted(set(a) | set(b))
    differ = [n for n in names if a.get(n) != b.get(n)]
    for n in differ:
        where = "" if n in a and n in b else (" (only in A)" if n in a else " (only in B)")
        print(n + where)
    print(f"{len(differ)} of {len(names)} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
