#!/usr/bin/env python3
"""Compare two `graft.Explain` dumps query by query.

    python3 tools/plan_diff.py before.txt after.txt

Each input is the stdout of `sbt "runMain graft.Explain <names>"`: one
`===== name =====` header per query, followed by its
`explain("formatted")` text. Lines before the first header are ignored.
sbt's `[info] ` prefix on a forked run's output is dropped, and so are
its `[error]`/`[warn]`/`[success]` lines (a forked run's stderr, Spark's
log, arrives as `[error]`), so the file can be sbt's stdout as is.

Before comparing, the run-specific numbers are masked: expression ids
(`#123`), `plan_id=N`, bracketed numbers such as RDD ids
(`MapPartitionsRDD[12]`) and source locations (`Dedup.scala:812`). For
each query the report is one of

  identical            the masked dumps are equal
  same operator tree   the physical tree (the part above the per-node
                       details) is equal, but some node's details differ
  differs              the operator trees differ; a unified diff of the
                       two trees follows

plus the number of exchange operators (shuffle, broadcast and reused) in
each tree. A query present on one side only counts as differing.

The exit status is 1 if any operator tree differs, else 0.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^===== (\S+) =====$")
SBT_PREFIX = re.compile(r"^\[info\] ?")
SBT_LOG = re.compile(r"^\[(error|warn|success)\]")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # bracketed numbers, RDD ids among them (`MapPartitionsRDD[12]`)
    (re.compile(r"\[\d+\]"), "[N]"),
    (re.compile(r"\b(\w+)\.scala:\d+"), r"\1.scala:N"),
]
NODE_DETAIL = re.compile(r"^\(\d+\) ")
EXCHANGE = re.compile(r"\b\w*Exchange\b")


def split_dump(path):
    """name -> list of masked lines, in file order."""
    plans, name = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            if SBT_LOG.match(raw):
                continue
            line = SBT_PREFIX.sub("", raw.rstrip("\n"))
            m = HEADER.match(line.strip())
            if m:
                name = m.group(1)
                plans[name] = []
                continue
            if name is None:
                continue
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            plans[name].append(line.rstrip())
    return {n: trim(ls) for n, ls in plans.items()}


def trim(lines):
    while lines and not lines[-1]:
        lines.pop()
    while lines and not lines[0]:
        lines.pop(0)
    return lines


def operator_tree(lines):
    """The tree section of a formatted plan: from the line after
    `== Physical Plan ==` to the first blank line or node detail
    header (`(1) Scan parquet`); sbt drops the blank lines."""
    try:
        start = lines.index("== Physical Plan ==") + 1
    except ValueError:
        return lines
    tree = []
    for line in lines[start:]:
        if not line.strip() or NODE_DETAIL.match(line):
            break
        tree.append(line)
    return tree


def exchanges(tree):
    return sum(len(EXCHANGE.findall(line)) for line in tree)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()
    a, b = split_dump(args.before), split_dump(args.after)
    differs = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            side = "before" if name not in a else "after"
            print(f"{name}: differs (missing from {side})")
            differs += 1
            continue
        ta, tb = operator_tree(a[name]), operator_tree(b[name])
        ex = f"exchanges {exchanges(ta)} -> {exchanges(tb)}"
        if a[name] == b[name]:
            print(f"{name}: identical ({ex})")
        elif ta == tb:
            print(f"{name}: same operator tree ({ex})")
        else:
            differs += 1
            print(f"{name}: differs ({ex})")
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in ta], [l + "\n" for l in tb],
                f"{name} before", f"{name} after"))
    print(f"{len(set(a) | set(b))} queries, {differs} with a different "
          f"operator tree")
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main())
