#!/usr/bin/env python3
"""Compare two `graft.Explain <list>` plan dumps.

    sbt "runMain graft.Explain d3_minhash_lsh d4_simhash" > parent.txt
    # ... same command on the changed tree ...
    scripts/plan_diff.py parent.txt change.txt

Both dumps are normalized first: expression ids (`#123`), `plan_id=N`,
`QueryStage N`, codegen stage ids (`*(N)`), JVM identity hashes
(`[J@1fb379e4`), RDD ids with their call-site line numbers and
temp-dir / warehouse paths are stripped, so only real plan changes
remain. Prints, per query, the shuffle Exchange, BroadcastExchange and
ReusedExchange node counts of each side, then a unified diff of every
query whose normalized plan differs. Exit status 1 when a query has
more shuffle Exchange nodes in the second dump than in the first.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^=+ (\S+) =+$")
SBT_NOISE = re.compile(r"^\[(info|success|warn|error)\]")
NORMALIZE = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*"),
    # JVM identity hashes of literal arrays in expression strings
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    # RDD ids and the source line of the call that made the RDD
    (re.compile(r"RDD\[\d+\] at (\w+) at ([\w.$]+):\d+"), r"RDD[N] at \1 at \2"),
    # temp dirs (graft-session, spark scratch, java.io.tmpdir) and the
    # per-checkout warehouse / scratch roots
    (re.compile(r"(file:)?/tmp/[^\s,\]\)]*"), "<tmp>"),
    (re.compile(r"(file:)?/[^\s,\[\]\)]*spark-warehouse[^\s,\]\)]*"),
     "<warehouse>"),
]
COUNTS = [
    ("exchange", re.compile(r"\(\d+\) Exchange\b")),
    ("broadcast", re.compile(r"\(\d+\) BroadcastExchange\b")),
    ("reused", re.compile(r"\(\d+\) ReusedExchange\b")),
]


def sections(path):
    """{query name: normalized plan lines} of one dump, in dump order."""
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None and not SBT_NOISE.match(line):
                for rx, rep in NORMALIZE:
                    line = rx.sub(rep, line)
                out[name].append(line.rstrip())
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def counts(lines):
    text = "\n".join(lines)
    return {k: len(rx.findall(text)) for k, rx in COUNTS}


def main(a_path, b_path):
    a, b = sections(a_path), sections(b_path)
    names = list(a) + [n for n in b if n not in a]
    worse = []
    print(f"{'query':34} {'exchanges':>13} {'broadcast':>11} {'reused':>9}  plan")
    for n in names:
        if n not in a or n not in b:
            print(f"{n:34} only in {'first' if n in a else 'second'} dump")
            continue
        ca, cb = counts(a[n]), counts(b[n])
        same = "identical" if a[n] == b[n] else "differs"
        cells = [f"{ca[k]:>4} -> {cb[k]:<4}" for k, _ in COUNTS]
        print(f"{n:34} {cells[0]:>13} {cells[1]:>11} {cells[2]:>9}  {same}")
        if cb["exchange"] > ca["exchange"]:
            worse.append(n)
    for n in names:
        if n in a and n in b and a[n] != b[n]:
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in a[n]], [l + "\n" for l in b[n]],
                f"{a_path}:{n}", f"{b_path}:{n}"))
    if worse:
        print("more shuffle exchanges in the second dump: " + ", ".join(worse))
        return 1
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
