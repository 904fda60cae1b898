#!/usr/bin/env python3
"""Compare two graft.tools.PlanDump outputs key by key.

Usage: python3 tools/same_plans.py <planDumpA> <planDumpB>

Each input is the stdout of `sbt "runMain graft.tools.PlanDump k1 k2 ..."`:
one `===== <key> =====` header per key, then its formatted physical plan
(sbt's own `[info]`/`[success]` lines are skipped).
Before comparing, masks what differs between two runs of the same plan:
expression ids (`#123`), `plan_id=`s, object hashes (`@1a2b3c`) and
JVM lambda class names (`Multimodal$$$Lambda$6010/0x00007f7b256b6c58`), RDD
numbers and the call sites that name an RDD (`MapPartitionsRDD[77] at
localCheckpoint at AnnIndex.scala:146`), and random UUIDs. Prints a
unified diff for every key whose masked plans differ, or that only one
side has, then a summary; exits 1 on any difference.

Known noise, not regressions:
- `llm_dataset_card` and `rel_agg_multi_distinct` (several
  `count(DISTINCT ...)` aggregates) can get a different physical plan in
  two JVM runs of the same code: the distinct-aggregate rewrite may order
  its `Expand` projections and hash-partitioning keys (`source, lang` vs
  `lang, source`) either way. Compare against a second run of the parent
  to be sure.
- `Location: InMemoryFileIndex [...]` lines name the checkout's own
  directory and random temporary directories (`graft_incr_<n>`,
  `graft_runlog_<n>`, `graft_xml_<n>`); rewrite the checkout path in one
  dump before comparing two checkouts.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@?"),
    (re.compile(r"Lambda\$\d+/0x[0-9a-f]+"), "Lambda$?"),
    (re.compile(r"RDD\[\d+\]"), "RDD[?]"),
    (re.compile(r" at [\w$.]+\.scala:\d+"), " at ?"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
]
HEADER = re.compile(r"^===== (\S+) =====$")
SBT_LOG = re.compile(r"^\[(info|success|warn|error)\] ")


def plans(path):
    """{key: [masked plan lines]} of one PlanDump output, in file order."""
    out, key = {}, None
    with open(path) as f:
        for line in f:
            line = line.rstrip("\n")
            if SBT_LOG.match(line):
                continue
            m = HEADER.match(line)
            if m:
                key = m.group(1)
                out[key] = []
            elif key is not None:
                for pat, rep in MASKS:
                    line = pat.sub(rep, line)
                out[key].append(line)
    return out


def main(a, b):
    pa, pb = plans(a), plans(b)
    differ = 0
    for k in list(pa) + [k for k in pb if k not in pa]:
        if k not in pa or k not in pb:
            print(f"{k}: only in {a if k in pa else b}")
            differ += 1
        elif pa[k] != pb[k]:
            print(f"{k}: plans differ")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(pa[k], pb[k], a, b, lineterm="", n=1))
            differ += 1
    total = len(set(pa) | set(pb))
    print(f"{differ} of {total} keys differ")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
