#!/usr/bin/env python
"""Dump the normalized optimized logical plan of every driver query.

Builds each ``__spark_entry__.queries()`` entry at the given scale and
writes its optimized logical plan, one ``== name ==`` section per query
in name order. Normalization masks what differs between two runs of the
same code: expression ids (``#123`` → ``#N``), ``plan_id=`` values and
``/tmp`` paths. Two dumps compare with plain ``diff``, so a refactor
that claims "same plans" can show it:

    python scripts/plan_dump.py --sf-dir DATA/sf0.001 --out a.txt
    (check out the other revision)
    python scripts/plan_dump.py --sf-dir DATA/sf0.001 --out b.txt
    diff a.txt b.txt

A query that raises is dumped as its exception line, so a new failure
shows up in the diff too.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

_MASKS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/..."),
)


def normalize(plan: str) -> str:
    for pat, repl in _MASKS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="TPC-H parquet directory")
    ap.add_argument("--out", default=None, help="output file (default: stdout)")
    ap.add_argument("names", nargs="*", help="only these queries (default: all)")
    args = ap.parse_args()

    from r2rml_parser_spark.session import build_session

    spark = build_session(extra_conf={"spark.ui.enabled": "false"})
    queries = entrymod.queries()
    sections: list[str] = []
    for name in sorted(args.names or queries):
        try:
            df = queries[name](spark, args.sf_dir)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:  # record, keep dumping
            plan = f"ERROR {type(e).__name__}: {str(e).splitlines()[0][:300]}"
        sections.append(f"== {name} ==\n{normalize(plan).rstrip()}\n")
    text = "\n".join(sections)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    else:
        sys.stdout.write(text)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
