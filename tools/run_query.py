#!/usr/bin/env python
"""Run any driver-contract query by name and print its result.

    python tools/run_query.py                       # list query names
    python tools/run_query.py wordcloud_weights     # run one at default SF
    python tools/run_query.py er_clusters /root/testdata/sf0.01 --limit 50
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", help="query name (omit to list)")
    ap.add_argument("sf_dir", nargs="?",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--limit", type=int, default=20)
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if not args.query:
        oracle = entrymod.oracle_sql()
        for name in qs:
            print(f"{name}{'  [oracle-checked]' if name in oracle else ''}")
        return
    if args.query not in qs:
        ap.error(f"unknown query {args.query!r}; run with no args to list")

    from textgraphs_spark.session import get_spark

    spark = get_spark(app_name=f"query_{args.query}")
    # materialize once: show() + count() would otherwise each re-run the
    # whole plan (minutes of extraction for the heavy queries)
    df = qs[args.query](spark, args.sf_dir).localCheckpoint()
    df.show(args.limit, truncate=False)
    print(f"({df.count()} rows total)")


if __name__ == "__main__":
    main()
