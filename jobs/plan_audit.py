#!/usr/bin/env python
"""Plan-health audit for registry queries — the ".explain and iterate"
discipline as a tool.

    python jobs/plan_audit.py --query feature_vector [--sf /root/testdata/sf0.01]
    python jobs/plan_audit.py --all            # one summary row per query

Per query it extracts the plan-shape facts the 100 TB argument rests on:
parquet scans (with ReadSchema width and pushed filters), exchanges by
kind (hash / range / single-partition / broadcast), window nodes, python
UDF surfaces (MapInArrow, MapInPandas etc.), and whole-stage-codegen span count.
``--full`` prints the formatted plan itself. Exit code is 0 always —
this is a lens, not a gate (the gating assertions live in
tests/test_plan_shape.py).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tgist_features_spark import get_spark  # noqa: E402
from tgist_features_spark.plans.entry_queries import QUERIES  # noqa: E402


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(  # noqa: SLF001
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(  # noqa: SLF001
            "formatted"
        )
    )


def audit(spark, name: str, sf: str, execute: bool = False) -> dict:
    df = QUERIES[name](spark, sf)
    # structural metrics come from the pre-execution plan (its detail
    # section carries ReadSchema / PushedFilters per node)
    p = _explain(spark, df)
    codegen = None
    if execute:
        # run an action on THIS DataFrame's own QueryExecution (a write
        # would plan a fresh one); the re-explained output then leads with
        # the FINAL AQE tree, whose "*" prefixes mark whole-stage codegen.
        # Audit-tool collect at oracle scale only, not a production pattern.
        df.collect()
        final = _explain(spark, df).split("== Initial Plan ==")[0]
        codegen = len(re.findall(r"(?:\+\-|\:\-|^) ?\* ", final, re.M))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    return {
        "query": name,
        "scans": len(re.findall(r"Scan parquet", p)),
        "read_cols": sorted({len(x.split(",")) for x in schemas}),
        "pushed_filters": sum(1 for x in pushed if x.strip()),
        "exchanges": len(re.findall(r"^\(\d+\) Exchange", p, re.M)),
        "single_partition": len(re.findall(r"SinglePartition", p)),
        "range_exchanges": len(re.findall(r"rangepartitioning", p)),
        "broadcasts": len(re.findall(r"BroadcastExchange", p)),
        "windows": len(re.findall(r"^\(\d+\) Window", p, re.M)),
        "python_stages": len(
            re.findall(r"MapInPandas|MapInArrow|ArrowEvalPython|FlatMapGroupsInPandas", p)
        ),
        # "*" node prefixes mark whole-stage-codegen participants; only the
        # executed final AQE tree carries them (None without --execute)
        "codegen_nodes": codegen,
        "_plan": p,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", default=None, help="registry key")
    ap.add_argument("--all", action="store_true", help="summary for all keys")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--full", action="store_true", help="print the plan too")
    ap.add_argument("--execute", action="store_true",
                    help="run the query first so the audit sees the final "
                         "AQE plan (accurate codegen/exchange counts)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not args.query and not args.all:
        ap.error("pass --query <key> or --all")

    spark = get_spark(master=args.master, app_name="tgist-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names = list(QUERIES) if args.all else [args.query]
    for name in names:
        try:
            a = audit(spark, name, args.sf, execute=args.execute)
        except Exception as e:  # surface, keep going in --all mode
            print(json.dumps({"query": name, "error": str(e)[:200]}))
            continue
        plan = a.pop("_plan")
        print(json.dumps(a))
        if args.full:
            print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
