#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan digest for every bench-flagged query.

For each headline query this prints the properties that decide 100 TB
viability — shuffle count, join strategies, filter/projection pushdown
into the parquet scan, whole-stage-codegen coverage — plus the full
formatted plan, so a reviewer can check the claims in the operator
docstrings against what Catalyst actually planned.

    python tools/plan_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def tree_digest(jplan) -> dict:
    """Digest by walking the JVM physical-plan tree: InMemoryTableScan is
    a LEAF (the cached recipe never re-executes), AQE wrappers and query
    stages are descended through their materialized plans. Robust where
    text parsing is not — the printed form nests cached AQE sub-plans
    with reset indentation."""
    counters = {
        "exchanges": 0,
        "single_partition_exchanges": 0,
        "broadcast_joins": 0,
        "broadcast_nested_loop": 0,
        "sortmerge_joins": 0,
        "shuffled_hash_joins": 0,
        "cartesian": 0,
        "python_stages": 0,
        "cached_scans": 0,
    }

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls.startswith("InMemoryTableScan"):
            counters["cached_scans"] += 1
            return
        if cls.startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
            return
        if "QueryStage" in cls:
            try:
                walk(node.plan())
            except Exception:
                pass
            return
        if cls.startswith("ReusedExchange"):
            return
        if cls.startswith("ShuffleExchange"):
            if "SinglePartition" in node.outputPartitioning().toString():
                counters["single_partition_exchanges"] += 1
            else:
                counters["exchanges"] += 1
        elif cls.startswith("BroadcastHashJoin"):
            counters["broadcast_joins"] += 1
        elif cls.startswith("BroadcastNestedLoopJoin"):
            counters["broadcast_nested_loop"] += 1
        elif cls.startswith("SortMergeJoin"):
            counters["sortmerge_joins"] += 1
        elif cls.startswith("ShuffledHashJoin"):
            counters["shuffled_hash_joins"] += 1
        elif cls.startswith("CartesianProduct"):
            counters["cartesian"] += 1
        elif cls.startswith(("MapInPandas", "MapInArrow", "ArrowEvalPython",
                             "FlatMapGroupsInPandas", "BatchEvalPython")):
            counters["python_stages"] += 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(jplan)
    return counters


def digest(plan: str) -> dict:
    """Digest a tree-format plan. All three digests count the same thing
    as ``exchanges``: a shuffle exchange of any partitioning (hash, range,
    round-robin) except SinglePartition, which is counted apart;
    broadcast and reused exchanges are neither."""
    return {
        "exchanges": len(
            re.findall(r"\bExchange (?!SinglePartition\b)\w", plan)
        ),
        "single_partition_exchanges": len(
            re.findall(r"\bExchange SinglePartition", plan)
        ),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "broadcast_nested_loop": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        # tree-format plans mark codegen'd operators with a "*(N)" prefix
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "python_stages": len(re.findall(
            r"(?:MapInPandas|MapInArrow|ArrowEvalPython"
            r"|FlatMapGroupsInPandas|BatchEvalPython)", plan)),
    }


def digest_formatted(txt: str) -> dict:
    """Digest an ``explain('formatted')``-style plan text — the format the
    SQL status store records via ``physicalPlanDescription()``. The
    tree-mode ``digest()`` regexes silently miscount this format (round
    16 fix): ``Exchange hashpartitioning`` never appears on one line
    (the node line is ``(9) Exchange`` and the partitioning sits on the
    following ``Arguments:`` line, so exchanges read 0), join operators
    appear twice (once in the summary tree, once as the numbered detail
    header, so joins read 2x), and codegen is marked ``[codegen id : N]``
    rather than ``*(N)``. Every counter below matches the numbered
    DETAIL entries only, which each physical operator has exactly once;
    ``ReusedExchange``/``BroadcastExchange`` don't match the Exchange
    pattern by construction."""
    ex_args = re.findall(
        r"\(\d+\) Exchange\n(?:[^\n]+\n)*?Arguments: (\w+)", txt)
    return {
        "exchanges": sum(1 for a in ex_args if a != "SinglePartition"),
        "single_partition_exchanges": sum(
            1 for a in ex_args if a == "SinglePartition"),
        "broadcast_joins": len(
            re.findall(r"\(\d+\) BroadcastHashJoin", txt)),
        "broadcast_nested_loop": len(
            re.findall(r"\(\d+\) BroadcastNestedLoopJoin", txt)),
        "sortmerge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", txt)),
        "shuffled_hash_joins": len(
            re.findall(r"\(\d+\) ShuffledHashJoin", txt)),
        "cartesian": len(re.findall(r"\(\d+\) CartesianProduct", txt)),
        "codegen_stages": len(
            set(re.findall(r"\[codegen id : (\d+)\]", txt))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", txt)),
        "python_stages": len(re.findall(
            r"\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython"
            r"|FlatMapGroupsInPandas|BatchEvalPython)", txt)),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="PLANS.md")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__  # noqa: F401
    from flink_connector_http_spark.plans import REGISTRY

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # 339 queries' cached relations accumulate; the 1g default heap
        # OOMs mid-audit (seen in the round-9 regeneration)
        .config("spark.driver.memory", "6g")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of the bench queries",
        "",
        f"Auto-generated by `tools/plan_audit.py` at `{args.sf}`.",
        "Digest heuristics: `exchanges` counts shuffles of any partitioning",
        "but SinglePartition (counted apart);",
        "`pushed_filters` counts parquet scans with a non-empty PushedFilters",
        "list; `python_stages` counts Arrow/Pandas stages (the deliberate",
        "Python islands: HTTP I/O and binary decode only).",
        "",
    ]
    # the SQL status store records EVERY execution's physical-plan text —
    # including the intermediate localCheckpoint materializations whose
    # lineage cuts make the FINAL plan of iterative queries collapse to a
    # bare "Scan ExistingRDD" (ADVICE r15: dedup_clusters' digest read
    # 808 exchanges in r14 and 0 after the checkpoint refactor, because
    # only the final plan was digested). Summing the digest over all
    # executions a query triggers restores the real computed-plan
    # metrics; the final plan is still shown below the table.
    status_store = spark._jsparkSession.sharedState().statusStore()

    def _n_execs() -> int:
        return status_store.executionsList().size()

    def _digest_execs(lo: int) -> "tuple[dict, int]":
        lst = status_store.executionsList()
        total: dict = {}
        n = 0
        for i in range(lo, lst.size()):
            n += 1
            for k, v in digest_formatted(
                    lst.apply(i).physicalPlanDescription()).items():
                total[k] = total.get(k, 0) + v
        return total, n

    for name, spec in sorted(REGISTRY.items()):
        if not spec.bench:
            continue
        exec_lo = _n_execs()
        df = spec.fn(spark, args.sf)
        qe = df._jdf.queryExecution()
        # execute first: with AQE the plan is finalized (and the *(N)
        # codegen markers appear) only after the query has actually run
        df.collect()
        plan = qe.executedPlan().toString()
        d = digest(plan)
        d_total, n_execs = _digest_execs(exec_lo)
        lines.append(f"## {name}")
        lines.append("")
        lines.append(
            f"| metric | computed total ({n_execs} executions) "
            "| final plan |"
        )
        lines.append("|---|---|---|")
        for k, v in d.items():
            lines.append(f"| {k} | {d_total.get(k, 0)} | {v} |")
        lines.append("")
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        lines.append("```")
        lines.append(qe.explainString(mode)[:8000].rstrip())
        lines.append("```")
        lines.append("")
        spark.catalog.clearCache()
    # registry-wide plan-stat table (no full plans — one row per query):
    # batch queries only; streaming queries execute side effects in fn()
    # and their plans are micro-batch internals, so they are skipped here
    # (tests/test_plan_quality.py applies the same scoping)
    lines.append("## Registry-wide plan statistics")
    lines.append("")
    lines.append(
        "Logical-plan digests for every registered BATCH query (streaming "
        "queries excluded — their physical plans are per-micro-batch; "
        "subtrees under InMemoryRelation excluded — a cached relation's "
        "printed recipe is already materialized and never re-executes). "
        "`cartesian` and `python_stages` outside the deliberate HTTP/"
        "multimodal islands should be zero everywhere."
    )
    lines.append("")
    lines.append(
        "| query | exchanges | 1-part | bcast | smj | shj | cartesian "
        "| python |"
    )
    lines.append("|---|---|---|---|---|---|---|---|")
    totals = {"cartesian": 0, "python_stages": 0}
    n_batch = 0
    for name, spec in sorted(REGISTRY.items()):
        if name.startswith("stream_") or name.startswith("http_"):
            continue  # streaming + live-stub HTTP side effects
        try:
            df = spec.fn(spark, args.sf)
            d = tree_digest(df._jdf.queryExecution().executedPlan())
        except Exception as err:  # noqa: BLE001 — record, keep auditing
            first = str(err).strip().splitlines()[0][:200]
            lines.append(f"| `{name}` | plan error: {first} | | | | | | |")
            continue
        finally:
            spark.catalog.clearCache()
        n_batch += 1
        totals["cartesian"] += d["cartesian"]
        totals["python_stages"] += d["python_stages"]
        lines.append(
            f"| `{name}` | {d['exchanges']} "
            f"| {d['single_partition_exchanges']} "
            f"| {d['broadcast_joins']} | {d['sortmerge_joins']} "
            f"| {d['shuffled_hash_joins']} | {d['cartesian']} "
            f"| {d['python_stages']} |"
        )
    lines.append("")
    lines.append(
        f"**{n_batch} batch queries audited; total cartesian joins: "
        f"{totals['cartesian']}; total Python stages: "
        f"{totals['python_stages']} (multimodal mapInPandas only).**"
    )
    lines.append("")
    Path(args.out).write_text("\n".join(lines))
    print(f"wrote {args.out} ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
