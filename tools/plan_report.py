"""Generate PLAN_REPORT.md: one row of physical-plan facts per catalog
query (exchanges, scans, joins, codegen, Python stages) at sf0.001.

Usage: python tools/plan_report.py [out_md]

The report is the audit artifact behind tests/test_plans.py's lint: the
lint FAILS on scale anti-patterns; this report shows the positive
evidence (how many shuffles each query actually plans, which joins
broadcast) so plan regressions show up in review diffs, not just in
assertion failures."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")


def plan_row(name: str, plan: str) -> tuple[str, ...]:
    """The report row of catalog query ``name`` from its executed plan
    string: (query, exchanges, parquet scans, joins, Python stages).
    tests/test_plans.py checks every committed row with this function."""
    if name == "streaming_latest_per_key":
        return (name, "— (streaming; see test_streaming)", "", "", "")
    n_exch = len(re.findall(r"Exchange hashpartitioning", plan))
    n_range = len(re.findall(r"Exchange rangepartitioning", plan))
    n_single = len(re.findall(r"Exchange SinglePartition", plan))
    exch = f"{n_exch}h"
    if n_range:
        exch += f"+{n_range}r"
    if n_single:
        exch += f"+{n_single}s"
    scans = len(re.findall(r"Scan parquet", plan))
    joins = "+".join(
        f"{len(re.findall(j, plan))}{j[0]}"
        for j in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin")
        if re.findall(j, plan)
    ) or "0"
    py = len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan))
    return (name, exch, str(scans), joins, str(py))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLAN_REPORT.md"

    from uc_historic_data_importer_spark.session import get_spark
    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401
    from uc_historic_data_importer_spark.plans.catalog import QUERIES

    spark = get_spark(
        app_name="hdi-plan-report", master="local[4]", shuffle_partitions=4
    )
    sf = "/root/testdata/sf0.001"

    rows = []
    for name in sorted(QUERIES):
        try:
            plan = (
                QUERIES[name]
                .fn(spark, sf)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # pragma: no cover — report, don't die
            rows.append((name, f"ERROR {type(exc).__name__}", "", "", ""))
            continue
        rows.append(plan_row(name, plan))

    with open(out_path, "w") as f:
        f.write(
            "# PLAN REPORT — physical-plan facts per catalog query "
            "(sf0.001, local[4])\n\n"
            "Generated by `python tools/plan_report.py`. Columns: "
            "exchanges (h=hash, r=range, s=single-partition), parquet "
            "scans, joins (B=BroadcastHash, S=SortMerge, "
            "B…NestedLoop), Arrow/Pandas "
            "stages (AQE hides codegen markers pre-execution, so "
            "codegen spans are not reported here). The lint in "
            "tests/test_plans.py fails on "
            "anti-patterns; this is the positive evidence.\n\n"
            "| query | exchanges | scans | joins | python |\n"
            "|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote {out_path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
