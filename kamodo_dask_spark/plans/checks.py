"""Physical-plan assertions.

The scale contract of this engine is not "the query returns the right rows"
but "the plan is the one you'd want at 100 TB": filters reaching the Parquet
scan, dimensions broadcast, partitions pruned, expressions inside
whole-stage codegen. These helpers make those properties testable so a
regression (e.g. a non-deterministic expression silently blocking pushdown —
see grid/ingest.py) fails CI instead of shipping a full-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final (AQE-resolved where applicable) physical plan as text, with
    metadata strings untruncated (the default 100-char cap cuts off
    PushedFilters/ReadSchema lists mid-entry)."""
    spark = df.sparkSession
    key = "spark.sql.maxMetadataStringLength"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "100000")
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert SOME scan carries pushed-down data filters mentioning each
    fragment (e.g. a column name). Scans that legitimately push nothing
    (a dimension table read in full) don't fail the check — only the
    absence of the requested fragments does."""
    plan = executed_plan(df)
    pushed = [
        line
        for line in plan.splitlines()
        if "PushedFilters: [" in line and "PushedFilters: []" not in line
    ]
    joined = "\n".join(pushed)
    assert pushed, f"no pushed filters in plan:\n{plan}"
    for frag in fragments:
        assert frag in joined, f"filter fragment {frag!r} not pushed; got:\n{joined}"


def assert_partition_filters(df: DataFrame, *fragments: str) -> None:
    """Assert SOME scan prunes partitions at the source (PartitionFilters).
    Per-scan, like :func:`assert_pushed_filters`: an unpartitioned side of
    a join legitimately shows ``PartitionFilters: []`` and must not fail
    the check — only the absence of a pruning scan does."""
    plan = executed_plan(df)
    pruning = [
        line
        for line in plan.splitlines()
        if "PartitionFilters: [" in line and "PartitionFilters: []" not in line
    ]
    joined = "\n".join(pruning)
    assert pruning, f"no partition filters in plan:\n{plan}"
    for frag in fragments:
        assert frag in joined, f"partition fragment {frag!r} missing; got:\n{joined}"


def assert_broadcast_join(df: DataFrame, count: int = 1) -> None:
    plan = executed_plan(df)
    found = plan.count("BroadcastHashJoin")
    assert found >= count, f"expected >= {count} BroadcastHashJoin, found {found}:\n{plan}"


def has_wholestage_codegen(df: DataFrame) -> bool:
    # codegen stages print as `*(n)` prefixes in the plan tree
    plan = executed_plan(df)
    return "WholeStageCodegen" in plan or "*(" in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (column pruning check)."""
    import re

    plan = executed_plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    if not m:
        return []
    return [part.split(":")[0] for part in m.group(1).split(",") if part]
