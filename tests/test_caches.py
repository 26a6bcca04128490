"""What a session keeps across queries: its compiled code and its temp
views. A repeated query must neither recompile its generated classes
nor re-create the table views it reads.

This module sorts ahead of the query-running test modules, so the
codegen test's first pass over its queries is a cold one.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from opusdb_spark.registry import registry
from opusdb_spark.tables import TABLE_NAMES, register_views

SF = "/root/testdata/sf0.001"

# Registered queries whose first (cold) pass compiles more classes than
# Spark's default codegen cache of 100 entries holds.
_CODEGEN_REUSE = (
    "tpch_q3",
    "tpch_q4",
    "tpch_q6",
    "tpch_q8",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q14",
    "tpch_q16",
    "tpch_q19",
    "tpch_q20",
)


def test_repeat_pass_reuses_generated_code(spark):
    """A second pass over the same queries compiles no Java class: the
    session's codegen cache must hold the working set of a pass. A
    cache smaller than a cyclic working set evicts every class before
    its next use, so each repeat query recompiled its whole plan."""
    reg = registry()
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass():
        n0 = compiles.getCount()
        for name in _CODEGEN_REUSE:
            reg[name].fn(spark, SF).collect()
        return compiles.getCount() - n0

    first = one_pass()
    assert first > 100, (
        f"first pass compiled only {first} classes: not a cold pass, or "
        "the list no longer overflows Spark's default cache"
    )
    assert one_pass() == 0


def test_register_views_recreates_only_changed_views(spark, tmp_path, monkeypatch):
    """register_views re-creates a view only when table() hands back a
    different handle: a repeat over unchanged files re-creates none, a
    rewritten file re-creates its own view (and spark.sql sees the new
    rows), and alternating sf dirs resolves each to its own data."""
    region = pq.read_table(f"{SF}/region.parquet")

    def write_region(d, n):  # n rows, cycling the real ones
        pq.write_table(
            pa.concat_tables([region] * n).slice(0, n), str(d / "region.parquet")
        )

    dirs = {"a": tmp_path / "a", "b": tmp_path / "b"}
    for d in dirs.values():
        d.mkdir()
        for name in TABLE_NAMES:
            shutil.copy(f"{SF}/{name}.parquet", d / f"{name}.parquet")
    write_region(dirs["a"], 3)
    write_region(dirs["b"], 4)

    created: list[str] = []
    frame = type(spark.range(1))  # the concrete (classic) DataFrame class
    create = frame.createOrReplaceTempView

    def counting(df, name):
        created.append(name)
        return create(df, name)

    monkeypatch.setattr(frame, "createOrReplaceTempView", counting)

    def region_rows(d):
        register_views(spark, str(d))
        return spark.sql("SELECT count(*) FROM region").first()[0]

    try:
        assert region_rows(dirs["a"]) == 3
        created.clear()
        register_views(spark, str(dirs["a"]))
        assert created == [], f"unchanged files re-created views {created}"

        write_region(dirs["a"], 5)
        assert region_rows(dirs["a"]) == 5, "view kept the rewritten file's old data"
        assert created == ["region"], created

        for d, n in (("b", 4), ("a", 5), ("b", 4)):
            assert region_rows(dirs[d]) == n, f"sf dir {d} resolved to other data"
    finally:
        register_views(spark, SF)
