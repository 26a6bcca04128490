"""Table loaders over the driver's parquet testdata.

All ten tables (TESTDATA.md / FIXTURES.md) load through here so every
query sees identical schemas. The one normalization: `events.ts` is
TIMESTAMP(NANOS) parquet, which Spark reads as int64 nanos (with
`nanosAsLong`); we truncate to microseconds as timestamp_ntz — exactly
what the DuckDB oracle does natively, so values hash-match.

Scale notes: at 100 TB these reads are partitioned parquet scans;
filters/projections applied by callers reach the scan via Catalyst
pushdown (verified in tests/test_plans.py). Loaders never collect.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opusdb_spark.session import apply_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# timestampadd over int64 nanos div 1000 is timezone-independent
# (pure NTZ arithmetic), unlike timestamp_micros + cast which would
# route through the session timezone.
_EVENTS_TS_EXPR = (
    "timestampadd(MICROSECOND, ts div 1000, timestamp_ntz'1970-01-01 00:00:00')"
)


# DataFrame-handle memo, keyed per live session (weak: a stopped
# session's entries die with it) then by (abspath, store_stat_tag) so a
# rewritten store — ensure_written rebuilds bump the directory mtime —
# can never serve a stale file listing. Why this exists (r12, the
# VERDICT r11 TPC-H-drift investigation): every `spark.read.parquet`
# launches one footer/schema-read JOB even for a path read a moment
# ago, and on this VM a job costs 55-130 ms of scheduler floor
# depending on the window. register_views pays that 10× per call, so
# each sf0.1 TPC-H query ran ~10 overhead jobs + ~2-10 real ones —
# the measured r8→r11 "drift" (15.09→19.48 s on byte-identical plans)
# was exactly (number of jobs) × (that round's per-job floor). Reusing
# the resolved handle removes the footer jobs; the query plan below it
# is unchanged (same logical scan), so oracle parity and plan pins are
# untouched. At cluster scale this is also just correct practice: one
# schema resolution per table, not one per query.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with normalized schema."""
    from opusdb_spark.sources.formats import store_stat_tag

    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    # content-derived tag (ADVICE r12): mtime_ns+size+ino for the
    # single-file testdata tables, plus a child-stat fingerprint when
    # a table is a parquet DIRECTORY — invalidation no longer depends
    # on filesystem timestamp granularity
    tag = store_stat_tag(path)  # None -> nonexistent (read error below)
    # keyed by PATH with the stat as a replace-on-change tag: a
    # rewritten table evicts its predecessor's handle instead of
    # pinning it for the session's lifetime (bounded by #tables)
    cache = _TABLE_CACHE.setdefault(spark, {})
    key = os.path.abspath(path)
    hit = cache.get(key)
    if tag is not None and hit is not None and hit[0] == tag:
        return hit[1]
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr(_EVENTS_TS_EXPR))
    if tag is not None:
        cache[key] = (tag, df)
    return df


# View memo, keyed per live session like _TABLE_CACHE: view name -> the
# table() handle the view was last created from. Creating a view
# analyzes its plan and replaces the session catalog entry, and every
# SQL query build registers all ten, so register_views re-creates only
# a view whose handle changed: a rewritten file or another sf_dir. The
# views named in TABLE_NAMES belong to register_views; code that
# replaces or drops one of them behind its back is not seen here.
_VIEW_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for spark.sql queries)."""
    views = _VIEW_HANDLES.setdefault(spark, {})
    for name in TABLE_NAMES:
        df = table(spark, sf_dir, name)
        if views.get(name) is not df:
            df.createOrReplaceTempView(name)
            views[name] = df
