#!/usr/bin/env python
"""Grid A/B over events-table layout variants for the r14 corpus-layout
work: file count x row ordering, isolated via symlink-mix corpus dirs
(all tables symlink the r14 corpus; only events varies).

Variants:
  adj2    — pre-r14 layout (1-2 files, crossJoin adjacency, ~7.5 MB),
            built by ab_layout.ensure_old_layout when missing
  rr32    — r14 round-robin 32 files (scatter, ~21 MB)
  rr8     — round-robin 8 files (scatter)
  rng32   — repartitionByRange(32, event_id) + sortWithinPartitions(ts)

Usage: SPARK_GRAFT_CPUS=32 python scripts/ab_events_layout.py dq_schema_drift events_rfm_segments
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import bench  # noqa: E402
from ab_layout import ensure_old_layout  # noqa: E402
from opusdb_spark.registry import queries  # noqa: E402
from opusdb_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    rounds = int(os.environ.get("AB_ROUNDS", "3"))
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="ab-events-layout")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    new_dir = bench.ensure_sf1(spark, src)
    old_dir = ensure_old_layout(spark, src)
    scratch = os.path.join(_REPO, ".scratch")

    ev_new = spark.read.parquet(f"{new_dir}/events.parquet")
    variants = {"adj2": f"{old_dir}/events.parquet"}
    # the current corpus leaves events unsplit, so the round-robin
    # variants are written here rather than aliased to the corpus
    for n in (32, 8):
        p = f"{scratch}/ab_ev_rr{n}"
        if not os.path.exists(p):
            ev_new.repartition(n).write.parquet(p)
        variants[f"rr{n}"] = p
    p = f"{scratch}/ab_ev_rng32"
    if not os.path.exists(p):
        ev_new.repartitionByRange(32, "event_id").sortWithinPartitions(
            "event_id"
        ).write.parquet(p)
    variants["rng32"] = p

    # symlink-mix dirs
    mixes = {}
    for tag, evp in variants.items():
        d = f"{scratch}/ab_mix_{tag}"
        os.makedirs(d, exist_ok=True)
        for t in bench._KEY_COLS:
            link = f"{d}/{t}.parquet"
            target = (
                os.path.abspath(evp)
                if t == "events"
                else f"{new_dir}/{t}.parquet"
            )
            if os.path.islink(link):
                os.remove(link)
            os.symlink(target, link)
        mixes[tag] = d

    for name in names:
        for tag, d in mixes.items():
            qs[name](spark, d).count()  # warm
        best = {t: float("inf") for t in mixes}
        for _ in range(rounds):
            for tag, d in mixes.items():
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                qs[name](spark, d).count()
                best[tag] = min(best[tag], time.perf_counter() - t0)
        print(
            name,
            " ".join(f"{t}={best[t]:.3f}s" for t in best),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
