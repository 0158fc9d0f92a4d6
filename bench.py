#!/usr/bin/env python
"""Benchmark runner (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() materializes every
partition) after a warm-up of the session; per-query wall-clock is
end-to-end including planning. Each query runs REPS times (default 3,
override with $SPARK_GRAFT_BENCH_REPS) and reports the MINIMUM, with
every raw sample kept in the JSON under "runs" — identical-code
headline runs have spanned 10.7–23.6 s under hypervisor co-tenancy
invisible to loadavg (r12 verdict action #5), and the minimum is the
sample least polluted by neighbors, i.e. the one that measures CODE.
A single-shot number let one co-tenant blip become the round's number
of record (round-3 verdict: quiet-run vs driver-run deltas of 50%+ on
local_supply_revenue / returned_revenue_by_customer).
"""

from __future__ import annotations

import json
import os
import time

from apache_iceberg_tables_migration_tool_spark.queries import QUERIES
from apache_iceberg_tables_migration_tool_spark.session import get_spark


def _loadavg() -> list[float] | None:
    """1/5/15-minute load averages — recorded into the bench JSON so a
    co-tenant-noisy run is tellable from a regression at a glance
    (three rounds of bench archaeology went to exactly that question;
    verdict r11 action #7)."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except (OSError, ValueError):
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    load_before = _loadavg()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    headline = [n for n, s in QUERIES.items() if s.headline]
    # Warm-up (excluded from timings per BASELINE.md): session spin-up,
    # then each headline query once at the smallest SF — this JITs each
    # query's generated code and starts the Arrow/Python UDF workers, so
    # the timed sf0.1 pass measures steady-state throughput instead of
    # first-use compilation (which a long-lived cluster never re-pays).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        try:
            QUERIES[name].fn(spark, warm_dir).count()
        except Exception:
            pass  # warm-up must never fail the bench

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))

    raw_runs: dict[str, list[float]] = {}

    def run_set(names: list[str]) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            samples = []
            for _ in range(reps):
                t0 = time.monotonic()
                df = QUERIES[name].fn(spark, sf_dir)
                df.count()
                samples.append(round(time.monotonic() - t0, 3))
            raw_runs[name] = samples
            out[name] = min(samples)
        return out

    timings = run_set(headline)
    # Feature-tier wall-clocks (round-4 verdict action #6): the
    # snapshot-catalog lifecycle + corpus pipeline, timed SEPARATELY so
    # the headline total stays comparable to BASELINE.md round-over-
    # round. These are write-heavy e2e pipelines (catalog commits, MOR
    # deletes, CDC replay, WAP publish), not scan queries.
    feature = run_set(
        [
            "merge_on_read_lifecycle",
            "changelog_cdc_stream",
            "corpus_build_e2e",
            # round 8: the join-view IVM family's carrier — commit-count
            # cost class; tracked so refresh-regressions surface per round
            "incremental_join_view",
            # round 15 (verdict r14 #4): the join-CHAIN IVM carrier —
            # its `_df_key_pruned` prune fusion shipped in r14 without a
            # timing row; additions-only so prior rounds stay comparable
            "incremental_join_chain_view",
        ]
    )
    # round 14 (verdict r13 #7): the BASELINE B2 row — create target
    # tables + copy data + verify (reference stages 3/5/6), tracked so
    # a B2 regression is visible per round under the same min-of-reps
    # protocol. The SOURCE warehouse is a fixture precondition (the
    # reference migrates an EXISTING catalog), so it is built ONCE
    # outside the timer; each rep runs plan → migrate → verify into a
    # FRESH destination. B2 = 23.04 s (r3 quiet measurement: 11.45 s).
    import shutil
    import tempfile

    from apache_iceberg_tables_migration_tool_spark.plans import (
        collect_plan,
        migrate,
        verify,
    )
    from apache_iceberg_tables_migration_tool_spark.queries.migration import (
        _T,
        build_source_warehouse,
    )
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog

    b2_root = tempfile.mkdtemp(prefix="bench_b2_")
    try:
        src_cat = build_source_warehouse(spark, sf_dir, b2_root)
        samples = []
        for i in range(reps):
            dst = SnapCatalog(os.path.join(b2_root, f"dst{i}"))
            t0 = time.monotonic()
            plan = collect_plan(src_cat, as_of="2024-06-03T12:00:00+00:00")
            migrate(spark, plan, src_cat, dst, committed_at=_T[4])
            rows = verify(spark, plan, src_cat, dst).collect()
            samples.append(round(time.monotonic() - t0, 3))
            bad = [r.asDict() for r in rows if r["status"] != "success"]
            if bad:  # a wrong verification must not post a time
                raise RuntimeError(f"migration_e2e: verify failed: {bad}")
            shutil.rmtree(os.path.join(b2_root, f"dst{i}"), ignore_errors=True)
        raw_runs["migration_e2e"] = samples
        feature["migration_e2e"] = min(samples)
    finally:
        shutil.rmtree(b2_root, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "runs": raw_runs,
                "feature_queries": feature,
                "feature_total_sec": round(sum(feature.values()), 3),
                "sf": sf,
                "loadavg_before": load_before,
                "loadavg_after": _loadavg(),
            }
        )
    )


if __name__ == "__main__":
    main()
