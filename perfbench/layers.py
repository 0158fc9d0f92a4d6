"""Per-layer instrumentation for the traced run: which public
functions of the engine get a span, and how the spans (plus samples
the workloads take) turn into the per-layer metrics."""

from __future__ import annotations

import statistics

from tracer import SparkCounters, Tracer, catalyst_ms, span_spark
from workloads import Workload, p50

#: metric name → unit; the order of the traced run's report
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "snapcat.write.busy_s": "s",
    "snapcat.write.files": "count",
    "snapcat.cow.busy_s": "s",
    "snapcat.cow.bytes_per_user_byte": "ratio",
    "snapcat.mor.busy_s": "s",
    "snapcat.meta_bytes_per_commit": "B",
    "snapcat.read_where.plan_ms": "ms",
    "snapcat.files_kept_ratio": "ratio",
    "snapcat.live_delete_files": "count",
    "snapcat.resolve_snapshot.calls": "count",
    "snapcat.resolve_snapshot.busy_ms": "ms",
    "snapcat.compact.busy_s": "s",
    "snapcat.compact.bytes_rewritten": "B",
    "snapcat.expire_snapshots.busy_ms": "ms",
    "snapcat.space_per_live_byte": "ratio",
    "snapcat.changelog.busy_ms": "ms",
    "snapcat.changelog.rows": "count",
    "snapcat.publish.busy_ms": "ms",
    "plans.collect_plan.busy_ms": "ms",
    "plans.migrate.busy_s": "s",
    "plans.verify.busy_s": "s",
    "integrity.table_checksum.calls": "count",
    "integrity.table_checksum.busy_s": "s",
    "plans.build_corpus.busy_s": "s",
    "corpus.accept_ratio": "ratio",
    "dedup.dedup_batch_against_corpus.busy_s": "s",
    "curation.source_reputation.busy_s": "s",
    "curation.contamination.busy_s": "s",
    "ivm.join_delta.calls": "count",
    "pipelines.refresh_join_chain_view.busy_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "catalyst.plan_ms": "ms",
    "proc.cpu_util": "ratio",
}


def _by_mode(verb: str, default: str):
    def name(*args, **kwargs) -> str:
        mode = kwargs.get("mode", default)
        return f"snapcat.{'cow' if mode == 'copy-on-write' else 'mor'}.{verb}"
    return name


def _added_bytes(tbl, snap) -> int:
    if snap.parent_id is None:
        return snap.total_bytes
    old = {f.path for f in tbl.resolve_snapshot(snapshot_id=snap.parent_id).files}
    return sum(f.bytes for f in snap.files if f.path not in old)


def install(tracer: Tracer) -> None:
    """Wrap the layers' public functions. Traced run only."""
    from apache_iceberg_tables_migration_tool_spark.operators import (
        curation, dedup, integrity, ivm,
    )
    from apache_iceberg_tables_migration_tool_spark.plans import corpus, migrator, plan, verifier
    from apache_iceberg_tables_migration_tool_spark.sources.snapcat import SnapCatalog, SnapTable
    from apache_iceberg_tables_migration_tool_spark.streaming import pipelines

    w = tracer.wrap
    w(SnapCatalog, "write", "snapcat.write", on_result=lambda sp, a, kw, out: sp.attrs.update(
        files=int(out.summary.get("added-data-files", len(out.files)))))
    w(SnapCatalog, "upsert", "snapcat.cow.upsert")
    w(SnapCatalog, "update_where", _by_mode("update_where", "copy-on-write"))
    w(SnapCatalog, "delete_where", _by_mode("delete_where", "copy-on-write"))
    w(SnapCatalog, "delete_keys", _by_mode("delete_keys", "merge-on-read"))
    w(SnapCatalog, "upsert_mor", "snapcat.mor.upsert_mor")
    w(SnapCatalog, "compact", "snapcat.compact", on_result=lambda sp, a, kw, out: sp.attrs.update(
        bytes_rewritten=_added_bytes(a[0].table(a[1], a[2]), out)))
    w(SnapCatalog, "expire_snapshots", "snapcat.expire_snapshots")
    w(SnapCatalog, "publish", "snapcat.publish")
    w(SnapTable, "read_where", "snapcat.read_where")
    w(SnapTable, "plan_files", "snapcat.plan_files",
      on_result=lambda sp, a, kw, out: sp.attrs.update(kept=len(out)))
    w(SnapTable, "resolve_snapshot", "snapcat.resolve_snapshot")
    w(SnapTable, "changelog", "snapcat.changelog",
      on_result=lambda sp, a, kw, out: sp.attrs.update(df=out))
    w(plan, "collect_plan", "plans.collect_plan")
    w(migrator, "migrate", "plans.migrate")
    w(verifier, "verify", "plans.verify")
    w(corpus, "build_corpus", "plans.build_corpus")
    w(integrity, "table_checksum", "integrity.table_checksum")
    w(integrity, "checksum_df", "integrity.checksum_df",
      on_result=lambda sp, a, kw, out: tracer.plans.append(out))
    w(dedup, "dedup_batch_against_corpus", "dedup.dedup_batch_against_corpus")
    w(curation, "source_reputation", "curation.source_reputation")
    w(curation, "contamination", "curation.contamination")
    w(ivm, "join_delta", "ivm.join_delta")
    w(pipelines, "refresh_join_chain_view", "pipelines.refresh_join_chain_view")


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def spark_detail(tracer: Tracer, counters: SparkCounters) -> dict[int, tuple[int, int, int]]:
    """Stage/task counts of every job that ran inside a span."""
    done = [s for s in tracer.spans if s.job1 > s.job0]
    if not done:
        return {}
    return counters.job_detail(min(s.job0 for s in done), max(s.job1 for s in done))


def metrics(tracer: Tracer, wl: Workload, session_s: float, detail,
            cpu_util: float) -> dict[str, float]:
    """Every per-layer metric of one traced run (0 where the workload
    does not touch the layer)."""
    spans, L = tracer.spans, wl.layer
    by_id = {s.sid: s for s in spans}
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    ms = lambda n: 1000 * tracer.busy(n)  # noqa: E731
    read_plans = [s.duration * 1000 for s in named("snapcat.plan_files")
                  if s.parent is not None and by_id[s.parent].name == "snapcat.read_where"]
    ops = [s for s in spans if s.name.startswith("op.")]
    engine = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for s in ops:
        for k, v in span_spark(s, detail).items():
            engine[k] += v
    refreshes = len(named("op.refresh"))
    user_bytes = sum(L["cow_user_bytes"])
    return {
        "session.start_s": session_s,
        "snapcat.write.busy_s": tracer.busy("snapcat.write"),
        "snapcat.write.files": sum(s.attrs.get("files", 0) for s in named("snapcat.write")),
        "snapcat.cow.busy_s": tracer.busy("snapcat.cow"),
        "snapcat.cow.bytes_per_user_byte": sum(L["cow_bytes_added"]) / user_bytes if user_bytes else 0.0,
        "snapcat.mor.busy_s": tracer.busy("snapcat.mor"),
        "snapcat.meta_bytes_per_commit": _mean(L["meta_bytes"]),
        "snapcat.read_where.plan_ms": p50(read_plans),
        "snapcat.files_kept_ratio": _mean(L["files_kept_ratio"]),
        "snapcat.live_delete_files": _mean(L["live_delete_files"]),
        "snapcat.resolve_snapshot.calls": tracer.calls("snapcat.resolve_snapshot"),
        "snapcat.resolve_snapshot.busy_ms": ms("snapcat.resolve_snapshot"),
        "snapcat.compact.busy_s": tracer.busy("snapcat.compact"),
        "snapcat.compact.bytes_rewritten": sum(s.attrs.get("bytes_rewritten", 0)
                                               for s in named("snapcat.compact")),
        "snapcat.expire_snapshots.busy_ms": ms("snapcat.expire_snapshots"),
        "snapcat.space_per_live_byte": _mean(L["space_per_live_byte"]),
        "snapcat.changelog.busy_ms": ms("snapcat.changelog"),
        "snapcat.changelog.rows": sum(L["changelog_rows"]),
        "snapcat.publish.busy_ms": ms("snapcat.publish"),
        "plans.collect_plan.busy_ms": ms("plans.collect_plan"),
        "plans.migrate.busy_s": tracer.busy("plans.migrate"),
        "plans.verify.busy_s": tracer.busy("plans.verify"),
        "integrity.table_checksum.calls": tracer.calls("integrity.table_checksum"),
        "integrity.table_checksum.busy_s": tracer.busy("integrity.table_checksum"),
        "plans.build_corpus.busy_s": tracer.busy("plans.build_corpus"),
        "corpus.accept_ratio": _mean(L["accept_ratio"]),
        "dedup.dedup_batch_against_corpus.busy_s": tracer.busy("dedup.dedup_batch_against_corpus"),
        "curation.source_reputation.busy_s": tracer.busy("curation.source_reputation"),
        "curation.contamination.busy_s": tracer.busy("curation.contamination"),
        "ivm.join_delta.calls": tracer.calls("ivm.join_delta") / refreshes if refreshes else 0.0,
        "pipelines.refresh_join_chain_view.busy_s": tracer.busy("pipelines.refresh_join_chain_view"),
        "spark.jobs": engine["jobs"],
        "spark.stages": engine["stages"],
        "spark.tasks": engine["tasks"],
        "spark.failed_tasks": engine["failed_tasks"],
        "catalyst.plan_ms": sum(catalyst_ms(df) for df in tracer.plans),
        "proc.cpu_util": cpu_util,
    }


def self_time_by_layer(tracer: Tracer) -> dict[str, float]:
    """Self seconds summed per span name: where the traced time went."""
    out: dict[str, float] = {}
    for sid, t in tracer.self_times().items():
        name = tracer.spans[sid].name
        out[name] = out.get(name, 0.0) + t
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
