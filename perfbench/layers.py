"""Per-layer metrics of a traced run.

``PER_LAYER`` names every per-layer metric with its unit (BENCHMARK.json
lists the same ones). ``layer_metrics`` derives them from the tracer's
spans and Spark counters. A metric of a layer the workload does not cross
reads 0. Times per op are medians over the traced ops that cross the layer;
``self.*`` times are means per traced op, so they add up to the mean op.
"""

from __future__ import annotations

import os
import statistics
import tempfile

from perfbench.trace import LAYERS

PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.scheduler.jobs": "count",
    "spark.scheduler.stages": "count",
    "spark.scheduler.tasks": "count",
    "spark.scheduler.driver_gap_s": "s",
    "spark.scheduler.slot_use": "ratio",
    "spark.exec.run_s": "s",
    "spark.exec.cpu_s": "s",
    "spark.exec.input_bytes": "bytes",
    "spark.exec.shuffle_write_bytes": "bytes",
    "spark.exec.shuffle_read_bytes": "bytes",
    "spark.exec.spill_bytes": "bytes",
    "pipeline.build_s": "s",
    "pipeline.collect_s": "s",
    "pipeline.python_total_ms": "ms",
    "pipeline.python_boot_ms": "ms",
    "pipeline.python_bytes_sent": "bytes",
    "pipeline.python_bytes_received": "bytes",
    "pipeline.python_rows_received": "count",
    "functions.minhash_lsh_pairs_s": "s",
    "functions.cosine_topk_s": "s",
    "sources.snapshots.write_s": "s",
    "sources.snapshots.merge_s": "s",
    "sources.snapshots.delete_s": "s",
    "sources.snapshots.delete_dv_s": "s",
    "sources.snapshots.update_s": "s",
    "sources.snapshots.read_s": "s",
    "sources.snapshots.jobs_per_commit": "count",
    "sources.snapshots.files_rewritten": "count",
    "sources.snapshots.write_amp": "ratio",
    "sources.snapshots.space_amp": "ratio",
    "streaming.drain_s": "s",
    "streaming.start_gap_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "trace.overhead": "ratio",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}

# counter record key -> metric name
_COUNTERS = {
    "analysis_ms": "spark.catalyst.analysis_ms",
    "optimization_ms": "spark.catalyst.optimization_ms",
    "planning_ms": "spark.catalyst.planning_ms",
    "jobs": "spark.scheduler.jobs",
    "stages": "spark.scheduler.stages",
    "tasks": "spark.scheduler.tasks",
    "driver_gap_s": "spark.scheduler.driver_gap_s",
    "slot_use": "spark.scheduler.slot_use",
    "run_s": "spark.exec.run_s",
    "cpu_s": "spark.exec.cpu_s",
    "input_bytes": "spark.exec.input_bytes",
    "shuffle_write_bytes": "spark.exec.shuffle_write_bytes",
    "shuffle_read_bytes": "spark.exec.shuffle_read_bytes",
    "spill_bytes": "spark.exec.spill_bytes",
    "python_total_ms": "pipeline.python_total_ms",
    "python_boot_ms": "pipeline.python_boot_ms",
    "python_bytes_sent": "pipeline.python_bytes_sent",
    "python_bytes_received": "pipeline.python_bytes_received",
    "python_rows_received": "pipeline.python_rows_received",
    "start_gap_s": "streaming.start_gap_s",
    "triggers": "streaming.triggers",
    "trigger_ms": "streaming.trigger_ms",
    "add_batch_ms": "streaming.add_batch_ms",
    "query_planning_ms": "streaming.query_planning_ms",
    "wal_commit_ms": "streaming.wal_commit_ms",
    "latest_offset_ms": "streaming.latest_offset_ms",
    "state_rows": "streaming.state_rows",
    "state_bytes": "streaming.state_bytes",
}
COMMITS = ("write", "merge", "delete", "delete_dv", "update")


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _span_sum(rec, layer, sub=None) -> float:
    return sum(d for name, s, d, _ in rec["spans"] if name == layer and (sub is None or s == sub))


def layer_metrics(tracer, wl, spark, get_spark_s: float, kinds: dict) -> dict[str, tuple[float, str]]:
    recs = tracer.records
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.get_spark_s"] = get_spark_s
    python_ops = [r for r in recs if _span_sum(r, "pipeline") + _span_sum(r, "functions") > 0]
    for key, name in _COUNTERS.items():
        if name.startswith("streaming."):
            out[name] = _median(r[key] for r in recs if key in r and r.get("triggers"))
        elif name.startswith("pipeline."):
            out[name] = _median(r[key] for r in python_ops)
        else:
            out[name] = _median(r[key] for r in recs if key in r)

    def spans(layer, sub=None, plus_action=False):
        return _median(
            _span_sum(r, layer, sub) + (_span_sum(r, "spark.action") if plus_action else 0.0)
            for r in recs
            if _span_sum(r, layer, sub) > 0
        )

    out["queries.build_s"] = spans("queries")
    out["pipeline.build_s"] = spans("pipeline")
    out["pipeline.collect_s"] = _median(
        _span_sum(r, "spark.action") for r in recs if _span_sum(r, "pipeline") > 0
    )
    out["functions.minhash_lsh_pairs_s"] = _median(
        _span_sum(r, "functions") + _span_sum(r, "spark.action") for r in recs if r["kind"] == "minhash_lsh"
    )
    out["functions.cosine_topk_s"] = _median(
        _span_sum(r, "functions") + _span_sum(r, "spark.action") for r in recs if r["kind"] == "cosine_topk"
    )
    for sub in COMMITS:
        out[f"sources.snapshots.{sub}_s"] = spans("sources.snapshots", sub)
    out["sources.snapshots.read_s"] = spans("sources.snapshots", "read", plus_action=True)
    out["sources.snapshots.jobs_per_commit"] = _median(
        j for r in recs for name, s, _, j in r["spans"] if name == "sources.snapshots" and s in COMMITS
    )
    out["streaming.drain_s"] = spans("streaming")
    out.update(wl.layer_extras(spark, recs))

    # tracing overhead: per op kind, traced median over untraced median
    med = {side: {} for side in kinds}
    for side, samples in kinds.items():
        by_kind: dict[str, list[float]] = {}
        for kind, dt in samples:
            by_kind.setdefault(kind, []).append(dt)
        med[side] = {k: statistics.median(v) for k, v in by_kind.items()}
    both = sorted(set(med["plain"]) & set(med["traced"]))
    if both:
        out["trace.overhead"] = sum(med["traced"][k] for k in both) / sum(med["plain"][k] for k in both) - 1

    for layer in LAYERS:
        out[f"self.{layer}_s"] = statistics.fmean(r["self"][layer] for r in recs) if recs else 0.0
    out["self.session_s"] = get_spark_s
    return {name: (float(out[name]), unit) for name, unit in PER_LAYER.items()}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def snapshot_extras(spark, table_dir: str, recs: list[dict], changed: dict[int, int]) -> dict:
    """Write and space amplification of a snapshot table after a traced
    pass. ``changed`` maps an op id to the rows its commit changed."""
    from ray_beam_runner_spark.sources import snapshots as S

    live = S.read_snapshot(spark, table_dir)
    n_live = live.count()
    fresh = tempfile.mkdtemp(prefix="fresh_")
    S.write_snapshot(live, fresh, cluster_by=["o_orderkey"])
    fresh_bytes = dir_bytes(fresh)
    per_row = fresh_bytes / max(n_live, 1)
    amps = [
        r["commit_bytes"] / (changed[r["op"]] * per_row)
        for r in recs
        if "commit_bytes" in r and changed.get(r["op"])
    ]
    hist = S.snapshot_history(spark, table_dir).toPandas()
    return {
        "sources.snapshots.files_rewritten": _median(hist["n_rewrote"].dropna()),
        "sources.snapshots.write_amp": _median(amps),
        "sources.snapshots.space_amp": dir_bytes(table_dir) / fresh_bytes,
    }
