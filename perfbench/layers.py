"""Per-layer metrics of the traced run, built from the spans, the UDF
accumulators and the metastore's files around each traced op.

Times and counts are means per traced op, so they do not depend on how many
ops fit in a run. A layer the workload bypasses reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from .tracer import COUNTERS, Tracer

COUNTER_LAYERS = ("sources.storage", "catalog", "delta", "chain", "ops")
COUNTER_UNITS = {"spark_jobs": "count", "tasks": "count", "executor_run_s": "s",
                 "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
                 "shuffle_read_bytes": "bytes", "input_bytes": "bytes",
                 "output_bytes": "bytes"}


class LayerStats:
    def __init__(self):
        self.ops = 0
        self.sum: dict[str, float] = defaultdict(float)

    def add_op(self, tracer: Tracer, op: int, res, before, after) -> None:
        """Add traced op ``op``: its spans, and the (accumulator values,
        metastore file sizes) pairs taken ``before`` and ``after`` it."""
        s = self.sum
        self.ops += 1
        spans = [sp for sp in tracer.spans if sp.op == op]
        for sp in spans:
            if sp.layer == "sources.storage":
                s["sources.storage.list_s"] += tracer.self_time(sp)
            elif sp.layer == "catalog":
                s[f"catalog.{sp.kind}_s"] += tracer.self_time(sp)
                if sp.kind == "save":
                    s["save_executor_run_s"] += sp.counters.get("executor_run_s", 0)
            elif sp.layer == "delta":
                s["delta.refresh_s"] += sp.end - sp.start
            elif sp.layer == "chain":
                s[f"chain.{sp.kind}_s"] += tracer.self_time(sp)
            elif sp.layer == "ops":
                s["ops.s"] += sp.end - sp.start
            if sp.layer in COUNTER_LAYERS:
                for c in COUNTERS:
                    s[f"{sp.layer}.{c}"] += sp.counters.get(c, 0)
        (acc0, files0), (acc1, files1) = before, after
        acc = {k: acc1[k] - acc0[k] for k in acc0}
        s["sources.files.read_s"] += acc["read_s"]
        s["sources.files.bytes_read"] += acc["bytes_read"]
        s["udf.rows_in"] += acc["rows_in"]
        s["udf.rows_out"] += acc["rows_out"]
        s["udf.body_s"] += acc["body_s"]
        new = {p: n for p, n in files1.items() if files0.get(p) != n}
        s["catalog.files_written"] += len(new)
        s["catalog.bytes_written"] += sum(new.values())
        if res is not None:
            if any(sp.layer == "sources.storage" for sp in spans):
                s["sources.storage.files_listed"] += res.listed
            if any(sp.layer == "delta" for sp in spans):
                s["delta.rows_reprocessed"] += acc["rows_in"]
                s["delta.rows_changed"] += res.changed
            s["chain.rows_collected"] += res.collected

    def metrics(self, start_s, warmup_s, jvm_peak_rss_mb, py_peak_rss_mb,
                versions, latencies) -> dict[str, tuple[float, str]]:
        s, n = self.sum, max(self.ops, 1)

        def per_op(key: str) -> float:
            return s[key] / n

        traced = [lat for t, lat in latencies if t]
        untraced = [lat for t, lat in latencies if not t]
        m = {
            "session.start_s": (start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "session.jvm_peak_rss_mb": (jvm_peak_rss_mb, "MB"),
            "session.py_peak_rss_mb": (py_peak_rss_mb, "MB"),
            "sources.storage.list_s": (per_op("sources.storage.list_s"), "s"),
            "sources.storage.files_listed": (per_op("sources.storage.files_listed"), "count"),
            "sources.storage.us_per_file": (
                1e6 * s["sources.storage.list_s"] / s["sources.storage.files_listed"]
                if s["sources.storage.files_listed"] else 0.0, "us"),
            "sources.files.read_s": (per_op("sources.files.read_s"), "s"),
            "sources.files.bytes_read": (per_op("sources.files.bytes_read"), "bytes"),
            "udf.rows_in": (per_op("udf.rows_in"), "count"),
            "udf.rows_out": (per_op("udf.rows_out"), "count"),
            "udf.body_s": (per_op("udf.body_s"), "s"),
            "udf.engine_s": (
                per_op("save_executor_run_s") - per_op("udf.body_s")
                - per_op("sources.files.read_s")
                if s["udf.rows_in"] else 0.0, "s"),
            "catalog.save_s": (per_op("catalog.save_s"), "s"),
            "catalog.load_s": (per_op("catalog.load_s"), "s"),
            "catalog.files_written": (per_op("catalog.files_written"), "count"),
            "catalog.bytes_written": (per_op("catalog.bytes_written"), "bytes"),
            "catalog.versions": (versions, "count"),
            "delta.refresh_s": (per_op("delta.refresh_s"), "s"),
            "delta.rows_reprocessed": (per_op("delta.rows_reprocessed"), "count"),
            "delta.rows_changed": (per_op("delta.rows_changed"), "count"),
            "delta.useful_ratio": (
                s["delta.rows_changed"] / s["delta.rows_reprocessed"]
                if s["delta.rows_reprocessed"] else 0.0, "ratio"),
            "chain.plan_s": (per_op("chain.plan_s"), "s"),
            "chain.collect_s": (per_op("chain.collect_s"), "s"),
            "chain.rows_collected": (per_op("chain.rows_collected"), "count"),
            "ops.s": (per_op("ops.s"), "s"),
        }
        for layer in COUNTER_LAYERS:
            for c in COUNTERS:
                m[f"{layer}.{c}"] = (per_op(f"{layer}.{c}"), COUNTER_UNITS[c])
        m["trace.traced_ops"] = (float(len(traced)), "count")
        m["trace.overhead_s"] = (
            statistics.median(traced) - statistics.median(untraced)
            if traced and untraced else 0.0, "s")
        return m
