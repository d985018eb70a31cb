"""The three workloads and what they share.

Each workload is a class with the same life cycle, driven by
``run.py``: ``setup(k)`` three times, then ``ops()`` — an endless,
seeded sequence of ``(kind, callable, rows)`` operations, one of each
kind per round, that the closed-loop client runs in whole rounds until
the deadline — then ``check()`` outside the timed region.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics

import numpy as np

#: every per-layer metric a traced run reports, with its unit; a layer a
#: workload does not exercise reads 0
LAYER_METRICS = {
    "sugar.parse_ms_p50": "ms",
    "sugar.plan_ms_p50": "ms",
    "sugar.plan_jobs": "count",
    "catalyst.optimize_ms_p50": "ms",
    **{f"exec.{t}.p50_ms": "ms" for t in (
        "point_range", "attr_filter", "multi_series", "bucket_agg", "rate",
        "asof_join", "fetch_ordered",
    )},
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "sources.bytes_per_user_byte": "ratio",
    "sources.compact_s": "s",
    "sources.fetch_ms_p50": "ms",
    "dedup.minhash_pairs_s": "s",
    "dedup.keep_best_s": "s",
    "dedup.groups_rounds": "count",
    "similarity.knn_graph_s": "s",
    "sugar.recursive_components_s": "s",
    "streaming.stream_write_s": "s",
    "streaming.sliding_agg_s": "s",
    "streaming.ewma_s": "s",
    "streaming.batches": "count",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
}

#: span layers whose self time a traced run reports
SELF_LAYERS = (
    "op", "sugar", "catalyst", "exec", "sources", "timeseries", "dedup",
    "similarity", "streaming", "spark.job",
)


class Workload:
    name = ""
    #: every kind of operation ``ops()`` yields; a run completes each once
    kinds: tuple[str, ...] = ()

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.properties: dict = {}
        self.result_rows = 0

    # ----------------------------------------------------------- helpers
    def rng(self, *salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *salt])

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def collect(self, df) -> list:
        """Plan (Catalyst, forced through ``executedPlan``) and execute
        ``df`` under separate spans; both happen on every run, traced or
        not, so the two kinds of run do the same work. Traced runs count
        the result rows."""
        with self.tracer.span("catalyst", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec", "exec"):
            rows = df.collect()
        if self.tracer.enabled:
            self.result_rows += len(rows)
        return rows

    def span_ms(self, name: str, by_op: str | None = None) -> list[float]:
        """Durations (ms) of the recorded spans called ``name``, optionally
        only those under operations of kind ``by_op``."""
        ops = {s.id: s.name for s in self.tracer.spans if s.parent is None}
        return [
            (s.end - s.start) * 1e3
            for s in self.tracer.spans
            if s.name == name and (by_op is None or ops.get(s.op) == by_op)
        ]

    @staticmethod
    def p50(values: list[float]) -> float:
        return statistics.median(values) if values else 0.0

    @staticmethod
    def mix(samples) -> dict[str, tuple[float, float, int]]:
        """Per kind of operation: (mean wall s, mean rows, count)."""
        by: dict[str, list[tuple[float, float]]] = {}
        for kind, wall, _, rows in samples:
            by.setdefault(kind, []).append((wall, rows))
        return {
            k: (statistics.fmean(w for w, _ in v), statistics.fmean(r for _, r in v), len(v))
            for k, v in by.items()
        }

    @staticmethod
    def latency(samples) -> dict[str, float]:
        """Latency and throughput over the run's operations, which are
        whole rounds, so each kind of operation weighs the same. The tail
        is p90, or with fewer than 100 operations the highest percentile
        that keeps ten of them beyond it (at least p50)."""
        walls = sorted(wall for _, wall, _, _ in samples)
        n = len(walls)
        tail = max(50.0, min(90.0, 100.0 * (1 - 10 / n)))

        def pct(q: float) -> float:
            return walls[max(0, math.ceil(q / 100 * n - 1e-9) - 1)] * 1e3

        total = sum(walls)
        return {
            "n": n,
            "p50_ms": statistics.median(walls) * 1e3,
            "tail_pct": tail,
            "tail_ms": pct(tail),
            "ops_per_s": n / total,
            "rows_per_s": sum(rows for *_, rows in samples) / total,
        }

    def span_layer_metrics(self) -> dict[str, float]:
        """The per-layer figures every workload derives the same way."""
        plan_ids = {s.id for s in self.tracer.spans if s.name == "sugar.plan"}
        plans = max(1, len(plan_ids))
        out = {
            "sugar.parse_ms_p50": self.p50(self.span_ms("sugar.parse")),
            "sugar.plan_ms_p50": self.p50(self.span_ms("sugar.plan")),
            "sugar.plan_jobs": sum(j.span in plan_ids for j in self.tracer.jobs) / plans,
            "catalyst.optimize_ms_p50": self.p50(self.span_ms("catalyst")),
            "sources.fetch_ms_p50": self.p50(self.span_ms("sources.fetch")),
        }
        for k in LAYER_METRICS:
            if k.startswith("exec."):
                out[k] = self.p50(self.span_ms("exec", by_op=k.split(".")[1]))
        return out

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        values = dict.fromkeys(LAYER_METRICS, 0.0)
        values.update(self.span_layer_metrics())
        values.update(self.own_layer_metrics())
        return {k: (float(values[k]), LAYER_METRICS[k]) for k in LAYER_METRICS}

    # ------------------------------------------------ workload interface
    def setup(self, k: int) -> None:
        raise NotImplementedError

    def ops(self):
        """Endless ``(kind, callable, rows)``: ``rows`` is the input the
        operation consumes, counted before it runs."""
        raise NotImplementedError

    def pause(self) -> None:
        """Called by a pipeline between its stages, off the operation's
        clock; the benchmark runs one probe rep here."""

    def warmup_ops(self):
        """Untimed operations run before the closed loop. Only a workload
        whose operations are short enough for JIT warm-up to dominate
        them warms up; the pipelines measure their first pass."""
        return ()

    def check(self) -> list[str]:
        raise NotImplementedError

    def headline(self, samples, setup_s: float, rss_mb: float, failed_frac: float) -> dict:
        raise NotImplementedError

    def own_layer_metrics(self) -> dict[str, float]:
        return {}


def store_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a family path, metadata files excluded."""
    files = size = 0
    for d, _, names in os.walk(path):
        if "_spark_metadata" in d:
            continue
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


from workloads.tsdb_query import TsdbQuery  # noqa: E402
from workloads.ingest_stream import IngestStream  # noqa: E402
from workloads.llm_dedup import LlmDedup  # noqa: E402

REGISTRY = {w.name: w for w in (TsdbQuery, IngestStream, LlmDedup)}
