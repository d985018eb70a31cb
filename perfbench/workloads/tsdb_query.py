"""tsdb_query: the read path.

Set-up writes one seeded series family through ``SeriesFamily.write``:
64 series over 30 daily partitions with ``dc``/``env`` tags and a
Zipf-skewed per-point ``host`` attribute. One closed-loop client then
runs a seeded sequence that cycles through seven query types, each
with its own range length (1 to 30 days, see ``SPAN_DAYS``) and ranges
biased toward the most recent days:

- ``point_range``   dialect ``SELECT s.host, s ... WHERE s < :x``
- ``attr_filter``   dialect ``... WHERE s.host = :h``
- ``multi_series``  dialect aggregate over three series
- ``bucket_agg``    ``fetch`` + ``timeseries.bucket_agg``
- ``rate``          ``fetch`` + ``timeseries.rate``
- ``asof_join``     two ``fetch``es + ``timeseries.asof_join``
- ``fetch_ordered`` ``fetch(ordered=True)``, first page of 2000 rows

Each result is checked against DuckDB over the generated parquet the
family was written from.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from boostdb_spark.operators import timeseries as tsops
from boostdb_spark.plans import sugar
from boostdb_spark.sources.seriesfamily import SeriesFamily
from boostdb_spark.verify import compare
from workloads import Workload, store_stats

ROWS = 240_000
SERIES = 64
DAYS = 30
HOSTS = 100_000
ZIPF_A = 1.2
TYPES = (
    "point_range", "attr_filter", "multi_series", "bucket_agg", "rate",
    "asof_join", "fetch_ordered",
)
#: range length in days of each query type: every round of seven queries
#: is the same mix, so a run's figures do not depend on how many rounds
#: it completed
SPAN_DAYS = {
    "point_range": 3, "attr_filter": 30, "multi_series": 7, "bucket_agg": 14,
    "rate": 1, "asof_join": 2, "fetch_ordered": 1,
}
#: how many of a query's four drawn series it reads
SERIES_PER_QUERY = {
    "point_range": 1, "attr_filter": 1, "multi_series": 3, "bucket_agg": 4,
    "rate": 1, "asof_join": 2, "fetch_ordered": 2,
}
BUCKET_S = 3600
FETCH_PAGE = 2000

DIALECT = {
    "point_range": "SELECT {a}.host, {a} FROM bench.metrics WHERE {a} < :x",
    "attr_filter": "SELECT {a}.ts, {a} FROM bench.metrics WHERE {a}.host = :h",
    "multi_series": (
        "SELECT {a}.series, count(*) AS n, min({a}) AS lo, max({b}) AS hi "
        "FROM bench.metrics WHERE {c} > :x GROUP BY {a}.series"
    ),
}

_RANGE = "ts >= {start} AND ts < {end}"
ORACLE = {
    "point_range": "SELECT host, value FROM t WHERE series = '{a}' AND "
    + _RANGE + " AND value < {x!r}",
    "attr_filter": "SELECT ts, value FROM t WHERE series = '{a}' AND "
    + _RANGE + " AND host = '{h}'",
    "multi_series": (
        "SELECT series, count(*) AS n, min(value) AS lo, max(value) AS hi "
        "FROM t WHERE series IN ('{a}', '{b}', '{c}') AND " + _RANGE
        + " AND value > {x!r} GROUP BY series"
    ),
    "bucket_agg": (
        "SELECT ts - ts % {bucket_ns} AS bucket, series, count(*) AS n, "
        "min(value) AS lo, max(value) AS hi, sum(value) AS total FROM t "
        "WHERE series IN ({inlist}) AND " + _RANGE + " GROUP BY 1, 2"
    ),
    "rate": (
        "WITH r AS (SELECT series, CASE WHEN ts - lag(ts) OVER w > 0 THEN "
        "(value - lag(value) OVER w) / (CAST(ts - lag(ts) OVER w AS DOUBLE)"
        " / CAST(1e9 AS DOUBLE)) END AS rate FROM t WHERE series = '{a}' AND "
        + _RANGE + " WINDOW w AS (PARTITION BY series ORDER BY ts)) "
        "SELECT series, count(rate) AS n, min(rate) AS lo, max(rate) AS hi "
        "FROM r GROUP BY series"
    ),
    "asof_join": (
        "WITH l AS (SELECT dc, ts, value FROM t WHERE series = '{a}' AND "
        + _RANGE + "), r AS (SELECT dc, ts, value FROM t WHERE series = '{b}'"
        " AND " + _RANGE + ") SELECT count(*) AS n, count(r.value) AS matched,"
        " max(r.ts) AS last_ts, sum(l.value - r.value) AS spread "
        "FROM l ASOF LEFT JOIN r ON l.dc = r.dc AND l.ts >= r.ts"
    ),
    "fetch_ordered": (
        "SELECT series, ts, value, host FROM t WHERE series IN ({inlist}) AND "
        + _RANGE + " ORDER BY series, ts LIMIT " + str(FETCH_PAGE)
    ),
}


class TsdbQuery(Workload):
    name = "tsdb_query"
    kinds = TYPES

    def __init__(self, *a):
        super().__init__(*a)
        self.write_s: list[float] = []
        self.results: list[dict] = []
        self.binding = sugar.SeriesFamilyBinding(view="bench__metrics")

    # -------------------------------------------------------------- set-up
    def setup(self, k: int) -> None:
        d = self.fresh(f"tsdb{k}")
        if k:
            self.fresh(f"tsdb{k - 1}")
        table = gen.datapoints(self.rng(0), ROWS, SERIES, DAYS, HOSTS, ZIPF_A)
        self.input = os.path.join(d, "input.parquet")
        pq.write_table(table, self.input)
        self.family = SeriesFamily(self.spark, "bench", "metrics", os.path.join(d, "store"))
        t0 = time.perf_counter()
        self.family.write(self.spark.read.parquet(self.input))
        self.write_s.append(time.perf_counter() - t0)
        self.family.register()
        self.table = table
        self._index(table)

    def _index(self, table) -> None:
        series = table.column("series").combine_chunks().indices.to_numpy()
        ts = table.column("ts").to_numpy()
        self.ts_by_series = [np.sort(ts[series == i]) for i in range(SERIES)]
        hosts = table.column("host").combine_chunks().indices.to_numpy()
        self.host_draw = hosts  # sampling a row's host follows the skew
        self.user_bytes = gen.user_bytes(table)
        counts = np.bincount(hosts, minlength=HOSTS)
        self.properties = {
            "rows": table.num_rows,
            "series": SERIES,
            "days": DAYS,
            "host_values": HOSTS,
            "host_values_seen": int((counts > 0).sum()),
            "host_zipf_a": ZIPF_A,
            "hot_host_share": float(counts.max() / counts.sum()),
            "range_days": SPAN_DAYS,
            "query_types": list(TYPES),
        }

    # ---------------------------------------------------------- operations
    def ops(self):
        return self._sequence(1)

    def warmup_ops(self):
        return itertools.islice(self._sequence(2), len(TYPES))

    def _sequence(self, salt: int):
        rng = self.rng(salt)
        names = gen.series_names(SERIES)
        i = 0
        while True:
            t = i % len(TYPES)
            kind = TYPES[t]
            span = SPAN_DAYS[kind]
            back = min(int(rng.geometric(0.35)) - 1, DAYS - span)
            start = gen.T0_NS + (DAYS - span - back) * gen.DAY_NS + int(
                rng.integers(0, 24)
            ) * 3_600 * 10**9
            s0 = int(rng.integers(0, SERIES))
            # the as-of pair shares a dc (series i has dc i % 4)
            s1 = (s0 + 4 * int(rng.integers(1, SERIES // 4))) % SERIES
            rest = [v for v in range(SERIES) if v not in (s0, s1)]
            s = [s0, s1, *(int(v) for v in rng.choice(rest, 2, replace=False))]
            p = {
                "start": start,
                "end": start + span * gen.DAY_NS,
                "span_days": span,
                "sids": s,
                "a": names[s[0]], "b": names[s[1]], "c": names[s[2]],
                "d": names[s[3]],
                "x": float(rng.integers(-60 * 1024, 180 * 1024)) / gen.VALUE_GRID,
                "h": f"h{int(self.host_draw[rng.integers(0, len(self.host_draw))]):06d}",
            }
            yield kind, self._op(kind, p), self._covered(p, kind)
            i += 1

    def _op(self, kind: str, p: dict):
        tr = self.tracer

        def dialect():
            with tr.span("sugar.parse", "sugar"):
                q = sugar.parse(DIALECT[kind].format(**p))
            with tr.span("sugar.plan", "sugar"):
                params = {"x": p["x"]} if kind != "attr_filter" else {"h": p["h"]}
                return sugar.plan(self.spark, q, self.binding, start=p["start"],
                                  end=p["end"], params=params)

        def fetch(series, ordered=False):
            with tr.span("sources.fetch", "sources"):
                return self.family.fetch(series, p["start"], p["end"], ordered=ordered)

        def run():
            if kind in DIALECT:
                df = dialect()
            elif kind == "bucket_agg":
                src = fetch([p["a"], p["b"], p["c"], p["d"]])
                with tr.span("timeseries.bucket_agg", "timeseries"):
                    df = tsops.bucket_agg(src, BUCKET_S, ["series"], [
                        F.count(F.lit(1)).alias("n"), F.min("value").alias("lo"),
                        F.max("value").alias("hi"), F.sum("value").alias("total"),
                    ])
            elif kind == "rate":
                src = fetch(p["a"]).select("series", "ts", "value")
                with tr.span("timeseries.rate", "timeseries"):
                    df = tsops.rate(src).groupBy("series").agg(
                        F.count("rate").alias("n"), F.min("rate").alias("lo"),
                        F.max("rate").alias("hi"),
                    )
            elif kind == "asof_join":
                left = fetch(p["a"]).select("dc", "ts", "value")
                right = fetch(p["b"]).select("dc", "ts", "value")
                with tr.span("timeseries.asof_join", "timeseries"):
                    df = tsops.asof_join(left, right, on=["dc"]).agg(
                        F.count(F.lit(1)).alias("n"),
                        F.count("value_right").alias("matched"),
                        F.max("ts_right").alias("last_ts"),
                        F.sum(F.col("value") - F.col("value_right")).alias("spread"),
                    )
            else:  # fetch_ordered
                df = fetch([p["a"], p["b"]], ordered=True).select(
                    "series", "ts", "value", "host"
                ).limit(FETCH_PAGE)
            rows = self.collect(df)
            self.results.append({"kind": kind, "p": p, "cols": df.columns, "rows": rows})

        return run

    # ---------------------------------------------------------- accounting
    def _covered(self, p: dict, kind: str) -> int:
        """Datapoints inside the query's series and time range."""
        return int(sum(
            np.searchsorted(self.ts_by_series[s], p["end"])
            - np.searchsorted(self.ts_by_series[s], p["start"])
            for s in p["sids"][:SERIES_PER_QUERY[kind]]
        ))

    def _in_range(self, p: dict) -> int:
        return int(sum(
            np.searchsorted(t, p["end"]) - np.searchsorted(t, p["start"])
            for t in self.ts_by_series
        ))

    def check(self) -> list[str]:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.input}')")
        failures = []
        for r in self.results:
            p = dict(r["p"])
            p["bucket_ns"] = BUCKET_S * 10**9
            n_in = 4 if r["kind"] == "bucket_agg" else 2
            p["inlist"] = ", ".join(f"'{p[k]}'" for k in "abcd"[:n_in])
            oracle = con.execute(ORACLE[r["kind"]].format(**p)).df()
            got = pd.DataFrame.from_records(
                [tuple(row) for row in r["rows"]], columns=r["cols"]
            )
            problems = compare(got, oracle)
            if r["kind"] == "fetch_ordered" and not problems:
                keys = list(zip(got["series"], got["ts"]))
                if keys != sorted(keys):
                    problems = ["fetch(ordered=True) rows are not in (series, ts) order"]
            if problems:
                failures.append(f"{r['kind']} {p['a']} [{p['start']}, {p['end']}): "
                                f"{problems[:3]}")
        con.close()
        self.properties["queries_checked"] = len(self.results)
        if self.results:
            self.properties["mean_range_days"] = statistics.fmean(
                r["p"]["span_days"] for r in self.results
            )
            # share of the family's datapoints outside each query's range
            self.properties["mean_pruned_frac"] = 1 - statistics.fmean(
                self._in_range(r["p"]) / self.table.num_rows for r in self.results
            )
        return failures

    # ------------------------------------------------------------- figures
    def headline(self, samples, setup_s, rss_mb, failed_frac) -> dict:
        lat = self.latency(samples)
        size = store_stats(self.family.path)[1]
        return {
            "query_p50_ms": [lat["p50_ms"], "ms"],
            "query_p90_ms": [lat["tail_ms"], "ms",
                             f"p{lat['tail_pct']:.0f} of {lat['n']} queries"],
            "queries_per_s": [lat["ops_per_s"], "1/s"],
            "ingest_rows_per_s": [ROWS / statistics.median(self.write_s), "1/s",
                                  "set-up SeriesFamily.write"],
            "bytes_stored_per_user_byte": [size / self.user_bytes, "ratio"],
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss_mb, "MB"],
            "failed_op_frac": [failed_frac, "ratio"],
        }

    def own_layer_metrics(self) -> dict[str, float]:
        files, size = store_stats(self.family.path)
        return {
            "sources.write_s": statistics.median(self.write_s),
            "sources.files_written": files,
            "sources.bytes_written": size,
            "sources.bytes_per_user_byte": size / self.user_bytes,
        }
