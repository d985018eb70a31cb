"""llm_dedup: iterative LLM-data pipelines bound by driver barrier jobs.

Set-up generates a corpus with planted near-duplicate clusters and a
table of clustered embeddings with planted near-duplicate vectors. One
closed-loop client repeats the pipeline; a pass through all its stages
is one closed-loop operation:

- ``minhash_pairs``: ``dedup.minhash_lsh_pairs`` (exact-Jaccard verified);
- ``keep_best``: ``dedup.keep_best`` over that pair table, whose
  ``dedup_groups`` loop runs one collect per propagation round;
- ``recursive_components``: a dialect ``WITH RECURSIVE`` connected-
  components query over the same pair table;
- ``knn_graph``: ``similarity.knn_graph`` within label groups (an Arrow
  Python fold per candidate pair).

``simhash_pairs`` and ``semantic_dedup`` are not in the pass: each adds
several seconds of cold-JVM time on 4 cores, more than the per-run time
budget holds.

Checks: MinHash pairs against an exact-Jaccard DuckDB oracle; groups
and components against the planted clusters; the k-NN graph against a
numpy fold in the engine's summation order.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from boostdb_spark.operators import dedup, similarity
from boostdb_spark.plans import sugar
from workloads import Workload

N_DOCS = 800
CLUSTER_FRAC = 0.3
THRESHOLD = 0.8
N_VECS = 800
DIM = 64
LABELS = 20
DUP_FRAC = 0.1
KNN_K = 5

STAGES = ("minhash_pairs", "keep_best", "recursive_components", "knn_graph")
#: the span name (and per-layer metric stem) of each stage
STAGE_SPAN = {
    "minhash_pairs": ("dedup.minhash_pairs", "dedup"),
    "keep_best": ("dedup.keep_best", "dedup"),
    "recursive_components": ("sugar.recursive_components", "sugar"),
    "knn_graph": ("similarity.knn_graph", "similarity"),
}

COMPONENTS_SQL = (
    "WITH RECURSIVE e AS ("
    "  SELECT dup.id_a AS src, dup.id_b AS dst FROM llm.pairs"
    "  UNION ALL"
    "  SELECT dup.id_b AS src, dup.id_a AS dst FROM llm.pairs"
    "), reach AS ("
    "  SELECT DISTINCT src AS node, src AS lab FROM e"
    "  UNION"
    "  SELECT ee.dst AS node, r.lab AS lab FROM e ee JOIN reach r ON ee.src = r.node"
    ") "
    "SELECT node, min(lab) AS group_id, count(*) AS n_labels FROM reach GROUP BY node"
)

JACCARD_ORACLE = f"""
WITH d AS (
  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                             t -> t <> '') AS toks FROM docs),
ds AS (
  SELECT DISTINCT doc_id AS id, unnest(list_transform(
    range(0, greatest(len(toks) - 2, 0)),
    i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh FROM d),
sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, c::DOUBLE / (sa.sz + sb.sz - c) AS jaccard
FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= {THRESHOLD}
"""


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise dot products summed in index order from 0.0 — the
    engine's fold, so the results match bit for bit."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


class LlmDedup(Workload):
    name = "llm_dedup"
    kinds = ("dedup_pass",)

    def __init__(self, *a):
        super().__init__(*a)
        self.out: dict[str, object] = {}
        self.stage_walls: list[tuple[str, float]] = []
        self.binding = sugar.SeriesFamilyBinding(
            view="llm__pairs", series_col="kind", value_col="jaccard"
        )

    # -------------------------------------------------------------- set-up
    def setup(self, k: int) -> None:
        d = self.fresh(f"llm{k}")
        if k:
            self.fresh(f"llm{k - 1}")
        docs, self.clusters = gen.corpus(self.rng(0), N_DOCS, CLUSTER_FRAC)
        vecs = gen.embeddings(self.rng(1), N_VECS, DIM, LABELS, DUP_FRAC)
        self.docs_path = os.path.join(d, "docs.parquet")
        self.vecs_path = os.path.join(d, "vecs.parquet")
        pq.write_table(docs, self.docs_path)
        pq.write_table(vecs, self.vecs_path)
        self.docs = self.spark.read.parquet(self.docs_path)
        self.vecs = self.spark.read.parquet(self.vecs_path)
        self.properties = {
            "docs": N_DOCS,
            "planted_clusters": len(self.clusters),
            "planted_dup_docs_frac": sum(map(len, self.clusters)) / N_DOCS,
            "jaccard_threshold": THRESHOLD,
            "vectors": N_VECS,
            "dim": DIM,
            "labels": LABELS,
            "planted_dup_vectors_frac": DUP_FRAC,
            "knn_k": KNN_K,
            "stages_per_pass": list(STAGES),
        }

    # ---------------------------------------------------------- operations
    def ops(self):
        while True:
            # rows a pass takes in: every document and every vector
            yield "dedup_pass", self._pass, N_DOCS + N_VECS

    def _pass(self) -> None:
        for i, stage in enumerate(STAGES):
            if i:
                self.pause()
            t0 = time.perf_counter()
            self._stage(stage)
            self.stage_walls.append((stage, time.perf_counter() - t0))

    def _stage(self, kind: str) -> None:
        tr, spark, docs, vecs = self.tracer, self.spark, self.docs, self.vecs
        span, layer = STAGE_SPAN[kind]
        with tr.span(span, layer):
            if kind == "minhash_pairs":
                df = dedup.minhash_lsh_pairs(docs, threshold=THRESHOLD,
                                             num_hashes=48, bands=16, n=3)
                rows = self.collect(df)
                # later stages consume the pair table, as a pipeline would
                self.pairs = spark.createDataFrame(rows, df.schema)
            elif kind == "keep_best":
                rows = self.collect(dedup.keep_best(docs, self.pairs, score_col="n_chars"))
            elif kind == "recursive_components":
                self.pairs.withColumn("kind", F.lit("dup")).createOrReplaceTempView(
                    "llm__pairs")
                with tr.span("sugar.parse", "sugar"):
                    q = sugar.parse(COMPONENTS_SQL)
                with tr.span("sugar.plan", "sugar"):
                    df = sugar.plan(spark, q, self.binding)
                rows = self.collect(df)
            else:
                rows = self.collect(similarity.knn_graph(vecs, k=KNN_K, group_col="label"))
        self.out[kind] = rows

    # -------------------------------------------------------------- checks
    def check(self) -> list[str]:
        checks = {
            "minhash_pairs": self._check_minhash,
            "keep_best": self._check_groups,
            "recursive_components": self._check_components,
            "knn_graph": self._check_knn,
        }
        failures = []
        for kind, fn in checks.items():
            if kind in self.out:
                failures += [f"{kind}: {p}" for p in fn(self.out[kind])[:3]]
        return failures

    def _planted(self) -> dict[int, int]:
        return {m: min(c) for c in self.clusters for m in c}

    def _check_minhash(self, rows) -> list[str]:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW docs AS SELECT * FROM read_parquet('{self.docs_path}')")
        want = con.execute(JACCARD_ORACLE).df()
        con.close()
        got = pd.DataFrame([r.asDict() for r in rows], columns=["id_a", "id_b", "jaccard"])
        problems = []
        key = ["id_a", "id_b"]
        if set(map(tuple, got[key].values)) != set(map(tuple, want[key].values)):
            problems.append(f"pair set differs: {len(got)} pairs vs {len(want)} exact")
        else:
            m = got.merge(want, on=key)
            if (m["jaccard_x"] - m["jaccard_y"]).abs().max() > 1e-12:
                problems.append("jaccard values differ from the exact oracle")
        planted = self._planted()
        stray = [(a, b) for a, b in got[key].values if planted.get(a, -1) != planted.get(b, -2)]
        if stray:
            problems.append(f"{len(stray)} pairs outside the planted clusters")
        return problems

    def _check_groups(self, rows) -> list[str]:
        got = pd.DataFrame([r.asDict() for r in rows])
        planted = self._planted()
        problems = []
        want_group = {i: planted.get(i, i) for i in range(N_DOCS)}
        if len(got) != N_DOCS or dict(zip(got["doc_id"], got["group_id"])) != want_group:
            problems.append("groups differ from the planted clusters")
        n_chars = pq.read_table(self.docs_path, columns=["n_chars"]).column(0).to_numpy()
        for gid, g in got.groupby("group_id"):
            best = min(g["doc_id"], key=lambda d: (-n_chars[d], d))
            kept = set(g.loc[g["keep"], "doc_id"])
            if kept != {best}:
                problems.append(f"group {gid} keeps {sorted(kept)}, want [{best}]")
                break
        return problems

    def _check_components(self, rows) -> list[str]:
        planted = self._planted()
        sizes = {min(c): len(c) for c in self.clusters}
        got = {r["node"]: (r["group_id"], r["n_labels"]) for r in rows}
        want = {m: (g, sizes[g]) for m, g in planted.items()}
        return [] if got == want else [
            f"{sum(got.get(k) != v for k, v in want.items())} nodes disagree with "
            "the planted clusters"
        ]

    def _check_knn(self, rows) -> list[str]:
        t = pq.read_table(self.vecs_path).to_pandas()
        got = {}
        for r in rows:
            got.setdefault(r["src"], []).append((r["dst"], r["cos"]))
        problems = []
        for _, g in t.groupby("label"):
            g = g.sort_values("vec_id")
            ids = g["vec_id"].to_numpy()
            v = np.array(g["embedding"].tolist(), dtype=np.float32).astype(np.float64)
            nrm = np.sqrt(fold_dot(v, v))
            cos = fold_dot(v[:, None, :], v[None, :, :]) / (nrm[:, None] * nrm[None, :])
            for a, src in enumerate(ids):
                cand = sorted(
                    ((-cos[min(a, b), max(a, b)], int(ids[b])) for b in range(len(ids))
                     if b != a)
                )[:KNN_K]
                want = [(d, -c) for c, d in cand]
                if sorted(got.get(int(src), []), key=lambda e: (-e[1], e[0])) != want:
                    problems.append(f"neighbours of {src} differ")
                    return problems
        return problems

    # ------------------------------------------------------------- figures
    def headline(self, samples, setup_s, rss_mb, failed_frac) -> dict:
        mix = self.mix([(k, w, True, 0) for k, w in self.stage_walls])
        pass_s = sum(m[0] for m in mix.values())
        return {
            "corpus_docs_per_s": [N_DOCS / pass_s, "1/s", "docs through all four stages"],
            "setup_s": [setup_s, "s"],
            "peak_rss_mb": [rss_mb, "MB"],
            "failed_op_frac": [failed_frac, "ratio"],
        }

    def own_layer_metrics(self) -> dict[str, float]:
        out = {
            f"{span}_s": self.p50(self.span_ms(span)) / 1e3
            for span, _ in STAGE_SPAN.values()
        }
        # dedup_groups runs one driver collect before its loop and one per
        # propagation round; each is one SQL execution called from dedup.py
        kb = {s.op for s in self.tracer.spans if s.name == "dedup.keep_best"}
        probes = [d for op, d in self.tracer.executions
                  if op in kb and d.startswith("collect at") and "dedup.py" in d]
        out["dedup.groups_rounds"] = len(probes) / len(kb) - 1 if kb else 0.0
        return out
