"""Seeded input generators for the three workloads.

Every input the engine sees is written here, as plain parquet, from a
``numpy`` generator seeded by ``--seed``: the same seed gives the same
files. Values sit on a 1/1024 grid so that double sums are exact and
the engines' results can be compared bit for bit in any summation
order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_NS = 86_400 * 10**9
#: 2024-01-01T00:00:00Z, the first day of every generated family
T0_NS = 1_704_067_200 * 10**9
VALUE_GRID = 1024.0


def _values(rng: np.random.Generator, n: int) -> np.ndarray:
    # integer multiples of 1/1024 in [-64, 192): exactly representable
    return rng.integers(-64 * 1024, 192 * 1024, n).astype(np.float64) / VALUE_GRID


def _dict(indices: np.ndarray, names: list[str]) -> pa.DictionaryArray:
    return pa.DictionaryArray.from_arrays(
        pa.array(indices.astype(np.int32)), pa.array(names)
    )


def series_names(n_series: int) -> list[str]:
    return [f"s{i:02d}" for i in range(n_series)]


def series_dc(i: int) -> str:
    return f"dc{i % 4}"


def datapoints(
    rng: np.random.Generator,
    n_rows: int,
    n_series: int,
    days: int,
    n_hosts: int,
    zipf_a: float,
    first_day: int = 0,
) -> pa.Table:
    """``n_rows`` datapoints spread evenly over ``n_series`` series and
    ``days`` days from ``T0_NS + first_day``. Timestamps are INT64 ns,
    unique and increasing within a series. Series carry ``dc``/``env``
    tags; each point carries a ``host`` attribute drawn from a Zipf law
    over ``n_hosts`` values."""
    per = n_rows // n_series
    span = days * DAY_NS
    sid, ts = [], []
    for s in range(n_series):
        t = np.unique(rng.integers(0, span, per))
        sid.append(np.full(len(t), s, dtype=np.int32))
        ts.append(t)
    sid = np.concatenate(sid)
    ts = np.concatenate(ts) + T0_NS + first_day * DAY_NS
    n = len(ts)
    host = (rng.zipf(zipf_a, n) - 1) % n_hosts
    names = series_names(n_series)
    return pa.table(
        {
            "series": _dict(sid, names),
            "ts": pa.array(ts, pa.int64()),
            "value": pa.array(_values(rng, n)),
            "dc": _dict(sid % 4, [series_dc(i) for i in range(4)]),
            "env": _dict((sid % 3 != 0).astype(np.int32), ["test", "prod"]),
            "host": _dict(host, [f"h{i:06d}" for i in range(n_hosts)]),
        }
    )


def as_timestamp(table: pa.Table) -> pa.Table:
    """INT64-ns ``ts`` -> UTC microsecond timestamps, the type Spark
    watermarks accept."""
    us = pa.array(table.column("ts").to_numpy() // 1000, pa.int64())
    i = table.schema.get_field_index("ts")
    return table.set_column(i, "ts", us.cast(pa.timestamp("us", tz="UTC")))


def user_bytes(table: pa.Table) -> int:
    """Logical size of the datapoints as a user hands them over: 8 bytes
    per timestamp and per value plus the UTF-8 length of every string
    cell — no encoding, no compression."""
    total = 16 * table.num_rows
    for name in ("series", "dc", "env", "host"):
        if name in table.column_names:
            col = table.column(name).cast(pa.string())
            total += pc.sum(pc.binary_length(col)).as_py()
    return total


def write_landing(table: pa.Table, path: str, n_files: int) -> list[str]:
    """Split ``table`` in time order into ``n_files`` parquet files with
    strictly increasing modification times, so a file stream source
    replays them in event-time order."""
    os.makedirs(path, exist_ok=True)
    order = np.argsort(table.column("ts").to_numpy(), kind="stable")
    table = table.take(pa.array(order))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    files = []
    base = 1_600_000_000
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f)
        os.utime(f, (base + i, base + i))
        files.append(f)
    return files


# ---------------------------------------------------------------- corpus

_VOCAB = 5000


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    cluster_frac: float,
    words: tuple[int, int] = (80, 140),
    edits: int = 1,
) -> tuple[pa.Table, list[list[int]]]:
    """``n_docs`` documents of words drawn from a 5000-word vocabulary. A
    ``cluster_frac`` share of them sit in planted near-duplicate clusters
    of 2-4 members: each member is its base document with ``edits``
    single-word substitutions. One substitution changes at most 3 of at
    least 78 shingles, so every within-cluster 3-shingle Jaccard is at
    least 72/84 = 0.857 and a 0.8 threshold finds the whole cluster.
    Returns the table and the planted clusters as lists of doc ids."""
    vocab = [f"w{i}" for i in range(_VOCAB)]
    texts: list[str | None] = [None] * n_docs
    clusters: list[list[int]] = []
    ids = rng.permutation(n_docs)
    n_planted = int(n_docs * cluster_frac)
    pos = 0
    while pos < n_planted:
        size = int(rng.integers(2, 5))
        members = [int(i) for i in ids[pos : pos + size]]
        pos += size
        if len(members) < 2:
            break
        base = rng.integers(0, _VOCAB, int(rng.integers(*words)))
        for k, m in enumerate(members):
            toks = base.copy()
            if k:
                toks[rng.integers(0, len(toks), edits)] = rng.integers(0, _VOCAB, edits)
            texts[m] = " ".join(vocab[t] for t in toks)
        clusters.append(sorted(members))
    for m in ids[pos:]:
        toks = rng.integers(0, _VOCAB, int(rng.integers(*words)))
        texts[int(m)] = " ".join(vocab[t] for t in toks)
    return (
        pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs), pa.int64()),
                "text": pa.array(texts),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        clusters,
    )


def embeddings(
    rng: np.random.Generator,
    n_vecs: int,
    dim: int,
    n_labels: int,
    dup_frac: float,
) -> pa.Table:
    """Clustered embeddings: ``n_labels`` random centres, each vector a
    noisy copy of its label's centre; a ``dup_frac`` share are planted
    near-duplicates (a tiny perturbation of an earlier vector)."""
    centres = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_vecs)
    vecs = centres[labels] + rng.normal(0, 0.8, (n_vecs, dim))
    n_dup = int(n_vecs * dup_frac)
    src = rng.integers(0, n_vecs - n_dup, n_dup)
    dst = np.arange(n_vecs - n_dup, n_vecs)
    vecs[dst] = vecs[src] + rng.normal(0, 0.02, (n_dup, dim))
    labels[dst] = labels[src]
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
