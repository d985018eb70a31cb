"""Embedding similarity search: brute-force cosine top-k (the exact
baseline) and an LSH-bucketed approximate variant (the 100 TB path).
North-star extension beyond the reference (no vector surface there).

Dot products are pure array expressions (``zip_with`` + ``aggregate``)
— JVM-side, left-to-right accumulation, bit-reproducible by the DuckDB
oracle which uses the same element order. Embeddings are cast to
double before any arithmetic so float32 promotion rules can't diverge
between engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from boostdb_spark.operators.common import no_broadcast, topk_per_group
from boostdb_spark.operators.dedup import _gen32, _spread


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _with_norm(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_as: str,
    v_as: str,
    *extra,
    spread: bool = True,
):
    """(id, *extra, v, nrm) with the norm hoisted to a per-row column
    BEFORE any pair join: norms crossing the join exchange are
    materialized, so a pair evaluates one dot instead of three (the
    per-pair dot/(sqrt(dot)*sqrt(dot)) form re-folded both norms for
    every pair). ``spread`` spreads a single-file input across cores —
    the streamed side of a broadcast nested-loop join otherwise runs
    one-core."""
    out = (_spread(df) if spread else df).select(
        F.col(id_col).alias(id_as), *extra, _as_double(F.col(vec_col)).alias(v_as)
    )
    return out.withColumn(f"{v_as}_nrm", norm(F.col(v_as)))


def _cos(a: str, b: str, *, once: bool = False):
    """The exact pair score ``cos``: :func:`fold_dot` of the vector
    columns ``a`` and ``b`` over their norms ``a_nrm`` and ``b_nrm``
    hoisted by :func:`_with_norm`. ``once`` as in :func:`fold_dot`."""
    return (
        fold_dot(F.col(a), F.col(b), once=once)
        / (F.col(f"{a}_nrm") * F.col(f"{b}_nrm"))
    ).alias("cos")


def _scored(pairs: DataFrame, *, once: bool = False) -> DataFrame:
    """(query_id, match_id, cos) of every candidate pair of a query row
    (query_id, qv, qv_nrm) and a corpus row (match_id, cv, cv_nrm),
    self-matches excluded."""
    return pairs.filter(F.col("query_id") != F.col("match_id")).select(
        "query_id", "match_id", _cos("qv", "cv", once=once)
    )


def _exact_scored(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    once: bool = False,
) -> DataFrame:
    """Every (query, corpus) pair scored: the query side broadcast, the
    corpus streamed — one pass, no shuffle."""
    q = _with_norm(queries, id_col, vec_col, "query_id", "qv")
    c = _with_norm(corpus, id_col, vec_col, "match_id", "cv")
    return _scored(F.broadcast(q).crossJoin(c), once=once)


def _top_matches(scored: DataFrame, k: int) -> DataFrame:
    """The k best-scored matches per query, ties to the smaller match
    id."""
    return topk_per_group(scored, k, ["query_id"], "cos", tiebreak=["match_id"])


def unit_vec(v_col: str, nrm_col: str):
    """Zero-norm-safe unit-normalization EXPRESSION over (vector,
    norm) columns: the zero vector stays the zero vector — ANSI-mode
    division would raise DIVIDE_BY_ZERO and non-ANSI would emit NaN
    components that poison every downstream fold. One shared guard so
    the rule can't drift between call sites."""
    return F.when(F.col(nrm_col) == 0.0, F.col(v_col)).otherwise(
        F.transform(F.col(v_col), lambda x: x / F.col(nrm_col))
    )


def unit_list(vals, nrm):
    """Python-side twin of :func:`unit_vec` for collected seed rows."""
    return [x / nrm if nrm else x for x in vals]


def dot(a, b):
    """Left-fold dot product over aligned arrays (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def fold_dot(a_col, b_col, *, once: bool = False):
    """Vectorized left-fold dot product — bit-identical to :func:`dot`
    (acc starts at 0.0 and adds a_i*b_i in index order, IEEE double),
    but the fold is an Arrow-batched pandas UDF whose loop runs over
    DIMENSIONS with numpy vectorizing across the batch. HOF lambdas run
    interpreted per element; on pair-scoring volumes (|pairs| x dim
    evaluations after a candidate join) this is the hot path and the
    UDF is ~an order of magnitude faster, while every row's result
    still hash-matches the DuckDB ``list_reduce`` oracle.

    ``once=True`` marks the UDF non-deterministic so the optimizer may
    not copy the evaluation into a pushed-down filter (guide §4.4: a
    filter referencing a UDF-computed column otherwise evaluates the
    UDF twice — once below the pushed filter, once in the output
    projection). Use it exactly where the SAME fold output is both
    filtered on and emitted (cosine_range_search); leave it off
    elsewhere, because a non-deterministic projection also blocks
    unrelated predicates from pushing past it toward the scan."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _fold(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.values)
        B = np.stack(b.values)
        acc = np.zeros(len(A), dtype=np.float64)
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)

    if once:
        _fold = _fold.asNondeterministic()
    return _fold(a_col, b_col)


def norm(a):
    return F.sqrt(dot(a, a))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k
    nearest corpus vectors (self-matches excluded), ties broken by
    corpus id. Returns (query_id, match_id, cos).

    Scale shape: the query side is broadcast (top-k search is almost
    always few-queries-vs-huge-corpus), the corpus streams through —
    one pass, no shuffle until the per-query top-k window on the
    (small) candidate set. For huge query sets, use lsh_ann_topk.
    """
    _guard_query_count(queries, max_queries, "cosine_topk")
    return _top_matches(_exact_scored(queries, corpus, id_col, vec_col), k)


def cosine_range_search(
    queries: DataFrame,
    corpus: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Exact cosine RANGE search: for each query vector, ALL corpus
    vectors with cosine >= ``tau`` (self-matches excluded) — the
    radius-query twin of :func:`cosine_topk` (top-k answers "the k
    closest"; range search answers "everything this similar", the
    primitive behind dedup sweeps, recall audits, and
    near-neighbor-count statistics where k is unknowable up front).
    Returns (query_id, match_id, cos).

    Scale shape: query side broadcast, corpus streamed — one pass,
    ZERO shuffle (unlike top-k there is no per-query window; the
    threshold filter fuses into the scan's codegen pipeline). Output
    is data-dependent: at low tau it can approach |Q|x|corpus|, so
    keep tau meaningfully high or cap queries. For huge query sets
    use the LSH/IVF candidate generators and filter their cos."""
    _guard_query_count(queries, max_queries, "cosine_range_search")
    # once=True: cos is both FILTERED on and EMITTED — without the
    # non-deterministic pin the optimizer pushes the tau filter below
    # this projection and every corpus row pays the Arrow fold TWICE
    # (guide §4.4; the r14 python_eval_sweep caught two ArrowEvalPython
    # nodes carrying the same fold). No predicate needs to push past
    # this projection: the self-match filter is already below it.
    return _exact_scored(queries, corpus, id_col, vec_col, once=True).filter(
        F.col("cos") >= tau
    )


def knn_graph(
    df: DataFrame,
    k: int,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_group: int = 10_000,
) -> DataFrame:
    """Exact within-group k-NN graph: for every vector, its k nearest
    cosine neighbors AMONG VECTORS SHARING ``group_col`` — the edge
    list that graph-based dedup/clustering (SemDeDup connected
    components, SNN graphs) consumes. Returns (src, dst, cos), ties
    broken by dst id so the graph is deterministic.

    Scale shape: the pair generation is an EQUI-join on the group key
    (never all-pairs across the corpus), so cost is sum over groups of
    |g|^2 — right when groups are BOUNDED (IVF cells, LSH buckets,
    shards). Groups that grow WITH the corpus make this quadratic —
    the round-11 sf1 probe measured 156x wall at 10x rows for
    10-label grouping — so group sizes above ``max_group`` REFUSE
    loudly (one count-aggregate guard pass, the _guard_query_count
    pattern) instead of silently melting an executor: re-bucket first
    (ivf_assign, or compose (label, cell)) and pass the
    finer group. Norms hoist to per-row columns before the join (one
    fold per pair, not three); the per-src top-k is one row_number
    window over the group-local candidates — shuffle on the group
    key, then on src, both bounded-fanout."""
    big = (
        df.groupBy(group_col)
        .count()
        .filter(F.col("count") > max_group)
        .limit(1)
        .collect()
    )
    if big:
        raise ValueError(
            f"knn_graph: group {big[0][0]!r} has {big[0]['count']} rows "
            f"(> max_group={max_group}); the within-group pair join "
            "would be quadratic in that group. Bucket first "
            "(ivf_assign / compose a finer key) or raise "
            "max_group explicitly if the blowup is intended."
        )
    a = _with_norm(df, id_col, vec_col, "src", "av", F.col(group_col).alias("_g"))
    b = no_broadcast(_with_norm(
        df, id_col, vec_col, "dst", "bv", F.col(group_col).alias("_g2"),
        spread=False,
    ))
    # Each unordered pair is scored ONCE (src < dst) and mirrored into
    # both directed edges with a 2-row inline explode: cosine is
    # exactly symmetric (fold_dot adds a_i*b_i in index order; IEEE
    # multiplication commutes in both the dot and the norm product),
    # so the old src != dst join paid 2x the pair fanout and 2x the
    # Arrow fold evaluations for a bit-identical edge list
    # (optimization guide §2.3: shuffle/compute fewer bytes).
    half = (
        a.join(b, F.col("_g") == F.col("_g2"))
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", _cos("av", "bv"))
    )
    scored = half.select(
        F.explode(
            F.array(
                F.struct("src", "dst", "cos"),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    "cos",
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.cos")
    return topk_per_group(scored, k, ["src"], "cos", tiebreak=["dst"])


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
    max_pairs: float = 1e10,
) -> DataFrame:
    """All pairs with cosine >= threshold, id_a < id_b — embedding
    near-duplicate detection. Exact all-pairs semantics (correctness
    baseline); when approximate recall is acceptable, lsh_ann_topk's
    bucketing restricts the candidate set far more cheaply.

    Shape — distributed block nested-loop, NO driver-side collect:
    rows are hashed into ``n_blocks`` blocks; every unordered block
    pair (p <= q) becomes one cogroup task that scores |p| x |q|
    candidates with a numpy matmul and emits ONLY the passing pairs.
    Each input row is replicated ~n_blocks/2 times through the
    cogroup exchange (O(N * n_blocks) transfer, vs O(N^2) for a pair
    join), and per-task memory is two blocks, O(N/n_blocks) rows —
    raise ``n_blocks`` as the corpus grows and every task stays
    executor-sized while the O(N^2) arithmetic spreads over
    n_blocks^2/2 parallel tasks. The accumulation loops run over
    DIMENSIONS in index order — dots and norms are bit-identical to
    the SQL left fold (and symmetric: x_i*y_i == y_i*x_i), so the
    threshold cut matches the oracle exactly regardless of which side
    of a block pair a row lands on.

    ``max_pairs`` is the PAIR BUDGET: exact all-pairs is O(N^2) and can
    never finish on a web-scale corpus, so inputs whose estimated
    candidate count N*(N-1)/2 exceeds the budget are REFUSED loudly
    (same contract as the media codecs' NotImplementedError refusals)
    with a pointer at the scale paths — dedup_minhash_lsh /
    semantic_dedup / lsh_ann_topk. The default 1e10 (~140k rows) is a
    few minutes of numpy matmul across a 32-way local run; raise it
    explicitly when a bigger exactness baseline is genuinely wanted.
    The estimate is a ``limit(n_cap+1)`` probe — a narrow early-stop
    scan, not a full count.
    """
    import numpy as np

    n_cap = int((2.0 * max_pairs) ** 0.5) + 1
    probe = df.select(F.lit(1)).limit(n_cap + 1).count()
    if probe > n_cap:
        est = probe * (probe - 1) / 2
        raise ValueError(
            f"cosine_neardup_pairs: input has >{n_cap} rows (>= {est:.2g} "
            f"candidate pairs, budget max_pairs={max_pairs:.2g}) — exact "
            "all-pairs cosine is the O(N^2) correctness baseline, not a "
            "scale path. Use dedup_minhash_lsh / semantic_dedup / "
            "lsh_ann_topk for large corpora, or raise max_pairs "
            "explicitly to insist."
        )
    src = _spread(df).select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    )
    n_blocks = max(2, n_blocks)
    src = src.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    # row in block b is the LEFT side of block pairs (b, q>=b) and the
    # RIGHT side of block pairs (p<=b, b): every unordered block pair
    # is cogrouped exactly once
    left = src.select(
        F.col("blk").alias("p"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("q"),
        "id",
        "v",
    )
    # the right side re-ALIASES id/v (fresh expression ids): both sides
    # derive from the same src plan, and with shared expr ids Spark's
    # column pruner satisfies the right side's references against the
    # left's attributes and prunes the right projection down to the
    # grouping keys whenever downstream needs no output columns (e.g.
    # .count()) — the UDF would then receive right batches without the
    # vector column
    right = src.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("p"),
        F.col("blk").alias("q"),
        F.col("id").alias("rid"),
        F.col("v").alias("rv"),
    )
    id_type = dict(src.dtypes)["id"]
    out_schema = f"id_a {id_type}, id_b {id_type}, cos double"
    empty = pd.DataFrame({"id_a": [], "id_b": [], "cos": []})

    def score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return empty
        X = np.stack(lpdf["v"].values)
        Y = np.stack(rpdf["rv"].values)
        ida = lpdf["id"].to_numpy()
        idb = rpdf["rid"].to_numpy()
        S = np.zeros((len(X), len(Y)))
        na = np.zeros(len(X))
        nb = np.zeros(len(Y))
        for i in range(X.shape[1]):
            S = S + X[:, i : i + 1] * Y[None, :, i]
            na = na + X[:, i] * X[:, i]
            nb = nb + Y[:, i] * Y[:, i]
        C = S / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        mask = C >= threshold
        if key[0] == key[1]:  # within-block: dedup mirrored pairs
            mask &= ida[:, None] < idb[None, :]
        else:
            mask &= ida[:, None] != idb[None, :]
        ai, bi = np.nonzero(mask)
        lo, hi = ida[ai], idb[bi]
        swap = lo > hi
        lo, hi = np.where(swap, hi, lo), np.where(swap, lo, hi)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": C[ai, bi]})

    return (
        left.groupby("p", "q")
        .cogroup(right.groupby("p", "q"))
        .applyInPandas(score, out_schema)
    )


def _plane_matrix(num_tables: int, num_planes: int, dim: int):
    """All hyperplanes as one (tables*planes, dim) ±1 numpy matrix:
    component j of plane i in table t is +1/-1 from bit 0 of
    ``_gen32(f"{t}:{i}:{j}")``. Seedless and reproducible, computed in
    Python at plan time."""
    import numpy as np

    return np.array([
        [1.0 if _gen32(f"{t}:{i}:{j}") % 2 else -1.0 for j in range(dim)]
        for t in range(num_tables)
        for i in range(num_planes)
    ])


def _lsh_tables(df: DataFrame, vec_col: str, num_planes: int, dim: int, num_tables: int):
    """Explode each row into (table, bucket) pairs, one per LSH table —
    OR-amplification: a single AND-only table of p planes has collision
    probability (1-theta/pi)^p, too selective for moderate-similarity
    top-k; L tables raise it to 1-(1-p_col)^L while candidates stay
    ~L*N/2^p per query.

    Buckets come from ONE Arrow-batched pandas UDF doing a numpy
    matmul against the full plane matrix: tables*planes array-fold dot
    products per row run interpreted on the JVM (higher-order functions
    are outside codegen) and were ~10x slower — this is the legitimate
    vectorized-Python case."""
    from pyspark.sql.functions import pandas_udf

    P = _plane_matrix(num_tables, num_planes, dim).T  # (dim, T*p)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="object")
        X = np.stack(v.values)  # (batch, dim)
        bits = (X @ P) >= 0  # (batch, T*p), plane i of table t at t*p+i
        B = bits.reshape(len(X), num_tables, num_planes)
        w = 1 << np.arange(num_planes - 1, -1, -1)  # bit i = plane i, MSB first
        return pd.Series(list((B * w).sum(axis=2).astype("int64")))

    # asNondeterministic: the optimizer infers `size(..)>0 AND
    # isnotnull(..)` from the posexplode generator and pushes it below
    # the projection, evaluating the bucket UDF TWICE per corpus row
    # (guide §4.4 duplication, caught by tools/python_eval_sweep.py).
    # Exploding an empty/null array already yields no rows, so dropping
    # the inferred pre-filter changes nothing.
    buckets = buckets.asNondeterministic()
    tb = F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket")
    return df.select("*", tb)


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    out_col: str = "list_id",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest coarse-quantizer
    centroids (by dot product on unit-normalized input — cosine order,
    ties broken toward the larger centroid id, deterministically).

    One Arrow-batched pandas UDF against the centroid matrix — a
    literal-array expression tree (n_centroids x dim F.lit nodes) made
    every AQE re-optimization round re-walk ~1000 literals and was 5x
    slower wall-clock at 32 shuffle partitions. The centroid matrix is
    tiny (the IVF coarse quantizer is broadcast-sized by construction).
    """
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    cids = np.array([cid for cid, _ in centroids], dtype="int64")
    C = np.array([cvec for _, cvec in centroids]).T  # (dim, n_centroids)
    k = min(n_probe, len(centroids))

    @pandas_udf("array<long>")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="object")
        X = np.stack(v.values)  # (batch, dim)
        S = X @ C  # (batch, n_centroids)
        # descending score, ties -> larger centroid id first
        order = np.lexsort((-cids[None, :].repeat(len(X), 0), -S), axis=1)
        return pd.Series(list(cids[order[:, :k]]))

    return df.withColumn(out_col, assign(F.col(vec_col)))


def _seed_centroids(
    c: DataFrame, id_as: str, v_as: str, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """The seedless IVF init: the ``n_centroids`` lowest-id vectors of a
    :func:`_with_norm` frame, unit-normalized."""
    seed = c.orderBy(id_as).limit(n_centroids).collect()
    return [(int(r[id_as]), unit_list(r[v_as], r[f"{v_as}_nrm"])) for r in seed]


def ivf_train_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Train the IVF coarse quantizer with Lloyd iterations (spherical
    k-means: assign by dot product on unit vectors, re-center, re-
    normalize). Returns ``[(centroid_id, unit_vector), ...]`` ready for
    :func:`ivf_ann_topk`'s ``centroids`` parameter.

    Deterministic end to end: seedless init (the n_centroids lowest-id
    corpus vectors), tie-broken assignment (ivf_assign), and per-
    dimension DECIMAL sums for the re-centering mean — exact integer
    arithmetic, so the mean is identical regardless of partition
    accumulation order and repeated trainings give bit-identical
    centroids.

    Scale shape per iteration: one vectorized assignment pass (Arrow
    pandas UDF vs the broadcast centroid matrix), one posexplode +
    hash-aggregate of (centroid, dim) partial sums — shuffle carries
    O(n_centroids * dim) rows after partials, NOT O(corpus). Only the
    (n_centroids x dim) sums are collected per iteration.
    """
    c = _with_norm(corpus, id_col, vec_col, "cid", "v")
    centroids = _seed_centroids(c, "cid", "v", n_centroids)
    normed = c.select(
        "cid", unit_vec("v", "v_nrm").alias("v")
    ).localCheckpoint(eager=False)  # reused every iteration
    for _ in range(n_iter):
        assigned = ivf_assign(normed, centroids, "v", n_probe=1).select(
            F.element_at("list_id", 1).alias("list_id"), "v"
        )
        sums = (
            assigned.select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(28,14)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        dim = len(centroids[0][1])
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(int(r["list_id"]), [0.0] * dim)[int(r["pos"])] = (
                float(r["s"]) / r["n"]
            )
        new = []
        for cid, _old in centroids:
            mean = acc.get(cid)
            if mean is None:  # empty cluster: keep its previous center
                new.append((cid, _old))
                continue
            nrm = sum(m * m for m in mean) ** 0.5
            new.append((cid, [m / nrm for m in mean] if nrm > 0 else _old))
        centroids = new
    return centroids


def ivf_build_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the INVERTED FILE: every corpus vector assigned to
    its nearest coarse centroid, with its unit norm precomputed —
    columns (match_id, cv, cv_nrm, list_id). This is INGEST-time work
    (one vectorized assignment pass over the corpus); persist the
    result as a layout and pass it to :func:`ivf_ann_topk` via
    ``index=`` so query time pays only probe + join + top-k, never a
    corpus re-assignment — the production IVF shape at 100 TB."""
    c = _with_norm(corpus, id_col, vec_col, "match_id", "cv")
    return ivf_assign(c, centroids, "cv", n_probe=1).select(
        "match_id", "cv", "cv_nrm", F.element_at("list_id", 1).alias("list_id")
    )


def ivf_append_index(
    new_corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """INCREMENTAL inverted-file maintenance: assign ONLY the new
    vectors to the PERSISTED coarse quantizer — no retrain, no corpus
    rescan. Same output schema as :func:`ivf_build_index`; append the
    result to the stored inverted file (``.write.mode("append")``) and
    probes immediately retrieve the new ids. Assignment is the same
    deterministic tie-broken pass as the full build, so
    append-then-read-back equals rebuild-from-scratch over the same
    centroids row for row — the invariant the ``ann_append_certified``
    suite entry pins. A 100-TB vector store is append-heavy; this is
    the path that makes corpus growth O(new), with
    :func:`ivf_centroid_drift` as the retrain trigger."""
    return ivf_build_index(new_corpus, centroids, id_col, vec_col)


def ivf_centroid_drift(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector angular distance to its assigned coarse centroid —
    ``(id, list_id, dist)`` with ``dist = 1 - cos(v, centroid)`` on
    the 1e-6 grid (quantized so per-set DECIMAL-sum means are
    partition-invariant). The quantizer-fit statistic for incremental
    maintenance: compare mean(dist) over newly appended vectors to
    mean(dist) over the training corpus — a rising ratio says the
    persisted quantizer no longer fits incoming data and a retrain
    should be scheduled (the classic IVF index-maintenance signal).
    One vectorized assignment pass + a broadcast join against the tiny
    centroid table; no shuffle beyond the caller's aggregation."""
    c = _with_norm(df, id_col, vec_col, "id", "v")
    u = c.select("id", unit_vec("v", "v_nrm").alias("v"))
    a = ivf_assign(u, centroids, "v", n_probe=1).select(
        "id", "v", F.element_at("list_id", 1).alias("list_id")
    )
    spark = df.sparkSession
    cent = spark.createDataFrame(
        [(int(cid), [float(x) for x in vec]) for cid, vec in centroids],
        "list_id long, cvec array<double>",
    )
    j = a.join(F.broadcast(cent), "list_id")
    dist = F.lit(1.0) - fold_dot(F.col("v"), F.col("cvec"))
    d6 = F.floor(dist * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return j.select("id", "list_id", d6.alias("dist"))


def ivf_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the second ANN strategy
    next to sign-LSH: corpus vectors are bucketed by nearest coarse
    centroid; each query probes its ``n_probe`` nearest centroid lists
    only, an equi-join on list id (expected corpus*n_probe/n_centroids
    candidates per query).

    Default centroid selection is deterministic-seed (the n_centroids
    lowest-id corpus vectors, unit-normalized) so results are
    reproducible without an RNG or a training pass; pass
    ``centroids=ivf_train_kmeans(corpus, ...)`` for a trained quantizer
    (same list shape, better-balanced lists). Recall < 1 by
    construction. Returns (query_id, match_id, cos), <= k per query.

    ``index=`` takes a pre-built inverted file (:func:`ivf_build_index`
    over the SAME centroids) so the corpus assignment pass is paid at
    ingest, not per query; ``corpus`` is then unused for candidate
    generation."""
    scored = _ivf_scored(
        queries, corpus, n_centroids, n_probe, id_col, vec_col,
        centroids, index,
    )
    return _top_matches(scored, k)


def ivf_range_search(
    queries: DataFrame,
    corpus: DataFrame,
    tau: float,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-accelerated cosine RANGE search — the scale path for
    :func:`cosine_range_search`: candidates come from each query's
    ``n_probe`` nearest inverted lists (the same coarse quantizer as
    :func:`ivf_ann_topk`), then the exact cosine threshold filters
    them. Returns (query_id, match_id, cos), a SUBSET of the exact
    range result with bit-identical scores (identical fold_dot
    arithmetic — approximation may only LOSE matches beyond the probed
    lists, never mis-score one); recall rises with n_probe and hits 1
    at n_probe = n_centroids.

    Scale shape: one equi-join on list id (corpus*n_probe/n_centroids
    candidates per query) + a codegen filter — NO per-query window at
    all, so unlike top-k there is zero shuffle after the join; with
    ``index=`` the corpus assignment is ingest-amortized."""
    scored = _ivf_scored(
        queries, corpus, n_centroids, n_probe, id_col, vec_col,
        centroids, index,
        # once=True: cos is both FILTERED on (the tau threshold below)
        # and EMITTED — without the non-determinism pin the optimizer
        # copies the Arrow fold into the pushed-down filter and every
        # IVF candidate pays the scoring UDF twice (guide §4.4; the
        # exact twin cosine_range_search got this pin in r14, this IVF
        # path was the r15 sweep's remaining true positive —
        # ann_range_certified showed ArrowEvalPython/Filter/
        # ArrowEvalPython with identical fold signatures in both legs)
        once=True,
    )
    return scored.filter(F.col("cos") >= tau)


def _ivf_scored(
    queries: DataFrame,
    corpus: DataFrame,
    n_centroids: int,
    n_probe: int,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]] | None,
    index: DataFrame | None,
    once: bool = False,
) -> DataFrame:
    """Shared IVF candidate generation + exact scoring: assign queries
    to n_probe lists, equi-join the inverted file, score each candidate
    with the exact fold_dot cosine. Consumers cut top-k (window — no
    filter on cos, leave ``once`` off so unrelated predicates keep
    pushing) or threshold (filter on cos — pass ``once=True``, see
    fold_dot §4.4 note)."""
    q = _with_norm(queries, id_col, vec_col, "query_id", "qv")
    if index is not None:
        if centroids is None:
            raise ValueError(
                "ivf_ann_topk: index= requires the centroids it was "
                "built with (query assignment must use the same "
                "quantizer)"
            )
        c_assigned = index
    else:
        c = _with_norm(corpus, id_col, vec_col, "match_id", "cv")
        if centroids is None:
            centroids = _seed_centroids(c, "match_id", "cv", n_centroids)
        c_assigned = ivf_assign(c, centroids, "cv", n_probe=1).select(
            "match_id", "cv", "cv_nrm",
            F.element_at("list_id", 1).alias("list_id"),
        )
    q_assigned = ivf_assign(q, centroids, "qv", n_probe=n_probe).select(
        "query_id", "qv", "qv_nrm", F.explode("list_id").alias("list_id")
    )
    # queries are the broadcast-sized side by construction (a probe set
    # vs the corpus): broadcasting pins a shuffle-free hash join — the
    # corpus streams, no exchange, no AQE replan. No dedup needed: each
    # corpus vector lives in exactly one list, and a query probes
    # n_probe DISTINCT lists
    return _scored(
        F.broadcast(q_assigned).join(c_assigned, "list_id"), once=once
    )


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    num_planes: int = 6,
    num_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_bits: int = 0,
) -> DataFrame:
    """Approximate NN top-k: multi-table sign-LSH. Both sides are
    bucketed in ``num_tables`` independent tables of ``num_planes``
    hyperplanes; candidates come from an equi-join on (table, bucket)
    — expected num_tables*corpus/2^planes candidates per query, never
    a cross product. A pair colliding in several tables is deduped by
    the (query, match) max-aggregate before ranking. Recall < 1 by
    construction; tune with (num_planes down | num_tables up |
    probe_bits up).

    ``probe_bits`` > 0 enables multi-probe: each query additionally
    probes the buckets at Hamming distance 1 obtained by flipping each
    of the first ``probe_bits`` plane bits. Near-miss neighbors that
    landed one sign flip away are recovered WITHOUT extra tables — the
    candidate volume grows by (1+probe_bits)x on the query side only,
    while adding a table grows storage AND both join sides. The probe
    expansion is a pure array+explode projection (codegen).

    Returns (query_id, match_id, cos) with <= k rows per query.
    """
    q = _lsh_tables(
        _with_norm(queries, id_col, vec_col, "query_id", "qv"),
        "qv", num_planes, dim, num_tables,
    )
    if probe_bits:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(min(probe_bits, num_planes))
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    c = _lsh_tables(
        _with_norm(corpus, id_col, vec_col, "match_id", "cv"),
        "cv", num_planes, dim, num_tables,
    )
    # queries are the broadcast-sized side by construction (a probe set
    # vs the corpus): broadcasting pins a shuffle-free hash join — the
    # corpus streams, no exchange, no AQE replan; the max-aggregate
    # dedups multi-table collisions (cos identical across tables)
    scored = (
        _scored(F.broadcast(q).join(c, ["tbl", "bucket"]))
        .groupBy("query_id", "match_id")
        .agg(F.max("cos").alias("cos"))
    )
    return _top_matches(scored, k)


def centroid_per_group(
    df: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    order_col: str = "vec_id",
    bucket_rows: int | None = None,
) -> DataFrame:
    """Per-group embedding centroid in LONG form: (group, pos, centroid,
    n) — one row per (group, vector dimension). The mean-vector
    primitive behind IVF coarse-quantizer (re)training, cluster
    summarization, and class prototypes.

    Determinism: per-dimension values are summed as an explicit
    left-to-right fold in ``order_col`` order (same contract as the
    suite's dot products / ewma folds) — bit-identical across engines
    and partitionings. DECIMAL sums don't work here: arbitrary float
    payloads need ~45 fractional digits for an exact decimal image,
    and high-scale decimal->double casts are not correctly rounded in
    every engine.

    Scale: one posexplode (narrow) + one hash aggregate on (group,
    pos). The fold materializes each (group, dim) value list once
    inside the aggregate — fine up to millions of rows per group.

    ``bucket_rows`` set: the bounded-memory two-level fold — rows
    bucket per (group, pos) in ``order_col`` order, each bucket folds
    its own ordered list (<= bucket_rows values), and a second ordered
    fold sums the ~n/bucket_rows bucket partials. Same one-pass
    shuffle count; peak state per aggregate drops to
    O(max(bucket_rows, n/bucket_rows)). Summation is re-associated at
    bucket boundaries (last-ulps divergence from the flat fold) — use
    the default for bit-exact cross-engine hashes on bounded groups.
    """
    x = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("ord"),
        F.posexplode(vec_col).alias("pos", "v"),
    )
    if bucket_rows is not None:
        wrn = Window.partitionBy("grp", "pos").orderBy("ord")
        xb = x.withColumn(
            "_bk", ((F.row_number().over(wrn) - 1) / F.lit(bucket_rows)).cast("long")
        )
        part = xb.groupBy("grp", "pos", "_bk").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("ord", "v"))),
                F.lit(0.0),
                lambda acc, t: acc + t["v"].cast("double"),
            ).alias("_p"),
            F.count(F.lit(1)).alias("_n"),
        )
        agg = part.groupBy("grp", "pos").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(F.col("_bk"), F.col("_p")))),
                F.lit(0.0),
                lambda acc, t: acc + t["_p"],
            ).alias("_s"),
            F.sum("_n").alias("n"),
        )
        return agg.select(
            F.col("grp").alias(group_col),
            F.col("pos").cast("long").alias("pos"),
            (F.col("_s") / F.col("n")).alias("centroid"),
            "n",
        )
    agg = x.groupBy("grp", "pos").agg(
        F.array_sort(F.collect_list(F.struct("ord", "v"))).alias("_a"),
        F.count(F.lit(1)).alias("n"),
    )
    s = F.aggregate(
        F.col("_a"),
        F.lit(0.0),
        lambda acc, t: acc + t["v"].cast("double"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("pos").cast("long").alias("pos"),
        (s / F.col("n")).alias("centroid"),
        "n",
    )


def centroid_outliers(
    df: DataFrame,
    k: int = 5,
    group_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-group embedding outliers: the k vectors farthest (L2) from
    their own group's centroid — mislabel/outlier screening for
    labeled embedding sets and the quality check after clustering.
    Returns (group, id, dist) with exactly k rows per group (ties
    broken by id).

    Determinism: the centroid comes from :func:`centroid_per_group`'s
    ordered folds; the squared distance is a dimension-ordered fold of
    (v - c)^2 — bit-identical across engines. Scale: one posexplode +
    equi-join on (group, dim) + per-(group, id) fold bounded by dim,
    then a per-group top-k window. Never materializes more than one
    vector's dimensions per fold.
    """
    cent = centroid_per_group(df, group_col, vec_col, id_col).select(
        F.col(group_col).alias("_g"), "pos", "centroid"
    )
    x = df.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "_v"),
    )
    j = x.join(cent, ["_g", "pos"]).withColumn(
        "_d2", (F.col("_v") - F.col("centroid")) * (F.col("_v") - F.col("centroid"))
    )
    agg = j.groupBy("_g", "_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("_d2")))),
            F.lit(0.0),
            lambda acc, t: acc + t["_d2"],
        ).alias("_s")
    )
    return topk_per_group(agg, k, ["_g"], "_s", tiebreak=["_id"]).select(
        F.col("_g").alias(group_col),
        F.col("_id").alias(id_col),
        F.sqrt(F.col("_s")).alias("dist"),
    )


def matryoshka_truncate(
    df: DataFrame,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022): keep the first
    ``dims`` dimensions and L2-renormalize — the storage/recall dial of
    MRL-trained embedding stores (a 64 -> 16 truncation is 4x less
    storage and ~4x faster brute-force scoring, recoverable recall).

    Pure expressions: slice + one deterministic left-fold norm +
    transform divide; zero shuffle. The fold order matches the DuckDB
    ``list_reduce`` oracle bit-for-bit; zero vectors pass through
    unnormalized (no 0/0 NaN). Input spreads across cores first — HOF
    lambdas evaluate interpreted, and a one-file parquet input would
    otherwise pin the map to a single task."""
    df = _spread(df)
    v = F.transform(
        F.slice(F.col(vec_col), 1, dims), lambda x: x.cast("double")
    )
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.when(nrm > 0.0, F.transform(v, lambda x: x / nrm)).otherwise(v)
    return df.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], unit.alias(out_col)
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding", scale: int = 1_000_000
) -> DataFrame:
    """Per-dimension corpus statistics (n, mean, variance) over the
    embedding store — the one-pass profile behind centering/whitening
    and drift monitoring at 100 TB scale.

    Values quantize to fixed point (``floor(x*scale + 0.5)``, a
    correctly-rounded double op, engine-identical) and the sums run
    over exact decimal INTEGERS — so the result is bit-deterministic
    across partitionings AND engines (a double sum is order-dependent;
    a double->DECIMAL(38,18) cast rounds differently across engines).
    Mean/variance derive from the exact sums in one pinned double
    formula (E[x^2] - E[x]^2), at 1/scale resolution.

    Shape: posexplode to (dim, x) -> ONE partial-aggregating groupBy on
    the dimension index (the shuffle carries |dims| rows per map
    task, nothing else)."""
    x = _spread(df).select(F.posexplode(F.col(vec_col)).alias("dim", "_x"))
    q = F.floor(F.col("_x").cast("double") * scale + F.lit(0.5)).cast("long")
    xq = x.select("dim", q.alias("_q"))
    agg = xq.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("_q").cast("decimal(38,0)")).alias("_s"),
        F.sum(F.col("_q").cast("decimal(19,0)") * F.col("_q")).alias("_s2"),
    )
    mean = F.col("_s").cast("double") / (F.col("n") * F.lit(float(scale)))
    ex2 = F.col("_s2").cast("double") / (
        F.col("n") * F.lit(float(scale) * float(scale))
    )
    return agg.select(
        "dim",
        "n",
        mean.alias("mean"),
        (ex2 - mean * mean).alias("variance"),
    )


def _lit_array(xs):
    return F.array(*[F.lit(x) for x in xs])


def _dim_profile(stats: DataFrame, op: str):
    """The rows of an :func:`embedding_dim_stats` profile in dim order
    and their means; an empty profile raises."""
    rows = sorted(stats.collect(), key=lambda r: int(r["dim"]))
    if not rows:
        raise ValueError(f"{op}: empty embedding_dim_stats profile")
    return rows, [float(r["mean"]) for r in rows]


def _centered(vec_col: str, means: list[float]):
    """``x - mean`` per dimension, in double, the means as literals."""
    return F.zip_with(
        _as_double(F.col(vec_col)), _lit_array(means), lambda x, mu: x - mu
    )


def _cov_times(src: DataFrame, v: list[float], scale: int) -> list[float]:
    """One power-iteration pass over the centered column ``_c`` of
    ``src``: per dimension j, the sum over rows of ``c_j * (c . v)``
    (n times ``C v``). Each contribution quantizes to the 1/scale grid
    and sums as exact decimal integers, so the result is the same under
    any partitioning. Only the dim-length vector is collected. The dot
    ``c . v`` is its own column ``_d`` below the ``posexplode``, so it
    is evaluated once per row, not once per element of the lambda."""
    d = dot(F.col("_c"), _lit_array(v))
    q = F.transform(
        F.transform(F.col("_c"), lambda x: x * F.col("_d")),
        lambda x: F.floor(x * F.lit(float(scale)) + F.lit(0.5)).cast("long"),
    )
    sums = (
        src.select("_c", d.alias("_d"))
        .select(F.posexplode(q).alias("dim", "_q"))
        .groupBy("dim")
        .agg(F.sum(F.col("_q").cast("decimal(38,0)")).alias("s"))
        .collect()
    )
    w = [0.0] * len(v)
    for r in sums:
        w[int(r["dim"])] = float(r["s"]) / float(scale)
    return w


def top_principal_component(
    df: DataFrame,
    n_iter: int = 12,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> tuple[list[float], float, int]:
    """Top principal component of the embedding store by DISTRIBUTED
    power iteration — the dominant-variance direction behind drift
    monitoring, ABTT-style common-direction removal (Mu & Viswanath
    2018 "All-but-the-Top"), and 1-D corpus visualization. Returns
    ``(component (unit, dim list), eigenvalue, n_rows)``.

    Each iteration is one pass: every row contributes
    ``c_j = x~_j * (x~ . v)`` (x~ centered against the decimal-exact
    dim_stats means), the contribution QUANTIZES to the 1e-6 grid and
    sums per dimension as exact decimal integers — so the iterate is
    bit-identical under any partitioning, and repeated runs converge
    identically (the same partition-invariance contract as
    ivf_train_kmeans' decimal re-centering). Only the dim-length
    vector collects per iteration. v0 is the axis of the
    largest-variance dimension (deterministic, no RNG); the returned
    component is sign-fixed so its largest-magnitude entry is
    positive. The eigenvalue is the Rayleigh quotient v.(C v) from
    the final exact pass.

    Scale: per iteration one posexplode + decimal hash-agg on the dim
    key (shuffle carries |dims| rows per map task); everything else is
    broadcast literals. 100 TB-safe by construction."""
    import math

    stats, means = _dim_profile(
        embedding_dim_stats(df, vec_col, scale=scale), "top_principal_component"
    )
    dim = len(stats)
    n_rows = int(stats[0]["n"])
    v = [0.0] * dim
    v[max(stats, key=lambda r: (float(r["variance"]), int(r["dim"])))["dim"]] = 1.0
    src = _spread(df).select(_centered(vec_col, means).alias("_c"))
    src = src.localCheckpoint(eager=False)  # reused every iteration

    lam = 0.0
    for _ in range(n_iter):
        w = _cov_times(src, v, scale)
        # Rayleigh quotient BEFORE normalization: lam = v.(Cv) with
        # Cv = w/n (v is unit)
        lam = sum(a * b for a, b in zip(v, w)) / n_rows
        nrm = math.sqrt(sum(x * x for x in w))
        if nrm == 0.0:  # degenerate (all-identical corpus): keep v0
            break
        v = [x / nrm for x in w]
    # deterministic orientation: largest-|component| entry positive
    j = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[j] < 0:
        v = [-x for x in v]
    return v, lam, n_rows


def remove_top_component(
    df: DataFrame,
    component: list[float],
    means: list[float] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """All-but-the-Top post-processing (Mu & Viswanath, ICLR 2018):
    center each embedding and project out the dominant component —
    ``x' = x~ - (x~ . v) v`` — the classic isotropy fix that improves
    similarity benchmarks on anisotropic embedding stores. ``component``
    comes from :func:`top_principal_component` (ingest-amortized);
    ``means`` from the dim_stats profile (computed from ``df`` when
    omitted). Pure projection: the vector and means ship as literals
    into zip_with/transform expressions — no join, no shuffle beyond
    the optional stats aggregate. After this transform,
    ``dot(x', v) == 0`` up to double rounding for every row — the
    invariant emb_abtt_certified pins."""
    if means is None:
        _, means = _dim_profile(
            embedding_dim_stats(df, vec_col), "remove_top_component"
        )
    if len(means) != len(component):
        raise ValueError(
            f"means ({len(means)}) and component ({len(component)}) "
            "dimensions differ"
        )
    v_arr = _lit_array(component)
    # the projection scalar materializes via fold_dot (one Arrow-batch
    # pass) BEFORE the subtraction zip_with — embedding the fold
    # expression inside the lambda would re-evaluate it per element
    # (O(d^2) interpreted work per row)
    base = _spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        _centered(vec_col, means).alias("_c"),
    ).withColumn("_p", fold_dot(F.col("_c"), v_arr))
    out = F.zip_with(
        F.col("_c"), v_arr, lambda c, vv: c - F.col("_p") * vv
    )
    return base.select(
        F.col(id_col), *[F.col(c) for c in keep_cols], out.alias(out_col)
    )


def top_principal_components(
    df: DataFrame,
    k: int,
    n_iter: int = 15,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> list[tuple[list[float], float]]:
    """Top-``k`` principal components by power iteration WITH
    DEFLATION: after each component converges, project it out of the
    (already centered) corpus (:func:`remove_top_component` with zero
    means — the data is centered once up front) and iterate again on
    the residual cloud. Returns ``[(component, eigenvalue), ...]`` in
    decreasing eigenvalue order — the top-D directions
    All-but-the-Top removes (D ~ dim/100 in Mu & Viswanath 2018) and
    the axes of a k-D corpus map. Each deflated corpus materializes
    via localCheckpoint so iteration t+1 does not replay t chained
    projections; determinism is inherited from
    :func:`top_principal_component`'s quantized-decimal iterate."""
    if k < 1:
        raise ValueError("k must be >= 1")
    comps: list[tuple[list[float], float]] = []
    cur = df.select(F.col(vec_col))
    zero_means: list[float] | None = None
    for t in range(k):
        v, lam, n = top_principal_component(
            cur, n_iter=n_iter, vec_col=vec_col, scale=scale
        )
        comps.append((v, lam))
        if t == k - 1:
            break
        if zero_means is None:
            zero_means = [0.0] * len(v)
        # deflate: the first pass centers (means from the data); later
        # passes are already centered, so means pin to zero
        cur = remove_top_component(
            cur.withColumn("_rid", F.monotonically_increasing_id()),
            v,
            means=None if t == 0 else zero_means,
            id_col="_rid",
            vec_col=vec_col,
            out_col=vec_col,
        ).drop("_rid").localCheckpoint(eager=False)
    return comps


def pca_residual(
    df: DataFrame,
    component: list[float],
    eigenvalue: float,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> float:
    """Relative eigen-residual ``||C v - lam v|| / lam`` for a
    component/eigenvalue pair from :func:`top_principal_component` —
    the convergence certificate. One pass with the same
    quantized-decimal per-dimension sums (partition-invariant), so the
    scalar is deterministic."""
    import math

    stats, means = _dim_profile(
        embedding_dim_stats(df, vec_col, scale=scale), "pca_residual"
    )
    n_rows = int(stats[0]["n"])
    src = _spread(df).select(_centered(vec_col, means).alias("_c"))
    cv = [x / n_rows for x in _cov_times(src, component, scale)]
    resid = math.sqrt(
        sum((a - eigenvalue * b) ** 2 for a, b in zip(cv, component))
    )
    return resid / eigenvalue if eigenvalue > 0 else float("inf")


def whiten_embeddings(
    df: DataFrame,
    stats: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of the
    embedding store: ``z_j = (x_j - mean_j) / sd_j`` with the corpus
    profile from :func:`embedding_dim_stats` — the centering step that
    makes cosine/L2 geometry comparable across dimensions with very
    different scales (and the cheap approximation of full ZCA without
    a covariance pass). Zero-variance dimensions map to 0.0 (they
    carry no information; the centered value is 0 up to quantization).

    ``stats=`` takes a precomputed (persisted) profile — at 100 TB the
    stats pass is ingest work and every downstream job reuses it; the
    default computes it from ``df`` in one aggregate.

    Determinism: means/variances come from decimal-exact integer sums
    (partition-order independent); sd is ``math.sqrt`` on the driver
    (correctly-rounded IEEE, identical to SQL ``sqrt``), shipped as
    per-dimension LITERALS into one zip_with projection — no join, no
    shuffle beyond the tiny stats aggregate itself."""
    import math

    if stats is None:
        stats = embedding_dim_stats(df, vec_col)
    rows, means = _dim_profile(stats, "whiten_embeddings")  # |dims| rows
    sds = [math.sqrt(max(float(r["variance"]), 0.0)) for r in rows]
    z = F.zip_with(
        _centered(vec_col, means),
        _lit_array(sds),
        lambda c, s: F.when(s > 0.0, c / s).otherwise(F.lit(0.0)),
    )
    return _spread(df).select(
        F.col(id_col), *[F.col(c) for c in keep_cols], z.alias("z")
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization — the 4x storage
    compression step of an embedding store (100 TB of float32 vectors
    -> 25 TB of int8 + one scale per vector):

        scale = max|x_i|;  q_i = clamp(floor(x_i * 127/scale + 0.5), ±127)

    Returns (id, scale, q [array<tinyint-range longs>], plus exact
    audit stats: q_min/q_max/q_sum and the L1 dequantization error
    ``err_l1 = sum_i |x_i - q_i*scale/127|``).

    Determinism: floor(x+0.5) rounding (NOT banker's round — identical
    in every engine), clamp via greatest/least, and the error fold is
    an index-ordered left fold — bit-exact against a SQL oracle. Zero
    vectors (scale == 0) quantize to all-zero q with err 0.

    Scale shape: pure per-row HOF expressions — a narrow map, no
    shuffle, no UDF, no driver involvement. HOF lambdas evaluate
    INTERPRETED, so the input spreads across cores first (a one-file
    parquet fixture otherwise pins the whole map to a single task —
    measured 2.8 s -> ~0.3 s at sf0.1 on local[32]).
    """
    df = _spread(df)
    xa = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(xa, F.abs))
    s = F.lit(127.0) / scale

    def q_of(x):
        return F.greatest(
            F.lit(-127
            ), F.least(F.lit(127), F.floor(x * s + F.lit(0.5)))
        )

    inv = scale / F.lit(127.0)
    q = F.when(scale == 0.0, F.transform(xa, lambda x: F.lit(0).cast("long"))).otherwise(
        F.transform(xa, q_of)
    )
    err = F.when(scale == 0.0, F.lit(0.0)).otherwise(
        F.aggregate(
            xa, F.lit(0.0), lambda acc, x: acc + F.abs(x - q_of(x).cast("double") * inv)
        )
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        err.alias("err_l1"),
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rate: float | None = None,
):
    """Train a product quantizer (Jégou et al., TPAMI'11 — public
    algorithm): the vector splits into ``m`` subspaces, each with its
    own ``k``-centroid L2 k-means codebook, so a d-dim float vector
    stores as ``m`` single-byte codes (32x compression at d=64, m=8).

    Returns ``codebooks``: a list of m numpy arrays, each (k, d/m).

    Deterministic end to end: seedless init (the k lowest-id vectors'
    subvectors), decimal per-dimension sums for re-centering (order-
    independent), ties toward the lower centroid id. ``sample_rate``
    trains on a deterministic hash-sample — the standard economy at
    scale (codebooks are statistics, not corpus-sized).

    Shape per iteration: one vectorized assignment UDF pass + one
    (m x k x d/m)-cell aggregate; only those sums are collected.
    """
    import numpy as np

    from boostdb_spark.operators.text import hash32

    df = corpus.select(id_col, vec_col)
    if sample_rate is not None:
        bucket = hash32(F.col(id_col).cast("string")) % 10_000
        df = df.filter(bucket < int(sample_rate * 10_000))
    dim = len(df.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    seed = df.orderBy(id_col).limit(k).collect()
    vecs = np.array([[float(x) for x in r[vec_col]] for r in seed])
    codebooks = [vecs[:, j * sub : (j + 1) * sub].copy() for j in range(m)]

    xa = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    flat = df.select(xa.alias("v")).localCheckpoint(eager=False)
    for _ in range(n_iter):
        codes = pq_encode_codes(flat, codebooks, vec_col="v")
        sums = (
            codes.select(F.posexplode("v").alias("pos", "x"), "codes")
            .select(
                (F.col("pos") / sub).cast("int").alias("j"),
                (F.col("pos") % sub).alias("p"),
                F.element_at(F.col("codes"), (F.col("pos") / sub).cast("int") + 1).alias("c"),
                "x",
            )
            .groupBy("j", "c", "p")
            .agg(
                F.sum(F.col("x").cast("decimal(28,14)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        acc: dict[tuple[int, int], np.ndarray] = {}
        cnt: dict[tuple[int, int], int] = {}
        for r in sums:
            key = (int(r["j"]), int(r["c"]))
            acc.setdefault(key, np.zeros(sub))[int(r["p"])] = float(r["s"])
            cnt[key] = int(r["n"])  # vectors in (subspace, centroid)
        for j in range(m):
            for c in range(k):
                s = acc.get((j, c))
                if s is not None and cnt[(j, c)]:
                    codebooks[j][c] = s / cnt[(j, c)]
                # empty cell: keep its previous center (standard Lloyd)
    return codebooks


def pq_encode_codes(
    df: DataFrame, codebooks, vec_col: str = "embedding", out_col: str = "codes"
) -> DataFrame:
    """Attach the PQ code array (m small ints) to each vector row: per
    subspace, the L2-nearest codebook row (ties -> lower id).
    Vectorized Arrow UDF against the broadcast codebook matrices."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(Cs)
    sub = Cs[0].shape[1]

    @pandas_udf("array<int>")
    def enc(v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="object")
        X = np.stack([np.asarray(x, dtype="float64") for x in v.values])
        out = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin ties -> lower id
            D = -2.0 * (Xj @ Cs[j].T) + (Cs[j] ** 2).sum(axis=1)[None, :]
            out[:, j] = D.argmin(axis=1)
        return pd.Series(list(out))

    return df.withColumn(out_col, enc(F.col(vec_col)))


def _guard_query_count(queries: DataFrame, max_queries: int, op: str) -> None:
    """Fail loudly when the query side exceeds the documented
    few-queries contract, instead of driver-collecting (pq) or
    JVM-broadcasting (cosine) whatever arrives. A ``limit(n+1)`` probe
    — a narrow scan that stops early — not a full count."""
    probe = queries.select(F.lit(1)).limit(max_queries + 1).count()
    if probe > max_queries:
        raise ValueError(
            f"{op}: query side exceeds max_queries={max_queries} "
            f"(few-queries-vs-huge-corpus contract; for bulk query sets "
            f"use the bucketed/banded paths, e.g. lsh_ann_topk, or raise "
            f"max_queries explicitly if the driver/executors can hold "
            f"the per-query state)"
        )


def pq_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks,
    topk: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    max_queries: int = 10_000,
    corpus_codes: DataFrame | None = None,
) -> DataFrame:
    """PQ asymmetric-distance top-k: the corpus is stored ONLY as m-byte
    codes; each query builds m lookup tables (k entries each) and every
    corpus distance is m table lookups — no float vector is ever read
    at query time. Approximate by construction (quantization error).
    ``corpus_codes=`` takes the pre-encoded code table
    (:func:`pq_encode_codes` output persisted at ingest, columns
    id_col + codes) so query time never re-encodes the corpus; the
    float ``corpus`` is still read for the exact re-rank candidates.
    Returns (query_id, match_id, adist), <= topk per query, adist =
    approximate squared L2.

    Scale: codes stream (never collected); queries broadcast inside
    the Arrow UDF; the only shuffle is the per-query top-k window.
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    Cs = [np.asarray(cb, dtype="float64") for cb in codebooks]
    m = len(Cs)
    sub = Cs[0].shape[1]
    _guard_query_count(queries, max_queries, "pq_ann_topk")
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    # per query: (m, k) table of squared distances to each centroid
    tables = []
    for r in q_rows:
        qv = np.asarray([float(x) for x in r[vec_col]])
        tables.append(
            np.stack(
                [
                    ((Cs[j] - qv[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
                    for j in range(m)
                ]
            )
        )
    T = np.stack(tables)  # (n_q, m, k)

    cols = np.arange(m)

    @pandas_udf("array<double>")
    def adist(codes: pd.Series) -> pd.Series:
        if len(codes) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="object")
        C = np.stack([np.asarray(c, dtype="int64") for c in codes.values])
        # per query i: T[i][j, C[:, j]] summed over subspaces j
        out = np.stack([T[i][cols, C].sum(axis=1) for i in range(T.shape[0])])
        return pd.Series(list(out.T))  # (batch, n_q)

    # asNondeterministic: same §4.4 generator-filter duplication as the
    # LSH bucket UDF — the posexplode over _d otherwise re-evaluates the
    # whole ADC scoring pass per corpus row for an inferred size()>0
    # pre-filter that explode semantics make redundant.
    adist = adist.asNondeterministic()

    if corpus_codes is not None:
        encoded = corpus_codes.select(
            F.col(id_col).alias("match_id"), "codes"
        )
    else:
        encoded = pq_encode_codes(corpus, codebooks, vec_col=vec_col).select(
            F.col(id_col).alias("match_id"), "codes"
        )
    scored = encoded.withColumn("_d", adist(F.col("codes")))
    # ONE posexplode fans the per-query distance array out to rows —
    # a per-query union would build n_q plan branches and re-scan the
    # codes n_q times
    qid_arr = _lit_array(q_ids)
    all_scored = scored.select(
        "match_id", F.posexplode(F.col("_d")).alias("_qi", "adist")
    ).select(
        F.element_at(qid_arr, F.col("_qi") + 1).alias("query_id"),
        "match_id",
        "adist",
    ).filter(F.col("query_id") != F.col("match_id"))
    cand = topk_per_group(
        all_scored, topk * rerank if rerank else topk, ["query_id"], "adist",
        ascending=True, tiebreak=["match_id"],
    )
    if not rerank:
        return cand
    # exact re-rank: only the topk*rerank ADC candidates per query read
    # their float vectors back — the standard PQ recall restorer; the
    # exact pass touches candidates, never the corpus
    qmap = {qid: np.asarray([float(x) for x in r[vec_col]])
            for qid, r in zip(q_ids, q_rows)}
    from pyspark.sql.functions import pandas_udf

    Q = np.stack([qmap[qid] for qid in q_ids])
    q_index = {qid: i for i, qid in enumerate(q_ids)}

    @pandas_udf("double")
    def exact_l2(qid: pd.Series, v: pd.Series) -> pd.Series:
        if len(v) == 0:  # empty Arrow batch: np.stack([]) raises
            return pd.Series([], dtype="float64")
        X = np.stack([np.asarray(x, dtype="float64") for x in v.values])
        qi = np.array([q_index[int(i)] for i in qid], dtype="int64")
        return pd.Series(((X - Q[qi]) ** 2).sum(axis=1))

    joined = cand.join(
        no_broadcast(
            corpus.select(F.col(id_col).alias("match_id"), vec_col)
        ),
        "match_id",
    )
    exact = joined.withColumn("dist", exact_l2(F.col("query_id"), F.col(vec_col)))
    return topk_per_group(
        exact, topk, ["query_id"], "dist", ascending=True, tiebreak=["match_id"]
    ).select("query_id", "match_id", "dist")


def rrf_fuse(
    rankings: list[tuple[DataFrame, str]],
    k: int = 20,
    c: float = 60.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of N candidate rankings — the standard hybrid-retrieval combiner
    (sparse BM25 + dense ANN): ``rrf(d) = sum_i 1/(c + rank_i(d))``
    over the rankings that contain d. Each input is (df, rank_col)
    where df holds one row per candidate with a 1-based rank.

    Shape: candidate lists are top-k bounded (tiny next to the
    corpus), so the fusion is a chain of full-outer joins on the id —
    at production scale these are broadcast joins over ~k rows per
    ranking, nothing touches the corpus again. Scores are exact IEEE
    divisions/additions in fixed list order, so the fused ordering is
    engine-independent; ties break on the id."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    fused = None
    contribs: list[str] = []
    for i, (df, rank_col) in enumerate(rankings):
        side = df.select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias(f"_r{i}"),
        )
        fused = side if fused is None else fused.join(side, id_col, "full")
        contribs.append(f"_r{i}")
    score = None
    for name in contribs:
        s_i = F.coalesce(
            F.lit(1.0) / (F.lit(c) + F.col(name).cast("double")), F.lit(0.0)
        )
        score = s_i if score is None else score + s_i
    return (
        fused.select(
            id_col,
            score.alias("rrf"),
            *[F.col(n).alias(f"rank_{i}") for i, n in enumerate(contribs)],
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    pool: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = 100_000,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    SIGIR'98): from each query's top-``pool`` cosine candidates,
    greedily select ``k`` results maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in selected} cos(d, s)`` —
    relevance traded against redundancy, the standard diversified
    retrieval head over any dense index. First pick = pure argmax
    relevance; all ties break on smaller candidate id.

    Shape: candidate generation is :func:`cosine_topk` (swap in the
    IVF/LSH/PQ paths at scale — anything producing (query_id,
    match_id, cos)); the greedy loop runs per query over a
    pool-bounded group via applyInPandas — O(k * pool) work on
    <= pool rows per task, embarrassingly parallel across queries,
    never corpus-sized. Returns (query_id, match_id, rel, sel_rank)
    with sel_rank 1-based selection order.

    The greedy argmax chain is order-free given the candidate set
    (deterministic float comparisons + id tie-break), so the output is
    partitioning-invariant; the certified suite entry re-checks
    step-optimality with an independent JVM-side pair join."""
    import numpy as np
    import pandas as pd

    _guard_query_count(queries, max_queries, "mmr_rerank")
    cand = _top_matches(_exact_scored(queries, corpus, id_col, vec_col), pool)
    withv = cand.join(
        no_broadcast(
            corpus.select(
                F.col(id_col).alias("match_id"),
                _as_double(F.col(vec_col)).alias("_v"),
            )
        ),
        "match_id",
    ).select("query_id", "match_id", F.col("cos").alias("rel"), "_v")

    # derive the id type from the input schema (the cosine_neardup_pairs
    # pattern) — string/int doc ids must round-trip through the pandas
    # group unchanged, not be coerced to long
    id_type = dict(queries.dtypes)[id_col]
    out_schema = (
        f"query_id {id_type}, match_id {id_type}, rel double, sel_rank int"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "match_id": [], "rel": [], "sel_rank": []}
            )
        pdf = pdf.sort_values("match_id").reset_index(drop=True)
        ids = pdf["match_id"].to_numpy()
        rel = pdf["rel"].to_numpy()
        X = np.stack([np.asarray(v, dtype="float64") for v in pdf["_v"]])
        nrm = np.sqrt((X * X).sum(axis=1))
        nrm[nrm == 0.0] = 1.0  # zero vectors: sims stay 0
        U = X / nrm[:, None]
        sims = U @ U.T
        n = len(ids)
        selected: list[int] = []
        # true MMR: the redundancy term is the max over SELECTED only —
        # it can be negative (dissimilar vectors REWARD selection); a
        # zero floor would silently clamp it (the certificate entry
        # caught exactly that in round 12)
        max_sim = np.full(n, -np.inf)
        avail = np.ones(n, dtype=bool)
        for rank in range(min(k, n)):
            score = np.where(
                avail,
                (lam * rel - (1.0 - lam) * max_sim)
                if selected
                else rel,
                -np.inf,
            )
            best = int(np.argmax(score))  # ids ascending -> smallest id wins ties
            selected.append(best)
            avail[best] = False
            max_sim = np.maximum(max_sim, sims[:, best])
        sel = np.array(selected)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[sel].to_numpy(),
                "match_id": ids[sel],
                "rel": rel[sel],
                "sel_rank": np.arange(1, len(sel) + 1, dtype="int32"),
            }
        )

    return withv.groupBy("query_id").applyInPandas(greedy, out_schema)
