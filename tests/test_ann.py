"""Approximate-NN operators (no SQL oracle by design): determinism,
score correctness against brute force, and recall sanity."""

import pytest
from pyspark.sql import functions as F

from boostdb_spark.operators import similarity as sim
from tests.conftest import SF_DIR

EMB = f"{SF_DIR}/embeddings.parquet"
K = 3


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(EMB)


@pytest.fixture(scope="module")
def brute(spark, emb):
    """Exact cosine of every (query, match) pair, query_id < 5."""
    out = sim.cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=10**9)
    return {(r["query_id"], r["match_id"]): r["cos"] for r in out.collect()}


def _run(op, emb):
    q = emb.filter(F.col("vec_id") < 5)
    if op == "lsh":
        return sim.lsh_ann_topk(q, emb, k=K, dim=64, num_planes=6, num_tables=8)
    return sim.ivf_ann_topk(q, emb, k=K, n_centroids=16, n_probe=4)


@pytest.mark.parametrize("op", ["lsh", "ivf"])
def test_deterministic(spark, emb, op):
    a = sorted(map(tuple, _run(op, emb).collect()))
    b = sorted(map(tuple, _run(op, emb).collect()))
    assert a == b and len(a) > 0


@pytest.mark.parametrize("op", ["lsh", "ivf"])
def test_scores_match_bruteforce_and_k_bound(spark, emb, brute, op):
    rows = _run(op, emb).collect()
    per_query = {}
    for r in rows:
        assert brute[(r["query_id"], r["match_id"])] == r["cos"]
        per_query.setdefault(r["query_id"], []).append(r["cos"])
    assert all(len(v) <= K for v in per_query.values())


@pytest.mark.parametrize("op", ["lsh", "ivf"])
def test_recall_sanity(spark, emb, brute, op):
    """Candidates come from real buckets, so SOME overlap with the true
    top-k must exist across 5 queries (statistical floor, not exact)."""
    true_topk = {}
    for (qid, mid), cos in brute.items():
        true_topk.setdefault(qid, []).append((cos, mid))
    top = {q: {m for _, m in sorted(v, reverse=True)[:K]} for q, v in true_topk.items()}
    got = _run(op, emb).collect()
    hits = sum(1 for r in got if r["match_id"] in top[r["query_id"]])
    assert hits >= 3  # >= 20% overall recall on the fixture


def test_multiprobe_lsh_recall_dominates_exact(spark, emb, brute):
    """Multi-probe (flip-1-bit) candidates are a superset of the exact
    bucket's candidates per table, so recall can only go up; scores
    still match brute force exactly and the result is deterministic."""
    q = emb.filter(F.col("vec_id") < 5)

    def pairs(probe_bits):
        out = sim.lsh_ann_topk(
            q, emb, k=K, dim=64, num_planes=6, num_tables=8,
            probe_bits=probe_bits,
        )
        return {(r["query_id"], r["match_id"]): r["cos"] for r in out.collect()}

    exact = pairs(0)
    probed = pairs(6)
    probed2 = pairs(6)
    assert probed == probed2  # deterministic
    for key, cos in probed.items():
        assert brute[key] == cos  # scores exact
    true_topk = {}
    for (qid, mid), cos in brute.items():
        true_topk.setdefault(qid, []).append((cos, mid))
    top = {qid: {m for _, m in sorted(v, reverse=True)[:K]} for qid, v in true_topk.items()}
    hit = lambda res: sum(1 for (qid, mid) in res if mid in top[qid])
    assert hit(probed) >= hit(exact)
    assert len(probed) >= len(exact) > 0


def test_ivf_kmeans_trained_quantizer(spark, emb, brute):
    """Lloyd-trained coarse quantizer: training is bit-deterministic
    (decimal re-centering sums), plugs into ivf_ann_topk, scores stay
    exact and the recall floor holds."""
    c1 = sim.ivf_train_kmeans(emb, n_centroids=8, n_iter=3)
    c2 = sim.ivf_train_kmeans(emb, n_centroids=8, n_iter=3)
    assert c1 == c2  # bit-identical retraining
    assert len(c1) == 8 and all(len(v) == 64 for _, v in c1)
    for _, v in c1:  # unit-normalized
        assert abs(sum(x * x for x in v) - 1.0) < 1e-9

    q = emb.filter(F.col("vec_id") < 5)
    out = sim.ivf_ann_topk(q, emb, k=K, n_probe=3, centroids=c1).collect()
    per_query = {}
    for r in out:
        assert brute[(r["query_id"], r["match_id"])] == r["cos"]
        per_query.setdefault(r["query_id"], []).append(r["cos"])
    assert all(len(v) <= K for v in per_query.values())
    true_topk = {}
    for (qid, mid), cos in brute.items():
        true_topk.setdefault(qid, []).append((cos, mid))
    top = {qid: {m for _, m in sorted(v, reverse=True)[:K]} for qid, v in true_topk.items()}
    hits = sum(1 for r in out if r["match_id"] in top[r["query_id"]])
    assert hits >= 3


def test_neardup_block_count_invariant(spark, emb):
    """cosine_neardup_pairs is the distributed exact all-pairs: the
    result must be identical for any block count (each unordered pair
    is scored in exactly one block-pair task, with symmetric
    bit-identical arithmetic)."""
    def rows(n_blocks):
        out = sim.cosine_neardup_pairs(emb, threshold=0.4, n_blocks=n_blocks)
        return sorted(map(tuple, out.collect()))

    a, b, c = rows(2), rows(7), rows(16)
    assert a == b == c
    assert len(a) > 0
    assert all(x < y for x, y, _ in a)


def test_neardup_refuses_over_pair_budget(spark, emb):
    """Exact all-pairs cosine is the O(N^2) baseline: an input whose
    estimated pair count exceeds max_pairs must be refused loudly with
    a pointer at the scale paths, BEFORE any O(N^2) work is planned."""
    import pytest

    with pytest.raises(ValueError, match="max_pairs"):
        sim.cosine_neardup_pairs(emb, threshold=0.4, max_pairs=100.0)
    # raising the budget explicitly re-admits the same input
    out = sim.cosine_neardup_pairs(emb, threshold=0.4, max_pairs=1e10)
    assert out.count() > 0


def test_pq_deterministic_and_recall(spark, emb):
    """PQ: bit-deterministic retraining/search; raw ADC recall clears a
    floor and exact re-ranking strictly improves it."""
    import numpy as np

    from pyspark.sql import functions as F

    from boostdb_spark.operators import similarity as sim

    cb1 = sim.pq_train(emb, m=8, k=16, n_iter=3)
    cb2 = sim.pq_train(emb, m=8, k=16, n_iter=3)
    assert all((a == b).all() for a, b in zip(cb1, cb2))

    q = emb.filter(F.col("vec_id") < 5)
    V = {
        int(r["vec_id"]): np.array([float(x) for x in r["embedding"]])
        for r in emb.collect()
    }

    def recall(rerank):
        got = {
            (r["query_id"], r["match_id"])
            for r in sim.pq_ann_topk(q, emb, cb1, topk=10, rerank=rerank).collect()
        }
        hits = 0
        for qid in range(5):
            d = sorted(
                (np.sum((v - V[qid]) ** 2), mid)
                for mid, v in V.items()
                if mid != qid
            )
            truth = {mid for _, mid in d[:10]}
            hits += len(truth & {m for (qq, m) in got if qq == qid})
        return hits / 50

    raw, rr = recall(0), recall(4)
    assert raw >= 0.2       # ADC alone finds a real signal
    assert rr >= raw + 0.2  # exact re-rank strictly lifts recall
    assert rr >= 0.6


def test_pq_codes_are_m_small_ints(spark, emb):
    from boostdb_spark.operators import similarity as sim

    cb = sim.pq_train(emb, m=8, k=16, n_iter=2, sample_rate=0.5)
    codes = sim.pq_encode_codes(emb, cb).select("codes").collect()
    for r in codes:
        cs = list(r["codes"])
        assert len(cs) == 8 and all(0 <= c < 16 for c in cs)


def test_query_side_guard_fires_on_oversized_set(spark, emb):
    """The few-queries contract is enforced, not assumed: an oversized
    query side raises a clear error BEFORE any driver collect /
    broadcast; below the bound behavior is unchanged."""
    from boostdb_spark.operators import similarity as sim

    cb = sim.pq_train(emb, m=8, k=16, n_iter=1)
    big = emb  # whole table as the query side
    n = emb.count()
    with pytest.raises(ValueError, match="max_queries"):
        sim.pq_ann_topk(big, emb, cb, topk=3, max_queries=n - 1)
    with pytest.raises(ValueError, match="max_queries"):
        sim.cosine_topk(big, emb, k=3, max_queries=n - 1)
    # at or below the bound: runs normally
    q = emb.filter(F.col("vec_id") < 3)
    assert sim.cosine_topk(q, emb, k=2, max_queries=3).count() == 6
    assert sim.pq_ann_topk(q, emb, cb, topk=2, max_queries=3).count() == 6


def test_matryoshka_unit_norm_and_prefix(spark, emb):
    import numpy as np

    from boostdb_spark.operators import similarity as sim

    out = sim.matryoshka_truncate(emb, dims=16, out_col="uv").collect()
    orig = {r["vec_id"]: list(r["embedding"])[:16] for r in emb.collect()}
    for r in out[:20]:
        u = np.array(r["uv"])
        assert abs(np.linalg.norm(u) - 1.0) < 1e-9
        o = np.array([float(x) for x in orig[r["vec_id"]]])
        # direction preserved: u parallel to the truncated prefix
        assert abs(float(np.dot(u, o)) - float(np.linalg.norm(o))) < 1e-6


def test_embedding_dim_stats_matches_numpy(spark, emb):
    import numpy as np

    from boostdb_spark.operators import similarity as sim

    X = np.array(
        [[float(x) for x in r["embedding"]] for r in emb.collect()]
    )
    Q = np.floor(X * 1e6 + 0.5) / 1e6  # the op's fixed-point grid
    got = {r["dim"]: r for r in sim.embedding_dim_stats(emb).collect()}
    assert len(got) == X.shape[1]
    for d in (0, 7, 63):
        assert got[d]["n"] == X.shape[0]
        assert abs(got[d]["mean"] - Q[:, d].mean()) < 1e-9
        assert abs(got[d]["variance"] - Q[:, d].var()) < 1e-9


def test_empty_batch_guard_lsh_and_ivf(spark):
    """The LSH bucket and IVF assign pandas UDFs survive empty Arrow
    batches (np.stack of an empty sequence raises ValueError) — same
    guard the PQ UDFs carry. Driven over an empty multi-partition
    input and over a filter that empties a real input upstream of the
    UDF projection."""
    from boostdb_spark.operators import similarity as sim

    schema = "vec_id long, embedding array<double>"
    empty = spark.createDataFrame([], schema).repartition(3)
    out = sim._lsh_tables(empty, "embedding", num_planes=4, dim=8, num_tables=2)
    assert out.count() == 0
    cents = [(0, [1.0] + [0.0] * 7), (1, [0.0] * 7 + [1.0])]
    assert sim.ivf_assign(empty, cents, "embedding").count() == 0

    one = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], schema
    ).repartition(4)  # 3 of 4 partitions empty
    gone = one.filter(F.col("vec_id") < 0)
    assert sim._lsh_tables(gone, "embedding", 4, 8, 2).count() == 0
    assert sim.ivf_assign(gone, cents, "embedding").count() == 0
    # nonempty rows still produce one bucket per table / n_probe lists
    assert sim._lsh_tables(one, "embedding", 4, 8, 2).count() == 2
    assert sim.ivf_assign(one, cents, "embedding", n_probe=2).count() == 1


def test_ivf_append_equals_rebuild(spark, emb):
    """Incremental maintenance invariant: building the inverted file
    for a train slice and APPENDING the rest via ivf_append_index
    (assignment-only, no retrain) equals a from-scratch rebuild over
    the full corpus with the same centroids — row for row."""
    train = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    cents = sim.ivf_train_kmeans(train, n_centroids=8, n_iter=2)
    full = sim.ivf_build_index(emb, cents)
    merged = sim.ivf_build_index(train, cents).unionByName(
        sim.ivf_append_index(new, cents)
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_ivf_centroid_drift_stat(spark, emb):
    """Drift statistic: every distance is on [0, 2] (1 - cos of unit
    vectors), on the 1e-6 grid, deterministic across partitionings."""
    cents = sim.ivf_train_kmeans(emb, n_centroids=8, n_iter=2)
    d = sim.ivf_centroid_drift(emb, cents)
    lo, hi = d.agg(F.min("dist"), F.max("dist")).collect()[0]
    assert 0.0 <= lo <= hi <= 2.000001
    a = sorted(map(tuple, d.collect()))
    b = sorted(map(tuple, sim.ivf_centroid_drift(
        emb.repartition(7), cents).collect()))
    assert a == b


def test_whiten_embeddings_standardizes(spark, emb):
    """Whitened dimensions have ~zero mean and ~unit variance against
    the corpus profile; a precomputed stats profile gives identical
    output; zero-variance dimensions map to exactly 0."""
    import math

    out = sim.whiten_embeddings(emb)
    stats = sim.embedding_dim_stats(
        out.select(F.col("vec_id"), F.col("z").alias("embedding"))
    ).collect()
    for r in stats:
        assert abs(r["mean"]) < 1e-3
        assert abs(r["variance"] - 1.0) < 1e-2
    pre = sim.embedding_dim_stats(emb)
    out2 = sim.whiten_embeddings(emb, stats=pre)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )
    const = spark.createDataFrame(
        [(1, [3.0, 1.0]), (2, [3.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    z = {r.vec_id: r.z for r in sim.whiten_embeddings(const).collect()}
    assert z[1][0] == 0.0 and z[2][0] == 0.0  # zero-variance dim -> 0
    assert z[1][1] == -z[2][1] != 0.0


def test_top_principal_component_recovers_planted_direction(spark):
    """Power iteration on a corpus with one dominant planted direction
    recovers it (|cos| > 0.99), the Rayleigh quotient dominates every
    per-dimension variance, retraining is bit-deterministic, and the
    orientation convention fixes the sign."""
    import math
    import random

    rng = random.Random(3)
    dirv = [1.0 if i % 2 == 0 else -1.0 for i in range(16)]
    nd = math.sqrt(16)
    dirv = [x / nd for x in dirv]
    rows = []
    for i in range(400):
        a = rng.gauss(0, 5)        # dominant axis
        vec = [a * d + rng.gauss(0, 0.3) for d in dirv]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    v1, lam1, n1 = sim.top_principal_component(df, n_iter=20)
    v2, lam2, n2 = sim.top_principal_component(df, n_iter=20)
    assert v1 == v2 and lam1 == lam2 and n1 == n2 == 400
    cos = abs(sum(a * b for a, b in zip(v1, dirv)))
    assert cos > 0.99, cos
    stats = sim.embedding_dim_stats(df).collect()
    assert lam1 >= max(float(r["variance"]) for r in stats) - 1e-3
    assert sim.pca_residual(df, v1, lam1) < 0.05
    j = max(range(16), key=lambda i: (abs(v1[i]), -i))
    assert v1[j] > 0


def test_remove_top_component_orthogonalizes(spark, emb):
    """ABTT: after removal, every embedding is orthogonal to the
    removed component; total variance drops by ~the eigenvalue;
    retransform with the same component is a no-op direction-wise."""
    v, lam, n = sim.top_principal_component(emb, n_iter=20)
    out = sim.remove_top_component(emb, v)
    v_arr = F.array(*[F.lit(x) for x in v])
    mx = out.agg(
        F.max(F.abs(sim.dot(F.col("embedding"), v_arr)))
    ).collect()[0][0]
    assert mx <= 1e-9, mx
    tot_before = sum(
        float(r["variance"]) for r in sim.embedding_dim_stats(emb).collect()
    )
    tot_after = sum(
        float(r["variance"]) for r in sim.embedding_dim_stats(out).collect()
    )
    assert tot_after <= tot_before - 0.9 * lam
    import pytest

    with pytest.raises(ValueError, match="dimensions differ"):
        sim.remove_top_component(emb, v[:-1], means=[0.0] * 64)


def test_top_principal_components_deflation(spark):
    """k-component PCA: two planted orthogonal directions with
    distinct variances come back in order, mutually orthogonal, with
    decreasing eigenvalues; deterministic across calls."""
    import math
    import random

    rng = random.Random(11)
    d1 = [1.0 if i < 8 else 0.0 for i in range(16)]
    d1 = [x / math.sqrt(8) for x in d1]
    d2 = [0.0 if i < 8 else (1.0 if i % 2 == 0 else -1.0) for i in range(16)]
    n2 = math.sqrt(sum(x * x for x in d2))
    d2 = [x / n2 for x in d2]
    rows = []
    for i in range(400):
        a, b = rng.gauss(0, 6), rng.gauss(0, 3)
        vec = [a * x + b * y + rng.gauss(0, 0.2) for x, y in zip(d1, d2)]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps = sim.top_principal_components(df, k=2, n_iter=25)
    (v1, l1), (v2, l2) = comps
    assert l1 > l2 > 0
    assert abs(sum(a * b for a, b in zip(v1, d1))) > 0.99
    assert abs(sum(a * b for a, b in zip(v2, d2))) > 0.99
    assert abs(sum(a * b for a, b in zip(v1, v2))) < 0.02  # orthogonal
    comps2 = sim.top_principal_components(df, k=2, n_iter=25)
    assert comps == comps2


def test_knn_graph_exact_and_guarded(spark, emb):
    # exact semantics on a bounded group: every node gets min(k, |g|-1)
    # edges, ranked by cosine with dst tiebreak
    g = sim.knn_graph(emb, k=3, group_col="label")
    rows = g.groupBy("src").count().collect()
    sizes = {r["label"]: c for r, c in [
        (x, x["count"]) for x in emb.groupBy("label").count().collect()
    ]}
    for r in rows:
        assert r["count"] <= 3
    # oversized groups refuse loudly instead of a quadratic pair join
    # (the round-11 sf1 probe read 156x wall at 10x rows before the
    # guard existed)
    with pytest.raises(ValueError, match="max_group"):
        sim.knn_graph(emb, k=3, group_col="label", max_group=5)


def test_mmr_rerank_crafted_diversity_tradeoff(spark):
    """MMR greedy on a crafted 2-D-ish geometry: the second pick must
    skip the near-clone of the first pick (high relevance, high
    redundancy) in favor of the orthogonal lower-relevance candidate
    when lam makes diversity matter."""
    dim = 4

    def v(*xs):
        return list(xs) + [0.0] * (dim - len(xs))

    rows = [
        (100, v(1.0, 0.0)),            # the query
        (1, v(1.0, 0.05)),             # best match
        (2, v(1.0, 0.06)),             # near-clone of 1
        (3, v(0.7, 0.0, 0.7)),         # diverse, lower relevance
        # step-2 scores at lam=0.5: clone 2 ~ .5*.9982 - .5*.9999 < 0;
        # candidate 3 ~ .5*.7071 - .5*.7062 > 0 -> diversity wins
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = df.filter(F.col("vec_id") == 100)
    got = (
        sim.mmr_rerank(q, df, k=2, lam=0.5, pool=3)
        .orderBy("sel_rank")
        .collect()
    )
    assert [r.match_id for r in got] == [1, 3], got
    # with lam ~ 1 (pure relevance) the clone wins instead
    got2 = (
        sim.mmr_rerank(q, df, k=2, lam=0.999, pool=3)
        .orderBy("sel_rank")
        .collect()
    )
    assert [r.match_id for r in got2] == [1, 2], got2


def test_mmr_rerank_negative_similarity_rewards(spark):
    """The redundancy term is the max over SELECTED only and may be
    NEGATIVE — an anti-correlated candidate gets a score ABOVE
    lam*rel, which a zero-floored max_sim would clamp (the r12
    certificate catch)."""
    dim = 4

    def v(*xs):
        return list(xs) + [0.0] * (dim - len(xs))

    rows = [
        (100, v(1.0, 0.0)),
        (1, v(1.0, 0.1)),               # first pick
        (2, v(0.05, 0.0, 1.0)),         # orthogonal-ish to 1, tiny rel
        (3, v(-0.028, -0.1, 0.0, 1.0)), # ANTI-correlated to 1
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = df.filter(F.col("vec_id") == 100)
    got = (
        sim.mmr_rerank(q, df, k=2, lam=0.5, pool=3)
        .orderBy("sel_rank")
        .collect()
    )
    # candidate 3's negative max-sim bonus must beat candidate 2's
    # higher relevance: score(3) = .5*rel3 - .5*(neg) > score(2)
    assert [r.match_id for r in got] == [1, 3], got


def test_mmr_rerank_string_ids(spark):
    """The applyInPandas output schema derives the id type from the
    input (r12 ADVICE): string doc ids must round-trip unchanged, not
    be coerced to long."""
    dim = 4

    def v(*xs):
        return list(xs) + [0.0] * (dim - len(xs))

    rows = [
        ("q", v(1.0, 0.0)),
        ("a", v(1.0, 0.05)),
        ("b", v(1.0, 0.06)),
        ("c", v(0.7, 0.0, 0.7)),
    ]
    df = spark.createDataFrame(rows, "doc STRING, embedding ARRAY<DOUBLE>")
    q = df.filter(F.col("doc") == "q")
    got = (
        sim.mmr_rerank(q, df, k=2, lam=0.5, pool=3, id_col="doc")
        .orderBy("sel_rank")
        .collect()
    )
    assert [r.match_id for r in got] == ["a", "c"], got
    assert got[0].query_id == "q"


def test_cosine_range_search_matches_bruteforce_filter(spark):
    """Range search == brute-force all-pairs cosine filtered at tau,
    restricted to the query rows — same fold, same exclusions."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    tau = 0.3
    got = sim.cosine_range_search(q, emb, tau=tau)
    # reference: score every (query, corpus) pair via cosine_topk with
    # k = corpus size (no cut), then filter
    n = emb.count()
    ref = (
        sim.cosine_topk(q, emb, k=n)
        .filter(F.col("cos") >= tau)
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    assert got.count() > 0  # tau chosen so the fixture yields matches


def test_ivf_range_search_subset_and_full_probe(spark):
    """IVF range search returns a SUBSET of the exact range result with
    bit-equal scores; at n_probe = n_centroids it equals it exactly."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 4)
    tau = 0.3
    exact = sim.cosine_range_search(q, emb, tau=tau)
    approx = sim.ivf_range_search(q, emb, tau=tau, n_centroids=8, n_probe=2)
    assert approx.exceptAll(exact).count() == 0  # subset, scores equal
    full = sim.ivf_range_search(q, emb, tau=tau, n_centroids=8, n_probe=8)
    assert full.exceptAll(exact).count() == 0
    assert exact.exceptAll(full).count() == 0


def test_mmr_rerank_probes_query_side_once(spark, monkeypatch):
    """mmr_rerank guards its query side itself and scores through the
    unguarded scorer and cut, so one call makes one limit(n+1) probe."""
    calls = []
    guard = sim._guard_query_count

    def counting(queries, max_queries, op):
        calls.append(op)
        guard(queries, max_queries, op)

    monkeypatch.setattr(sim, "_guard_query_count", counting)
    rows = [(i, [1.0, float(i), 0.5, 0.0]) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    sim.mmr_rerank(df.filter(F.col("vec_id") == 1), df, k=2, pool=3).collect()
    assert calls == ["mmr_rerank"]


def test_topk_cut_breaks_exact_ties_by_smaller_id(spark):
    """Exact duplicate vectors give exactly tied cos values; every
    top-k operator keeps exactly k rows per key and the smaller ids win
    the ties. Rows arrive in descending id order so the input order
    cannot produce the expected answer by itself."""
    v, w = [0.3, 0.1, 0.7, 0.2], [0.9, -0.2, 0.1, 0.4]
    rows = (
        [(i, 0, v) for i in range(1, 7)]
        + [(i, 0, w) for i in range(11, 17)]
        + [(21, 0, [-0.5, 0.5, 0.1, 0.0]), (22, 0, [0.0, 0.1, -0.9, 0.3])]
    )
    df = spark.createDataFrame(
        sorted(rows, reverse=True), "vec_id LONG, label INT, embedding ARRAY<DOUBLE>"
    )
    q = df.filter(F.col("vec_id").isin(1, 3, 12))
    want = {1: [2, 3, 4], 3: [1, 2, 4], 12: [11, 13, 14]}

    def per_key(out, key, val):
        got: dict = {}
        for r in out.collect():
            got.setdefault(r[key], []).append((-r["cos"], r[val]))
        return {k: [m for _, m in sorted(x)] for k, x in got.items()}

    ops = {
        "cosine_topk": sim.cosine_topk(q, df, k=3),
        "ivf_ann_topk": sim.ivf_ann_topk(q, df, k=3, n_centroids=4, n_probe=4),
        "lsh_ann_topk": sim.lsh_ann_topk(q, df, k=3, dim=4, num_planes=2),
    }
    for name, out in ops.items():
        assert per_key(out, "query_id", "match_id") == want, name
    graph = per_key(sim.knn_graph(df, k=3, group_col="label"), "src", "dst")
    assert sorted(graph) == sorted(r[0] for r in rows)
    assert all(len(x) == 3 for x in graph.values())
    for group in (range(1, 7), range(11, 17)):
        for src in group:
            assert graph[src] == [i for i in group if i != src][:3], src


def test_cov_pass_projects_the_dot_once(spark, monkeypatch):
    """The power-iteration pass projects ``c . v`` as a column below its
    ``posexplode``: the per-element lambda multiplies by that column and
    holds no ``aggregate(`` (a dot inside the lambda is O(dim^2) work
    per row)."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    collect = DataFrame.collect

    def recording(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording)
    rows = [(i, [float(i % 3), 1.0 - i, 0.5 * i]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sim.top_principal_component(df, n_iter=1)
    gens = [
        ln for p in plans for ln in p.splitlines() if "Generate posexplode(" in ln
    ]
    assert gens
    assert all("aggregate(" not in ln for ln in gens), gens
