"""Unit tests with crafted inputs for the text-scrub and dedup-group
operators — the parquet fixtures contain no real PII and only
clique-shaped dup clusters, so these behaviors need synthetic cases:
masking actually masks, and label propagation crosses multi-hop
chains."""

import pyspark.sql.functions as F

from boostdb_spark.operators import dedup as dd
from boostdb_spark.operators import text as tx


def test_normalize_masks_pii_and_collapses_whitespace(spark):
    df = spark.createDataFrame(
        [
            (1, "Contact Bob.Smith+x@Example.ORG  now"),
            (2, "server at 10.0.255.3 port 8080"),
            (3, "card 4111111119999 but keep 123456"),
            (4, "  mixed\tWhite\n\nspace  "),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r["doc_id"]: r["clean"]
        for r in tx.normalize_text(df).select("doc_id", "clean").collect()
    }
    assert got[1] == "contact <email> now"
    assert got[2] == "server at <ip> port 8080"
    # 7+ digit runs masked, 6-digit run kept
    assert got[3] == "card <num> but keep 123456"
    assert got[4] == "mixed white space"


def test_dedup_groups_multi_hop_chain(spark):
    # chain 1-2-3-4 (diameter 3: needs >1 propagation round), clique
    # {10,11,12}, isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    ).withColumn("jaccard", F.lit(1.0))
    got = {
        r["doc_id"]: r["group_id"] for r in dd.dedup_groups(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_containment_asymmetry(spark):
    # ref doc fully contained in a longer corpus doc: containment 1.0
    # even though Jaccard is small; reverse direction not flagged
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id BIGINT, text STRING",
    )
    ref = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id BIGINT, text STRING",
    )
    rows = dd.containment_pairs(corpus, ref, threshold=0.9, n=3).collect()
    assert [(r["doc_id"], r["ref_id"], r["containment"]) for r in rows] == [
        (1, 100, 1.0)
    ]


def test_pack_tokens_layout(spark):
    from boostdb_spark.operators.sampling import pack_tokens
    from pyspark.sql import functions as F

    # capacity 10; docs: 4, 8, 25, 0, 3 tokens (doc 3 dropped)
    df = spark.createDataFrame(
        [(0, 4), (1, 8), (2, 25), (3, 0), (4, 3)], "doc_id long, n_tokens long"
    )
    # stream layout: d0=[0,4) d1=[4,12) d2=[12,37) d4=[37,40)
    got = sorted(
        tuple(r)
        for r in pack_tokens(df, capacity=10, bucket_docs=2).collect()
    )
    assert got == [
        (0, 0, 0, 4),        # d0 entirely in pack 0
        (1, 0, 0, 6),        # d1 split across packs 0/1
        (1, 1, 6, 8),
        (2, 1, 0, 8),        # d2 spans packs 1,2,3
        (2, 2, 8, 18),
        (2, 3, 18, 25),
        (4, 3, 0, 3),        # d4 after the zero-token doc 3
    ]
    # every pack except the last is exactly full
    from collections import defaultdict
    fill = defaultdict(int)
    for _, p, b, e in got:
        fill[p] += e - b
    assert fill == {0: 10, 1: 10, 2: 10, 3: 10}


def test_pack_tokens_properties(spark):
    """Property check on random size lists: packing preserves every
    document's token count, slices are in-document and contiguous, and
    every pack except the last is exactly full."""
    import random
    from collections import defaultdict

    from boostdb_spark.operators.sampling import pack_tokens

    rng = random.Random(7)
    for trial in range(3):
        sizes = [rng.randint(0, 50) for _ in range(rng.randint(1, 60))]
        cap = rng.choice([7, 16, 33])
        df = spark.createDataFrame(
            list(enumerate(sizes)), "doc_id long, n_tokens long"
        )
        rows = pack_tokens(df, capacity=cap, bucket_docs=5).collect()
        per_doc = defaultdict(list)
        for r in rows:
            assert 0 <= r.tok_begin < r.tok_end <= sizes[r.doc_id]
            per_doc[r.doc_id].append((r.pack_id, r.tok_begin, r.tok_end))
        # every nonzero doc fully covered by contiguous slices in pack order
        for d, n in enumerate(sizes):
            slices = sorted(per_doc[d])
            if n == 0:
                assert slices == []
                continue
            assert slices[0][1] == 0 and slices[-1][2] == n
            for (p1, _, e1), (p2, b2, _) in zip(slices, slices[1:]):
                assert p2 == p1 + 1 and b2 == e1
        fill = defaultdict(int)
        for r in rows:
            fill[r.pack_id] += r.tok_end - r.tok_begin
        total = sum(sizes)
        if total:
            last = max(fill)
            for p, f in fill.items():
                assert f == cap or (p == last and f == total - last * cap)


def test_minhash_family_is_independent(spark):
    """Regression for the degenerate affine family: with a modulus far
    above the 32-bit hash domain the transform never wraps, every hash
    picks the same argmin shingle, and signature agreement on a
    J~=0.98 pair collapses to ~0/32. A real permutation family must
    give per-hash agreement ~= Jaccard."""
    base = " ".join(f"tok{i}" for i in range(60))
    variant = base + " extraword extratail"  # J ~= 58/62 over 3-shingles
    df = spark.createDataFrame(
        [(1, base), (2, variant)], "doc_id long, text string"
    )
    sig = {r["id"]: r["sig"] for r in dd.minhash_signature(df, 32, 3).collect()}
    agree = sum(1 for x, y in zip(sig[1], sig[2]) if x == y)
    # E[agree] = 32 * J ~= 29; independence bounds the tail far above 20
    assert agree >= 20, f"signature agreement {agree}/32 — family degenerate?"


def test_bpe_train_matches_reference(spark):
    """The distributed merge loop must reproduce the classic
    sequential BPE algorithm (count desc, lexicographic tie-break)
    exactly — merge for merge."""
    import re
    from collections import Counter

    from boostdb_spark.operators import bpe

    rows = [
        (1, "low lower lowest"),
        (2, "new newer newest"),
        (3, "low low new wider"),
        (4, "the newest of the new"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = bpe.train_bpe(df, num_merges=15)

    words = Counter()
    for _, t in rows:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            words[w] += 1
    vocab = {tuple(list(w) + [bpe.END]): n for w, n in words.items()}
    ref = []
    for rank in range(15):
        pc = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc or max(pc.values()) < 2:
            break
        mx = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == mx)[0]
        ref.append((rank, a, b, mx))
        newv = {}
        for syms, n in vocab.items():
            out, j = [], 0
            while j < len(syms):
                if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                    out.append(a + b)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            newv[tuple(out)] = newv.get(tuple(out), 0) + n
        vocab = newv
    assert got == ref
    # retraining is bit-deterministic
    assert bpe.train_bpe(df, num_merges=15) == got


def test_bpe_sequential_trainer_matches_distributed(spark):
    """train_bpe_sequential — the independent dict-fold code path the
    txt_bpe_certified suite entry compares against — must agree with
    the distributed trainer merge-for-merge, and the canonical
    fingerprint must separate unequal tables."""
    import re
    from collections import Counter

    from boostdb_spark.operators import bpe

    rows = [
        (1, "low lower lowest"),
        (2, "new newer newest"),
        (3, "low low new wider"),
        (4, "the newest of the new"),
    ]
    words = Counter()
    for _, t in rows:
        for w in re.findall(r"[a-z0-9]+", t.lower()):
            words[w] += 1
    seq = bpe.train_bpe_sequential(dict(words), num_merges=15)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dist = bpe.train_bpe(df, num_merges=15)
    assert seq == dist
    assert bpe.merge_table_fingerprint(seq) == bpe.merge_table_fingerprint(
        dist
    )
    # fingerprint is order/content sensitive
    assert bpe.merge_table_fingerprint(
        seq[:-1]
    ) != bpe.merge_table_fingerprint(seq)
    # early stop below min_pair_count mirrors the distributed loop
    assert bpe.train_bpe_sequential({"ab": 1}, num_merges=5) == []


def test_bpe_apply_uses_merge_ranks(spark):
    from boostdb_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "unseen word")],
        "doc_id long, text string",
    )
    merges = bpe.train_bpe(df.filter("doc_id = 1"), num_merges=10)
    out = {r["doc_id"]: list(r["tokens"]) for r in bpe.apply_bpe(df, merges).collect()}
    # the learned merges (l+o, lo+w, low+e) apply by rank: "low" ->
    # [low, ▁], "lower"/"lowest" -> lowe + suffix pieces
    assert out[1][:2] == ["low", bpe.END]
    assert out[1][2] == "lowe"
    # unseen words fall back to single characters but still terminate
    assert out[2][-1] == bpe.END and all(t for t in out[2])


def test_gopher_rules_thresholds(spark):
    from boostdb_spark.operators import text as tx

    rows = [
        (1, "the quick brown foxes jumped over the fence and it is a "
            "lovely spring morning in the town of dover"),
        (2, "a b"),  # too short
        (3, "zz " * 30),  # no stopwords, short tokens
        (4, "1 2 3 4 5 6 7 8 9 10 " * 3),  # digits: alpha-word ratio 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in tx.gopher_rules(df, min_words=5, max_words=100).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["ok_word_count"] is False and out[2]["keep"] is False
    assert out[3]["ok_stopwords"] is False
    assert out[4]["ok_alpha_words"] is False


def test_temperature_mixture_properties(spark):
    """T=2 upweights small sources: the kept FRACTION of a small source
    must exceed that of a big one; T=1 approximates uniform downsample;
    determinism across partitionings."""
    from pyspark.sql import functions as F

    from boostdb_spark.operators import sampling as sp

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sp.temperature_mixture(df, temperature=2.0, target_fraction=0.5)
    kept = out.groupBy("source").count().collect()
    k = {r["source"]: r["count"] for r in kept}
    frac_big, frac_small = k.get("big", 0) / 900, k.get("small", 0) / 100
    assert frac_small > frac_big  # smoothing upweights the small source
    total = sum(k.values())
    assert 0.35 < total / 1000 < 0.65  # overall near the target
    # deterministic under repartitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in sp.temperature_mixture(
            df.repartition(13), temperature=2.0, target_fraction=0.5
        ).collect()
    )
    assert a == b


def test_temperature_mixture_keeps_null_source(spark):
    """NULL is a source like any other: it gets its own derived rate
    via the null-safe rate join instead of vanishing through inner-join
    null semantics (explicit policy)."""
    from boostdb_spark.operators import sampling as sp

    rows = [(i, None if i % 2 else "big") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sp.temperature_mixture(df, temperature=2.0, target_fraction=0.8)
    k = {
        r["source"]: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    assert k.get(None, 0) > 0, "NULL-source rows must survive"
    # both sources equal-sized -> equal derived rates -> similar keeps
    assert abs(k[None] - k["big"]) < 0.25 * max(k[None], k["big"])


def test_heavy_hitters_exact_under_any_partitioning(spark):
    """The two-pass MG pattern must return EXACTLY the >= phi*N tokens
    with exact counts, on any partitioning — including an adversarial
    one that splits the heavy token across many partitions."""
    from pyspark.sql import functions as F

    from boostdb_spark.operators import text as tx

    # 'x' is 20% of the stream, everything else unique
    rows = [(i, "x") if i % 5 == 0 else (i, f"tok{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for parts in (1, 7, 32):
        got = {
            (r.token, r.n)
            for r in tx.heavy_hitters(
                df.repartition(parts), phi=0.15, k_counters=20
            ).collect()
        }
        assert got == {("x", 100)}
    # threshold boundary: phi exactly at the frequency keeps the token
    got = tx.heavy_hitters(df, phi=0.2, k_counters=20).collect()
    assert [(r.token, r.n) for r in got] == [("x", 100)]
    # just above: empty
    assert tx.heavy_hitters(df, phi=0.21, k_counters=20).count() == 0


def test_keep_best_picks_highest_score(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"
    ).withColumn("jaccard", F.lit(1.0))
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5)], "doc_id long, n_chars long"
    )
    got = {
        r.doc_id: (r.group_id, r.keep)
        for r in dd.keep_best(docs, pairs).collect()
    }
    # component {1,2,3}: doc 2 (longest) survives; singleton 7 kept
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False), 7: (7, True),
    }
    # tie on score -> smaller id wins
    docs2 = spark.createDataFrame(
        [(1, 50), (2, 50)], "doc_id long, n_chars long"
    )
    pairs2 = spark.createDataFrame(
        [(1, 2)], "id_a long, id_b long"
    ).withColumn("jaccard", F.lit(1.0))
    got2 = {r.doc_id: r.keep for r in dd.keep_best(docs2, pairs2).collect()}
    assert got2 == {1: True, 2: False}


def test_keep_best_keeps_every_null_id_row(spark):
    """NULL-id contract: each NULL-doc_id row is unmatched and kept
    (one output row per input row), never merged into one NULL group."""
    pairs = spark.createDataFrame(
        [(1, 2)], "id_a long, id_b long"
    ).withColumn("jaccard", F.lit(1.0))
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (None, 40), (None, 70)],
        "doc_id long, n_chars long",
    )
    got = sorted(
        (tuple(r) for r in dd.keep_best(docs, pairs).collect()),
        key=lambda r: (r[0] is None, r[0] or 0),
    )
    assert got == [
        (1, 1, False), (2, 1, True), (None, None, True), (None, None, True),
    ]


def test_semantic_dedup_keeps_least_prototypical(spark):
    """Handcrafted 2-D fixture: one cluster holds vectors at 0, 4 and
    6 degrees, the other a lone (0,1). With tau between cos(2deg) and
    cos(4deg) the only duplicate edge is (4deg, 6deg); SemDeDup keeps
    the edge endpoint FARTHER from the cluster centroid (~3.33deg) —
    the 6deg vector — and every no-neighbor vector survives. Result is
    invariant to input partitioning."""
    import math

    from boostdb_spark.operators.dedup import semantic_dedup

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(0, unit(0.0)), (1, [0.0, 1.0]), (2, unit(4.0)), (3, unit(6.0))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    tau = 0.999  # cos(2deg)=0.99939 >= tau > cos(4deg)=0.99756
    out = semantic_dedup(emb, tau=tau, n_clusters=2, n_iter=2)
    kept = {r["vec_id"] for r in out.collect() if r["kept"]}
    assert kept == {0, 1, 3}
    # same answer regardless of partitioning
    out2 = semantic_dedup(emb.repartition(7), tau=tau, n_clusters=2, n_iter=2)
    assert {r["vec_id"] for r in out2.collect() if r["kept"]} == {0, 1, 3}
    # row preservation: one output row per input, kept+dropped
    assert out.count() == 4


def test_semantic_dedup_zero_vector_survives(spark):
    """A zero-norm embedding has no cosine neighbors: it must always be
    kept and its output vector must stay finite (no NaN from the
    normalize)."""
    import math

    from boostdb_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        emb, tau=0.9, n_clusters=2, n_iter=1).collect()}
    assert all(r["kept"] for r in out.values())
    assert all(math.isfinite(x) for x in out[2]["v"])


def test_substring_spans_planted_overlap(spark):
    """Exact substring dedup (Lee et al. 2021 style): a planted
    20-token verbatim run is reported as ONE maximal span with exact
    0-based offsets; unrelated text yields nothing; two disjoint
    shared runs stay two spans; max_doc_freq drops boilerplate."""
    from boostdb_spark.operators.dedup import substring_spans

    shared = " ".join(f"tok{i}" for i in range(20))
    run2 = " ".join(f"zz{i}" for i in range(9))
    docs = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"one two three four five {shared} six"),
        (3, "totally different words without any overlap at all "
            "pad1 pad2 pad3 pad4 pad5 pad6 pad7 pad8"),
        (4, f"{run2} filler1 filler2 filler3 filler4 filler5 {run2}"),
        (5, f"{run2} other stuff here now entirely new words again"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = substring_spans(df, k=8)
    rows = {(r.doc_a, r.doc_b): r for r in out.collect()}
    # the planted 20-token run: one maximal span, exact offsets
    r12 = rows[(1, 2)]
    assert (r12.a_start, r12.b_start, r12.span_tokens) == (2, 5, 20)
    assert not any(3 in k for k in rows)  # no-overlap doc never pairs
    # doc4 repeats run2 twice; doc5 has it once -> two diagonal runs
    spans45 = sorted(
        (r.a_start, r.b_start, r.span_tokens)
        for r in out.filter("doc_a = 4 AND doc_b = 5").collect()
    )
    assert spans45 == [(0, 0, 9), (14, 0, 9)]
    # min_span raises the report floor
    hi = substring_spans(df, k=8, min_span=15).collect()
    assert {(r.doc_a, r.doc_b) for r in hi} == {(1, 2)}
    # a ubiquitous shingle capped away: df cap of 1 kills everything
    assert substring_spans(df, k=8, max_doc_freq=1).count() == 0
    import pytest

    with pytest.raises(ValueError, match="min_span"):
        substring_spans(df, k=8, min_span=4)


def test_remove_duplicate_spans_first_wins(spark):
    """Span removal: the higher-id doc sheds the planted run, the
    lower-id doc keeps it; 3-way copies keep exactly one occurrence;
    untouched docs pass through with n_removed=0."""
    from boostdb_spark.operators.dedup import remove_duplicate_spans

    shared = " ".join(f"tok{i}" for i in range(12))
    docs = [
        (1, f"alpha beta {shared} gamma"),
        (2, f"one two {shared} three"),
        (3, f"start {shared} finish"),
        (4, "totally different words without any overlap whatsoever "
            "p1 p2 p3 p4 p5 p6"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.id: r for r in remove_duplicate_spans(df, k=8).collect()}
    assert out[1].n_removed == 0 and "tok0" in out[1].clean_text
    for i in (2, 3):  # later copies shed the 12-token run
        assert out[i].n_removed == 12
        assert "tok0" not in out[i].clean_text
    assert out[2].clean_text == "one two three"
    assert out[3].clean_text == "start finish"
    assert out[4].n_removed == 0
    # total kept occurrences across the corpus: exactly one
    kept_runs = sum("tok0 tok1" in out[i].clean_text for i in out)
    assert kept_runs == 1


def test_bm25_and_rrf_reject_empty_inputs(spark):
    """ADVICE r8: degenerate empty-query / empty-rankings inputs must
    fail loudly up front, not with an opaque TypeError on a None
    column deep in the arithmetic."""
    import pytest

    from boostdb_spark.operators import similarity as sim

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="query_terms"):
        tx.bm25_topk(df, query_terms=[])
    with pytest.raises(ValueError, match="rankings"):
        sim.rrf_fuse([])


def test_winnowing_matches_sequential_reference(spark):
    """winnowing_fingerprints == the classic sequential robust
    winnowing (Schleimer et al. 2003, Fig. 5: min of each w-window,
    rightmost tie-break, dedup consecutive selections) on random-ish
    token streams, including heavy-repetition ties."""
    import hashlib
    import random

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def reference(text: str, k: int, w: int) -> set[tuple[int, int]]:
        toks = [t for t in _split(text) if t]
        hs = [
            h32(" ".join(toks[i:i + k]))
            for i in range(len(toks) - k + 1)
        ]
        out = set()
        for i in range(len(hs) - w + 1):
            window = hs[i:i + w]
            m = min(window)
            # rightmost occurrence of the min
            p = i + max(j for j, v in enumerate(window) if v == m)
            out.add((p, m))
        return out

    def _split(text):
        import re
        return re.split(r"[^a-z0-9]+", text.lower())

    rng = random.Random(12)
    vocab = ["aa", "bb", "cc", "dd", "ee"]  # tiny vocab -> many ties
    rows = []
    for doc_id in range(8):
        n = rng.randint(6, 40)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in tx.winnowing_fingerprints(df, k=3, w=4).collect()
    }
    want = {
        (doc_id, p, m)
        for doc_id, text in rows
        for p, m in reference(text, 3, 4)
    }
    assert got == want


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    # the winnowing guarantee: a shared token run of >= w + k - 1
    # tokens yields at least one SHARED fingerprint VALUE
    shared = "lorem ipsum dolor sit amet consectetur"  # 6 tokens = w+k-1
    df = spark.createDataFrame(
        [
            (1, "xx yy " + shared + " zz"),
            (2, "qq " + shared + " rr ss tt"),
        ],
        "doc_id LONG, text STRING",
    )
    fps = tx.winnowing_fingerprints(df, k=3, w=4)
    a = {r.fp for r in fps.filter(F.col("doc_id") == 1).collect()}
    b = {r.fp for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b, "shared 6-token run must share a fingerprint"


def test_winnowing_pos_overflow_raises(spark, monkeypatch):
    """Out-of-contract documents (>= 2^20 k-grams) must FAIL LOUDLY,
    not silently corrupt the packed fingerprint key (r12 ADVICE). The
    budget is monkeypatched small so the guard trips without a
    million-token fixture."""
    import pytest as _pytest

    monkeypatch.setattr(tx, "_WINNOW_POS_SPAN", 8)
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(40)))],
        "doc_id LONG, text STRING",
    )
    with _pytest.raises(Exception, match="chunk_documents"):
        tx.winnowing_fingerprints(df, k=3, w=4).collect()


def test_collocations_pmi_crafted(spark):
    """PMI ranks the always-together rare pair above the frequent
    independent pair, and min_count drops hapax pairs."""
    # "strong tea" occurs 3x and its tokens occur ONLY together;
    # "the cat"/"the dog" mix freely so PMI(the, *) is low;
    # "unique pair" occurs once -> dropped at min_count=2
    docs = [
        (1, "strong tea " + "the cat the dog " * 3),
        (2, "strong tea the dog the cat unique pair"),
        (3, "strong tea the cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = tx.collocations_pmi(df, top_k=5, min_count=2).collect()
    assert got, "expected collocations"
    assert (got[0].prev, got[0].cur) == ("strong", "tea")
    pairs = {(r.prev, r.cur) for r in got}
    assert ("unique", "pair") not in pairs
    # PMI must be positive for the genuinely associated pair
    assert got[0].pmi > 0


def test_interleave_mixture_prefix_ratio(spark):
    """Stride scheduling: at every epoch prefix the weight-3 source
    has contributed ~3x the rows of each weight-1 source (within one
    stride), and vt is exactly rank/weight."""
    from boostdb_spark.operators import sampling as smp

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = smp.interleave_mixture(df, weights={"a": 3.0}).collect()
    by = {(r.source, r.src_rank): r.vt for r in out}
    for (src, rank), vt in by.items():
        w = 3.0 if src == "a" else 1.0
        assert vt == rank / w
    ordered = sorted(out, key=lambda r: (r.vt, r.source, r.src_rank))
    # in any prefix ending at a weight-1 row's vt boundary, counts
    # respect the 3:1 ratio within one stride
    for cut in (20, 60, 120):
        prefix = ordered[:cut]
        na = sum(1 for r in prefix if r.source == "a")
        nb = cut - na
        assert abs(na - 3 * nb) <= 4, (cut, na, nb)
    # ranks are a permutation of 1..n per source
    for s in ("a", "b"):
        ranks = sorted(r.src_rank for r in out if r.source == s)
        assert ranks == list(range(1, len(ranks) + 1))
