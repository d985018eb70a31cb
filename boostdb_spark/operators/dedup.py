"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash. North-star extensions beyond the
reference (which has no dedup surface); designed scale-first:

- exact dedup: hash-groupBy — one shuffle on the digest.
- n-gram Jaccard: shingle-explode -> self-join on shingle -> per-pair
  intersection counts. A document-frequency cap drops ubiquitous
  shingles, bounding the join fanout (the standard trick to keep the
  candidate set near-linear at corpus scale).
- MinHash LSH: k hash functions -> b bands of r rows -> band-hash
  bucket join -> exact-Jaccard verification of candidates only. The
  100 TB path: candidate generation is an equi-join on (band, hash),
  never an all-pairs product.

The n-gram pair finders share three steps, each written once:
``_doc_shingles`` is the one place text becomes distinct
``(key, shingle)`` rows (one checkpointed table per corpus, from which
MinHash signatures, set sizes and both join sides are read, so the
``shingles`` UDF runs over a corpus once); ``_band_signatures`` is the
one LSH banding step; and ``_shared_shingles`` is the one exact-overlap
path, ``(id_a, id_b, common, sz_a, sz_b)`` for every pair that shares
a shingle or for a given candidate-pair table. Each pair finder keeps
only its own ratio and filter. ``containment_pairs`` keeps its own
join: its reference side is broadcast and its self-pair rule is ``!=``.
- SimHash: 32-bit weighted-bit fingerprint; near-dup = Hamming <= d.
  Banding by pigeonhole (split into d+1 chunks; any pair within
  distance d shares a chunk) keeps the candidate join linear.

All hashing = md5-derived 32-bit ints (operators/text.py:hash32) so
DuckDB oracles reproduce results bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import hashlib

from boostdb_spark.operators.text import hash32, tokens

# MinHash affine-family modulus: the smallest prime ABOVE the 32-bit
# hash domain. The modulus must sit just over the input range so
# a*h + b (up to ~2^62) wraps ~2^30 times — a genuine permutation per
# (a, b). A large modulus like 2^61-1 NEVER wraps (a*h < 2p), leaving
# the transform monotone in h: every "independent" hash then picks the
# same argmin shingle and the 32-hash signature degenerates to ONE
# permutation (observed as 0/32 signature agreement on J=0.98 pairs).
MINHASH_P = (1 << 32) + 15


def _gen32(label: str) -> int:
    """Seedless deterministic 32-bit generator (first 8 md5 hex chars),
    evaluated in PYTHON at plan time — coefficients become literals, so
    the executors never hash anything but the shingle itself."""
    return int(hashlib.md5(label.encode()).hexdigest()[:8], 16)


from boostdb_spark.operators.common import checkpoint_corpus  # noqa: E402
from boostdb_spark.operators.common import no_broadcast  # noqa: E402
from boostdb_spark.operators.common import spread as _spread  # noqa: E402
from boostdb_spark.operators.common import topk_per_group  # noqa: E402


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts by md5 digest; keep the smallest id as the
    canonical representative. Returns (digest, keep_id, n_copies).
    One shuffle on the digest; digests are uniform so no skew."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingles(col, n: int = 3):
    """Word n-gram shingles as strings (tokens joined by a space),
    computed in one Arrow-batched pandas UDF.

    Why not a pure array expression: every expression form runs on
    Spark's interpreted higher-order-function path — element_at(toks,i)
    inside a transform lambda re-evaluates the tokenization per element
    (O(tokens^2) regex work), and the zip_with-over-shifted-slices form,
    while O(tokens), still paid interpreted per-element lambda dispatch
    that dominated the whole MinHash pipeline (~half its wall-clock).
    A per-batch Python loop over pre-split tokens is several times
    faster and constructs exactly the oracle's list_transform shingles.
    """
    import re as _re

    from pyspark.sql.functions import pandas_udf

    pat = _re.compile(r"[^a-z0-9]+")

    @pandas_udf("array<string>")
    def _sh(texts):
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = [w for w in pat.split(t.lower()) if w]
            out.append(
                [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            )
        import pandas as _pd

        return _pd.Series(out)

    return _sh(col)


def _doc_shingles(df: DataFrame, key_col: str, text_col: str, n: int) -> DataFrame:
    """Distinct ``(id, sh)`` rows, ``id`` being ``key_col`` (a document
    id, or a source for :func:`source_overlap`): the only place a pair
    finder runs the ``shingles`` UDF.

    Checkpointed lazily at DISK_ONLY (GC-cleaned; ``.cache()`` leaked
    storage blocks across a long session), so a caller that reads the
    table several times (signatures, sizes, both join sides) shingles
    the corpus once. no_broadcast: corpus-scaled exploded shingles must
    never ride a static size estimate into a broadcast join (sf10
    catch, see common.py)."""
    return no_broadcast(checkpoint_corpus(
        _spread(df)
        .select(F.col(key_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("sh"))
        .distinct()
    ))


def _shared_shingles(
    ds: DataFrame,
    cand: DataFrame | None = None,
    other: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """The exact shingle overlap of id pairs: ``(id_a, id_b, common,
    sz_a, sz_b)``, ``common`` the number of distinct shingles the pair
    shares and ``sz_a``/``sz_b`` each side's distinct shingle count.
    ``ds``/``other`` are :func:`_doc_shingles` tables.

    Without ``cand``: every pair of ``ds`` ids that shares a shingle,
    ``id_a < id_b``, from a self equi-join on the shingle (never an
    all-pairs product). ``max_doc_freq`` drops shingles held by more
    than that many ids before the join: a ubiquitous shingle's fanout
    is quadratic and it carries no dedup signal. The sizes stay the
    pre-cut set sizes.

    With ``cand`` (``id_a``, ``id_b``): those pairs only, ``id_a`` from
    ``ds`` and ``id_b`` from ``other`` (default ``ds``)."""
    other = ds if other is None else other
    sizes = [t.groupBy("id").agg(F.count("*").alias("sz")) for t in (ds, other)]

    def side(t: DataFrame, s: str) -> DataFrame:
        return t.select(F.col("id").alias(f"id_{s}"), "sh")

    if cand is None:
        if max_doc_freq is not None:
            rare = (
                ds.groupBy("sh")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= max_doc_freq)
                .select("sh")
            )
            ds = ds.join(rare, "sh")
        pairs = side(ds, "a").join(side(ds, "b"), "sh").filter(
            F.col("id_a") < F.col("id_b")
        )
    else:
        # intersect via EQUI-join on (id_b, shingle): the candidate pair
        # expands to |sh_a| rows, each probing b's hash table — never the
        # |sh_a| x |sh_b| blowup of joining both sides by id and filtering
        # shingle equality afterwards (that shape was quadratic per pair)
        pairs = cand.join(side(ds, "a"), "id_a").join(side(other, "b"), ["id_b", "sh"])
    common = pairs.groupBy("id_a", "id_b").agg(F.count("*").alias("common"))
    return common.join(
        sizes[0].withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a"
    ).join(sizes[1].withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")


def _jaccard():
    """``common / (sz_a + sz_b - common)`` over a :func:`_shared_shingles`
    row: one exact IEEE division of two ints."""
    return F.col("common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("common")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs: (id_a, id_b, jaccard)
    with id_a < id_b and jaccard >= threshold.

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents before the pair join — at corpus scale the fanout of a
    ubiquitous shingle is quadratic, and a shingle shared by thousands
    of documents carries no dedup signal.
    """
    ds = _doc_shingles(df, id_col, text_col, n)
    return (
        _shared_shingles(ds, max_doc_freq=max_doc_freq)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def substring_spans(
    df: DataFrame,
    k: int = 8,
    min_span: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT SUBSTRING dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): maximal verbatim token runs of
    length >= ``min_span`` (default ``k``) shared across document
    pairs — the method that catches literal boilerplate/quotation
    overlap near-dup similarity misses (and the one both GPT-3 and T5
    reproductions cite). Returns ``(doc_a, doc_b, a_start, b_start,
    span_tokens)``, ``doc_a < doc_b``, positions 0-based token
    offsets — all integers, bit-exact against a SQL oracle.

    Shape — the distributed suffix-array analog, never all-pairs:
    positioned k-token shingles bucket by their TEXT (exact, no hash
    collisions); co-occurrences become (pair, diagonal = pos_a - pos_b)
    hits; consecutive hits on one diagonal chain into maximal runs via
    one window pass (lag -> run-break flag -> running-sum run id), and
    a run of ``r`` consecutive shingle hits is a verbatim span of
    ``r + k - 1`` tokens. Shuffles: one on the shingle text (candidate
    generation — the same banded-join posture as MinHash-LSH), one on
    (pair, diagonal) for the run window. ``max_doc_freq`` drops
    shingles occurring in more than that many documents before the
    pair join (a ubiquitous boilerplate shingle has quadratic fanout
    and its spans are better caught per-pair by the rarer shingles
    around it) — None keeps exact Lee-et-al semantics."""
    from pyspark.sql import Window

    if min_span is None:
        min_span = k
    if min_span < k:
        raise ValueError(f"min_span ({min_span}) must be >= k ({k})")
    sp = no_broadcast(_spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(F.col(text_col), k)).alias("pos", "s"),
    ).select("id", F.col("pos").cast("long").alias("pos"), "s"))
    if max_doc_freq is not None:
        rare = (
            sp.select("id", "s").distinct()
            .groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("s")
        )
        sp = sp.join(rare, "s")
    a = sp.select(F.col("id").alias("doc_a"), F.col("pos").alias("pa"), "s")
    b = sp.select(
        F.col("id").alias("doc_b"), F.col("pos").alias("pb"),
        F.col("s").alias("s_b"),
    )
    hits = (
        a.join(b, (F.col("s") == F.col("s_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    prev = F.lag("pa").over(w)
    new_run = F.when(prev.isNull() | (F.col("pa") - prev != 1), 1).otherwise(0)
    runs = hits.withColumn(
        "run_id",
        F.sum(new_run).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    out = (
        runs.groupBy("doc_a", "doc_b", "diag", "run_id")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_tokens")
    )
    return out


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_span: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of exact substring dedup (Lee et al. 2021 cut
    the duplicated bytes out of the corpus, not whole documents):
    every verbatim span reported by :func:`substring_spans` is deleted
    from the HIGHER-id document of its pair (first occurrence wins —
    deterministic, and transitively correct: in a 3-way copy the
    lowest id keeps the text, both later docs shed it). Returns
    ``(id, clean_text, n_tokens, n_removed)`` for EVERY document —
    ``clean_text`` is the normalized (lowercased, punctuation-split)
    token stream with dropped positions removed, ``n_tokens`` the
    original token count.

    Shape: span positions explode to a (doc, pos) drop set (bounded by
    the duplicated token volume, not the corpus), tokens posexplode
    once, one anti-join on (doc, pos), and an ordered rebuild via
    sort_array(collect_list(struct(pos, tok))) — grouped by doc, so
    per-task memory is one document's tokens, the same bound the
    tokenizer already implies."""
    if spans is None:
        spans = substring_spans(
            df, k=k, min_span=min_span, text_col=text_col, id_col=id_col,
            max_doc_freq=max_doc_freq,
        )
    from boostdb_spark.operators.text import tokens as _tokens

    drops = no_broadcast(
        spans.select(
            F.col("doc_b").alias("id"),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("span_tokens") - 1,
                )
            ).alias("pos"),
        )
        .distinct()
    )
    toks = no_broadcast(_spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(_tokens(F.col(text_col))).alias("pos", "tok"),
    ).select("id", F.col("pos").cast("long").alias("pos"), "tok"))
    kept = toks.join(drops, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = toks.groupBy("id").agg(F.count("*").alias("n_tokens"))
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .alias("n_removed"),
        )
    )


def keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-policy selection over duplicate groups: every document gets
    (doc_id, group_id, keep) where exactly one member of each
    near-duplicate component survives — the HIGHEST-``score_col``
    member (ties -> smaller id), not the arbitrary smallest-id member
    that plain :func:`dedup_groups` keeping implies. The real pipeline
    policy: among near-identical pages keep the longest / highest-
    quality one. Ungrouped documents form singleton groups (their own
    id) and are always kept.

    Shape (r15): component labels from the pair graph (bounded label
    propagation), then the keep-policy window runs over GROUP MEMBERS
    ONLY — a pair-bounded set, never the corpus. Singletons (the vast
    majority of a real corpus) are split off with an anti join and
    emitted directly as keep=true without ever entering the window
    shuffle+sort: the old single left-join+window shape sorted the
    ENTIRE corpus by group_id to rank groups of size 1, which at 100 TB
    is a full-corpus exchange for zero decisions. Results are
    row-identical: a singleton group's row_number is always 1.

    NULL ids: a row whose ``id_col`` is NULL matches no group (a NULL
    key never joins), so each one is treated as unmatched and kept —
    (NULL, NULL, true) per row, never collapsed into one NULL group.
    No up-front check enforces non-NULL ids: it would cost a Spark
    job on every call; clean ids first if NULL rows must be dropped."""
    from pyspark.sql import Window

    groups = no_broadcast(dedup_groups(pairs))
    scored = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score")
    )
    members = scored.join(groups, "doc_id")
    w = Window.partitionBy("group_id").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    ranked = (
        members.withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id", "group_id", (F.col("_rn") == 1).alias("keep")
        )
    )
    singles = scored.join(groups, "doc_id", "left_anti").select(
        "doc_id",
        F.col("doc_id").alias("group_id"),
        F.lit(True).alias("keep"),
    )
    return ranked.unionByName(singles)


def edit_distance_pairs(
    df: DataFrame,
    max_rel_dist: float = 0.4,
    candidate_threshold: float = 0.2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
    max_candidates_per_doc: int | None = None,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: (id_a, id_b, lev, rel) with
    ``rel = levenshtein / max(len_a, len_b) <= max_rel_dist`` — the
    character-level verifier that catches near-dups token-set measures
    miss (transpositions, small in-place edits) and rejects pairs that
    merely share vocabulary.

    Two-stage, never all-pairs: the shingle-bucketed Jaccard join
    (:func:`ngram_jaccard_pairs` at the LOW ``candidate_threshold``)
    bounds the candidate set, then the exact O(len^2) Levenshtein runs
    only on candidates with the texts joined back in. The standard
    recall contract of every two-stage dedup applies: a true near-dup
    pair sharing fewer than ``candidate_threshold`` of its shingles is
    not surfaced. Levenshtein is Spark's built-in (JVM-side, unit
    costs) — identical definition to the SQL oracle's, so pairs
    certify exactly.

    ``max_doc_freq`` bounds the PER-SHINGLE candidate fanout (the
    ubiquitous-shingle d^2 blowup); ``max_candidates_per_doc`` bounds
    the VERIFY stage itself — each doc submits only its k most-similar
    candidates (by candidate Jaccard, ties to the smaller id_b) to the
    O(len^2) Levenshtein, so verify cost is O(docs x k x len^2), linear
    in corpus size regardless of the shingle df distribution. The r9
    sf1 probe measured why both knobs exist: df-cap alone read 24.7x
    wall on 10x rows of the tiny-vocab fixture (every surviving shingle
    drifts toward the df ceiling, multiplying pairs-per-shingle), the
    per-doc cap restores ~linear. Recall contract: a doc with more than
    k true near-dups surfaces only its k closest — the standard
    production trade for a bounded verify stage."""
    # the candidate set is pair-sized (bounded), but its LINEAGE is the
    # heavy shingle equi-join; materialize it here (EAGER — a lazy
    # checkpoint only pays off for jobs AFTER the one that materializes
    # it, and this operator is consumed as one job) so the verify
    # stage's rank window + two text joins consume a small materialized
    # table AQE can size honestly (broadcast-able), instead of
    # replanning the heavy join under inflated estimates
    cand = ngram_jaccard_pairs(
        df, candidate_threshold, n=n, text_col=text_col, id_col=id_col,
        max_doc_freq=max_doc_freq,
    ).localCheckpoint(eager=True)
    if max_candidates_per_doc is not None:
        cand = topk_per_group(
            cand, max_candidates_per_doc, ["id_a"], "jaccard", tiebreak=["id_b"]
        )
    cand = _spread(cand.select("id_a", "id_b"))
    docs = no_broadcast(_spread(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ))
    # score in a SEPARATE materialization from the rel filter: a plain
    # withColumn+filter pipeline lets Catalyst push the rel predicate
    # into the text join as a join CONDITION, so levenshtein (the whole
    # verify cost) evaluates twice — once in the condition, once in the
    # projection (measured 2x wall at sf1). The checkpointed rows are
    # narrow (ids + two ints), bounded by the candidate count.
    scored = (
        cand.join(docs.withColumnsRenamed({"id": "id_a", "_t": "_ta"}), "id_a")
        .join(docs.withColumnsRenamed({"id": "id_b", "_t": "_tb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_ta"), F.col("_tb")).alias("lev"),
            F.greatest(
                F.length("_ta"), F.length("_tb"), F.lit(1)
            ).alias("_mx"),
        )
        .localCheckpoint(eager=True)
    )
    out = (
        scored.withColumn(
            "rel", F.col("lev").cast("double") / F.col("_mx")
        )
        .filter(F.col("rel") <= max_rel_dist)
    )
    return out.select("id_a", "id_b", "lev", "rel")


def dedup_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-duplicate pairs: (doc_id,
    group_id) where group_id = the smallest doc id reachable through
    the pair graph — the step that turns pairwise dedup output into
    keep/drop groups (keep group_id, drop the rest).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; converges
    in O(component diameter) rounds — near-dup clusters are almost
    cliques, so 2-3 rounds in practice, bounded by ``max_iter``.
    Each round is one equi-join + partial-aggregated min, with
    ``localCheckpoint`` truncating the lineage so the plan stays flat
    across iterations; convergence is detected by the monotonically
    decreasing label sum. (At extreme scale with high-diameter graphs
    the alternating large-star/small-star variant halves rounds; not
    needed for dedup-shaped cluster graphs.) Only documents appearing
    in some pair are returned — singletons are their own group."""
    # NOTE on the two-direction union: its branches are separate plan
    # subtrees, but the expensive upstream (the LSH candidate/verify
    # aggregation exchanges) is deduplicated by ReuseExchange — the r15
    # structural probe measured 453 vs 444 tasks with/without an extra
    # eager pair checkpoint here, so the checkpoint-the-feed variant
    # was measured and REJECTED (it adds a barrier job + storage for
    # ~2% of the tasks).
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # both directions; id_a < id_b in the input, so no duplicate edges
    edges = no_broadcast(e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False))
    # ONE driver-synchronous job per round (r15): the label table is
    # LAZILY checkpointed and the convergence sum's collect is the job
    # that materializes it — the old eager-checkpoint-then-sum pair was
    # 2 barrier jobs per round, and at bench SF the loop's wall IS the
    # per-job floor (the propagation compute is trivial next to it; at
    # corpus scale the job count is unchanged while per-round work
    # grows, so this subtracts pure overhead at every scale).
    labels = no_broadcast(
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("label"))
        .localCheckpoint(eager=False)
    )
    prev = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.withColumnsRenamed({"id": "dst", "label": "nl"}), "dst"
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nl"))
        )
        labels = no_broadcast(
            labels.join(neigh.withColumnsRenamed({"src": "id"}), "id", "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        cur = labels.agg(F.sum("label")).collect()[0][0]
        if cur == prev:
            break
        prev = cur
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("group_id")
    )


def containment_pairs(
    df: DataFrame,
    ref: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, ref_id, containment) pairs
    where containment = |shingles(doc) ∩ shingles(ref)| / |shingles(ref)|
    >= threshold — the eval-set overlap filter (n-gram containment
    against held-out benchmarks) that large-corpus training pipelines
    run before training. Asymmetric by design: a short benchmark
    prompt fully contained in a long document must flag even though
    their Jaccard is tiny.

    Scale shape: the reference set is small by definition, so its
    distinct-shingle table is BROADCAST — the containment join is
    map-side against each corpus partition's shingles, no corpus
    shuffle; the only exchange is the per-(doc, ref) count aggregation,
    partial-aggregated map-side. Self-pairs (same id on both sides)
    are excluded."""
    ds = _doc_shingles(df, id_col, text_col, n)
    rs = _doc_shingles(ref, id_col, text_col, n)
    rsz = rs.groupBy("id").agg(F.count("*").alias("ref_sz"))
    common = (
        ds.select(F.col("id").alias("doc_id"), "sh")
        .join(F.broadcast(rs.select(F.col("id").alias("ref_id"), "sh")), "sh")
        .filter(F.col("doc_id") != F.col("ref_id"))
        .groupBy("doc_id", "ref_id")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(
            F.broadcast(rsz.withColumnsRenamed({"id": "ref_id"})), "ref_id"
        )
        .withColumn(
            "containment", F.col("common").cast("double") / F.col("ref_sz")
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_id", "ref_id", "containment")
    )


def minhash_signature(
    df: DataFrame,
    num_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig) where sig[k] = min over shingles of
    h_k(shingle) = (a_k * hash32(shingle) + b_k) mod MINHASH_P.

    Shape: explode shingles -> ONE md5 per shingle -> k universal-hash
    variants h_k = (a_k*h + b_k) mod p, with p the smallest prime
    above the 32-bit hash domain so each (a, b) is a real permutation
    (see MINHASH_P) — pure integer arithmetic in the same codegen'd
    projection; the standard MinHash construction ->
    hash-aggregate k mins per doc. Map-side partial aggregation means
    the shuffle carries one k-wide row per (doc, partition), O(docs)
    bytes — NOT O(shingles) — so this scales like exact_dedup. Two
    rejected shapes: k md5s per shingle (32x the hashing work), and a
    pure array-fold with no shuffle (higher-order-function lambdas run
    interpreted, outside codegen — 10x+ slower).

    Docs with no shingles (< n tokens) drop out with the explode — they
    cannot near-duplicate anything at this n.
    """
    return _minhash_sig_from_shingles(
        _doc_shingles(df, id_col, text_col, n), num_hashes
    )


def _minhash_sig_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sh) -> (id, sig): the MinHash aggregation over a
    :func:`_doc_shingles` table. MinHash is a function of the shingle
    SET (min over distinct shingles == min over all occurrences), so
    every signature is derived from the same checkpointed table that
    the exact verification reads, and a corpus is tokenized, shingled
    and hash32'd ONCE instead of once per consumer."""
    base = sh.select("id", hash32(F.col("sh")).alias("_h"))
    # affine coefficients from the same md5-derived generator, so the
    # whole family is seedless and engine-reproducible
    coefs = [
        (2 * (_gen32(f"a{k}") & ((1 << 29) - 1)) + 1, _gen32(f"b{k}"))
        for k in range(num_hashes)
    ]
    hashed = base.select(
        "id",
        *[
            ((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"_h{k}")
            for k, (a, b) in enumerate(coefs)
        ],
    )
    mins = hashed.groupBy("id").agg(
        *[F.min(f"_h{k}").alias(f"_h{k}") for k in range(num_hashes)]
    )
    return mins.select(
        "id", F.array(*[F.col(f"_h{k}") for k in range(num_hashes)]).alias("sig")
    )


def _band_signatures(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, sig) -> (id, band, bh): md5 band hashes, band index a
    plan-time constant (codegen'd projections, no interpreted HOF)."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.slice(F.col("sig"), b * r + 1, r).cast(
                                    "array<string>"
                                ),
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")


def build_dedup_index(
    existing: DataFrame,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Materializable dedup index of the EXISTING corpus: the banded
    MinHash table (ex_id, band, bh) and the distinct shingle table
    (id, sh) that :func:`incremental_dedup` probes per ingest
    batch. In production both persist as parquet (the band table
    partitioned/bucketed by (band, bh)) and are appended as batches
    are accepted — the corpus text is never rescanned at ingest
    time.

    One text pass: the shingle table is the checkpointed
    :func:`_doc_shingles` table, and the signatures are derived from
    it, so writing both tables runs the ``shingles`` UDF over the
    corpus once."""
    assert num_hashes % bands == 0
    ds = _doc_shingles(existing, id_col, text_col, n)
    banded = _band_signatures(
        _minhash_sig_from_shingles(ds, num_hashes), bands, num_hashes // bands
    ).withColumnsRenamed({"id": "ex_id"})
    return banded, ds


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental ingest dedup: flag INCOMING documents that
    near-duplicate something already in the EXISTING corpus — the
    decision every continuously-growing training set makes per ingest
    batch (dedup against the index, not within the batch).

    Asymmetric MinHash-LSH: both sides band their signatures, but the
    join probes incoming bands against the existing band index — at
    100 TB the existing side is a materialized banded table partitioned
    by (band, bh) and each ingest batch is a small probe (broadcastable
    at typical batch sizes); nothing rescans the corpus text. The
    banded candidates verify with exact n-gram Jaccard, so precision is
    exact; recall is the standard (bands, rows) LSH curve.

    Returns (doc_id, match_id, jaccard): each flagged incoming doc with
    its BEST existing match (highest jaccard, ties -> smaller id).

    ``index``: a pre-built (banded, shingles) pair from
    :func:`build_dedup_index` — the production path, where the corpus
    index persists across ingest batches and the text is never
    rescanned; without it the index builds inline from ``existing``.

    One text pass per corpus: the incoming signatures are derived from
    the incoming :func:`_doc_shingles` table that the verification
    reads, and an inline index does the same for ``existing``, so the
    ``shingles`` UDF runs once over each corpus. The index's shingle
    table is read as given: either the checkpointed table of an inline
    build or the caller's persisted one."""
    assert num_hashes % bands == 0
    eb, ds_ex = index or build_dedup_index(
        existing, num_hashes, bands, n, text_col, id_col
    )
    ds_in = _doc_shingles(incoming, id_col, text_col, n)
    ib = _band_signatures(
        _minhash_sig_from_shingles(ds_in, num_hashes), bands, num_hashes // bands
    )
    cand = no_broadcast(
        ib.join(no_broadcast(eb), ["band", "bh"])
        .select(F.col("id").alias("id_a"), F.col("ex_id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    scored = (
        _shared_shingles(ds_in, cand, other=no_broadcast(ds_ex))
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
    )
    return topk_per_group(scored, 1, ["id_a"], "jaccard", tiebreak=["id_b"]).select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("match_id"), "jaccard"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    num_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified:

    1. signature (narrow map),
    2. band hashes: md5 of each r-row band slice,
    3. candidate pairs = equi-join on (band_index, band_hash),
    4. verify candidates with exact n-gram Jaccard >= threshold.

    Output (id_a, id_b, jaccard). The LSH banding only *generates*
    candidates — the verification makes results exact, so recall is
    governed by (bands, rows) and precision is 1.
    """
    assert num_hashes % bands == 0
    # ONE corpus shingle pass (r15): the distinct shingle table is
    # needed anyway for exact verification, and MinHash is a set
    # function, so the signatures come FROM it instead of a parallel
    # text branch (for every LSH-fed consumer too: dedup_groups,
    # keep_best, pipeline_curate)
    ds = _doc_shingles(df, id_col, text_col, n)
    sig = _minhash_sig_from_shingles(ds, num_hashes)
    # materialize the banded signatures once: the self-join's two
    # branches are structurally identical but get NO ReusedExchange
    # under AQE, so without this the whole signature pipeline (the
    # dominant cost) executes twice. localCheckpoint (not .cache) —
    # O(docs*bands) rows on executor storage, freed by the context
    # cleaner when the plan is GC'd, no unpersist bookkeeping leaked
    # across a long session.
    banded = no_broadcast(
        checkpoint_corpus(_band_signatures(sig, bands, num_hashes // bands))
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact verification of candidates only
    return (
        _shared_shingles(ds, cand)
        .withColumn("jaccard", _jaccard())
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: SimHash fingerprint width. 60 bits (not 32 — the round-13 scale
#: fix): the r13 probe measured the 32-bit print's 8-bit pigeonhole
#: chunks collapsing into 256 buckets (max bucket 13k of 50k docs,
#: 2.7e8 candidates for 9.6e4 true pairs at sf1) — fingerprint bits
#: over a shared-vocabulary corpus concentrate, so candidate keys need
#: far more entropy than 8 bits. 60 = 15 md5 hex chars (stays positive
#: in a signed BIGINT on both engines) and splits evenly into the 6
#: blocks the combination keys use. Manku, Jain & Sarma (WWW'07) use
#: 64-bit prints with combination tables for exactly this reason.
SIMHASH_BITS = 60


def hash60(col: Column) -> Column:
    """Deterministic 60-bit token hash: first 15 md5 hex chars —
    DuckDB-reproducible like hash32, positive in signed BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SIMHASH_BITS-wide SimHash fingerprint: bit i is set when the sum
    over tokens of (+1 if bit i of hash60(token) else -1) is positive.

    Shape: explode_outer tokens -> one codegen'd md5 per token -> 60
    conditional-sum aggregates per doc (partial aggregation makes the
    shuffle O(docs)); the fingerprint assembles from the sums in a
    flat projection. Same rationale as minhash_signature: flat
    projections + hash aggregate stay in whole-stage codegen, array
    folds don't. explode_outer keeps zero-token docs (null hash ->
    every bit-sum -1 -> fingerprint 0, matching the fold semantics)."""
    toks = (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(tokens(F.col(text_col))).alias("_t"),
        )
        .select("id", hash60(F.col("_t")).alias("_h"))
    )
    sums = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.col("_h").bitwiseAND(F.lit(1 << i).cast("long")) > 0, 1
                ).otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming,
    id_a < id_b. Candidates via COMBINATION keys (Manku, Jain & Sarma,
    WWW'07 "Detecting near-duplicates for web crawling"): the print
    splits into ``max_hamming + 3`` blocks; ``max_hamming`` errors
    damage at most that many blocks, so every qualifying pair agrees
    exactly on some 3-block COMBINATION — candidate generation is an
    equi-join on (combo_index, 3-block key).

    Why 3-block keys and not single chunks (the pre-r13 shape): a
    single (max_hamming+1)-way chunk of a 32-bit print is 8 bits = 256
    buckets, and SimHash bits over a shared-vocabulary corpus
    CONCENTRATE — the r13 sf1 probe measured a 13k-doc bucket and
    2.7e8 candidate pairs for 9.6e4 true pairs (quadratic with a huge
    constant two decades up). A 3-of-6 combination key is 30 bits of
    the 60-bit print: per-block concentration multiplies across three
    quasi-independent blocks, so buckets stay small and the candidate
    set tracks the true-pair set. C(6,3) = 20 keys per doc replaces 4
    — 5x the explode, orders less join output."""
    n_blocks = max_hamming + 3
    combo_size = 3  # intact blocks >= n_blocks - max_hamming = 3
    width = SIMHASH_BITS // n_blocks
    assert SIMHASH_BITS % n_blocks == 0, (
        f"SIMHASH_BITS={SIMHASH_BITS} must split into {n_blocks} blocks "
        f"(max_hamming={max_hamming})"
    )
    from itertools import combinations

    sh = simhash(df, text_col, id_col)

    def block(b: int) -> Column:
        return F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(
            F.lit((1 << width) - 1).cast("long")
        )

    combo_structs = [
        F.struct(
            F.lit(ci).alias("chunk"),
            # pack the 3 block values into one BIGINT key (3 * width
            # <= 60 bits fits; combo id rides separately)
            (
                block(bs[0]) * F.lit(1 << (2 * width)).cast("long")
                + block(bs[1]) * F.lit(1 << width).cast("long")
                + block(bs[2])
            ).alias("cv"),
        )
        for ci, bs in enumerate(combinations(range(n_blocks), combo_size))
    ]
    chunks = sh.select(
        "id", "simhash", F.explode(F.array(*combo_structs)).alias("cc")
    ).select("id", "simhash", "cc.chunk", "cc.cv")
    # materialize once: the self-join would otherwise recompute the
    # whole fingerprint pipeline (explode + md5 + 32-way agg) per side.
    # EAGER (r9 lesson, edit_distance_pairs 195->49 s): a lazy
    # localCheckpoint does not cut recompute within the job that
    # materializes it — every reference in that first job re-runs the
    # subtree; only an up-front materialization makes both join sides
    # read the checkpointed blocks
    chunks = no_broadcast(checkpoint_corpus(chunks, eager=True))
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "cv"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("ha"),
            F.col("y.simhash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-source n-gram overlap matrix: for every source pair
    (a < b), the distinct-shingle intersection size and Jaccard — the
    corpus-level contamination diagnostic (how much of web is already
    in wiki, etc.) that decides dedup/mixture policy before any
    per-document work. Returns (source_a, source_b, n_common, n_a,
    n_b, jaccard).

    Shape: the :func:`_doc_shingles` table keyed by source (the
    per-source shingle VOCABULARY, far smaller than the corpus) through
    the all-pairs :func:`_shared_shingles` path: self-equi-join on
    shingle for intersections, tiny per-source totals joined back
    (AQE broadcasts them at run time).
    Integer arithmetic — bit-exact oracle. Sources are few; shingle
    vocabulary dominates and shuffles once, map-side combined.
    """
    ov = _shared_shingles(_doc_shingles(df, source_col, text_col, n))
    return ov.select(
        F.col("id_a").alias("source_a"), F.col("id_b").alias("source_b"),
        F.col("common").alias("n_common"), F.col("sz_a").alias("n_a"),
        F.col("sz_b").alias("n_b"), _jaccard().alias("jaccard"),
    )


def semantic_dedup(
    df: DataFrame,
    tau: float,
    n_clusters: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are k-means clustered, cosine
    near-duplicates are detected WITHIN clusters only, and within each
    duplicate relation the example FARTHEST from its cluster centroid
    is kept (the paper's keep-low-centroid-similarity rule — it
    retains the least prototypical, most informative example).

    Keep rule, made order-free: ``b`` dominates ``a`` iff
    ``cos(a, b) >= tau`` and ``b`` is strictly farther from the shared
    centroid (ties broken on smaller id). A row is dropped iff some
    row dominates it. Since domination is a total order restricted to
    each tau-edge, both endpoints of an edge never survive together
    (kept set is tau-independent), and a row with no tau-neighbor is
    always kept — the two properties the certified suite entry
    re-checks from the output.

    Scale shape: the coarse quantizer trains on decimal-exact Lloyd
    iterations (similarity.ivf_train_kmeans — shuffle carries
    O(clusters x dim) partial sums, not the corpus), or pass
    ``centroids=`` to ride an already-trained quantizer (e.g. the IVF
    coarse index the ANN path materializes at ingest — the production
    shape: one cluster model serves retrieval AND dedup, and the dedup
    pass pays zero training); assignment is one
    Arrow-batched pass against the broadcast centroid matrix; the pair
    stage is an equi-join ON THE CLUSTER ID, so the quadratic blowup
    is bounded by cluster size — grow ``n_clusters`` with the corpus
    (the paper uses k ~ sqrt(N)) and each cluster's pair block stays
    executor-sized while clusters fan out in parallel. No driver-side
    collect beyond the O(clusters x dim) centroid table. All cosine /
    centroid-similarity folds run in index order (fold_dot), so the
    tau and domination cuts are bit-deterministic across partitionings.

    Returns one row per input: ``(id_col, cluster, cent_sim, v, kept)``
    where ``v`` is the unit-normalized vector (array column — drop it
    before hashing) and ``kept`` marks survivors. The reference has no
    embedding surface at all; this is LLM-pipeline completion beside
    MinHash/SimHash (operators/dedup.py) and the ANN family
    (operators/similarity.py)."""
    from boostdb_spark.operators import similarity as sim

    c = sim._with_norm(df, id_col, vec_col, "id", "v")
    # zero-norm-safe normalize (sim.unit_vec): a zero vector keeps its
    # zeros, so its dots are 0 < tau — it neither dominates nor is
    # dominated and always survives with no tau-edges
    normed = c.select("id", sim.unit_vec("v", "v_nrm").alias("v"))
    cents = centroids
    if cents is None:
        cents = sim.ivf_train_kmeans(
            df, n_centroids=n_clusters, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
    a = sim.ivf_assign(normed, cents, "v", n_probe=1).select(
        "id", "v", F.element_at("list_id", 1).alias("cluster")
    )
    spark = df.sparkSession
    cdf = spark.createDataFrame(
        [(int(cid), [float(x) for x in cv]) for cid, cv in cents],
        "cluster long, cvec array<double>",
    )
    a = (
        a.join(F.broadcast(cdf), "cluster")
        .withColumn("cent_sim", sim.fold_dot(F.col("v"), F.col("cvec")))
        .drop("cvec")
    )
    # feeds both pair sides + output; DISK_ONLY: corpus-scaled vectors
    a = no_broadcast(checkpoint_corpus(a))
    left = a.select(
        "cluster", F.col("id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("cent_sim").alias("a_cs"),
    )
    right = a.select(
        "cluster", F.col("id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("cent_sim").alias("b_cs"),
    )
    # Each unordered pair is scored ONCE (a_id < b_id): cosine is
    # exactly symmetric (fold_dot adds a_i*b_i in index order and IEEE
    # multiplication commutes), so the old both-directions join paid
    # 2x the pair fanout and 2x the Arrow fold evaluations for the
    # same dropped set (optimization guide §2.3: shuffle/compute fewer
    # bytes). Exactly one endpoint of every tau-edge is dominated —
    # the one NEARER the shared centroid (larger cent_sim), ties to
    # the larger id — bit-identical to the per-direction filter this
    # replaces.
    dominated = (
        left.join(right, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", sim.fold_dot(F.col("a_v"), F.col("b_v")))
        .filter(F.col("cos") >= F.lit(float(tau)))
        .select(
            F.when(F.col("b_cs") < F.col("a_cs"), F.col("a_id"))
            .otherwise(F.col("b_id"))
            .alias("id")
        )
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )
    out = a.join(dominated, "id", "left")
    return out.select(
        F.col("id").alias(id_col), "cluster", "cent_sim", "v",
        F.col("_dropped").isNull().alias("kept"),
    )


def shingle_containment_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact shingle CONTAINMENT (Broder 1997, "On the resemblance and
    containment of documents"): ``C(A,B) = |S(A) ∩ S(B)| / |S(A)|`` —
    the asymmetric companion to Jaccard that catches a short document
    embedded in a longer one (quote farms, boilerplate wrappers,
    excerpt pages), where Jaccard stays low because the union is
    dominated by the container. Returns
    (contained_id, container_id, containment >= threshold), both
    directions of each sharing pair considered.

    Same scale shape as ngram_jaccard_pairs: shingle-explode +
    equi-join on the shingle (never an all-pairs product), intersection
    counts map-side combined; ``max_doc_freq`` drops ubiquitous
    shingles whose fanout is quadratic and whose signal is zero. The
    containment value is one exact IEEE division of two ints."""
    sized = _shared_shingles(
        _doc_shingles(df, id_col, text_col, n), max_doc_freq=max_doc_freq
    )
    fwd = sized.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        (F.col("common").cast("double") / F.col("sz_a")).alias("containment"),
    )
    rev = sized.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        (F.col("common").cast("double") / F.col("sz_b")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)
