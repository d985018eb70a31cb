"""LLM-data-pipeline coverage suite: dedup, similarity search, text
analysis, multimodal — the north-star operators beyond the reference's
own surface (BASELINE.json: "add the LLM-data-pipeline operators ...
design every operator for 100 TB scale").

Oracle parity strategy: every cross-engine hash is md5-derived
(Spark ``conv(substr(md5(x),1,8),16,10)`` == DuckDB
``('0x'||substr(md5(x),1,8))::BIGINT``), every float fold is an
explicit left-to-right ``list_reduce`` mirroring Spark's
``F.aggregate``, and integer arithmetic carries the rest. Candidate
generation internals (MinHash affine family, LSH hyperplanes, IVF
centroids) are deterministic md5-seeded constants but never reach an
oracle: LSH/SimHash pairs are verified against brute-force exact
computations, and the approximate-by-design ANN entries use unit
tests (tests/test_ann.py) instead of SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from boostdb_spark.operators import dedup as dd
from boostdb_spark.operators.common import checkpoint_corpus, no_broadcast
from boostdb_spark.operators import multimodal as mm
from boostdb_spark.operators import similarity as sim
from boostdb_spark.operators import text as tx
from boostdb_spark.session import load_tables
from boostdb_spark.suite import _q

# ---- shared DuckDB SQL fragments (mirror operators/text.py exactly) ----

TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')"
H32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
SHINGLES3 = (
    "list_transform(range(0, greatest(len({t}) - 2, 0)), "
    "i -> {t}[i+1] || ' ' || {t}[i+2] || ' ' || {t}[i+3])"
)
DOT64 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
    "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)


# ===========================================================================
# Text analysis
# ===========================================================================


@_q(
    "txt_token_count",
    f"SELECT doc_id, len({TOKS})::BIGINT AS n_tokens FROM documents",
)
def txt_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace/punct token counting over the documents table —
    JVM-side split/filter/size, no Python."""
    t = load_tables(spark, sf_dir)
    return tx.token_count(t["documents"]).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@_q(
    "txt_vocab_topk",
    f"""
    WITH t AS (SELECT unnest({TOKS}) AS token FROM documents)
    SELECT token, count(*) AS n FROM t GROUP BY token
    ORDER BY n DESC, token ASC LIMIT 100
    """,
)
def txt_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vocab_topk(): the 100 most frequent corpus tokens (vocabulary
    induction). Explode -> map-side-combined count -> TakeOrdered
    top-k; deterministic via the lexicographic tiebreak."""
    t = load_tables(spark, sf_dir)
    return tx.vocab_topk(t["documents"], k=100)


@_q(
    "txt_lexical_diversity",
    f"""
    WITH t AS (SELECT doc_id, unnest({TOKS}) AS token FROM documents),
    g AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
    SELECT doc_id AS id, CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           count(*) / CAST(sum(c) AS DOUBLE) AS ttr,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(sum(c) AS DOUBLE) AS hapax_frac
    FROM g GROUP BY doc_id
    """,
)
def txt_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lexical_diversity(): per-doc type-token ratio + hapax fraction
    — vocabulary-richness quality signals (templated text reuses few
    types). ALL-INTEGER fold over the sorted token array (no ln, no
    float accumulation; ratios are single int/int divisions), ZERO
    shuffle — doc_entropy's sorted-run-fold shape with integer
    counters. Oracle groups exploded tokens; the operator never
    explodes."""
    t = load_tables(spark, sf_dir)
    return tx.lexical_diversity(t["documents"])


@_q(
    "txt_zipf_slope",
    f"""
    WITH t AS (SELECT source, unnest({TOKS}) AS token FROM documents),
    v AS (SELECT source, token, count(*) AS n FROM t GROUP BY 1, 2),
    r AS (SELECT source, n,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n DESC, token ASC) AS rnk
          FROM v),
    p AS (SELECT source, ln(CAST(rnk AS DOUBLE)) AS x,
                 ln(CAST(n AS DOUBLE)) AS y
          FROM r WHERE rnk <= 100)
    SELECT source, count(*) AS k_points,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6)
             AS zipf_slope
    FROM p GROUP BY source
    """,
)
def txt_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zipf_slope(): Zipf-law exponent of each source's token
    frequency distribution — the corpus-statistics diagnostic (natural
    text sits near -1; templated/spammy corpora flatten or steepen):
    least-squares ln(count)-vs-ln(rank) fit over the per-source
    top-100 tokens. Ranks are exact integers (count desc, token asc),
    so both engines fit the SAME 100 points; 6dp rounding absorbs
    last-ulp ln / summation-order noise (the txt_unigram_logprob
    precedent). Scale shape: explode -> map-side-combined count ->
    rank window over the VOCABULARY (not the corpus) -> a 100-row
    aggregate per source. No joins, no collect."""
    t = load_tables(spark, sf_dir)
    return tx.zipf_slope(t["documents"], k=100, group_col="source")


@_q(
    "doc_pack_tokens",
    f"""
    WITH n AS (
      SELECT doc_id, len({TOKS})::BIGINT AS n FROM documents
      WHERE len({TOKS}) > 0),
    pos AS (
      SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS e
      FROM n),
    packs AS (
      SELECT doc_id, n, e, e - n AS s,
             unnest(generate_series((e - n) // 2048, (e - 1) // 2048))
               AS pack_id
      FROM pos)
    SELECT doc_id, pack_id,
           greatest(pack_id * 2048, s) - s AS tok_begin,
           least((pack_id + 1) * 2048, e) - s AS tok_end
    FROM packs
    """,
)
def doc_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_tokens(): concat-and-split sequence packing — documents
    laid end to end in doc_id order, cut into 2048-token packs, one
    row per (doc, pack) overlap with the document-local token slice.
    The oracle is a straight global running sum; the operator computes
    the SAME layout with a two-phase bucket-offset scan (no
    single-partition window at scale)."""
    from boostdb_spark.operators.sampling import pack_tokens

    t = load_tables(spark, sf_dir)
    n = tx.token_count(t["documents"]).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    return pack_tokens(n, capacity=2048)


@_q(
    "txt_quality",
    f"""
    WITH d AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           CASE WHEN len(toks) > 0 THEN
             list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                         (a, x) -> a + x)::DOUBLE / len(toks) END AS mean_tok_len,
           CASE WHEN len(toks) > 0 THEN
             len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is')))::DOUBLE
             / len(toks) END AS stop_ratio,
           CASE WHEN len(text) > 0 THEN
             len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
             / len(text) END AS alpha_ratio
    FROM d
    """,
)
def txt_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features (length / stopword / alpha ratios) —
    the standard cheap LLM-corpus pre-filters."""
    t = load_tables(spark, sf_dir)
    return tx.quality_features(t["documents"]).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_tok_len",
        "stop_ratio",
        "alpha_ratio",
    )


def _clean_expr() -> str:
    # chain the SAME pattern list the operator uses; RE2 == Java regex
    # for these character-class-only patterns
    expr = "lower(text)"
    for pat, repl in tx.SCRUB_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return rf"trim(regexp_replace({expr}, '\s+', ' ', 'g'))"


def _normalize_oracle() -> str:
    return f"SELECT doc_id, {_clean_expr()} AS clean FROM documents"


@_q("txt_normalize", _normalize_oracle())
def txt_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scrub/normalization pass: lowercase, email/IP/digit-run PII
    masking, whitespace collapse — single codegen projection."""
    t = load_tables(spark, sf_dir)
    return tx.normalize_text(t["documents"]).select("doc_id", "clean")


@_q(
    "txt_repetition",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
    u AS (SELECT doc_id, unnest({SHINGLES3.format(t='t')}) AS sh FROM d),
    per AS (SELECT doc_id, sh, count(*) AS c FROM u GROUP BY doc_id, sh)
    SELECT doc_id, sum(c)::BIGINT AS n_ngrams,
           (sum(c) - count(*))::DOUBLE / sum(c) AS dup_ngram_frac,
           max(c)::DOUBLE / sum(c) AS top_ngram_frac
    FROM per GROUP BY doc_id
    """,
)
def txt_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-trigram
    fraction, top-trigram share) — the standard repetition pre-filter
    for LLM corpora."""
    t = load_tables(spark, sf_dir)
    return tx.repetition_features(t["documents"])


def _langid_oracle() -> str:
    score = {
        lang: f"len(list_filter(toks, t -> t IN ({', '.join(repr(w) for w in sw)})))"
        for lang, sw in tx.LANG_STOPWORDS.items()
    }
    langs = list(tx.LANG_STOPWORDS)
    whens = []
    for lang in langs[:-1]:
        conds = " AND ".join(
            f"{score[lang]} >= {score[o]}" for o in langs if o != lang
        )
        whens.append(f"WHEN {conds} THEN '{lang}'")
    return f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id, CASE {' '.join(whens)} ELSE '{langs[-1]}' END AS detected_lang
    FROM d
    """


@_q("txt_langid", _langid_oracle())
def txt_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID with deterministic argmax
    tiebreak."""
    t = load_tables(spark, sf_dir)
    return tx.detect_language(t["documents"]).select("doc_id", "detected_lang")


@_q(
    "txt_fingerprint",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT,
             list_transform(toks, t -> {H32.format(x='t')})),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM d
    """,
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash over token hashes — whitespace-robust
    exact-dedup key."""
    t = load_tables(spark, sf_dir)
    return tx.fingerprint(t["documents"]).select("doc_id", "fingerprint")


@_q(
    "txt_winnowing",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             generate_subscripts(sh, 1) - 1 AS pos,
             unnest(sh) AS sh
      FROM (SELECT doc_id,
              list_transform(range(0, greatest(len(toks) - 2, 0)),
                i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
              AS sh
            FROM d)),
    k AS (
      SELECT doc_id, pos,
             {H32.format(x='sh')} * 2097152 + (1048576 - pos) AS key
      FROM s),
    m AS (
      SELECT doc_id,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS wmin,
             count(*) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS wn
      FROM k)
    SELECT DISTINCT doc_id,
           1048576 - (wmin & 2097151) AS pos,
           wmin >> 21 AS fp
    FROM m WHERE wn = 4
    """,
)
def txt_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust winnowing fingerprints (Schleimer et al. 2003, the MOSS
    plagiarism-detection selection rule): per 4-window of 3-token
    shingle hashes, keep the minimum hash with RIGHTMOST tie-break —
    guaranteeing any shared run of >= w+k-1 = 6 tokens shares a
    fingerprint at ~2/(w+1) storage density. The (min hash, rightmost
    pos) pair is ONE integer MIN over a packed key (h * 2^21 +
    (2^20 - pos)), so the whole operator is a posexplode + one window
    pass + distinct — integers end to end, bit-exact on both engines.
    New r12 LLM-pipeline surface beside fingerprint (rolling hash) and
    the MinHash/SimHash sketches."""
    t = load_tables(spark, sf_dir)
    return tx.winnowing_fingerprints(t["documents"], k=3, w=4)


@_q(
    "udtf_tokenize",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents)
    SELECT doc_id, unnest(toks) AS token,
           unnest(range(0, len(toks)))::INT AS pos
    FROM d
    """,
)
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (one row -> many rows) LATERAL-joined in SQL — the
    table-function contract of SURVEY.md section 2.5. Mirrors the
    JVM tokenizer bit-for-bit; at scale the explode() form in
    operators/text.py is the throughput path."""
    from boostdb_spark.functions.udtf import register_udtfs

    load_tables(spark, sf_dir)
    register_udtfs(spark)
    return spark.sql(
        "SELECT d.doc_id, t.token, t.pos "
        "FROM documents d, LATERAL boost_tokenize(d.text) t"
    )


# ===========================================================================
# Deduplication
# ===========================================================================


@_q(
    "dialect_lateral_tokenize",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents
               WHERE source = 'src0')
    SELECT doc_id, unnest(toks) AS token,
           unnest(range(0, len(toks)))::INT AS pos
    FROM d
    """,
)
def dialect_lateral_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL table-function join through the DIALECT front — the
    last declared-intent grammar gap (the reference's TiDB parser
    accepts LATERAL before dropping the statement,
    query/parser/parser.go:25-45; udtf_tokenize certifies the same
    expansion on the SQL API). ``JOIN LATERAL tokenize(d.text) t``
    compiles to a pure-JVM posexplode generator inside whole-stage
    codegen — no shuffle, no Python — because dialect LATERAL accepts
    only whitelisted table functions (arbitrary Python UDTFs stay on
    the DataFrame/SQL API where the row-at-a-time cost is explicit).
    The series filter (source = src0) pushes into the scan under the
    generator."""
    from boostdb_spark.plans import sugar as _sugar

    load_tables(spark, sf_dir)
    binding = {
        "boost.docs": _sugar.SeriesFamilyBinding(
            view="documents", series_col="source", value_col="doc_id",
            ts_col="doc_id",
        )
    }
    return _sugar.query(
        spark,
        "SELECT d.src0 AS doc_id, t.token AS token, t.pos AS pos "
        "FROM boost.docs d JOIN LATERAL tokenize(d.text) t",
        binding,
    )


@_q(
    "dedup_exact",
    """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via md5-groupBy; one shuffle on the digest."""
    t = load_tables(spark, sf_dir)
    return dd.exact_dedup(t["documents"])


_NGRAM_ORACLE = f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
    SELECT id_a, id_b, c::DOUBLE / (sa.sz + sb.sz - c) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= {{thr}}
"""


@_q("dedup_ngram_jaccard", _NGRAM_ORACLE.format(thr=0.5))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs at threshold 0.5 — the
    EXACT BASELINE entry: shingle-explode + equi-join on shingle
    (never a cross product), but the shingle self-join's volume is
    sum over shingles of C(doc_freq, 2) — inherently quadratic on a
    shared-vocabulary corpus. That is the documented cost contract of
    exactness at a low threshold; at corpus scale use
    dedup_ngram_jaccard_capped (max_doc_freq drops no-signal ubiquitous
    shingles) or the verified MinHash-LSH path, which the policy
    consumers (dedup_keep_best / dedup_groups / pipeline_curate)
    switched to in round 13."""
    t = load_tables(spark, sf_dir)
    return dd.ngram_jaccard_pairs(t["documents"], threshold=0.5, n=3)


#: shared spans pipeline (8-token shingles, maximal diagonal runs) —
#: the dedup_substring result set as a reusable CTE chain
_SPANS_CTES = f"""
    d AS (SELECT doc_id, {TOKS} AS tk FROM documents),
    sp AS (
      SELECT doc_id AS id,
             unnest(range(0, greatest(len(tk) - 7, 0)))::BIGINT AS pos, tk
      FROM d),
    sh AS (
      SELECT id, pos, array_to_string(tk[pos+1 : pos+8], ' ') AS s
      FROM sp),
    hits AS (
      SELECT a.id AS doc_a, b.id AS doc_b, a.pos AS pa, b.pos AS pb,
             a.pos - b.pos AS diag
      FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id),
    runs AS (
      SELECT doc_a, doc_b, pa, pb, diag,
             CASE WHEN lag(pa) OVER w IS NULL
                       OR pa - lag(pa) OVER w <> 1 THEN 1 ELSE 0 END AS nr
      FROM hits
      WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)),
    rid AS (
      SELECT *, sum(nr) OVER (PARTITION BY doc_a, doc_b, diag
                              ORDER BY pa) AS run_id
      FROM runs),
    spans AS (
      SELECT doc_a, doc_b, min(pa) AS a_start, min(pb) AS b_start,
             (count(*) + 7)::BIGINT AS span_tokens
      FROM rid GROUP BY doc_a, doc_b, diag, run_id
      HAVING count(*) + 7 >= 8)
"""


@_q(
    "dedup_substring",
    f"""
    WITH {_SPANS_CTES}
    SELECT doc_a, doc_b, a_start, b_start, span_tokens FROM spans
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING dedup (operators/dedup.py::substring_spans —
    Lee et al. 2021's 50-token-overlap method at fixture-scale k=8):
    maximal verbatim token runs shared across document pairs, found by
    bucketing positioned 8-token shingles on their text (the
    distributed suffix-array analog; candidate generation is the same
    banded equi-join posture as MinHash-LSH, never all-pairs) and
    chaining consecutive diagonal hits into maximal runs with one
    window pass. Output is all-integer (doc pair, 0-based start
    offsets, token span) so the oracle comparison is bit-exact —
    the txt_ngram_novelty oracle style."""
    t = load_tables(spark, sf_dir)
    return dd.substring_spans(t["documents"], k=8)


@_q(
    "dedup_substring_clean",
    f"""
    WITH {_SPANS_CTES},
    drops AS (
      SELECT DISTINCT doc_b AS id,
             unnest(range(b_start, b_start + span_tokens))::BIGINT AS pos
      FROM spans),
    toks0 AS (
      SELECT doc_id AS id, unnest(range(0, len(tk)))::BIGINT AS pos, tk
      FROM d),
    toks AS (SELECT id, pos, tk[pos+1] AS tok FROM toks0),
    kept AS (SELECT t.id, t.pos, t.tok FROM toks t
             ANTI JOIN drops USING (id, pos)),
    reb AS (SELECT id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY id),
    tot AS (SELECT id, count(*) AS n_tokens FROM toks GROUP BY id)
    SELECT tot.id, coalesce(reb.clean_text, '') AS clean_text,
           tot.n_tokens,
           (tot.n_tokens - coalesce(reb.n_kept, 0)) AS n_removed
    FROM tot LEFT JOIN reb USING (id)
    """,
)
def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of exact substring dedup
    (operators/dedup.py::remove_duplicate_spans — Lee et al. 2021 cut
    the duplicated bytes, not whole documents): every verbatim span
    found by dedup_substring is deleted from the HIGHER-id document of
    its pair (first occurrence wins, transitively correct for n-way
    copies), and each document's normalized token stream rebuilds in
    position order. Hash-certifies the cleaned corpus text itself plus
    the removed-token accounting. Shape: the span drop-set explodes to
    (doc, pos) rows bounded by duplicated volume; one anti-join; the
    ordered rebuild groups per document (per-task memory = one doc)."""
    t = load_tables(spark, sf_dir)
    return dd.remove_duplicate_spans(t["documents"], k=8)


@_q(
    "dedup_levenshtein",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    cand AS (
      SELECT id_a, id_b
      FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
    t AS (SELECT cand.id_a, cand.id_b, ta.text AS ta, tb.text AS tb
          FROM cand JOIN documents ta ON cand.id_a = ta.doc_id
                    JOIN documents tb ON cand.id_b = tb.doc_id)
    SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
           levenshtein(ta, tb)::DOUBLE / greatest(len(ta), len(tb), 1) AS rel
    FROM t
    WHERE levenshtein(ta, tb)::DOUBLE / greatest(len(ta), len(tb), 1) <= 0.4
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edit_distance_pairs(): character-level near-dup verification —
    shingle-bucketed Jaccard candidates (threshold 0.2, never
    all-pairs) verified by exact relative Levenshtein <= 0.4. Catches
    small in-place edits token-set measures miss; unit-cost
    levenshtein is identical JVM/DuckDB, so pairs certify exactly."""
    t = load_tables(spark, sf_dir)
    out = dd.edit_distance_pairs(
        t["documents"], max_rel_dist=0.4, candidate_threshold=0.2, n=3
    )
    return out.withColumn("lev", F.col("lev").cast("long"))


@_q(
    "dedup_levenshtein_capped",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    rare AS (SELECT sh FROM ds GROUP BY sh HAVING count(*) <= 100),
    dsr AS (SELECT ds.* FROM ds JOIN rare USING (sh)),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM dsr a JOIN dsr b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    cand0 AS (
      SELECT id_a, id_b, c::DOUBLE / (sa.sz + sb.sz - c) AS j
      FROM common JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.2),
    cand AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY j DESC, id_b ASC) AS rk
        FROM cand0) r WHERE rk <= 20),
    t AS (SELECT cand.id_a, cand.id_b, ta.text AS ta, tb.text AS tb
          FROM cand JOIN documents ta ON cand.id_a = ta.doc_id
                    JOIN documents tb ON cand.id_b = tb.doc_id)
    SELECT id_a, id_b, CAST(levenshtein(ta, tb) AS BIGINT) AS lev,
           levenshtein(ta, tb)::DOUBLE / greatest(len(ta), len(tb), 1) AS rel
    FROM t
    WHERE levenshtein(ta, tb)::DOUBLE / greatest(len(ta), len(tb), 1) <= 0.4
    """,
)
def dedup_levenshtein_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-POSTURE edit-distance dedup: BOTH scale knobs
    engaged — the ubiquitous-shingle cap (max_doc_freq=100) bounds the
    per-shingle candidate fanout, and the per-doc candidate cap
    (max_candidates_per_doc=20) bounds the O(len^2) Levenshtein verify
    to the 20 most-similar candidates per doc (by candidate Jaccard,
    ties to the smaller id), i.e. O(docs x k x len^2) total. The r9
    sf1 probe motivated each knob separately: uncapped read 49.4x wall
    on 10x rows (d^2 shingle fanout x per-pair len^2), df-cap alone
    still 24.7x (surviving shingles drift toward the df ceiling in the
    tiny-vocab fixture, multiplying pairs-per-shingle), df-cap +
    per-doc cap is the linear production shape. Candidate semantics
    match dedup_ngram_jaccard_capped (intersections count
    sub-ubiquitous shingles only, set sizes pre-cap); the Levenshtein
    verify itself stays exact. The uncapped dedup_levenshtein entry
    remains certified as the exactness baseline at fixture scale."""
    t = load_tables(spark, sf_dir)
    out = dd.edit_distance_pairs(
        t["documents"], max_rel_dist=0.4, candidate_threshold=0.2, n=3,
        max_doc_freq=100, max_candidates_per_doc=20,
    )
    return out.withColumn("lev", F.col("lev").cast("long"))


@_q(
    "dedup_decontaminate",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    ref AS (SELECT id AS ref_id, sh FROM ds WHERE id % 97 = 0),
    rsz AS (SELECT ref_id, count(*) AS ref_sz FROM ref GROUP BY ref_id),
    common AS (
      SELECT d.id AS doc_id, r.ref_id, count(*) AS c
      FROM ds d JOIN ref r USING (sh) WHERE d.id <> r.ref_id GROUP BY 1, 2)
    SELECT doc_id, ref_id, c::DOUBLE / ref_sz AS containment
    FROM common JOIN rsz USING (ref_id)
    WHERE c::DOUBLE / ref_sz >= 0.5
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents containing
    >= 50% of a held-out reference doc's trigrams (the eval-overlap
    filter run before LLM training). The reference set here is the
    deterministic doc_id % 97 == 0 slice standing in for an external
    benchmark; its shingle table is broadcast, so the corpus side
    never shuffles for the probe."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    ref = docs.filter(F.col("doc_id") % 97 == 0)
    return dd.containment_pairs(docs, ref, threshold=0.5, n=3)


@_q(
    "dedup_groups",
    f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.8),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src, src AS lab FROM (SELECT DISTINCT src FROM edges) t
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.src)
    SELECT src AS doc_id, min(lab) AS group_id FROM reach GROUP BY src
    """,
)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (exact 3-gram Jaccard >= 0.8) clustered into
    keep/drop groups by iterative min-label propagation — the oracle
    computes the same components as a recursive transitive closure."""
    t = load_tables(spark, sf_dir)
    # candidate generation via verified MinHash-LSH (48x(16x3) — the
    # r13 banding): identical exact-Jaccard output (miss 3.6e-9 at
    # the fixture pair distribution, every candidate exact-verified)
    # but LINEAR candidate volume — the raw shingle self-join this
    # consumed before is quadratic on a shared-vocabulary corpus
    # (the r13 probe ground >25 min at sf1 before being killed)
    pairs = dd.minhash_lsh_pairs(
        t["documents"], threshold=0.8, num_hashes=48, bands=16, n=3
    )
    return dd.dedup_groups(pairs)


@_q(
    "dedup_keep_best",
    f"""
    WITH RECURSIVE
    d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b FROM common
      JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.8),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach AS (
      SELECT src, src AS lab FROM (SELECT DISTINCT src FROM edges) t
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.src),
    g AS (SELECT src AS doc_id, min(lab) AS group_id FROM reach GROUP BY src),
    alldocs AS (
      SELECT d0.doc_id, coalesce(g.group_id, d0.doc_id) AS group_id,
             d0.n_chars
      FROM documents d0 LEFT JOIN g USING (doc_id)),
    r AS (
      SELECT doc_id, group_id,
             row_number() OVER (PARTITION BY group_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM alldocs)
    SELECT doc_id, group_id, (rn = 1) AS keep FROM r
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """keep_best(): the keep-policy half of dedup — one survivor per
    near-duplicate component (exact Jaccard >= 0.8 pairs), chosen as
    the LONGEST member (n_chars, ties -> smaller id) instead of the
    arbitrary smallest id; singletons keep themselves. Components via
    bounded label propagation, then one left join + one window whose
    partition key has no hot groups."""
    t = load_tables(spark, sf_dir)
    # candidate generation via verified MinHash-LSH (48x(16x3) — the
    # r13 banding): identical exact-Jaccard output (miss 3.6e-9 at
    # the fixture pair distribution, every candidate exact-verified)
    # but LINEAR candidate volume — the raw shingle self-join this
    # consumed before is quadratic on a shared-vocabulary corpus
    # (the r13 probe ground >25 min at sf1 before being killed)
    pairs = dd.minhash_lsh_pairs(
        t["documents"], threshold=0.8, num_hashes=48, bands=16, n=3
    )
    return dd.keep_best(t["documents"], pairs, score_col="n_chars")


@_q(
    "dedup_incremental",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    inc AS (SELECT * FROM ds WHERE id % 3 = 0),
    ex AS (SELECT * FROM ds WHERE id % 3 <> 0),
    common AS (
      SELECT i.id AS in_id, e.id AS ex_id, count(*) AS c
      FROM inc i JOIN ex e USING (sh) GROUP BY 1, 2),
    j AS (
      SELECT in_id, ex_id,
             c::DOUBLE / (si.sz + se.sz - c) AS jaccard
      FROM common
      JOIN sizes si ON in_id = si.id JOIN sizes se ON ex_id = se.id
      WHERE c::DOUBLE / (si.sz + se.sz - c) >= 0.8),
    r AS (
      SELECT in_id, ex_id, jaccard,
             row_number() OVER (PARTITION BY in_id
                                ORDER BY jaccard DESC, ex_id ASC) AS rn
      FROM j)
    SELECT in_id AS doc_id, ex_id AS match_id, jaccard
    FROM r WHERE rn = 1
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_dedup(): ingest-batch dedup AGAINST the existing
    corpus (incoming = doc_id % 3 == 0 slice, existing = the rest) —
    asymmetric banded MinHash probe into the corpus band index, exact
    Jaccard verification, best existing match per flagged doc. The
    existing side's index (banded signatures + shingle table,
    build_dedup_index) is MATERIALIZED to parquet once per session —
    the production shape: the corpus text is never rescanned at
    ingest time; each batch probes the persisted index. The oracle is
    the brute-force exact cross computation: at the fixture's pair
    distribution (true pairs >= 0.889) the banding miss probability
    is (1 - 0.889^3)^16 ~ 3.6e-9 (48x(16x3) banding — the r13
    scale sizing, see dedup_minhash_lsh), so the LSH probe equals
    exact output deterministically."""
    import os
    from urllib.parse import urlparse

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    existing = docs.filter(F.col("doc_id") % 3 != 0)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    base = os.path.join(wh, f"suite_dedupidx_{tag}_{app_id}")
    key = (app_id, sf_dir)
    from boostdb_spark.suite import layout_ready

    if not layout_ready(
        _DEDUP_INDEX_WRITTEN,
        key,
        os.path.join(base, "bands"),
        os.path.join(base, "shingles"),
    ):
        from boostdb_spark.suite import gc_stale_layouts

        gc_stale_layouts(wh, "suite_dedupidx_")
        banded, shingles_tbl = dd.build_dedup_index(
            existing, num_hashes=48, bands=16, n=3
        )
        banded.write.mode("overwrite").parquet(os.path.join(base, "bands"))
        shingles_tbl.write.mode("overwrite").parquet(
            os.path.join(base, "shingles")
        )
        _DEDUP_INDEX_WRITTEN.add(key)
    from boostdb_spark.suite import touch_layout

    touch_layout(base)
    index = (
        spark.read.parquet(os.path.join(base, "bands")),
        spark.read.parquet(os.path.join(base, "shingles")),
    )
    return dd.incremental_dedup(
        existing, incoming, threshold=0.8, num_hashes=48, bands=16, n=3,
        index=index,
    )


@_q("dedup_minhash_lsh", _NGRAM_ORACLE.format(thr=0.8))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(48) + LSH(16 bands x 3 rows) candidates, exact-Jaccard
    verified at 0.8. The oracle is the brute-force exact computation:
    at the fixture's pair distribution (all true pairs >= 0.889) the
    banding miss probability is (1 - 0.889^3)^16 ~ 3.6e-9 per pair,
    so LSH output == exact output deterministically; precision is
    exact by construction (candidates are verified).

    Banding sizing is a SCALE decision the r13 sf10 probe forced: the
    previous 32x(16x2) banding has an S-curve midpoint at
    (1/16)^(1/2) = 0.25 — far below the 0.8 threshold — so its
    spurious-candidate term (~bands * J_background^2 * N^2) dominated
    two decades up: measured DISTINCT candidates 425k (sf1) ->
    17.6M (sf10), 41x per decade, wall 52.7 -> 1086 s (20.6x). r=3
    moves the midpoint to (1/16)^(1/3) = 0.40 and cuts the spurious
    coefficient by J_background: 249k -> 1.73M candidates (6.9x,
    ~true-pair-growth-bound), at 1.5x signature cost and with the
    miss probability still certifiable-negligible."""
    t = load_tables(spark, sf_dir)
    return dd.minhash_lsh_pairs(
        t["documents"], threshold=0.8, num_hashes=48, bands=16, n=3
    )


#: 60-bit SimHash (operators/dedup.py SIMHASH_BITS — the r13 scale
#: sizing): token hash = first 15 md5 hex chars, 60 sign sums
_SIMHASH_FP = f"""
      SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        list_transform(range(0, 60), i ->
          CASE WHEN list_reduce(list_prepend(0,
            list_transform(hs, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)),
            (a, b) -> a + b) > 0
          THEN (1::BIGINT << i) ELSE 0::BIGINT END)),
        (a, b) -> a + b) AS fp
      FROM (SELECT doc_id,
              list_transform({TOKS},
                t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
            FROM documents)
"""


@_q(
    "dedup_simhash",
    f"""
    WITH f AS ({_SIMHASH_FP})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
    FROM f a, f b
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs at Hamming <= 3. Spark side uses
    Manku-style 3-of-6 block combination keys for candidate generation
    (the r13 scale fix: single 8-bit chunks of the old 32-bit print
    collapsed into 256 buckets on a shared-vocabulary corpus — 2.7e8
    candidates for 9.6e4 true pairs at sf1; 30-bit combination keys
    keep buckets small). The oracle brute-forces all pairs over the
    SAME 60-bit fingerprint; combination keys guarantee identical
    results (<= 3 errors damage <= 3 of 6 blocks, so some 3-block
    combination survives intact)."""
    t = load_tables(spark, sf_dir)
    return dd.simhash_pairs(t["documents"], max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


# ===========================================================================
# Embedding similarity
# ===========================================================================

_EMB = "SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings"


@_q(
    "emb_cosine_topk",
    f"""
    WITH e AS ({_EMB}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    s AS (
      SELECT query_id, b.vec_id AS match_id,
             {DOT64.format(a='qv', b='b.v')}
             / (sqrt({DOT64.format(a='qv', b='qv')})
                * sqrt({DOT64.format(a='b.v', b='b.v')})) AS cos
      FROM q, e b WHERE b.vec_id != query_id)
    SELECT query_id, match_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, match_id) AS rn FROM s)
    WHERE rn <= 3
    """,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for query vectors vec_id < 5 — the
    exact ANN baseline; query side broadcast, corpus streamed."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    return sim.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=3)


@_q(
    "emb_range_search",
    f"""
    WITH e AS ({_EMB}),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8)
    SELECT query_id, b.vec_id AS match_id,
           {DOT64.format(a='qv', b='b.v')}
           / (sqrt({DOT64.format(a='qv', b='qv')})
              * sqrt({DOT64.format(a='b.v', b='b.v')})) AS cos
    FROM q, e b WHERE b.vec_id != query_id
      AND {DOT64.format(a='qv', b='b.v')}
          / (sqrt({DOT64.format(a='qv', b='qv')})
             * sqrt({DOT64.format(a='b.v', b='b.v')})) >= 0.35
    """,
)
def emb_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine RANGE search (radius query): every corpus vector
    with cosine >= 0.35 of each query — the unknowable-k retrieval
    primitive (operators/similarity.py cosine_range_search). Query
    side broadcast, corpus streamed, threshold fused into the scan's
    codegen — zero shuffle, vs top-k's per-query window. Identical
    fold order into the cosine on both engines (emb_neardup_cosine's
    certified determinism contract)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    return sim.cosine_range_search(
        e.filter(F.col("vec_id") < 8), e, tau=0.35
    )


@_q(
    "emb_neardup_cosine",
    f"""
    WITH e AS ({_EMB})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {DOT64.format(a='a.v', b='b.v')}
           / (sqrt({DOT64.format(a='a.v', b='a.v')})
              * sqrt({DOT64.format(a='b.v', b='b.v')})) AS cos
    FROM e a, e b
    WHERE a.vec_id < b.vec_id
      AND {DOT64.format(a='a.v', b='b.v')}
          / (sqrt({DOT64.format(a='a.v', b='a.v')})
             * sqrt({DOT64.format(a='b.v', b='b.v')})) >= 0.4
    """,
)
def emb_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs at cosine >= 0.4 — exact
    all-pairs semantics via the distributed block nested-loop (block
    pairs cogrouped, numpy-scored, no driver collect); per-task memory
    is O(N/n_blocks), so the same plan scales by raising n_blocks."""
    t = load_tables(spark, sf_dir)
    return sim.cosine_neardup_pairs(t["embeddings"], threshold=0.4)


@_q(
    "emb_mmr_rerank",
    """
    SELECT a.vec_id AS query_id, CAST(r.r AS INT) AS sel_rank,
           true AS step_optimal
    FROM embeddings a, (SELECT unnest(range(1, 6)) AS r) r
    WHERE a.vec_id < 5
    """,
)
def emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED MMR certificate (operators/similarity.py mmr_rerank
    — Carbonell & Goldstein SIGIR'98 diversified retrieval: greedy
    argmax of lam*rel - (1-lam)*max-sim-to-selected over a top-pool
    candidate set). The selected ids depend on the greedy chain, so —
    dedup_semantic's pattern — the oracle pins the algorithm's
    per-step INVARIANT, recomputed from the output by an independent
    JVM-side join: at every selection step t, the chosen candidate's
    MMR score is >= every still-available candidate's score (eps
    1e-9 absorbs numpy-vs-fold summation ulps; exact greedy behavior
    on crafted fixtures is pinned in tests/test_ann.py). A wrong lam
    sign, a stale max-sim update, or a broken availability mask flips
    a boolean and fails the hash."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    lam, k, pool = 0.7, 5, 20
    sel = sim.mmr_rerank(q, e, k=k, lam=lam, pool=pool).localCheckpoint(
        eager=False
    )
    # candidate pool with unit vectors (same pool the greedy saw)
    cand = sim.cosine_topk(q, e, k=pool)
    ev = e.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    ).withColumn("_nrm", sim.norm(F.col("_v")))
    cands = no_broadcast(
        cand.join(ev, "match_id")
        .select(
            "query_id",
            F.col("match_id").alias("uid"),
            F.col("cos").alias("rel_u"),
            sim.unit_vec("_v", "_nrm").alias("uv"),
        )
        .localCheckpoint(eager=False)
    )
    selv = sel.join(
        ev.withColumnsRenamed({"match_id": "sid"}),
        sel.match_id == F.col("sid"),
    ).select(
        F.col("query_id").alias("q2"),
        "sid",
        F.col("sel_rank").alias("s_rank"),
        sim.unit_vec("_v", "_nrm").alias("sv"),
    )
    # candidate-vs-selected sims, one row per (query, u, prior step s)
    ps = cands.join(selv, cands.query_id == F.col("q2")).select(
        "query_id", "uid", "rel_u", "s_rank",
        sim.fold_dot(F.col("uv"), F.col("sv")).alias("cos_us"),
    )
    steps = sel.select(
        F.col("query_id").alias("q3"), F.col("sel_rank").alias("t"),
        F.col("match_id").alias("chosen"),
    )
    # max prior-selected sim per (query, u, step t): s_rank < t
    scored = (
        steps.join(cands, steps.q3 == cands.query_id)
        .join(
            ps.withColumnsRenamed(
                {"query_id": "q4", "uid": "u4", "rel_u": "r4"}
            ),
            (F.col("q4") == F.col("q3"))
            & (F.col("u4") == F.col("uid"))
            & (F.col("s_rank") < F.col("t")),
            "left",
        )
        .groupBy("q3", "t", "chosen", "uid", "rel_u")
        .agg(F.max(F.coalesce(F.col("cos_us"), F.lit(0.0))).alias("mx"))
        .withColumn(
            "score",
            F.lit(lam) * F.col("rel_u") - F.lit(1.0 - lam) * F.col("mx"),
        )
    )
    # availability mask: u not selected before step t
    taken = sel.select(
        F.col("query_id").alias("q5"), F.col("match_id").alias("u5"),
        F.col("sel_rank").alias("taken_rank"),
    )
    avail = scored.join(
        taken,
        (F.col("q5") == F.col("q3"))
        & (F.col("u5") == F.col("uid"))
        & (F.col("taken_rank") < F.col("t")),
        "left_anti",
    )
    win = avail.filter(F.col("uid") == F.col("chosen")).select(
        F.col("q3").alias("q6"), F.col("t").alias("t6"),
        F.col("score").alias("win_score"),
    )
    return (
        avail.join(
            win,
            (F.col("q6") == F.col("q3")) & (F.col("t6") == F.col("t")),
        )
        .groupBy(F.col("q3").alias("query_id"), F.col("t").alias("sel_rank"))
        .agg(
            (F.min(F.col("win_score") - F.col("score")) >= F.lit(-1e-9))
            .alias("step_optimal")
        )
    )


@_q(
    "emb_knn_graph",
    f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    p AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {DOT64.format(a='a.v', b='b.v')}
             / (sqrt({DOT64.format(a='a.v', b='a.v')})
                * sqrt({DOT64.format(a='b.v', b='b.v')})) AS cos
      FROM e a JOIN e b
        ON a.label = b.label AND a.vec_id <> b.vec_id)
    SELECT src, dst, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY src
                                   ORDER BY cos DESC, dst) AS rn
      FROM p)
    WHERE rn <= 5
    """,
)
def emb_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact within-group k-NN GRAPH (operators/similarity.py::
    knn_graph): every vector's 5 nearest cosine neighbors among
    vectors sharing its label — the edge list graph-based dedup and
    clustering consume (SemDeDup components, SNN graphs). Pair
    generation is an EQUI-join on the group key — never corpus
    all-pairs — so cost is sum(|group|^2): right for bounded groups;
    unbounded corpora bucket first (IVF cells / LSH bands) and pass
    the bucket as the group, same operator. Unlike the ann_* entries
    (whose trained quantizers are not SQL-reproducible), the label
    grouping IS oracle-expressible, so the whole graph — fold dots,
    norm hoisting, per-src top-k with dst tiebreak — sits under the
    exact hash gate. Norms hoist before the join (one fold per pair);
    ties deterministic via (cos DESC, dst ASC)."""
    t = load_tables(spark, sf_dir)
    return sim.knn_graph(t["embeddings"], k=5, group_col="label")


@_q(
    "dedup_semantic",
    """
    SELECT vec_id, true AS drop_covered, true AS kept_independent
    FROM embeddings
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED SemDeDup certificate (operators/dedup.py
    semantic_dedup — k-means clusters, within-cluster tau-cosine
    duplicates, keep the least-prototypical example). The kept/dropped
    assignment itself depends on the trained quantizer, so the oracle
    pins the algorithm's two INVARIANTS, recomputed from the output by
    an independent pair join: every dropped row has a tau-neighbor in
    its cluster (we never discard a row with no near-duplicate), and
    no two kept rows in a cluster are tau-neighbors (the kept set is
    independent — the dedup actually deduplicated). A wrong threshold
    sign, a broken domination tie-break, or a cluster-join bug flips a
    boolean and fails the hash; exact kept-set behavior on handcrafted
    fixtures is pinned by tests/test_text_dedup_ops.py."""
    t = load_tables(spark, sf_dir)
    tau = 0.4
    # ride the session's ingest-amortized IVF coarse quantizer — one
    # cluster model serves retrieval AND dedup (semantic_dedup trains
    # its own only when no index exists)
    cents = _ann_index(spark, sf_dir)["centroids"]
    sd = dd.semantic_dedup(t["embeddings"], tau=tau, centroids=cents)
    # no_broadcast: both pair sides are corpus-scaled vector frames
    # whose static estimate is the (compressed) embeddings scan size —
    # never let that ride into a broadcast build (sf10 lesson)
    sd = no_broadcast(checkpoint_corpus(sd))
    left = sd.select(
        "cluster", F.col("vec_id").alias("a_id"), F.col("v").alias("a_v"),
        F.col("kept").alias("a_kept"),
    )
    right = sd.select(
        "cluster", F.col("vec_id").alias("b_id"), F.col("v").alias("b_v"),
        F.col("kept").alias("b_kept"),
    )
    # Each unordered tau-edge is scored ONCE (a_id < b_id; cosine is
    # exactly symmetric — fold_dot adds a_i*b_i in index order, IEEE
    # multiplication commutes), then MIRRORED into its two per-endpoint
    # contributions with a 2-row inline explode. Halves the pair-join
    # fanout and the Arrow fold evaluations vs the old both-directions
    # join (optimization guide §2.3) for an identical per-id aggregate.
    edges = (
        left.join(right, "cluster")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", sim.fold_dot(F.col("a_v"), F.col("b_v")))
        .filter(F.col("cos") >= F.lit(tau))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("a_id").alias("id"),
                        F.col("b_kept").alias("nb_kept"),
                    ),
                    F.struct(
                        F.col("b_id").alias("id"),
                        F.col("a_kept").alias("nb_kept"),
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.id").alias("a_id"), F.col("e.nb_kept").alias("b_kept"))
        .groupBy("a_id")
        .agg(F.max("b_kept").alias("has_kept_edge"))
        .withColumn("has_edge", F.lit(True))
    )
    out = sd.join(edges, sd.vec_id == edges.a_id, "left")
    return out.select(
        "vec_id",
        (F.col("kept") | F.coalesce(F.col("has_edge"), F.lit(False))).alias(
            "drop_covered"
        ),
        (
            ~F.col("kept")
            | ~F.coalesce(F.col("has_kept_edge"), F.lit(False))
        ).alias("kept_independent"),
    )


@_q(
    "emb_centroid",
    """
    WITH x AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings)
    SELECT label, CAST(pos AS BIGINT) AS pos,
           list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS centroid,
           count(*) AS n
    FROM x GROUP BY label, pos
    """,
)
def emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in long (label, pos, centroid, n)
    form — the mean-vector primitive behind IVF coarse-quantizer
    training and cluster prototypes. One posexplode + one hash
    aggregate; per-dimension sums are explicit vec_id-ordered left
    folds, bit-identical across engines (suite fold rules)."""
    t = load_tables(spark, sf_dir)
    return sim.centroid_per_group(t["embeddings"], group_col="label")


@_q(
    "emb_centroid_bucketed",
    """
    WITH x AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings),
    b AS (
      SELECT label, pos, v, vec_id,
             (row_number() OVER (PARTITION BY label, pos
                                 ORDER BY vec_id) - 1) // 16 AS bk
      FROM x),
    part AS (
      SELECT label, pos, bk,
             list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)),
                         (acc, y) -> acc + y) AS p,
             count(*) AS n
      FROM b GROUP BY label, pos, bk)
    SELECT label, CAST(pos AS BIGINT) AS pos,
           list_reduce(list_prepend(0.0, list(p ORDER BY bk)),
                       (acc, y) -> acc + y) / CAST(sum(n) AS BIGINT)
             AS centroid,
           CAST(sum(n) AS BIGINT) AS n
    FROM part GROUP BY label, pos
    """,
)
def emb_centroid_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via the BOUNDED-MEMORY two-level fold
    (bucket_rows=16): rows bucket per (label, dim) in vec_id order,
    each bucket folds its own <=16-value ordered list, and a second
    ordered fold sums the bucket partials — peak per-aggregate state
    O(max(16, n/16)) vs O(n) for emb_centroid's flat fold; the plan
    that survives a 100x per-label scale-up. The oracle performs the
    IDENTICAL bucketed summation (same boundaries, same order), so the
    comparison stays bit-exact with no rounding tolerance."""
    t = load_tables(spark, sf_dir)
    return sim.centroid_per_group(
        t["embeddings"], group_col="label", bucket_rows=16
    )


@_q(
    "emb_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xa,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings),
    q AS (
      SELECT vec_id, scale, xa,
             CASE WHEN scale = 0.0
                  THEN list_transform(xa, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(xa, x ->
                         greatest(CAST(-127 AS BIGINT),
                                  least(CAST(127 AS BIGINT),
                                        CAST(floor(x * (127.0 / scale) + 0.5)
                                             AS BIGINT))))
             END AS qv
      FROM s)
    SELECT vec_id, scale,
           list_min(qv) AS q_min, list_max(qv) AS q_max,
           list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                       (a, b) -> a + b) AS q_sum,
           CASE WHEN scale = 0.0 THEN 0.0 ELSE
             list_reduce(list_prepend(0.0, list_transform(xa, x ->
               abs(x - CAST(greatest(CAST(-127 AS BIGINT),
                              least(CAST(127 AS BIGINT),
                                    CAST(floor(x * (127.0 / scale) + 0.5)
                                         AS BIGINT))) AS DOUBLE)
                        * (scale / 127.0)))),
               (a, b) -> a + b)
           END AS err_l1
    FROM q
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding store (4x
    compression: float32 -> int8 + one scale/vector) with exact audit
    stats — q range/sum and the L1 dequantization error, all
    index-ordered folds and floor(x+0.5) rounding so the oracle is
    bit-exact. Pure codegen HOF projection: narrow map, zero shuffle
    (operators/similarity.py::quantize_int8)."""
    t = load_tables(spark, sf_dir)
    return sim.quantize_int8(t["embeddings"]).drop("q")


#: ANN models trained + index layouts written this session:
#: {(app_id, sf_dir): {"path", "centroids", "codebooks"}}
_ANN_MODELS: dict = {}


def _ann_index(spark: SparkSession, sf_dir: str) -> dict:
    """Train-once, materialize-once ANN indexes per (application, SF):
    the IVF coarse quantizer (Lloyd k-means) + its inverted file, and
    the PQ codebooks + the corpus code table, written to a per-app
    layout dir like the bucketed/z-order/dedup-index layouts. Training
    and corpus encoding are INGEST-time work — a production vector
    store pays them once per corpus build, every query after probes
    the persisted index. Keeping them inside the timed entries is what
    made the driver-bench ANN numbers noisy in r2/r4 (iterative small
    training jobs are maximally sensitive to suite JVM pressure); the
    bench now amortizes them in WARMUP and BASELINE.md records the
    isolated train-vs-probe decomposition."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.suite import gc_stale_layouts, touch_layout

    import os as _os

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _ANN_MODELS:
        p = _ANN_MODELS[key]["path"]
        if _os.path.isdir(_os.path.join(p, "ivf")) and _os.path.isdir(
            _os.path.join(p, "pq")
        ):
            touch_layout(p)
            return _ANN_MODELS[key]
        del _ANN_MODELS[key]  # lost to a racing GC: rebuild below
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(wh, f"suite_annidx_{tag}_{key[0]}")
    gc_stale_layouts(wh, "suite_annidx_")
    # ADAPTIVE centroid count (round-11 sf10-probe catch): a FIXED k
    # makes every within-cluster pair stage quadratic in corpus size
    # (sum of cluster sizes squared ~ N^2/k) — invisible at one decade
    # (machinery floor dominates sf0.1->sf1) and a wall at two
    # (dedup_semantic at 100x sat in 16 monster-cluster tasks).
    # Targeting a BOUNDED cluster size (~512) makes pair work
    # N x 512 = linear while clusters fan out in parallel — the rule
    # semantic_dedup's docstring prescribes, now actually applied at
    # the one place the quantizer trains. Gate SFs are unchanged
    # (N <= 2000 -> k = 16 exactly as before, results bit-identical);
    # training stays one vectorized matmul pass per iter with an
    # O(k x dim) collect.
    n_vecs = e.count()
    k_coarse = max(16, n_vecs // 512)
    cents = sim.ivf_train_kmeans(e, n_centroids=k_coarse, n_iter=3)
    sim.ivf_build_index(e, cents).write.mode("overwrite").parquet(
        os.path.join(base, "ivf")
    )
    cb = sim.pq_train(e, m=8, k=16, n_iter=3)
    sim.pq_encode_codes(e, cb).select("vec_id", "codes").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "pq"))
    _ANN_MODELS[key] = {"path": base, "centroids": cents, "codebooks": cb}
    return _ANN_MODELS[key]


@_q("ann_ivf_topk", None)  # IVF recall < 1 by design -> rows-only check
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus bucketed by
    nearest coarse centroid (Lloyd-trained quantizer), queries probe
    their 4 nearest of 16 lists — candidate generation is an equi-join
    on list id, the second ANN scale path next to sign-LSH. The
    quantizer training and the corpus assignment are ingest work: the
    inverted file is MATERIALIZED once per session+SF (_ann_index) and
    the query reads it back, never re-assigning the corpus — the
    production probe path. Deterministic training (no RNG);
    approximate by design, hence no SQL oracle — ann_recall_certified
    carries the hash-gated recall/exactness signal."""
    import os

    m = _ann_index(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    idx = spark.read.parquet(os.path.join(m["path"], "ivf"))
    return sim.ivf_ann_topk(
        e.filter(F.col("vec_id") < 5), e, k=3, n_probe=4,
        centroids=m["centroids"], index=idx,
    )


@_q("ann_pq_topk", None)  # PQ recall < 1 by design -> rows-only check
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py::pq_ann_topk):
    the third ANN scale path next to sign-LSH and IVF — the corpus
    stores as m single-byte codes per vector (32x compression), query
    distances are m table lookups (asymmetric distance), and the top
    candidates re-rank exactly (only candidates read float vectors).
    Codebook training and corpus encoding are ingest work: the code
    table is MATERIALIZED once per session+SF (_ann_index) and probes
    read it back. Deterministic seedless training; approximate by
    design, hence no SQL oracle — ann_recall_certified carries the
    hash-gated recall/exactness signal."""
    import os

    m = _ann_index(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    codes = spark.read.parquet(os.path.join(m["path"], "pq"))
    return sim.pq_ann_topk(
        e.filter(F.col("vec_id") < 5), e, m["codebooks"], topk=3, rerank=4,
        corpus_codes=codes,
    )


@_q(
    "ann_recall_certified",
    """
    WITH m(method) AS (VALUES ('ivf'), ('lsh'), ('pq'))
    SELECT method, true AS hits_floor_met, true AS scores_exact FROM m
    """,
)
def ann_recall_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED ANN quality certificate — the bounded-property
    pattern the approx sketches use (agg_approx_*), applied to
    retrieval: all three ANN paths (sign-LSH, trained IVF, PQ with
    exact re-rank) AND the in-query brute-force baseline run on the
    same fixture, and the entry emits per-method booleans the oracle
    pins to TRUE:

    - hits_floor_met: the method's top-3 results over 5 queries hit
      the TRUE top-3 at least 3 times out of 15 (the >=20% statistical
      floor tests/test_ann.py has pinned since r2 — now under the
      driver's hash gate instead of pytest-only).
    - scores_exact: every returned candidate's score is the EXACT one
      — LSH/IVF cosines must bit-match the brute-force cosine for the
      same pair (identical fold_dot arithmetic, so approximation may
      only LOSE candidates, never mis-score them); PQ re-ranked
      distances must match an independently computed exact L2^2 within
      1e-8 (numpy pairwise vs Catalyst sequential fold differ in the
      last ulp, so this one is a tolerance, not bit equality).

    An engine change that silently degrades recall below the floor or
    returns approximate scores now flips a certified hash."""
    import os

    from pyspark.sql import Window

    midx = _ann_index(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    k, floor = 3, 3
    exact_all = no_broadcast(
        checkpoint_corpus(sim.cosine_topk(q, e, k=10**9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("match_id").asc()
    )
    truek = (
        exact_all.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id")
    )

    # Each probe result is consumed TWICE in the one assembled plan
    # (hits_floor join + scores_exact join); without the checkpoint the
    # whole probe pipeline — bucket/assign/ADC scoring over the corpus
    # — re-executes per consumer (r14 python_eval_sweep: 7 duplicated
    # python-eval signatures in this entry). The results are k x
    # |queries| rows, so the checkpoint is ~free (guide §5: cache only
    # what is reused AND expensive to recompute).
    lsh = sim.lsh_ann_topk(
        q, e, k=k, dim=64, num_planes=6, num_tables=8
    ).localCheckpoint(eager=False)
    ivf = sim.ivf_ann_topk(
        q, e, k=k, n_probe=4, centroids=midx["centroids"],
        index=spark.read.parquet(os.path.join(midx["path"], "ivf")),
    ).localCheckpoint(eager=False)
    pq = sim.pq_ann_topk(
        q, e, midx["codebooks"], topk=k, rerank=4,
        corpus_codes=spark.read.parquet(os.path.join(midx["path"], "pq")),
    ).localCheckpoint(eager=False)

    def cos_bad(approx: DataFrame) -> DataFrame:
        """1-row count of score mismatches vs brute force (a candidate
        pair missing from the all-pairs baseline also counts)."""
        j = approx.join(
            exact_all.withColumnRenamed("cos", "cos_x"),
            ["query_id", "match_id"],
            "left",
        )
        return j.agg(
            F.sum(
                F.when(
                    F.col("cos_x").isNull()
                    | (F.col("cos") != F.col("cos_x")),
                    1,
                ).otherwise(0)
            ).alias("bad")
        )

    # cast to f64 BEFORE subtracting, like the re-ranker's numpy path
    # (f32 subtraction first would diverge far beyond the fold ulp)
    qv = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("_qv"),
    )
    cv = e.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").cast("array<double>").alias("_cv"),
    )
    l2 = F.aggregate(
        F.zip_with("_qv", "_cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pq_bad = (
        pq.join(F.broadcast(qv), "query_id")
        .join(cv, "match_id")
        .agg(
            F.sum(
                F.when(F.abs(F.col("dist") - l2) > 1e-8, 1).otherwise(0)
            ).alias("bad")
        )
    )

    def row(method: str, approx: DataFrame, bad: DataFrame) -> DataFrame:
        hits = approx.join(
            truek, ["query_id", "match_id"], "left_semi"
        ).agg(F.count("*").alias("h"))
        return hits.crossJoin(F.broadcast(bad)).select(
            F.lit(method).alias("method"),
            (F.col("h") >= floor).alias("hits_floor_met"),
            (F.col("bad") == 0).alias("scores_exact"),
        )

    return (
        row("ivf", ivf, cos_bad(ivf))
        .unionByName(row("lsh", lsh, cos_bad(lsh)))
        .unionByName(row("pq", pq, pq_bad))
    )


@_q(
    "ann_range_certified",
    """
    SELECT true AS nonempty, true AS subset_exact,
           true AS recall_floor_met, true AS full_probe_complete
    """,
)
def ann_range_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED certificate for IVF RANGE search (similarity.py
    ivf_range_search — the scale path for cosine_range_search): one
    boolean row the oracle pins all-TRUE.

    - nonempty: the exact range result at tau=0.35 has matches (the
      other booleans cannot pass vacuously).
    - subset_exact: every IVF-range row exists in the exact range
      result with a BIT-EQUAL cosine — probing fewer lists may only
      LOSE matches, never mis-score or invent one (identical fold_dot
      arithmetic, the ann_recall_certified contract applied to range
      retrieval).
    - recall_floor_met: at n_probe=4 of 16 lists the IVF result keeps
      >= 40% of the exact matches across the probe queries (floor
      verified at sf0.001/0.01/0.1; range matches concentrate in the
      query's own cell neighborhood, so probed recall sits far above
      the 25% list fraction).
    - full_probe_complete: at n_probe = n_centroids the IVF range
      result is EXACTLY the exact result (count equality both ways on
      top of subset_exact's score check) — the recall dial provably
      ends at 1.
    """
    import os

    midx = _ann_index(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    tau = 0.35
    idx = spark.read.parquet(os.path.join(midx["path"], "ivf"))
    exact = sim.cosine_range_search(q, e, tau=tau).localCheckpoint(
        eager=False
    )
    approx = sim.ivf_range_search(
        q, e, tau=tau, n_probe=4, centroids=midx["centroids"], index=idx
    )
    full = sim.ivf_range_search(
        q, e, tau=tau, n_probe=len(midx["centroids"]),
        centroids=midx["centroids"], index=idx,
    )
    bad = approx.join(
        exact.withColumnRenamed("cos", "cos_x"),
        ["query_id", "match_id"],
        "left",
    ).agg(
        F.sum(
            F.when(
                F.col("cos_x").isNull() | (F.col("cos") != F.col("cos_x")),
                1,
            ).otherwise(0)
        ).alias("bad"),
        F.count("*").alias("n_approx"),
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    full_sym = full.join(
        exact.withColumnRenamed("cos", "cos_x"),
        ["query_id", "match_id"],
        "full",
    ).agg(
        F.sum(
            F.when(
                F.col("cos").isNull()
                | F.col("cos_x").isNull()
                | (F.col("cos") != F.col("cos_x")),
                1,
            ).otherwise(0)
        ).alias("full_bad")
    )
    return (
        bad.crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(full_sym))
        .select(
            (F.col("n_exact") > 0).alias("nonempty"),
            (F.col("bad") == 0).alias("subset_exact"),
            (
                F.col("n_approx").cast("double")
                >= 0.4 * F.col("n_exact").cast("double")
            ).alias("recall_floor_met"),
            (F.col("full_bad") == 0).alias("full_probe_complete"),
        )
    )


#: append-maintenance ANN layouts this session:
#: {(app_id, sf_dir): {"path", "centroids", "codebooks", "cutoff"}}
_ANN_APPEND: dict = {}


def _ann_append_layout(spark: SparkSession, sf_dir: str) -> dict:
    """The INCREMENTAL-maintenance layout: quantizer + codebooks
    trained on the FIRST ~80% of the corpus (by vec_id), inverted file
    + PQ code table written for that train slice, then the remaining
    ~20% APPENDED through assignment-only maintenance
    (similarity.py::ivf_append_index / pq_encode_codes against the
    persisted models — ``mode("append")`` parquet writes, the
    production append-heavy vector-store shape; O(new) work, no
    retrain, no corpus rescan). Same GC/heartbeat/rebuild-on-missing
    contract as the other per-app layouts."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.suite import gc_stale_layouts, touch_layout

    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _ANN_APPEND:
        p = _ANN_APPEND[key]["path"]
        if os.path.isdir(os.path.join(p, "ivf")) and os.path.isdir(
            os.path.join(p, "pq")
        ):
            touch_layout(p)
            return _ANN_APPEND[key]
        del _ANN_APPEND[key]  # lost to a racing GC: rebuild below
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(wh, f"suite_annapp_{tag}_{key[0]}")
    gc_stale_layouts(wh, "suite_annapp_")
    # deterministic 80/20 split on the id space (ingest-time scalar)
    max_id = e.agg(F.max("vec_id")).collect()[0][0]
    cutoff = int(max_id * 0.8)
    train = e.filter(F.col("vec_id") < cutoff)
    new = e.filter(F.col("vec_id") >= cutoff)
    cents = sim.ivf_train_kmeans(train, n_centroids=16, n_iter=3)
    sim.ivf_build_index(train, cents).write.mode("overwrite").parquet(
        os.path.join(base, "ivf")
    )
    cb = sim.pq_train(train, m=8, k=16, n_iter=3)
    sim.pq_encode_codes(train, cb).select("vec_id", "codes").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "pq"))
    # --- the append path under test: assignment-only maintenance ---
    sim.ivf_append_index(new, cents).write.mode("append").parquet(
        os.path.join(base, "ivf")
    )
    sim.pq_encode_codes(new, cb).select("vec_id", "codes").write.mode(
        "append"
    ).parquet(os.path.join(base, "pq"))
    _ANN_APPEND[key] = {
        "path": base, "centroids": cents, "codebooks": cb, "cutoff": cutoff,
    }
    return _ANN_APPEND[key]


@_q(
    "ann_append_certified",
    """
    WITH c(invariant) AS (VALUES
      ('appended_present'), ('drift_bounded'),
      ('ivf_append_equals_rebuild'), ('pq_append_equals_rebuild'),
      ('recall_floor_met'))
    SELECT invariant, true AS passed FROM c
    """,
)
def ann_append_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED incremental-ANN-maintenance certificate (the
    ann_recall_certified pattern applied to index APPEND): the 80%
    train / 20% append layout (_ann_append_layout) must satisfy, all
    computed as lazy aggregates — no driver materialization:

    - ivf_append_equals_rebuild / pq_append_equals_rebuild: the stored
      index after append-only maintenance equals a from-scratch
      rebuild over the full corpus with the SAME persisted models,
      row for row (both exceptAll directions empty) — assignment and
      encoding are deterministic, so incremental == batch.
    - appended_present: every appended vec_id is in the read-back
      inverted file exactly once.
    - recall_floor_met: probing 5 APPENDED vectors against the
      appended index hits the true top-3 >= 3/15 (the certified ANN
      floor) — new ids are retrievable, not just stored.
    - drift_bounded: mean centroid distance of appended vectors is
      <= 2x the train-set mean (ivf_centroid_drift, 1e-6-grid DECIMAL
      means) — the retrain-trigger statistic reads healthy on an
      in-distribution append."""
    import os

    from pyspark.sql import Window

    lay = _ann_append_layout(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    cutoff = lay["cutoff"]
    idx = spark.read.parquet(os.path.join(lay["path"], "ivf"))
    codes = spark.read.parquet(os.path.join(lay["path"], "pq"))

    cols = ["match_id", "cv", "cv_nrm", "list_id"]
    # both exceptAll directions consume the rebuild sides — without a
    # checkpoint the full-corpus assignment/encoding pipelines execute
    # TWICE in the one assembled plan (r14 python_eval_sweep); the
    # stored sides are parquet reads and re-read cheaply. DISK_ONLY
    # corpus class: the rebuild is corpus-sized (one row per vector).
    rebuild = no_broadcast(checkpoint_corpus(
        sim.ivf_build_index(e, lay["centroids"]).select(*cols)
    ))
    stored = idx.select(*cols)
    ivf_bad = (
        stored.exceptAll(rebuild).select(F.lit(1).alias("x"))
        .unionAll(rebuild.exceptAll(stored).select(F.lit(1).alias("x")))
        .agg(F.count("*").alias("bad"))
    )
    pq_rebuild = no_broadcast(checkpoint_corpus(
        sim.pq_encode_codes(e, lay["codebooks"]).select("vec_id", "codes")
    ))
    pq_bad = (
        codes.exceptAll(pq_rebuild).select(F.lit(1).alias("x"))
        .unionAll(pq_rebuild.exceptAll(codes).select(F.lit(1).alias("x")))
        .agg(F.count("*").alias("bad"))
    )

    n_new = e.filter(F.col("vec_id") >= cutoff).agg(
        F.count("*").alias("n_new")
    )
    present = idx.filter(F.col("match_id") >= cutoff).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("match_id").alias("n_ids"),
    )

    q = e.filter(
        (F.col("vec_id") >= cutoff) & (F.col("vec_id") < cutoff + 5)
    )
    k, floor = 3, 3
    probe = sim.ivf_ann_topk(
        q, e, k=k, n_probe=4, centroids=lay["centroids"], index=idx
    )
    exact = sim.cosine_topk(q, e, k=10**9)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("match_id").asc()
    )
    truek = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "match_id")
    )
    hits = probe.join(truek, ["query_id", "match_id"], "left_semi").agg(
        F.count("*").alias("h")
    )

    def _mean_dist(df):
        d = sim.ivf_centroid_drift(df, lay["centroids"])
        return d.agg(
            (
                F.sum(F.col("dist").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    drift_train = _mean_dist(e.filter(F.col("vec_id") < cutoff)).toDF("m_tr")
    drift_new = _mean_dist(e.filter(F.col("vec_id") >= cutoff)).toDF("m_new")

    flags = (
        ivf_bad.toDF("ivf_bad")
        .crossJoin(F.broadcast(pq_bad.toDF("pq_bad")))
        .crossJoin(F.broadcast(n_new))
        .crossJoin(F.broadcast(present))
        .crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(drift_train))
        .crossJoin(F.broadcast(drift_new))
    )
    out = flags.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("appended_present"),
                    F.lit("drift_bounded"),
                    F.lit("ivf_append_equals_rebuild"),
                    F.lit("pq_append_equals_rebuild"),
                    F.lit("recall_floor_met"),
                ),
                F.array(
                    (F.col("n_rows") == F.col("n_new"))
                    & (F.col("n_ids") == F.col("n_new")),
                    F.col("m_new") <= F.lit(2.0) * F.col("m_tr"),
                    F.col("ivf_bad") == 0,
                    F.col("pq_bad") == 0,
                    F.col("h") >= floor,
                ),
            )
        ).alias("invariant", "passed")
    )
    return out


@_q("ann_lsh_topk", None)  # LSH recall < 1 by design -> rows-only check
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH approximate top-k (8 tables x 6 hyperplanes,
    md5-derived so fully deterministic): the 100 TB path where the
    cross product collapses to an equi-join on (table, bucket).
    Approximate by design (recall < 1), hence no SQL oracle — the unit
    test checks determinism and subset-of-bruteforce instead."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    return sim.lsh_ann_topk(
        e.filter(F.col("vec_id") < 5), e, k=3, dim=64, num_planes=6, num_tables=8
    )


# ===========================================================================
# Multimodal
# ===========================================================================


@_q(
    "multimodal_meta",
    """
    SELECT doc_id,
           octet_length(encode(text))::INT AS n_bytes,
           (octet_length(encode(text)) % 640)::INT AS width,
           ((octet_length(encode(text)) * 7) % 480)::INT AS height,
           'text/plain' AS media_type
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: attach payload, extract metadata
    via Arrow-batched mapInPandas (decode step is a deterministic
    stub; the batching/schema/pruning plumbing is real)."""
    t = load_tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t["documents"])
    return mm.extract_media_meta(with_payload)


@_q(
    "multimodal_frame_sample",
    """
    SELECT doc_id, unnest(range(0, greatest(n_chars % 100, 1), 7))::BIGINT AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: (video, n_frames) -> one row per
    sampled frame index (every 7th), pure sequence+explode — the
    distributed expansion that precedes any per-frame decode
    (frame_sample_plan operator; n_frames stands in via n_chars%100,
    floored at 1 so every doc yields frame 0)."""
    t = load_tables(spark, sf_dir)
    vids = t["documents"].select(
        "doc_id", F.greatest(F.col("n_chars") % 100, F.lit(1)).alias("n_frames")
    )
    return mm.frame_sample_plan(vids, every_n=7)


@_q(
    "doc_sample_det",
    f"""
    SELECT doc_id, n_chars FROM documents
    WHERE ({H32.format(x="CAST(doc_id AS VARCHAR)")}) % 10000 < 1000
    """,
)
def doc_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample by content-hash bucket (NOT
    df.sample(): per-partition RNG changes with partitioning/retries —
    useless for reproducible training sets). Monotone: the 20% sample
    contains this one. Pure codegen filter, pushed into the scan."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.deterministic_sample(
        t["documents"].select("doc_id", "n_chars"), "doc_id", 0.10
    )


@_q(
    "doc_mixture_sample",
    f"""
    SELECT doc_id, source FROM documents
    WHERE ({H32.format(x="CAST(doc_id AS VARCHAR)")}) % 10000
          < CAST(floor(CASE source WHEN 'src0' THEN 1.0
                                   WHEN 'src1' THEN 0.5
                                   WHEN 'src2' THEN 0.25
                                   ELSE 0.1 END * 10000) AS BIGINT)
    """,
)
def doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture_sample(): per-source domain reweighting (all of src0,
    half of src1, a quarter of src2, 10% of the rest) — deterministic
    hash-bucket cut per source, monotone in every rate. The rate map
    folds into a literal CASE: one codegen filter, zero shuffle."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.mixture_sample(
        t["documents"].select("doc_id", "source"),
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )


@_q(
    "doc_repeat_epochs",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 3.5 WHEN 'src1' THEN 2.0
                         ELSE 0.5 END AS wt
      FROM documents),
    e AS (
      SELECT doc_id, source, wt,
             CAST(unnest(generate_series(1, CAST(ceil(wt) AS INT))) AS INT)
               AS epoch
      FROM w)
    SELECT doc_id, source, epoch FROM e
    WHERE epoch <= CAST(floor(wt) AS INT)
       OR ({H32.format(x="concat(CAST(doc_id AS VARCHAR), ':', CAST(epoch AS VARCHAR))")})
          % 10000 < CAST(floor((wt - floor(wt)) * 10000) AS BIGINT)
    """,
)
def doc_repeat_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repeat_epochs(): deterministic multi-epoch UPSAMPLING — the
    complement of mixture_sample's down-sampling ("repeat src0 3.5x,
    src1 twice, half of the rest"). floor(w) full copies per doc plus
    a frac(w) hash-selected extra epoch, keyed on (doc_id, epoch):
    reproducible, monotone in every weight, no RNG. One
    explode(sequence) projection + one codegen filter, zero shuffle —
    output size is sum(w_s * n_s) by construction."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.repeat_epochs(
        t["documents"].select("doc_id", "source"),
        weights={"src0": 3.5, "src1": 2.0},
        default_weight=0.5,
    )


@_q(
    "doc_split_train_val",
    f"""
    SELECT doc_id,
           CASE WHEN ({H32.format(x="CAST(doc_id AS VARCHAR)")}) % 10000 < 1000
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def doc_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split keyed on doc id hash — duplicates
    land on the same side on any cluster/partitioning; the oracle
    reproduces the exact assignment."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.train_val_split(
        t["documents"].select("doc_id"), "doc_id", val_fraction=0.10
    )


@_q(
    "txt_token_count_bpe",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]+'))::BIGINT
             AS n_bpe_tokens
    FROM documents
    """,
)
def txt_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (letter/digit/punct runs — the
    pre-tokenizer pass of a BPE tokenizer), next to the whitespace
    counter txt_token_count. JVM regex, no Python."""
    t = load_tables(spark, sf_dir)
    return tx.token_count_bpe(t["documents"]).select(
        "doc_id", F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens")
    )


@_q(
    "multimodal_resize",
    """
    SELECT doc_id,
           md5(substr(repeat(text, CAST(ceil(2048.0 / greatest(n_chars, 1)) AS INT)),
                      1, 2048)) AS digest,
           64 AS width, 32 AS height
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize/transcode plumbing: binary payload -> fixed-size payload
    through the Arrow mapInPandas pipeline (resize_media; byte
    transform is the documented stub). Compared by payload digest —
    the documents fixture is pure ASCII, so the oracle reproduces the
    byte-level repeat+truncate on the string side."""
    t = load_tables(spark, sf_dir)
    with_payload = mm.attach_binary_payload(t["documents"])
    return mm.resize_media(with_payload, 64, 32).select(
        "doc_id", F.md5(F.col("payload")).alias("digest"), "width", "height"
    )


@_q(
    "multimodal_pixels",
    """
    SELECT doc_id, 12 AS width, 8 AS height,
           8 * (12 * (doc_id % 128)
                + list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(0, 12),
                      i -> least(CAST(floor((i + 0.5) * (8 + doc_id % 9) / 12.0)
                                      AS BIGINT),
                                 (8 + doc_id % 9) - 1))),
                    (acc, x) -> acc + x)) AS sum_px
    FROM documents
    """,
)
def multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL pixel path, no codec library: synthesize a
    gradient grayscale PNG per doc (real zlib-deflated, CRC-chunked
    container), resize it 12x8 through the stdlib decode -> nearest ->
    re-encode pipeline, decode AGAIN and emit the exact integer pixel
    sum. The oracle derives the same sum analytically (gradient +
    pixel-center nearest mapping), so a single wrong byte anywhere in
    inflate/unfilter/resize/deflate flips the hash. All stages are
    Arrow-batched mapInPandas: partition-local, zero shuffle."""
    t = load_tables(spark, sf_dir)
    payloads = mm.synth_media_payloads(t["documents"], kind="png")
    resized = mm.resize_media(payloads, 12, 8)
    return mm.pixel_stats(resized)


@_q(
    "multimodal_audio",
    """
    SELECT doc_id,
           (64 + doc_id % 129)::BIGINT AS n_samples,
           1::INT AS channels,
           (8000 + (doc_id % 3) * 4000)::INT AS sample_rate,
           ((64 + doc_id % 129) * 1000) // (8000 + (doc_id % 3) * 4000)
             AS duration_ms,
           ((doc_id * 7) % 1000) + (64 + doc_id % 129) - 1 AS peak_abs,
           (64 + doc_id % 129) * ((doc_id * 7) % 1000)
             + ((64 + doc_id % 129) * (64 + doc_id % 129 - 1)) // 2 AS sum_amp
    FROM documents
    """,
)
def multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL audio path: synthesize a mono PCM-16 WAV ramp
    per doc (real RIFF container), decode it back through the chunk
    walk + numpy frame parse, and emit all-integer clip features
    (sample count, rate, floor-division duration, peak, amplitude
    sum). The oracle reproduces every feature analytically from the
    ramp parameters. mapInPandas both ways — scan-speed at 100 TB."""
    t = load_tables(spark, sf_dir)
    payloads = mm.synth_media_payloads(t["documents"], kind="wav")
    return mm.audio_features(payloads)


@_q(
    "doc_cap_per_source",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ({H32.format(x="CAST(doc_id AS VARCHAR)")}) ASC,
                        doc_id ASC) AS rn
      FROM documents)
    SELECT doc_id, source, rn::BIGINT AS rk FROM r WHERE rn <= 100
    """,
)
def doc_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (<=100 docs/source) in deterministic
    hash order — the domain-balance curation step; the kept subset is
    an unbiased reproducible sample of each source, monotone in the
    cap (operators/sampling.py::cap_per_group). One window shuffle,
    streaming row_number frame."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.cap_per_group(t["documents"], ["source"], cap=100).select(
        "doc_id", "source", "rk"
    )


@_q("txt_bpe_train", None)  # iterative argmax loop: not SQL-expressible —
# determinism + equivalence to the classic sequential algorithm are
# pinned by tests/test_text_dedup_ops.py::test_bpe_train_matches_reference
def txt_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the
    corpus collapses to the distinct-word table once, then each merge
    round is one pair-explode hash aggregate with a single-row argmax
    collect (scalar-only driver traffic) and a declarative fold
    rewrite — vocabulary-bounded work per round regardless of corpus
    size. Deterministic merge order (count desc, pair asc)."""
    from boostdb_spark.operators import bpe

    t = load_tables(spark, sf_dir)
    merges = bpe.train_bpe(t["documents"], num_merges=12)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, pair_count long"
    )


#: 10%-sample-trained merge tables per (app, sf): deterministic, so
#: txt_bpe_tokenize and txt_bpe_roundtrip share one training pass
_BPE_SAMPLE_MERGES: dict = {}


def _bpe_sample_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 10% hash-sample of documents the session's
    BPE merge table trains on (shared by txt_bpe_tokenize /
    txt_bpe_roundtrip / txt_bpe_certified)."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.deterministic_sample(
        t["documents"].withColumn(
            "_k", F.col("doc_id").cast("string")
        ),
        "_k",
        0.1,
    )


def _bpe_sample_merges(spark: SparkSession, sf_dir: str):
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _BPE_SAMPLE_MERGES:
        from boostdb_spark.operators import bpe

        _BPE_SAMPLE_MERGES[key] = bpe.train_bpe(
            _bpe_sample_df(spark, sf_dir), num_merges=10
        )
    return _BPE_SAMPLE_MERGES[key]


@_q("txt_bpe_tokenize", None)  # depends on the trained merge list (the
# iterative argmax loop above) -> rows-only; apply-algorithm equivalence
# is pinned by tests/test_text_dedup_ops.py::test_bpe_apply_uses_merge_ranks
def txt_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full tokenizer loop in production shape: train BPE merges on
    a deterministic 10% hash-sample of the corpus (train-on-sample is
    the standard economy at 100 TB — the merge table is vocabulary
    statistics, not corpus-sized), broadcast the ranked merges, and
    tokenize EVERY document via Arrow-batched apply_bpe. Output is the
    deterministic per-doc token count."""
    from boostdb_spark.operators import bpe

    t = load_tables(spark, sf_dir)
    merges = _bpe_sample_merges(spark, sf_dir)
    return bpe.apply_bpe(t["documents"], merges).select("doc_id", "n_tokens")


@_q(
    "txt_bpe_roundtrip",
    """
    SELECT doc_id, true AS roundtrip_ok, true AS merges_full,
           true AS merges_wellformed
    FROM documents
    """,
)
def txt_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED tokenizer certificate: BPE merges only ever JOIN
    adjacent symbols inside a word, so detokenizing (concatenate
    tokens, end-of-word sentinel -> space) must reproduce the
    normalized text EXACTLY for every document —
    detokenize(tokenize(text)) == normalize(text), emitted as a
    per-doc boolean the oracle pins to TRUE. A wrong merge rewrite, a
    dropped symbol, or a pre-tokenization mismatch between train and
    apply flips a certified hash (previously this invariant lived only
    in pytest). Rides the same 10%-sample-trained merge table as
    txt_bpe_tokenize (deterministic, trained once per session+SF);
    merge-table health certifies alongside: exactly num_merges ranked
    rows, ranks sequential, both sides non-empty."""
    from boostdb_spark.operators import bpe

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    merges = _bpe_sample_merges(spark, sf_dir)
    toks = bpe.apply_bpe(docs, merges)
    detok = F.trim(
        F.regexp_replace(F.concat_ws("", F.col("tokens")), bpe.END, " ")
    )
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    wellformed = all(
        r == i and len(a) > 0 and len(b) > 0 and n >= 2
        for i, (r, a, b, n) in enumerate(merges)
    )
    return toks.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        (detok == norm).alias("roundtrip_ok"),
        F.lit(len(merges) == 10).alias("merges_full"),
        F.lit(bool(wellformed)).alias("merges_wellformed"),
    )


@_q(
    "txt_bpe_certified",
    """
    SELECT CAST(range AS BIGINT) AS rank, true AS seq_match,
           true AS fp_match, true AS wellformed
    FROM range(10)
    """,
)
def txt_bpe_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED trainer certificate (r13-verdict ask #3): the
    distributed BPE trainer (grouped pair-explode aggregates +
    declarative fold rewrites, operators/bpe.py::train_bpe) must equal
    the classic sequential merge loop (Sennrich 2016,
    bpe.py::train_bpe_sequential — an independent dict-fold code
    path) MERGE-FOR-MERGE on the same 10% sample: one row per rank
    with (a) that rank's (left, right, count) triple equal across
    trainers, (b) the canonical sha256 merge-table fingerprints equal,
    (c) the rank well-formed (sequential rank, non-empty sides,
    count >= min_pair_count). The oracle pins every flag TRUE for all
    10 ranks, so a divergent argmax, tie-break, or rewrite anywhere in
    the distributed loop flips a certified hash — previously this
    equivalence lived only in pytest
    (test_bpe_train_matches_reference). The sequential side folds the
    vocabulary-bounded distinct-word table (one bounded collect, the
    same class as the ANN certificate eval slices), never the corpus;
    detokenize-roundtrip over the FULL corpus is certified separately
    by txt_bpe_roundtrip. Scale contract: certificate cost is
    O(vocab x merges) driver-side + the suite's one cached
    distributed training."""
    from boostdb_spark.operators import bpe

    merges = _bpe_sample_merges(spark, sf_dir)
    sample = _bpe_sample_df(spark, sf_dir)
    word_counts = {
        r["word"]: r["n"]
        for r in bpe.words_with_counts(sample).collect()
    }
    seq = bpe.train_bpe_sequential(
        word_counts, num_merges=10, min_pair_count=2
    )
    fp_match = bpe.merge_table_fingerprint(
        merges
    ) == bpe.merge_table_fingerprint(seq)
    rows = []
    for i, (r, a, b, n) in enumerate(merges):
        seq_match = i < len(seq) and seq[i] == (r, a, b, n)
        wellformed = r == i and len(a) > 0 and len(b) > 0 and n >= 2
        rows.append((i, bool(seq_match), bool(fp_match), bool(wellformed)))
    return spark.createDataFrame(
        rows,
        "rank long, seq_match boolean, fp_match boolean, "
        "wellformed boolean",
    )


@_q(
    "multimodal_jpeg",
    """
    SELECT doc_id, 12 AS width, 8 AS height,
           96 * (2 * (doc_id % 128)) AS sum_px
    FROM documents
    """,
)
def multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END REAL JPEG path, no codec library: a solid-gray
    baseline JPEG per doc (real DCT + Annex-K quantizer + huffman
    entropy coding, operators/jpeg_codec.py), decoded back through the
    pure-numpy baseline decoder, nearest-resized, re-encoded as PNG and
    pixel-summed. Even gray levels survive the quantizer exactly, so
    the lossy codec still certifies against an exact analytic oracle
    (sum = 12*8 * 2*(doc_id%128)). Arrow-batched mapInPandas chain —
    partition-local, zero shuffle."""
    t = load_tables(spark, sf_dir)
    payloads = mm.synth_media_payloads(t["documents"], kind="jpeg")
    resized = mm.resize_media(payloads, 12, 8)
    return mm.pixel_stats(resized)


@_q(
    "multimodal_jpeg_color",
    """
    SELECT doc_id,
           (8 + doc_id % 9)::INT AS width,
           (6 + doc_id % 5)::INT AS height,
           3 * (6 + doc_id % 5) * (8 + doc_id % 9) * (2 * (doc_id % 128))
             AS sum_px
    FROM documents
    """,
)
def multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COLOR JPEG path end to end: neutral solid-RGB 4:2:0 YCbCr
    baseline JPEG per doc (chroma quantizes to exactly 0; even luma
    survives the Annex-K quantizer), decoded through the full color
    branch — MCU interleave, chroma upsampling, YCbCr->RGB — and
    pixel-summed. sum_px = 3 channels * h * w * gray, exact despite
    the lossy codec."""
    t = load_tables(spark, sf_dir)
    payloads = mm.synth_media_payloads(t["documents"], kind="jpeg_color")
    return mm.pixel_stats(payloads)


#: media dirs written this session: {(app_id, sf_dir)}
_MEDIA_WRITTEN: set = set()
#: dedup indexes materialized this session: {(app_id, sf_dir)}
_DEDUP_INDEX_WRITTEN: set = set()


@_q(
    "multimodal_binaryfile",
    """
    SELECT doc_id,
           (8 + doc_id % 9)::INT AS width,
           (6 + doc_id % 5)::INT AS height,
           (6 + doc_id % 5)
             * ((8 + doc_id % 9) * (doc_id % 128)
                + ((8 + doc_id % 9) * (8 + doc_id % 9 - 1)) // 2) AS sum_px
    FROM documents
    """,
)
def multimodal_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-file INGEST through Spark's binaryFile source: real PNG
    files written one-per-blob by the distributed media sink
    (sources/media.py), listed back with pathGlobFilter, ids recovered
    from file names, pixels decoded by the stdlib codec. The oracle
    derives each file's exact integer pixel sum analytically from the
    gradient parameters — a wrong byte in the file round trip or the
    decode flips the hash. File write is ingest-time work (once per
    session+SF, like the bucketed/z-ordered layouts)."""
    import os
    from urllib.parse import urlparse

    from boostdb_spark.sources.media import read_media_dir, write_media_files

    t = load_tables(spark, sf_dir)
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app_id = spark.sparkContext.applicationId
    # the dir is PER-APPLICATION: a shared path would re-list stale
    # *.png files left by a prior session against a different or
    # larger documents fixture and join them into certified output
    path = os.path.join(wh, f"suite_media_{tag}_{app_id}")
    key = (app_id, sf_dir)
    from boostdb_spark.suite import layout_ready

    if not layout_ready(_MEDIA_WRITTEN, key, path):
        from boostdb_spark.suite import gc_stale_layouts

        gc_stale_layouts(wh, "suite_media_")
        payloads = mm.synth_media_payloads(t["documents"], kind="png")
        write_media_files(payloads, path, ext="png")
        # validate ONCE at write time (partial-sink protection); the
        # per-application dir already rules out cross-session staleness,
        # so steady-state reads skip the two counting jobs
        n_docs = t["documents"].count()
        n_files = read_media_dir(spark, path, glob="*.png").count()
        if n_files != n_docs:
            raise RuntimeError(
                f"multimodal_binaryfile: media dir {path} holds {n_files} "
                f"files but documents has {n_docs} rows — partial sink "
                f"output; delete the dir and re-run"
            )
        _MEDIA_WRITTEN.add(key)
    from boostdb_spark.suite import touch_layout

    touch_layout(path)
    files = read_media_dir(spark, path, glob="*.png")
    return mm.pixel_stats(files)


@_q(
    "doc_chunk",
    """
    WITH offs AS (
      SELECT doc_id, text,
             unnest(range(0, greatest(n_chars, 1), 150)) AS chunk_off
      FROM documents)
    SELECT doc_id,
           CAST(chunk_off / 150 AS BIGINT) AS chunk_id,
           chunk_off,
           substr(text, CAST(chunk_off AS INT) + 1, 200) AS chunk
    FROM offs
    """,
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character chunking (size 200, stride 150) — the
    doc -> training-window expansion of an LLM pipeline. Pure
    sequence+posexplode+substring, whole-stage codegen, zero shuffle
    (chunk_documents operator)."""
    t = load_tables(spark, sf_dir)
    return (
        tx.chunk_documents(
            t["documents"], chunk_size=200, stride=150, len_col="n_chars"
        )
        .withColumn("chunk_id", F.col("chunk_id").cast("long"))
        .withColumn("chunk_off", F.col("chunk_off").cast("long"))
    )


# ===========================================================================
# End-to-end corpus curation (the composed flagship of this section)
# ===========================================================================


def _curate_oracle() -> str:
    return f"""
    WITH clean AS (SELECT doc_id, {_clean_expr()} AS text FROM documents),
    d AS (SELECT doc_id, text, {TOKS} AS toks FROM clean),
    feat AS (
      SELECT doc_id, len(toks)::BIGINT AS n_tokens,
             CASE WHEN len(text) > 0 THEN
               len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE / len(text)
             END AS alpha_ratio
      FROM d),
    shu AS (SELECT doc_id, unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    per AS (SELECT doc_id, sh, count(*) AS c FROM shu GROUP BY 1, 2),
    rep AS (SELECT doc_id, (sum(c) - count(*))::DOUBLE / sum(c) AS dup_ngram_frac
            FROM per GROUP BY 1),
    ds AS (SELECT DISTINCT doc_id AS id, sh FROM shu),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM ds a JOIN ds b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT id_b AS doc_id FROM common
      JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.8),
    kept AS (
      SELECT f.doc_id, n_tokens, dup_ngram_frac
      FROM feat f JOIN rep USING (doc_id)
      WHERE n_tokens >= 10 AND alpha_ratio >= 0.75 AND dup_ngram_frac <= 0.005)
    SELECT k.doc_id, k.n_tokens, k.dup_ngram_frac
    FROM kept k ANTI JOIN dups USING (doc_id)
    """


@_q("pipeline_curate", _curate_oracle())
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation pipeline, end to end in ONE plan:
    normalize/scrub -> quality + repetition features on the clean text
    -> threshold filter (length, alpha ratio, Gopher repetition) ->
    near-dup drop (any doc 3-gram-Jaccard >= 0.8 to an earlier doc is
    removed — the keep-first dedup policy of large corpus builds).
    The clean text is materialized once (localCheckpoint) and feeds
    the feature, repetition and pair subplans; the near-dup side is a
    left-anti join, so survivors stream through without shuffling the
    text itself."""
    t = load_tables(spark, sf_dir)
    clean = checkpoint_corpus(
        tx.normalize_text(t["documents"])
        .select("doc_id", F.col("clean").alias("text"))
    )
    q = tx.quality_features(clean).select("doc_id", "n_tokens", "alpha_ratio")
    rep = tx.repetition_features(clean).select("doc_id", "dup_ngram_frac")
    kept = (
        q.join(rep, "doc_id")
        .filter(
            (F.col("n_tokens") >= 10)
            & (F.col("alpha_ratio") >= 0.75)
            & (F.col("dup_ngram_frac") <= 0.005)
        )
    )
    dups = (
        # verified MinHash-LSH (see dedup_keep_best): same exact pairs,
        # linear candidate volume on the cleaned corpus
        dd.minhash_lsh_pairs(
            clean, threshold=0.8, num_hashes=48, bands=16, n=3
        )
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return kept.join(dups, "doc_id", "left_anti").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_ngram_frac",
    )


def _redact_oracle() -> str:
    expr = "text"
    for _name, pat, tag in tx.PII_PATTERNS:
        sql_pat = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{tag}', 'g')"
    return f"SELECT doc_id, {expr} AS redacted FROM documents"


@_q("txt_redact_pii", _redact_oracle())
def txt_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with typed placeholder tags (emails, IPv4s,
    intl-format phones, SSNs) — a regexp_replace chain in codegen; the
    oracle applies the identical Java/RE2-common-subset patterns with
    DuckDB's 'g' flag."""
    t = load_tables(spark, sf_dir)
    return tx.redact_pii(t["documents"]).select("doc_id", "redacted")


@_q(
    "txt_tfidf_topk",
    f"""
    WITH t AS (SELECT doc_id, unnest({TOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
    dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    s AS (SELECT doc_id, token, tf, df,
                 round(tf * (ln((n.n + 1)::DOUBLE / (df + 1)) + 1.0), 6) AS tfidf
          FROM tf JOIN dfq USING (token) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
          FROM s)
    SELECT doc_id, token, tf, df, tfidf FROM r WHERE rn <= 5
    """,
)
def txt_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 TF-IDF terms (smooth idf, sklearn
    convention) — keyword extraction / sparse-retrieval weighting.
    Both engines rank on the 6dp-rounded score so last-ulp ln()
    differences can't reorder the cut."""
    t = load_tables(spark, sf_dir)
    out = tx.tf_idf_topk(t["documents"], k=5)
    return out.select(
        "doc_id", "token",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        "tfidf",
    )


@_q(
    "doc_shuffle_det",
    f"""
    SELECT doc_id,
           row_number() OVER (
             ORDER BY {H32.format(x="CAST(doc_id AS VARCHAR)")}, doc_id
           ) - 1 AS rank
    FROM documents
    """,
)
def doc_shuffle_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shuffle_rank(): deterministic global shuffle order for training
    epochs — each document's 0-based position under ORDER BY
    (hash32(id), id). The oracle is a straight global row_number; the
    operator computes the SAME permutation with the two-phase
    bucket-offset scan, so no task ever ranks more than one hash
    bucket's rows."""
    from boostdb_spark.operators.sampling import shuffle_rank

    t = load_tables(spark, sf_dir)
    return shuffle_rank(t["documents"].select("doc_id"), key_col="doc_id")


@_q(
    "txt_unigram_logprob",
    f"""
    WITH t AS (SELECT doc_id, unnest({TOKS}) AS token FROM documents),
    v AS (SELECT token, count(*) AS tok_n FROM t GROUP BY token),
    tot AS (SELECT count(*) AS total FROM t)
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           round(avg(ln(tok_n / CAST(total AS DOUBLE))), 6) AS mean_logprob
    FROM t JOIN v USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the cheap perplexity proxy for quality filtering.
    Both engines average the identical per-token ln values; 6dp
    rounding absorbs last-ulp ln and summation-order noise."""
    t = load_tables(spark, sf_dir)
    return tx.unigram_logprob(t["documents"])


@_q(
    "txt_bigram_logprob",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
    p AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
      FROM d, unnest(range(1, len(t))) AS r(i)
      WHERE len(t) >= 2),
    bg AS (SELECT prev, cur, count(*) AS big_n FROM p GROUP BY prev, cur),
    un AS (SELECT prev, count(*) AS uni_n FROM p GROUP BY prev)
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           round(avg(ln(CAST(big_n AS DOUBLE) / CAST(uni_n AS DOUBLE))), 6)
             AS mean_logprob
    FROM p JOIN bg USING (prev, cur) JOIN un USING (prev)
    GROUP BY doc_id
    """,
)
def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own bigram LM — the order-sensitive perplexity proxy
    (shuffled boilerplate scores low even with common vocabulary).
    In-expression bigram explode, distinct-gram aggregates, two
    equi-joins; 6dp rounding absorbs ln ulp (same determinism rule as
    txt_unigram_logprob)."""
    t = load_tables(spark, sf_dir)
    return tx.bigram_logprob(t["documents"])


@_q(
    "txt_collocations_pmi",
    f"""
    WITH d AS (SELECT {TOKS} AS t FROM documents),
    p AS (SELECT t[i] AS prev, t[i + 1] AS cur
          FROM d, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
    u AS (SELECT unnest(t) AS tok FROM d),
    un AS (SELECT tok, count(*) AS uni_n FROM u GROUP BY tok),
    nu AS (SELECT count(*) AS n_uni FROM u),
    bg AS (SELECT prev, cur, count(*) AS pair_n FROM p
           GROUP BY prev, cur HAVING count(*) >= 5),
    nb AS (SELECT count(*) AS n_big FROM p)
    SELECT prev, cur, pair_n::BIGINT AS pair_n,
           round(ln((CAST(pair_n AS DOUBLE) / CAST(n_big AS DOUBLE))
                    / ((CAST(a.uni_n AS DOUBLE) / CAST(n_uni AS DOUBLE))
                       * (CAST(b.uni_n AS DOUBLE)
                          / CAST(n_uni AS DOUBLE)))), 6) AS pmi
    FROM bg JOIN un a ON a.tok = prev JOIN un b ON b.tok = cur
    CROSS JOIN nb CROSS JOIN nu
    ORDER BY pmi DESC, prev, cur LIMIT 30
    """,
)
def txt_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by PMI (Church & Hanks 1990) with
    min_count=5 — multi-word-expression mining over the corpus
    (operators/text.py collocations_pmi). Identical division
    structure into ln on both engines + 6dp rounding and a
    (pmi, prev, cur) total order make the rank cut hash-stable."""
    t = load_tables(spark, sf_dir)
    return tx.collocations_pmi(t["documents"], top_k=30, min_count=5)


@_q(
    "txt_ngram_novelty",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
    u AS (SELECT DISTINCT doc_id, unnest({SHINGLES3.format(t='t')}) AS sh FROM d),
    fs AS (SELECT sh, min(doc_id) AS first_doc FROM u GROUP BY sh)
    SELECT doc_id, count(*)::BIGINT AS n_ngrams,
           sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT
             AS novel_ngrams,
           sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE
             / count(*) AS novelty
    FROM u JOIN fs USING (sh)
    GROUP BY doc_id
    """,
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (fraction of the doc's distinct
    trigrams first seen in it, by doc_id order) — novelty-ordered data
    selection. Integer arithmetic; bit-exact oracle."""
    t = load_tables(spark, sf_dir)
    return tx.ngram_novelty(t["documents"])


@_q(
    "doc_source_overlap",
    f"""
    WITH d AS (SELECT source, {TOKS} AS t FROM documents),
    s AS (SELECT DISTINCT source AS src,
                 unnest({SHINGLES3.format(t='t')}) AS sh FROM d),
    tot AS (SELECT src, count(*) AS n_sh FROM s GROUP BY src),
    i AS (SELECT a.src AS source_a, b.src AS source_b, count(*) AS n_common
          FROM s a JOIN s b USING (sh) WHERE a.src < b.src
          GROUP BY a.src, b.src)
    SELECT source_a, source_b, n_common,
           ta.n_sh AS n_a, tb.n_sh AS n_b,
           n_common::DOUBLE / (ta.n_sh + tb.n_sh - n_common) AS jaccard
    FROM i
    JOIN tot ta ON ta.src = source_a
    JOIN tot tb ON tb.src = source_b
    """,
)
def doc_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source trigram overlap matrix — the corpus-level
    contamination diagnostic that decides dedup/mixture policy.
    Distinct per-source shingle vocabularies self-join on shingle;
    integer arithmetic, bit-exact oracle."""
    t = load_tables(spark, sf_dir)
    return dd.source_overlap(t["documents"])


@_q(
    "emb_outliers",
    """
    WITH x AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings),
    c AS (
      SELECT label, pos,
             list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)),
                         (acc, y) -> acc + y) / count(*) AS centroid
      FROM x GROUP BY label, pos),
    d AS (
      SELECT x.label, x.vec_id,
             list_reduce(list_prepend(0.0,
               list((x.v - c.centroid) * (x.v - c.centroid) ORDER BY x.pos)),
               (acc, y) -> acc + y) AS s
      FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
      GROUP BY x.label, x.vec_id),
    r AS (
      SELECT label, vec_id, sqrt(s) AS dist,
             row_number() OVER (PARTITION BY label ORDER BY s DESC, vec_id ASC)
               AS rn
      FROM d)
    SELECT label, vec_id, dist FROM r WHERE rn <= 5
    """,
)
def emb_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label top-5 embedding outliers by L2 distance to the label
    centroid — mislabel screening. Centroid and distance are ordered
    folds (suite fold rules), so both engines rank identical doubles."""
    t = load_tables(spark, sf_dir)
    return sim.centroid_outliers(t["embeddings"], k=5, group_col="label")


@_q(
    "pipeline_assemble",
    f"""
    WITH dd AS (
      SELECT md5(text) AS digest, min(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)),
    kept AS (
      SELECT d.doc_id, d.source, d.text FROM documents d
      JOIN dd ON d.doc_id = dd.keep_id),
    sampled AS (
      SELECT doc_id, {TOKS} AS toks FROM kept
      WHERE ({H32.format(x="CAST(doc_id AS VARCHAR)")}) % 10000
            < CASE source WHEN 'wiki' THEN 10000
                          WHEN 'books' THEN 5000 ELSE 2500 END),
    n AS (
      SELECT doc_id, len(toks)::BIGINT AS n FROM sampled WHERE len(toks) > 0),
    pos AS (
      SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS e
      FROM n),
    packs AS (
      SELECT doc_id, n, e, e - n AS s,
             unnest(generate_series((e - n) // 1024, (e - 1) // 1024))
               AS pack_id
      FROM pos)
    SELECT doc_id, pack_id,
           greatest(pack_id * 1024, s) - s AS tok_begin,
           least((pack_id + 1) * 1024, e) - s AS tok_end
    FROM packs
    """,
)
def pipeline_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ASSEMBLY pipeline end to end in ONE plan — the
    counterpart of pipeline_curate's clean/filter half: exact dedup
    (keep-first by digest) -> per-source mixture sampling (keep all
    wiki, half books, quarter of the rest) -> sequence packing into
    1024-token packs. Every stage is the already-certified operator;
    the composition proves they chain without materialization
    boundaries (one declarative plan, dedup's shuffle + the packing's
    bucket-offset scan are the only exchanges)."""
    from boostdb_spark.operators import sampling as sp
    from boostdb_spark.operators.dedup import exact_dedup

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    kept = docs.join(keep, "doc_id")
    sampled = sp.mixture_sample(
        kept, rates={"wiki": 1.0, "books": 0.5}, source_col="source",
        key_col="doc_id", default_rate=0.25,
    )
    n = tx.token_count(sampled).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    return sp.pack_tokens(n, capacity=1024)


# ===========================================================================
# Round-4 additions: Gopher-rule filtering, temperature mixing,
# matryoshka truncation, embedding-store profiling, heavy hitters
# ===========================================================================


@_q(
    "txt_heavy_hitters",
    f"""
    WITH d AS (SELECT {TOKS} AS toks FROM documents),
    u AS (SELECT unnest(toks) AS token FROM d),
    t AS (SELECT count(*) AS total FROM u)
    SELECT token, count(*)::BIGINT AS n,
           count(*)::DOUBLE / total AS frac
    FROM u, t GROUP BY token, total
    HAVING count(*) >= total * 0.03
    """,
)
def txt_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """heavy_hitters(): exact phi=3% frequent tokens via the two-pass
    sketch pattern — per-partition Misra-Gries summaries (O(k) memory,
    one pass, NO token-level shuffle; recall of global phi-heavy items
    is guaranteed by the MG bound) followed by an exact recount of the
    tiny broadcast candidate set. Output rows are EXACT, so the plain
    group-count oracle certifies the whole sketch machinery; the
    shuffle carries candidates only — the 100 TB path when the
    vocabulary is huge but the heavy set is small."""
    t = load_tables(spark, sf_dir)
    return tx.heavy_hitters(t["documents"], phi=0.03)


@_q(
    "txt_gopher_rules",
    f"""
    WITH d AS (SELECT doc_id, text, {TOKS} AS toks FROM documents),
    f AS (
      SELECT doc_id,
             len(toks)::BIGINT AS n_words,
             CASE WHEN len(toks) > 0 THEN
               list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
                           (a, x) -> a + x)::DOUBLE / len(toks)
               ELSE 0.0 END AS mean_len,
             CASE WHEN len(toks) > 0 THEN
               len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))::DOUBLE
               / len(toks) ELSE 0.0 END AS aw_ratio,
             len(list_distinct(list_filter(toks,
                 t -> t IN ('the','a','of','to','and','in','is'))))
               AS stop_hits
      FROM d)
    SELECT doc_id, n_words,
           (n_words >= 25 AND n_words <= 80) AS ok_word_count,
           (mean_len >= 3.0 AND mean_len <= 10.0) AS ok_mean_word_len,
           (aw_ratio >= 0.8) AS ok_alpha_words,
           (stop_hits >= 2) AS ok_stopwords,
           ((n_words >= 25 AND n_words <= 80)
            AND (mean_len >= 3.0 AND mean_len <= 10.0)
            AND aw_ratio >= 0.8 AND stop_hits >= 2) AS keep
    FROM f
    """,
)
def txt_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_rules(): the published Gopher document-quality rule set
    (word-count window, mean-word-length window, alphabetic-word
    ratio, distinct-stopword floor) as per-rule booleans + composite
    keep — thresholds tuned so the fixture corpus actually splits.
    Pure codegen over the token array, zero shuffle."""
    t = load_tables(spark, sf_dir)
    return tx.gopher_rules(
        t["documents"], min_words=25, max_words=80,
    ).select(
        "doc_id", F.col("n_words").cast("long").alias("n_words"),
        "ok_word_count", "ok_mean_word_len", "ok_alpha_words",
        "ok_stopwords", "keep",
    )


@_q(
    "doc_interleave_mixture",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {H32.format(x='CAST(doc_id AS VARCHAR)')}, doc_id
             ) AS src_rank
      FROM documents)
    SELECT doc_id, source, src_rank::BIGINT AS src_rank,
           CAST(src_rank AS DOUBLE)
             / (CASE WHEN source = 'src0' THEN 4.0
                     WHEN source = 'src1' THEN 2.0
                     ELSE 1.0 END) AS vt
    FROM r
    """,
)
def doc_interleave_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted source interleave (stride scheduling /
    WFQ): every row gets virtual time ``vt = src_rank / weight``
    (operators/sampling.py interleave_mixture) so ORDER BY vt yields
    a training order where src0 appears ~4x and src1 ~2x as often as
    every other source at EVERY epoch prefix — mixture control
    without dropping rows. The within-source rank runs as the
    bucketed two-phase scan (no task ranks more than one hash bucket
    of one source); vt is one IEEE division of the integer rank by a
    weight literal, bit-exact on both engines."""
    from boostdb_spark.operators import sampling as smp

    t = load_tables(spark, sf_dir)
    return smp.interleave_mixture(
        t["documents"].select("doc_id", "source"),
        weights={"src0": 4.0, "src1": 2.0},
    ).select("doc_id", "source", "src_rank", "vt")


@_q(
    "doc_temperature_mixture",
    f"""
    WITH c AS (
      SELECT source, count(*) AS n,
             CAST(sqrt(count(*)) AS DECIMAL(18,9)) AS d
      FROM documents GROUP BY source),
    tot AS (SELECT sum(d) AS sum_d, sum(n) AS total_n FROM c),
    r AS (
      SELECT c.source,
             CAST(floor(least(1.0,
                    0.5 * tot.total_n * CAST(c.d AS DOUBLE)
                    / (CAST(tot.sum_d AS DOUBLE) * c.n)) * 10000)
                  AS BIGINT) AS cut
      FROM c, tot)
    SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
    WHERE ({H32.format(x="CAST(d.doc_id AS VARCHAR)")}) % 10000 < r.cut
    """,
)
def doc_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temperature_mixture(): T=2 exponent-smoothed source rebalancing
    (q_s ~ sqrt(p_s), the mBERT/XLM mixing rule) at an overall 50%
    target — per-source rates DERIVED from a tiny count aggregate
    (decimal-quantized sqrt weights for cross-engine exactness), then
    the standard deterministic hash-bucket cut. One broadcast of the
    |sources|-row rate table; no full-data shuffle."""
    from boostdb_spark.operators import sampling as sp

    t = load_tables(spark, sf_dir)
    return sp.temperature_mixture(
        t["documents"].select("doc_id", "source"),
        temperature=2.0,
        target_fraction=0.5,
    ).select("doc_id", "source")


@_q(
    "emb_matryoshka",
    """
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    n AS (
      SELECT vec_id, v,
             sqrt(list_reduce(list_prepend(0.0,
                    list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
      FROM v),
    u AS (
      SELECT vec_id, nrm,
             CASE WHEN nrm > 0.0 THEN list_transform(v, x -> x / nrm)
                  ELSE v END AS uv
      FROM n)
    SELECT vec_id, nrm,
           list_reduce(list_prepend(0.0,
             list_transform(range(1, 17), i -> uv[CAST(i AS INT)] * i)),
             (a, x) -> a + x) AS unit_checksum,
           list_reduce(list_prepend(0.0,
             list_transform(uv, x -> x * x)), (a, x) -> a + x) AS unit_sq
    FROM u
    """,
)
def emb_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """matryoshka_truncate(): keep the first 16 of 64 dims and
    L2-renormalize (MRL truncation — 4x storage and scoring saving on
    an MRL-trained store). Slice + deterministic left-fold norm +
    transform divide. The certified row scalar-izes the unit vector
    (the compare layer hashes cells, not arrays): the pre-norm, a
    position-weighted checksum (catches any component or permutation
    error), and the unit sum-of-squares — all identical fold trees on
    both engines."""
    t = load_tables(spark, sf_dir)
    v = F.transform(
        F.slice(F.col("embedding"), 1, 16), lambda x: x.cast("double")
    )
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    emb = t["embeddings"].withColumn("nrm", nrm)
    u = sim.matryoshka_truncate(
        emb.select("vec_id", "nrm", "embedding"), dims=16, out_col="uv",
        keep_cols=("nrm",),
    )
    uv = F.col("uv")
    idx = F.sequence(F.lit(1), F.lit(16))
    checksum = F.aggregate(
        F.zip_with(uv, idx, lambda x, i: x * i.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    unit_sq = F.aggregate(
        F.transform(uv, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return u.select(
        "vec_id",
        "nrm",
        checksum.alias("unit_checksum"),
        unit_sq.alias("unit_sq"),
    )


#: power-iteration components per (app, sf) — the model is ingest
#: work (like the ANN quantizer); certificates recompute the
#: INVARIANTS fresh each run, only the iterate is cached
_PCA_MODELS: dict = {}


@_q(
    "emb_pca_certified",
    """
    WITH c(invariant) AS (VALUES
      ('component_unit_norm'), ('rayleigh_dominates_max_variance'),
      ('residual_converged'), ('orientation_fixed'))
    SELECT invariant, true AS passed FROM c
    """,
)
def emb_pca_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED top-principal-component certificate
    (operators/similarity.py::top_principal_component — distributed
    power iteration with quantized-decimal per-dimension sums, the
    partition-invariant iterate): the dominant-variance direction
    behind drift monitoring and All-but-the-Top common-direction
    removal (Mu & Viswanath 2018). Invariants pinned TRUE:

    - component_unit_norm: | ||v||^2 - 1 | < 1e-9.
    - rayleigh_dominates_max_variance: the converged Rayleigh quotient
      >= the largest per-dimension variance (power iteration from the
      max-variance axis is monotone in the Rayleigh quotient; 1e-3
      slack for the 1e-6 iterate grid).
    - residual_converged: ||C v - lam v|| / lam <= 0.10 after 15
      iterations (pca_residual, one extra exact pass; the fixture's
      eigengap is small, so full 1% convergence would cost ~50
      iterations — 0.10 still rejects any non-dominant direction,
      whose residual sits near 1).
    - orientation_fixed: the largest-|entry| component is positive
      (the deterministic sign convention).

    The iterate itself stays out of the hash (floating eigenvectors
    are not gateable); the booleans are recomputed from scratch each
    run, so a broken iteration, a lost centering, or a partitioning-
    dependent sum flips a certified hash."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PCA_MODELS:  # power iteration is ingest-amortized
        _PCA_MODELS[key] = sim.top_principal_component(e, n_iter=15)
    v, lam, n = _PCA_MODELS[key]
    unit = abs(sum(x * x for x in v) - 1.0) < 1e-9
    stats = sim.embedding_dim_stats(e).collect()
    max_var = max(float(r["variance"]) for r in stats)
    dominates = lam >= max_var - 1e-3
    resid = sim.pca_residual(e, v, lam)
    converged = resid <= 0.10
    j = max(range(len(v)), key=lambda i: (abs(v[i]), -i))
    oriented = v[j] > 0
    return spark.createDataFrame(
        [
            ("component_unit_norm", bool(unit)),
            ("rayleigh_dominates_max_variance", bool(dominates)),
            ("residual_converged", bool(converged)),
            ("orientation_fixed", bool(oriented)),
        ],
        "invariant string, passed boolean",
    )


@_q(
    "emb_abtt_certified",
    """
    WITH c(invariant) AS (VALUES
      ('centered_mean_zero'), ('component_projected_out'),
      ('variance_drops_by_eigenvalue'))
    SELECT invariant, true AS passed FROM c
    """,
)
def emb_abtt_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED All-but-the-Top certificate (similarity.py::
    remove_top_component — Mu & Viswanath ICLR'18): after centering
    and projecting out the cached top principal component, recompute
    from scratch and pin:

    - component_projected_out: max |x' . v| over the corpus <= 1e-9
      (the defining property — the dominant direction is GONE).
    - centered_mean_zero: every post-transform dimension mean within
      2/scale of 0 (centering + projection of a centered cloud).
    - variance_drops_by_eigenvalue: total variance after <= total
      before - 0.9 * lambda (removing the top PC removes AT LEAST
      ~its eigenvalue of variance; 10% slack for the iterate grid).

    All three recomputed as lazy aggregates over the transformed
    corpus each run — a wrong projection, a lost centering, or a
    stale cached component flips a certified hash."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PCA_MODELS:
        _PCA_MODELS[key] = sim.top_principal_component(e, n_iter=15)
    v, lam, n = _PCA_MODELS[key]
    cleaned = sim.remove_top_component(e, v)
    v_arr = F.array(*[F.lit(x) for x in v])
    resid = cleaned.agg(
        F.max(F.abs(sim.dot(F.col("embedding"), v_arr))).alias("mx")
    )
    stats_after = sim.embedding_dim_stats(cleaned)
    after = stats_after.agg(
        F.max(F.abs(F.col("mean"))).alias("max_mean"),
        F.sum("variance").alias("tot_after"),
    )
    stats_before = sim.embedding_dim_stats(e)
    before = stats_before.agg(F.sum("variance").alias("tot_before"))
    flags = (
        resid.crossJoin(F.broadcast(after)).crossJoin(F.broadcast(before))
    )
    return flags.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("centered_mean_zero"),
                    F.lit("component_projected_out"),
                    F.lit("variance_drops_by_eigenvalue"),
                ),
                F.array(
                    F.col("max_mean") <= F.lit(2e-6),
                    F.col("mx") <= F.lit(1e-9),
                    F.col("tot_after")
                    <= F.col("tot_before") - F.lit(0.9 * lam),
                ),
            )
        ).alias("invariant", "passed")
    )


@_q(
    "emb_whiten",
    """
    WITH x AS (
      SELECT CAST(t.i - 1 AS INT) AS dim,
             CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i)),
    a AS (
      SELECT dim, count(*) AS n,
             sum(CAST(q AS DECIMAL(38,0))) AS s,
             sum(CAST(q AS DECIMAL(19,0)) * q) AS s2
      FROM x GROUP BY dim),
    st AS (
      SELECT dim,
             CAST(s AS DOUBLE) / (n * 1000000.0) AS mean,
             sqrt(greatest(
               CAST(s2 AS DOUBLE) / (n * 1000000000000.0)
               - (CAST(s AS DOUBLE) / (n * 1000000.0))
                 * (CAST(s AS DOUBLE) / (n * 1000000.0)), 0.0)) AS sd
      FROM a),
    v AS (
      SELECT vec_id, CAST(t.i - 1 AS INT) AS dim,
             CAST(embedding[CAST(t.i AS INT)] AS DOUBLE) AS x
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i))
    SELECT v.vec_id, v.dim,
           CASE WHEN st.sd > 0.0 THEN (v.x - st.mean) / st.sd
                ELSE 0.0 END AS z
    FROM v JOIN st USING (dim)
    """,
)
def emb_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """whiten_embeddings(): per-dimension standardization of the
    embedding store against its own decimal-exact corpus profile —
    the centering/whitening consumer emb_dim_stats exists for. The
    |dims|-row profile collects once and ships as literals into one
    zip_with projection (no join, no full-data shuffle); output is
    scalarized long form (vec_id, dim, z) so the driver compare hashes
    doubles, not arrays. sd is driver-side math.sqrt == SQL sqrt
    (correctly-rounded IEEE), so z trees are engine-identical."""
    t = load_tables(spark, sf_dir)
    out = sim.whiten_embeddings(t["embeddings"])
    return out.select(
        "vec_id", F.posexplode("z").alias("dim", "z")
    ).select("vec_id", "dim", "z")


@_q(
    "emb_dim_stats",
    """
    WITH x AS (
      SELECT CAST(t.i - 1 AS INT) AS dim,
             CAST(floor(CAST(embedding[CAST(t.i AS INT)] AS DOUBLE)
                        * 1000000 + 0.5) AS BIGINT) AS q
      FROM embeddings,
           unnest(range(1, len(embedding) + 1)) AS t(i)),
    a AS (
      SELECT dim, count(*) AS n,
             sum(CAST(q AS DECIMAL(38,0))) AS s,
             sum(CAST(q AS DECIMAL(19,0)) * q) AS s2
      FROM x GROUP BY dim)
    SELECT dim, n,
           CAST(s AS DOUBLE) / (n * 1000000.0) AS mean,
           CAST(s2 AS DOUBLE) / (n * 1000000000000.0)
             - (CAST(s AS DOUBLE) / (n * 1000000.0))
               * (CAST(s AS DOUBLE) / (n * 1000000.0)) AS variance
    FROM a
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_dim_stats(): one-pass per-dimension profile (n, mean,
    variance) of the embedding store — the centering/whitening and
    drift-monitoring primitive. posexplode -> ONE partial-aggregating
    groupBy carrying |dims| rows per map task; decimal-exact sums make
    the result partitioning-independent and oracle-exact."""
    t = load_tables(spark, sf_dir)
    return sim.embedding_dim_stats(t["embeddings"])


# ===========================================================================
# Sparse retrieval: Okapi BM25 (round 8)
# ===========================================================================

#: shared BM25 oracle arithmetic — the EXACT double tree of
#: operators/text.py::bm25_topk (only +,-,*,/ and one ln per term; the
#: final score floor-grid quantized at 6dp, same as tf_idf_topk)
_BM25_TERMS = ("dup", "spark", "key")
_BM25_TF = "\n".join(
    f"        len(list_filter(toks, x -> x = '{t}')) AS tf{i},"
    for i, t in enumerate(_BM25_TERMS)
).rstrip(",")
_BM25_SCORE = " + ".join(
    f"(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
    f" / (CAST(df{i} AS DOUBLE) + 0.5))"
    f" * ((CAST(tf{i} AS DOUBLE) * (1.2 + 1.0))"
    f" / (CAST(tf{i} AS DOUBLE) + part)))"
    for i in range(len(_BM25_TERMS))
)


@_q(
    "txt_bm25_topk",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, len(toks) AS dl,
{_BM25_TF}
          FROM t),
    s AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tl,
                 {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}" for i in range(len(_BM25_TERMS)))}
          FROM d),
    p AS (SELECT d.*, s.*,
                 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                        / (CAST(tl AS DOUBLE) / CAST(n AS DOUBLE)))) AS part
          FROM d CROSS JOIN s)
    SELECT doc_id,
           floor(({_BM25_SCORE}) * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM p
    WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))}
    ORDER BY score DESC, doc_id ASC LIMIT 50
    """,
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-50 for a fixed three-term query (rare + two
    mid-frequency terms) — the sparse-retrieval ranking that pairs
    with the dense ANN paths for hybrid search. Per-doc term
    frequencies are narrow token-array maps (no explode); corpus
    stats (N, total length, per-term document frequencies) are ONE
    single-row aggregate broadcast back; the plan is scan -> 1-row
    broadcast join -> top-k sort. Both engines quantize the score on
    the 6dp floor grid so last-ulp ln() differences cannot reorder
    the cut; ties break on doc_id."""
    t = load_tables(spark, sf_dir)
    return tx.bm25_topk(t["documents"], list(_BM25_TERMS), k=50)


@_q(
    "pipeline_hybrid_rrf",
    f"""
    WITH t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    d AS (SELECT doc_id, len(toks) AS dl,
{_BM25_TF}
          FROM t),
    s AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS tl,
                 {", ".join(f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}" for i in range(len(_BM25_TERMS)))}
          FROM d),
    p AS (SELECT d.*, s.*,
                 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                        / (CAST(tl AS DOUBLE) / CAST(n AS DOUBLE)))) AS part
          FROM d CROSS JOIN s),
    bm AS (SELECT doc_id,
                  floor(({_BM25_SCORE}) * 1000000.0 + 0.5) / 1000000.0 AS score
           FROM p
           WHERE {" OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))}
           ORDER BY score DESC, doc_id ASC LIMIT 100),
    bmr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS r_s
            FROM bm),
    e AS ({_EMB}),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 7),
    cs AS (SELECT b.vec_id AS doc_id,
                  {DOT64.format(a='qv', b='b.v')}
                  / (sqrt({DOT64.format(a='qv', b='qv')})
                     * sqrt({DOT64.format(a='b.v', b='b.v')})) AS cos
           FROM q, e b WHERE b.vec_id != 7),
    ct AS (SELECT * FROM cs ORDER BY cos DESC, doc_id ASC LIMIT 100),
    cr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY cos DESC, doc_id) AS r_d
           FROM ct)
    SELECT coalesce(bmr.doc_id, cr.doc_id) AS doc_id,
           coalesce(1.0 / (60.0 + CAST(r_s AS DOUBLE)), 0.0)
             + coalesce(1.0 / (60.0 + CAST(r_d AS DOUBLE)), 0.0) AS rrf,
           r_s AS rank_0, r_d AS rank_1
    FROM bmr FULL JOIN cr ON bmr.doc_id = cr.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 20
    """,
)
def pipeline_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 sparse top-100 and exact-cosine dense
    top-100 (query = the vec_id-7 embedding; the corpus id space is
    shared with documents) fused by reciprocal-rank fusion
    ``sum_i 1/(60 + rank_i)`` — the standard production combiner for
    keyword+vector search. Both branch ranks are deterministic
    (quantized/exact scores, id tie-breaks); the fusion is a
    broadcast-sized full-outer join over two 100-row candidate lists,
    so at 100 TB the only heavy work stays in the branch top-k scans
    (and the dense branch swaps to the certified IVF/PQ ANN paths
    unchanged — rrf_fuse only sees (id, rank) lists)."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as _W

    sparse = tx.bm25_topk(t["documents"], list(_BM25_TERMS), k=100)
    s_rank = sparse.withColumn(
        "r_s",
        F.row_number().over(
            _W.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        ),
    )
    e = t["embeddings"]
    dense = sim.cosine_topk(e.filter(F.col("vec_id") == 7), e, k=100)
    d_rank = dense.select(
        F.col("match_id").alias("doc_id"),
        F.row_number()
        .over(_W.orderBy(F.col("cos").desc(), F.col("match_id").asc()))
        .alias("r_d"),
    )
    return sim.rrf_fuse(
        [(s_rank, "r_s"), (d_rank, "r_d")], k=20, c=60.0, id_col="doc_id"
    )


@_q(
    "stream_ann_ingest_parity",
    """
    WITH c(invariant) AS (VALUES
      ('appended_present_once'), ('probe_retrieves_appended'),
      ('streamed_equals_batch'))
    SELECT invariant, true AS passed FROM c ORDER BY invariant
    """,
)
def stream_ann_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-GATED streaming vector-index maintenance: the append slice
    of the embedding corpus replayed as unordered micro-batches through
    ``foreachBatch(ivf_append_index)`` — each batch assigns ONLY its
    new vectors to the persisted coarse quantizer (no retrain, no
    corpus rescan) and appends to the parquet inverted file, exactly
    how a production vector store keeps its ANN index live behind a
    streaming ingest. The gate pins, all as lazy aggregates:

    - streamed_equals_batch: the stream-maintained inverted file
      row-for-row equals a one-shot batch build over the same slice +
      quantizer (both exceptAll directions empty) — per-batch
      incremental assignment == batch assignment under ANY batch split
      (assignment is per-row deterministic).
    - appended_present_once: every appended vec_id appears exactly once.
    - probe_retrieves_appended: probing 3 appended vectors against the
      STREAMED index returns a hit for every query and every hit is an
      appended id (self-matches are excluded by contract) — the new
      rows are immediately searchable, not just stored."""
    import os

    from boostdb_spark.suite import _STREAM_LANDING, _write_landing_slices, session_tmpdir

    lay = _ann_append_layout(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    cutoff = lay["cutoff"]
    new = e.filter(F.col("vec_id") >= cutoff)

    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, "annstream")
    if key not in _STREAM_LANDING:
        landing = session_tmpdir(prefix="boost_suite_annstream_")
        # four vec_id slices (vec_id mod 4), one file each, replayed in
        # slice order: which vectors share a file, and so a micro-batch,
        # is the same in every run
        _write_landing_slices([new.filter(F.col("vec_id") % 4 == k) for k in range(4)], landing)
        _STREAM_LANDING[key] = landing
    landing = _STREAM_LANDING[key]

    work = session_tmpdir(prefix="boost_annstream_sink_")
    sink = os.path.join(work, "ivf")
    cents = lay["centroids"]
    cols = ["match_id", "cv", "cv_nrm", "list_id"]

    def _apply(bdf, _bid):
        if bdf.isEmpty():
            return
        sim.ivf_append_index(bdf, cents).select(*cols).write.mode(
            "append"
        ).parquet(sink)

    q = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 2)
        .option("recursiveFileLookup", "true")
        .parquet(landing)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    streamed = spark.read.parquet(sink).select(*cols)
    # both exceptAll directions consume the batch rebuild — checkpoint
    # so the append-slice assignment runs once, not twice (same fix as
    # ann_append_certified; streamed re-reads parquet cheaply)
    batch = no_broadcast(checkpoint_corpus(
        sim.ivf_build_index(new, cents).select(*cols)
    ))
    bad = (
        streamed.exceptAll(batch).select(F.lit(1).alias("x"))
        .unionAll(batch.exceptAll(streamed).select(F.lit(1).alias("x")))
        .agg(F.count("*").alias("bad"))
    )
    n_new = new.agg(F.count("*").alias("n_new"))
    present = streamed.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("match_id").alias("n_ids"),
    )
    probes = new.orderBy("vec_id").limit(3)
    hits = sim.ivf_ann_topk(
        probes, new, k=1, n_probe=4, centroids=cents,
        index=spark.read.parquet(sink),
    ).agg(
        F.count("*").alias("h"),
        F.min(F.col("match_id") >= F.lit(cutoff)).alias("all_appended"),
    )
    flags = (
        bad.toDF("bad")
        .crossJoin(F.broadcast(n_new))
        .crossJoin(F.broadcast(present))
        .crossJoin(F.broadcast(hits))
    )
    return (
        flags.select(
            F.explode(
                F.map_from_arrays(
                    F.array(
                        F.lit("appended_present_once"),
                        F.lit("probe_retrieves_appended"),
                        F.lit("streamed_equals_batch"),
                    ),
                    F.array(
                        (F.col("n_rows") == F.col("n_new"))
                        & (F.col("n_ids") == F.col("n_new")),
                        (F.col("h") == F.lit(3)) & F.col("all_appended"),
                        F.col("bad") == F.lit(0),
                    ),
                )
            ).alias("invariant", "passed")
        )
        .orderBy("invariant")
    )


@_q(
    "dedup_containment",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id,
                  unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    rare AS (SELECT sh FROM ds GROUP BY sh HAVING count(*) <= 100),
    dsr AS (SELECT ds.* FROM ds JOIN rare USING (sh)),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM dsr a JOIN dsr b USING (sh) WHERE a.id < b.id GROUP BY 1, 2),
    sized AS (
      SELECT id_a, id_b, c, sa.sz AS sz_a, sb.sz AS sz_b
      FROM common JOIN sizes sa ON id_a = sa.id
                  JOIN sizes sb ON id_b = sb.id),
    dirs AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             c::DOUBLE / sz_a AS containment FROM sized
      UNION ALL
      SELECT id_b AS contained_id, id_a AS container_id,
             c::DOUBLE / sz_b AS containment FROM sized)
    SELECT contained_id, container_id, containment
    FROM dirs WHERE containment >= 0.6
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle containment pairs at 0.6 (Broder 1997) —
    the asymmetric dedup signal Jaccard misses: a short doc embedded
    in a long container scores high containment but low Jaccard. Same
    never-all-pairs shape as the Jaccard entry (shingle equi-join),
    with the ubiquitous-shingle cap ENGAGED (max_doc_freq=100; the
    round-8 sf1 probe measured 44x wall on 10x rows without it — a
    shingle shared by d docs fans out d^2 pairs while carrying zero
    dedup signal, so the cap is load-bearing at scale, exactly like
    the boilerplate cap on substring dedup). Containment denominators
    stay the PRE-cap set sizes; the score is one exact int/int IEEE
    division, so no quantization is needed."""
    t = load_tables(spark, sf_dir)
    return dd.shingle_containment_pairs(
        t["documents"], threshold=0.6, n=3, max_doc_freq=100
    )


@_q(
    "dedup_ngram_jaccard_capped",
    f"""
    WITH d AS (SELECT doc_id, {TOKS} AS toks FROM documents),
    ds AS (SELECT DISTINCT doc_id AS id,
                  unnest({SHINGLES3.format(t='toks')}) AS sh FROM d),
    sizes AS (SELECT id, count(*) AS sz FROM ds GROUP BY id),
    rare AS (SELECT sh FROM ds GROUP BY sh HAVING count(*) <= 100),
    dsr AS (SELECT ds.* FROM ds JOIN rare USING (sh)),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
      FROM dsr a JOIN dsr b USING (sh) WHERE a.id < b.id GROUP BY 1, 2)
    SELECT id_a, id_b, c::DOUBLE / (sa.sz + sb.sz - c) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.id
    JOIN sizes sb ON id_b = sb.id
    WHERE c::DOUBLE / (sa.sz + sb.sz - c) >= 0.5
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-POSTURE variant of exact n-gram Jaccard: the
    ubiquitous-shingle cap (max_doc_freq=100) engaged, certifying the
    exact semantics OF THE CAPPED ESTIMATOR — intersections counted
    over sub-ubiquitous shingles only (set sizes stay pre-cap, so the
    score only under-counts boilerplate overlap, never inflates). This
    is the knob the round-8 sf1 probe showed is load-bearing: uncapped
    exact Jaccard reads 29.9x wall on 10x rows of the tiny-vocab
    fixture (per-shingle d^2 fanout), capped reads 9.1x — linear. The
    uncapped dedup_ngram_jaccard entry stays certified as the
    exactness baseline at fixture scale."""
    t = load_tables(spark, sf_dir)
    return dd.ngram_jaccard_pairs(
        t["documents"], threshold=0.5, n=3, max_doc_freq=100
    )


@_q(
    "txt_entropy",
    f"""
    WITH d AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
    c AS (SELECT doc_id, tok, count(*) AS c FROM d GROUP BY 1, 2),
    a AS (SELECT doc_id, list(CAST(c AS DOUBLE) ORDER BY tok) AS cs,
                 CAST(sum(c) AS BIGINT) AS n_tokens
          FROM c GROUP BY doc_id)
    SELECT doc_id AS id, n_tokens,
           CAST(floor((ln(CAST(n_tokens AS DOUBLE))
                 - list_reduce(list_prepend(0.0,
                     list_transform(cs, x -> x * ln(x))),
                     (acc, e) -> acc + e)
                   / CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
             AS entropy_grid
    FROM a
    """,
)
def txt_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_entropy(): per-document token-distribution Shannon entropy
    (nats, 1e-6 integer grid — ln() is not correctly-rounded IEEE, so
    the grid absorbs cross-engine ulp like BM25's scores) — the
    diversity/quality signal next to txt_repetition's rule-based
    ratios: boilerplate and keyword-stuffed docs score low. ZERO
    shuffle: tokenize, sort the per-doc token array, run-length-fold
    it in one narrow pass (no explode, no groupBy); the c*ln(c) sum
    folds in sorted-token order on BOTH engines so the doubles match
    before gridding."""
    t = load_tables(spark, sf_dir)
    return tx.doc_entropy(t["documents"])


@_q(
    "txt_readability",
    f"""
    WITH x AS (
      SELECT doc_id AS id,
             len({TOKS}) AS n_words,
             greatest(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
               AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiou]+'))
               AS n_syllables
      FROM documents)
    SELECT id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(floor((206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE))) * 1e6 + 0.5)
                AS BIGINT) AS flesch_grid
    FROM x WHERE n_words >= 1
    """,
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readability(): Flesch reading-ease per doc (Flesch 1948) —
    vowel-group syllable proxy, terminal-punctuation sentence count
    floored at 1, three integer regexp counts into one fixed double
    formula on the 1e-6 grid. The readability leg of the quality
    family next to txt_quality/txt_gopher_rules/txt_entropy. ZERO
    shuffle: one codegen projection per row."""
    t = load_tables(spark, sf_dir)
    return tx.readability(t["documents"])
