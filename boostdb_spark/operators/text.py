"""Text-analysis operators for large-scale training-data pipelines:
tokenization, token counting, quality scoring, language ID, document
fingerprinting. Beyond the reference's surface (it has no string
functions at all — SURVEY.md section 2.5); first-class here per the
north-star extension list.

Everything is built from JVM-side ``pyspark.sql.functions`` (split /
transform / aggregate / filter) — no Python in the hot path, so the
operators stay inside whole-stage codegen and scale linearly with
executors over 100 TB of documents.

Cross-engine determinism: the token hash is the first 8 hex chars of
md5 (exactly reproducible in DuckDB as ``('0x'||substr(md5(s),1,8))::
BIGINT``), and all arithmetic is integer or single-expression double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from boostdb_spark.operators.common import no_broadcast, topk_per_group
from boostdb_spark.operators.common import spread as _spread

#: split pattern shared with the DuckDB oracles (ASCII word tokens)
TOKEN_SPLIT = "[^a-z0-9]+"

#: small stopword profiles for the language-ID heuristic
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"],
    "zh": ["de", "shi", "le", "wo", "ni", "ta", "zai", "you", "he", "bu"],
}

#: generic stopword list for quality scoring
STOPWORDS = ["the", "a", "of", "to", "and", "in", "is"]

MOD_P = 1_000_000_007


def tokens(col: Column) -> Column:
    """Lowercased word tokens with empties removed — the shared
    tokenizer (whitespace+punct split; a BPE-ish regex split is the
    same expression with a different pattern)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT), lambda t: t != "")


def hash32(col: Column) -> Column:
    """Deterministic 32-bit token hash: first 8 hex chars of md5 as an
    integer. Chosen over murmur/xxhash because the DuckDB oracle can
    reproduce it bit-exactly."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def with_tokens(df: DataFrame, text_col: str = "text", out_col: str = "toks") -> DataFrame:
    return df.withColumn(out_col, tokens(F.col(text_col)))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id..., n_tokens) — whitespace/punct token counting."""
    return _spread(df).withColumn("n_tokens", F.size(tokens(F.col(text_col))))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features per document: token count, mean token
    length, stopword ratio, alpha-character ratio. The standard cheap
    pre-filters for LLM training corpora (length / punctuation /
    stopword heuristics)."""
    toks = tokens(F.col(text_col))
    n_toks = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    # array_contains over a literal array, not Column.isin: isin inside a
    # higher-order-function lambda miscompiles under subexpression
    # elimination (lambda variable rebinds to the wrong array's type)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    alpha_chars = F.length(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]", ""))
    return (
        _spread(df).withColumn("n_tokens", n_toks)
        .withColumn(
            "mean_tok_len",
            F.when(n_toks > 0, tok_chars.cast("double") / n_toks),
        )
        .withColumn(
            "stop_ratio",
            F.when(n_toks > 0, n_stop.cast("double") / n_toks),
        )
        .withColumn(
            "alpha_ratio",
            F.when(
                F.length(text_col) > 0,
                alpha_chars.cast("double") / F.length(text_col),
            ),
        )
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality FILTER (Rae et al. 2021, §A1.1 —
    the published repetition/format rule set, adapted to this corpus's
    signals): per-document rule booleans plus the composite ``keep``
    decision, so a pipeline can either filter on ``keep`` or audit
    rule-level rejection rates.

    Rules: word count within [min_words, max_words]; mean word length
    within [min_mean_len, max_mean_len]; fraction of words containing
    an alphabetic character >= min_alpha_word_ratio; at least
    ``min_stop_hits`` DISTINCT common stopwords present (the Gopher
    "contains 2 of 5 common words" rule).

    Scale shape: pure codegen expressions over the token array — no
    shuffle, no UDF; the filter fuses into the scan pipeline like every
    other row-level quality signal."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_len = F.when(
        n_words > 0, tok_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    alpha_word_ratio = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    stop_hits = F.size(
        F.array_distinct(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    )
    ok_nw = (n_words >= min_words) & (n_words <= max_words)
    ok_ml = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    ok_aw = alpha_word_ratio >= min_alpha_word_ratio
    ok_st = stop_hits >= min_stop_hits
    return (
        _spread(df)
        .withColumn("n_words", n_words)
        .withColumn("ok_word_count", ok_nw)
        .withColumn("ok_mean_word_len", ok_ml)
        .withColumn("ok_alpha_words", ok_aw)
        .withColumn("ok_stopwords", ok_st)
        .withColumn("keep", ok_nw & ok_ml & ok_aw & ok_st)
    )


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile language ID (n-gram-free heuristic: count hits
    against per-language stopword lists, argmax with a deterministic
    language-order tiebreak). Adequate for corpus routing; a char-n-gram
    model slots into the same column contract."""
    toks = tokens(F.col(text_col))
    langs = list(LANG_STOPWORDS)

    # closure factory, not a default arg: pyspark introspects lambda
    # parameters, so `lambda t, arr=...` would bind arr as a second
    # lambda variable
    def _member_of(words):
        arr = F.array(*[F.lit(w) for w in words])
        return lambda t: F.array_contains(arr, t)

    scores = {
        lang: F.size(F.filter(toks, _member_of(sw)))
        for lang, sw in LANG_STOPWORDS.items()
    }
    out = _spread(df)
    for lang in langs:
        out = out.withColumn(f"score_{lang}", scores[lang])
    # argmax with first-wins tiebreak in fixed language order
    detected = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = F.col(f"score_{lang}") >= F.col(f"score_{other}")
            cond = c if cond is None else (cond & c)
        detected = F.when(cond, lang) if detected is None else detected.when(cond, lang)
    out = out.withColumn("detected_lang", detected.otherwise(langs[-1]))
    return out.drop(*[f"score_{lang}" for lang in langs])


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive document fingerprint: left-fold polynomial
    rolling hash over token hashes, ``acc*31 + h(tok) mod P``. Detects
    exact token-sequence duplicates regardless of whitespace/punct
    differences (a cheaper exact-dedup key than raw md5(text))."""
    h_toks = F.transform(tokens(F.col(text_col)), hash32)
    fp = F.aggregate(
        h_toks,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % MOD_P,
    )
    return _spread(df).withColumn("fingerprint", fp)


#: winnowing position budget: the (hash, position) pair packs into one
#: BIGINT as ``h * 2^21 + (2^20 - pos)`` so a single window MIN selects
#: (smallest hash, rightmost position) — positions must stay below
#: 2^20 k-grams per document. Longer documents chunk first
#: (chunk_documents); a runtime assert_true folded into the key raises
#: loudly on violating positions instead of corrupting fingerprints.
_WINNOW_POS_SPAN = 1 << 20
_WINNOW_PACK = 1 << 21


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Robust winnowing (Schleimer, Wilkerson, Aiken 2003, "Winnowing:
    Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every k-token shingle, slide a w-wide window over
    the hash sequence, and select each window's MINIMUM hash, breaking
    ties by the RIGHTMOST position; the distinct selected (position,
    hash) pairs are the document's fingerprints. Guarantees: any
    shared token run of length >= w + k - 1 yields at least one shared
    fingerprint (the detection floor), and the density of selected
    prints is ~2/(w+1) — the tunable storage/recall dial plain rolling
    hashes (``fingerprint``) and MinHash sketches don't give.

    Shape: one posexplode to positioned shingle hashes, ONE window
    pass per doc ordered by position (frame = CURRENT ROW .. w-1
    FOLLOWING, full windows only), then distinct — no join, no
    all-pairs anything; the shuffle is the per-doc window sort. The
    (min-hash, rightmost-pos) selection is a single integer MIN via
    the pack above, bit-exact on any engine. Returns
    (id_col, pos, fp) — pos is the 0-based token position of the
    selected shingle."""
    from boostdb_spark.operators.dedup import shingles

    if w < 1:
        raise ValueError(f"window w must be >= 1, got {w}")
    sp = _spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(shingles(F.col(text_col), k)).alias("pos", "sh"),
    )
    keyed = sp.select(
        "id",
        "pos",
        (
            hash32(F.col("sh")) * F.lit(_WINNOW_PACK)
            + (F.lit(_WINNOW_POS_SPAN) - F.col("pos"))
            # loud out-of-contract guard: pos >= 2^20 would bleed into
            # the hash bits and CORRUPT fingerprints silently; assert
            # null-adds into the key (coalesce keeps Catalyst from
            # pruning the check away as an unused column)
            + F.coalesce(
                F.assert_true(
                    F.col("pos") < F.lit(_WINNOW_POS_SPAN),
                    F.concat(
                        F.lit(
                            "winnowing_fingerprints: document id="
                        ),
                        F.col("id").cast("string"),
                        F.lit(
                            " has >= 2^20 k-grams; chunk_documents"
                            " first (pack budget, see _WINNOW_POS_SPAN)"
                        ),
                    ),
                ).cast("bigint"),
                F.lit(0),
            )
        ).alias("key"),
    )
    win = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    selected = keyed.select(
        "id",
        F.min("key").over(win).alias("wmin"),
        F.count("key").over(win).alias("wn"),
    ).filter(F.col("wn") == w)
    return (
        selected.select(
            F.col("id").alias(id_col),
            (
                F.lit(_WINNOW_POS_SPAN)
                - F.col("wmin").bitwiseAND(F.lit(_WINNOW_PACK - 1))
            ).alias("pos"),
            F.shiftright(F.col("wmin"), 21).alias("fp"),
        )
        .distinct()
    )


#: scrub patterns, ordered: email before generic digit runs so the
#: local-part digits don't get masked first. Character classes only —
#: identical semantics under Java regex (Spark) and RE2 (DuckDB).
SCRUB_PATTERNS = (
    (r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<email>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<ip>"),
    (r"\d{7,}", "<num>"),
)


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "clean"
) -> DataFrame:
    """Scrub + normalize: lowercase, mask PII-shaped spans (emails,
    IPv4s, long digit runs), collapse whitespace runs, trim — the
    cheap normalization pass a training corpus gets before dedup and
    quality filtering. One chained regexp_replace projection, fully
    inside whole-stage codegen; zero shuffles."""
    c = F.lower(F.col(text_col))
    for pat, repl in SCRUB_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    n-gram occurrences that are repeats of an earlier n-gram
    (dup_ngram_frac) and the share taken by the single most frequent
    n-gram (top_ngram_frac) — standard corpus-quality pre-filters for
    LLM training data.

    Shape: shingle-explode -> count per (doc, n-gram) -> per-doc
    aggregate. Both groupBys partial-aggregate map-side, so the
    shuffles carry one row per distinct (doc, n-gram) and then one per
    doc — never the raw occurrence stream. Documents with fewer than
    ``n`` tokens have no n-grams and drop out (no repetition signal is
    definable for them)."""
    from boostdb_spark.operators.dedup import shingles  # local: dedup imports us

    sh = _spread(df).select(
        F.col(id_col).alias(id_col),
        F.explode(shingles(F.col(text_col), n)).alias("sh"),
    )
    per = sh.groupBy(id_col, "sh").agg(F.count("*").alias("c"))
    total = F.sum("c")
    return per.groupBy(id_col).agg(
        total.cast("long").alias("n_ngrams"),
        ((total - F.count("*")).cast("double") / total).alias("dup_ngram_frac"),
        (F.max("c").cast("double") / total).alias("top_ngram_frac"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str | None = None,
) -> DataFrame:
    """Split documents into fixed-size overlapping character chunks —
    the expansion step before embedding/training-window generation in
    an LLM data pipeline. One row per (doc, chunk): (id, chunk_id,
    chunk_off, chunk).

    Pure sequence+posexplode+substring: whole-stage codegen end to end,
    no shuffle, output linear in total text volume — the plan scales by
    partition count alone. ``len_col`` (precomputed length, e.g.
    ``n_chars``) lets the scan skip reading lengths from the text.
    """
    n = F.length(F.col(text_col)) if len_col is None else F.col(len_col)
    offs = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    return (
        df.select(F.col(id_col), F.col(text_col), F.posexplode(offs).alias("chunk_id", "chunk_off"))
        .withColumn("chunk", F.expr(f"substring({text_col}, chunk_off + 1, {int(chunk_size)})"))
        .drop(text_col)
    )


#: GPT-style pre-tokenizer shape: letter runs | digit runs | punct runs
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


def token_count_bpe(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token counting: counts pre-tokenizer segments (letter
    runs, digit runs, punctuation runs) — the standard first pass of a
    BPE tokenizer, and a closer proxy for LLM token budgets than
    whitespace splitting. One regexp_extract_all + size, JVM-side."""
    return _spread(df).withColumn(
        "n_bpe_tokens",
        F.size(F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), 0)),
    )


def vocab_topk(df: DataFrame, k: int, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary induction: the k most frequent tokens with
    their counts, ties broken lexicographically. One explode + one
    hash aggregate (map-side combined — the shuffle carries one row
    per distinct token per partition, not per occurrence) + a top-k
    TakeOrdered; no global sort materialization."""
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def heavy_hitters(
    df: DataFrame,
    phi: float,
    text_col: str = "text",
    k_counters: int | None = None,
) -> DataFrame:
    """Exact phi-heavy hitters of the token stream — every token whose
    count >= phi * N (N = total tokens) with its EXACT count — via the
    classic two-pass sketch pattern:

    1. per-partition Misra-Gries summaries with ``k_counters`` slots
       (mapInPandas, O(k) memory per task, one pass, NO token-level
       shuffle). MG guarantees any item with frequency > n_p/k in a
       partition survives that partition's summary, so a global
       phi-heavy token (phi >= 1/k) is guaranteed to appear in at
       least one summary — candidates have PERFECT recall;
    2. the tiny candidate set (<= k per partition) broadcasts back and
       only candidate tokens are exactly recounted + thresholded.

    The output is therefore EXACT (same rows as a full group-count
    would produce) while the shuffle carries candidates only — the 100
    TB win over vocab_topk's per-distinct-token shuffle when the
    vocabulary is huge but the heavy set is small. Default
    ``k_counters = ceil(2/phi)``.

    Returns (token, n, frac) sorted-stable via deterministic values."""
    import math

    import pandas as pd

    k = k_counters or int(math.ceil(2.0 / phi))
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token"))

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["token"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:  # decrement-all step, drop zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"token": list(counters.keys())})

    candidates = toks.mapInPandas(mg, "token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("_n_total"))
    exact = (
        toks.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") >= F.col("_n_total") * F.lit(float(phi)))
    )
    return exact.select(
        "token", "n", (F.col("n").cast("double") / F.col("_n_total")).alias("frac")
    )


#: PII patterns shared with the DuckDB oracles — constructs restricted
#: to the Java-regex/RE2 common subset (no lookaround, no backrefs)
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Replace common PII shapes (emails, IPv4s, international-format
    phone numbers, SSNs) with typed placeholder tags — the scrubbing
    pass every training-data pipeline runs before tokenization.

    A chain of ``regexp_replace`` expressions, fully JVM-codegen, zero
    shuffle: 100 TB redacts at scan speed. Patterns use only the
    Java/RE2 common regex subset so the DuckDB oracle applies the
    identical automaton. Order matters (email before phone: the digits
    in 'user+1@x.com' must not half-match) and is fixed by
    PII_PATTERNS."""
    col = F.col(text_col)
    for _name, pat, tag in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return df.withColumn(out_col, col)


def tf_idf_topk(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, token, tf, df, tfidf)
    with smooth idf = ln((N+1)/(df+1)) + 1 (sklearn's convention) and
    raw term counts for tf. The relevance-weighting primitive behind
    keyword extraction and sparse retrieval indexes.

    Shape: one explode -> (doc, token) count aggregate; token document
    frequencies from a second aggregate over distinct (doc, token) —
    shuffles carry per-distinct-token rows (map-side combined), never
    per occurrence; the doc count is a broadcast scalar. Top-k per doc
    is one window over the (small) per-doc term set. tfidf is rounded
    (6dp) for cross-engine hashing: ln() may differ in the last ulp
    between engines."""
    toks = no_broadcast(df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    ))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # the doc count rides as a broadcast single-row cross join — the
    # plan stays fully lazy (one action), no mid-plan driver collect
    n_docs = F.broadcast(
        df.select(F.countDistinct(F.col(id_col)).alias("_n_docs"))
    )
    scored = tf.join(dfreq, "token").crossJoin(n_docs).select(
        "doc_id",
        "token",
        "tf",
        "df",
        F.round(
            F.col("tf")
            * (
                F.log(
                    (F.col("_n_docs") + F.lit(1.0)) / (F.col("df") + 1)
                )
                + F.lit(1.0)
            ),
            6,
        ).alias("tfidf"),
    )
    return topk_per_group(scored, k, ["doc_id"], "tfidf", tiebreak=["token"])


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap perplexity proxy for quality
    filtering (documents far below the corpus-typical score are
    boilerplate/garbage; far above are repetitive). Returns
    (doc_id, n_tokens, mean_logprob), rounded 6dp (ln() can differ in
    the last ulp across engines).

    Shape: one explode + token-count aggregate builds the LM
    (per-distinct-token shuffle, map-side combined); the corpus total
    is a broadcast scalar; scoring is an equi-join back on token and a
    per-doc avg — two shuffles total, nothing driver-side but one
    scalar."""
    toks = no_broadcast(_spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("token")
    ))
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tok_n"))
    total = toks.count()
    scored = toks.join(vocab, "token").select(
        "doc_id", F.log(F.col("tok_n") / F.lit(float(total))).alias("logp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("logp"), 6).alias("mean_logprob"),
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of the document's
    DISTINCT n-grams whose first corpus occurrence (lowest ``id_col``)
    is this document — the incremental-contribution signal behind
    novelty-ordered data selection (a document whose shingles all
    appeared earlier adds little; near-1 novelty means fresh content).
    Returns (doc_id, n_ngrams, novel_ngrams, novelty).

    Shape: distinct (doc, shingle) explode -> min-doc-per-shingle
    aggregate (per-distinct-shingle shuffle, map-side combined) ->
    equi-join back -> per-doc ratio. Integer arithmetic end to end —
    bit-exact oracle."""
    from boostdb_spark.operators.dedup import shingles

    ds = no_broadcast(
        _spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(F.col(text_col), n)).alias("sh"),
        )
        .distinct()
    )
    first = ds.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        ds.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("novel_ngrams"),
        )
        .withColumn(
            "novelty",
            F.col("novel_ngrams").cast("double") / F.col("n_ngrams"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under the
    corpus's own bigram LM: mean over positions of
    ``ln(count(w_prev, w) / count(w_prev))`` — a sharper perplexity
    proxy than the unigram score (it penalizes improbable token
    ORDER, not just rare tokens; shuffled boilerplate scores low even
    when its vocabulary is common). Returns (doc_id, n_bigrams,
    mean_logprob) for documents with >= 2 tokens; rounded 6dp (ln ulp
    across engines).

    Shape: one explode builds (doc, prev, cur) pairs from the token
    array in-expression (no self-join); bigram and prefix-unigram
    counts are map-side-combined aggregates over DISTINCT grams;
    scoring is two equi-joins back + a per-doc avg. Nothing
    driver-side.
    """
    t = with_tokens(df, text_col).select(F.col(id_col).alias("doc_id"), "toks")
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    pairs = t.filter(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("prev"),
                    F.element_at(F.col("toks"), i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    pairs = no_broadcast(pairs)
    big = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("big_n"))
    # prefix counts = occurrences as a bigram PREFIX (so probabilities
    # per prefix sum to exactly 1 — last tokens of docs don't skew it)
    uni = pairs.groupBy("prev").agg(F.count(F.lit(1)).alias("uni_n"))
    scored = pairs.join(big, ["prev", "cur"]).join(uni, "prev").select(
        "doc_id",
        F.log(F.col("big_n").cast("double") / F.col("uni_n").cast("double")).alias(
            "logp"
        ),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("logp"), 6).alias("mean_logprob"),
    )


def collocations_pmi(
    df: DataFrame,
    top_k: int = 30,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_k`` bigram collocations by pointwise mutual
    information (Church & Hanks 1990): ``PMI(a,b) = ln( p(a,b) /
    (p(a) p(b)) )`` with ``p(a,b) = c_ab / N_bigrams`` and unigram
    probabilities over ALL token occurrences — the classic
    multi-word-expression miner ("new york", "machine learning")
    whose raw-count twin just returns stopword pairs. Bigrams below
    ``min_count`` are dropped first (PMI's known low-count pathology:
    a single co-occurrence of two hapaxes gets the maximal score).
    Returns (prev, cur, pair_n, pmi) ordered by (pmi DESC, prev,
    cur); pmi is rounded 6dp so the rank cut is engine-stable (ln
    ulp), and the order-by includes the token pair so ties cut
    deterministically.

    Shape: one in-expression bigram explode (no self-join), three
    map-side-combined count aggregates (bigrams, unigrams, two global
    scalars via a 1-row crossJoin), two equi-joins back to the
    bounded bigram-count table, one top-k sort on a
    min_count-filtered relation. The only corpus-scaled relation is
    the exploded pair stream feeding the counts; everything after is
    vocabulary-bounded. Reference: this extends the declared
    text-aggregate intent (query/base/expression.go:16-32) the same
    way the logprob/novelty entries do."""
    t = with_tokens(df, text_col).select("toks")
    idx = F.sequence(F.lit(1), F.size("toks") - 1)
    pairs = t.filter(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("prev"),
                    F.element_at(F.col("toks"), i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select(F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    toks = t.select(F.explode("toks").alias("tok"))
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("uni_n"))
    n_uni = toks.agg(F.count(F.lit(1)).alias("n_uni"))
    big = (
        pairs.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= min_count)
    )
    n_big = pairs.agg(F.count(F.lit(1)).alias("n_big"))
    # after the min_count filter the bigram table is
    # vocabulary-bounded: plain equi-joins, optimizer free to
    # broadcast the unigram side at runtime
    scored = (
        big.join(uni.withColumnRenamed("tok", "prev"), "prev")
        .withColumnRenamed("uni_n", "prev_n")
        .join(uni.withColumnRenamed("tok", "cur"), "cur")
        .withColumnRenamed("uni_n", "cur_n")
        .crossJoin(n_big)
        .crossJoin(n_uni)
    )
    # division structure mirrored verbatim in the oracle SQL so both
    # engines round the same double into ln
    pmi = F.log(
        (F.col("pair_n").cast("double") / F.col("n_big").cast("double"))
        / (
            (F.col("prev_n").cast("double") / F.col("n_uni").cast("double"))
            * (F.col("cur_n").cast("double") / F.col("n_uni").cast("double"))
        )
    )
    return (
        scored.select(
            "prev", "cur", F.col("pair_n").cast("long").alias("pair_n"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("prev"), F.col("cur"))
        .limit(top_k)
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 (Robertson et al., TREC-3) ranking of the corpus for
    a fixed term query: (doc_id, score) for the top-k matching docs,
    ``score = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*len/avgdl))``
    with the Lucene idf variant ``ln(1 + (N-df+0.5)/(df+0.5))`` (always
    positive). The sparse-retrieval side of hybrid search; the dense
    side is similarity.cosine_topk / the ANN paths.

    Shape: per-doc tf for each query term is a narrow map (size of a
    filtered token array — no explode, no shuffle for the tf pass);
    corpus stats (N, total length, per-term dfs) are ONE single-row
    aggregate broadcast back as a cross join, so the whole plan is a
    scan + one 1-row broadcast + a top-k sort. Scales: stats are
    map-side combined; no driver collect. The score is floor-grid
    quantized (6dp) so last-ulp ln() differences cannot reorder the
    cut; ordering ties break on doc_id."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")

    def _tf(term: str) -> Column:
        # NB: a `lambda x, t=term:` default arg would make pyspark treat
        # the lambda as the 2-arg (element, index) HOF form — bind the
        # term via this closure instead
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(term)))

    base = _spread(
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
    ).select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(query_terms)],
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("dl").alias("_tl"),
            *[
                F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"_df{i}")
                for i in range(len(query_terms))
            ],
        )
    )
    j = base.crossJoin(stats)
    avgdl = F.col("_tl").cast("double") / F.col("_n").cast("double")
    part = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl)
    )
    score = None
    for i in range(len(query_terms)):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n").cast("double") - F.col(f"_df{i}").cast("double") + 0.5)
            / (F.col(f"_df{i}").cast("double") + 0.5)
        )
        s_i = idf * ((tf * F.lit(k1 + 1.0)) / (tf + part))
        score = s_i if score is None else score + s_i
    hit = None
    for i in range(len(query_terms)):
        c = F.col(f"tf{i}") > 0
        hit = c if hit is None else hit | c
    return (
        j.filter(hit)
        .select(
            "doc_id",
            (F.floor(score * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def doc_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document token-distribution entropy in nats — the classic
    diversity/quality signal (a doc repeating one token has entropy 0;
    boilerplate and keyword-stuffed spam score low, natural prose
    high; the Shannon companion of txt_repetition's rule-based
    repetition ratios). Returns (id, n_tokens, entropy_grid) where
    entropy_grid = floor(entropy * 1e6 + 0.5) as a LONG.

    entropy = ln(n) - (sum over distinct tokens of c*ln(c)) / n.

    Determinism across engines: ln() is not IEEE-correctly-rounded, so
    raw nats could differ in the last ulp between the JVM and DuckDB —
    the 1e-6 integer grid absorbs that (same rule as BM25 scores). The
    c*ln(c) sum is folded in SORTED-TOKEN order on both sides.

    Scale: ZERO shuffle — tokenize, sort the per-doc token array, and
    run-length-fold it in one narrow pass (state: previous token, run
    length, partial sum); no explode, no groupBy. Evaluation-count
    discipline: the token array lands behind a non-cheap alias
    referenced twice (size + sort), so CollapseProject cannot inline
    and the tokenizer runs once per row.
    """
    t1 = _spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    t2 = t1.select(
        "id",
        F.size("_tk").cast("long").alias("n_tokens"),
        F.array_sort("_tk").alias("_st"),
    ).filter(F.col("n_tokens") >= 1)

    def step(acc, x):
        new_run = F.when(x == acc.getField("prev"), acc.getField("run") + 1) \
            .otherwise(F.lit(1).cast("long"))
        flushed = F.when(
            (x != acc.getField("prev")) & (acc.getField("run") > 0),
            acc.getField("run").cast("double")
            * F.log(acc.getField("run").cast("double")),
        ).otherwise(F.lit(0.0))
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            (acc.getField("s") + flushed).alias("s"),
        )

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
    )
    total = F.aggregate(
        F.col("_st"),
        init,
        step,
        lambda acc: acc.getField("s")
        + F.when(
            acc.getField("run") > 0,
            acc.getField("run").cast("double")
            * F.log(acc.getField("run").cast("double")),
        ).otherwise(F.lit(0.0)),
    )
    nd = F.col("n_tokens").cast("double")
    ent = F.log(nd) - total / nd
    return t2.select(
        "id",
        "n_tokens",
        F.floor(ent * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias(
            "entropy_grid"
        ),
    )


def readability(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality filter (Flesch 1948; quality pipelines drop both extremes:
    unreadably dense legalese and degenerate word salad). Returns
    (id, n_words, n_sentences, n_syllables, flesch_grid) with
    flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
    on the 1e-6 integer grid.

    Syllables are approximated by VOWEL GROUPS ('[aeiou]+' runs — the
    standard cheap proxy; a group never spans a word boundary, so the
    doc-level count equals the per-word sum), sentences by terminal
    punctuation runs ('[.!?]+', floored at 1 so unpunctuated docs
    divide by one sentence, mirrored in the oracle).

    Determinism: three integer regexp counts -> one fixed double
    formula -> grid; both engines run the same greedy character-class
    regexes. Scale: ZERO shuffle — one codegen projection per row.
    """
    t = F.lower(F.col(text_col))
    words = F.size(tokens(F.col(text_col)))
    sents = F.greatest(F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1))
    syl = F.regexp_count(t, F.lit(r"[aeiou]+"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / words.cast("double"))
    )
    return (
        _spread(df)
        .select(
            F.col(id_col).alias("id"),
            words.cast("long").alias("n_words"),
            sents.cast("long").alias("n_sentences"),
            syl.cast("long").alias("n_syllables"),
            F.floor(flesch * F.lit(1.0e6) + F.lit(0.5)).cast("long").alias(
                "flesch_grid"
            ),
        )
        .filter(F.col("n_words") >= 1)
    )


def zipf_slope(
    df: DataFrame,
    k: int = 100,
    group_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Zipf-law exponent of the token frequency distribution — the
    corpus-statistics diagnostic (natural text sits near slope -1;
    boilerplate/spam/templated corpora flatten or steepen it): a
    least-squares fit of ln(count) against ln(rank) over the top-``k``
    tokens, per ``group_col`` (or corpus-wide when None).

    slope = (k*Sxy - Sx*Sy) / (k*Sxx - Sx^2) over x=ln(rank),
    y=ln(n). Ranks are exact integers (count desc, token asc
    tiebreak), so both engines fit the SAME k points; 6dp rounding
    absorbs last-ulp ln/summation-order noise (the
    txt_unigram_logprob precedent).

    Scale shape: explode -> map-side-combined token count -> a rank
    window over the DISTINCT-TOKEN table (vocabulary-sized, not
    corpus-sized) -> a k-row aggregate per group. No joins, no
    collect."""
    gcols = [group_col] if group_col else []
    toks = df.select(
        *gcols, F.explode(tokens(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy(*gcols, "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    rw = Window.partitionBy(*gcols).orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    ranked = counts.withColumn("rnk", F.row_number().over(rw)).filter(
        F.col("rnk") <= k
    )
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("n").cast("double"))
    pts = ranked.select(*gcols, x.alias("x"), y.alias("y"))
    agg = pts.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("k_points"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    kd = F.col("k_points").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return agg.select(
        *gcols,
        "k_points",
        F.round(slope, 6).alias("zipf_slope"),
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical-diversity features: type-token ratio and
    hapax-legomenon fraction — the vocabulary-richness quality signals
    next to doc_entropy's distribution entropy (templated/spammy text
    reuses few types; natural prose keeps TTR and hapax share high).
    Returns (id, n_tokens, n_types, n_hapax, ttr, hapax_frac).

    ALL-INTEGER determinism: types and hapax counts fold over the
    SORTED per-doc token array (state: prev token, run length, two
    counters — no ln, no float accumulation); the two ratios are
    single int/int double divisions, bit-identical on both engines.

    Scale: ZERO shuffle — tokenize, sort, run-length-fold in one
    narrow pass per row; no explode, no groupBy (doc_entropy's
    shape)."""
    t1 = _spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    t2 = t1.select(
        "id",
        F.size("_tk").cast("long").alias("n_tokens"),
        F.array_sort("_tk").alias("_st"),
    ).filter(F.col("n_tokens") >= 1)

    def step(acc, x):
        same = x == acc.getField("prev")
        return F.struct(
            x.alias("prev"),
            F.when(same, acc.getField("run") + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            (
                acc.getField("types")
                + F.when(same, F.lit(0)).otherwise(F.lit(1)).cast("long")
            ).alias("types"),
            (
                acc.getField("hapax")
                + F.when(
                    ~same & (acc.getField("run") == 1), F.lit(1)
                ).otherwise(F.lit(0)).cast("long")
            ).alias("hapax"),
        )

    zero = F.lit(0).cast("long")
    acc = F.aggregate(
        F.col("_st"),
        F.struct(
            F.lit("").alias("prev"),
            zero.alias("run"),
            zero.alias("types"),
            zero.alias("hapax"),
        ),
        step,
        lambda a: F.struct(
            a.getField("types").alias("types"),
            (
                a.getField("hapax")
                + F.when(a.getField("run") == 1, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("hapax"),
        ),
    )
    out = t2.select("id", "n_tokens", acc.alias("_a")).select(
        "id",
        "n_tokens",
        F.col("_a.types").alias("n_types"),
        F.col("_a.hapax").alias("n_hapax"),
    )
    return out.select(
        "id",
        "n_tokens",
        "n_types",
        "n_hapax",
        (F.col("n_types") / F.col("n_tokens").cast("double")).alias("ttr"),
        (F.col("n_hapax") / F.col("n_tokens").cast("double")).alias(
            "hapax_frac"
        ),
    )
