"""Text-analysis operators for large-scale training-data pipelines.

All hot-path logic is JVM-side built-in expressions (``split``,
``regexp_*``, higher-order array functions) — zero Python UDFs — so the
plans stay inside whole-stage codegen and scale linearly with input
splits on a 1000-executor cluster. Every function is a narrow
``DataFrame -> DataFrame`` map (no shuffle), so Catalyst pipelines them
into the scan stage.

These extend the reference's scalar-function surface (SURVEY.md §2.5 —
the reference engine at reference M:49-252 uses split/regexp_replace/
upper/concat etc. for its column surgery; we apply the same built-in
family to document analytics).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import PORTABLE_HASH_MOD, portable_hash32

# Tokens that match "word-ish" runs: letters, digits, or a single other
# non-space symbol — a BPE-ish pre-tokenization. Kept RE2-compatible so
# the same pattern runs in Spark (Java regex) and DuckDB (RE2) oracles.
TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

# Tiny per-language marker vocabularies for the n-gram/stopword
# heuristic language id. Deterministic and engine-portable (pure SQL).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "des"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "que", "de"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in")


def words_col(text: Column) -> Column:
    """Split on whitespace runs, dropping empties (JVM-side)."""
    return F.split(F.trim(text), r"\s+")


def _bind(arr: Column, fn) -> Column:
    """Evaluate the array expression ``arr`` ONCE per row and hand the
    bound value to ``fn`` as a lambda variable. Higher-order-function
    lambdas re-evaluate captured OUTER expressions on every element,
    so a per-element lambda that captures a computed array (a split,
    an n-gram transform) is O(len²) per row; routing the value through
    a one-element-array ``transform`` makes the binding structural —
    the optimizer cannot inline it back — and the row is O(len)."""
    return F.transform(F.array(arr), fn).getItem(0)


def _bind2(a: Column, b: Column, fn) -> Column:
    """Two-array variant of :func:`_bind` via ``zip_with`` — both
    expressions evaluate exactly once per row."""
    return F.zip_with(F.array(a), F.array(b), fn).getItem(0)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality/stat columns: char count, word count,
    average word length, stopword ratio, uppercase ratio, digit ratio.

    Narrow map over the scan — no shuffle; at 100 TB this runs at
    scan speed with full column pruning (only ``text`` is read).

    r17 (guide §1.2 per-task work): the three derived columns all
    consume the same whitespace split, but as sibling projection
    expressions each re-evaluated it (CollapseProject re-inlines any
    alias, so a simple intermediate column cannot fix this). The
    split — and each O(len) aggregate over it — now evaluates ONCE
    per row inside a one-element ``inline(transform(array(words),
    ...))``: the Generate node is a structural barrier the optimizer
    cannot collapse, emits exactly one row per input row, and its
    output fields are O(1) attribute references. Values are the
    verbatim original expressions over the bound array.
    """
    text = F.col(text_col)

    def stats(ws):
        n_words = F.size(ws)
        stop_hits = F.size(
            F.filter(ws, lambda w: F.lower(w).isin(*STOPWORDS))
        )
        return F.struct(
            n_words.alias("n_words"),
            F.round(
                F.when(
                    n_words > 0,
                    F.aggregate(
                        ws,
                        F.lit(0).cast("long"),
                        lambda acc, w: acc + F.length(w),
                    ).cast("double")
                    / n_words,
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("avg_word_len"),
            F.round(
                F.when(
                    n_words > 0, stop_hits.cast("double") / n_words
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("stopword_ratio"),
        )

    return df.select(
        "*",
        F.length(text).alias("n_chars_m"),
        F.inline(F.transform(F.array(words_col(text)), stats)),
    )


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count: number of TOKEN_PATTERN matches, plus the
    plain whitespace-token count. Pure regexp built-ins (JVM-side)."""
    text = F.col(text_col)
    return df.withColumn(
        "n_tokens", F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0))
    ).withColumn("n_ws_tokens", F.size(words_col(text)))


# PII detector patterns — deliberately RE2-compatible (no lookaround,
# no backreferences) so Spark (Java regex) and DuckDB (RE2) count the
# SAME matches: all quantifiers are greedy with no alternation whose
# leftmost-first vs leftmost-longest semantics could diverge.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"
PHONE_PATTERN = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def with_pii_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII signal counts — emails, URLs, phone-shaped
    digit runs — plus a ``has_pii`` flag. The triage step before a
    scrub/redact pass (``with_scrubbed_numbers``) or a drop filter in
    a training-data pipeline.

    Narrow map, JVM-side ``regexp_extract_all`` (codegen'd, no UDF) —
    runs at scan speed with full column pruning at 100 TB. Pattern
    counts, not extraction: the PII strings themselves never leave the
    scan stage, which is the right privacy posture for a report."""
    text = F.col(text_col)

    def n_matches(pattern: str) -> Column:
        return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))

    out = (
        df.withColumn("n_emails", n_matches(EMAIL_PATTERN))
        .withColumn("n_urls", n_matches(URL_PATTERN))
        .withColumn("n_phones", n_matches(PHONE_PATTERN))
    )
    return out.withColumn(
        "has_pii",
        (F.col("n_emails") + F.col("n_urls") + F.col("n_phones")) > 0,
    )


def chunk_documents(
    df: DataFrame,
    chunk_words: int = 64,
    stride_words: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size overlapping word windows — the
    context-window preprocessing step between raw documents and
    sequence packing (chunk k covers words [k·stride, k·stride+chunk);
    overlap = chunk − stride words carries context across boundaries).

    Returns (id, chunk_idx, chunk_text, n_chunk_words), one row per
    chunk; empty/NULL-text docs yield no chunks. The chunk count is
    ``1 + ceil(max(n_words − chunk, 0) / stride)``, so the final chunk
    always reaches the document end and is never empty.

    Narrow map + explode over the scan — no shuffle, no UDF: the
    fan-out happens next to the data, and downstream packing/shuffling
    operates on chunks whose size is bounded by ``chunk_words`` (the
    property that keeps shuffle partitions uniform no matter how
    skewed raw document lengths are).
    """
    # Fail loud on invalid geometry (repo convention, cf. lsh_bucket's
    # dim guard): stride_words=0 would make the non-ANSI division yield
    # NULL n_chunks → sequence(NULL) → explode emits ZERO rows with no
    # error; stride > chunk silently leaves word gaps between chunks.
    if not 0 < stride_words <= chunk_words:
        raise ValueError(
            f"chunk_documents: require 0 < stride_words <= chunk_words, "
            f"got stride_words={stride_words}, chunk_words={chunk_words}"
        )
    words = words_col(F.col(text_col))
    n_chunks = F.lit(1) + F.floor(
        (F.greatest(F.size(words) - F.lit(chunk_words), F.lit(0))
         + F.lit(stride_words - 1))
        / F.lit(stride_words)
    ).cast("int")
    chunk = F.slice(
        F.col("_w"), F.col("chunk_idx") * stride_words + 1, chunk_words
    )
    return (
        df.where(
            F.col(text_col).isNotNull()
            & (F.length(F.trim(F.col(text_col))) > 0)
        )
        .select(
            F.col(id_col),
            words.alias("_w"),
            F.explode(
                F.sequence(F.lit(0), n_chunks - F.lit(1))
            ).alias("chunk_idx"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("int"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_chunk_words"),
        )
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language id: count marker-word hits per language over
    the whitespace tokens; argmax with a deterministic tie-break on
    language code; 'und' (undetermined) when no marker hits at all.

    A real system would use fastText/CLD3 behind a pandas_udf; the
    heuristic keeps the hot path JVM-side and the semantics portable.
    """
    words = words_col(F.col(text_col))

    def marker_hits(markers: tuple[str, ...]) -> Column:
        # single-arg lambda factory: F.filter treats a 2-arg lambda as
        # (element, index), so the markers must be a closure, not a
        # default argument.
        return F.size(F.filter(words, lambda w: F.lower(w).isin(*markers)))

    hit_cols = {lang: marker_hits(m) for lang, m in LANG_MARKERS.items()}
    # argmax with deterministic tie-break: first language in sorted
    # order achieving the max wins; 'und' when zero hits everywhere.
    out = df
    for lang, c in hit_cols.items():
        out = out.withColumn(f"_hits_{lang}", c)
    langs = sorted(LANG_MARKERS)
    score = lambda lang: F.col(f"_hits_{lang}")  # noqa: E731
    best_score = F.greatest(*[score(lang) for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when(
            (best_score > 0) & (score(lang) == best_score), F.lit(lang)
        ).otherwise(pred)
    out = out.withColumn("pred_lang", pred)
    return out.drop(*[f"_hits_{lang}" for lang in langs])


def _char_trigrams(text: Column) -> Column:
    """Sliding character trigrams of the lowercased text (spaces
    included — the Cavnar-Trenkle convention captures word-boundary
    n-grams); empty array under length 3.

    The lowered text is split into its code-point array once per row
    (``split(t, '')`` yields exactly the code points — verified
    incl. astral and İ→i+̇ expansion) and trigrams are O(1)
    ``element_at`` concats over the bound array; the previous
    ``substr``-per-index formulation re-evaluated ``lower(text)`` on
    EVERY element — O(len²) per document and the dominant cost of the
    lang-id lanes."""
    return _bind(
        F.split(F.lower(text), ""),
        lambda cs: F.when(
            F.size(cs) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.size(cs) - 2),
                lambda i: F.concat(
                    F.element_at(cs, i),
                    F.element_at(cs, i + 1),
                    F.element_at(cs, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def trigram_lang_profiles(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    k: int = 50,
) -> DataFrame:
    """Per-language character-trigram profiles (Cavnar & Trenkle
    1994): the top-``k`` trigrams of each language's labeled text,
    ranked by (count desc, trigram asc) — returns (lang, tri, rank).
    Profiles are built FROM the corpus (no shipped model), are tiny
    (languages × k rows — broadcastable), and every step is integer/
    string-deterministic, so an external engine recomputes them
    exactly."""
    from geniepool_etl_spark.functions import fan_out_if_narrow

    tri = fan_out_if_narrow(labeled).select(
        F.col(label_col).alias("lang"),
        F.explode(_char_trigrams(F.col(text_col))).alias("tri"),
    )
    counts = tri.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("tri").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("lang", "tri", "rank")
    )


def with_lang_id_trigram(
    df: DataFrame,
    profiles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """Cavnar-Trenkle language id: rank each document's own top-``k``
    trigrams, then score every candidate language by the OUT-OF-PLACE
    distance — Σ |doc rank − profile rank|, with the max penalty
    ``k`` for trigrams absent from the profile — and take the argmin
    (language-code tiebreak). Distances are pure integers, so the
    prediction is bit-reproducible in any engine — no cosine, no
    floats (the r8 verdict asked for a real n-gram-profile method
    over the marker-word heuristic; the rank formulation is the
    paper's own and stays exact). Documents with no trigrams predict
    'und'.

    Scale shape: one explode over the text (linear), doc profiles cut
    to k rows per doc by a window, then a broadcast join against the
    (languages × k)-row profile table — the corpus shuffles once on
    doc_id for the window/aggregate; profiles never shuffle it."""
    from geniepool_etl_spark.functions import fan_out_if_narrow

    dtri = fan_out_if_narrow(df.select(id_col, text_col)).select(
        F.col(id_col).alias("_id"),
        F.explode(_char_trigrams(F.col(text_col))).alias("tri"),
    )
    dcnt = dtri.groupBy("_id", "tri").agg(F.count(F.lit(1)).alias("n"))
    wd = Window.partitionBy("_id").orderBy(
        F.col("n").desc(), F.col("tri").asc()
    )
    dprof = (
        dcnt.withColumn("drank", F.row_number().over(wd))
        .where(F.col("drank") <= k)
        .select("_id", "tri", "drank")
    )
    # (languages × k)-row table consumed TWICE (the candidate-language
    # fan-out and the rank lookup); when built by
    # ``trigram_lang_profiles`` each consumer would otherwise replay
    # that full corpus explode+aggregate+window pass (registry plan
    # audit: 2 extra corpus scans). Tiny — lazy-materialize once.
    profiles = profiles.localCheckpoint(eager=False)
    langs = profiles.select("lang").distinct()
    # tiny broadcast fan-out: every doc profile row scores against
    # every candidate language (|languages| copies), then the
    # profile lookup fills ranks where the trigram is in-profile
    pairs = dprof.crossJoin(F.broadcast(langs))
    joined = pairs.join(F.broadcast(profiles), ["lang", "tri"], "left")
    dist = joined.groupBy("_id", "lang").agg(
        F.sum(
            F.coalesce(F.abs(F.col("drank") - F.col("rank")), F.lit(k))
        ).alias("dist")
    )
    wbest = Window.partitionBy("_id").orderBy(
        F.col("dist").asc(), F.col("lang").asc()
    )
    best = (
        dist.withColumn("_r", F.row_number().over(wbest))
        .where(F.col("_r") == 1)
        .select("_id", F.col("lang").alias("pred_lang"))
    )
    out = df.join(best, df[id_col] == best["_id"], "left").drop("_id")
    return out.withColumn(
        "pred_lang", F.coalesce(F.col("pred_lang"), F.lit("und"))
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` terms per document by tf-idf — the classic relevance /
    boilerplate-vs-content signal over a training corpus.

    ``score(d, t) = tf(d, t) · ln((N + 1) / (df(t) + 1))`` with tf =
    term count in the document, df = number of documents containing the
    term, N = corpus size.

    Plan shape: one explode → (doc, term) count aggregate (map-side
    partial), document frequency derived from THAT aggregate (rows are
    already distinct (doc, term) pairs — no second pass over the
    corpus), N as a broadcast 1-row aggregate. Ranking is a window per
    document on the 4-decimal-rounded score with a term tie-break
    (deterministic across engines). Returns (id, term, tf, score, rnk).
    """
    from pyspark.sql import Window

    tokens = df.select(
        F.col(id_col).alias("id"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    )
    # distinct-(doc, term)-sized, consumed by BOTH the document
    # frequency aggregate and the scoring join — lazy-materialize once
    # so the explode pass does not replay per consumer.
    tf = (
        tokens.groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1).cast("double")),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def with_scrubbed_numbers(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII-style scrubbing pass: digit runs masked to '#', with the
    run count and a content hash of the scrubbed text for verification.
    The pattern is RE2-compatible so external engines reproduce it
    verbatim; swap in email/phone patterns for a real PII pass — the
    plan shape (narrow regexp map at scan speed) is the point."""
    text = F.col(text_col)
    return (
        df.withColumn(
            "n_digit_runs",
            F.size(F.regexp_extract_all(text, F.lit("[0-9]+"), 0)),
        )
        .withColumn(
            "scrubbed_md5",
            F.md5(F.regexp_replace(text, "[0-9]+", "#")),
        )
    )


def quality_filter(
    df: DataFrame,
    min_words: int = 20,
    max_stopword_ratio: float = 0.25,
    min_avg_word_len: float = 3.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Keep/drop decision with machine-readable reasons — the
    filtering stage of a training-data pipeline, built on
    :func:`with_text_stats` thresholds. Returns (id, keep, reasons)
    where reasons is a comma-joined list ('' when kept). Narrow map at
    scan speed; thresholds compare the ROUNDED stats so any external
    engine reproduces the exact same keep set.

    ``keep_cols`` (r16): extra input columns passed through, so a
    pipeline can gate its spine INLINE (``.where("keep")``) instead
    of projecting to ids and join-composing the keep set back — the
    filter is a narrow map; re-attaching it by join costs two
    corpus-scale exchanges (guide §2.4).
    """
    stats = with_text_stats(df, text_col)
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_words") < min_words, F.lit("too_short")),
        F.when(
            F.col("stopword_ratio") > max_stopword_ratio, F.lit("stopwordy")
        ),
        F.when(
            F.col("avg_word_len") < min_avg_word_len, F.lit("short_words")
        ),
    )
    return stats.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


def zscore_by_group(
    df: DataFrame,
    group_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group z-score normalization via grouped-map
    ``applyInPandas`` — the Arrow-batched Python lane for group-local
    logic a SQL window could not express (here it could: the point of
    this operator is pinning the applyInPandas plumbing — grouping
    shuffle, Arrow transfer, pandas compute, schema contract — against
    an exact SQL oracle).

    Each group's rows arrive as ONE pandas DataFrame (so a single
    group must fit an executor — use sub-grouping keys when a group
    can be huge); compute is vectorized numpy, never per-row Python.
    Returns (id, group, z) with z = (x - mean) / std (sample std,
    ddof=1), rounded to 4; null when the group has no variance.
    """
    import pandas as pd

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf[value_col].astype("float64")
        sd = x.std(ddof=1)
        # zero-variance / singleton groups must yield SQL NULL (like
        # stddev_samp), not NaN — NaN != NULL under canonical compare
        if sd and sd > 0:
            z = ((x - x.mean()) / sd).round(4)
        else:
            # nullable Float64 (not numpy float64, which coerces
            # None→NaN) so Arrow carries real nulls
            z = pd.Series([pd.NA] * len(x), dtype="Float64", index=x.index)
        return pd.DataFrame(
            {
                "id": pdf[id_col],
                "grp": pdf[group_col],
                "z": z.round(4),
            }
        )

    return df.groupBy(group_col).applyInPandas(
        norm, schema="id long, grp string, z double"
    )


def with_fingerprint(
    df: DataFrame, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """Deterministic document fingerprint: polynomial rolling hash over
    whitespace tokens (word-level, not char-level, so the array stays
    small), computed with the ``aggregate`` higher-order function —
    JVM-side, no UDF.

    fp = fold(words, acc -> (acc * 1000003 + H(word)) mod 2^31-1)

    H is ``crc32`` on the fast path or :func:`portable_hash32` when
    ``portable`` (an external engine must recompute it — crc32 isn't
    universal, md5 is). The modulus keeps ``acc * 1000003 + H`` < 2^53,
    safely inside exact long arithmetic in any engine.
    """
    words = words_col(F.col(text_col))
    mod = F.lit(PORTABLE_HASH_MOD)
    if portable:
        word_hash = portable_hash32
    else:
        word_hash = lambda w, _seed: F.crc32(w).cast("long")  # noqa: E731
    fp = F.aggregate(
        words,
        F.lit(7).cast("long"),
        lambda acc, w: (acc * F.lit(1000003) + word_hash(w, 0)) % mod,
    )
    return df.withColumn("fingerprint", fp)


def with_repetition_ratio(
    df: DataFrame, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """Duplicate word-n-gram fraction per document — the Gopher-style
    repetition quality signal (templated / boilerplate / looping text
    scores high). ratio = 1 − distinct_ngrams / total_ngrams, 0 for
    documents with fewer than ``n`` words.

    Narrow (no shuffle): the n-gram array, its dedup, and the ratio
    are all per-row expressions, so this runs at scan speed alongside
    the other quality columns. The ``transform`` lambda is interpreted,
    but over one small array per document — if profiling ever shows it
    hot, the explode → count/count-distinct aggregate is the codegen
    alternative at the price of one shuffle.
    """
    # the word array is bound once per row (_bind) — capturing it in
    # the per-index lambda re-evaluated the split on every element
    # (O(words²) per document)
    grams = _bind(
        words_col(F.col(text_col)),
        lambda ws: F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    ratio = _bind(
        grams,
        lambda g: F.when(
            F.size(g) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(g)) / F.size(g), 4
            ),
        ).otherwise(F.lit(0.0)),
    )
    return df.withColumn("repetition_ratio", ratio)


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval scoring of the corpus against a fixed query-term
    set — the lexical-retrieval baseline next to the embedding ANN
    path (operators/similarity.py), and the standard quality prior
    for retrieval-augmented training-data selection.

        score(d) = Σ_t idf(t) · tf(d,t)·(k1+1)
                          / (tf(d,t) + k1·(1 − b + b·dl(d)/avgdl))
        idf(t)   = ln( (N − df(t) + 0.5) / (df(t) + 0.5) + 1 )

    (the Robertson/Spärck Jones formulation with the +1 floor that
    keeps idf positive).

    Plan shape — two passes over a NARROW projection, zero joins on
    data rows: pass 1 computes per-doc ``dl`` and per-term ``tf``
    (whole-word regexp counts, JVM codegen); a single 1-row global
    aggregate derives N, avgdl, and every df(t); that row broadcasts
    back (crossJoin of a 1-row frame) and scoring is a pure map.
    Top-k is a rounded-score sort with id tiebreak — deterministic
    across engines. Raw text never shuffles.
    """
    if not terms:
        raise ValueError("bm25_topk: need at least one query term")
    # terms are interpolated into a regex (and, in the contract
    # oracle, into SQL literals): restrict to bare lowercase word
    # tokens so neither layer can be broken by metacharacters/quotes
    for t in terms:
        if not re.fullmatch(r"[a-z0-9]+", t):
            raise ValueError(
                f"bm25_topk: term {t!r} must match ^[a-z0-9]+$"
            )
    text = F.lower(F.col(text_col))
    tf_cols = [
        F.size(
            F.regexp_extract_all(
                text, F.lit(r"\b" + re.escape(t) + r"\b"), 0
            )
        ).alias(f"_tf_{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = df.select(
        F.col(id_col),
        F.size(words_col(F.col(text_col))).alias("_dl"),
        *tf_cols,
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfreq = F.col(f"_df_{i}")
        idf = F.log(
            (F.col("_n") - dfreq + 0.5) / (dfreq + 0.5) + 1.0
        )
        denom = tf + k1 * (
            1.0 - b + b * F.col("_dl") / F.col("_avgdl")
        )
        score = score + idf * tf * (k1 + 1.0) / denom
    scored = per_doc.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.col("_dl").cast("long").alias("dl"),
        F.round(score, 4).alias("score"),
    )
    return (
        scored.where(F.col("score") > 0)
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def word_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document word-level Shannon entropy (bits) — the vocabulary
    -diversity quality signal: near-zero for degenerate repetition
    ("spam spam spam"), ~log2(n_words) for fully diverse text. The
    cheap proxy for the perplexity-based quality filters used in
    training-data curation.

    Computed as ``log2(n) − Σ c·log2(c) / n`` over the document's own
    word histogram (algebraically −Σ p·log2 p, but with one
    integer-count aggregate instead of per-row probabilities). One
    explode → (doc, word) count → per-doc aggregate, same plan family
    as tf-idf; entropy rounds to 4 decimals for the cross-engine
    hash. Empty/null docs yield no row (no histogram, no entropy).
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(words_col(F.col(text_col))).alias("w"),
    )
    hist = tokens.groupBy(id_col, "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    c = F.col("c").cast("double")
    return (
        hist.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_words_h"),
            F.sum(c * F.log2(c)).alias("_s"),
        )
        .select(
            id_col,
            "n_words_h",
            F.round(
                F.log2(F.col("n_words_h"))
                - F.col("_s") / F.col("n_words_h"),
                4,
            ).alias("entropy_bits"),
        )
    )


def feature_hash_counts(
    df: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """The hashing trick: fixed-width bag-of-words features without a
    vocabulary — each token maps to ``hash(token) % n_buckets`` and
    the document's feature vector is the per-bucket count. No vocab
    build pass, no dictionary broadcast, unbounded live vocabulary at
    a fixed feature width: the featurizer that still works when the
    corpus is 100 TB and the token universe won't fit anywhere.

    Emitted SPARSE — (id, bucket, n) rows, zero buckets absent — so
    the output stays flat-typed and shuffle-light; densify at the
    consumer if a model needs it. The portable md5 hash makes the
    bucketing engine-reproducible (the oracle recomputes it
    verbatim); swap xxhash64 for production speed if cross-engine
    audit is not needed.
    """
    if n_buckets <= 0:
        raise ValueError("feature_hash_counts: n_buckets must be > 0")
    tokens = df.select(
        F.col(id_col),
        F.explode(words_col(F.col(text_col))).alias("w"),
    )
    bucket = portable_hash32(F.col("w"), seed=seed) % n_buckets
    return (
        tokens.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_importance_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023): score every raw-corpus document by how target-like its
    hashed bag-of-words is — ``log w(d) = Σ_k n_dk·(ln p_k − ln
    q_k)`` where ``p``/``q`` are add-one-smoothed bucket unigram
    models of the target and raw corpora over ``n_buckets`` hashed
    features. Downstream, sampling ∝ exp(log_weight) reshapes the
    raw corpus toward the target distribution without training a
    classifier.

    100 TB shape: ONE token scan per corpus (raw and target), reduced
    to one ``n_buckets``-row ratio table (broadcast back — never a
    corpus-sized join); the raw scan's per-(doc, bucket) histogram is
    lazily materialized and feeds both the corpus bucket counts and
    the per-doc rollup. No vocabulary pass, no driver-side state
    beyond the bucket table.
    Cross-engine determinism: the per-bucket log-ratio and the
    smoothing constant ride as INTEGER 1e-4 units (the
    ``text_perplexity`` discipline), so document sums are exact
    integer arithmetic and the single final rounding cannot flip
    across merge orders. Portable md5 bucketing
    (:func:`geniepool_etl_spark.functions.portable_hash32`)."""
    if n_buckets <= 0:
        raise ValueError(
            "dsir_importance_weights: n_buckets must be > 0"
        )

    def buckets(d: DataFrame) -> DataFrame:
        tokens = d.select(
            F.col(id_col),
            F.explode(words_col(F.col(text_col))).alias("w"),
        )
        return tokens.select(
            F.col(id_col),
            (portable_hash32(F.col("w"), seed=seed) % n_buckets)
            .alias("bucket"),
        )

    raw_b = buckets(raw)
    # ONE raw tokenize pass (r16): the per-(doc, bucket) histogram is
    # the common sub-aggregate of the corpus bucket counts and the
    # per-doc rollup — ≤ n_buckets rows per doc, so unlike a
    # per-(doc, bigram) pre-agg it genuinely compresses; lazily
    # materialized for its two consumers. The 64-row bucket tables
    # are also checkpointed (each fed ratio AND const, replaying its
    # corpus pass).
    pb = (
        raw_b.groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    cq = (
        pb.groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("cq"))
        .localCheckpoint(eager=False)
    )
    cp = (
        buckets(target)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cp"))
        .localCheckpoint(eager=False)
    )
    ratio = (
        cq.join(cp, "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                (
                    F.log(F.coalesce(F.col("cp"), F.lit(0)) + 1)
                    - F.log(F.coalesce(F.col("cq"), F.lit(0)) + 1)
                )
                * 10000
            )
            .cast("long")
            .alias("d"),
        )
    )
    # smoothing-normalizer constant: one integer, 1-row broadcast
    const = (
        cq.agg(F.sum("cq").alias("q_total"))
        .crossJoin(cp.agg(F.sum("cp").alias("p_total")))
        .select(
            F.round(
                (
                    F.log(
                        F.coalesce(F.col("p_total"), F.lit(0))
                        + F.lit(n_buckets)
                    )
                    - F.log(
                        F.coalesce(F.col("q_total"), F.lit(0))
                        + F.lit(n_buckets)
                    )
                )
                * 10000
            )
            .cast("long")
            .alias("cst"),
        )
    )
    per_doc = (
        pb.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("d")).alias("s"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(const))
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                (
                    F.col("s") - F.col("n_tokens") * F.col("cst")
                ) / 10000.0,
                4,
            ).alias("log_weight"),
        )
    )


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """The selection half of DSIR: sample ``k`` documents WITHOUT
    replacement with probability ∝ exp(log_weight) via the
    Gumbel-max trick — ``key_i = log w_i + G_i`` with ``G_i =
    −ln(−ln(u_i))``, top-k keys win. The uniform ``u_i`` comes from
    the portable md5 hash of the doc id (``(h + 0.5) / 2^32``), so
    the draw is deterministic, engine-reproducible, and requires no
    global RNG state — a 100 TB corpus samples in one pass with one
    top-k. Keys are rounded to 1e-4 with doc-id tiebreaks before the
    rank cut (the repo's cross-engine rank discipline). Returns every
    raw doc with its ``gumbel_key`` and a 0/1 ``selected`` flag.

    The cut is ``orderBy().limit(k)`` — Spark plans it as
    ``TakeOrderedAndProject`` (per-partition top-k, then a k-sized
    merge), NEVER a single-partition global sort — joined back as a
    k-row broadcast. ``k`` is therefore driver-bounded (a sample you
    intend to train on, not a corpus-sized partition)."""
    if k <= 0:
        raise ValueError("dsir_resample: k must be > 0")
    w = dsir_importance_weights(
        raw, target, n_buckets=n_buckets, text_col=text_col,
        id_col=id_col, seed=seed,
    )
    u = (
        portable_hash32(F.col(id_col), seed=seed + 1) + F.lit(0.5)
    ) / F.lit(4294967296.0)
    keyed = w.select(
        F.col(id_col),
        F.round(
            F.col("log_weight") - F.log(-F.log(u)), 4
        ).alias("gumbel_key"),
        # |docs|-sized, two consumers (the top-k cut and the join
        # back) — without materialization the whole importance-weight
        # pipeline replayed twice (r16)
    ).localCheckpoint(eager=False)
    topk = (
        keyed.orderBy(
            F.col("gumbel_key").desc(), F.col(id_col).asc()
        )
        .limit(k)
        .select(F.col(id_col).alias("_sel_id"))
    )
    return (
        keyed.join(
            F.broadcast(topk),
            keyed[id_col] == topk["_sel_id"],
            "left",
        )
        .select(
            F.col(id_col),
            F.col("gumbel_key"),
            F.col("_sel_id").isNotNull().cast("int").alias("selected"),
        )
    )


def _greedy_merge_rep(rep, l, r):
    """Apply one BPE merge ``(l, r)`` to a DOUBLED-space token
    representation (``'  t1  t2  …  '``) with TRUE greedy
    left-to-right semantics, as ONE codegen'd ``replace`` (no UDF).

    The space-doubling trick: with every token boundary two spaces
    wide, plain non-overlapping ``replace`` of ``' l  r '`` with
    ``' lr '`` consumes one space from each side's boundary and the
    replacement restores it — so adjacent occurrences of a repeated
    pair ('  a  a  a  a  ') never share a delimiter and all merge in
    one pass, leftmost-first, exactly like greedy BPE, AND the
    doubled invariant survives the replacement, so k rounds chain
    with no re-widen/collapse between them (the collapse pair that
    made each round 3 replaces instead of 1). NULL ``l``/``r`` (an
    empty merge round) coalesce to an unmatchable \\x00 pattern so
    the round no-ops instead of nulling the vocabulary.
    """
    search = F.coalesce(
        F.concat(F.lit(" "), l, F.lit("  "), r, F.lit(" ")),
        F.lit("\x00"),
    )
    repl = F.coalesce(
        F.concat(F.lit(" "), l, r, F.lit(" ")), F.lit("\x00")
    )
    return F.replace(rep, search, repl)


def bpe_learn_merges(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE merge learning, ``k`` rounds: the iterative
    vocabulary-induction algorithm behind modern tokenizers, run as
    ``k`` chained aggregates over the corpus VOCABULARY — the classic
    BPE optimization: pair counts are computed over distinct words
    weighted by corpus frequency, never over raw text, so each round
    costs O(|vocab| · max_word_len) regardless of corpus size (the
    one corpus-sized pass is the initial word count).

    Round structure (statically unrolled — each round depends on the
    previous merge, inherently sequential): adjacent-symbol pairs of
    each word's space-joined representation → frequency-weighted
    count → global argmax (deterministic tiebreak on (count DESC,
    left, right)) → the 1-row winner broadcasts back and rewrites
    every representation via left-to-right non-overlapping
    ``replace`` (' l r ' → ' lr ' on space-padded reps; the
    surrounding spaces anchor token boundaries).

    The merge application is TRUE greedy left-to-right BPE
    (Sennrich-style: all non-overlapping occurrences, leftmost
    first), achieved with plain ``replace`` via the space-doubling
    trick: token boundaries are widened to TWO spaces, the pattern
    ``' l  r '`` consumes one space from each side's boundary, and
    the replacement ``' lr '`` restores it — so back-to-back
    occurrences of a repeated pair never fight over a shared
    delimiter (' a a a a ' → ' aa aa ', ' a a a a a ' → ' aa aa a ',
    exactly greedy). A naive single-space replace consumes the shared
    space and yields ' aa a a '; a fixpoint loop mis-associates odd
    runs (' aa a aa '). The whole round stays JVM-codegen (no UDF),
    and the DuckDB oracle replays the identical doubled-space replace
    chain, so the semantics are engine-reproducible.

    Returns the merge table: (step, l, r, merged, pair_count).
    """
    if k <= 0:
        raise ValueError("bpe_learn_merges: k must be > 0")
    words = (
        df.select(
            F.explode(words_col(F.lower(F.col(text_col)))).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        # |vocab|-row lazy materialization (r16, the bpe_token_counts
        # barrier): the k per-round pair aggregates and winner rows
        # are structurally distinct branches — un-materialized each
        # replayed the full scan+explode corpus pass (7 scans in one
        # plan). The ROUND chain itself stays un-checkpointed (the
        # measured ~15% regression below).
        .localCheckpoint(eager=False)
    )
    vocab = words.select(
        F.concat(
            F.lit("  "),
            F.array_join(F.split(F.col("w"), ""), "  "),
            F.lit("  "),
        ).alias("rep"),
        "freq",
    )
    merge_rows = []
    for step in range(1, k + 1):
        # reps live in DOUBLED-space form for the whole k-round
        # chain (one replace per round; the doubled invariant
        # survives each replacement), split once per round on the
        # two-space delimiter. NOT checkpointed per round: the frame
        # is |vocab|-sized and the replayed replaces are cheap —
        # measured at sf0.1, per-round localCheckpoint was ~15%
        # SLOWER end-to-end (the SCALE.md checkpoint rule again:
        # materialize only when the replayed stage dominates)
        arred = vocab.select(
            "rep", "freq",
            F.split(F.trim(F.col("rep")), "  ").alias("_t"),
        )
        bigrams = F.when(
            F.size("_t") >= 2,
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> struct("
                "  element_at(_t, i) AS l, "
                "  element_at(_t, i + 1) AS r))"
            ),
        ).otherwise(F.array())
        pairs = (
            arred.select(F.explode(bigrams).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        best = (
            pairs.orderBy(
                F.col("pair_count").desc(), F.col("l"), F.col("r")
            )
            .limit(1)
            .select(
                F.lit(step).alias("step"),
                "l",
                "r",
                F.concat(F.col("l"), F.col("r")).alias("merged"),
                "pair_count",
            )
        )
        merge_rows.append(best)
        b = best.select(
            F.col("l").alias("_bl"), F.col("r").alias("_br")
        )
        vocab = vocab.crossJoin(F.broadcast(b)).select(
            _greedy_merge_rep(
                F.col("rep"), F.col("_bl"), F.col("_br")
            ).alias("rep"),
            "freq",
        )
    out = merge_rows[0]
    for b in merge_rows[1:]:
        out = out.unionByName(b)
    return out


def bpe_token_counts(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE ENCODE at corpus scale: learn ``k`` merges (identical
    algorithm and tiebreaks to :func:`bpe_learn_merges`, including
    its true-greedy space-doubled merge application) and tokenize
    every document under the learned vocabulary — reported as
    per-document ``(n_words, n_tokens)``, the number a token-budgeted
    training pipeline actually bills by. Empty/whitespace-only
    documents have no words and are OMITTED from the output; callers
    needing a row per doc should left-join back to the id set.

    The scalable design point: documents are NEVER re-encoded
    word-by-word. Token counts are computed once per DISTINCT word on
    the |vocab|-sized frame (each merge round is the same broadcast
    1-row-winner replace as learning), then per-document totals come
    from one broadcast probe of the per-word token count against the
    raw word occurrences — Σ tokens(w) over occurrences ≡ Σ m·tokens(w)
    over distinct words. Encoding cost is O(|vocab|·k) plus two
    corpus-sized passes (the vocabulary count and the billing probe),
    regardless of how often words repeat.

    r16 shape note: an earlier formulation built an intermediate
    (doc, word, m) frame and equi-joined the token counts back by
    word. That frame's consumers prune different columns, so each
    re-derived it from its own scan+explode pass (exchange reuse
    cannot dedupe structurally distinct subtrees), and the billing
    join either shuffled — or at some scales BROADCAST — the
    corpus-side frame. Counting straight off the occurrences needs no
    (doc, word) exchange at all: the only shuffles left are
    |vocab|-sized partials and the per-doc rollup, and the one join
    ships the |vocab|-sized side explicitly.
    """
    if k <= 0:
        raise ValueError("bpe_token_counts: k must be > 0")
    occ = df.select(
        F.col(id_col),
        F.explode(words_col(F.lower(F.col(text_col)))).alias("w"),
    ).where(F.length("w") > 0)
    vocab = (
        occ.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            F.concat(
                F.lit("  "),
                F.array_join(F.split(F.col("w"), ""), "  "),
                F.lit("  "),
            ).alias("rep"),
            "freq",
        )
        # |vocab|-row lazy materialization: the k per-round pair
        # aggregates and the word_tok branch prune different columns
        # (the rep chain never reads freq), so without a barrier each
        # re-derives the vocabulary from its own full scan+explode
        # corpus pass (measured: 3 corpus passes per execution at the
        # sf10 decade). Checkpointing the tiny aggregate pins the
        # whole query to exactly TWO corpus passes: this count and
        # the billing probe below.
        .localCheckpoint(eager=False)
    )
    for _step in range(1, k + 1):
        # same shape as bpe_learn_merges: doubled-space reps across
        # all rounds, one split and one replace per round, no
        # per-round checkpoint (measured slower at this frame size)
        arred = vocab.select(
            "rep", "freq",
            F.split(F.trim(F.col("rep")), "  ").alias("_t"),
        )
        bigrams = F.when(
            F.size("_t") >= 2,
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> struct("
                "  element_at(_t, i) AS l, "
                "  element_at(_t, i + 1) AS r))"
            ),
        ).otherwise(F.array())
        # The winner must be EXACTLY one row even when a round finds
        # no pairs left to merge: an empty winner would crossJoin the
        # vocabulary down to zero rows and silently drop every
        # document. A global min_by aggregate always yields one row
        # (all-NULL on an empty input — coalesced below into an
        # unmatchable pattern so the round no-ops); min over
        # (−count, l, r) IS argmax by (count DESC, l, r), and it
        # avoids the union+sort+limit formulation, whose LocalRelation
        # sentinel measured 2.4× slower per build at sf0.1.
        pairs = (
            arred.select(F.explode(bigrams).alias("p"), "freq")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        best = pairs.agg(
            F.min_by(
                F.struct(F.col("l"), F.col("r")),
                F.struct(
                    (-F.col("pair_count")).alias("nc"),
                    F.col("l"),
                    F.col("r"),
                ),
            ).alias("_w")
        ).select(
            F.col("_w.l").alias("_bl"), F.col("_w.r").alias("_br")
        )
        vocab = vocab.crossJoin(F.broadcast(best)).select(
            "w",
            _greedy_merge_rep(
                F.col("rep"), F.col("_bl"), F.col("_br")
            ).alias("rep"),
            "freq",
        )
    word_tok = vocab.select(
        "w",
        F.size(F.split(F.trim(F.col("rep")), "  ")).cast("long").alias(
            "n_tok"
        ),
    )
    return (
        # billing probe at occurrence level: count(*)/sum(n_tok) over
        # occurrences are the same integers as sum(m)/sum(m·n_tok)
        # over distinct words. No broadcast hint (r17): word_tok is
        # |distinct words|-sized — corpus-derived and unbounded at web
        # scale — so the strategy is AQE's runtime call: broadcast
        # when the MEASURED size is small, shuffle join otherwise; a
        # bad static estimate cannot broadcast the corpus side either
        # (the checkpointed vocab side has no small static size to
        # mis-trigger on).
        occ.join(word_tok.hint("shuffle_hash"), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def bpe_token_counts_byte_fallback(
    df: DataFrame,
    k: int = 3,
    learn_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE ENCODE WITH BYTE FALLBACK (r15) — the GPT-2 /
    SentencePiece ``byte_fallback`` production shape: the merge
    vocabulary is learned on ``learn_df`` (a SUBSET of the encode
    corpus; defaults to ``df`` itself) and every character the learn
    corpus never saw decomposes to its UTF-8 byte tokens
    (``<0xAB>``, one token per byte) instead of a single UNK — no
    text is ever unencodable and nothing is silently dropped.
    Output: per-document ``(n_words, n_tokens)`` like
    :func:`bpe_token_counts`.

    Mechanics: the learn corpus's CHARACTER INVENTORY rides the plan
    as a broadcast one-row array; each distinct word's symbol rep
    expands out-of-inventory characters to ``<0xHH>`` byte tokens
    via a nested ``transform`` over ``hex(encode(c))`` — pure JVM
    expressions, no UDF. Merge rounds are the same broadcast
    1-row-winner replace as :func:`bpe_token_counts`, with pair
    counts weighted by LEARN-corpus frequency only (freq 0 for
    encode-only words), so learning is exactly learning-on-subset;
    byte tokens occur only in freq-0 words and can never win a
    merge. Token counts are still computed once per DISTINCT word;
    billing is one broadcast probe of the occurrences — O(|vocab|·k)
    plus two corpus passes (see bpe_token_counts)."""
    if k <= 0:
        raise ValueError("bpe_token_counts_byte_fallback: k must be > 0")
    if learn_df is None:
        learn_df = df

    def _occ(frame: DataFrame) -> DataFrame:
        return frame.select(
            F.col(id_col),
            F.explode(
                words_col(F.lower(F.col(text_col)))
            ).alias("w"),
        ).where(F.length("w") > 0)

    # occurrence-level shape (r16, see bpe_token_counts): no
    # (doc, word) intermediate — the vocabulary is a distinct-word
    # aggregate straight off the occurrences and billing is one
    # broadcast probe of the occurrences. learn_freq keeps a lazy
    # localCheckpoint: it is |learn vocab|-sized after its aggregate
    # but feeds TWO consumers (the char inventory and the vocab
    # left-join), each of which would otherwise replay the full
    # learn-corpus tokenize pass.
    occ = _occ(df)
    learn_freq = (
        _occ(learn_df)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq_learn"))
        .localCheckpoint(eager=False)
    )
    # learn-corpus character inventory: one row, broadcast — the
    # in-vocabulary test for the fallback CASE (tiny: |distinct
    # chars|, bounded by the script inventory of the corpus)
    inv = (
        learn_freq.select(
            F.explode(F.split(F.col("w"), "")).alias("c")
        )
        .where(F.length("c") > 0)
        .agg(F.collect_set("c").alias("inv_chars"))
    )
    # symbol rep with byte fallback: in-inventory chars stay single
    # symbols; anything else becomes its UTF-8 bytes as '<0xHH>'
    # tokens (hex() is uppercase in both engines)
    fallback_rep = F.expr(
        "concat('  ', array_join(transform(split(w, ''), c -> "
        "  CASE WHEN array_contains(inv_chars, c) THEN c ELSE "
        "    array_join(transform("
        "      sequence(1, int(length(hex(encode(c, 'UTF-8'))) / 2)),"
        "      i -> concat('<0x', substring("
        "             hex(encode(c, 'UTF-8')), 2 * i - 1, 2), '>')"
        "    ), '  ') END"
        "), '  '), '  ')"
    )
    vocab = (
        occ.select("w")
        .distinct()
        .join(learn_freq, "w", "left")
        .withColumn("freq_learn", F.coalesce("freq_learn", F.lit(0)))
        .crossJoin(F.broadcast(inv))
        .select("w", fallback_rep.alias("rep"), "freq_learn")
        # same |vocab|-row barrier as bpe_token_counts: the rounds and
        # the word_tok branch otherwise each replay the distinct-word
        # corpus pass (and through it the learn-corpus join subtree)
        .localCheckpoint(eager=False)
    )
    for _step in range(1, k + 1):
        arred = vocab.select(
            "rep", "freq_learn",
            F.split(F.trim(F.col("rep")), "  ").alias("_t"),
        )
        bigrams = F.when(
            F.size("_t") >= 2,
            F.expr(
                "transform(sequence(1, size(_t) - 1), "
                "i -> struct("
                "  element_at(_t, i) AS l, "
                "  element_at(_t, i + 1) AS r))"
            ),
        ).otherwise(F.array())
        # learn-frequency weighting: encode-only words carry 0 and
        # cannot influence the winner; the global min_by keeps the
        # winner at exactly one row even on an empty round (see
        # bpe_token_counts)
        pairs = (
            arred.where(F.col("freq_learn") > 0)
            .select(F.explode(bigrams).alias("p"), "freq_learn")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq_learn").alias("pair_count"))
        )
        best = pairs.agg(
            F.min_by(
                F.struct(F.col("l"), F.col("r")),
                F.struct(
                    (-F.col("pair_count")).alias("nc"),
                    F.col("l"),
                    F.col("r"),
                ),
            ).alias("_w")
        ).select(
            F.col("_w.l").alias("_bl"), F.col("_w.r").alias("_br")
        )
        vocab = vocab.crossJoin(F.broadcast(best)).select(
            "w",
            _greedy_merge_rep(
                F.col("rep"), F.col("_bl"), F.col("_br")
            ).alias("rep"),
            "freq_learn",
        )
    word_tok = vocab.select(
        "w",
        F.size(F.split(F.trim(F.col("rep")), "  ")).cast("long").alias(
            "n_tok"
        ),
    )
    return (
        # occurrence-level billing probe, AQE-sized join side
        # (see bpe_token_counts)
        occ.join(word_tok.hint("shuffle_hash"), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def bigram_surprisal_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10_000,
) -> DataFrame:
    """Per-document mean bigram surprisal under the corpus's own
    bigram LM — the CCNet-style perplexity quality signal: templated
    or boilerplate documents score low (their bigrams dominate the
    corpus), gibberish and mojibake score high (every bigram is
    rare). Output: ``(doc_id, n_bigrams BIGINT, avg_nll DOUBLE)`` —
    ``avg_nll`` is mean negative log-probability in nats; filter or
    bucket on it downstream.

    The score is the JOINT bigram chain ``−ln P(l)·P(r|l) =
    ln(N/n(l,r))`` with ``N`` the corpus bigram total — NOT the bare
    conditional ``P(r|l)``: under the conditional alone, a unique
    word trivially "predicts" its unique successor (total(l)=n=1 ⇒
    surprisal 0), scoring gibberish as perfectly predictable. The
    joint charges the rarity of the prefix too, which is exactly the
    filter semantics.

    Cross-engine determinism: per-bigram surprisal ``ln(N/n)`` is
    rounded to an INTEGER in units of ``1/scale`` nats BEFORE the
    per-document sum, so the sum is exact integer arithmetic and
    shuffle-order-independent; the one double division per document
    (sum / (scale · n_bigrams)) is exact-input IEEE division, then
    rounded to 4 decimals per the repo's float rule.

    Plan shape (r17 de-skew, guide §2.5; replacing the r16 window
    form): the LM count n(l,r) is a ``groupBy(l, r).count()`` whose
    PARTIAL aggregation absorbs hot bigrams map-side (each map task
    emits one row per distinct bigram it saw), lazily materialized at
    |distinct bigram types| rows; it re-attaches to the occurrence
    stream via an equi-join on (l, r). The r16 form computed n(l,r)
    as a window count over raw occurrences riding one (l, r)
    repartition — one fewer tokenize pass, but a window partition
    cannot be split by AQE, so the hottest natural-language bigram
    ("of the"-class, ~0.1-1 % of all occurrences) became one
    unsplittable multi-GB straggler task at the 100 TB target. The
    join form keeps the same two corpus-scale exchanges (probe side
    by (l, r), doc rollup) and the same two tokenize passes (the
    counts branch replaces the old direct Σ-words total scan: N now
    comes from Σ n over the materialized counts frame — identical
    BIGINT, Σ_{(l,r)} n(l,r) ≡ Σ_docs max(|words|−1, 0)), and the
    probe-side exchange is a JOIN input, which AQE's skew handling
    CAN split at runtime (a replicated-build sub-join per split).
    Locally AQE instead broadcasts the small counts side — the same
    plan degenerates to zero occurrence shuffles at toy scale.
    Σ occurrences of s ≡ Σ m·s over distinct bigrams — exact integer
    arithmetic either way, so results are bit-identical to both
    earlier forms.

    Documents with fewer than 2 words have no bigrams and are
    OMITTED from the output (no occurrence rows), by design: a
    perplexity under a bigram LM is undefined for them. Callers
    needing a row per input doc should left-join this result back to
    the id set (n_bigrams=0, avg_nll NULL).
    """
    w = words_col(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array())
    occ = df.select(
        F.col(id_col), F.explode(bigrams).alias("p")
    ).select(id_col, F.col("p.l").alias("l"), F.col("p.r").alias("r"))
    # n(l,r) via partial-aggregated groupBy — hot keys collapse
    # map-side; |distinct bigram types| rows, lazily materialized so
    # the join probe and the Σn total read it without re-tokenizing
    counts = (
        occ.groupBy("l", "r")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # corpus bigram total N = Σ n over the counts frame (identical
    # BIGINT to the former direct Σ max(|words|−1, 0) corpus scan)
    tot = counts.agg(F.sum("n").alias("_N"))
    scored = (
        # inner equi-join is exact: every occurrence has its (l, r)
        # counts row by construction, and split() never yields NULL
        # tokens, so no row is dropped. shuffle_hash on the counts
        # side: the build has exactly one row per key (per-partition
        # hash tables stay bounded under AQE partition sizing), the
        # corpus-side SORT a sort-merge join would need disappears
        # (sf10 interleaved A/B 5.4-5.9 → 4.7-5.2 s), and AQE's skew
        # handling still splits hot-(l,r) probe partitions, which is
        # the reason this is a join and not a window.
        occ.join(counts.hint("shuffle_hash"), ["l", "r"])
        .crossJoin(F.broadcast(tot))
        .select(
            F.col(id_col),
            F.round(
                F.log(F.col("_N").cast("double") / F.col("n")) * scale
            )
            .cast("long")
            .alias("s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(
            F.sum("s").cast("double") / (scale * F.count(F.lit(1))),
            4,
        ).alias("avg_nll"),
    )


def bigram_next_words(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Bigram language-model table: for every word, the top-``k``
    next words with count and conditional probability P(next|word) —
    the n-gram LM statistic behind autocomplete-style heuristics and
    the corpus-predictability diagnostics next to
    :func:`word_entropy`.

    Adjacent word pairs come from a zip-shift over each document's
    word array (narrow, O(len)); counts aggregate once on the
    (word, next) pair; per-word totals — |vocab| rows — re-attach
    via an AQE-sized join, broadcast only when measured small (never
    a window partitioned by the skewed word key, same rule as
    events.transition_counts); top-k ranks on the
    high-cardinality word with a (count DESC, next) tiebreak.
    """
    from pyspark.sql import Window

    w = words_col(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array())
    # |distinct bigram types|-sized, consumed by BOTH the totals
    # aggregate and the ranked join — lazy-materialize once so the
    # tokenize+explode pass does not replay per consumer (registry
    # plan audit: 2 corpus scans in one plan).
    counts = (
        df.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.l").alias("word"), F.col("p.r").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.groupBy("word").agg(F.sum("n").alias("_total"))
    ranked = (
        # no broadcast hint (r17): totals is |vocab|-sized — unbounded
        # at web scale — and the probe side is the sub-corpus
        # checkpointed counts frame, not the corpus; AQE broadcasts by
        # MEASURED size when small and falls back to a keyed join
        # (skew-splittable) when not
        counts.join(totals, "word")
        .select(
            "word",
            "next",
            "n",
            F.round(F.col("n").cast("double") / F.col("_total"), 4)
            .alias("p"),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.partitionBy("word").orderBy(
                    F.col("n").desc(), F.col("next")
                )
            )
            .cast("long"),
        )
    )
    return ranked.where(F.col("rnk") <= k)


def pmi_collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
    scale: int = 10_000,
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information over
    adjacent word pairs — the classic "strongly associated phrase"
    miner (New York, machine learning) behind phrase vocabularies and
    tokenizer pre-segmentation. ``PMI = ln(N·n(l,r) / (c(l)·c(r)))``
    with the unigram margins taken from the bigram table itself
    (row/column totals), so ONE tokenize pass feeds everything.

    Cross-engine determinism: PMI is rounded to an INTEGER in units
    of ``1/scale`` nats and the top-k ranks on that integer with a
    (l, r) tiebreak — float ordering never decides the cut. The
    ``min_count`` floor kills the PMI pathology where a pair of
    hapaxes scores highest.

    Plan: one bigram aggregate on the (l, r) key; the margins —
    |vocab| rows each — re-attach via AQE-sized joins (broadcast only
    when measured small; never a window over the skewed word key, the
    transition_counts rule — and never a FORCED broadcast, which
    would be an OOM at web-scale vocabularies); the global top-k is
    an orderBy+limit that Catalyst executes as TakeOrderedAndProject
    (per-partition heaps, no full sort).
    """
    w = words_col(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array())
    counts = (
        df.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # counts feeds FOUR consumers (both margins, the total, and the
    # scored stream) whose aggregations differ BELOW the exchange —
    # the left margin partial-aggregates by l, the right by r, the
    # total globally — so nothing is reusable and each consumer
    # replays the whole tokenize+explode corpus pass (profiled at
    # sf0.1: four identical ~2.2 taskSec map stages per execution).
    # The counts frame is the distinct-bigram domain — tiny next to
    # the corpus — so eager materialization is the cheap side of the
    # consumer-topology rule (SCALE.md; same call as rfm_segments /
    # gap_fill_hourly): ONE tokenize pass, margins become aggregates
    # over the materialized |vocab|²-bounded frame.
    counts = counts.localCheckpoint()
    left = counts.groupBy("l").agg(F.sum("n").alias("_cl"))
    right = counts.groupBy("r").agg(F.sum("n").alias("_cr"))
    tot = counts.agg(F.sum("n").alias("_N"))
    scored = (
        counts.where(F.col("n") >= min_count)
        # margins are |vocab|-sized (unbounded at web scale): no
        # broadcast hints — AQE picks broadcast only when the MEASURED
        # margin frames are genuinely small (r17)
        .join(left, "l")
        .join(right, "r")
        .crossJoin(F.broadcast(tot))
        .select(
            "l",
            "r",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.log(
                    F.col("_N").cast("double")
                    * F.col("n")
                    / (F.col("_cl") * F.col("_cr"))
                )
                * scale
            )
            .cast("long")
            .alias("_s"),
        )
    )
    return (
        scored.orderBy(F.col("_s").desc(), "l", "r")
        .limit(k)
        .select(
            "l",
            "r",
            "n",
            F.round(F.col("_s").cast("double") / scale, 4).alias("pmi"),
        )
    )


# --- HTML cleaning -----------------------------------------------------
#
# All patterns are RE2-compatible (inline (?s) flag, lazy quantifiers,
# no lookaround/backreferences) so Spark (Java regex) and DuckDB (RE2)
# produce byte-identical cleaned text. Entity decode order matters:
# '&amp;' is decoded LAST so '&amp;lt;' yields the literal '&lt;', not
# '<' (the HTML5 double-decode bug).
HTML_SCRIPT_PATTERN = r"(?s)<script[^>]*>.*?</script>"
HTML_STYLE_PATTERN = r"(?s)<style[^>]*>.*?</style>"
HTML_TAG_PATTERN = r"<[^>]*>"
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def strip_html(
    df: DataFrame, html_col: str = "html", out_col: str = "clean_text"
) -> DataFrame:
    """Boilerplate-free text extraction from raw HTML — the first
    stage of every web-crawl training-data pipeline (the
    trafilatura/justext step, reduced to its deterministic core):
    drop <script>/<style> blocks wholesale, strip the remaining tags,
    decode the six standard entities, collapse whitespace runs.

    Narrow regexp map at scan speed — zero UDFs, zero shuffle; at
    100 TB of WARC-extracted HTML this runs inside whole-stage
    codegen at whatever rate the parquet scan delivers. A real
    extractor adds DOM heuristics (link density, block scoring) —
    those are per-document local too, so the plan shape is identical;
    this operator pins the regex/entity/whitespace contract.
    """
    c: Column = F.col(html_col)
    c = F.regexp_replace(c, HTML_SCRIPT_PATTERN, " ")
    c = F.regexp_replace(c, HTML_STYLE_PATTERN, " ")
    c = F.regexp_replace(c, HTML_TAG_PATTERN, " ")
    for ent, rep in HTML_ENTITIES:
        # literal (non-regex) replace — byte-identical to SQL replace()
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out_col, c)


def with_nfc_normalized(
    df: DataFrame, text_col: str = "text", out_col: str = "nfc_text"
) -> DataFrame:
    """Unicode NFC normalization via an Arrow-batched pandas UDF —
    the canonicalization step before hashing/dedup so 'e' + U+0301
    and the precomposed U+00E9 dedup together. Spark has no built-in
    normalizer, so this is a legitimate Python-lane op: vectorized
    over Arrow batches (pandas str map over a C-implemented stdlib
    call), never row-at-a-time pickled rows, and still a narrow map
    (no shuffle) that pipelines into the scan stage.
    """
    import pandas as pd  # noqa: F401 (signature typing)
    import unicodedata

    @F.pandas_udf("string")
    def _nfc(s):  # type: ignore[no-untyped-def]
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return df.withColumn(out_col, _nfc(F.col(text_col)))


def gopher_quality_gates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    — public paper), the heavier sibling of :func:`quality_filter`:

    - word count within [min_words, max_words]
    - mean word length within [3, 12] characters
    - ≥ 80% of words contain at least one alphabetic character
    - ellipsis-terminated lines ≤ 30% of lines
    - bullet-initiated lines ≤ 90% of lines
    - duplicate-line fraction ≤ 30% (the boilerplate signal)

    Every rule is a higher-order array expression over one split —
    narrow map at scan speed, no shuffle, no UDF. Ratios compare as
    exact integer cross-products (hits * 100 vs n * threshold) so no
    float rounding decides a keep/drop and any external engine
    reproduces the identical keep set bit-for-bit.

    ``keep_cols`` (r16): extra input columns passed through the
    projection, so a pipeline can compute the gates INLINE on its
    spine frame instead of projecting to (id, flags) and join-
    composing back on the id — the gates are a narrow map, and a
    join that re-attaches a narrow map's output is two corpus-scale
    exchanges for nothing (guide §2.4 "remove shuffles outright").
    """
    text = F.col(text_col)

    # r17 (guide §1.2 per-task work): every rule consumes the same two
    # computed arrays (the whitespace split and the non-blank lines),
    # but sibling projection expressions each re-evaluated them
    # (CollapseProject re-inlines plain aliases). The arrays — and
    # each O(len) rule aggregate over them — now evaluate ONCE per row
    # inside a nested one-element binding whose outer shell is an
    # ``inline`` Generate: a structural barrier the optimizer cannot
    # collapse, one output row per input row, O(1) field references
    # downstream. Every rule expression is verbatim.
    def rule_counts(ws, lns):
        return F.struct(
            F.size(ws).alias("nw"),
            F.size(lns).alias("nl"),
            F.aggregate(
                ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
            ).alias("tc"),
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))).alias("aw"),
            F.size(
                F.filter(lns, lambda ln: F.trim(ln).rlike(r"\.\.\.$"))
            ).alias("el"),
            F.size(
                F.filter(lns, lambda ln: F.trim(ln).rlike("^[-*•]"))
            ).alias("bl"),
            (
                F.size(lns)
                - F.size(F.array_distinct(F.transform(lns, F.trim)))
            ).alias("dl"),
        )

    def verdict(s):
        reasons = F.concat_ws(
            ",",
            F.when(s["nw"] < 50, F.lit("too_few_words")),
            F.when(s["nw"] > 100000, F.lit("too_many_words")),
            F.when(s["tc"] < s["nw"] * 3, F.lit("words_too_short")),
            F.when(s["tc"] > s["nw"] * 12, F.lit("words_too_long")),
            F.when(s["aw"] * 100 < s["nw"] * 80, F.lit("non_alpha")),
            F.when(s["el"] * 100 > s["nl"] * 30, F.lit("ellipsis_lines")),
            F.when(s["bl"] * 100 > s["nl"] * 90, F.lit("bullet_lines")),
            F.when(s["dl"] * 100 > s["nl"] * 30, F.lit("duplicate_lines")),
        )
        return F.struct(
            s["nw"].cast("long").alias("n_words"),
            s["dl"].cast("long").alias("n_dup_lines"),
            (reasons == "").alias("keep"),
            reasons.alias("reasons"),
        )

    counts = F.zip_with(
        F.array(words_col(text)),
        F.array(
            F.filter(
                F.split(text, r"\n"), lambda ln: F.length(F.trim(ln)) > 0
            )
        ),
        rule_counts,
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.inline(F.transform(counts, verdict)),
    )


def linear_quality_score(
    df: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    weight_seed: int = 7,
) -> DataFrame:
    """Model-based quality filtering, the fastText-classifier shape
    (Joulin et al. 2016; the CCNet/GPT-3 "quality filter" stage):
    hashing-trick bag-of-words features (:func:`feature_hash_counts`)
    → sparse dot with a fixed weight vector → sigmoid score →
    keep/drop. The weights here are derived DETERMINISTICALLY from
    the bucket index (hash → integer milli-units in [-1000, 1000]) so
    the whole pipeline is engine-reproducible; production swaps in
    learned weights broadcast as a tiny (n_buckets)-row frame — the
    PLAN (featurize, sparse dot, threshold; no vocabulary build, no
    dense vectors, one keyed aggregate) is identical and is what this
    operator pins.

    Determinism: the logit accumulates as exact INTEGER milli-units
    (count × milli-weight), so the keep decision (logit > 0) never
    touches a float; only the reported sigmoid is floating (rounded
    4, after one exp whose argument both engines compute from the
    same integers).

    r16 (guide §2.4): billed at TOKEN level, not (doc, bucket) level.
    For a linear model the per-(doc, bucket) count aggregate is
    algebraically redundant — Σ_buckets n_b·w_b ≡ Σ_tokens
    w(bucket(token)) and Σ_buckets n_b ≡ the token count, both exact
    integer sums — so the featurize-then-rebill shape's SECOND
    corpus-scale exchange disappears: the one remaining groupBy(doc)
    collapses map-side to ≤1 partial row per document per task (each
    document's tokens are contiguous after the explode). Bucket and
    weight hashes are the verbatim :func:`feature_hash_counts`
    expressions, so every integer is bit-identical to the sparse
    formulation (which remains the public featurizer surface).
    """
    tokens = df.select(
        F.col(id_col),
        F.explode(words_col(F.col(text_col))).alias("w"),
    )
    bucket = portable_hash32(F.col("w"), seed=seed) % n_buckets
    # the weight table is a CONSTANT-FOLDED literal array (all-literal
    # md5s evaluate once at plan time), so the per-token cost stays at
    # exactly one md5 — the bucket hash — plus an array lookup; the
    # hash is unsigned, so bucket ∈ [0, n_buckets) and 1-based
    # element_at indexes it directly
    weight_table = F.array(
        *[
            portable_hash32(F.lit(str(b)), seed=weight_seed) % 2001 - 1000
            for b in range(n_buckets)
        ]
    )
    w_milli = F.element_at(weight_table, bucket.cast("int") + 1)
    agg = (
        tokens.select(F.col(id_col), w_milli.alias("_w"))
        .groupBy(id_col)
        .agg(
            F.sum("_w").cast("long").alias("logit_milli"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )
    logit = F.col("logit_milli") / (F.col("n_words") * 1000.0)
    return agg.select(
        F.col(id_col),
        "logit_milli",
        "n_words",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 4).alias(
            "score"
        ),
        (F.col("logit_milli") > 0).alias("keep"),
    )


def canonicalize_urls(
    df: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """URL canonicalization — the dedup-key normalizer every web
    pipeline runs before URL-level dedup and frontier scheduling:

    - scheme and host lowercase;
    - default ports stripped (``:80`` for http, ``:443`` for https);
    - tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``);
    - remaining query parameters sorted bytewise (param order never
      distinguishes two URLs);
    - fragment removed; trailing ``?`` / lone ``/``-less empty path
      normalized.

    All JVM built-ins (parse_url, regexp, higher-order array sort) —
    narrow map at scan speed, zero UDFs. RE2-compatible patterns so
    external engines replay the identical normalization.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == F.lit("80")))
        & ~((scheme == F.lit("https")) & (port == F.lit("443")))
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid)="),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(
            F.size(params) > 0, F.concat(F.lit("?"), canon_q)
        ).otherwise(F.lit("")),
    )
    return df.withColumn(
        out_col, F.when(scheme == "", F.lit(None)).otherwise(canon)
    )


def _unigram_dp_expr(max_word: int, max_piece: int) -> str:
    """SQL-HOF text for the unigram-LM prefix DP: one fold whose
    accumulator IS the growing best-cost array (1-indexed;
    ``acc[j + 1]`` = cheapest segmentation cost of the first ``j``
    chars), padded past the word length so element 13 is always the
    word's total cost. Lambda variables keep the expression LINEAR
    in max_word — column-chained formulations blow up exponentially
    under alias substitution in both Catalyst and DuckDB."""
    cands = [f"element_at(acc, i) + try_element_at(m, substr(w, i, 1))"]
    for l in range(2, max_piece + 1):
        cands.append(
            f"CASE WHEN i >= {l} THEN element_at(acc, i - {l - 1}) "
            f"+ try_element_at(m, substr(w, i - {l - 1}, {l})) END"
        )
    return (
        f"aggregate(sequence(1, {max_word}), array(CAST(0 AS BIGINT)), "
        "(acc, i) -> concat(acc, array("
        "CASE WHEN i > length(w) THEN element_at(acc, i) "
        f"ELSE least({', '.join(cands)}) END)))"
    )


def _unigram_walk_expr(max_word: int, max_piece: int) -> str:
    """SQL-HOF text for the Viterbi piece walk: a second fold whose
    accumulator is the piece list read RIGHT-TO-LEFT off the word;
    the current position is the word length minus the summed piece
    lengths, and each step takes the LONGEST piece consistent with
    the DP array (deterministic tiebreak)."""
    pos = ("CAST(length(w) - aggregate(acc, CAST(0 AS BIGINT), "
           "(a, q) -> a + length(q)) AS INT)")
    whens = []
    for l in range(max_piece, 1, -1):
        whens.append(
            f"WHEN {pos} >= {l} AND element_at(barr, {pos} - {l - 1}) "
            f"+ try_element_at(m, substr(w, {pos} - {l - 1}, {l})) "
            f"= element_at(barr, {pos} + 1) THEN {l}"
        )
    lstar = f"CASE {' '.join(whens)} ELSE 1 END"
    return (
        f"aggregate(sequence(1, {max_word}), "
        "CAST(array() AS ARRAY<STRING>), "
        f"(acc, z) -> CASE WHEN {pos} <= 0 THEN acc "
        f"ELSE concat(acc, array(substr(w, {pos} - ({lstar}) + 1, "
        f"({lstar})))) END)"
    )


def _unigram_cost(f: Column, p: Column) -> Column:
    """Integer-unit surrogate for −log p(piece): cost falls 8 units
    per frequency doubling (bit_length via bin()) with a small bonus
    for longer pieces — the repo's integer-determinism rule (exact
    in both engines; float logs are not)."""
    return (
        (F.lit(40) - F.length(F.bin(f))) * 8
        + (F.lit(4) - F.length(p))
    ).cast("long")


def unigram_lm_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word: int = 12,
    max_piece: int = 4,
    vocab_size: int = 64,
) -> DataFrame:
    """Unigram-LM (SentencePiece-style, Kudo 2018) tokenizer TRAINING
    at corpus scale, hard-EM variant: seed a substring candidate
    vocabulary, Viterbi-segment every DISTINCT word under integer
    piece costs (E-step), re-estimate costs from piece usage and
    prune unused multi-char pieces (M-step), then bill each document
    under the re-estimated vocabulary — reported as per-document
    ``(n_words, n_tokens)`` like :func:`bpe_token_counts`.

    The scalable design point mirrors the BPE lanes: NO driver-side
    corpus state — the vocabulary flows through the plan as a
    broadcast 1-row ``map<piece, cost>`` built by
    ``map_from_entries(collect_list(...))``, the per-word DP and
    Viterbi walk are single JVM fold expressions (linear in
    ``max_word``; see :func:`_unigram_dp_expr`), and the top-V seed
    selection is a ``TakeOrderedAndProject`` (orderBy + limit), never
    a single-partition window. Words are truncated to ``max_word``
    chars (12) before grouping — the documented determinism cap, the
    same in the DuckDB oracle. E-step usage counts and the seed
    substring frequencies are plain keyed aggregates, so every stage
    shuffles on (piece) or (word) keys only.

    r16 shape note (the ``bpe_token_counts`` restructure, applied
    here): the earlier (doc, word, m) intermediate fed two consumers
    that prune different columns, so each re-derived it from its own
    scan+explode corpus pass, and the billing join shuffled the
    corpus-side frame. Billing now probes the raw word OCCURRENCES
    with the broadcast |distinct words|-sized token-count side —
    ``count(*)``/``sum(n_tok)`` over occurrences are the same
    integers as ``sum(m)``/``sum(m·n_tok)`` over distinct words —
    leaving exactly TWO corpus passes (the word-frequency count and
    the billing probe).
    """
    occ, vocab1, e_step, cost_map = _unigram_train(
        df, text_col, id_col, max_word, max_piece, vocab_size
    )
    e2 = e_step(cost_map(vocab1))
    word_tok = e2.select(
        "w", F.size("pieces").cast("long").alias("n_tok")
    )
    return (
        # shuffle_hash, not broadcast (r17): word_tok is |distinct
        # words|-sized — corpus-derived and unbounded at web scale
        # (10^8-row vocabularies), so a forced broadcast is an OOM at
        # the 100 TB target; shuffled-hash builds the vocab side per
        # partition with no corpus-side sort (same call as the BPE
        # billing joins — isolated A/B at sf0.1: within noise).
        occ.join(word_tok.hint("shuffle_hash"), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


def _unigram_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_word: int,
    max_piece: int,
    vocab_size: int,
):
    """The shared unigram-LM training pipeline: word occurrences →
    word counts → seed substring vocabulary → E-step (Viterbi fold)
    → usage M-step with pruning. Returns ``(occ, vocab1, e_step,
    cost_map)`` so callers bill documents (token counts, one
    occurrence-level probe) or materialize the artifact (vocabulary).

    The |distinct words|-sized ``wfreq`` frame feeds THREE
    structurally different consumers (seed pieces, E-step round 1,
    E-step round 2) and the |distinct pieces|-sized ``pf`` two
    (char fallback + top-V seeds) — per-branch pruning makes each
    subtree structurally distinct, so without materialization every
    consumer replayed the full tokenize pass (audited r16: 7 corpus
    scans in one plan). Both get a lazy ``localCheckpoint`` — they
    compute inside the first execution from the parquet inputs;
    nothing occurrence-scale persists."""
    occ = (
        df.select(
            F.col(id_col),
            F.explode(words_col(F.lower(F.col(text_col)))).alias("w0"),
        )
        .where(F.length("w0") > 0)
        .select(F.col(id_col), F.substring("w0", 1, max_word).alias("w"))
    )
    wfreq = (
        occ.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=False)
    )
    pieces_expr = (
        "flatten(transform(sequence(1, length(w)), i -> "
        f"filter(transform(sequence(1, {max_piece}), l -> "
        "CASE WHEN i + l - 1 <= length(w) THEN substr(w, i, l) END), "
        "p -> p IS NOT NULL)))"
    )
    pf = (
        wfreq.select(F.explode(F.expr(pieces_expr)).alias("p"), "freq")
        .groupBy("p")
        .agg(F.sum("freq").cast("long").alias("f"))
        .localCheckpoint(eager=False)
    )
    chars = pf.where(F.length("p") == 1)
    multi = (
        pf.where(F.length("p") > 1)
        .orderBy(F.desc("f"), F.asc("p"))
        .limit(vocab_size)
    )
    vocab0 = chars.unionByName(multi)

    def cost_map(vocab: DataFrame) -> DataFrame:
        return vocab.select(
            F.struct(
                F.col("p"), _unigram_cost(F.col("f"), F.col("p")).alias("c")
            ).alias("e")
        ).agg(
            F.map_from_entries(
                F.sort_array(F.collect_list("e"))
            ).alias("m")
        )

    def e_step(cmap: DataFrame) -> DataFrame:
        return (
            wfreq.crossJoin(F.broadcast(cmap))
            .withColumn(
                "barr", F.expr(_unigram_dp_expr(max_word, max_piece))
            )
            .select(
                "w", "freq",
                F.expr(_unigram_walk_expr(max_word, max_piece)).alias(
                    "pieces"
                ),
            )
        )

    e1 = e_step(cost_map(vocab0))
    usage = (
        e1.select(F.explode("pieces").alias("p"), "freq")
        .groupBy("p")
        .agg(F.sum("freq").cast("long").alias("f"))
    )
    vocab1 = (
        vocab0.select("p")
        .join(usage, "p", "left")
        .select("p", F.coalesce("f", F.lit(0)).cast("long").alias("f"))
        .where((F.length("p") == 1) | (F.col("f") >= 1))
    )
    return occ, vocab1, e_step, cost_map


def unigram_lm_vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word: int = 12,
    max_piece: int = 4,
    vocab_size: int = 64,
) -> DataFrame:
    """The trained unigram-LM vocabulary ARTIFACT (r14): one row per
    surviving piece after the M-step — ``(piece, usage, cost)``,
    usage being the Viterbi-path frequency mass and cost the
    integer −log-likelihood surrogate the round-2 encoder bills
    with. This is the table a tokenizer-training pipeline persists
    and ships; same training plan as
    :func:`unigram_lm_token_counts` (shared ``_unigram_train``)."""
    _occ, vocab1, _e, _cm = _unigram_train(
        df, text_col, id_col, max_word, max_piece, vocab_size
    )
    return vocab1.select(
        F.col("p").alias("piece"),
        F.col("f").cast("long").alias("usage"),
        _unigram_cost(F.col("f"), F.col("p")).alias("cost"),
    )


def _wordpiece_walk_expr(max_word: int, max_piece: int) -> str:
    """SQL-HOF text for WordPiece greedy longest-match-first
    inference (Devlin et al. 2018 — public): a left-to-right fold
    whose accumulator is the piece list; the current position is the
    summed piece lengths (continuation pieces carry a '##' prefix
    that does not consume characters), and each step takes the
    LONGEST vocab piece at the position — word-initial pieces match
    at position 0, '##'-prefixed continuation pieces after it. The
    single-char fallback is guaranteed by vocabulary construction,
    so no unknown branch is needed."""
    # consumed chars so far: by construction every piece AFTER the
    # first carries a synthetic 2-char '##' prefix and the first
    # never does, so subtract 2 per non-first piece — counting by
    # emission order, NOT by prefix sniffing, stays exact for words
    # containing literal '#' characters
    pos = ("CAST(aggregate(acc, CAST(0 AS BIGINT), (a, q) -> "
           "a + length(q)) "
           "- 2 * greatest(0, size(acc) - 1) AS INT)")
    # candidate piece of length l at pos: word-initial (pos = 0)
    # matches the raw substring; continuation matches '##' || sub
    def cand(l: int) -> str:
        sub = f"substr(w, {pos} + 1, {l})"
        return (f"CASE WHEN {pos} + {l} <= length(w) AND "
                f"try_element_at(m, CASE WHEN {pos} = 0 THEN {sub} "
                f"ELSE '##' || {sub} END) IS NOT NULL "
                f"THEN CASE WHEN {pos} = 0 THEN {sub} "
                f"ELSE '##' || {sub} END END")
    whens = " ".join(
        f"WHEN {cand(l)} IS NOT NULL THEN {cand(l)}"
        for l in range(max_piece, 0, -1)
    )
    return (
        f"aggregate(sequence(1, {max_word}), "
        "CAST(array() AS ARRAY<STRING>), "
        f"(acc, z) -> CASE WHEN {pos} >= length(w) THEN acc "
        f"ELSE concat(acc, array(CASE {whens} END)) END)"
    )


def wordpiece_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word: int = 12,
    max_piece: int = 4,
    vocab_size: int = 64,
) -> DataFrame:
    """WordPiece ENCODE at corpus scale (greedy longest-match-first
    inference with '##' continuation pieces — the BERT tokenizer's
    published algorithm) under a corpus-derived vocabulary: all
    word-initial and continuation single chars (the guaranteed
    fallback) plus the top ``vocab_size`` multi-char pieces by
    frequency (word-initial and continuation scored as distinct
    pieces, ties by piece text). Reported as per-document
    ``(n_words, n_tokens)`` like the BPE and unigram lanes.

    Same scale shape as :func:`unigram_lm_token_counts`: tokenize
    once per DISTINCT word with a single JVM fold (linear in
    ``max_word``), vocabulary as a broadcast 1-row map — no
    driver-side corpus state, keyed aggregates everywhere. r16: the
    (doc, word, m) intermediate is gone — billing probes the raw
    occurrences against the broadcast per-word token counts
    (``count(*)``/``sum(n_tok)`` over occurrences ≡
    ``sum(m)``/``sum(m·n_tok)`` over distinct words), and the
    |distinct words|-sized ``wfreq`` (two consumers: pieces + walk)
    is lazily ``localCheckpoint``ed so the tokenize pass runs once.
    """
    occ = (
        df.select(
            F.col(id_col),
            F.explode(words_col(F.lower(F.col(text_col)))).alias("w0"),
        )
        .where(F.length("w0") > 0)
        .select(F.col(id_col), F.substring("w0", 1, max_word).alias("w"))
    )
    wfreq = (
        occ.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .localCheckpoint(eager=False)
    )
    # piece candidates with the continuation distinction: position 1
    # emits the raw substring, positions > 1 emit '##' || substring
    pieces_expr = (
        "flatten(transform(sequence(1, length(w)), i -> "
        f"filter(transform(sequence(1, {max_piece}), l -> "
        "CASE WHEN i + l - 1 <= length(w) THEN "
        "CASE WHEN i = 1 THEN substr(w, i, l) "
        "ELSE '##' || substr(w, i, l) END END), "
        "p -> p IS NOT NULL)))"
    )
    pf = (
        wfreq.select(F.explode(F.expr(pieces_expr)).alias("p"), "freq")
        .groupBy("p")
        .agg(F.sum("freq").cast("long").alias("f"))
    )
    plen = F.length("p") - F.when(
        F.col("p").startswith("##"), F.lit(2)
    ).otherwise(F.lit(0))
    chars = pf.where(plen == 1)
    multi = (
        pf.where(plen > 1)
        .orderBy(F.desc("f"), F.asc("p"))
        .limit(vocab_size)
    )
    vmap = (
        chars.unionByName(multi)
        .select(F.struct(F.col("p"), F.lit(1).alias("c")).alias("e"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list("e"))
            ).alias("m")
        )
    )
    word_tok = (
        wfreq.crossJoin(F.broadcast(vmap))
        .select(
            "w",
            F.size(
                F.expr(_wordpiece_walk_expr(max_word, max_piece))
            ).cast("long").alias("n_tok"),
        )
    )
    return (
        # shuffle_hash, not broadcast (r17): |distinct words|-sized,
        # unbounded at web scale (see unigram_lm_token_counts)
        occ.join(word_tok.hint("shuffle_hash"), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


_BLOCK_TAG_PATTERN = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|article|section|table|tr|td|"
    r"nav|header|footer|br)[^>]*>"
)
_ANCHOR_PATTERN = r"(?is)<a\b[^>]*>.*?</a>"


def main_content_blocks(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_chars: int = 10,
    max_link_milli: int = 333,
) -> DataFrame:
    """Main-content extraction by LINK-DENSITY block scoring — the
    deterministic core of jusText/trafilatura (Pomikálek 2011,
    public thesis), one rung above :func:`strip_html`: boilerplate
    (navigation, footers, related-links rails) is short and
    link-dominated, content is long and link-sparse.

    Split the HTML into blocks at block-level tag boundaries
    (posexplode keeps the block's position), then per block compute
    the visible text, the text with ANCHOR ELEMENTS REMOVED
    (``<a…>…</a>`` dropped wholesale), and score
    ``link_chars = len(text) − len(text_sans_anchors)``; a block is
    content iff ``n_chars ≥ min_chars`` and the link density
    ``link_chars/n_chars ≤ max_link_milli`` (integer milli math —
    no floats to drift cross-engine). Every step is a JVM regexp
    expression in one codegen stage: at 100 TB the scan rate is the
    bound, zero UDFs, and the only wide op is whatever the caller
    aggregates afterwards. Emits ALL non-empty blocks with the
    ``kept`` verdict so callers can tune thresholds on real
    distributions."""
    frag = F.posexplode(
        F.split(F.col(html_col), _BLOCK_TAG_PATTERN)
    )
    blocks = df.select(F.col(id_col), frag.alias("block_idx", "_frag"))

    def visible(c: Column) -> Column:
        c = F.regexp_replace(c, r"<[^>]*>", " ")
        return F.trim(F.regexp_replace(c, r"\s+", " "))

    txt = visible(F.col("_frag"))
    sans = visible(
        F.regexp_replace(F.col("_frag"), _ANCHOR_PATTERN, " ")
    )
    out = blocks.select(
        id_col,
        "block_idx",
        txt.alias("block_text"),
        F.length(txt).cast("long").alias("n_chars"),
        (F.length(txt) - F.length(sans)).cast("long").alias(
            "link_chars"
        ),
    ).where(F.col("block_text") != "")
    return out.withColumn(
        "kept",
        (F.col("n_chars") >= min_chars)
        & (
            F.col("link_chars") * 1000
            <= F.lit(max_link_milli) * F.col("n_chars")
        ),
    )


# cp1252-specific codepoints back to their raw byte positions: mojibake
# usually went bytes->cp1252 (not latin-1), so the RIGHT SINGLE QUOTE
# shows as 'a-circumflex + EURO + TM' where EURO/TM are cp1252 displays
# of bytes 0x80/0x99. translate() restores those 27 chars to
# U+0080-U+009F, after which the latin-1 story holds.
_CP1252_BYTES = [
    0x80, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x8B,
    0x8C, 0x8E, 0x91, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99,
    0x9A, 0x9B, 0x9C, 0x9E, 0x9F,
]
_CP1252_FROM = bytes(_CP1252_BYTES).decode("cp1252")
_CP1252_TO = "".join(chr(b) for b in _CP1252_BYTES)

# a string is FIXABLE iff, after deleting well-formed
# UTF-8-read-as-single-byte sequences, nothing non-ASCII remains (so
# decode() never sees malformed input -- ANSI-safe), and at least one
# such sequence existed (so clean accented text is left alone)
_MOJIBAKE_SEQ = (
    "([\u00C2-\u00DF][\u0080-\u00BF])"
    "|([\u00E0-\u00EF][\u0080-\u00BF]{2})"
    "|([\u00F0-\u00F4][\u0080-\u00BF]{3})"
)


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "fixed_text"
) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252/latin-1 text (the ftfy core
    case): 'CafA(c)' -> 'Cafe' with acute, the cp1252 triple ->
    a right single quote. The fix is pure JVM expressions --
    translate the 27 cp1252-visible codepoints back to bytes
    0x80-0x9F, then ``decode(encode(s, latin-1), utf-8)`` -- gated
    by a CONSERVATIVE validity regex: every non-ASCII char must
    participate in a well-formed 2/3/4-byte UTF-8
    lead+continuation pattern, else the string is left untouched
    (genuine 'deja vu' accents never match, and ANSI-mode decode
    never sees malformed bytes). Adds ``out_col`` and a
    ``was_fixed`` flag; zero UDFs, scan-speed."""
    t = F.translate(
        F.col(text_col), _CP1252_FROM, _CP1252_TO
    )
    residue = F.regexp_replace(t, _MOJIBAKE_SEQ, "")
    # ANY non-ASCII residue (negated class \u2014 covers astral-plane
    # code points like emoji, not just the BMP) means the string is
    # not pure-mojibake and must be left alone: encode(latin-1)
    # would throw under ANSI mode on a code point > U+00FF and kill
    # the stage (r15 ADVICE high item).
    fixable = (
        ~residue.rlike("[^\\x00-\\x7F]")
    ) & t.rlike(_MOJIBAKE_SEQ)
    fixed = F.when(
        fixable, F.decode(F.encode(t, "ISO-8859-1"), "UTF-8")
    ).otherwise(F.col(text_col))
    return df.withColumn(out_col, fixed).withColumn(
        "was_fixed", fixable
    )


# Major Unicode script blocks by explicit codepoint range (BMP core
# blocks only — the ranges a corpus router actually needs; extension
# blocks like CJK-B or Cyrillic Supplement stay out of scope and
# count as 'other'). Explicit ranges, not \\p{script=...}, so an
# external engine replays the same class byte-for-byte.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("arabic", "؀-ۿ"),
    ("cjk", "一-鿿"),
    ("cyrillic", "Ѐ-ӿ"),
    ("devanagari", "ऀ-ॿ"),
    ("greek", "Ͱ-Ͽ"),
    ("hangul", "가-힯"),
    ("hebrew", "֐-׿"),
    ("kana", "぀-ヿ"),
    ("latin", "A-Za-zÀ-ɏ"),
)


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode script detection (the routing step before any
    language-specific tokenizer/filter in a multilingual corpus):
    per-document counts of characters in each major script block of
    ``SCRIPT_RANGES`` (as ``n_<script>`` columns), the dominant
    script (argmax, deterministic alphabetical tie-break, ``und``
    when no script char at all) and its share in integer milli of
    all script-classified chars.

    Counting is ``length(s) - length(regexp_replace(s, '[range]',
    ''))`` per block — one codegen'd projection, zero UDFs, no
    shuffle. Digits/punctuation/whitespace belong to no block and
    dilute nothing (the share denominator is script chars only).
    """
    t = F.col(text_col)
    counts = {
        name: (
            F.length(t)
            - F.length(F.regexp_replace(t, f"[{rng}]", ""))
        ).cast("long")
        for name, rng in SCRIPT_RANGES
    }
    out = df
    for name, c in counts.items():
        out = out.withColumn(f"n_{name}", c)
    names = [n for n, _ in SCRIPT_RANGES]
    best = F.greatest(*[F.col(f"n_{n}") for n in names])
    total = sum([F.col(f"n_{n}") for n in names], F.lit(0).cast("long"))
    dom = F.lit("und")
    for name in reversed(sorted(names)):
        dom = F.when(
            (best > 0) & (F.col(f"n_{name}") == best), F.lit(name)
        ).otherwise(dom)
    share = F.when(
        total > 0, (F.lit(1000) * best / total).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return out.withColumn("script", dom).withColumn(
        "script_milli", share
    )


def kneser_ney_bigram(
    df: DataFrame,
    k: int = 5,
    top_words: int = 20,
    text_col: str = "text",
    d_num: int = 3,
    d_den: int = 4,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1998 eq. 4.27) — the n-gram smoothing a real LM-data
    pipeline uses for perplexity filtering and contamination scoring:

        P(w2|w1) = max(c(w1w2) − d, 0)/c(w1)
                 + d·N₁₊(w1,•)/c(w1) · N₁₊(•,w2)/N₁₊(•,•)

    with discount ``d = d_num/d_den`` (default 3/4). The entire
    probability reduces to ONE exact integer numerator over a
    denominator constant per ``w1``::

        num = (d_den·c(w1w2) − d_num)·T + d_num·N₁₊(w1,•)·N₁₊(•,w2)
        den = d_den·c(w1)·T            (T = total distinct bigram types)

    so ranking within a word orders on integers (no float-ordering
    hazard) and the single final division replays bit-identically in
    any engine. Emits the top-``k`` continuations of the
    ``top_words`` most frequent left words (count desc, word asc):
    ``(word, next, n, p_kn)``.

    Shuffle shape: one pair aggregate; the forward (|head|),
    backward (|vocab|) and 1-row type-total tables broadcast back —
    same rule as ``bigram_next_words`` (never a window over the
    skewed raw word key; the only window runs on the already-tiny
    head × continuations frame).
    """
    w = words_col(F.lower(F.col(text_col)))
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array())
    # |distinct bigram types|-sized and consumed by FOUR structurally
    # different subtrees (fwd, back, tot, the scored join) — without
    # the lazy localCheckpoint each consumer replays the full
    # tokenize+explode+pair-aggregate pass (registry plan audit: 4
    # corpus scans in one plan). Materializes inside the first timed
    # execution; nothing occurrence-scale persists.
    counts = (
        df.select(F.explode(bigrams).alias("p"))
        .groupBy(F.col("p.l").alias("word"), F.col("p.r").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    fwd = counts.groupBy("word").agg(
        F.sum("n").alias("c1"), F.count(F.lit(1)).alias("fwd_types")
    )
    # head cut via orderBy+limit → TakeOrderedAndProject (distributed
    # partial top-k per partition), never a global single-partition
    # row_number window over the vocab.
    head = fwd.orderBy(
        F.col("c1").desc(), F.col("word")
    ).limit(top_words)
    back = counts.groupBy(F.col("next")).agg(
        F.count(F.lit(1)).alias("back_types")
    )
    tot = counts.agg(F.count(F.lit(1)).alias("tot_types"))
    num = (
        (F.lit(d_den) * F.col("n") - F.lit(d_num)) * F.col("tot_types")
        + F.lit(d_num) * F.col("fwd_types") * F.col("back_types")
    )
    den = F.lit(d_den) * F.col("c1") * F.col("tot_types")
    scored = (
        counts.join(F.broadcast(head), "word")
        .join(F.broadcast(back), "next")
        .crossJoin(F.broadcast(tot))
        .select(
            "word",
            "next",
            "n",
            num.alias("_num"),
            den.alias("_den"),
        )
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("word").orderBy(
                F.col("_num").desc(), F.col("next")
            )
        ),
    ).where(F.col("rnk") <= k)
    return ranked.select(
        "word",
        "next",
        "n",
        F.round(
            F.col("_num").cast("double") / F.col("_den"), 4
        ).alias("p_kn"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10_000,
    d_num: int = 3,
    d_den: int = 4,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data" — the canonical public corpus-filtering recipe):
    language-ID each document (:func:`with_lang_id` marker
    heuristic), score it under its OWN language's interpolated
    Kneser-Ney bigram LM (:func:`kneser_ney_bigram` integer
    formulation, d = ``d_num/d_den``), then split every language
    into equal-count head/middle/tail perplexity thirds — the
    head/tail split CCNet feeds to quality-weighted sampling.

    Cross-engine determinism, step by step:

    - per-bigram KN probability is the exact integer ratio
      ``num/den`` from :func:`kneser_ney_bigram`; its ln-surprisal
      is integer-rounded to ``1/scale`` nats BEFORE any sum (the
      ``bigram_surprisal_scores`` convention);
    - the per-document score is pure integer arithmetic:
      ``ppl_milli = (1000·Σ m·s) div (scale·Σ m)`` (mean surprisal
      in milli-nats, floored) — no float ever decides a bucket;
    - bucket thresholds are COUNT-based, not interpolated: head
      cutoff is the smallest score value whose cumulative document
      count reaches ``ceil(n_lang/3)`` (ties at the boundary all
      land in the lower bucket, deterministically).

    Scale shape: the LM (bigram counts, forward/backward type
    counts, per-language type totals) is built in a SEPARATE corpus
    pass — the two-pass train-then-score structure real CCNet uses.
    The |distinct (lang,l,r)|-sized ``counts`` frame and the
    |docs|-sized ``docv`` frame are lazily ``localCheckpoint``ed
    (r16): ``counts`` feeds FOUR structurally different consumers
    (fwd/back/tot margins + the scoring join) and ``docv`` three
    (histogram, per-language counts, the output spine) — without
    materialization each consumer replayed the full tokenize pass
    (audited: 30 parquet scans in the un-checkpointed plan, 4 after;
    both frames are sub-corpus-sized, nothing occurrence-scale
    persists, and every bench/oracle invocation still recomputes from
    the parquet inputs). The cumulative-count threshold window runs
    over the per-(lang, score) HISTOGRAM (cardinality ≤ distinct
    integer scores), never over per-document rows, so a 100× corpus
    grows the window input sublinearly; the per-language threshold
    and type-total tables are tiny broadcasts. Documents with <2
    words have no bigrams and are omitted (perplexity undefined —
    the ``bigram_surprisal_scores`` convention).

    Returns ``(doc_id, lang, n_bigrams, ppl_milli, bucket)`` with
    bucket ∈ head|middle|tail.
    """

    def lang_bigrams(frame: DataFrame) -> DataFrame:
        docs = with_lang_id(
            frame.select(id_col, text_col), text_col
        )
        w = words_col(F.lower(F.col(text_col)))
        bigrams = F.when(
            F.size(w) >= 2,
            F.zip_with(
                F.slice(w, 1, F.size(w) - 1),
                F.slice(w, 2, F.size(w) - 1),
                lambda a, b: F.struct(a.alias("l"), b.alias("r")),
            ),
        ).otherwise(F.array())
        return docs.select(
            F.col(id_col),
            F.col("pred_lang").alias("lang"),
            F.explode(bigrams).alias("p"),
        ).select(
            id_col, "lang",
            F.col("p.l").alias("l"), F.col("p.r").alias("r"),
        )

    # pass 1 — the per-language LM (train); materialized once for its
    # four consumers (lazy: computes inside the first execution)
    counts = (
        lang_bigrams(df)
        .groupBy("lang", "l", "r")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    fwd = counts.groupBy("lang", "l").agg(
        F.sum("n").alias("c1"), F.count(F.lit(1)).alias("fwd_types")
    )
    back = counts.groupBy("lang", "r").agg(
        F.count(F.lit(1)).alias("back_types")
    )
    tot = counts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("tot_types")
    )
    # pass 2 — score each document under its language's LM
    dp = lang_bigrams(df).groupBy(id_col, "lang", "l", "r").agg(
        F.count(F.lit(1)).alias("m")
    )
    num = (
        (F.lit(d_den) * F.col("n") - F.lit(d_num)) * F.col("tot_types")
        + F.lit(d_num) * F.col("fwd_types") * F.col("back_types")
    )
    den = F.lit(d_den) * F.col("c1") * F.col("tot_types")
    scored = (
        dp.join(counts, ["lang", "l", "r"])
        .join(fwd, ["lang", "l"])
        .join(back, ["lang", "r"])
        .join(F.broadcast(tot), ["lang"])
        .select(
            F.col(id_col),
            "lang",
            "m",
            F.round(
                F.log(den.cast("double") / num) * scale
            ).cast("long").alias("s"),
        )
    )
    docv = (
        scored.groupBy(id_col, "lang")
        .agg(
            F.sum("m").cast("long").alias("n_bigrams"),
            F.expr(f"(1000 * sum(m * s)) div ({scale} * sum(m))")
            .cast("long")
            .alias("ppl_milli"),
        )
        # |docs|-sized, three consumers (hist, nl, the output spine)
        .localCheckpoint(eager=False)
    )
    # count-based thresholds over the per-language score HISTOGRAM
    hist = docv.groupBy("lang", "ppl_milli").agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = hist.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("lang")
            .orderBy("ppl_milli")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    nl = docv.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    th = (
        cum.join(F.broadcast(nl), "lang")
        .groupBy("lang")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(nd + 2) div 3"),
                    F.col("ppl_milli"),
                )
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(2 * nd + 2) div 3"),
                    F.col("ppl_milli"),
                )
            ).alias("t2"),
        )
    )
    bucket = (
        F.when(F.col("ppl_milli") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl_milli") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return docv.join(F.broadcast(th), "lang").select(
        id_col, "lang", "n_bigrams", "ppl_milli",
        bucket.alias("bucket"),
    )


def _ngrams_col(w: Column, n: int) -> Column:
    """Space-joined word n-grams of a word array (empty below n).
    The input array is bound once per row (:func:`_bind`) so a
    computed ``w`` (a split) is not re-evaluated per element."""
    if n == 1:
        return w
    return _bind(
        w,
        lambda ws: F.when(
            F.size(ws) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(ws, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _clipped_matches(cand: Column, ref: Column) -> Column:
    """Σ_g min(count_cand(g), count_ref(g)) over distinct candidate
    n-grams — the modified-precision numerator of Papineni et al.
    2002, as one nested higher-order expression."""
    # both gram arrays bound once per row (_bind2): the aggregate's
    # lambda captures them, and captured computed expressions
    # re-evaluate on EVERY distinct gram otherwise.
    return _bind2(
        cand,
        ref,
        lambda c, r: F.aggregate(
            F.array_distinct(c),
            F.lit(0),
            lambda acc, g: acc
            + F.least(
                F.size(F.filter(c, lambda x: x == g)),
                F.size(F.filter(r, lambda x: x == g)),
            ),
        ),
    )


def bleu_rouge_scores(
    df: DataFrame,
    cand_col: str = "candidate",
    ref_col: str = "reference",
) -> DataFrame:
    """Corpus-scale BLEU-2 (Papineni et al. 2002: modified n-gram
    precision with per-gram clipping + brevity penalty) and ROUGE-2
    (Lin 2004: n-gram recall and F1) per candidate/reference pair —
    the metrics an eval or distillation pipeline scores millions of
    generations with.

    Everything is per-row higher-order expressions over the two
    token arrays — clipped counts are exact integers; the only
    floats are the final ratios, BLEU-2's ``bp·√(p1·p2)`` (the
    N=2 geometric mean needs no exp/ln beyond the brevity penalty),
    all rounded to 4. Zero UDFs, zero shuffles — scoring stays in
    the scan stage.

    Adds: ``p1, p2, bp, bleu2, rouge2_recall, rouge2_f1``.
    """
    cw = words_col(F.lower(F.col(cand_col)))
    rw = words_col(F.lower(F.col(ref_col)))
    out = df
    cols = {}
    for n in (1, 2):
        cg, rg = _ngrams_col(cw, n), _ngrams_col(rw, n)
        clipped = _clipped_matches(cg, rg)
        cols[f"_m{n}"] = clipped
        cols[f"_c{n}"] = F.size(cg)
        cols[f"_r{n}"] = F.size(rg)
    for k, c in cols.items():
        out = out.withColumn(k, c)
    p1 = F.col("_m1") / F.greatest(F.col("_c1"), F.lit(1))
    p2 = F.col("_m2") / F.greatest(F.col("_c2"), F.lit(1))
    bp = F.when(
        F.col("_c1") >= F.col("_r1"), F.lit(1.0)
    ).otherwise(
        F.exp(
            F.lit(1.0)
            - F.col("_r1") / F.greatest(F.col("_c1"), F.lit(1))
        )
    )
    bleu2 = bp * F.sqrt(p1 * p2)
    r2_recall = F.col("_m2") / F.greatest(F.col("_r2"), F.lit(1))
    r2_f1 = F.when(
        (p2 + r2_recall) > 0, 2 * p2 * r2_recall / (p2 + r2_recall)
    ).otherwise(F.lit(0.0))
    return (
        out.withColumn("p1", F.round(p1, 4))
        .withColumn("p2", F.round(p2, 4))
        .withColumn("bp", F.round(bp, 4))
        .withColumn("bleu2", F.round(bleu2, 4))
        .withColumn("rouge2_recall", F.round(r2_recall, 4))
        .withColumn("rouge2_f1", F.round(r2_f1, 4))
        .drop(*cols.keys())
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    term_col: str = "term",
    tier_col: str = "tier",
    max_flag_milli: int = 100,
) -> DataFrame:
    """Word-blocklist gating (the UT1/badwords stage of web-corpus
    curation): terms come as a DataFrame with a ``tier`` — ``block``
    (any hit drops the doc) or ``flag`` (drops only when flagged
    words exceed ``max_flag_milli`` per thousand tokens).

    The blocklist collapses to ONE row of two arrays
    (``collect_set`` per tier) broadcast into every task — the same
    1-row-inventory shape as the byte-fallback BPE — so the hot path
    is a codegen'd ``size(filter(words, array_contains))`` per doc:
    no join on the skewed token key, no explode of the corpus, no
    UDF. Word-boundary exactness comes from matching whole
    whitespace tokens, not substrings (``ass`` in ``assistant``
    never hits).

    Adds ``n_block_hits, n_flag_hits, flag_milli, keep``.
    """
    tiers = blocklist.groupBy().agg(
        F.collect_set(
            F.when(
                F.col(tier_col) == "block", F.lower(F.col(term_col))
            )
        ).alias("_block_terms"),
        F.collect_set(
            F.when(
                F.col(tier_col) == "flag", F.lower(F.col(term_col))
            )
        ).alias("_flag_terms"),
    )
    w = words_col(F.lower(F.col(text_col)))
    n_words = F.size(w)
    n_block = F.size(
        F.filter(w, lambda t: F.array_contains(F.col("_block_terms"), t))
    )
    n_flag = F.size(
        F.filter(w, lambda t: F.array_contains(F.col("_flag_terms"), t))
    )
    flag_milli = F.when(
        n_words > 0, (F.lit(1000) * n_flag).cast("long") / n_words
    ).otherwise(F.lit(0.0))
    flag_milli = F.floor(flag_milli).cast("long")
    return (
        df.crossJoin(F.broadcast(tiers))
        .withColumn("n_block_hits", n_block.cast("long"))
        .withColumn("n_flag_hits", n_flag.cast("long"))
        .withColumn("flag_milli", flag_milli)
        .withColumn(
            "keep",
            (F.col("n_block_hits") == 0)
            & (F.col("flag_milli") <= max_flag_milli),
        )
        .drop("_block_terms", "_flag_terms")
    )


def zipf_slope(
    df: DataFrame, text_col: str = "text", top_k: int = 200
) -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares slope of
    ``ln(freq)`` against ``ln(rank)`` over the corpus's ``top_k``
    words — natural corpora sit near −1; synthetic/templated text
    drifts (a cheap corpus-health number next to
    :func:`word_entropy`).

    Word counts aggregate once; the top-k cut is orderBy+limit
    (TakeOrderedAndProject, distributed partial top-k — never a
    global window); the regression is ONE closed-form aggregate
    over k rows. Returns a single row
    ``(n_types, slope, intercept)``, floats rounded to 4. Ranks are
    deterministic via the (count desc, word asc) tie-break.
    """
    counts = (
        df.select(
            F.explode(words_col(F.lower(F.col(text_col)))).alias("w")
        )
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("w")).limit(top_k)
    ranked = top.select(
        F.log(
            F.row_number().over(
                Window.orderBy(F.col("n").desc(), F.col("w"))
            ).cast("double")
        ).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (
        (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    return agg.select(
        F.col("k").cast("long").alias("n_types"),
        F.round(slope, 4).alias("slope"),
        F.round(intercept, 4).alias("intercept"),
    )


def span_corruption_layout(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block: int = 10,
) -> DataFrame:
    """T5-style span-corruption LAYOUT (Raffel et al. 2020 §3.1.4)
    planned deterministically — the shape a seq2seq pretraining
    loader needs before materializing sentinel-token pairs: how many
    spans, how many masked tokens, and the resulting encoder/decoder
    lengths (input keeps one sentinel per span; target = masked
    tokens + sentinels + EOS).

    Spans are block-local so the layout is CLOSED-FORM instead of a
    sequential overlap-resolution pass: every full ``block`` of
    tokens contributes exactly one span starting at in-block offset
    3 with portable-hash-derived length 1-3 (≈15-25% corruption at
    block 10) — task retries, repartitions, and any other engine
    reproduce the identical layout because the only randomness is
    ``md5(doc_id:block_idx)``. The sub-``block`` tail is never
    masked (documented boundary). Zero UDFs, zero shuffles.
    """
    from geniepool_etl_spark.functions import portable_hash32

    n = F.size(words_col(F.lower(F.col(text_col))))
    nb = F.floor(n / block).cast("int")
    lens = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(1), nb),
            lambda k: 1
            + portable_hash32(
                F.concat_ws(":", F.col(id_col), k)
            ) % 3,
        ),
    ).otherwise(F.array().cast("array<long>"))
    n_masked = F.aggregate(
        lens, F.lit(0).cast("long"), lambda a, x: a + x
    )
    n_spans = F.coalesce(F.size(lens), F.lit(0)).cast("long")
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        n_spans.alias("n_spans"),
        n_masked.alias("n_masked"),
        (n - n_masked + n_spans).cast("long").alias("input_len"),
        F.when(
            n_spans > 0, n_masked + n_spans + 1
        ).otherwise(F.lit(0)).cast("long").alias("target_len"),
    )


_MD_FENCE = r"(?s)```.*?```"
_MD_IMAGE = r"!\[([^\]]*)\]\([^)]*\)"
_MD_LINK = r"\[([^\]]*)\]\([^)]*\)"
_MD_HEADER = r"(?m)^#{1,6}[ \t]+"
_MD_EMPH = r"(\*\*|__|\*|_)(\S(?:[^*_]*\S)?)\1"
_MD_QUOTE = r"(?m)^>[ \t]?"
_MD_HR = r"(?m)^[ \t]*([-*_][ \t]*){3,}$"
_MD_CODE = r"`([^`]*)`"


def strip_markdown(
    df: DataFrame, text_col: str = "text", out_col: str = "plain"
) -> DataFrame:
    """Markdown → plain text for README/wiki/forum corpora: fenced
    code blocks DROP (code goes to the code pipeline, not the prose
    one — documented choice), inline code keeps its content, images
    reduce to alt text, links to their text, ATX headers / block
    quotes / horizontal rules lose their markers, bold/italic
    unwraps (one nesting level per marker pair, `**x**` before
    `*x*`), blank runs collapse. A fixed chain of JVM
    ``regexp_replace`` — zero UDFs, scan-speed."""
    t = F.col(text_col)
    t = F.regexp_replace(t, _MD_FENCE, "")
    t = F.regexp_replace(t, _MD_IMAGE, "$1")
    t = F.regexp_replace(t, _MD_LINK, "$1")
    t = F.regexp_replace(t, _MD_HEADER, "")
    t = F.regexp_replace(t, _MD_HR, "")
    t = F.regexp_replace(t, _MD_EMPH, "$2")
    t = F.regexp_replace(t, _MD_EMPH, "$2")  # nested pair unwrap
    t = F.regexp_replace(t, _MD_QUOTE, "")
    t = F.regexp_replace(t, _MD_CODE, "$1")
    t = F.regexp_replace(t, r"\n{3,}", "\n\n")
    return df.withColumn(out_col, F.trim(t))


#: zero-width and invisible code points a clean corpus should not
#: carry: ZWSP, ZWNJ, ZWJ, word-joiner, BOM/ZWNBSP, soft hyphen.
INVISIBLES = "​‌‍⁠﻿­"


def scrub_invisibles(
    df: DataFrame, text_col: str = "text", out_col: str = "clean"
) -> DataFrame:
    """Strip zero-width/invisible code points (the watermark &
    copy-paste residue class) via ONE ``translate`` (chars without a
    replacement counterpart are deleted); ``n_invisible`` = length
    delta, so the gate 'reject docs with invisible density' is a
    plain filter on the output."""
    t = F.col(text_col)
    clean = F.translate(t, INVISIBLES, "")
    return df.withColumn(out_col, clean).withColumn(
        "n_invisible",
        (F.length(t) - F.length(clean)).cast("long"),
    )


def repair_json(
    df: DataFrame, text_col: str = "text", out_col: str = "repaired"
) -> DataFrame:
    """Truncated-JSON repair — the post-processor for LLM structured
    output (generation stops mid-object at max_tokens): ONE
    character fold tracks (in_string, escape, open-bracket stack) as
    a struct accumulator, then appends the minimal closing suffix —
    close the dangling string, drop a trailing comma, complete a
    dangling ``:`` with ``null``, and close the bracket stack in
    reverse. Mismatched closers simply pop (the json-repair-library
    convention); semantic damage beyond truncation is out of scope.
    ``is_valid`` re-parses the result with ``try_parse_json`` so the
    claim is checked, not assumed. Zero UDFs; the fold is O(len)
    per document and LLM outputs are KB-scale.

    Adds ``out_col``, ``n_closed``, ``was_truncated``, ``is_valid``.
    """
    t = F.col(text_col)
    state = F.aggregate(
        F.split(t, ""),
        F.struct(
            F.lit(0).alias("instr"),
            F.lit(0).alias("esc"),
            F.lit("").alias("stack"),
        ),
        lambda a, c: F.when(
            a["esc"] == 1,
            F.struct(
                F.lit(1).alias("instr"), F.lit(0).alias("esc"),
                a["stack"].alias("stack"),
            ),
        )
        .when(
            a["instr"] == 1,
            F.when(
                c == "\\",
                F.struct(
                    F.lit(1).alias("instr"), F.lit(1).alias("esc"),
                    a["stack"].alias("stack"),
                ),
            )
            .when(
                c == '"',
                F.struct(
                    F.lit(0).alias("instr"), F.lit(0).alias("esc"),
                    a["stack"].alias("stack"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit(1).alias("instr"), F.lit(0).alias("esc"),
                    a["stack"].alias("stack"),
                )
            ),
        )
        .when(
            c == '"',
            F.struct(
                F.lit(1).alias("instr"), F.lit(0).alias("esc"),
                a["stack"].alias("stack"),
            ),
        )
        .when(
            (c == "{") | (c == "["),
            F.struct(
                F.lit(0).alias("instr"), F.lit(0).alias("esc"),
                F.concat(a["stack"], c).alias("stack"),
            ),
        )
        .when(
            (c == "}") | (c == "]"),
            F.struct(
                F.lit(0).alias("instr"), F.lit(0).alias("esc"),
                F.substring(
                    a["stack"], F.lit(1), F.length(a["stack"]) - 1
                ).alias("stack"),
            ),
        )
        .otherwise(a),
    )
    base = F.concat(
        t, F.when(state["instr"] == 1, F.lit('"')).otherwise(F.lit(""))
    )
    base = F.regexp_replace(base, r",\s*$", "")
    base = F.when(
        base.rlike(r":\s*$"), F.concat(base, F.lit(" null"))
    ).otherwise(base)
    closers = F.array_join(
        F.transform(
            F.reverse(F.split(state["stack"], "")),
            lambda c: F.when(c == "{", F.lit("}"))
            .when(c == "[", F.lit("]"))
            .otherwise(F.lit("")),
        ),
        "",
    )
    repaired = F.concat(base, closers)
    return (
        df.withColumn(out_col, repaired)
        .withColumn(
            "n_closed",
            (F.length(state["stack"]) + state["instr"]).cast("long"),
        )
        .withColumn("was_truncated", F.col(out_col) != t)
        .withColumn(
            "is_valid",
            F.expr(f"try_parse_json({out_col}) IS NOT NULL"),
        )
    )


def json_key_profile(
    df: DataFrame, json_col: str = "json", id_col: str = "doc_id"
) -> DataFrame:
    """Schema profiling over raw JSONL (the look-before-you-declare
    step for a drifting feed): parse each document as
    ``map<string,string>`` (scalars coerce to their text), explode
    keys, and aggregate per key — presence count, and type-guess
    counts from the value text (integer / decimal / boolean /
    other). Malformed documents parse to null maps and simply
    contribute nothing. Returns (key, n_docs, n_int, n_float,
    n_bool, n_other) sorted-stable by key."""
    m = F.from_json(F.col(json_col), "map<string,string>")
    kv = df.select(F.explode(m).alias("key", "v"))
    is_int = F.col("v").rlike(r"^-?\d+$")
    is_float = F.col("v").rlike(r"^-?\d+\.\d+$")
    is_bool = F.col("v").isin("true", "false")
    return (
        kv.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(is_int, 1).otherwise(0)).alias("n_int"),
            F.sum(F.when(is_float, 1).otherwise(0)).alias("n_float"),
            F.sum(F.when(is_bool, 1).otherwise(0)).alias("n_bool"),
            F.sum(
                F.when(is_int | is_float | is_bool, 0).otherwise(1)
            ).alias("n_other"),
        )
    )


#: typographic → ASCII punctuation (1:1 map, rides one translate):
#: curly single/double quotes, prime marks, en/em/minus dashes, NBSP
#: and narrow NBSP.
_PUNCT_FROM = "‘’“”′″–—−  "
_PUNCT_TO = "''\"\"'\"---  "


def normalize_punct(
    df: DataFrame, text_col: str = "text", out_col: str = "norm"
) -> DataFrame:
    """Typographic-punctuation folding (the tokenizer-vocab hygiene
    step — curly quotes and dash variants otherwise fragment the
    vocab): one ``translate`` for every 1:1 mapping plus a single
    ``regexp_replace`` for the expanding ellipsis (… → ...). Adds
    ``out_col`` and ``was_changed``."""
    t = F.col(text_col)
    norm = F.regexp_replace(
        F.translate(t, _PUNCT_FROM, _PUNCT_TO), "…", "..."
    )
    return df.withColumn(out_col, norm).withColumn(
        "was_changed", norm != t
    )


def bitext_length_gate(
    df: DataFrame,
    src_col: str = "src",
    tgt_col: str = "tgt",
    min_ratio_milli: int = 333,
    max_ratio_milli: int = 3000,
) -> DataFrame:
    """Parallel-corpus (bitext) length-ratio gating — the first
    filter of every MT data pipeline (a 5-word source aligned to a
    90-word target is a misalignment, not a translation): token
    counts both sides, integer-milli target/source ratio, keep iff
    the ratio sits in [min, max] and both sides are non-empty.
    Integer arithmetic throughout; one scan-stage projection."""
    sn = F.size(words_col(F.lower(F.col(src_col))))
    tn = F.size(words_col(F.lower(F.col(tgt_col))))
    sn = F.when(F.trim(F.col(src_col)) == "", F.lit(0)).otherwise(sn)
    tn = F.when(F.trim(F.col(tgt_col)) == "", F.lit(0)).otherwise(tn)
    ratio = F.when(
        sn > 0, (F.lit(1000) * tn).cast("long") / sn
    ).otherwise(F.lit(0.0))
    ratio = F.floor(ratio).cast("long")
    return (
        df.withColumn("src_tokens", sn.cast("long"))
        .withColumn("tgt_tokens", tn.cast("long"))
        .withColumn("ratio_milli", ratio)
        .withColumn(
            "keep",
            (sn > 0)
            & (tn > 0)
            & (ratio >= min_ratio_milli)
            & (ratio <= max_ratio_milli),
        )
    )
