"""Unit tests for the LLM-pipeline operator families (dedup, text,
similarity, events, multimodal) on small constructed inputs where the
expected answer is computable by hand.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geniepool_etl_spark.functions import portable_hash32
from geniepool_etl_spark.operators import dedup as D
from geniepool_etl_spark.operators import events as E
from geniepool_etl_spark.operators import multimodal as M
from geniepool_etl_spark.operators import similarity as S
from geniepool_etl_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words entirely here now"),
        (5, "ab"),  # shorter than one 3-shingle
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


# ----------------------------------------------------------------- dedup

def test_exact_dedup_keeps_min_id(docs):
    kept = sorted(r.doc_id for r in D.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_exact_dedup_stats_counts(docs):
    stats = {r.keep_id: r.n_dups for r in D.exact_dedup_stats(docs).collect()}
    assert stats[1] == 2 and stats[3] == 1


def test_jaccard_identical_docs_is_one(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard for r in D.jaccard_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # 9-word docs differing in last word: 7 shingles each, 6 shared
    assert pairs[(1, 3)] == pytest.approx(6 / 8, abs=1e-4)


def test_short_doc_has_no_shingles(docs):
    sh = D.word_shingles(docs).where(F.col("id") == 5)
    assert sh.count() == 0


def test_minhash_identical_docs_estimate_one(docs):
    pairs = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(docs, num_perm=16, bands=4).collect()
    }
    assert pairs[(1, 2)] == 1.0


def test_minhash_portable_matches_fast_semantics(docs):
    # Same candidate pairs regardless of hash family (values differ).
    fast = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, num_perm=16, bands=4).collect()
    }
    portable = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, num_perm=16, bands=4, hash_fn=portable_hash32
        ).collect()
    }
    assert (1, 2) in fast and (1, 2) in portable


def test_simhash_identical_docs_equal(docs):
    h = {r.id: r.simhash for r in D.simhash(docs).collect()}
    assert h[1] == h[2]
    assert h[1] != h[4]


def test_dedup_clusters_transitive(spark):
    """Chain 1-2-3-4 (multi-round propagation), triangle 10-11-12,
    isolated pair 20-21 → three components labeled by their minima."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a LONG, id_b LONG",
    )
    labels = {r.id: r.label for r in D.dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


# ------------------------------------------------------------------ text

def test_text_stats_counts(spark):
    df = spark.createDataFrame(
        [(1, "the cat in the hat")], "doc_id LONG, text STRING"
    )
    row = TX.with_text_stats(df).collect()[0]
    assert row.n_words == 5
    assert row.n_chars_m == 18
    # stopwords: the, in, the → 3/5
    assert row.stopword_ratio == pytest.approx(0.6)
    assert row.avg_word_len == pytest.approx((3 + 3 + 2 + 3 + 3) / 5, abs=1e-4)


def test_token_count_bpe_ish(spark):
    df = spark.createDataFrame([(1, "ab3 c-d!")], "doc_id LONG, text STRING")
    row = TX.with_token_count(df).collect()[0]
    # tokens: ab, 3, c, -, d, !
    assert row.n_tokens == 6
    assert row.n_ws_tokens == 2


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the house of the rising sun and more"),
            (2, "le chat et la maison des gens"),
            (3, "der hund und die katze das haus"),
            (4, "xyzzy plugh foobar"),
        ],
        "doc_id LONG, text STRING",
    )
    langs = {r.doc_id: r.pred_lang for r in TX.with_lang_id(df).collect()}
    assert langs == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_chunk_documents_coverage_and_overlap(spark):
    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc"), (3, None), (4, "   ")],
        "doc_id LONG, text STRING",
    )
    rows = sorted(
        TX.chunk_documents(df, chunk_words=64, stride_words=48).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # null / whitespace-only docs yield no chunks
    assert set(by_doc) == {1, 2}
    # 150 words: 1 + ceil((150-64)/48) = 3 chunks
    c1 = by_doc[1]
    assert [r.chunk_idx for r in c1] == [0, 1, 2]
    assert [r.n_chunk_words for r in c1] == [64, 64, 150 - 96]
    # chunk k starts at word k*stride; overlap region matches
    assert c1[1].chunk_text.split()[0] == "w48"
    assert c1[0].chunk_text.split()[48:] == c1[1].chunk_text.split()[:16]
    # final chunk reaches the document end
    assert c1[2].chunk_text.split()[-1] == "w149"
    # sub-chunk doc: one chunk, the whole doc
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "short doc"


def test_chunk_documents_rejects_invalid_geometry(spark):
    """stride=0 would silently explode() into ZERO rows (NULL division
    → NULL sequence); stride > chunk silently skips words. Both must
    fail loud at plan construction."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    with pytest.raises(ValueError, match="stride_words"):
        TX.chunk_documents(df, chunk_words=64, stride_words=0)
    with pytest.raises(ValueError, match="stride_words"):
        TX.chunk_documents(df, chunk_words=8, stride_words=9)


def test_event_micros_ntz_requires_utc_session(spark):
    """The NTZ branch reads wall clocks under the session timezone;
    under anything but UTC it must refuse rather than silently shift."""
    import datetime

    from geniepool_etl_spark.functions import event_micros

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1))], "event_id LONG, ts TIMESTAMP_NTZ"
    )
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.raises(ValueError, match="timeZone"):
            event_micros(df, "ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)
    assert df.select(event_micros(df, "ts").alias("us")).first().us == (
        1_704_067_200 * 1_000_000
    )


def test_deterministic_shuffle_reproducible(spark):
    from geniepool_etl_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(200)], "doc_id LONG, text STRING"
    )
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, n_shards=4).collect()
    }
    # identical under a different physical layout (shuffle-invariant)
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(
            df.repartition(7, "text"), n_shards=4
        ).collect()
    }
    assert a == b
    # every shard's positions are a contiguous 1..n ranking
    shards: dict = {}
    for s, p in a.values():
        shards.setdefault(s, []).append(p)
    assert set(shards) <= set(range(4))
    for ps in shards.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # a different seed is a different permutation
    c = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, n_shards=4, seed=99).collect()
    }
    assert c != a


def test_fingerprint_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")],
        "doc_id LONG, text STRING",
    )
    for portable in (False, True):
        fp = {
            r.doc_id: r.fingerprint
            for r in TX.with_fingerprint(df, portable=portable).collect()
        }
        assert fp[1] == fp[2] != fp[3]


# ------------------------------------------------------------ similarity

@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),  # antipode of 1
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")


def test_cosine_topk_ranks_correctly(vectors):
    out = S.cosine_topk(vectors, vectors.where("vec_id = 1"), k=3)
    ranked = [r.n_id for r in sorted(out.collect(), key=lambda r: -r.cos_sim)]
    assert ranked[0] == 2 and ranked[-1] == 4


def test_lsh_same_vector_same_bucket(spark):
    rows = [(1, [0.5] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    b = {r.id: r.bucket for r in S.lsh_bucket(df, n_planes=4, dim=8).collect()}
    assert b[1] == b[2]
    assert b[1] != b[3]  # antipodal vectors flip every plane sign


def test_lsh_rejects_dim_drift(spark):
    # a vector of the wrong length must raise, not silently collapse
    # every bucket to 0 via null-padded plane dots
    bad = spark.createDataFrame(
        [(1, [0.5] * 8), (2, [0.5] * 5)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    with pytest.raises(Exception, match="expected embedding dim"):
        S.lsh_bucket(bad, n_planes=4, dim=8).select("bucket").collect()


# ---------------------------------------------------------------- events

@pytest.fixture(scope="module", params=["nanos_long", "micros_ntz"])
def mini_events(spark, request):
    """Events in BOTH physical time encodings the driver has shipped —
    raw nanos-long (TIMESTAMP(NANOS) under nanosAsLong) and
    TIMESTAMP_NTZ micros — so the dtype-adaptive ``event_micros``
    reader can never regress against either. Gaps chosen around the
    30-minute session boundary."""
    import datetime

    base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00 in ns
    mins = 60 * 1_000_000_000
    rows = [
        (1, base + 0 * mins, 7, "click", 1.0, "{}"),
        (2, base + 29 * mins, 7, "purchase", 2.0, "{}"),   # gap 29m → same
        (3, base + 59 * mins, 7, "click", 3.0, "{}"),      # gap ==30m → same
        (4, base + 200 * mins, 7, "purchase", 4.0, "{}"),  # gap >30m → NEW
        (5, base + 10 * mins, 8, "view", 5.0, "{}"),
    ]
    if request.param == "nanos_long":
        return spark.createDataFrame(
            rows,
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING",
        )
    ntz_rows = [
        (
            eid,
            datetime.datetime(1970, 1, 1)
            + datetime.timedelta(microseconds=ts // 1000),
            uid,
            et,
            v,
            p,
        )
        for eid, ts, uid, et, v, p in rows
    ]
    return spark.createDataFrame(
        ntz_rows,
        "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, "
        "event_type STRING, value DOUBLE, props STRING",
    )


def test_session_boundary_semantics(mini_events):
    sessions = (
        E.session_agg(mini_events)
        .where("user_id = 7")
        .orderBy("session_start_us")
        .collect()
    )
    # events 1+2+3 merge (the exactly-30m gap is INCLUSIVE — verified
    # Spark session_window semantics); 4 (>30m gap) is its own.
    assert [s.n_events for s in sessions] == [3, 1]


def test_tumbling_window_starts(mini_events):
    out = E.tumbling_agg(mini_events)
    starts = {r.w_start_us for r in out.collect()}
    hour = 3_600_000_000
    assert all(s % hour == 0 for s in starts)


def test_asof_join_picks_latest_prior(mini_events):
    ev = E.with_event_time(mini_events)
    purchases = ev.where("event_type = 'purchase'")
    clicks = ev.where("event_type = 'click'")
    got = {
        r.event_id: r.asof_event_id
        for r in E.asof_join_latest_prior(purchases, clicks).collect()
    }
    # purchase 2 (t=29m): latest click ≤ 29m is click 1.
    # purchase 4 (t=200m): latest click ≤ 200m is click 3.
    assert got == {2: 1, 4: 3}
    # with a 60m staleness bound, purchase 4's click (141m stale)
    # nulls out while purchase 2's (29m) survives
    bounded = {
        r.event_id: r.asof_event_id
        for r in E.asof_join_latest_prior(
            purchases, clicks, tolerance_us=60 * 60 * 1_000_000
        ).collect()
    }
    assert bounded == {2: 1, 4: None}


def test_incremental_exact_dedup(spark):
    corpus = spark.createDataFrame(
        [(1, "aa"), (2, "bb")], "doc_id LONG, text STRING"
    )
    new = spark.createDataFrame(
        # 10: already in corpus; 11/12: in-batch dup (keep min id);
        # 13: genuinely new
        [(10, "aa"), (11, "cc"), (12, "cc"), (13, "dd")],
        "doc_id LONG, text STRING",
    )
    idx = D.exact_dedup_stats(corpus)
    kept = sorted(
        r.doc_id for r in D.incremental_exact_dedup(new, idx).collect()
    )
    assert kept == [11, 13]


# ------------------------------------------------------------ multimodal

def test_multimodal_features(spark):
    df = spark.createDataFrame([(1, "héllo")], "doc_id LONG, text STRING")
    feats = M.extract_features(M.documents_as_assets(df)).collect()[0]
    assert feats.n_chars == 5
    assert feats.n_bytes == 6  # é is 2 bytes in utf-8
    assert feats.media_type == "text/plain"


def test_decode_rejects_short_payloads():
    # too-short/empty payloads are malformed input, not a codec gap
    with pytest.raises(ValueError):
        M.decode_image(b"")
    with pytest.raises(ValueError):
        M.decode_audio(b"")


def test_decode_unsupported_codecs_raise():
    # well-formed containers whose codec needs PIL/ffmpeg (absent
    # here) are the documented NotImplementedError boundary
    # webp parses for real now: a VP8 chunk without the keyframe
    # start code is malformed input, not a codec gap
    webp = b"RIFF\x2c\x00\x00\x00WEBPVP8 " + b"\x00" * 16
    with pytest.raises(ValueError, match="keyframe"):
        M.decode_image(webp)
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x00\x00\x00\x20ftypheic" + b"\x00" * 8)
    # mp3 frame headers parse for real now; ogg stays the boundary
    mp3_frame = b"\xff\xfb\x90\x64" + b"\x00" * 16
    assert M.decode_audio(mp3_frame)["format"] == "mp3"
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"OggS" + b"\x00" * 16)
    # a JPEG that loses marker sync is malformed input, not a codec gap
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_pmi_collocations_ranking_and_ties(spark):
    """Hand-computed PMI with a deliberate three-way tie at ln 3:
    every surviving pair scores round(ln3·10⁴)=10986, so the result
    order (and a k=2 cut) is decided purely by the (l, r) tiebreak —
    the determinism rule under test. min_count drops the hapax pair
    (is, old)."""
    from geniepool_etl_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [
            (1, "new york is big"),
            (2, "new york is old"),
            (3, "new york is big"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = pmi_collocations(docs, k=10, min_count=2).collect()
    got = [(r.l, r.r, r.n, r.pmi) for r in rows]
    # N=9; (new,york):3 with margins 3·3, (york,is):3 with 3·3,
    # (is,big):2 with 3·2 — all ln3; (is,old):1 killed by min_count
    assert got == [
        ("is", "big", 2, 1.0986),
        ("new", "york", 3, 1.0986),
        ("york", "is", 3, 1.0986),
    ]
    cut = [(r.l, r.r) for r in pmi_collocations(
        docs, k=2, min_count=2
    ).collect()]
    assert cut == [("is", "big"), ("new", "york")]


def test_sequence_pattern_counts_semantics(spark):
    """Hand-checkable sequence mining: V+C[^P]*P over per-user symbol
    strings — non-overlapping scan, 'eventually' gap that cannot
    cross a purchase, ts ties broken by event_id, zero-match users
    filtered out."""
    from geniepool_etl_spark.operators.events import (
        sequence_pattern_counts,
    )

    rows = []
    # user 1: VVCEEP VCP -> 2 matches (non-overlapping)
    for i, t in enumerate("VVCEEPVCP"):
        rows.append((i, 1_000_000 * i, 1, t))
    # user 2: VCEPVCPP -> VCEP (gap 'E') then VCP; the trailing P
    # alone starts no fresh match (no leading V+C) -> 2 matches
    for i, t in enumerate("VCEPVCPP"):
        rows.append((100 + i, 1_000_000 * i, 2, t))
    # user 3: CP only (no V) -> filtered out entirely
    for i, t in enumerate("CPCP"):
        rows.append((200 + i, 1_000_000 * i, 3, t))
    # user 4: ts tie — event_id orders V(id=300) before C(id=301)
    rows.append((301, 5_000_000, 4, "C"))
    rows.append((300, 5_000_000, 4, "V"))
    rows.append((302, 6_000_000, 4, "P"))
    sym_to_type = {
        "S": "signup", "V": "view", "C": "click",
        "P": "purchase", "E": "error",
    }
    ev = spark.createDataFrame(
        [
            (eid, ts, uid, sym_to_type[s])
            for eid, ts, uid, s in rows
        ],
        "event_id LONG, ts_us LONG, user_id LONG, event_type STRING",
    )
    got = {
        r.user_id: (r.n_events, r.n_matches)
        for r in sequence_pattern_counts(
            ev,
            "V+C[^P]*P",
            {
                "signup": "S", "view": "V", "click": "C",
                "purchase": "P", "error": "E",
            },
        ).collect()
    }
    assert got == {1: (9, 2), 2: (8, 2), 4: (3, 1)}


def test_funnel_stage_semantics(spark):
    """Ordering gate: events only count at or after the previous
    stage's earliest completion, and within the conversion window."""
    base = 1_704_067_200_000_000_000
    hour = 3_600 * 1_000_000_000
    rows = [
        # u1: full ordered funnel
        (1, base + 0 * hour, 1, "signup", 0.0, "{}"),
        (2, base + 1 * hour, 1, "click", 0.0, "{}"),
        (3, base + 2 * hour, 1, "purchase", 0.0, "{}"),
        # u2: click BEFORE signup only → stage stops at 1
        (4, base + 0 * hour, 2, "click", 0.0, "{}"),
        (5, base + 1 * hour, 2, "signup", 0.0, "{}"),
        # u3: non-funnel events only → stage 0
        (6, base + 0 * hour, 3, "view", 0.0, "{}"),
        # u4: signup then purchase, no click → stage 1
        (7, base + 0 * hour, 4, "signup", 0.0, "{}"),
        (8, base + 1 * hour, 4, "purchase", 0.0, "{}"),
        # u5: click outside the 1h conversion window → stage 1
        (9, base + 0 * hour, 5, "signup", 0.0, "{}"),
        (10, base + 3 * hour, 5, "click", 0.0, "{}"),
    ]
    ev = E.with_event_time(
        spark.createDataFrame(
            rows,
            "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, props STRING",
        )
    )
    got = {
        r.user_id: r.stage
        for r in E.funnel_stages(
            ev,
            ["signup", "click", "purchase"],
            within_us=3_600 * 1_000_000,
        ).collect()
    }
    assert got == {1: 3, 2: 1, 3: 0, 4: 1, 5: 1}


# ----------------------------------------------------------------- upsert

def test_merge_upsert_update_wins(spark):
    from geniepool_etl_spark.operators.upsert import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k LONG, v STRING"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k LONG, v STRING"
    )
    got = {r.k: r.v for r in merge_upsert(base, updates, ["k"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}


# ----------------------------------------------------------------- IVF

def test_ivf_lists_partition_corpus(spark):
    emb = spark.read.parquet(f"{_SF_SMALL()}/embeddings.parquet")
    cents = S.ivf_centroids(emb, n_centroids=8)
    assert cents.count() == 8
    lists = S.ivf_assign(emb, cents, nprobe=1)
    # every vector lands in exactly one list
    assert lists.count() == emb.count()
    assert lists.select("id").distinct().count() == emb.count()


def test_exact_topk_key_matches_interpreted_fold_ranking():
    """_exact_topk_key (BLAS prefilter + exact-fold re-score) must
    reproduce the interpreted _fold_dots + half-up-key lexsort ranking
    BITWISE — including key ties (duplicate / scaled-copy centroids)
    and NaN paths (zero-norm rows and centroids)."""
    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(60):
        n = int(rng.integers(1, 50))
        k = int(rng.integers(1, 30))
        d = int(rng.integers(2, 80))
        V = rng.normal(size=(n, d))
        C = rng.normal(size=(k, d))
        if n > 3 and k > 4:
            C[1] = C[0]        # exact key tie
            V[2] = 0.0         # zero-norm row → all keys -inf
            C[2] = 0.0         # zero-norm centroid
            C[3] = C[0] * 2.0  # same cosine via scaling
        nrm = S._fold_sq_norms(V)
        cn = S._fold_sq_norms(C)
        kk = int(rng.integers(1, k + 1))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = S._fold_dots(V, C) / (nrm[:, None] * cn[None, :])
            key = np.floor(cos * 1e9 + 0.5)
        key[~np.isfinite(key)] = -np.inf
        ref = np.lexsort(
            (np.broadcast_to(np.arange(k), key.shape), -key), axis=1
        )[:, :kk]
        got = S._exact_topk_key(V, nrm, C, cn, kk)
        assert np.array_equal(ref, got)


def test_ivf_topk_subset_of_bruteforce_candidates(spark):
    emb = spark.read.parquet(f"{_SF_SMALL()}/embeddings.parquet")
    q = emb.where("vec_id < 4")
    ivf = S.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=8)
    brute = S.cosine_topk(emb, q, k=3)
    # probing ALL centroids = exhaustive search → must equal brute force
    assert sorted(map(tuple, ivf.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_ivf_kmeans_objective_non_decreasing(spark):
    """Spherical k-means invariant: the summed cosine of every vector
    to its assigned centroid must not decrease across Lloyd rounds."""
    emb = spark.read.parquet(f"{_SF_SMALL()}/embeddings.parquet")

    def objective(cents):
        assigned = S.ivf_assign(emb, cents, 1)
        scored = assigned.join(F.broadcast(cents), "cid").select(
            (
                S.dot(F.col("vec"), F.col("cvec"))
                / (F.col("norm") * F.col("cnorm"))
            ).alias("cs")
        )
        return scored.agg(F.sum("cs")).collect()[0][0]

    objs = [
        objective(S.ivf_centroids(emb, n_centroids=8)),
        objective(S.ivf_kmeans_centroids(emb, n_centroids=8, n_iter=1)),
        objective(S.ivf_kmeans_centroids(emb, n_centroids=8, n_iter=3)),
    ]
    assert objs[1] >= objs[0] - 1e-6
    assert objs[2] >= objs[1] - 1e-6
    # refined centroids still drive ivf_topk end to end
    out = S.ivf_topk(
        emb, emb.where("vec_id < 4"), k=3, n_centroids=8, refine_iters=2
    )
    assert out.count() == 12


def _SF_SMALL():
    from tests.conftest import SF_SMALL

    return SF_SMALL


# ------------------------------------------------------------- packing

def test_repetition_ratio_hand_examples(spark):
    from geniepool_etl_spark.operators.text import with_repetition_ratio

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c"), (3, "word"), (4, "x y x y x y")],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: r.repetition_ratio
        for r in with_repetition_ratio(df).collect()
    }
    # "a a a a": bigrams [a a, a a, a a] -> 1 - 1/3
    assert got[1] == round(1 - 1 / 3, 4)
    # all bigrams distinct
    assert got[2] == 0.0
    # fewer than n words
    assert got[3] == 0.0
    # "x y x y x y": bigrams [x y, y x, x y, y x, x y] -> 1 - 2/5
    assert got[4] == round(1 - 2 / 5, 4)


def test_pack_windows_invariants(spark):
    from geniepool_etl_spark.operators.packing import pack_windows

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.array_repeat(F.lit("tok"), (F.col("id") % 40 + 1).cast("int"))
        ).alias("text"),
    )
    out = pack_windows(df, context_len=64, n_shards=4).collect()
    assert len(out) == 200
    by_shard: dict[int, list] = {}
    for r in out:
        assert 0 <= r.shard < 4
        assert 0 <= r.win_offset < 64
        assert r.first_window <= r.last_window
        by_shard.setdefault(r.shard, []).append(r)
    # within each shard the documents tile the concatenated token
    # stream exactly: offsets are the running sum of token counts
    for rows in by_shard.values():
        rows.sort(key=lambda r: (r.first_window, r.win_offset))
        cum = 0
        for r in rows:
            assert r.first_window * 64 + r.win_offset == cum
            assert r.last_window == (cum + r.n_tok - 1) // 64
            cum += r.n_tok


def test_pack_windows_partitioning_invariant(spark):
    from geniepool_etl_spark.operators.packing import pack_windows

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
    )
    a = sorted(map(tuple, pack_windows(df, 32, 4).collect()))
    b = sorted(map(tuple, pack_windows(df.repartition(13), 32, 4).collect()))
    assert a == b


def test_stdlib_media_decoders():
    # header-parseable formats decode for real, stdlib-only; codec
    # formats still raise NotImplementedError honestly
    import io
    import struct
    import wave

    import pytest

    from geniepool_etl_spark.operators.multimodal import (
        decode_audio,
        decode_image,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(b"\x00" * (2 * 2 * 4000))
    m = decode_audio(buf.getvalue())
    assert m == {
        "format": "wav", "n_channels": 2, "sample_rate": 16000,
        "sample_width": 2, "n_frames": 4000, "duration_ms": 250,
    }

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    )
    assert decode_image(png) == {
        "format": "png", "width": 640, "height": 480, "bit_depth": 8,
    }
    bmp = (
        b"BM" + struct.pack("<IHHI", 70, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 320, -200, 1, 24) + b"\x00" * 40
    )
    assert decode_image(bmp) == {
        "format": "bmp", "width": 320, "height": 200, "bit_depth": 24,
    }
    gif = b"GIF89a" + struct.pack("<HH", 12, 34) + b"\x00" * 8
    assert decode_image(gif) == {
        "format": "gif", "width": 12, "height": 34, "bit_depth": 8,
    }
    ppm = b"P6\n100 50\n255\n" + b"\x00" * 16
    assert decode_image(ppm) == {
        "format": "ppm", "width": 100, "height": 50, "bit_depth": 8,
    }
    # WebP dimensions parse for real in all three chunk layouts
    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8X"
        + struct.pack("<I", 10) + b"\x00" * 4
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert decode_image(vp8x) == {
        "format": "webp", "width": 640, "height": 480, "bit_depth": 8,
    }
    bits = (99) | (49 << 14)  # 100x50 stored minus one
    vp8l = (
        b"RIFF" + struct.pack("<I", 17) + b"WEBPVP8L"
        + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    )
    assert decode_image(vp8l) == {
        "format": "webp", "width": 100, "height": 50, "bit_depth": 8,
    }
    vp8 = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8 "
        + struct.pack("<I", 10) + b"\x00" * 3 + b"\x9d\x01\x2a"
        + struct.pack("<HH", 320, 240)
    )
    assert decode_image(vp8) == {
        "format": "webp", "width": 320, "height": 240, "bit_depth": 8,
    }
    # an ID3 tag followed by no MPEG sync is malformed, not a codec
    # gap (the mp3 frame walk itself is real — see the mp3 test)
    with pytest.raises(ValueError):
        decode_audio(b"ID3\x04" + b"\x00" * 32)
    # flac STREAMINFO parses for real; a truncated one is malformed
    with pytest.raises(ValueError, match="STREAMINFO"):
        decode_audio(b"fLaC" + b"\x00" * 16)
    with pytest.raises(NotImplementedError):
        decode_audio(b"OggS" + b"\x00" * 32)

    # TIFF dimensions: both byte orders, SHORT and LONG value types
    tiff_le = (
        b"II\x2a\x00" + struct.pack("<I", 8) + struct.pack("<H", 3)
        + struct.pack("<HHIHH", 256, 3, 1, 640, 0)
        + struct.pack("<HHII", 257, 4, 1, 480)
        + struct.pack("<HHIHH", 258, 3, 1, 16, 0)
        + struct.pack("<I", 0)
    )
    assert decode_image(tiff_le) == {
        "format": "tiff", "width": 640, "height": 480, "bit_depth": 16,
    }
    tiff_be = (
        b"MM\x00\x2a" + struct.pack(">I", 8) + struct.pack(">H", 2)
        + struct.pack(">HHIHH", 256, 3, 1, 12, 0)
        + struct.pack(">HHIHH", 257, 3, 1, 34, 0)
        + struct.pack(">I", 0)
    )
    assert decode_image(tiff_be) == {
        "format": "tiff", "width": 12, "height": 34, "bit_depth": 8,
    }

    # FLAC STREAMINFO: 44.1 kHz stereo 16-bit, 88200 samples = 2000 ms
    packed = (44100 << 44) | (1 << 41) | (15 << 36) | 88200
    streaminfo = (
        b"\x80" + (34).to_bytes(3, "big") + b"\x00" * 10
        + packed.to_bytes(8, "big") + b"\x00" * 16
    )
    m = decode_audio(b"fLaC" + streaminfo)
    assert m == {
        "format": "flac", "n_channels": 2, "sample_rate": 44100,
        "sample_width": 2, "n_frames": 88200, "duration_ms": 2000,
    }


def test_decode_jpeg_sof_dimensions():
    """JPEG width/height/precision via the SOF marker walk — baseline
    (SOF0) and progressive (SOF2), with DHT (0xC4, NOT a frame header)
    and restart markers on the path to prove the walk skips them."""
    import struct

    from geniepool_etl_spark.operators.multimodal import decode_image

    def seg(marker, body):
        return marker + struct.pack(">H", len(body) + 2) + body

    app0 = seg(b"\xff\xe0", b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    dqt = seg(b"\xff\xdb", b"\x00" + bytes(64))
    dht = seg(b"\xff\xc4", b"\x00" + bytes(16))  # must be skipped
    sof0 = seg(
        b"\xff\xc0",
        b"\x08" + struct.pack(">HH", 480, 640) + b"\x03"
        + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01",
    )
    baseline = b"\xff\xd8" + app0 + dqt + dht + sof0 + b"\xff\xd9"
    assert decode_image(baseline) == {
        "format": "jpeg", "width": 640, "height": 480, "bit_depth": 8,
    }

    sof2 = seg(
        b"\xff\xc2",
        b"\x0c" + struct.pack(">HH", 33, 97) + b"\x01\x01\x11\x00",
    )
    progressive = b"\xff\xd8" + app0 + sof2 + b"\xff\xd9"
    assert decode_image(progressive) == {
        "format": "jpeg", "width": 97, "height": 33, "bit_depth": 12,
    }

    # scan data reached with no SOF -> malformed
    import pytest as _pt

    with _pt.raises(ValueError):
        decode_image(b"\xff\xd8" + app0 + seg(b"\xff\xda", b"\x01") + b"\x00" * 8)


def test_jpeg_roundtrip_mapinpandas(spark):
    """Encode half (synth_jpeg_assets) -> decode half
    (decode_image_features) over Arrow batches: per-row dimensions
    survive the byte round trip; a poison payload yields nulls, not a
    failed stage."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.multimodal import (
        decode_image_features,
        synth_jpeg_assets,
    )

    params = spark.range(8).select(
        F.col("id").alias("asset_id"),
        (F.lit(16) + F.col("id") * 3).cast("long").alias("width"),
        (F.lit(9) + F.col("id") * 2).cast("long").alias("height"),
    )
    assets = synth_jpeg_assets(params)
    out = {
        r.asset_id: r for r in decode_image_features(assets).collect()
    }
    for i in range(8):
        r = out[i]
        assert (r.format, r.width, r.height, r.bit_depth) == (
            "jpeg", 16 + i * 3, 9 + i * 2, 8,
        )

    poison = spark.createDataFrame(
        [(99, bytearray(b"\xff\xd8garbage___"), "image/jpeg")],
        "asset_id LONG, payload BINARY, media_type STRING",
    )
    row = decode_image_features(poison).collect()[0]
    assert row.asset_id == 99 and row.width is None and row.format is None


def test_pack_windows_auto_shards_scale_with_input(spark):
    # n_shards=None derives the shard count from total tokens, so
    # parallelism grows with the corpus instead of capping at a fixed
    # default; same input -> same count (deterministic)
    from geniepool_etl_spark.operators.packing import pack_windows

    def corpus(n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"), F.lit("a b c d e").alias("text")
        )

    # auto mode runs (and must loudly warn about) an eager token-sum
    # aggregate at plan time — assert the warning instead of leaking it
    with pytest.warns(UserWarning, match="eager token-sum"):
        small = pack_windows(corpus(100), tokens_per_shard=100)
    with pytest.warns(UserWarning, match="eager token-sum"):
        big = pack_windows(corpus(1000), tokens_per_shard=100)
    n_small = small.select(F.countDistinct("shard")).first()[0]
    n_big = big.select(F.countDistinct("shard")).first()[0]
    # 100 docs x 5 tok / 100 -> 5 shards; 1000 docs -> 50 shards
    assert n_small == 5
    assert n_big == 50
    with pytest.warns(UserWarning, match="eager token-sum"):
        again = pack_windows(corpus(100), tokens_per_shard=100)
    assert sorted(map(tuple, small.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_mixture_plan_caps_and_shortfall(spark):
    from geniepool_etl_spark.operators.sampling import mixture_plan

    df = spark.createDataFrame(
        [("web", 1000), ("web", 1000), ("books", 100), ("tiny", 50)],
        "source STRING, n_tokens LONG",
    )
    got = {
        r.source: r
        for r in mixture_plan(
            df, token_budget=1000, shares={"web": 0.5, "books": 0.5}
        ).collect()
    }
    # un-targeted sources are excluded from the plan
    assert set(got) == {"web", "books"}
    # web: 2000 available, 500 target -> keep 25%
    assert got["web"].fraction == 0.25
    assert got["web"].shortfall_tokens == 0
    # books: 100 available, 500 target -> capped, shortfall reported
    assert got["books"].fraction == 1.0
    assert got["books"].shortfall_tokens == 400


def test_mixture_plan_feeds_stratified_sample(spark):
    """End-to-end: planner fractions drive the hash-gated sampler and
    the kept token mass lands near each source's target."""
    from geniepool_etl_spark.operators.sampling import (
        mixture_plan,
        stratified_hash_sample,
    )

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("books").alias(
            "source"
        ),
        (F.col("id") % 50 + 10).alias("n_tokens"),
    )
    plan = {
        r.source: r.fraction
        for r in mixture_plan(
            df, token_budget=20_000, shares={"web": 0.7, "books": 0.3}
        ).collect()
    }
    kept = stratified_hash_sample(df, plan, key_col="doc_id")
    got = {
        r.source: r.toks
        for r in kept.groupBy("source")
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    # hash gating is Bernoulli per key: expect each source within 25%
    # of its target token mass
    assert abs(got["web"] - 14_000) / 14_000 < 0.25
    assert abs(got["books"] - 6_000) / 6_000 < 0.25


def test_near_dedup_keep_hand_case(spark):
    from geniepool_etl_spark.operators.dedup import near_dedup_keep

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id LONG, text STRING"
    )
    # clusters {1,2,3} (transitive via 2) and {5,6}; 4 and 7 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a LONG, id_b LONG"
    )
    kept = sorted(
        r.doc_id for r in near_dedup_keep(docs, pairs).collect()
    )
    assert kept == [1, 4, 5, 7]


def test_fixed_width_reader(spark, tmp_path):
    from geniepool_etl_spark.sources.fixedwidth import read_fixed_width

    p = tmp_path / "feed.fw"
    p.write_text(
        "# header comment line\n"
        "1   ALPHA BRAVO    42\n"
        "23  C              7\n"
        "456 PAD            \n"  # blank numeric field -> null
    )
    rows = {
        r.id: (r.name, r.n)
        for r in read_fixed_width(
            spark,
            str(p),
            [("id", 1, 4, "int"), ("name", 5, 15, "string"),
             ("n", 20, 3, "int")],
            comment="#",
        ).collect()
    }
    assert rows == {
        1: ("ALPHA BRAVO", 42),   # internal space preserved, pad trimmed
        23: ("C", 7),
        456: ("PAD", None),       # blank-padded numeric -> null
    }


def test_pii_counts_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at alice@example.com or bob.smith@corp.co.uk"),
            (2, "see https://a.example.org/x and http://b.io"),
            (3, "call +1 (555) 010-0199 today"),
            (4, "clean text with no contact info"),
            (5, "all three: c@d.ee https://e.fr +44 20 7946 0958"),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r for r in TX.with_pii_counts(df).collect()}
    assert (rows[1].n_emails, rows[1].n_urls, rows[1].n_phones) == (2, 0, 0)
    assert (rows[2].n_emails, rows[2].n_urls, rows[2].n_phones) == (0, 2, 0)
    assert rows[3].n_phones == 1
    assert not rows[4].has_pii
    assert rows[5].has_pii
    assert (rows[5].n_emails, rows[5].n_urls, rows[5].n_phones) == (1, 1, 1)


def test_pii_counts_is_narrow(spark):
    from geniepool_etl_spark.plans import count_exchanges

    df = spark.createDataFrame(
        [(1, "a@b.cc")], "doc_id LONG, text STRING"
    )
    assert count_exchanges(TX.with_pii_counts(df)) == 0


def test_repeated_ngram_spans_semantics(spark):
    """Two docs share an 8-word run (boilerplate) inside otherwise
    unique text; a third doc is fully unique. The span detector must
    report exactly the shared run in both docs, merged into ONE span,
    and nothing in the unique doc."""
    boiler = "this content is provided under the license terms"  # 8 words
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta epsilon"),
            (2, f"{boiler} zeta eta theta iota kappa"),
            (3, "entirely unique words nowhere else repeated at all"),
        ],
        "doc_id LONG, text STRING",
    )
    spans = {
        r.doc_id: (r.span_start, r.span_end, r.n_grams)
        for r in D.repeated_ngram_spans(df, n=5).collect()
    }
    # doc 1: boilerplate occupies words 3..10 -> grams at pos 3..6 (4
    # grams), merged into one span [3, 10]
    assert spans[1] == (3, 10, 4)
    # doc 2: words 0..7 -> one span [0, 7]
    assert spans[2] == (0, 7, 4)
    assert 3 not in spans


def test_repeated_ngram_spans_merges_adjacent(spark):
    """Two repeated runs separated by a gap LARGER than n stay two
    spans; within n they merge."""
    a = "one two three four five"        # run A (5 words)
    b = "six seven eight nine ten"       # run B
    df = spark.createDataFrame(
        [
            (1, f"{a} x1 x2 x3 x4 x5 x6 {b}"),  # gap of 6 > n=5: two spans
            (2, f"{a} y1 {b}"),                 # gap of 1: merges? grams differ
            (3, f"{a} {b}"),
            (4, f"{a} z0 z1 z2 {b}"),
        ],
        "doc_id LONG, text STRING",
    )
    by_doc: dict = {}
    for r in D.repeated_ngram_spans(df, n=5, min_docs=3).collect():
        by_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end)
        )
    # runs A and B each appear in 4 docs; only grams fully inside a
    # run repeat >= 3 times (bridging grams differ per doc)
    assert sorted(by_doc[1]) == [(0, 4), (11, 15)]  # far apart: 2 spans
    assert sorted(by_doc[3]) == [(0, 9)]            # adjacent: merged


def test_incremental_minhash_finds_cross_dups(spark):
    """A batch doc that duplicates a corpus doc must surface as a
    (batch, corpus) candidate with est_jaccard 1.0; an unrelated batch
    doc must not pair with anything."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different corpus content right here"),
        ],
        "doc_id LONG, text STRING",
    )
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (101, "novel unseen words with no prior match at all"),
        ],
        "doc_id LONG, text STRING",
    )
    idx = D.minhash_index(corpus, num_perm=16, bands=4)
    got = {
        (r.batch_id, r.corpus_id): r.est_jaccard
        for r in D.incremental_minhash_candidates(
            batch, idx, num_perm=16, bands=4
        ).collect()
    }
    assert got == {(100, 1): 1.0}


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucketed range-join rewrite == brute-force O(n^2) overlap scan,
    on a fixture that exercises every edge: touching endpoints
    (closed-interval inclusive), multi-bucket stragglers, same-bucket
    non-overlaps, and key isolation. Canonical-bucket rule must emit
    each pair exactly once despite multi-bucket co-occurrence."""
    bucket = 100
    lrows = [
        # (key, id, start, end)
        (1, 10, 0, 50),      # overlaps 20 at edge (50 == start)
        (1, 11, 40, 260),    # 3-bucket straggler
        (1, 12, 300, 310),   # overlaps nothing
        (2, 20, 0, 50),      # same interval, different key
    ]
    rrows = [
        (1, 20, 50, 70),     # touches 10's end exactly
        (1, 21, 250, 330),   # overlaps 11 and 12
        (2, 22, 51, 60),     # key 2: misses 20 by one
    ]
    left = spark.createDataFrame(
        lrows, "user_id LONG, id LONG, start_us LONG, end_us LONG"
    )
    right = spark.createDataFrame(
        rrows, "user_id LONG, id LONG, start_us LONG, end_us LONG"
    )
    got = sorted(
        (r.l_id, r.r_id)
        for r in E.interval_overlap_join(
            left, right, bucket_us=bucket
        ).collect()
    )
    want = sorted(
        (l_id, r_id)
        for (lk, l_id, ls, le) in lrows
        for (rk, r_id, rs, re) in rrows
        if lk == rk and ls <= re and rs <= le
    )
    assert got == want


def test_python_datasource_split_invariance(spark):
    """The custom DataSource's answer must be identical under any
    split plan (1 vs 8 partitions) — the property that makes a
    connector's partition planner safe to tune — and the requested
    split count must actually reach the scan RDD."""
    from geniepool_etl_spark.sources import pysource

    pysource.register(spark)

    def load(parts):
        return (
            spark.read.format("gp_synthetic_events")
            .option("partitions", parts)
            .option("rows_per_partition", 1000 // parts)
            .load()
        )

    one, eight = load(1), load(8)
    assert eight.rdd.getNumPartitions() == 8
    agg = lambda df: sorted(
        (r.user_id, r.n, r.s)
        for r in df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("value_cents").alias("s")
        )
        .collect()
    )
    assert agg(one) == agg(eight)


def test_merge_rollup_equals_full_recompute(spark):
    """Merging a standing rollup with a batch's partials must equal
    the full recompute — including keys present only in the standing
    side, only in the batch, and in both."""
    from geniepool_etl_spark.operators.upsert import merge_rollup

    old = [(1, 10), (1, 30), (2, 5)]          # key 2: standing-only
    new = [(1, 20), (3, 7)]                   # key 3: batch-only
    schema = "k LONG, v LONG"

    def partials(rows):
        return (
            spark.createDataFrame(rows, schema)
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
        )

    merged = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in merge_rollup(
            partials(old), partials(new), ["k"],
            count_cols=["n"], sum_cols=["s"],
            min_cols=["mn"], max_cols=["mx"],
        ).collect()
    }
    full = {
        r.k: (r.n, r.s, r.mn, r.mx) for r in partials(old + new).collect()
    }
    assert merged == full == {
        1: (3, 60, 10, 30), 2: (1, 5, 5, 5), 3: (1, 7, 7, 7)
    }
    with pytest.raises(ValueError, match="no aggregate"):
        merge_rollup(partials(old), partials(new), ["k"])


def test_decode_video_avi_roundtrip_and_boundaries(spark):
    """AVI header parse is real (round-trip through synth_avi_assets);
    a bare ftyp with no moov is malformed, not a boundary; poison
    payloads null out in the feature lane instead of failing the
    stage."""
    params = spark.createDataFrame(
        [(1, 320, 240, 48, 24), (2, 640, 480, 120, 30)],
        "asset_id LONG, width LONG, height LONG, n_frames LONG, fps LONG",
    )
    got = {
        r.asset_id: (r.format, r.width, r.height, r.n_frames, r.fps,
                     r.duration_ms)
        for r in M.decode_video_features(
            M.synth_avi_assets(params)
        ).collect()
    }
    assert got == {
        1: ("avi", 320, 240, 48, 24, 2000),
        2: ("avi", 640, 480, 120, 30, 4000),
    }
    with pytest.raises(ValueError, match="moov"):
        M.decode_video(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 8)
    with pytest.raises(ValueError):
        M.decode_video(b"RIFF\x00\x00\x00\x00WAVE")
    # poison payload -> null metadata row, not a stage failure
    assets = spark.createDataFrame(
        [(9, bytearray(b"garbage-bytes-here"), "video/avi")],
        "asset_id LONG, payload BINARY, media_type STRING",
    )
    row = M.decode_video_features(assets).collect()[0]
    assert row.asset_id == 9 and row.format is None and row.fps is None


def test_decode_audio_mp3_frame_walk(spark):
    """MP3 frame-header walk is real: round-trip through
    synth_mp3_assets (ID3v2 skip + CBR frame count), VBR streams
    count frames exactly (duration doesn't depend on bitrate),
    padded frames hop one extra byte, and non-MPEG1-L3 headers are
    rejected."""
    params = spark.createDataFrame(
        [(1, 44100, 2, 38, 128), (2, 32000, 1, 200, 32)],
        "asset_id LONG, sample_rate LONG, n_channels LONG, "
        "n_frames LONG, bitrate_kbps LONG",
    )
    got = {
        r.asset_id: (r.format, r.n_channels, r.sample_rate,
                     r.n_frames, r.duration_ms)
        for r in M.decode_audio_features(
            M.synth_mp3_assets(params)
        ).collect()
    }
    assert got == {
        1: ("mp3", 2, 44100, 38, 38 * 1152 * 1000 // 44100),
        2: ("mp3", 1, 32000, 200, 200 * 1152 * 1000 // 32000),
    }

    def frame(kbps, sr_idx=0, rate=44100, padding=0):
        br_idx = M._MP3_BITRATE_KBPS.index(kbps)
        h = bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2)
                   | (padding << 1), 0x00])
        return h + b"\x00" * (144 * kbps * 1000 // rate - 4 + padding)

    # VBR: mixed bitrates, frame count (and thus duration) exact
    vbr = frame(128) + frame(320) + frame(32) + frame(128, padding=1)
    m = M.decode_audio(vbr)
    assert m["n_frames"] == 4
    assert m["duration_ms"] == 4 * 1152 * 1000 // 44100
    # MPEG-2 (version bits 10) is outside the walk's claim
    with pytest.raises(ValueError, match="MPEG-1"):
        M.decode_audio(b"\xff\xf3\x90\x00" + b"\x00" * 16)


def test_decode_video_mp4_roundtrip_and_box_walk(spark):
    """MP4 container parse is real: round-trip through
    synth_mp4_assets (mvhd timescale/duration, 16.16 tkhd dims,
    single-run stts), plus the box-walk edge cases — v1 mvhd 64-bit
    duration, multi-run stts (fps indeterminate -> null), truncated
    moov."""
    import struct

    params = spark.createDataFrame(
        [(1, 320, 240, 48, 24), (2, 1920, 1080, 90, 30)],
        "asset_id LONG, width LONG, height LONG, n_frames LONG, fps LONG",
    )
    got = {
        r.asset_id: (r.format, r.width, r.height, r.n_frames, r.fps,
                     r.duration_ms)
        for r in M.decode_video_features(
            M.synth_mp4_assets(params)
        ).collect()
    }
    assert got == {
        1: ("mp4", 320, 240, 48, 24, 2000),
        2: ("mp4", 1920, 1080, 90, 30, 3000),
    }

    def box(btype, payload):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + b"\x00" * 8)
    # v1 mvhd: 8-byte times, 64-bit duration
    mvhd_v1 = box(
        b"mvhd",
        b"\x01" + b"\x00" * 3 + struct.pack(">QQIQ", 0, 0, 1000, 90_000),
    )
    m = M.decode_video(ftyp + box(b"moov", mvhd_v1))
    assert m["format"] == "mp4" and m["duration_ms"] == 90_000
    assert m["width"] is None and m["fps"] is None
    # multi-run stts: frame total sums, fps is honestly null
    mvhd = box(b"mvhd", struct.pack(">IIIII", 0, 0, 0, 30, 75))
    stts = box(b"stts", struct.pack(">I", 0) + struct.pack(
        ">IIIII", 2, 50, 1, 25, 2))
    trak = box(b"trak", box(b"mdia", box(b"minf", box(b"stbl", stts))))
    m = M.decode_video(ftyp + box(b"moov", mvhd + trak))
    assert m["n_frames"] == 75 and m["fps"] is None
    assert m["duration_ms"] == 75 * 1000 // 30
    with pytest.raises(ValueError, match="moov"):
        M.decode_video(ftyp)


def test_udtf_topk_breaks_ties_deterministically(spark):
    """Equal rounded values must cut by event_id (ascending) — the
    fixture's distinct values never exercise the tiebreak, so pin it
    here: three rows tie at the top, k=2 must keep the two smallest
    event_ids in rank order."""
    from geniepool_etl_spark.operators.tablefunc import topk_by_value

    ev = spark.createDataFrame(
        [(7, 100, 5.0), (7, 50, 5.0), (7, 200, 5.0), (7, 300, 1.0)],
        "user_id LONG, event_id LONG, value DOUBLE",
    )
    got = [
        (r.event_id, r.rnk)
        for r in topk_by_value(spark, ev, view="gp_udtf_tie_test")
        .orderBy("rnk")
        .collect()
    ]
    assert got == [(50, 1), (100, 2)]


def test_anomaly_flags_exact_integer_gate(spark):
    """A constructed spike must flag; steady values must not; fewer
    than min_prior priors must yield NULL; a zero-variance window
    flags any deviation."""
    import datetime

    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = []
    # user 1: 6 steady values then a spike, then steady again
    vals = [10.0] * 6 + [99.0] + [10.0]
    for i, v in enumerate(vals):
        rows.append((i, base + datetime.timedelta(minutes=i), 1, v))
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
    )
    got = {
        r.event_id: (r.n_prior, r.is_anomaly)
        for r in E.with_anomaly_flags(df, window_n=20, min_prior=5).collect()
    }
    assert got[0] == (0, None)          # no priors
    assert got[4] == (4, None)          # below min_prior
    assert got[5] == (5, False)         # steady: not anomalous
    assert got[6] == (6, True)          # the spike flags
    # event 7: priors include the spike -> variance huge, 10.0 is
    # within 3 sigma of the contaminated window
    assert got[7] == (7, False)


def test_int8_topk_null_vectors_never_displace_real_candidates(spark):
    """r11 regression pair: (a) a batch holding ≥ k zero-vector
    (null-quantized) corpus rows must NOT poison the batch-local
    prune — nulls sort LAST in the final desc window, so the real
    matches win; (b) an all-zero query set must yield null cosines,
    not an executor shape-mismatch crash."""
    rows = [(i, [0.0, 0.0, 0.0]) for i in range(6)]
    rows += [
        (100, [1.0, 0.0, 0.0]),
        (101, [0.9, 0.1, 0.0]),
        (102, [0.0, 1.0, 0.0]),
        (103, [0.5, 0.0, 0.5]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    top = S.int8_topk(emb, q, k=3).orderBy("n_id").collect()
    assert [r.n_id for r in top] == [101, 102, 103]
    assert all(r.q_cos is not None for r in top)
    # fewer real candidates than k → null rows DO fill the tail
    q2 = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    emb2 = spark.createDataFrame(
        rows[:3] + [(100, [1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    top2 = S.int8_topk(emb2, q2, k=3).collect()
    assert len(top2) == 3
    assert sorted(r.q_cos is None for r in top2) == [False, True, True]
    # all-zero query set: null cosines, no crash
    qz = spark.createDataFrame(
        [(7, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    outz = S.int8_topk(emb, qz, k=2).collect()
    assert len(outz) == 2 and all(r.q_cos is None for r in outz)
    # r12 advice fix: a NULL corpus array alongside real rows, with an
    # all-zero query set (dim_q probe fails → falls back to the
    # batch's own vectors) must not ragged-stack-crash the executor
    embn = spark.createDataFrame(
        rows + [(300, None)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    outn = S.int8_topk(embn, qz, k=2).collect()
    assert len(outn) == 2 and all(r.q_cos is None for r in outn)


def test_exact_topk_key_nonfinite_cosines_rank_last():
    """r12 advice fix: a cosine that overflows to +inf (subnormal
    norms underflowing to 0 against a nonzero dot) must rank LAST
    like every other non-finite key — exactly the replaced fold
    path's ranking (all non-finite → −inf, ties by ascending j)."""
    import numpy as np

    V = np.array([[1e-200, 0.0]])
    nrm = np.array([0.0])  # sum-of-squares underflowed to 0
    cmat = np.array([[0.0, 1.0], [1e-100, 0.0]])
    cnorm = np.array([1.0, 1e-100])
    # c0: dot 0 → 0/0 = nan; c1: 1e-300/0 = +inf. Both are
    # non-finite → both −inf → ascending-j tiebreak picks c0; the
    # unfixed posinf path ranked c1 FIRST.
    out = S._exact_topk_key(V, nrm, cmat, cnorm, 1)
    assert out[0, 0] == 0


def test_int8_topk_preserves_planted_neighbors(spark):
    """Quantization error must not disturb a clear neighbor
    structure: each query's planted near-duplicate (same direction,
    scaled) must stay its top-1 under the int8 ranking, and zero
    vectors must quantize to null rather than divide by zero."""
    import math

    rows = []
    for q in range(3):
        base = [math.sin(q * 64 + i) for i in range(64)]
        rows.append((q, base))                                  # query
        rows.append((100 + q, [x * 0.5 for x in base]))         # planted
    for j in range(10):  # background noise vectors
        rows.append((200 + j, [math.cos(j * 64 + 7 * i) for i in range(64)]))
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    top1 = {
        r.q_id: r.n_id
        for r in S.int8_topk(emb, emb.where("vec_id < 3"), k=1).collect()
    }
    assert top1 == {0: 100, 1: 101, 2: 102}
    qz = S.quantize_int8(
        spark.createDataFrame([(9, [0.0] * 64)], "vec_id LONG, embedding ARRAY<DOUBLE>")
    ).collect()[0]
    assert qz.qvec is None or all(v is None for v in qz.qvec)


def test_scd2_compresses_runs_and_versions(spark):
    """Repeated writes of the same value collapse into one version;
    the version chain's intervals tile [first_ts, ∞) per key."""
    from geniepool_etl_spark.operators.upsert import scd2_from_changelog

    rows = [
        # key 1: A A B B A  → 3 versions (A, B, A)
        (1, 100, "A", 1), (1, 200, "A", 2), (1, 300, "B", 3),
        (1, 400, "B", 4), (1, 500, "A", 5),
        # key 2: single write → 1 current version
        (2, 50, "X", 6),
        # key 3: NULL → value → NULL transitions each open a version
        (3, 10, None, 7), (3, 20, "V", 8), (3, 30, None, 9),
    ]
    df = spark.createDataFrame(
        rows, "k LONG, ts_us LONG, attr STRING, id LONG"
    )
    out = scd2_from_changelog(
        df, key="k", ts_col="ts_us", attr="attr", id_col="id"
    )
    got = {
        (r.k, r.version): (r.attr, r.valid_from_us, r.valid_to_us,
                           r.is_current)
        for r in out.collect()
    }
    assert got[(1, 1)] == ("A", 100, 300, False)
    assert got[(1, 2)] == ("B", 300, 500, False)
    assert got[(1, 3)] == ("A", 500, None, True)
    assert got[(2, 1)] == ("X", 50, None, True)
    assert got[(3, 1)] == (None, 10, 20, False)
    assert got[(3, 2)] == ("V", 20, 30, False)
    assert got[(3, 3)] == (None, 30, None, True)
    assert len(got) == 7


def test_table_diff_statuses(spark):
    """Every planted difference lands in the right status bucket and
    empty statuses report explicit zeros."""
    from geniepool_etl_spark.operators.reconcile import (
        diff_summary, table_diff,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k LONG, v STRING"
    )
    right = spark.createDataFrame(
        [(1, "a"), (2, "CHANGED"), (4, "d")], "k LONG, v STRING"
    )
    by_key = {
        r.k: r.status
        for r in table_diff(left, right, ["k"], ["v"]).collect()
    }
    assert by_key == {
        1: "match", 2: "differs", 3: "only_left", 4: "only_right"
    }
    summary = {
        r.status: r.n_rows
        for r in diff_summary(left, right, ["k"], ["v"]).collect()
    }
    assert summary == {
        "match": 1, "differs": 1, "only_left": 1, "only_right": 1
    }
    # all-equal tables: the three difference statuses still appear
    same = {
        r.status: r.n_rows
        for r in diff_summary(left, left, ["k"], ["v"]).collect()
    }
    assert same == {
        "match": 3, "differs": 0, "only_left": 0, "only_right": 0
    }


def test_table_diff_null_vs_empty_string(spark):
    """The digest's null sentinel must distinguish NULL from ''."""
    from geniepool_etl_spark.operators.reconcile import table_diff

    left = spark.createDataFrame([(1, None)], "k LONG, v STRING")
    right = spark.createDataFrame([(1, "")], "k LONG, v STRING")
    (row,) = table_diff(left, right, ["k"], ["v"]).collect()
    assert row.status == "differs"


def test_transition_counts_brute(spark):
    """Transition counts/probabilities vs a hand-computed chain."""
    rows = [
        # user 1: A B A B   user 2: A B B
        (1, 1, 1000, "A", 0.0, None), (2, 1, 2000, "B", 0.0, None),
        (3, 1, 3000, "A", 0.0, None), (4, 1, 4000, "B", 0.0, None),
        (5, 2, 1000, "A", 0.0, None), (6, 2, 2000, "B", 0.0, None),
        (7, 2, 3000, "B", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    got = {
        (r.prev_type, r.next_type): (r.n, r.p)
        for r in E.transition_counts(df).collect()
    }
    # transitions: A→B ×3, B→A ×1, B→B ×1
    assert got[("A", "B")] == (3, 1.0)
    assert got[("B", "A")] == (1, 0.5)
    assert got[("B", "B")] == (1, 0.5)
    assert len(got) == 3


def test_attribution_last_touch_cases(spark):
    """Attributed, stale-window→direct, and no-prior-touch→direct."""
    h = 3_600_000_000  # 1h in µs
    ns = 1000  # LONG ts columns carry NANOS (event_micros contract)
    rows = [
        # user 1: click then purchase 1h later → attributed to click
        (1, 1, 0, "click", 0.0, None),
        (2, 1, h * ns, "purchase", 10.0, None),
        # user 2: view then purchase 3h later (window 2h) → direct
        (3, 2, 0, "view", 0.0, None),
        (4, 2, 3 * h * ns, "purchase", 20.0, None),
        # user 3: purchase with no prior events → direct
        (5, 3, 0, "purchase", 40.0, None),
        # user 4: click, then ANOTHER purchase between click and the
        # second purchase — conversions never attribute to conversions
        (6, 4, 0, "click", 0.0, None),
        (7, 4, h * ns // 2, "purchase", 5.0, None),
        (8, 4, h * ns, "purchase", 7.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    got = {
        r.channel: (r.n_conversions, r.attributed_value)
        for r in E.attribute_last_touch(
            df, conversion_type="purchase", within_us=2 * h
        ).collect()
    }
    assert got["click"] == (3, 22.0)  # users 1 + 4 (both purchases)
    assert got["direct"] == (2, 60.0)  # users 2 + 3
    assert len(got) == 2


def test_histogram_clamps_and_validates(spark):
    from geniepool_etl_spark.operators.profile import histogram_equiwidth

    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (1.5,), (9.99,), (250.0,)], "v DOUBLE"
    )
    # cents range [0, 1000), 10 buckets → width 100 cents
    out = {
        r.bucket: (r.n_rows, r.min_cents, r.max_cents)
        for r in histogram_equiwidth(
            df, "v", lo_cents=0, hi_cents=1000, n_buckets=10
        ).collect()
    }
    assert out[0] == (2, -500, 50)    # -5.00 clamps into bucket 0
    assert out[1] == (1, 150, 150)    # 1.50 → bucket 1
    assert out[9] == (2, 999, 25000)  # 9.99 edge + 250.00 clamps high
    with pytest.raises(ValueError):
        histogram_equiwidth(df, "v", 0, 0, 10)
    with pytest.raises(ValueError):
        histogram_equiwidth(df, "v", 0, 100, 0)


def test_bm25_ranking_and_validation(spark):
    """More on-term hits in a shorter doc ⇒ higher score; docs with
    zero query-term hits are excluded; empty terms fail loud."""
    rows = [
        (1, "vector vector vector search"),
        (2, "vector search and other words about other things"),
        (3, "nothing relevant at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = TX.bm25_topk(df, terms=["vector"], k=10)
    got = [r.doc_id for r in out.collect()]
    assert got == [1, 2]  # 3 has no hits; 1 outranks 2
    with pytest.raises(ValueError):
        TX.bm25_topk(df, terms=[])


def test_point_in_time_join_boundaries(spark):
    """Inclusive valid_from / exclusive valid_to at the version flip,
    and facts predating the first version drop (inner semantics)."""
    from geniepool_etl_spark.operators.upsert import point_in_time_join

    history = spark.createDataFrame(
        [
            (1, "A", 100, 300, 1, False),
            (1, "B", 300, None, 2, True),
        ],
        "user_id LONG, event_type STRING, valid_from_us LONG, "
        "valid_to_us LONG, version LONG, is_current BOOLEAN",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, 50),    # before first version → dropped
            (11, 1, 100),   # exactly at v1 start → v1
            (12, 1, 299),   # last µs of v1 → v1
            (13, 1, 300),   # exactly at the flip → v2 (from inclusive)
            (14, 1, 9999),  # open current interval → v2
            (15, 2, 500),   # unknown key → dropped
        ],
        "event_id LONG, user_id LONG, ts_us LONG",
    )
    got = {
        r.event_id: (r.event_type_at_ts, r.version)
        for r in point_in_time_join(
            facts, history, key="user_id"
        ).collect()
    }
    assert got == {
        11: ("A", 1), 12: ("A", 1), 13: ("B", 2), 14: ("B", 2)
    }


def test_scd2_apply_batch_cases(spark):
    """Incremental merge == full recompute for: value change, no-op
    batch write (same value), brand-new key, untouched key."""
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch, scd2_from_changelog,
    )

    schema = "k LONG, ts_us LONG, attr STRING, id LONG"
    old_log = [
        (1, 100, "A", 1), (1, 200, "B", 2),  # k1: two versions
        (2, 100, "X", 3),                     # k2: untouched by batch
        (3, 100, "P", 4),                     # k3: batch repeats P
    ]
    new_log = [
        (1, 500, "C", 10),   # k1: change → version 3
        (3, 600, "P", 11),   # k3: same value → collapses, no new ver
        (3, 700, "Q", 12),   # k3: then a real change → version 2
        (4, 800, "N", 13),   # k4: brand-new key → version 1
    ]
    standing = scd2_from_changelog(
        spark.createDataFrame(old_log, schema),
        key="k", ts_col="ts_us", attr="attr", id_col="id",
    )
    batch = spark.createDataFrame(new_log, schema)
    merged = scd2_apply_batch(
        standing, batch, key="k", ts_col="ts_us", attr="attr",
        id_col="id",
    )
    full = scd2_from_changelog(
        spark.createDataFrame(old_log + new_log, schema),
        key="k", ts_col="ts_us", attr="attr", id_col="id",
    )

    def snap(df):
        return sorted(
            (r.k, r.version, r.attr, r.valid_from_us, r.valid_to_us,
             r.is_current)
            for r in df.collect()
        )

    assert snap(merged) == snap(full)
    got = {(r.k, r.version): r for r in merged.collect()}
    assert got[(1, 3)].attr == "C" and got[(1, 3)].is_current
    assert got[(1, 2)].valid_to_us == 500  # old current row closed
    assert got[(2, 1)].is_current          # untouched key intact
    assert (3, 3) not in got               # no-op write collapsed
    assert got[(4, 1)].attr == "N"


def test_dwell_times_excludes_open_state(spark):
    ns = 1000
    rows = [
        # user 1: A(10µs) → B(5µs) → A(open)
        (1, 1, 0, "A", 0.0, None),
        (2, 1, 10 * ns, "B", 0.0, None),
        (3, 1, 15 * ns, "A", 0.0, None),
        # user 2: single event → no closed interval at all
        (4, 2, 0, "Z", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    got = {
        r.event_type: (r.n_intervals, r.total_dwell_us, r.avg_dwell_us)
        for r in E.dwell_times(df).collect()
    }
    assert got == {"A": (1, 10, 10), "B": (1, 5, 5)}


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup pair must land in the SAME split; singletons
    split independently; invalid weights fail loud."""
    from geniepool_etl_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 21)], "doc_id LONG"
    )
    # two clusters: {1,2,3} (chain) and {10,11}; the rest singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a LONG, id_b LONG"
    )
    out = leakage_safe_split(docs, pairs, weights=(50, 25, 25))
    got = {r.doc_id: (r.split_unit, r.split) for r in out.collect()}
    assert len(got) == 20
    assert got[1] == got[2] == got[3]        # whole cluster together
    assert got[10] == got[11]
    assert got[1][0] == 1 and got[10][0] == 10
    assert got[5][0] == 5                    # singleton = own unit
    assert {s for _, s in got.values()} <= {"train", "val", "test"}
    with pytest.raises(ValueError, match="sum to 100"):
        leakage_safe_split(docs, pairs, weights=(80, 10, 5))


def test_word_entropy_extremes(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),       # degenerate → 0 bits
            (2, "a b c d"),                   # fully diverse → log2(4)
            (3, "a a b b"),                   # half-half → 1 bit
            (4, None),                        # no histogram → no row
        ],
        "doc_id LONG, text STRING",
    )
    got = {
        r.doc_id: (r.n_words_h, r.entropy_bits)
        for r in TX.word_entropy(df).collect()
    }
    assert got[1] == (4, 0.0)
    assert got[2] == (4, pytest.approx(math.log2(4), abs=1e-4))
    assert got[3] == (4, 1.0)
    assert 4 not in got


def test_debounce_collapses_chained_bursts(spark):
    """A chained burst (every gap <= window) collapses to its head;
    a gap > window starts a new chain; types debounce independently."""
    m = 60_000_000  # 1 min in µs
    ns = 1000
    rows = [
        # user 1 'click': burst at 0, +3m, +6m (chained) then +20m
        (1, 1, 0, "click", 0.0, None),
        (2, 1, 3 * m * ns, "click", 0.0, None),
        (3, 1, 6 * m * ns, "click", 0.0, None),
        (4, 1, 26 * m * ns, "click", 0.0, None),
        # same user, other type inside the click burst → kept
        (5, 1, 1 * m * ns, "view", 0.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    kept = sorted(
        r.event_id for r in E.debounce(df, window_us=5 * m).collect()
    )
    assert kept == [1, 4, 5]


def test_sample_per_group_exact_k_and_deterministic(spark):
    from geniepool_etl_spark.operators.sampling import sample_per_group

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(90)], "doc_id LONG, g STRING"
    )
    out = sample_per_group(df, ["g"], k=4, id_col="doc_id")
    by_g: dict = {}
    for r in out.collect():
        by_g.setdefault(r.g, []).append(r.doc_id)
    assert {g: len(v) for g, v in by_g.items()} == {
        "g0": 4, "g1": 4, "g2": 4
    }
    # identical selection on a different physical layout
    again = sample_per_group(
        df.repartition(7), ["g"], k=4, id_col="doc_id"
    )
    assert {
        (r.g, r.doc_id) for r in again.collect()
    } == {(g, d) for g, v in by_g.items() for d in v}


def test_feature_hash_counts_width_and_totals(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a a a a")], "doc_id LONG, text STRING"
    )
    rows = TX.feature_hash_counts(df, n_buckets=8).collect()
    assert all(0 <= r.bucket < 8 for r in rows)
    totals = {}
    for r in rows:
        totals[r.doc_id] = totals.get(r.doc_id, 0) + r.n
    assert totals == {1: 4, 2: 4}  # counts conserve tokens
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n == 4  # one token → one bucket
    with pytest.raises(ValueError):
        TX.feature_hash_counts(df, n_buckets=0)


def test_dsir_importance_weights_hand_computed(spark):
    """DSIR log-weights replayed by hand: md5-bucket both corpora,
    build the add-one-smoothed integer log-ratio table, and check
    every document's score to the exact 1e-4 rounding. A doc made of
    target-typical tokens must outscore one made of raw-only
    tokens."""
    import hashlib
    import math

    raw_docs = [(1, "a b a c"), (2, "d d e"), (3, "a a d")]
    tgt_docs = [(10, "a a b"), (11, "a c")]
    m = 8

    def bucket(w):
        return int(hashlib.md5(f"0:{w}".encode()).hexdigest()[:8],
                   16) % m

    cq, cp = {}, {}
    for _id, t in raw_docs:
        for w in t.split():
            cq[bucket(w)] = cq.get(bucket(w), 0) + 1
    for _id, t in tgt_docs:
        for w in t.split():
            cp[bucket(w)] = cp.get(bucket(w), 0) + 1
    d = {
        k: round(
            (math.log(cp.get(k, 0) + 1) - math.log(cq.get(k, 0) + 1))
            * 10000
        )
        for k in set(cq) | set(cp)
    }
    cst = round(
        (math.log(sum(cp.values()) + m)
         - math.log(sum(cq.values()) + m)) * 10000
    )
    exp = {}
    for _id, t in raw_docs:
        toks = t.split()
        s = sum(d[bucket(w)] for w in toks)
        exp[_id] = round((s - len(toks) * cst) / 10000.0, 4)

    raw = spark.createDataFrame(raw_docs, "doc_id LONG, text STRING")
    tgt = spark.createDataFrame(tgt_docs, "doc_id LONG, text STRING")
    got = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in TX.dsir_importance_weights(
            raw, tgt, n_buckets=m
        ).collect()
    }
    assert got == {
        1: (4, exp[1]), 2: (3, exp[2]), 3: (3, exp[3])
    }
    # target-typical doc 1 (a/b/c tokens) beats raw-only doc 2 (d/e)
    assert exp[1] > exp[2]
    with pytest.raises(ValueError):
        TX.dsir_importance_weights(raw, tgt, n_buckets=0)


def test_dsir_resample_topk_plan_and_determinism(spark):
    """The Gumbel cut must (a) select exactly k docs, (b) reproduce
    bit-identically across runs (hash-derived uniforms, no RNG), and
    (c) plan the cut as TakeOrderedAndProject — never a global
    single-partition sort."""
    docs = spark.createDataFrame(
        [(i, f"tok{i % 9} tok{i % 4} common") for i in range(60)],
        "doc_id LONG, text STRING",
    )
    tgt = docs.where("doc_id % 5 = 0")
    out = TX.dsir_resample(docs, tgt, k=7, n_buckets=16)
    rows = {r.doc_id: (r.gumbel_key, r.selected)
            for r in out.collect()}
    assert len(rows) == 60
    assert sum(s for _g, s in rows.values()) == 7
    again = {r.doc_id: (r.gumbel_key, r.selected)
             for r in TX.dsir_resample(
                 docs, tgt, k=7, n_buckets=16).collect()}
    assert rows == again
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort [gumbel_key" not in plan  # no global sort stage
    with pytest.raises(ValueError):
        TX.dsir_resample(docs, tgt, k=0)


def test_asof_cogroup_matches_union_carry(spark):
    """Union-carry as-of join: a right row at the left row's exact
    timestamp matches (≤ semantics), and a user with left rows but no
    right rows is still emitted with null matches."""
    ns = 1000
    rows = [
        (1, 1, 0, "click", 0.0, None),
        (2, 1, 10 * ns, "purchase", 0.0, None),
        (3, 1, 10 * ns, "click", 0.0, None),   # tie at purchase ts
        (4, 1, 20 * ns, "purchase", 0.0, None),
        (5, 2, 5 * ns, "purchase", 0.0, None),  # no clicks at all
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    e = E.with_event_time(df)
    left = e.where("event_type = 'purchase'")
    right = e.where("event_type = 'click'")
    out = E.asof_join_latest_prior(left, right).collect()
    got = {r.event_id: (r.asof_ts_us, r.asof_event_id) for r in out}
    assert len(out) == 3 and sorted(got) == [2, 4, 5]
    assert got[2] == (10, 3)    # tie at same ts matches (≤ semantics)
    assert got[4] == (10, 3)
    assert got[5] == (None, None)  # clickless user still emitted


def test_merge_upsert_latest_newer_wins_stale_loses(spark):
    from geniepool_etl_spark.operators.upsert import merge_upsert_latest

    base = spark.createDataFrame(
        [(1, 100, "old"), (2, 100, "old"), (3, 100, "old")],
        "k LONG, ts LONG, v STRING",
    )
    updates = spark.createDataFrame(
        [
            (1, 200, "newer"),   # strictly newer → wins
            (2, 50, "stale"),    # older → loses
            (3, 100, "replay"),  # equal ts → base wins (idempotence)
            (4, 10, "insert"),   # new key → inserted
        ],
        "k LONG, ts LONG, v STRING",
    )
    got = {
        r.k: (r.ts, r.v)
        for r in merge_upsert_latest(
            base, updates, keys=["k"], ts_col="ts"
        ).collect()
    }
    assert got == {
        1: (200, "newer"), 2: (100, "old"), 3: (100, "old"),
        4: (10, "insert"),
    }


def test_bpe_learns_textbook_merges(spark):
    """The classic BPE toy corpus (low/lower/newest/widest weighted)
    must learn es → est → lo, in that order, with exact weighted
    counts."""
    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], "doc_id LONG, text STRING")
    got = [
        (r.step, r.l, r.r, r.merged, r.pair_count)
        for r in sorted(
            TX.bpe_learn_merges(df, k=3).collect(), key=lambda r: r.step
        )
    ]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "l", "o", "lo", 7),
    ]
    with pytest.raises(ValueError):
        TX.bpe_learn_merges(df, k=0)


def test_key_operators_tolerate_empty_inputs(spark):
    """Empty-input robustness: the operators a daily pipeline calls
    unconditionally must return EMPTY (correct schema), never raise —
    an empty ingest day is normal, not exceptional."""
    from geniepool_etl_spark.operators.reconcile import diff_summary
    from geniepool_etl_spark.operators.sampling import sample_per_group
    from geniepool_etl_spark.operators.upsert import (
        merge_upsert_latest, scd2_from_changelog,
    )

    empty_docs = spark.createDataFrame([], "doc_id LONG, text STRING")
    empty_log = spark.createDataFrame(
        [], "k LONG, ts_us LONG, attr STRING, id LONG"
    )
    empty_ev = spark.createDataFrame(
        [],
        "event_id LONG, user_id LONG, ts LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    assert TX.bm25_topk(empty_docs, terms=["x"]).count() == 0
    assert TX.word_entropy(empty_docs).count() == 0
    assert TX.feature_hash_counts(empty_docs).count() == 0
    assert TX.bpe_learn_merges(empty_docs, k=2).count() == 0
    assert (
        scd2_from_changelog(
            empty_log, key="k", ts_col="ts_us", attr="attr", id_col="id"
        ).count()
        == 0
    )
    assert E.debounce(empty_ev).count() == 0
    assert E.transition_counts(empty_ev).count() == 0
    assert E.dwell_times(empty_ev).count() == 0
    assert sample_per_group(empty_docs, ["text"], k=3).count() == 0
    # empty vs empty reconciliation: all four statuses, all zero
    got = {
        r.status: r.n_rows
        for r in diff_summary(
            empty_docs, empty_docs, ["doc_id"], ["text"]
        ).collect()
    }
    assert got == {
        "match": 0, "differs": 0, "only_left": 0, "only_right": 0
    }
    # conditional merge with an empty update side is the identity
    base = spark.createDataFrame([(1, 10, "a")], "k LONG, ts LONG, v STRING")
    out = merge_upsert_latest(
        base, spark.createDataFrame([], "k LONG, ts LONG, v STRING"),
        keys=["k"], ts_col="ts",
    )
    assert [(r.k, r.ts, r.v) for r in out.collect()] == [(1, 10, "a")]
    # round-7b additions: sketches, graph, perplexity, semantic dedup
    from geniepool_etl_spark.operators.graph import triangle_counts
    from geniepool_etl_spark.operators.similarity import (
        semantic_dedup_keep,
    )
    from geniepool_etl_spark.operators.sketch import (
        countmin_heavy_hitters,
        loghist_quantiles,
    )

    empty_long = spark.createDataFrame([], "c LONG")
    assert loghist_quantiles(empty_long, "c").count() == 0
    assert (
        countmin_heavy_hitters(
            empty_long.withColumnRenamed("c", "k"), "k"
        ).count()
        == 0
    )
    assert TX.bigram_surprisal_scores(empty_docs).count() == 0
    assert TX.bpe_token_counts(empty_docs, k=2).count() == 0
    empty_edges = spark.createDataFrame([], "src LONG, dst LONG")
    assert triangle_counts(empty_edges).count() == 0
    empty_vec = spark.createDataFrame(
        [], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    assert semantic_dedup_keep(empty_vec).count() == 0


def test_bigram_lm_counts_and_topk(spark):
    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b")], "doc_id LONG, text STRING"
    )
    rows = TX.bigram_next_words(df, k=2).collect()
    got = {(r.word, r.next): (r.n, r.p, r.rnk) for r in rows}
    # from 'a': a→b ×3, a→c ×1 (total 4); from 'b': b→a ×2 (total 2)
    assert got[("a", "b")] == (3, 0.75, 1)
    assert got[("a", "c")] == (1, 0.25, 2)
    assert got[("b", "a")] == (2, 1.0, 1)
    assert len(got) == 3


def test_psi_by_key_smoothing_and_contributions(spark):
    """Hand-checkable PSI: union-key (+1) smoothing gives vanished and
    brand-new bins finite, dominant contributions; an identical mix
    yields zero drift everywhere."""
    import math

    from geniepool_etl_spark.operators.profile import psi_by_key

    old = spark.createDataFrame(
        [("a",)] * 3 + [("b",)], "source STRING"
    )
    new = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("c",)], "source STRING"
    )
    got = {r.key: r for r in psi_by_key(old, new).collect()}
    # k=3 union keys, totals 4 and 4 -> smoothed denominators 7
    def psi(no, nn):
        po, pn = (no + 1) / 7, (nn + 1) / 7
        return round((pn - po) * math.log(pn / po), 4)

    assert (got["a"].n_old, got["a"].n_new) == (3, 1)
    assert got["a"].psi == psi(3, 1)
    assert got["c"].n_old == 0          # brand-new source
    assert got["c"].psi == psi(0, 2)
    assert got["c"].psi > got["b"].psi  # new bin dominates steady bin
    same = psi_by_key(old, old).collect()
    assert all(r.psi == 0.0 for r in same)


def test_ks_statistic_exact_cdf_gap(spark):
    """Hand-checkable KS: old=[1,2,2,3] vs new=[2,3,3,4] has CDF gaps
    (.25, .5, .25, 0) over merged values 1..4 -> ks=0.5 at v=2;
    identical samples give ks=0."""
    from geniepool_etl_spark.operators.profile import ks_statistic

    old = spark.createDataFrame([(1,), (2,), (2,), (3,)], "n_chars LONG")
    new = spark.createDataFrame([(2,), (3,), (3,), (4,)], "n_chars LONG")
    r = ks_statistic(old, new).collect()[0]
    assert (r.ks, r.at_value, r.n_old, r.n_new) == (0.5, 2, 4, 4)
    z = ks_statistic(old, old).collect()[0]
    assert z.ks == 0.0 and z.at_value == 1  # tie -> smallest value


def test_scd2_apply_batch_equal_ts_negative_id(spark):
    """Regression for the seed-ordering fix: a batch row arriving at
    EXACTLY the standing current row's valid_from_us with a negative
    id must still replay AFTER the seed (Long.MIN_VALUE), matching
    the full rebuild — the old -1 seed let ids < -1 corrupt run
    compression."""
    from geniepool_etl_spark.operators.upsert import (
        scd2_apply_batch,
        scd2_from_changelog,
    )

    schema = "k LONG, ts_us LONG, attr STRING, id LONG"
    standing_log = [(1, 10, "A", -100)]
    batch_rows = [(1, 10, "B", -5)]

    def snap(df):
        return sorted(
            (r.k, r.version, r.attr, r.valid_from_us, r.valid_to_us,
             r.is_current)
            for r in df.collect()
        )

    standing = scd2_from_changelog(
        spark.createDataFrame(standing_log, schema),
        key="k", ts_col="ts_us", attr="attr", id_col="id",
    )
    merged = scd2_apply_batch(
        standing, spark.createDataFrame(batch_rows, schema),
        key="k", ts_col="ts_us", attr="attr", id_col="id",
    )
    full = scd2_from_changelog(
        spark.createDataFrame(standing_log + batch_rows, schema),
        key="k", ts_col="ts_us", attr="attr", id_col="id",
    )
    got = snap(merged)
    assert got == snap(full)
    # and the batch attr is the current one (B replayed after A)
    cur = [r for r in got if r[5]]
    assert len(cur) == 1 and cur[0][2] == "B" and cur[0][1] == 2


def test_deterministic_shuffle_is_stable_permutation(spark):
    """Every shard's pos column is exactly 1..|shard| (a permutation
    address, no gaps or dupes), and the full (id -> shard, pos)
    assignment is identical across re-runs and input repartitionings
    — the property RNG shuffles lack."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, n_shards=5).collect()
    }
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(
            df.repartition(7), n_shards=5
        ).collect()
    }
    assert a == b and len(a) == 300
    by_shard = {}
    for shard, pos in a.values():
        by_shard.setdefault(shard, []).append(pos)
    for shard, poses in by_shard.items():
        assert sorted(poses) == list(range(1, len(poses) + 1)), shard
    # a different seed is a genuinely different permutation
    c = {
        r.doc_id: (r.shard, r.pos)
        for r in deterministic_shuffle(df, n_shards=5, seed=18).collect()
    }
    assert c != a


def test_decode_audio_ogg_page_walk(spark):
    """Ogg container parse is real: OpusHead (channels, input rate,
    pre-skip; 48 kHz granule clock) and the Vorbis id header, with
    duration from the final page's granule position; unknown ogg
    codecs stay the honest ffmpeg boundary."""
    import struct

    def page_ok(granule, payload_bytes, htype=0):
        return (
            b"OggS" + bytes([0, htype])
            + struct.pack("<q", granule)
            + struct.pack("<III", 1, 0, 0)
            + bytes([1, len(payload_bytes)]) + payload_bytes
        )

    opus_head = (
        b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
        + struct.pack("<I", 24000) + b"\x00\x00\x00"
    )
    # id page carries granule -1 (no packet ends); EOS page's granule
    # is pre-skip + total samples at the 48 kHz Opus granule clock
    ogg = page_ok(-1, opus_head) + page_ok(312 + 96000, b"\x00", htype=4)
    m = M.decode_audio(ogg)
    assert m == {
        "format": "opus", "n_channels": 2, "sample_rate": 24000,
        "sample_width": None, "n_frames": 96000,
        "duration_ms": 96000 * 1000 // 48000,
    }

    vorbis_head = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
        + struct.pack("<I", 44100) + b"\x00" * 4
    )
    ogg_v = page_ok(-1, vorbis_head) + page_ok(88200, b"\x00", htype=4)
    m = M.decode_audio(ogg_v)
    assert (m["format"], m["n_channels"], m["sample_rate"],
            m["n_frames"], m["duration_ms"]) == (
        "vorbis", 2, 44100, 88200, 2000)

    with pytest.raises(NotImplementedError, match="codec"):
        M.decode_audio(page_ok(0, b"Speex   header!!"))


def test_decode_video_mkv_duration(spark):
    """Matroska EBML walk is real: Segment>Info TimestampScale +
    float Duration give the exact duration; a Segment without Info
    duration is malformed, not a codec gap."""
    import struct

    def elem(eid_bytes, payload_bytes):
        assert len(payload_bytes) < 127
        return eid_bytes + bytes([0x80 | len(payload_bytes)]) + payload_bytes

    ebml_hdr = elem(b"\x1aE\xdf\xa3", b"")
    # scale 2_000_000 ns/tick, duration 1500.0 ticks -> 3000 ms
    info = elem(
        b"\x15\x49\xa9\x66",
        elem(b"\x2a\xd7\xb1", (2_000_000).to_bytes(4, "big"))
        + elem(b"\x44\x89", struct.pack(">d", 1500.0)),
    )
    mkv = ebml_hdr + elem(b"\x18\x53\x80\x67", info)
    m = M.decode_video(mkv)
    assert m["format"] == "mkv" and m["duration_ms"] == 3000
    assert m["width"] is None and m["fps"] is None
    # 4-byte float duration, default scale (1 ms/tick): 2500 ms
    info2 = elem(b"\x15\x49\xa9\x66",
                 elem(b"\x44\x89", struct.pack(">f", 2500.0)))
    m2 = M.decode_video(ebml_hdr + elem(b"\x18\x53\x80\x67", info2))
    assert m2["duration_ms"] == 2500
    # Info with a scale but no Duration is malformed for this lane
    info3 = elem(b"\x15\x49\xa9\x66",
                 elem(b"\x2a\xd7\xb1", (1_000_000).to_bytes(4, "big")))
    with pytest.raises(ValueError, match="Duration"):
        M.decode_video(ebml_hdr + elem(b"\x18\x53\x80\x67", info3))


def test_pagerank_fixedpoint_invariants(spark):
    """Hand-checkable PageRank: a symmetric REGULAR graph stays
    uniform (every node's exact fixed-point score equal, within the
    documented integer-floor drift of the uniform start); a hub
    outranks its spokes; total mass never exceeds scale and the
    floor-loss per step is bounded by one unit per edge."""
    from geniepool_etl_spark.operators.graph import pagerank_fixedpoint

    S = 10**12
    # triangle: 3 nodes, symmetric, 2-regular
    tri = spark.createDataFrame(
        [(a, b) for a in range(3) for b in range(3) if a != b],
        "src LONG, dst LONG",
    )
    got = {r.node: r.score for r in
           pagerank_fixedpoint(tri, iterations=5, scale=S).collect()}
    assert len(set(got.values())) == 1  # regular graph stays uniform
    assert abs(next(iter(got.values())) - S // 3) < 100
    # star: hub 0 <-> spokes 1..4 (symmetrized)
    star_edges = [(0, i) for i in range(1, 5)] + [
        (i, 0) for i in range(1, 5)
    ]
    star = spark.createDataFrame(star_edges, "src LONG, dst LONG")
    sg = {r.node: r.score for r in
          pagerank_fixedpoint(star, iterations=5, scale=S).collect()}
    assert all(sg[0] > sg[i] for i in range(1, 5))
    assert len({sg[i] for i in range(1, 5)}) == 1  # spokes symmetric
    total = sum(sg.values())
    n_edges, steps = len(star_edges), 5
    assert total <= S
    assert total >= S - n_edges * steps - 5  # bounded floor loss


def test_triangle_counts_known_graphs(spark):
    """Hand-checkable triangle census: K4 has 4 triangles (every node
    in C(3,2)=3); a path has none; two triangles sharing a vertex
    credit the shared vertex twice; duplicate/reversed input edges
    collapse."""
    from geniepool_etl_spark.operators.graph import triangle_counts

    def run(edges):
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        return {r.node: r.triangles for r in triangle_counts(df).collect()}

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert run(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # duplicated + reversed edges must not change the census
    assert run(k4 + [(b, a) for a, b in k4] + k4) == {
        0: 3, 1: 3, 2: 3, 3: 3
    }
    assert run([(0, 1), (1, 2), (2, 3)]) == {}
    bowtie = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)]
    assert run(bowtie) == {0: 1, 1: 1, 2: 2, 3: 1, 4: 1}
    # ids keep their native type: string-keyed graphs must work too
    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src STRING, dst STRING"
    )
    assert {
        r.node: r.triangles for r in triangle_counts(sdf).collect()
    } == {"a": 1, "b": 1, "c": 1}


def test_bigram_surprisal_orders_templated_below_gibberish(spark):
    """The perplexity signal must rank a document made of the corpus's
    dominant bigram below one made of unique bigrams, and n_bigrams
    must count tokens (words - 1) per doc; single-word docs drop."""
    from geniepool_etl_spark.operators.text import bigram_surprisal_scores

    rows = [(i, "the cat sat on the mat") for i in range(8)]
    rows.append((100, "zq xv wk yj pf"))  # every bigram unique
    rows.append((101, "lonely"))  # no bigrams -> excluded
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in bigram_surprisal_scores(df).collect()}
    assert 101 not in got
    assert got[0].n_bigrams == 5
    assert got[100].n_bigrams == 4
    assert got[100].avg_nll > got[0].avg_nll


def test_expectations_nulls_violate_and_fk_orphans(spark):
    """A NULL predicate result is a violation (three-valued logic must
    not wave unknowns through); uniqueness counts rows beyond the
    first per key; the FK check counts orphan CHILD rows."""
    from geniepool_etl_spark.operators.profile import (
        expectations,
        referential_check,
        uniqueness_check,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, None), (3, 60), (3, 99)], "k LONG, v LONG"
    )
    exp = {
        r.rule: r
        for r in expectations(
            child, [("v_small", "v < 50"), ("k_pos", "k > 0")]
        ).collect()
    }
    # v=None is unknown -> violation; v=60 and v=99 violate outright
    assert exp["v_small"].violations == 3
    assert exp["v_small"].ok == 0
    assert exp["k_pos"].violations == 0
    assert exp["k_pos"].ok == 1
    assert exp["v_small"].total == 4

    uq = uniqueness_check(child, "k", "k_unique").collect()[0]
    assert (uq.total, uq.violations, uq.ok) == (4, 1, 0)

    parent = spark.createDataFrame([(1,), (3,)], "k LONG")
    fk = referential_check(child, "k", parent, "k", "fk").collect()[0]
    assert (fk.total, fk.violations, fk.ok) == (4, 1, 0)


def test_pcm_stats_exact_and_poison_safe(spark):
    """The sawtooth WAV round-trip must reproduce hand-computed
    sample sums exactly, and a poison payload must yield null stats,
    not a dead batch."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 8000, 1, 10, 4, 3), (2, 8000, 2, 5, 8, 2)],
        "asset_id LONG, sample_rate LONG, n_channels LONG, "
        "n_frames LONG, period LONG, step LONG",
    )
    got = {
        r.asset_id: r
        for r in M.decode_audio_pcm_stats(
            M.synth_wav_tone_assets(params)
        ).collect()
    }

    def expect(f, c, p, s):
        off = ((p - 1) * s) // 2
        vals = [(i % p) * s - off for i in range(f)]
        return (
            f * c,
            c * sum(vals),
            c * sum(v * v for v in vals),
            max(abs(v) for v in vals),
        )

    for aid, (f, c, p, s) in {1: (10, 1, 4, 3), 2: (5, 2, 8, 2)}.items():
        r = got[aid]
        assert (r.n_samples, r.sum_amp, r.sum_sq, r.peak) == expect(
            f, c, p, s
        )

    poison = spark.createDataFrame(
        [(9, b"not a wav at all", "audio/wav")],
        "asset_id LONG, payload BINARY, media_type STRING",
    )
    row = M.decode_audio_pcm_stats(poison).collect()[0]
    assert row.n_samples is None and row.sum_sq is None


def test_pixel_stats_exact_padding_and_flip(spark):
    """The BMP gradient round-trip must reproduce hand-computed
    channel sums exactly — widths chosen so the row stride NEEDS
    padding (w=3 -> stride 12) — and the synthesized container must
    also satisfy the standalone dimension decoder."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 3, 2), (2, 4, 3)], "asset_id LONG, width LONG, height LONG"
    )
    assets = M.synth_bmp_gradient_assets(params)
    meta = {r.asset_id: r for r in M.decode_image_features(assets).collect()}
    assert (meta[1].width, meta[1].height) == (3, 2)
    assert meta[2].format == "bmp"

    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expect(w, h):
        sb = sum((x + y) % 256 for x in range(w) for y in range(h))
        sg = sum((2 * x + y) % 256 for x in range(w) for y in range(h))
        sr = sum((x + 2 * y) % 256 for x in range(w) for y in range(h))
        return (w * h, sr, sg, sb)

    for aid, (w, h) in {1: (3, 2), 2: (4, 3)}.items():
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == expect(w, h)

    poison = spark.createDataFrame(
        [(9, b"BMnope", "image/bmp")],
        "asset_id LONG, payload BINARY, media_type STRING",
    )
    row = M.decode_image_pixel_stats(poison).collect()[0]
    assert row.n_pixels is None and row.sum_r is None


def test_semantic_dedup_keeps_lowest_id_per_near_group(spark):
    """Planted near-dups: vectors 0/5/9 are (near-)parallel, so only
    the lowest id among co-clustered near-dups survives; orthogonal
    vectors all survive. n_centroids=2 forces real multi-cluster
    assignment."""
    from geniepool_etl_spark.operators.similarity import (
        semantic_dedup_keep,
    )

    def vec(*pairs):
        v = [0.0] * 8
        for i, x in pairs:
            v[i] = float(x)
        return v

    rows = [
        (0, vec((0, 1.0))),
        (1, vec((1, 1.0))),           # orthogonal to everything else
        (5, vec((0, 1.0), (2, 0.1))),  # near-dup of 0
        (9, vec((0, -1.0))),           # anti-parallel: cos = -1, keeps
        (12, vec((0, 0.98), (3, 0.2))),  # near-dup of 0 and 5
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = {
        r.vec_id: r.keep
        for r in semantic_dedup_keep(
            df, threshold=0.9, n_centroids=2
        ).collect()
    }
    assert got[0] == 1          # lowest id of the near-dup group
    assert got[5] == 0 and got[12] == 0
    assert got[1] == 1 and got[9] == 1


def test_bpe_token_counts_textbook(spark):
    """On this corpus (low×4, lower×2, newest×3, widest×1) the 3
    learned merges are (l,o)->lo [6], (lo,w)->low [6], (e,s)->es [4];
    hand-tokenize each word under those merges and check per-doc
    totals: low->[low]=1, lower->[low,e,r]=3, newest->[n,e,w,es,t]=5,
    widest->[w,i,d,es,t]=5."""
    from geniepool_etl_spark.operators.text import bpe_token_counts

    rows = [
        (1, "low low low lower lower"),
        (2, "newest newest widest"),
        (3, "low newest"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r.doc_id: r for r in bpe_token_counts(df, k=3).collect()}
    assert (got[1].n_words, got[1].n_tokens) == (5, 3 * 1 + 2 * 3)
    assert (got[2].n_words, got[2].n_tokens) == (3, 2 * 5 + 5)
    assert (got[3].n_words, got[3].n_tokens) == (2, 1 + 5)


def test_bpe_byte_fallback_semantics(spark):
    """r15: byte-fallback BPE. Learn on docs 1-2 (same corpus as the
    textbook test, so merges are (l,o), (lo,w), (e,s)); doc 3 is
    encode-only and carries OOV characters. In-vocabulary words
    encode exactly as plain BPE; an OOV char costs one token per
    UTF-8 byte ('日' = 3 bytes → 3 tokens, 'é' = 2 bytes → 2); and
    the encode-only doc must not influence learning (its 'zz zz zz'
    would otherwise win round 1 over (l,o))."""
    from geniepool_etl_spark.operators.text import (
        bpe_token_counts_byte_fallback,
    )

    rows = [
        (1, "low low low lower lower"),
        (2, "newest newest widest"),
        # 'zz' x3 would out-count (l,o) if learning saw this doc;
        # 'a日b' has an OOV CJK char mid-word; 'é' is a 2-byte OOV
        (3, "zz zz zz a日b é low"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    learn = df.where("doc_id <= 2")
    got = {
        r.doc_id: r
        for r in bpe_token_counts_byte_fallback(
            df, k=3, learn_df=learn
        ).collect()
    }
    # learn docs: identical to plain BPE (textbook test's totals)
    assert (got[1].n_words, got[1].n_tokens) == (5, 3 * 1 + 2 * 3)
    assert (got[2].n_words, got[2].n_tokens) == (3, 2 * 5 + 5)
    # encode-only doc: zz -> [z,z]=2 ('z' unseen? 'z' IS unseen in
    # learn -> 2 bytes? no: 'z' is ASCII 1 byte -> <0x7A> token) …
    # 'z' never appears in the learn corpus, so each 'z' is one
    # 1-byte fallback token: zz = 2 tokens. a日b = [a? 'a' unseen
    # too -> 1 byte token] + 3 byte tokens + [b? unseen -> 1] = 5.
    # é = 2 byte tokens. low = [low] = 1 (learned merge applies).
    assert (got[3].n_words, got[3].n_tokens) == (
        6, 3 * 2 + 5 + 2 + 1
    )


def test_countmin_never_undercounts_and_merges(spark):
    """Count-min invariants: every estimate >= exact (min over rows
    cannot undercount); with width >= |keys| and depth hashes a small
    key set collides rarely but estimates stay exact-or-over; and the
    sketch built on A union B equals the elementwise SUM of the A and
    B sketches (the rollup merge law)."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.functions import portable_hash32
    from geniepool_etl_spark.operators.sketch import (
        countmin_heavy_hitters,
    )

    a = spark.range(0, 400).select((F.col("id") % 7).alias("k"))
    b = spark.range(0, 300).select((F.col("id") % 11).alias("k"))
    for part in (a, b, a.unionAll(b)):
        rows = countmin_heavy_hitters(part, "k", depth=3, width=64).collect()
        assert all(r.est >= r.exact for r in rows)
        assert all(r.overcount >= 0 for r in rows)

    def sketch(df, depth=3, width=64):
        keys = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        fan = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (portable_hash32(F.col("k"), seed=d) % width)
                        .alias("b"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("h")
        return {
            (r.d, r.b): r.c
            for r in keys.select("n", fan)
            .select("n", "h.d", "h.b")
            .groupBy("d", "b")
            .agg(F.sum("n").alias("c"))
            .collect()
        }

    sa, sb, sab = sketch(a), sketch(b), sketch(a.unionAll(b))
    merged = dict(sa)
    for kk, v in sb.items():
        merged[kk] = merged.get(kk, 0) + v
    assert merged == sab


def test_loghist_encloses_true_quantiles_and_merges(spark):
    """Log-histogram invariants: (1) every value lies inside its
    bucket's [lo, hi]; (2) each reported quantile enclosure contains
    the true nearest-rank quantile; (3) partial sketches SUM-merge to
    the global sketch; (4) sub-1 values are counted in idx -1, never
    dropped."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.sketch import (
        loghist_partial,
        loghist_quantiles,
    )

    df = spark.range(1, 5001).select((F.col("id") * 7 % 9973 + 1).alias("c"))
    vals = sorted(r.c for r in df.collect())
    got = {
        (r.q_num, r.q_den): (r.rank, r.lo_cents, r.hi_cents)
        for r in loghist_quantiles(df, "c").collect()
    }
    for (qn, qd), (rank, lo, hi) in got.items():
        true_q = vals[rank - 1]  # nearest-rank definition
        assert lo <= true_q <= hi, (qn, qd, lo, true_q, hi)
        assert (hi - lo) <= max(lo, 1) / 8 + 1  # relative width bound

    a = df.where("c % 2 = 0")
    b = df.where("c % 2 = 1")
    def sk(d):
        return {r.idx: r.n for r in loghist_partial(d, "c").collect()}
    sa, sb, sall = sk(a), sk(b), sk(df)
    merged = dict(sa)
    for kk, v in sb.items():
        merged[kk] = merged.get(kk, 0) + v
    assert merged == sall

    z = spark.createDataFrame([(0,), (-5,), (3,)], "c LONG")
    assert sk(z) == {-1: 2, 3: 1}
    # a rank landing in the sub-1 catch-all reports the honest
    # unbounded-below enclosure [NULL, 0], never a fake point bound
    zq = {
        (r.q_num, r.q_den): (r.lo_cents, r.hi_cents)
        for r in loghist_quantiles(z, "c").collect()
    }
    assert zq[(50, 100)] == (None, 0)


def test_freshness_check_overshoot_and_empty(spark):
    """Freshness semantics: violations = lag overshoot in µs (0 when
    fresh), and an EMPTY feed is maximally stale, never vacuously
    fresh."""
    from geniepool_etl_spark.operators.profile import freshness_check

    df = spark.createDataFrame([(1_000,), (5_000,)], "ts_us LONG")
    fresh = freshness_check(df, "ts_us", 6_000, 2_000, "f").collect()[0]
    assert (fresh.total, fresh.violations, fresh.ok) == (2, 0, 1)
    stale = freshness_check(df, "ts_us", 10_000, 2_000, "s").collect()[0]
    assert (stale.total, stale.violations, stale.ok) == (2, 3_000, 0)
    empty = spark.createDataFrame([], "ts_us LONG")
    e = freshness_check(empty, "ts_us", 10_000, 2_000, "e").collect()[0]
    assert e.total == 0 and e.violations > 0 and e.ok == 0


def test_common_neighbor_links_square_plus_diagonal(spark):
    """Hand-checkable link prediction: on the square 0-1-2-3-0, the
    two diagonals (0,2) and (1,3) are the only non-edges with 2
    common neighbors, each with Jaccard 2/(2+2-2)=1.0; adding the
    (0,2) diagonal as an edge removes it from the candidates."""
    from geniepool_etl_spark.operators.graph import common_neighbor_links

    square = [(0, 1), (1, 2), (2, 3), (3, 0)]
    df = spark.createDataFrame(square, "src LONG, dst LONG")
    got = {
        (r.a, r.b): (r.cn, r.jaccard)
        for r in common_neighbor_links(df, k=10).collect()
    }
    assert got == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}
    with_diag = spark.createDataFrame(
        square + [(0, 2)], "src LONG, dst LONG"
    )
    got2 = {
        (r.a, r.b): r.cn
        for r in common_neighbor_links(with_diag, k=10).collect()
    }
    assert (0, 2) not in got2 and (1, 3) in got2


def test_bpe_merge_apply_is_true_greedy(spark):
    """Runs of a repeated winning pair must merge left-to-right like
    textbook greedy BPE: 'aaaa' + (a,a) -> 'aa aa' (2 tokens) and
    'aaaaa' -> 'aa aa a' (3 tokens). A naive single-space replace
    gives 3 / 4 tokens (shared-delimiter loss); a fixpoint loop gives
    the right counts but mis-associates odd runs ('aa a aa')."""
    from geniepool_etl_spark.operators.text import (
        _greedy_merge_rep,
        bpe_token_counts,
    )

    # expression-level: exact token sequences, not just counts. The
    # helper's contract is the DOUBLED-space representation (the
    # invariant the k-round chain maintains end to end).
    reps = spark.createDataFrame(
        [("  a  a  a  a  ",), ("  a  a  a  a  a  ",), ("  x  a  a  a  y  ",)],
        "rep STRING",
    ).select(
        _greedy_merge_rep(F.col("rep"), F.lit("a"), F.lit("a")).alias(
            "rep"
        )
    )
    assert [r.rep for r in reps.collect()] == [
        "  aa  aa  ",
        "  aa  aa  a  ",
        "  x  aa  a  y  ",
    ]

    # end-to-end: the learned (a,a) merge applies greedily in encode
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaaaa")], "doc_id LONG, text STRING"
    )
    got = {r.doc_id: r.n_tokens for r in bpe_token_counts(df, k=1).collect()}
    assert got == {1: 2, 2: 3}


def test_png_pixel_roundtrip_all_filters(spark):
    """The PNG gradient round-trip must reproduce hand-computed
    channel sums exactly. Heights >= 5 force every scanline filter
    predictor (None/Sub/Up/Average/Paeth, encoder uses y % 5) through
    the un-filter walk, and the synthesized container must also
    satisfy the standalone dimension decoder."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 3, 5), (2, 7, 6), (3, 1, 11)],
        "asset_id LONG, width LONG, height LONG",
    )
    assets = M.synth_png_gradient_assets(params)
    meta = {r.asset_id: r for r in M.decode_image_features(assets).collect()}
    assert (meta[1].width, meta[1].height) == (3, 5)
    assert meta[2].format == "png"

    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expect(w, h):
        sb = sum((x + y) % 256 for x in range(w) for y in range(h))
        sg = sum((2 * x + y) % 256 for x in range(w) for y in range(h))
        sr = sum((x + 2 * y) % 256 for x in range(w) for y in range(h))
        return (w * h, sr, sg, sb)

    for aid, (w, h) in {1: (3, 5), 2: (7, 6), 3: (1, 11)}.items():
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == expect(w, h)


def test_png_filter_walker_fuzz():
    """Fuzz the PNG un-filter walk driver-side: (a) random pixel
    images survive an encode/decode round-trip bit-exactly under
    every filter type, and (b) random truncations and single-bit
    flips of a valid payload either raise (poison) or — never —
    return a WRONG sum silently. CRC verification makes corruption
    detection total, not lucky."""
    import random
    import struct
    import zlib

    import numpy as np

    from geniepool_etl_spark.operators.multimodal import (
        _png_chunk,
        _png_pixel_sums,
    )

    rng = random.Random(8)

    def encode(pix: "np.ndarray", ftype_of) -> bytes:
        h, w, _ = pix.shape
        raw = pix.reshape(h, w * 3).astype(np.int16)
        zero = np.zeros(w * 3, dtype=np.int16)
        lines = bytearray()
        for r in range(h):
            cur = raw[r]
            prev = raw[r - 1] if r > 0 else zero
            left = np.concatenate([zero[:3], cur[:-3]])
            ul = np.concatenate([zero[:3], prev[:-3]])
            f = ftype_of(r)
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - left
            elif f == 2:
                filt = cur - prev
            elif f == 3:
                filt = cur - (left + prev) // 2
            else:
                p = left + prev - ul
                pa, pb, pc = (
                    np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, prev, ul),
                )
                filt = cur - pred
            lines.append(f)
            lines.extend((filt % 256).astype(np.uint8).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + _png_chunk(b"IEND", b"")
        )

    for trial in range(20):
        w, h = rng.randint(1, 12), rng.randint(1, 12)
        pix = np.array(
            [rng.randrange(256) for _ in range(w * h * 3)], dtype=np.uint8
        ).reshape(h, w, 3)
        fixed = rng.randrange(5)
        for ftype_of in (lambda r: r % 5, lambda r: fixed):
            payload = encode(pix, ftype_of)
            n, sr, sg, sb = _png_pixel_sums(payload)
            flat = pix.reshape(-1, 3).astype(np.int64)
            assert (n, sr, sg, sb) == (
                w * h,
                int(flat[:, 0].sum()),
                int(flat[:, 1].sum()),
                int(flat[:, 2].sum()),
            )

    base = encode(
        np.arange(6 * 6 * 3, dtype=np.uint8).reshape(6, 6, 3) % 256,
        lambda r: r % 5,
    )
    truth = _png_pixel_sums(base)
    for _ in range(200):
        if rng.random() < 0.5:
            mutated = base[: rng.randrange(len(base))]
        else:
            i = rng.randrange(len(base))
            mutated = (
                base[:i]
                + bytes([base[i] ^ (1 << rng.randrange(8))])
                + base[i + 1 :]
            )
        try:
            got = _png_pixel_sums(mutated)
        except Exception:
            continue
        assert got == truth  # flip in ignorable bytes only


def test_gif_pixel_roundtrip(spark):
    """The GIF gradient round-trip must reproduce the closed-form
    palette-mapped channel sums exactly, and the synthesized payload
    must also satisfy the standalone dimension decoder."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 16, 10), (2, 40, 3), (3, 1, 9)],
        "asset_id LONG, width LONG, height LONG",
    )
    assets = M.synth_gif_gradient_assets(params)
    meta = {r.asset_id: r for r in M.decode_image_features(assets).collect()}
    assert meta[1].format == "gif"
    assert (meta[2].width, meta[2].height) == (40, 3)

    got = {
        r.asset_id: r for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expect(w, h):
        idx = [(x + 2 * y) % 256 for y in range(h) for x in range(w)]
        return (
            w * h,
            sum(idx),
            sum((2 * i) % 256 for i in idx),
            sum((3 * i) % 256 for i in idx),
        )

    for aid, (w, h) in {1: (16, 10), 2: (40, 3), 3: (1, 9)}.items():
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == expect(w, h)


def test_ppm_pixel_roundtrip_and_poison(spark):
    """P6 gradient round-trip matches closed-form sums (the synth's
    header comment makes comment-skipping load-bearing); P5 reports
    gray on all channels; truncations and malformed headers raise."""
    from geniepool_etl_spark.operators import multimodal as M
    from geniepool_etl_spark.operators.multimodal import _ppm_pixel_sums

    params = spark.createDataFrame(
        [(1, 7, 5), (2, 1, 1), (3, 33, 9)],
        "asset_id LONG, width LONG, height LONG",
    )
    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(
            M.synth_ppm_gradient_assets(params)
        ).collect()
    }
    for aid, (w, h) in {1: (7, 5), 2: (1, 1), 3: (33, 9)}.items():
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == (
            w * h,
            sum((x + 2 * y) % 256 for x in range(w) for y in range(h)),
            sum((2 * x + y) % 256 for x in range(w) for y in range(h)),
            sum((x + y) % 256 for x in range(w) for y in range(h)),
        )

    gray = b"P5\n# c\n3 2\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert _ppm_pixel_sums(gray) == (6, 210, 210, 210)

    base = b"P6\n2 2\n255\n" + bytes(range(12))
    assert _ppm_pixel_sums(base)[0] == 4
    for bad in (
        base[:-1],                      # short raster
        b"P6\n2 2\n70000\n" + b"\x00" * 8,  # 16-bit maxval
        b"P6\n2 x\n255\n" + b"\x00" * 12,   # non-numeric token
        b"P6\n2 2\n255",                 # truncated after header
        b"P4\n2 2\n" + b"\x00" * 12,     # bitmap magic unsupported
    ):
        with pytest.raises(ValueError):
            _ppm_pixel_sums(bad)


def test_gif_lzw_codec_fuzz():
    """Driver-side fuzz of the variable-width LZW codec and the GIF
    walker: (a) random byte streams — including low-entropy ones that
    overflow the 4096-entry table and force mid-stream CLEARs, and
    the KwKwK self-reference — round-trip bit-exactly; (b) every
    truncation of a valid payload raises; (c) any single-bit flip
    either raises or still reports the true pixel COUNT (GIF carries
    no checksums, so palette/pixel VALUE flips are undetectable by
    design — the structural walk is what must never lie about
    shape)."""
    import random
    import struct

    from geniepool_etl_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
        _gif_pixel_sums,
    )

    rng = random.Random(11)
    streams = [
        b"",
        b"\x00",
        b"ababababab",
        bytes(range(256)) * 40,  # multiple width bumps + 4096 clears
        bytes(rng.randrange(4) for _ in range(30000)),
        bytes(rng.randrange(256) for _ in range(5000)),
    ]
    for s in streams:
        assert _gif_lzw_decode(_gif_lzw_encode(s)) == s

    gct = bytearray()
    for i in range(256):
        gct += bytes([i, (2 * i) % 256, (3 * i) % 256])

    def one(w, h):
        idx = bytes(
            (x + 2 * y) % 256 for y in range(h) for x in range(w)
        )
        lzw = _gif_lzw_encode(idx)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            ch = lzw[i : i + 255]
            blocks.append(len(ch))
            blocks += ch
        blocks.append(0)
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
            + bytes(gct)
            + b"\x2c"
            + struct.pack("<HHHHB", 0, 0, w, h, 0)
            + b"\x08"
            + bytes(blocks)
            + b"\x3b"
        )

    base = one(32, 22)
    truth = _gif_pixel_sums(base)
    assert truth[0] == 32 * 22
    for cut in range(1, len(base)):
        with pytest.raises(Exception):
            _gif_pixel_sums(base[:cut])
    for _ in range(250):
        i = rng.randrange(len(base))
        mutated = (
            base[:i]
            + bytes([base[i] ^ (1 << rng.randrange(8))])
            + base[i + 1 :]
        )
        try:
            got = _gif_pixel_sums(mutated)
        except Exception:
            continue
        assert got[0] == truth[0]


def test_jpeg_pixel_roundtrip_spark(spark):
    """Baseline-JPEG scans must round-trip the block-constant
    gradient EXACTLY (constant 8x8 blocks have only a DC
    coefficient; q=1 preserves it; IDCT of DC-only is flat) —
    including off-grid widths/heights whose edge-replicated partial
    blocks are cropped back out — and the synthesized container must
    also satisfy the standalone dimension decoder."""
    from geniepool_etl_spark.operators import multimodal as M

    shapes = {1: (13, 11), 2: (20, 16), 3: (41, 26), 4: (1, 1)}
    params = spark.createDataFrame(
        [(a, w, h) for a, (w, h) in shapes.items()],
        "asset_id LONG, width LONG, height LONG",
    )
    assets = M.synth_jpeg_gradient_assets(params)
    meta = {r.asset_id: r for r in M.decode_image_features(assets).collect()}
    assert (meta[1].width, meta[1].height) == (13, 11)
    assert meta[2].format == "jpeg" and meta[2].bit_depth == 8

    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(assets).collect()
    }
    for aid, (w, h) in shapes.items():
        exp = sum(
            (37 * (x // 8) + 71 * (y // 8)) % 256
            for x in range(w)
            for y in range(h)
        )
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == (
            w * h, exp, exp, exp,
        ), (aid, w, h)


def test_jpeg_general_scan_entropy_exact():
    """The scan decoder is a GENERAL baseline decoder, not a DC-only
    shortcut: a per-pixel (non-block-constant) image produces dense
    AC coefficients (runs, ZRL, sign changes, wide categories), and
    the Huffman entropy layer must round-trip every quantized
    coefficient exactly — verified by comparing the decoded sums
    against this test's own dequant+IDCT reconstruction of the very
    coefficients it encoded."""
    import struct

    import numpy as np

    from geniepool_etl_spark.operators import multimodal as M

    rng = np.random.RandomState(8)
    w, h = 21, 13
    img = rng.randint(0, 256, size=(h, w)).astype(np.float64)
    tmat = M._jpeg_dct_matrix()
    zz_order = np.asarray(M._JPEG_ZIGZAG)
    enc_dc, _ = M._jpeg_huff_tables(M._JPEG_DC_BITS, M._JPEG_DC_VALS)
    enc_ac, _ = M._jpeg_huff_tables(M._JPEG_AC_BITS, M._JPEG_AC_VALS)
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    pad = np.pad(img, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge")
    wr = M._JpegBitWriter()
    pred = 0
    recon = np.zeros_like(pad)
    for r in range(nby):
        for c in range(nbx):
            blk = pad[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0
            coef = np.rint(tmat @ blk @ tmat.T).astype(np.int64)
            zz = coef.reshape(64)[zz_order]
            pred = M._jpeg_encode_block(wr, enc_dc, enc_ac, zz, pred)
            # the test's own reconstruction of what a correct decoder
            # must produce from these exact coefficients
            back = tmat.T @ coef.astype(np.float64) @ tmat
            recon[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] = np.clip(
                np.rint(back) + 128, 0, 255
            )
    scan = wr.flush()
    seg = lambda m, b: m + struct.pack(">H", len(b) + 2) + b  # noqa: E731
    raw = b"".join(
        [
            b"\xff\xd8",
            seg(b"\xff\xdb", b"\x00" + bytes([1] * 64)),
            seg(
                b"\xff\xc0",
                b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00",
            ),
            seg(
                b"\xff\xc4",
                b"\x00" + bytes(M._JPEG_DC_BITS) + bytes(M._JPEG_DC_VALS),
            ),
            seg(
                b"\xff\xc4",
                b"\x10" + bytes(M._JPEG_AC_BITS) + bytes(M._JPEG_AC_VALS),
            ),
            seg(b"\xff\xda", b"\x01\x01\x00\x00\x3f\x00"),
            scan,
            b"\xff\xd9",
        ]
    )
    n, sr, sg, sb = M._jpeg_pixel_sums(raw)
    exp = int(recon[:h, :w].sum())
    assert (n, sr, sg, sb) == (w * h, exp, exp, exp)
    # sanity: the random image really exercised nonzero ACs
    assert len(scan) > nbx * nby * 8


def test_jpeg_generalized_sampling_exact_and_fractional_gate():
    """Hand-built baseline bitstreams across the T.81 sampling-factor
    range — 4:4:4 (1x1), 4:2:2 (2x1), 4:2:0 (2x2), 4:1:1 (4x1), and
    the exotic-but-integer 3x1 / 4x2 / 3x3 / 1x4 mixes — must decode
    to the EXACT per-channel sums of the synthetic block rules
    (chroma constant per MCU macroblock, so nearest upsampling is
    lossless). A fractional upsample ratio (Cb 3x1 against Y 2x1 →
    hmax 3, ratio 3/2) must be refused, not mis-decoded."""
    import struct

    import numpy as np
    import pytest

    enc_dc, _ = M._jpeg_huff_tables(M._JPEG_DC_BITS, M._JPEG_DC_VALS)
    enc_ac, _ = M._jpeg_huff_tables(M._JPEG_AC_BITS, M._JPEG_AC_VALS)
    tmat = M._jpeg_dct_matrix()
    zz_order = np.asarray(M._JPEG_ZIGZAG)

    def build(w, h, yh_f, yv_f):
        wr = M._JpegBitWriter()
        preds = [0, 0, 0]

        def enc(ci, val):
            blk = np.full((8, 8), float(val)) - 128.0
            coef = np.rint(tmat @ blk @ tmat.T).astype(np.int64)
            preds[ci] = M._jpeg_encode_block(
                wr, enc_dc, enc_ac, coef.reshape(64)[zz_order], preds[ci]
            )

        for mr in range((h + yv_f * 8 - 1) // (yv_f * 8)):
            for mc in range((w + yh_f * 8 - 1) // (yh_f * 8)):
                for bv in range(yv_f):
                    for bh in range(yh_f):
                        enc(0, (37 * (yh_f * mc + bh)
                                + 71 * (yv_f * mr + bv)) % 256)
                enc(1, (23 * mc + 41 * mr) % 256)
                enc(2, (53 * mc + 13 * mr) % 256)
        scan = wr.flush()
        seg = lambda m, b: m + struct.pack(">H", len(b) + 2) + b  # noqa: E731
        sof0 = (
            b"\x08" + struct.pack(">HH", h, w) + b"\x03"
            + b"\x01" + bytes([(yh_f << 4) | yv_f])
            + b"\x00\x02\x11\x00\x03\x11\x00"
        )
        return b"".join([
            b"\xff\xd8",
            seg(b"\xff\xdb", b"\x00" + bytes([1] * 64)),
            seg(b"\xff\xc0", sof0),
            seg(b"\xff\xc4",
                b"\x00" + bytes(M._JPEG_DC_BITS) + bytes(M._JPEG_DC_VALS)),
            seg(b"\xff\xc4",
                b"\x10" + bytes(M._JPEG_AC_BITS) + bytes(M._JPEG_AC_VALS)),
            seg(b"\xff\xda", b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00"),
            scan,
            b"\xff\xd9",
        ])

    def expected(w, h, yh_f, yv_f):
        i = np.arange(w * h)
        x, y = i % w, i // w
        yy = (37 * (x // 8) + 71 * (y // 8)) % 256
        cb = (23 * (x // (8 * yh_f)) + 41 * (y // (8 * yv_f))) % 256
        cr = (53 * (x // (8 * yh_f)) + 13 * (y // (8 * yv_f))) % 256
        ch = lambda n: np.clip((n + 500) // 1000, 0, 255)  # noqa: E731
        return (
            w * h,
            int(ch(1000 * yy + 1402 * (cr - 128)).sum()),
            int(ch(1000 * yy - 344 * (cb - 128) - 714 * (cr - 128)).sum()),
            int(ch(1000 * yy + 1772 * (cb - 128)).sum()),
        )

    for yh, yv in [(1, 1), (2, 1), (2, 2), (4, 1),
                   (3, 1), (4, 2), (3, 3), (1, 4)]:
        for w, h in [(17, 12), (16, 8), (31, 13)]:
            assert M._jpeg_pixel_sums(build(w, h, yh, yv)) == expected(
                w, h, yh, yv
            )

    # factor outside 1..4 in the SOF must be refused
    raw = bytearray(build(16, 8, 2, 1))
    sof = raw.find(b"\xff\xc0")
    assert raw[sof + 11] == 0x21  # comp 1 (Y) hv byte
    raw[sof + 14] = 0x31  # comp 2 (Cb) hv 1x1 → 3x1: Y ratio 3/2
    with pytest.raises(ValueError, match="non-integer"):
        M._jpeg_pixel_sums(bytes(raw))
    raw[sof + 14] = 0x51  # factor 5 is outside T.81's 1..4
    with pytest.raises(ValueError, match="1..4"):
        M._jpeg_pixel_sums(bytes(raw))


def test_jpeg_poison_truncation_and_profile_gates():
    """Truncations must raise (poison → null row, never a dead
    stage), and unsupported profiles — color SOF0, progressive SOF2,
    restart intervals — must be refused rather than mis-decoded.
    JPEG has no CRC, so unlike PNG a bit flip MAY silently alter
    sums; the gate here is no-crash, and pixel counts never drift."""
    import random
    import struct

    import numpy as np
    import pytest

    from geniepool_etl_spark.operators import multimodal as M

    tmat = M._jpeg_dct_matrix()
    zz_order = np.asarray(M._JPEG_ZIGZAG)
    enc_dc, _ = M._jpeg_huff_tables(M._JPEG_DC_BITS, M._JPEG_DC_VALS)
    enc_ac, _ = M._jpeg_huff_tables(M._JPEG_AC_BITS, M._JPEG_AC_VALS)
    w, h = 20, 16
    bx = np.arange(w)[None, :] // 8
    by = np.arange(h)[:, None] // 8
    img = ((37 * bx + 71 * by) % 256).astype(np.float64)
    nbx, nby = (w + 7) // 8, (h + 7) // 8
    pad = np.pad(img, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge")
    wr = M._JpegBitWriter()
    pred = 0
    for r in range(nby):
        for c in range(nbx):
            blk = pad[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8] - 128.0
            coef = np.rint(tmat @ blk @ tmat.T).astype(np.int64)
            pred = M._jpeg_encode_block(
                wr, enc_dc, enc_ac, coef.reshape(64)[zz_order], pred
            )
    seg = lambda m, b: m + struct.pack(">H", len(b) + 2) + b  # noqa: E731
    base = b"".join(
        [
            b"\xff\xd8",
            seg(b"\xff\xdb", b"\x00" + bytes([1] * 64)),
            seg(
                b"\xff\xc0",
                b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00",
            ),
            seg(
                b"\xff\xc4",
                b"\x00" + bytes(M._JPEG_DC_BITS) + bytes(M._JPEG_DC_VALS),
            ),
            seg(
                b"\xff\xc4",
                b"\x10" + bytes(M._JPEG_AC_BITS) + bytes(M._JPEG_AC_VALS),
            ),
            seg(b"\xff\xda", b"\x01\x01\x00\x00\x3f\x00"),
            wr.flush(),
            b"\xff\xd9",
        ]
    )
    truth = M._jpeg_pixel_sums(base)
    assert truth[0] == 20 * 16
    for cut in range(2, len(base) - 1):
        with pytest.raises(Exception):
            M._jpeg_pixel_sums(base[:cut])
    rng = random.Random(8)
    for _ in range(250):
        i = rng.randrange(len(base))
        mutated = (
            base[:i]
            + bytes([base[i] ^ (1 << rng.randrange(8))])
            + base[i + 1 :]
        )
        try:
            got = M._jpeg_pixel_sums(mutated)
        except Exception:
            continue
        # no CRC in JPEG: sums may legitimately differ, but the
        # decode must stay structurally sane (positive pixel count)
        assert got[0] > 0
    # unsupported profiles refuse loudly
    color_sof = base.replace(
        b"\x08" + struct.pack(">HH", 16, 20) + b"\x01\x01\x11\x00",
        b"\x08" + struct.pack(">HH", 16, 20) + b"\x03\x01\x11\x00",
    )
    with pytest.raises(Exception):
        M._jpeg_pixel_sums(color_sof)
    header_only = base[: base.index(b"\xff\xda")] + b"\xff\xd9"
    with pytest.raises(Exception):
        M._jpeg_pixel_sums(header_only)


def test_alternating_star_path_graph_log_rounds(spark):
    """A 200-node path is the worst case for min-label propagation
    (O(diameter) = 200 hops); alternating large-star/small-star must
    label the whole chain with node 0 in < 10 two-phase rounds."""
    from geniepool_etl_spark.operators.dedup import _alternating_star

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a LONG, id_b LONG"
    )
    labels_df, rounds = _alternating_star(pairs, max_iter=50, check_every=1)
    assert rounds < 10, f"took {rounds} rounds"
    labels = {r.id: r.label for r in labels_df.collect()}
    assert len(labels) == 200
    assert set(labels.values()) == {0}


def test_ks_statistic_ignores_nulls_and_empty_side(spark):
    """NULL values must not enter the CDFs (engines disagree on NULL
    sort position in cumulative windows) and an empty side must yield
    ZERO rows — not a NULL/Infinity statistic — under ANSI too."""
    from geniepool_etl_spark.operators.profile import ks_statistic

    old = spark.createDataFrame(
        [(1,), (2,), (None,)], "n_chars INT"
    )
    new = spark.createDataFrame([(2,), (None,)], "n_chars INT")
    row = ks_statistic(old, new).collect()[0]
    # CDFs over {1,2} vs {2}: gap at v=1 is |1/2 - 0/1| = 0.5
    assert (row.ks, row.at_value, row.n_old, row.n_new) == (0.5, 1, 2, 1)

    all_null = spark.createDataFrame([(None,), (None,)], "n_chars INT")
    assert ks_statistic(old, all_null).count() == 0
    empty = spark.createDataFrame([], "n_chars INT")
    assert ks_statistic(empty, new).count() == 0


def test_png_grayscale_and_rgba_profiles():
    """The PNG walker handles color types 0 (gray: value on all three
    channels) and 6 (RGBA: alpha excluded from sums), with the filter
    left-offset tracking the pixel byte width — every filter type
    exercised per image via y % 5."""
    import random
    import struct
    import zlib

    import numpy as np

    from geniepool_etl_spark.operators.multimodal import (
        _png_chunk,
        _png_pixel_sums,
    )

    rng = random.Random(21)

    def encode(pix, ctyp):
        h, w, bpp = pix.shape
        raw = pix.reshape(h, w * bpp).astype(np.int16)
        zero = np.zeros(w * bpp, dtype=np.int16)
        lines = bytearray()
        for r in range(h):
            cur = raw[r]
            prev = raw[r - 1] if r > 0 else zero
            left = np.concatenate([zero[:bpp], cur[:-bpp]])
            ul = np.concatenate([zero[:bpp], prev[:-bpp]])
            f = r % 5
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - left
            elif f == 2:
                filt = cur - prev
            elif f == 3:
                filt = cur - (left + prev) // 2
            else:
                p = left + prev - ul
                pa, pb, pc = (
                    np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
                )
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, prev, ul),
                )
                filt = cur - pred
            lines.append(f)
            lines.extend((filt % 256).astype(np.uint8).tobytes())
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctyp, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
            + _png_chunk(b"IEND", b"")
        )

    for _ in range(10):
        w, h = rng.randint(1, 9), rng.randint(5, 11)
        gray = np.array(
            [rng.randrange(256) for _ in range(w * h)], dtype=np.uint8
        ).reshape(h, w, 1)
        n, sr, sg, sb = _png_pixel_sums(encode(gray, 0))
        g = int(gray.astype(np.int64).sum())
        assert (n, sr, sg, sb) == (w * h, g, g, g)

        rgba = np.array(
            [rng.randrange(256) for _ in range(w * h * 4)], dtype=np.uint8
        ).reshape(h, w, 4)
        n, sr, sg, sb = _png_pixel_sums(encode(rgba, 6))
        flat = rgba.reshape(-1, 4).astype(np.int64)
        assert (n, sr, sg, sb) == (
            w * h,
            int(flat[:, 0].sum()),
            int(flat[:, 1].sum()),
            int(flat[:, 2].sum()),
        )

    # palette PNGs (color type 3) remain outside the profile
    pal = encode(np.zeros((3, 3, 1), dtype=np.uint8), 3)
    with pytest.raises(ValueError):
        _png_pixel_sums(pal)


def test_pcm_stats_8_and_24_bit(spark):
    """PCM stats over 8-bit (unsigned, midpoint-centered) and 24-bit
    (sign-extended) WAVs match hand-computed integers; an unsupported
    width nulls out instead of killing the stage."""
    import io
    import struct
    import wave

    from geniepool_etl_spark.operators import multimodal as M

    def wav(width, frames):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(8000)
            w.writeframes(frames)
        return buf.getvalue()

    def i24(v):
        return struct.pack("<i", v)[:3]

    vals24 = [0, 1, -1, 8_000_000, -8_388_608, 8_388_607]
    assets = spark.createDataFrame(
        [
            (1, bytearray(wav(1, bytes([0, 128, 255, 200]))), "audio/wav"),
            (2, bytearray(wav(3, b"".join(i24(v) for v in vals24))), "audio/wav"),
            (3, bytearray(wav(4, b"\x00" * 8)), "audio/wav"),  # 32-bit: poison
        ],
        "asset_id LONG, payload BINARY, media_type STRING",
    )
    got = {r.asset_id: r for r in M.decode_audio_pcm_stats(assets).collect()}
    s8 = [-128, 0, 127, 72]
    assert (got[1].n_samples, got[1].sum_amp, got[1].sum_sq, got[1].peak) == (
        4, sum(s8), sum(v * v for v in s8), 128,
    )
    assert (got[2].n_samples, got[2].sum_amp, got[2].sum_sq, got[2].peak) == (
        6,
        sum(vals24),
        sum(v * v for v in vals24),
        8_388_608,
    )
    assert got[3].n_samples is None


def test_pq_encode_codes_and_ivfpq_sanity(spark):
    """PQ semantics: a seed vector quantizes to its own id in every
    subspace (distance 0); some non-seed vector must get DIFFERENT
    codes across subspaces (regression for the transform() two-param
    lambda trap, which collapsed every subspace to the array index);
    and IVF-PQ's approximate top-k must overlap the exact brute-force
    top-k (the approximation is lossy, not random)."""
    from geniepool_etl_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = S.pq_codebook(emb, 16)
    codes = {r.id: r.codes for r in S.pq_encode(emb, cb).collect()}
    for seed in range(16):
        assert codes[seed] == [seed] * 4
    assert any(
        len(set(c)) > 1 for i, c in codes.items() if i >= 16
    ), "every non-seed vector got uniform codes — index-lambda trap?"

    queries = emb.where("vec_id < 8")
    pq = S.ivfpq_topk(emb, queries, k=5)
    brute = S.cosine_topk(emb, queries, k=5)
    pq_pairs = {(r.q_id, r.n_id) for r in pq.collect()}
    brute_pairs = {(r.q_id, r.n_id) for r in brute.collect()}
    assert len(pq_pairs) == 40  # 8 queries x k=5
    assert pq_pairs & brute_pairs, "zero overlap with exact top-k"


def test_strip_html_entities_tags_and_script(spark):
    """strip_html semantics: script/style bodies vanish wholesale
    (including '<' and a fake '</p>' inside the script), tags strip,
    the six entities decode with '&amp;' LAST so '&amp;amp;' emerges
    as the literal '&amp;' (not '&'), and whitespace collapses."""
    from geniepool_etl_spark.operators import text as TX

    html = (
        '<html><style>p{x:1}</style><body  class="z">'
        "<p>A &amp;amp; B &lt;tag&gt; &quot;q&quot; &#39;s&nbsp;end</p>"
        '<script>var x = 1 < 2 && "</p>";</script>tail</body></html>'
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    got = TX.strip_html(df).select("clean_text").first()[0]
    assert got == 'A &amp; B <tag> "q" \'s end tail'


def test_nfc_normalize_fuses_combining_marks(spark):
    """NFC fuses base+combining sequences to precomposed chars and
    leaves already-composed/ASCII text untouched; NULL passes through."""
    from geniepool_etl_spark.operators import text as TX

    rows = [
        (1, "Café"),  # decomposed -> Café (4+1 -> 4 chars)
        (2, "Café"),  # already NFC — unchanged
        (3, "plain"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.nfc_text, r.n)
        for r in TX.with_nfc_normalized(df)
        .selectExpr("id", "nfc_text", "length(nfc_text) AS n")
        .collect()
    }
    assert got[1] == ("Café", 4)
    assert got[2] == ("Café", 4)
    assert got[3] == ("plain", 5)
    assert got[4] == (None, None)


def test_gopher_gates_each_rule_fires(spark):
    """Each Gopher rule fires on a targeted document and the clean
    doc keeps: word-count floor, mean-word-length bounds, alpha-word
    fraction, ellipsis/bullet line caps, duplicate-line cap."""
    from geniepool_etl_spark.operators import text as TX

    clean = " ".join(f"word{i} also real text here" for i in range(12))
    rows = [
        (1, clean),  # keeps
        (2, "short doc only"),  # too_few_words
        (3, " ".join(["ab"] * 60)),  # words_too_short (mean 2)
        (4, " ".join(["12345"] * 60)),  # non_alpha (0% alpha)
        (5, clean + "\n" + "\n".join(["- b"] * 50)),  # bullet_lines
        (6, clean + "\n" + "\n".join(["x..."] * 50)),  # ellipsis_lines
        (7, clean + "\n" + "\n".join(["same line"] * 50)),  # duplicate_lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in TX.gopher_quality_gates(df).collect()}
    assert got[1].keep and got[1].reasons == ""
    assert "too_few_words" in got[2].reasons
    assert "words_too_short" in got[3].reasons
    assert "non_alpha" in got[4].reasons
    assert "bullet_lines" in got[5].reasons
    assert "ellipsis_lines" in got[6].reasons
    assert "duplicate_lines" in got[7].reasons
    assert got[7].n_dup_lines == 49


def test_gap_fill_hourly_grid_and_forward_fill(spark):
    """gap_fill_hourly: grid spans each user's own [first,last] hour
    inclusive, gap rows get zero counts + carried-forward type, the
    in-hour winner is the (ts_us, event_id)-max event."""
    from geniepool_etl_spark.operators import events as E

    h = 3_600_000_000
    rows = [
        # user 0: events in hours 10 and 13 -> grid 10..13, 2 gaps
        (1, 10 * h + 5, 0, "a", 1.0, "{}"),
        (2, 10 * h + 5, 0, "b", 2.0, "{}"),  # same µs: id-max wins
        (3, 13 * h, 0, "c", 3.0, "{}"),
        # user 15: single event -> 1-row grid, no gaps
        (4, 7 * h + 1, 15, "z", 0.5, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, "
        "event_type string, value double, props string"
    )
    got = {
        (r.user_id, r.h): r
        for r in E.gap_fill_hourly(df.withColumn(
            "ts", (F.col("ts") * 1000)), user_mod=15).collect()
    }
    # nanos-long ts path exercises event_micros' integer branch
    assert len(got) == 5  # 4 hours for user 0 + 1 for user 15
    assert got[(0, 10)].n_events == 2
    assert got[(0, 10)].filled_type == "b"  # event_id tiebreak
    assert got[(0, 10)].val_cents == 300
    assert got[(0, 11)].n_events == 0 and got[(0, 11)].is_gap
    assert got[(0, 11)].filled_type == "b"  # carried forward
    assert got[(0, 12)].filled_type == "b"
    assert got[(0, 13)].filled_type == "c" and not got[(0, 13)].is_gap
    assert got[(15, 7)].filled_type == "z"


def test_rfm_segments_tiles_and_inversion(spark):
    """rfm_segments: exact-quartile tiles; the user with the LOWEST
    recency gets r_tile 4 (inversion) and the top spender gets
    m_tile 4; segment label concatenates the three tiles."""
    from geniepool_etl_spark.operators import events as E

    h = 3_600_000_000
    rows = []
    eid = 0
    # 8 users: user u has (u+1) events, last at hour u, spend 10*(u+1)
    for u in range(8):
        for i in range(u + 1):
            rows.append((eid, (u * h + i) * 1000, u, "e", 10.0 * (u + 1), "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, "
        "event_type string, value double, props string"
    )
    got = {r.user_id: r for r in E.rfm_segments(df).collect()}
    assert len(got) == 8
    # user 7: most recent (recency 0), most events, biggest spend
    assert got[7].r_tile == 4 and got[7].f_tile == 4 and got[7].m_tile == 4
    assert got[7].segment == "R4F4M4"
    # user 0: stalest, fewest, smallest
    assert got[0].r_tile == 1 and got[0].f_tile == 1 and got[0].m_tile == 1
    assert got[0].recency_h == 7
    assert got[7].monetary_cents == 8 * 8000  # 8 events x $80


def test_mmr_rerank_diversifies_near_duplicates(spark):
    """MMR picks relevance first, then trades relevance for
    diversity: with three mutual near-duplicates atop the relevance
    ranking and one diverse runner-up, plain top-2 returns two dups
    but MMR's second pick is the diverse vector."""
    from geniepool_etl_spark.operators import similarity as S

    import math

    def vec(x, y):
        return [float(x), float(y)] + [0.0] * 62

    c20, s20 = math.cos(math.radians(20)), math.sin(math.radians(20))
    rows = [
        (0, vec(1.0, 0.0), 0),                # the query
        (1, vec(c20, s20), 0),                # cluster A
        (2, vec(0.9 * c20, 0.9 * s20), 0),    # A again (same direction)
        (3, vec(c20, -s20), 0),               # diverse: mirrored
    ]
    # all three candidates have IDENTICAL relevance cos20°; 1↔2 are
    # exact directional dups (sim 1.0), 1↔3 sit 40° apart (sim
    # cos40°): step 2 scores 7·9397−3·10000 (dup) vs 7·9397−3·7660
    # (mirror) — the mirror wins on diversity alone
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = S.mmr_rerank(
        emb, emb.where("vec_id = 0"), k=2, pool=3
    ).collect()
    picks = {r.rank: r.n_id for r in got}
    assert picks[1] == 1  # relevance tie broken by id
    assert picks[2] == 3  # diversity beats the duplicate
    brute = S.cosine_topk(emb, emb.where("vec_id = 0"), k=2).collect()
    assert {r.n_id for r in brute} == {1, 2}  # plain top-2: two dups


def test_tiff_pixel_roundtrip_both_endians(spark):
    """TIFF synth → decode roundtrip against the closed-form gradient
    sums, for BOTH byte orders and multi-strip rasters; a single-strip
    file takes the inline-offset path."""
    from geniepool_etl_spark.operators import multimodal as M

    def expected(w, h):
        n = sr = sg = sb = 0
        for yy in range(h):
            for xx in range(w):
                sr += (xx + 2 * yy) % 256
                sg += (2 * xx + yy) % 256
                sb += (xx + yy) % 256
                n += 1
        return (n, sr, sg, sb)

    for big in (False, True):
        raw = M._tiff_bytes(13, 11, big_endian=big)
        assert M._tiff_pixel_sums(raw) == expected(13, 11)
    # single strip: rows_per_strip >= h, offsets/counts inline LONG
    raw1 = M._tiff_bytes(6, 4, big_endian=False, rows_per_strip=16)
    assert M._tiff_pixel_sums(raw1) == expected(6, 4)


def test_tiff_poison_and_grayscale(spark):
    """Truncated strips and bogus magic raise (the Spark lane nulls
    them out); a hand-built grayscale (photometric 1) file reports
    the gray sum on all three channels."""
    import struct

    import pytest as _pytest

    from geniepool_etl_spark.operators import multimodal as M

    raw = M._tiff_bytes(9, 7, big_endian=False)
    with _pytest.raises(ValueError):
        M._tiff_pixel_sums(raw[: len(raw) // 2])  # IFD is at the end
    with _pytest.raises(ValueError):
        M._tiff_pixel_sums(b"II+\x00" + raw[4:])

    # minimal grayscale: 4x2, one strip, values 0..7
    e = "<"
    body = bytes(range(8))
    ifd_off = 8 + len(body)

    def entry(tag, typ, cnt, val):
        if typ == 3 and cnt == 1:
            return struct.pack(e + "HHIHH", tag, typ, cnt, val, 0)
        return struct.pack(e + "HHII", tag, typ, cnt, val)

    entries = [
        entry(256, 4, 1, 4), entry(257, 4, 1, 2),
        entry(258, 3, 1, 8), entry(259, 3, 1, 1),
        entry(262, 3, 1, 1), entry(273, 4, 1, 8),
        entry(277, 3, 1, 1), entry(278, 4, 1, 2),
        entry(279, 4, 1, 8),
    ]
    gray = (
        b"II" + struct.pack(e + "HI", 42, ifd_off) + body
        + struct.pack(e + "H", len(entries))
        + b"".join(entries) + struct.pack(e + "I", 0)
    )
    assert M._tiff_pixel_sums(gray) == (8, 28, 28, 28)

    # decode_image_pixel_stats nulls poison rows, decodes good ones
    df = spark.createDataFrame(
        [(1, bytearray(raw), "image/tiff"),
         (2, bytearray(raw[:40]), "image/tiff")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r for r in M.decode_image_pixel_stats(df).collect()}
    assert got[1].n_pixels == 63
    assert got[2].n_pixels is None


def test_linear_quality_score_integer_keep_and_plan_shape(spark):
    """The keep decision is pure integer arithmetic: hand-compute the
    milli-logit for a one-word doc and check score/keep agree; docs
    with identical text get identical scores."""
    from geniepool_etl_spark.functions import portable_hash32
    from geniepool_etl_spark.operators import text as TX

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "alpha beta beta")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TX.linear_quality_score(df).collect()}
    # hand-compute: bucket = h32(word) % 64; w = h32(str(bucket), 7) % 2001 - 1000
    probe = spark.range(1).select(
        (portable_hash32(F.lit("alpha"), seed=0) % 64).alias("b")
    ).first()
    w = spark.range(1).select(
        (portable_hash32(F.lit(str(probe.b)), seed=7) % 2001 - 1000).alias("w")
    ).first().w
    assert got[1].logit_milli == w
    assert got[1].keep == (w > 0)
    assert got[1].score == got[2].score and got[1].keep == got[2].keep
    assert got[3].n_words == 3


def test_ewma_hourly_recurrence_and_seed(spark):
    """EWMA seeds at the first observation and follows
    s' = 0.75·s + 0.25·x thereafter, per user independently."""
    from geniepool_etl_spark.operators import events as E

    h = 3_600_000_000
    rows = [
        (1, (10 * h) * 1000, 0, "a", 1.00, "{}"),   # hour 10: 100c
        (2, (11 * h) * 1000, 0, "a", 2.00, "{}"),   # hour 11: 200c
        (3, (12 * h) * 1000, 0, "a", 0.40, "{}"),   # hour 12: 40c
        (4, (5 * h) * 1000, 15, "b", 3.00, "{}"),   # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts long, user_id long, "
        "event_type string, value double, props string"
    )
    got = {(r.user_id, r.h): r.ewma for r in E.ewma_hourly(df).collect()}
    assert got[(0, 10)] == 100.0
    assert got[(0, 11)] == 100.0 * 0.75 + 200 * 0.25  # 125.0
    assert got[(0, 12)] == round(125.0 * 0.75 + 40 * 0.25, 4)  # 103.75
    assert got[(15, 5)] == 300.0


def test_jpeg_color_roundtrip_and_poison(spark):
    """Color 4:4:4 baseline JPEG: synth → decode equals the closed-form
    fixed-point YCbCr→RGB sums; truncated scans and subsampled-chroma
    frames raise (nulled by the Spark lane); the grayscale path is
    untouched."""
    import pytest as _pytest

    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 13, 11), (2, 8, 8), (3, 30, 9)],
        "asset_id long, width long, height long",
    )
    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(
            M.synth_jpeg_color_assets(params)
        ).collect()
    }

    def expected(w, h):
        n = sr = sg = sb = 0
        for yy_ in range(h):
            for xx in range(w):
                bx, by = xx // 8, yy_ // 8
                Y = (37 * bx + 71 * by) % 256
                Cb = (23 * bx + 41 * by) % 256
                Cr = (53 * bx + 13 * by) % 256
                r = min(max((1000 * Y + 1402 * (Cr - 128) + 500) // 1000, 0), 255)
                g = min(max((1000 * Y - 344 * (Cb - 128) - 714 * (Cr - 128) + 500) // 1000, 0), 255)
                b = min(max((1000 * Y + 1772 * (Cb - 128) + 500) // 1000, 0), 255)
                sr += r; sg += g; sb += b; n += 1
        return (n, sr, sg, sb)

    for aid, w, h in [(1, 13, 11), (2, 8, 8), (3, 30, 9)]:
        row = got[aid]
        assert (row.n_pixels, row.sum_r, row.sum_g, row.sum_b) == expected(w, h)

    # poison: truncated scan raises -> lane nulls it
    one = [
        bytes(r.payload)
        for r in M.synth_jpeg_color_assets(
            params.where("asset_id = 2")
        ).collect()
    ][0]
    with _pytest.raises(ValueError):
        M._jpeg_pixel_sums(one[: len(one) - 20])
    # sampling factors outside T.81's 1..4 are the declared boundary
    # (integer-ratio mixes up to 4x4 decode since r11)
    bad = one.replace(b"\x03\x01\x11\x00\x02\x11\x00", b"\x03\x01\x55\x00\x02\x11\x00", 1)
    with _pytest.raises(ValueError, match="1..4"):
        M._jpeg_pixel_sums(bad)


def test_jpeg_420_roundtrip_spark(spark):
    """4:2:0 baseline JPEG: generic MCU interleave (4Y+Cb+Cr), chroma
    upsample, exact fixed-point color — decoded sums equal the
    two-block-rule closed form at awkward non-multiple-of-16 dims."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 13, 11), (2, 33, 30)],
        "asset_id long, width long, height long",
    )
    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(
            M.synth_jpeg_color_assets(params, subsample=True)
        ).collect()
    }

    def expected(w, h):
        n = sr = sg = sb = 0
        for yy_ in range(h):
            for xx in range(w):
                Y = (37 * (xx // 8) + 71 * (yy_ // 8)) % 256
                Cb = (23 * (xx // 16) + 41 * (yy_ // 16)) % 256
                Cr = (53 * (xx // 16) + 13 * (yy_ // 16)) % 256
                r = min(max((1000 * Y + 1402 * (Cr - 128) + 500) // 1000, 0), 255)
                g = min(max((1000 * Y - 344 * (Cb - 128) - 714 * (Cr - 128) + 500) // 1000, 0), 255)
                b = min(max((1000 * Y + 1772 * (Cb - 128) + 500) // 1000, 0), 255)
                sr += r; sg += g; sb += b; n += 1
        return (n, sr, sg, sb)

    for aid, w, h in [(1, 13, 11), (2, 33, 30)]:
        row = got[aid]
        assert (row.n_pixels, row.sum_r, row.sum_g, row.sum_b) == expected(w, h)


def test_flac_pcm_constant_verbatim_and_crc(spark):
    """FLAC PCM decode: constant and verbatim subframes round-trip to
    exact integer stats across mono/stereo and multi-byte UTF-8 frame
    numbers; any flipped bit fails a CRC (poison, not a wrong sum);
    predicted subframes and truncation raise; the Spark lane nulls
    poison rows."""
    import pytest as _pytest

    from geniepool_etl_spark.operators import multimodal as M

    def expected(values, block, channels, verbatim=frozenset()):
        n = s = s2 = peak = 0
        for f, val in enumerate(values):
            for c in range(channels):
                base = val + c
                samples = (
                    [base + i for i in range(block)]
                    if f in verbatim
                    else [base] * block
                )
                for v in samples:
                    vv = v & 0xFFFF
                    vv -= (vv >= 1 << 15) * (1 << 16)
                    n += 1
                    s += vv
                    s2 += vv * vv
                    peak = max(peak, abs(vv))
        return (n, s, s2, peak)

    vals = [((37 * f + 13) % 200 - 100) * 100 for f in range(140)]
    raw = M._flac_bytes(vals, channels=2, verbatim_frames={3, 130})
    assert M._flac_pcm_sums(raw) == expected(vals, 256, 2, {3, 130})

    small = M._flac_bytes([100, -200])
    for flip in (len(small) - 5, len(small) - 20):
        bad = bytearray(small)
        bad[flip] ^= 0x04
        with _pytest.raises(ValueError):
            M._flac_pcm_sums(bytes(bad))
    with _pytest.raises(ValueError):
        M._flac_pcm_sums(small[:-3])

    # Spark lane: good rows decode, poison rows null out
    df = spark.createDataFrame(
        [(1, bytearray(small), "audio/flac"),
         (2, bytearray(small[:30]), "audio/flac")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r for r in M.decode_audio_pcm_stats(df).collect()}
    assert got[1].n_samples == 512  # 2 frames x 256 samples, mono
    assert got[2].n_samples is None


def test_flac_walker_fuzz():
    """The FLAC frame walker must either return exact stats or raise
    ValueError on ANY byte stream — never a different exception type,
    never a hang (forward progress is structural: both the metadata
    and frame walks strictly advance)."""
    import random

    from geniepool_etl_spark.operators import multimodal as M

    rng = random.Random(17)
    base = (
        M._flac_bytes([100, -5, 7], channels=2, verbatim_frames={1})
        + M._flac_bytes_fixed([(1, 3, 2), (2, -10, 1)], channels=2)[4:]
        + M._flac_bytes_lpc([(0, 9, 1), (1, -4, 2), (2, 3, -1)], channels=2)[4:]
        + M._flac_bytes_stereo([(8, 5, 1, -3, 2), (9, 0, -1, 4, 0), (10, 7, 3, -2, -1)])[4:]
    )
    for _ in range(600):
        mode = rng.randrange(3)
        if mode == 0:
            data = bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 200))
            )
        elif mode == 1:
            data = b"fLaC" + bytes(
                rng.randrange(256) for _ in range(rng.randrange(0, 120))
            )
        else:
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            data = bytes(b[: rng.randrange(10, len(b) + 1)])
        try:
            out = M._flac_pcm_sums(data)
            assert isinstance(out, tuple) and len(out) == 4
        except ValueError:
            pass


def test_canonicalize_urls_each_rule(spark):
    """Every normalization rule fires: case, default-port strip,
    non-default-port keep, tracking-param drop, param sort, fragment
    strip, empty-path slash, non-URL → NULL."""
    from geniepool_etl_spark.operators import text as TX

    rows = [
        (1, "HTTPS://WWW.Ex.COM:443/a?z=2&utm_campaign=c&a=1#frag"),
        (2, "http://ex.com:8080/b?gclid=g&b=2"),
        (3, "http://EX.com:80"),
        (4, "https://ex.com/a?utm_x=1&fbclid=f"),
        (5, "not a url"),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = {r.id: r.canon_url for r in TX.canonicalize_urls(df).collect()}
    assert got[1] == "https://www.ex.com/a?a=1&z=2"
    assert got[2] == "http://ex.com:8080/b?b=2"
    assert got[3] == "http://ex.com/"
    assert got[4] == "https://ex.com/a"
    assert got[5] is None


def test_jpeg_progressive_roundtrip_and_boundaries(spark):
    """Progressive (SOF2) decode: DC scan + EOB-run AC band scans
    reconstruct the closed-form gradient exactly through the lane
    dispatch; successive-approximation scans and truncation raise."""
    import pytest as _pytest

    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 13, 11), (2, 33, 30)],
        "asset_id long, width long, height long",
    )
    assets = M.synth_jpeg_progressive_assets(params)
    raws = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expected(w, h):
        n = sr = sg = sb = 0
        for yy_ in range(h):
            for xx in range(w):
                bx, by = xx // 8, yy_ // 8
                Y = (37 * bx + 71 * by) % 256
                Cb = (23 * bx + 41 * by) % 256
                Cr = (53 * bx + 13 * by) % 256
                r = min(max((1000 * Y + 1402 * (Cr - 128) + 500) // 1000, 0), 255)
                g = min(max((1000 * Y - 344 * (Cb - 128) - 714 * (Cr - 128) + 500) // 1000, 0), 255)
                b = min(max((1000 * Y + 1772 * (Cb - 128) + 500) // 1000, 0), 255)
                sr += r; sg += g; sb += b; n += 1
        return (n, sr, sg, sb)

    for aid, (w, h) in {1: (13, 11), 2: (33, 30)}.items():
        row = got[aid]
        assert (row.n_pixels, row.sum_r, row.sum_g, row.sum_b) == expected(w, h)

    with _pytest.raises(ValueError):
        M._jpeg_progressive_pixel_sums(raws[1][:80])
    # successive approximation (AhAl != 0) is the declared boundary
    bad = raws[1].replace(
        bytes([1, 1, 0x01, 1, 63, 0x00]), bytes([1, 1, 0x01, 1, 63, 0x12]), 1
    )
    with _pytest.raises(ValueError, match="successive"):
        M._jpeg_progressive_pixel_sums(bad)


def test_flac_fixed_predictors_and_rice(spark):
    """FIXED-predictor FLAC: orders 0-2 with Rice-partitioned
    residuals round-trip exactly (bit-contiguous subframes across
    stereo channels); a flipped residual bit fails the frame CRC;
    a reconstructed sample escaping the bps range is poison."""
    import pytest as _pytest

    from geniepool_etl_spark.operators import multimodal as M

    specs = [(2, 10, 5), (1, 0, 1), (0, -8, 0), (2, -50, 2)]
    raw = M._flac_bytes_fixed(specs, block_size=64, channels=2)
    n = s = s2 = peak = 0
    for order, a, b in specs:
        for c in range(2):
            for i in range(64):
                v = a + c + b * i + (i * i if order >= 2 else 0)
                n += 1
                s += v
                s2 += v * v
                peak = max(peak, abs(v))
    assert M._flac_pcm_sums(raw) == (n, s, s2, peak)
    bad = bytearray(raw)
    bad[-4] ^= 0x08
    with _pytest.raises(ValueError):
        M._flac_pcm_sums(bytes(bad))


def test_png_interlaced_adam7_roundtrip_and_poison(spark):
    """Adam7 round-trip: interlaced payloads must decode to the exact
    gradient sums for geometries that leave several passes EMPTY
    (w<8, h=1) and ones that fill all seven; every pass's filter
    chain is pass-local. A bit flip anywhere is poison (chunk CRC),
    and the interlaced payload must differ from the sequential one
    (the lane isn't silently writing interlace=0)."""
    import numpy as np

    from geniepool_etl_spark.operators import multimodal as M

    geoms = {1: (1, 1), 2: (3, 1), 3: (7, 9), 4: (8, 8), 5: (13, 10), 6: (33, 2)}
    params = spark.createDataFrame(
        [(a, w, h) for a, (w, h) in geoms.items()],
        "asset_id LONG, width LONG, height LONG",
    )
    assets = M.synth_png_interlaced_assets(params)
    got = {
        r.asset_id: r
        for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expect(w, h):
        sr = sum((x + 2 * y) % 256 for x in range(w) for y in range(h))
        sg = sum((2 * x + y) % 256 for x in range(w) for y in range(h))
        sb = sum((x + y) % 256 for x in range(w) for y in range(h))
        return (w * h, sr, sg, sb)

    for aid, (w, h) in geoms.items():
        r = got[aid]
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == expect(w, h), (
            aid, w, h,
        )
    # interlaced and sequential payloads must actually differ
    seq = {r.asset_id: bytes(r.payload) for r in M.synth_png_gradient_assets(params).collect()}
    lace = {r.asset_id: bytes(r.payload) for r in assets.collect()}
    assert all(seq[a] != lace[a] for a in geoms)
    # bit-flip poison: CRC rejects; the pixel lane nulls out
    import random

    rng = random.Random(9)
    payload = bytearray(lace[5])
    payload[rng.randrange(8, len(payload))] ^= 0x40
    poison = spark.createDataFrame(
        [(99, bytes(payload), "image/png")],
        M.ASSET_SCHEMA,
    )
    row = M.decode_image_pixel_stats(poison).collect()[0]
    assert row.n_pixels is None and row.sum_r is None


def test_jpeg_restart_markers_roundtrip_and_poison(spark):
    """DRI/RSTn decode: restart-bearing scans must reproduce the
    block-constant gradient sums exactly for interval=1 (a marker
    between every MCU pair — maximal machinery) through interval 4,
    match the marker-free encoding of the same image, and corrupt
    restart sequences must poison, never silently mis-sum: a wrong
    RSTm index (sequence must cycle 0..7) and a dropped marker both
    null out."""
    from geniepool_etl_spark.operators import multimodal as M

    geoms = {1: (13, 11, 1), 2: (25, 16, 2), 3: (48, 21, 3), 4: (8, 8, 4)}
    params = spark.createDataFrame(
        [(a, w, h, ri) for a, (w, h, ri) in geoms.items()],
        "asset_id LONG, width LONG, height LONG, interval LONG",
    )
    assets = M.synth_jpeg_restart_assets(params)
    got = {
        r.asset_id: r for r in M.decode_image_pixel_stats(assets).collect()
    }

    def expect(w, h):
        return sum(
            (37 * (x // 8) + 71 * (y // 8)) % 256
            for x in range(w)
            for y in range(h)
        )

    for aid, (w, h, _ri) in geoms.items():
        r = got[aid]
        s = expect(w, h)
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == (w * h, s, s, s)
    # value-neutrality: the marker-free synth of the same geometry
    # decodes to the same sums (already asserted via expect), and the
    # restart payload really carries RST markers
    payload = {
        r.asset_id: bytes(r.payload) for r in assets.collect()
    }[1]
    assert b"\xff\xd0" in payload  # RST0 present for interval=1
    # poison 1: flip the first RST0 to RST5 — out-of-sequence marker
    bad = payload.replace(b"\xff\xd0", b"\xff\xd5", 1)
    # poison 2: drop the first restart marker entirely
    dropped = payload.replace(b"\xff\xd0", b"", 1)
    poison = spark.createDataFrame(
        [(91, bad, "image/jpeg"), (92, dropped, "image/jpeg")],
        M.ASSET_SCHEMA,
    )
    for r in M.decode_image_pixel_stats(poison).collect():
        assert r.n_pixels is None and r.sum_r is None, r.asset_id


def test_flac_lpc_subframes_roundtrip_and_poison(spark):
    """LPC decode: orders 1-3 with varying QLP precision and shift
    must reconstruct the polynomial signals exactly (the chosen
    coefficient sets are exact shifted predictors), stereo and
    multi-frame streams included; a flipped coefficient bit breaks
    the frame CRC and poisons the row."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 3, 1, -50), (2, 6, 2, 400)],
        "asset_id long, n_frames int, n_channels int, base_val int",
    )
    assets = M.synth_flac_lpc_assets(params)
    got = {
        r.asset_id: r
        for r in M.decode_audio_pcm_stats(assets).collect()
    }

    def expected(nf, ch, base):
        vals = [
            base + 11 * f + c + ((f % 9) - 4) * i
            + (i * i if f % 3 == 2 else 0)
            for f in range(nf)
            for c in range(ch)
            for i in range(64)
        ]
        return (
            len(vals),
            sum(vals),
            sum(v * v for v in vals),
            max(abs(v) for v in vals),
        )

    for aid, (nf, ch, base) in {1: (3, 1, -50), 2: (6, 2, 400)}.items():
        r = got[aid]
        assert (
            r.n_samples, r.sum_amp, r.sum_sq, r.peak
        ) == expected(nf, ch, base), aid
    # poison: flip a bit in the entropy-coded body -> CRC-16 rejects
    raw = bytearray(
        {r.asset_id: bytes(r.payload) for r in assets.collect()}[2]
    )
    raw[-10] ^= 0x10
    poison = spark.createDataFrame(
        [(9, bytes(raw), "audio/flac")], M.ASSET_SCHEMA
    )
    row = M.decode_audio_pcm_stats(poison).collect()[0]
    assert row.n_samples is None and row.sum_amp is None


def test_lang_id_trigram_mixed_scripts(spark):
    """Cavnar-Trenkle trigram id must separate languages across
    SCRIPTS (latin / cyrillic / greek) where the marker-word
    heuristic is blind: profiles built from labeled seeds classify
    held-out sentences of each script correctly, trigram-less docs
    predict 'und', and ties break deterministically on language
    code."""
    from geniepool_etl_spark.operators import text as TX

    seeds = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog and runs on"),
            (2, "en", "a house of cards and the wind in the willows of the land"),
            (3, "ru", "быстрая коричневая лиса прыгает через ленивую собаку и бежит"),
            (4, "ru", "дом из карт и ветер в ивах земли и леса и поля"),
            (5, "el", "η γρηγορη καφε αλεπου πηδαει πανω απο το τεμπελικο σκυλι"),
            (6, "el", "ενα σπιτι απο χαρτια και ο ανεμος στις ιτιες της γης"),
        ],
        "doc_id long, lang string, text string",
    )
    profiles = TX.trigram_lang_profiles(seeds)
    held_out = spark.createDataFrame(
        [
            (10, "the dog runs over the land of the quick wind"),
            (11, "собака бежит через поля и леса земли быстро"),
            (12, "ο σκυλος τρεχει πανω απο τη γη και τον ανεμο"),
            (13, "xy"),  # under 3 chars -> no trigrams -> und
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.pred_lang
        for r in TX.with_lang_id_trigram(held_out, profiles).collect()
    }
    assert got == {10: "en", 11: "ru", 12: "el", 13: "und"}


def test_flac_stereo_decorrelation_roundtrip(spark):
    """All three decorrelation modes reconstruct exact left/right:
    mid/side's floor-shift parity recovery is load-bearing (odd
    side values), the side channel's bps+1 width parses, and a
    bit flip anywhere poisons via frame CRC."""
    from geniepool_etl_spark.operators import multimodal as M

    params = spark.createDataFrame(
        [(1, 3, -100, 55), (2, 6, 200, -99)],
        "asset_id long, n_frames int, base_val int, base_val2 int",
    )
    assets = M.synth_flac_stereo_assets(params)
    got = {
        r.asset_id: r
        for r in M.decode_audio_pcm_stats(assets).collect()
    }

    def expected(nf, base, base2):
        vals = []
        for f in range(nf):
            scl = 1 if f % 3 == 2 else 2  # wasted-bit frames double
            for i in range(64):
                vals.append(scl * (base + 11 * f + ((f % 9) - 4) * i))
                vals.append(scl * (base2 + 7 * f + ((f % 5) - 2) * i))
        return (
            len(vals),
            sum(vals),
            sum(v * v for v in vals),
            max(abs(v) for v in vals),
        )

    for aid, (nf, b1, b2) in {1: (3, -100, 55), 2: (6, 200, -99)}.items():
        r = got[aid]
        assert (
            r.n_samples, r.sum_amp, r.sum_sq, r.peak
        ) == expected(nf, b1, b2), aid
    raw = bytearray(
        {r.asset_id: bytes(r.payload) for r in assets.collect()}[1]
    )
    raw[-7] ^= 0x08
    poison = spark.createDataFrame(
        [(9, bytes(raw), "audio/flac")], M.ASSET_SCHEMA
    )
    row = M.decode_audio_pcm_stats(poison).collect()[0]
    assert row.n_samples is None


def test_flac_wasted_bits_and_rice_escape(spark):
    """The last two FLAC entropy edges: a subframe declaring WASTED
    BITS (samples coded at bps-k, shifted back up k) and an ESCAPED
    Rice partition (k=15 -> 5-bit raw width, two's-complement
    residuals) must both decode to exact stats through the lane
    dispatch; the poison contract holds across both."""
    import struct

    from geniepool_etl_spark.operators import multimodal as M

    # hand-build one stream: frame 0 = wasted-bits FIXED order 1 over
    # an all-even ramp; frame 1 = escaped-Rice FIXED order 2 over a
    # quadratic (zero residuals after warmup -> eb=0 fast path);
    # frame 2 = escaped-Rice order 0 over a sign-alternating ramp
    block = 64
    specs = [
        [2 * (10 + 3 * i) for i in range(block)],          # even ramp
        [5 + 2 * i + i * i for i in range(block)],         # quadratic
        [(-1) ** i * (i + 1) for i in range(block)],       # alternating
    ]
    si = M._BitWriterMSB()
    si.write(block, 16); si.write(block, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5)
    si.write(block * len(specs), 36)
    streaminfo = si.bytes_aligned() + bytes(16)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:]
    out += streaminfo
    for f, samples in enumerate(specs):
        hdr = M._BitWriterMSB()
        hdr.write(0b11111111111110, 14); hdr.write(0, 2)
        hdr.write(0b0110, 4); hdr.write(0b0000, 4)
        hdr.write(0, 4); hdr.write(0b100, 3); hdr.write(0, 1)
        head = bytearray(hdr.bytes_aligned())
        head += M._flac_utf8_number(f)
        head.append(block - 1)
        head.append(M._flac_crc8(bytes(head)))
        body = M._BitWriterMSB()
        if f == 0:
            M._flac_fixed_frame_body(body, samples, 1, 16, wasted=1)
        elif f == 1:
            M._flac_fixed_frame_body(body, samples, 2, 16, escape=True)
        else:
            M._flac_fixed_frame_body(body, samples, 0, 16, escape=True)
        frame = bytes(head) + body.bytes_aligned()
        out += frame + struct.pack(">H", M._flac_crc16(frame))
    vals = [v for samples in specs for v in samples]
    n, sa, sq, pk = M._flac_pcm_sums(bytes(out))
    assert (n, sa, sq, pk) == (
        len(vals),
        sum(vals),
        sum(v * v for v in vals),
        max(abs(v) for v in vals),
    )
    # bit flip in the escaped partition -> frame CRC poison
    bad = bytearray(out)
    bad[-5] ^= 0x20
    import pytest as _pytest

    with _pytest.raises(ValueError):
        M._flac_pcm_sums(bytes(bad))


def test_netpbm_16bit_and_palette_bmp_decode(spark):
    """Two real-corpus raster variants added r11: 16-bit netpbm
    (maxval > 255 → big-endian sample pairs per the spec) and 8-bit
    paletted BMP (BGRA quads, 4-aligned index rows, bottom-up)."""
    import struct

    import numpy as np

    # --- P6 with maxval 65535 ---
    w, h = 7, 5
    i = np.arange(w * h)
    vals = np.stack(
        [(1000 * i + 7) % 65536, (2000 * i + 3) % 65536,
         (500 * i + 11) % 65536],
        axis=-1,
    ).astype(np.int64)
    raster = bytearray()
    for v in vals.ravel():
        raster += bytes([v >> 8, v & 0xFF])
    ppm = (b"P6\n# wide\n%d %d\n65535\n" % (w, h)) + bytes(raster)
    got = M._ppm_pixel_sums(ppm)
    assert got == (
        w * h,
        int(vals[:, 0].sum()), int(vals[:, 1].sum()),
        int(vals[:, 2].sum()),
    )
    # truncation still raises at the widened size
    import pytest
    with pytest.raises(ValueError):
        M._ppm_pixel_sums(ppm[:-3])
    # --- 8-bit palette BMP, bottom-up, strided ---
    w, h = 6, 4
    pal = bytes(
        b for j in range(256)
        for b in ((3 * j) % 256, (5 * j) % 256, (7 * j) % 256, 0)
    )  # B,G,R,reserved
    stride = (w + 3) & ~3
    rows_b = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytes(((x + 2 * y) % 256) for x in range(w))
        rows_b += row + b"\x00" * (stride - w)
    off = 14 + 40 + len(pal)
    hdr = (
        b"BM" + struct.pack("<IHHI", off + len(rows_b), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0,
                      len(rows_b), 0, 0, 0, 0)
    )
    bmp = hdr + pal + bytes(rows_b)
    i = np.arange(w * h)
    idx = (i % w + 2 * (i // w)) % 256
    from geniepool_etl_spark.operators.multimodal import (
        decode_image_pixel_stats,
    )
    assets = spark.createDataFrame(
        [(1, bytearray(bmp), "image/bmp")],
        "asset_id long, payload binary, media_type string",
    )
    row = decode_image_pixel_stats(assets).collect()[0]
    assert (row.n_pixels, row.sum_r, row.sum_g, row.sum_b) == (
        w * h,
        int(((7 * idx) % 256).sum()),
        int(((5 * idx) % 256).sum()),
        int(((3 * idx) % 256).sum()),
    )


def test_vp8_lossy_roundtrip_and_poison(spark):
    """r12 lossy-WebP (VP8 key-frame) decode: flat-MB frames through
    the full RFC 6386 machinery (bool range coder, token trees with
    band/neighbor contexts, Y2/IWHT, fixed-point IDCT, DC_PRED with
    edge rules, the skip path) must land the closed-form pixels
    EXACTLY at several geometries incl. partial edge MBs; truncation
    and structural poison null the row; B_PRED and a non-zero loop
    filter are declared boundaries."""
    import numpy as np
    import pytest

    from geniepool_etl_spark.operators import vp8 as V

    def targets(a):
        return lambda mx, my: (
            (37 * mx + 71 * my + 29 * a) % 256,
            (23 * mx + 41 * my + 17 * a) % 256,
            (53 * mx + 13 * my + 11 * a) % 256,
        )

    clip = lambda x: min(255, max(0, x))  # noqa: E731
    for a, (w, h) in enumerate([(16, 16), (17, 12), (47, 33), (160, 90)]):
        f = targets(a)
        payload = V.build_webp_vp8(w, h, f)
        n, sr, sg, sb = V.vp8_pixel_sums(payload)
        er = eg = eb = 0
        for my in range((h + 15) >> 4):
            for mx in range((w + 15) >> 4):
                y, u, v = f(mx, my)
                cnt = min(16, w - 16 * mx) * min(16, h - 16 * my)
                er += cnt * clip((1000 * y + 1402 * (v - 128) + 500) // 1000)
                eg += cnt * clip(
                    (1000 * y - 344 * (u - 128) - 714 * (v - 128) + 500)
                    // 1000
                )
                eb += cnt * clip((1000 * y + 1772 * (u - 128) + 500) // 1000)
        assert (n, sr, sg, sb) == (w * h, er, eg, eb), (a, w, h)
    # metadata lane reads the same container
    meta = M.decode_image(payload)
    assert (meta["width"], meta["height"]) == (160, 90)
    # uniform image: every MB after the first skips (real skip path)
    pay_u = V.build_webp_vp8(64, 64, lambda mx, my: (128, 128, 128))
    assert V.vp8_pixel_sums(pay_u)[1] == 64 * 64 * 128
    # V/H/TM prediction paths (residuals all zero → raw prediction)
    for mode, want in ((V._V_PRED, 127), (V._H_PRED, 129)):
        p = V.build_webp_vp8(
            32, 32, lambda mx, my: (128, 128, 128),
            ymode=mode, uvmode=mode,
        )
        _w, _h, Y, _U, _V2 = V.decode_frame(p[20:])
        assert (Y == want).all()
    # poison: truncated token partition / bad start code / short frame
    frame = payload[20:]
    with pytest.raises(ValueError):
        V.decode_frame(frame[: len(frame) - 6])
    bad = bytearray(frame)
    bad[3] = 0x00  # start code
    with pytest.raises(ValueError):
        V.decode_frame(bytes(bad))
    with pytest.raises(ValueError):
        V.decode_frame(frame[:8])
    # r13: B_PRED is implemented — a flat B_PRED frame decodes to
    # the same sums as its 16x16 twin (was a declared boundary)
    bp = V.build_webp_vp8(16, 16, lambda mx, my: (128, 128, 128),
                          ymode=V._B_PRED)
    assert V.vp8_pixel_sums(bp) == (256, 256 * 128, 256 * 128,
                                    256 * 128)
    # the Spark lane: good + poison in one batch, poison → null row
    assets = spark.createDataFrame(
        [(1, bytearray(payload), "image/webp"),
         (2, bytearray(payload[: len(payload) - 6]), "image/webp")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r
           for r in M.decode_image_pixel_stats(assets).collect()}
    assert got[1].sum_r is not None and got[2].sum_r is None


def test_tiff_packbits_and_lzw_decode():
    """r12 compressed-TIFF decode: PackBits run/literal packets and
    TIFF-LZW (MSB-first, early-change widths incl. the decoder's
    one-entry lag adjustment, 4093-entry table resets) round-trip
    randomized data exactly; the full container decodes the
    closed-form gradient under every (compression, predictor,
    endian) mix; truncated streams poison."""
    import random

    import numpy as np
    import pytest

    rng = random.Random(5)
    for _ in range(60):
        n = rng.randint(0, 3000)
        if rng.random() < 0.5:
            data = bytes(rng.randrange(256) for _ in range(n))
        else:
            data = b"".join(
                bytes([rng.randrange(256)]) * rng.randint(1, 40)
                for _ in range(max(1, n // 20))
            )
        assert M._packbits_decode(M._packbits_encode(data)) == data
        assert M._tiff_lzw_decode(M._tiff_lzw_encode(data)) == data
    # width growth to 12 bits + table reset crossing
    big = bytes(rng.randrange(256) for _ in range(12000))
    assert M._tiff_lzw_decode(M._tiff_lzw_encode(big)) == big
    for w, h in [(7, 5), (33, 9)]:
        i = np.arange(w * h)
        x, y = i % w, i // w
        exp = (
            w * h,
            int(((x + 2 * y) % 256).sum()),
            int(((2 * x + y) % 256).sum()),
            int(((x + y) % 256).sum()),
        )
        for comp in (1, 5, 8, 32773, 32946):
            for pred in (1, 2):
                if pred == 2 and comp == 1:
                    continue
                for be in (False, True):
                    raw = M._tiff_bytes(
                        w, h, be, compression=comp, predictor=pred
                    )
                    assert M._tiff_pixel_sums(raw) == exp
    with pytest.raises(ValueError):
        M._tiff_lzw_decode(
            M._tiff_lzw_encode(b"hello world" * 40)[:-8]
        )
    with pytest.raises(ValueError):
        M._packbits_decode(b"\x05ab")  # literal shorter than header
    # a corrupt deflate strip poisons (ValueError, not zlib.error)
    raw8 = M._tiff_bytes(9, 7, False, compression=8)
    first_strip_at = 8
    bad = bytearray(raw8)
    bad[first_strip_at : first_strip_at + 2] = b"\x00\x00"
    with pytest.raises(ValueError):
        M._tiff_pixel_sums(bytes(bad))


def test_vp8_simple_loop_filter_reference_values():
    """The SIMPLE in-loop deblocker (RFC 6386 §15.1): a d=13 step
    across a MB edge passes the 2.5·d ≤ (level+2)·2+interior mask
    and adjusts the edge pair by the a=3d+clamp(−d) taps (E=F=3); a
    d=60 step is masked out; the filter is luma-only; sharpness
    shrinks the interior limit enough to reject d=13 again. Vertical
    and horizontal MB edges both covered."""
    from geniepool_etl_spark.operators import vp8 as V

    flat = lambda a, b, vert: (  # noqa: E731
        lambda mx, my: (a if (mx if vert else my) == 0 else b,
                        128, 128)
    )
    pay = V.build_webp_vp8(32, 16, flat(120, 133, True),
                           filter_level=10)
    _w, _h, Y, U, _V2 = V.decode_frame(pay[20:])
    assert (Y[:, 15] == 123).all() and (Y[:, 16] == 130).all()
    assert (Y[:, :15] == 120).all() and (Y[:, 17:] == 133).all()
    assert (U == 128).all()  # luma-only
    pay = V.build_webp_vp8(32, 16, flat(120, 180, True),
                           filter_level=10)
    _w, _h, Y, _U, _V2 = V.decode_frame(pay[20:])
    assert (Y[:, 15] == 120).all() and (Y[:, 16] == 180).all()
    pay = V.build_webp_vp8(16, 32, flat(120, 133, False),
                           filter_level=10)
    _w, _h, Y, _U, _V2 = V.decode_frame(pay[20:])
    assert (Y[15, :] == 123).all() and (Y[16, :] == 130).all()
    pay = V.build_webp_vp8(32, 16, flat(120, 133, True),
                           filter_level=10, sharpness=5)
    _w, _h, Y, _U, _V2 = V.decode_frame(pay[20:])
    assert (Y[:, 15] == 120).all() and (Y[:, 16] == 133).all()


def test_g711_and_ima_adpcm_wav_decode(spark):
    """r12 audio boundary narrowing: G.711 µ-law/a-law (format tags
    7/6) and IMA ADPCM (0x11) WAV payloads decode to exact sample
    stats; classic reference values pin the companding tables; poison
    (partial trailing block, out-of-range step index) nulls the row
    instead of failing the batch."""
    import struct

    import numpy as np

    # companding tables vs classic Sun ulaw2linear/alaw2linear values
    ul, al = M._g711_lut("ulaw"), M._g711_lut("alaw")
    assert (ul[0x00], ul[0xFF], ul[0x80]) == (-32124, 0, 32124)
    assert (al[0x55], al[0xD5], al[0x2A], al[0xAA]) == (
        -8, 8, -32256, 32256,
    )
    # µ-law WAV through the Spark lane: bytes 0..255 once
    data = bytes(range(256))
    wav_u = M._wav_container(7, 1, 8000, 1, 8, data)
    wav_a = M._wav_container(6, 1, 8000, 1, 8, data)
    # ADPCM: 2 mono blocks, align 12 → 17 samples/block; reference
    # loop decode
    adp = bytearray()
    for b in range(2):
        adp += struct.pack("<hBB", 100 * b - 50, 30 + b, 0)
        nib = [(3 * j + b) % 16 for j in range(16)]
        adp += bytes(
            nib[k] | (nib[k + 1] << 4) for k in range(0, 16, 2)
        )
    wav_p = M._wav_container(0x11, 1, 8000, 12, 4, bytes(adp))
    exp_p = M._ima_adpcm_pcm(bytes(adp), 1, 12)

    # poison: partial trailing block / step index > 88
    bad_partial = M._wav_container(0x11, 1, 8000, 12, 4, bytes(adp)[:-5])
    bad_idx = bytearray(adp)
    bad_idx[2] = 99
    bad_wav = M._wav_container(0x11, 1, 8000, 12, 4, bytes(bad_idx))

    assets = spark.createDataFrame(
        [(1, bytearray(wav_u), "audio/wav"),
         (2, bytearray(wav_a), "audio/wav"),
         (3, bytearray(wav_p), "audio/wav"),
         (4, bytearray(bad_partial), "audio/wav"),
         (5, bytearray(bad_wav), "audio/wav")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r
           for r in M.decode_audio_pcm_stats(assets).collect()}
    au = ul[np.frombuffer(data, dtype=np.uint8)]
    aa = al[np.frombuffer(data, dtype=np.uint8)]
    assert (got[1].n_samples, got[1].sum_amp, got[1].sum_sq,
            got[1].peak) == (
        256, int(au.sum()), int((au * au).sum()), int(np.abs(au).max())
    )
    assert got[2].sum_sq == int((aa * aa).sum())
    assert (got[3].n_samples, got[3].sum_amp) == (
        len(exp_p), int(exp_p.sum())
    )
    assert got[4].n_samples is None and got[5].n_samples is None
    # stereo ADPCM through the public decoder: words round-robin
    st = bytearray()
    rng = np.random.default_rng(3)
    for c in range(2):
        st += struct.pack("<hBB", int(rng.integers(-500, 500)),
                          int(rng.integers(0, 89)), 0)
    st += bytes(rng.integers(0, 256, 8, dtype=np.uint8))
    out_st = M._ima_adpcm_pcm(bytes(st), 2, 16)
    assert len(out_st) == 2 * (1 + 8)  # header + 8 nibbles per channel


def test_ms_adpcm_wav_decode(spark):
    """MS-ADPCM (format tag 2, r12): the vectorized decoder matches a
    straight-Python reference walk on randomized mono and stereo
    blocks (two-tap prediction, adaptive delta, per-nibble channel
    interleave, clamps); the full WAV decodes through the Spark lane
    with the coefficient table read from the fmt EXTENSION; poison
    (predictor index past the table, partial block, truncated
    extension) nulls the row."""
    import struct

    import numpy as np

    def ref_decode(data, nch, align, coefs):
        out = []
        for b in range(len(data) // align):
            blk = data[b * align : (b + 1) * align]
            pidx = list(blk[:nch])
            d = [struct.unpack_from("<h", blk, nch + 2 * c)[0]
                 for c in range(nch)]
            s1 = [struct.unpack_from("<h", blk, 3 * nch + 2 * c)[0]
                  for c in range(nch)]
            s2 = [struct.unpack_from("<h", blk, 5 * nch + 2 * c)[0]
                  for c in range(nch)]
            chans = [[s2[c], s1[c]] for c in range(nch)]
            nibs = []
            for byte in blk[7 * nch :]:
                nibs += [byte >> 4, byte & 0xF]
            for k, n in enumerate(nibs):
                c = k % nch
                c1, c2 = coefs[pidx[c]]
                sgn = n - 16 if n >= 8 else n
                smp = max(-32768, min(
                    32767,
                    ((s1[c] * c1 + s2[c] * c2) >> 8) + sgn * d[c],
                ))
                d[c] = max((M._MS_ADAPT[n] * d[c]) >> 8, 16)
                s2[c], s1[c] = s1[c], smp
                chans[c].append(smp)
            for c in range(nch):
                out += chans[c]
        return out

    rng = np.random.default_rng(11)
    for nch in (1, 2):
        for _ in range(15):
            nb = int(rng.integers(1, 4))
            align = 7 * nch + int(rng.integers(4, 20))
            data = bytearray()
            for b in range(nb):
                for c in range(nch):
                    data.append(int(rng.integers(0, 7)))
                for _c in range(nch):
                    data += struct.pack(
                        "<h", int(rng.integers(16, 1000))
                    )
                for _c in range(2 * nch):
                    data += struct.pack(
                        "<h", int(rng.integers(-5000, 5000))
                    )
                data += bytes(
                    rng.integers(0, 256, align - 7 * nch).astype(
                        np.uint8
                    )
                )
            got = M._ms_adpcm_pcm(
                bytes(data), nch, align, M._MS_COEFS
            )
            assert sorted(got.tolist()) == sorted(
                ref_decode(bytes(data), nch, align, M._MS_COEFS)
            )
    # through the Spark lane, coefficient table in the fmt extension
    ext = struct.pack("<HHH", 32, (align - 7 * nch) * 2 // nch + 2, 7)
    ext += b"".join(
        struct.pack("<hh", c1, c2) for c1, c2 in M._MS_COEFS
    )
    wav = M._wav_container(2, nch, 8000, align, 4, bytes(data), ext)
    meta = M.decode_audio(wav)
    assert meta["format"] == "wav-msadpcm"
    assert meta["n_frames"] == nb * ((align - 7 * nch) * 2 // nch + 2)
    bad_pred = bytearray(data)
    bad_pred[0] = 9  # past the 7-entry table
    bad1 = M._wav_container(2, nch, 8000, align, 4, bytes(bad_pred), ext)
    bad2 = M._wav_container(2, nch, 8000, align, 4, bytes(data)[:-3], ext)
    bad3 = M._wav_container(2, nch, 8000, align, 4, bytes(data), b"\x04\x00")
    assets = spark.createDataFrame(
        [(1, bytearray(wav), "audio/wav"),
         (2, bytearray(bad1), "audio/wav"),
         (3, bytearray(bad2), "audio/wav"),
         (4, bytearray(bad3), "audio/wav")],
        "asset_id long, payload binary, media_type string",
    )
    got_rows = {r.asset_id: r
                for r in M.decode_audio_pcm_stats(assets).collect()}
    exp = M._ms_adpcm_pcm(bytes(data), nch, align, M._MS_COEFS)
    assert (got_rows[1].n_samples, got_rows[1].sum_amp,
            got_rows[1].sum_sq, got_rows[1].peak) == (
        len(exp), int(exp.sum()), int((exp * exp).sum()),
        int(np.abs(exp).max()),
    )
    for aid in (2, 3, 4):
        assert got_rows[aid].n_samples is None


def test_msrle_inter_frame_video_decode(spark):
    """MS-RLE8 AVI (r12): a REAL inter-frame decode — the synth's
    keyframe + delta-frame stream must reproduce an independently
    simulated persistent buffer per frame (absolute packets, run
    packets, DELTA row skips, EOI early exit, word-aligned absolute
    padding); non-rectangle pixels must SURVIVE from the previous
    frame; poison (run past row end, truncated stream) nulls the
    asset with one frame_idx=-1 row."""
    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    w, h, nf, rh = 9, 7, 3, 2
    gen = M.synth_avi_msrle_assets(StubDF())
    out = next(gen(iter([pd.DataFrame(
        {"asset_id": [1], "width": [w], "height": [h],
         "n_frames": [nf], "rect_h": [rh]}
    )])))
    payload = bytes(out["payload"].iloc[0])
    frames = list(M._avi_mjpeg_frames(payload))
    assert len(frames) == nf and frames[0][0] == b"MRLE"

    # independent buffer simulation from the documented closed form
    sim = np.zeros((h, w), np.int64)
    for y in range(h):
        sim[y] = (np.arange(w) + 2 * y) % 256
    expected = []

    def sums(b):
        return (w * h, int((b % 256).sum()),
                int(((2 * b) % 256).sum()), int(((3 * b) % 256).sum()))

    expected.append(sums(sim))
    for f in range(1, nf):
        a = ((f - 1) * (rh + 1)) % (h - rh + 1)
        for r in range(rh):
            sim[a + r, :] = (2 * (a + r) + 7 * f) % 256
        expected.append(sums(sim))

    pr, pg, pb = M._strf_palette(frames[0][3])
    buf = np.zeros((h, w), np.int64)
    got = []
    for _hd, _w, _h, _sf, fb in frames:
        M._msrle_apply(buf, fb)
        got.append((w * h, int(pr[buf].sum()), int(pg[buf].sum()),
                    int(pb[buf].sum())))
    assert got == expected
    # frame 1 really is a DELTA frame: pixels outside the rectangle
    # kept the keyframe values (inter-frame survival)
    buf2 = np.zeros((h, w), np.int64)
    M._msrle_apply(buf2, frames[0][4])
    key = buf2.copy()
    M._msrle_apply(buf2, frames[1][4])
    a1 = 0
    untouched = [y for y in range(h) if not a1 <= y < a1 + rh]
    assert (buf2[untouched] == key[untouched]).all()
    assert not (buf2[a1 : a1 + rh] == key[a1 : a1 + rh]).all()

    # poison: a run past the row end / truncated stream
    with pytest.raises(ValueError):
        M._msrle_apply(np.zeros((4, 4), np.int64), bytes([8, 1]))
    with pytest.raises(ValueError):
        M._msrle_apply(np.zeros((4, 4), np.int64), bytes([0]))
    # through the Spark lane: good asset explodes per frame, poison
    # asset yields the single visible null row
    bad = bytearray(payload)
    at = bad.rindex(b"00dc")
    bad[at + 8] = 255  # first packet now runs 255 > w pixels
    assets = spark.createDataFrame(
        [(1, bytearray(payload), "video/avi"),
         (2, bad, "video/avi")],
        "asset_id long, payload binary, media_type string",
    )
    rows = M.decode_video_frame_stats(assets).collect()
    good = sorted(
        (r.frame_idx, r.n_pixels, r.sum_r, r.sum_g, r.sum_b)
        for r in rows if r.asset_id == 1
    )
    assert good == [
        (f, *expected[f]) for f in range(nf)
    ]
    poison = [r for r in rows if r.asset_id == 2]
    assert len(poison) == 1 and poison[0].frame_idx == -1
    assert poison[0].n_pixels is None


def test_tga_decode(spark):
    """TGA (r12): type 2 (uncompressed) and type 10 (RLE run +
    literal packets) 24-bit decode to identical closed-form sums;
    detection is the TGA 2.0 footer (the format has no magic);
    poison (colormapped, 32-bit, truncated RLE, packet overrun)
    nulls the row."""
    import struct

    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    def expected(aid, w, h):
        half = w // 2
        sr = sg = sb = 0
        for y in range(h):
            c = (17 * y + aid) % 256
            sr += half * c
            sg += half * c
            sb += half * c
            for x in range(half, w):
                sr += (x + 2 * y) % 256
                sg += (2 * x + y) % 256
                sb += (x + y) % 256
        return (w * h, sr, sg, sb)

    payloads = {}
    for rle in (False, True):
        gen = M.synth_tga_assets(StubDF())
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [9], "width": [13], "height": [8],
             "rle": [rle]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        assert raw[-18:] == b"TRUEVISION-XFILE.\x00"
        assert M._tga_pixel_sums(raw) == expected(9, 13, 8)
        payloads[rle] = raw
    # RLE and uncompressed carry the identical image
    assert (M._tga_pixel_sums(payloads[True])
            == M._tga_pixel_sums(payloads[False]))
    # 129-wide run/literal split exercises the 128 literal cap
    gen = M.synth_tga_assets(StubDF())
    big = bytes(next(gen(iter([pd.DataFrame(
        {"asset_id": [2], "width": [255], "height": [3],
         "rle": [True]}
    )])))["payload"].iloc[0])
    assert M._tga_pixel_sums(big) == expected(2, 255, 3)
    # poison battery
    cm = bytearray(payloads[False]); cm[1] = 1  # colormapped
    d32 = bytearray(payloads[False]); d32[16] = 32  # 32-bit
    trunc = payloads[True][: len(payloads[True]) // 2]
    overrun = bytearray(payloads[True])
    # first RLE packet header: run length 255 overruns the raster
    overrun[18] = 0xFF
    for bad in (bytes(cm), bytes(d32), trunc, bytes(overrun)):
        with pytest.raises(ValueError):
            M._tga_pixel_sums(bad)
    assets = spark.createDataFrame(
        [(1, bytearray(payloads[True]), "image/tga"),
         (2, bytearray(overrun + payloads[True][-26:]), "image/tga")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r
           for r in M.decode_image_pixel_stats(assets).collect()}
    assert (got[1].n_pixels, got[1].sum_r, got[1].sum_g,
            got[1].sum_b) == expected(9, 13, 8)
    assert got[2].n_pixels is None


def test_au_and_aiff_decode(spark):
    """Sun .au and AIFF (r12): hand-parsed big-endian headers (the
    stdlib sunau/aifc modules are deprecated/removed), the AIFF
    80-bit extended-float sample rate round-trips for the real-world
    rates, AU's unknown-size sentinel (0xFFFFFFFF) reads to EOF, AU
    linear-8 is SIGNED (unlike WAV's unsigned 8-bit), the SSND
    offset is honored, and poison payloads null the row."""
    import struct

    import numpy as np
    import pytest

    # 80-bit extended float round-trip on the canonical audio rates
    for r in (8000, 11025, 16000, 22050, 44100, 48000, 96000, 1):
        assert M._f80_rate(M._f80_bytes(r)) == r
    with pytest.raises(ValueError):
        M._f80_rate(struct.pack(">HQ", 16383, (1 << 63) | 1))  # 1.x

    # AU: µ-law, a-law, signed linear-8, linear-16 BE, unknown size
    ul = M._g711_lut("ulaw")
    data8 = bytes(range(256))
    au_u = (b".snd" + struct.pack(">IIIII", 24, len(data8), 1, 8000, 1)
            + data8)
    s8 = np.arange(-100, 100, dtype=np.int8)
    au_l8 = (b".snd" + struct.pack(">IIIII", 24, 0xFFFFFFFF, 2,
                                   8000, 1) + s8.tobytes())
    s16 = np.array([-30000, -1, 0, 7, 29999], dtype=">i2")
    au_l16 = (b".snd"
              + struct.pack(">IIIII", 28, len(s16.tobytes()), 3,
                            44100, 1)
              + b"\x00\x00\x00\x00" + s16.tobytes())
    meta = M.decode_audio(au_l16)
    assert meta == {
        "format": "au-pcm16", "n_channels": 1, "sample_rate": 44100,
        "sample_width": 2, "n_frames": 5, "duration_ms": 0,
    }
    assert M.decode_audio(au_l8)["n_frames"] == 200
    with pytest.raises(ValueError):
        M.decode_audio(b".snd" + struct.pack(">IIIII", 24, 4, 99,
                                             8000, 1) + b"abcd")

    # AIFF: synth → parse → stats; SSND offset honored
    frames = 37
    i = np.arange(frames, dtype=np.int64)
    samples = (11 * i + 5 * 3) % 4001 - 2000

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    import pandas as pd

    gen = M.synth_aiff_assets(StubDF())
    out = next(gen(iter([pd.DataFrame(
        {"asset_id": [3], "sample_rate": [44100],
         "n_frames": [frames]}
    )])))
    aiff = bytes(out["payload"].iloc[0])
    meta = M.decode_audio(aiff)
    assert meta == {
        "format": "aiff", "n_channels": 1, "sample_rate": 44100,
        "sample_width": 2, "n_frames": frames,
        "duration_ms": frames * 1000 // 44100,
    }
    # inject a nonzero SSND offset: 4 junk bytes the decoder must skip
    at = aiff.index(b"SSND")
    (sz,) = struct.unpack_from(">I", aiff, at + 4)
    shifted = (
        aiff[:at] + b"SSND" + struct.pack(">I", sz + 4)
        + struct.pack(">II", 4, 0) + b"\xde\xad\xbe\xef"
        + aiff[at + 16:]
    )
    assets = spark.createDataFrame(
        [(1, bytearray(au_u), "audio/basic"),
         (2, bytearray(au_l8), "audio/basic"),
         (3, bytearray(au_l16), "audio/basic"),
         (4, bytearray(shifted), "audio/aiff"),
         (5, bytearray(aiff[:20]), "audio/aiff"),
         (6, bytearray(aiff.replace(b"COMM", b"XOMM")), "audio/aiff")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r.asset_id: r
           for r in M.decode_audio_pcm_stats(assets).collect()}
    au_dec = ul[np.frombuffer(data8, np.uint8)]
    assert got[1].sum_sq == int((au_dec * au_dec).sum())
    assert (got[2].n_samples, got[2].sum_amp) == (
        200, int(s8.astype(np.int64).sum())
    )
    assert (got[3].n_samples, got[3].peak) == (5, 30000)
    assert (got[4].n_samples, got[4].sum_amp, got[4].peak) == (
        frames, int(samples.sum()), int(np.abs(samples).max())
    )
    assert got[5].n_samples is None and got[6].n_samples is None


def test_synth_netpbm16_and_palette_bmp_roundtrip():
    """The r12 synth generators behind the contract lanes: 16-bit P6
    payloads and paletted BMPs must decode to the closed-form channel
    sums through the pixel-stats dispatcher, including the
    biClrUsed=0 → 256-color default path (n_colors == 256)."""
    import numpy as np
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    # 16-bit netpbm
    pdf = pd.DataFrame(
        {"asset_id": [1, 2], "width": [9, 17], "height": [7, 12]}
    )
    gen = M.synth_ppm16_gradient_assets(StubDF())
    out = next(gen(iter([pdf])))
    for _, r in out.iterrows():
        w = int(pdf[pdf.asset_id == r.asset_id]["width"].iloc[0])
        h = int(pdf[pdf.asset_id == r.asset_id]["height"].iloc[0])
        i = np.arange(w * h)
        x, y = i % w, i // w
        assert M._ppm_pixel_sums(r.payload) == (
            w * h,
            int(((257 * x + 513 * y) % 65536).sum()),
            int(((514 * x + 257 * y) % 65536).sum()),
            int(((257 * x + 258 * y) % 65536).sum()),
        )
    # paletted BMP: n=16 (explicit biClrUsed) and n=256 (written as 0)
    pdfb = pd.DataFrame(
        {"asset_id": [1, 2], "width": [12, 7], "height": [6, 9],
         "n_colors": [16, 256]}
    )
    genb = M.synth_bmp_palette_assets(StubDF())
    outb = next(genb(iter([pdfb])))
    import struct as _struct

    dec = M.decode_image_pixel_stats(StubDF())
    stats = next(dec(iter([outb[["asset_id", "payload",
                                 "media_type"]]])))
    for _, r in stats.iterrows():
        sel = pdfb[pdfb.asset_id == r.asset_id]
        w, h, n = (int(sel[c].iloc[0])
                   for c in ("width", "height", "n_colors"))
        payload = outb[outb.asset_id == r.asset_id]["payload"].iloc[0]
        assert _struct.unpack_from("<I", payload, 46)[0] == (
            0 if n == 256 else n
        )
        i = np.arange(w * h)
        p = (i % w + 2 * (i // w)) % n
        assert (r.n_pixels, r.sum_r, r.sum_g, r.sum_b) == (
            w * h,
            int(((7 * p + 2) % 256).sum()),
            int(((5 * p + 1) % 256).sum()),
            int(((3 * p) % 256).sum()),
        )


def test_png16_roundtrip_and_crc_poison():
    """16-bit RGB PNG: big-endian sample assembly and the 6-byte
    filter left-neighbor offset must reconstruct full-range 16-bit
    values exactly under all five predictors; a bit flip is CRC
    poison."""
    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    batches = M.synth_png16_gradient_assets(StubDF())
    last = None
    for w, h in [(5, 1), (17, 12), (3, 7)]:
        pdf = pd.DataFrame({"asset_id": [1], "width": [w], "height": [h]})
        raw = next(batches(iter([pdf])))["payload"][0]
        last = raw
        i = np.arange(w * h)
        x, y = i % w, i // w
        exp = (
            w * h,
            int(((257 * x + 513 * y) % 65536).sum()),
            int(((514 * x + 257 * y) % 65536).sum()),
            int(((257 * x + 258 * y) % 65536).sum()),
        )
        assert M._png_pixel_sums(raw) == exp, (w, h)
    bad = bytearray(last)
    bad[50] ^= 0x08
    with pytest.raises(ValueError):
        M._png_pixel_sums(bytes(bad))


def test_gif_interlace_restores_display_order():
    """Interlaced GIF: the stream carries rows in the 4-pass order;
    the decoder must restore the DISPLAY-ORDER index matrix exactly
    (sums are permutation-blind, so this pins the row mapping), at
    heights hitting every pass-emptiness combination."""
    import numpy as np
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    for il in (False, True):
        batches = M.synth_gif_gradient_assets(StubDF(), interlaced=il)
        for w, h in [(5, 1), (9, 2), (7, 4), (6, 8), (17, 12), (9, 23)]:
            pdf = pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h]}
            )
            raw = next(batches(iter([pdf])))["payload"][0]
            W, H, _pal, idx = M._gif_decode(raw)
            i = np.arange(w * h)
            exp = ((i % w + 2 * (i // w)) % 256).astype(np.uint8)
            assert (W, H) == (w, h) and np.array_equal(idx, exp), (
                il, w, h,
            )


def test_png_palette_all_depths_roundtrip_and_poison():
    """Paletted PNG (color type 3): every index width (1/2/4/8 bit,
    MSB-first packing, one-byte filter offset, all five predictors)
    must decode to the exact palette closed form; an index past the
    PLTE and a bit flip (CRC) are poison."""
    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    batches = M.synth_png_palette_assets(StubDF())
    last = None
    for depth in (1, 2, 4, 8):
        for w, h in [(5, 1), (17, 12), (3, 7)]:
            pdf = pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h],
                 "bit_depth": [depth]}
            )
            raw = next(batches(iter([pdf])))["payload"][0]
            last = raw
            k = 1 << depth
            i = np.arange(w * h)
            idx = (i % w + 2 * (i // w)) % k
            exp = (
                w * h,
                int(((17 * idx + 5) % 256).sum()),
                int(((29 * idx + 11) % 256).sum()),
                int(((43 * idx + 7) % 256).sum()),
            )
            assert M._png_pixel_sums(raw) == exp, (depth, w, h)
    # bit flip anywhere → CRC poison
    bad = bytearray(last)
    bad[60] ^= 0x10
    with pytest.raises(ValueError):
        M._png_pixel_sums(bytes(bad))


def test_webp_lossless_roundtrip_and_gates():
    """VP8L round-trip: real bitstreams (normal canonical Huffman
    through the code-length code, simple codes, LZ77 row copies at
    linear distances) must decode to the closed form at odd sizes
    including single-row and no-LZ (h<=2) shapes; the metadata parser
    agrees on dimensions; truncation raises; a transform bit raises
    (the declared boundary); the prefix encode/decode pair is exact
    over a value sweep."""
    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    batches = M.synth_webp_lossless_assets(StubDF())
    payloads = {}
    for w, h in [(5, 1), (8, 2), (17, 12), (33, 9), (25, 21), (3, 3)]:
        pdf = pd.DataFrame({"asset_id": [1], "width": [w], "height": [h]})
        raw = next(batches(iter([pdf])))["payload"][0]
        payloads[(w, h)] = raw
        meta = M._webp_dimensions(raw)
        assert (meta["width"], meta["height"]) == (w, h)
        got = M._webp_lossless_pixel_sums(raw)
        i = np.arange(w * h)
        x, y = i % w, i // w
        ye = np.where((y >= 2) & (y % 2 == 0), 0, y)
        exp = (
            w * h,
            int(((11 * x + 23 * ye) % 251).sum()),
            int(((7 * x + 31 * ye) % 253).sum()),
            int(((3 * x + 41 * ye) % 249).sum()),
        )
        assert got == exp, (w, h)
    # prefix coding is its own inverse over the whole small range
    for v in range(1, 5000):
        sym, extra, ebits = M._vp8l_prefix_encode(v)
        wr = M._Vp8lBitWriter()
        wr.write(extra, ebits)
        rd = M._Vp8lBitReader(wr.flush() or b"\x00")
        assert M._vp8l_prefix_decode(rd, sym) == v, v
    # subtract-green + color-cache variants must round-trip to the
    # SAME sums (both features are value-neutral); the cache synth's
    # stream-order pre-pass mirrors the decoder's cache exactly
    for sg, cb in [(True, 0), (False, 6), (True, 6), (True, 2)]:
        b2 = M.synth_webp_lossless_assets(
            StubDF(), subtract_green=sg, cache_bits=cb
        )
        for w, h in [(17, 12), (25, 21)]:
            pdf = pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h]}
            )
            raw2 = next(b2(iter([pdf])))["payload"][0]
            assert M._webp_lossless_pixel_sums(raw2) == (
                M._webp_lossless_pixel_sums(payloads[(w, h)])
            ), (sg, cb, w, h)
    # truncation is poison
    raw = payloads[(17, 12)]
    with pytest.raises(ValueError):
        M._webp_lossless_pixel_sums(raw[: len(raw) - 6])
    # a flipped transform-present bit is poison: the stream after it
    # parses as a bogus transform header (r13: predictor/subtract-
    # green are now LEGAL transform types, so the corruption
    # surfaces as whatever parse step breaks first — still a loud
    # ValueError, never a silent mis-decode)
    body = raw.find(b"VP8L") + 8
    bad = bytearray(raw)
    bad[body + 1 + 4] ^= 0x01  # bit 32 of the LSB stream
    with pytest.raises(ValueError):
        M._webp_lossless_pixel_sums(bytes(bad))


def test_jpeg_sa_subsampled_with_restarts_roundtrip():
    """Successive approximation + restart intervals + chroma
    subsampling COMBINED (the full real-encoder scan stack): DC
    point-transform/refinement scans walk Hi×Vi luma blocks per MCU
    with DRI counted in MCUs, AC scans cover per-component raster
    counts. Every sampling layout at several DRIs must round-trip to
    the closed form exactly."""
    import numpy as np
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    for sampling, (yh, yv) in [
        ("420", (2, 2)), ("422", (2, 1)), ("411", (4, 1)),
    ]:
        batches = M.synth_jpeg_sa_assets(StubDF(), sampling=sampling)
        for w, h, ri in [(17, 12, 0), (16, 16, 1), (33, 9, 2)]:
            pdf = pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h],
                 "interval": [ri]}
            )
            raw = next(batches(iter([pdf])))["payload"][0]
            got = M._jpeg_progressive_pixel_sums(raw)
            i = np.arange(w * h)
            x, y = i % w, i // w
            yy = (37 * (x // 8) + 71 * (y // 8)) % 256
            cb = (23 * (x // (8 * yh)) + 41 * (y // (8 * yv))) % 256
            cr = (53 * (x // (8 * yh)) + 13 * (y // (8 * yv))) % 256
            ch = lambda n: np.clip((n + 500) // 1000, 0, 255)  # noqa: E731
            exp = (
                w * h,
                int(ch(1000 * yy + 1402 * (cr - 128)).sum()),
                int(ch(1000 * yy - 344 * (cb - 128)
                       - 714 * (cr - 128)).sum()),
                int(ch(1000 * yy + 1772 * (cb - 128)).sum()),
            )
            assert got == exp, (sampling, w, h, ri)


def test_avi_mjpeg_frame_decode_and_codec_gate():
    """MJPEG-in-AVI frame decode: every 00dc chunk's JPEG must decode
    to the closed-form per-frame sums; the container metadata lane
    still parses the same payload; a non-MJPG handler (H264) must be
    refused by the frame walker, not mis-decoded; and a truncated
    movi chunk is poison."""
    import numpy as np
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    batches = M.synth_avi_mjpeg_assets(StubDF())
    pdf = pd.DataFrame(
        {"asset_id": [7], "width": [17], "height": [12],
         "n_frames": [3], "fps": [5]}
    )
    payload = next(batches(iter([pdf])))["payload"][0]
    frames = [fb for _hd, _w, _h, _sf, fb in M._avi_mjpeg_frames(payload)]
    assert len(frames) == 3
    w, h = 17, 12
    i = np.arange(w * h)
    x, y = i % w, i // w
    ch = lambda n: np.clip((n + 500) // 1000, 0, 255)  # noqa: E731
    for f, fb in enumerate(frames):
        yy = (37 * (x // 8) + 71 * (y // 8) + 29 * f) % 256
        cb = (23 * (x // 8) + 41 * (y // 8) + 17 * f) % 256
        cr = (53 * (x // 8) + 13 * (y // 8) + 11 * f) % 256
        exp = (
            w * h,
            int(ch(1000 * yy + 1402 * (cr - 128)).sum()),
            int(ch(1000 * yy - 344 * (cb - 128) - 714 * (cr - 128)).sum()),
            int(ch(1000 * yy + 1772 * (cb - 128)).sum()),
        )
        assert M._jpeg_pixel_sums(fb) == exp
    # the metadata lane still reads the same container
    meta = M.decode_video(payload)
    assert (meta["width"], meta["height"], meta["n_frames"]) == (17, 12, 3)
    # codec gate: flip the stream handler to H264
    bad = bytearray(payload)
    at = bad.find(b"vids")
    bad[at + 4 : at + 8] = b"H264"
    with pytest.raises(ValueError, match="MJPG"):
        list(M._avi_mjpeg_frames(bytes(bad)))
    # truncation poison
    with pytest.raises(ValueError):
        list(M._avi_mjpeg_frames(payload[: len(payload) - 7]))
    # raw DIB frames (the other non-inter-frame AVI profile):
    # hand-build a 2-frame bottom-up BGR24 stream and check exact
    # per-frame sums through the same walker + dispatcher
    import struct as _struct

    def chunk(tag, body):
        pad = b"\x00" if len(body) % 2 else b""
        return tag + _struct.pack("<I", len(body)) + body + pad

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    dw, dh = 5, 3
    stride = (dw * 3 + 3) & ~3
    frames_raw = []
    for f in range(2):
        rows = bytearray()
        for yy in range(dh - 1, -1, -1):  # bottom-up
            row = bytearray()
            for xx in range(dw):
                row += bytes(
                    [(xx + yy + f) % 256,        # B
                     (2 * xx + yy) % 256,        # G
                     (xx + 3 * yy + f) % 256]    # R
                )
            row += b"\x00" * (stride - len(row))
            rows += row
        frames_raw.append(bytes(rows))
    avih = chunk(
        b"avih",
        _struct.pack("<14I", 100000, 0, 0, 0, 2, 0, 1, 0,
                     dw, dh, 0, 0, 0, 0),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"DIB " + _struct.pack(
            "<I2H8I", 0, 0, 0, 0, 1, 10, 0, 2, 0, 0, 0
        ),
    )
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh))
    movi = lst(b"movi", b"".join(chunk(b"00db", fr) for fr in frames_raw))
    body = b"AVI " + hdrl + movi
    dib_avi = b"RIFF" + _struct.pack("<I", len(body)) + body
    got = [
        (hd, M._dib_frame_sums(fb, fw, fh))
        for hd, fw, fh, _sf, fb in M._avi_mjpeg_frames(dib_avi)
    ]
    assert len(got) == 2
    for f, (hd, (n, sr, sg, sb)) in enumerate(got):
        assert hd == b"DIB " and n == dw * dh
        i2 = np.arange(dw * dh)
        xx, yy = i2 % dw, i2 // dw
        assert sr == int(((xx + 3 * yy + f) % 256).sum())
        assert sg == int(((2 * xx + yy) % 256).sum())
        assert sb == int(((xx + yy + f) % 256).sum())


def test_video_frame_stats_zero_frame_avi_yields_null_row():
    """A structurally valid AVI whose movi LIST contains ZERO frame
    chunks is an unusable payload: the contract is ONE visible null
    row (frame_idx −1), never a silent drop of the asset (r12 advice
    fix)."""
    import pandas as pd
    import struct as _struct

    def chunk(tag, body):
        pad = b"\x00" if len(body) % 2 else b""
        return tag + _struct.pack("<I", len(body)) + body + pad

    def lst(kind, body):
        return chunk(b"LIST", kind + body)

    avih = chunk(
        b"avih",
        _struct.pack("<14I", 100000, 0, 0, 0, 0, 0, 1, 0,
                     4, 4, 0, 0, 0, 0),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG" + _struct.pack(
            "<I2H8I", 0, 0, 0, 0, 1, 10, 0, 0, 0, 0, 0
        ),
    )
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh))
    movi = lst(b"movi", b"")  # zero frame chunks
    body = b"AVI " + hdrl + movi
    empty_avi = b"RIFF" + _struct.pack("<I", len(body)) + body
    assert list(M._avi_mjpeg_frames(empty_avi)) == []

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    batches = M.decode_video_frame_stats(StubDF())
    pdf = pd.DataFrame({"asset_id": [42], "payload": [empty_avi]})
    out = next(batches(iter([pdf])))
    assert len(out) == 1
    assert out["asset_id"][0] == 42 and out["frame_idx"][0] == -1
    assert out["n_pixels"].isna().all()


def test_jpeg_progressive_subsampled_roundtrip():
    """Progressive (SOF2) + chroma subsampling together — the profile
    real photo encoders emit. The interleaved DC scan walks Hi×Vi
    padded-grid luma blocks per MCU; each AC band scan covers only
    its component's OWN raster grid (T.81 A.2.2 — padding blocks
    carry no AC, so the EOB-run block counts differ per component);
    reconstruction replicates subsampled planes like baseline. Every
    sampling layout must round-trip to the closed form exactly."""
    import numpy as np
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    for sampling, (yh, yv) in [
        ("444", (1, 1)), ("420", (2, 2)), ("422", (2, 1)), ("411", (4, 1)),
    ]:
        batches = M.synth_jpeg_progressive_assets(
            StubDF(), sampling=sampling
        )
        for w, h in [(17, 12), (33, 9), (25, 21)]:
            pdf = pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h]}
            )
            raw = next(batches(iter([pdf])))["payload"][0]
            got = M._jpeg_progressive_pixel_sums(raw)
            i = np.arange(w * h)
            x, y = i % w, i // w
            yy = (37 * (x // 8) + 71 * (y // 8)) % 256
            cb = (23 * (x // (8 * yh)) + 41 * (y // (8 * yv))) % 256
            cr = (53 * (x // (8 * yh)) + 13 * (y // (8 * yv))) % 256
            ch = lambda n: np.clip((n + 500) // 1000, 0, 255)  # noqa: E731
            exp = (
                w * h,
                int(ch(1000 * yy + 1402 * (cr - 128)).sum()),
                int(ch(1000 * yy - 344 * (cb - 128)
                       - 714 * (cr - 128)).sum()),
                int(ch(1000 * yy + 1772 * (cb - 128)).sum()),
            )
            assert got == exp, (sampling, w, h)


def test_flac_mixed_escape_partitions_one_subframe():
    """One subframe interleaving BOTH residual codings — even-indexed
    partitions escaped (k=15, raw two's-complement), odd-indexed
    Rice — must decode exactly, and the bitstream must really carry
    both codings (asserted by re-reading the subframe's partition
    headers). Real encoders emit this whenever one partition's
    residuals defeat Rice while a neighbor's don't."""
    import struct

    from geniepool_etl_spark.operators import multimodal as M

    block = 64
    # sign-alternating ramp: order-1 residuals are large and
    # alternating, so Rice and escape codings differ materially
    samples = [(-1) ** i * (7 + 3 * i) for i in range(block)]
    si = M._BitWriterMSB()
    si.write(block, 16); si.write(block, 16)
    si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5)
    si.write(block, 36)
    streaminfo = si.bytes_aligned() + bytes(16)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:]
    out += streaminfo
    hdr = M._BitWriterMSB()
    hdr.write(0b11111111111110, 14); hdr.write(0, 2)
    hdr.write(0b0110, 4); hdr.write(0b0000, 4)
    hdr.write(0, 4); hdr.write(0b100, 3); hdr.write(0, 1)
    head = bytearray(hdr.bytes_aligned())
    head += M._flac_utf8_number(0)
    head.append(block - 1)
    head.append(M._flac_crc8(bytes(head)))
    body = M._BitWriterMSB()
    M._flac_fixed_frame_body(
        body, samples, 1, 16, part_order=2, escape="mixed"
    )
    frame = bytes(head) + body.bytes_aligned()
    out += frame + struct.pack(">H", M._flac_crc16(frame))
    n, sa, sq, pk = M._flac_pcm_sums(bytes(out))
    assert (n, sa, sq, pk) == (
        block,
        sum(samples),
        sum(v * v for v in samples),
        max(abs(v) for v in samples),
    )
    # the subframe must really mix codings: walk its 4 partition
    # headers and collect the k parameters (k=15 marks an escape)
    rd = M._BitReaderMSB(frame, len(head))
    assert rd.read(1) == 0 and rd.read(6) == 0b001001  # FIXED order 1
    assert rd.read(1) == 0  # no wasted bits
    rd.read(16)  # warmup sample
    assert rd.read(2) == 0 and rd.read(4) == 2  # 4-bit Rice, 4 parts
    ks = []
    per = block >> 2
    for p in range(4):
        cnt = per - 1 if p == 0 else per
        k = rd.read(4)
        ks.append(k)
        if k == 15:
            eb = rd.read(5)
            for _ in range(cnt):
                rd.read(eb)
        else:
            for _ in range(cnt):
                while rd.read(1) == 0:
                    pass
                rd.read(k)
    assert ks[0] == 15 and ks[2] == 15
    assert ks[1] < 15 and ks[3] < 15


def test_flac_variable_blocking_stream():
    """Variable-blocking FLAC (blocking-strategy bit = 1): frames
    carry UTF-8-coded SAMPLE numbers and differing block sizes (the
    last frame shorter, as real encoders emit). The decoder's
    per-frame block-size handling and generic number walk must
    decode it exactly — closing the last declared FLAC boundary."""
    import struct

    from geniepool_etl_spark.operators import multimodal as M

    specs = [(96, 7, 3), (96, -50, 2), (40, 11, -1)]  # (block, a, b)
    total = sum(b for b, _a, _b2 in specs)
    si = M._BitWriterMSB()
    si.write(40, 16); si.write(96, 16)  # min/max block size differ
    si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5)
    si.write(total, 36)
    streaminfo = si.bytes_aligned() + bytes(16)
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(streaminfo))[1:]
    out += streaminfo
    first_sample = 0
    for block, a, b in specs:
        hdr = M._BitWriterMSB()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)
        hdr.write(1, 1)  # VARIABLE blocking: number is a SAMPLE index
        hdr.write(0b0111, 4)  # 16-bit block size - 1 at end
        hdr.write(0b0000, 4)
        hdr.write(0, 4)  # mono
        hdr.write(0b100, 3)
        hdr.write(0, 1)
        head = bytearray(hdr.bytes_aligned())
        head += M._flac_utf8_number(first_sample)
        head += struct.pack(">H", block - 1)
        head.append(M._flac_crc8(bytes(head)))
        body = M._BitWriterMSB()
        samples = [a + b * i for i in range(block)]
        M._flac_fixed_frame_body(body, samples, 1, 16)
        frame = bytes(head) + body.bytes_aligned()
        out += frame + struct.pack(">H", M._flac_crc16(frame))
        first_sample += block
    vals = [a + b * i for block, a, b in specs for i in range(block)]
    n, sa, sq, pk = M._flac_pcm_sums(bytes(out))
    assert (n, sa, sq, pk) == (
        len(vals),
        sum(vals),
        sum(v * v for v in vals),
        max(abs(v) for v in vals),
    )


def test_jpeg_sa_refinement_nonzero_history():
    """AC successive-approximation refinement with NONZERO history —
    the path the all-zero lane can't reach: a hand-built two-block
    progressive stream where the refinement scan must (a) correct an
    existing +2 to +3 via a positional correction bit inside an
    (r=2,s=1) advance, (b) place a NEW -1 after skipping two
    zero-history slots, and (c) correct a -2 to -3 inside an EOB-run
    block (corrections ride inside EOB-covered blocks too). Expected
    pixels derive from the reconstructed coefficients through the
    shared IDCT."""
    import struct

    import numpy as np

    from geniepool_etl_spark.operators import multimodal as M

    # DC table: Annex K luminance; AC table: 4 symbols at length 3
    AC_BITS = (0, 0, 4, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    AC_VALS = (0x00, 0x01, 0x11, 0x21)
    enc_dc, _ = M._jpeg_huff_tables(M._JPEG_DC_BITS, M._JPEG_DC_VALS)
    enc_ac, _ = M._jpeg_huff_tables(AC_BITS, AC_VALS)

    def dc_scan(dcs):
        wr = M._JpegBitWriter()
        pred = 0
        for dc in dcs:
            diff = dc - pred
            pred = dc
            ssss = abs(diff).bit_length()
            code, ln = enc_dc[ssss]
            wr.write(code, ln)
            if ssss:
                wr.write(diff if diff >= 0 else diff + (1 << ssss) - 1, ssss)
        return wr.flush()

    def sym(wr, s):
        code, ln = enc_ac[s]
        wr.write(code, ln)

    # first AC scan at Al=1 (toward-zero point transform):
    # block 1: +1 at k=1 (true +3 -> sends +1), EOB0
    # block 2: -1 at k=2 (true -3 -> sends -1, r=1), EOB0
    wr = M._JpegBitWriter()
    sym(wr, 0x01); wr.write(1, 1)       # (0,1) value +1
    sym(wr, 0x00)                        # EOB0
    sym(wr, 0x11); wr.write(0, 1)       # (1,1) value -1
    sym(wr, 0x00)                        # EOB0
    ac_first = wr.flush()
    # refinement at Ah=1, Al=0:
    # block 1: (2,1) sign 0 (new -1), correction 1 for k=1 (2 -> 3),
    #          lands at k=4; then EOB0 (covers rest, no corrections)
    # block 2: EOB0 immediately; correction bit 1 for k=2 (-2 -> -3)
    wr = M._JpegBitWriter()
    sym(wr, 0x21); wr.write(0, 1)       # new coef sign -> -1
    wr.write(1, 1)                       # correction for k=1
    sym(wr, 0x00)                        # EOB0
    sym(wr, 0x00)                        # block 2: EOB0
    wr.write(1, 1)                       # correction for k=2
    ac_refine = wr.flush()

    dcs = [-26, 5]
    seg = lambda m, b: m + struct.pack(">H", len(b) + 2) + b  # noqa: E731
    sof2 = b"\x08" + struct.pack(">HH", 8, 16) + b"\x01" + b"\x01\x11\x00"
    raw = b"".join([
        b"\xff\xd8",
        seg(b"\xff\xdb", b"\x00" + bytes([1] * 64)),
        seg(b"\xff\xc2", sof2),
        seg(b"\xff\xc4", b"\x00" + bytes(M._JPEG_DC_BITS) + bytes(M._JPEG_DC_VALS)),
        seg(b"\xff\xc4", b"\x10" + bytes(AC_BITS) + bytes(AC_VALS)),
        seg(b"\xff\xda", b"\x01\x01\x00\x00\x00\x00"),    # DC, Ah=Al=0
        dc_scan(dcs),
        seg(b"\xff\xda", b"\x01\x01\x00\x01\x3f\x01"),    # AC first, Al=1
        ac_first,
        seg(b"\xff\xda", b"\x01\x01\x00\x01\x3f\x10"),    # AC refine
        ac_refine,
        b"\xff\xd9",
    ])
    # expected coefficients after refinement
    zz = np.asarray(M._JPEG_ZIGZAG)
    tmat = M._jpeg_dct_matrix()
    exp_sum = 0
    for b, ac in enumerate([{1: 3, 4: -1}, {2: -3}]):
        z = np.zeros(64, dtype=np.int64)
        z[0] = dcs[b]
        for k, v in ac.items():
            z[k] = v
        coef = np.zeros(64, dtype=np.int64)
        coef[zz] = z
        blk = tmat.T @ coef.reshape(8, 8).astype(np.float64) @ tmat
        exp_sum += int(np.clip(np.rint(blk) + 128, 0, 255).sum())
    n, sr, sg, sb = M._jpeg_progressive_pixel_sums(raw)
    assert (n, sr, sg, sb) == (128, exp_sum, exp_sum, exp_sum)


def test_synth_bounds_validated():
    """r13 (advice): synth_tga_assets / synth_avi_msrle_assets must
    ENFORCE their documented geometry bounds — out-of-range widths
    would wrap RLE length bytes and silently emit corrupt payloads
    that decode to wrong sums instead of raising."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_tga_assets(StubDF())
    with pytest.raises(ValueError, match=r"\[2, 256\]"):
        next(gen(iter([pd.DataFrame(
            {"asset_id": [1], "width": [257], "height": [3],
             "rle": [True]}
        )])))
    gen2 = M.synth_avi_msrle_assets(StubDF())
    for w, h, rh in ((256, 5, 2), (9, 5, 5)):
        with pytest.raises(ValueError, match="3 <= w <= 255"):
            next(gen2(iter([pd.DataFrame(
                {"asset_id": [1], "width": [w], "height": [h],
                 "n_frames": [2], "rect_h": [rh]}
            )])))


def _vp8_sim_bpred(sub, w, h):
    """Independent §12.3 reimplementation (straight from the spec
    text, not vp8.py's code paths) for the all-submode cascade."""
    import numpy as np

    mb_cols, mb_rows = (w + 15) // 16, (h + 15) // 16
    R = np.zeros((mb_rows * 16, mb_cols * 16), np.int64)

    def ar4(mx, my, bx, by):
        if bx < 3:
            row, c0 = my * 16 + by * 4 - 1, mx * 16 + bx * 4 + 4
        else:
            row, c0 = my * 16 - 1, mx * 16 + 16
        if row < 0:
            return [127] * 4
        W = R.shape[1]
        return [int(R[row, min(c0 + i, W - 1)]) for i in range(4)]

    a3 = lambda x, y, z: (x + 2 * y + z + 2) >> 2  # noqa: E731
    a2 = lambda x, y: (x + y + 1) >> 1  # noqa: E731
    for my in range(mb_rows):
        for mx in range(mb_cols):
            for b in range(16):
                bx, by = b % 4, b // 4
                m = sub(mx, my, b)
                x0, y0 = mx * 16 + bx * 4, my * 16 + by * 4
                ha, hl = y0 > 0, x0 > 0
                A = ([int(R[y0 - 1, x0 + i]) for i in range(4)]
                     if ha else [127] * 4)
                L = ([int(R[y0 + i, x0 - 1]) for i in range(4)]
                     if hl else [129] * 4)
                P = (int(R[y0 - 1, x0 - 1]) if (ha and hl)
                     else (127 if ha else 129))
                AR = ar4(mx, my, bx, by)
                o = np.zeros((4, 4), np.int64)
                if m == 0:
                    o[:] = (sum(A) + sum(L) + 4) >> 3
                elif m == 1:
                    for r in range(4):
                        for c in range(4):
                            o[r, c] = max(0, min(255, L[r] + A[c] - P))
                elif m == 2:
                    e = [P] + A + [AR[0]]
                    for c in range(4):
                        o[:, c] = a3(e[c], e[c + 1], e[c + 2])
                elif m == 3:
                    e = [P] + L + [L[3]]
                    for r in range(4):
                        o[r, :] = a3(e[r], e[r + 1], e[r + 2])
                elif m == 4:
                    AA = A + AR
                    for r in range(4):
                        for c in range(4):
                            i = r + c
                            o[r, c] = (a3(AA[i], AA[i + 1], AA[i + 2])
                                       if i < 6
                                       else a3(AA[6], AA[7], AA[7]))
                elif m == 5:
                    pp = [L[3], L[2], L[1], L[0], P] + A
                    for r in range(4):
                        for c in range(4):
                            k = c - r + 3
                            o[r, c] = a3(pp[k - 1], pp[k], pp[k + 1])
                elif m == 6:
                    pp = [L[3], L[2], L[1], L[0], P] + A
                    o[3, 0] = a3(pp[1], pp[2], pp[3])
                    o[2, 0] = a3(pp[2], pp[3], pp[4])
                    o[3, 1] = o[1, 0] = a3(pp[3], pp[4], pp[5])
                    o[2, 1] = o[0, 0] = a2(pp[4], pp[5])
                    o[3, 2] = o[1, 1] = a3(pp[4], pp[5], pp[6])
                    o[2, 2] = o[0, 1] = a2(pp[5], pp[6])
                    o[3, 3] = o[1, 2] = a3(pp[5], pp[6], pp[7])
                    o[2, 3] = o[0, 2] = a2(pp[6], pp[7])
                    o[1, 3] = a3(pp[6], pp[7], pp[8])
                    o[0, 3] = a2(pp[7], pp[8])
                elif m == 7:
                    AA = A + AR
                    o[0, 0] = a2(AA[0], AA[1])
                    o[1, 0] = a3(AA[0], AA[1], AA[2])
                    o[2, 0] = o[0, 1] = a2(AA[1], AA[2])
                    o[1, 1] = o[3, 0] = a3(AA[1], AA[2], AA[3])
                    o[2, 1] = o[0, 2] = a2(AA[2], AA[3])
                    o[3, 1] = o[1, 2] = a3(AA[2], AA[3], AA[4])
                    o[2, 2] = o[0, 3] = a2(AA[3], AA[4])
                    o[3, 2] = o[1, 3] = a3(AA[3], AA[4], AA[5])
                    o[2, 3] = a3(AA[4], AA[5], AA[6])
                    o[3, 3] = a3(AA[5], AA[6], AA[7])
                elif m == 8:
                    pp = [L[3], L[2], L[1], L[0], P] + A
                    o[3, 0] = a2(pp[0], pp[1])
                    o[3, 1] = a3(pp[0], pp[1], pp[2])
                    o[2, 0] = o[3, 2] = a2(pp[1], pp[2])
                    o[2, 1] = o[3, 3] = a3(pp[1], pp[2], pp[3])
                    o[2, 2] = o[1, 0] = a2(pp[2], pp[3])
                    o[2, 3] = o[1, 1] = a3(pp[2], pp[3], pp[4])
                    o[1, 2] = o[0, 0] = a2(pp[3], pp[4])
                    o[1, 3] = o[0, 1] = a3(pp[3], pp[4], pp[5])
                    o[0, 2] = a3(pp[4], pp[5], pp[6])
                    o[0, 3] = a3(pp[5], pp[6], pp[7])
                else:
                    o[0, 0] = a2(L[0], L[1])
                    o[0, 1] = a3(L[0], L[1], L[2])
                    o[0, 2] = o[1, 0] = a2(L[1], L[2])
                    o[0, 3] = o[1, 1] = a3(L[1], L[2], L[3])
                    o[1, 2] = o[2, 0] = a2(L[2], L[3])
                    o[1, 3] = o[2, 1] = a3(L[2], L[3], L[3])
                    o[2, 2] = o[2, 3] = L[3]
                    o[3, :] = L[3]
                R[y0 : y0 + 4, x0 : x0 + 4] = np.clip(o, 0, 255)
    return R


def test_vp8_bpred_all_submodes_vs_independent_sim():
    """r13: every one of the ten §12.3 sub-block modes, decoded from
    a REAL bitstream (pure-prediction skip frames authored via the
    encoder's ``submodes`` hook), must match an independent
    spec-text reimplementation of the prediction cascade — including
    the above-right selection rules (interior, right-column from the
    above-MB row, frame-border replication) and the sequential
    sub-block reconstruction order."""
    from geniepool_etl_spark.operators import vp8 as V

    def sub(mx, my, b):
        return (mx * 7 + my * 3 + b) % 10  # every mode appears

    pay = V.build_webp_vp8(48, 48, lambda mx, my: (0, 128, 128),
                           submodes=sub)
    _w, _h, Y, _U, _V2 = V.decode_frame(pay[20:])
    R = _vp8_sim_bpred(sub, 48, 48)
    assert (Y == R[:48, :48]).all()
    # a second pattern hits different (above, left) mode contexts
    def sub2(mx, my, b):
        return (5 * mx + 11 * my + 3 * b) % 10

    pay2 = V.build_webp_vp8(37, 29, lambda mx, my: (0, 128, 128),
                            submodes=sub2)
    _w, _h, Y2, _U, _V2 = V.decode_frame(pay2[20:])
    R2 = _vp8_sim_bpred(sub2, 37, 29)
    assert (Y2 == R2[:29, :37]).all()


def test_vp8_bpred_flat_roundtrip_and_poison():
    """r13: B_PRED flat frames (the oracle-checked lane's shape)
    round-trip exactly — pure B_PRED and mixed B_PRED/DC_PRED
    checkerboards — and the truncation/poison battery holds: a
    truncated first partition (sub-mode bits cut) and a truncated
    token partition both raise instead of mis-decoding."""
    import pytest

    from geniepool_etl_spark.operators import vp8 as V

    def mb(mx, my):
        return ((37 * mx + 71 * my + 3) % 256, (23 * mx + 5) % 256,
                (53 * my + 7) % 256)

    def clip(x):
        return max(0, min(255, x))

    for w, h, ym in (
        (50, 35, V._B_PRED),
        (64, 48, lambda mx, my: V._B_PRED if (mx + my) % 2 == 0
         else V._DC_PRED),
    ):
        pay = V.build_webp_vp8(w, h, mb, ymode=ym)
        got = V.vp8_pixel_sums(pay)
        en = esr = esg = esb = 0
        for my in range((h + 15) // 16):
            for mx in range((w + 15) // 16):
                y, u, v = mb(mx, my)
                cnt = min(16, w - 16 * mx) * min(16, h - 16 * my)
                en += cnt
                esr += cnt * clip(
                    (1000 * y + 1402 * (v - 128) + 500) // 1000
                )
                esg += cnt * clip(
                    (1000 * y - 344 * (u - 128) - 714 * (v - 128)
                     + 500) // 1000
                )
                esb += cnt * clip(
                    (1000 * y + 1772 * (u - 128) + 500) // 1000
                )
        assert got == (en, esr, esg, esb)
    frame = V.encode_flat_frame(50, 35, mb, ymode=V._B_PRED)
    part1_len = (frame[0] | (frame[1] << 8) | (frame[2] << 16)) >> 5
    with pytest.raises(ValueError, match="truncated|overruns"):
        V.decode_frame(frame[: 10 + part1_len // 2])
    with pytest.raises(ValueError, match="truncated"):
        V.decode_frame(frame[: len(frame) - 8])


def test_vp8_normal_loop_filter_reference_values():
    """r13: the NORMAL loop filter (§15.2-3). Stripe frames with
    |Δ| ≤ 3 between MB rows: every horizontal MB edge takes the
    27/18/9-tap path (no hev) and lands the closed-form two-row
    adjustment per side; a 120-step edge fails the filter mask and
    passes through; chroma stripes are filtered too (the normal
    filter is all-planes, unlike SIMPLE); interior flat edges are
    no-ops."""
    import numpy as np

    from geniepool_etl_spark.operators import vp8 as V

    vals = [100, 103, 101, 102]

    def mb(mx, my):
        return (vals[my % 4], 128, 128)

    w, h = 48, 64
    pay = V.build_webp_vp8(w, h, mb, filter_level=20, filter_type=0)
    _w, _h, Y, U, Vp = V.decode_frame(pay[20:])
    exp = np.zeros((h, w), np.int64)
    for y in range(h):
        exp[y, :] = vals[(y // 16) % 4]
    for k in range(1, 4):
        a, b = vals[k - 1], vals[k]
        d = b - a
        a27 = (54 * d + 63) >> 7
        a18 = (36 * d + 63) >> 7
        y = 16 * k
        exp[y - 2, :] = a + a18
        exp[y - 1, :] = a + a27
        exp[y, :] = b - a27
        exp[y + 1, :] = b - a18
    assert (Y == exp).all()
    assert (U == 128).all() and (Vp == 128).all()
    # chroma IS filtered by the normal filter: stripe the chroma too
    pay2 = V.build_webp_vp8(
        32, 32, lambda mx, my: (128, 100 if my == 0 else 103, 128),
        filter_level=20, filter_type=0,
    )
    _w, _h, Y2, U2, _V2 = V.decode_frame(pay2[20:])
    d = 3
    a27 = (54 * d + 63) >> 7
    a18 = (36 * d + 63) >> 7
    assert (Y2 == 128).all()
    assert (U2[6, :] == 100 + a18).all()
    assert (U2[7, :] == 100 + a27).all()
    assert (U2[8, :] == 103 - a27).all()
    assert (U2[9, :] == 103 - a18).all()
    # a big step fails the mask → untouched
    pay3 = V.build_webp_vp8(
        32, 32, lambda mx, my: (60 if my == 0 else 180, 128, 128),
        filter_level=20, filter_type=0,
    )
    _w, _h, Y3, _U, _V2 = V.decode_frame(pay3[20:])
    assert (Y3[15] == 60).all() and (Y3[16] == 180).all()


def test_vp8_segmentation():
    """r13: VP8 segmentation (§9.3/§10) — four absolute-mode
    quantizers in one frame via the tree-coded per-MB segment map;
    the per-segment exact-level solver lands identical flat targets
    under each quantizer; per-segment loop-filter levels apply per
    MB (a level-0 segment filters none of its edges); unreachable
    residuals fail loud; a truncated header raises."""
    import pytest

    from geniepool_etl_spark.operators import vp8 as V

    def clip(x):
        return max(0, min(255, x))

    segmap = lambda mx, my: (mx + 2 * my) % 4  # noqa: E731

    def mb(mx, my):
        return ((37 * mx + 71 * my + 11) % 256, 128, 128)

    for w, h in ((64, 48), (50, 35)):
        pay = V.build_webp_vp8(
            w, h, mb, segments={"map": segmap, "q_abs": [4, 10, 20, 28]}
        )
        got = V.vp8_pixel_sums(pay)
        en = es = 0
        for my in range((h + 15) // 16):
            for mx in range((w + 15) // 16):
                y, _u, _v = mb(mx, my)
                cnt = min(16, w - 16 * mx) * min(16, h - 16 * my)
                en += cnt
                es += cnt * clip(y)
        assert got == (en, es, es, es)
    # levels actually DIFFER by segment (not all landing on q=4's
    # closed form): the same residual needs different L per dequant
    assert V._search_dc_level(5, "y2", 16) != V._search_dc_level(
        5, "y2", 48
    )
    # per-segment loop filter: lf=0 segment untouched, lf=10 filtered
    def mbl(mx, my):
        return (120 if my == 0 else 133, 128, 128)

    pay3 = V.build_webp_vp8(
        32, 32, mbl, filter_level=10,
        segments={"map": lambda mx, my: 0 if mx < 1 else 1,
                  "q_abs": [4, 4, 4, 4], "lf_abs": [0, 10, 0, 0]},
    )
    _w, _h, Y, _U, _V2 = V.decode_frame(pay3[20:])
    assert (Y[15, :16] == 120).all() and (Y[16, :16] == 133).all()
    assert (Y[15, 16:] == 123).all() and (Y[16, 16:] == 130).all()
    # odd chroma residual at uvdc=16 (q=12) is unreachable → loud
    with pytest.raises(ValueError, match="unreachable"):
        V.build_webp_vp8(
            32, 32, lambda mx, my: (100, 91, 128),
            segments={"map": lambda mx, my: 1,
                      "q_abs": [4, 12, 20, 28]},
        )
    # truncated first partition (segment map bits cut) raises
    frame = V.encode_flat_frame(
        64, 48, mb, segments={"map": segmap, "q_abs": [4, 10, 20, 28]}
    )
    p1 = (frame[0] | (frame[1] << 8) | (frame[2] << 16)) >> 5
    with pytest.raises(ValueError, match="truncated|overruns"):
        V.decode_frame(frame[: 10 + p1 // 2])


def test_vp8l_predictor_transform_roundtrip():
    """r13: VP8L predictor transform — all 14 spatial modes via 4x4
    tiles from a tile-mode entropy sub-image; the synth codes
    target−pred residuals against the shared predictor, so decode
    must land the target exactly at any geometry (incl. the
    one-tile case, the TR border column, and non-multiple-of-4
    dims); truncation stays poison."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_vp8l_predictor_assets(StubDF())

    def expect(aid, w, h):
        a7 = aid % 7
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                sr += (13 * x + 29 * y + 5 * a7) % 256
                sg += (7 * x + 17 * y + 3 * a7) % 256
                sb += (11 * x + 23 * y + 7 * a7) % 256
        return (w * h, sr, sg, sb)

    raws = {}
    for aid, w, h in ((1, 23, 17), (4, 40, 33), (9, 5, 5),
                      (2, 4, 4), (3, 65, 9)):
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        raws[(aid, w, h)] = raw
        assert M._webp_lossless_pixel_sums(raw) == expect(aid, w, h)
    raw = raws[(4, 40, 33)]
    with pytest.raises(ValueError):
        M._webp_lossless_pixel_sums(raw[: len(raw) - 8])


def test_vp8l_color_palette_meta_roundtrip():
    """r13: the three remaining implemented VP8L features — the
    CROSS-COLOR transform (int8 3.5 fixed-point deltas, r2b against
    reconstructed red), COLOR-INDEXING (delta-coded palette, K > 16)
    and META-HUFFMAN (two groups with disjoint green alphabets,
    per-position selection) — each round-trips its closed-form
    target; truncation stays poison; a hand-authored subtract-green
    + bundled-palette stream decodes exactly (r14 composition)."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    geoms = ((1, 23, 17), (4, 40, 33), (2, 4, 4))

    def run(gen_fn, expect_fn):
        gen = gen_fn(StubDF())
        last = None
        for aid, w, h in geoms:
            out = next(gen(iter([pd.DataFrame(
                {"asset_id": [aid], "width": [w], "height": [h]}
            )])))
            last = bytes(out["payload"].iloc[0])
            assert (M._webp_lossless_pixel_sums(last)
                    == expect_fn(aid, w, h)), (gen_fn.__name__, w, h)
        return last

    def e_color(aid, w, h):
        a7 = aid % 7
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                sr += (13 * x + 29 * y + 5 * a7) % 256
                sg += (7 * x + 17 * y + 3 * a7) % 256
                sb += (11 * x + 23 * y + 7 * a7) % 256
        return (w * h, sr, sg, sb)

    def e_pal(aid, w, h):
        a7 = aid % 7
        K = 24 + a7 * 8
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                k = (x + 2 * y + a7) % K
                sr += (19 * k + 31 * a7) % 256
                sg += (7 * k + 5 * a7) % 256
                sb += (23 * k + 11 * a7) % 256
        return (w * h, sr, sg, sb)

    def e_meta(aid, w, h):
        a7 = aid % 7
        half = ((w + 3) >> 2) // 2
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                grp = 1 if (x >> 2) >= half else 0
                sr += (5 * x + 3 * y + a7) % 256
                sg += (3 * x + 7 * y + a7) % 128 + 128 * grp
                sb += (9 * x + y + a7) % 256
        return (w * h, sr, sg, sb)

    run(M.synth_webp_vp8l_color_assets, e_color)
    raw_p = run(M.synth_webp_vp8l_palette_assets, e_pal)
    raw_m = run(M.synth_webp_vp8l_meta_assets, e_meta)
    for raw in (raw_p, raw_m):
        with pytest.raises(ValueError):
            M._webp_lossless_pixel_sums(raw[: len(raw) - 6])
    # bundled color-indexing COMPOSED with another transform (r14:
    # supported via read-time width capture) — hand-authored
    # subtract-green + 2-color palette stream must decode exactly:
    # inverse order is [unbundle+palettize, then sg] at full width
    wr = M._Vp8lBitWriter()
    wr.write(4, 14)  # w-1
    wr.write(4, 14)  # h-1
    wr.write(0, 1)
    wr.write(0, 3)
    wr.write(1, 1)
    wr.write(2, 2)  # subtract-green
    wr.write(1, 1)
    wr.write(3, 2)  # color-indexing
    wr.write(1, 8)  # 2 colors -> bundling
    # palette sub-image: 2 literal delta pixels, minimal codes
    wr.write(0, 1)  # no cache

    def bal(symbols):
        syms = sorted(set(symbols))
        bits = max(1, (len(syms) - 1).bit_length())
        pad = (1 << bits) - len(syms)
        spare = [x for x in range(256) if x not in set(syms)][:pad]
        return {x: bits for x in syms + spare}

    encs = [
        M._vp8l_write_huffman(wr, bal([0, 7])),
        M._vp8l_write_huffman(wr, bal([0, 9])),
        M._vp8l_write_huffman(wr, bal([0, 11])),
        M._vp8l_write_huffman(wr, bal([0, 255])),
    ]
    wr.write(1, 1)  # distance: simple single 0
    wr.write(0, 1)
    wr.write(0, 1)
    wr.write(0, 1)

    def put(enc, sym):
        code, ln = enc[sym]
        for i in range(ln - 1, -1, -1):
            wr.write((code >> i) & 1, 1)

    for g, r, b, a in ((0, 0, 0, 255), (7, 9, 11, 0)):
        put(encs[0], g)
        put(encs[1], r)
        put(encs[2], b)
        put(encs[3], a)
    wr.write(0, 1)  # end of transforms
    # level-0: 2-color bundling -> 1 packed byte per 5-pixel row;
    # idx(x, y) = (x + y) % 2 LSB-first
    wr.write(0, 1)  # no color cache
    wr.write(0, 1)  # no meta-huffman
    rows = []
    for y in range(5):
        v = 0
        for x in range(5):
            v |= ((x + y) % 2) << x
        rows.append(v)
    l_g = M._vp8l_write_huffman(wr, bal(rows))
    l_r = M._vp8l_write_huffman(wr, bal([0]))
    l_b = M._vp8l_write_huffman(wr, bal([0]))
    wr.write(1, 1)  # alpha: simple single 255
    wr.write(0, 1)
    wr.write(1, 1)
    wr.write(255, 8)
    wr.write(1, 1)  # distance: simple single 0
    wr.write(0, 1)
    wr.write(0, 1)
    wr.write(0, 1)
    for v in rows:
        put(l_g, v)
        put(l_r, 0)
        put(l_b, 0)
    import struct
    payload = b"\x2f" + wr.flush()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    raw = b"RIFF" + struct.pack(
        "<I", len(b"WEBP" + chunk)
    ) + b"WEBP" + chunk
    # palette (sg-space): e0 = (255,0,0,0), e1 = (255,9,7,11);
    # sg-inverse adds g to r/b -> e1 decodes (255,16,7,18); 12 of
    # the 25 pixels have idx 1
    assert M._webp_lossless_pixel_sums(raw) == (
        25, 12 * 16, 12 * 7, 12 * 18
    )


def test_vp8l_bundled_palette_roundtrip():
    """r13: sub-byte pixel bundling — 2/4/16-color palettes at
    1/2/4 bits per index, level-0 stream at the reduced width,
    LSB-first unpacking; every regime at awkward widths (last byte
    partially filled) must land the closed-form target."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_vp8l_bundled_assets(StubDF())
    for aid, w, h in ((0, 23, 17), (1, 40, 33), (2, 5, 5),
                      (3, 17, 8), (4, 9, 4), (5, 31, 11)):
        a7 = aid % 7
        K = (2, 4, 16)[aid % 3]
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                k = (x + 2 * y + a7) % K
                sr += (19 * k + 31 * a7) % 256
                sg += (7 * k + 5 * a7) % 256
                sb += (23 * k + 11 * a7) % 256
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        assert M._webp_lossless_pixel_sums(raw) == (w * h, sr, sg, sb)


def test_vp8l_bundled_palette_composed_roundtrip():
    """r14: bundling COMPOSED with the predictor transform — the
    stream reads [color-indexing (bundled), predictor], the
    predictor tile sub-image is sized by the reduced width and its
    inverse reconstructs packed bytes before unbundling; every bit
    regime at awkward widths lands the closed-form target."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_vp8l_bundled_palette_assets(StubDF())
    for aid, w, h in ((0, 23, 17), (1, 40, 33), (2, 5, 5),
                      (3, 17, 8), (4, 9, 4), (5, 31, 11)):
        a7 = aid % 7
        K = (2, 4, 16)[aid % 3]
        sr = sg = sb = 0
        for y in range(h):
            for x in range(w):
                k = (x + 2 * y + a7) % K
                sr += (19 * k + 31 * a7) % 256
                sg += (7 * k + 5 * a7) % 256
                sb += (23 * k + 11 * a7) % 256
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        assert M._webp_lossless_pixel_sums(raw) == (w * h, sr, sg, sb)


def test_vp8l_distance_map_derivation():
    """r14: the 120-entry 2-D distance map is DERIVED (near-neighbor
    window sorted by squared distance, |dx|, sign) — pin the
    derivation against the spec's own ordering at every entry that
    is independently checkable: the documented leading run, the
    d²=49/50 tie groups, and the lone (8,0) straggler (RFC 9649
    §4.2.2 / libwebp plane-code layout)."""
    m = M._vp8l_distance_map()
    assert len(m) == 120
    assert len(set(m)) == 120
    for dx, dy in m:
        assert 0 <= dy <= 7 and -7 <= dx <= 8
        assert dy > 0 or dx >= 1
    # spec's leading entries (codes 1..14)
    assert m[:14] == (
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
        (0, 3), (3, 0),
    )
    # d² = 25 tie group (codes 35..40)
    assert m[34:40] == (
        (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0)
    )
    # d² = 49/50 groups (codes 73..80) and (8,0) at code 97
    assert m[72:80] == (
        (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5),
        (7, 1), (-7, 1),
    )
    assert m[96] == (8, 0)
    # ordering invariant: non-decreasing squared distance
    d2 = [dx * dx + dy * dy for dx, dy in m]
    assert d2 == sorted(d2)


def test_vp8l_dist_roundtrip():
    """r14: 2-D neighbor backward references — per-row refs rotating
    through (dx ∈ {-4,0,4,8}) × (dy ∈ 0..7) map entries over a
    period-4 image land the closed-form target at every geometry
    incl. w=4 (where naive dist-0 clamping would corrupt);
    truncation stays poison."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_vp8l_dist_assets(StubDF())
    raw = None
    for aid, w, h in ((0, 12, 9), (1, 40, 33), (2, 16, 5),
                      (3, 28, 17), (9, 4, 49), (6, 32, 2)):
        a7 = aid % 7
        sr = sg = sb = 0
        for x in range(w):
            j = x % 4
            sr += (19 * j + 31 * a7) % 256
            sg += (7 * j + 5 * a7) % 256
            sb += (23 * j + 11 * a7) % 256
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        assert (M._webp_lossless_pixel_sums(raw)
                == (w * h, sr * h, sg * h, sb * h)), (aid, w, h)
    with pytest.raises(ValueError):
        M._webp_lossless_pixel_sums(raw[: len(raw) - 6])


def test_vp8_loop_filter_deltas():
    """r13: §9.4 loop-filter adjustments — ref[INTRA] and
    mode[B_PRED] deltas combine with the base (and segment) level
    per MB, clamped 0..63; a level-0 result skips that MB's edges
    entirely. Stripe frame with alternating DC/B_PRED rows under
    ref=-20/mode=+20: DC boundaries untouched, B_PRED boundaries
    take the closed-form taps."""
    import numpy as np

    from geniepool_etl_spark.operators import vp8 as V

    vals = [100, 103, 101, 102]

    def mb(mx, my):
        return (vals[my % 4], 128, 128)

    ym = lambda mx, my: (  # noqa: E731
        V._B_PRED if my % 2 == 1 else V._DC_PRED
    )
    pay = V.build_webp_vp8(
        48, 64, mb, ymode=ym, filter_level=20, filter_type=0,
        lf_deltas={"ref": [-20, 0, 0, 0], "mode": [20, 0, 0, 0]},
    )
    _w, _h, Y, _U, _V2 = V.decode_frame(pay[20:])
    exp = np.zeros((64, 48), np.int64)
    for y in range(64):
        exp[y, :] = vals[(y // 16) % 4]
    for k in (1, 3):  # only boundaries above B_PRED rows filter
        a, b = vals[k - 1], vals[k]
        d = b - a
        a27 = (54 * d + 63) >> 7
        a18 = (36 * d + 63) >> 7
        y = 16 * k
        exp[y - 2, :] = a + a18
        exp[y - 1, :] = a + a27
        exp[y, :] = b - a27
        exp[y + 1, :] = b - a18
    assert (Y == exp).all()
    # deltas parsed but zero-valued change nothing
    pay2 = V.build_webp_vp8(
        48, 64, mb, filter_level=20, filter_type=0,
        lf_deltas={"ref": [0, 0, 0, 0], "mode": [0, 0, 0, 0]},
    )
    pay3 = V.build_webp_vp8(48, 64, mb, filter_level=20, filter_type=0)
    assert V.vp8_pixel_sums(pay2) == V.vp8_pixel_sums(pay3)


def _unigram_ref(docs, maxw=12, maxp=4, v=64):
    """Hand implementation of the unigram-LM hard-EM spec (the
    contract's algorithm frozen independently of the Spark code):
    substring seed, Viterbi under integer costs, usage M-step with
    pruning, round-2 billing."""
    def cost_of(f, plen):
        return (40 - max(1, f.bit_length())) * 8 + (4 - plen)

    def segment(w, costs):
        n = len(w)
        best = [0] * (n + 1)
        for i in range(1, n + 1):
            best[i] = min(
                best[i - l] + costs[w[i - l:i]]
                for l in range(1, min(maxp, i) + 1)
                if w[i - l:i] in costs
            )
        pieces, pos = [], n
        while pos > 0:
            for l in range(min(maxp, pos), 0, -1):
                p = w[pos - l:pos]
                if p in costs and best[pos - l] + costs[p] == best[pos]:
                    pieces.append(p)
                    pos -= l
                    break
        return pieces

    wpd, wfreq, pf = {}, {}, {}
    for did, text in docs:
        for w0 in text.lower().split():
            if w0:
                w = w0[:maxw]
                wpd[(did, w)] = wpd.get((did, w), 0) + 1
    for (did, w), m in wpd.items():
        wfreq[w] = wfreq.get(w, 0) + m
    for w, f in wfreq.items():
        for i in range(len(w)):
            for l in range(1, maxp + 1):
                if i + l <= len(w):
                    pf[w[i:i + l]] = pf.get(w[i:i + l], 0) + f
    chars = {p: f for p, f in pf.items() if len(p) == 1}
    multi = sorted(((p, f) for p, f in pf.items() if len(p) > 1),
                   key=lambda x: (-x[1], x[0]))[:v]
    costs = {p: cost_of(f, len(p))
             for p, f in {**chars, **dict(multi)}.items()}
    usage = {}
    for w, f in wfreq.items():
        for p in segment(w, costs):
            usage[p] = usage.get(p, 0) + f
    nv = {p: usage.get(p, 0) for p in chars}
    nv.update({p: usage[p] for p, _ in multi if usage.get(p, 0) >= 1})
    costs = {p: cost_of(f, len(p)) for p, f in nv.items()}
    out = {}
    tokc = {w: len(segment(w, costs)) for w in wfreq}
    for (did, w), m in wpd.items():
        nw, nt = out.get(did, (0, 0))
        out[did] = (nw + m, nt + m * tokc[w])
    return out


def test_unigram_lm_token_counts(spark):
    """r14: unigram-LM (SentencePiece-style) tokenizer training —
    the Spark fold-DP/Viterbi-walk pipeline matches a hand
    implementation of the frozen hard-EM spec exactly: truncation
    cap, longest-piece tiebreak, M-step pruning, char fallback for
    unseen-cost regions all land the same integer billing."""
    from geniepool_etl_spark.operators.text import (
        unigram_lm_token_counts,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the cat catcat matter"),
        (3, "internationalization is international"),
        (4, "on on on the mat sat a cat"),
        (5, "zzz zzz zzzzzzzzzzzzzzzzzzzzzz q"),  # truncation + rare
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in unigram_lm_token_counts(df).collect()
    )
    exp = sorted(
        (d, nw, nt) for d, (nw, nt) in _unigram_ref(docs).items()
    )
    assert got == exp
    # vocabulary actually compresses: multi-char pieces must win
    # somewhere (fewer tokens than characters for doc 3)
    chars3 = sum(len(w) for w in docs[2][1].split())
    assert dict((d, t) for d, _w, t in got)[3] < chars3


def test_session_two_phase_matches_native(spark):
    """Native ``session_window`` sessionization (session_agg) equals a
    plain-Python sessionizer on adversarial data: gaps at exactly the
    gap and one µs either side of it (inclusive boundary), events on
    exact multiples of 2·gap, chains spanning many such multiples, and
    single-event sessions. ``ts`` is nanos-long with sub-µs jitter, so
    the reference must floor to µs exactly as ``with_event_time``
    does."""
    import random

    from geniepool_etl_spark.operators.events import US_PER_MIN, session_agg

    rng = random.Random(42)
    GAP = 30 * US_PER_MIN
    B = 2 * GAP
    rows, eid = [], 0
    for u in range(40):
        t = rng.randint(0, 5) * 1_000_000
        for _ in range(rng.randint(0, 120)):
            t += rng.choice(
                [0, 1, GAP, GAP + 1, GAP - 1, B - 1, B, B + 1,
                 rng.randint(1, 3 * GAP)]
            )
            ns = t * 1000 + rng.randint(0, 999)
            rows.append((eid, u, ns, round(rng.uniform(0, 100), 2)))
            eid += 1
    for u in range(40, 44):  # exact boundary hits + long chains
        for k in range(6):
            rows.append((eid, u, k * B * 1000, 1.0))
            eid += 1
            rows.append((eid, u, (k * B + GAP) * 1000, 2.0))
            eid += 1

    exp, by_user = [], {}
    for _eid, u, ns, v in rows:
        by_user.setdefault(u, []).append((ns // 1000, v))
    for u, evs in by_user.items():
        sess = None
        for t_us, v in sorted(evs):
            if sess is not None and t_us - sess[3] <= GAP:
                sess[1] += 1
                sess[2] = max(sess[2], v)
                sess[3] = t_us
            else:
                if sess is not None:
                    exp.append((u, sess[0], sess[1], round(sess[2], 4)))
                sess = [t_us, 1, v, t_us]
        exp.append((u, sess[0], sess[1], round(sess[2], 4)))

    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double"
    )
    got = sorted(tuple(r) for r in session_agg(df).collect())
    assert got == sorted(exp)
    assert len(got) >= 44


def _wordpiece_ref(docs, maxw=12, maxp=4, v=64):
    """Hand implementation of the WordPiece encode spec: corpus
    vocab (initial + '##'-continuation pieces, char fallback,
    top-v multi), greedy longest-match-first walk."""
    wpd, wfreq, pf = {}, {}, {}
    for did, text in docs:
        for w0 in text.lower().split():
            if w0:
                w = w0[:maxw]
                wpd[(did, w)] = wpd.get((did, w), 0) + 1
    for (did, w), m in wpd.items():
        wfreq[w] = wfreq.get(w, 0) + m
    for w, f in wfreq.items():
        for i in range(len(w)):
            for l in range(1, maxp + 1):
                if i + l <= len(w):
                    p = w[i:i + l] if i == 0 else "##" + w[i:i + l]
                    pf[p] = pf.get(p, 0) + f
    def plen(p):
        return len(p) - 2 if p.startswith("##") else len(p)
    chars = {p for p in pf if plen(p) == 1}
    multi = [p for p, _ in sorted(
        ((p, f) for p, f in pf.items() if plen(p) > 1),
        key=lambda x: (-x[1], x[0]))[:v]]
    vocab = chars | set(multi)

    def ntok(w):
        pos, k = 0, 0
        while pos < len(w):
            for l in range(min(maxp, len(w) - pos), 0, -1):
                key = (w[pos:pos + l] if pos == 0
                       else "##" + w[pos:pos + l])
                if key in vocab:
                    pos += l
                    k += 1
                    break
        return k

    out = {}
    for (did, w), m in wpd.items():
        nw, nt = out.get(did, (0, 0))
        out[did] = (nw + m, nt + m * ntok(w))
    return out


def test_wordpiece_token_counts(spark):
    """r14: WordPiece greedy longest-match encode matches the hand
    reference exactly, including words containing literal '#'
    (consumed chars counted by emission order, not prefix
    sniffing), truncation, and the char fallback."""
    from geniepool_etl_spark.operators.text import (
        wordpiece_token_counts,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the cat catcat matter"),
        (3, "internationalization is international"),
        (4, "##sharp #tag a##b zzzzzzzzzzzzzzzz q"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        tuple(r) for r in wordpiece_token_counts(df).collect()
    )
    exp = sorted(
        (d, nw, nt) for d, (nw, nt) in _wordpiece_ref(docs).items()
    )
    assert got == exp


def test_webp_anim_compositing():
    """r14: animated WebP — ANMF strip frames composite onto the
    VP8X canvas in order (closed-form final state), ALPHA BLENDING
    follows the spec OVER formula in the repo's floor-division
    convention, and DISPOSE_BACKGROUND fills the frame rect with the
    ANIM background before the NEXT frame; truncation stays poison."""
    import struct

    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    # synth round trip at several geometries/frame counts
    gen = M.synth_webp_anim_assets(StubDF())
    for aid, w, h in ((0, 8, 12), (3, 38, 12), (6, 43, 36)):
        a7, K = aid % 7, 2 + aid % 4
        sr = sg = sb = 0
        for y in range(h):
            kb = (min(y // 2 + 1, K - 1)
                  if y <= 2 * (K - 2) + 2 else 0)
            for x in range(w):
                sr += (19 * x + 23 * y + 7 * kb + 31 * a7) % 256
                sg += (7 * x + 11 * y + 13 * kb + 5 * a7) % 256
                sb += (23 * x + 3 * y + 17 * kb + 11 * a7) % 256
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        assert M._webp_anim_pixel_sums(raw) == (w * h, sr, sg, sb)
    with pytest.raises(ValueError):
        M._webp_anim_pixel_sums(raw[: len(raw) - 10])

    # hand-authored 1x1 two-frame anims: blend + dispose paths
    def le24(v):
        return v.to_bytes(3, "little")

    def anim(frames, bg=(0, 0, 0, 255)):
        chunks = []
        vp8x = bytes([0x02, 0, 0, 0]) + le24(0) + le24(0)
        chunks.append(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
        an = bytes(bg) + struct.pack("<H", 0)
        chunks.append(b"ANIM" + struct.pack("<I", len(an)) + an)
        for argb, flags in frames:
            inner = M._vp8l_literal_chunk(1, 1, lambda x, y: argb)
            hdr = (le24(0) + le24(0) + le24(0) + le24(0)
                   + le24(40) + bytes([flags]))
            body = hdr + inner
            ch = b"ANMF" + struct.pack("<I", len(body)) + body
            if len(body) % 2:
                ch += b"\x00"
            chunks.append(ch)
        body = b"WEBP" + b"".join(chunks)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # alpha blend: dst (255, 100, 200, 40) under src a=128 ->
    # tA = 255*(255-128)//255 = 127, bA = 255; repo floor convention
    src = (128, 30, 60, 90)
    dst = (255, 100, 200, 40)
    ta = dst[0] * (255 - src[0]) // 255
    exp = tuple(
        (src[c] * src[0] + dst[c] * ta) // (src[0] + ta)
        for c in (1, 2, 3)
    )
    raw = anim([(dst, 0x02), (src, 0x00)])  # blend second frame
    assert M._webp_anim_pixel_sums(raw) == (1,) + exp
    # no-blend overwrites regardless of alpha
    raw = anim([(dst, 0x02), (src, 0x02)])
    assert M._webp_anim_pixel_sums(raw) == (1, 30, 60, 90)
    # dispose-to-background: frame 1 disposes, frame 2 blends onto bg
    bg = (10, 20, 30, 200)  # BGRA on the wire
    bgt = (bg[3], bg[2], bg[1], bg[0])  # (a, r, g, b)
    ta = bgt[0] * (255 - src[0]) // 255
    exp = tuple(
        (src[c] * src[0] + bgt[c] * ta) // (src[0] + ta)
        for c in (1, 2, 3)
    )
    raw = anim([(dst, 0x03), (src, 0x00)], bg=bg)
    assert M._webp_anim_pixel_sums(raw) == (1,) + exp


def test_video_frame_phash_roundtrip():
    """r15: per-frame video pHash — each DIB frame's hash equals the
    designed signature of asset_id·11 + frame_idx; a truncated
    payload yields the single null row (frame_idx -1)."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_avi_dib_phash_assets(StubDF())
    dec = M.decode_video_frame_phash(StubDF())
    out = next(gen(iter([pd.DataFrame(
        {"asset_id": [5], "n_frames": [4]}
    )])))
    got = next(dec(iter([out])))
    assert list(got["frame_idx"]) == [0, 1, 2, 3]
    for _, r in got.iterrows():
        want = sum(
            (1 << j) for j in range(63)
            if M._phash_sig_bit(5 * 11 + int(r["frame_idx"]), j)
        )
        assert int(r["phash"]) == want
    raw = bytes(out["payload"].iloc[0])
    bad = pd.DataFrame(
        {"asset_id": [5], "payload": [raw[:150]],
         "media_type": ["video/avi"]}
    )
    row = next(dec(iter([bad]))).iloc[0]
    assert row["frame_idx"] == -1
    assert row["phash"] is None or pd.isna(row["phash"])


def test_phash_mean_pool_matches_base(spark):
    """r15: the pooled pHash path — a kx replication of the 32x32
    grid hashes IDENTICALLY to the base image for k in {2, 3}
    (mean-pool recovers the grid exactly), and non-square or
    non-multiple-of-32 dims are poison (nulls)."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    dec = M.decode_image_phash(StubDF())
    base = {}
    for scale in (1, 2, 3):
        gen = M.synth_pgm_phash_assets(StubDF(), scale=scale)
        out = next(gen(iter([pd.DataFrame({"asset_id": [9]})])))
        h = int(next(dec(iter([out]))).iloc[0]["phash"])
        base[scale] = h
    assert base[1] == base[2] == base[3]
    # 48x48 is square but not a multiple of 32: poison
    bad = pd.DataFrame(
        {"asset_id": [9],
         "payload": [b"P5\n48 48\n255\n" + bytes(48 * 48)],
         "media_type": ["image/x-portable-graymap"]}
    )
    row = next(dec(iter([bad]))).iloc[0]
    assert row["phash"] is None or pd.isna(row["phash"])


def test_audio_fingerprint_gain_invariance():
    """r15: the energy-delta fingerprint — (a) synth round-trips to
    the designed signature; (b) GAIN INVARIANCE: doubling every
    sample amplitude leaves the fingerprint identical (the property
    that makes it a re-leveled-copy dedup key); (c) a sample count
    not divisible by the window count is poison (nulls)."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    dec = M.decode_audio_fingerprint(StubDF())
    gen = M.synth_flac_fp_assets(StubDF())
    out = next(gen(iter([pd.DataFrame({"asset_id": [6]})])))
    raw = bytes(out["payload"].iloc[0])
    base = int(next(dec(iter([out]))).iloc[0]["afp"])
    want = sum(
        (1 << j) for j in range(63) if M._audio_fp_sig_bit(6, j)
    )
    assert base == want
    # re-level: rebuild the same envelope at 2x amplitude
    amps, w = [], 0
    for i in range(64):
        amps.append(2 * (1000 + 8 * w))
        if i < 63:
            w += 1 if M._audio_fp_sig_bit(6, i) else -1
    raw2x = M._flac_bytes(amps, block_size=256)
    df2 = pd.DataFrame(
        {"asset_id": [6], "payload": [raw2x],
         "media_type": ["audio/flac"]}
    )
    assert int(next(dec(iter([df2]))).iloc[0]["afp"]) == base
    # 16384 samples don't divide into 65 windows: poison (nulls)
    dec65 = M.decode_audio_fingerprint(StubDF(), windows=65)
    df3 = pd.DataFrame(
        {"asset_id": [6], "payload": [raw],
         "media_type": ["audio/flac"]}
    )
    row = next(dec65(iter([df3]))).iloc[0]
    assert row["afp"] is None or pd.isna(row["afp"])


def test_exif_gps_rationals_roundtrip():
    """r15: RATIONAL/SRATIONAL TIFF types — GPS deg/min/sec triples
    normalize to exact signed milli-arcseconds (ref S/W negates),
    ExposureTime to exact microseconds, FNumber to hundredths, in
    BOTH byte orders; a GPS-less asset yields nulls (poison rule)."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_jpeg_exif_gps_assets(StubDF())
    dec = M.decode_exif_gps_stats(StubDF())
    for aid in (0, 1, 2, 3, 6, 7, 9):
        out = next(gen(iter([pd.DataFrame({"asset_id": [aid]})])))
        got = next(dec(iter([out]))).iloc[0]
        lat = ((aid % 90) * 3600000 + ((aid * 7) % 60) * 60000
               + (aid * 13) % 60000)
        lon = (((aid * 3) % 180) * 3600000
               + ((aid * 11) % 60) * 60000 + (aid * 17) % 60000)
        assert got["lat_mas"] == (-lat if aid % 2 else lat)
        assert got["lon_mas"] == (-lon if aid % 3 == 0 else lon)
        assert got["exposure_us"] == 1_000_000 // (
            125, 200, 250, 500, 1000
        )[aid % 5]
        assert got["fnum_x100"] == (14 + (aid % 9) * 3) * 10
    # an EXIF asset WITHOUT a GPS IFD nulls out, not errors
    gen2 = M.synth_jpeg_exif_assets(StubDF())
    out2 = next(gen2(iter([pd.DataFrame(
        {"asset_id": [3], "width": [64], "height": [48]}
    )])))
    row = next(dec(iter([out2]))).iloc[0]
    assert row["lat_mas"] is None or pd.isna(row["lat_mas"])


def test_webp_anim_lossy_poison_and_opacity():
    """r15: the lossy-frame ANMF path — truncating the payload
    anywhere inside the frame chunks raises (poison stays poison),
    and a frame without ALPH is fully opaque (blending it over
    anything overwrites)."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_anim_lossy_assets(StubDF())
    out = next(gen(iter([pd.DataFrame(
        {"asset_id": [5], "width": [48], "height": [32]}
    )])))
    raw = bytes(out["payload"].iloc[0])
    assert M._webp_anim_pixel_sums(raw)[0] == 48 * 32
    for cut in (len(raw) - 7, len(raw) // 2, 40):
        with pytest.raises(ValueError):
            M._webp_anim_pixel_sums(raw[:cut])
    # ALPH-less lossy frame blended over a canvas == overwrite:
    # build a 2-frame anim where frame 1 has no alpha chunk but the
    # blend bit set; result must equal frame 1 alone
    import struct

    from geniepool_etl_spark.operators import vp8 as _vp8

    def le24(v):
        return v.to_bytes(3, "little")

    def anmf(inner, flags):
        hdr = (le24(0) + le24(0) + le24(15) + le24(15)
               + le24(40) + bytes([flags]))
        body = hdr + inner
        c = b"ANMF" + struct.pack("<I", len(body)) + body
        return c + (b"\x00" if len(body) % 2 else b"")

    f0 = _vp8.build_webp_vp8(16, 16, lambda mx, my: (40, 128, 128))[12:]
    f1 = _vp8.build_webp_vp8(16, 16, lambda mx, my: (200, 128, 128))[12:]
    vp8x = bytes([0x02, 0, 0, 0]) + le24(15) + le24(15)
    anim = bytes([0, 0, 0, 255]) + struct.pack("<H", 0)
    chunks = (b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
              + b"ANIM" + struct.pack("<I", len(anim)) + anim
              + anmf(f0, 0x02) + anmf(f1, 0x00))
    body = b"WEBP" + chunks
    raw2 = b"RIFF" + struct.pack("<I", len(body)) + body
    got = M._webp_anim_pixel_sums(raw2)
    # flat Y=200, U=V=128 -> r=g=b=200 everywhere
    assert got == (256, 200 * 256, 200 * 256, 200 * 256)


def test_exif_parse_both_orders():
    """r14: the APP1 Exif walker — both byte orders, inline SHORTs,
    out-of-line ASCII (Make, 20-byte DateTime), the Exif sub-IFD
    pointer; truncation and missing-APP1 raise."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_jpeg_exif_assets(StubDF())
    for aid, w, h in ((0, 640, 480), (1, 13, 18), (7, 4000, 3000)):
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        f = M._exif_fields(raw)
        assert f["orientation"] == 1 + aid % 8
        assert f["iso"] == 100 + (aid % 7) * 50
        assert (f["px_w"], f["px_h"]) == (w, h)
        assert f["make"] == f"CAM{aid % 5}"
        assert f["datetime"].startswith(f"{2000 + aid % 25}:01:")
    with pytest.raises(ValueError):
        M._exif_fields(raw[:40])
    with pytest.raises(ValueError):
        M._exif_fields(b"\xff\xd8\xff\xd9")  # no APP1
    # r15 ADVICE: JPEG fill bytes — a run of 0xFF before the marker
    # byte is legal padding, not a poison stream
    padded = raw[:2] + b"\xff\xff\xff" + raw[2:]
    fp = M._exif_fields(padded)
    assert fp["orientation"] == f["orientation"]
    assert fp["make"] == f["make"]


def test_exif_oriented_decode_all_eight(spark):
    """r15: EXIF-aware pixel decode. (a) forward∘inverse is the
    identity for every orientation 1..8 on an asymmetric grid;
    (b) synth→decode round-trips to the DISPLAY closed form —
    dims, sum, and the position-weighted checksum — for all 8
    orientations and both dim shapes; (c) for every o != 1 the
    camera-space checksum DIFFERS from the display one (the lane
    would catch a decoder that skips the rotation)."""
    import numpy as np
    import pandas as pd

    a = np.arange(24, dtype=np.int64).reshape(4, 6)
    for o in range(1, 9):
        back = M._exif_orient(M._exif_orient_inverse(a, o), o)
        assert np.array_equal(back, a), o

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_jpeg_exif_oriented_assets(StubDF())
    dec = M.decode_image_oriented_stats(StubDF())
    for aid in range(8):
        dw, dh = 24, 16
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [dw], "height": [dh]}
        )])))
        got = next(dec(iter([out]))).iloc[0]
        bx = np.arange(dw, dtype=np.int64)[None, :] // 8
        by = np.arange(dh, dtype=np.int64)[:, None] // 8
        disp = (37 * bx + 71 * by + 13 * (aid % 7)) % 256
        xs = np.arange(dw, dtype=np.int64)[None, :]
        ys = np.arange(dh, dtype=np.int64)[:, None]
        want_wsum = int((disp * (1 + xs + 2 * ys)).sum())
        assert got["orientation"] == 1 + aid % 8
        assert (got["disp_w"], got["disp_h"]) == (dw, dh)
        assert got["sum_px"] == int(disp.sum())
        assert got["wsum"] == want_wsum, aid
        if aid % 8:  # orientation != 1: rotation must matter
            o = 1 + aid % 8
            cam = M._exif_orient_inverse(disp, o)
            cys, cxs = np.indices(cam.shape)
            cam_wsum = int((cam * (1 + cxs + 2 * cys)).sum())
            assert (cam.shape != disp.shape) or (
                cam_wsum != want_wsum
            ), o


def test_phash_band_pairs_pigeonhole(spark):
    """r15: hash_band_pairs semantics — (a) any pair within hamming
    < bands shares a band by pigeonhole and IS found; (b) a pair
    within max_hamming but differing in every band is (correctly,
    by LSH design) not a candidate; (c) far pairs sharing one band
    are candidates but filtered by the exact hamming check."""
    from pyspark.sql import functions as F

    from geniepool_etl_spark.operators.dedup import hash_band_pairs

    base = 0x123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0b111),              # hamming 3, bands 1-3 shared
        (3, base ^ (1 | 1 << 16 | 1 << 32 | 1 << 48)),  # h=4, NO
        # shared band (one flip in each) — LSH misses by design
        (4, base ^ ((1 << 16) - 1)),    # hamming 16 in band 0 only:
        # shares bands 1-3 -> candidate, filtered by the exact check
    ]
    df = spark.createDataFrame(rows, "asset_id LONG, phash LONG")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hash_band_pairs(df, max_hamming=6).collect()
    }
    assert got[(1, 2)] == 3
    assert (1, 3) not in got  # no band agreement
    assert (1, 4) not in got  # candidate, but hamming 16 > 6
    # raising the threshold surfaces the band-sharing far pair
    got2 = {
        (r.id_a, r.id_b): r.hamming
        for r in hash_band_pairs(df, max_hamming=16).collect()
    }
    assert got2[(1, 4)] == 16
    # hot-bucket cap (r15): 20 hashes all sharing band 0 value 7
    # explode to C(20,2) candidates uncapped; with max_bucket=10
    # that bucket is dropped at the source, while a small 2-member
    # bucket (ids 100/101, near-dup) survives
    hot = [(i, (i << 16) | 7) for i in range(20)]
    hot += [(100, 0x0BAD << 32), (101, (0x0BAD << 32) | 1)]
    dfh = spark.createDataFrame(hot, "asset_id LONG, phash LONG")
    uncapped = hash_band_pairs(dfh, max_hamming=64).count()
    capped = {
        (r.id_a, r.id_b)
        for r in hash_band_pairs(
            dfh, max_hamming=64, max_bucket=10
        ).collect()
    }
    assert uncapped > 100
    assert (100, 101) in capped
    assert all(i < 100 for p in capped for i in p) is False
    assert len(capped) < uncapped


def test_unigram_vocab_artifact(spark):
    """r14: the persisted unigram vocabulary artifact matches the
    hand reference's post-M-step state — surviving pieces, usage
    mass, and costs — and is consistent with the billing lane
    (re-encoding under the artifact's costs reproduces n_tokens)."""
    from geniepool_etl_spark.operators.text import unigram_lm_vocab

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the the cat catcat matter"),
        (3, "internationalization is international"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["piece"]: (r["usage"], r["cost"])
        for r in unigram_lm_vocab(df).collect()
    }
    # reference M-step state (same spec as _unigram_ref)
    def cost_of(f, plen):
        return (40 - max(1, f.bit_length())) * 8 + (4 - plen)
    wfreq, pf = {}, {}
    for _d, text in docs:
        for w0 in text.lower().split():
            w = w0[:12]
            wfreq[w] = wfreq.get(w, 0) + 1
    for w, f in wfreq.items():
        for i in range(len(w)):
            for l in range(1, 5):
                if i + l <= len(w):
                    pf[w[i:i + l]] = pf.get(w[i:i + l], 0) + f
    chars = {p: f for p, f in pf.items() if len(p) == 1}
    multi = sorted(((p, f) for p, f in pf.items() if len(p) > 1),
                   key=lambda x: (-x[1], x[0]))[:64]
    costs = {p: cost_of(f, len(p))
             for p, f in {**chars, **dict(multi)}.items()}

    def segment(w):
        n = len(w)
        best = [0] * (n + 1)
        for i in range(1, n + 1):
            best[i] = min(
                best[i - l] + costs[w[i - l:i]]
                for l in range(1, min(4, i) + 1) if w[i - l:i] in costs
            )
        out, pos = [], n
        while pos > 0:
            for l in range(min(4, pos), 0, -1):
                q = w[pos - l:pos]
                if q in costs and best[pos - l] + costs[q] == best[pos]:
                    out.append(q)
                    pos -= l
                    break
        return out

    usage = {}
    for w, f in wfreq.items():
        for q in segment(w):
            usage[q] = usage.get(q, 0) + f
    exp = {}
    for p in chars:
        exp[p] = (usage.get(p, 0), cost_of(usage.get(p, 0), 1))
    for p, _f in multi:
        if usage.get(p, 0) >= 1:
            exp[p] = (usage[p], cost_of(usage[p], len(p)))
    assert got == exp


def test_webp_alpha_plane():
    """r14: the ALPH chunk — all four filter methods at both
    compressions (raw residuals and the headerless VP8L stream)
    land the closed-form alpha plane alongside the VP8 color
    decode; truncation and bad compression raise."""
    import pandas as pd
    import pytest

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_webp_alpha_assets(StubDF())
    raw = None
    for aid, w, h in ((0, 18, 10), (1, 25, 19), (2, 32, 28),
                      (3, 46, 37), (5, 61, 10), (6, 33, 19)):
        a7 = aid % 7
        sa = sum((13 * x + 7 * y + 5 * a7) % 256
                 for y in range(h) for x in range(w))
        out = next(gen(iter([pd.DataFrame(
            {"asset_id": [aid], "width": [w], "height": [h]}
        )])))
        raw = bytes(out["payload"].iloc[0])
        n, got_a, _sr, _sg, _sb = M._webp_alpha_pixel_sums(raw)
        assert (n, got_a) == (w * h, sa), (aid, w, h)
    with pytest.raises(ValueError):
        M._webp_alpha_pixel_sums(raw[: len(raw) - 8])
    # unknown compression code poisons
    bad = bytearray(raw)
    at = bad.find(b"ALPH") + 8
    bad[at] = (bad[at] & ~3) | 2
    with pytest.raises(ValueError):
        M._webp_alpha_pixel_sums(bytes(bad))


def test_box_resize_exact_kernel():
    """r15: the exact box-resize kernel — the separable integer
    matmul form equals the 2-D brute-force overlap average bit for
    bit on random images across down-scale, up-scale, identity, and
    mixed-axis shapes, and the weight rows always sum to the input
    extent (the total-mass invariant the oracle's closed form
    relies on)."""
    import numpy as np

    rng = np.random.default_rng(7)

    def brute(px, ow, oh):
        ih, iw = px.shape
        den = iw * ih
        out = np.zeros((oh, ow), dtype=np.int64)
        for i in range(oh):
            for j in range(ow):
                s = 0
                for y in range(ih):
                    wy = max(0, min((i + 1) * ih, (y + 1) * oh)
                             - max(i * ih, y * oh))
                    if wy == 0:
                        continue
                    for x in range(iw):
                        wx = max(0, min((j + 1) * iw, (x + 1) * ow)
                                 - max(j * iw, x * ow))
                        s += int(px[y, x]) * wx * wy
                out[i, j] = (s + den // 2) // den
        return out

    for (iw, ih, ow, oh) in [
        (48, 40, 32, 32), (56, 24, 32, 32), (7, 5, 3, 9), (5, 3, 16, 2),
    ]:
        px = rng.integers(0, 256, size=(ih, iw)).astype(np.uint8)
        assert (M._box_resize_px(px, ow, oh) == brute(px, ow, oh)).all()
    px = rng.integers(0, 256, size=(9, 11)).astype(np.uint8)
    assert (M._box_resize_px(px, 11, 9) == px).all()
    for (no, ni) in [(32, 48), (32, 24), (3, 7)]:
        assert (M._box_weights(no, ni).sum(axis=1) == ni).all()


def test_box_resize_affine_separates():
    """r15: for an affine gradient a·x + b·y + c the resized pixel
    equals the oracle's two-moment closed form — the separability
    fact the SQL replay depends on."""
    import numpy as np
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_pgm_linear_assets(StubDF())
    dec = M.decode_image_resize_stats(StubDF(), 32, 32)
    for aid in (9, 22, 48, 61):
        out = next(gen(iter([pd.DataFrame({"asset_id": [aid]})])))
        got = next(dec(iter([out]))).iloc[0]
        a, b, c = aid % 3, (aid // 3) % 3, 10 + aid % 50
        w1, h1 = (48, 40) if aid % 2 == 0 else (56, 24)
        wx = M._box_weights(32, w1)
        wy = M._box_weights(32, h1)
        mx = (wx * np.arange(w1, dtype=np.int64)).sum(axis=1)
        my = (wy * np.arange(h1, dtype=np.int64)).sum(axis=1)
        den = w1 * h1
        v = (a * mx[None, :] * h1 + b * my[:, None] * w1
             + c * den + den // 2) // den
        xs = np.arange(32, dtype=np.int64)[None, :]
        ys = np.arange(32, dtype=np.int64)[:, None]
        assert int(got["px_sum"]) == int(v.sum())
        assert int(got["px_checksum"]) == int((v * (1 + xs + 2 * ys)).sum())
        assert (int(got["in_width"]), int(got["in_height"])) == (w1, h1)


def test_box_resize_payload_composes_with_phash():
    """r15: resize_images_box is a real composition stage — the 3x
    replicated designed pHash grid (96x96) box-resized to 32x32
    recovers the base grid exactly, so decode_image_phash over the
    RESIZED PAYLOAD yields the designed signature; truncated input
    nulls the payload."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_pgm_phash_assets(StubDF(), scale=3)
    big = next(gen(iter([pd.DataFrame({"asset_id": [14]})])))
    rez = M.resize_images_box(StubDF(), 32, 32)
    small = next(rez(iter([big])))
    assert bytes(small["payload"].iloc[0])[:3] == b"P5\n"
    dec = M.decode_image_phash(StubDF())
    h = int(next(dec(iter([small]))).iloc[0]["phash"])
    want = sum((1 << j) for j in range(63) if M._phash_sig_bit(14, j))
    assert h == want
    bad = pd.DataFrame(
        {"asset_id": [14],
         "payload": [bytes(big["payload"].iloc[0])[:40]],
         "media_type": ["image/x-portable-graymap"]}
    )
    row = next(rez(iter([bad]))).iloc[0]
    assert row["payload"] is None


def test_warc_gzip_plain_parity_and_poison():
    """r15: WARC ingestion — (a) the CommonCrawl per-record-gzip
    layout and the plain layout of the SAME records parse to the
    identical record surface; (b) multi-member gzip actually needs
    member chaining (one-shot zlib stops at member 1); (c) each
    framing-poison class (truncated member, bad version line, bad
    Content-Length, missing record separator, trailing garbage)
    yields the single null row instead of killing the batch."""
    import zlib
    import pandas as pd
    from geniepool_etl_spark.sources import warc as W

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = W.synth_warc_assets(StubDF())
    parse = W.parse_warc_records(StubDF())
    # aid 8 (plain) and 9 (gzip members): same n_rec=2+aid%3 differs;
    # compare one aid rendered both ways instead
    out = next(gen(iter([pd.DataFrame({"asset_id": [9]})])))
    raw_gz = bytes(out["payload"].iloc[0])
    assert raw_gz[:2] == b"\x1f\x8b"
    plain = W._gunzip_members(raw_gz)
    got_gz = next(parse(iter([out])))
    got_pl = next(parse(iter([pd.DataFrame(
        {"asset_id": [9], "payload": [plain],
         "media_type": ["application/warc"]}
    )])))
    pd.testing.assert_frame_equal(got_gz, got_pl)
    assert list(got_gz["warc_type"]) == ["warcinfo"] + ["response"] * 2
    # one-shot decompress sees ONLY the first member
    first = zlib.decompress(raw_gz, 16 + zlib.MAX_WBITS)
    assert len(first) < len(plain)

    def poisoned(raw: bytes):
        bad = pd.DataFrame(
            {"asset_id": [9], "payload": [raw],
             "media_type": ["application/warc"]}
        )
        row = next(parse(iter([bad]))).iloc[0]
        assert row["record_idx"] == -1 and row["warc_type"] is None

    poisoned(raw_gz[:-7])                      # truncated gzip member
    poisoned(b"WARC/9.9\r\n" + plain[10:])     # bad version line
    cl = plain.replace(b"Content-Length: 37", b"Content-Length: xx", 1)
    poisoned(cl)                               # bad Content-Length
    sep = plain.find(b"\r\n\r\n", plain.find(b"software:"))
    poisoned(plain[:sep] + b"..." + plain[sep + 4:])  # broken separator
    poisoned(raw_gz + b"junk")                 # trailing garbage


def test_pdf_parser_structures_and_poison():
    """r15: PDF extraction beyond the lane's synth — a hand-built
    file with a NESTED page tree, /Contents as an ARRAY of stream
    parts, an INDIRECT /Length, and a %comment in an object; then
    the poison classes (corrupt Flate body, unsupported filter,
    xref-stream file) null the row."""
    import zlib
    import pandas as pd
    from geniepool_etl_spark.operators import pdf as P

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    def build(objs: dict) -> bytes:
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for num in sorted(objs):
            offs[num] = len(out)
            out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
        xat = len(out)
        n = max(objs) + 1
        out += f"xref\n0 {n}\n".encode() + b"0000000000 65535 f \n"
        for num in range(1, n):
            out += f"{offs[num]:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {n} /Root 1 0 R >>\n"
                f"startxref\n{xat}\n%%EOF\n").encode()
        return bytes(out)

    part1 = b"BT 72 720 Td (Hello ) Tj ET"
    part2 = zlib.compress(b"BT [(wor) -250 <6c64>] TJ ET")
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        # nested tree: Pages -> [Pages -> [page 4], page 7]
        2: b"<< /Type /Pages /Kids [3 0 R 7 0 R] /Count 2 >>",
        3: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: b"<< /Type /Page /Parent 3 0 R % inline comment\n"
           b" /Contents [5 0 R 6 0 R] >>",
        5: b"<< /Length " + str(len(part1)).encode() + b" >>\n"
           b"stream\n" + part1 + b"\nendstream",
        6: b"<< /Length 8 0 R /Filter /FlateDecode >>\nstream\n"
           + part2 + b"\nendstream",
        7: b"<< /Type /Page /Parent 2 0 R /Contents 9 0 R >>",
        8: str(len(part2)).encode(),
        9: b"<< /Length 20 >>\nstream\nBT (page two!) Tj ET\nendstream",
    }
    raw = build(objs)
    ext = P.extract_pdf_text(StubDF())

    def run(payload):
        return next(ext(iter([pd.DataFrame(
            {"asset_id": [1], "payload": [payload],
             "media_type": ["application/pdf"]}
        )])))

    got = run(raw)
    assert list(got["page_idx"]) == [0, 1]
    # array parts join with a newline between streams; Td starts line
    assert got["text"][0] == "Hello wor ld"
    assert got["text"][1] == "page two!"

    bad_flate = raw.replace(part2, b"X" * len(part2))
    assert run(bad_flate)["page_idx"][0] == -1
    bad_filter = raw.replace(b"/FlateDecode", b"/LZWDecodee"[:12])
    assert run(bad_filter)["page_idx"][0] == -1
    # xref streams (PDF 1.5+) are declared unsupported -> poison
    xs = raw.replace(b"xref\n0 10\n", b"10 0 obj\n<< >>\nstream\n")
    assert run(xs)["page_idx"][0] == -1


def test_robots_precedence_and_escaping(spark):
    """r15: RFC 9309 evaluator edge semantics — (a) longest-match
    precedence with Allow winning exact-length ties; (b) a literal
    '%'/'_' in a path is NOT a wildcard (LIKE metachars escaped);
    (c) default allow with null rule when nothing matches; (d) the
    parser drops comments, blank lines, User-agent and Crawl-delay
    directives."""
    from geniepool_etl_spark.operators import robots as RB

    urls = spark.createDataFrame(
        [
            (1, "a.com", "/dir/page"),     # tie: Allow + Disallow len 5
            (2, "a.com", "/x%y_z"),        # literal metachars
            (3, "a.com", "/nothing"),      # no rule matches
            (4, "a.com", "/dir/deep/pg"),  # longer Disallow beats Allow
        ],
        "url_id long, domain string, path string",
    )
    rules = spark.createDataFrame(
        [
            ("a.com", True, "/dir/"),
            ("a.com", False, "/dir/"),        # same length -> Allow wins
            ("a.com", False, "/dir/deep*"),   # longer -> Disallow wins
            ("a.com", False, "/x%y"),         # must match literally
            ("a.com", False, "/x_q"),         # '_' literal: no match for 2
        ],
        "domain string, is_allow boolean, rule string",
    )
    got = {
        r["url_id"]: (r["allowed"], r["rule"])
        for r in RB.robots_filter(urls, rules).collect()
    }
    assert got[1] == (True, "/dir/")
    assert got[2] == (False, "/x%y")
    assert got[3] == (True, None)
    assert got[4] == (False, "/dir/deep*")

    doms = spark.createDataFrame(
        [("b.com",
          "# header\nUser-agent: *\n\nDisallow: /a # trail\n"
          "Crawl-delay: 3\nAllow: /a/b$\nSitemap: https://x\n")],
        "domain string, robots_txt string",
    )
    parsed = {
        (r["is_allow"], r["rule"])
        for r in RB.parse_robots_txt(doms).collect()
    }
    assert parsed == {(False, "/a"), (True, "/a/b$")}


def test_surt_key_edges(spark):
    """r15: SURT canonicalization edges beyond the lane's designed
    set — hostname with no path at all, single-label host, an IPv4
    host (labels still reverse — the archive convention), malformed
    CDX json nulls only the json-derived fields."""
    from geniepool_etl_spark.operators import cdx as CDX

    urls = spark.createDataFrame(
        [
            (1, "https://Example.com"),
            (2, "http://localhost:8080/x"),
            (3, "https://192.168.0.1/a?b=1&a=2"),
            (4, "https://www.a.b.c.d.example.org/Deep/Path"),
        ],
        "id long, url string",
    )
    got = {
        r["id"]: r["urlkey"]
        for r in CDX.with_surt_key(urls).collect()
    }
    assert got[1] == "com,example)/"
    assert got[2] == "localhost:8080)/x"
    assert got[3] == "1,0,168,192)/a?a=2&b=1"
    assert got[4] == "org,example,d,c,b,a)/deep/path"

    lines = spark.createDataFrame(
        [("com,x)/ 20240101000000 {not json",)], "line string"
    )
    row = CDX.parse_cdx_lines(lines).collect()[0]
    assert row["urlkey"] == "com,x)/" and row["ts"] == 20240101000000
    assert row["url"] is None and row["status"] is None


def test_flac_vorbis_tags_poison_classes():
    """r15: VorbisComment parse — truncated vendor, truncated entry,
    and a lying entry count each poison; a tagless file (STREAMINFO
    only) yields n_tags 0 with null tags but a REAL duration."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    gen = M.synth_flac_tagged_assets(StubDF())
    dec = M.decode_audio_tags(StubDF())
    out = next(gen(iter([pd.DataFrame({"asset_id": [7]})])))
    raw = bytes(out["payload"].iloc[0])

    def run(payload):
        return next(dec(iter([pd.DataFrame(
            {"asset_id": [7], "payload": [payload],
             "media_type": ["audio/flac"]}
        )]))).iloc[0]

    ok = run(raw)
    assert ok["title"] == "Track 7" and ok["duration_ms"] == 1007

    # lie about the vendor length (points past the block)
    vc_at = raw.find(b"synth-flac 1.0") - 4
    bad = raw[:vc_at] + (9999).to_bytes(4, "little") + raw[vc_at + 4:]
    assert run(bad)["title"] is None
    # lie about the entry count
    cnt_at = vc_at + 4 + 14
    bad = raw[:cnt_at] + (99).to_bytes(4, "little") + raw[cnt_at + 4:]
    assert run(bad)["title"] is None
    # STREAMINFO-only file: tags null, n_tags 0, duration real
    packed = (16000 << 44) | ((16 - 1) << 36) | (16 * 1500)
    solo = (b"fLaC" + b"\x80" + (34).to_bytes(3, "big")
            + b"\x00" * 10 + packed.to_bytes(8, "big") + b"\x00" * 16)
    row = run(solo)
    assert row["title"] is None and row["n_tags"] == 0
    assert row["duration_ms"] == 1500


def test_main_content_blocks_edges(spark):
    """r15: link-density scorer edges — a multi-line anchor spans the
    dotall regex, nested inline tags (<b>) strip without splitting
    the block, <br> IS a block boundary, and an all-empty page
    yields zero rows."""
    from geniepool_etl_spark.operators import text as TXm

    rows = [
        (1, '<p>alpha <b>bold</b> beta gamma delta</p>'),
        (2, '<p>one two three<br>four five six seven</p>'),
        (3, '<p><a href="x">multi\nline anchor text</a> y</p>'),
        (4, '<div></div><p>  </p>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = TXm.main_content_blocks(df).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # nested <b> does not split: one block, full text
    (b1,) = by_doc[1]
    assert b1["block_text"] == "alpha bold beta gamma delta"
    assert b1["link_chars"] == 0 and b1["kept"]
    # <br> splits into two blocks
    assert [b["block_text"] for b in by_doc[2]] == [
        "one two three", "four five six seven"
    ]
    # dotall anchor: link_chars covers the newline-spanning anchor
    (b3,) = by_doc[3]
    assert b3["block_text"] == "multi line anchor text y"
    assert b3["link_chars"] == b3["n_chars"] - 1  # only ' y' survives
    assert not b3["kept"]
    assert 4 not in by_doc


def test_webdataset_determinism_and_poison(spark):
    """r15: webdataset shards — (a) packing the same members twice
    yields BYTE-IDENTICAL tars (idempotent-sink requirement);
    (b) the first-dot rule groups 'a.seg.json' under key 'a';
    (c) a truncated tar poisons to the null row."""
    import io
    import tarfile
    from geniepool_etl_spark.operators import webdataset as WDS

    members = spark.createDataFrame(
        [
            (0, "000001", "txt", bytearray(b"hello")),
            (0, "000001", "seg.json", bytearray(b"{}")),
            (0, "000002", "txt", bytearray(b"world!")),
        ],
        "shard_id long, key string, ext string, data binary",
    )
    p1 = WDS.pack_webdataset(members).collect()[0]
    p2 = WDS.pack_webdataset(members).collect()[0]
    assert bytes(p1["payload"]) == bytes(p2["payload"])
    assert p1["n_samples"] == 2 and p1["n_members"] == 3
    # stdlib tarfile reads it back; mtime pinned to 0
    with tarfile.open(fileobj=io.BytesIO(bytes(p1["payload"]))) as tf:
        infos = tf.getmembers()
        assert [i.name for i in infos] == [
            "000001.seg.json", "000001.txt", "000002.txt"
        ]
        assert all(i.mtime == 0 for i in infos)

    shards = spark.createDataFrame(
        [(0, bytearray(bytes(p1["payload"]))),
         (1, bytearray(bytes(p1["payload"])[:100]))],
        "shard_id long, payload binary",
    )
    got = {(r["shard_id"], r["key"], r["ext"])
           for r in WDS.parse_webdataset(shards).collect()}
    assert (0, "000001", "seg.json") in got   # first-dot rule
    assert (1, None, None) in got             # truncated -> poison


def test_render_chat_spans_contiguity(spark):
    """r15: chat spans — spans are contiguous (each start equals the
    previous end), start at 0, cover exactly the rendered segment
    lengths, and the loss mask is assistant-only."""
    from geniepool_etl_spark.operators import packing as PKm

    turns = spark.createDataFrame(
        [
            (1, 0, "system", "be brief"),
            (1, 1, "user", "hi"),
            (1, 2, "assistant", "hello!"),
            (2, 0, "user", "q"),
        ],
        "conv_id long, turn int, role string, content string",
    )
    got = sorted(
        PKm.render_chat_spans(turns).collect(),
        key=lambda r: (r["conv_id"], r["turn"]),
    )
    c1 = [r for r in got if r["conv_id"] == 1]
    assert c1[0]["start_char"] == 0
    for prev, cur in zip(c1, c1[1:]):
        assert cur["start_char"] == prev["end_char"]
    # segment length: <|system|> (10) + 'be brief' (8) + <|end|> (7)
    assert c1[0]["end_char"] == 25
    assert [r["in_loss"] for r in c1] == [False, False, True]
    (c2,) = [r for r in got if r["conv_id"] == 2]
    assert (c2["start_char"], c2["end_char"]) == (0, 16)


def test_id3_versions_and_poison():
    """r15: ID3v2 — v2.3 vs v2.4 frame-size encodings diverge past
    127 bytes, so a >127-byte frame proves the branch; non-syncsafe
    v2.4 frame size, truncated frame, and unsupported encoding all
    poison; the tag skip still feeds the MP3 duration walk."""
    import pandas as pd

    class StubDF:
        def mapInPandas(self, fn, schema):
            return fn

    dec = M.decode_mp3_id3(StubDF())

    def build(ver: int, big_title: str):
        frames = (
            M._id3_text_frame(b"TIT2", big_title, ver, 0)
            + M._id3_text_frame(b"TPE1", "pärty", ver, 1)
        )
        body = frames + b"\x00" * 8
        tag = (b"ID3" + bytes([ver, 0, 0]) + M._syncsafe(len(body))
               + body)
        hdr = bytes([0xFF, 0xFB, (0x9 << 4), 0xC0])
        return tag + (hdr + b"\x00" * (417 - 4)) * 3

    def run(payload):
        return next(dec(iter([pd.DataFrame(
            {"asset_id": [1], "payload": [payload],
             "media_type": ["audio/mpeg"]}
        )]))).iloc[0]

    big = "T" * 200  # frame body 201 bytes: syncsafe != BE past 127
    for ver in (3, 4):
        row = run(build(ver, big))
        assert row["title"] == big and row["artist"] == "pärty"
        assert row["id3_version"] == ver
        assert row["duration_ms"] == 3 * 1152 * 1000 // 44100
    # v2.4 parser fed a v2.3-sized (non-syncsafe) frame: poison
    raw = build(3, big)
    assert run(raw[:3] + bytes([4]) + raw[4:])["title"] is None
    # truncated mid-frame
    assert run(build(4, big)[:40])["title"] is None
    # unsupported text encoding byte
    raw = build(3, "x")
    at = raw.find(b"TIT2") + 10
    assert run(raw[:at] + b"\x02" + raw[at + 1:])["title"] is None


def test_ogg_packet_reassembly_and_vorbis_header():
    """r15: Ogg tags — (a) a packet that spans PAGES (continuation)
    reassembles; (b) a 255-multiple packet needs its explicit 0
    lacing value; (c) the \\x03vorbis comment-header path (framing
    bit) parses; (d) an unterminated packet poisons."""
    import struct
    import pandas as pd

    def page(pkt, htype=0, granule=0, seq=0):
        full, rem = divmod(len(pkt), 255)
        lac = [255] * full + [rem]
        return (b"OggS" + bytes([0, htype]) + struct.pack("<q", granule)
                + struct.pack("<III", 1, seq, 0)
                + bytes([len(lac)]) + bytes(lac) + pkt)

    # a 510-byte packet split across two pages: page 1 carries one
    # all-255 lacing run (packet continues), page 2 closes it with
    # [255, 0] — the explicit 0 a 255-multiple packet requires
    pkt = b"A" * 510
    p1 = (b"OggS" + bytes([0, 0]) + struct.pack("<q", 0)
          + struct.pack("<III", 1, 0, 0) + bytes([1, 255]) + pkt[:255])
    p2 = (b"OggS" + bytes([0, 1]) + struct.pack("<q", 0)
          + struct.pack("<III", 1, 1, 0) + bytes([2, 255, 0])
          + pkt[255:510])
    pkts = M._ogg_packets(p1 + p2)
    assert pkts == [pkt]

    # \x03vorbis comment header with framing bit
    body = (len(b"v").to_bytes(4, "little") + b"v"
            + (1).to_bytes(4, "little")
            + len(b"TITLE=t").to_bytes(4, "little") + b"TITLE=t")
    vorbis_pkt = b"\x03vorbis" + body + b"\x01"
    head_pkt = (b"\x01vorbis" + bytes([0, 0, 0, 0, 1])
                + struct.pack("<I", 44100) + b"\x00" * 17)
    raw = (page(head_pkt, htype=2)
           + page(vorbis_pkt, seq=1)
           + page(b"\x00", htype=4, granule=44100, seq=2))

    class S:
        def mapInPandas(self, fn, schema):
            return fn

    dec = M.decode_ogg_tags(S())
    row = next(dec(iter([pd.DataFrame(
        {"asset_id": [1], "payload": [raw],
         "media_type": ["audio/ogg"]}
    )]))).iloc[0]
    assert row["title"] == "t" and row["vendor"] == "v"
    assert row["duration_ms"] == 1000

    # unterminated packet (all-255 lacing, stream ends) poisons
    bad = (b"OggS" + bytes([0, 0]) + struct.pack("<q", 0)
           + struct.pack("<III", 1, 0, 0) + bytes([1, 255]) + b"B" * 255)
    row = next(dec(iter([pd.DataFrame(
        {"asset_id": [2], "payload": [bad],
         "media_type": ["audio/ogg"]}
    )]))).iloc[0]
    assert row["title"] is None


def test_sitemap_parse_malformed(spark):
    """r15: sitemap parse — attribute-bearing urlset parses, a
    malformed XML document yields zero entry rows (from_xml null →
    explode drops), entities in <loc> decode."""
    from geniepool_etl_spark.operators import cdx as CDX

    rows = [
        (1, '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap'
            '/0.9"><url><loc>https://a/?x=1&amp;y=2</loc>'
            "<lastmod>2024-02-03</lastmod></url></urlset>"),
        (2, "<urlset><url><loc>https://b/"),   # truncated
        (3, "not xml at all"),
    ]
    df = spark.createDataFrame(rows, "site_id long, xml string")
    got = CDX.parse_sitemap(df).collect()
    assert len(got) == 1
    r = got[0]
    assert r["site_id"] == 1
    assert r["loc"] == "https://a/?x=1&y=2"
    assert str(r["lastmod"]) == "2024-02-03"
    assert r["priority"] is None


def test_fix_mojibake_gating(spark):
    """r15: mojibake repair — double-encoded text fixes once (the
    output of one pass can trigger again: 'CafÃƒÂ©' needs two
    passes; ONE pass must produce the intermediate, not garbage),
    4-byte emoji sequences fix, lone lead bytes and genuine accents
    never trigger, and empty strings survive."""
    from geniepool_etl_spark.operators import text as TXm

    emoji_moji = "\U0001F600".encode("utf-8").decode("latin-1")
    rows = [
        (1, "x " + emoji_moji),          # 4-byte sequence
        (2, "CafÃ©".encode("utf-8").decode("latin-1")),  # double-enc
        (3, "Ã"),                         # lone lead byte
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: (r["fixed_text"], r["was_fixed"])
           for r in TXm.fix_mojibake(df).collect()}
    assert got[1] == ("x \U0001F600", True)
    assert got[2] == ("CafÃ©", True)     # one pass → one level
    assert got[3] == ("Ã", False)
    assert got[4] == ("", False)


def test_script_profile(spark):
    """r15: Unicode script routing — per-range counts, alphabetical
    tie-break on equal counts, digits/punct dilute nothing, empty →
    'und'. Hand-counted expectations."""
    from geniepool_etl_spark.operators import text as TXs

    rows = [
        (1, "hello world"),              # 10 latin
        (2, "привет"),  # 6 cyrillic
        (3, "abc где"),   # 3 latin vs 3 cyr -> tie
        (4, "你好 99!!"),        # 2 cjk, digits ignored
        (5, "12345 ..."),
        (6, "한글 ok"),          # 2 hangul vs 2 latin tie
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r["id"]: (
            r["n_latin"], r["n_cyrillic"], r["n_cjk"], r["n_hangul"],
            r["script"], r["script_milli"],
        )
        for r in TXs.script_profile(df).collect()
    }
    assert got[1] == (10, 0, 0, 0, "latin", 1000)
    assert got[2] == (0, 6, 0, 0, "cyrillic", 1000)
    # tie 3-3: 'cyrillic' < 'latin' alphabetically
    assert got[3] == (3, 3, 0, 0, "cyrillic", 500)
    assert got[4] == (0, 0, 2, 0, "cjk", 1000)
    assert got[5] == (0, 0, 0, 0, "und", 0)
    # tie 2-2: 'hangul' < 'latin'
    assert got[6] == (2, 0, 0, 2, "hangul", 500)


def test_parse_subtitles(spark):
    """r15: SRT/VTT cue parse — header/NOTE blocks drop, cue_idx is
    dense over VALID cues only, CRLF bodies normalize, short-form
    VTT hours, empty payload survives as ''."""
    from geniepool_etl_spark.operators import subtitles as SB

    srt = (
        "1\r\n00:00:01,000 --> 00:00:04,200\r\nHello\r\nworld\r\n"
        "\r\nnot a cue block\r\n\r\n"
        "2\r\n01:02:03,004 --> 01:02:04,000\r\nBye"
    )
    vtt = (
        "WEBVTT\n\nNOTE comment\n\n"
        "id-a\n01:02.345 --> 01:04.000\nShort\n\n"
        "00:01:10.000 --> 00:01:12.500\n"
    )
    df = spark.createDataFrame(
        [(1, srt), (2, vtt)], "doc_id long, body string"
    )
    rows = {
        (r["doc_id"], r["cue_idx"]): r
        for r in SB.parse_subtitles(df).collect()
    }
    assert len(rows) == 4
    a = rows[(1, 0)]
    assert (a["start_ms"], a["end_ms"], a["text"], a["n_lines"]) == (
        1000, 4200, "Hello\nworld", 2
    )
    b = rows[(1, 1)]
    assert b["start_ms"] == 3723004 and b["dur_ms"] == 996
    c = rows[(2, 0)]
    assert (c["start_ms"], c["text"]) == (62345, "Short")
    d = rows[(2, 1)]
    assert (d["start_ms"], d["text"], d["n_lines"]) == (70000, "", 0)


def test_maxsim_topk(spark):
    """r15: ColBERT MaxSim — hand-computed late-interaction scores
    (each query token takes its best doc token, summed), self-match
    excluded, rounded-rank determinism."""
    from geniepool_etl_spark.operators import similarity as SIM

    rows = [
        (0, [[1.0, 0.0], [0.0, 1.0]]),          # query: unit x + unit y
        (1, [[2.0, 0.0], [0.0, 3.0]]),          # best per q-token: 2, 3
        (2, [[-1.0, 0.0], [0.5, 0.5]]),         # best: 0.5, 0.5
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, token_vecs array<array<double>>"
    )
    got = {
        (r["q_id"], r["n_id"]): r["maxsim"]
        for r in SIM.maxsim_topk(df, df.where("doc_id = 0"), k=2).collect()
    }
    assert got[(0, 1)] == 5.0   # max(2,0)+max(0,3)
    assert got[(0, 2)] == 1.0   # max(-1,0.5)+max(0,0.5)
    assert len(got) == 2


def test_zipdoc_walk_and_poison(spark):
    """r15: ZIP walk — stdlib-zipfile interop (writer and walker
    cannot share a layout bug), local-vs-central extra-length
    divergence via zipfile's defaults, and the poison classes:
    truncated data, CRC flip, encrypted flag, data-descriptor flag,
    unknown method."""
    import io
    import struct
    import zipfile

    from geniepool_etl_spark.sources import zipdoc as Z

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("x/y.txt", "hello interop " * 10)
        zf.writestr(
            "s.txt", "stored", compress_type=zipfile.ZIP_STORED
        )
    good = buf.getvalue()
    assert [(n, m, d) for n, m, d in Z._zip_members(good)] == [
        ("x/y.txt", 8, b"hello interop " * 10),
        ("s.txt", 0, b"stored"),
    ]

    def flag_variant(flag_or_method: bytes, at_field: str) -> bytes:
        raw = bytearray(Z._zip_bytes([("a", b"data", 8)]))
        cd = raw.rfind(b"PK\x01\x02")
        off = {"flags": 8, "method": 10}[at_field]
        raw[cd + off : cd + off + 2] = flag_or_method
        return bytes(raw)

    cases = {
        "truncated": good[: len(good) - 40],
        "crc_flip": None,
        "encrypted": flag_variant(struct.pack("<H", 1), "flags"),
        "descriptor": flag_variant(struct.pack("<H", 8), "flags"),
        "bad_method": flag_variant(struct.pack("<H", 12), "method"),
    }
    crc = bytearray(Z._zip_bytes([("a", b"data", 0)]))
    hit = crc.find(b"data")
    crc[hit] ^= 0xFF
    cases["crc_flip"] = bytes(crc)
    import pytest as _pt

    for name, raw in cases.items():
        with _pt.raises((ValueError, struct.error)):
            Z._zip_members(raw)

    df = spark.createDataFrame(
        [(1, good, "application/zip"),
         (2, cases["crc_flip"], "application/zip")],
        "asset_id long, payload binary, media_type string",
    )
    rows = {r["asset_id"]: r for r in Z.list_zip_members(df).collect()
            if r["member_idx"] in (-1, 0)}
    assert rows[1]["member_name"] == "x/y.txt"
    assert rows[2]["member_idx"] == -1 and rows[2]["member_name"] is None


def test_docx_extract_boundaries(spark):
    """r15: DOCX — a zip WITHOUT word/document.xml and an empty body
    both poison to the null row; a well-formed doc round-trips runs,
    tabs, breaks, entities."""
    from geniepool_etl_spark.sources import zipdoc as Z

    no_doc = Z._zip_bytes([("other.xml", b"<x/>", 0)])
    ok_doc = Z._zip_bytes([(
        "word/document.xml",
        b"<w:document><w:body>"
        b"<w:p><w:r><w:t>a&amp;b</w:t></w:r><w:r><w:tab/>"
        b"<w:t xml:space=\"preserve\"> c</w:t></w:r></w:p>"
        b"<w:p><w:r><w:br/><w:t>&lt;d&gt;</w:t></w:r></w:p>"
        b"</w:body></w:document>", 8,
    )])
    df = spark.createDataFrame(
        [(1, ok_doc, "d"), (2, no_doc, "d")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r["asset_id"]: r for r in Z.extract_docx_text(df).collect()}
    assert got[1]["text"] == "a&b\t c\n\n<d>"
    assert got[1]["n_paragraphs"] == 2
    assert got[2]["text"] is None


def test_kneser_ney_bigram(spark):
    """r15: interpolated KN — hand-computed probabilities on a tiny
    corpus where every count is enumerable, plus the sum-to-≤1
    sanity over a word's full continuation set."""
    from geniepool_etl_spark.operators import text as TXk

    # corpus: "a b a b a c" → bigrams: ab, ba, ab, ba, ac
    # c(a,b)=2 c(b,a)=2 c(a,c)=1 ; c1(a)=3 c1(b)=2
    # fwd_types(a)=2 fwd_types(b)=1 ; back_types(b)=1 back_types(a)=1
    # back_types(c)=1 ; T=3 types
    df = spark.createDataFrame([(1, "a b a b a c")], "id long, text string")
    got = {
        (r["word"], r["next"]): (r["n"], r["p_kn"])
        for r in TXk.kneser_ney_bigram(df, k=5, top_words=5).collect()
    }
    # P(b|a) = (2-.75)/3 + .75*2/3 * 1/3 = 1.25/3 + 0.5/3 = wait —
    # num = (4*2-3)*3 + 3*2*1 = 15+6 = 21 ; den = 4*3*3 = 36
    assert got[("a", "b")] == (2, round(21 / 36, 4))
    # P(c|a): num = (4-3)*3 + 3*2*1 = 9 ; den = 36
    assert got[("a", "c")] == (1, round(9 / 36, 4))
    # P(a|b): num = (8-3)*3 + 3*1*1 = 18 ; den = 4*2*3 = 24
    assert got[("b", "a")] == (2, round(18 / 24, 4))
    # KN sums over OBSERVED continuations stay ≤ 1 per word
    assert (21 + 9) / 36 <= 1.0 and 18 / 24 <= 1.0


def test_epub_spine_order_and_poison(spark):
    """r15: EPUB — spine order wins over zip member order (synth
    stores chapters reversed), script blocks drop wholesale, and the
    poison classes (no container.xml, dangling idref) null out."""
    from geniepool_etl_spark.sources import zipdoc as Z

    ids = spark.createDataFrame([(3,)], "asset_id long")
    rows = Z.extract_epub_text(Z.synth_epub_assets(ids)).collect()
    texts = {r["spine_idx"]: r["text"] for r in rows}
    assert texts == {
        0: "c0 Chapter 0 body d3 s0 & more",
        1: "c1 Chapter 1 body d3 s1 & more",
        2: "c2 Chapter 2 body d3 s2 & more",
    }
    assert "junk()" not in texts[0]

    no_container = Z._zip_bytes([("mimetype", b"application/epub+zip", 0)])
    dangling = Z._zip_bytes([
        ("META-INF/container.xml", Z._CONTAINER_XML, 8),
        ("OEBPS/content.opf",
         b'<package><manifest></manifest>'
         b'<spine><itemref idref="ghost"/></spine></package>', 8),
    ])
    df = spark.createDataFrame(
        [(1, no_container, "e"), (2, dangling, "e")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r["asset_id"]: r["spine_idx"]
           for r in Z.extract_epub_text(df).collect()}
    assert got == {1: -1, 2: -1}


def test_bleu_rouge_scores(spark):
    """r15: BLEU-2/ROUGE-2 — hand-computed on the classic clipping
    example (candidate repeats a reference word beyond its reference
    count, so the clipped precision < raw precision)."""
    import math

    from geniepool_etl_spark.operators import text as TXb

    # cand: "the the the cat"  ref: "the cat sat"
    # p1: clipped = min(3,1)[the] + min(1,1)[cat] = 2 ; c1=4 -> 0.5
    # bigrams cand: [the the, the the, the cat] ref: [the cat, cat sat]
    # p2: clipped = 0[the the] + 1[the cat] = 1 ; c2=3 -> 1/3
    # bp: c1=4 >= r1=3 -> 1 ; bleu2 = sqrt(0.5/3)
    # rouge2_recall = 1/2 ; f1 = 2*(1/3)*(1/2)/(1/3+1/2) = 0.4
    df = spark.createDataFrame(
        [(1, "the the the cat", "the cat sat")],
        "id long, candidate string, reference string",
    )
    r = TXb.bleu_rouge_scores(df).collect()[0]
    assert r["p1"] == 0.5
    assert r["p2"] == round(1 / 3, 4)
    assert r["bp"] == 1.0
    assert r["bleu2"] == round(math.sqrt(0.5 / 3), 4)
    assert r["rouge2_recall"] == 0.5
    assert r["rouge2_f1"] == 0.4


def test_blocklist_filter(spark):
    """r15: blocklist gate — whole-token matching (substring never
    hits), tier semantics (one block hit drops; flag drops only past
    the milli threshold), empty text survives."""
    from geniepool_etl_spark.operators import text as TXl

    bl = spark.createDataFrame(
        [("bad", "block"), ("meh", "flag")], "term string, tier string"
    )
    docs = spark.createDataFrame(
        [
            (1, "all clean words here"),
            (2, "one bad word"),
            (3, "badger embedded notbad"),     # substrings must NOT hit
            (4, "meh " * 50 + "ok"),           # 50/51 flagged > 100 milli
            (5, "meh plus many clean words here now ok yes"),  # 1/9
            (6, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_block_hits"], r["n_flag_hits"],
                      r["flag_milli"], r["keep"])
        for r in TXl.blocklist_filter(docs, bl).collect()
    }
    assert got[1] == (0, 0, 0, True)
    assert got[2] == (1, 0, 0, False)
    assert got[3] == (0, 0, 0, True)
    assert got[4][3] is False and got[4][2] > 100
    assert got[5] == (0, 1, 111, False) or got[5][3] is False
    assert got[6] == (0, 0, 0, True)


def test_extract_anchors(spark):
    """r15: anchor extraction — nested-tag strip, entity decode,
    uppercase HREF with spaces, relative hrefs gate urlkey to NULL,
    single-quoted hrefs drop."""
    from geniepool_etl_spark.operators import cdx as CDXt

    html = (
        '<a href="https://www.Ex.com/A?b=2">Go <b>now</b></a>'
        '<a href="/rel">A &amp; B</a>'
        '<a class="x" HREF = "http://ex.com:8080/Z">UP</a>'
        "<a href='sq.html'>skip</a>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    rows = [tuple(r) for r in CDXt.extract_anchors(df).collect()]
    assert rows == [
        (1, 0, "https://www.Ex.com/A?b=2", "Go now", "com,ex)/a?b=2"),
        (1, 1, "/rel", "A & B", None),
        (1, 2, "http://ex.com:8080/Z", "UP", "com,ex:8080)/z"),
    ]


def test_pca_power_component(spark):
    """r15: power iteration — matches a numpy replay of the same 3
    fixed rounds to rounding tolerance, and the output is a unit
    vector."""
    import numpy as np

    from geniepool_etl_spark.operators import similarity as SIMp

    rng = np.random.RandomState(7)
    X = rng.randn(40, 8) * np.array([3, 1, 1, 1, 1, 1, 1, 1])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["pos"]: r["loading"]
        for r in SIMp.pca_power_component(df, n_iter=3, dim=8).collect()
    }
    v = np.ones(8) / np.sqrt(8)
    for _ in range(3):
        s = X.T @ (X @ v)
        v = s / np.linalg.norm(s)
    for j in range(8):
        assert abs(got[j] - v[j]) <= 6e-5, (j, got[j], v[j])
    norm = sum(x * x for x in got.values()) ** 0.5
    assert abs(norm - 1.0) < 1e-3
    # the dominant axis (3x stddev) must dominate the direction
    assert abs(got[0]) == max(abs(x) for x in got.values())


def test_pack_bins_ffd(spark):
    """r15: FFD — the classic layout (7,5,5,2 into budget 10 →
    bins [0,1,1,0]), oversized items isolate, bin_load agrees across
    members, and waste ≤ chop-free upper bound."""
    from geniepool_etl_spark.operators import packing as PKf

    df = spark.createDataFrame(
        [("a", 1, 7), ("a", 2, 5), ("a", 3, 5), ("a", 4, 2),
         ("b", 5, 9), ("b", 6, 12)],
        "source string, doc_id long, n_tokens long",
    )
    got = {
        r["doc_id"]: (r["bin_idx"], r["bin_load"])
        for r in PKf.pack_bins_ffd(df, budget=10).collect()
    }
    assert got[1] == (0, 9)   # 7 then +2
    assert got[2] == (1, 10)  # 5+5 fills bin 1
    assert got[3] == (1, 10)
    assert got[4] == (0, 9)
    assert got[6] == (0, 12)  # oversized sorts first, isolates
    assert got[5] == (1, 9)


def test_gif_anim_poison_and_disposal(spark):
    """r15: animated GIF — disposal-3 and local-color-table are
    declared poison, truncated sub-blocks poison, and the
    restore-background disposal is visible in frame-2 sums (strictly
    below frame 1 for the same asset since transparent pixels drop
    to bg=0)."""
    from geniepool_etl_spark.operators import multimodal as MMg

    ids = spark.createDataFrame([(1,)], "asset_id long")
    good_rows = MMg.decode_gif_anim_stats(
        MMg.synth_gif_anim_assets(ids)
    ).collect()
    by_f = {r["frame_idx"]: r for r in good_rows}
    assert set(by_f) == {0, 1, 2}
    assert by_f[2]["sum_r"] < by_f[1]["sum_r"]
    assert [by_f[f]["delay_cs"] for f in (0, 1, 2)] == [10, 20, 30]

    good = MMg.synth_gif_anim_assets(ids).collect()[0]["payload"]
    bad_disposal = bytearray(good)
    at = bad_disposal.find(b"\x21\xf9\x04")
    bad_disposal[at + 3] = (bad_disposal[at + 3] & ~0x1C) | (3 << 2)
    truncated = bytes(good[: len(good) - 15])
    df = spark.createDataFrame(
        [(1, bytes(bad_disposal), "image/gif"), (2, truncated, "image/gif")],
        "asset_id long, payload binary, media_type string",
    )
    got = {r["asset_id"]: r["frame_idx"]
           for r in MMg.decode_gif_anim_stats(df).collect()}
    assert got == {1: -1, 2: -1}


def test_flatten_chat_trees(spark):
    """r15: tree flattening — branch at root + deep chain, depth cap
    finishes unfinished paths, assistant counting."""
    from geniepool_etl_spark.operators import packing as PKc

    msgs = spark.createDataFrame(
        [
            (1, 10, None, "user", "q"),
            (1, 11, 10, "assistant", "a"),
            (1, 12, 10, "assistant", "b"),
            (1, 13, 11, "user", "f"),
            (1, 14, 13, "assistant", "c"),
        ],
        "conv_id long, msg_id long, parent_id long, role string, "
        "text string",
    )
    got = {
        r["leaf_msg_id"]: (r["depth"], r["path_text"], r["n_assistant"])
        for r in PKc.flatten_chat_trees(msgs).collect()
    }
    assert got == {
        12: (2, "q\nb", 1),
        14: (4, "q\na\nf\nc", 2),
    }
    # depth cap: chain of 4 with max_depth=2 finishes at depth 2
    capped = {
        r["leaf_msg_id"]: r["depth"]
        for r in PKc.flatten_chat_trees(msgs, max_depth=2).collect()
    }
    assert capped == {12: 2, 11: 2}


def test_mixture_temperature(spark):
    """r15: temperature mixture — alpha=0.5 on a 9:1 corpus gives
    3:1 weights; alpha=1 recovers proportional."""
    from geniepool_etl_spark.operators import sampling as SMt

    df = spark.createDataFrame(
        [("big", 900), ("small", 100)], "source string, n_tokens long"
    )
    got = {r["source"]: r for r in SMt.mixture_temperature(df).collect()}
    assert got["big"]["weight"] == 0.75 and got["small"]["weight"] == 0.25
    # epochs: small domain trains 0.25*1000/100 = 2.5x
    assert got["small"]["epochs"] == 2.5
    prop = {r["source"]: r["weight"]
            for r in SMt.mixture_temperature(df, alpha=1.0).collect()}
    assert prop == {"big": 0.9, "small": 0.1}


def test_zipf_slope(spark):
    """r15: Zipf slope — an exact power-law corpus (freq = 64/rank
    over 4 types) regresses to slope −1."""
    from geniepool_etl_spark.operators import text as TXz

    words = []
    for rank, w in enumerate(["a", "b", "c", "d"], 1):
        words += [w] * (64 // rank)
    df = spark.createDataFrame(
        [(1, " ".join(words))], "id long, text string"
    )
    r = TXz.zipf_slope(df, top_k=4).collect()[0]
    assert r["n_types"] == 4
    assert abs(r["slope"] + 1.0) < 0.05


def test_span_corruption_layout(spark):
    """r15: T5 layout — sub-block docs get zero spans, full blocks
    one span each with hash length 1-3, lengths reconcile
    (input + target - n_spans - 1 == n_tokens + n_spans when
    spans exist)."""
    from geniepool_etl_spark.operators import text as TXs5

    df = spark.createDataFrame(
        [(1, "w " * 9), (2, "w " * 10), (3, "w " * 25)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in TXs5.span_corruption_layout(df).collect()}
    assert got[1]["n_spans"] == 0 and got[1]["target_len"] == 0
    assert got[1]["input_len"] == 9
    assert got[2]["n_spans"] == 1 and 1 <= got[2]["n_masked"] <= 3
    assert got[3]["n_spans"] == 2 and 2 <= got[3]["n_masked"] <= 6
    for d in (2, 3):
        r = got[d]
        assert r["input_len"] == r["n_tokens"] - r["n_masked"] + r["n_spans"]
        assert r["target_len"] == r["n_masked"] + r["n_spans"] + 1
    # determinism across invocations
    again = {r["doc_id"]: r["n_masked"]
             for r in TXs5.span_corruption_layout(df).collect()}
    assert again == {d: got[d]["n_masked"] for d in got}


def test_sniff_csv_dialect(spark):
    """r15: dialect sniffing — quoted commas don't fool the tab
    verdict, inconsistent field counts yield 'unknown', priority
    order prefers comma, header heuristic needs a numeric-free
    first line."""
    from geniepool_etl_spark.sources.sniff import sniff_csv_dialect

    rows = [
        (1, "name,age\nbob,31\nann,22"),
        (2, 'a\tb\n"x,y"\tc'),
        (3, "a,b\nc,d,e"),
        (4, "1,2\n3,4"),              # numeric first line: no header
        (5, "a,b;c\nd,e;f"),          # both consistent -> comma wins
    ]
    df = spark.createDataFrame(rows, "asset_id long, body string")
    got = {
        r["asset_id"]: (r["delimiter"], r["n_cols"], r["has_header"])
        for r in sniff_csv_dialect(df).collect()
    }
    assert got[1] == ("comma", 2, True)
    assert got[2] == ("tab", 2, False)
    assert got[3] == ("unknown", 0, False)
    assert got[4] == ("comma", 2, False)
    assert got[5] == ("comma", 2, False)


def test_hard_negatives(spark):
    """r15: hard negatives — the positive and the query itself are
    excluded even when they are the nearest vectors."""
    from geniepool_etl_spark.operators import similarity as SIMh

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.14]),   # the positive (nearest)
        (2, [0.9, 0.43]),    # hardest admissible negative
        (3, [0.0, 1.0]),
        (4, [-1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = spark.createDataFrame([(0, 1)], "q_id long, pos_id long")
    got = [
        r["n_id"]
        for r in SIMh.hard_negatives(corpus, pairs, k=2)
        .orderBy(F.desc("cos_sim")).collect()
    ]
    assert got == [2, 3]


def test_strip_markdown_and_invisibles(spark):
    """r15: markdown strip (fences drop, links keep text, nested
    emphasis unwraps) + invisible scrub count."""
    from geniepool_etl_spark.operators import text as TXm2

    md = ("## H\n\n**_deep_** [t](u) ![alt](v)\n\n```js\nx=1\n```\n\n"
          "> q\n\n---\n\n`c`")
    df = spark.createDataFrame([(1, md)], "id long, text string")
    assert (
        TXm2.strip_markdown(df).collect()[0]["plain"]
        == "H\n\ndeep t alt\n\nq\n\nc"
    )
    inv = spark.createDataFrame(
        [(1, "a​‌﻿b­c")], "id long, text string"
    )
    r = TXm2.scrub_invisibles(inv).collect()[0]
    assert (r["clean"], r["n_invisible"]) == ("abc", 4)


def test_lint_conversations(spark):
    """r15: chat lint — clean alternation passes; assistant-first,
    empty-turn, and single-turn conversations all fail with the
    right counters."""
    from geniepool_etl_spark.operators import packing as PKl

    msgs = spark.createDataFrame(
        [
            (1, 0, "user", "q"), (1, 1, "assistant", "a"),
            (2, 0, "assistant", "q"), (2, 1, "user", "a"),
            (3, 0, "user", "q"), (3, 1, "assistant", "  "),
            (4, 0, "user", "only"),
        ],
        "conv_id long, turn long, role string, text string",
    )
    got = {r["conv_id"]: r for r in PKl.lint_conversations(msgs).collect()}
    assert got[1]["ok"] is True
    assert got[2]["ok"] is False and got[2]["n_role_violations"] == 2
    assert got[3]["ok"] is False and got[3]["n_empty"] == 1
    assert got[4]["ok"] is False and got[4]["n_turns"] == 1


def test_binary_sign_topk(spark):
    """r15: 1-bit quantization — identical vectors have hamming 0,
    a single flipped dimension costs exactly 1 bit, the 64th dim is
    outside the 63-bit pack (documented)."""
    from geniepool_etl_spark.operators import similarity as SIMb

    base = [1.0] * 64
    one_flip = list(base); one_flip[0] = -1.0
    last_flip = list(base); last_flip[63] = -1.0
    df = spark.createDataFrame(
        [(0, base), (1, list(base)), (2, one_flip), (3, last_flip)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["n_id"]: r["hamming"]
        for r in SIMb.binary_sign_topk(
            df, df.where("vec_id = 0"), k=3
        ).collect()
    }
    assert got[1] == 0
    assert got[2] == 1
    assert got[3] == 0  # dim 64 not packed: documented 63-bit rule


def test_repair_json(spark):
    """r15: JSON repair — escaped quotes inside strings, brace
    inside a dangling string, trailing comma/colon completions, and
    complete input untouched; every repaired output re-parses."""
    from geniepool_etl_spark.operators import text as TXj

    rows = [
        (1, '{"a": 1, "b": [2, 3'),
        (2, '{"s": "x \\"q\\" y'),
        (3, '{"a": 1,'),
        (4, '{"a":'),
        (5, '{"done": true}'),
        (6, '[[1, [2'),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r for r in TXj.repair_json(df).collect()}
    assert got[1]["repaired"] == '{"a": 1, "b": [2, 3]}'
    assert got[2]["repaired"] == '{"s": "x \\"q\\" y"}'
    assert got[3]["repaired"] == '{"a": 1}'
    assert got[4]["repaired"] == '{"a": null}'
    assert got[5]["repaired"] == '{"done": true}'
    assert got[5]["was_truncated"] is False
    assert got[6]["repaired"] == "[[1, [2]]]"
    assert all(r["is_valid"] for r in got.values())


def test_preference_pairs_and_kappa(spark):
    """r15: DPO pair election with tie-breaks + hand-computed κ on
    the textbook 2×2 table."""
    from geniepool_etl_spark.operators import sampling as SMpk

    ratings = spark.createDataFrame(
        [(1, 0, 5), (1, 1, 9), (1, 2, 9), (1, 3, 2),
         (2, 0, 4), (2, 1, 4)],
        "prompt_id long, cand_id long, rating long",
    )
    pairs = {r["prompt_id"]: r
             for r in SMpk.build_preference_pairs(ratings).collect()}
    # tie at 9 -> lowest cand_id wins chosen; prompt 2 all-equal drops
    assert pairs[1]["chosen_id"] == 1 and pairs[1]["rejected_id"] == 3
    assert pairs[1]["margin"] == 7 and 2 not in pairs

    # classic: 20 yes-yes, 5 yes-no, 10 no-yes, 15 no-no
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    labels = spark.createDataFrame(rows, "label_a string, label_b string")
    r = SMpk.cohen_kappa(labels).collect()[0]
    # po = 35/50; pe = (25*30 + 25*20)/2500 = 0.5 ; κ = 0.4
    assert (r["n_items"], r["n_agree"], r["kappa"]) == (50, 35, 0.4)


def test_bradley_terry(spark):
    """r15: BT ratings — a dominant item (wins every match) rates
    strictly highest after 3 MM rounds; ratings renormalize to the
    item count; a numpy replay of the same rounds agrees."""
    from geniepool_etl_spark.operators import sampling as SMbt

    rows = []
    # 0 beats everyone twice; 1 beats 2 twice; 2 beats 1 once
    for j in (1, 2):
        rows += [(0, j, 0), (0, j, 0)]
    rows += [(1, 2, 1), (1, 2, 1), (1, 2, 2)]
    df = spark.createDataFrame(rows, "a long, b long, winner long")
    got = {r["item"]: r["rating"]
           for r in SMbt.bradley_terry(df, n_iter=3).collect()}
    assert got[0] == max(got.values())
    assert got[2] == min(got.values())
    assert abs(sum(got.values()) - 3.0) < 0.01

    import numpy as np
    n = np.zeros((3, 3)); w = np.zeros(3)
    for a, b, win in rows:
        n[a][b] += 1; n[b][a] += 1; w[win] += 1
    r = np.ones(3)
    for _ in range(3):
        den = np.array([
            sum(n[i][j] / (r[i] + r[j]) for j in range(3) if j != i)
            for i in range(3)
        ])
        raw = w / den
        r = raw / raw.sum() * 3
    for i in range(3):
        assert abs(got[i] - r[i]) < 6e-5


def test_parse_rss(spark):
    """r15: RSS — RFC-822 pubDate with offset form and GMT-name
    form parse to the same absolute epoch; malformed XML yields
    zero rows, not an error."""
    from geniepool_etl_spark.operators import cdx as CDXr

    feed = (
        '<rss version="2.0"><channel><title>T</title>'
        "<item><title>a</title><link>l</link>"
        "<pubDate>Mon, 15 Jan 2024 06:30:00 GMT</pubDate></item>"
        "<item><title>b</title><link>m</link>"
        "<pubDate>15 Jan 2024 06:30:00 +0000</pubDate></item>"
        "</channel></rss>"
    )
    df = spark.createDataFrame(
        [(1, feed), (2, "<not xml")], "feed_id long, xml string"
    )
    rows = CDXr.parse_rss(df).collect()
    assert len(rows) == 2
    assert all(r["pub_epoch"] == 1705300200 for r in rows)
    assert {r["title"] for r in rows} == {"a", "b"}


def test_json_profile_and_punct(spark):
    """r15: JSON key profiling (type guesses; malformed docs drop)
    + punct folding idempotence."""
    from geniepool_etl_spark.operators import text as TXp2

    df = spark.createDataFrame(
        [(1, '{"a": 1, "b": "x"}'), (2, '{"a": 2.5}'), (3, "junk")],
        "doc_id long, json string",
    )
    got = {r["key"]: tuple(r)[1:]
           for r in TXp2.json_key_profile(df).collect()}
    assert got["a"] == (2, 1, 1, 0, 0)
    assert got["b"] == (1, 0, 0, 0, 1)

    p = spark.createDataFrame(
        [(1, "‘q’—…"), (2, "done.")], "id long, text string"
    )
    rows = {r["id"]: r for r in TXp2.normalize_punct(p).collect()}
    assert rows[1]["norm"] == "'q'-..."
    assert rows[2]["was_changed"] is False
    # idempotent: normalizing the normalized text changes nothing
    again = TXp2.normalize_punct(
        p.select("id", F.col("text")).withColumn(
            "text", F.lit("'q'-...")
        )
    ).collect()[0]
    assert again["was_changed"] is False


def test_parse_atom_and_bitext_gate(spark):
    """r15: Atom attribute link + ISO-Z epoch; bitext ratio gate
    boundary cases (empty sides, exact bounds)."""
    from geniepool_etl_spark.operators import cdx as CDXa
    from geniepool_etl_spark.operators import text as TXbt

    feed = ('<feed><title>F</title><entry><title>t</title>'
            '<link href="u"/><updated>2024-01-15T06:30:05Z</updated>'
            "</entry></feed>")
    df = spark.createDataFrame([(1, feed)], "feed_id long, xml string")
    r = CDXa.parse_atom(df).collect()[0]
    assert (r["link"], r["updated_epoch"], r["summary_len"]) == (
        "u", 1705300205, None
    )

    pairs = spark.createDataFrame(
        [
            (1, "a b c", "x y z"),       # 1000: keep
            (2, "a b c", "x"),           # 333: keep (inclusive)
            (3, "a b c d", "x"),         # 250: drop
            (4, "a", "x y z"),           # 3000: keep (inclusive)
            (5, "a", "w x y z"),         # 4000: drop
            (6, "", "x"),                # empty src: drop
        ],
        "id long, src string, tgt string",
    )
    got = {r["id"]: (r["ratio_milli"], r["keep"])
           for r in TXbt.bitext_length_gate(pairs).collect()}
    assert got[1] == (1000, True)
    assert got[2] == (333, True)
    assert got[3] == (250, False)
    assert got[4] == (3000, True)
    assert got[5] == (4000, False)
    assert got[6] == (0, False)


def test_fix_mojibake_astral_residue_is_unfixable(spark):
    """r16 (r15 ADVICE high): mojibake sequence + astral-plane char
    (emoji) in the SAME string — the old BMP-only residue guard
    classed it fixable and encode(latin-1) aborted the task under
    ANSI mode. Must be left untouched, was_fixed=False, and the
    job must not die."""
    from geniepool_etl_spark.operators import text as TXm

    moji = "CafÃ©"  # 'Café' UTF-8 read as latin-1
    rows = [
        (1, moji + " \U0001F600"),   # mojibake + emoji: NOT fixable
        (2, moji),                   # pure mojibake: still fixes
        (3, "\U0001F600 plain"),     # astral only, no sequence
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: (r["fixed_text"], r["was_fixed"])
           for r in TXm.fix_mojibake(df).collect()}
    assert got[1] == (moji + " \U0001F600", False)
    assert got[2] == ("Café", True)
    assert got[3] == ("\U0001F600 plain", False)


def test_flatten_chat_trees_per_conv_msg_ids(spark):
    """r16 (r15 ADVICE medium): msg ids restart per conversation
    (ShareGPT shape) — paths must not splice turns across
    conversations or duplicate rows. Two 2-turn convs with ids
    1,2 each yield exactly two 2-deep paths."""
    from geniepool_etl_spark.operators import packing as PKc

    msgs = spark.createDataFrame(
        [
            (1, 1, None, "user", "q1"),
            (1, 2, 1, "assistant", "a1"),
            (2, 1, None, "user", "q2"),
            (2, 2, 1, "assistant", "a2"),
        ],
        "conv_id long, msg_id long, parent_id long, role string, "
        "text string",
    )
    rows = PKc.flatten_chat_trees(msgs).collect()
    got = {(r["conv_id"], r["leaf_msg_id"]):
           (r["depth"], r["path_text"], r["n_assistant"])
           for r in rows}
    assert len(rows) == 2
    assert got == {
        (1, 2): (2, "q1\na1", 1),
        (2, 2): (2, "q2\na2", 1),
    }


def test_bradley_terry_zero_win_item_retained(spark):
    """r16 (r15 ADVICE low): an item that loses every match must
    keep a (0) rating row and stay in opponents' denominator sums
    — the inner join dropped it after round 1, inflating the
    others and breaking the pinned Σr = n scale."""
    from geniepool_etl_spark.operators import sampling as SMbt

    # 2 always loses; 0 and 1 split their matches 2-1
    rows = [(0, 2, 0), (1, 2, 1), (0, 1, 0), (0, 1, 0), (0, 1, 1)]
    df = spark.createDataFrame(rows, "a long, b long, winner long")
    got = {r["item"]: r["rating"]
           for r in SMbt.bradley_terry(df, n_iter=3).collect()}
    assert set(got) == {0, 1, 2}
    assert got[2] == 0.0
    assert abs(sum(got.values()) - 3.0) < 0.01

    import numpy as np
    n = np.zeros((3, 3)); w = np.zeros(3)
    for a, b, win in rows:
        n[a][b] += 1; n[b][a] += 1; w[win] += 1
    r = np.ones(3)
    for _ in range(3):
        den = np.array([
            sum(n[i][j] / (r[i] + r[j]) for j in range(3) if j != i)
            for i in range(3)
        ])
        raw = w / den
        r = raw / raw.sum() * 3
    for i in range(3):
        assert abs(got[i] - r[i]) < 6e-5


def test_pdf_lit_string_backslash_8_9_not_octal():
    """r16 (r15 ADVICE low): PDF §7.3.4.2 — ``\\8``/``\\9`` are not
    octal escapes; the backslash drops and the digit stays (the old
    ``isdigit()`` guard crashed on a None regex match and poisoned
    the document). ``\\0`` through ``\\7`` still parse as octal."""
    from geniepool_etl_spark.operators import pdf as P

    lex = P._PdfLexer(rb"(a\8b\9\101\7z)")
    assert lex.value() == b"a8b9A\x07z"


def test_ccnet_buckets_partition_and_order(spark):
    """r16: CCNet per-language perplexity bucketing — three designed
    en text groups (3 docs each, distinct scores) land in exact
    thirds with identical texts sharing a bucket and the most
    predictable group in 'head'; a second language buckets
    INDEPENDENTLY; docs with <2 words are omitted."""
    from geniepool_etl_spark.operators import text as TXc

    rows = []
    texts = {
        "A": "the the the the the the",
        "B": "the cat sat on the mat",
        "C": "the zq qx vv zz kj",
    }
    i = 0
    for grp, t in texts.items():
        for _ in range(3):
            rows.append((i, t, grp)); i += 1
    # French corpus: one group only -> all 'head' by count threshold
    for _ in range(2):
        rows.append((i, "le chat et le chien et", "F")); i += 1
    rows.append((i, "solo", "S")); i += 1  # 1 word: omitted
    df = spark.createDataFrame(rows, "doc_id long, text string, g string")
    got = TXc.ccnet_perplexity_buckets(df).collect()
    by_id = {r["doc_id"]: r for r in got}
    assert i - 1 not in by_id                      # <2 words omitted
    en = [r for r in got if r["lang"] == "en"]
    fr = [r for r in got if r["lang"] == "fr"]
    assert len(en) == 9 and len(fr) == 2
    # identical texts share score and bucket; groups are thirds
    grp_bucket = {}
    grp_score = {}
    for gi, grp in enumerate(texts):
        rs = [by_id[gi * 3 + k] for k in range(3)]
        assert len({r["ppl_milli"] for r in rs}) == 1
        assert len({r["bucket"] for r in rs}) == 1
        grp_bucket[grp] = rs[0]["bucket"]
        grp_score[grp] = rs[0]["ppl_milli"]
    assert sorted(grp_bucket.values()) == ["head", "middle", "tail"]
    # bucket order tracks score order
    order = sorted(texts, key=lambda g: grp_score[g])
    assert [grp_bucket[g] for g in order] == ["head", "middle", "tail"]
    # the repetitive group is the most predictable
    assert grp_score["A"] == min(grp_score.values())
    # single-score language: everything is 'head'
    assert {r["bucket"] for r in fr} == {"head"}


def test_audio_gates_closed_forms_and_flac(spark):
    """r16: audio curation gates — designed segment WAVs match the
    closed forms (mean square, silence run, clip milli, each gate
    trips independently); the FLAC path agrees with the proven
    decode_audio_pcm_stats sums; poison yields nulls."""
    from geniepool_etl_spark.operators import multimodal as MMa

    params = spark.createDataFrame(
        [
            # amp, n_tone, n_sil, n_clip
            (1, 1000, 50, 0, 0),    # loud, clean -> keep
            (2, 1000, 50, 30, 0),   # silence run 30 > 20 -> drop
            (3, 1000, 50, 0, 4),    # clip 4/54 = 74 milli -> drop
            (4, 64, 50, 10, 0),     # mean_sq 64^2*50//60 < 1e4 -> drop
        ],
        "asset_id long, amp long, n_tone long, n_sil long, n_clip long",
    )
    got = {
        r["asset_id"]: r
        for r in MMa.audio_quality_gates(
            MMa.synth_wav_segments_assets(params)
        ).collect()
    }
    r1 = got[1]
    assert (r1["n_samples"], r1["mean_sq"], r1["longest_silence"],
            r1["clip_milli"], r1["keep"]) == (50, 1000000, 0, 0, True)
    assert got[2]["longest_silence"] == 30 and not got[2]["keep"]
    exp_sq = (50 * 1000**2 + 2 * 32767**2 + 2 * 32768**2) // 54
    assert (got[3]["mean_sq"], got[3]["clip_milli"],
            got[3]["keep"]) == (exp_sq, 1000 * 4 // 54, False)
    assert got[4]["mean_sq"] == 64 * 64 * 50 // 60
    assert not got[4]["keep"]

    # FLAC path: gates' n/mean_sq agree with decode_audio_pcm_stats
    fparams = spark.createDataFrame(
        [(9, 6, 2, 700)],
        "asset_id long, n_frames long, n_channels long, base_val long",
    )
    flac = MMa.synth_flac_fixed_assets(fparams)
    stats = MMa.decode_audio_pcm_stats(flac).collect()[0]
    g = MMa.audio_quality_gates(flac).collect()[0]
    assert g["n_samples"] == stats["n_samples"]
    assert g["mean_sq"] == stats["sum_sq"] // stats["n_samples"]

    poison = spark.createDataFrame(
        [(7, b"not audio at all", "audio/wav")],
        "asset_id long, payload binary, media_type string",
    )
    p = MMa.audio_quality_gates(poison).collect()[0]
    assert p["mean_sq"] is None and p["keep"] is None


def test_image_gates_patterns_and_dark_ramp(spark):
    """r16: image quality gates — flat/stripes/ramp/checkerboard
    land on the designed closed forms; the ramp starting at pixel
    value 10 (a WHITESPACE byte — the raster-eating PGM parse bug)
    still decodes; truncated raster poisons one row only."""
    import math
    from geniepool_etl_spark.operators import multimodal as MMi

    params = spark.createDataFrame(
        [
            (0, 0, 77, 0),     # flat
            (1, 1, 50, 53),    # stripes, d=3
            (2, 2, 10, 2),     # ramp FROM 10 == b'\n' (dark first px)
            (3, 3, 50, 52),    # checker, d=2
        ],
        "asset_id long, kind long, a long, b long",
    )
    got = {
        r["asset_id"]: r
        for r in MMi.image_quality_gates(
            MMi.synth_pgm_pattern_assets(params)
        ).collect()
    }
    ln2 = math.floor(math.log(2) * 10_000 + 0.5) / 10_000
    ln32 = math.floor(math.log(32) * 10_000 + 0.5) / 10_000
    assert (got[0]["lap_var_milli"], got[0]["entropy_nats"],
            got[0]["keep"]) == (0, 0.0, False)
    assert (got[1]["lap_var_milli"], got[1]["entropy_nats"],
            got[1]["keep"]) == (4000 * 9, ln2, True)
    assert (got[2]["lap_var_milli"], got[2]["entropy_nats"],
            got[2]["keep"]) == (0, ln32, False)
    assert (got[3]["lap_var_milli"], got[3]["entropy_nats"],
            got[3]["keep"]) == (16000 * 4, ln2, True)

    poison = spark.createDataFrame(
        [(9, b"P5\n32 32\n255\nshort", "image/x-portable-graymap")],
        "asset_id long, payload binary, media_type string",
    )
    p = MMi.image_quality_gates(poison).collect()[0]
    assert p["lap_var_milli"] is None and p["keep"] is None


def test_phash_whitespace_first_pixel(spark):
    """r16 regression: a P5 raster whose FIRST byte is whitespace
    (all-10 image) must still phash — the old split(None) header
    parse ate leading raster bytes and poisoned dark images."""
    from geniepool_etl_spark.operators import multimodal as MMp

    raw = b"P5\n32 32\n255\n" + bytes([10] * (32 * 32))
    df = spark.createDataFrame(
        [(1, raw, "image/x-portable-graymap")],
        "asset_id long, payload binary, media_type string",
    )
    r = MMp.decode_image_phash(df).collect()[0]
    assert r["phash"] is not None
