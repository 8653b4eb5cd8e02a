"""Training-data pipeline operator tests (dedup / similarity / textstats
/ multimodal) over small deterministic frames with known answers."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from filters_spark.pipeline import (
    attach_media_meta,
    byte_features,
    cosine_topk,
    embedding_near_dups,
    exact_dedup,
    fingerprint,
    jaccard_pairs,
    lang_id,
    minhash_lsh_pairs,
    minhash_signatures,
    quality_score,
    simhash,
    simhash_pairs,
    srp_bucket,
    srp_topk,
    token_counts,
    word_shingles,
)
from filters_spark.pipeline.dedup import portable_hash60

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "completely different text about spark engines"),
    (4, "a"),  # shorter than the shingle width
    (5, "the quick brown fox leaps over the lazy dog"),  # near-dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),  # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),  # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.7, 0.7, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).cache()


# -- dedup -----------------------------------------------------------------


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["group_size"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 2 identical, min id kept
    assert 2 not in out
    assert out[1] == 1 and out[3] == 1


def test_word_shingles_short_doc(docs):
    sh = word_shingles(docs, n=2)
    by_id = (
        sh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    counts = {r["id"]: r["n"] for r in by_id}
    assert 4 not in counts  # single-token doc yields no bigrams
    # doc 0: 9 tokens -> 8 bigrams, 'the lazy'/'the quick' distinct
    assert counts[0] == 8


def test_jaccard_pairs(docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 2)] == 1.0  # exact dup
    # 0 vs 1: 8 distinct bigrams each, 7 shared (all but lazy-dog/lazy-cat)
    assert math.isclose(pairs[(0, 1)], 7 / 9)
    assert (0, 3) not in pairs


def test_portable_hash60_matches_python(docs):
    row = docs.select(
        portable_hash60(F.lit("abc")).alias("h"),
        portable_hash60(F.lit("abc"), salt=7).alias("hs"),
    ).first()
    assert row["h"] == int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert row["hs"] == int(hashlib.md5(b"abc#7").hexdigest()[:15], 16)


def test_minhash_signature_shape_and_determinism(docs):
    sig = minhash_signatures(docs, num_hashes=8)
    rows = {r["id"]: r for r in sig.collect()}
    assert 4 not in rows  # no shingles -> no signature
    assert len(rows[0].asDict()) == 9  # id + 8 hashes
    # identical docs share the full signature
    assert all(
        rows[0][f"h{i}"] == rows[2][f"h{i}"] for i in range(8)
    )


def test_minhash_lsh_finds_near_dups(docs):
    cand = minhash_lsh_pairs(docs, bands=8, rows=2)
    pairs = {(r["a"], r["b"]) for r in cand.collect()}
    assert (0, 2) in pairs  # exact dup always collides
    verified = minhash_lsh_pairs(docs, bands=8, rows=2, verify_threshold=0.5)
    vp = {(r["a"], r["b"]): r["jaccard"] for r in verified.collect()}
    assert vp[(0, 2)] == 1.0
    assert all(j >= 0.5 for j in vp.values())


def test_simhash_properties(docs):
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fps[0] == fps[2]  # identical text, identical fingerprint
    ham_near = bin(fps[0] ^ fps[1]).count("1")
    ham_far = bin(fps[0] ^ fps[3]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated doc
    assert 0 <= fps[0] < (1 << 60)


def test_simhash_pairs_blocking_is_lossless(docs):
    # brute-force hamming vs blocked pairs must agree
    fps = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    want = set()
    ids = sorted(fps)
    for i in ids:
        for j in ids:
            if i < j and bin(fps[i] ^ fps[j]).count("1") <= 3:
                want.add((i, j))
    got = {
        (r["a"], r["b"])
        for r in simhash_pairs(docs, max_hamming=3, bands=4).collect()
    }
    assert got == want


def test_simhash_pairs_rejects_bad_blocking(docs):
    with pytest.raises(ValueError):
        simhash_pairs(docs, max_hamming=4, bands=4)


# -- similarity ------------------------------------------------------------


def test_cosine_topk_ordering(emb):
    out = cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 4]
    assert out[0]["score"] == pytest.approx(1.0)
    assert out[1]["score"] == pytest.approx(0.9 / math.hypot(0.9, 0.1))


def test_embedding_near_dups_exact(emb):
    pairs = {
        (r["a"], r["b"]): r["score"]
        for r in embedding_near_dups(emb, threshold=0.9, exact=True).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (0, 3) not in pairs


def test_embedding_near_dups_default_is_bucketed(emb):
    """The quadratic cross join is opt-in only (exact=True); the default
    plans an equi-join on bucket id."""
    plan = embedding_near_dups(
        emb, threshold=0.9, planes=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # bucketed recall: the near-identical pair survives bucketing here
    pairs = {
        (r["a"], r["b"])
        for r in embedding_near_dups(emb, threshold=0.9, planes=4).collect()
    }
    assert pairs <= {
        (r["a"], r["b"])
        for r in embedding_near_dups(emb, threshold=0.9, exact=True).collect()
    }


def test_auto_planes_scaling():
    from filters_spark.pipeline.similarity import auto_planes

    assert auto_planes(1_000) == 4          # clamp floor
    assert auto_planes(1 << 40) == 24       # clamp ceiling
    assert auto_planes(1_048_576) == 10     # 2^20 / 2^10 target


def test_srp_bucket_and_topk(emb):
    b = srp_bucket(emb, dim=4, planes=4)
    rows = {r["vec_id"]: r["bucket"] for r in b.collect()}
    assert all(0 <= v < 16 for v in rows.values())
    out = srp_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2, planes=2, multiprobe=2)
    got = [r["vec_id"] for r in out.collect()]
    assert got and got[0] == 0  # the query's own bucket contains vec 0


def test_ivf_centroids_deterministic(emb):
    from filters_spark.pipeline.similarity import ivf_centroids

    c1 = ivf_centroids(emb, n_cells=3)
    c2 = ivf_centroids(emb, n_cells=3)
    assert c1 == c2 and len(c1) == 3
    assert ivf_centroids(emb, n_cells=3, seed=7) != c1  # seed changes pick


def test_ivf_assign_and_topk(emb):
    from filters_spark.pipeline.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    cents = ivf_centroids(emb, n_cells=3)
    cells = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    assert set(cells) == {r["vec_id"] for r in emb.collect()}
    assert all(0 <= c < 3 for c in cells.values())
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    out = ivf_topk(emb, q, k=3, n_cells=3, nprobe=3, centroids=cents)
    got = out.collect()
    assert got[0]["vec_id"] == 0 and got[0]["score"] > 0.999
    # every returned score equals the brute-force score for that id
    brute = {
        r["vec_id"]: r["score"]
        for r in cosine_topk(emb, q, k=100).collect()
    }
    for r in got:
        assert abs(r["score"] - brute[r["vec_id"]]) < 1e-12


def test_ivf_assign_join_path_matches_expr_path(emb):
    """>32 centroids routes through the broadcast-join arg-max; both
    paths must assign identically (same arg-max, same tie-break)."""
    from filters_spark.pipeline.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(emb, n_cells=5)
    expr = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    # pad the centroid list past the expression-path cutoff with copies
    # of the same 5 centroids: arg-max lands on the FIRST (lowest-index)
    # occurrence, so assignments must be unchanged
    padded = cents + cents * 6  # 35 > 32
    joined = {
        r["vec_id"]: r["cell"]
        for r in ivf_assign(emb, padded).collect()
    }
    assert joined == expr


# -- textstats -------------------------------------------------------------


def test_token_counts(docs):
    rows = {r["id"]: r for r in token_counts(docs).collect()}
    assert rows[0]["n_ws_tokens"] == 9
    assert rows[4]["n_ws_tokens"] == 1
    assert rows[0]["n_bpe_tokens"] == 9  # no punctuation in fixture


def test_token_entropy(spark):
    from filters_spark.pipeline import token_entropy

    df = spark.createDataFrame(
        [
            (0, "a b c d"),       # uniform over 4 -> log2(4) = 2 bits
            (1, "a a a a"),       # single token -> 0 bits
            (2, "a a b b"),       # uniform over 2 -> 1 bit
            (3, "  spam   ham "), # tokenizer ignores extra whitespace
            (4, ""),              # no tokens -> dropped
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in token_entropy(df).collect()}
    assert rows[0]["entropy"] == pytest.approx(2.0)
    assert rows[0]["n_tokens"] == 4 and rows[0]["n_distinct_tokens"] == 4
    assert rows[1]["entropy"] == pytest.approx(0.0)
    assert rows[2]["entropy"] == pytest.approx(1.0)
    assert rows[3]["entropy"] == pytest.approx(1.0)
    assert rows[3]["n_tokens"] == 2
    assert 4 not in rows


def test_quality_score_components(docs):
    rows = {r["id"]: r for r in quality_score(docs).collect()}
    r0 = rows[0]
    assert r0["punct_ratio"] == 0.0 and r0["digit_ratio"] == 0.0
    assert r0["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
    assert 0.0 < r0["score"] <= 1.0
    assert rows[4]["score"] < r0["score"]  # one-char doc scores lower


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is of the house and in a box"),
            (1, "der hund ist ein freund und das haus"),
            (2, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r["lang_pred"] for r in lang_id(df).collect()}
    assert rows[0] == "en"
    assert rows[1] == "de"
    assert rows[2] == "und"


def test_fingerprint_deterministic_and_dup_stable(docs):
    fps = {r["id"]: r["fingerprint"] for r in fingerprint(docs, mod=2).collect()}
    assert fps[0] == fps[2]  # identical docs -> identical fingerprint
    assert fps[0] != fps[3]


# -- multimodal ------------------------------------------------------------


@pytest.fixture(scope="module")
def payloads(spark):
    rows = [
        (0, b"\x89PNG\r\n\x1a\nrestofpng"),
        (1, b"\xff\xd8\xff\xe0jpegdata"),
        (2, b"RIFFxxxxWAVEdata"),
        (3, b"plain text payload"),
        (4, None),
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    return spark.createDataFrame(rows, schema).cache()


def test_attach_media_meta(payloads):
    rows = {
        r["id"]: r["media_meta"]
        for r in attach_media_meta(payloads).collect()
    }
    assert rows[0]["media_type"] == "image"
    assert rows[1]["media_type"] == "image"
    assert rows[2]["media_type"] == "audio"
    assert rows[3]["media_type"] == "unknown"
    assert rows[0]["byte_len"] == 17
    assert rows[0]["digest"] == hashlib.md5(
        b"\x89PNG\r\n\x1a\nrestofpng"
    ).hexdigest()


def _png(w, h):
    import struct as s

    return (
        b"\x89PNG\r\n\x1a\n" + s.pack(">I", 13) + b"IHDR"
        + s.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    )


def _gif(w, h):
    import struct as s

    return b"GIF89a" + s.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg(w, h):
    import struct as s

    return (
        b"\xff\xd8\xff\xe0" + s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + s.pack(">H", 17) + b"\x08" + s.pack(">HH", h, w)
        + b"\x03\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    )


def _bmp(w, h):
    import struct as s

    return (
        b"BM" + s.pack("<IHHI", 70, 0, 0, 54) + s.pack("<I", 40)
        + s.pack("<ii", w, h)
    )


def _wav(channels, rate, n_frames):
    import struct as s

    block = channels * 2
    data = b"\x00" * (n_frames * block)
    fmt = s.pack("<HHIIHH", 1, channels, rate, rate * block, block, 16)
    return (
        b"RIFF" + s.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + s.pack("<I", 16) + fmt
        + b"data" + s.pack("<I", len(data)) + data
    )


def test_parse_media_header_real_containers():
    """Byte-level container parsing (pure stdlib) — true dimensions, not
    digest fakes."""
    from filters_spark.pipeline.multimodal import parse_media_header

    assert parse_media_header(_png(640, 480)) == ("image", 640, 480, 1)
    assert parse_media_header(_gif(33, 97)) == ("image", 33, 97, 1)
    assert parse_media_header(_jpeg(1920, 1080)) == ("image", 1920, 1080, 1)
    assert parse_media_header(_bmp(12, -24)) == ("image", 12, 24, 1)
    assert parse_media_header(_wav(2, 44100, 1000)) == (
        "audio", 2, 44100, 1000,
    )
    assert parse_media_header(_wav(1, 8000, 42)) == ("audio", 1, 8000, 42)
    # truncated RIFF/WAVE: audio with zero frames, not fake dims
    assert parse_media_header(b"RIFFxxxxWAVEdata") == ("audio", 0, 0, 0)
    ftyp = b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00"
    assert parse_media_header(ftyp) == ("video", 0, 0, 0)
    assert parse_media_header(b"plain text") is None
    assert parse_media_header(b"\x89PNG\r\n\x1a\ntrunc") is None


def _box(btype, body):
    import struct as s

    return s.pack(">I", len(body) + 8) + btype + body


def _mp4(w, h, n_frames, handler=b"vide", tkhd_ver=0):
    """Minimal ISO-BMFF: ftyp + moov(trak(tkhd + mdia(hdlr +
    minf(stbl(stsz))))) with 16.16 fixed-point tkhd dimensions."""
    import struct as s

    if tkhd_ver == 0:
        tk = bytes([0, 0, 0, 0]) + b"\x00" * 20
    else:
        tk = bytes([1, 0, 0, 0]) + b"\x00" * 32
    tk += b"\x00" * 16 + b"\x00" * 36  # reserved/layer/volume + matrix
    tk += s.pack(">II", w << 16, h << 16)
    hd = bytes(4) + bytes(4) + handler + bytes(12)
    stsz = bytes(4) + s.pack(">II", 0, n_frames)
    stbl = _box(b"stbl", _box(b"stsz", stsz))
    mdia = _box(b"mdia", _box(b"hdlr", hd) + _box(b"minf", stbl))
    trak = _box(b"trak", _box(b"tkhd", tk) + mdia)
    return (
        b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00mp41mp42"
        + _box(b"moov", trak)
    )


def test_parse_media_header_mp4_box_walk():
    """Real MP4 metadata: tkhd 16.16 dims (both version layouts) and
    the stsz sample count of the video track; audio-only or moov-less
    files degrade to zeros."""
    from filters_spark.pipeline.multimodal import parse_media_header

    assert parse_media_header(_mp4(640, 360, 240)) == (
        "video", 640, 360, 240,
    )
    assert parse_media_header(_mp4(1920, 1080, 9000, tkhd_ver=1)) == (
        "video", 1920, 1080, 9000,
    )
    # soun handler with zero tkhd dims -> no video track -> zeros
    assert parse_media_header(_mp4(0, 0, 500, handler=b"soun")) == (
        "video", 0, 0, 0,
    )
    # bare ftyp probe (no moov) keeps the legacy zeros contract
    ftyp = b"\x00\x00\x00\x18ftypisom\x00\x00\x02\x00"
    assert parse_media_header(ftyp) == ("video", 0, 0, 0)
    # truncated moov: the box walk stops instead of raising
    trunc = _mp4(640, 360, 240)[:60]
    mt = parse_media_header(trunc)
    assert mt is None or mt[0] == "video"


def test_attach_media_meta_gif_bmp_are_images(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    df = spark.createDataFrame(
        [(0, _gif(3, 3)), (1, _bmp(4, 4))], schema
    )
    got = {
        r["id"]: r["media_meta"]["media_type"]
        for r in attach_media_meta(df).collect()
    }
    assert got == {0: "image", 1: "image"}


def test_byte_features(payloads):
    rows = {r["id"]: r for r in byte_features(payloads, bins=16).collect()}
    assert rows[3]["byte_len"] == 18
    hist = rows[3]["histogram"]
    assert len(hist) == 16
    assert sum(hist) == pytest.approx(1.0)
    assert rows[4]["byte_len"] == 0  # null payload -> zero-length row kept


def test_dedup_groups_connected_components(spark):
    """Min-label propagation assembles pair candidates into dedup
    groups: path graphs (multi-iteration propagation), disjoint
    components, singletons from the corpus frame, and the
    non-convergence guard."""
    from filters_spark.pipeline.dedup import dedup_groups, release

    # path 1-2-3-4 (diameter 3 → needs >1 iteration) + component {7,9}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 9)], "a long, b long"
    )
    corpus = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 7, 9, 42)],
                                   "doc_id long")
    out = dedup_groups(pairs, df=corpus)
    got = {r["id"]: r["group_id"] for r in out.collect()}
    release(out)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 9: 7, 42: 42}

    with pytest.raises(RuntimeError, match="converge"):
        dedup_groups(pairs, max_iter=1)


def test_dedup_groups_lineage_truncated_on_long_chains(spark):
    """A 20-hop path graph forces ~20 propagation rounds; without the
    per-round localCheckpoint the logical plan doubles every round
    (each round references the previous labels twice) and the driver
    OOMs stringifying ~2^20 plan nodes — the exact failure hit at
    sf0.1.  Pin: the result is right AND its plan stays scan-sized."""
    from filters_spark.pipeline.dedup import dedup_groups, release

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "a long, b long"
    )
    out = dedup_groups(chain, max_iter=30)
    got = {r["id"]: r["group_id"] for r in out.collect()}
    assert got == {i: 0 for i in range(21)}
    plan_chars = len(out._jdf.queryExecution().simpleString())
    release(out)
    assert plan_chars < 10_000  # untruncated lineage would be ~2^20 nodes


def test_repeated_spans_substring_dedup(spark):
    """Lee-et-al-style span dedup: cross-doc spans merge, within-doc
    repeats count toward min_count, adjacent islands coalesce, short
    and unique docs yield nothing."""
    from filters_spark.pipeline.dedup import repeated_spans

    df = spark.createDataFrame(
        [
            (1, "w x a b c d e f y z"),    # shares "a b c d e f" with 2
            (2, "q q q a b c d e f r s"),  # "q q q" also in doc 3
            (3, "q q q q m n o p"),        # within-doc repeat of "q q q"
            (4, "u v w"),                  # shorter than k
        ],
        "doc_id long, text string",
    )
    out = repeated_spans(df, k=3, min_count=2).orderBy("doc_id")
    got = [(r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"])
           for r in out.collect()]
    assert got == [(1, 2, 8, 6), (2, 0, 9, 9), (3, 0, 4, 4)]


def test_remove_repeated_spans_rewrites_only_affected_docs(spark):
    """Apply step: duplicated spans drop out, untouched docs keep their
    text verbatim (original whitespace runs included), fully-duplicated
    docs become empty strings, other columns survive."""
    from filters_spark.pipeline.dedup import remove_repeated_spans

    df = spark.createDataFrame(
        [
            (1, "w x a b c d e f y z", "en"),
            (2, "q q q a b c d e f r s", "en"),
            (4, "u  v   w", "de"),          # untouched
            (5, "a b c a b c", "fr"),       # fully duplicated
        ],
        "doc_id long, text string, lang string",
    )
    out = remove_repeated_spans(df, k=3, min_count=2).orderBy("doc_id")
    got = [(r["doc_id"], r["text"], r["lang"]) for r in out.collect()]
    assert got == [
        (1, "w x y z", "en"),
        (2, "q q q r s", "en"),   # only the span shared with doc 1 drops
        (4, "u  v   w", "de"),
        (5, "", "fr"),
    ]


def test_repeated_spans_plan_shape(spark):
    """No cartesian product, no Python, no forced broadcast hint, and
    the island merge runs on ONE per-document exchange (both window
    frames share it)."""
    from filters_spark.pipeline.dedup import repeated_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        repeated_spans(docs, k=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    assert plan.count("hashpartitioning(id#") == 1


def test_repeated_spans_randomised_python_parity(spark):
    """One seeded 80-doc corpus over a 6-word vocabulary (collision
    heavy: many cross- and within-doc duplicate k-grams) through the
    Spark operator AND a direct Python re-implementation of the Lee et
    al. definition — span sets and cleaned texts must match exactly."""
    import random

    from filters_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    k, min_count = 3, 2
    rng = random.Random(0)
    vocab = ["a", "b", "c", "d", "e", "f"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
        for i in range(80)
    ]

    toks = {d: t.split() for d, t in docs}
    counts: dict[tuple, int] = {}
    for t in toks.values():
        for i in range(len(t) - k + 1):
            g = tuple(t[i : i + k])
            counts[g] = counts.get(g, 0) + 1
    expected_spans, expected_text = set(), {}
    for d, t in toks.items():
        merged = []
        for p in range(len(t) - k + 1):
            if counts[tuple(t[p : p + k])] < min_count:
                continue
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + k)
            else:
                merged.append([p, p + k])
        for s, e in merged:
            expected_spans.add((d, s, e))
        if merged:
            covered = {i for s, e in merged for i in range(s, e)}
            expected_text[d] = " ".join(
                w for i, w in enumerate(t) if i not in covered
            )
        else:
            expected_text[d] = dict(docs)[d]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got_spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_spans(df, k=k, min_count=min_count).collect()
    }
    assert got_spans == expected_spans
    got_text = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_spans(df, k=k, min_count=min_count).collect()
    }
    assert got_text == expected_text


def test_deterministic_sample_stable_across_partitioning(spark):
    """The selected id set must be identical at any partition layout —
    the property df.sample(seed=) does NOT have."""
    from filters_spark.pipeline import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    base = {
        r["doc_id"]
        for r in deterministic_sample(df, 0.3, salt="t").collect()
    }
    reshuffled = {
        r["doc_id"]
        for r in deterministic_sample(
            df.repartition(7, "doc_id"), 0.3, salt="t"
        ).collect()
    }
    assert base == reshuffled
    assert 0.2 < len(base) / 2000 < 0.4


def test_deterministic_sample_nested_rates(spark):
    """Same salt, smaller rate => subset (nested hash ranges)."""
    from filters_spark.pipeline import deterministic_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    small = {
        r["doc_id"] for r in deterministic_sample(df, 0.05, salt="n").collect()
    }
    big = {
        r["doc_id"] for r in deterministic_sample(df, 0.25, salt="n").collect()
    }
    assert small <= big

    with pytest.raises(ValueError):
        deterministic_sample(df, 1.5)


def test_split_assign_disjoint_covering(spark):
    """Every row gets exactly one label; proportions track the weights;
    assignment is a pure projection (no shuffle in the plan)."""
    from filters_spark.pipeline import split_assign

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, {"train": 8, "val": 1, "test": 1})
    rows = out.collect()
    assert len(rows) == 5000
    from collections import Counter

    c = Counter(r["split"] for r in rows)
    assert set(c) == {"train", "val", "test"}
    assert 0.75 < c["train"] / 5000 < 0.85
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    from filters_spark.pipeline import split_column

    with pytest.raises(ValueError):
        split_column({})
    with pytest.raises(ValueError):
        split_assign(df, {"a": -1.0, "b": 2.0})


def test_stratified_sample_per_stratum_rates(spark):
    """Per-stratum thresholds: rate-1.0 strata keep everything, rate-0
    strata drop everything, unlisted strata use default_rate; raising a
    stratum's rate only adds rows (nested)."""
    from filters_spark.pipeline import stratified_sample

    df = spark.createDataFrame(
        [(i, ["en", "zh", "fr"][i % 3]) for i in range(3000)],
        "doc_id long, lang string",
    )
    kept = stratified_sample(
        df, {"en": 1.0, "zh": 0.0}, strata_col="lang", default_rate=0.5
    ).collect()
    by_lang = {}
    for r in kept:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang.get("en", ())) == 1000
    assert "zh" not in by_lang
    assert 300 < len(by_lang.get("fr", ())) < 700

    bigger = stratified_sample(
        df, {"en": 1.0, "zh": 0.4}, strata_col="lang", default_rate=0.5
    ).collect()
    zh_big = {r["doc_id"] for r in bigger if r["lang"] == "zh"}
    assert by_lang.get("fr") == {
        r["doc_id"] for r in bigger if r["lang"] == "fr"
    }
    assert len(zh_big) > 0

    with pytest.raises(ValueError):
        stratified_sample(df, {"en": 1.5}, strata_col="lang")


def test_deterministic_topn_exact_and_nested(spark):
    """Exactly n rows, prefix-nested across n, TakeOrderedAndProject in
    the plan (per-partition top-n merge, no global sort exchange)."""
    from filters_spark.pipeline import deterministic_topn

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    out = deterministic_topn(df, 100, salt="e")
    rows = {r["doc_id"] for r in out.collect()}
    assert len(rows) == 100
    smaller = {
        r["doc_id"] for r in deterministic_topn(df, 25, salt="e").collect()
    }
    assert smaller <= rows
    repart = {
        r["doc_id"]
        for r in deterministic_topn(
            df.repartition(13), 100, salt="e"
        ).collect()
    }
    assert repart == rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    with pytest.raises(ValueError):
        deterministic_topn(df, -1)


def test_temperature_weights_math():
    """alpha=1 reproduces natural proportions (all rates equal); alpha=0
    flattens to uniform shares; expected kept size tracks budget except
    for capped strata; validation errors."""
    from filters_spark.pipeline import temperature_weights

    counts = {"en": 8000, "fr": 1500, "sw": 500}

    natural = temperature_weights(counts, alpha=1.0)
    assert all(abs(r - 1.0) < 1e-12 for r in natural.values())

    flat = temperature_weights(counts, alpha=0.0, budget=3000)
    # uniform shares: each stratum targets 1000 kept rows
    assert abs(flat["en"] * 8000 - 1000) < 1e-9
    assert abs(flat["fr"] * 1500 - 1000) < 1e-9
    assert abs(flat["sw"] * 500 - 1000) < 1e-9 or flat["sw"] == 1.0
    assert flat["sw"] == 1.0  # capped: can't supply 1000 from 500

    mid = temperature_weights(counts, alpha=0.3, budget=5000)
    assert 0 < mid["en"] < mid["fr"] <= 1.0
    kept = sum(mid[k] * counts[k] for k in counts)
    assert kept <= 5000 + 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_weights({})
    with _pytest.raises(ValueError):
        temperature_weights({"a": -1})
    with _pytest.raises(ValueError):
        temperature_weights(counts, alpha=-0.1)


def test_pack_plan_python_parity_and_invariants(spark):
    """pack_plan vs a direct Python concat-and-chunk reference over the
    same deterministic (hash, id) order; plus the structural invariants:
    every pack except the last holds exactly `budget` tokens, per-doc
    slices partition [0, n_tokens), and the plan is identical at any
    input partitioning."""
    import hashlib
    import random

    from filters_spark.pipeline import pack_plan

    budget, n_shards = 7, 4
    rng = random.Random(1)
    docs = [
        (i, " ".join("w%d" % rng.randint(0, 9) for _ in range(rng.randint(0, 11))))
        for i in range(200)
    ]

    def h60(i, salt):
        return int(
            hashlib.md5(f"{i}#{salt}".encode()).hexdigest()[:15], 16
        )

    toks = {i: len(t.split()) for i, t in docs}
    order = sorted(
        (i for i in toks if toks[i] > 0),
        key=lambda i: (h60(i, "pack") % n_shards, h60(i, "pack"), i),
    )
    expected, g = set(), 0
    for i in order:
        start, end = g, g + toks[i]
        for p in range(start // budget, (end - 1) // budget + 1):
            expected.add(
                (
                    i,
                    p,
                    max(0, p * budget - start),
                    min(toks[i], (p + 1) * budget - start),
                )
            )
        g = end

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id"], r["pack_id"], r["tok_start"], r["tok_end"])
        for r in pack_plan(df, budget, n_shards=n_shards).collect()
    }
    assert got == expected

    total = sum(toks.values())
    per_pack = {}
    for _, p, s, e in got:
        per_pack[p] = per_pack.get(p, 0) + (e - s)
    last = max(per_pack)
    assert set(per_pack) == set(range(last + 1))
    for p, n in per_pack.items():
        assert n == (budget if p < last else total - last * budget)
    per_doc = {}
    for i, _, s, e in got:
        per_doc.setdefault(i, []).append((s, e))
    for i, slices in per_doc.items():
        slices.sort()
        assert slices[0][0] == 0 and slices[-1][1] == toks[i]
        for (a, b2), (c, d) in zip(slices, slices[1:]):
            assert b2 == c

    again = {
        (r["id"], r["pack_id"], r["tok_start"], r["tok_end"])
        for r in pack_plan(
            df.repartition(13), budget, n_shards=n_shards
        ).collect()
    }
    assert again == expected

    with pytest.raises(ValueError):
        pack_plan(df, 0)


def test_pack_sequences_python_parity(spark):
    """pack_sequences vs a direct Python concat-and-chunk over the same
    deterministic stream order: every pack's text is the exact token
    slice, every pack except the last holds exactly `budget` tokens, and
    the result is identical at any input partitioning."""
    import hashlib
    import random

    from filters_spark.pipeline import pack_sequences

    budget, n_shards = 11, 4
    rng = random.Random(7)
    docs = [
        (
            i,
            " ".join(
                "t%d_%d" % (i, j) for j in range(rng.randint(0, 9))
            ),
        )
        for i in range(120)
    ]

    def h60(i, salt="pack"):
        return int(
            hashlib.md5(f"{i}#{salt}".encode()).hexdigest()[:15], 16
        )

    toks = {i: t.split() for i, t in docs}
    order = sorted(
        (i for i in toks if toks[i]),
        key=lambda i: (h60(i) % n_shards, h60(i), i),
    )
    stream = []
    for i in order:
        stream.extend(toks[i])
    expected = {
        p: (
            len(stream[p * budget : (p + 1) * budget]),
            " ".join(stream[p * budget : (p + 1) * budget]),
        )
        for p in range((len(stream) + budget - 1) // budget)
    }

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["pack_id"]: (r["n_tokens"], r["text"])
        for r in pack_sequences(df, budget, n_shards=n_shards).collect()
    }
    assert got == expected
    last = max(expected)
    assert all(
        n == budget for p, (n, _) in expected.items() if p != last
    )

    again = {
        r["pack_id"]: (r["n_tokens"], r["text"])
        for r in pack_sequences(
            df.repartition(13), budget, n_shards=n_shards
        ).collect()
    }
    assert again == expected


def test_pack_sequences_pretokenised_ids(spark):
    """tokens_col mode packs a pretokenised array column verbatim:
    per-pack `tokens` is the exact id-stream slice (BPE-style packing),
    element values untouched."""
    import hashlib
    import random

    from filters_spark.pipeline import pack_sequences

    budget, n_shards = 13, 4
    rng = random.Random(11)
    docs = [
        (i, [rng.randint(0, 50_000) for _ in range(rng.randint(0, 8))])
        for i in range(90)
    ]

    def h60(i, salt="pack"):
        return int(
            hashlib.md5(f"{i}#{salt}".encode()).hexdigest()[:15], 16
        )

    order = sorted(
        (i for i, ids in docs if ids),
        key=lambda i: (h60(i) % n_shards, h60(i), i),
    )
    by_id = dict(docs)
    stream = []
    for i in order:
        stream.extend(by_id[i])
    expected = {
        p: stream[p * budget : (p + 1) * budget]
        for p in range((len(stream) + budget - 1) // budget)
    }

    df = spark.createDataFrame(docs, "doc_id long, input_ids array<long>")
    got = {
        r["pack_id"]: list(r["tokens"])
        for r in pack_sequences(
            df, budget, tokens_col="input_ids", n_shards=n_shards
        ).collect()
    }
    assert got == expected
    rows = pack_sequences(
        df, budget, tokens_col="input_ids", n_shards=n_shards
    ).collect()
    assert all(r["n_tokens"] == len(r["tokens"]) for r in rows)


def test_write_training_shards_layout_and_determinism(spark, tmp_path):
    """split=/shard= directory levels, exactly one file per leaf dir,
    and shard contents (membership AND row order) identical regardless
    of the input's partition layout."""
    import glob
    import os

    import pyarrow.parquet as pq

    from filters_spark.pipeline import split_assign, write_training_shards

    df = split_assign(
        spark.range(0, 3000).withColumnRenamed("id", "doc_id"),
        {"train": 3, "test": 1},
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, p1, n_shards=4, partition_by=["split"])
    write_training_shards(
        df.repartition(17), p2, n_shards=4, partition_by=["split"]
    )

    leaf_dirs = sorted(glob.glob(os.path.join(p1, "split=*", "shard=*")))
    assert {os.path.relpath(d, p1) for d in leaf_dirs} == {
        f"split={s}/shard={i}"
        for s in ("train", "test")
        for i in range(4)
    }
    for d in leaf_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert len(files) == 1, d

    def contents(root):
        out = {}
        for d in sorted(glob.glob(os.path.join(root, "split=*", "shard=*"))):
            f = glob.glob(os.path.join(d, "*.parquet"))[0]
            out[os.path.relpath(d, root)] = pq.read_table(f)[
                "doc_id"
            ].to_pylist()
        return out

    c1, c2 = contents(p1), contents(p2)
    assert c1 == c2  # ordered equality: row order reproduced too
    all_ids = [i for rows in c1.values() for i in rows]
    assert sorted(all_ids) == list(range(3000))
    for rows in c1.values():
        assert rows == sorted(rows)

    with pytest.raises(ValueError):
        write_training_shards(df, str(tmp_path / "c"), n_shards=0)
    with pytest.raises(ValueError):
        write_training_shards(
            df, str(tmp_path / "c"), n_shards=2, partition_by=["nope"]
        )


def test_embed_near_dups_dim_param_skips_driver_probe(spark, monkeypatch):
    """With dim= supplied, plan construction must trigger no Spark job
    (VERDICT r2 item 8: the .first() probe is fallback-only)."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import types as T

    from filters_spark.pipeline.similarity import (
        _vector_dim,
        embedding_near_dups,
    )

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )

    def _boom(self):
        raise AssertionError("driver probe triggered despite dim=")

    monkeypatch.setattr(_DF, "first", _boom)
    out = embedding_near_dups(df, threshold=0.9, exact=True, dim=8)
    monkeypatch.undo()
    pairs = {(r["a"], r["b"]) for r in out.collect()}
    assert pairs == {(1, 2)}

    # schema metadata carries the dim without any probe either
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.DoubleType()), metadata={"dim": 8}
            ),
        ]
    )
    df2 = spark.createDataFrame([(1, [1.0] * 8)], schema)
    monkeypatch.setattr(_DF, "first", _boom)
    assert _vector_dim(df2, "embedding") == 8
    monkeypatch.undo()


def test_unigram_logprob_matches_hand_computation(spark):
    """Mean unigram log-probability per doc: OOV floor, empty-doc NULL,
    grid-summed BIGINT mean — checked against a by-hand computation."""
    import math

    from filters_spark.pipeline import unigram_logprob, word_freqs

    rows = [
        (1, "the cat sat"),
        (2, "the the zzz"),  # zzz is OOV against freqs built from corpus?
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freqs = word_freqs(df)
    got = {r["id"]: r for r in unigram_logprob(df, freqs).collect()}
    # corpus counts: the=3, cat=1, sat=1, zzz=1; total=6
    def lp(f):
        return round(math.log(f / 6.0) * 1e6)

    exp1 = (lp(3) + lp(1) + lp(1)) / 3 / 1e6
    exp2 = (lp(3) + lp(3) + lp(1)) / 3 / 1e6
    assert got[1]["n_tokens"] == 3 and got[1]["avg_logp"] == exp1
    assert got[2]["n_tokens"] == 3 and got[2]["avg_logp"] == exp2
    for i in (3, 4):
        assert got[i]["n_tokens"] == 0 and got[i]["avg_logp"] is None
    # true OOV hits the floor: freqs from a DIFFERENT corpus
    other = spark.createDataFrame([(9, "qqq www")], "doc_id long, text string")
    got2 = unigram_logprob(other, freqs).collect()[0]
    assert got2["n_tokens"] == 2
    assert got2["avg_logp"] == round(-20.0 * 1e6) / 1e6


def test_pipeline_persist_release(docs, spark):
    """Operators that persist intermediates attach them to the result so
    callers can release executor storage (ADVICE r1)."""
    from filters_spark.pipeline import minhash_lsh_pairs, release

    out = minhash_lsh_pairs(docs, bands=4, rows=2, verify_threshold=0.3)
    out.collect()
    tracked = getattr(out, "_fs_persisted", [])
    assert len(tracked) == 3  # shingle index + signatures + candidates
    assert all(t.storageLevel.useMemory for t in tracked)
    release(out)
    assert all(not t.storageLevel.useMemory for t in tracked)


# -- curation --------------------------------------------------------------


def test_repetition_stats(spark):
    from filters_spark.pipeline import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "a\na\nb"),                  # duplicate line
            (1, "x y x y x y"),              # dominant bigram
            (2, "all words unique here ok"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in repetition_stats(df, n=2).collect()}
    assert rows[0]["n_lines"] == 3
    assert rows[0]["dup_line_frac"] == pytest.approx(1 / 3)
    # bigrams of doc1: "x y","y x","x y","y x","x y" -> top 3/5
    assert rows[1]["top_ngram_frac"] == pytest.approx(3 / 5)
    assert rows[2]["dup_line_frac"] == 0.0
    assert rows[2]["top_ngram_frac"] == pytest.approx(1 / 4)
    assert rows[3]["n_lines"] == 0 and rows[3]["top_ngram_frac"] == 0.0


def test_ngram_overlap_decontamination(spark):
    from filters_spark.pipeline import ngram_overlap

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown cat sits still"),
            (2, "completely unrelated content here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high")], ["doc_id", "text"]
    )
    rows = {r["id"]: r for r in ngram_overlap(corpus, bench, n=3).collect()}
    # doc0 shares "quick brown fox" and "brown fox jumps"
    assert rows[0]["n_hits"] == 2 and rows[0]["contaminated"]
    assert rows[1]["n_hits"] == 0 and not rows[1]["contaminated"]
    assert rows[2]["n_hits"] == 0
    plan = ngram_overlap(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark grams broadcast


def test_redact_pii(spark):
    from filters_spark.pipeline import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at john.doe+x@corp.example.org today"),
            (1, "server 192.168.0.1 and backup 10.0.0.254"),
            (2, "call +1 (555) 123-4567 now"),
            (3, "nothing sensitive"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["id"]: r for r in redact_pii(df).collect()}
    assert rows[0]["clean_text"] == "mail me at <EMAIL> today"
    assert rows[0]["n_email"] == 1
    assert rows[1]["clean_text"] == "server <IP> and backup <IP>"
    assert rows[1]["n_ip"] == 2
    assert rows[2]["clean_text"] == "call <PHONE> now"
    assert rows[2]["n_phone"] == 1
    assert rows[3]["clean_text"] == "nothing sensitive"
    assert rows[4]["clean_text"] is None


def test_minhash_lsh_bucket_flood_guard(spark):
    """A flooded band bucket (exact-duplicate spam) is dropped from the
    LSH self-join when it exceeds max_bucket — the k^2-pairs guard; the
    flood itself is exact_dedup's job."""
    from filters_spark.pipeline import minhash_lsh_pairs

    spam = [(i, "copy pasted boiler plate page") for i in range(40)]
    # identical pair -> collides in EVERY band (deterministic), and its
    # own bucket (size 2) stays under max_bucket
    real = [(100, "a genuinely unique document about spark"),
            (101, "a genuinely unique document about spark")]
    df = spark.createDataFrame(spam + real, ["doc_id", "text"])
    guarded = minhash_lsh_pairs(df, bands=4, rows=2, max_bucket=10)
    pairs = {(r["a"], r["b"]) for r in guarded.collect()}
    assert all(a >= 100 and b >= 100 for a, b in pairs)  # spam excluded
    assert (100, 101) in pairs  # real near-dups still found
    unguarded = minhash_lsh_pairs(df, bands=4, rows=2, max_bucket=None)
    up = {(r["a"], r["b"]) for r in unguarded.collect()}
    assert len(up) >= 40 * 39 / 2  # the quadratic flood the guard removes


def test_dedup_groups_rejects_non_integral_ids(spark):
    """String ids would silently NULL-cast and collapse the adjacency
    (ADVICE r3): non-integral id columns raise instead."""
    from filters_spark.pipeline.dedup import dedup_groups

    spairs = spark.createDataFrame(
        [("a", "b")], "a string, b string"
    )
    with pytest.raises(TypeError, match="integral"):
        dedup_groups(spairs)
    ipairs = spark.createDataFrame([(1, 2)], "a long, b long")
    scorpus = spark.createDataFrame([("x",)], "doc_id string")
    with pytest.raises(TypeError, match="integral"):
        dedup_groups(ipairs, df=scorpus)


def test_dedup_groups_accepts_zero_scale_decimal_ids(spark):
    """DECIMAL(n,0) ids (common from warehouse/Parquet sources) cast to
    long losslessly and must be accepted (ADVICE r4); scaled or >18-digit
    decimals still raise."""
    from filters_spark.pipeline.dedup import dedup_groups

    dpairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    ).selectExpr("cast(a as decimal(10,0)) a", "cast(b as decimal(10,0)) b")
    got = {
        r["id"]: r["group_id"] for r in dedup_groups(dpairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    scaled = spark.createDataFrame([(1, 2)], "a long, b long").selectExpr(
        "cast(a as decimal(10,2)) a", "b"
    )
    with pytest.raises(TypeError, match="integral"):
        dedup_groups(scaled)
    wide = spark.createDataFrame([(1, 2)], "a long, b long").selectExpr(
        "cast(a as decimal(38,0)) a", "b"
    )
    with pytest.raises(TypeError, match="integral"):
        dedup_groups(wide)


def test_ivf_assign_broadcast_path_sheds_vector_before_shuffle(emb):
    """keep_vec=False on the >32-centroid broadcast-join path must not
    carry the embedding through the row_number window Exchange — a wide
    vector riding a shuffle it is never read from is pure dead weight
    (ADVICE r4).  keep_vec=True still returns the vector intact."""
    from filters_spark.pipeline.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(emb, n_cells=5)
    padded = cents + cents * 6  # 35 > 32 -> broadcast-join path

    def _exchange_outputs(df):
        def walk(node):
            yield node
            cs = node.children()
            for i in range(cs.size()):
                yield from walk(cs.apply(i))

        # Exchanges are inserted by EnsureRequirements, so they exist
        # neither in sparkPlan() nor in the (empty-children) adaptive
        # root — walk the AdaptiveSparkPlanExec's initialPlan instead
        root = df._jdf.queryExecution().executedPlan()
        if "AdaptiveSparkPlan" in root.nodeName():
            root = root.initialPlan()
        names = []
        for n in walk(root):
            if "Exchange" in n.nodeName():
                out = n.output()
                names.append(
                    [out.apply(i).name() for i in range(out.size())]
                )
        return names

    lean = ivf_assign(emb, padded)
    ex_outs = _exchange_outputs(lean)
    assert ex_outs, "expected a window Exchange on the join path"
    for cols in ex_outs:
        assert "__v" not in cols and "__kv" not in cols and (
            "embedding" not in cols
        ), f"vector rides the shuffle: {cols}"
    kept = ivf_assign(emb, padded, keep_vec=True)
    assert set(kept.columns) == {"vec_id", "embedding", "cell"}
    lean_cells = {r["vec_id"]: r["cell"] for r in lean.collect()}
    kept_rows = kept.collect()
    assert {r["vec_id"]: r["cell"] for r in kept_rows} == lean_cells
    src = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    for r in kept_rows:
        assert [float(x) for x in r["embedding"]] == [
            float(x) for x in src[r["vec_id"]]
        ]


def test_ivf_refine_improves_recall_on_clustered_corpus(spark):
    """One–two Lloyd rounds (ivf_refine) move hash-init centroids to
    actual cluster means: with a bad init (two picks in one cluster,
    seed=3 on this corpus), nprobe=1 recall jumps 0.4 → 1.0.  Also pins
    determinism: refinement is pure integer-grid arithmetic, so two
    runs produce bit-identical centroids."""
    import random

    from filters_spark.pipeline.similarity import (
        cosine_topk,
        ivf_centroids,
        ivf_refine,
        ivf_topk,
    )

    rng = random.Random(1234)
    centers = [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0]]
    rows = [
        (
            i,
            [
                float(centers[i % 3][d] + rng.uniform(-0.05, 0.05))
                for d in range(4)
            ],
        )
        for i in range(60)
    ]
    emb3 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()
    q = [1.0, 0.0, 0.0, 0.0]
    brute = {r["vec_id"] for r in cosine_topk(emb3, q, k=10).collect()}
    init = ivf_centroids(emb3, n_cells=3, seed=3)
    got_init = {
        r["vec_id"]
        for r in ivf_topk(
            emb3, q, k=10, n_cells=3, nprobe=1, centroids=init
        ).collect()
    }
    refined = ivf_refine(emb3, init, rounds=2)
    got_ref = {
        r["vec_id"]
        for r in ivf_topk(
            emb3, q, k=10, n_cells=3, nprobe=1, centroids=refined
        ).collect()
    }
    recall_init = len(got_init & brute) / 10
    recall_ref = len(got_ref & brute) / 10
    assert recall_init == 0.4  # two init picks landed in one cluster
    assert recall_ref == 1.0
    # bit-identical across runs (integer-grid means, no float-sum order)
    assert ivf_refine(emb3, init, rounds=2) == refined
    # refine_rounds= plumbs through ivf_topk
    via_param = {
        r["vec_id"]
        for r in ivf_topk(
            emb3, q, k=10, n_cells=3, nprobe=1, seed=3, refine_rounds=2
        ).collect()
    }
    assert via_param == got_ref
    emb3.unpersist()


def _avi(frames, w, h, handler=b"MJPG", n_frames=None):
    """Hand-assembled RIFF-AVI: avih header, one vids stream, movi list
    with one 00dc chunk per frame — spec-built, independent of the
    parser under test."""
    import struct as s

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + s.pack("<I", len(body)) + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = (
        s.pack(
            "<IIIIIIIIII",
            33333, 0, 0, 0,
            n_frames if n_frames is not None else len(frames),
            0, 1, 0, w, h,
        )
        + b"\x00" * 16
    )
    strh = b"vids" + handler + b"\x00" * 48
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", b"\x00" * 40)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + s.pack("<I", len(body)) + body


def test_avi_header_and_media_meta(spark):
    """RIFF-AVI header parse: dimensions and frame count from ``avih``,
    the counted ``00dc`` chunks when ``avih`` reports none, and ``None``
    with neither frames nor dimensions; ``attach_media_meta`` classifies
    AVI as video, WAVE as audio and WebP as unknown on the JVM side."""
    from pyspark.sql import types as T

    from filters_spark.pipeline.multimodal import (
        attach_media_meta,
        parse_media_header,
    )

    f0, f1 = _jpeg(8, 8), _jpeg(8, 8)  # MJPEG: each frame a JPEG
    avi = _avi([f0, f1], 8, 8)

    # header parse: dims + frame count from avih
    assert parse_media_header(avi) == ("video", 8, 8, 2)
    xvid = _avi([b"\x00\x01\x02\x03not-a-jpeg"], 320, 240, handler=b"XVID")
    assert parse_media_header(xvid) == ("video", 320, 240, 1)
    assert parse_media_header(_avi([b"a", b"bc", b"d"], 4, 4, n_frames=0)) == (
        "video", 4, 4, 3,
    )
    assert parse_media_header(_avi([], 0, 0)) is None

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    # JVM-side classification: AVI is video, WAVE stays audio, any other
    # RIFF form (WebP) is unknown, as parse_media_header has it
    wav = b"RIFF" + b"\x24\x00\x00\x00" + b"WAVE" + b"\x00" * 24
    webp = b"RIFF" + b"\x1a\x00\x00\x00" + b"WEBPVP8 " + b"\x00" * 18
    assert parse_media_header(webp) is None
    mdf = spark.createDataFrame([(1, avi), (2, wav), (3, webp)], schema)
    got = {
        r["id"]: r["media_meta"]["media_type"]
        for r in attach_media_meta(mdf).collect()
    }
    assert got == {1: "video", 2: "audio", 3: "unknown"}


def test_ivf_assign_keep_vec_single_projection_no_join(emb):
    """keep_vec=True threads the vector through the ≤32-cell expression
    path as ONE projection — no Exchange, no Join (this is what keeps
    ivf_refine at one corpus scan per Lloyd round)."""
    from filters_spark.pipeline.similarity import ivf_assign, ivf_centroids

    cents = ivf_centroids(emb, n_cells=3)
    out = ivf_assign(emb, cents, keep_vec=True)
    assert set(out.columns) == {"vec_id", "embedding", "cell"}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    plain = {r["vec_id"]: r["cell"] for r in ivf_assign(emb, cents).collect()}
    kept = {r["vec_id"]: r["cell"] for r in out.collect()}
    assert kept == plain


def test_pmi_collocations(spark):
    import math

    from filters_spark.pipeline import pmi_collocations

    docs = spark.createDataFrame(
        [
            ("new york is big",),
            ("new york new york",),
            ("big apple",),
            (None,),
        ],
        "text string",
    )
    out = pmi_collocations(docs, min_count=2).collect()
    assert len(out) == 1
    r = out[0]
    # T=10 tokens, B=7 bigrams, (new, york) seen 3x, each word 3x
    assert (r.w1, r.w2, r.n_pair, r.n_w1, r.n_w2) == ("new", "york", 3, 3, 3)
    assert r.pmi == pytest.approx(
        math.log((3 / 7) / ((3 / 10) * (3 / 10))), abs=1e-12
    )
    # single-token and empty docs contribute no bigrams and don't crash
    tiny = spark.createDataFrame([("solo",), ("",), ("  ",)], "text string")
    assert pmi_collocations(tiny, min_count=1).count() == 0


def test_pmi_collocations_matches_python_reference(spark):
    """Randomized cross-check against a pure-Python Counter build of the
    same estimator."""
    import math
    import random
    from collections import Counter

    from filters_spark.pipeline import pmi_collocations

    rng = random.Random(20260820)
    vocab = [f"w{i}" for i in range(12)]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15)))
        for _ in range(120)
    ]
    uni, bi = Counter(), Counter()
    n_bigrams = 0
    for t in texts:
        toks = t.split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
        n_bigrams += max(len(toks) - 1, 0)
    T = sum(uni.values())
    want = {
        (w1, w2): (
            c,
            uni[w1],
            uni[w2],
            math.log((c / n_bigrams) / ((uni[w1] / T) * (uni[w2] / T))),
        )
        for (w1, w2), c in bi.items()
        if c >= 3
    }
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r.w1, r.w2): (r.n_pair, r.n_w1, r.n_w2, r.pmi)
        for r in pmi_collocations(df, min_count=3).collect()
    }
    assert set(got) == set(want)
    for k, (c, n1, n2, p) in want.items():
        gc, g1, g2, gp = got[k]
        assert (gc, g1, g2) == (c, n1, n2)
        assert gp == pytest.approx(p, abs=1e-12)
