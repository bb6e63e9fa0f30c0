"""Tests for the LLM-data-pipeline extension operators: text dedup
(minhash/simhash/exact), similarity search, text analysis, multimodal
plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),          # near-dup of 0
        (2, BASE),                                     # exact dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "el rapido zorro marron salta sobre el perro perezoso en el jardin de la casa"),
        (5, "numbers 123 456 789 000 111 222 333 444 555 666 777 888 999 101 202"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups_identical_content(docs):
    from universal_importer_duckdb_spark.operators.dedup_text import exact_dedup

    out = {r.kept_doc_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 2 collapse, min id kept
    assert out[3] == 1


def test_minhash_lsh_finds_near_dups(docs):
    from universal_importer_duckdb_spark.operators.dedup_text import minhash_lsh_pairs

    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.7
    assert all(3 not in p and 4 not in p for p in pairs)


def test_simhash_near_pairs(docs):
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_32x2_portable,
        simhash_near_pairs_portable,
    )

    fps = {r.doc_id: (r.fp_lo, r.fp_hi) for r in simhash_32x2_portable(docs).collect()}
    assert fps[0] == fps[2]
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_pairs_portable(docs, max_hamming=16).collect()}
    assert pairs.get((0, 2)) == 0
    assert (0, 1) in pairs


def test_minhash_signature_shape_and_determinism(docs):
    from universal_importer_duckdb_spark.operators.dedup_text import minhash_signatures

    s1 = {r.doc_id: r.signature for r in minhash_signatures(docs, num_perm=16).collect()}
    s2 = {r.doc_id: r.signature for r in minhash_signatures(docs.repartition(3), num_perm=16).collect()}
    assert s1 == s2
    assert all(len(sig) == 16 for sig in s1.values())


def test_cosine_topk_exact(spark):
    from universal_importer_duckdb_spark.operators.similarity import cosine_topk

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = [r.vec_id for r in cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()]
    assert got == [1, 2]


def test_lsh_ann_recall_on_testdata(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
    qv = [float(x) for x in qv]
    rest = emb.filter(F.col("vec_id") > 0)
    exact = [r.vec_id for r in cosine_topk(rest, qv, k=10).collect()]
    approx = [r.vec_id for r in lsh_ann_topk(rest, qv, k=10, n_planes=6, max_probe_hamming=2).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5  # multi-probe LSH should recover most of top-10


def test_ivf_ann_recall_and_determinism(spark, sf_dir):
    from universal_importer_duckdb_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    rest = emb.filter(F.col("vec_id") > 0)
    exact = [r.vec_id for r in cosine_topk(rest, qv, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(rest, qv, k=10, n_list=16, nprobe=4).collect()]
    # i.i.d. gaussian embeddings spread the true top-k uniformly over
    # lists, so expected recall ~= nprobe/n_list = 2.5/10; pin "at
    # least theory" (r8 integer-k-means artifact: 4 at sf0.001, 2 at
    # sf0.01)
    assert len(set(exact) & set(approx)) >= 2
    # nprobe = n_list degenerates to the exact scan
    full = [r.vec_id for r in ivf_topk(rest, qv, k=10, n_list=8, nprobe=8).collect()]
    assert full == exact
    # deterministic integer training + hash-ordered sample => bit-stable repeat
    again = [r.vec_id for r in ivf_topk(rest, qv, k=10, n_list=16, nprobe=4).collect()]
    assert approx == again


def test_emb_ivf_topk_recall_column_pin(spark, sf_dir):
    """The registry entry's self-audit column: every run on this data
    yields the same recall vs the exact top-10 (r8 integer-k-means
    artifact: 0.4 at sf0.001, 0.2 at sf0.01 — ≈ nprobe/n_list on
    i.i.d. gaussian embeddings, where the true top-k is spread
    uniformly over lists)."""
    from universal_importer_duckdb_spark import entry_queries as eq

    expected = {"sf0.001": 0.4, "sf0.01": 0.2}.get(sf_dir.rstrip("/").rsplit("/", 1)[-1])
    rows = eq.emb_ivf_topk(spark, sf_dir).collect()
    assert len(rows) == 10
    hits = sum(r.in_exact_topk for r in rows)
    recalls = {r.recall_at_k for r in rows}
    assert recalls == {hits / 10.0}  # audit column is self-consistent
    if expected is not None:
        assert recalls == {expected}


def test_embedding_near_pairs_finds_planted_duplicate(spark):
    from universal_importer_duckdb_spark.operators.similarity import embedding_near_pairs

    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(64)]
    near = [x + rng.gauss(0, 0.01) for x in base]
    rows = [(1, base), (2, near)] + [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(3, 40)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id bigint, embedding array<float>"
    )
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_near_pairs(df, 0.95).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99


def test_quality_filter_and_signals(docs):
    from universal_importer_duckdb_spark.operators.text_analysis import quality_filter

    kept, rejected = quality_filter(docs, min_tokens=5, max_digit_ratio=0.2)
    kept_ids = {r.doc_id for r in kept.collect()}
    rej_ids = {r.doc_id for r in rejected.collect()}
    assert 5 in rej_ids  # digit-heavy doc rejected
    assert 0 in kept_ids
    assert kept_ids | rej_ids == {0, 1, 2, 3, 4, 5}


def test_language_scores_argmax(docs):
    from universal_importer_duckdb_spark.operators.text_analysis import language_scores

    preds = {r.doc_id: r.pred_lang for r in language_scores(docs).collect()}
    assert preds[0] == "en"
    assert preds[4] == "es"


def test_bpe_ish_token_count(spark):
    from universal_importer_duckdb_spark.operators.text_analysis import bpe_ish_token_count

    df = spark.createDataFrame([("hello world",), ("internationalization",)], "text string")
    counts = [r.n for r in df.select(bpe_ish_token_count("text").alias("n")).collect()]
    # hello(1+floor(5/4)=2) + world(2) = 4; internationalization: 1+floor(20/4)=6
    assert counts == [4, 6]


def test_rolling_fingerprint_robust_to_distant_edit(spark):
    from universal_importer_duckdb_spark.operators.text_analysis import content_fingerprints

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " omega"  # tail edit: rolling min-window fingerprint often survives
    df = spark.createDataFrame([(1, a), (2, b), (3, "unrelated words entirely here")],
                               "doc_id bigint, text string")
    rows = {r.doc_id: r for r in content_fingerprints(df).collect()}
    assert rows[1].md5_fingerprint != rows[2].md5_fingerprint
    # bottom-k sketches of near-identical docs overlap heavily...
    assert len(set(rows[1].rolling_fingerprint) & set(rows[2].rolling_fingerprint)) >= 2
    # ...and unrelated docs share nothing
    assert not set(rows[1].rolling_fingerprint) & set(rows[3].rolling_fingerprint)


def test_simhash_portable_kernel_matches_fp_columns(spark, sf_dir):
    """The Arrow-batched numpy fingerprint kernel must be bit-identical
    to the column-expression form ``simhash_fp_columns`` (same md5-half
    bit votes)."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        simhash_32x2_portable,
        simhash_fp_columns,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    a = {r.doc_id: (r.fp_lo, r.fp_hi)
         for r in simhash_32x2_portable(docs).collect()}
    b = {r.doc_id: (r.fp_lo, r.fp_hi)
         for r in simhash_fp_columns(docs).collect()}
    assert a == b and len(a) > 0


def test_png_roundtrip_all_decoder_filters():
    """Decoder handles every PNG filter type; encoder's Up-filtered
    output must reconstruct the exact pixels (and therefore sum)."""
    import struct
    import zlib

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_png,
        encode_png_gray,
    )

    rows = [[(7 * x + 13 * y) % 256 for x in range(23)] for y in range(9)]
    expected = sum(sum(r) for r in rows)
    for ft in (0, 2):
        d = decode_png(encode_png_gray(23, 9, rows, filter_type=ft))
        assert (d["width"], d["height"], d["luma_sum"]) == (23, 9, expected)

    # hand-build Sub/Average/Paeth-filtered scanlines for the decoder
    def build(filter_rows: list[tuple[int, list[int]]], w: int, h: int) -> bytes:
        raw = bytearray()
        for ft, line in filter_rows:
            raw.append(ft)
            raw.extend(line)
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

        return (sig + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    # pixels row0 = [10, 20, 30]; row1 = [15, 25, 35] expressed with
    # Sub then Paeth filters; row2 = [20, 30, 40] with Average
    png = build(
        [
            (1, [10, 10, 10]),            # Sub: 10, 10+10, 20+10
            (4, [5, 5, 5]),               # Paeth(left, up, ul)
            (3, [(20 - 7) & 0xFF, (30 - ((20 + 25) >> 1)) & 0xFF,
                 (40 - ((30 + 35) >> 1)) & 0xFF]),  # Average
        ],
        3, 3,
    )
    d = decode_png(png)
    assert d["luma_sum"] == sum([10, 20, 30, 15, 25, 35, 20, 30, 40])


def test_png_decode_512_under_50ms():
    """The vectorized unfilter path must decode a realistic 512x512
    image fast — per-byte Python loops were ~20x over this budget."""
    import time

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_png,
        encode_png_gray,
    )

    rows = [[(x * y + 3 * x + y) % 256 for x in range(512)] for y in range(512)]
    png = encode_png_gray(512, 512, rows, filter_type=2)
    decode_png(png)  # warm (numpy/zlib import paths)
    # min-of-3: a single noisy-neighbor spike must not flake the gate;
    # the regression this guards (per-byte loops) was ~20x over budget
    elapsed = min(
        _timed(time, decode_png, png) for _ in range(3)
    )
    d = decode_png(png)
    assert d["luma_sum"] == sum(sum(r) for r in rows)
    assert elapsed < 0.05, f"512x512 decode took {elapsed * 1e3:.1f} ms"


def _timed(time_mod, fn, *args):
    t0 = time_mod.perf_counter()
    fn(*args)
    return time_mod.perf_counter() - t0


def test_wav_multi_data_chunk_consistent():
    """Nonstandard multi-data-chunk WAVs: n_samples and sumsq must
    accumulate over ALL data chunks (they previously disagreed)."""
    import struct

    from universal_importer_duckdb_spark.operators.multimodal import decode_wav

    samples_a, samples_b = [100, -200, 300], [-400, 500]
    body_a = struct.pack(f"<{len(samples_a)}h", *samples_a)
    body_b = struct.pack(f"<{len(samples_b)}h", *samples_b)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    riff = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(body_a)) + body_a
            + b"data" + struct.pack("<I", len(body_b)) + body_b)
    wav = b"RIFF" + struct.pack("<I", len(riff)) + riff
    d = decode_wav(wav)
    allsamp = samples_a + samples_b
    assert d["n_samples"] == len(allsamp)
    assert d["sumsq"] == sum(s * s for s in allsamp)
    assert d["rms"] == (d["sumsq"] / len(allsamp)) ** 0.5


def test_wav_roundtrip():
    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_wav,
        encode_wav_pcm16,
    )

    samples = [100, -100, 250, -250] * 50
    d = decode_wav(encode_wav_pcm16(16000, 2, samples))
    assert d["sample_rate"] == 16000
    assert d["n_channels"] == 2
    assert d["n_samples"] == 100  # frames = samples / channels
    assert d["duration_s"] == 100 / 16000
    assert d["sumsq"] == sum(s * s for s in samples)


def test_multimodal_image_features_real_decode(spark):
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        encode_png_gray,
        extract_image_features,
    )

    png1 = encode_png_gray(16, 4, [[y] * 16 for y in (10, 20, 30, 40)])
    png2 = encode_png_gray(8, 8, [[255] * 8] * 8)
    df = spark.createDataFrame(
        [(1, bytearray(png1)), (2, bytearray(png2))],
        "item_id bigint, payload binary",
    )
    media = attach_media_column(df, "payload", "image/png", "item_id")
    rows = {r.item_id: r for r in extract_image_features(media).collect()}
    assert (rows[1].width, rows[1].height) == (16, 4)
    assert rows[1].luma_sum == 16 * (10 + 20 + 30 + 40)
    assert rows[2].mean_luma == 1.0
    # determinism across partitionings
    again = {r.item_id: r.luma_sum
             for r in extract_image_features(media.repartition(2)).collect()}
    assert again == {k: v.luma_sum for k, v in rows.items()}


def test_decode_media_dispatch_and_stub():
    import pytest as _pytest

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
        encode_png_gray,
        encode_wav_pcm16,
    )

    assert decode_media(encode_png_gray(8, 2, [[0] * 8] * 2))["kind"] == "image"
    assert decode_media(encode_wav_pcm16(8000, 1, [5] * 10))["kind"] == "audio"
    with _pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff JPEG bytes", "image/jpeg")


def test_multimodal_frame_sampling(spark):
    from universal_importer_duckdb_spark.operators.multimodal import (
        attach_media_column,
        sample_frames,
    )

    df = spark.createDataFrame([(1, bytearray(b"x" * 10000))], "item_id bigint, payload binary")
    media = attach_media_column(df, "payload", "video/mp4", "item_id")
    frames = sample_frames(media, every_n_bytes=4096)
    assert frames.count() == 2  # floor(10000/4096) = 2 offsets (0, 1)


def test_bucket_pairs_matches_naive_self_join(spark):
    import random

    from universal_importer_duckdb_spark.operators.dedup_text import bucket_pairs

    rng = random.Random(11)
    rows = [(i, rng.randrange(8)) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, b int")

    got = {
        (r.id_a, r.id_b)
        for r in bucket_pairs(df, ["b"], "id", max_bucket_size=1000).collect()
    }
    naive = {
        (i, j)
        for (i, bi) in rows
        for (j, bj) in rows
        if i < j and bi == bj
    }
    assert got == naive
    # bucket-size cap drops oversized buckets entirely
    sizes = {}
    for _, b in rows:
        sizes[b] = sizes.get(b, 0) + 1
    expected = sum(1 for s in sizes.values() if s == 2)
    assert bucket_pairs(df, ["b"], "id", max_bucket_size=2).count() == expected


def test_neardup_clusters_chain_and_singletons(spark):
    """A-B, B-C chain must collapse into ONE cluster (pairwise 'keep
    one per pair' would keep two of the three); D stays its own."""
    from universal_importer_duckdb_spark.operators.dedup_text import neardup_clusters

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11)], "doc_id bigint")
    rows = {r.doc_id: r for r in neardup_clusters(pairs, ids).collect()}
    assert {d: r.cluster_id for d, r in rows.items()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10,
    }
    assert [d for d, r in sorted(rows.items()) if r.is_kept] == [1, 4, 10]


def test_neardup_clusters_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir routes the BSP round barriers through reliable
    checkpoint() storage; results must be identical to the
    localCheckpoint default and checkpoint files must actually land."""
    import os

    from universal_importer_duckdb_spark.operators.dedup_text import neardup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11)], "doc_id bigint")
    ckdir = str(tmp_path / "ck")
    got = {
        r.doc_id: (r.cluster_id, r.is_kept)
        for r in neardup_clusters(pairs, ids, checkpoint_dir=ckdir).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 10: (10, True), 11: (10, False),
    }
    written = [
        os.path.join(dp, f) for dp, _dn, fn in os.walk(ckdir) for f in fn
    ]
    assert written, "no checkpoint files written to checkpoint_dir"


def test_chunk_documents_shapes(spark):
    from universal_importer_duckdb_spark.operators.text_analysis import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(["w"] * 10)), (2, " ".join(["w"] * 32)),
         (3, " ".join(["w"] * 33)), (4, " ".join(["w"] * 100))],
        "doc_id bigint, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_idx, r.start_token, r.chunk_tokens)
        for r in chunk_documents(df, chunk_size=32, stride=24).collect()
    )
    assert rows == [
        (1, 0, 0, 10),
        (2, 0, 0, 32),
        (3, 0, 0, 32), (3, 1, 24, 9),
        (4, 0, 0, 32), (4, 1, 24, 32), (4, 2, 48, 32), (4, 3, 72, 28),
    ]


def test_vocabulary_topk_tie_break(spark):
    from universal_importer_duckdb_spark.operators.text_analysis import vocabulary_topk

    df = spark.createDataFrame(
        [(1, "b a b a c"), (2, "C A")], "doc_id bigint, text string"
    )
    rows = [(r.token, r.n) for r in vocabulary_topk(df, k=2).collect()]
    assert rows == [("a", 3), ("b", 2)]  # 'c' ties 'b'? no: a=3, b=2, c=2 -> b before c


def test_pii_scrub_redacts_and_counts(spark):
    from universal_importer_duckdb_spark.operators.text_analysis import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a@b.io twice c.d+x@e.org, url https://x.y/z ssn 123-45-6789 ip 10.0.0.1"),
         (2, "clean text only")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert rows[1].n_email == 2 and rows[1].n_url == 1
    assert rows[1].n_ssn == 1 and rows[1].n_ip == 1
    assert "<EMAIL>" in rows[1].clean_text and "@" not in rows[1].clean_text
    assert "123-45" not in rows[1].clean_text and "10.0.0.1" not in rows[1].clean_text
    assert rows[2].clean_text == "clean text only"
    assert rows[2].n_email == rows[2].n_url == rows[2].n_ssn == rows[2].n_ip == 0


def test_neardup_clusters_long_chain_pointer_jumping(spark):
    """A 40-node path has diameter 39: plain 1-hop HashMin would need
    39 rounds, pointer jumping converges in O(log d). max_iters=12
    both proves the shortcutting works and guards the non-convergence
    error path stays silent on healthy inputs."""
    from universal_importer_duckdb_spark.operators.dedup_text import neardup_clusters

    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    # driver_max_edges=0 forces the distributed BSP path (the default
    # adaptive cutover would solve this tiny graph on the driver)
    rows = neardup_clusters(pairs, ids, max_iters=12,
                            driver_max_edges=0).collect()
    assert all(r.cluster_id == 0 for r in rows)
    assert sum(r.is_kept for r in rows) == 1
    # the driver union-find path must produce the identical labels
    rows2 = neardup_clusters(pairs, ids).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_neardup_clusters_nonconvergence_raises(spark):
    import pytest as _pytest

    from universal_importer_duckdb_spark.operators.dedup_text import neardup_clusters

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id bigint")
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, ids, max_iters=2, driver_max_edges=0)


def test_png_wav_roundtrip_properties():
    """Property test (pure Python, no Spark): random dims/pixels and
    random PCM16 payloads must round-trip exactly through the codecs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_png,
        decode_wav,
        encode_png_gray,
        encode_wav_pcm16,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 48),
        h=st.integers(1, 48),
        seed=st.integers(0, 2**31),
        ft=st.sampled_from([0, 2]),
    )
    def png_prop(w, h, seed, ft):
        import random

        rng = random.Random(seed)
        rows = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        d = decode_png(encode_png_gray(w, h, rows, filter_type=ft))
        assert (d["width"], d["height"]) == (w, h)
        assert d["luma_sum"] == sum(map(sum, rows))

    @settings(max_examples=40, deadline=None)
    @given(
        rate=st.sampled_from([8000, 16000, 44100]),
        ch=st.integers(1, 2),
        seed=st.integers(0, 2**31),
        n=st.integers(1, 400),
    )
    def wav_prop(rate, ch, seed, n):
        import random

        rng = random.Random(seed)
        samples = [rng.randrange(-32768, 32768) for _ in range(n * ch)]
        d = decode_wav(encode_wav_pcm16(rate, ch, samples))
        assert d["sample_rate"] == rate and d["n_channels"] == ch
        assert d["n_samples"] == n
        assert d["sumsq"] == sum(s * s for s in samples)

    png_prop()
    wav_prop()


def test_y4m_roundtrip_properties():
    """Property test: random dims/frame-counts/planes round-trip
    exactly, and sampled luma equals the sum over every k-th frame."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m_mono,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        nf=st.integers(1, 8),
        k=st.integers(1, 4),
        seed=st.integers(0, 2**31),
    )
    def y4m_prop(w, h, nf, k, seed):
        import random

        rng = random.Random(seed)
        frames = [bytes(rng.randrange(256) for _ in range(w * h))
                  for _ in range(nf)]
        d = decode_y4m(encode_y4m_mono(w, h, frames), sample_every=k)
        assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
        sampled = list(range(0, nf, k))
        assert d["n_sampled"] == len(sampled)
        assert d["luma_sum"] == sum(sum(frames[i]) for i in sampled)

    y4m_prop()


def test_chunk_documents_invariants_random_corpus(spark):
    """Chunks must tile each document exactly: starts advance by the
    stride, the last chunk ends at n, every chunk is non-empty and at
    most chunk_size, and consecutive chunks overlap by size-stride."""
    import random

    from universal_importer_duckdb_spark.operators.text_analysis import chunk_documents

    rng = random.Random(11)
    rows = [(i, " ".join(["w"] * rng.randint(1, 300))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    n_by_doc = {i: t.count(" ") + 1 for i, t in rows}
    for size, stride in ((32, 24), (50, 50), (128, 96)):
        got = {}
        for r in chunk_documents(df, chunk_size=size, stride=stride).collect():
            got.setdefault(r.doc_id, []).append(
                (r.chunk_idx, r.start_token, r.chunk_tokens)
            )
        for doc_id, chunks in got.items():
            n = n_by_doc[doc_id]
            chunks.sort()
            for j, (idx, start, ln) in enumerate(chunks):
                assert idx == j and start == j * stride
                assert 0 < ln <= size
                if j < len(chunks) - 1:
                    assert ln == size  # only the final chunk may be short
            last_idx, last_start, last_len = chunks[-1]
            assert last_start + last_len == n  # tiles to exactly n tokens
            # no chunk fully contained in the previous one
            assert all(s + l > ps + pl for (_, ps, pl), (_, s, l)
                       in zip(chunks, chunks[1:]))
        assert set(got) == set(n_by_doc)


def test_y4m_roundtrip_sampling_and_colorspaces():
    import pytest as _pytest

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
        decode_y4m,
        encode_y4m_mono,
    )

    frames = [bytes((i * 3 + p) % 256 for p in range(12)) for i in range(5)]
    v = encode_y4m_mono(4, 3, frames)
    d = decode_y4m(v)
    assert (d["width"], d["height"], d["n_frames"]) == (4, 3, 5)
    assert d["luma_sum"] == sum(sum(f) for f in frames)
    # every-2nd-frame sampling decodes frames 0, 2, 4 only
    d2 = decode_y4m(v, sample_every=2)
    assert d2["n_sampled"] == 3
    assert d2["luma_sum"] == sum(sum(frames[i]) for i in (0, 2, 4))
    assert decode_media(v)["kind"] == "video"

    # 420 family: luma is the first w*h bytes of each 1.5*w*h plane
    w, h = 4, 2
    y = bytes(range(w * h))
    chroma = bytes(w * h // 2)
    v420 = (b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n"
            + b"FRAME\n" + y + chroma + b"FRAME\n" + y + chroma)
    d3 = decode_y4m(v420)
    assert d3["n_frames"] == 2 and d3["luma_sum"] == 2 * sum(y)

    # truncated frame must raise, not silently under-count
    with _pytest.raises(ValueError):
        decode_y4m(v[: len(v) - 3])


def test_neardup_clusters_string_ids(spark):
    """Driver union-find path must preserve the edge id TYPE — string
    ids (URLs, content hashes) cluster exactly like bigints, and
    numeric-looking strings ('007') must not be coerced to ints."""
    from universal_importer_duckdb_spark.operators.dedup_text import (
        neardup_clusters,
    )

    pairs = spark.createDataFrame(
        [("007", "u7"), ("u7", "aa")], "id_a string, id_b string"
    )
    ids = spark.createDataFrame(
        [("007",), ("u7",), ("aa",), ("lone",)], "doc_id string"
    )
    rows = {r.doc_id: r for r in neardup_clusters(pairs, ids).collect()}
    assert rows["007"].cluster_id == "007"   # min string of the chain
    assert rows["u7"].cluster_id == "007"
    assert rows["aa"].cluster_id == "007"
    assert rows["lone"].cluster_id == "lone" and rows["lone"].is_kept
    assert rows["007"].is_kept and not rows["u7"].is_kept


def test_neardup_clusters_restores_prior_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir is session-global; a caller's previously
    configured dir must survive a clustering call that uses its own."""
    sc = spark.sparkContext
    prior = str(tmp_path / "prior_ck")
    sc.setCheckpointDir(prior)
    from universal_importer_duckdb_spark.operators.dedup_text import (
        neardup_clusters,
    )

    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    ids = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    neardup_clusters(
        pairs, ids, checkpoint_dir=str(tmp_path / "cluster_ck")
    ).collect()
    got = sc._jsc.sc().getCheckpointDir()
    # setCheckpointDir appends a fresh UUID subdir on every call, so
    # exact equality is impossible — the contract is that later
    # checkpoints still land under the CALLER's tree, not cluster_ck
    assert got.isDefined()
    assert "prior_ck" in got.get() and "cluster_ck" not in got.get()


def test_approx_distinct_sketch_inside_envelope(spark, sf_dir):
    """The registry entry only EMITS the within-5% flag; pin the raw
    HLL++ estimate locally so an engine upgrade that degrades the
    sketch (or a determinism break) is caught here, not by a driver
    hash mismatch."""
    from universal_importer_duckdb_spark import entry_queries as eq

    rows = eq.approx_distinct_customers_monthly(spark, sf_dir).collect()
    assert rows and all(r.approx_within_budget for r in rows)
    again = eq.approx_distinct_customers_monthly(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_jpeg_swap_point_without_pil_raises_documented():
    import pytest as _pytest

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
    )

    # container has no PIL: the JPEG branch must raise the documented
    # install hint, not a generic dispatch failure
    with _pytest.raises(NotImplementedError, match="PIL|pillow"):
        decode_media(b"\xff\xd8\xff\xe0" + b"\x00" * 16, "image/jpeg")


def test_jpeg_swap_point_uses_pil_when_present(monkeypatch):
    """Wiring test with a deterministic fake PIL: decode_media must
    route JPEG payloads through PIL.Image.open and emit the same
    feature keys as the PNG decoder."""
    import sys
    import types

    import numpy as np

    class _FakeImg:
        width, height = 4, 2

        def getbands(self):
            return ("R", "G", "B")

        def convert(self, mode):
            assert mode == "L"
            return np.full((2, 4), 7, dtype=np.uint8)

    fake_image_mod = types.SimpleNamespace(open=lambda buf: _FakeImg())
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_image_mod
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(
        sys.modules, "PIL.Image", types.ModuleType("PIL.Image")
    )
    sys.modules["PIL.Image"].open = fake_image_mod.open

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
    )

    out = decode_media(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    assert out == {
        "kind": "image",
        "width": 4,
        "height": 2,
        "n_channels": 3,
        "luma_sum": 7 * 8,
    }


def test_audio_swap_point_without_soundfile_raises_documented():
    import pytest as _pytest

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
    )

    for payload in (b"ID3\x04" + b"\x00" * 16, b"fLaC" + b"\x00" * 16,
                    b"OggS" + b"\x00" * 16, b"\xff\xfb\x90" + b"\x00" * 16):
        with _pytest.raises(NotImplementedError, match="soundfile"):
            decode_media(payload, "audio/mpeg")


def test_audio_swap_point_uses_soundfile_when_present(monkeypatch):
    import sys
    import types

    import numpy as np

    fake_sf = types.ModuleType("soundfile")
    fake_sf.read = lambda buf, dtype: (
        np.full((100, 2), 3, dtype=np.int16), 8000
    )
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)

    from universal_importer_duckdb_spark.operators.multimodal import (
        decode_media,
    )

    out = decode_media(b"ID3\x04" + b"\x00" * 16)
    assert out["kind"] == "audio"
    assert out["sample_rate"] == 8000
    assert out["n_channels"] == 2
    assert out["n_samples"] == 100
    assert out["sumsq"] == 9 * 200
