"""Training-data operators: dedup, similarity, textstats, multimodal."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nginx_log_spark.functions import (
    cosine_topk,
    doc_fingerprint,
    embedding_neardup_pairs,
    exact_dedup,
    lang_id_col,
    lsh_ann_topk,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_columns,
    simhash16,
    token_count_cols,
    winnow_fingerprints,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").cache()
    d.count()
    yield d
    d.unpersist()


@pytest.fixture(scope="module")
def embs(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    e.count()
    yield e
    e.unpersist()


# ---------------------------------------------------------------------- dedup
def test_exact_dedup(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3, 4, 5], "text": ["a b", "A  b", "c", "c", "d"]}
    )
    df = spark.createDataFrame(pdf)
    out = exact_dedup(df).toPandas()
    # "a b" and "A  b" normalize equal; "c" duplicates
    assert len(out) == 3
    grp = {r.keep_id: r.n_dupes for r in out.itertuples()}
    assert grp == {1: 2, 3: 2, 5: 1}


def test_minhash_lsh_finds_near_dupes(spark, docs):
    base = docs.limit(50)
    # create a near-duplicate of each doc (append one word)
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    alld = base.select("doc_id", "text").union(dup)
    sigs = minhash_signatures(alld, n_hashes=8, shingle_k=5)
    pairs = lsh_candidate_pairs(sigs, n_hashes=8, band_size=2).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    want = {(r[0], r[0] + 100000) for r in base.select("doc_id").collect()}
    recall = len(found & want) / len(want)
    assert recall > 0.9, f"LSH recall too low: {recall}"


def test_minhash_xxhash64_fast_path(spark, docs):
    """The xxhash64 signature path finds the same planted near-dups as the
    md5 path (same LSH semantics, native hash)."""
    base = docs.limit(50)
    dup = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    alld = base.select("doc_id", "text").union(dup)
    sigs = minhash_signatures(alld, n_hashes=8, shingle_k=5, hash_fn="xxhash64")
    assert dict(sigs.dtypes)["minhash_0"] == "bigint"
    pairs = lsh_candidate_pairs(sigs, n_hashes=8, band_size=2).toPandas()
    found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    want = {(r[0], r[0] + 100000) for r in base.select("doc_id").collect()}
    assert len(found & want) / len(want) > 0.9


def test_simhash_close_for_near_dupes(spark, docs):
    base = docs.limit(20).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    sh = simhash16(base.union(dup)).toPandas().set_index("doc_id").simhash
    dists = [bin(int(sh[i]) ^ int(sh[i + 100000])).count("1") for i in sh.index if i < 100000]
    assert np.mean(dists) < 4  # near-dupes hamming-close on 16 bits


def test_ngram_jaccard(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["the quick brown fox jumps", "the quick brown fox jumped", "entirely different words"],
        }
    )
    out = ngram_jaccard_pairs(spark.createDataFrame(pdf), threshold=0.5).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(1, 2)}
    assert (out.jaccard > 0.6).all()


# ----------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, embs):
    rows = embs.collect()
    q = list(rows[0]["embedding"])
    got = cosine_topk(embs, q, k=5).toPandas()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    qv = np.array(q, dtype=np.float64)
    sims = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(zip(-np.round(sims, 6), ids))[:5]
    exp_ids = [int(i) for _, i in order]
    assert list(got.vec_id) == exp_ids
    assert got.cosine.iloc[0] == pytest.approx(1.0, abs=1e-6)  # self-match


def test_lsh_ann_subset_of_bucket(spark, embs):
    rows = embs.limit(1).collect()
    q = list(rows[0]["embedding"])
    ann = lsh_ann_topk(embs, q, k=5, n_planes=4).toPandas()
    assert len(ann) >= 1
    assert int(ann.vec_id.iloc[0]) == int(rows[0]["vec_id"])  # finds itself


def test_ngram_max_df_caps_degenerate_corpus(spark):
    """One shingle shared by ALL docs must not explode the self-join:
    with max_df the stop-shingle drops before the join and the pair count
    is bounded by genuinely-shared rare shingles."""
    n = 400
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            # every doc contains the boilerplate 'aaaaa' stop-shingle,
            # plus a unique tail; docs i and i+1 share a rare shingle
            "text": [f"aaaaa {'xy' * 3}{i // 2:04d} unique{i:05d}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    uncapped_join_rows = n * (n - 1) / 2  # what the stop-shingle alone emits
    out = ngram_jaccard_pairs(df, shingle_k=5, threshold=0.0, max_df=10).toPandas()
    assert len(out) < uncapped_join_rows / 10
    # the genuinely-similar neighbor pairs survive the cap
    found = set(zip(out.id_a, out.id_b))
    want = {(2 * k, 2 * k + 1) for k in range(n // 2)}
    assert want <= found


def test_neardup_bucketed_recall(spark, embs):
    """Planted >=0.95-cosine near-duplicates: the bucketed exact=False path
    must recover most of what the exact all-pairs path finds."""
    base = embs.limit(80).select("vec_id", "embedding")
    dup = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0))
        ).alias("embedding"),
    )
    alld = base.union(dup)
    exact = embedding_neardup_pairs(alld, threshold=0.95, exact=True).toPandas()
    want = {(r.id_a, r.id_b) for r in exact.itertuples()}
    assert len(want) >= 80  # every planted dup qualifies
    dims = len(base.select("embedding").first()[0])
    bucketed = embedding_neardup_pairs(
        alld, threshold=0.95, exact=False, n_planes=4, dims=dims
    ).toPandas()
    found = {(r.id_a, r.id_b) for r in bucketed.itertuples()}
    assert found <= want  # bucketed path returns no false pairs
    recall = len(found & want) / len(want)
    assert recall >= 0.95, f"bucketed near-dup recall too low: {recall}"


def test_lsh_ann_prebucketed_prunes_partitions(spark, embs, tmp_path):
    """The materialized-index path: write partitioned by the sketch, query
    one bucket, assert (a) results == the sketch-per-query path, (b) the
    scan plan prunes to the query's partition."""
    from nginx_log_spark.functions import (
        lsh_ann_topk_prebucketed,
        write_bucketed_embeddings,
    )

    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    path = str(tmp_path / "emb_bucketed")
    write_bucketed_embeddings(embs, path, dims=len(q), n_planes=4)
    pre = lsh_ann_topk_prebucketed(spark, path, q, k=10, n_planes=4)
    live = lsh_ann_topk(embs, q, k=10, n_planes=4).toPandas()
    got = pre.toPandas()
    assert list(got.vec_id) == list(live.vec_id)
    assert list(got.cosine) == list(live.cosine)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:200]


def test_embedding_neardup_exact(spark):
    vecs = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "embedding": [[1.0, 0.0], [0.999, 0.01], [0.0, 1.0]],
        }
    )
    df = spark.createDataFrame(vecs)
    out = embedding_neardup_pairs(df, threshold=0.99, exact=True).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(1, 2)}


def test_simhash_neardup_banding_is_exact(spark, docs):
    """Banded-join pairs == brute-force all-pairs at hamming <= 3 (the
    pigeonhole guarantee: 3 flipped bits can't touch all 4 bands)."""
    import itertools

    from nginx_log_spark.functions import simhash_neardup_pairs

    sub = docs.limit(80)
    banded = simhash_neardup_pairs(sub, max_hamming=3, n_bands=4).toPandas()
    sigs = simhash16(sub).toPandas()
    sig = dict(zip(sigs.doc_id, sigs.simhash))
    brute = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a, b in itertools.combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    got = {(int(r.id_a), int(r.id_b), int(r.hamming)) for r in banded.itertuples()}
    assert got == brute
    assert len(got) > 0


def test_dedup_keep_drops_larger_ids(spark):
    from nginx_log_spark.functions import dedup_keep

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 5], "text": list("abcde")})
    )
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 1], "id_b": [2, 3, 3], "jaccard": [0.9, 0.9, 0.8]})
    )
    kept = dedup_keep(docs, pairs).toPandas()
    # 2 and 3 are dominated by smaller ids; 1, 4, 5 survive
    assert sorted(kept.doc_id) == [1, 4, 5]


def test_ivf_full_probe_equals_exact(spark, embs):
    """Probing ALL cells makes IVF == brute force (partitioning loses
    nothing); probing 2 still finds the query itself first."""
    from nginx_log_spark.functions import ivf_ann_topk

    q = list(embs.orderBy("vec_id").first()["embedding"])
    exact = cosine_topk(embs, q, k=10).toPandas()
    full = ivf_ann_topk(embs, q, k=10, n_centroids=8, n_probe=8).toPandas()
    assert list(full.vec_id) == list(exact.vec_id)
    assert list(full.cosine) == list(exact.cosine)
    two = ivf_ann_topk(embs, q, k=10, n_centroids=8, n_probe=2).toPandas()
    assert two.cosine.iloc[0] == pytest.approx(1.0, abs=1e-6)  # self-match


def test_ivf_index_prunes_partitions(spark, embs, tmp_path):
    from nginx_log_spark.functions import write_ivf_index

    path = str(tmp_path / "ivf")
    write_ivf_index(embs, path, n_centroids=8)
    scan = spark.read.parquet(path).filter(F.col("cell").isin([0, 3]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]


# ------------------------------------------------------------------ textstats
def test_token_counts(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": ["hello world", "  a  b  c ", "", "x,y!z"]}))
    cols = token_count_cols(F.col("text"))
    got = df.select(cols["n_ws_tokens"].alias("ws"), cols["n_bpe_tokens"].alias("bpe")).toPandas()
    assert list(got.ws) == [2, 3, 0, 1]
    assert list(got.bpe) == [2, 3, 0, 5]  # x , y ! z


def test_quality_columns(spark, docs):
    q = quality_columns(F.col("text"))
    out = docs.select(*[v.alias(k) for k, v in q.items()]).toPandas()
    assert ((out.quality_score >= 0) & (out.quality_score <= 1)).all()
    assert (out.n_words > 0).all()
    assert ((out.punct_ratio >= 0) & (out.punct_ratio <= 1)).all()


def test_langid_on_real_sentences(spark):
    # NB: the synthetic documents table is English word-salad for every
    # `lang` label, so the heuristic is tested on genuine sentences.
    cases = {
        "the cat sat on the mat and it was happy": "en",
        "der Hund ist nicht glücklich und müde": "de",
        "le chat est dans la maison pour dormir": "fr",
        "el perro es grande y una casa para todos": "es",
        "这是一个中文句子": "zh",
        "xyzzy qwerty 12345": "und",
    }
    df = spark.createDataFrame(pd.DataFrame({"text": list(cases)}))
    got = dict(df.select("text", lang_id_col(F.col("text")).alias("l")).collect())
    assert got == cases


def test_fingerprints(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["The  Quick fox", "the quick fox", "other"]})
    )
    fp = df.select("doc_id", doc_fingerprint(F.col("text")).alias("fp")).toPandas()
    assert fp.fp[0] == fp.fp[1] != fp.fp[2]
    wf = winnow_fingerprints(df).toPandas()
    assert all(1 <= len(x) <= 4 for x in wf.fingerprints)  # short docs yield < keep
    assert list(wf.fingerprints[0]) == list(wf.fingerprints[1])


# ----------------------------------------------------------------- multimodal
def test_multimodal_decode_and_features(spark):
    from nginx_log_spark.functions.multimodal import (
        decode_media,
        extract_features,
        frame_sample_plan,
        synth_media_df,
    )

    media = synth_media_df(spark, 30).cache()
    dec = decode_media(media, fake=True).toPandas()
    assert len(dec) == 30
    img = dec[dec.media_type == "image"]
    assert img.width.notna().all() and img.height.notna().all()
    aud = dec[dec.media_type == "audio"]
    assert aud.width.isna().all()
    # deterministic: same payload -> same checksum on rerun
    dec2 = decode_media(media, fake=True).toPandas()
    assert (dec.sort_values("media_id").checksum.to_numpy() == dec2.sort_values("media_id").checksum.to_numpy()).all()

    feats = extract_features(media).toPandas()
    assert all(len(f) == 16 for f in feats.feature)
    assert all(abs(sum(f) - 1.0) < 1e-3 for f in feats.feature)

    frames = frame_sample_plan(
        decode_media(media, fake=True).join(media.select("media_id", "payload"), "media_id"),
        every_n=50,
    ).toPandas()
    assert (frames.frame_idx % 50 == 0).all()
    media.unpersist()


def test_multimodal_real_decode_raises(spark):
    from nginx_log_spark.functions.multimodal import _decode_bytes

    # unrecognized container (GIF magic) -> the declared external-codec seam
    with pytest.raises(NotImplementedError):
        _decode_bytes(b"GIF89a\x10\x00\x10\x00\x80\x00\x00", "image", fake=False)
    # JPEG is a real codec now — a JPEG-magic payload with no scan is a
    # CORRUPT container (reject sink), not an unsupported format
    with pytest.raises(ValueError):
        _decode_bytes(b"\xff\xd8\xff\xe0\x00\x10JFIF", "image", fake=False)


def test_multimodal_real_png_decode(spark):
    """REAL compressed-image path: genuine PNG containers decoded
    end-to-end through the mapInPandas operator — CRC-verified chunk walk,
    zlib inflate, per-scanline unfilter across all five filter types and
    all four color types — checksum over the decoded raster; a
    recompressed container
    of the same raster collides (content identity); corrupt containers
    (truncation, CRC flip, bad filter type, short IDAT) raise."""
    import hashlib
    import struct
    import zlib

    from nginx_log_spark.functions.multimodal import (
        _decode_bytes,
        _decode_png,
        decode_media,
        synth_png_df,
        synth_png_payload,
    )

    dec = decode_media(synth_png_df(spark, 12), fake=False).toPandas()
    assert len(dec) == 12
    for r in dec.itertuples():
        i = int(r.media_id[1:])
        w, h = 4 + i % 9, 3 + i % 5
        bpp = {0: 1, 1: 3, 2: 2, 3: 4}[i % 4]  # color type 2*(i%4)
        assert (r.width, r.height) == (w, h) and pd.isna(r.n_frames)
        want = hashlib.md5(
            ",".join(str((i * 31 + j * 7) % 256) for j in range(w * h * bpp)).encode()
        ).hexdigest()
        assert r.checksum == want
    # a tall image exercises every filter type (scanline y uses y % 5)
    tall = synth_png_payload(2, w=6, h=11)
    d = _decode_png(tall)
    assert (d["width"], d["height"]) == (6, 11)
    # container identity != content identity: recompress the filtered
    # stream at zlib level 9 -> same checksum
    pos, parts = 8, {}
    while pos + 8 <= len(tall):
        ln = struct.unpack_from(">I", tall, pos)[0]
        parts[tall[pos + 4 : pos + 8]] = tall[pos + 8 : pos + 8 + ln]
        pos += 12 + ln

    def chunk(ct, body):
        return (struct.pack(">I", len(body)) + ct + body
                + struct.pack(">I", zlib.crc32(ct + body) & 0xFFFFFFFF))

    z9 = tall[:8] + chunk(b"IHDR", parts[b"IHDR"]) + chunk(
        b"IDAT", zlib.compress(zlib.decompress(parts[b"IDAT"]), 9)
    ) + chunk(b"IEND", b"")
    assert len(z9) != len(tall)  # genuinely a different container
    assert _decode_png(z9)["checksum"] == d["checksum"]
    # corrupt containers -> hard errors, never silent fakes
    p = synth_png_payload(5)
    with pytest.raises(ValueError, match="truncated"):
        _decode_bytes(p[:-1], "image", fake=False)
    flip = bytearray(p)
    flip[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _decode_png(bytes(flip))
    raw = zlib.decompress(parts[b"IDAT"])
    badf = bytearray(raw)
    badf[0] = 9  # filter type 9 does not exist
    bad_png = tall[:8] + chunk(b"IHDR", parts[b"IHDR"]) + chunk(
        b"IDAT", zlib.compress(bytes(badf))
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="filter type"):
        _decode_png(bad_png)
    short = tall[:8] + chunk(b"IHDR", parts[b"IHDR"]) + chunk(
        b"IDAT", zlib.compress(raw[:-3])
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflates"):
        _decode_png(short)


def test_multimodal_png_grayscale_and_roundtrip():
    """Grayscale widening + encoder/decoder round-trip property: for any
    (i, w, h, color) the decoder must recover exactly the formula raster
    the spec-real encoder filtered away — all five filter types (y % 5
    per scanline), all four supported color types, and strides of
    bpp 1/2/3/4 exercising the x >= bpp boundary of Sub/Average/Paeth.
    Palette PNGs (color type 3) stay behind the external-codec seam."""
    import hashlib
    import struct
    import zlib

    from nginx_log_spark.functions.multimodal import (
        _PNG_BPP,
        _decode_png,
        synth_png_payload,
    )

    pytest.importorskip("hypothesis", reason="hypothesis not installed")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        i=st.integers(min_value=0, max_value=10_000),
        w=st.integers(min_value=1, max_value=12),
        h=st.integers(min_value=1, max_value=11),
        color=st.sampled_from([0, 2, 4, 6]),
    )
    @settings(max_examples=300, deadline=None)
    def roundtrip(i, w, h, color):
        d = _decode_png(synth_png_payload(i, w=w, h=h, color=color))
        assert (d["width"], d["height"]) == (w, h)
        bpp = _PNG_BPP[color]
        want = hashlib.md5(
            ",".join(str((i * 31 + j * 7) % 256) for j in range(w * h * bpp)).encode()
        ).hexdigest()
        assert d["checksum"] == want

    roundtrip()

    # color type 3 (palette) is rejected at the IHDR gate: patch the
    # color byte of a valid container and fix the chunk CRC
    buf = bytearray(synth_png_payload(1, w=4, h=3, color=0))
    buf[25] = 3  # IHDR body byte 9 = color type
    buf[29:33] = struct.pack(">I", zlib.crc32(bytes(buf[12:29])) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="only 8-bit"):
        _decode_png(bytes(buf))


def test_multimodal_png_resize():
    """Real PNG resize: decode → integer nearest-neighbor → re-encode in
    the same color type; the output is itself a well-formed PNG that
    round-trips through the decoder, identity resize preserves the
    content checksum, and the pixel map matches an independent numpy
    nearest-neighbor computed from the synth formula."""
    import hashlib

    import numpy as np

    from nginx_log_spark.functions.multimodal import (
        _PNG_BPP,
        _decode_png,
        _resize_png,
        synth_png_payload,
    )

    for color in (0, 2, 4, 6):
        i, w, h = 7, 8, 6
        p = synth_png_payload(i, w=w, h=h, color=color)
        # identity resize: same raster, hence same content checksum
        same = _resize_png(p, w, h)
        assert same["checksum"] == _decode_png(p)["checksum"]
        # downscale: compare against an independent nearest-neighbor map
        out_w, out_h = 3, 4
        r = _resize_png(p, out_w, out_h)
        bpp = _PNG_BPP[color]
        src = np.array(
            [(i * 31 + j * 7) % 256 for j in range(w * h * bpp)], dtype=np.uint8
        ).reshape(h, w, bpp)
        ys = (np.arange(out_h) * h) // out_h
        xs = (np.arange(out_w) * w) // out_w
        want = src[ys][:, xs].tobytes()
        assert r["checksum"] == hashlib.md5(
            ",".join(str(b) for b in want).encode()
        ).hexdigest()
        # the re-encoded container is a real PNG of the same color type
        d = _decode_png(r["payload"])
        assert (d["width"], d["height"]) == (out_w, out_h)
        assert d["checksum"] == r["checksum"]
    # corrupt container -> hard error, never a silent fake
    with pytest.raises(ValueError):
        _resize_png(synth_png_payload(3)[:-2], 2, 2)


def test_multimodal_real_jpeg_decode(spark):
    """REAL entropy-coded image path: genuine baseline grayscale JPEG
    containers decoded end-to-end through the mapInPandas operator —
    marker walk, canonical Huffman built FROM the DHT segments,
    byte-stuffed entropy reader, DC-difference + AC run/size decode,
    dequantize, matrix IDCT. The block-constant + all-ones-qtable
    fixtures round-trip EXACTLY (only the losslessly-quantized DC
    coefficient survives); a general image at q=1 reconstructs within
    +-1 (DCT float rounding); corrupt containers raise ValueError and
    out-of-scope JPEG variants raise NotImplementedError at the seam."""
    import hashlib

    import numpy as np

    from nginx_log_spark.functions.jpeg import decode_jpeg_gray, encode_jpeg_gray
    from nginx_log_spark.functions.multimodal import (
        _decode_bytes,
        decode_media,
        synth_jpeg_df,
        synth_jpeg_payload,
    )

    dec = decode_media(synth_jpeg_df(spark, 12), fake=False).toPandas()
    assert len(dec) == 12
    for r in dec.itertuples():
        i = int(r.media_id[1:])
        w, h, bx = 8 * (1 + i % 3), 8 * (1 + i % 2), 1 + i % 3
        assert (r.width, r.height) == (w, h) and pd.isna(r.n_frames)
        want = hashlib.md5(
            ",".join(
                str((i * 37 + (((j // w) // 8) * bx + ((j % w) // 8)) * 29) % 256)
                for j in range(w * h)
            ).encode()
        ).hexdigest()
        assert r.checksum == want
    # container identity != content identity: the same raster encoded with
    # a DIFFERENT (uniform q=2, still DC-lossless for even DC) container
    # does not apply here — instead pin that a bit-identical re-encode of
    # the decoded raster collides (both containers carry the same content)
    p = synth_jpeg_payload(9)
    w, h, raster = decode_jpeg_gray(p)
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
    p2 = encode_jpeg_gray(img)
    assert _decode_bytes(p2, "image", fake=False)["checksum"] == \
        _decode_bytes(p, "image", fake=False)["checksum"]
    # general (non-constant) image at q=1: within +-1 of the source
    src = ((np.add.outer(np.arange(21) * 13, np.arange(19) * 7)) % 200 + 20
           ).astype(np.uint8)
    gw, gh, graster = decode_jpeg_gray(encode_jpeg_gray(src))
    got = np.frombuffer(graster, dtype=np.uint8).reshape(gh, gw)
    assert (gw, gh) == (19, 21)
    assert np.abs(got.astype(int) - src.astype(int)).max() <= 1
    # a lossy quantization table still decodes (coarse but close)
    lw, lh, lraster = decode_jpeg_gray(encode_jpeg_gray(src, qtable=[16] * 64))
    lossy = np.frombuffer(lraster, dtype=np.uint8).reshape(lh, lw)
    assert np.abs(lossy.astype(int) - src.astype(int)).mean() < 16
    # corrupt containers -> ValueError, never silent fakes
    with pytest.raises(ValueError):
        decode_jpeg_gray(p[:-1])  # missing EOI
    with pytest.raises(ValueError):
        decode_jpeg_gray(p[: len(p) // 2])  # truncated mid-scan
    with pytest.raises(ValueError):
        decode_jpeg_gray(b"\xff\xd8\xff\xd9")  # no scan at all
    # out-of-scope variants -> the external-codec seam
    prog = bytearray(p)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg_gray(bytes(prog))
    color = bytearray(p)
    color[sof + 9] = 3  # Nf: 1 component -> 3 (color)
    with pytest.raises(NotImplementedError, match="color"):
        decode_jpeg_gray(bytes(color))


def test_multimodal_real_mp4_decode(spark):
    """REAL video-container path: genuine ISO-BMFF box trees parsed
    end-to-end through the mapInPandas operator — ftyp validation, mvhd
    duration/timescale, tkhd 16.16 fixed-point dims, and a sample-table-
    driven demux (stsz sizes + stco offset slice the samples out of mdat,
    stts cross-checks the count). n_frames is the REAL sample count; the
    checksum anchors on the demuxed sample bytes (a remuxed container of
    the same samples collides); corrupt containers raise ValueError.
    Decoding sample bytes into pixels stays behind the seam."""
    import hashlib
    import struct

    from nginx_log_spark.functions.mp4 import encode_mp4, parse_mp4
    from nginx_log_spark.functions.multimodal import (
        decode_media,
        synth_mp4_df,
        synth_mp4_frames,
        synth_mp4_payload,
    )

    dec = decode_media(synth_mp4_df(spark, 12), fake=False).toPandas()
    assert len(dec) == 12
    for r in dec.itertuples():
        i = int(r.media_id[1:])
        frames = synth_mp4_frames(i)
        assert r.n_frames == len(frames)
        assert (r.width, r.height) == (16 * (1 + i % 3), 16 * (1 + i % 2))
        want = hashlib.md5(
            ",".join(str(b) for b in b"".join(frames)).encode()
        ).hexdigest()
        assert r.checksum == want
        # closed-form container size the oracle relies on
        assert r.n_bytes == 336 + 4 * len(frames) + sum(len(f) for f in frames)
    # the REAL sample counts feed the frame-sampling plan
    from nginx_log_spark.functions.multimodal import frame_sample_plan

    plan = frame_sample_plan(
        decode_media(synth_mp4_df(spark, 6), fake=False), every_n=2
    ).toPandas()
    for i in range(6):
        want = list(range(0, len(synth_mp4_frames(i)), 2))
        got = sorted(plan[plan.media_id == f"v{i:05d}"].frame_idx)
        assert got == want, (i, got, want)
    # demux round trip + duration math
    p = synth_mp4_payload(3)
    m = parse_mp4(p)
    assert m["frames"] == synth_mp4_frames(3)
    assert m["duration_ms"] == len(m["frames"]) * 100
    # a frame whose BYTES contain the stco box pattern still demuxes
    # (the muxer patches the header prefix, never mdat)
    evil = [b"\x00\x00\x00\x00" + struct.pack(">II", 1, 0) + b"zz"]
    assert parse_mp4(encode_mp4(evil, 8, 8, 40))["frames"] == evil
    # corrupt containers -> ValueError, never silent fakes
    with pytest.raises(ValueError):
        parse_mp4(p[:20])  # truncated before moov
    with pytest.raises(ValueError):
        parse_mp4(p[:-3])  # sample table points past mdat
    with pytest.raises(ValueError):
        parse_mp4(b"xxxx" + p[4:])  # missing leading ftyp
    bad_stsz = bytearray(p)
    stsz_pos = p.index(b"stsz")
    # 4 is readable from the 5-entry size table but contradicts stts
    struct.pack_into(">I", bad_stsz, stsz_pos + 12, 4)
    with pytest.raises(ValueError, match="sample-table mismatch"):
        parse_mp4(bytes(bad_stsz))


def test_multimodal_decode_exception_contract():
    """Fuzz pin for the reject-sink routing contract: for ARBITRARY bytes
    (random blobs, and single-byte mutations / truncations of genuine
    containers) the real-decode seam either returns metadata, raises
    ValueError (corrupt container -> reject sink), or raises
    NotImplementedError (external-codec seam -> unsupported sink) — never
    struct.error / ZeroDivisionError / IndexError, which would fail a
    whole decode job instead of routing one bad row."""
    pytest.importorskip("hypothesis", reason="hypothesis not installed")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nginx_log_spark.functions.multimodal import (
        _decode_bytes,
        synth_jpeg_payload,
        synth_mp4_payload,
        synth_png_payload,
        synth_ppm_payload,
        synth_wav_payload,
    )

    bases = [synth_wav_payload(3), synth_ppm_payload(4), synth_png_payload(5),
             synth_jpeg_payload(7), synth_mp4_payload(6)]

    mutated = st.builds(
        lambda base, cut, pos, val: (base[:cut] if cut is not None
                                     else base[:pos] + bytes([val]) + base[pos + 1:]),
        base=st.sampled_from(bases),
        cut=st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
        pos=st.integers(min_value=0, max_value=43),
        val=st.integers(min_value=0, max_value=255),
    )

    @given(payload=st.one_of(st.binary(max_size=64), mutated))
    @settings(max_examples=2000, deadline=None)
    def contract(payload):
        try:
            meta = _decode_bytes(payload, "image", fake=False)
            assert "checksum" in meta
        except (ValueError, NotImplementedError):
            pass  # the two routable outcomes

    contract()


def test_multimodal_decode_media_routed(spark):
    """Routed decode: one Arrow batch mixing a well-formed WAV, a corrupt
    PPM, and a GIF-magic payload yields ok / reject / unsupported rows —
    the job completes and downstream fans out on `status` exactly like
    the log router's parse-failure sink."""
    import pandas as pd

    from nginx_log_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _decode_wav,
        decode_media_routed,
        synth_ppm_payload,
        synth_wav_payload,
    )

    wav = synth_wav_payload(7)
    rows = [
        {"media_id": "ok", "media_type": "audio",
         "payload": bytearray(wav), "n_bytes": len(wav)},
        {"media_id": "bad", "media_type": "image",
         "payload": bytearray(synth_ppm_payload(2)[:-5]), "n_bytes": 10},
        {"media_id": "unsup", "media_type": "image",
         "payload": bytearray(b"GIF89a\x10\x00\x10\x00\x80\x00\x00"), "n_bytes": 13},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_media_routed(df, fake=False).collect()}
    assert out["ok"]["status"] == "ok" and out["ok"]["error"] is None
    assert out["ok"]["checksum"] == _decode_wav(wav)["checksum"]
    assert out["bad"]["status"] == "reject" and "truncated" in out["bad"]["error"]
    assert out["bad"]["checksum"] is None
    assert out["unsup"]["status"] == "unsupported"
    assert "real decode supports" in out["unsup"]["error"]


def test_multimodal_resize_dispatch(spark):
    """resize_media(fake=False) dispatches per container magic inside one
    Arrow batch — PPM, PNG, and JPEG rows in the SAME frame each resize
    through their own codec and re-encode in their own format — and an
    image payload in a format without a stdlib codec raises
    NotImplementedError at the documented seam (never a silent fake)."""
    import pandas as pd

    from nginx_log_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        _decode_jpeg,
        _decode_png,
        _ppm_header,
        resize_media,
        synth_jpeg_payload,
        synth_png_payload,
        synth_ppm_payload,
    )

    rows = [
        {"media_id": "a", "media_type": "image",
         "payload": bytearray(synth_ppm_payload(4)), "n_bytes": 0},
        {"media_id": "b", "media_type": "image",
         "payload": bytearray(synth_png_payload(5)), "n_bytes": 0},
        {"media_id": "j", "media_type": "image",
         "payload": bytearray(synth_jpeg_payload(6)), "n_bytes": 0},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in resize_media(df, 3, 2, fake=False).collect()}
    assert _ppm_header(bytes(out["a"]["payload"]))[:2] == (3, 2)
    d = _decode_png(bytes(out["b"]["payload"]))
    assert (d["width"], d["height"]) == (3, 2)
    assert d["checksum"] == out["b"]["checksum"]
    # the JPEG row re-encodes as a decodable 3x2 grayscale JPEG; its
    # checksum anchors on the pre-encode resized raster, and because
    # fixture 6 is a single 8x8 block (globally constant) the resized
    # raster is constant too, so the q=1 container round-trips it exactly
    dj = _decode_jpeg(bytes(out["j"]["payload"]))
    assert (dj["width"], dj["height"]) == (3, 2)
    assert dj["checksum"] == out["j"]["checksum"]

    gifish = [{"media_id": "c", "media_type": "image",
               "payload": bytearray(b"GIF89a\x10\x00\x10\x00\x80\x00\x00"),
               "n_bytes": 13}]
    bad = spark.createDataFrame(pd.DataFrame(gifish), schema=MEDIA_SCHEMA)
    with pytest.raises(Exception, match="real resize supports"):
        resize_media(bad, 3, 2, fake=False).collect()


def test_multimodal_real_wav_decode(spark):
    """REAL codec path: genuine RIFF/WAVE PCM containers parsed end-to-end
    through the mapInPandas operator — frame counts from the data chunk,
    checksum over the decoded int16 samples; corrupt containers raise."""
    import hashlib

    from nginx_log_spark.functions.multimodal import (
        _decode_bytes,
        decode_media,
        synth_wav_df,
        synth_wav_payload,
        synth_wav_samples,
    )

    dec = decode_media(synth_wav_df(spark, 12), fake=False).toPandas()
    assert len(dec) == 12
    for r in dec.itertuples():
        i = int(r.media_id[1:])
        samples = synth_wav_samples(i)
        assert r.n_frames == len(samples)
        assert pd.isna(r.width) and pd.isna(r.height)
        want = hashlib.md5(",".join(map(str, samples)).encode()).hexdigest()
        assert r.checksum == want
    # container identity != content identity: same samples, extra chunk
    # before data -> same checksum
    p = synth_wav_payload(3)
    extra = p[:12] + b"LIST\x04\x00\x00\x00info" + p[12:]
    extra = extra[:4] + (len(extra) - 8).to_bytes(4, "little") + extra[8:]
    assert (
        _decode_bytes(extra, "audio", fake=False)["checksum"]
        == _decode_bytes(p, "audio", fake=False)["checksum"]
    )
    # truncated data chunk -> hard error, never silent fake
    with pytest.raises(ValueError, match="truncated"):
        _decode_bytes(p[:-1], "audio", fake=False)


def test_multimodal_real_ppm_decode(spark):
    import hashlib

    from nginx_log_spark.functions.multimodal import _decode_bytes

    raster = bytes((i * 7) % 256 for i in range(5 * 4 * 3))
    ppm = b"P6\n# c\n5 4\n255\n" + raster
    d = _decode_bytes(ppm, "image", fake=False)
    assert (d["width"], d["height"], d["n_frames"]) == (5, 4, None)
    assert d["checksum"] == hashlib.md5(
        ",".join(str(b) for b in raster).encode()
    ).hexdigest()
    with pytest.raises(ValueError, match="truncated"):
        _decode_bytes(ppm[:-1], "image", fake=False)


def test_multimodal_real_resize(spark):
    """REAL resize path: nearest-neighbor PPM resize through mapInPandas —
    output pixels match the numpy reference map src=(dst*src_dim)//dst_dim,
    the re-encoded container round-trips through the real decoder, and an
    identity resize is a pixel-exact no-op. Includes a 255-wide image so a
    header scan that grepped for the maxval literal would mis-place the
    raster."""
    import hashlib

    import numpy as np

    from nginx_log_spark.functions.multimodal import (
        _decode_bytes,
        _resize_ppm,
        resize_media,
        synth_ppm_df,
        synth_ppm_payload,
    )

    out = resize_media(synth_ppm_df(spark, 10), 6, 5, fake=False).toPandas()
    assert len(out) == 10
    for r in out.itertuples():
        i = int(r.media_id[1:])
        src = synth_ppm_payload(i)
        w, h = 4 + i % 13, 3 + i % 7
        raster = np.frombuffer(src[src.index(b"255\n") + 4 :], dtype=np.uint8)
        raster = raster.reshape(h, w, 3)
        want = raster[(np.arange(5) * h) // 5][:, (np.arange(6) * w) // 6]
        dec = _decode_bytes(bytes(r.payload), "image", fake=False)
        assert (dec["width"], dec["height"]) == (6, 5)
        want_ck = hashlib.md5(
            ",".join(str(b) for b in want.tobytes()).encode()
        ).hexdigest()
        assert r.checksum == want_ck and dec["checksum"] == want_ck
    # identity resize = pixel-exact no-op
    p = synth_ppm_payload(7, w=9, h=6)
    ident = _resize_ppm(p, 9, 6)
    assert ident["checksum"] == _decode_bytes(p, "image", fake=False)["checksum"]
    # width=255: the maxval literal appears in the dims — header scan must
    # still find the raster at the right offset
    wide = synth_ppm_payload(1, w=255, h=2)
    up = _resize_ppm(wide, 10, 2)
    src_raster = np.frombuffer(
        wide[wide.index(b"255 2\n255\n") + len(b"255 2\n255\n") :], dtype=np.uint8
    ).reshape(2, 255, 3)
    want = src_raster[:, (np.arange(10) * 255) // 10]
    assert up["checksum"] == hashlib.md5(
        ",".join(str(b) for b in want.tobytes()).encode()
    ).hexdigest()
    # corrupt container -> hard error; unsupported format -> declared seam
    with pytest.raises(ValueError):
        _resize_ppm(p[:-1], 4, 4)
    fake = resize_media(synth_ppm_df(spark, 4), 3, 3, fake=True).toPandas()
    assert fake.payload.isna().all() and fake.checksum.notna().all()
    fake2 = resize_media(synth_ppm_df(spark, 4), 3, 3, fake=True).toPandas()
    assert (fake.sort_values("media_id").checksum.to_numpy()
            == fake2.sort_values("media_id").checksum.to_numpy()).all()


def test_repetition_stats_known_values(spark):
    from nginx_log_spark.functions import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "abcdefgh" * 4),   # 'abcdefgh' repeated: heavy duplication
            (2, "short"),           # < 8 chars: zeros
            (3, "abcdefghijklmnop"),  # all distinct 8-grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc 1: 32 chars -> 25 grams, distinct = 8 (cyclic shifts of abcdefgh)
    assert got[1]["n_grams"] == 25 and got[1]["n_distinct_grams"] == 8
    assert abs(got[1]["dup_gram_frac"] - round((25 - 8) / 25, 6)) < 1e-9
    assert got[2]["n_grams"] == 0 and got[2]["dup_gram_frac"] == 0.0
    assert got[3]["n_grams"] == 9 and got[3]["n_distinct_grams"] == 9
    assert got[3]["dup_gram_frac"] == 0.0


def test_split_contamination_planted_overlap(spark):
    from nginx_log_spark.functions import split_contamination

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    val = spark.createDataFrame(
        [
            (10, "quick brown fox says hi"),     # shares grams with train
            (11, "zzzz yyyy xxxx wwww vvvv uu"), # disjoint
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_shared_grams"] for r in split_contamination(train, val).collect()}
    assert 10 in got and got[10] > 0
    assert 11 not in got


def test_simhash_neardup_bucket_cap_bounds_degenerate_corpus(spark):
    """A corpus of identical docs puts everyone in every band bucket; the
    cap must bound the join instead of letting it go quadratic."""
    from nginx_log_spark.functions import simhash_neardup_pairs

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(200), "text": ["same text here"] * 200})
    )
    capped = simhash_neardup_pairs(docs, max_hamming=3, max_bucket=50)
    assert capped.count() == 0  # every bucket oversized -> no candidates
    uncapped = simhash_neardup_pairs(docs, max_hamming=3)
    assert uncapped.count() == 200 * 199 // 2


def test_simhash64_close_for_near_dupes(spark, docs):
    from nginx_log_spark.functions import simhash64

    base = docs.limit(20).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    sh = simhash64(base.union(dup)).toPandas().set_index("doc_id").simhash64
    # two's-complement long -> unsigned for the popcount
    dists = [bin((int(sh[i]) ^ int(sh[i + 100000])) & (2**64 - 1)).count("1")
             for i in sh.index if i < 100000]
    assert np.mean(dists) < 12  # near-dupes stay hamming-close on 64 bits
    rng = [bin((int(a) ^ int(b)) & (2**64 - 1)).count("1")
           for a, b in zip(sh.iloc[:10], sh.iloc[5:15])]
    assert np.mean(rng) > np.mean(dists)  # and unrelated docs are farther


def test_multiprobe_recall_dominates_single_probe(spark, embs):
    from nginx_log_spark.functions import lsh_ann_topk_multiprobe

    q = list(embs.orderBy("vec_id").first()["embedding"])
    exact_ids = set(cosine_topk(embs, q, k=10).toPandas().vec_id)
    single = set(lsh_ann_topk(embs, q, k=10, n_planes=4).toPandas().vec_id)
    multi = set(
        lsh_ann_topk_multiprobe(embs, q, k=10, n_planes=4, probe_bits=1)
        .toPandas().vec_id
    )
    # probing more buckets can only improve recall vs exact
    assert len(multi & exact_ids) >= len(single & exact_ids)
    # probing EVERY bucket is exhaustive == exact
    full = set(
        lsh_ann_topk_multiprobe(embs, q, k=10, n_planes=4, probe_bits=4)
        .toPandas().vec_id
    )
    assert full == exact_ids


def test_verify_pairs_jaccard_matches_full_join(spark, docs):
    """array_intersect pair-verify == the explode/self-join Jaccard when
    fed the complete candidate list."""
    import itertools

    from nginx_log_spark.functions.dedup import verify_pairs_jaccard

    sub = docs.limit(40)
    full = ngram_jaccard_pairs(sub, shingle_k=5, threshold=0.3).toPandas()
    ids = sorted(r[0] for r in sub.select("doc_id").collect())
    cand = spark.createDataFrame(
        pd.DataFrame(list(itertools.combinations(ids, 2)), columns=["id_a", "id_b"])
    )
    got = verify_pairs_jaccard(sub, cand, shingle_k=5, threshold=0.3).toPandas()
    key = lambda d: {(r.id_a, r.id_b): r.jaccard for r in d.itertuples()}
    assert key(got) == key(full)
    assert len(got) > 0


def test_seed_centroids_sparse_ids_and_empty(spark, embs):
    """Sparse / non-zero-based id spaces must still yield exactly
    n_centroids (smallest-by-sort-order), and an empty input raises
    instead of silently producing an empty quantizer."""
    from nginx_log_spark.functions import seed_centroids

    shifted = embs.select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    cents = seed_centroids(shifted, n_centroids=8)
    assert [c for c, _ in cents] == list(range(1000, 1008))
    empty = embs.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="no vectors"):
        seed_centroids(empty, n_centroids=8)


def test_tfidf_cosine_topk_ranks_overlap(spark):
    """Sparse hashed TF-IDF retrieval: a doc sharing most words with the
    query ranks above one sharing few; disjoint docs don't appear (no
    shared bucket => no dot product row); the query itself is excluded;
    scores match a local sklearn-convention recomputation."""
    import math
    from collections import Counter

    from nginx_log_spark.functions import tfidf_cosine_topk

    rows = [
        (0, "apple banana cherry date egg fig"),
        (1, "apple banana cherry date egg grape"),  # 5/6 overlap
        (2, "apple banana melon kiwi lime peach"),  # 2/6 overlap
        (3, "stone iron copper zinc lead tin"),  # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tfidf_cosine_topk(df, query_id=0, k=10, dims=64).toPandas()
    # high-overlap beats low-overlap; the query never returns itself.
    # (the disjoint doc MAY appear with a tiny score via bucket
    # collisions — inherent to the hashing trick and modeled identically
    # by the local recomputation below)
    assert list(got.doc_id)[:2] == [1, 2]
    assert 0 not in set(got.doc_id)
    # local recomputation (collisions included — same hash both sides)
    def bucket(w):
        import hashlib as h

        return int(h.md5(w.encode()).hexdigest()[:8], 16) % 64

    tfs = {i: Counter(bucket(w) for w in t.split()) for i, t in rows}
    dfreq = Counter(b for tf in tfs.values() for b in tf)
    idf = {b: math.log((4 + 1) / (dfreq[b] + 1)) + 1 for b in dfreq}
    w = {i: {b: c * idf[b] for b, c in tf.items()} for i, tf in tfs.items()}
    nrm = {i: math.sqrt(sum(x * x for x in wi.values())) for i, wi in w.items()}
    for r in got.itertuples():
        dot = sum(w[0][b] * w[r.doc_id].get(b, 0.0) for b in w[0])
        assert abs(r.cosine - dot / (nrm[0] * nrm[r.doc_id])) < 1e-6


def test_semantic_dedup_drops_intra_cell_dups_only(spark):
    """SemDeDup: near-identical vectors landing in the same k-means cell are
    deduped (min-id kept); dissimilar vectors in the same cell survive."""
    from nginx_log_spark.functions import semantic_dedup

    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3, 4, 5],
            "embedding": [
                [1.0, 0.0],
                [0.999, 0.01],  # dup of 1, same cell
                [0.0, 1.0],
                [0.01, 0.999],  # dup of 3, same cell
                [0.7, 0.7],  # same cell as one of them, but cosine ~0.707
            ],
        }
    )
    df = spark.createDataFrame(pdf)
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    kept = semantic_dedup(df, cents, threshold=0.99).toPandas()
    assert sorted(kept.vec_id) == [1, 3, 5]


def test_neardup_bucketed_plan_builds_without_job(spark):
    """exact=False with dims= must not run any job at plan-build time —
    previously a .first() inferred dims, an action inside an operator
    constructor (VERDICT r2). On an EMPTY frame the old code crashed."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = embedding_neardup_pairs(empty, threshold=0.9, exact=False, dims=4)
    assert out.count() == 0
    with pytest.raises(ValueError, match="dims"):
        embedding_neardup_pairs(empty, threshold=0.9, exact=False)


def test_ivf_indexed_query_prunes_and_matches_live(spark, embs, tmp_path):
    """ANN over the materialized IVF index == the re-assigning live path,
    and the probed-cell predicate is a partition filter on the scan."""
    from nginx_log_spark.functions import (
        ivf_ann_topk,
        ivf_ann_topk_indexed,
        write_ivf_index,
    )

    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    path = str(tmp_path / "ivf_idx")
    cents = write_ivf_index(embs, path, n_centroids=8)
    idx = ivf_ann_topk_indexed(spark, path, cents, q, k=10, n_probe=2)
    live = ivf_ann_topk(embs, q, k=10, n_centroids=8, n_probe=2).toPandas()
    got = idx.toPandas()
    assert list(got.vec_id) == list(live.vec_id)
    assert list(got.cosine) == list(live.cosine)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:200]


def test_lsh_prebucketed_multiprobe_prunes_and_matches_live(spark, embs, tmp_path):
    """Multi-probe over the materialized LSH index == the re-sketching
    live path; the probe IN-list stays a partition filter."""
    from nginx_log_spark.functions import (
        lsh_ann_topk_multiprobe,
        lsh_ann_topk_prebucketed,
        write_bucketed_embeddings,
    )

    q = list(embs.filter(F.col("vec_id") == 0).first()["embedding"])
    path = str(tmp_path / "emb_mp")
    write_bucketed_embeddings(embs, path, dims=len(q), n_planes=4)
    pre = lsh_ann_topk_prebucketed(spark, path, q, k=10, n_planes=4, probe_bits=1)
    live = lsh_ann_topk_multiprobe(embs, q, k=10, n_planes=4, probe_bits=1).toPandas()
    got = pre.toPandas()
    assert list(got.vec_id) == list(live.vec_id)
    assert list(got.cosine) == list(live.cosine)
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:200]


def test_winnow_long_doc_is_linear(spark):
    """100k-char doc: the one-projection normalization keeps the k-gram
    sketch linear (the old inlined-regex-per-element form was O(len^2) —
    ~10^10 char ops here, minutes not seconds). Verified against a direct
    Python recomputation of the 4 smallest md5 8-gram hashes."""
    import hashlib
    import time

    text = ("lorem ipsum dolor sit amet " * 4000)[:100_000]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ["d0"], "text": [text]}))
    t0 = time.perf_counter()
    got = winnow_fingerprints(df, k=8, keep=4).toPandas().fingerprints[0]
    assert time.perf_counter() - t0 < 60
    import re

    nrm = re.sub(r"\s+", " ", text.lower())
    hashes = sorted(
        hashlib.md5(nrm[i : i + 8].encode()).hexdigest()
        for i in range(len(nrm) - 7)
    )
    assert list(got) == hashes[:4]


def test_ivf_kmeans_refine_moves_to_cell_means(spark, embs):
    """One Lloyd round: every refined centroid equals its cell's exact
    per-dim mean (numpy reference over the live assignment); a duplicate
    centroid whose cell goes empty keeps its previous value."""
    from nginx_log_spark.functions import (
        ivf_assign,
        ivf_kmeans_refine,
        seed_centroids,
    )

    cents = seed_centroids(embs, n_centroids=8)
    # centroid 99 duplicates centroid 0's vector: cosine ties break to the
    # SMALLER cid, so cell 99 receives no vectors (empty-cell path)
    cents_plus = cents + [(99, list(cents[0][1]))]
    refined = dict(ivf_kmeans_refine(embs, cents_plus, rounds=1))
    assert refined[99] == pytest.approx(cents[0][1])  # kept, not zeroed

    assigned = ivf_assign(embs, cents_plus).select("cell", "embedding").toPandas()
    for cid, vec in refined.items():
        cell = assigned[assigned.cell == cid]
        if cid == 99:
            assert len(cell) == 0
            continue
        M = np.round(np.array(list(cell.embedding), dtype=np.float64) * 1e6)
        exp = M.sum(axis=0) / 1e6 / len(cell)
        assert np.allclose(vec, exp, atol=1e-12), cid


def test_connected_components_vs_pairwise_keep(spark):
    """Min-label propagation finds exact components, and CC retention keeps
    exactly ONE doc per cluster where the pairwise rule keeps every local
    minimum: edges (1,5),(2,5) — pairwise keeps {1,2}, CC keeps {1}."""
    from nginx_log_spark.functions import (
        dedup_keep,
        dedup_keep_components,
        neardup_components,
    )

    pairs = spark.createDataFrame(
        [(1, 5), (2, 5), (7, 8), (8, 9)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component for r in neardup_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 5: 1, 7: 7, 8: 7, 9: 7}

    docs = spark.createDataFrame(
        [(i, "x") for i in [1, 2, 5, 7, 8, 9, 42]], "doc_id long, source string"
    )
    pairwise = {r.doc_id for r in dedup_keep(docs, pairs).collect()}
    cc = {r.doc_id for r in dedup_keep_components(docs, pairs).collect()}
    assert pairwise == {1, 2, 7, 42}  # 2 survives: no smaller neighbor
    assert cc == {1, 7, 42}  # one representative per cluster


def test_connected_components_long_chain_raises_past_bound(spark):
    """Pointer jumping makes rounds O(log diameter): a 40-node path graph
    (diameter 39) converges in <= 7 rounds (plain hop propagation would
    need 39); with max_rounds=1 non-convergence still raises instead of
    returning a partial clustering."""
    from nginx_log_spark.functions import neardup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    comp = {
        r.node: r.component
        for r in neardup_components(chain, max_rounds=7).collect()
    }
    assert set(comp.values()) == {1} and len(comp) == 40
    with pytest.raises(ValueError, match="no fixpoint"):
        neardup_components(chain, max_rounds=1)


def test_prefix_jaccard_equals_exhaustive(spark, open_vocab_docs):
    """prefix_jaccard_pairs must return EXACTLY ngram_jaccard_pairs' result
    (same pairs, same rounded jaccard) on three fixtures, at three
    thresholds each including one where t*|d| is integral for some docs
    (the ceil/floor edge):

    - a seeded random corpus with planted near-dup clones, boilerplate-heavy
      docs (hot shingles), identical twins (J=1) and sub-threshold siblings;
    - every doc sharing one boilerplate tail (those shingles have df = n,
      the maximal skew for the frequency annotation);
    - an open vocabulary (random letters, > 2^13 distinct shingles), which
      takes the relational path; the other two take the in-row path."""
    import random

    from nginx_log_spark.functions import ngram_jaccard_pairs, prefix_jaccard_pairs

    rng = random.Random(99)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    boiler = "the quick brown fox jumps over the lazy dog"
    rows = []
    for i in range(60):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randrange(4, 14))]
        rows.append((i, " ".join(words) + " " + boiler))
    for i in range(60, 75):  # planted clones of doc (i-60): identical
        rows.append((i, rows[i - 60][1]))
    for i in range(75, 90):  # near-clones: one word appended
        rows.append((i, rows[i - 75][1] + " zulu"))
    header = "common boilerplate header shared by every single document here"
    skew = [(i, f"doc number {i} unique payload u{i}a u{i}b u{i}c " + header)
            for i in range(40)]
    skew += [(100 + i, skew[i][1]) for i in range(10)]  # identical clones
    fixtures = {
        "clones": spark.createDataFrame(rows, "doc_id long, text string"),
        "boilerplate": spark.createDataFrame(skew, "doc_id long, text string"),
        "open_vocab": open_vocab_docs,
    }
    for name, df in fixtures.items():
        for t in (0.5, 0.7, 0.9):
            exact = ngram_jaccard_pairs(df, shingle_k=5, threshold=t).collect()
            fast = prefix_jaccard_pairs(df, shingle_k=5, threshold=t).collect()
            want = {(r.id_a, r.id_b): r.jaccard for r in exact}
            got = {(r.id_a, r.id_b): r.jaccard for r in fast}
            assert got == want, f"{name} t={t}: {len(got)} vs {len(want)} pairs"
            assert want, f"{name} t={t}: vacuous fixture"


def test_prefix_jaccard_mask_verify_parity(spark):
    """The in-row path's bitset verify: |A∩B| comes from
    popcount(maskA AND maskB) over bit positions ASSIGNED by the global
    shingle order — a bijection, no hashing. The result (pairs AND the
    rounded jaccard values) must equal ngram_jaccard_pairs' on a fixture
    whose vocabulary spans a non-multiple-of-64 bit count, with docs that
    share everything / nothing, a null text (no shingles, no pairs), and
    at a threshold whose t*|d| product rounds up across an integer (the
    filter-boundary hazard pinned by test_prefix_jaccard_filter_boundaries).
    The plan verifies by bit_count and never intersects shingle arrays."""
    import random

    from nginx_log_spark.functions import ngram_jaccard_pairs, prefix_jaccard_pairs

    rng = random.Random(7)
    words = [f"w{i:02d}" for i in range(40)]
    rows = []
    for i in range(50):
        pick = [words[rng.randrange(len(words))] for _ in range(rng.randrange(5, 15))]
        rows.append((i, " ".join(pick)))
    for i in range(50, 62):  # identical twins (J = 1)
        rows.append((i, rows[i - 50][1]))
    for i in range(62, 74):  # near-clones: one word appended
        rows.append((i, rows[i - 62][1] + " zz"))
    rows.append((99, "0123456789"))  # disjoint from everything
    rows.append((98, None))
    # the t=0.56 exact-boundary pair of the filter-boundaries test
    rows.append((200, "abcdefghijklmnopqrstuvwxyz012"))
    rows.append((201, "abcdefghijklmnopqrstuvwxyz012"[:18]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t in (0.56, 0.7):
        with_masks = {(r.id_a, r.id_b): r.jaccard
                      for r in prefix_jaccard_pairs(
                          df, shingle_k=5, threshold=t
                      ).collect()}
        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in ngram_jaccard_pairs(
                     df, shingle_k=5, threshold=t
                 ).collect()}
        assert with_masks == exact, f"threshold={t}"
        assert with_masks, f"threshold={t}: vacuous fixture"
        if t == 0.56:  # the exact-boundary pair must survive
            assert (200, 201) in with_masks, with_masks
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        prefix_jaccard_pairs(df, shingle_k=5, threshold=0.7).explain("formatted")
    p = buf.getvalue()
    assert "bit_count" in p and "array_intersect" not in p, p


def test_prefix_jaccard_filter_boundaries(spark):
    """The PPJoin length/positional filters must never false-prune a pair
    sitting EXACTLY at the threshold. An all-distinct-substring alphabet
    string gives |shingles| = len - 4, so A = first 18 chars of B
    (29 chars) nests the shingle sets with J = 14/25 = 0.56 precisely —
    and t=0.56 is a float whose t*max(|A|,|B|) product ROUNDS UP
    (0.56 * 25 = 14.000000000000002), so without the epsilon slack the
    length filter would drop this qualifying pair. The positional bound
    also lands exactly on the required overlap (cm=1 + min-suffix 13 =
    14 = t/(1+t)*39)."""
    from nginx_log_spark.functions import ngram_jaccard_pairs, prefix_jaccard_pairs

    t = 0.56
    assert 14 < t * 25  # the rounding hazard this test pins
    b_text = "abcdefghijklmnopqrstuvwxyz012"  # 29 chars, 25 distinct 5-grams
    a_text = b_text[:18]  # 14 distinct 5-grams, all shared
    rows = [(0, a_text), (1, b_text), (2, "0123456789")]  # doc 2: disjoint
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(df, shingle_k=5, threshold=t).collect()}
    assert (0, 1) in exact and abs(exact[(0, 1)] - t) < 1e-9, exact
    fast = {(r.id_a, r.id_b): r.jaccard
            for r in prefix_jaccard_pairs(df, shingle_k=5, threshold=t).collect()}
    assert fast == exact, f"{fast} vs {exact}"


def test_temperature_resample_flattens_mixture(spark):
    """alpha=1 keeps everything (identity); alpha=0 equalizes expected
    stratum volumes to ~n_min; alpha in between lands in between; the
    smallest stratum is never downsampled; alpha<0 raises."""
    from nginx_log_spark.functions import temperature_resample

    rows = [(i, "big" if i < 1600 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def kept_by(alpha):
        out = temperature_resample(df, alpha=alpha, key_col="doc_id").toPandas()
        g = out.groupby("source").size()
        return g.get("big", 0), g.get("small", 0)

    assert kept_by(1.0) == (1600, 400)
    b0, s0 = kept_by(0.0)  # expected big ~= 400 (rate 400/1600)
    assert s0 == 400 and 300 < b0 < 500
    b5, s5 = kept_by(0.5)  # rate = (1600/400)^-0.5 = 0.5 -> ~800
    assert s5 == 400 and 700 < b5 < 900
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, alpha=-0.1, key_col="doc_id")


def test_top_fraction_per_stratum_matches_naive(spark):
    """The two-phase bucketed gate == a naive per-stratum window with
    k = ceil(n * frac); frac=1.0 keeps everything; bad frac raises."""
    import math

    from nginx_log_spark.functions import top_fraction_per_stratum

    rows = [(i, f"s{i % 3}", float((i * 37) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string, sc double")
    got = top_fraction_per_stratum(
        df, F.col("sc"), 0.25, buckets=16
    ).toPandas()
    # naive reference
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "source", "sc"])
    want = set()
    for s, g in pdf.groupby("source"):
        k = math.ceil(len(g) * 0.25)
        want |= set(
            g.sort_values(["sc", "doc_id"], ascending=[False, True])
            .head(k)
            .doc_id
        )
    assert set(got.doc_id) == want
    assert got.stratum_rank.max() == math.ceil(100 * 0.25)
    assert top_fraction_per_stratum(df, F.col("sc"), 1.0).count() == 300
    with pytest.raises(ValueError, match="frac"):
        top_fraction_per_stratum(df, F.col("sc"), 0.0)


def test_dsir_selects_target_like_docs(spark):
    """DSIR: pool docs sharing the target domain's distinctive vocabulary
    must outrank pool docs that don't — at these weight magnitudes the
    Gumbel noise never flips the ordering. Target rows never appear in
    the output."""
    from nginx_log_spark.functions import dsir_select

    rows = []
    # 5 target exemplars: heavy on 'genome protein enzyme'
    for i in range(5):
        rows.append((i, "tgt", "genome protein enzyme " * 10))
    # 10 in-domain pool docs, 30 off-domain pool docs
    for i in range(10, 20):
        rows.append((i, "pool", "genome protein enzyme cell " * 8))
    for i in range(20, 50):
        rows.append((i, "pool", f"football score goal match{i} " * 8))
    df = spark.createDataFrame(rows, "doc_id long, grp string, text string")
    out = dsir_select(df, F.col("grp") == "tgt", k=10, seed="t").toPandas()
    assert sorted(out.doc_id) == list(range(10, 20))
    assert (out.grp == "pool").all()
    # deterministic
    again = dsir_select(df, F.col("grp") == "tgt", k=10, seed="t").toPandas()
    assert sorted(again.doc_id) == sorted(out.doc_id)


def test_score_weighted_sample_rates(spark):
    """P(keep) tracks the score: score 1.0 keeps everything, score 0 keeps
    nothing, and a 0.5-score population lands near half (deterministic,
    so the observed rate is a fixed number, asserted loosely)."""
    from nginx_log_spark.functions import score_weighted_sample

    n = 2000
    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.5][i % 3]) for i in range(n)], "doc_id long, s double"
    )
    kept = score_weighted_sample(df, F.col("s"), "doc_id", seed="t").toPandas()
    by_s = kept.groupby("s").size()
    assert by_s.get(1.0, 0) == len([i for i in range(n) if i % 3 == 0])
    assert by_s.get(0.0, 0) == 0
    half = by_s.get(0.5, 0) / len([i for i in range(n) if i % 3 == 2])
    assert 0.4 < half < 0.6
    # deterministic: the same call returns the same membership
    again = score_weighted_sample(df, F.col("s"), "doc_id", seed="t").toPandas()
    assert set(kept.doc_id) == set(again.doc_id)


def test_paragraph_dup_stats_planted_boilerplate(spark):
    """Docs sharing an injected boilerplate sentence get dup_span_frac > 0
    for exactly that span; unique docs stay at 0; span-free docs get a
    zero row (not dropped)."""
    from nginx_log_spark.functions import paragraph_dup_stats

    boiler = "subscribe to our newsletter for all the latest updates today"
    rows = [
        (1, f"{boiler}. a unique first sentence about owls and trees."),
        (2, f"{boiler}. another entirely different body of running text."),
        (3, "completely original content with no shared sentences at all."),
        (4, "x."),  # no span >= 20 chars
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_frac)
        for r in paragraph_dup_stats(df).collect()
    }
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (1, 0, 0.0)
    assert got[4] == (0, 0, 0.0)


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    """C4-style removal: the min-(doc_id, idx) instance of a duplicated
    span survives, all later instances are cut, unique spans are
    untouched, and cleaned_fp equals md5 of the locally rebuilt text."""
    import hashlib

    from nginx_log_spark.functions import remove_duplicate_spans

    boiler = "subscribe to our newsletter for all the latest updates today"
    rows = [
        (1, f"{boiler}. a unique first sentence about owls and trees."),
        (2, f"{boiler}. another entirely different body of running text."),
        (3, f"some original lead-in sentence here. {boiler}."),
        (4, "x."),  # no qualifying span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_kept_spans, r.n_removed_spans, r.cleaned_fp)
        for r in remove_duplicate_spans(df).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # the final period never follows '. ' so it stays glued to the last
    # span: doc 3's "{boiler}." is therefore a DIFFERENT span from docs
    # 1/2's bare "{boiler}" — only the doc-1/doc-2 pair deduplicates, and
    # doc 1 (min doc_id) holds the canonical occurrence
    assert got[1] == (
        2, 0, md5(f"{boiler}. a unique first sentence about owls and trees."),
    )
    assert got[2] == (1, 1, md5("another entirely different body of running text."))
    assert got[3] == (2, 0, md5(f"some original lead-in sentence here. {boiler}."))
    assert got[4] == (0, 0, md5(""))


def test_remove_duplicate_spans_word_window_mode(spark):
    """Word-window spans: docs tiled into fixed 3-word blocks; a block
    shared across docs is kept only at its min-(doc, idx) site; the
    rebuilt text is the kept blocks space-joined in order."""
    import hashlib

    from nginx_log_spark.functions import remove_duplicate_spans

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma other words here tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_kept_spans, r.n_removed_spans, r.cleaned_fp)
        for r in remove_duplicate_spans(df, word_window=3).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == (2, 0, md5("alpha beta gamma delta epsilon zeta"))
    # doc 2's first block duplicates doc 1's; its tail blocks survive
    assert got[2] == (2, 1, md5("other words here tail"))


def test_redact_pii_patterns_and_counts(spark):
    """Each PII rule matches its target, counts come from the ORIGINAL
    text, redaction applies all rules in order, PII-free text is
    untouched."""
    from nginx_log_spark.functions import redact_pii

    rows = [
        (1, "mail bob.smith+x@sub.example.org now"),
        (2, "peer 192.168.0.1 and 10.0.0.255 responded"),
        (3, "call +1 555 0042 or +44 20 7946 0958"),
        (4, "no pii here at all"),
        (5, "a@b.co from 8.8.8.8 dial +1 555 1234"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert got[1].text == "mail <EMAIL> now"
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 2, 0)
    assert got[2].text == "peer <IP> and <IP> responded"
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 2)
    assert got[3].text == "call <PHONE> or <PHONE>"
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0)
    assert got[4].text == "no pii here at all"
    assert got[5].text == "<EMAIL> from <IP> dial <PHONE>"


def test_unigram_logprob_score_exact_small(spark):
    """Hand-computable corpus: 'a a a b' -> p(a)=3/4, p(b)=1/4; fixed-point
    sums are exact integers; OOV floor applies under a vocab cap."""
    import math

    from nginx_log_spark.functions import unigram_logprob_score

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in unigram_logprob_score(df).collect()}
    lp_a = round(math.log(3 / 4) * 1e6)
    lp_b = round(math.log(1 / 4) * 1e6)
    assert got[1].n_words == 3 and got[1].n_oov == 0
    assert got[1].sum_lp_e6 == 3 * lp_a
    assert got[1].avg_nll_e6 == round(-3 * lp_a / 3)
    assert got[2].sum_lp_e6 == lp_b
    # cap vocab to 1: 'b' falls out and scores at the floor 1/total
    capped = {
        r.doc_id: r
        for r in unigram_logprob_score(df, top_v=1).collect()
    }
    assert capped[2].n_oov == 1
    assert capped[2].sum_lp_e6 == round(math.log(1 / 4) * 1e6)
    assert capped[1].n_oov == 0  # 'a' is the top-1 word


def test_unigram_logprob_empty_doc_gets_zero_row(spark):
    from nginx_log_spark.functions import unigram_logprob_score

    df = spark.createDataFrame(
        [(1, "x y"), (2, "   ")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in unigram_logprob_score(df).collect()}
    assert got[2].n_words == 0 and got[2].avg_nll_e6 == 0
    assert got[1].n_words == 2


def test_redact_pii_idempotent_and_complete(spark):
    """After one redaction pass no PII pattern matches anything, so a
    second pass is a no-op (the property a re-run scrub job relies on)."""
    from nginx_log_spark.functions import redact_pii

    rows = [
        (1, "x a.b-c_d%e+f@g-h.io y 1.2.3.4 z +9 876 543 21 end"),
        (2, "double bob@x.org bob@x.org 10.0.0.1 10.0.0.1"),
        (3, "tricky user@[10.0.0.1] and +1 555 0000@mail.com"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = redact_pii(df).select("doc_id", "text")
    twice = redact_pii(once).collect()
    for r in twice:
        assert (r.n_email, r.n_ipv4, r.n_phone) == (0, 0, 0), r
    once_map = {r.doc_id: r.text for r in once.collect()}
    for r in twice:
        assert r.text == once_map[r.doc_id]


def test_bigram_logprob_score_exact_small(spark):
    """Corpus 'a b a b a' + 'b b': bigrams (a b)x2,(b a)x2,(b b)x1;
    c(a .)=2, c(b .)=3. Hand-check P(b|a)=1, P(a|b)=2/3, P(b|b)=1/3;
    single-word and empty docs get zero rows, not dropped."""
    import math

    from nginx_log_spark.functions import bigram_logprob_score

    # Spark's round() is HALF_UP (as is DuckDB's half-away-from-zero, and
    # avg NLL is always >= 0 so they agree); Python's built-in round is
    # banker's — use HALF_UP in expectations (exact .5 ties DO occur:
    # sum=-810930 over 4 bigrams -> 202732.5)
    def rnd(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "b b"), (3, "solo"), (4, " ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_logprob_score(df).collect()}
    lp_ab = rnd(math.log(2 / 2) * 1e6)   # P(b|a) = 1
    lp_ba = rnd(math.log(2 / 3) * 1e6)
    lp_bb = rnd(math.log(1 / 3) * 1e6)
    assert got[1].n_bigrams == 4
    assert got[1].sum_blp_e6 == 2 * lp_ab + 2 * lp_ba
    assert got[1].avg_bnll_e6 == rnd(-(2 * lp_ab + 2 * lp_ba) / 4)
    assert got[2].n_bigrams == 1 and got[2].sum_blp_e6 == lp_bb
    # 'solo' has no transition; blank doc has no words
    assert got[3].n_bigrams == 0 and got[3].avg_bnll_e6 == 0
    assert got[4].n_bigrams == 0
    # cap to 1: only the lexicographically-first of the count-2 bigrams
    # ('a b') stays; every other transition scores at the floor 1/5
    capped = {r.doc_id: r for r in bigram_logprob_score(df, top_v=1).collect()}
    floor = rnd(math.log(1 / 5) * 1e6)
    assert capped[1].sum_blp_e6 == 2 * lp_ab + 2 * floor
    assert capped[2].sum_blp_e6 == floor


def test_source_quota_cap_matches_naive_window(spark):
    """Two-phase bucketed quota == plain per-key window, including a hot
    key 50x larger than the rest and score ties broken by id."""
    import pandas as pd
    from pyspark.sql import Window

    from nginx_log_spark.functions import source_quota_cap

    rows = []
    for i in range(500):  # hot source
        rows.append(("hot", f"d{i:04d}", float(i % 7)))  # heavy score ties
    for s in ("a", "b"):
        for i in range(10):
            rows.append((s, f"{s}{i:02d}", float(i)))
    rows.append(("tiny", "t0", 1.0))  # fewer rows than k
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["source", "doc_id", "sc"]))

    got = source_quota_cap(df, F.col("sc"), k=8, buckets=16).select(
        "source", "doc_id", "quota_rank"
    )
    w = Window.partitionBy("source").orderBy(F.desc("sc"), F.asc("doc_id"))
    exp = (
        df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= 8)
        .select("source", "doc_id", "quota_rank")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    n_per = {r["source"]: r["n"] for r in got.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert n_per == {"hot": 8, "a": 8, "b": 8, "tiny": 1}


def test_png_idat_bomb_rejected_before_allocation():
    """ADVICE r5: a crafted IDAT must not inflate past the IHDR raster
    size (memory amplification) — bounded inflate rejects with ValueError
    (routable), never a giant allocation / MemoryError."""
    import struct
    import zlib

    import pytest

    from nginx_log_spark.functions.multimodal import _PNG_SIG, _png_raster

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)  # 4x4 gray
    bomb = chunk(b"IHDR", ihdr) + chunk(
        b"IDAT", zlib.compress(bytes(10_000_000))  # ~10 MB of zeros, ~10 KB container
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflates past"):
        _png_raster(_PNG_SIG + bomb)
    # truncated stream (valid prefix, never reaches the raster size)
    good = zlib.compress(bytes(4 * (1 + 4 * 1)))
    trunc = chunk(b"IHDR", ihdr) + chunk(b"IDAT", good[: len(good) // 2]) + chunk(
        b"IEND", b""
    )
    with pytest.raises(ValueError, match="truncated IDAT"):
        _png_raster(_PNG_SIG + trunc)
    # the well-formed container still decodes
    ok = chunk(b"IHDR", ihdr) + chunk(b"IDAT", good) + chunk(b"IEND", b"")
    w, h, color, pixels = _png_raster(_PNG_SIG + ok)
    assert (w, h, color, pixels) == (4, 4, 0, bytes(16))


def test_mp4_truncated_box_fields_rejected():
    """ADVICE r5: fixed-field reads must be bounded by the ENCLOSING box
    end — a box truncated short of its fields (file continues) rejects
    instead of silently reading the next box's bytes."""
    import struct

    import pytest

    from nginx_log_spark.functions.mp4 import encode_mp4, parse_mp4

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", len(body) + 8) + btype + body

    good = encode_mp4([b"aa", b"bb"], 16, 16, 500)
    parse_mp4(good)  # sanity

    # mvhd whose body ends before its fixed fields, followed by a valid
    # trak — the old unpack_from(payload, p) read the trak's bytes
    short_mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + bytes(8))
    i = good.index(b"mvhd") - 4
    (mvhd_len,) = struct.unpack_from(">I", good, i)
    doctored = good[:i] + short_mvhd + good[i + mvhd_len :]
    # fix moov length (shrunk by the difference)
    j = doctored.index(b"moov") - 4
    (moov_len,) = struct.unpack_from(">I", doctored, j)
    doctored = bytearray(doctored)
    struct.pack_into(
        ">I", doctored, j, moov_len - (mvhd_len - len(short_mvhd))
    )
    with pytest.raises(ValueError, match="truncated mvhd"):
        parse_mp4(bytes(doctored))


def test_mp4_empty_stco_is_reject_not_unsupported():
    """ADVICE r5: samples with NO chunk offsets is a malformed table ->
    ValueError (reject sink), not NotImplementedError (unsupported)."""
    import struct

    import pytest

    from nginx_log_spark.functions.mp4 import encode_mp4, parse_mp4

    good = encode_mp4([b"aa", b"bb"], 16, 16, 500)
    # stco body: fullbox(4) + count(4) + one offset(4); rewrite count=0,
    # drop the offset, shrink stco and every ancestor box by 4
    out = bytearray(good)
    sp = out.index(b"stco") - 4
    (stco_len,) = struct.unpack_from(">I", out, sp)
    new_stco = struct.pack(">I", stco_len - 4) + b"stco" + b"\x00\x00\x00\x00" + struct.pack(">I", 0)
    out = out[:sp] + new_stco + out[sp + stco_len :]
    for anc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        k = out.index(anc) - 4
        (blen,) = struct.unpack_from(">I", out, k)
        struct.pack_into(">I", out, k, blen - 4)
    with pytest.raises(ValueError, match="empty stco"):
        parse_mp4(bytes(out))
