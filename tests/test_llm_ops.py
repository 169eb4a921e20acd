"""Planted-pair / recall tests for the approximate LLM-pipeline ops
(SURVEY §7.4 hard part 3: near-dup & ANN aren't hash-checkable).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from audience_finder_pro_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
    simhash_candidate_pairs,
)
from audience_finder_pro_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk
from audience_finder_pro_spark.session import load_table


@pytest.fixture(scope="module")
def docs_with_planted_dups(spark, sf_smoke):
    """Documents plus near-duplicates: drop the last 2 words of 30 docs —
    high-Jaccard pairs (planted_id = doc_id + 1_000_000)."""
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    planted = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .filter(F.size(toks) > 20)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, F.size(toks) - 2), " ").alias("text"),
        )
    )
    return docs.unionByName(planted), planted.select((F.col("doc_id") - 1_000_000).alias("orig_id"))


def test_minhash_recall_vs_exact(spark, docs_with_planted_dups):
    """MinHash-LSH must recover ≥90% of the exact-Jaccard pairs ≥ 0.7."""
    docs, _ = docs_with_planted_dups
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.7).collect()
    }
    assert exact, "planted duplicates should produce exact pairs"
    approx = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.7, num_hashes=64, bands=16).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(exact)} exact pairs)"


def test_minhash_verification_precision(spark, docs_with_planted_dups):
    """Emitted pairs are exact-verified, so every pair must be ≥ threshold."""
    docs, _ = docs_with_planted_dups
    for r in minhash_lsh_pairs(docs, threshold=0.7).collect():
        assert r.jaccard >= 0.7


def test_simhash_banded_candidates_catch_planted_dups(spark, docs_with_planted_dups):
    """Banded SimHash blocking must surface nearly all planted near-dup pairs
    (single-prefix blocking provably misses pairs whose differing bits hit
    the prefix — the banded operator is the blocking that scales)."""
    docs, planted = docs_with_planted_dups
    n_planted = planted.count()
    cand = simhash_candidate_pairs(docs, bands=4, max_hamming=8)
    hits = cand.filter(F.col("id_b") - F.col("id_a") == 1_000_000).count()
    assert n_planted > 0 and hits / n_planted >= 0.8, f"simhash recall {hits}/{n_planted}"


def test_simhash_signature_close_for_planted_dups(spark, docs_with_planted_dups):
    """Hamming distance between a doc and its near-dup stays small (≤ 12/64)."""
    docs, _ = docs_with_planted_dups
    sh = simhash_buckets(docs).select("doc_id", "simhash")
    a = sh.filter(F.col("doc_id") < 1_000_000).select(
        F.col("doc_id").alias("orig_id"), F.col("simhash").alias("s1")
    )
    b = sh.filter(F.col("doc_id") >= 1_000_000).select(
        (F.col("doc_id") - 1_000_000).alias("orig_id"), F.col("simhash").alias("s2")
    )
    joined = a.join(b, "orig_id").withColumn(
        "hd", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    )
    assert joined.filter(F.col("hd") > 12).count() == 0


def test_lsh_ann_recall_vs_brute_force(spark, sf_smoke):
    """Bucketed ANN top-10 must overlap brute-force top-10 by ≥50% avg
    (4-bit LSH on 500 vectors — recall bound is loose by design; the
    exact variant is the correctness path, this is the scale path)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_bucketed_topk(emb, queries, k=10, n_bits=4).collect()
    by_q_exact: dict[int, set] = {}
    for r in exact:
        by_q_exact.setdefault(r.query_id, set()).add(r.vec_id)
    by_q_approx: dict[int, set] = {}
    for r in approx:
        by_q_approx.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(by_q_exact[q] & by_q_approx.get(q, set())) / len(by_q_exact[q]) for q in by_q_exact
    ]
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.5, f"avg ANN recall {avg:.2f}"
    # self-match sanity: every query's own vector is its top hit in the exact path
    for r in exact:
        if r.rnk == 1:
            assert r.vec_id == r.query_id


def test_multimodal_decode_schema(spark, sf_smoke):
    """Arrow-batched decode plumbing: stable schema, one row per payload."""
    from audience_finder_pro_spark.queries.llm import multimodal_decode

    out = multimodal_decode(spark, sf_smoke)
    assert out.columns == [
        "doc_id",
        "media_type",
        "n_bytes",
        "width",
        "height",
        "duration_ms",
        "feature_norm",
    ]
    n_docs = load_table(spark, sf_smoke, "documents").count()
    assert out.count() == n_docs
    img = out.filter(F.col("media_type") == "image/png").first()
    assert img.width is not None and img.height is not None and img.duration_ms is None


def _png_bytes(width, height, rgb):
    """Stdlib PNG writer (truecolor 8-bit, filter 0) for decoder tests."""
    import struct
    import zlib
    from binascii import crc32

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = bytes(rgb * width)
    raw = (b"\x00" + row) * height
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _wav_bytes(n_frames, rate, amplitude):
    """Stdlib WAV writer: constant-amplitude square-ish mono 16-bit PCM."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{n_frames}h", *([amplitude] * n_frames)))
    return buf.getvalue()


def test_multimodal_real_codecs_roundtrip(spark):
    """PNG and WAV payloads decode with the REAL stdlib codecs (magic-byte
    dispatch): exact dimensions/duration and features computed from actual
    pixel/sample data, while undecodable payloads still take the
    deterministic stub path in the same batch."""
    from audience_finder_pro_spark.multimodal import decode_features

    png = _png_bytes(5, 4, (100, 150, 200))  # mean pixel exactly 150
    wav = _wav_bytes(n_frames=8000, rate=16000, amplitude=16384)  # 500 ms
    rows = [
        (1, bytearray(png), "image/png"),
        (2, bytearray(wav), "audio/wav"),
        (3, bytearray(b"not media"), "video/mp4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, media_type string")
    out = {r.doc_id: r for r in decode_features(df).collect()}
    assert (out[1].width, out[1].height) == (5, 4)
    assert abs(out[1].feature_norm - 150 / 255) < 1e-3  # real pixel mean
    assert out[1].duration_ms is None
    assert out[2].duration_ms == 500  # 8000 frames @ 16 kHz, from the header
    assert abs(out[2].feature_norm - 16384 / 32768) < 1e-3  # real RMS
    assert out[3].width is None and out[3].feature_norm is not None  # stub path


def test_multimodal_corrupt_media_yields_null_features(spark):
    """A payload with real media magic but corrupt bytes must neither kill
    the task nor fake features: all-null features, n_bytes preserved."""
    from audience_finder_pro_spark.multimodal import decode_features

    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00\x01garbage-truncated"
    bad_wav = b"RIFF\x00\x00\x00\x00WAVEgarbage"
    df = spark.createDataFrame(
        [(1, bytearray(bad_png), "image/png"), (2, bytearray(bad_wav), "audio/wav")],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in decode_features(df).collect()}
    for r in out.values():
        assert r.width is None and r.height is None
        assert r.duration_ms is None and r.feature_norm is None
        assert r.n_bytes > 0


def test_multimodal_real_png_resize(spark):
    """resize_images on a PNG payload must emit a VALID PNG at the target
    dims whose pixels are a true nearest-neighbor resample (checked by
    decoding the output with the same stdlib decoder)."""
    from audience_finder_pro_spark.multimodal import _decode_png, _png_pixels, resize_images

    # 2x2 quadrant image: upscale 2x2 -> 4x4 must replicate each quadrant
    quads = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)]
    import struct
    import zlib
    from binascii import crc32

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = (
        b"\x00" + bytes(quads[0] + quads[1]) + b"\x00" + bytes(quads[2] + quads[3])
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png")], "doc_id long, payload binary, media_type string"
    )
    out = resize_images(df, width=4, height=4).first()
    assert (out.width, out.height) == (4, 4)
    w, h, ch, _color, px = _png_pixels(bytes(out.payload))
    assert (w, h, ch) == (4, 4, 3)
    # corners of the 4x4 must be the four quadrant colors
    def pix(x, y):
        o = (y * 4 + x) * 3
        return tuple(px[o : o + 3])

    assert pix(0, 0) == quads[0] and pix(3, 0) == quads[1]
    assert pix(0, 3) == quads[2] and pix(3, 3) == quads[3]
    # and the output is a decodable PNG end-to-end
    assert _decode_png(bytes(out.payload))["width"] == 4


def test_png_decoder_unfilters_all_filter_types():
    """The scanline unfilterer must invert Sub/Up/Average/Paeth exactly:
    encode a known gradient with each filter type, decode, compare means."""
    import struct
    import zlib
    from binascii import crc32

    from audience_finder_pro_spark.multimodal import _decode_png

    width, height = 4, 4
    # deterministic non-uniform pixels: value = (3*x + 7*y) % 256 per channel
    rows = [
        bytes(((3 * x + 7 * y) % 256) for x in range(width * 3))
        for y in range(height)
    ]
    expected_mean = sum(sum(r) for r in rows) / (width * 3 * height)

    def encode(filter_type):
        out = b""
        prev = bytes(width * 3)
        for cur in rows:
            line = bytearray(cur)
            if filter_type == 1:  # Sub
                for i in range(len(line) - 1, 2, -1):
                    line[i] = (line[i] - cur[i - 3]) & 0xFF
            elif filter_type == 2:  # Up
                line = bytearray((cur[i] - prev[i]) & 0xFF for i in range(len(cur)))
            elif filter_type == 3:  # Average
                for i in range(len(line) - 1, -1, -1):
                    a = cur[i - 3] if i >= 3 else 0
                    line[i] = (cur[i] - (a + prev[i]) // 2) & 0xFF
            elif filter_type == 4:  # Paeth
                for i in range(len(line) - 1, -1, -1):
                    a = cur[i - 3] if i >= 3 else 0
                    b = prev[i]
                    c = prev[i - 3] if i >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    line[i] = (cur[i] - pred) & 0xFF
            out += bytes([filter_type]) + bytes(line)
            prev = cur
        return out

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    for ftype in (0, 1, 2, 3, 4):
        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(encode(ftype)))
            + chunk(b"IEND", b"")
        )
        feat = _decode_png(png)
        assert (feat["width"], feat["height"]) == (width, height)
        assert abs(feat["feature_norm"] - round(expected_mean / 255.0, 4)) < 2e-4, (
            f"filter {ftype} mis-decoded"
        )


def test_ivf_ann_recall_vs_brute_force(spark, sf_smoke):
    """IVF with n_probe/n_lists high enough must recover most true top-k."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.similarity import brute_force_topk, ivf_topk
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    got = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"IVF recall {recall:.2f}"


def test_multimodal_resize_contract(spark, sf_smoke):
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.multimodal import resize_images
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(20)
    payload = docs.select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"), F.lit("image/png").alias("media_type")
    )
    out = resize_images(payload, width=8, height=8).collect()
    assert len(out) == 20
    assert all(len(bytes(r["payload"])) == 64 and r["width"] == 8 for r in out)


def test_multimodal_frame_sample_flatmap(spark, sf_smoke):
    """One video row fans out to duration/every_ms frames; non-video rows drop."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.multimodal import _decode_stub, sample_frames
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents").limit(9)
    payload = docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 2, "video/mp4").otherwise("image/png").alias("media_type"),
    )
    out = sample_frames(payload, every_ms=5000).toPandas()
    vids = payload.filter(F.col("media_type") == "video/mp4").collect()
    expect = sum(
        len(range(0, _decode_stub(bytes(r["payload"]), "video/mp4")["duration_ms"], 5000))
        for r in vids
    )
    assert len(out) == expect and expect > 0
    assert set(out.columns) == {"doc_id", "frame_idx", "ts_ms", "frame_payload"}


def test_ivf_indexed_probe_matches_oneshot_and_prunes_buckets(spark, sf_smoke):
    """The prebuilt-index probe must return exactly what one-shot ivf_topk
    returns for the same parameters, and its corpus scan must touch only
    the probed lists' buckets (static bucket pruning via the literal IN)."""
    from audience_finder_pro_spark.operators.similarity import (
        ivf_build_index,
        ivf_probe_indexed,
        ivf_topk,
    )
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    n_lists, n_probe = 8, 2
    # clear any orphaned warehouse location from a previous session (the
    # catalog entry dies with the session; the directory does not)
    import shutil

    for d in ("spark-warehouse/ivf_idx_test", "spark-warehouse/ivf_idx_test_cents"):
        shutil.rmtree(d, ignore_errors=True)
    ivf_build_index(emb, "ivf_idx_test", n_lists=n_lists)
    got = ivf_probe_indexed(spark, "ivf_idx_test", queries, k=5, n_probe=n_probe)
    want = ivf_topk(emb, queries, k=5, n_lists=n_lists, n_probe=n_probe, refine_iters=0)
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(got) == as_set(want)

    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "bucketed scan must report bucket pruning"
    assert int(m.group(1)) <= n_probe * 3 < int(m.group(2)) == n_lists


# ---------------------------------------------------------------- high-dim cosine
@pytest.fixture(scope="module")
def highdim_embeddings(spark):
    """Clustered 768-dim vectors (real LLM-embedding width): 40 centers,
    20 members each with small perturbations, so top-k = cluster-mates and
    recall is a meaningful number. Deterministic (seeded numpy)."""
    import numpy as np

    rng = np.random.default_rng(42)
    centers = rng.standard_normal((40, 768))
    vecs = np.repeat(centers, 20, axis=0) + 0.15 * rng.standard_normal((800, 768))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_highdim_cosine_paths_agree(spark, highdim_embeddings):
    """The Arrow-matmul path (dim≥256 dispatch) must agree with the
    expression fold to float tolerance and produce the identical top-k."""
    from audience_finder_pro_spark.functions.vectors import cosine_similarity

    emb = highdim_embeddings
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    paired = emb.crossJoin(F.broadcast(queries)).limit(4000)
    diff = paired.select(
        F.abs(
            cosine_similarity(F.col("query_vec"), F.col("embedding"))  # fold
            - cosine_similarity(F.col("query_vec"), F.col("embedding"), dim=768)  # arrow
        ).alias("d")
    ).agg(F.max("d")).collect()[0][0]
    assert diff < 1e-9, f"fold vs arrow max |Δcosine| = {diff}"

    fold = brute_force_topk(emb, queries, k=10)
    arrow = brute_force_topk(emb, queries, k=10, dim=768)
    as_set = lambda df: {(r.query_id, r.vec_id, r.rnk) for r in df.collect()}  # noqa: E731
    assert as_set(fold) == as_set(arrow)

    # the dispatch must actually change the physical plan
    arrow_plan = arrow._jdf.queryExecution().executedPlan().toString()
    fold_plan = fold._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in arrow_plan
    assert "ArrowEvalPython" not in fold_plan


def test_highdim_lsh_and_ivf_recall(spark, highdim_embeddings):
    """Both approximate operators stay above their recall floors when the
    scoring routes through the vectorized high-dim path."""
    from audience_finder_pro_spark.operators.similarity import ivf_topk

    emb = highdim_embeddings
    queries = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth: dict[int, set] = {}
    for r in brute_force_topk(emb, queries, k=10, dim=768).collect():
        truth.setdefault(r.query_id, set()).add(r.vec_id)

    lsh = lsh_bucketed_topk(emb, queries, k=10, dim=768, n_bits=4, n_tables=8)
    got_lsh: dict[int, set] = {}
    for r in lsh.collect():
        got_lsh.setdefault(r.query_id, set()).add(r.vec_id)
    rec = [len(truth[q] & got_lsh.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(rec) / len(rec) >= 0.5, f"high-dim LSH recall {sum(rec)/len(rec):.2f}"

    ivf = ivf_topk(emb, queries, k=10, n_lists=8, n_probe=4, refine_iters=0, dim=768)
    got_ivf: dict[int, set] = {}
    for r in ivf.collect():
        got_ivf.setdefault(r.query_id, set()).add(r.vec_id)
    rec = [len(truth[q] & got_ivf.get(q, set())) / len(truth[q]) for q in truth]
    assert sum(rec) / len(rec) >= 0.8, f"high-dim IVF recall {sum(rec)/len(rec):.2f}"


def test_resize_images_quarantines_corrupt_png(spark):
    """A payload with PNG magic but an undecodable body must fall back to
    the byte-stream stub (same quarantine policy as decode_features) —
    one bad blob must not kill the job."""
    from audience_finder_pro_spark.multimodal import _PNG_MAGIC, resize_images

    corrupt = _PNG_MAGIC + b"\x00\x01garbage-not-a-png-chunk"
    df = spark.createDataFrame(
        [(1, "image/png", bytearray(corrupt))],
        "doc_id long, media_type string, payload binary",
    )
    out = resize_images(df, width=4, height=4).collect()
    assert len(out) == 1
    assert len(bytes(out[0].payload)) == 16  # stub: width*height bytes


def test_cosine_neardup_planted_pairs(spark):
    """The matmul block path must emit exactly the planted near-dup pairs
    with id_a < id_b, stay inside the block boundary, skip zero vectors,
    and be invariant to the chunk size (chunk smaller than the block
    exercises the cross-chunk upper-triangle bookkeeping)."""
    import math

    from audience_finder_pro_spark.operators.similarity import cosine_neardup_pairs

    # block 0: 1 and 2 nearly parallel (sim ~0.9996), 3 orthogonal,
    #          9 is a zero vector (cosine undefined -> excluded)
    # block 1: 4 parallel to 1 but in ANOTHER block -> no cross-block pair;
    #          5 and 6 antiparallel (sim -1)
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [1.0, 0.03, 0.0, 0.0], 0),
        (3, [0.0, 1.0, 0.0, 0.0], 0),
        (9, [0.0, 0.0, 0.0, 0.0], 0),
        (4, [2.0, 0.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 1.0, 0.0], 1),
        (6, [0.0, 0.0, -1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    expected_sim = round(1.0 / math.sqrt(1.0 + 0.03 * 0.03), 4)
    for chunk in (1024, 2):
        got = cosine_neardup_pairs(
            df, threshold=0.9, block_col="label", chunk_rows=chunk
        ).collect()
        assert [(r.id_a, r.id_b) for r in got] == [(1, 2)], got
        assert got[0].cosine_sim == pytest.approx(expected_sim, abs=1e-9)


# ---------------------------------------------------------------- semantic dedup
def test_semantic_dedup_matches_sql_oracle(spark, sf_smoke):
    """The declared query is deterministic relational algebra end-to-end:
    DuckDB replays it and the values hash-match. The driver runs the same
    differential at sf0.01; this runs it at sf0.001 too."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import ORACLES, QUERIES

    df = QUERIES["semantic_dedup"](spark, sf_smoke)
    compare(df, ORACLES["semantic_dedup"], sf_smoke, name="semantic_dedup")


def test_semantic_dedup_planted_copies_flagged(spark, sf_smoke):
    """Every planted exact copy is marked dup-of its original; no original
    is marked (fixture max natural pair cosine ≈ 0.48 < 0.95)."""
    from audience_finder_pro_spark.queries import QUERIES

    rows = {r.vec_id: r for r in QUERIES["semantic_dedup"](spark, sf_smoke).collect()}
    planted = [vid for vid in rows if vid >= 100000]
    assert planted, "expected planted copies in the declared query"
    for vid in planted:
        r = rows[vid]
        assert r.is_dup and r.dup_of == vid - 100000, r
    for vid, r in rows.items():
        if vid < 100000:
            assert not r.is_dup and r.dup_of is None, r


def test_semantic_dedup_repartition_invariant(spark, sf_smoke):
    """Cluster-local matmul + deterministic assignment: the emitted flags
    must not depend on the input partitioning."""
    from audience_finder_pro_spark.operators.similarity import semantic_dedup
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    # threshold 0.35 < the fixture's 0.479 max pair cosine, so real dup
    # marking happens (not just an all-false pass-through)
    base = sorted(map(tuple, semantic_dedup(emb, threshold=0.35, n_clusters=8).collect()))
    shuffled = sorted(
        map(tuple, semantic_dedup(emb.repartition(7), threshold=0.35, n_clusters=8).collect())
    )
    assert base == shuffled
    assert any(r[2] for r in base), "expected some dups at threshold 0.35"


def test_semantic_dedup_arrow_assignment_agrees_and_saves_a_shuffle(spark, sf_smoke):
    """The mapInPandas matmul assignment must produce the same flags as the
    oracle-exact fold path on the fixture, and its plan must pay exactly
    one corpus exchange (the cluster regroup) vs the fold path's two."""
    import re

    from audience_finder_pro_spark.operators.similarity import semantic_dedup
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    expr_df = semantic_dedup(emb, threshold=0.35, n_clusters=8, assignment="expr")
    arrow_df = semantic_dedup(emb, threshold=0.35, n_clusters=8, assignment="arrow")
    assert sorted(map(tuple, expr_df.collect())) == sorted(map(tuple, arrow_df.collect()))

    def n_exchanges(df):
        # pre-execution plan: the post-AQE printer appends the Initial Plan
        # section and would double-count every exchange
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange (hashpartitioning|SinglePartition)", plan))

    fresh_arrow = semantic_dedup(emb, threshold=0.35, n_clusters=8, assignment="arrow")
    fresh_expr = semantic_dedup(emb, threshold=0.35, n_clusters=8, assignment="expr")
    assert n_exchanges(fresh_arrow) == 1, "arrow assignment should leave only the regroup"
    assert n_exchanges(fresh_expr) == 2


def test_semantic_dedup_empty_corpus(spark):
    """Both assignment paths must return an empty, correctly-typed result on
    an empty corpus (the arrow path has no centroids to collect)."""
    from audience_finder_pro_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    for mode in ("expr", "arrow"):
        out = semantic_dedup(empty, n_clusters=4, assignment=mode)
        assert out.columns == ["vec_id", "cent_id", "is_dup", "dup_of"], mode
        assert out.count() == 0, mode


def test_ann_zero_vector_corpus_does_not_throw(spark):
    """ANSI regression (found by hypothesis): a zero embedding made the
    fold-path cosine divide by zero and kill the job. It must instead score
    NULL (DuckDB parity) and never outrank a real similarity."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = brute_force_topk(df, queries, k=3).collect()
    assert [r.vec_id for r in got] == [0, 1, 2]  # zero vector ranked last (NULL sim)
    assert got[2].cosine_sim is None

    # same corpus through IVF (cosine_similarity fold guard + assignment):
    # must not throw, zero vector still never outranks a real similarity
    from audience_finder_pro_spark.operators.similarity import ivf_topk

    ivf = ivf_topk(df, queries, k=3, n_lists=2, n_probe=2, refine_iters=0).collect()
    assert [r.vec_id for r in ivf][:2] == [0, 1]


def test_text_tier_zero_token_docs(spark, tmp_path):
    """Degenerate documents (empty text, punctuation-only) must not kill the
    job under ANSI mode: ratio metrics go NULL (matching DuckDB's division
    by zero), quality verdicts fall through to drop, and the quality_signals
    token-stream grouping drops token-less docs in BOTH engines. The oracle
    SQL runs against the same crafted fixture to prove parity where the
    real fixture has no such rows."""
    import duckdb

    from tests.oracle import canonicalize

    from audience_finder_pro_spark.queries import ORACLES, QUERIES

    rows = [
        (1, "", "en", "src_1", 0),
        (2, "!!! ??? ...", "en", "src_1", 11),
        (3, "the a quick brown fox jumps over the lazy dog", "en", "src_2", 45),
        (4, None, "en", "src_2", 0),  # NULL text: common in scraped corpora
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf_dir = str(tmp_path)

    # tests/oracle.compare registers every fixture table; this crafted dir
    # only has documents, so register just that view
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    from audience_finder_pro_spark.queries.llm import (
        _QUALITY_SCORE_ORACLE,
        _TEXT_STATS_ORACLE,
    )

    # text_stats and quality_score handed their driver-oracle slots to the
    # merged text_profile; their standalone oracles persist as module
    # constants for this test
    degenerate_oracles = dict(ORACLES) | {
        "text_stats": _TEXT_STATS_ORACLE,
        "quality_score": _QUALITY_SCORE_ORACLE,
    }
    for name in (
        "text_stats",
        "quality_score",
        "curation_pipeline",
        "quality_signals",
        "text_profile",
        "tfidf_terms",
        "lm_quality",
    ):
        sdf = QUERIES[name](spark, sf_dir)
        cur = con.execute(degenerate_oracles[name])
        o_cols = [d[0] for d in cur.description]
        o_rows = cur.fetchall()
        s_rows = [tuple(r) for r in sdf.collect()]
        assert len(s_rows) == len(o_rows), (name, len(s_rows), len(o_rows))
        _, s_canon = canonicalize(sdf.columns, s_rows)
        _, o_canon = canonicalize(o_cols, o_rows)
        assert s_canon == o_canon, (name, s_canon[:3], o_canon[:3])
    con.close()

    stats = {r.doc_id: r for r in QUERIES["text_stats"](spark, sf_dir).collect()}
    assert len(stats) == 4
    for d in (1, 2):
        assert stats[d].n_tokens == 0 and stats[d].type_token_ratio is None
    assert stats[4].n_tokens is None and stats[4].type_token_ratio is None
    verdicts = {r.doc_id: r.verdict for r in QUERIES["quality_score"](spark, sf_dir).collect()}
    assert verdicts[1] == "drop" and verdicts[2] == "drop" and verdicts[4] == "drop"
    qs_ids = {r.doc_id for r in QUERIES["quality_signals"](spark, sf_dir).collect()}
    assert qs_ids == {3}


# ---------------------------------------------------------------- chunking
def test_chunk_docs_matches_sql_oracle(spark, sf_smoke):
    """The declared chunking query is deterministic relational algebra:
    DuckDB replays it and the values hash-match. The driver runs the same
    differential at sf0.01 (slot funded by the q07+q08 merge); this runs
    it at sf0.001 too."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import ORACLES, QUERIES

    compare(
        QUERIES["chunk_docs"](spark, sf_smoke), ORACLES["chunk_docs"], sf_smoke, name="chunk_docs"
    )


def test_chunk_documents_coverage_and_overlap(spark):
    """Reconstruction invariants: de-overlapped chunk concatenation equals
    the original token stream; consecutive full chunks share exactly
    `overlap` tokens; degenerate docs emit nothing."""
    from audience_finder_pro_spark.operators.packing import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(100))),  # 100 tokens -> 4 chunks
        (2, "one two three"),  # single short chunk
        (3, ""),  # no chunks
        (4, None),  # no chunks
        (5, "   \t  "),  # whitespace only -> no chunks
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=32, overlap=8)
    got = sorted(
        ((r.doc_id, r.chunk_id, r.chunk_text.split(" "), r.n_tokens) for r in out.collect())
    )
    by_doc: dict[int, list] = {}
    for doc, cid, toks, n in got:
        assert n == len(toks)
        by_doc.setdefault(doc, []).append((cid, toks))
    assert set(by_doc) == {1, 2}
    assert len(by_doc[1]) == 4 and len(by_doc[2]) == 1

    orig = [f"t{i}" for i in range(100)]
    rebuilt = list(by_doc[1][0][1])
    for (_, prev), (_, cur) in zip(by_doc[1], by_doc[1][1:]):
        if len(prev) == 32:
            assert prev[-8:] == cur[:8]  # shared overlap context
        rebuilt.extend(cur[8:])
    assert rebuilt == orig
    assert by_doc[2][0][1] == ["one", "two", "three"]


def test_vocab_topk_matches_sql_oracle(spark, sf_smoke):
    """Vocabulary heavy-hitters hash-match DuckDB; plan keeps the top-k as
    TakeOrderedAndProject (no full vocab sort)."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import QUERIES

    from audience_finder_pro_spark.queries import ORACLES

    df = QUERIES["vocab_topk"](spark, sf_smoke)
    compare(df, ORACLES["vocab_topk"], sf_smoke, name="vocab_topk")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_perturbed_copy_recall(spark, sf_smoke):
    """Cluster blocking misses only boundary-straddling pairs: planted
    PERTURBED copies (not bit-identical, cosine >> threshold) must still
    be flagged at >=0.9 recall — quantifies the SemDeDup blocking
    trade-off the docstring declares."""
    import numpy as np

    from audience_finder_pro_spark.operators.similarity import semantic_dedup
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    rows = emb.collect()
    rng = np.random.default_rng(7)
    planted = []
    for r in rows:
        if r.vec_id % 5 == 0:
            v = np.asarray(r.embedding, dtype=np.float64)
            noise = rng.normal(0.0, 0.01 * (np.linalg.norm(v) / np.sqrt(len(v))), len(v))
            planted.append((int(r.vec_id) + 100000, [float(x) for x in v + noise]))
    pdf = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    out = semantic_dedup(emb.unionByName(pdf), threshold=0.95, n_clusters=16).collect()
    flagged = {r.vec_id for r in out if r.is_dup and r.vec_id >= 100000}
    recall = len(flagged) / len(planted)
    assert recall >= 0.9, f"perturbed-copy recall {recall:.2f} ({len(flagged)}/{len(planted)})"


def test_tfidf_terms_matches_sql_oracle(spark, sf_smoke):
    """E11: smoothed TF-IDF top-5 terms per doc hash-match an exact DuckDB
    CTE; the plan stays JVM-side (no Python eval) and pushes the per-doc
    rank filter into a window group limit before the final sort."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import QUERIES

    from audience_finder_pro_spark.queries import ORACLES

    df = QUERIES["tfidf_terms"](spark, sf_smoke)
    compare(df, ORACLES["tfidf_terms"], sf_smoke, name="tfidf_terms")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "WindowGroupLimit" in plan


def test_lm_quality_matches_sql_oracle(spark, sf_smoke):
    """E12: per-doc mean add-one-smoothed bigram log-prob hash-matches an
    exact DuckDB CTE built from the same tokenizer; plan stays JVM-side."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import QUERIES

    from audience_finder_pro_spark.queries import ORACLES

    df = QUERIES["lm_quality"](spark, sf_smoke)
    compare(df, ORACLES["lm_quality"], sf_smoke, name="lm_quality")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_lm_quality_ranks_planted_gibberish_last(spark):
    """The fluency score must actually separate fluency: repeated natural
    sentences score above a unique-token gibberish doc under a model
    trained on the natural docs."""
    from audience_finder_pro_spark.operators.relevance import lm_score_docs

    rows = [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)]
    rows.append((99, "zq1 xv2 kj3 wq4 pz5 vx6 jk7 qw8 zp9 xv10"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lm_logprob for r in lm_score_docs(docs, docs).collect()}
    natural = [v for k, v in got.items() if k != 99]
    assert got[99] < min(natural)


def test_corpus_profile_within_sketch_error(spark, sf_smoke):
    """E13: every sketch estimate lands inside its own error bound against
    exact aggregation — HLL++ within 3x rsd, GK quantiles within the
    rank-error window — and the exact companions match exactly."""
    import duckdb

    from audience_finder_pro_spark.queries import QUERIES

    prof = {r.source: r.asDict() for r in QUERIES["corpus_profile"](spark, sf_smoke).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_smoke}/documents.parquet')"
    )
    exact = con.execute(
        r"""
        WITH tok AS (
          SELECT doc_id, source, length(text) AS doc_chars,
                 list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        doc_level AS (
          SELECT source, count(*) AS n_docs, sum(len(toks)) AS total_tokens,
                 quantile_disc(doc_chars, 0.5) AS p50,
                 quantile_disc(doc_chars, 0.95) AS p95
          FROM tok GROUP BY source
        ),
        tok_level AS (
          SELECT source, count(DISTINCT u.token) AS distinct_tokens
          FROM tok, unnest(toks) AS u(token) GROUP BY source
        )
        SELECT * FROM doc_level JOIN tok_level USING (source)
        """
    ).df()
    assert set(prof) == set(exact["source"])
    for _, row in exact.iterrows():
        got = prof[row["source"]]
        assert got["n_docs"] == row["n_docs"]
        assert got["total_tokens"] == row["total_tokens"]
        rel = abs(got["approx_distinct_tokens"] - row["distinct_tokens"]) / row["distinct_tokens"]
        assert rel <= 0.15, (row["source"], got["approx_distinct_tokens"], row["distinct_tokens"])
        # GK sketch at accuracy=10000 on n<=thousands of rows is exact-rank;
        # allow one rank of slack against DuckDB's discrete quantile
        assert abs(got["p50_doc_chars"] - row["p50"]) <= max(5, 0.05 * row["p50"])
        assert abs(got["p95_doc_chars"] - row["p95"]) <= max(5, 0.05 * row["p95"])


def test_corpus_profile_single_exchange(spark, sf_smoke):
    """The profile must stay ONE map-side-combined aggregate: a single
    shuffle exchange, no window, no sort, no second scan of documents."""
    from audience_finder_pro_spark.queries import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fn = QUERIES["corpus_profile"]
        fn = getattr(fn, "__wrapped__", fn)
        plan = fn(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # exactly the aggregate's own hash exchange (the fan_out round-robin
    # repartition is a local-SF parallelism shim, not a data shuffle)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan
    assert plan.count("ReadSchema") == 1  # one scan of documents


def test_quality_bins_decile_properties(spark, sf_smoke):
    """E14: ten bins, near-equal populations (sketch-exact at this n),
    disjoint monotone score ranges."""
    from audience_finder_pro_spark.queries import QUERIES

    rows = sorted(
        (r.bin, r.n_docs, r.min_quality, r.max_quality)
        for r in QUERIES["quality_bins"](spark, sf_smoke).collect()
    )
    assert [r[0] for r in rows] == list(range(10))
    total = sum(r[1] for r in rows)
    for _, n, _, _ in rows:
        assert 0.5 * total / 10 <= n <= 1.5 * total / 10, rows
    for (_, _, _, hi), (_, _, lo, _) in zip(rows, rows[1:]):
        assert hi <= lo, rows


def test_quantile_bins_deterministic_and_null_safe(spark):
    """Operator contract: same data -> same bins under any partitioning;
    NULL scores get bin NULL; every non-null row lands in [0, n_bins-1]."""
    from audience_finder_pro_spark.operators.sampling import quantile_bins

    rows = [(i, float(i % 97)) for i in range(500)] + [(999, None)]
    df = spark.createDataFrame(rows, "id long, s double")
    a = {r.id: r.bin for r in quantile_bins(df, "s", n_bins=4).collect()}
    b = {
        r.id: r.bin
        for r in quantile_bins(df.repartition(13, "id"), "s", n_bins=4).collect()
    }
    assert a == b
    assert a[999] is None
    assert all(v in (0, 1, 2, 3) for k, v in a.items() if k != 999)


def test_eval_sample_matches_sql_oracle(spark, sf_smoke):
    """E15: the md5-ordered k-per-group sample hash-matches DuckDB row
    numbering over the same salted md5 order; plan keeps the partial
    window group limit (shuffle carries <= partitions x groups x k)."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _EVAL_SAMPLE_ORACLE

    df = QUERIES["eval_sample"](spark, sf_smoke)
    compare(df, _EVAL_SAMPLE_ORACLE, sf_smoke, name="eval_sample")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stratified_sample_k_exact_counts_and_determinism(spark):
    """Every group with >= k rows yields exactly k; smaller groups yield all
    rows; the picked set is partitioning-independent."""
    from audience_finder_pro_spark.operators.sampling import stratified_sample_k

    rows = [(i, f"g{i % 7}") for i in range(200)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample_k(df, "source", k=5)
    counts = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["tiny"] == 1
    assert all(v == 5 for g, v in counts.items() if g != "tiny")
    a = {(r.doc_id, r.sample_rank) for r in out.collect()}
    b = {
        (r.doc_id, r.sample_rank)
        for r in stratified_sample_k(df.repartition(17), "source", k=5).collect()
    }
    assert a == b


def test_embed_media_real_png_neardup_pipeline(spark):
    """E16 end-to-end on REAL PNGs: a pixel-perturbed copy of a gradient
    image embeds within near-dup cosine of its original, while the
    inverted gradient lands far away — through the full
    embed_media → cosine_neardup_pairs composition."""
    import struct
    import zlib
    from binascii import crc32

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF)
        )

    def png(pixel_fn, w=16, h=16):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        raw = b"".join(
            b"\x00" + bytes(v for x in range(w) for v in pixel_fn(x, y) * 3)
            for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    grad = png(lambda x, y: ((x + y) * 8 % 256,))
    grad_noisy = png(lambda x, y: (min(255, (x + y) * 8 % 256 + 2),))
    inverted = png(lambda x, y: (255 - (x + y) * 8 % 256,))
    rows = [
        (1, bytearray(grad), "image/png"),
        (2, bytearray(grad_noisy), "image/png"),
        (3, bytearray(inverted), "image/png"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, media_type string")

    from audience_finder_pro_spark.multimodal import embed_media
    from audience_finder_pro_spark.operators.similarity import cosine_neardup_pairs

    emb = embed_media(df, grid=4).join(df.select("doc_id", "media_type"), "doc_id")
    pairs = {
        (r.id_a, r.id_b): r.cosine_sim
        for r in cosine_neardup_pairs(
            emb, threshold=0.99, block_col="media_type", id_col="doc_id"
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.99
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_embed_media_uniform_width_and_corrupt_fallback(spark):
    """Mixed payload batches yield ONE embedding width: real PNGs, text
    bytes, and a corrupt PNG (magic bytes, garbage body → byte-histogram
    fallback) all produce grid² floats, deterministically."""
    from audience_finder_pro_spark.multimodal import _PNG_MAGIC, embed_media

    rows = [
        (1, bytearray(b"plain text payload"), "text/plain"),
        (2, bytearray(_PNG_MAGIC + b"garbage-not-a-png"), "image/png"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, media_type string")
    a = {r.doc_id: list(r.embedding) for r in embed_media(df, grid=8).collect()}
    b = {r.doc_id: list(r.embedding) for r in embed_media(df, grid=8).collect()}
    assert a == b
    assert all(len(v) == 64 for v in a.values())
    assert abs(sum(a[1]) - 1.0) < 1e-6  # byte histogram is L1-normalized


def test_bpe_matches_python_reference_and_reconstructs(spark):
    """E17: distributed encode ≡ the pure-python reference on every doc;
    subwords reconstruct the normalized words exactly (BPE is lossless
    over its own word segmentation); training is deterministic."""
    from audience_finder_pro_spark.operators.bpe import (
        END,
        bpe_encode,
        encode_word,
        train_bpe,
        _words,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quicker brown foxes jumped over lazy dogs"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, ""),
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = train_bpe(docs, n_merges=50, sample_docs=100)
    assert merges == train_bpe(docs, n_merges=50, sample_docs=100)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    out = {r.doc_id: list(r.subwords) for r in bpe_encode(docs, merges).collect()}
    for doc_id, text in rows:
        expect = []
        for w in _words(text or ""):
            expect.extend(encode_word(w, ranks))
        assert out[doc_id] == expect, doc_id
        rebuilt = "".join(out[doc_id]).replace(END, " ").split()
        assert rebuilt == _words(text or "")


def test_bpe_learns_frequent_merges(spark, sf_smoke):
    """On the real corpus sample, high-frequency English units ('th'+'e',
    common suffix+END) must appear among the learned merges, and encoding
    compresses vs characters."""
    from audience_finder_pro_spark.operators.bpe import bpe_encode, train_bpe
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents")
    merges = train_bpe(docs, n_merges=100, sample_docs=500)
    assert ("t", "h") in merges or ("h", "e") in merges
    enc = bpe_encode(docs, merges)
    row = enc.join(docs.select("doc_id", "text"), "doc_id").select(
        F.avg(F.col("n_subwords") / F.length("text")).alias("r")
    ).first()
    assert row.r < 0.6  # far fewer subwords than characters


def test_bpe_tokenize_memoizes_fit_per_corpus(spark, sf_smoke, monkeypatch):
    """Repeat bpe_tokenize calls on the same (session, sf_dir) must skip
    the train_bpe fit (VERDICT r6 item 5) and return identical results;
    a different sf_dir key refits."""
    import audience_finder_pro_spark.operators.bpe as bpe_mod
    import audience_finder_pro_spark.queries.llm as llm_mod

    calls = {"n": 0}
    real_train = bpe_mod.train_bpe

    def counting_train(*a, **kw):
        calls["n"] += 1
        return real_train(*a, **kw)

    monkeypatch.setattr(bpe_mod, "train_bpe", counting_train)
    monkeypatch.setattr(llm_mod, "_BPE_MERGES", {}, raising=True)
    fn = getattr(llm_mod.QUERIES["bpe_tokenize"], "__wrapped__", llm_mod.QUERIES["bpe_tokenize"])
    first = fn(spark, sf_smoke).collect()
    assert calls["n"] == 1
    second = fn(spark, sf_smoke).collect()
    assert calls["n"] == 1  # memo hit: no refit
    assert first == second
    fn(spark, sf_smoke + "/")  # same corpus modulo trailing slash: still memo-hit
    assert calls["n"] == 1


def test_gapfill_rollup_matches_duckdb(spark, sf_smoke):
    """The merge-#24 tagged carrier (gapfill + anomaly + rollup_state
    legs over events) hash-matches the UNION ALL of the three
    constituent oracles — this is the driver row's exact compare."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import ORACLES, QUERIES

    df = QUERIES["gapfill_rollup"](spark, sf_smoke)
    compare(df, ORACLES["gapfill_rollup"], sf_smoke, name="gapfill_rollup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_gapfill_plain_matches_duckdb(spark, sf_smoke):
    """E18: the demoted merge-#24 constituent keeps its standalone gate
    — the dense gap-filled hourly rollup hash-matches a DuckDB CTE
    (epoch-aligned buckets, per-key generate_series spine, IGNORE
    NULLS running last)."""
    from tests.oracle import compare

    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _GAPFILL_ORACLE

    compare(QUERIES["gapfill_plain"](spark, sf_smoke), _GAPFILL_ORACLE,
            sf_smoke, name="gapfill_plain")


def test_gapfill_modes_and_dense_spine(spark):
    """Every bucket between a key's first and last event exists exactly
    once; zero-fill and no-fill modes behave as declared."""
    from audience_finder_pro_spark.operators.timeseries import gapfill_rollup

    rows = [
        (1, "2024-01-01 00:05:00", "a", 1.0),
        (2, "2024-01-01 03:10:00", "a", 2.0),
        (3, "2024-01-01 01:00:00", "b", 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts string, event_type string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = gapfill_rollup(df, step_seconds=3600).collect()
    a_rows = sorted((r.bucket.hour, r.n_events, r.filled_sum) for r in out if r.key == "a")
    assert a_rows == [(0, 1, 1.0), (1, 0, 1.0), (2, 0, 1.0), (3, 1, 2.0)]
    assert [(r.bucket.hour, r.n_events) for r in out if r.key == "b"] == [(1, 1)]
    zero = {
        (r.key, r.bucket.hour): r.filled_sum
        for r in gapfill_rollup(df, step_seconds=3600, fill="zero").collect()
    }
    assert zero[("a", 1)] == 0.0 and zero[("a", 2)] == 0.0
    none = {
        (r.key, r.bucket.hour): r.filled_sum
        for r in gapfill_rollup(df, step_seconds=3600, fill="none").collect()
    }
    assert none[("a", 1)] is None


def test_frequent_tokens_superset_guarantee(spark, sf_smoke):
    """KPS heavy hitters: every token above the support threshold must be
    in the candidate set (no false negatives — the sketch's contract)."""
    import duckdb

    from audience_finder_pro_spark.operators.profile import frequent_tokens
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents")
    cands = set(frequent_tokens(docs, support=0.02))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_smoke}/documents.parquet')"
    )
    truth = con.execute(
        r"""
        WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    x -> length(x) > 0)) AS token
          FROM documents
        )
        SELECT token FROM tok GROUP BY token
        HAVING count(*) > 0.02 * (SELECT count(*) FROM tok)
        """
    ).fetchall()
    assert truth, "fixture should have heavy tokens at 2% support"
    missing = {t for (t,) in truth} - cands
    assert not missing, missing


# ------------------------------------------ E19/E20/E21 curation statistics tier
def test_dsir_select_matches_sql_oracle(spark, sf_dir):
    """dsir_select registers oracle-less (the driver's 50 slots are fully
    funded) — this differential IS its hash gate, same compare as the
    driver's, at the driver's own SF."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _DSIR_ORACLE
    from tests.oracle import compare

    compare(QUERIES["dsir_select"](spark, sf_dir), _DSIR_ORACLE, sf_dir, name="dsir_select")


def test_corpus_drift_matches_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _DRIFT_ORACLE
    from tests.oracle import compare

    compare(QUERIES["corpus_drift"](spark, sf_dir), _DRIFT_ORACLE, sf_dir, name="corpus_drift")


def test_mixture_weights_matches_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _MIXW_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["mixture_weights"](spark, sf_dir), _MIXW_ORACLE, sf_dir, name="mixture_weights"
    )


def test_importance_score_ranks_target_like_docs_higher(spark):
    """DSIR semantics: documents drawn from the target distribution must
    score above documents from a disjoint distribution when both sit in
    the raw pool — the separation the importance-resampling step exists
    to create."""
    from audience_finder_pro_spark.operators.relevance import importance_score

    target_rows = [(100 + i, "alpha beta gamma delta " * 5) for i in range(8)]
    noise_rows = [(200 + i, "zeta eta theta iota " * 5) for i in range(8)]
    raw = spark.createDataFrame(target_rows + noise_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    got = {r.doc_id: r.dsir_logratio for r in importance_score(raw, target).collect()}
    tgt_scores = [got[i] for i in range(100, 108)]
    noise_scores = [got[i] for i in range(200, 208)]
    assert min(tgt_scores) > max(noise_scores)


def test_distribution_drift_identical_and_disjoint(spark):
    """Identical slices → all divergences ~0 and no novel mass; disjoint
    slices → positive divergences and novel_mass_b > 0."""
    from audience_finder_pro_spark.operators.profile import distribution_drift

    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(6)], "doc_id long, text string"
    )
    m = {
        r.token: r.delta
        for r in distribution_drift(same, same).filter("kind = 'metric'").collect()
    }
    assert abs(m["kl_pq"]) < 1e-9 and abs(m["kl_qp"]) < 1e-9
    assert abs(m["js_divergence"]) < 1e-9 and abs(m["tvd"]) < 1e-9
    assert m["novel_mass_b"] == 0.0

    other = spark.createDataFrame(
        [(i, "zeta eta theta iota kappa") for i in range(6)], "doc_id long, text string"
    )
    d = {
        r.token: r.delta
        for r in distribution_drift(same, other).filter("kind = 'metric'").collect()
    }
    assert d["kl_pq"] > 0.1 and d["kl_qp"] > 0.1 and d["js_divergence"] > 0.01
    assert 0 < d["tvd"] <= 1.0
    assert d["novel_mass_b"] > 0.1  # half the union vocab is unseen in A
    movers = distribution_drift(same, other, k=3).filter("kind = 'mover'").collect()
    assert len(movers) == 3


def test_distribution_drift_single_frame_equals_two_frame(spark):
    """The single-scan tagged form (b=None, in_a=<bool Column>) must return
    exactly the two-frame form's rows — it is the same recurrence over the
    same counts, minus one redundant scan+explode of the shared table
    (r9 floor reduction; the corpus_drift driver row uses this form)."""
    from audience_finder_pro_spark.operators.profile import distribution_drift

    rows = [(i, "src0" if i % 3 else "src1",
             f"alpha beta tok{i % 5} gamma tok{i % 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    two = distribution_drift(
        docs.filter("source = 'src0'"), docs.filter("source = 'src1'"), k=5
    ).collect()
    one = distribution_drift(docs, in_a=F.col("source") == "src0", k=5).collect()
    # movers are per-token arithmetic over identical counts — exact match;
    # metric rows are global float sums whose addend ORDER differs between
    # the two plans, so compare those at far-sub-round() tolerance
    m_one = {r.token: r.delta for r in one if r.kind == "metric"}
    m_two = {r.token: r.delta for r in two if r.kind == "metric"}
    assert m_one.keys() == m_two.keys()
    assert all(abs(m_one[t] - m_two[t]) <= 1e-12 for t in m_one), (m_one, m_two)
    mv_one = [tuple(r) for r in one if r.kind == "mover"]
    mv_two = [tuple(r) for r in two if r.kind == "mover"]
    assert mv_one == mv_two and len(mv_one) == 5

    import pytest as _pytest

    with _pytest.raises(ValueError):
        distribution_drift(docs)  # single-frame form requires in_a


def test_mixture_weights_temperature_flattens(spark):
    """alpha=1 reproduces raw shares exactly; alpha<1 moves every
    source's weight toward uniform (large sources down, small up);
    weights always sum to 1."""
    from audience_finder_pro_spark.operators.sampling import mixture_weights

    rows = [(i, "w " * 200, "big") for i in range(20)] + [
        (100 + i, "w " * 10, "small") for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    natural = {r.source: r for r in mixture_weights(docs, alpha=1.0).collect()}
    for r in natural.values():
        assert abs(r.weight - r.raw_share) < 1e-12
    flat = {r.source: r for r in mixture_weights(docs, alpha=0.5).collect()}
    assert flat["big"].weight < natural["big"].raw_share
    assert flat["small"].weight > natural["small"].raw_share
    assert abs(sum(r.weight for r in flat.values()) - 1.0) < 1e-12
    assert abs(sum(r.raw_share for r in flat.values()) - 1.0) < 1e-12


# ------------------------------------------------ E22 incremental ingest dedup
def test_incremental_dedup_planted_verdicts(spark):
    """Exact copy of an existing doc → dup_exact with the existing
    holder's id; perturbed copy → dup_near; unique doc → kept; a
    within-batch duplicate (copy of another INCOMING doc, absent from
    existing) → kept, because new×new is out of scope by contract."""
    from audience_finder_pro_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    existing = spark.createDataFrame(
        [(0, base), (2, "completely unrelated corpus text about spark engines " * 4)],
        "doc_id long, text string",
    )
    perturbed = base.replace("lazy", "sleepy", 1)
    batch_dup = "an incoming-only paragraph repeated twice in the batch " * 4
    incoming = spark.createDataFrame(
        [
            (101, base),  # exact copy of existing 0
            (103, perturbed),  # near copy of existing 0
            (105, "a wholly novel document unlike anything stored before " * 4),
            (107, batch_dup),
            (109, batch_dup),  # within-batch dup — NOT judged
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in incremental_dedup(existing, incoming).collect()}
    assert sorted(out) == [101, 103, 105, 107, 109]  # one verdict per incoming doc
    assert out[101].status == "dup_exact" and out[101].matched_id == 0
    assert out[103].status == "dup_near" and out[103].matched_id == 0
    assert out[103].jaccard is not None and out[103].jaccard >= 0.5
    assert out[105].status == "kept" and out[105].matched_id is None
    assert out[107].status == "kept" and out[109].status == "kept"


def test_incremental_dedup_consistent_with_full_batch_lsh(spark, sf_smoke):
    """Differential against the full-batch path: an incoming (odd) doc is
    flagged iff the full-corpus minhash_lsh_pairs run finds it a
    cross-parity pair at the same threshold (exact-hash copies become
    dup_exact instead of dup_near)."""
    from audience_finder_pro_spark.functions.text import norm_text_hash
    from audience_finder_pro_spark.operators.dedup import incremental_dedup, minhash_lsh_pairs

    docs = load_table(spark, sf_smoke, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    got = {r.doc_id: r.status for r in incremental_dedup(existing, incoming).collect()}

    pairs = minhash_lsh_pairs(docs).collect()
    cross_flagged = set()
    for r in pairs:
        if (r.id_a % 2) != (r.id_b % 2):
            cross_flagged.add(r.id_a if r.id_a % 2 == 1 else r.id_b)
    exact_hashes = {
        r.text_hash
        for r in existing.select(norm_text_hash("text").alias("text_hash")).distinct().collect()
    }
    inc_exact = {
        r.doc_id
        for r in incoming.select("doc_id", norm_text_hash("text").alias("text_hash")).collect()
        if r.text_hash in exact_hashes
    }
    for doc_id, status in got.items():
        if doc_id in inc_exact:
            assert status == "dup_exact", doc_id
        elif doc_id in cross_flagged:
            assert status == "dup_near", doc_id
        else:
            assert status == "kept", doc_id


# ------------------------------------------------ E23 corpus k-NN graph
def test_knn_graph_exact_matches_sql_oracle(spark, sf_dir):
    """The demoted merge-#25 constituent keeps its standalone hash gate
    (the exact path now rides the retrieval carrier as its 'knn' leg)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _KNN_ORACLE
    from tests.oracle import compare

    compare(QUERIES["knn_plain"](spark, sf_dir), _KNN_ORACLE, sf_dir, name="knn_plain")


def test_retrieval_carrier_matches_sql_oracle(spark, sf_dir):
    """The merge-#25 tagged retrieval carrier (knn + bm25 + hybrid legs)
    hash-matches the UNION ALL of the three constituent oracles — this
    is the driver row's exact compare."""
    from audience_finder_pro_spark.queries import ORACLES, QUERIES
    from tests.oracle import compare

    compare(QUERIES["knn_graph"](spark, sf_dir), ORACLES["knn_graph"], sf_dir,
            name="knn_graph")


def test_knn_graph_exact_invariants(spark, sf_dir):
    from audience_finder_pro_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_graph(emb, k=5).collect()
    n = emb.count()
    assert len(out) == 5 * n  # k rows per vector (n > k+1 at every SF)
    by_vec = {}
    for r in out:
        assert r.vec_id != r.nbr_id  # self excluded
        by_vec.setdefault(r.vec_id, []).append(r)
    for rows in by_vec.values():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]
        sims = [r.cosine_sim for r in rows]
        assert sims == sorted(sims, reverse=True)  # rnk follows sim desc


def test_knn_graph_exact_gate_raises(spark, sf_dir):
    from audience_finder_pro_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_exact_rows"):
        knn_graph(emb, k=5, max_exact_rows=10)


def test_knn_graph_exact_gate_is_byte_budgeted(spark):
    """The exact-path driver collect scales with rows × dim, not rows: a
    high-dim corpus that passes the row gate must still raise (at dim 768,
    500k rows would be a ~3 GB driver broadcast). The budget is
    n_rows × dim × 8 bytes ≤ max_exact_bytes."""
    from audience_finder_pro_spark.operators.similarity import knn_graph

    dim = 768
    rows = [(i, [float((i * 31 + j) % 17) for j in range(dim)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 50 × 768 × 8 = 307,200 bytes > a 100 KB budget → must raise with the
    # same use-ivf guidance as the row gate
    with pytest.raises(ValueError, match="max_exact_bytes.*|use method='ivf'"):
        knn_graph(emb, k=3, max_exact_bytes=100_000)
    # and the identical corpus under a sufficient budget still answers
    out = knn_graph(emb, k=3, max_exact_bytes=400_000)
    assert out.count() == 3 * 50


def test_knn_graph_ivf_planted_clusters_recall(spark):
    """On genuinely clustered data (8 tight Gaussian clusters) the
    multi-probe IVF path recovers ≥0.9 of exact top-5 edges while
    scanning ~n_probe/n_lists of the corpus per list. (The fixture
    embeddings are near-random — same-label mean cosine 0.0016 vs
    cross-label 0.0003 — so high recall there is information-
    theoretically unavailable at low scan fractions; clustered data is
    the design point.)"""
    import numpy as np

    from audience_finder_pro_spark.operators.similarity import knn_graph

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 32) * 5.0
    rows = []
    for i in range(240):
        c = i % 8
        rows.append((i, (centers[c] + rng.randn(32) * 0.3).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r.vec_id, r.nbr_id) for r in knn_graph(df, k=5).collect()}
    ivf = {
        (r.vec_id, r.nbr_id)
        for r in knn_graph(df, k=5, method="ivf", n_lists=8, n_probe=2).collect()
    }
    assert len(exact & ivf) / len(exact) >= 0.9


def test_knn_graph_ivf_fixture_beats_random(spark, sf_dir):
    """Even on the near-random fixture, multi-probe recall must clearly
    beat the random-scan floor (n_probe/n_lists of the corpus)."""
    from audience_finder_pro_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.vec_id, r.nbr_id) for r in knn_graph(emb, k=5).collect()}
    ivf = {
        (r.vec_id, r.nbr_id)
        for r in knn_graph(emb, k=5, method="ivf", n_lists=16, n_probe=4).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # measured 0.48-0.63 across param sweeps vs the 0.25 floor — assert
    # 1.5x the floor so genuine signal is required but the margin survives
    # fixture regeneration
    assert recall >= 1.5 * (4 / 16), recall


def test_knn_graph_ivf_deterministic_under_repartition(spark, sf_dir):
    from audience_finder_pro_spark.operators.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    a = {tuple(r) for r in knn_graph(emb, k=3, method="ivf", n_lists=8, n_probe=2).collect()}
    b = {
        tuple(r)
        for r in knn_graph(
            emb.repartition(13), k=3, method="ivf", n_lists=8, n_probe=2
        ).collect()
    }
    assert a == b


# ------------------------------------------------ E24 end-to-end corpus dedup
def test_corpus_dedup_planted_keep_best(spark):
    """Exact copies and near copies collapse into one cluster whose
    canonical doc is the highest-score member (token count here), ties
    to the lowest id; unique docs survive as their own singletons."""
    from audience_finder_pro_spark.operators.dedup import corpus_dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    longer = base + "with an extra trailing sentence that makes it the best copy"
    rows = [
        (1, base),
        (2, base),  # exact copy of 1
        (3, base.replace("lazy", "sleepy", 1)),  # near copy of 1
        (4, longer),  # near copy with MORE tokens -> canonical
        (5, "a wholly unrelated document about spark physical planning " * 4),
        (6, "short unique"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus_dedup(docs).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5, 6]
    cluster = {out[i].cluster_id for i in (1, 2, 3, 4)}
    assert len(cluster) == 1  # transitive closure collapsed all four
    assert all(out[i].canonical_id == 4 for i in (1, 2, 3, 4))  # most tokens wins
    assert out[4].keep and not any(out[i].keep for i in (1, 2, 3))
    assert out[1].n_members == 4
    for i in (5, 6):
        assert out[i].keep and out[i].canonical_id == i and out[i].n_members == 1


def test_corpus_dedup_tie_breaks_to_lowest_id(spark):
    from audience_finder_pro_spark.operators.dedup import corpus_dedup

    base = "identical content repeated for every member of this cluster " * 4
    docs = spark.createDataFrame(
        [(7, base), (3, base), (5, base)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in corpus_dedup(docs).collect()}
    assert all(r.canonical_id == 3 for r in out.values())
    assert out[3].keep and not out[5].keep and not out[7].keep


def test_corpus_dedup_consistent_with_cc_clusters(spark, sf_smoke):
    """Same evidence, same clusters: corpus_dedup's cluster partition must
    equal dedup_clusters over exact+minhash edges (the oracle-checked CC
    machinery), and exactly one keeper per cluster."""
    from audience_finder_pro_spark.operators.dedup import corpus_dedup

    docs = load_table(spark, sf_smoke, "documents")
    out = corpus_dedup(docs).collect()
    assert len(out) == docs.count()  # total function: one verdict per doc
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, rows in by_cluster.items():
        keepers = [r for r in rows if r.keep]
        assert len(keepers) == 1, cid
        assert all(r.canonical_id == keepers[0].doc_id for r in rows)
        assert all(r.n_members == len(rows) for r in rows)
        assert min(r.doc_id for r in rows) == cid  # cluster_id = min member id


def test_corpus_dedup_evaluates_input_once(spark, sf_smoke):
    """The input plan runs once per call: the per-doc feature checkpoint
    is the only reader of ``docs``, through the build and the collect."""
    from audience_finder_pro_spark.operators.dedup import corpus_dedup

    raw = load_table(spark, sf_smoke, "documents")
    n = raw.count()
    evaluated = spark.sparkContext.accumulator(0)

    def counted(text):
        evaluated.add(1)
        return text

    docs = raw.withColumn("text", F.udf(counted, "string")("text"))
    out = corpus_dedup(docs)
    assert evaluated.value == n
    assert len(out.collect()) == n
    assert evaluated.value == n


def _corpus_dedup_reference(docs):
    """corpus_dedup composed from the public operators, reading ``docs``
    once per leg: md5 exact edges, minhash_lsh_pairs near edges,
    dedup_clusters, keep-best by token count (ties to the lowest id)."""
    from audience_finder_pro_spark.functions.text import norm_text_hash, tokens
    from audience_finder_pro_spark.operators.graph import dedup_clusters

    h = docs.select("doc_id", norm_text_hash("text").alias("text_hash"))
    reps = h.groupBy("text_hash").agg(F.min("doc_id").alias("_rep"))
    exact = (
        h.join(reps, "text_hash")
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    near = minhash_lsh_pairs(docs).select("id_a", "id_b")
    clusters = dedup_clusters(docs, exact.unionByName(near))
    scored = docs.select(
        "doc_id", F.size(tokens("text")).cast("double").alias("_score")
    ).join(clusters, "doc_id")
    best = scored.groupBy("cluster_id").agg(
        F.max_by("doc_id", F.struct("_score", (-F.col("doc_id")).alias("_nid"))).alias(
            "canonical_id"
        ),
        F.count("*").alias("n_members"),
    )
    return scored.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        "n_members",
    )


_WORDS = [f"w{i}" for i in range(80)]
_TEXT = " ".join(f"v{i}" for i in range(40))  # shares no shingle with _WORDS


@pytest.mark.parametrize(
    "rows,same_cluster",
    [
        pytest.param(
            [
                (1, None),
                (2, None),  # NULL text has no fingerprint: never an exact dup
                (3, ""),
                (4, ""),  # empty text IS one (md5 of ''), with no shingles
                (5, "one"),
                (6, "two tokens"),
                (7, "Two   TOKENS"),  # exact copy of 6 after normalization
                (8, _TEXT),
            ],
            [(3, 4), (6, 7)],
            id="null_empty_short",
        ),
        pytest.param(
            [
                (1, " ".join(_WORDS[0:60])),  # A
                (2, " ".join(_WORDS[10:70])),  # B: A~B (jaccard 0.71)
                (3, " ".join(_WORDS[20:80])),  # C: B~C, A!~C (0.49)
                (4, _TEXT),
                (5, _TEXT.upper()),  # exact copy of 4
                (6, _TEXT + " and more"),  # near copy of 4, most tokens
                (7, "short unique"),
            ],
            [(1, 2, 3), (4, 5, 6)],
            id="copies_and_chain",
        ),
    ],
)
def test_corpus_dedup_matches_operator_composition(spark, rows, same_cluster):
    from audience_finder_pro_spark.operators.dedup import corpus_dedup

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, corpus_dedup(docs).collect()))
    assert [r[0] for r in got] == [r[0] for r in rows]  # one verdict per doc
    assert got == sorted(map(tuple, _corpus_dedup_reference(docs).collect()))
    cluster = {r[0]: r[1] for r in got}
    for ids in same_cluster:
        assert len({cluster[i] for i in ids}) == 1, ids
    assert len(set(cluster.values())) == len(rows) - sum(len(c) - 1 for c in same_cluster)


# ------------------------------------------------ E25 passage-level repetition
def test_repeated_passages_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PASSAGE_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["repeated_passages"](spark, sf_dir),
        _PASSAGE_ORACLE,
        sf_dir,
        name="repeated_passages",
    )


def test_repeated_passages_planted_spans(spark):
    """A passage shared verbatim by two docs is flagged in BOTH, with the
    span covering exactly the shared tokens; within-doc repetition flags
    too (min_count counts occurrences, not documents); unique text is
    clean; a doc with < n tokens has no grams and a NULL fraction."""
    from audience_finder_pro_spark.operators.dedup import repeated_passages

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # exactly 8 tokens
    rows = [
        (1, shared + " unique tail one two three four five six seven eight nine ten"),
        (2, "different head words entirely " + shared),
        (3, "totally unrelated content with no overlap whatsoever at all here now"),
        (4, "loop loop loop loop loop loop loop loop loop loop loop loop"),  # self-repeat
        (5, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repeated_passages(docs, n=8, min_count=2).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5]
    # doc 1: shared 8-gram at pos 0 -> span 0-7
    assert out[1].n_repeated_grams == 1 and out[1].spans == "0-7"
    # doc 2: shared passage starts at token 4 -> span 4-11
    assert out[2].n_repeated_grams == 1 and out[2].spans == "4-11"
    assert out[3].n_repeated_grams == 0 and out[3].spans == ""
    # doc 4: twelve identical tokens -> every 8-gram identical, all 5
    # positions repeat, one merged span covering the whole doc
    assert out[4].n_repeated_grams == 5 and out[4].spans == "0-11"
    assert out[4].repeated_fraction == 1.0
    assert out[5].n_grams == 0 and out[5].repeated_fraction is None and out[5].spans == ""


def test_repeated_passages_span_merging(spark):
    """Two repeated runs separated by fewer than n fresh gram positions
    merge into one token interval; separated by more, they stay apart."""
    from audience_finder_pro_spark.operators.dedup import repeated_passages

    p1 = "one two three four five six seven eight"
    p2 = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    filler = " ".join(f"f{i}" for i in range(20))
    rows = [
        (1, p1 + " " + p2),              # adjacent repeats -> one merged span
        (2, p1 + " " + filler + " " + p2),  # far apart -> two spans
        (3, p1),                          # second occurrence of p1
        (4, p2),                          # second occurrence of p2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repeated_passages(docs, n=8, min_count=2).collect()}
    assert out[1].spans == "0-15"
    assert out[2].spans == "0-7;28-35"
    assert out[3].spans == "0-7" and out[4].spans == "0-7"


# ------------------------------------------------ E26 cross-source overlap matrix
def test_source_overlap_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _OVERLAP_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["source_overlap"](spark, sf_dir), _OVERLAP_ORACLE, sf_dir, name="source_overlap"
    )


def test_source_overlap_planted_matrix(spark):
    """Two sources sharing a near-identical doc show up in their cross
    cell; a self-redundant source fills its diagonal; disjoint sources
    read zero. The matrix is total over unordered source pairs."""
    from audience_finder_pro_spark.operators.dedup import source_overlap

    shared = "this exact paragraph was crawled by two different pipelines " * 5
    rows = [
        (1, "web", shared),
        (2, "books", shared + "trailing difference"),
        (3, "web", "unique web document about distributed joins " * 5),
        (4, "books", "unique book passage about medieval history " * 5),
        (5, "wiki", "an encyclopedia article with its own content " * 5),
        (6, "wiki", "an encyclopedia article with its own content " * 5 + "v2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.source_a, r.source_b): r for r in source_overlap(docs, threshold=0.6).collect()}
    assert len(out) == 6  # 3 sources -> 3 diagonal + 3 cross cells
    assert out[("books", "web")].n_pairs == 1  # the shared crawl
    assert out[("wiki", "wiki")].n_pairs == 1  # self-redundant source
    assert out[("books", "wiki")].n_pairs == 0
    assert out[("web", "wiki")].n_pairs == 0
    assert out[("web", "web")].n_pairs == 0
    r = out[("books", "web")]
    assert r.n_docs_a == 2 and r.n_docs_b == 2
    assert r.pairs_per_million == 250000.0  # 1 pair / 4 possible


def test_source_overlap_single_doc_diagonal_null_rate(spark):
    from audience_finder_pro_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [(1, "solo", "just one document in this source " * 4)],
        "doc_id long, source string, text string",
    )
    out = source_overlap(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_pairs == 0 and r.pairs_per_million is None  # 0 possible pairs


# ------------------------------------------------ E27 Gopher quality gate
def test_gopher_quality_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _GOPHER_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["gopher_quality"](spark, sf_dir), _GOPHER_ORACLE, sf_dir, name="gopher_quality"
    )


def test_gopher_filters_planted_rules(spark):
    """One doc per rule violation; a clean doc passes."""
    from audience_finder_pro_spark.operators.filtering import gopher_filters

    good = (
        "The distributed engine reads parquet files and joins the tables "
        "with a broadcast strategy that we have measured to be efficient. "
    ) * 5  # ~90 words, normal shape, has the/and/to/with/have/that/be/of
    rows = [
        (1, good),
        (2, "too few words to pass the gate"),  # word count < 50
        (3, ("a " * 120).strip()),  # mean word length 1 < 3
        (4, ("## " * 60) + good),  # symbol ratio > 0.1
        (5, "\n".join("• bullet item with some words here" for _ in range(20))),  # bullets
        (6, "\n".join("this line trails off into dots..." for _ in range(20)) + "\n" + good),
        (7, ("1234 5678 " * 30) + "the of and that be"),  # alpha frac < 0.8
        (8, ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do " * 8)),  # no stop words
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_filters(docs).collect()}
    assert out[1].keep, out[1]
    assert not out[2].keep and out[2].n_words < 50
    assert not out[3].keep and out[3].mean_word_len < 3
    assert not out[4].keep and out[4].symbol_ratio > 0.1
    assert not out[5].keep and out[5].bullet_frac > 0.9
    assert not out[6].keep and out[6].ellipsis_frac > 0.3
    assert not out[7].keep and out[7].alpha_frac < 0.8
    assert not out[8].keep and out[8].n_stop_words < 2


def test_gopher_filters_degenerate_docs(spark):
    from audience_finder_pro_spark.operators.filtering import gopher_filters

    docs = spark.createDataFrame(
        [(1, ""), (2, "   \n  \t "), (3, None)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in gopher_filters(docs).collect()}
    for i in (1, 2):
        assert out[i].n_words == 0 and out[i].keep is False
        assert out[i].mean_word_len is None and out[i].alpha_frac is None
    assert out[3].keep is False  # NULL text never passes


# ------------------------------------------------ E28 DSIR Gumbel resampling
def test_dsir_resample_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _RESAMPLE_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["dsir_resample"](spark, sf_dir), _RESAMPLE_ORACLE, sf_dir, name="dsir_resample"
    )


def test_gumbel_topk_semantics(spark):
    """Deterministic across invocations and partitionings; exactly k
    rows; a score lead of +20 (odds ratio e^20) is effectively never
    overturned by Gumbel noise; temperature -> 0 degenerates to plain
    top-k by score."""
    from audience_finder_pro_spark.operators.sampling import gumbel_topk

    rows = [(i, 20.0 if i < 5 else 0.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    picked = {r.doc_id for r in gumbel_topk(df, k=10).collect()}
    assert len(picked) == 10
    assert {0, 1, 2, 3, 4} <= picked  # e^20 odds: the high scorers are in
    again = {r.doc_id for r in gumbel_topk(df.repartition(7), k=10).collect()}
    assert picked == again  # derandomized draw is partitioning-independent
    cold = {r.doc_id for r in gumbel_topk(df, k=5, temperature=1e-9).collect()}
    assert cold == {0, 1, 2, 3, 4}  # T->0: plain argmax by score


def test_gumbel_topk_flattens_with_temperature(spark):
    """High temperature pushes the draw toward uniform: the top-scorer
    share of selections drops as T grows (same salt, varying T)."""
    from audience_finder_pro_spark.operators.sampling import gumbel_topk

    rows = [(i, 3.0 if i < 20 else 0.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    sharp = sum(r.doc_id < 20 for r in gumbel_topk(df, k=40, temperature=0.5).collect())
    flat = sum(r.doc_id < 20 for r in gumbel_topk(df, k=40, temperature=10.0).collect())
    assert sharp > flat


# ------------------------------------------------ E29 C4 line-level cleaning
def test_c4_clean_matches_sql_oracle(spark, sf_dir):
    """Registered oracle-less (driver slots fully funded) — this
    differential IS its hash gate, same compare as the driver's."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _C4_ORACLE
    from tests.oracle import compare

    compare(QUERIES["c4_clean"](spark, sf_dir), _C4_ORACLE, sf_dir, name="c4_clean")


def test_c4_filters_planted_line_rules(spark):
    """Default C4 profile on crafted docs: short lines, javascript
    lines, and unterminated lines are dropped; lorem-ipsum / brace /
    blocklist pages fail the verdict even when their lines survive."""
    from audience_finder_pro_spark.operators.filtering import c4_filters

    good = "this is a perfectly reasonable sentence of prose. " * 3  # no \n, 1 line, 3 sents
    rows = [
        (0, good.strip()),
        (1, "too short.\nenable javascript to view this page now.\nno terminal punct here at all"),
        (2, good.strip() + "\nlorem ipsum dolor sit amet and then some."),
        (3, good.strip().replace("prose", "prose {")),
        (4, good.strip().replace("reasonable", "forbiddenword")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_filters(df, blocklist=("forbiddenword",)).collect()}
    assert out[0].keep and out[0].n_lines_kept == 1 and out[0].n_sentences == 3
    assert out[0].clean_text == good.strip()
    # doc 1: line A < 5 words, line B mentions javascript, line C no terminal punct
    assert out[1].n_lines == 3 and out[1].n_lines_kept == 0 and not out[1].keep
    assert out[1].clean_text == ""
    assert out[2].has_lorem_ipsum and not out[2].keep and out[2].n_lines_kept == 2
    assert out[3].has_brace and not out[3].keep
    assert not out[4].keep  # blocklist verdict
    assert out[4].n_lines_kept == 1  # ...but its lines are clean


def test_c4_filters_min_sentences_and_degenerates(spark):
    from audience_finder_pro_spark.operators.filtering import c4_filters

    rows = [(0, "one single good sentence right here."), (1, ""), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_filters(df, min_sentences=3).collect()}
    assert out[0].n_lines_kept == 1 and out[0].n_sentences == 1 and not out[0].keep
    out2 = {r.doc_id: r for r in c4_filters(df, min_sentences=1).collect()}
    assert out2[0].keep
    for d in (1, 2):
        assert not out[d].keep and out[d].n_lines_kept in (0, None)
        assert (out[d].clean_text or "") == ""


# ------------------------------------------------ E30 trainable quality classifier
def test_classifier_features_match_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.operators.relevance import classifier_features
    from audience_finder_pro_spark.queries.llm import _CLF_FEATURES_ORACLE
    from audience_finder_pro_spark.session import load_table
    from tests.oracle import compare

    docs = load_table(spark, sf_dir, "documents")
    feats = classifier_features(docs, label=(F.col("source") == "src0").cast("int"))
    compare(feats, _CLF_FEATURES_ORACLE, sf_dir, name="classifier_features")


def test_quality_classifier_matches_numpy_reference(spark, sf_dir):
    """End-to-end engine-independent oracle: DuckDB computes the
    features, numpy replicates the exact fit (same 6-dp Gramian/weight
    rounding) and the literal scoring — rows must hash-match the Spark
    query at 4 dp."""
    import numpy as np

    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _CLF_FEATURES_ORACLE
    from tests.oracle import canonicalize, run_oracle

    cols, rows = run_oracle(_CLF_FEATURES_ORACLE, sf_dir)
    idx = {c: i for i, c in enumerate(cols)}
    rows = [r for r in rows if r[idx["n_tok"]] > 0]
    X = np.array(
        [[1.0] + [r[idx[c]] for c in ("f_len", "f_wordlen", "f_stop", "f_ttr")] for r in rows]
    )
    y = np.array([r[idx["y"]] for r in rows], dtype=float)
    G = np.round(X.T @ X, 6)
    b = np.round(X.T @ y, 6)
    A = G + np.diag([0.0, 1.0, 1.0, 1.0, 1.0])
    w = [round(float(v), 6) for v in np.linalg.solve(A, b)]
    ref = [
        (int(r[idx["doc_id"]]), int(r[idx["y"]]),
         round(w[0] + sum(wi * r[idx[c]] for wi, c in
                          zip(w[1:], ("f_len", "f_wordlen", "f_stop", "f_ttr"))), 4))
        for r in rows
    ]
    got = QUERIES["quality_classifier_fit"](spark, sf_dir)
    g_cols, g_rows = got.columns, [tuple(r) for r in got.collect()]
    assert canonicalize(g_cols, g_rows) == canonicalize(["doc_id", "y", "clf_score"], ref)


def test_clf_pinned_weights_reproducible(spark):
    """The committed CLF_WEIGHTS literals (the driver-badged serving
    model, wide merge #23's funded slot) must be exactly what the live
    closed-form fit produces on the curated sf0.01 corpus — proves the
    literals are a reproducible artifact of fit_quality_classifier, not
    magic numbers. Stable by construction: the Gramian and weights are
    6-dp-rounded, so the fit is partitioning-independent."""
    from audience_finder_pro_spark.operators.relevance import (
        classifier_features,
        fit_quality_classifier,
    )
    from audience_finder_pro_spark.queries.llm import CLF_WEIGHTS
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents", fan_out=True)
    feats = classifier_features(
        docs, label=(F.col("source") == "src0").cast("int")
    ).filter(F.col("n_tok") > 0)
    assert fit_quality_classifier(feats) == CLF_WEIGHTS


def test_quality_classifier_separation_and_determinism(spark):
    """Planted two-class corpus (class 1 = longer docs, more stop
    words): the fitted direction must rank class 1 higher; weights and
    scores are identical under repartitioning (rounded-Gramian rule)."""
    from audience_finder_pro_spark.operators.relevance import (
        classifier_features,
        fit_quality_classifier,
        score_quality_classifier,
    )

    rows = [
        (i, 1, "the quick brown fox jumps over the lazy dog and that have with be to of " * 6)
        for i in range(40)
    ] + [(100 + i, 0, "buy pills cheap now " * 3) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, y int, text string")
    feats = classifier_features(df, label=F.col("y")).filter(F.col("n_tok") > 0)
    w = fit_quality_classifier(feats)
    scored = score_quality_classifier(feats, w).select("doc_id", "y", "clf_score").collect()
    hi = [r.clf_score for r in scored if r.y == 1]
    lo = [r.clf_score for r in scored if r.y == 0]
    assert min(hi) > max(lo)  # clean separation on separable classes
    w2 = fit_quality_classifier(
        classifier_features(df.repartition(7), label=F.col("y")).filter(F.col("n_tok") > 0)
    )
    assert w == w2  # partitioning-independent fit


# ------------------------------------------------ E32 c-TF-IDF cluster topics
def test_cluster_topics_matches_sql_oracle(spark, sf_dir):
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _CLUSTER_TOPICS_ORACLE
    from tests.oracle import compare

    compare(
        QUERIES["cluster_topics"](spark, sf_dir), _CLUSTER_TOPICS_ORACLE, sf_dir,
        name="cluster_topics",
    )


def test_cluster_topics_surfaces_planted_signatures(spark):
    """Two clusters sharing filler vocabulary but each with a signature
    token: c-TF-IDF must rank the signature first in its own cluster
    (shared filler gets IDF-crushed)."""
    from audience_finder_pro_spark.operators.relevance import cluster_topics

    filler = "common words shared by every cluster here "
    rows = [(i, filler + "quantum " * 3) for i in range(10)] + [
        (100 + i, filler + "recipes " * 3) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assign = spark.createDataFrame(
        [(i, 0) for i in range(10)] + [(100 + i, 1) for i in range(10)],
        "doc_id long, cluster int",
    )
    out = cluster_topics(docs, assign, k=1).collect()
    top = {r.cluster: r.token for r in out}
    assert top == {0: "quantum", 1: "recipes"}
    # exactly k rows per cluster, rnk always 1..k
    assert all(r.rnk == 1 for r in out) and len(out) == 2


# ------------------------------------------------------- E36 BM25 retrieval
def test_bm25_retrieval_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate (the same compare the driver would run), plus the bench
    comparator via _extra_oracles."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _BM25_ORACLE
    from tests.oracle import compare

    compare(QUERIES["bm25_retrieval"](spark, sf_dir), _BM25_ORACLE, sf_dir,
            name="bm25_retrieval")


def test_bm25_ranking_semantics(spark):
    """Planted corpus pins the three BM25 properties that distinguish it
    from raw TF scoring: (1) a doc matching MORE distinct query terms
    outranks repetition of one term (idf sums beat tf saturation);
    (2) at equal term counts the SHORTER doc wins (length
    normalization, b > 0); (3) docs with no query term never appear."""
    from pyspark.sql import functions as F  # noqa: F401

    from audience_finder_pro_spark.operators.relevance import bm25_retrieve

    filler = "xx yy zz " * 4
    rows = [
        (1, "alpha beta " + filler),          # both terms, long
        (2, "alpha beta"),                    # both terms, short -> best
        (3, "alpha alpha alpha " + filler),   # one term repeated
        (4, filler),                          # no query terms
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    queries = spark.createDataFrame([(0, "alpha beta")], "query_id int, query_text string")
    out = bm25_retrieve(docs, queries, k=10).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rnk)]
    assert 4 not in ranked
    assert ranked[0] == 2, ranked          # short two-term doc first
    assert ranked.index(1) < ranked.index(3), ranked  # two terms beat repetition
    assert [r.rnk for r in sorted(out, key=lambda r: r.rnk)] == [1, 2, 3]


def test_bm25_max_df_frac_drops_hot_terms(spark):
    """VERDICT r9 #3: the hot-term guard. A query carrying a
    corpus-saturating stopword ('the' in every doc) must, with
    max_df_frac set, produce the IDENTICAL (doc, score, rnk) ranking as
    the stopword-free query — dropping a ~zero-idf term is
    semantics-neutral — while the unguarded default still scores every
    term (oracle-spec behavior)."""
    from audience_finder_pro_spark.operators.relevance import bm25_retrieve

    docs = spark.createDataFrame(
        [(i, f"the filler{i % 3} needle" if i % 2 == 0 else f"the filler{i % 3} hay")
         for i in range(20)],
        "doc_id long, text string",
    )
    q_hot = spark.createDataFrame([(0, "the needle")], "query_id int, query_text string")
    q_clean = spark.createDataFrame([(0, "needle")], "query_id int, query_text string")

    guarded = sorted(
        (r.doc_id, r.score, r.rnk)
        for r in bm25_retrieve(docs, q_hot, k=10, max_df_frac=0.5).collect()
    )
    clean = sorted(
        (r.doc_id, r.score, r.rnk)
        for r in bm25_retrieve(docs, q_clean, k=10).collect()
    )
    assert guarded == clean and len(guarded) == 10
    # unguarded: the stopword's tiny-but-positive idf still enters scores
    unguarded = {r.doc_id: r.score for r in bm25_retrieve(docs, q_hot, k=10).collect()}
    assert all(unguarded[d] >= s for d, s, _ in clean)
    assert any(unguarded[d] > s for d, s, _ in clean)
    # a query made ENTIRELY of hot terms returns empty under the guard
    assert bm25_retrieve(docs, spark.createDataFrame(
        [(0, "the")], "query_id int, query_text string"
    ), k=10, max_df_frac=0.5).count() == 0


# -------------------------------------------------- E37 hybrid RRF retrieval
def test_hybrid_retrieval_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate (the same compare the driver would run), plus the bench
    comparator via _extra_oracles. Verified at sf0.1 too on landing
    (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _RRF_ORACLE
    from tests.oracle import compare

    compare(QUERIES["hybrid_retrieval"](spark, sf_dir), _RRF_ORACLE, sf_dir,
            name="hybrid_retrieval")


def test_rrf_fuse_semantics(spark):
    """Planted ranked lists pin the RRF properties: (1) a doc ranked by
    BOTH legs outranks any single-leg doc whose best rank is worse than
    rank-1 (1/61+1/80 > 1/62); (2) contributions follow the exact
    1/(k_rrf + rank) closed form; (3) a doc present in one leg only
    still appears, with n_legs = 1; (4) ties on the rounded score break
    by ascending id in a total order."""
    from audience_finder_pro_spark.operators.relevance import rrf_fuse

    sparse = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "query_id long, doc_id long, rnk int"
    )
    dense = spark.createDataFrame(
        [(0, 10, 20), (0, 13, 1), (0, 14, 2)], "query_id long, doc_id long, rnk int"
    )
    out = {r.doc_id: r for r in rrf_fuse([("s", sparse), ("d", dense)], k=10).collect()}
    assert set(out) == {10, 11, 12, 13, 14}
    # closed forms (round 6, fixed two-term order)
    assert out[10].rrf_score == round(1 / 61 + 1 / 80, 6)
    assert out[13].rrf_score == round(1 / 61, 6)
    assert out[10].n_legs == 2 and out[13].n_legs == 1
    # both-legs doc 10 beats every single-leg doc, including both rank-1s
    assert out[10].rnk == 1
    # 11 (sparse rank 2) and 13 (dense rank 1): 1/61 > 1/62 -> 13 first
    assert out[13].rnk < out[11].rnk
    # equal-rank different-leg docs tie on score and break by id: 11 vs 14
    assert out[11].rrf_score == out[14].rrf_score
    assert out[11].rnk < out[14].rnk


# -------------------------------------------------- E38 fuzzy record linkage
def test_record_linkage_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate (the same compare the driver would run), plus the bench
    comparator via _extra_oracles. Verified at sf0.1 too on landing
    (NOTES audit rule). All-integer output: no float classes."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _LINKAGE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["record_linkage"](spark, sf_dir), _LINKAGE_ORACLE, sf_dir,
            name="record_linkage")


def test_record_linkage_finds_every_planted_partner(spark, sf_dir):
    """The sf fixture's corruption deletes at positions [2,14] of an
    18-char name, so suffix-4 blocking must catch EVERY planted pair:
    each customer's best match is exactly its own corrupted row
    (right_id = c_custkey + 1_000_000) at dist 1."""
    from audience_finder_pro_spark.queries import QUERIES
    from pyspark.sql import functions as F

    out = QUERIES["record_linkage"](spark, sf_dir)
    n = out.count()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert n == n_cust
    planted = out.filter(
        (F.col("right_id") == F.col("c_custkey") + 1_000_000) & (F.col("dist") == 1)
    ).count()
    assert planted == n_cust, f"{planted} of {n_cust} planted partners won"


def test_fuzzy_link_semantics(spark):
    """Planted micro-corpus pins the operator contract: (1) exact
    duplicates match at dist 0 and win over near matches; (2) a
    right record past max_dist never appears even when it shares a
    block; (3) a pair sharing NO blocking key is not compared
    (declared blocking recall — 'zzfoo' vs 'fozz' stays unmatched);
    (4) best_only tie-breaks equal distances by ascending right id;
    (5) best_only=False returns every in-budget candidate."""
    from audience_finder_pro_spark.operators.linkage import fuzzy_link

    left = spark.createDataFrame(
        [(1, "alphabet"), (2, "zzfoo")], "left_id long, left_name string"
    )
    right = spark.createDataFrame(
        [
            (10, "alphabet"),   # dist 0
            (11, "alphabex"),   # dist 1, same prefix block
            (12, "alPHAbet"),   # dist > 2 (3 subs), same blocks
            (13, "fozz"),       # reversed: shares neither 2-prefix nor 2-suffix with zzfoo
        ],
        "right_id long, right_name string",
    )
    best = {r.left_id: r for r in fuzzy_link(
        left, right, max_dist=2, prefix_len=2, suffix_len=2
    ).collect()}
    assert best[1].right_id == 10 and best[1].dist == 0
    assert 2 not in best  # blocking recall: no shared key -> never compared
    all_cand = fuzzy_link(
        left, right, max_dist=2, prefix_len=2, suffix_len=2, best_only=False
    ).collect()
    got = {(r.left_id, r.right_id, r.dist) for r in all_cand}
    assert got == {(1, 10, 0), (1, 11, 1)}  # 12 over budget, 13 unblocked
    # tie-break: two dist-1 candidates, lower right id wins
    tie_right = spark.createDataFrame(
        [(21, "alphabex"), (20, "alphabez")], "right_id long, right_name string"
    )
    tb = fuzzy_link(left.filter("left_id = 1"), tie_right,
                    max_dist=2, prefix_len=2, suffix_len=0).collect()
    assert len(tb) == 1 and tb[0].right_id == 20 and tb[0].dist == 1


def test_fuzzy_link_short_names_sit_out_suffix_pass(spark):
    """ADVICE r9: names shorter than suffix_len are excluded from the
    suffix blocking pass (engines disagree on negative-position
    substrings below the key length — Spark substring('ab',-4,4)='ab',
    ANSI substr='b'). Pinned semantics: 'ab' vs 'ab' does NOT pair via a
    suffix-4 pass, but DOES via a prefix pass that it satisfies."""
    from audience_finder_pro_spark.operators.linkage import fuzzy_link

    left = spark.createDataFrame([(1, "ab")], "left_id long, left_name string")
    right = spark.createDataFrame([(10, "ab")], "right_id long, right_name string")
    suffix_only = fuzzy_link(
        left, right, max_dist=2, prefix_len=0, suffix_len=4
    ).collect()
    assert suffix_only == []  # short name never enters the suffix pass
    prefix_pass = fuzzy_link(
        left, right, max_dist=2, prefix_len=2, suffix_len=4
    ).collect()
    assert len(prefix_pass) == 1 and prefix_pass[0].dist == 0


def test_rrf_fuse_rejects_duplicate_leg_names(spark):
    """ADVICE r9: duplicate leg names would mint duplicate _rnk_{name}
    columns and fail as an ambiguous reference deep in the join chain —
    rejected up front instead."""
    import pytest

    from audience_finder_pro_spark.operators.relevance import rrf_fuse

    leg = spark.createDataFrame(
        [(1, 100, 1)], "query_id long, doc_id long, rnk int"
    )
    with pytest.raises(ValueError, match="unique"):
        rrf_fuse([("s", leg), ("s", leg)], k=5)


# -------------------------------------------------- E39 k-anonymity audit
def test_privacy_audit_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule). All-integer output."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PRIVACY_ORACLE
    from tests.oracle import compare

    compare(QUERIES["privacy_audit"](spark, sf_dir), _PRIVACY_ORACLE, sf_dir,
            name="privacy_audit")


def test_k_anonymity_audit_semantics(spark):
    """Planted table pins the contract: class sizes exact, risky flags
    classes strictly below k, l-diversity counts DISTINCT non-NULL
    sensitive values (NULL ignored — the count_distinct semantic
    documented at operators/validate.py), and NULL quasi values form
    their own equivalence class."""
    from audience_finder_pro_spark.operators.privacy import k_anonymity_audit

    rows = [
        ("us", "a", 1), ("us", "a", 2), ("us", "a", 2),   # size 3, 2 distinct
        ("us", "b", 5),                                    # size 1 -> risky
        (None, "a", None), (None, "a", 7),                 # NULL quasi class, 1 non-NULL sensitive
    ]
    df = spark.createDataFrame(rows, "region string, seg string, val int")
    out = {(r.region, r.seg): r for r in k_anonymity_audit(
        df, ["region", "seg"], k=2, sensitive_col="val", l=2
    ).collect()}
    assert out[("us", "a")].class_size == 3 and out[("us", "a")].risky == 0
    assert out[("us", "a")].n_sensitive == 2 and out[("us", "a")].diverse == 1
    assert out[("us", "b")].risky == 1 and out[("us", "b")].diverse == 0
    assert out[(None, "a")].class_size == 2          # NULLs group together
    assert out[(None, "a")].n_sensitive == 1         # NULL sensitive ignored
    assert len(out) == 3


# -------------------------------------------------- E40 rolling anomaly scan
def test_anomaly_scan_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule; z is signed — the +0.0
    normalizer is part of both engines' projections)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _ANOMALY_ORACLE
    from tests.oracle import compare

    compare(QUERIES["anomaly_scan"](spark, sf_dir), _ANOMALY_ORACLE, sf_dir,
            name="anomaly_scan")


def test_rolling_anomaly_semantics(spark):
    """One planted key: alternating 2/3 daily counts for 9 days, then a
    spike of 30. The first two buckets have <2 baseline points (z
    NULL); mid-series |z| stays ~1 (unflagged); the spike's z equals
    the closed form computed with the SAME integer-sum formula — and
    only the spike is flagged."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.timeseries import rolling_anomaly

    counts = [2, 3, 2, 3, 2, 3, 2, 3, 2, 30]
    rows = [
        (day, i)
        for day, c in enumerate(counts)
        for i in range(c)
    ]
    ev = spark.createDataFrame(rows, "day int, i int").select(
        F.timestamp_seconds(F.col("day") * 86400 + F.col("i")).alias("ts"),
        F.lit("k").alias("event_type"),
    )
    out = sorted(
        rolling_anomaly(ev, step_seconds=86400, window=7, z_thresh=3.0).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.n for r in out] == counts
    assert out[0].z is None and out[1].z is None          # c < 2
    assert all(r.is_anomaly == 0 for r in out[2:9])        # |z| ~ 1
    base = counts[2:9]                                     # rows -7..-1 of the spike
    s, sq, c = float(sum(base)), float(sum(b * b for b in base)), float(len(base))
    mean, var = s / c, (sq - s * s / c) / (c - 1.0)
    z = (30.0 - mean) / var ** 0.5
    assert out[9].is_anomaly == 1
    assert out[9].z == round(z, 4) + 0.0
    assert out[9].baseline_mean == round(mean, 4)


# -------------------------------------------------- E41 incremental rollup
def test_incremental_rollup_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle
    recomputes from the full table in one pass while the query merges
    three disjoint batch states, so the hash match IS the merge-algebra
    proof. Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _INCREMENTAL_ORACLE
    from tests.oracle import compare

    compare(QUERIES["incremental_rollup"](spark, sf_dir), _INCREMENTAL_ORACLE,
            sf_dir, name="incremental_rollup")


def test_rollup_state_merge_algebra(spark):
    """The monoid contract on a planted frame: merging per-batch states
    equals the full recompute for ANY slicing and ANY merge order/
    grouping — including pairwise (associativity) and reversed
    (commutativity) — bit-for-bit, because the sum is exact decimal."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_rollup_states,
        rollup_state,
    )

    df = spark.createDataFrame(
        [(i % 3, float(i) / 4 - 10) for i in range(101)], "key int, value double"
    )
    full = rollup_state(df, ["key"], "value")
    # three disjoint slices on a non-key axis
    slices = [df.filter((F.col("value") + 10) * 4 % 3 == i) for i in range(3)]
    states = [rollup_state(s, ["key"], "value") for s in slices]

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    expect = rows(full)
    assert rows(merge_rollup_states(states)) == expect
    assert rows(merge_rollup_states(states[::-1])) == expect           # commutative
    ab_then_c = merge_rollup_states(
        [merge_rollup_states(states[:2]), states[2]]
    )
    assert rows(ab_then_c) == expect                                   # associative
    # negative values keep exact extrema and the count telescopes
    got = {r.key: r for r in full.collect()}
    vals = {k: [float(i) / 4 - 10 for i in range(101) if i % 3 == k] for k in range(3)}
    for k in range(3):
        assert got[k].n == len(vals[k])
        assert float(got[k].min_value) == min(vals[k])
        assert float(got[k].max_value) == max(vals[k])
        assert float(got[k].sum_value) == sum(vals[k])  # quarters: exact in decimal AND float


# -------------------------------------------- E42 mergeable histogram state
def test_histogram_state_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle bins
    the full table in one pass while the query merges three disjoint
    slice states, so the hash match IS the distribution-monoid proof.
    Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _HISTOGRAM_ORACLE
    from tests.oracle import compare

    compare(QUERIES["histogram_state"](spark, sf_dir), _HISTOGRAM_ORACLE,
            sf_dir, name="histogram_state")


def test_histogram_state_semantics_and_quantiles(spark):
    """Planted values pin the contract: (1) bin edges land by
    floor((v-lo)/w) with lower-edge-inclusive bins; (2) out-of-range
    values clamp into the edge bins; (3) NULLs are dropped; (4) merging
    any slicing in any order equals the one-pass state exactly (integer
    counts); (5) quantiles_from_state returns the upper edge of the
    first bin whose cumulative count reaches q*total — checked against
    a hand-walked CDF."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        histogram_state,
        merge_histogram_states,
        quantiles_from_state,
    )

    vals = [-5.0, 0.0, 9.99, 10.0, 25.0, 77.0, 99.99, 100.0, 140.0, None]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v double")
    state = histogram_state(df, [], "v", lo=0.0, hi=100.0, n_bins=10)
    got = {r.bin: r.bin_n for r in state.collect()}
    # -5 and 0 and 9.99 -> bin 0 (clamp + inclusive lower edge); 10 -> 1;
    # 25 -> 2; 77 -> 7; 99.99, 100, 140 -> bin 9 (clamp); NULL dropped
    assert got == {0: 3, 1: 1, 2: 1, 7: 1, 9: 3}
    assert sum(got.values()) == 9

    slices = [df.filter(F.col("id") % 3 == i) for i in range(3)]
    states = [histogram_state(s, [], "v", lo=0.0, hi=100.0, n_bins=10) for s in slices]

    def rows(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert rows(merge_histogram_states(states)) == rows(state)
    assert rows(merge_histogram_states(states[::-1])) == rows(state)   # commutative
    assert rows(
        merge_histogram_states([merge_histogram_states(states[:2]), states[2]])
    ) == rows(state)                                                   # associative

    # CDF walk: counts per bin [3,1,1,0,0,0,0,1,0,3], total 9.
    # q=0.5 -> 4.5: cum 3(b0),4(b1),5(b2) -> bin 2 -> edge 30.0
    # q=0.1 -> 0.9: bin 0 -> 10.0;  q=1.0 -> 9: bin 9 -> 100.0
    qs = {
        r.q: r.quantile
        for r in quantiles_from_state(
            state, [], [0.1, 0.5, 1.0], lo=0.0, hi=100.0, n_bins=10
        ).collect()
    }
    assert qs == {0.1: 10.0, 0.5: 30.0, 1.0: 100.0}


def test_histogram_state_grouped_keys(spark):
    """Per-key states stay independent: two keys with disjoint value
    ranges produce disjoint bins, and a merged two-slice state matches
    the one-pass state per key."""
    from audience_finder_pro_spark.operators.incremental import (
        histogram_state,
        merge_histogram_states,
    )

    rows = [("a", float(v)) for v in range(10)] + [("b", 90.0 + v) for v in range(10)]
    df = spark.createDataFrame(rows, "k string, v double")
    state = histogram_state(df, ["k"], "v", lo=0.0, hi=100.0, n_bins=10)
    got = {(r.k, r.bin): r.bin_n for r in state.collect()}
    assert got == {("a", 0): 10, ("b", 9): 10}
    halves = [df.filter("v < 50"), df.filter("v >= 50")]
    merged = merge_histogram_states(
        [histogram_state(h, ["k"], "v", lo=0.0, hi=100.0, n_bins=10) for h in halves]
    )
    assert {(r.k, r.bin): r.bin_n for r in merged.collect()} == got


# -------------------------------------------- E43 per-source calibration
def test_score_calibration_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _CALIBRATION_ORACLE
    from tests.oracle import compare

    compare(QUERIES["score_calibration"](spark, sf_dir), _CALIBRATION_ORACLE,
            sf_dir, name="score_calibration")


def test_calibration_semantics(spark):
    """Planted groups pin the contract: (1) calibrate_scores is
    percent_rank — 0 at each group's min, 1 at its max, ties share a
    value, single-row groups get 0; (2) a score that is high in a
    low-baseline group and low in a high-baseline group calibrates
    accordingly (the cross-source comparability the operator exists
    for); (3) calibration_map bins are equal-population by the integer
    rank formula with remainders in the later bins, and lo/hi cover the
    group's range."""
    from audience_finder_pro_spark.operators.calibrate import (
        calibrate_scores,
        calibration_map,
    )

    rows = (
        [("low", i, float(i)) for i in range(5)]            # scores 0..4
        + [("high", 10 + i, 100.0 + i) for i in range(5)]   # scores 100..104
        + [("tied", 20, 7.0), ("tied", 21, 7.0), ("tied", 22, 9.0)]
        + [("solo", 30, 42.0)]
    )
    df = spark.createDataFrame(rows, "src string, doc_id long, score double")
    cal = {(r.src, r.doc_id): r.calibrated
           for r in calibrate_scores(df, "src", "score").collect()}
    assert cal[("low", 0)] == 0.0 and cal[("low", 4)] == 1.0
    assert cal[("high", 10)] == 0.0 and cal[("high", 14)] == 1.0
    # 102.0 is LOW within 'high' (0.5) even though globally huge;
    # 4.0 is the TOP of 'low' — calibration makes them comparable
    assert cal[("high", 12)] == 0.5 and cal[("high", 12)] < cal[("low", 4)]
    assert cal[("tied", 20)] == cal[("tied", 21)] == 0.0   # ties share
    assert cal[("tied", 22)] == 1.0
    assert cal[("solo", 30)] == 0.0                        # single row -> 0

    m = {(r.src, r.bin): r for r in calibration_map(
        df.filter("src = 'low'"), "src", "score", id_col="doc_id", n_bins=2
    ).collect()}
    # 5 rows into 2 bins: floor((rn-1)*2/5) -> rn 1-3 bin 0, rn 4-5 bin 1
    assert m[("low", 0)].n_docs == 3 and m[("low", 1)].n_docs == 2
    assert m[("low", 0)].lo == 0.0 and m[("low", 0)].hi == 2.0
    assert m[("low", 1)].lo == 3.0 and m[("low", 1)].hi == 4.0


def test_calibrate_scores_matches_duckdb_percent_rank(spark):
    """Cross-engine differential for the per-doc form (the map's gate
    covers the binned form): seeded-random scores with planted ties,
    Spark percent_rank vs DuckDB percent_rank on the same frame."""
    import random

    import duckdb

    from audience_finder_pro_spark.operators.calibrate import calibrate_scores

    rng = random.Random(7)
    rows = [
        (f"s{i % 4}", i, round(rng.uniform(0, 10) if i % 5 else 5.0, 2))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, score double")
    got = {(r.src, r.doc_id): r.calibrated
           for r in calibrate_scores(df, "src", "score").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (src VARCHAR, doc_id BIGINT, score DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {
        (s, d): c
        for s, d, c in con.execute(
            "SELECT src, doc_id, round(percent_rank() OVER "
            "(PARTITION BY src ORDER BY score), 4) FROM t"
        ).fetchall()
    }
    assert got == want


# -------------------------------------------- E44 feature-hashing embedder
def test_hashed_embedding_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. All-integer
    output (no float discipline needed). Verified at sf0.1 too on
    landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _HASHED_EMB_ORACLE
    from tests.oracle import compare

    compare(QUERIES["hashed_embedding"](spark, sf_dir), _HASHED_EMB_ORACLE,
            sf_dir, name="hashed_embedding")


def test_hashed_embedding_semantics_and_dense_form(spark):
    """Planted docs pin the contract: (1) the same token always lands on
    the same (component, sign) — identical docs embed identically; (2)
    the dense form equals the long form component-for-component with
    zeros elsewhere; (3) a zero-token doc gets the all-zero vector; (4)
    vectors feed the similarity tier: a near-duplicate doc lands at
    high cosine to its original, a disjoint-vocabulary doc does not."""
    from audience_finder_pro_spark.operators.embedding import (
        hashed_embedding,
        hashed_embedding_long,
    )

    rows = [
        (1, "spark shuffles data across executors for wide joins"),
        (2, "spark shuffles data across executors for wide joins"),   # exact dup
        (3, "spark shuffles data across executors for wide merges"),  # near dup
        (4, "zebra quagga okapi wildebeest gnu antelope"),            # disjoint
        (5, ""),                                                      # zero tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    long = hashed_embedding_long(df, dim=64)
    by_doc: dict = {}
    for r in long.collect():
        by_doc.setdefault(r.doc_id, {})[r.component] = r.val
    assert by_doc[1] == by_doc[2]          # determinism: same text, same sparse map
    assert 5 not in by_doc                 # zero-token doc has no occupied component

    dense = {r.doc_id: list(r.embedding) for r in hashed_embedding(df, dim=64).collect()}
    assert set(dense) == {1, 2, 3, 4, 5}
    for doc, comps in by_doc.items():
        for i in range(64):
            assert dense[doc][i] == float(comps.get(i, 0)), (doc, i)
    assert dense[5] == [0.0] * 64

    import math

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
        return num / (na * nb) if na and nb else 0.0

    assert abs(cos(dense[1], dense[2]) - 1.0) < 1e-12
    assert cos(dense[1], dense[3]) > 0.8       # one-token change stays close
    assert cos(dense[1], dense[4]) < 0.5       # disjoint vocab stays far


def test_hashed_embedding_feeds_ann_tier(spark):
    """Composition: hashed_embedding output drives brute_force_topk
    unchanged — each doc's nearest neighbor (excluding itself) is its
    planted near-duplicate."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.embedding import hashed_embedding
    from audience_finder_pro_spark.operators.similarity import brute_force_topk

    rows = [
        (1, "gradient descent updates model weights iteratively"),
        (2, "gradient descent updates model weights repeatedly"),
        (3, "tokenizers split raw text into subword units"),
        (4, "tokenizers split raw text into subword pieces"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    emb = hashed_embedding(df, dim=64).withColumnRenamed("doc_id", "vec_id")
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = brute_force_topk(emb, queries, k=2).filter("query_id != vec_id")
    nn = {r.query_id: r.vec_id for r in top.filter("rnk <= 2").collect()
          if r.query_id != r.vec_id}
    assert nn[1] == 2 and nn[2] == 1 and nn[3] == 4 and nn[4] == 3


# -------------------------------------------- E45 event transition matrix
def test_transition_matrix_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.relational import _TRANSITION_ORACLE
    from tests.oracle import compare

    compare(QUERIES["transition_matrix"](spark, sf_dir), _TRANSITION_ORACLE,
            sf_dir, name="transition_matrix")


def test_transition_matrix_semantics(spark):
    """Planted sequences pin the contract: (1) transitions follow the
    per-user (ts, event_id) total order — simultaneous events break
    ties on id; (2) sequences never cross user boundaries; (3) a
    user's last event emits no transition; (4) p row-normalizes over
    each from_type."""
    from datetime import datetime

    from audience_finder_pro_spark.operators.funnel import transition_matrix

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1: view -> click -> view -> purchase
        (1, 1, "view", t(1)), (2, 1, "click", t(2)),
        (3, 1, "view", t(3)), (4, 1, "purchase", t(4)),
        # user 2: tie at t(1) broken by event_id: view(10) -> view(11)
        (10, 2, "view", t(1)), (11, 2, "view", t(1)),
        # user 3: single event -> no transition
        (20, 3, "click", t(9)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    out = {(r.from_type, r.to_type): r for r in transition_matrix(df).collect()}
    assert out[("view", "click")].n == 1
    assert out[("click", "view")].n == 1
    assert out[("view", "purchase")].n == 1
    assert out[("view", "view")].n == 1          # the tie-broken pair
    assert ("purchase", "view") not in out       # user boundary not crossed
    assert ("click", "click") not in out         # user 3's lone event silent
    # from 'view': 3 transitions total -> p = 1/3 each, 4dp
    assert out[("view", "click")].p == 0.3333
    assert out[("view", "view")].p == 0.3333
    assert out[("click", "view")].p == 1.0
    assert len(out) == 4


# -------------------------------------- E46 mergeable distinct-count sketch
def test_distinct_state_error_bound_and_merge_algebra(spark):
    """No SQL oracle by taxonomy (engine-specific sketch) — the gates
    are: (1) per-key estimates within 5% of exact distinct counts at
    lg_k=12 (~1.6% std err); (2) merging slice states in ANY order or
    grouping yields the IDENTICAL sketch bytes (HLL union is
    deterministic, associative, commutative); (3) the state
    parquet-round-trips (what a standing pipeline persists)."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        distinct_from_state,
        distinct_state,
        merge_distinct_states,
    )

    df = spark.range(60_000).select(
        (F.col("id") % 3).alias("k"),
        # per-key distinct magnitudes differ: ~20k, ~5k, ~500
        F.when(F.col("id") % 3 == 0, F.col("id"))
        .when(F.col("id") % 3 == 1, F.col("id") % 5000)
        .otherwise(F.col("id") % 500)
        .alias("v"),
    )
    exact = {r.k: r.n for r in df.groupBy("k").agg(
        F.countDistinct("v").alias("n")).collect()}
    full = distinct_state(df, ["k"], "v")
    est = {r.k: r.n_distinct for r in distinct_from_state(full).collect()}
    for k, n in exact.items():
        assert abs(est[k] - n) / n < 0.05, (k, n, est[k])

    slices = [df.filter(F.col("id") % 4 == i) for i in range(4)]
    states = [distinct_state(s, ["k"], "v") for s in slices]

    def estimates(frame):
        return sorted(
            (r.k, r.n_distinct)
            for r in distinct_from_state(frame).collect()
        )

    # the merge contract is BOUNDED, not bitwise (measured: sketch bytes
    # AND estimates vary slightly with merge order — Datasketches mode-
    # promotion artifacts; e.g. true 500 read 493 vs 499 across orders):
    # every merge order/grouping stays within the error bound of exact,
    # and a FIXED merge plan is deterministic (re-run identical)
    m1 = estimates(merge_distinct_states(states))
    m2 = estimates(merge_distinct_states(states[::-1]))
    m3 = estimates(
        merge_distinct_states(
            [merge_distinct_states(states[:2]), merge_distinct_states(states[2:])]
        )
    )
    for merged in (m1, m2, m3):
        for k, n_est in merged:
            assert abs(n_est - exact[k]) / exact[k] < 0.05, (k, n_est, exact[k])
    assert m1 == estimates(merge_distinct_states(states))  # fixed plan: replayable
    merged_est = {
        r.k: r.n_distinct
        for r in distinct_from_state(merge_distinct_states(states)).collect()
    }
    for k, n in exact.items():
        assert abs(merged_est[k] - n) / n < 0.05, (k, n, merged_est[k])


def test_distinct_state_streams_through_foreachbatch(spark, sf_smoke, tmp_path):
    """E46 through the generalized incremental-rollup seam: per-epoch
    sketch deltas union-merged across 3 epochs estimate the events
    table's per-type distinct users within the error bound, and the
    persisted state round-trips parquet."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        distinct_from_state,
        distinct_state,
        merge_distinct_states,
    )
    from audience_finder_pro_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        latest_rollup_state,
        run_stream_incremental_rollup,
    )

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    src.mkdir()
    base = load_table(spark, sf_smoke, "events")
    base.repartition(3).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_incremental_rollup(
        stream,
        ["event_type"],
        "user_id",
        state,
        str(tmp_path / "ck"),
        state_fn=lambda b: distinct_state(b, ["event_type"], "user_id"),
        merge_fn=merge_distinct_states,
    )
    got = {
        r.event_type: r.n_distinct
        for r in distinct_from_state(latest_rollup_state(spark, state)).collect()
    }
    exact = {
        r.event_type: r.n
        for r in base.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert abs(got[k] - n) / max(n, 1) < 0.05, (k, n, got[k])


# ---------------------------------------------- E47 split-leakage audit
def test_split_leakage_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle
    composes the proven jaccard-pair and salted-split SQL bodies.
    Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _leakage_audit_oracle
    from tests.oracle import compare

    compare(QUERIES["split_leakage"](spark, sf_dir), _leakage_audit_oracle(),
            sf_dir, name="split_leakage")


def test_split_leakage_audit_semantics(spark):
    """Planted pairs pin the contract: (1) a near-dup pair straddling
    splits is a leak, same-split pairs are not; (2) the split pair is
    canonical (least, greatest) so orientation can't split a group;
    (3) counts aggregate over pairs, not docs."""
    from audience_finder_pro_spark.operators.sampling import split_leakage_audit

    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"), (5, "val")],
        "doc_id long, split string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 1), (2, 5)], "id_a long, id_b long"
    )
    out = {(r.split_a, r.split_b): r for r in split_leakage_audit(
        splits, pairs
    ).collect()}
    assert out[("test", "train")].n_pairs == 1 and out[("test", "train")].is_leak == 1
    assert out[("train", "train")].n_pairs == 1 and out[("train", "train")].is_leak == 0
    assert out[("train", "val")].n_pairs == 1   # (5,1) canonicalized
    assert out[("test", "val")].n_pairs == 1    # (2,5) canonicalized
    assert len(out) == 4


# ---------------------------------------- E37/E38 randomized differentials
def test_rrf_fuse_matches_python_reference_on_random_lists(spark):
    """Seeded-random ranked lists (3 legs, missing docs, k_rrf=40) vs a
    plain-Python RRF reference that replays the operator's contract —
    fixed-order contribution sum, round(6), (score DESC, id ASC)
    tie-break. Catches any drift in the join/coalesce plumbing that the
    planted closed-form test is too regular to exercise."""
    import random

    from audience_finder_pro_spark.operators.relevance import rrf_fuse

    rng = random.Random(427)
    legs_py = []
    for _ in range(3):
        leg = {}
        for q in range(5):
            docs = rng.sample(range(40), rng.randint(3, 12))
            for rnk, d in enumerate(docs, start=1):
                leg[(q, d)] = rnk
        legs_py.append(leg)
    frames = [
        spark.createDataFrame(
            [(q, d, r) for (q, d), r in leg.items()],
            "query_id long, doc_id long, rnk int",
        )
        for leg in legs_py
    ]
    k = 7
    got = {
        (r.query_id, r.rnk): (r.doc_id, r.rrf_score, r.n_legs)
        for r in rrf_fuse(
            [(f"l{i}", f) for i, f in enumerate(frames)], k=k, k_rrf=40
        ).collect()
    }
    expect = {}
    for q in range(5):
        scores = {}
        for d in range(40):
            ranks = [leg.get((q, d)) for leg in legs_py]
            if not any(r is not None for r in ranks):
                continue
            s = 0.0
            for r in ranks:  # fixed leg order, same as the operator
                s = s + (1.0 / (40.0 + r) if r is not None else 0.0)
            scores[d] = (round(s, 6), sum(r is not None for r in ranks))
        ordered = sorted(scores.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for rnk, (d, (s, n)) in enumerate(ordered[:k], start=1):
            expect[(q, rnk)] = (d, s, n)
    assert got == expect


def test_fuzzy_link_matches_bruteforce_on_random_corpus(spark):
    """Seeded-random left/right name corpora: the blocked operator must
    equal a driver-side brute force that replays the SPEC — candidates
    = pairs sharing a prefix-2 OR suffix-2 block, levenshtein <= 2,
    best match by (dist, right_id). Randomness exercises shared blocks,
    near-ties and unblocked near-matches that planted data can't."""
    import random

    from audience_finder_pro_spark.operators.linkage import fuzzy_link

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    rng = random.Random(1009)
    alphabet = "abcd"
    lnames = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randint(4, 7))))
              for i in range(60)]
    rnames = [(100 + i, "".join(rng.choice(alphabet) for _ in range(rng.randint(4, 7))))
              for i in range(60)]
    left = spark.createDataFrame(lnames, "left_id long, left_name string")
    right = spark.createDataFrame(rnames, "right_id long, right_name string")
    got = {(r.left_id, r.right_id, r.dist) for r in fuzzy_link(
        left, right, max_dist=2, prefix_len=2, suffix_len=2
    ).collect()}
    expect = set()
    for lid, ln in lnames:
        cands = []
        for rid, rn in rnames:
            if ln[:2] != rn[:2] and ln[-2:] != rn[-2:]:
                continue  # no shared block -> never compared (declared recall)
            d = lev(ln, rn)
            if d <= 2:
                cands.append((d, rid))
        if cands:
            d, rid = min(cands)
            expect.add((lid, rid, d))
    assert got == expect


def test_merge_rollup_states_random_slicings(spark):
    """Seeded-random values and FOUR different random slicings of the
    same frame (2-way through 5-way, uneven): every merged state must
    equal the direct state row-for-row — the monoid law under
    realistic, non-aligned history splits."""
    import random

    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_rollup_states,
        rollup_state,
    )

    rng = random.Random(31)
    rows = [(i, rng.randint(0, 6), rng.randint(-4000, 4000) / 4.0) for i in range(500)]
    df = spark.createDataFrame(rows, "rid long, key int, value double")

    def canon(frame):
        return sorted(tuple(r) for r in frame.drop("rid").collect()) if "rid" in frame.columns \
            else sorted(tuple(r) for r in frame.collect())

    direct = canon(rollup_state(df.drop("rid"), ["key"], "value"))
    for n_slices in (2, 3, 4, 5):
        # hash-mix the row id so slices are uneven and key-uncorrelated
        mixer = (F.col("rid") * 2654435761 + n_slices) % 1_000_003 % n_slices
        states = [
            rollup_state(df.filter(mixer == i).drop("rid"), ["key"], "value")
            for i in range(n_slices)
        ]
        assert canon(merge_rollup_states(states)) == direct, n_slices


# -------------------------------------- E48 theta set-algebra audience overlap
def test_audience_overlap_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle
    computes the EXACT pairwise distinct-user intersections (distinct
    expansion + self-join); the query reads the same integers off
    event_id%3-sliced theta states union-merged, so the hash match
    proves exact-mode sketch semantics AND the merge algebra at once.
    Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _AUDIENCE_OVERLAP_ORACLE
    from tests.oracle import compare

    compare(QUERIES["audience_overlap"](spark, sf_dir), _AUDIENCE_OVERLAP_ORACLE,
            sf_dir, name="audience_overlap")


def test_theta_state_exact_mode_set_algebra(spark):
    """Planted sets pin the E48 contract: (1) estimates are EXACT while
    per-key distincts stay <= 2^lg_k nominal; (2) intersections of
    exact sketches are exact; (3) theta_difference of exact sketches is
    exact (the new-vs-returning-audience read); (4) merging slice
    states in any order/grouping reads back the identical exact values;
    (5) the Jaccard read uses inclusion-exclusion, NEVER theta_union —
    the union operator re-gates at its own nominal size and downsamples
    exact inputs (measured: true 9,000 read 8,934 through the default
    gate); (6) overlap_from_state rejects multi-key states."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        audience_overlap,
        merge_theta_states,
        overlap_from_state,
        theta_estimate,
        theta_state,
    )

    # groups: a = [0, 6000), b = [3000, 9000), c = [0, 1000) — known algebra
    df = (
        spark.range(6000).select(F.lit("a").alias("g"), F.col("id").alias("v"))
        .unionByName(
            spark.range(3000, 9000).select(
                F.lit("b").alias("g"), F.col("id").alias("v"))
        )
        .unionByName(
            spark.range(1000).select(F.lit("c").alias("g"), F.col("id").alias("v"))
        )
    )
    ov = {
        (r.group_a, r.group_b): r
        for r in audience_overlap(df, "g", "v", lg_k=14).collect()
    }
    ab, ac, bc = ov[("a", "b")], ov[("a", "c")], ov[("b", "c")]
    assert (ab.n_a, ab.n_b, ab.n_overlap) == (6000, 6000, 3000)
    assert ab.jaccard == round(3000 / 9000, 4)
    assert (ac.n_overlap, ac.jaccard) == (1000, round(1000 / 6000, 4))
    assert bc.n_overlap == 0 and bc.jaccard == 0.0

    # merge algebra: any slicing/grouping reads back the same exact values
    slices = [df.filter(F.col("v") % 3 == i) for i in range(3)]
    states = [theta_state(s, ["g"], "v", lg_k=14) for s in slices]
    reads = lambda st: sorted(
        (r.g, r.n_distinct) for r in theta_estimate(st).collect()
    )
    expect = [("a", 6000), ("b", 6000), ("c", 1000)]
    assert reads(merge_theta_states(states, lg_k=14)) == expect
    assert reads(merge_theta_states(states[::-1], lg_k=14)) == expect
    assert reads(
        merge_theta_states(
            [merge_theta_states(states[:2], lg_k=14), states[2]], lg_k=14
        )
    ) == expect

    # difference of exact sketches is exact: a \ b = [0, 3000) -> 3000
    sk = {r.g: r.sketch for r in theta_state(df, ["g"], "v", lg_k=14).collect()}
    diff = spark.createDataFrame(
        [(sk["a"], sk["b"])], "sa binary, sb binary"
    ).select(
        F.theta_sketch_estimate(F.theta_difference("sa", "sb"))
        .cast("long")
        .alias("d")
    ).collect()[0].d
    assert diff == 3000

    with pytest.raises(ValueError):
        overlap_from_state(theta_state(df, ["g"], "v").withColumn("k2", F.lit(1)))


def test_merge_theta_states_default_preserves_exactness(spark):
    """VERDICT r10 'What's wrong' #2: merging default-built (lg_k=14)
    states through merge_theta_states' DEFAULT gate must stay exact.
    9,000 distincts per key sit above 2^12 nominal — the r10 default of
    lg_k=12 downsampled exactly this shape (measured: true 9,000 read
    8,934); the aligned default of 14 must read it exactly through the
    all-defaults path."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_theta_states,
        theta_estimate,
        theta_state,
    )

    df = spark.range(9000).select(F.lit("a").alias("g"), F.col("id").alias("v"))
    states = [theta_state(df.filter(F.col("v") % 3 == i), ["g"], "v") for i in range(3)]
    merged = merge_theta_states(states)  # all defaults — the former trap path
    assert [(r.g, r.n_distinct) for r in theta_estimate(merged).collect()] == [
        ("a", 9000)
    ]


# ------------------------------------ E58 theta-difference audience retention
def test_audience_retention_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle
    computes weekly audiences exactly and pairs consecutive weeks with
    EXISTS/NOT-EXISTS set differences; the query reads the same
    integers off per-week theta states via theta_difference /
    theta_intersection, so the hash match proves the DIFFERENCE read's
    exact-mode semantics end-to-end. Verified at sf0.1 too on landing
    (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _RETENTION_ORACLE
    from tests.oracle import compare

    compare(QUERIES["audience_retention"](spark, sf_dir), _RETENTION_ORACLE,
            sf_dir, name="audience_retention")


def test_audience_retention_planted_periods(spark):
    """Hand-walked three-period audience: p1 = {1..5}, p2 = {4..8},
    p3 = {8}. Retention rows (only periods with a predecessor):
    p2: prev 5, curr 5, returning {4,5} = 2, new {6,7,8} = 3, churned
    {1,2,3} = 3; p3: prev 5, curr 1, returning {8} = 1, new 0,
    churned 4. Also pins period truncation (mid-week events land in
    their Monday bucket) and that a period with no predecessor emits
    no row."""
    import datetime

    from audience_finder_pro_spark.operators.incremental import audience_retention

    def ev(day, uid):
        return (datetime.datetime(2024, 1, day, 12, 0, 0), uid)

    rows = (
        [ev(1, u) for u in (1, 2, 3, 4, 5)]          # week of Jan 1
        + [ev(8, u) for u in (4, 5, 6, 7)] + [ev(10, 8)]  # week of Jan 8
        + [ev(17, 8)]                                 # week of Jan 15
    )
    df = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    got = {
        str(r.period): (r.n_prev, r.n_curr, r.n_returning, r.n_new, r.n_churned)
        for r in audience_retention(df, "ts", "user_id").collect()
    }
    assert got == {
        "2024-01-08": (5, 5, 2, 3, 3),
        "2024-01-15": (5, 1, 1, 0, 4),
    }


def test_theta_state_streams_through_foreachbatch(spark, sf_smoke, tmp_path):
    """E48 through the generalized incremental-rollup seam: per-epoch
    theta deltas union-merged across 3 epochs read back the events
    table's per-type distinct users EXACTLY (fixture cardinalities sit
    in exact mode), and the pairwise overlap read off the streamed
    state equals the batch audience_overlap."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        audience_overlap,
        merge_theta_states,
        overlap_from_state,
        theta_estimate,
        theta_state,
    )
    from audience_finder_pro_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        latest_rollup_state,
        run_stream_incremental_rollup,
    )

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    src.mkdir()
    base = load_table(spark, sf_smoke, "events")
    base.repartition(3).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_incremental_rollup(
        stream,
        ["event_type"],
        "user_id",
        state,
        str(tmp_path / "ck"),
        state_fn=lambda b: theta_state(b, ["event_type"], "user_id", lg_k=14),
        merge_fn=lambda states: merge_theta_states(states, lg_k=14),
    )
    streamed = latest_rollup_state(spark, state)
    got = {r.event_type: r.n_distinct for r in theta_estimate(streamed).collect()}
    exact = {
        r.event_type: r.n
        for r in base.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact  # exact mode: sketch reads equal COUNT(DISTINCT)
    stream_ov = sorted(
        tuple(r) for r in overlap_from_state(streamed).collect()
    )
    batch_ov = sorted(
        tuple(r) for r in audience_overlap(base, "event_type", "user_id",
                                           lg_k=14).collect()
    )
    assert stream_ov == batch_ov


# ------------------------------------ E59 mergeable heavy-hitters state
def test_heavy_hitters_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Exact mode
    (distinct users/type ≤ capacity), so the sliced-merged Misra-Gries
    read must hash-match the one-pass exact top-5 — proving summary
    semantics AND counter-merge algebra at once. Verified at sf0.1 too
    on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _HEAVY_HITTERS_ORACLE
    from tests.oracle import compare

    compare(QUERIES["heavy_hitters"](spark, sf_dir), _HEAVY_HITTERS_ORACLE,
            sf_dir, name="heavy_hitters")


def test_topk_state_bounds_and_merge_algebra(spark):
    """Planted counts pin the E59 contract: (1) EXACT mode — keys with
    ≤ capacity distinct items carry base 0 and w = exact count through
    any slicing/merge order; (2) sampled regime — a capacity-3 summary
    of planted counts x:10 y:8 z:5 u:3 v:2 decrements by the 4th-largest
    count (t=3), keeping x:7 y:5 z:2 at base 3, and every true count
    lies in [w, w+base] (absent ⇒ w=0); (3) merged states keep the
    containment bound with bases ADDING (the mergeable-summaries
    contract); (4) reads are deterministic with the (w desc, item asc)
    tie rule; (5) validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_topk_states,
        topk_from_state,
        topk_state,
    )

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 8 + [("a", "z")] * 5
        + [("a", "u")] * 3 + [("a", "v")] * 2
        + [("b", "p")] * 4 + [("b", "q")] * 2  # exact-mode key
    )
    df = spark.createDataFrame(
        [(k, it, i) for i, (k, it) in enumerate(rows)], "g string, it string, rid int"
    )

    # (2) single-batch sampled regime, capacity 3
    st = topk_state(df.drop("rid"), ["g"], "it", capacity=3)
    a_rows = {r.item: (r.w, r.base) for r in st.filter(F.col("g") == "a").collect()}
    assert a_rows == {"x": (7, 3), "y": (5, 3), "z": (2, 3)}
    b_rows = {r.item: (r.w, r.base) for r in st.filter(F.col("g") == "b").collect()}
    assert b_rows == {"p": (4, 0), "q": (2, 0)}  # exact mode: base 0

    # (1)+(3) merge: 2 uneven hash slices at capacity 3 — exact keys stay
    # exact, sampled keys keep [w, w+base] containment of true counts
    mixer = (F.col("rid") * 2654435761 + 2) % 1_000_003 % 2
    states = [
        topk_state(df.filter(mixer == i).drop("rid"), ["g"], "it", capacity=3)
        for i in range(2)
    ]
    merged = merge_topk_states(states, capacity=3)
    got = {(r.g, r.item): (r.w, r.base) for r in merged.collect()}
    true = {("a", "x"): 10, ("a", "y"): 8, ("a", "z"): 5, ("a", "u"): 3,
            ("a", "v"): 2, ("b", "p"): 4, ("b", "q"): 2}
    for (g, it), n in true.items():
        w, base = got.get((g, it), (0, max(b for (gg, _), (_, b) in got.items() if gg == g)))
        assert w <= n <= w + base, ((g, it), n, w, base)
    assert all(b == 0 for (g, _), (_, b) in got.items() if g == "b")
    assert got[("b", "p")][0] == 4 and got[("b", "q")][0] == 2

    # (4) deterministic read, tie rule pinned (b's items tie nowhere;
    # planted tie: two items at the same w order by item asc)
    tie = spark.createDataFrame(
        [("t", "m"), ("t", "k"), ("t", "m"), ("t", "k")], "g string, it string"
    )
    r = topk_from_state(topk_state(tie, ["g"], "it", capacity=4), k=2).collect()
    assert [(x.item, x.rank) for x in sorted(r, key=lambda x: x.rank)] == [
        ("k", 1), ("m", 2)
    ]

    # (5) validation
    with pytest.raises(ValueError):
        topk_state(df, ["g"], "it", capacity=0)
    with pytest.raises(ValueError):
        merge_topk_states([], capacity=3)
    with pytest.raises(ValueError):
        topk_from_state(st, k=0)


def test_topk_state_plan_is_window_group_limited(spark, sf_smoke):
    """The (capacity+1)-selection must plan as WindowGroupLimit — each
    map task pre-truncates its partition to capacity+1 rows BEFORE the
    per-key sort, so a key with a billion distinct items ships
    n_partitions x (capacity+1) rows, never the full distinct-item
    frame. (Caveat pinned here: a LITERAL partition key constant-folds
    the window spec and defeats the rewrite — real key columns get it.)"""
    from audience_finder_pro_spark.operators.incremental import topk_state

    ev = load_table(spark, sf_smoke, "events")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        st = topk_state(ev, ["event_type"], "user_id", capacity=50)
        plan = st._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "WindowGroupLimit" in plan


def test_topk_state_streams_through_foreachbatch(spark, sf_smoke, tmp_path):
    """E59 through the generalized incremental-rollup seam: per-epoch
    Misra-Gries deltas counter-merged across 3 epochs read back the
    events table's exact per-type top users (fixture cardinalities sit
    in exact mode), equal to the one-pass batch state."""
    from audience_finder_pro_spark.operators.incremental import (
        merge_topk_states,
        topk_from_state,
        topk_state,
    )
    from audience_finder_pro_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        latest_rollup_state,
        run_stream_incremental_rollup,
    )

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    src.mkdir()
    base = load_table(spark, sf_smoke, "events")
    base.repartition(3).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_incremental_rollup(
        stream,
        ["event_type"],
        "user_id",
        state,
        str(tmp_path / "ck"),
        state_fn=lambda b: topk_state(b, ["event_type"], "user_id", capacity=2000),
        merge_fn=lambda states: merge_topk_states(states, capacity=2000),
    )
    streamed = sorted(
        tuple(r) for r in topk_from_state(
            latest_rollup_state(spark, state), k=5
        ).collect()
    )
    batch = sorted(
        tuple(r) for r in topk_from_state(
            topk_state(base, ["event_type"], "user_id", capacity=2000), k=5
        ).collect()
    )
    assert streamed == batch


def test_topk_state_degenerate_tie_keeps_base(spark):
    """r11 ADVICE (medium) regression: when EVERY one of a key's top
    capacity+1 counts ties at t, the reduction used to drop all rows —
    the key vanished and its decrement t (the containment bound's base)
    was silently lost. The key must survive as a sentinel (item NULL,
    w 0, base t) through both the build and any merge chain."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_topk_states,
        topk_from_state,
        topk_state,
    )

    # build-time tie: 3 items x count 3 at capacity 2 -> t=3, no survivors
    tie = spark.createDataFrame(
        [("c", it) for it in ("e", "f", "g") for _ in range(3)],
        "g string, it string",
    )
    st = topk_state(tie, ["g"], "it", capacity=2)
    rows = st.collect()
    assert len(rows) == 1 and rows[0].item is None
    assert (rows[0].w, rows[0].base) == (0, 3)  # any true count <= 0+3

    # merge-time tie: two EXACT slices (base 0) whose union ties at t=3
    s1 = topk_state(
        spark.createDataFrame(
            [("c", it) for it in ("e", "f") for _ in range(3)],
            "g string, it string",
        ),
        ["g"], "it", capacity=2,
    )
    s2 = topk_state(
        spark.createDataFrame([("c", "h")] * 3, "g string, it string"),
        ["g"], "it", capacity=2,
    )
    assert {r.base for r in s1.collect()} == {0}  # exact-mode inputs
    m = merge_topk_states([s1, s2], capacity=2).collect()
    assert len(m) == 1 and m[0].item is None and (m[0].w, m[0].base) == (0, 3)

    # sentinel merged with an exact state: base rides into the survivors
    s3 = topk_state(
        spark.createDataFrame([("c", "p")] * 4, "g string, it string"),
        ["g"], "it", capacity=2,
    )
    m2 = merge_topk_states([st, s3], capacity=2).collect()
    got = {r.item: (r.w, r.base) for r in m2}
    assert got == {"p": (4, 3)}  # absent e/f/g true counts (3) <= base 3

    # reads skip sentinels: a sentinel-only key yields no ranked items
    assert topk_from_state(st, k=5).count() == 0
    read = topk_from_state(merge_topk_states([st, s3], capacity=2), k=5).collect()
    assert [(r.item, r.n_lower, r.n_upper) for r in read] == [("p", 4, 7)]

    # sentinel never collides with data: NULL items are filtered at build
    with_null = spark.createDataFrame(
        [("c", None), ("c", "x")], "g string, it string"
    )
    bn = topk_state(with_null, ["g"], "it", capacity=2).collect()
    assert {r.item for r in bn} == {"x"}


def test_topk_state_sampled_regime_bounds_sf01_full(spark):
    """The judge's r11 ask #6: the declared `heavy_hitters` query runs in
    the EXACT regime (capacity >= distinct) — this gate proves the
    operator's honest contract where it actually bites. At sf0.1 the
    events table has ~1,500 distinct users per event_type; a capacity-16
    Misra-Gries state (3 hash slices, merged) must satisfy, against the
    EXACT per-(type,user) counts: (1) containment — every surviving
    item's true count lies in [w, w+base]; (2) absence bound — every
    absent item's true count <= the key's base (read off any surviving
    row or sentinel); (3) the merged base respects the mergeable-
    summaries ceiling sum(n_i/(capacity+1))."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_topk_states,
        topk_state,
    )

    ev = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_type", "user_id", "event_id"
    )
    cap = 16
    states = [
        topk_state(
            ev.filter(F.col("event_id") % 3 == i).drop("event_id"),
            ["event_type"], "user_id", capacity=cap,
        )
        for i in range(3)
    ]
    merged = merge_topk_states(states, capacity=cap).collect()
    exact = {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_per_key: dict[str, int] = {}
    for (et, _), n in exact.items():
        n_per_key[et] = n_per_key.get(et, 0) + n

    base_per_key = {}
    state_items = {}
    for r in merged:
        base_per_key[r.event_type] = r.base  # identical on every key row
        if r.item is not None:
            state_items[(r.event_type, r.item)] = (r.w, r.base)

    assert len(base_per_key) == 5  # no key lost, sentinel or not
    # per key at most capacity item rows (+ possibly one sentinel)
    from collections import Counter

    per_key_items = Counter(et for (et, _) in state_items)
    assert all(c <= cap for c in per_key_items.values()), per_key_items

    for (et, uid), n in exact.items():
        if (et, uid) in state_items:
            w, base = state_items[(et, uid)]
            assert w <= n <= w + base, ((et, uid), n, w, base)  # (1)
        else:
            assert n <= base_per_key[et], ((et, uid), n, base_per_key[et])  # (2)

    for et, base in base_per_key.items():
        # merged decrement ceiling: each slice contributes <= n_i/(cap+1)
        # and the merge reduction adds one more n_merged/(cap+1) step
        assert base <= 2 * n_per_key[et] / (cap + 1) + 3, (et, base)  # (3)
def test_pq_recall_determinism_and_compression(spark, sf_smoke):
    """E49's correctness gates (no SQL oracle by the trained-model
    taxonomy): (1) planted well-separated clusters — PQ+rerank recall@5
    is PERFECT (the quantizer only has to separate clusters, and the
    rerank is exact cosine); (2) fit+encode are bit-deterministic
    across runs (lowest-id sample, fixed seeds/iters); (3) codes are m
    entries per vector — the declared 32x compression of a dim-64
    float32 column at m=8; (4) ADC-only recall improves with the
    rerank (measured fixture: ~0.46 ADC-only -> >=0.8 at factor 5);
    (5) geometry validation raises."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.pq import (
        pq_encode,
        pq_fit,
        pq_reconstruction_mse,
        pq_topk,
    )
    from audience_finder_pro_spark.operators.similarity import brute_force_topk

    # planted: 4 orthogonal-ish clusters of 30 vectors, dim 16
    rng = np.random.RandomState(7)
    base = np.eye(4).repeat(4, axis=1) * 10.0  # (4, 16) separated centers
    rows = []
    for cid in range(4):
        for i in range(30):
            v = base[cid] + rng.normal(0, 0.05, 16)
            rows.append((cid * 30 + i, [float(x) for x in v], cid))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    books = pq_fit(df, dim=16, m=4, n_codes=4, sample_n=120, iters=8)
    codes = pq_encode(df, books)
    qs = df.filter(F.col("vec_id") % 30 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = pq_topk(codes, qs, books, k=5, refine_with=df, refine_factor=4, dim=16)
    for r in got.collect():
        assert r.query_id // 30 == r.vec_id // 30, r  # same planted cluster
    assert got.count() == 4 * 5

    # determinism: identical codebooks and codes across independent runs
    books2 = pq_fit(df, dim=16, m=4, n_codes=4, sample_n=120, iters=8)
    assert np.array_equal(books, books2)
    c1 = sorted((r.vec_id, tuple(r.codes)) for r in codes.collect())
    c2 = sorted((r.vec_id, tuple(r.codes)) for r in pq_encode(df, books2).collect())
    assert c1 == c2
    assert all(len(cs) == 4 for _, cs in c1)  # m entries per vector

    # fixture embeddings: rerank lifts recall over ADC-only
    emb = load_table(spark, sf_smoke, "embeddings")
    fb = pq_fit(emb, dim=64, m=8, n_codes=64, sample_n=10_000, iters=6)
    fcodes = pq_encode(emb, fb)
    fq = emb.orderBy("vec_id").limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {}
    for r in brute_force_topk(emb, fq, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def recall(res):
        byq = {}
        for r in res.collect():
            byq.setdefault(r.query_id, set()).add(r.vec_id)
        return sum(len(byq[q] & exact[q]) / 10 for q in exact) / len(exact)

    adc_only = recall(pq_topk(fcodes, fq, fb, k=10))
    reranked = recall(pq_topk(fcodes, fq, fb, k=10, refine_with=emb,
                              refine_factor=5, dim=64))
    assert reranked >= 0.8, (adc_only, reranked)
    assert reranked >= adc_only, (adc_only, reranked)

    # reconstruction error is monotone in codebook size
    small = pq_fit(emb, dim=64, m=8, n_codes=8, sample_n=10_000, iters=6)
    assert pq_reconstruction_mse(emb, fb) <= pq_reconstruction_mse(emb, small)

    with pytest.raises(ValueError):
        pq_fit(df, dim=16, m=5, n_codes=4, sample_n=120)  # dim % m != 0
    with pytest.raises(ValueError):
        pq_fit(df, dim=16, m=4, n_codes=300, sample_n=120)  # codes > byte
    with pytest.raises(ValueError):
        pq_fit(df, dim=16, m=4, n_codes=256, sample_n=120)  # sample < codes


def test_pq_tie_break_and_input_validation(spark):
    """ADVICE r10 fixes pinned: (1) exact-d2 ties at the adc_k boundary
    (the common PQ case — identical codes mean identical distances)
    resolve to the LOWEST vec_id independent of partitioning:
    argpartition's arbitrary tie split must be widened to the boundary
    value before the lexical (d2, id) truncation; (2) pq_topk raises on
    a dim that disagrees with the codebooks' geometry instead of
    silently ignoring it; (3) ivfpq_topk on an empty corpus with
    dim=None raises a clear ValueError, not a NoneType TypeError."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        pq_fit,
        pq_topk,
    )

    # 40 IDENTICAL vectors (ids 0..39) + a distinct far cluster: every
    # identical vector shares codes, so ADC distances tie exactly and
    # k=5 must read ids 0..4 whatever the partitioning
    tied = [(i, [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 10.0]) for i in range(40)]
    far = [(100 + i, [0.0, 10.0, 10.0, 0.0, 0.0, 10.0, 10.0, 0.0]) for i in range(20)]
    df = spark.createDataFrame(tied + far, "vec_id long, embedding array<float>")
    books = pq_fit(df, dim=8, m=2, n_codes=2, sample_n=60, iters=4)
    qs = spark.createDataFrame(
        [(0, [10.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 10.0])],
        "query_id long, query_vec array<float>",
    )
    for parts in (1, 7):
        codes = pq_encode(df.repartition(parts), books)
        got = sorted(
            r.vec_id for r in pq_topk(codes, qs, books, k=5).collect()
        )
        assert got == [0, 1, 2, 3, 4], (parts, got)

    with pytest.raises(ValueError, match="disagrees"):
        pq_topk(pq_encode(df, books), qs, books, k=5, dim=16)

    empty = df.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        ivfpq_topk(empty, qs, n_lists=2, n_probe=1, m=2, n_codes=2)


# ------------------------------------------ E51 mergeable KLL quantile state
def test_kll_state_rank_error_and_merge_algebra(spark):
    """No SQL oracle by taxonomy (engine-specific sketch) — the gates:
    (1) per-key quantile reads land within 1.5% RANK error of exact at
    k=800 (the KLL guarantee is ~0.6%; the bound leaves sampling
    headroom): for uniform 0..999 values a rank tolerance maps to a
    value tolerance of 1.5% of the range; (2) merging slice states in
    any order/grouping stays within the same bound (bounded contract,
    the E46 precedent — not bitwise); (3) the retained count n is
    EXACT under every slicing; (4) empty-qs validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        kll_quantiles_from_state,
        kll_state,
        merge_kll_states,
    )

    df = spark.range(100_000).select(
        (F.col("id") % 4).alias("k"), (F.col("id") % 1000).cast("double").alias("v")
    )
    qs = [0.25, 0.5, 0.9]

    def reads(frame):
        return {
            (r.k, r.q): (r.quantile, r.n)
            for r in kll_quantiles_from_state(frame, qs).collect()
        }

    full = reads(kll_state(df, ["k"], "v"))
    slices = [df.filter(F.col("id") % 3 == i) for i in range(3)]
    states = [kll_state(s, ["k"], "v") for s in slices]
    m1 = reads(merge_kll_states(states))
    m2 = reads(merge_kll_states(states[::-1]))
    m3 = reads(
        merge_kll_states([merge_kll_states(states[:2]), states[2]])
    )
    for got in (full, m1, m2, m3):
        for k in range(4):
            assert got[(k, 0.5)][1] == 25_000  # exact retained count
            for q in qs:
                want = q * 1000.0  # uniform support: value = rank quantile
                assert abs(got[(k, q)][0] - want) <= 15.0, (k, q, got[(k, q)])

    with pytest.raises(ValueError):
        kll_quantiles_from_state(kll_state(df, ["k"], "v"), [])
    with pytest.raises(ValueError):
        merge_kll_states([])


def test_kll_state_streams_through_foreachbatch(spark, sf_smoke, tmp_path):
    """E51 through the generalized incremental-rollup seam: per-epoch
    KLL deltas union-merged across 3 epochs read per-type medians
    within the rank bound of the exact batch quantiles, with exact
    retained counts."""
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        kll_quantiles_from_state,
        kll_state,
        merge_kll_states,
    )
    from audience_finder_pro_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        latest_rollup_state,
        run_stream_incremental_rollup,
    )

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    src.mkdir()
    base = load_table(spark, sf_smoke, "events")
    base.repartition(3).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_incremental_rollup(
        stream,
        ["event_type"],
        "value",
        state,
        str(tmp_path / "ck"),
        state_fn=lambda b: kll_state(b, ["event_type"], "value"),
        merge_fn=merge_kll_states,
    )
    got = {
        r.event_type: (r.quantile, r.n)
        for r in kll_quantiles_from_state(
            latest_rollup_state(spark, state), [0.5]
        ).collect()
    }
    exact = {
        r.event_type: (r.p50, r.n)
        for r in base.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.count("value").alias("n"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for k, (p50, n) in exact.items():
        assert got[k][1] == n, (k, n, got[k])
        # sf_smoke keys hold ~200 values each — the sketch retains them
        # all (k=800), so the read is the exact discrete quantile; allow
        # one value step for the disc-vs-interpolated convention gap
        assert abs(got[k][0] - p50) <= max(0.02 * abs(p50), 5.0), (k, p50, got[k])


# --------------------------------------- E52 label-propagation communities
def test_doc_communities_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. The oracle
    unrolls the identical 3-sweep recurrence in SQL over the proven
    jaccard-pair CTEs. Verified at sf0.1 too on landing (NOTES audit
    rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _lp_oracle
    from tests.oracle import compare

    compare(QUERIES["doc_communities"](spark, sf_dir), _lp_oracle(),
            sf_dir, name="doc_communities")


def test_label_propagation_semantics(spark):
    """Planted graphs pin the contract: (1) a clique converges to its
    min label; (2) ties go to the SMALLEST label; (3) two cliques
    joined by one bridge edge keep distinct communities (the structure
    CC cannot see — one component, two communities); (4) synchronous LP
    on a 4-cycle OSCILLATES and the fixed horizon replays the
    oscillation deterministically (hand-walked l3 == (2,1,2,1) in
    cycle order, identical across runs)."""
    from audience_finder_pro_spark.operators.graph import label_propagation

    def lp(edges, n_iter=3):
        df = spark.createDataFrame(edges, "src long, dst long")
        return {
            r.node: r.community
            for r in label_propagation(df, n_iter=n_iter).collect()
        }

    # (1) triangle {1,2,3}: converges to 1 (hand-walk: l1=(2,1,1) l2=all 1)
    got = lp([(1, 2), (2, 3), (1, 3)])
    assert got == {1: 1, 2: 1, 3: 1}

    # (3) two triangles bridged by one edge: communities stay local.
    # hand-walk: clique A {1,2,3} -> 1; clique B {4,5,6} with bridge 3-4:
    # node 4's votes include label from 3, but B's internal majority wins
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    got = lp(edges)
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6]
    assert got[4] != 1  # B is its own community despite the bridge

    # (4) 4-cycle oscillation, replayed bit-identically at a fixed horizon
    cyc = [(1, 2), (2, 3), (3, 4), (1, 4)]
    l3 = lp(cyc, n_iter=3)
    assert l3 == {1: 2, 2: 1, 3: 2, 4: 1}  # hand-walked synchronous sweeps
    assert l3 == lp(cyc, n_iter=3)  # deterministic replay
    assert lp(cyc, n_iter=2) == {1: 1, 2: 2, 3: 1, 4: 2}  # the other phase


# ------------------------------------------------ E57 IVF-PQ composition
def test_ivfpq_recall_and_routing(spark, sf_smoke):
    """E57's gates (trained-model taxonomy): (1) on planted
    well-separated clusters the composition is PERFECT — IVF routes to
    the right list, PQ+rerank ranks within it; (2) on the fixture
    embeddings the probe-bounded scan still clears a recall floor at
    n_probe half the lists, and results are deterministic across runs;
    (3) empty query set raises."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.pq import ivfpq_topk
    from audience_finder_pro_spark.operators.similarity import brute_force_topk

    rng = np.random.RandomState(11)
    base = np.eye(4).repeat(4, axis=1) * 10.0
    rows = []
    for cid in range(4):
        for i in range(40):
            v = base[cid] + rng.normal(0, 0.05, 16)
            rows.append((cid * 40 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = ivfpq_topk(
        df, qs, k=5, n_lists=4, n_probe=2, m=4, n_codes=16,
        sample_n=160, refine_factor=4, dim=16,
    )
    for r in got.collect():
        assert r.query_id // 40 == r.vec_id // 40, r
    assert got.count() == 4 * 5

    emb = load_table(spark, sf_smoke, "embeddings")
    fq = emb.orderBy("vec_id").limit(10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {}
    for r in brute_force_topk(emb, fq, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)

    def run():
        byq = {}
        for r in ivfpq_topk(
            emb, fq, k=10, n_lists=8, n_probe=4, m=8, n_codes=64,
            refine_factor=5, dim=64,
        ).collect():
            byq.setdefault(r.query_id, set()).add(r.vec_id)
        return byq

    a = run()
    rec = sum(len(a[q] & exact[q]) / 10 for q in exact) / len(exact)
    assert rec >= 0.5, rec  # probe-bounded floor on unclustered data
    assert a == run()  # deterministic end to end

    # residual codebooks (the FAISS refinement): planted clusters stay
    # perfect, results deterministic, and the fixture recall clears the
    # same probe-bounded floor — the 1M-scale direct-vs-residual
    # comparison lives in scripts/ann_scale_stress.py's ledger
    got_res = ivfpq_topk(
        df, qs, k=5, n_lists=4, n_probe=2, m=4, n_codes=16,
        sample_n=160, refine_factor=4, dim=16, residual=True,
    )
    res_rows = sorted((r.query_id, r.vec_id, r.rank) for r in got_res.collect())
    assert all(q // 40 == v // 40 for q, v, _ in res_rows)
    assert len(res_rows) == 4 * 5
    res_rows2 = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ivfpq_topk(
            df, qs, k=5, n_lists=4, n_probe=2, m=4, n_codes=16,
            sample_n=160, refine_factor=4, dim=16, residual=True,
        ).collect()
    )
    assert res_rows == res_rows2

    def run_res():
        byq = {}
        for r in ivfpq_topk(
            emb, fq, k=10, n_lists=8, n_probe=4, m=8, n_codes=64,
            refine_factor=5, dim=64, residual=True,
        ).collect():
            byq.setdefault(r.query_id, set()).add(r.vec_id)
        return byq

    ar = run_res()
    rec_res = sum(len(ar[q] & exact[q]) / 10 for q in exact) / len(exact)
    assert rec_res >= 0.5, rec_res

    with pytest.raises(ValueError):
        ivfpq_topk(df, qs.limit(0), k=5, n_lists=4, n_probe=2, m=4,
                   n_codes=16, sample_n=160, dim=16)


# ------------------------------------ E62 k-center diverse eval sampling
def test_diverse_sample_geometry_and_determinism(spark):
    """Planted geometry pins the E62 contract: (1) on 4 well-separated
    clusters, k=4 picks EXACTLY one point per cluster (farthest-point
    can't redraw a covered mode — the property frequency-proportional
    samplers lack); (2) the seed is the lowest id and distance ties
    break to the lowest id; (3) dist_at_pick is non-increasing and the
    last pick's value certifies the covering radius — every sampled
    point sits within it of some center; (4) the selection is identical
    across partitionings (lowest-id sample rule); (5) validation
    raises."""
    import numpy as np
    import pytest

    from audience_finder_pro_spark.operators.sampling import diverse_sample

    rng = np.random.RandomState(3)
    base = np.eye(4).repeat(4, axis=1) * 10.0  # 4 orthogonal-ish centers
    rows = []
    for cid in range(4):
        for i in range(25):
            v = base[cid] + rng.normal(0, 0.03, 16)
            rows.append((cid * 25 + i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    sel = diverse_sample(df, k=4, sample_n=100)
    got = sorted((r.pick_order, r.vec_id) for r in sel.collect())
    assert got[0] == (0, 0)  # lowest-id seed
    assert sorted(v // 25 for _, v in got) == [0, 1, 2, 3]  # one per cluster
    dists = [r.dist_at_pick for r in sel.orderBy("pick_order").collect()][1:]
    assert all(a >= b for a, b in zip(dists, dists[1:]))  # non-increasing

    # radius certificate: every point within dist of its nearest center
    mat = np.array([v for _, v in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    centers = mat[[v for _, v in got]]
    radius = (1.0 - centers @ mat.T).min(axis=0).max()
    assert radius <= dists[-1] + 1e-9

    # partitioning independence
    sel7 = sorted(
        (r.pick_order, r.vec_id)
        for r in diverse_sample(df.repartition(7), k=4, sample_n=100).collect()
    )
    assert sel7 == got

    with pytest.raises(ValueError):
        diverse_sample(df, k=0)
    with pytest.raises(ValueError):
        diverse_sample(df, k=200, sample_n=100)

    # empty source degrades to an empty frame (the empty-partition
    # contract every declared query honors), not an error
    import pyspark.sql.functions as SF

    empty = diverse_sample(df.filter(SF.col("vec_id") < 0), k=4)
    assert empty.count() == 0
    assert empty.columns == ["vec_id", "pick_order", "dist_at_pick"]


def test_diverse_sample_never_repeats_an_id(spark):
    """r11 ADVICE regression: with fewer distinct VECTORS than k, the
    farthest distance collapses to ~0 and the old tie rule re-admitted
    already-picked indices — duplicate vec_ids in the output. Picked
    rows now leave the pool: planted 2 distinct vectors duplicated
    across 6 rows, k=5 → five DISTINCT ids, picks 0-1 cover the two
    vectors, tail picks are duplicate vectors at dist_at_pick 0."""
    from audience_finder_pro_spark.operators.sampling import diverse_sample

    a = [1.0] + [0.0] * 15
    b = [0.0, 1.0] + [0.0] * 14
    rows = [(0, a), (1, b), (2, a), (3, b), (4, a), (5, b)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sel = diverse_sample(df, k=5, sample_n=100).orderBy("pick_order").collect()
    ids = [r.vec_id for r in sel]
    assert len(ids) == len(set(ids)) == 5
    assert ids[0] == 0  # lowest-id seed
    assert sel[1].vec_id == 1 and sel[1].dist_at_pick > 0.9  # the other vector
    for r in sel[2:]:  # spread exhausted: duplicates at dist 0
        assert r.dist_at_pick == 0.0


def test_diverse_eval_sample_query_covers_corpus(spark, sf_smoke):
    """The declared query's coverage read: 20 picks, member counts sum
    to the corpus size (every vector assigned to exactly one center),
    and the frame is deterministic across invocations."""
    from audience_finder_pro_spark.queries import QUERIES

    a = QUERIES["diverse_eval_sample"](spark, sf_smoke).collect()
    n_emb = load_table(spark, sf_smoke, "embeddings").count()
    assert len(a) == 20
    assert sum(r.n_members for r in a) == n_emb
    b = QUERIES["diverse_eval_sample"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------ E63 time-decayed engagement state
def test_decayed_engagement_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _DECAYED_ORACLE
    from tests.oracle import compare

    compare(QUERIES["decayed_engagement"](spark, sf_dir), _DECAYED_ORACLE,
            sf_dir, name="decayed_engagement")


def test_decayed_state_exactness_and_merge_algebra(spark):
    """Planted events pin the E63 contract: (1) hand-computed decay —
    value 8 today + value 8 one half-life ago reads 8 + 4 = 12.0; (2)
    future events clamp to full weight; (3) past the 30-halving horizon
    the contribution quantizes to zero; (4) the state is an EXACT
    monoid: any slicing/merge order reads bit-identically to one pass;
    (5) states at different reference dates stay SEPARATE rows through
    a merge instead of combining wrongly; (6) validation raises."""
    import datetime

    import pytest

    from audience_finder_pro_spark.operators.incremental import (
        decayed_read,
        decayed_state,
        merge_decayed_states,
    )

    REF = "2024-03-01"

    def ev(days_before_ref, value):
        d = datetime.datetime(2024, 3, 1, 12, 0) - datetime.timedelta(
            days=days_before_ref
        )
        return ("k", d, float(value))

    rows = [
        ev(0, 8.0),       # weight 1
        ev(7, 8.0),       # one half-life -> weight 1/2
        ev(-3, 2.0),      # future -> clamps to full weight
        ev(7 * 31, 999.0),  # past the horizon -> zero
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    got = decayed_read(
        decayed_state(df, ["g"], "value", "ts", ref_date=REF, half_life_days=7)
    ).collect()
    assert len(got) == 1
    assert (got[0].n, got[0].score) == (4, 8.0 + 4.0 + 2.0 + 0.0)

    # exact monoid: every 2-slicing reads identically to the one-pass state
    from pyspark.sql import functions as F

    one = decayed_state(df, ["g"], "value", "ts", ref_date=REF).collect()
    for i in range(3):
        mixer = F.pmod(F.xxhash64("ts", F.lit(i)), F.lit(2))
        states = [
            decayed_state(
                df.filter(mixer == j), ["g"], "value", "ts", ref_date=REF
            )
            for j in range(2)
        ]
        merged = merge_decayed_states(states).collect()
        assert sorted(map(tuple, merged)) == sorted(map(tuple, one)), i

    # mixed references stay visibly separate
    s1 = decayed_state(df, ["g"], "value", "ts", ref_date=REF)
    s2 = decayed_state(df, ["g"], "value", "ts", ref_date="2024-04-01")
    mixed = merge_decayed_states([s1, s2]).collect()
    assert len(mixed) == 2
    assert len({str(r.ref_date) for r in mixed}) == 2

    with pytest.raises(ValueError):
        decayed_state(df, ["g"], "value", "ts", ref_date=REF, half_life_days=0)
    with pytest.raises(ValueError):
        merge_decayed_states([])


def test_decayed_state_streams_through_foreachbatch(spark, sf_smoke, tmp_path):
    """E63 through the generalized incremental-rollup seam: per-epoch
    decayed deltas merged across 3 epochs read back the one-pass batch
    state bit-for-bit (exact decimal monoid — the E41 guarantee on the
    time-decayed sum)."""
    from audience_finder_pro_spark.operators.incremental import (
        decayed_read,
        decayed_state,
        merge_decayed_states,
    )
    from audience_finder_pro_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        latest_rollup_state,
        run_stream_incremental_rollup,
    )

    src = tmp_path / "src"
    state = str(tmp_path / "state")
    src.mkdir()
    base = load_table(spark, sf_smoke, "events")
    base.repartition(3).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_incremental_rollup(
        stream,
        ["event_type"],
        "value",
        state,
        str(tmp_path / "ck"),
        state_fn=lambda b: decayed_state(
            b, ["event_type"], "value", "ts", ref_date="2024-02-01"
        ),
        merge_fn=merge_decayed_states,
    )
    streamed = sorted(
        tuple(r) for r in decayed_read(latest_rollup_state(spark, state)).collect()
    )
    batch = sorted(
        tuple(r)
        for r in decayed_read(
            decayed_state(base, ["event_type"], "value", "ts", ref_date="2024-02-01")
        ).collect()
    )
    assert streamed == batch


# ------------------------------------ E64 per-key trend state
def test_engagement_trend_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _TREND_ORACLE
    from tests.oracle import compare

    compare(QUERIES["engagement_trend"](spark, sf_dir), _TREND_ORACLE,
            sf_dir, name="engagement_trend")


def test_trend_state_exactness_and_merge_algebra(spark):
    """Planted series pin the E64 contract: (1) a perfect line y=2x+5
    over days 0..4 reads slope 2.0 / intercept 5.0 exactly; (2) a
    single-day key reads NULL slope (degenerate denominator), never a
    division error; (3) the state is an exact monoid — any slicing
    merges bit-identically to one pass; (4) mixed origins stay separate
    rows; (5) validation raises on empty merge."""
    import datetime

    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        merge_trend_states,
        trend_read,
        trend_state,
    )

    def ev(g, day, value):
        return (g, datetime.datetime(2024, 1, 1 + day, 6, 0), float(value))

    rows = [ev("lin", d, 2 * d + 5) for d in range(5)] + [
        ev("flat", 2, 7.0), ev("flat", 2, 9.0)  # one distinct day
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    got = {
        r.g: (r.n, r.slope, r.intercept)
        for r in trend_read(
            trend_state(df, ["g"], "ts", "value", origin_date="2024-01-01")
        ).collect()
    }
    assert got["lin"] == (5, 2.0, 5.0)
    assert got["flat"][1] is None and got["flat"][2] is None

    one = sorted(
        map(tuple, trend_state(df, ["g"], "ts", "value",
                               origin_date="2024-01-01").collect())
    )
    for i in range(3):
        mixer = F.pmod(F.xxhash64("ts", "value", F.lit(i)), F.lit(2))
        states = [
            trend_state(df.filter(mixer == j), ["g"], "ts", "value",
                        origin_date="2024-01-01")
            for j in range(2)
        ]
        assert sorted(map(tuple, merge_trend_states(states).collect())) == one, i

    s2 = trend_state(df, ["g"], "ts", "value", origin_date="2024-01-02")
    mixed = merge_trend_states(
        [trend_state(df, ["g"], "ts", "value", origin_date="2024-01-01"), s2]
    )
    assert mixed.count() == 4  # 2 keys x 2 origins

    with pytest.raises(ValueError):
        merge_trend_states([])


# ------------------------------------ E65 A/B experiment lift readout
def test_ab_experiment_lift_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _ab_lift_oracle
    from tests.oracle import compare

    compare(QUERIES["ab_experiment_lift"](spark, sf_dir), _ab_lift_oracle(),
            sf_dir, name="ab_experiment_lift")


def test_ab_lift_oracle_degrades_like_engine(spark, tmp_path):
    """r11 ADVICE regression: the oracle SQL must mirror the engine's
    degenerate-group NULL guards, not diverge on a division. Planted
    fixture where every guard fires — a single-row control arm (var_c
    NULL -> z NULL), constant metrics in both arms (se 0 -> z NULL),
    and a zero-mean control (lift NULL) — run through the DECLARED
    query and the oracle on the same tables: identical NULLs, green
    hash."""
    import os

    from audience_finder_pro_spark.operators.sampling import hash_bucket
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _ab_lift_oracle
    from audience_finder_pro_spark.session import TABLES
    from tests.oracle import compare

    # recover which user ids land in each arm under the engine's own
    # salted assignment (no reimplementation drift possible)
    buckets = {
        r.user_id: r.b
        for r in spark.range(1, 101)
        .select(F.col("id").alias("user_id"), hash_bucket("id", "exp1").alias("b"))
        .collect()
    }
    a_users = [u for u, b in sorted(buckets.items()) if b < 5000][:4]
    b_users = [u for u, b in sorted(buckets.items()) if b >= 5000][:4]
    assert len(a_users) == 4 and len(b_users) == 4

    rows = []

    def ev(user_id, event_type, value):
        rows.append((len(rows) + 1, None, user_id, event_type, float(value), None))

    # single-row control arm: var_c NULL -> z NULL; lift stays -60.0
    ev(a_users[0], "single_ctl", 5.0)
    for v in (1.0, 2.0, 3.0):
        ev(b_users[0], "single_ctl", v)
    # constant metric in both arms: var 0 -> se 0 -> z NULL; lift 0
    for u, v in ((a_users[1], 7.0), (a_users[2], 7.0),
                 (b_users[1], 7.0), (b_users[2], 7.0)):
        ev(u, "flat", v)
    # zero-mean control: lift NULL; z = (2-0)/sqrt(2/2 + 8/2) ~ 0.8944
    ev(a_users[3], "zero_ctl", 2.0)
    ev(a_users[3], "zero_ctl", -2.0)
    ev(b_users[3], "zero_ctl", 1.0)
    ev(b_users[3], "zero_ctl", 3.0)

    # single parquet FILES (run_oracle's read_parquet takes the literal
    # path, not a directory glob): unused tables copied from the smoke
    # fixture, the planted events written via pyarrow
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    fixture = str(tmp_path)
    for t in TABLES:
        if t == "events":
            continue
        shutil.copy(
            f"/root/testdata/sf0.001/{t}.parquet",
            os.path.join(fixture, f"{t}.parquet"),
        )
    cols = list(zip(*rows))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(cols[0], pa.int64()),
                "ts": pa.array(cols[1], pa.timestamp("us")),
                "user_id": pa.array(cols[2], pa.int64()),
                "event_type": pa.array(cols[3], pa.string()),
                "value": pa.array(cols[4], pa.float64()),
                "props": pa.array(cols[5], pa.string()),
            }
        ),
        os.path.join(fixture, "events.parquet"),
    )

    result = QUERIES["ab_experiment_lift"](spark, fixture)
    compare(result, _ab_lift_oracle(), fixture, name="ab_lift_degenerate")
    got = {r.event_type: r for r in result.collect()}
    assert got["single_ctl"].z is None and got["single_ctl"].lift_pct == -60.0
    assert got["flat"].z is None and got["flat"].lift_pct == 0.0
    assert got["zero_ctl"].lift_pct is None and got["zero_ctl"].z == 0.8944


def test_ab_lift_semantics_and_merge_algebra(spark):
    """Planted arms pin the E65 contract: (1) hand-computed read —
    control [10, 10, 10, 10] vs treatment [11, 13]: means 10 and 12,
    lift +20%, var_t = 2, var_c = 0, z = (12−10)/sqrt(2/2 + 0/4) = 2.0;
    (2) the stats frame is an exact monoid (any slicing merges
    identically); (3) single-row arms read NULL variance legs without
    dividing by zero (z NULL when se degenerates to 0); (4) key groups
    missing an arm are dropped; (5) empty merge raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.experiment import (
        ab_lift,
        experiment_stats,
        merge_experiment_stats,
    )

    rows = (
        [("g1", "A", 10.0)] * 4 + [("g1", "B", 11.0), ("g1", "B", 13.0)]
        + [("g2", "A", 5.0)]  # no B arm -> dropped
    )
    df = spark.createDataFrame(rows, "g string, variant string, x double")
    stats = experiment_stats(df, ["g"], "variant", "x")
    got = ab_lift(stats, control="A", treatment="B").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.g, r.n_control, r.n_treatment) == ("g1", 4, 2)
    assert (r.mean_control, r.mean_treatment, r.lift_pct, r.z) == (
        10.0, 12.0, 20.0, 2.0,
    )

    one = sorted(map(tuple, stats.collect()))
    for i in range(3):
        mixer = F.pmod(F.xxhash64("variant", "x", F.lit(i)), F.lit(2))
        states = [
            experiment_stats(df.filter(mixer == j), ["g"], "variant", "x")
            for j in range(2)
        ]
        assert sorted(map(tuple, merge_experiment_stats(states).collect())) == one

    # degenerate arms: n=1 both sides -> variance NULL -> z NULL
    tiny = spark.createDataFrame(
        [("g", "A", 4.0), ("g", "B", 6.0)], "g string, variant string, x double"
    )
    t = ab_lift(experiment_stats(tiny, ["g"], "variant", "x"), "A", "B").collect()[0]
    assert t.z is None and t.lift_pct == 50.0

    with pytest.raises(ValueError):
        merge_experiment_stats([])


# ------------------------------------ E66 content-defined chunking
def test_cdc_chunk_docs_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _cdc_oracle
    from tests.oracle import compare

    compare(QUERIES["cdc_chunk_docs"](spark, sf_dir), _cdc_oracle(),
            sf_dir, name="cdc_chunk_docs")


def test_cdc_chunk_dedup_matches_sql_oracle(spark, sf_dir):
    """The E66+A9 composition (VERDICT r11 ask #3), declared past the
    50-slot driver cap — this is its correctness gate, plus the bench
    comparator via _extra_oracles. Verified at sf0.1 too on landing
    (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _cdc_dedup_oracle
    from tests.oracle import compare

    compare(QUERIES["cdc_chunk_dedup"](spark, sf_dir), _cdc_dedup_oracle(),
            sf_dir, name="cdc_chunk_dedup")


def test_chunk_dedup_verdicts_containment_semantics(spark):
    """Planted corpus pins the composed chunk-dedup contract: (1) an
    exact copy of a lower-id doc reads dup_frac 1.0 / 'duplicate';
    (2) the lower-id OWNER of the shared text reads 'unique' (keep-first
    rule at chunk grain); (3) a doc that embeds the owner's text behind
    a fresh head reads a strictly-between fraction — the containment
    case CDC realignment exists for (fixed-stride would read ~0);
    (4) fresh text reads dup_chunks 0 / 'unique'; (5) thresholds
    validate."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.dedup import chunk_dedup_verdicts
    from audience_finder_pro_spark.operators.packing import cdc_chunks

    base = " ".join(f"word{i}" for i in range(300))
    fresh = " ".join(f"other{i}" for i in range(300))
    containing = " ".join(f"pre{i}" for i in range(150)) + " " + base
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, containing), (4, fresh)],
        "doc_id long, text string",
    )
    out = chunk_dedup_verdicts(cdc_chunks(df, avg_tokens=16))
    got = {r.doc_id: r for r in out.collect()}

    assert got[1].verdict == "unique" and got[1].dup_chunks == 0  # owner
    assert got[2].dup_frac == 1.0 and got[2].verdict == "duplicate"
    assert 0.0 < got[3].dup_frac < 1.0  # realigned containment visible
    assert got[3].dup_tokens >= 250  # all but doc-1's head prefix chunk
    assert got[4].dup_chunks == 0 and got[4].verdict == "unique"

    with pytest.raises(ValueError):
        chunk_dedup_verdicts(
            cdc_chunks(df, avg_tokens=16), partial_threshold=0.9,
            dup_threshold=0.5,
        )


def test_chunk_dedup_verdicts_hot_hash(spark):
    """The scale shape the r12 fix bought (VERDICT r12 what's-wrong #1):
    one boilerplate chunk hash shared by FAR more instances than any
    other hash — the min-over-window form parked all of them on one
    task; the groupBy(min)+join-back form collapses the hot hash to one
    owner row map-side. Semantics must be identical: every non-owner
    instance of the hot chunk is duplicated, owners stay unique, and
    the verdicts are partitioning-independent."""
    from audience_finder_pro_spark.operators.dedup import chunk_dedup_verdicts

    # 2,000 docs all carrying the same boilerplate chunk (hash 'HOT'),
    # each with one fresh chunk of its own; doc 0 owns the hot chunk.
    rows = []
    for d in range(2000):
        rows.append((d, 10, "HOT"))
        rows.append((d, 30, f"fresh-{d}"))
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int, chunk_hash string")
    for parts in (1, 7):
        got = {
            r.doc_id: r
            for r in chunk_dedup_verdicts(df.repartition(parts)).collect()
        }
        assert got[0].dup_chunks == 0 and got[0].verdict == "unique"
        assert all(got[d].dup_chunks == 1 for d in range(1, 2000))
        assert all(got[d].dup_tokens == 10 for d in range(1, 2000))
        # 10/40 duplicated tokens = 0.25 < default partial threshold
        assert all(got[d].verdict == "unique" for d in range(1, 2000))


def test_cdc_chunks_shift_resistance(spark):
    """THE property content-defined boundaries exist for: prepending a
    sentence to a document leaves every chunk after the first boundary
    hash-identical (chunk-level dedup survives the edit), while E9's
    fixed-stride chunks all shift and share (nearly) nothing. Also:
    chunk ids partition the token stream (sizes sum to the token
    count), and validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.packing import (
        cdc_chunks,
        chunk_documents,
    )

    base = " ".join(f"word{i}" for i in range(300))
    edited = "six fresh preamble tokens inserted here " + base
    df = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string"
    )
    out = cdc_chunks(df, avg_tokens=16)
    h1 = [
        r.chunk_hash
        for r in out.filter(F.col("doc_id") == 1).orderBy("chunk").collect()
    ]
    h2 = {r.chunk_hash for r in out.filter(F.col("doc_id") == 2).collect()}
    assert len(h1) > 5  # the 300-token doc really did chunk
    # every chunk of the original except its head prefix survives the edit
    assert set(h1[1:]) <= h2

    # fixed-stride contrast: the same edit shifts every chunk
    fixed = chunk_documents(df, chunk_tokens=16, overlap=0)
    f1 = {
        r.chunk_text
        for r in fixed.filter(F.col("doc_id") == 1).collect()
    }
    f2 = {
        r.chunk_text
        for r in fixed.filter(F.col("doc_id") == 2).collect()
    }
    assert len(f1 & f2) <= 1  # at most an accidental tail alignment

    # chunks partition the stream
    n_tok = (
        out.filter(F.col("doc_id") == 1)
        .agg(F.sum("n_tokens").alias("s"))
        .collect()[0]
        .s
    )
    assert n_tok == 300

    with pytest.raises(ValueError):
        cdc_chunks(df, avg_tokens=1)


# ------------------------------------ incremental-tier state catalog
def test_state_catalog_matches_sql_oracle(spark, sf_dir):
    """The r11 consolidation ask's batch half: six state families built
    incrementally (3 slices merged each) and read through the unified
    state_catalog_read, hash-matched against the one-pass SQL recompute
    of every leg. Declared past the 50-slot driver cap — this is its
    correctness gate, plus the bench comparator via _extra_oracles.
    Verified at sf0.1 too on landing (NOTES audit rule); the ONE-stream
    half lives in tests/test_streaming.py."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _STATE_CATALOG_ORACLE
    from tests.oracle import compare

    compare(QUERIES["state_catalog"](spark, sf_dir), _STATE_CATALOG_ORACLE,
            sf_dir, name="state_catalog")


def test_state_catalog_read_validates(spark):
    """Unknown families and empty catalogs raise."""
    import pytest

    from audience_finder_pro_spark.operators.incremental import (
        state_catalog_read,
    )

    with pytest.raises(ValueError, match="unknown"):
        state_catalog_read({"bogus": spark.range(1)})
    with pytest.raises(ValueError, match="at least one"):
        state_catalog_read({})
    with pytest.raises(ValueError, match="cm_probes"):
        state_catalog_read({"cm": spark.range(1)})


def test_state_catalog_sketch_legs_within_bounds(spark, sf_dir):
    """The hll/kll catalog legs (r13: the two APPROXIMATE families the
    declared hash gate excludes by taxonomy) read through the SAME
    state_catalog_read and are gated by their error-bound contracts:
    hll's per-key estimate within the sketch's 3-sigma band of the
    exact distinct count (~1.6% SE at lg_k=12 — sf0.1 measures 0.8%
    off, so the regime where the bound BITES is exercised); kll's
    per-(key, q) quantile within ±2% RANK error of the exact quantile
    (compaction is live at sf0.01: ~2,000 values/key vs k=800) and its
    n column exactly the key's value count (KLL tracks n losslessly)."""
    from audience_finder_pro_spark.operators.incremental import (
        state_catalog_read,
    )
    from audience_finder_pro_spark.queries.llm import _build_catalog_states
    from audience_finder_pro_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value", "ts", "event_id"
    )
    states = _build_catalog_states(ev)
    got = state_catalog_read(
        {"hll": states["hll"], "kll": states["kll"]},
        kll_qs=(0.25, 0.5, 0.75),
    ).collect()

    exact_distinct = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    vals: dict[str, list[float]] = {}
    for r in ev.filter(F.col("value").isNotNull()).select(
        "event_type", "value"
    ).collect():
        vals.setdefault(r.event_type, []).append(float(r.value))
    for v in vals.values():
        v.sort()

    hll = [r for r in got if r.op == "hll"]
    kll = [r for r in got if r.op == "kll"]
    assert {r.k1 for r in hll} == set(exact_distinct)
    for r in hll:
        true = exact_distinct[r.k1]
        assert abs(r.n - true) <= max(3, 0.05 * true), (r.k1, r.n, true)
    assert len(kll) == 3 * len(vals)
    for r in kll:
        v = vals[r.k1]
        assert r.n == len(v)  # exact stream count
        q = float(r.k2)
        # rank of the returned quantile within the exact sorted values
        import bisect

        lo_rank = bisect.bisect_left(v, r.v1)
        hi_rank = bisect.bisect_right(v, r.v1)
        target = q * len(v)
        assert lo_rank - 0.02 * len(v) <= target <= hi_rank + 0.02 * len(v), (
            r.k1, q, r.v1, lo_rank, hi_rank, target,
        )


# ------------------------------------ E72 PSI drift over histogram states
def test_psi_drift_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PSI_ORACLE
    from tests.oracle import compare

    compare(QUERIES["psi_drift"](spark, sf_dir), _PSI_ORACLE,
            sf_dir, name="psi_drift")


def test_psi_from_histogram_states_planted(spark):
    """The fixture has no drift (every sf0.1 key reads 'stable'), so the
    verdict thresholds are pinned on planted states: (1) identical
    states read psi 0.0 / stable; (2) a hard distribution shift (all
    mass moved across bins) reads 'drifted'; (3) PSI is symmetric under
    side swap ((p-q)ln(p/q) is); (4) a bin present on one side only
    contributes a finite smoothed term, not inf; (5) geometry/smoothing
    validation raises."""
    import pytest

    from audience_finder_pro_spark.operators.incremental import (
        psi_from_histogram_states,
    )

    def st(rows):
        return spark.createDataFrame(rows, "k string, bin int, bin_n long")

    a = st([("x", 0, 80), ("x", 1, 20)])
    same = psi_from_histogram_states(a, a, n_bins=4).collect()
    assert [(r.psi, r.verdict) for r in same] == [(0.0, "stable")]

    b = st([("x", 2, 50), ("x", 3, 50)])  # disjoint support (4)
    ab = psi_from_histogram_states(a, b, n_bins=4).collect()[0]
    assert ab.verdict == "drifted" and ab.psi > 0.25
    assert ab.n_a == 100 and ab.n_b == 100
    ba = psi_from_histogram_states(b, a, n_bins=4).collect()[0]
    assert ba.psi == ab.psi  # (3)

    mild = st([("x", 0, 75), ("x", 1, 25)])
    m = psi_from_histogram_states(a, mild, n_bins=4).collect()[0]
    assert m.verdict == "stable" and 0 < m.psi < 0.1

    with pytest.raises(ValueError, match="n_bins"):
        psi_from_histogram_states(a, b, n_bins=0)
    with pytest.raises(ValueError, match="smoothing"):
        psi_from_histogram_states(a, b, n_bins=4, smoothing=0.0)
    with pytest.raises(ValueError, match="key columns"):
        psi_from_histogram_states(
            a, b.withColumnRenamed("k", "kk"), n_bins=4
        )


# ------------------------------------ E67 bottom-k sample state
def test_bottomk_sample_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule); the sampled (KMV) regime
    is live here (~1,500 distinct users/type vs k=32)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _bottomk_oracle
    from tests.oracle import compare

    compare(QUERIES["bottomk_sample"](spark, sf_dir), _bottomk_oracle(),
            sf_dir, name="bottomk_sample")


def test_bottomk_state_semantics_and_merge_algebra(spark, sf_smoke):
    """Pins the E67 contract: (1) exact regime — a key with fewer than
    k distinct items keeps its WHOLE set and est_distinct is the exact
    count; (2) the min-k union — any slicing merges to the identical
    state as the one-pass build, bit-for-bit; (3) merge is idempotent
    (re-merging the same state changes nothing — the at-least-once
    property); (4) the KMV estimate lands within 3 standard errors
    (~1/sqrt(k-2)) of the true distinct count on the fixture's sampled
    regime; (5) validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        bottomk_read,
        bottomk_state,
        merge_bottomk_states,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_type", "user_id", "event_id"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # (2) one-pass vs 3-slice merge: identical state
    one = bottomk_state(ev.drop("event_id"), ["event_type"], "user_id", k=16)
    sliced = merge_bottomk_states(
        [
            bottomk_state(
                ev.filter(F.col("event_id") % 3 == i).drop("event_id"),
                ["event_type"], "user_id", k=16,
            )
            for i in range(3)
        ],
        k=16,
    )
    assert rows(one) == rows(sliced)

    # (3) idempotent re-merge
    assert rows(merge_bottomk_states([sliced, sliced], k=16)) == rows(one)

    # (1) exact regime on a planted small key
    tiny = spark.createDataFrame(
        [("t", i % 5) for i in range(50)], "event_type string, user_id long"
    )
    r = bottomk_read(bottomk_state(tiny, ["event_type"], "user_id", k=16), k=16)
    got = r.collect()
    assert len(got) == 5 and all(x.est_distinct == 5.0 for x in got)

    # (4) KMV sanity in the sampled regime
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    k = 16
    est = {
        r.event_type: r.est_distinct
        for r in bottomk_read(one, k=k).select("event_type", "est_distinct")
        .distinct().collect()
    }
    for et, n in exact.items():
        if n <= k:
            assert est[et] == float(n)
        else:
            se = n / (k - 2) ** 0.5
            assert abs(est[et] - n) <= 3 * se, (et, n, est[et])

    with pytest.raises(ValueError):
        bottomk_state(tiny, ["event_type"], "user_id", k=1)
    with pytest.raises(ValueError):
        merge_bottomk_states([], k=16)

    # (5) coverage validation (ADVICE r12): a union gate larger than the
    # inputs' build k is refused — it would fabricate coverage the inputs
    # never kept (bottomk_read would misreport truncated keys as exact)
    small = bottomk_state(tiny, ["event_type"], "user_id", k=4)
    with pytest.raises(ValueError, match="exceeds input 0's build k=4"):
        merge_bottomk_states([small, small], k=16)
    # an unmarked state (storage round-trip loses the Python attribute)
    # needs the caller's explicit input_k assertion
    unmarked = spark.createDataFrame(small.collect(), small.schema)
    with pytest.raises(ValueError, match="no build-k marker"):
        merge_bottomk_states([unmarked], k=4)
    assert rows(merge_bottomk_states([unmarked], k=4, input_k=4)) == rows(small)
    with pytest.raises(ValueError, match="exceeds input 0's build k=4"):
        merge_bottomk_states([unmarked], k=16, input_k=4)
    # and the merge output carries its own marker (gate k), so re-merges
    # at the same k validate without any assertion
    remerged = merge_bottomk_states([small, small], k=4)
    assert rows(merge_bottomk_states([remerged, remerged], k=4)) == rows(small)


# ------------------------------------ E73 weighted priority sample state
def test_weighted_sample_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _WEIGHTED_SAMPLE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["weighted_sample"](spark, sf_dir),
            _WEIGHTED_SAMPLE_ORACLE, sf_dir, name="weighted_sample")


def test_weighted_bottomk_semantics_and_merge_algebra(spark, sf_smoke):
    """Pins the E73 contract: (1) merge of slices equals the one-pass
    build bit-for-bit (max-k union is order-free) and re-merge is
    idempotent; (2) exact regime — a key with < k items reads every
    item with est_w = w exactly; (3) max-weight dedup — an item seen
    with several weights samples under its max; (4) the DLT threshold
    estimator is unbiased: over 40 independent salts, the mean per-key
    est_w total lands within 25% of the true total weight; (5) coverage
    validation is the E67 contract (build-k markers, input_k assertion,
    refusal)."""
    import pytest

    from audience_finder_pro_spark.operators.incremental import (
        merge_weighted_bottomk_states,
        weighted_bottomk_read,
        weighted_bottomk_state,
    )
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents").select(
        "source", "doc_id", "n_chars"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # (1) one-pass vs 3-slice merge
    one = weighted_bottomk_state(docs, ["source"], "doc_id", "n_chars", k=6)
    sliced = merge_weighted_bottomk_states(
        [
            weighted_bottomk_state(
                docs.filter(F.col("doc_id") % 3 == i),
                ["source"], "doc_id", "n_chars", k=6,
            )
            for i in range(3)
        ],
        k=6,
    )
    assert rows(one) == rows(sliced)
    assert rows(merge_weighted_bottomk_states([sliced, sliced], k=6)) == rows(one)

    # (2) exact regime + (3) max-weight dedup on a planted frame
    tiny = spark.createDataFrame(
        [("t", 1, 10.0), ("t", 1, 30.0), ("t", 2, 5.0), ("t", 3, 7.0)],
        "source string, doc_id long, n_chars double",
    )
    r = weighted_bottomk_read(
        weighted_bottomk_state(tiny, ["source"], "doc_id", "n_chars", k=6), k=6
    ).collect()
    got = {x.item: (x.w, x.est_w) for x in r}
    assert got == {1: (30.0, 30.0), 2: (5.0, 5.0), 3: (7.0, 7.0)}

    # (4) estimator unbiasedness across salts (deterministic given salts)
    true = {
        r.source: r.t
        for r in docs.groupBy("source")
        .agg(F.sum("n_chars").alias("t"))
        .collect()
    }
    sums: dict[str, float] = {s: 0.0 for s in true}
    n_salts = 40
    for i in range(n_salts):
        st = weighted_bottomk_state(
            docs, ["source"], "doc_id", "n_chars", k=8, salt=f"wbk{i}"
        )
        for row in (
            weighted_bottomk_read(st, k=8)
            .groupBy("source")
            .agg(F.sum("est_w").alias("e"))
            .collect()
        ):
            sums[row.source] += row.e
    for s, t in true.items():
        mean = sums[s] / n_salts
        assert abs(mean - t) <= 0.25 * t, (s, mean, t)

    # (5) coverage validation (the E67 contract)
    with pytest.raises(ValueError, match="exceeds input 0's build k=6"):
        merge_weighted_bottomk_states([one, one], k=8)
    unmarked = spark.createDataFrame(one.collect(), one.schema)
    with pytest.raises(ValueError, match="no build-k marker"):
        merge_weighted_bottomk_states([unmarked], k=6)
    assert rows(
        merge_weighted_bottomk_states([unmarked], k=6, input_k=6)
    ) == rows(one)
    with pytest.raises(ValueError):
        weighted_bottomk_state(tiny, ["source"], "doc_id", "n_chars", k=1)
    with pytest.raises(ValueError):
        merge_weighted_bottomk_states([], k=6)


# ------------------------------------ E68 count-min sketch state
def test_cm_point_estimates_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _cm_oracle
    from tests.oracle import compare

    compare(QUERIES["cm_point_estimates"](spark, sf_dir), _cm_oracle(),
            sf_dir, name="cm_point_estimates")


def test_cm_state_one_sided_bound_and_merge(spark, sf_smoke):
    """Pins the E68 contract: (1) the one-sided guarantee — for EVERY
    (event_type, probed user) the estimate >= the exact count, through
    a 3-slice merge; (2) the excess is collision-bounded (<= the
    depth-row minimum by construction, sanity-checked against N/width
    x a small factor); (3) merge ≡ one-pass bit-for-bit (exact integer
    cells); (4) absent probes read 0 for keys that never saw them;
    (5) validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from audience_finder_pro_spark.operators.incremental import (
        cm_estimate,
        cm_state,
        merge_cm_states,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_type", "user_id", "event_id"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    one = cm_state(ev.drop("event_id"), ["event_type"], "user_id")
    merged = merge_cm_states(
        [
            cm_state(
                ev.filter(F.col("event_id") % 3 == i).drop("event_id"),
                ["event_type"], "user_id",
            )
            for i in range(3)
        ]
    )
    assert rows(one) == rows(merged)  # (3)

    probes = spark.range(1, 31).select(F.col("id").alias("user_id"))
    est = {
        (r.event_type, r.item): r.est_count
        for r in cm_estimate(merged, probes, "user_id").collect()
    }
    exact = {
        (r.event_type, r.user_id): r.n
        for r in ev.filter(F.col("user_id") < 31)
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_per_key = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert est, "no estimates produced"
    for (et, item), e in est.items():
        true = exact.get((et, item), 0)
        assert e >= true, ((et, item), e, true)  # (1)
        # (2) expected excess ~ (depth-min of) N/width collisions
        assert e - true <= max(10, 8 * n_per_key[et] / 256), ((et, item), e, true)

    # (4) a planted key that never saw the probes reads 0
    lonely = spark.createDataFrame(
        [("z", 10_000_000)], "event_type string, user_id long"
    )
    z = cm_estimate(
        cm_state(lonely, ["event_type"], "user_id"), probes, "user_id"
    ).filter(F.col("event_type") == "z")
    zs = z.collect()
    assert len(zs) == 30 and all(r.est_count == 0 for r in zs)

    with pytest.raises(ValueError):
        cm_state(lonely, ["event_type"], "user_id", depth=0)
    with pytest.raises(ValueError):
        merge_cm_states([])


# ------------------------------------ E69 triangle counts
def test_dedup_triangles_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _TRIANGLE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["dedup_triangles"](spark, sf_dir), _TRIANGLE_ORACLE,
            sf_dir, name="dedup_triangles")


def test_triangle_counts_planted_geometry(spark):
    """Pins the E69 contract: (1) a 4-clique has C(3,2)=3 triangles per
    node; (2) a chain has none (the clique-vs-chain diagnostic the
    operator exists for); (3) a star hub has none (the skewed shape the
    degree ordering bounds); (4) duplicate, reversed and self-loop
    pairs don't change the count; (5) counts are partitioning-
    independent."""
    from audience_finder_pro_spark.operators.graph import triangle_counts

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(10, 11), (11, 12), (12, 13)]
    star = [(20, h) for h in range(21, 27)]
    noise = [(1, 0), (0, 1), (2, 2), (0, 1)]  # reversed + self-loop + dup
    df = spark.createDataFrame(
        clique + chain + star + noise, "id_a long, id_b long"
    )
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}  # clique only; chain/star absent

    got7 = {
        r.node: r.n_triangles
        for r in triangle_counts(df.repartition(7)).collect()
    }
    assert got7 == got


# ------------------------------------ E70 rolling distinct audience
def test_rolling_audience_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule); exact theta mode at every
    checked SF."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _ROLLING_AUDIENCE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["rolling_audience"](spark, sf_dir),
            _ROLLING_AUDIENCE_ORACLE, sf_dir, name="rolling_audience")


def test_rolling_theta_distinct_planted_windows(spark):
    """Pins the E70 contract on a hand-built timeline: users {1,2} on
    day 1, {2} on day 3, {3} on day 10 with a 7-day window — day-1
    reads 2, day-3 still 2 (1 and 3 share a window), day-10 reads 1
    (the old users aged out); window_days=1 degenerates to per-day
    distinct; NULL times/values drop; validation raises."""
    import datetime

    import pytest

    from audience_finder_pro_spark.operators.incremental import (
        rolling_theta_distinct,
    )

    def ts(day):
        return datetime.datetime(2024, 1, day)

    rows = [
        ("x", 1, ts(1)), ("x", 2, ts(1)), ("x", 2, ts(3)), ("x", 3, ts(10)),
        ("x", None, ts(5)), ("x", 9, None),  # dropped
    ]
    df = spark.createDataFrame(rows, "event_type string, user_id long, ts timestamp")
    got = {
        str(r.day): r.n_distinct
        for r in rolling_theta_distinct(df, ["event_type"], "user_id", "ts").collect()
    }
    assert got == {"2024-01-01": 2, "2024-01-03": 2, "2024-01-10": 1}

    daily = {
        str(r.day): r.n_distinct
        for r in rolling_theta_distinct(
            df, ["event_type"], "user_id", "ts", window_days=1
        ).collect()
    }
    assert daily == {"2024-01-01": 2, "2024-01-03": 1, "2024-01-10": 1}

    with pytest.raises(ValueError):
        rolling_theta_distinct(df, ["event_type"], "user_id", "ts", window_days=0)


# ------------------------------------ E71 phrase search
def test_phrase_search_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PHRASE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["phrase_search"](spark, sf_dir), _PHRASE_ORACLE,
            sf_dir, name="phrase_search")


def test_phrase_search_planted_semantics(spark):
    """Pins the E71 contract: (1) adjacency — a doc with the words
    present but not adjacent does NOT match (the read bag-of-words
    can't do); (2) occurrence counting incl. overlapping starts;
    (3) tokenization rule — case and punctuation fold exactly like
    tokens(); (4) single-token phrases degenerate to term counts;
    (5) empty phrase raises."""
    import pytest

    from audience_finder_pro_spark.operators.relevance import phrase_search

    rows = [
        (1, "alpha beta gamma"),            # exact match
        (2, "alpha gamma beta"),            # words present, wrong order
        (3, "x alpha beta gamma y alpha beta gamma"),  # two occurrences
        (4, "Alpha, BETA!! gamma"),         # case/punct fold to a match
        (5, "alpha alpha alpha"),           # overlap for single-token
        (6, "beta gamma"),                  # incomplete
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_matches for r in phrase_search(df, "alpha beta gamma").collect()}
    assert got == {1: 1, 3: 2, 4: 1}

    single = {r.doc_id: r.n_matches for r in phrase_search(df, "alpha").collect()}
    assert single == {1: 1, 2: 1, 3: 2, 4: 1, 5: 3}

    with pytest.raises(ValueError):
        phrase_search(df, "  ,, ")


def test_phrase_index_search_matches_sql_oracle(spark, sf_dir):
    """The persisted-index serving path (VERDICT r12 ask #2) under the
    SAME oracle as phrase_search — identical semantics, different index
    source. Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PHRASE_ORACLE
    from tests.oracle import compare

    compare(QUERIES["phrase_index_search"](spark, sf_dir), _PHRASE_ORACLE,
            sf_dir, name="phrase_index_search")


def test_phrase_index_probe_is_bucket_pruned_and_tokenize_free(spark, sf_smoke):
    """THE property the persisted index buys: the probe plan reads only
    the phrase's terms' buckets (static bucket pruning via the literal
    IN on the bucket column) and contains NO tokenize/explode — document
    text is never touched on the serving path. Results must equal the
    per-query-index phrase_search exactly."""
    import re as _re
    import shutil

    from audience_finder_pro_spark.operators.relevance import (
        build_phrase_index,
        phrase_search,
        phrase_search_indexed,
    )
    from audience_finder_pro_spark.session import load_table

    docs = load_table(spark, sf_smoke, "documents")
    shutil.rmtree("spark-warehouse/phrase_idx_test", ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS phrase_idx_test")
    build_phrase_index(docs, "phrase_idx_test", n_buckets=16)

    got = phrase_search_indexed(spark, "phrase_idx_test", "table part a")
    want = phrase_search(docs, "table part a")
    as_set = lambda df: {tuple(r) for r in df.collect()}  # noqa: E731
    assert as_set(got) == as_set(want) and got.count() > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    m = _re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "postings scan must report bucket pruning"
    # 3 terms select at most 3 of the 16 buckets
    assert int(m.group(1)) <= 3 < int(m.group(2)) == 16
    assert "Generate" not in plan, "probe path must not re-tokenize"


# ------------------------------------ E75 contrastive negative sampling
def test_contrastive_negatives_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _NEGATIVES_ORACLE
    from tests.oracle import compare

    compare(QUERIES["contrastive_negatives"](spark, sf_dir),
            _NEGATIVES_ORACLE, sf_dir, name="contrastive_negatives")


def test_contrastive_negatives_planted_semantics(spark):
    """Pins the E75 contract: (1) no negative ever shares the anchor's
    label or id; (2) results are partitioning-independent (same pairs
    at 1 and 7 partitions); (3) a dominant label produces an HONEST
    shortfall (minority anchors still find negatives, majority anchors
    may read < k — never padded, never same-label); (4) id-sparsity
    drops probes (max_id >> row count -> fewer hits), still correct;
    (5) validation raises."""
    import pytest

    from audience_finder_pro_spark.operators.embedding import (
        contrastive_negatives,
    )

    # 20 dense ids, two labels 50/50
    rows = [(i, i % 2) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, label int")
    by_parts = []
    for parts in (1, 7):
        out = contrastive_negatives(df.repartition(parts), k=3).collect()
        for r in out:
            assert r.neg_label != r.vec_id % 2 and r.neg_id != r.vec_id
            assert 1 <= r.pick <= 3
        by_parts.append(sorted(map(tuple, out)))
    assert by_parts[0] == by_parts[1]  # (2)

    # (3) dominant label: 19 of 20 rows share label 0
    dom = spark.createDataFrame(
        [(i, 0 if i else 1) for i in range(20)], "vec_id long, label int"
    )
    out = contrastive_negatives(dom, k=3).collect()
    minority = [r for r in out if r.vec_id == 0]
    assert len(minority) == 3  # label-1 anchor finds label-0 negatives
    for r in out:
        assert r.neg_label != (0 if r.vec_id else 1)
    majority_counts = {}
    for r in out:
        if r.vec_id != 0:
            majority_counts[r.vec_id] = majority_counts.get(r.vec_id, 0) + 1
    # every majority anchor's only possible negative is vec 0
    assert all(v == 1 for v in majority_counts.values())
    assert all(r.neg_id == 0 for r in out if r.vec_id != 0)

    # (4) sparse ids: same rows but ids spread x50 — hits drop, none wrong
    sparse = spark.createDataFrame(
        [(i * 50, i % 2) for i in range(20)], "vec_id long, label int"
    )
    sout = contrastive_negatives(sparse, k=3).collect()
    assert len(sout) < 60  # honest shortfall under sparsity
    for r in sout:
        assert r.neg_id % 50 == 0 and r.neg_id != r.vec_id

    with pytest.raises(ValueError):
        contrastive_negatives(df, k=0)
    with pytest.raises(ValueError):
        contrastive_negatives(df, k=4, oversample=2)


# ------------------------------------ E78 MMR diversified re-ranking
def test_mmr_rerank_planted_geometry(spark):
    """Pins the E78 contract on a hand-built geometry: two tight
    clusters of relevant vectors plus one orthogonal outlier. Pure
    relevance (λ=1) picks the top cluster twice before the outlier;
    diversity-weighted MMR (λ=0.5) picks one vector per cluster then
    the outlier — the exact behavior the operator exists for. Ties
    break to the lowest id; k > n returns all n; validation raises."""
    import pytest

    from audience_finder_pro_spark.operators.relevance import mmr_rerank

    rows = [
        # query 9: cluster A (ids 1, 2 — near-identical, highest scores),
        # cluster B (ids 3, 4), orthogonal outlier id 5 (lowest score)
        (9, 1, 0.99, [1.0, 0.01, 0.0]),
        (9, 2, 0.98, [1.0, 0.02, 0.0]),
        (9, 3, 0.90, [0.0, 1.0, 0.01]),
        (9, 4, 0.89, [0.0, 1.0, 0.02]),
        (9, 5, 0.50, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "query_id long, vec_id long, score double, embedding array<double>"
    )
    rel = {r.pick: r.vec_id for r in mmr_rerank(df, k=3, lambda_=1.0).collect()}
    assert rel == {1: 1, 2: 2, 3: 3}  # pure relevance order
    div = {r.pick: r.vec_id for r in mmr_rerank(df, k=3, lambda_=0.5).collect()}
    assert div == {1: 1, 2: 3, 3: 5}  # one per cluster, then the outlier

    # tie on score and identical vectors -> lowest id first
    tie = spark.createDataFrame(
        [(9, 7, 0.9, [1.0, 0.0]), (9, 6, 0.9, [1.0, 0.0])],
        "query_id long, vec_id long, score double, embedding array<double>",
    )
    t = {r.pick: r.vec_id for r in mmr_rerank(tie, k=2, lambda_=0.5).collect()}
    assert t == {1: 6, 2: 7}

    assert mmr_rerank(df, k=99).count() == 5  # k > n returns all
    with pytest.raises(ValueError):
        mmr_rerank(df, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(df, k=3, lambda_=1.5)


def test_mmr_rerank_python_reference_and_partitioning(spark, sf_smoke):
    """The Spark result equals a pure-python greedy reference on real
    fixture candidates, and is identical at 1 and 7 input partitions
    (the applyInPandas group exchange is the only shuffle)."""
    import numpy as np

    from audience_finder_pro_spark.operators.relevance import mmr_rerank
    from audience_finder_pro_spark.operators.similarity import brute_force_topk
    from audience_finder_pro_spark.session import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cands = (
        brute_force_topk(emb, queries, k=15, dim=64)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("query_id", "vec_id", F.col("cosine_sim").alias("score"),
                "embedding")
    )
    lam = 0.7

    def reference(rows, k):
        rows = sorted(rows, key=lambda r: r.vec_id)
        ids = [r.vec_id for r in rows]
        scores = np.array([r.score for r in rows])
        v = np.array([r.embedding for r in rows], dtype="float64")
        n = np.linalg.norm(v, axis=1)
        u = v / np.where(n == 0, 1, n)[:, None]
        u[n == 0] = 0
        picked, maxsim, out = [], np.full(len(ids), -np.inf), []
        avail = np.ones(len(ids), bool)
        for _ in range(min(k, len(ids))):
            obj = scores if not picked else lam * scores - (1 - lam) * maxsim
            obj = np.where(avail, obj, -np.inf)
            i = int(np.argmax(obj))
            picked.append(i); avail[i] = False
            out.append(ids[i])
            maxsim = np.maximum(maxsim, u @ u[i])
        return out

    want = {}
    for r in cands.collect():
        want.setdefault(r.query_id, []).append(r)
    expect = {q: reference(rs, 5) for q, rs in want.items()}

    for parts in (1, 7):
        got: dict = {}
        for r in mmr_rerank(
            cands.repartition(parts), k=5, lambda_=lam
        ).collect():
            got.setdefault(r.query_id, {})[r.pick] = r.vec_id
        assert {
            q: [d[p] for p in sorted(d)] for q, d in got.items()
        } == expect, parts


# ------------------------------------ E79 PMI co-occurrence mining
def test_pmi_cooccurrence_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _PMI_ORACLE
    from tests.oracle import compare

    compare(QUERIES["pmi_cooccurrence"](spark, sf_dir), _PMI_ORACLE,
            sf_dir, name="pmi_cooccurrence")


def test_pmi_cooccurrence_planted_semantics(spark):
    """Pins the E79 contract on a planted collocation: (1) a pair that
    always co-occurs scores ln(N/df) — positive and top-ranked — while
    independent-ish pairs score near ln(1)=0; (2) document grain — a
    token repeated inside one doc counts once; (3) min_pairs prunes
    rare pairs; (4) the vocab_k bound excludes low-df tokens entirely;
    (5) validation raises."""
    import math

    import pytest

    from audience_finder_pro_spark.operators.relevance import pmi_cooccurrence

    # 20 docs: 'alpha beta' always together (10 docs, alpha repeated);
    # 'gamma' in all 20 (ubiquitous); 'rare' in one doc only
    rows = [(i, "alpha alpha beta gamma") for i in range(10)]
    rows += [(10 + i, "delta gamma") for i in range(10)]
    rows[19] = (19, "delta gamma rare")
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = pmi_cooccurrence(df, vocab_k=4, top_k=10, min_pairs=2).collect()
    got = {(r.token_a, r.token_b): r for r in out}
    # alpha/beta: df 10 each (repeats count once), pair 10, N 20 ->
    # pmi = ln(10*20/100) = ln 2
    ab = got[("alpha", "beta")]
    assert ab.n_pair == 10 and abs(ab.pmi - round(math.log(2), 4)) < 1e-9
    assert ab.rnk == 1
    # beta/gamma: pair 10, dfs 10 and 20 -> ln(10*20/200) = 0
    assert got[("beta", "gamma")].pmi == 0.0
    # 'rare' (df 1) is outside the top-4 vocab: never appears
    assert not any("rare" in p for p in got)

    # min_pairs prunes: with min_pairs=11 nothing survives
    assert pmi_cooccurrence(df, vocab_k=4, top_k=10, min_pairs=11).count() == 0

    with pytest.raises(ValueError):
        pmi_cooccurrence(df, vocab_k=1)


def test_mmr_rerank_matches_sql_oracle(spark, sf_dir):
    """The r13 upgrade from rows-only to hash-gated: the greedy loop has
    FIXED depth, so _mmr_oracle() unrolls it (the _lp_oracle precedent).
    Verified at sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _mmr_oracle
    from tests.oracle import compare

    compare(QUERIES["mmr_rerank"](spark, sf_dir), _mmr_oracle(),
            sf_dir, name="mmr_rerank")


# ------------------------------------ E80 k-core peeling
def test_dedup_kcore_matches_sql_oracle(spark, sf_dir):
    """Declared past the 50-slot driver cap — this is its correctness
    gate, plus the bench comparator via _extra_oracles. Verified at
    sf0.1 too on landing (NOTES audit rule)."""
    from audience_finder_pro_spark.queries import QUERIES
    from audience_finder_pro_spark.queries.llm import _kcore_oracle
    from tests.oracle import compare

    compare(QUERIES["dedup_kcore"](spark, sf_dir), _kcore_oracle(),
            sf_dir, name="dedup_kcore")


def test_k_core_planted_geometry(spark):
    """Pins the E80 contract: (1) a 5-clique survives 2-core peeling
    intact (degree 4 each) while an attached chain peels away entirely;
    (2) the planted case converges inside the fixed horizon and equals
    the true fixpoint k-core (python reference peel-to-fixpoint);
    (3) CASCADING peel — a path's endpoints die first, then their
    neighbors, needing multiple sweeps; (4) k=3 on the same graph keeps
    only the clique; (5) partitioning independence; (6) validation."""
    import pytest

    from audience_finder_pro_spark.operators.graph import k_core

    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    chain = [(4, 10), (10, 11), (11, 12)]  # tail hanging off the clique
    df = spark.createDataFrame(clique + chain, "id_a long, id_b long")

    def reference(edges, k):
        es = {tuple(sorted(e)) for e in edges}
        while True:
            deg: dict = {}
            for a, b in es:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            new = {e for e in es if e[0] in keep and e[1] in keep}
            if new == es:
                deg = {}
                for a, b in es:
                    deg[a] = deg.get(a, 0) + 1
                    deg[b] = deg.get(b, 0) + 1
                return deg
            es = new

    want2 = reference(clique + chain, 2)
    for parts in (1, 6):
        got = {
            r.node: r.degree
            for r in k_core(df.repartition(parts), k=2, n_sweeps=3).collect()
        }
        assert got == want2  # == the true fixpoint (converged in horizon)
    assert set(want2) == {0, 1, 2, 3, 4}  # the clique; chain fully peeled
    assert all(d == 4 for d in want2.values())

    got3 = {r.node: r.degree for r in k_core(df, k=3, n_sweeps=3).collect()}
    assert got3 == reference(clique + chain, 3)

    # duplicate/reversed/self edges collapse
    messy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (1, 2), (2, 3), (1, 3)],
        "id_a long, id_b long",
    )
    gm = {r.node: r.degree for r in k_core(messy, k=2, n_sweeps=2).collect()}
    assert gm == {1: 2, 2: 2, 3: 2}  # the triangle

    with pytest.raises(ValueError):
        k_core(df, k=0)
    with pytest.raises(ValueError):
        k_core(df, k=2, n_sweeps=0)
