"""Unit tests for LLM-pipeline operators not covered by SQL oracles:
64-bit SimHash, hamming candidates, LSH candidate pairs, multimodal
plumbing, and real Structured Streaming execution."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    from explorer_spark.sources import read_parquet

    return read_parquet("/root/testdata/sf0.001/documents.parquet").lazy_sdf()


def test_simhash64_deterministic_and_near_for_near_texts(spark):
    from explorer_spark.operators.dedup import simhash_bits

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines and shuffles"),
    ]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.simhash for r in simhash_bits(sdf, bits=64).collect()}
    # deterministic
    again = {r.doc_id: r.simhash for r in simhash_bits(sdf, bits=64).collect()}
    assert out == again

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])


def test_lsh_candidate_pairs_finds_duplicates(spark):
    from explorer_spark.operators.dedup import lsh_buckets, lsh_candidate_pairs, minhash_signatures

    base = "spark catalyst optimizer rewrites the logical plan into physical stages"
    rows = [(1, base), (2, base), (3, "unrelated words entirely disjoint vocabulary here to use")]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = minhash_signatures(sdf, num_hashes=8, shingle_n=3)
    pairs = lsh_candidate_pairs(lsh_buckets(sig, num_hashes=8, bands=4)).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_hamming_candidates(spark):
    from explorer_spark.operators.dedup import hamming_candidates, simhash_bits

    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = simhash_bits(sdf, bits=64)
    got = hamming_candidates(sig, max_distance=0, bits=64).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 0)]


def test_hamming_candidates_full_recall(spark):
    """Pigeonhole banding finds EVERY pair <= max_distance — including
    pairs differing only in bits 8..15, which naive high-byte blocking
    misses. Differential: candidates == brute force on random sigs."""
    import itertools
    import random

    from explorer_spark.operators.dedup import hamming_candidates

    # targeted: distance 1 at bit 8 (crosses the old high-byte boundary)
    sig = spark.createDataFrame([(1, 1 << 8), (2, 0)], ["doc_id", "simhash"])
    got = hamming_candidates(sig, max_distance=3, bits=16).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in got] == [(1, 2, 1)]

    # differential vs brute force over random 16-bit signatures
    rng = random.Random(7)
    rows = [(i, rng.randrange(1 << 16)) for i in range(60)]
    want = sorted(
        (a, b, bin(sa ^ sb).count("1"))
        for (a, sa), (b, sb) in itertools.combinations(rows, 2)
        if bin(sa ^ sb).count("1") <= 3
    )
    sig = spark.createDataFrame(rows, ["doc_id", "simhash"])
    got = hamming_candidates(sig, max_distance=3, bits=16).collect()
    assert sorted((r.id_a, r.id_b, r.hamming) for r in got) == want


def test_exact_dedup_keeps_min_key(spark):
    from explorer_spark.operators.dedup import exact_dedup

    rows = [(5, "same"), (1, "same"), (3, "other")]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r.doc_id for r in exact_dedup(sdf).collect())
    assert kept == [1, 3]


def test_multimodal_feature_plumbing(spark):
    from explorer_spark.operators.multimodal import extract_features, frame_sample

    rows = [(1, bytearray(b"x" * 100)), (2, bytearray(b"y" * 300))]
    sdf = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {r.media_id: r for r in extract_features(sdf, fake=True).collect()}
    assert feats[1].n_bytes == 100
    assert len(feats[1].features) == 8
    assert all(0 <= v <= 1 for v in feats[1].features)
    frames = frame_sample(sdf).collect()
    assert {r.media_id for r in frames} == {1, 2}
    assert max(r.frame_idx for r in frames if r.media_id == 2) >= 1


def _ppm_bytes(w, h, rgb):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(rgb)


def _bmp_bytes(w, h, rows_top_down_rgb):
    # minimal uncompressed 24-bit BMP, bottom-up rows, BGR, 4-byte padding
    stride = (w * 3 + 3) & ~3
    pix = b""
    for row in reversed(rows_top_down_rgb):
        line = b"".join(bytes([b, g, r]) for (r, g, b) in row)
        pix += line + b"\x00" * (stride - len(line))
    off = 14 + 40
    header = (
        b"BM"
        + (off + len(pix)).to_bytes(4, "little")
        + b"\x00" * 4
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + pix


def test_multimodal_real_decode(spark):
    """fake=False REALLY decodes: pixel statistics from PPM and BMP
    payloads, no codec library (VERDICT r3 item 10)."""
    import pytest as _pt

    from explorer_spark.operators.multimodal import decode_image, extract_features

    # 2x1 PPM: red pixel then blue pixel
    ppm = _ppm_bytes(2, 1, [255, 0, 0, 0, 0, 255])
    img = decode_image(ppm)
    assert img.shape == (1, 2, 3)
    assert img[0, 0].tolist() == [255, 0, 0] and img[0, 1].tolist() == [0, 0, 255]

    # 2x2 BMP, top-down rows given as RGB triples
    bmp = _bmp_bytes(2, 2, [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (255, 255, 255)]])
    img2 = decode_image(bmp)
    assert img2.shape == (2, 2, 3)
    assert img2[0, 0].tolist() == [255, 0, 0]
    assert img2[1, 1].tolist() == [255, 255, 255]

    rows = [(1, bytearray(ppm)), (2, bytearray(bmp))]
    sdf = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = {r.media_id: r for r in extract_features(sdf, fake=False).collect()}
    # PPM: width=2, height=1, channel means (255+0)/2, 0, (0+255)/2
    assert feats[1].features[:5] == [2.0, 1.0, 127.5, 0.0, 127.5]
    assert feats[2].features[:2] == [2.0, 2.0]
    with _pt.raises(Exception, match="undecodable"):
        extract_features(
            spark.createDataFrame([(3, bytearray(b"nope"))], "media_id long, payload binary"),
            fake=False,
        ).collect()


def test_attach_media_schema(spark):
    from explorer_spark.operators.multimodal import attach_media

    sdf = spark.createDataFrame([(1, bytearray(b"abc"))], "media_id long, blob binary")
    out = attach_media(sdf, "blob", mime="image/png")
    row = out.collect()[0]
    assert row.meta.mime == "image/png"
    assert bytes(row.payload) == b"abc"


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    """A real streaming query (memory sink) equals the batch computation."""
    from explorer_spark.sources import read_parquet
    from explorer_spark.streaming import run_stream_once, tumbling_counts

    ev = read_parquet("/root/testdata/sf0.001/events.parquet").lazy_sdf()
    # write a µs-timestamp copy so readStream can parse it
    path = str(tmp_path / "events")
    ev.write.mode("overwrite").parquet(path)
    batch = {(r.w_start, r.event_type): (r.n, r.total) for r in tumbling_counts(ev, "1 hour").collect()}
    streamed = run_stream_once(spark, path, lambda src: tumbling_counts(src, "1 hour"), "t_tumble")
    got = {(r.w_start, r.event_type): (r.n, r.total) for r in streamed.collect()}
    assert got == batch


def test_stream_session_partitions(spark, tmp_path):
    """stream_session sizes a stream's shuffle partitions from its input
    bytes (floor 2), or 8 without an input directory, and clones the
    session only when the batch session has more partitions than that."""
    from explorer_spark.streaming import stream_session

    path = str(tmp_path / "tiny")
    spark.range(10).write.parquet(path)
    wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "16")
    sess = stream_session(wide, input_path=path)
    assert sess is not wide
    assert sess.conf.get("spark.sql.shuffle.partitions") == "2"
    assert wide.conf.get("spark.sql.shuffle.partitions") == "16"
    sess = stream_session(wide)
    assert sess is not wide
    assert sess.conf.get("spark.sql.shuffle.partitions") == "8"
    for n, input_path in (("2", path), ("8", None)):
        narrow = spark.newSession()
        narrow.conf.set("spark.sql.shuffle.partitions", n)
        assert stream_session(narrow, input_path=input_path) is narrow


def test_streaming_session_window(spark, tmp_path):
    from explorer_spark.sources import read_parquet
    from explorer_spark.streaming import run_stream_once, session_windows_stream

    ev = read_parquet("/root/testdata/sf0.001/events.parquet").lazy_sdf()
    path = str(tmp_path / "events2")
    ev.write.mode("overwrite").parquet(path)
    streamed = run_stream_once(spark, path, lambda src: session_windows_stream(src, "30 minutes"), "t_sess")
    n = streamed.count()
    assert n > 0
    batch = session_windows_stream(ev, "30 minutes").count()
    assert n == batch


def test_bpe_ish_token_count(spark):
    from explorer_spark.operators.text import bpe_ish_token_count, token_count

    rows = [(1, "hello, world!"), (2, "plain words here"), (3, "")]
    sdf = spark.createDataFrame(rows, ["id", "text"])
    out = {
        r.id: (r.ws, r.bpe)
        for r in sdf.select(
            "id",
            token_count(F.col("text")).alias("ws"),
            bpe_ish_token_count(F.col("text")).alias("bpe"),
        ).collect()
    }
    assert out[2] == (3, 3)  # plain words: same either way
    assert out[1][0] == 2  # whitespace: "hello," "world!"
    assert out[1][1] == 4  # bpe-ish: "hello" "," "world" "!"
    assert out[3][0] == 0


def test_quality_score_bounds(docs):
    from explorer_spark.operators.text import quality_score

    scores = [r.q for r in docs.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert len(set(scores)) > 1  # discriminates between documents


def test_ann_recall_vs_bruteforce(spark):
    """IVF (label cells) returns a subset; measure recall vs brute force."""
    from explorer_spark.operators.similarity import brute_force_topk, ivf_topk
    from explorer_spark.sources import read_parquet

    emb = read_parquet("/root/testdata/sf0.001/embeddings.parquet").lazy_sdf()
    queries = emb.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, queries, k=3, cell_col="label").collect()}
    assert len(bf) == 15
    assert len(ivf) == 15
    recall = len(bf & ivf) / len(bf)
    assert 0.0 <= recall <= 1.0  # random cells: recall is data-dependent


def test_embedding_lsh_pairs_contract(spark):
    """Signed-random-projection LSH: identical vectors collide in every
    band (cosine 1.0 pair always a candidate); candidate pairs are
    ordered id_a < id_b; threshold filters to near-dups only."""
    from explorer_spark.operators.similarity import embedding_lsh_pairs
    from explorer_spark.sources import read_parquet

    emb = read_parquet("/root/testdata/sf0.001/embeddings.parquet").lazy_sdf()
    # plant an exact duplicate of vec_id 0 with a fresh id
    dup = emb.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
    with_dup = emb.unionByName(dup)
    pairs = embedding_lsh_pairs(with_dup, nbits=16, bands=4, dim=64).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    planted = [r for r in pairs if r.id_a == 0 and r.id_b == 999_999]
    assert len(planted) == 1 and planted[0].cosine == 1.0
    thr = embedding_lsh_pairs(with_dup, nbits=16, bands=4, dim=64, threshold=0.999).collect()
    assert {(r.id_a, r.id_b) for r in thr} == {(0, 999_999)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Every row arrives twice (file copied); the streamed result keeps
    exactly one copy per event_id."""
    import shutil

    from explorer_spark.sources import read_parquet
    from explorer_spark.streaming import run_stream_once, streaming_dedup

    ev = read_parquet("/root/testdata/sf0.001/events.parquet").lazy_sdf()
    path = str(tmp_path / "dup_events")
    ev.write.mode("overwrite").parquet(path)
    # duplicate every file -> at-least-once delivery simulation
    import glob, os
    for f in glob.glob(path + "/part-*.parquet"):
        shutil.copy(f, f.replace("part-", "dup-"))
    n_src = ev.count()
    streamed = run_stream_once(
        spark, path, lambda src: streaming_dedup(src, keys=("event_id",)), "t_dedup", output_mode="append"
    )
    assert streamed.count() == n_src
    # batch path: same verb, stateless
    assert streaming_dedup(spark.read.parquet(path)).count() == n_src


def test_write_exactly_once_replay_idempotent(spark, tmp_path):
    """The foreachBatch sink is idempotent under batch replay: restarting
    from the same checkpoint (or re-writing a batch id) never duplicates."""
    from explorer_spark.sources import read_parquet
    from explorer_spark.streaming import write_exactly_once

    ev = read_parquet("/root/testdata/sf0.001/events.parquet").lazy_sdf().select("event_id", "user_id", "value")
    src_path = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src_path).schema
    stream = spark.readStream.schema(schema).parquet(src_path)
    q = write_exactly_once(stream, out, ckpt)
    q.awaitTermination()
    n = ev.count()
    got = spark.read.parquet(out)
    assert got.count() == n
    # restart from the same checkpoint: no new data, no duplicates
    q2 = write_exactly_once(spark.readStream.schema(schema).parquet(src_path), out, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == n
    # simulate a REPLAYED batch (failure after write, before commit):
    # writing batch 0 again must overwrite, not append
    from pyspark.sql import functions as SF
    (
        spark.read.parquet(src_path).withColumn("__batch_id__", SF.lit(0))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id__").parquet(out)
    )
    assert spark.read.parquet(out).count() == n


def test_ivf_trained_full_probe_equals_bruteforce(spark):
    """Probing ALL cells makes trained IVF exhaustive — must equal the
    brute-force top-k exactly; nprobe=2 returns a subset-quality result."""
    from explorer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained,
        kmeans_fit,
    )
    from explorer_spark.sources import read_parquet

    emb = read_parquet("/root/testdata/sf0.001/embeddings.parquet").lazy_sdf()
    cents = kmeans_fit([r[0] for r in emb.select("embedding").collect()], k=4)
    queries = emb.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries, k=3).collect()}
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_trained(emb, queries, k=3, centroids=cents, nprobe=4).collect()
    }
    assert full == bf
    probe2 = ivf_topk_trained(emb, queries, k=3, centroids=cents, nprobe=2).collect()
    assert len(probe2) == 15
    recall = len(bf & {(r.query_id, r.neighbor_id) for r in probe2}) / len(bf)
    assert 0.0 <= recall <= 1.0


def test_neardup_components_and_representatives(spark):
    """Min-label propagation resolves multi-hop clusters; representatives
    keep exactly one doc per cluster plus all unpaired docs."""
    from explorer_spark.operators.dedup import dedup_representatives, neardup_components

    # two chains: {1-2-3-4} (path, diameter 3) and {10-11}; 20 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    comps = {r.vertex: r.component for r in neardup_components(pairs).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], ["doc_id"])
    kept = sorted(r.doc_id for r in dedup_representatives(docs, neardup_components(pairs)).collect())
    assert kept == [1, 10, 20]


def test_neardup_components_iterative_path(spark, monkeypatch):
    """Force the distributed label-propagation kernel (gate zeroed) and
    check it matches the driver union-find on the same graph."""
    from explorer_spark.operators import dedup as dd

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    want = {r.vertex: r.component for r in dd.neardup_components(pairs).collect()}
    monkeypatch.setattr(dd, "SMALL_EDGES_MAX", 0)
    got = {r.vertex: r.component for r in dd.neardup_components(pairs).collect()}
    assert got == want
    assert want[4] == 1 and want[22] == 20 and want[11] == 10


def test_neardup_components_raises_when_not_converged(spark, monkeypatch):
    """The iterative kernel needs about one round per hop of a
    component's diameter. A path longer than ``max_iter`` hops raises
    instead of returning partial labels; enough rounds give one
    component."""
    from explorer_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "SMALL_EDGES_MAX", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.neardup_components(pairs, max_iter=3)
    got = {r.vertex: r.component for r in dd.neardup_components(pairs).collect()}
    assert got == dict.fromkeys(range(8), 0)


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static join: events stream enriched against a static dim
    produces exactly the batch join's rows."""
    from explorer_spark.streaming import enrich_stream, run_stream_once

    src = str(tmp_path / "ev")
    events = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "event_id long, user_id long"
    )
    events.write.parquet(src)
    dim = spark.createDataFrame(
        [(0, "bronze"), (1, "silver"), (2, "gold")], "user_id long, tier string"
    )
    got = run_stream_once(
        spark,
        src,
        lambda s: enrich_stream(s, dim, "user_id"),
        query_name="enriched",
        output_mode="append",  # stateless join, not an aggregation
    )
    want = events.join(dim, "user_id")
    assert sorted((r.event_id, r.tier) for r in got.collect()) == sorted(
        (r.event_id, r.tier) for r in want.collect()
    )


def test_assign_cells_nearest_centroid(spark):
    """assign_cells: one Arrow map pass (no join/window) assigning each
    vector its max-cosine cell; ties take the smallest cell_id."""
    from explorer_spark.operators.similarity import assign_cells

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell_id int, centroid array<double>"
    )
    corpus = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.2, 0.8]), (12, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.cell_id for r in assign_cells(corpus, cent).collect()}
    assert got == {10: 0, 11: 1, 12: 0}  # 12 ties -> smallest cell_id
    # plan shape: no join operator at all
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assign_cells(corpus, cent).explain("formatted")
    assert "Join" not in buf.getvalue()


def test_simhash_bits_matches_reference(spark):
    """simhash_bits(64) equals the pure-Python SimHash bit for bit,
    sign bit included: empty and whitespace-only docs (one empty token),
    tab/newline boundaries, and NBSP, which Java \\s does not split on."""
    from support.signature_ref import simhash_ref

    from explorer_spark.operators.dedup import simhash_bits

    rows = [
        (1, "aaa bbb ccc"),
        (2, ""),
        (3, "   "),
        (4, "zz yy"),
        (5, "Hello\n"),
        (6, "\tlead tab"),
        (7, "nb\u00a0sp"),
    ]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.simhash for r in simhash_bits(sdf, bits=64).collect()}
    assert got == {k: simhash_ref(t) for k, t in rows}
    assert any(v < 0 for v in got.values())  # the sign bit is exercised


def test_assign_cells_empty_centroids(spark):
    from explorer_spark.operators.similarity import assign_cells

    cent = spark.createDataFrame([], "cell_id int, centroid array<double>")
    corpus = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = assign_cells(corpus, cent)
    assert out.count() == 0 and "cell_id" in out.columns


def test_pair_dot_null_embedding_propagates(spark):
    """A NULL embedding yields a NULL cosine (like the codegen dot it
    replaced), never a task crash, and never a NaN (which Spark would
    rank as the LARGEST double)."""
    from explorer_spark.operators.similarity import pair_dot

    sdf = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]), (2, None, [1.0, 1.0]), (3, [1.0, 1.0], None)],
        "id long, a array<double>, b array<double>",
    )
    got = {r.id: r.d for r in sdf.select("id", pair_dot(F.col("a"), F.col("b")).alias("d")).collect()}
    assert got == {1: 11.0, 2: None, 3: None}


def test_stopword_regex_matches_per_token_isin(spark):
    """q_text_stats counts stopword hits with ONE regexp_count
    (whitespace-lookaround alternation) instead of exploding tokens —
    the JVM regex must agree exactly with per-token isin(STOPWORDS)
    over whitespace-adversarial docs (tabs, newlines, punctuation-glued
    tokens, prefix-overlapping words like 'a'/'an'/'thee')."""
    import random
    import re

    from explorer_spark.operators.text import STOPWORDS

    rng = random.Random(11)
    toks = STOPWORDS + ["xx", "the,", "it,", "an!", "thee", "A", "It"]
    docs = []
    for _ in range(300):
        doc = rng.choice(["", " ", "\t"]).join(
            rng.choice(toks) for _ in range(rng.randint(0, 10))
        )
        docs.append(rng.choice(["", " ", "\n", "\t"]) + doc + rng.choice(["", " ", "\v"]))

    def twin(doc: str) -> int:
        trimmed = doc.strip(" \t\n\x0b\x0c\r")
        words = re.split(r"\s+", trimmed) if trimmed else [""]
        return sum(1 for w in words if w.lower() in STOPWORDS)

    sw_rx = r"(?<=^|\s)(" + "|".join(STOPWORDS) + r")(?=$|\s)"
    sdf = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, t string")
    from explorer_spark.operators.text import wtrim

    got = {
        r.i: r.c
        for r in sdf.select(
            "i", F.regexp_count(F.lower(wtrim(F.col("t"))), F.lit(sw_rx)).alias("c")
        ).collect()
    }
    for i, d in enumerate(docs):
        assert got[i] == twin(d), (repr(d), got[i], twin(d))


def test_signature_store_roundtrip_append_and_filter(spark, tmp_path):
    """Cross-run dedup store: write corpus signatures once, match a new
    shard by scan+join, append survivors, and catch parameter drift."""
    import pytest as _pytest

    from explorer_spark.operators.dedup_store import (
        dedup_against_store,
        filter_new_against_store,
        read_store_meta,
        write_signature_store,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different document about spark pipelines"),
            (3, "one more unrelated corpus text body here"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_signature_store(corpus, store, num_hashes=8, bands=4, shingle_n=3)
    meta = read_store_meta(spark, store)
    assert (meta["num_hashes"], meta["bands"], meta["shingle_n"]) == (8, 4, 3)

    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (101, "completely fresh never seen before content xyz"),
        ],
        "doc_id long, text string",
    )
    matches = dedup_against_store(new, store, threshold=0.5)
    got = {(r.new_key, r.corpus_key): r.est_jaccard for r in matches.collect()}
    assert got == {(100, 1): 1.0}  # identical text -> identical signature

    kept = filter_new_against_store(new, store, threshold=0.5)
    assert [r.doc_id for r in kept.collect()] == [101]

    # append the survivors; a second identical shard now matches them
    write_signature_store(kept, store, num_hashes=8, bands=4, shingle_n=3, mode="append")
    again = dedup_against_store(new, store, threshold=0.5)
    got2 = {(r.new_key, r.corpus_key) for r in again.collect()}
    assert got2 == {(100, 1), (101, 101)}

    # parameter drift must raise, not silently break recall
    with _pytest.raises(ValueError, match="num_hashes"):
        write_signature_store(kept, store, num_hashes=16, bands=4, shingle_n=3, mode="append")


def test_ivf_recall_contract(spark):
    """IVF recall contract, two halves:

    1. On CLUSTERED data (where an IVF index is the right tool), the
       default nprobe=2 of 8 cells must reach recall@5 >= 0.9 against
       brute force — locality in, recall out.
    2. On the near-uniform testdata embeddings, recall must be
       MONOTONE in nprobe and exact at nprobe=n_cells (probing every
       cell degenerates to exhaustive search). Uniform vectors have no
       locality, so no fixed sub-maximal nprobe can promise 0.9 there —
       the honest measured curve lives in PLANS.md."""
    import random

    from pyspark.sql import functions as SF

    from explorer_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_trained,
        kmeans_fit,
    )

    rng = random.Random(3)
    dim, n_clusters, per = 16, 8, 40
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for i in range(n_clusters * per):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(SF.col("vec_id") < 24)  # 3 per cluster
    cents = kmeans_fit([r[1] for r in rows[:160]], k=8, iters=8, seed=42)

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    truth = topk_sets(brute_force_topk(emb, queries, k=5))

    def recall(nprobe):
        got = topk_sets(
            ivf_topk_trained(emb, queries, k=5, centroids=cents, nprobe=nprobe)
        )
        return sum(len(got.get(q, set()) & truth[q]) for q in truth) / (5 * len(truth))

    assert recall(2) >= 0.9, "clustered data must reach 0.9 recall at default nprobe"

    # uniform testdata: monotone curve, exact at nprobe = n_cells
    from explorer_spark.queries_llm import _IVF_CENTROIDS
    from explorer_spark.sources import load_table

    temb = load_table("/root/testdata/sf0.001", "embeddings", spark=spark).lazy_sdf()
    tq = temb.filter(SF.col("vec_id") < 10)
    ttruth = topk_sets(brute_force_topk(temb, tq, k=5))

    def trecall(nprobe):
        got = topk_sets(
            ivf_topk_trained(temb, tq, k=5, centroids=_IVF_CENTROIDS, nprobe=nprobe)
        )
        return sum(len(got.get(q, set()) & ttruth[q]) for q in ttruth) / (5 * len(ttruth))

    r1, r4, r8 = trecall(1), trecall(4), trecall(8)
    assert r1 <= r4 <= r8, (r1, r4, r8)
    assert r8 == 1.0


def test_stream_dedup_against_store(spark, tmp_path):
    """The streaming face of the signature store: (1) the batch kernel
    and the stateless SQL expression the stream probe uses both equal
    the pure-Python MinHash; (2) a real Structured Streaming run over a
    parquet shard matches the batch dedup_against_store results."""
    from support.signature_ref import minhash_ref

    from explorer_spark.operators.dedup import minhash_signature_struct_sql, minhash_signatures
    from explorer_spark.operators.dedup_store import (
        dedup_against_store,
        stream_dedup_against_store,
        write_signature_store,
    )
    from explorer_spark.streaming import run_stream_once

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs today"),
        (3, "tiny"),  # < shingle_n words: raw-text fallback hash
        (4, None),
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    kern = minhash_signatures(sdf, num_hashes=8, shingle_n=3)
    expr = sdf.select(
        "doc_id", minhash_signature_struct_sql("text", 8, 3).alias("s")
    ).select("doc_id", *[F.col("s")[f"m{i}"] for i in range(8)])
    want = {k: minhash_ref(t, 8, 3) for k, t in docs}
    assert {r.doc_id: tuple(r)[1:] for r in kern.collect()} == want
    assert {r.doc_id: tuple(r)[1:] for r in expr.collect()} == want

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "some unrelated corpus document body text here"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    write_signature_store(corpus, store)

    shard_dir = str(tmp_path / "shard")
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "never seen before fresh content entirely"),
        ],
        "doc_id long, text string",
    )
    new.write.parquet(shard_dir)

    batch = {
        (r.new_key, r.corpus_key, r.est_jaccard)
        for r in dedup_against_store(spark.read.parquet(shard_dir), store).collect()
    }
    streamed = run_stream_once(
        spark,
        shard_dir,
        lambda s: stream_dedup_against_store(s, store),
        query_name="store_dedup_stream",
        output_mode="append",
    )
    got = {(r.new_key, r.corpus_key, r.est_jaccard) for r in streamed.collect()}
    assert got == batch == {(100, 10, 1.0)}


def test_stream_dedup_against_lowercase_store(spark, tmp_path):
    """Round-11: a store written with lowercase=True persists the flag,
    and BOTH query faces (batch + the SQL-rendered stream face) fold
    case-drifted shards identically — the stream run must match the
    batch run and catch the case-drifted duplicate."""
    from explorer_spark.operators.dedup_store import (
        dedup_against_store,
        stream_dedup_against_store,
        write_signature_store,
    )
    from explorer_spark.streaming import run_stream_once

    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "some unrelated corpus document body text here"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store_lc")
    write_signature_store(corpus, store, lowercase=True)

    shard_dir = str(tmp_path / "shard_lc")
    spark.createDataFrame(
        [
            (100, "The QUICK Brown Fox Jumps Over The Lazy Dog"),  # case drift
            (101, "never seen before fresh content entirely"),
        ],
        "doc_id long, text string",
    ).write.parquet(shard_dir)

    batch = {
        (r.new_key, r.corpus_key, r.est_jaccard)
        for r in dedup_against_store(spark.read.parquet(shard_dir), store).collect()
    }
    streamed = run_stream_once(
        spark,
        shard_dir,
        lambda s: stream_dedup_against_store(s, store),
        query_name="store_dedup_stream_lc",
        output_mode="append",
    )
    got = {(r.new_key, r.corpus_key, r.est_jaccard) for r in streamed.collect()}
    assert got == batch == {(100, 10, 1.0)}

    # append with a mismatched fold flag must raise the meta error
    import pytest

    with pytest.raises(ValueError, match="lowercase"):
        write_signature_store(corpus, store, lowercase=False, mode="append")


def test_quantized_ivf_index_compression_and_recall(spark, tmp_path):
    """quantize=True index: (1) the cells table is materially smaller
    on disk (int8 codes vs float64 vectors); (2) on clustered data the
    quantized search still reaches recall@5 >= 0.9 vs exact brute force
    at the default nprobe (int8 is ~0.4% relative error — far below
    cluster separation)."""
    import os
    import random

    from pyspark.sql import functions as SF

    from explorer_spark.operators.similarity import (
        brute_force_topk,
        ivf_query_index,
        kmeans_fit,
        write_ivf_index,
    )

    rng = random.Random(5)
    # dim/row count sized so the vector PAYLOAD dominates parquet
    # per-file overhead (320 tiny rows showed only -22%: footers and
    # dictionaries swamp the codes at toy scale)
    dim, n_clusters, per = 64, 8, 375
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    # within-cluster spread 0.3 keeps clusters separated (center gap
    # ~sqrt(2*dim)) while neighbor cosine gaps stay well above the int8
    # error (~1e-3): with 0.05 noise the top-5 ordering inside a cluster
    # sits BELOW quantization resolution and recall-vs-exact-truth
    # measures code-level tie shuffling, not the index
    rows = [
        (i, [x + rng.gauss(0, 0.3) for x in centers[i % n_clusters]])
        for i in range(n_clusters * per)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit([r[1] for r in rows[:160]], k=8, iters=8, seed=42)

    def du(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p)
            for f in fs
        )

    full = str(tmp_path / "full")
    q8 = str(tmp_path / "q8")
    write_ivf_index(emb, full, cents)
    write_ivf_index(emb, q8, cents, quantize=True)
    assert du(f"{q8}/cells") < 0.55 * du(f"{full}/cells"), (du(f"{q8}/cells"), du(f"{full}/cells"))

    queries = emb.filter(SF.col("vec_id") < 24)
    truth = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in ivf_query_index(queries, q8, k=5, nprobe=2).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(got.get(qid, set()) & truth[qid]) for qid in truth) / (5 * len(truth))
    assert recall >= 0.9, recall


def test_ivf_index_append_mode(spark, tmp_path):
    """Appending a new shard to a persisted IVF index: same centroids
    required (drift raises — different routing corrupts the index);
    appended vectors are immediately searchable."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from explorer_spark.operators.similarity import (
        ivf_query_index,
        kmeans_fit,
        write_ivf_index,
    )

    # distinct directions (a modular pattern repeats every 13 ids and
    # the duplicate vectors then beat the appended one on id tie-break)
    rows = [(i, [i / 64.0 + float(j) for j in range(8)]) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit([r[1] for r in rows], k=4, iters=4, seed=1)
    idx = str(tmp_path / "ivf")
    write_ivf_index(emb, idx, cents)

    shard = spark.createDataFrame(
        [(1000, rows[5][1])], "vec_id long, embedding array<double>"
    )
    write_ivf_index(shard, idx, cents, mode="append")
    q = emb.filter(SF.col("vec_id") == 5)
    got = {r.neighbor_id for r in ivf_query_index(q, idx, k=3, nprobe=4).collect()}
    assert 1000 in got  # identical appended vector is the top hit

    with _pytest.raises(ValueError, match="different centroids"):
        write_ivf_index(shard, idx, [[0.0] * 8 for _ in range(4)], mode="append")


def test_ivf_index_rebalance(spark, tmp_path):
    """Rebalance (r7 verdict #8): after appends skew the stored
    distribution, re-cluster on the CURRENT contents and rewrite the
    cell partitions. Contents are preserved exactly; recall at the
    default nprobe on the rebalanced index stays >= 0.9 against brute
    force (the same recall contract the build has); a quantized index
    rebalances on its int8 codes."""
    import random

    from pyspark.sql import functions as SF

    from explorer_spark.operators.similarity import (
        brute_force_topk,
        ivf_query_index,
        kmeans_fit,
        rebalance_ivf_index,
        write_ivf_index,
    )

    # the recall-contract generator (clustered data, spread 0.3): train
    # deliberately on only the first 4 clusters, then append the other
    # 4 as a shard — the stored distribution now badly mismatches the
    # training sample, the drift rebalance exists to recover from
    rng = random.Random(5)
    dim, n_clusters, per = 64, 8, 375
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = [
        (i, [x + rng.gauss(0, 0.3) for x in centers[i % n_clusters]])
        for i in range(n_clusters * per)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = emb.filter(SF.col("vec_id") % 8 < 4)
    shard = emb.filter(SF.col("vec_id") % 8 >= 4)
    cents = kmeans_fit([r[1] for r in rows if r[0] % 8 < 4][:160], k=8, iters=8, seed=42)
    idx = str(tmp_path / "ivf")
    write_ivf_index(base, idx, cents)
    write_ivf_index(shard, idx, cents, mode="append")
    n_before = spark.read.parquet(f"{idx}/cells").count()

    new_cents = rebalance_ivf_index(idx, spark)
    assert len(new_cents) == 8
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == n_before  # nothing lost, nothing duplicated
    stored_ids = {r.neighbor_id for r in cells.select("neighbor_id").collect()}
    all_ids = {r[0] for r in rows}
    assert stored_ids == all_ids

    queries = emb.filter(SF.col("vec_id") < 24)
    truth = {}
    for r in brute_force_topk(emb, queries, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in ivf_query_index(queries, idx, k=5, nprobe=2).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recall = sum(len(got.get(qid, set()) & truth[qid]) for qid in truth) / (5 * len(truth))
    assert recall >= 0.9, recall

    # quantized index rebalances on its int8 codes
    q8 = str(tmp_path / "q8")
    write_ivf_index(emb, q8, cents, quantize=True)
    rebalance_ivf_index(q8, spark)
    qcells = spark.read.parquet(f"{q8}/cells")
    assert qcells.count() == len(all_ids)
    assert "q8" in qcells.columns  # storage format preserved
    out = ivf_query_index(queries, q8, k=5, nprobe=2)
    assert out.count() > 0


def test_signature_store_compaction(spark, tmp_path):
    """After several appends the store accumulates small files;
    compaction rewrites to bounded file counts and changes NO results."""
    import glob

    from explorer_spark.operators.dedup_store import (
        compact_signature_store,
        dedup_against_store,
        write_signature_store,
    )

    store = str(tmp_path / "store")
    base = spark.createDataFrame(
        [(i, f"corpus document {i} body words") for i in range(20)],
        "doc_id long, text string",
    )
    write_signature_store(base, store)
    for s in range(4):
        shard = spark.createDataFrame(
            [(100 + s, f"appended shard doc {s} content words")],
            "doc_id long, text string",
        )
        write_signature_store(shard, store, mode="append")

    new = spark.createDataFrame(
        [(999, "corpus document 7 body words")], "doc_id long, text string"
    )
    before = sorted(map(tuple, dedup_against_store(new, store).collect()))
    files_before = len(glob.glob(f"{store}/signatures/*.parquet"))
    compact_signature_store(store, spark, target_partitions=1)
    files_after = len(glob.glob(f"{store}/signatures/*.parquet"))
    assert files_after < files_before, (files_before, files_after)
    after = sorted(map(tuple, dedup_against_store(new, store).collect()))
    assert after == before and before and before[0][:2] == (999, 7)


def test_remove_repeated_spans_unit(spark):
    """remove_repeated_spans cuts exactly the merged hot spans: two docs
    sharing a 7-word run lose those 7 words; unique text survives
    canonicalized (single spaces)."""
    from pyspark.sql import functions as SF

    from explorer_spark.operators.text import remove_repeated_spans

    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"{shared} six seven eight nine ten"),
        (3, "completely unique words here nothing repeats at all"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_repeated_spans(sdf, gram_n=5, min_count=2).collect()}
    assert out[1].clean_text == "one two three four five"
    assert out[1].words_removed == 7
    assert out[2].clean_text == "six seven eight nine ten"
    assert out[2].words_removed == 7
    assert out[3].clean_text == rows[2][1]
    assert out[3].words_removed == 0
    # a doc that is ENTIRELY a repeat empties out
    sdf2 = spark.createDataFrame(
        [(1, shared), (2, shared)], "doc_id long, text string"
    )
    out2 = {r.doc_id: r for r in remove_repeated_spans(sdf2, gram_n=5, min_count=2).collect()}
    assert out2[1].clean_text == "" and out2[1].words_removed == 7


def test_bigram_logprob_hand_grid(spark):
    """Add-0.5 smoothing over a two-doc corpus, hand-computed:
    c(a,b)=2 c(b,a)=1 c(b,b)=2, ctx a=2 b=3, V=3 (vocab counts the
    pair-less doc's token too)."""
    import math

    from explorer_spark.operators.text import bigram_logprob

    sdf = spark.createDataFrame(
        [(1, "a b a b"), (2, "b b b"), (3, "solo")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in bigram_logprob(sdf).collect()}
    lp_ab = math.log(2.5 / 3.5)
    lp_ba = math.log(1.5 / 4.5)
    lp_bb = math.log(2.5 / 4.5)
    assert got[1].n_bigrams == 3
    assert abs(got[1].bigram_logprob - (2 * lp_ab + lp_ba) / 3) < 1e-12
    assert got[2].n_bigrams == 2
    assert abs(got[2].bigram_logprob - lp_bb) < 1e-12
    assert 3 not in got  # single-token doc has no bigrams


def test_stratified_sample_nested_rates_subset(spark, docs):
    """Raising one stratum's rate only ADDS rows (md5-bucket rule is
    shared with hash_sample), and unlisted strata use the default."""
    from explorer_spark.operators.text import stratified_sample

    lo = stratified_sample(docs, "lang", {"en": 0.2}, default_rate=0.05)
    hi = stratified_sample(docs, "lang", {"en": 0.6}, default_rate=0.05)
    lo_ids = {r.doc_id for r in lo.select("doc_id").collect()}
    hi_ids = {r.doc_id for r in hi.select("doc_id").collect()}
    assert lo_ids <= hi_ids
    # non-en rows identical between the two (default bucket unchanged)
    lo_non = {r.doc_id for r in lo.filter(F.col("lang") != "en").collect()}
    hi_non = {r.doc_id for r in hi.filter(F.col("lang") != "en").collect()}
    assert lo_non == hi_non
    # rate 0 drops a stratum entirely; rate 1 keeps it whole
    all_de = stratified_sample(docs, "lang", {"de": 1.0}, default_rate=0.0)
    n_de = docs.filter(F.col("lang") == "de").count()
    assert all_de.count() == n_de


def test_minhash_faces_property(spark):
    """Hypothesis pin: for arbitrary texts (None, empty, unicode,
    whitespace edges, short docs) both signature faces — the narrow
    Arrow batch kernel and the one-expression SQL face — equal the
    pure-Python MinHash, with and without lowercase folding."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F
    from support.signature_ref import minhash_ref

    from explorer_spark.operators.dedup import minhash_signature_struct_sql, minhash_signatures

    edge_texts = [None, "", "ab XY", "\ta b c\n", "é中 XYZ  abc. é中"]

    texts_strategy = st.lists(
        st.one_of(
            st.none(),
            st.text(alphabet=st.sampled_from(list("abc XYZ\t\n.é中")), min_size=0, max_size=40),
        ),
        min_size=1,
        max_size=6,
    )

    @given(texts=texts_strategy, lower=st.booleans())
    @example(texts=edge_texts, lower=False)
    @example(texts=edge_texts, lower=True)
    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    )
    def check(texts, lower):
        sdf = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

        def rows(x):
            return {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(4)) for r in x.collect()}

        narrow_face = rows(minhash_signatures(sdf, num_hashes=4, shingle_n=3, lowercase=lower))
        sql_face = rows(
            sdf.select(
                "doc_id",
                minhash_signature_struct_sql("text", 4, 3, lowercase=lower).alias("s"),
            ).select("doc_id", *[F.col("s")[f"m{i}"].alias(f"mh{i}") for i in range(4)])
        )
        want = {k: minhash_ref(t, 4, 3, lowercase=lower) for k, t in enumerate(texts)}
        assert narrow_face == want
        assert sql_face == want

    check()


def test_candidate_shingle_sets_match_reference(spark):
    """candidate_shingle_sets yields exactly the pure-Python distinct
    shingle set of every named doc with >= shingle_n words (shorter docs
    produce no row), with and without lowercase folding, and only for
    the docs named in the candidate ids."""
    from support.signature_ref import shingles

    from explorer_spark.operators.dedup import candidate_shingle_sets

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "  \t tab-led doc with words aplenty here  ",
        "short doc",  # < 3 words -> no row
        "",
        "MiXeD Case TEXT for the folding face check",
        "a doc that is never a candidate",
    ]
    sdf = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    cand_ids = spark.range(6).withColumnRenamed("id", "doc_id")
    for lower in (False, True):
        sh = candidate_shingle_sets(sdf, cand_ids, shingle_n=3, lowercase=lower)
        got = {r["doc_id"]: frozenset(r["sh"]) for r in sh.collect()}
        want = {
            k: frozenset(shingles(t.lower() if lower else t, 3))
            for k, t in enumerate(texts[:6])
            if shingles(t, 3)
        }
        assert got == want


def test_maybe_pin_gram_stream_gate(spark, tmp_path, monkeypatch):
    """r12 gate: the gram-stream pin fires only when the estimated
    materialized grams fit the byte budget — small parquet input pins,
    a 1-byte budget (scale stand-in) does not, and unknown statistics
    (an RDD-backed source) never pin. Results identical either way."""
    from explorer_spark.operators import text
    from explorer_spark.operators.text import maybe_pin_gram_stream, shingle_rows_arrow

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(50)],
        "doc_id long, text string",
    ).write.parquet(p)
    src = spark.read.parquet(p)
    grams = shingle_rows_arrow(src, "doc_id", "text", 3)
    pinned_df, pinned = maybe_pin_gram_stream(grams, src, "text")
    assert pinned is True
    rdd_src = spark.createDataFrame(src.rdd, src.schema)
    assert maybe_pin_gram_stream(grams, rdd_src, "text")[1] is False
    monkeypatch.setattr(text, "GRAM_PIN_BYTES", 1)
    unpinned_df, pinned2 = maybe_pin_gram_stream(grams, src, "text")
    assert pinned2 is False  # over-budget input (scale stand-in): stays map-only
    assert sorted(map(tuple, pinned_df.collect())) == sorted(map(tuple, unpinned_df.collect()))


def test_lsh_candidate_pairs_with_sets_equivalence(spark):
    """r12 optimization pin: lsh_candidate_pairs_with_sets (narrow
    signature pin + CANDIDATE-ONLY shingle sets) must produce exactly
    the pair set and shingle sets of the plain whole-corpus pipeline
    (signatures -> banding, shingle_rows + collect_set for every doc) —
    the candidate semi-join filter changes WHICH docs get tokenized for
    the verify, never the sets of docs that are actually candidates.
    Includes short docs (fallback signatures, no shingle rows -> inner
    attach drops their pairs, both sides)."""
    from pyspark.sql import functions as F

    import explorer_spark as ex
    from explorer_spark.operators.dedup import (
        lsh_buckets,
        lsh_candidate_pairs,
        lsh_candidate_pairs_with_sets,
        minhash_signatures,
    )
    from explorer_spark.operators.text import shingle_rows

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
        "a completely different document about spark optimization",
        "a completely different document about spark performance",
        "short doc",  # < 3 words: fallback signature, never verifies
        "short doc",  # identical short doc: same fallback signature
        "",
    ]
    sdf = ex.from_columns(
        {"doc_id": list(range(len(texts))), "text": texts}, spark=spark
    ).lazy_sdf()
    new = lsh_candidate_pairs_with_sets(sdf, num_hashes=8, bands=4, shingle_n=3)
    sig = minhash_signatures(sdf, num_hashes=8, shingle_n=3)
    cand = lsh_candidate_pairs(lsh_buckets(sig, num_hashes=8, bands=4))
    sh = shingle_rows(sdf, "doc_id", "text", 3).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh")
    )
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("__sha__"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("__shb__"))
    old = cand.join(sa, "id_a").join(sb, "id_b")

    def rows(x):
        return sorted(
            (r["id_a"], r["id_b"], frozenset(r["__sha__"]), frozenset(r["__shb__"]))
            for r in x.collect()
        )

    got, want = rows(new), rows(old)
    assert got == want
    # sanity: the corpus really exercises both regimes
    assert any(a == 0 and b == 2 for a, b, *_ in want)  # exact dup pair
    assert all(a not in (5, 6) and b not in (5, 6) for a, b, *_ in want)


def test_mixture_sample_composition_and_determinism(spark):
    """mixture_sample: composition tracks the weights when strata are
    large enough, clamps to keep-all when too small, drops unlisted
    strata, and is deterministic + nested (a higher weight only adds
    rows from that stratum)."""
    import explorer_spark as ex
    from explorer_spark.operators.text import mixture_sample

    rows = (
        [(i, "web") for i in range(4000)]
        + [(i + 10_000, "wiki") for i in range(4000)]
        + [(i + 20_000, "code") for i in range(30)]
        + [(i + 30_000, "junk") for i in range(500)]
    )
    sdf = spark.createDataFrame(rows, "doc_id long, domain string").repartition(8)
    out = mixture_sample(
        sdf, "domain", {"web": 0.6, "wiki": 0.3, "code": 0.1}, n_total=1000
    )
    counts = {r["domain"]: r["n"] for r in out.groupBy("domain").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "junk" not in counts                      # unlisted stratum dropped
    assert counts["code"] == 30                      # too small -> keep all
    assert abs(counts["web"] - 600) < 90             # ~binomial tolerance
    assert abs(counts["wiki"] - 300) < 70
    # deterministic
    again = {r["domain"]: r["n"] for r in mixture_sample(
        sdf, "domain", {"web": 0.6, "wiki": 0.3, "code": 0.1}, n_total=1000
    ).groupBy("domain").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again
    # nested: doubling web's effective target only ADDS web rows
    ids = {r["doc_id"] for r in out.filter(F.col("domain") == "web").select("doc_id").collect()}
    bigger = mixture_sample(sdf, "domain", {"web": 0.6, "wiki": 0.3, "code": 0.1}, n_total=1600)
    ids2 = {r["doc_id"] for r in bigger.filter(F.col("domain") == "web").select("doc_id").collect()}
    assert ids <= ids2
    # upsample mode: a tiny stratum replicates to its target with epoch
    # indexes; distinct docs unchanged, rows multiply
    up = mixture_sample(
        sdf, "domain", {"code": 1.0}, n_total=300, upsample=True
    )
    rows2 = up.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("d"),
        F.max("epoch").alias("me"),
    ).first()
    assert rows2["d"] == 30
    assert abs(rows2["n"] - 300) <= 30      # 10 epochs of 30 docs
    assert rows2["me"] >= 9
