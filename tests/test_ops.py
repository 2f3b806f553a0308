"""Unit tests for the training-data pipeline ops + physical-plan quality
checks (pushdown / column pruning / no-UDF-in-plan)."""

import pytest

pyspark = pytest.importorskip("pyspark")
from pyspark.sql import functions as F  # noqa: E402


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different content here about spark sql engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "nothing in common with anything else zzz"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs_df):
    from spyglass_spark.ops.dedup import exact_duplicates

    out = exact_duplicates(docs_df, "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 2 and out[0]["keeper"] == 0


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    from spyglass_spark.ops.dedup import minhash_lsh_pairs

    pairs = {(r["a"], r["b"]) for r in
             minhash_lsh_pairs(docs_df, "text", "doc_id").collect()}
    assert (0, 3) in pairs  # exact dup always collides
    assert not any(4 in p for p in pairs)  # the unique doc never pairs


def test_ngram_jaccard(spark, docs_df):
    from spyglass_spark.ops.dedup import ngram_jaccard_pairs

    out = {(r["a"], r["b"]): r["jacc"] for r in
           ngram_jaccard_pairs(docs_df, "text", "doc_id", threshold=0.3).collect()}
    assert out[(0, 3)] == 1.0
    assert 0.3 <= out[(0, 1)] < 1.0  # one word differs


def test_simhash_pairs(spark, docs_df):
    from spyglass_spark.ops.dedup import simhash, simhash_pairs

    fps = {r["id"]: r["simhash"] for r in simhash(docs_df, "text", "doc_id").collect()}
    assert fps[0] == fps[3]
    pairs = {(r["a"], r["b"]) for r in
             simhash_pairs(docs_df, "text", "doc_id", max_hamming=3).collect()}
    assert (0, 3) in pairs


def test_simhash_bands_pigeonhole_recall(spark):
    """Property: banded blocking recalls EVERY pair with hamming ≤
    max_hamming (pigeonhole over max_hamming+1 bands) — the round-1
    contract hole (2 fixed bands under-recalled max_hamming ≥ 2)."""
    import itertools
    import random

    from spyglass_spark.ops.dedup import simhash_bands

    assert simhash_bands(1, 16) == [(0, 8), (8, 8)]
    assert [w for _, w in simhash_bands(3, 16)] == [4, 4, 4, 4]
    assert sum(w for _, w in simhash_bands(5, 16)) == 16

    rng = random.Random(1234)
    for max_h in (1, 2, 3, 5):
        bands = simhash_bands(max_h, 16)
        for _ in range(400):
            a = rng.getrandbits(16)
            # flip exactly max_h bits (worst case) at random positions
            flips = rng.sample(range(16), max_h)
            b = a
            for j in flips:
                b ^= 1 << j
            assert any(((a >> s) & ((1 << w) - 1)) == ((b >> s) & ((1 << w) - 1))
                       for s, w in bands), (max_h, a, b)
    # distributed check: banded pairs ≡ brute-force hamming pairs
    from spyglass_spark.ops.dedup import simhash, simhash_pairs

    texts = [(i, " ".join(rng.choice(["alpha", "beta", "gamma", "delta",
                                      "epsilon", "zeta", "eta", "theta"])
                          for _ in range(12))) for i in range(40)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    fps = {r["id"]: r["simhash"] for r in simhash(df, "text", "doc_id").collect()}
    for max_h in (2, 3):
        got = {(r["a"], r["b"]) for r in
               simhash_pairs(df, "text", "doc_id", max_hamming=max_h).collect()}
        want = {(i, j) for i, j in itertools.combinations(sorted(fps), 2)
                if bin(fps[i] ^ fps[j]).count("1") <= max_h}
        assert got == want, f"max_hamming={max_h}"


def test_near_duplicates_composed(spark, docs_df):
    """LSH→Jaccard composition: results are exactly (LSH candidates ∩
    Jaccard ≥ t), and never exceed the unbounded Jaccard join's answer."""
    from spyglass_spark.ops.dedup import (minhash_lsh_pairs, near_duplicates,
                                          ngram_jaccard_pairs)

    got = {(r["a"], r["b"]): r["jacc"] for r in
           near_duplicates(docs_df, "text", "doc_id", threshold=0.3).collect()}
    cand = {(r["a"], r["b"]) for r in
            minhash_lsh_pairs(docs_df, "text", "doc_id").collect()}
    full = {(r["a"], r["b"]): r["jacc"] for r in
            ngram_jaccard_pairs(docs_df, "text", "doc_id", threshold=0.3).collect()}
    assert got == {p: j for p, j in full.items() if p in cand}
    assert (0, 3) in got and got[(0, 3)] == 1.0


def test_embedding_pairs_bucketed(spark):
    """bucket_col turns the all-pairs cross join into a per-bucket
    equi-join: results == unbucketed pairs restricted to shared buckets."""
    import numpy as np

    from spyglass_spark.ops.dedup import embedding_cosine_pairs
    from spyglass_spark.ops.similarity import hyperplane_signature

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>")
    planes = [[1, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0]]
    sigs = hyperplane_signature(df, planes).withColumnRenamed("_vec", "embedding")
    got = {(r["a"], r["b"]) for r in embedding_cosine_pairs(
        sigs, threshold=0.3, bucket_col="bucket").collect()}
    full = {(r["a"], r["b"]) for r in embedding_cosine_pairs(
        df, threshold=0.3).collect()}
    bucket = {r["vec_id"]: r["bucket"] for r in sigs.collect()}
    assert got == {(a, b) for a, b in full if bucket[a] == bucket[b]}
    assert got and got < full  # bucketing actually restricted the space


def test_l2_topk(spark):
    import numpy as np

    from spyglass_spark.ops.similarity import l2_topk

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    got = [(r["vec_id"], r["l2_dist"]) for r in
           l2_topk(df, q, k=5, exclude_ids=(0,)).collect()]
    dists = np.linalg.norm(vecs.astype("float64") - np.asarray(q), axis=1)
    order = [i for i in np.argsort(dists, kind="stable") if i != 0][:5]
    assert [g[0] for g in got] == [int(i) for i in order]
    for (_, d), i in zip(got, order):
        assert d == pytest.approx(round(float(dists[i]), 4), abs=1e-9)


def test_train_centroids_kmeans(spark):
    """Deterministic Lloyd k-means: converges to the 3 planted cluster
    centers and IVF probe over the trained lists matches brute force."""
    import numpy as np

    from spyglass_spark.ops.similarity import (assign_ivf, cosine_topk,
                                               ivf_cosine_topk,
                                               train_centroids)

    rng = np.random.default_rng(42)
    centers = np.asarray([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    pts = np.concatenate([c + rng.normal(scale=0.3, size=(40, 4))
                          for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<float>")
    cents = train_centroids(df, k=3, iters=8)
    assert len(cents) == 3 and all(len(c) == 4 for c in cents)
    # every trained centroid is ~a planted center (cosine > 0.99)
    for c in cents:
        c = np.asarray(c)
        best = max(float(np.dot(c, t) / (np.linalg.norm(c) * np.linalg.norm(t)))
                   for t in centers)
        assert best > 0.99
    # each planted cluster maps to one list
    assigned = assign_ivf(df, cents).collect()
    by_list: dict = {}
    for r in assigned:
        by_list.setdefault(r["centroid"], []).append(r["vec_id"])
    assert len(by_list) == 3
    # probing the query's own list reproduces brute-force top-k
    q = [float(x) for x in pts[5]]
    ivf = [r["vec_id"] for r in
           ivf_cosine_topk(df, q, cents, k=5, nprobe=1, exclude_ids=(5,)).collect()]
    brute = [r["vec_id"] for r in
             cosine_topk(df, q, k=5, exclude_ids=(5,)).collect()]
    assert ivf == brute


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    """The persisted IVF list table must answer probes by scanning ONLY
    the probed centroid partitions (Catalyst partition pruning on the
    hive partition column) and return exactly the unindexed results."""
    import numpy as np

    from spyglass_spark.ops.similarity import (ivf_cosine_topk,
                                               ivf_cosine_topk_indexed,
                                               write_ivf_lists)

    rng = np.random.default_rng(7)
    centers = np.asarray([[10.0, 0, 0, 0], [0, 10.0, 0, 0],
                          [0, 0, 10.0, 0], [0, 0, 0, 10.0]])
    pts = np.concatenate([c + rng.normal(scale=0.3, size=(30, 4))
                          for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<float>")
    cents = [[float(x) for x in c] for c in centers]
    lists_dir = str(tmp_path / "ivf_lists")
    write_ivf_lists(df, cents, lists_dir)

    # the completion sentinel lands LAST (after the centroid sidecar) —
    # cache gates key on it, not the parquet writer's earlier _SUCCESS
    from spyglass_spark.ops.similarity import IVF_COMPLETE_SENTINEL
    import os as _os
    assert _os.path.exists(_os.path.join(lists_dir, IVF_COMPLETE_SENTINEL))

    q = [float(x) for x in pts[3]]
    indexed = ivf_cosine_topk_indexed(spark, lists_dir, q, k=5, nprobe=1,
                                      exclude_ids=(3,))
    unindexed = ivf_cosine_topk(df, q, cents, k=5, nprobe=1, exclude_ids=(3,))
    assert [r.asDict() for r in indexed.collect()] == \
        [r.asDict() for r in unindexed.collect()]

    # plan quality: the probe filter lands as a PartitionFilter on the
    # hive partition column (NOT a post-scan filter)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid" in plan.split("PartitionFilters")[1][:200]

    # functional pruning proof: corrupt every NON-probed list directory;
    # the probe still answers (it never opens those files), while an
    # all-lists probe now fails
    import glob
    import os

    for f in glob.glob(f"{lists_dir}/centroid=*/part-*"):
        if "centroid=0" not in f:
            with open(f, "wb") as fh:
                fh.write(b"not a parquet file")
    still = ivf_cosine_topk_indexed(spark, lists_dir, q, k=5, nprobe=1,
                                    exclude_ids=(3,)).collect()
    assert [r.asDict() for r in still] == [r.asDict() for r in unindexed.collect()]
    with pytest.raises(Exception):
        ivf_cosine_topk_indexed(spark, lists_dir, q, k=5, nprobe=4).collect()
    assert os.path.isdir(f"{lists_dir}/centroid=0")


def test_cosine_topk_orders_by_similarity(spark):
    from spyglass_spark.ops.similarity import cosine_topk, lsh_cosine_topk

    rows = [(i, [float(i == j) + 0.1 * j for j in range(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[1][1]
    out = cosine_topk(emb, q, k=3, exclude_ids=(1,)).collect()
    assert len(out) == 3
    assert out[0]["cos_sim"] >= out[1]["cos_sim"] >= out[2]["cos_sim"]
    # LSH bucket variant returns a subset of the brute-force ranking
    planes = [rows[2][1], rows[3][1]]
    lsh = lsh_cosine_topk(emb, q, planes, k=3, exclude_ids=(1,)).collect()
    assert all(r["cos_sim"] <= out[0]["cos_sim"] for r in lsh)


def test_quality_stats_and_tokens(spark, docs_df):
    from spyglass_spark.ops.textstats import quality_stats, token_counts

    qs = {r["id"]: r for r in quality_stats(docs_df, "text", "doc_id").collect()}
    assert qs[0]["n_tokens"] == 9
    assert qs[0]["stopword_ratio"] > 0  # 'the' twice + 'over'
    tc = {r["id"]: r for r in token_counts(docs_df, "text", "doc_id").collect()}
    assert tc[0]["n_ws_tokens"] == 9
    assert tc[0]["n_bpe_tokens"] == 9


def test_fingerprint_stability(spark, docs_df):
    from spyglass_spark.ops.textstats import fingerprint

    fp = {r["id"]: r["fingerprint"] for r in
          fingerprint(docs_df, "text", "doc_id").collect()}
    assert fp[0] == fp[3]  # identical docs → identical fingerprint
    assert fp[0] != fp[2]


def test_langid_markers(spark):
    from spyglass_spark.ops.textstats import langid_ngram

    rows = [(0, "the cat and the dog is here"),
            (1, "der hund und die katze ist hier"),
            (2, "xyzzy qwerty asdf")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r["pred_lang"] for r in langid_ngram(df, "text", "doc_id").collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "und"


def test_multimodal_frames_deterministic(spark, docs_df):
    import hashlib

    import numpy as np

    from spyglass_spark.ops.multimodal import (attach_binary_payload,
                                               decode_image, extract_frames)

    assets = attach_binary_payload(docs_df, "text", "doc_id")
    f1 = sorted(extract_frames(assets, 2).collect(),
                key=lambda r: (r["asset_id"], r["frame_idx"]))
    f2 = sorted(extract_frames(assets, 2).collect(),
                key=lambda r: (r["asset_id"], r["frame_idx"]))
    assert [r["feat_hash"] for r in f1] == [r["feat_hash"] for r in f2]
    assert len(f1) == 5 * 2
    # width tracks the synthesized geometry: 4 + len(text) % 9
    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    for r in f1:
        assert r["height"] == 8
        assert r["width"] == 4 + len(texts[r["asset_id"]]) % 9
    # frame 1 of doc 0 equals a local decode + roll, hashed the same way
    payload = assets.filter("asset_id = 0").collect()[0]["payload"]
    img = decode_image(bytes(payload))
    frame = np.roll(img, 1, axis=0)
    want = hashlib.md5(",".join(map(str, frame.ravel().tolist())).encode()).hexdigest()
    got = next(r for r in f1 if r["asset_id"] == 0 and r["frame_idx"] == 1)
    assert got["feat_hash"] == want
    assert got["feat_mean"] == float(frame.mean())


def test_multimodal_resize_and_embeddings(spark, docs_df):
    import numpy as np

    from spyglass_spark.ops.multimodal import (attach_binary_payload,
                                               decode_image,
                                               extract_embeddings,
                                               resize_images)
    from spyglass_spark.ops.similarity import cosine_topk

    assets = attach_binary_payload(docs_df, "text", "doc_id")
    rows = {r["asset_id"]: r for r in resize_images(assets, 4, 4).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    for r in rows.values():
        assert (r["height"], r["width"]) == (4, 4)
        assert len(r["pixels_hex"]) == 32
    # deterministic: matches a local decode + numpy nearest-neighbor resize
    payload = assets.filter("asset_id = 2").collect()[0]["payload"]
    img = decode_image(bytes(payload))
    ys = np.minimum((np.arange(4) * img.shape[0]) // 4, img.shape[0] - 1)
    xs = np.minimum((np.arange(4) * img.shape[1]) // 4, img.shape[1] - 1)
    assert rows[2]["pixels_hex"] == img[np.ix_(ys, xs)].tobytes().hex()

    # embeddings: unit-norm, deterministic, and consumable by the ANN ops
    emb = extract_embeddings(assets, dim=8)
    got = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert all(abs(np.linalg.norm(v) - 1.0) < 1e-9 for v in got.values())
    assert got[0] == got[3]  # identical payloads → identical vectors
    top = cosine_topk(emb, list(got[0]), k=1, exclude_ids=(0,)).collect()
    assert top[0]["vec_id"] == 3  # the exact dup is the nearest neighbor


def test_image_codec_roundtrip():
    import numpy as np

    from spyglass_spark.ops.multimodal import (decode_image, encode_bmp,
                                               encode_ppm)

    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(5, 9), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(gray)), gray)
    rgb = rng.integers(0, 256, size=(6, 7, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(rgb)), rgb)
    # BMP: padded strides (w=7 → stride 24), bottom-up rows, BGR order
    assert np.array_equal(decode_image(encode_bmp(rgb)), rgb)
    # PNM comment + multi-whitespace headers parse too
    hdr = b"P5\n# a comment\n9 5\n255\n" + gray.tobytes()
    assert np.array_equal(decode_image(hdr), gray)
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG....")


def test_audio_features_pipeline(spark, docs_df):
    import numpy as np

    from spyglass_spark.ops.multimodal import (attach_audio_payload,
                                               audio_features, decode_wav)

    assets = attach_audio_payload(docs_df, "text", "doc_id", rate=8000)
    rows = {r["asset_id"]: r for r in audio_features(assets).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs_df.collect()}
    assert set(rows) == set(texts)
    for aid, r in rows.items():
        b = np.frombuffer(texts[aid].encode(), dtype=np.uint8)
        s = ((b.astype(np.int16) - 128) * 256).astype(np.int16)
        assert r["n_samples"] == s.size and r["sample_rate"] == 8000
        assert r["duration_ms"] == 1000.0 * s.size / 8000
        sd = s.astype(np.float64)
        assert abs(r["rms"] - float(np.sqrt(np.mean(sd * sd)))) < 1e-9
        neg = s < 0
        assert r["zero_crossings"] == int(np.count_nonzero(neg[1:] != neg[:-1]))
    # payloads decode with the real RIFF parser
    payload = assets.filter("asset_id = 0").collect()[0]["payload"]
    out, rate = decode_wav(bytes(payload))
    assert rate == 8000 and out.size == len(texts[0])


def test_wav_codec_roundtrip():
    import numpy as np

    from spyglass_spark.ops.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    samples = rng.integers(-32768, 32767, size=777, dtype=np.int16)
    out, rate = decode_wav(encode_wav(samples, rate=8000))
    assert rate == 8000
    assert np.array_equal(out, samples)
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxABCD")


# --- physical plan quality --------------------------------------------

def test_postings_scan_pushdown(spark, built_index):
    """Term lookups must reach the parquet scan as PushedFilters."""
    from spyglass_spark.index.builder import KIND_POSTING, read_store

    postings = (read_store(spark, built_index["index_dir"])
                .filter(F.col("kind") == KIND_POSTING))
    plan = (postings.filter((F.col("field") == "content") & (F.col("term") == "fn"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters")[1][:200]


def test_docmeta_column_pruning(spark, built_index):
    """A 2-column projection must not read the other columns."""
    from spyglass_spark.index.builder import doc_meta_view

    dm = doc_meta_view(spark, built_index["index_dir"],
                       [{"prefix": "segments"}])
    plan = (dm.select("doc_ord", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # doc_ord is computed from (part_id, local_ord); the scan must read
    # exactly those plus doc_id — nothing else
    assert "local_ord" in read_schema and "doc_id" in read_schema
    assert "content_sha256" not in read_schema and "title" not in read_schema


def test_payload_metadata_never_reads_binary(spark, docs_df, tmp_path):
    from spyglass_spark.ops.multimodal import attach_binary_payload, payload_metadata

    p = str(tmp_path / "assets.parquet")
    attach_binary_payload(docs_df, "text", "doc_id").write.parquet(p)
    plan = (payload_metadata(spark.read.parquet(p))
            ._jdf.queryExecution().executedPlan().toString())
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "payload" not in read_schema


def test_dedup_ops_are_udf_free(spark, docs_df):
    """Dedup/textstats plans must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython nodes — whole-stage codegen eligible)."""
    from spyglass_spark.ops.dedup import minhash_lsh_pairs, simhash
    from spyglass_spark.ops.textstats import quality_stats

    for df in (minhash_lsh_pairs(docs_df, "text", "doc_id"),
               simhash(docs_df, "text", "doc_id"),
               quality_stats(docs_df, "text", "doc_id")):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, plan[:500]


def test_curation_lm_score_flags_garbage(spark):
    """The corpus-bigram LM must score natural-looking repeated English
    far above a high-entropy garbage doc (the perplexity-filter use)."""
    from spyglass_spark.ops.curation import lm_quality_score

    rows = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(8)]
    rows.append((8, "xq7#zk9@vw2$pl5^mj3&qz8*xc1%"))
    rows.append((9, ""))  # empty doc → 0 bigrams, score 0.0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in lm_quality_score(df, "text", "doc_id").collect()}
    assert out[9]["n_bigrams"] == 0 and out[9]["lm_logprob"] == 0.0
    assert out[8]["lm_logprob"] < out[0]["lm_logprob"] - 1.0
    # determinism
    again = {r["id"]: r["lm_logprob"]
             for r in lm_quality_score(df, "text", "doc_id").collect()}
    assert again == {k: v["lm_logprob"] for k, v in out.items()}


def test_curation_decontaminate_finds_planted(spark):
    from spyglass_spark.ops.curation import decontaminate

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (1, "one two three four five six seven"),
         (2, "totally unrelated content words here")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "xx alpha beta gamma yy"), (101, "nothing shared at all")],
        "doc_id long, text string")
    got = {r["id"]: r["n_overlap"]
           for r in decontaminate(docs, bench, "text", "doc_id").collect()}
    assert got == {0: 1}  # only 'alpha beta gamma' overlaps


def test_curation_stratified_sample_deterministic(spark):
    from spyglass_spark.ops.curation import stratified_sample

    rows = [(i, "src1" if i % 2 == 0 else "src2") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out1 = stratified_sample(df, "source", "doc_id",
                             rates={"src1": 0.5, "src2": 0.1})
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(
        df, "source", "doc_id", rates={"src1": 0.5, "src2": 0.1}).collect())
    assert ids1 == ids2  # deterministic, no RNG
    kept = {"src1": 0, "src2": 0}
    for r in out1.collect():
        kept[r["source"]] += 1
    assert 400 <= kept["src1"] <= 600   # ≈50% of 1000
    assert 50 <= kept["src2"] <= 160    # ≈10% of 1000
    # the plan is a pure scan-stage predicate: no shuffle, no UDF
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_repetition_stats_flags_boilerplate(spark):
    from spyglass_spark.ops.textstats import repetition_stats

    rows = [
        (0, "buy now " * 50),                       # one bigram dominates
        (1, "all tokens here are fully distinct words okay"),
        (2, "x"),                                   # single token: no grams
        (3, ""),                                    # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in
           repetition_stats(df, "text", "doc_id").collect()}
    assert len(out) == 4
    assert out[0]["top2gram_char_frac"] > 0.4
    assert out[0]["top3gram_char_frac"] > 0.4
    assert out[1]["top2gram_char_frac"] < 0.3
    assert out[2]["top2gram_char_frac"] == 0.0
    assert out[3]["top2gram_char_frac"] == 0.0 and out[3]["top3gram_char_frac"] == 0.0
    plan = (repetition_stats(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan


def test_passage_duplicates_finds_shared_chunks(spark):
    from spyglass_spark.ops.dedup import passage_duplicates

    boiler = " ".join(f"w{i}" for i in range(10))
    rows = [
        (0, boiler + " unique tail zero alpha beta gamma delta eps zeta eta"),
        (1, boiler + " other ending one two three four five six seven eight"),
        (2, "completely different text " + " ".join(f"q{i}" for i in range(10))),
        (3, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = passage_duplicates(df, "text", "doc_id", window=10).collect()
    assert len(out) == 1  # only the shared leading 10-token chunk
    assert out[0]["n_docs"] == 2 and out[0]["keeper"] == 0
    plan = (passage_duplicates(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan


def test_duplicate_clusters_star_vs_union_find(spark):
    """Large-star/small-star connected components must match a scalar
    union-find on adversarial graph shapes: a long chain (worst case for
    naive label propagation), a star, two mid-size components bridged by
    one edge, singleton-free pair lists, and a deterministic random
    graph."""
    import random

    from spyglass_spark.ops.dedup import duplicate_clusters

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(100, 117)]          # chain
    edges += [(500, x) for x in range(501, 509)]           # star
    edges += [(200 + i, 200 + i + 1) for i in range(5)]    # comp A
    edges += [(300 + i, 300 + i + 1) for i in range(5)]    # comp B
    edges += [(205, 300)]                                  # bridge A-B
    nodes = list(range(1000, 1060))
    edges += [tuple(sorted(rng.sample(nodes, 2))) for _ in range(80)]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["id"]: r["cluster"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == expected


def test_duplicate_clusters_empty_and_single_edge(spark):
    from spyglass_spark.ops.dedup import duplicate_clusters

    empty = spark.createDataFrame([], "a long, b long")
    assert duplicate_clusters(empty).collect() == []
    one = spark.createDataFrame([(7, 3)], "a long, b long")
    got = {(r["id"], r["cluster"]) for r in duplicate_clusters(one).collect()}
    assert got == {(3, 3), (7, 3)}


def test_pack_sequences_contiguous_fill(spark):
    """pack_id = floor(cum_tokens_before/budget) per group, order-driven
    — pinned against a python brute force; plan stays JVM-side."""
    from spyglass_spark.ops.curation import pack_sequences

    rows = [(f"d{i:02d}", "s" + str(i % 2), (i * 37) % 90 + 10)
            for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens"])
    out = pack_sequences(df, budget=100, token_col="n_tokens",
                         order_col="doc_id", group_col="source")
    got = {(r["source"], r["doc_id"]): r["pack_id"] for r in out.collect()}
    for src in ("s0", "s1"):
        cum = 0
        for d, s, n in sorted(r for r in rows if r[1] == src):
            assert got[(s, d)] == cum // 100, (s, d)
            cum += n
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # every pack's fill is within budget + one doc's tokens (overflow <1 doc)
    import collections
    fill = collections.Counter()
    for d, s, n in rows:
        fill[(s, got[(s, d)])] += n
    assert all(v < 100 + 100 for v in fill.values())


def test_redact_pii_patterns_and_counts(spark):
    from spyglass_spark.ops.curation import redact_pii

    rows = [
        ("a", "mail me at dev.lead+x@code-host.io please"),
        ("b", "server 192.168.10.255 and key "
              "deadbeefdeadbeefdeadbeefdeadbeef0123"),
        ("c", "card 4111 1111 1111 1111 phone 555-123-4567x"),
        ("d", "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "text"])
    got = {r["id"]: r for r in redact_pii(df, "text").collect()}
    assert got["a"]["redacted"] == "mail me at <EMAIL> please"
    assert got["a"]["pii_hits"] == 1
    assert got["b"]["redacted"] == "server <IP> and key <KEY>"
    assert got["b"]["pii_hits"] == 2
    assert "<NUM>" in got["c"]["redacted"]
    assert got["d"]["redacted"] == rows[3][1]
    assert got["d"]["pii_hits"] == 0
    plan = redact_pii(df, "text")._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_c4_line_clean_semantics(spark):
    """Line filters + corpus-wide boilerplate-line removal: short lines
    drop, a line shared by >= threshold docs drops everywhere, order and
    empty-doc totals are preserved."""
    from spyglass_spark.ops.curation import c4_line_clean

    boiler = "subscribe to our newsletter today"
    rows = [("d0", f"alpha beta gamma delta\n{boiler}\nshort no")]
    rows += [(f"d{i}", f"real content line {i} here\n{boiler}")
             for i in range(1, 5)]
    rows.append(("d5", "tiny"))  # all lines dropped -> empty clean_text
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in
           c4_line_clean(df, "text", "doc_id",
                         min_words=3, boilerplate_doc_threshold=5).collect()}
    assert len(out) == 6
    # the boilerplate line appears in 5 distinct docs -> dropped from all
    assert out["d0"]["clean_text"] == "alpha beta gamma delta"
    assert out["d0"]["n_lines_kept"] == 1 and out["d0"]["n_lines_total"] == 3
    for i in range(1, 5):
        assert out[f"d{i}"]["clean_text"] == f"real content line {i} here"
    assert out["d5"]["clean_text"] == "" and out["d5"]["n_lines_kept"] == 0
    # below-threshold shared line survives (4 docs < 5)
    out2 = {r["id"]: r for r in
            c4_line_clean(df, "text", "doc_id", min_words=3,
                          boilerplate_doc_threshold=6).collect()}
    assert boiler in out2["d0"]["clean_text"]
    # line ORDER is the original line order, not sort-by-content
    df3 = spark.createDataFrame(
        [("z", "zulu first content line\nalpha second content line")],
        ["doc_id", "text"])
    got3 = c4_line_clean(df3, "text", "doc_id",
                         boilerplate_doc_threshold=99).collect()[0]
    assert got3["clean_text"] == ("zulu first content line\n"
                                  "alpha second content line")


def test_c4_line_clean_terminal_punct_and_plan(spark):
    from spyglass_spark.ops.curation import c4_line_clean

    df = spark.createDataFrame(
        [("a", "a prose sentence ends here.\nheader without punctuation\n"
               "another good one, truly!")],
        ["doc_id", "text"])
    got = c4_line_clean(df, "text", "doc_id", min_words=3,
                        boilerplate_doc_threshold=99,
                        require_terminal_punct=True).collect()[0]
    assert got["clean_text"] == ("a prose sentence ends here.\n"
                                 "another good one, truly!")
    plan = (c4_line_clean(df, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "EvalPython" not in plan


def test_minhash_size_probe_failure_is_logged(spark, docs_df, tmp_path,
                                               monkeypatch, caplog):
    """A failing input-size probe (e.g. a non-local path, where
    os.path.getsize raises) logs a warning naming the probe and keeps
    the un-respread plan and its signatures."""
    import logging

    from spyglass_spark.ops import dedup

    path = str(tmp_path / "docs")
    docs_df.write.parquet(path)
    df = spark.read.parquet(path)
    want = sorted(dedup.minhash_signatures(df, "text", "doc_id").collect())

    def no_size(_):
        raise OSError("size unavailable")

    monkeypatch.setattr(dedup.os.path, "getsize", no_size)
    with caplog.at_level(logging.WARNING, logger=dedup.__name__):
        got = sorted(dedup.minhash_signatures(df, "text", "doc_id").collect())
    assert got == want
    assert any("minhash input-size probe" in r.getMessage()
               and "size unavailable" in r.getMessage()
               for r in caplog.records)
