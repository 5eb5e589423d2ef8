"""Tests for the training-data pipeline operators (dedup / similarity /
text / multimodal plumbing)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "a"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "a"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog", "en", "a"),  # near dup of 1
        (4, "der schnelle braune fuchs springt und der hund ist nicht da", "de", "a"),
        (5, "completely different text about spark engines and data", "en", "b"),
        (6, "le renard brun et rapide saute et les chiens sont la", "fr", "a"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_duplicates(spark, docs):
    from mlforecast_spark.operators.dedup import exact_duplicates

    out = exact_duplicates(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_count"] == 2
    assert out.loc[2, "canonical_id"] == 1
    assert out.loc[3, "dup_count"] == 1


def test_ngram_jaccard(spark, docs):
    from mlforecast_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(docs, n=3, threshold=0.0, allow_all_pairs=True).toPandas()
    pair = out[(out.id_a == 1) & (out.id_b == 2)]
    assert len(pair) == 1 and pair["jaccard"].iloc[0] == 1.0
    near = out[(out.id_a == 1) & (out.id_b == 3)]
    # 9 tokens -> 7 shingles each; 'fox jumps over'/'jumps over the'/'quick
    # brown fox' differ around the substitution: expect moderate similarity
    assert len(near) == 1 and 0.2 < near["jaccard"].iloc[0] < 1.0


def test_jaccard_verify_pairs_matches_allpairs(spark, docs):
    """The bounded per-pair verifier equals the all-pairs oracle on the
    candidate subset, returns jaccard=0.0 for disjoint candidate pairs,
    and never computes pairs it wasn't given."""
    from mlforecast_spark.operators.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )

    allp = ngram_jaccard_pairs(
        docs, n=3, threshold=0.0, allow_all_pairs=True
    ).toPandas()
    # candidates: one overlapping pair, one near pair, one disjoint pair
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    out = (
        jaccard_verify_pairs(docs, cand, n=3)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(out) == 3
    for _, r in out.iterrows():
        exact = allp[(allp.id_a == r.id_a) & (allp.id_b == r.id_b)]
        want = exact["jaccard"].iloc[0] if len(exact) else 0.0
        assert r.jaccard == want, (r.id_a, r.id_b, r.jaccard, want)
    # threshold filter drops the disjoint pair
    kept = jaccard_verify_pairs(docs, cand, n=3, threshold=0.1).toPandas()
    assert set(zip(kept.id_a, kept.id_b)) <= set(zip(out.id_a, out.id_b))
    assert (kept.jaccard >= 0.1).all()


def test_jaccard_verify_pairs_robust_inputs(spark, docs):
    """r11 ADVICE hardening: duplicated candidate rows must not multiply
    n_inter (jaccard stays <= truth, one output row per distinct pair), and
    pairs touching a shingle-less doc (id absent from df, or text shorter
    than n tokens) are kept with jaccard = 0.0 instead of silently dropped."""
    from mlforecast_spark.operators.dedup import jaccard_verify_pairs

    # (1,2) duplicated 3x; (1,999) -> 999 absent from docs; add a doc whose
    # text is shorter than n=3 tokens (zero shingles) paired with itself
    short = docs.union(
        spark.createDataFrame(
            [(7, "too short", "en", "a")],
            "doc_id long, text string, lang string, source string",
        )
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 2), (1, 999), (3, 7), (7, 999)],
        "id_a long, id_b long",
    )
    out = (
        jaccard_verify_pairs(short, cand, n=3)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    # one row per DISTINCT pair, duplicates collapsed
    assert len(out) == 4
    got = {(r.id_a, r.id_b): r.jaccard for _, r in out.iterrows()}
    assert got[(1, 2)] == 1.0  # not inflated by the 3x duplication
    assert got[(1, 999)] == 0.0  # absent doc -> disjoint, kept
    assert got[(3, 7)] == 0.0  # shingle-less doc -> disjoint, kept
    assert got[(7, 999)] == 0.0  # both sides empty -> 0/0 guard -> 0.0


def test_minhash_estimates_jaccard(spark, docs):
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingle_df,
    )

    sig = minhash_signatures(shingle_df(docs, n=2), num_hashes=64)
    cand = minhash_lsh_candidates(sig, num_hashes=64, num_bands=16).toPandas()
    exact = ngram_jaccard_pairs(docs, n=2, threshold=0.0, allow_all_pairs=True).toPandas()
    pair = cand[(cand.id_a == 1) & (cand.id_b == 2)]
    assert len(pair) == 1 and pair["est_jaccard"].iloc[0] == 1.0
    near = cand[(cand.id_a == 1) & (cand.id_b == 3)]
    if len(near):  # LSH may or may not surface it; if it does, estimate is sane
        true_j = exact[(exact.id_a == 1) & (exact.id_b == 3)]["jaccard"].iloc[0]
        assert abs(near["est_jaccard"].iloc[0] - true_j) < 0.35


def test_simhash_near_dups(spark, docs):
    from mlforecast_spark.operators.dedup import simhash, simhash_candidates

    fps = simhash(docs)
    out = fps.toPandas().set_index("doc_id")
    assert out.loc[1, "simhash"] == out.loc[2, "simhash"]  # identical text
    cands = simhash_candidates(fps, max_hamming=10).toPandas()
    assert ((cands.id_a == 1) & (cands.id_b == 2)).any()


def test_simhash_band_dedup_equivalent_to_shuffle_dedup(spark, docs):
    """The first-matching-band predicate (uncapped path, no shuffle) must
    produce exactly the pairs the dropDuplicates fallback (capped path)
    produces when the cap is too large to prune anything."""
    from mlforecast_spark.operators.dedup import simhash, simhash_candidates

    fps = simhash(docs)
    fast = simhash_candidates(fps, max_hamming=10).toPandas()
    slow = simhash_candidates(fps, max_hamming=10, max_bucket_size=10**9).toPandas()
    key = ["id_a", "id_b", "hamming"]
    assert sorted(map(tuple, fast[key].values.tolist())) == sorted(
        map(tuple, slow[key].values.tolist())
    )


def test_simhash_long_doc(spark):
    """ANSI-overflow regression: a 70k-token doc puts >32,767 occurrences on
    individual hash bits — the 4x16-bit packed formulation threw
    ARITHMETIC_OVERFLOW under Spark's default ANSI SUM; the 3x21-bit packing
    must survive and match the naive ±1 sign rule."""
    from mlforecast_spark.operators.dedup import simhash

    text = " ".join("tok%d" % (i % 97) for i in range(70000))
    big = spark.createDataFrame([(1, text)], "doc_id int, text string")
    row = simhash(big).collect()[0]
    # naive oracle: sign of sum(±1) per bit over the same token stream
    import numpy as np

    toks = big.selectExpr(
        "explode(split(trim(lower(text)), '\\\\s+')) AS tok"
    ).selectExpr("xxhash64(tok) AS h")
    # xxhash64 returns SIGNED int64; reinterpret the bits as uint64 (a
    # direct uint64 construction from negatives is a per-element numpy
    # deprecation warning on its way to becoming an error)
    hashes = np.array([r["h"] for r in toks.collect()], dtype=np.int64).view(np.uint64)
    fp = 0
    for i in range(63):
        ones = int(((hashes >> np.uint64(i)) & np.uint64(1)).sum())
        if 2 * ones > len(hashes):
            fp |= 1 << i
    assert row["simhash"] == fp


def test_language_id(spark, docs):
    from mlforecast_spark.operators.text import language_scores

    out = language_scores(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "lang_guess"] == "en"
    assert out.loc[4, "lang_guess"] == "de"
    assert out.loc[6, "lang_guess"] == "fr"


def test_token_stats(spark, docs):
    from mlforecast_spark.operators.text import token_stats

    out = token_stats(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens"] == 9
    assert out.loc[1, "n_chars"] == 43
    assert out.loc[1, "punct_ratio"] == 0.0


def test_fingerprint_normalization(spark):
    from mlforecast_spark.operators.text import fingerprint

    docs = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = fingerprint(docs).toPandas().set_index("doc_id")
    assert out.loc[1, "fingerprint"] == out.loc[2, "fingerprint"]
    assert out.loc[1, "fingerprint"] != out.loc[3, "fingerprint"]


def test_cosine_topk_vs_numpy(spark):
    from mlforecast_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(0)
    vecs = rng.randn(30, 8).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") < 3), k=5).toPandas()
    v = vecs.astype("float64")
    sims = v @ v.T / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for q in range(3):
        order = [
            i for i in np.lexsort((np.arange(30), -np.round(sims[q], 6))) if i != q
        ][:5]
        got = out[out.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == order, (q, got, order)


def test_gram_chunking_identical():
    """The query-axis gram chunking (the sf10 worker-OOM fix) is exact:
    forcing chunk=1-row blocks must reproduce the one-block result
    bit-for-bit, including the -inf self-pair drop and tie ranking."""
    import pandas as pd

    from mlforecast_spark.operators import similarity as S

    rng = np.random.RandomState(3)
    n = 40
    vecs = rng.randn(n, 8)
    # planted exact ties: rows 30/31 duplicate row 0
    vecs[30] = vecs[0]
    vecs[31] = vecs[0]
    qpdf = pd.DataFrame(
        {"query_id": range(n), "_qv": [v.tolist() for v in vecs]}
    )
    npdf = pd.DataFrame(
        {"neighbor_id": range(n), "_nv": [v.tolist() for v in vecs]}
    )
    fn = S._gram_topk_fn(5, 6)
    one_block = fn(qpdf, npdf)
    orig = S._GRAM_BLOCK_CELLS
    S._GRAM_BLOCK_CELLS = 1  # chunk = max(1, 1 // 40) = 1 query row
    try:
        chunked = fn(qpdf, npdf)
    finally:
        S._GRAM_BLOCK_CELLS = orig
    pd.testing.assert_frame_equal(one_block, chunked)


def test_cosine_topk_query_blocking_identical(spark):
    """2D query-blocking (the sf10 self-join OOM fix) is exact: the square
    self-join default (queries is vectors -> qb = num_buckets), an explicit
    odd block count, and the 1D qb=1 plan must all produce identical
    (query_id, neighbor_id, cosine, rank) sets."""
    from mlforecast_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(7)
    n = 50
    vecs = rng.randn(n, 8).astype("float32")
    vecs[40] = vecs[1]  # planted near-dup pair crosses block boundaries
    rows = [(i, vecs[i].tolist()) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def norm(sdf):
        return (
            sdf.toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )

    base = norm(cosine_topk(df, df2, k=3, num_buckets=4, num_query_blocks=1))
    # identity default: queries is vectors -> square blocking kicks in
    auto = norm(cosine_topk(df, df, k=3, num_buckets=4))
    pd.testing.assert_frame_equal(base, auto)
    explicit = norm(cosine_topk(df, df2, k=3, num_buckets=4, num_query_blocks=7))
    pd.testing.assert_frame_equal(base, explicit)


def test_lsh_topk_recall(spark):
    from mlforecast_spark.operators.similarity import cosine_topk, lsh_topk

    rng = np.random.RandomState(1)
    vecs = rng.randn(60, 16).astype("float32")
    rows = [(i, vecs[i].tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 5)
    exact = cosine_topk(df, q, k=5).toPandas()
    approx = lsh_topk(df, q, k=5, num_planes=6, num_tables=8).toPandas()
    # recall@5 across queries should be decent with 8 tables
    hits = 0
    for qid in range(5):
        e = set(exact[exact.query_id == qid]["neighbor_id"])
        a = set(approx[approx.query_id == qid]["neighbor_id"])
        hits += len(e & a)
    assert hits >= 10, f"recall too low: {hits}/25"


def test_multimodal_plumbing(spark, docs):
    from mlforecast_spark.operators.multimodal import (
        attach_fake_payload,
        decode_and_featurize,
        frame_sample_plan,
    )

    with_payload = attach_fake_payload(docs, "doc_id")
    assert dict(with_payload.dtypes)["payload"] == "binary"
    feats = decode_and_featurize(with_payload, fake=True).toPandas()
    assert len(feats) == 6
    assert all(len(f) == 16 for f in feats["features"])
    np.testing.assert_allclose([sum(f) for f in feats["features"]], 1.0, rtol=1e-9)
    # real-decode path on non-decodable payloads: raises per row at action
    # time, naming the supported formats
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((PythonException, Py4JJavaError), match="PPM"):
        decode_and_featurize(with_payload, fake=False).collect()
    frames = frame_sample_plan(docs, every_n=10).toPandas()
    assert len(frames) == 6 * 10


def _make_ppm(arr):
    import numpy as np

    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _make_bmp(arr):
    """Minimal bottom-up 24-bit BI_RGB BMP encoder for the round-trip test."""
    import struct

    import numpy as np

    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = []
    for r in range(h - 1, -1, -1):  # bottom-up
        row = arr[r, :, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        rows.append(row + b"\x00" * (stride - len(row)))
    pixel_data = b"".join(rows)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40)
    return header + dib + pixel_data


def _make_wav(samples, rate=8000):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((np.asarray(samples) * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def test_multimodal_real_decoders_roundtrip():
    from mlforecast_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        decode_wav,
        resize_nearest,
    )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_ppm(_make_ppm(img)), img)
    np.testing.assert_array_equal(decode_bmp(_make_bmp(img)), img)
    t = np.arange(800) / 8000.0
    wave_in = 0.5 * np.sin(2 * np.pi * 440 * t)
    out, rate = decode_wav(_make_wav(wave_in))
    assert rate == 8000 and out.shape == (800, 1)
    np.testing.assert_allclose(out[:, 0], wave_in, atol=1e-3)
    small = resize_nearest(img, 3, 2)
    assert small.shape == (3, 2, 3)
    assert (small >= 0).all() and (small <= 255).all()


def test_multimodal_real_decode_through_spark(spark):
    """Mixed PPM/BMP/WAV payloads decode for real inside mapInPandas; image
    features carry true dimensions, audio features the true sample rate, and
    the dominant spectral band matches the injected tone."""
    from mlforecast_spark.operators.multimodal import (
        AUDIO_FEATURE_LEN,
        IMAGE_FEATURE_LEN,
        decode_and_featurize,
    )

    rng = np.random.RandomState(9)
    img1 = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    img2 = np.full((4, 4, 3), 200, dtype=np.uint8)
    t = np.arange(1600) / 8000.0
    tone = 0.7 * np.sin(2 * np.pi * 500 * t)
    rows = [
        (1, bytearray(_make_ppm(img1))),
        (2, bytearray(_make_bmp(img2))),
        (3, bytearray(_make_wav(tone))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = (
        decode_and_featurize(df, fake=False)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[1, "kind"] == "image" and out.loc[2, "kind"] == "image"
    assert out.loc[3, "kind"] == "audio"
    f1, f2, f3 = out.loc[1, "features"], out.loc[2, "features"], out.loc[3, "features"]
    assert len(f1) == IMAGE_FEATURE_LEN and len(f2) == IMAGE_FEATURE_LEN
    assert (f1[0], f1[1], f1[2]) == (8.0, 6.0, 3.0)
    assert (f2[0], f2[1], f2[2]) == (4.0, 4.0, 3.0)
    np.testing.assert_allclose(f2[3:6], [200.0] * 3)  # constant image means
    np.testing.assert_allclose(f2[6:9], [0.0] * 3)  # ... and zero stds
    assert len(f3) == AUDIO_FEATURE_LEN
    assert f3[0] == 8000.0 and abs(f3[1] - 0.2) < 1e-9  # rate, duration
    assert abs(f3[2] - 0.7 / np.sqrt(2)) < 0.01  # sine RMS
    # 500 Hz on a 0-4000 Hz rfft span falls in the lowest of 8 bands
    assert np.argmax(f3[4:]) == 0
    # resize inside the batch
    resized = (
        decode_and_featurize(df.filter("doc_id < 3"), fake=False, resize_to=(4, 4))
        .toPandas()
        .set_index("doc_id")
    )
    assert all(f[0] == 4.0 and f[1] == 4.0 for f in resized["features"])


def test_ivf_topk_full_probe_equals_brute_force(spark):
    """nprobe == n_lists must reproduce exact brute-force top-k regardless of
    the k-means assignment."""
    import numpy as np
    from mlforecast_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(120)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = embs.filter(F.col("vec_id") < 10)
    exact = cosine_topk(embs, q, k=5).toPandas().sort_values(["query_id", "rank"])
    full = (
        ivf_topk(embs, q, k=5, n_lists=6, nprobe=6)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    assert full.reset_index(drop=True).equals(exact.reset_index(drop=True))


def test_ivf_topk_partial_probe_recall(spark):
    """Probing a fraction of the lists must beat the expected-random recall
    floor (nearest-centroid probing is data-adaptive)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import cosine_topk, ivf_topk

    rng = np.random.default_rng(5)
    # clusterable corpus: 4 well-separated gaussian blobs
    rows = []
    for i in range(200):
        c = i % 4
        center = np.zeros(16)
        center[c * 4 : c * 4 + 4] = 5.0
        rows.append((int(i), [float(x) for x in center + rng.normal(size=16)]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = embs.filter(F.col("vec_id") < 8)
    exact = cosine_topk(embs, q, k=5).select("query_id", "neighbor_id")
    approx = ivf_topk(embs, q, k=5, n_lists=8, nprobe=2).select(
        "query_id", "neighbor_id"
    )
    inter = exact.join(approx, ["query_id", "neighbor_id"], "inner").count()
    recall = inter / exact.count()
    assert recall >= 0.8, recall


def test_scale_guards(spark, docs):
    """The three documented scale-cliffs refuse to ship their plan silently:
    unblocked all-pairs jaccard, pooled-global expanding quantile, and the
    no-fit_spark driver collect (the last via its opt-in attribute)."""
    import pytest

    from mlforecast_spark.core import FeaturePlan, PanelSchema, _parse_transforms
    from mlforecast_spark.lag_transforms import ExpandingQuantile
    from mlforecast_spark.operators.dedup import ngram_jaccard_pairs
    from mlforecast_spark.utils import generate_daily_series

    with pytest.raises(ValueError, match="all-pairs"):
        ngram_jaccard_pairs(docs, n=3)

    panel = generate_daily_series(spark, 3, 20, 30, seed=11)
    registry = _parse_transforms([], {1: [ExpandingQuantile(p=0.5, global_=True)]})
    with pytest.raises(ValueError, match="single.*partition"):
        FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)

    # opt-in accepts the single-partition plan
    registry = _parse_transforms(
        [], {1: [ExpandingQuantile(p=0.5, global_=True, allow_single_partition=True)]}
    )
    out = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    assert out.count() > 0


def test_driver_collect_guard(spark):
    """Models without fit_spark hit a row-count guard before toPandas()."""
    import pytest

    import mlforecast_spark.forecast as fc
    from mlforecast_spark import MLForecast
    from mlforecast_spark.utils import generate_daily_series

    class TinySkModel:
        def fit(self, X, y):
            self.mean_ = float(y.mean())
            return self

        def predict(self, X):
            import numpy as np

            return np.full(len(X), self.mean_)

    panel = generate_daily_series(spark, 2, 25, 30, seed=7)
    old = fc.DRIVER_COLLECT_MAX_ROWS
    fc.DRIVER_COLLECT_MAX_ROWS = 10  # force the guard at test scale
    try:
        mf = MLForecast(models=[TinySkModel()], freq="D", lags=[1])
        with pytest.raises(ValueError, match="refusing to collect"):
            mf.fit(panel)
        m = TinySkModel()
        m.allow_driver_collect = True
        mf2 = MLForecast(models=[m], freq="D", lags=[1])
        mf2.fit(panel)
        assert mf2.predict(2).count() == 4
    finally:
        fc.DRIVER_COLLECT_MAX_ROWS = old


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components)
# ---------------------------------------------------------------------------

def _cc_paths():
    """Both connected-components paths: the public entry, which finishes
    every graph these tests build on the driver, and the distributed
    label-propagation path it falls back to."""
    from mlforecast_spark.operators import dedup

    def spark_path(edges, src="id_a", dst="id_b"):
        return dedup._connected_components_spark(edges, src, dst, max_iter=25)

    return [dedup.connected_components, spark_path]


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9)], "id_a long, id_b long"
    )
    for cc in _cc_paths():
        out = cc(edges).toPandas().set_index("node_id")
        assert out.loc[1, "cluster_id"] == 1 and out.loc[3, "cluster_id"] == 1
        assert out.loc[2, "cluster_size"] == 3
        assert out.loc[5, "cluster_id"] == 5 and out.loc[6, "cluster_size"] == 2
        assert out.loc[9, "cluster_id"] == 9 and out.loc[9, "cluster_size"] == 1


def test_connected_components_long_chain_and_strings(spark):
    # a 40-node path exercises pointer jumping (pure propagation would need
    # 40 rounds; the distributed loop is capped at 25)
    chain = [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(40)]
    edges = spark.createDataFrame(chain, "id_a string, id_b string")
    for cc in _cc_paths():
        out = cc(edges).toPandas()
        assert set(out["cluster_id"]) == {"d000"}
        assert (out["cluster_size"] == 41).all()


def test_connected_components_vs_union_find(spark):
    import random

    rnd = random.Random(11)
    nodes = list(range(120))
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(90)
    ]
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {n for e in edges for n in e}
    expected = {}
    for n in touched:
        root = find(n)
        expected.setdefault(root, set()).add(n)
    want = {n: min(members) for members in expected.values() for n in members}

    frame = spark.createDataFrame(edges, "id_a long, id_b long")
    for cc in _cc_paths():
        out = cc(frame).toPandas().set_index("node_id")["cluster_id"].to_dict()
        assert out == want


def _spy_spark_path(monkeypatch):
    """Record every call the public entry makes to the distributed path."""
    from mlforecast_spark.operators import dedup

    calls = []
    real = dedup._connected_components_spark

    def spy(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "_connected_components_spark", spy)
    return calls


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: tuple(map(str, r))
    )


_CC_EDGES = [(5, 3), (3, 9), (9, 9), (12, 7), (3, 5), (100, 101)]


@pytest.mark.parametrize(
    "schema,edges,on_driver",
    [
        ("id_a tinyint, id_b tinyint", _CC_EDGES, True),
        ("id_a smallint, id_b smallint", _CC_EDGES, True),
        ("id_a int, id_b int", _CC_EDGES, True),
        ("id_a bigint, id_b bigint", _CC_EDGES, True),
        ("id_a bigint, id_b bigint", [], True),
        # code point order: "100" < "12" < "3"
        ("id_a string, id_b string", [(str(a), str(b)) for a, b in _CC_EDGES], True),
        # Python orders only integral and string ids the way Spark does
        ("id_a double, id_b double", [(a / 2, b / 2) for a, b in _CC_EDGES], False),
        ("id_a int, id_b bigint", _CC_EDGES, False),
        # nor does it order a null id
        ("id_a bigint, id_b bigint", _CC_EDGES + [(7, None)], False),
    ],
)
def test_connected_components_paths_agree(spark, monkeypatch, schema, edges, on_driver):
    """The driver path takes integral and string ids only and returns the
    distributed path's rows under its schema; every other id type, and any
    null id, runs the distributed path."""
    from mlforecast_spark.operators import dedup

    frame = spark.createDataFrame(edges, schema)
    distributed = dedup._connected_components_spark(frame, "id_a", "id_b", 25)
    calls = _spy_spark_path(monkeypatch)
    out = dedup.connected_components(frame)
    assert len(calls) == (0 if on_driver else 1)
    assert out.schema == distributed.schema
    assert _rows(out) == _rows(distributed)


def test_connected_components_edge_bound_routes_to_spark_path(spark, monkeypatch):
    """Up to ``_CC_DRIVER_MAX_EDGES`` edges are collected and finish on the
    driver; one more runs the distributed path without collecting any edge.
    Same rows and schema either way."""
    from mlforecast_spark.operators import dedup

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 5)], "id_a long, id_b long"
    ).repartition(4)
    assert edges.rdd.getNumPartitions() == 4
    frame_type = type(edges)
    collects = []
    real_to_pandas = frame_type.toPandas

    def to_pandas(self):
        collects.append(self)
        return real_to_pandas(self)

    monkeypatch.setattr(frame_type, "toPandas", to_pandas)
    calls = _spy_spark_path(monkeypatch)
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 5)
    local = dedup.connected_components(edges)
    assert calls == [] and len(collects) == 1
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 4)
    distributed = dedup.connected_components(edges)
    assert len(calls) == 1 and len(collects) == 1
    monkeypatch.undo()
    assert local.schema == distributed.schema
    assert _rows(local) == _rows(distributed) == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (5, 5, 4), (6, 5, 4), (8, 5, 4), (9, 5, 4),
    ]


def test_connected_components_spark_path_leaves_cache_empty(
    spark, monkeypatch, panel, panel_static
):
    """The distributed path materializes with ``localCheckpoint`` only: a
    ``cache()`` in front of a checkpoint registers a plan whose handle is
    dropped, so no later ``unpersist`` could free it."""
    from mlforecast_spark.operators import dedup

    chain = [(i, i + 1) for i in range(12)] + [(40, 41)]
    edges = spark.createDataFrame(chain, "id_a long, id_b long")
    calls = _spy_spark_path(monkeypatch)
    monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
    spark.catalog.clearCache()
    try:
        out = dedup.connected_components(edges)
        assert len(calls) == 1
        assert out.filter(F.col("cluster_id") == 0).count() == 13
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        # the clear also dropped the session fixtures' caches
        panel.cache()
        panel_static.cache()


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def test_hash_sample_fraction_and_determinism(spark):
    from mlforecast_spark.operators.sampling import hash_sample

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    s1 = hash_sample(df, 0.25).toPandas()["doc_id"]
    s2 = hash_sample(df, 0.25).toPandas()["doc_id"]
    assert sorted(s1) == sorted(s2)
    assert 0.20 < len(s1) / 4000 < 0.30
    salted = hash_sample(df, 0.25, salt="v2").toPandas()["doc_id"]
    # independent decision per salt: overlap ~ p^2, far below identity
    assert len(set(s1) & set(salted)) < 0.5 * len(s1)
    # pure filter: monotone in fraction (nested samples)
    s_small = hash_sample(df, 0.1).toPandas()["doc_id"]
    assert set(s_small) <= set(s1)


def test_stratified_hash_sample_exact_k(spark):
    import hashlib

    from mlforecast_spark.operators.sampling import stratified_hash_sample

    rows = [(f"doc{i}", "en" if i % 3 else "de") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = stratified_hash_sample(df, ["lang"], k=5).toPandas()
    assert (out.groupby("lang").size() == 5).all()
    # matches a driver-side md5 ranking exactly
    for lang in ("en", "de"):
        members = [d for d, l in rows if l == lang]
        want = sorted(members, key=lambda d: hashlib.md5(d.encode()).hexdigest())[:5]
        got = out[out.lang == lang].sort_values("sample_rank")["doc_id"].tolist()
        assert got == want
    # small groups return the whole group, rank intact
    tiny = spark.createDataFrame([("a", "x"), ("b", "x")], "doc_id string, lang string")
    got_tiny = stratified_hash_sample(tiny, ["lang"], k=5).toPandas()
    assert len(got_tiny) == 2 and set(got_tiny["sample_rank"]) == {1, 2}


def test_stratified_hash_sample_prefilter_identical(spark):
    from mlforecast_spark.operators.sampling import stratified_hash_sample

    rows = [(f"doc{i}", ["en", "de", "fr"][i % 3]) for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    full = stratified_hash_sample(df, ["lang"], k=10).toPandas()
    # 300 rows/group, keep hash-slice ~ 20x the k/n winners' share
    pre = stratified_hash_sample(
        df, ["lang"], k=10, prefilter_fraction=10 * 20 / 300
    ).toPandas()
    key = ["lang", "sample_rank", "doc_id"]
    assert full.sort_values(key)[key].values.tolist() == pre.sort_values(key)[key].values.tolist()


def test_repetition_stats(spark):
    from mlforecast_spark.operators.text import repetition_stats

    rows = [
        (1, "a a b a"),          # 4 toks, 2 types, top 3; bigrams a-a,a-b,b-a all distinct
        (2, "x x x x"),          # bigrams x-x ×3 -> dup frac 2/3
        (3, "w"),                # no bigrams
        (4, ""),                 # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repetition_stats(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_tokens"] == 4
    assert out.loc[1, "type_token_ratio"] == 0.5
    assert out.loc[1, "top_token_frac"] == 0.75
    assert out.loc[1, "dup_bigram_frac"] == 0.0
    assert abs(out.loc[2, "dup_bigram_frac"] - 2 / 3) < 1e-6
    assert out.loc[3, "n_tokens"] == 1 and out.loc[3, "dup_bigram_frac"] == 0.0
    assert out.loc[4, "n_tokens"] == 0 and out.loc[4, "type_token_ratio"] == 0.0


def test_stream_dedup_batch_and_stream(spark, tmp_path):
    import os

    from mlforecast_spark.streaming import stream_dedup

    rows = [
        ("2024-01-01 00:00:00", 1, "same text"),
        ("2024-01-01 00:10:00", 2, "same text"),
        ("2024-01-01 00:20:00", 3, "other text"),
    ]
    batch = spark.createDataFrame(rows, "ts string, doc_id long, text string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = stream_dedup(batch).toPandas()
    assert len(out) == 2 and set(out["text"]) == {"same text", "other text"}

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    batch.write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, doc_id long, text string").parquet(src)
    deduped = stream_dedup(stream, watermark="10 minutes")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink).toPandas()
    assert len(got) == 2 and set(got["text"]) == {"same text", "other text"}


def test_bpe_token_count(spark):
    from mlforecast_spark.operators.text import token_counts

    rows = [
        (1, "Hello world, it's 2024!"),  # Hello/ world/,/ it/'s/ 2024/! = 7
        (2, "a b"),                       # a/ b = 2
        (3, ""),                          # 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = token_counts(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_bpe_tokens"] == 7
    assert out.loc[1, "n_ws_tokens"] == 4
    assert out.loc[2, "n_bpe_tokens"] == 2
    assert out.loc[3, "n_bpe_tokens"] == 0


def test_dedup_corpus_end_to_end(spark):
    from mlforecast_spark.operators.dedup import dedup_corpus

    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("runs", "walks")
    rows = [
        (1, base, "en", "a"),
        (2, base, "en", "a"),            # exact dup of 1 -> dropped
        (3, near, "en", "a"),            # near dup of 1 -> same cluster, dropped
        (4, "completely unrelated text about spark engines and data pipelines", "en", "b"),
        (5, "another standalone document with its own distinct content here", "en", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    kept = dedup_corpus(docs, jaccard_threshold=0.5).toPandas()
    assert sorted(kept["doc_id"]) == [1, 4, 5]
    assert set(kept.columns) == {"doc_id", "text", "lang", "source"}

    kept_sh = dedup_corpus(docs, method="simhash", max_hamming=10).toPandas()
    assert 2 not in set(kept_sh["doc_id"]) and 1 in set(kept_sh["doc_id"])

    import pytest

    with pytest.raises(ValueError, match="method"):
        dedup_corpus(docs, method="bogus")


def test_ivf_search_prunes_to_probed_lists(spark):
    """Both probe paths must only score the PROBED inverted lists. The
    small-batch path prunes with a scan-pushed ``isin`` on list_id (zero
    corpus shuffles); the distributed (cogrouped) path carries a broadcast
    left-semi join on list_id ahead of the cogroup (with nprobe << n_lists
    the unpruned cogroup would shuffle the whole corpus)."""
    import numpy as np
    import mlforecast_spark.operators.similarity as sim
    from mlforecast_spark.operators.similarity import build_ivf_index, ivf_search

    rng = np.random.default_rng(9)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(160)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = build_ivf_index(embs, n_lists=8, seed=7)
    queries = embs.filter(F.col("vec_id") < 3)

    # small-batch path: isin filter ahead of the mapInPandas scorer, no
    # join/exchange over the corpus
    out_small = ivf_search(index, queries, k=5, nprobe=2)
    plan_small = out_small._jdf.queryExecution().executedPlan().toString()
    assert "_list IN" in plan_small or "_list#" in plan_small, plan_small[:3000]
    assert "LeftSemi" not in plan_small
    assert out_small.count() > 0

    # distributed path (forced by capping the small batch at 0 queries)
    cap = sim._SMALL_QUERY_BATCH_CAP
    sim._SMALL_QUERY_BATCH_CAP = 0
    try:
        out = ivf_search(index, queries, k=5, nprobe=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" in plan, plan[:3000]
        assert out.count() > 0
        # the two paths agree on the result set
        a = out_small.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        b = out.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
        assert a.equals(b)
    finally:
        sim._SMALL_QUERY_BATCH_CAP = cap


def test_ivf_index_build_save_load_search(spark, tmp_path):
    import numpy as np

    from mlforecast_spark.operators.similarity import (
        IVFIndex,
        build_ivf_index,
        ivf_search,
        ivf_topk,
    )

    rng = np.random.RandomState(3)
    centers = rng.randn(4, 8) * 5
    rows = []
    for i in range(80):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(8) * 0.1).astype(float).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 8)

    index = build_ivf_index(vecs, n_lists=4, seed=7)
    direct = ivf_search(index, queries, k=5, nprobe=4).toPandas()
    oneshot = ivf_topk(vecs, queries, k=5, n_lists=4, nprobe=4, seed=7).toPandas()
    key = ["query_id", "rank"]
    assert (
        direct.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
        == oneshot.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
    )

    path = str(tmp_path / "ivf")
    index.save(path)
    loaded = IVFIndex.load(spark, path)
    again = ivf_search(loaded, queries, k=5, nprobe=4).toPandas()
    assert (
        again.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
        == direct.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
    )
    # partition-pruned probes: the assigned table is laid out by list_id
    import os

    assert any(d.startswith("list_id=") for d in os.listdir(f"{path}/assigned"))


def test_embedding_quantization_roundtrip(spark):
    import numpy as np

    from mlforecast_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    rng = np.random.RandomState(5)
    rows = [(i, rng.randn(16).tolist()) for i in range(40)] + [(99, [0.0] * 16)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(df)
    out = q.toPandas().set_index("vec_id")
    assert out.loc[99, "scale"] == 0.0 and all(v == 0 for v in out.loc[99, "qvec"])
    # int8 range respected
    assert all(-127 <= v <= 127 for qv in out["qvec"] for v in qv)

    deq = dequantize_embeddings(q).toPandas().set_index("vec_id")
    orig = {i: np.array(v) for i, v in rows}
    for i in (0, 7, 23):
        x = orig[i]
        x_hat = np.array(deq.loc[i, "embedding"])
        scale = out.loc[i, "scale"]
        assert np.abs(x - x_hat).max() <= scale / 2 + 1e-12
        cos = x @ x_hat / (np.linalg.norm(x) * np.linalg.norm(x_hat))
        assert cos > 0.999


def test_boilerplate_removal(spark):
    from mlforecast_spark.operators.text import boilerplate_lines, remove_boilerplate

    footer = "Copyright 2024 Example Corp"
    rows = [
        (1, f"real content one\n{footer}", "en"),
        (2, f"other real stuff\n{footer}\nmore body", "en"),
        (3, f"{footer}\nunique article text", "en"),
        (4, "totally clean document", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    bp = boilerplate_lines(df, min_docs=3).toPandas()
    assert len(bp) == 1 and bp["line"].iloc[0] == footer and bp["n_docs"].iloc[0] == 3

    clean = remove_boilerplate(df, min_docs=3).toPandas().set_index("doc_id")
    assert clean.loc[1, "text"] == "real content one"
    assert clean.loc[2, "text"] == "other real stuff\nmore body"
    assert clean.loc[3, "text"] == "unique article text"
    assert clean.loc[4, "text"] == "totally clean document"
    assert clean.loc[1, "lang"] == "en"  # non-text columns preserved


def test_pii_counts_and_scrub(spark):
    from mlforecast_spark.operators.text import pii_counts, scrub_pii

    rows = [
        (1, "contact me at john.doe@example.com or jane@test.org thanks"),
        (2, "server at 192.168.1.10 answered; call 555-123-4567 today"),
        (3, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts(df).toPandas().set_index("doc_id")
    assert counts.loc[1, "n_email"] == 2 and counts.loc[1, "n_ipv4"] == 0
    assert counts.loc[2, "n_ipv4"] == 1 and counts.loc[2, "n_phone"] == 1
    assert counts.loc[3].sum() == 0

    scrubbed = scrub_pii(df).toPandas().set_index("doc_id")
    assert scrubbed.loc[1, "text"] == "contact me at <EMAIL> or <EMAIL> thanks"
    assert "<IPV4>" in scrubbed.loc[2, "text"] and "<PHONE>" in scrubbed.loc[2, "text"]
    assert scrubbed.loc[3, "text"] == "no pii here at all"


def _encode_png(img, filters):
    """Minimal PNG writer for tests: per-row filter types from ``filters``
    (cycled), so every unfilter branch is exercised against a known image."""
    import struct
    import zlib

    import numpy as np

    h, w = img.shape[:2]
    c = img.shape[2] if img.ndim == 3 else 1
    color = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    flat = img.reshape(h, w * c).astype(np.int32)
    bpp = c
    out = bytearray()
    prev = np.zeros(w * c, np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        line = flat[y]
        if f == 0:
            enc = line.copy()
        elif f == 1:
            enc = np.array([(line[i] - (line[i - bpp] if i >= bpp else 0)) & 0xFF for i in range(w * c)])
        elif f == 2:
            enc = (line - prev) & 0xFF
        elif f == 3:
            enc = np.array([(line[i] - (((line[i - bpp] if i >= bpp else 0) + prev[i]) >> 1)) & 0xFF for i in range(w * c)])
        else:  # paeth
            enc = np.zeros(w * c, np.int32)
            for i in range(w * c):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                cc = prev[i - bpp] if i >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[i] = (line[i] - pred) & 0xFF
        out.append(f)
        out.extend(enc.astype(np.uint8).tobytes())
        prev = line

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_all_filters_roundtrip():
    import numpy as np
    import pytest

    from mlforecast_spark.operators.multimodal import decode_image, decode_png

    rng = np.random.RandomState(9)
    for channels in (1, 2, 3, 4):
        shape = (7, 5) if channels == 1 else (7, 5, channels)
        img = rng.randint(0, 256, size=shape, dtype=np.uint8)
        raw = _encode_png(img, filters=[0, 1, 2, 3, 4])
        got = decode_png(raw)
        assert got.shape == img.shape and (got == img).all(), f"channels={channels}"
    # dispatch by magic
    img = rng.randint(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert (decode_image(_encode_png(img, [4])) == img).all()
    # named gaps
    with pytest.raises(NotImplementedError, match="interlaced"):
        bad = bytearray(_encode_png(img, [0]))
        bad[8 + 8 + 12] = 1  # IHDR interlace byte
        decode_png(bytes(bad))


def test_pgm_decode():
    import numpy as np

    from mlforecast_spark.operators.multimodal import decode_image

    img = np.arange(24, dtype=np.uint8).reshape(4, 6)
    raw = b"P5\n# comment\n6 4\n255\n" + img.tobytes()
    got = decode_image(raw)
    assert got.shape == (4, 6) and (got == img).all()


def test_minhash_probe_candidates_matches_self_join(spark, docs):
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_probe_candidates,
        minhash_signatures,
        shingle_df,
    )

    sigs = minhash_signatures(shingle_df(docs, n=3, distinct=False)).cache()
    probe = sigs.filter(F.col("doc_id") <= 2)
    index = sigs.filter(F.col("doc_id") > 2)
    inc = minhash_probe_candidates(probe, index).toPandas()
    full = minhash_lsh_candidates(sigs).toPandas()
    cross_full = {
        (min(a, b), max(a, b), j)
        for a, b, j in full.itertuples(index=False)
        if (a <= 2) != (b <= 2)
    }
    cross_inc = {
        (min(a, b), max(a, b), j) for a, b, j in inc.itertuples(index=False)
    }
    assert cross_inc == cross_full
    # capped mode still returns the same candidates here (no degenerate buckets)
    capped = minhash_probe_candidates(probe, index, max_bucket_size=10).toPandas()
    assert {
        (min(a, b), max(a, b), j) for a, b, j in capped.itertuples(index=False)
    } == cross_full


def test_minhash_capped_first_band_matches_dropduplicates(spark):
    """Capped-mode pair dedup is a first-UNCAPPED-matching-band filter (no
    candidate-set shuffle); its output must be SET-identical to the old
    dropDuplicates formulation, including on a corpus where clone-heavy
    buckets actually exceed the cap."""
    from mlforecast_spark.operators.dedup import (
        _attach_est_jaccard,
        _band_buckets_expr,
        _cap_buckets,
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_df,
    )

    # 3 clone families (sizes 12, 6, 3) + distinct docs; cap=8 prunes the
    # 12-family's buckets so some pairs' earliest matching bands are capped
    rows = []
    did = 0
    for fam, size in (("alpha beta gamma delta epsilon zeta", 12),
                      ("one two three four five six seven", 6),
                      ("red green blue cyan magenta yellow", 3)):
        for k in range(size):
            rows.append((did, fam + f" tail{k % 2}"))
            did += 1
    for k in range(10):
        rows.append((did, f"unique document number {k} with words w{k} x{k} y{k} z{k}"))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(shingle_df(docs, n=2, distinct=False)).cache()
    for cap in (8, 3):
        new = minhash_lsh_candidates(sigs, max_bucket_size=cap)
        bands = sigs.select(
            F.col("doc_id"), _band_buckets_expr(8, 32).alias("_bks")
        ).select("doc_id", F.posexplode("_bks").alias("band", "bucket"))
        bands = _cap_buckets(bands, ["band", "bucket"], cap)
        a, b = bands.alias("a"), bands.alias("b")
        old_pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("signature").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("signature").alias("sig_b"))
        old = _attach_est_jaccard(old_pairs, sa, sb, "id_a", "id_b")
        assert new.exceptAll(old).count() == 0
        assert old.exceptAll(new).count() == 0
        assert new.count() > 0  # fixture actually produces candidates
    # exactly-once: no pair appears twice
    out = minhash_lsh_candidates(sigs, max_bucket_size=8).toPandas()
    assert not out.duplicated(["id_a", "id_b"]).any()


def test_simhash_capped_first_band_matches_dropduplicates(spark):
    """Capped-mode simhash candidates via the first-UNCAPPED-matching-chunk
    filter must equal the dropDuplicates formulation, on a corpus whose
    clone families actually overflow the cap."""
    from mlforecast_spark.operators.dedup import simhash, simhash_candidates

    rows = []
    did = 0
    for fam, size in (("alpha beta gamma delta epsilon zeta", 9),
                      ("one two three four five six seven", 5)):
        for k in range(size):
            rows.append((did, fam + f" tail{k % 2}"))
            did += 1
    for k in range(8):
        rows.append((did, f"unique document number {k} with w{k} x{k} y{k}"))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = simhash(docs).localCheckpoint(eager=True)
    for cap in (6, 3):
        new = simhash_candidates(fps, max_hamming=64, max_bucket_size=cap)
        # reference: capped banded join + dropDuplicates
        chunks = fps.select(
            "doc_id",
            "simhash",
            F.posexplode(
                F.array(*[
                    F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(
                        F.lit(0xFFFF).cast("long"))
                    for i in range(4)
                ])
            ).alias("ci", "ch"),
        )
        from pyspark.sql import Window as W
        w = W.partitionBy("ci", "ch")
        chunks = (chunks.withColumn("_bn", F.count(F.lit(1)).over(w))
                  .filter((F.col("_bn") >= 2) & (F.col("_bn") <= cap)))
        a, b = chunks.alias("a"), chunks.alias("b")
        old = (a.join(b, (F.col("a.ci") == F.col("b.ci"))
                      & (F.col("a.ch") == F.col("b.ch"))
                      & (F.col("a.doc_id") < F.col("b.doc_id")))
               .select(F.col("a.doc_id").alias("id_a"),
                       F.col("b.doc_id").alias("id_b"),
                       F.bit_count(F.col("a.simhash").bitwiseXOR(
                           F.col("b.simhash"))).alias("hamming"))
               .dropDuplicates(["id_a", "id_b"]))
        got = new.toPandas()
        ref = old.toPandas()
        got_set = set(map(tuple, got[["id_a", "id_b", "hamming"]].to_numpy()))
        ref_set = set(map(tuple, ref[["id_a", "id_b", "hamming"]].to_numpy()))
        assert got_set == ref_set
        assert len(got) > 0 and not got.duplicated(["id_a", "id_b"]).any()


def test_simhash_candidates_grouped_matches_rowspace(spark):
    """The r11 rep-space plan (band DISTINCT fingerprints, expand rep pairs
    back to id pairs) must be multiset-identical to the row-space banded
    join, capped and uncapped, on a corpus with clone families (identical
    fingerprints), near-dups, singletons, and null id / null fingerprint
    rows that must never form pairs."""
    from mlforecast_spark.operators.dedup import simhash_candidates

    rows = []
    did = 0
    # clone family: 7 docs, one fingerprint
    for _ in range(7):
        rows.append((did, 0x1234_5678_9ABC_DEF0)); did += 1
    # near family: hamming 1-2 off the clone fp
    for fp in (0x1234_5678_9ABC_DEF1, 0x1234_5678_9ABC_DEF3,
               0x1234_5678_9ABC_DEF1):
        rows.append((did, fp)); did += 1
    # second clone family sharing ONE 16-bit chunk with the first
    for _ in range(4):
        rows.append((did, 0x7777_8888_9ABC_0001)); did += 1
    # singletons
    for k in range(5):
        rows.append((did, 0x0F0F_0000_0000_0000 + (k << 20))); did += 1
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    # null rows: must be invisible to both plans
    nulls = spark.createDataFrame(
        [(None, 0x1234_5678_9ABC_DEF0), (999, None)],
        "doc_id long, simhash long",
    )
    fps = fps.unionByName(nulls)
    for cap in (None, 3, 10**9):
        for mh in (0, 3, 64):
            new = simhash_candidates(
                fps, max_hamming=mh, max_bucket_size=cap, group_identical=True
            ).collect()
            old = simhash_candidates(
                fps, max_hamming=mh, max_bucket_size=cap, group_identical=False
            ).collect()
            assert sorted(map(tuple, new)) == sorted(map(tuple, old)), (
                f"cap={cap} mh={mh}"
            )
    # the auto gate: flipping the conf floor to zero switches a tiny frame
    # onto the grouped plan and the result is unchanged
    auto = simhash_candidates(fps, max_hamming=3)
    spark.conf.set("spark.mlforecast.groupFingerprints.minBytes", "0")
    try:
        forced = simhash_candidates(fps, max_hamming=3)
        assert sorted(map(tuple, forced.collect())) == sorted(
            map(tuple, auto.collect())
        )
    finally:
        spark.conf.unset("spark.mlforecast.groupFingerprints.minBytes")


def test_minhash_candidates_grouped_matches_rowspace(spark):
    """The r11 rep-space LSH plan (band DISTINCT signatures, expand rep
    pairs) must be multiset-identical to the row-space plan — including
    est_jaccard values — on a corpus with clone families, near-dups and
    null rows, across cap settings and band counts."""
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_df,
    )

    rows = []
    did = 0
    # clone family: 6 identical docs (identical signatures, est 1.0)
    for _ in range(6):
        rows.append((did, "alpha beta gamma delta epsilon zeta eta theta")); did += 1
    # near family: shared prefix, varying tails (partial signature overlap)
    for k in range(5):
        rows.append((did, f"alpha beta gamma delta epsilon zeta tail{k} x{k}")); did += 1
    # second clone family
    for _ in range(3):
        rows.append((did, "one two three four five six seven eight nine")); did += 1
    # singletons + degenerate docs
    for k in range(4):
        rows.append((did, f"unique doc {k} with tokens w{k} y{k} z{k} q{k}")); did += 1
    rows.append((did, None)); did += 1
    rows.append((did, "  ")); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(shingle_df(docs, n=3, distinct=False))
    sig = sig.unionByName(
        spark.createDataFrame(
            [(None, [1, 2, 3, 4] * 8)], "doc_id long, signature array<bigint>"
        )
    )

    def canon(df):
        return sorted(
            (r[0], r[1], None if r[2] is None else round(r[2], 6))
            for r in df.collect()
        )

    for cap in (None, 4, 10**9):
        for nb in (8, 12):
            new = canon(minhash_lsh_candidates(
                sig, num_bands=nb, max_bucket_size=cap, group_identical=True
            ))
            old = canon(minhash_lsh_candidates(
                sig, num_bands=nb, max_bucket_size=cap, group_identical=False
            ))
            assert new == old, f"cap={cap} nb={nb}"


def _gif_lzw_encode(indices, min_code_size, uncompressed=False):
    """GIF LZW encoder for tests. ``uncompressed=True`` emits only literal
    codes with frequent CLEARs (trivially correct by construction, so it
    validates the decoder independently of the full encoder)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    emit(clear, width)
    if uncompressed:
        count = 0
        for i in indices:
            emit(int(i), width)
            count += 1
            if count == (1 << min_code_size) - 2:
                emit(clear, width)
                count = 0
        emit(eoi, width)
    else:
        table = {bytes([i]): i for i in range(clear)}
        next_code = clear + 2
        w = b""
        for i in indices:
            wk = w + bytes([int(i)])
            if wk in table:
                w = wk
                continue
            emit(table[w], width)
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            if next_code >= 4096:
                emit(clear, width)
                table = {bytes([i]): i for i in range(clear)}
                next_code = clear + 2
                width = min_code_size + 1
            w = bytes([int(i)])
        if w:
            emit(table[w], width)
        emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _build_gif(frames_spec, W, H, palette, min_code_size=2, uncompressed=False):
    """Assemble a GIF89a from (indices(h,w), left, top, transparent|None,
    disposal) frame specs with a single global palette."""
    import math
    import struct as st_

    n = len(palette)
    size_field = max(1, int(math.ceil(math.log2(n))) ) - 1 if n > 2 else 0
    table_n = 2 << size_field
    out = bytearray(b"GIF89a")
    out += st_.pack("<HH", W, H)
    out.append(0x80 | size_field)  # global table flag + size
    out += b"\x00\x00"  # bg index 0, aspect
    for i in range(table_n):
        out += bytes(palette[i] if i < n else (0, 0, 0))
    for idx, left, top, transparent, disposal in frames_spec:
        out += b"\x21\xf9\x04"  # graphic control ext
        packed = (disposal & 7) << 2 | (1 if transparent is not None else 0)
        out += bytes([packed, 0, 0, transparent if transparent is not None else 0])
        out.append(0)
        h, w = idx.shape
        out += b"\x2c" + st_.pack("<HHHH", left, top, w, h) + b"\x00"
        out.append(min_code_size)
        data = _gif_lzw_encode(idx.flatten(), min_code_size, uncompressed)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def test_gif_decode_roundtrip_and_frame_sampling():
    import numpy as np

    from mlforecast_spark.operators.multimodal import (
        decode_gif,
        decode_image,
        sample_gif_frames,
    )

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]
    rng = np.random.RandomState(4)
    idx1 = rng.randint(0, 4, size=(6, 8)).astype(np.uint8)
    # both encoders must decode to the same pixels
    for unc in (True, False):
        gif = _build_gif([(idx1, 0, 0, None, 0)], 8, 6, palette, uncompressed=unc)
        frames = decode_gif(gif)
        assert len(frames) == 1
        want = np.array(palette, np.uint8)[idx1]
        assert (frames[0] == want).all(), f"uncompressed={unc}"
    # dict growth beyond one width bump: a long repetitive sequence
    long_idx = np.tile(np.arange(4, dtype=np.uint8), 400).reshape(40, 40)
    gif = _build_gif([(long_idx, 0, 0, None, 0)], 40, 40, palette)
    assert (decode_gif(gif)[0] == np.array(palette, np.uint8)[long_idx]).all()
    # animation: second frame patches a region with transparency compositing
    patch = np.full((2, 3), 2, np.uint8)
    patch[0, 1] = 3
    gif2 = _build_gif(
        [(idx1, 0, 0, None, 0), (patch, 2, 1, 3, 0)], 8, 6, palette
    )
    f = decode_gif(gif2)
    assert len(f) == 2
    want2 = np.array(palette, np.uint8)[idx1].copy()
    want2[1:3, 2:5] = palette[2]
    want2[1, 3] = want2[1, 3]  # transparent pixel keeps frame-1 value
    exp = np.array(palette, np.uint8)[idx1].copy()
    exp[1:3, 2:5] = np.where(
        (patch != 3)[..., None], np.array(palette, np.uint8)[patch], exp[1:3, 2:5]
    )
    assert (f[1] == exp).all()
    # frame sampling + dispatch
    assert len(sample_gif_frames(gif2, 1)) == 1
    assert (decode_image(gif2) == f[0]).all()


def test_gif_interlaced():
    import numpy as np

    from mlforecast_spark.operators.multimodal import decode_gif

    palette = [(0, 0, 0), (255, 255, 255), (128, 0, 128), (0, 128, 128)]
    idx = (np.arange(16 * 4, dtype=np.uint8) % 4).reshape(16, 4)
    # interlace: store rows in pass order, set the interlace bit by hand
    order = [r for step, off in ((8, 0), (8, 4), (4, 2), (2, 1)) for r in range(off, 16, step)]
    stored = idx[order]
    gif = bytearray(_build_gif([(stored, 0, 0, None, 0)], 4, 16, palette))
    # image descriptor packed byte sits right after the 9-byte descriptor:
    # header(6)+lsd(7)+palette(12)+gce(8)+sep(1)+desc(8) -> offset of packed
    ofs = 6 + 7 + 4 * 3 + 8 + 1 + 8
    assert gif[ofs] == 0x00
    gif[ofs] = 0x40
    frames = decode_gif(bytes(gif))
    assert (frames[0] == np.array(palette, np.uint8)[idx]).all()


def test_sample_frames_through_spark(spark):
    import numpy as np

    from mlforecast_spark.operators.multimodal import sample_frames_and_featurize

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    rng = np.random.RandomState(2)
    specs = [
        (rng.randint(0, 4, size=(5, 5)).astype(np.uint8), 0, 0, None, 0)
        for _ in range(6)
    ]
    gif = _build_gif(specs, 5, 5, palette)
    rows = [(1, bytearray(gif))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = sample_frames_and_featurize(df, k=3).toPandas()
    assert len(out) == 3
    assert set(out["n_frames"]) == {6}
    assert sorted(out["frame_idx"]) == [0, 2, 5]  # evenly spaced with endpoints
    from mlforecast_spark.operators.multimodal import IMAGE_FEATURE_LEN

    assert all(len(f) == IMAGE_FEATURE_LEN for f in out["features"])


def test_quality_filter(spark):
    from mlforecast_spark.operators.text import quality_filter

    good = " ".join(f"word{i} text{i * 7 % 13} more{i % 11}" for i in range(20))
    rows = [
        (1, good),
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
        (3, "tiny doc"),
        (4, good.replace(" ", "!!!!!!!! ")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_filter(df, min_tokens=10).toPandas().set_index("doc_id")
    assert bool(out.loc[1, "keep"]) is True and list(out.loc[1, "drop_reasons"]) == []
    r2 = set(out.loc[2, "drop_reasons"])
    assert "repetitive_vocab" in r2 and "repetitive_bigrams" in r2
    assert "too_few_tokens" in set(out.loc[3, "drop_reasons"])
    assert "punct_heavy" in set(out.loc[4, "drop_reasons"])


def test_top_ngrams(spark, docs):
    from mlforecast_spark.operators.text import top_ngrams

    out = top_ngrams(docs, n=2, k=5).toPandas()
    assert len(out) == 5
    # "the quick"/"quick brown" appear in docs 1,2,3 -> 3 occurrences, 3 docs
    top = out.iloc[0]
    assert top["n_occurrences"] == 3 and top["n_docs"] == 3
    assert out["n_occurrences"].is_monotonic_decreasing


def test_url_stats(spark):
    from mlforecast_spark.operators.text import url_stats

    rows = [
        (1, "see https://example.com/a and https://example.com/b ok"),
        (2, "also http://example.com/c plus https://other.org/x"),
        (3, "no links here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = url_stats(df).toPandas().set_index("domain")
    assert out.loc["example.com", "n_urls"] == 3
    assert out.loc["example.com", "n_docs"] == 2
    assert out.loc["other.org", "n_urls"] == 1


def test_g711_wav_decode_vs_audioop():
    import struct as st_

    import numpy as np
    import pytest

    audioop = pytest.importorskip("audioop")
    from mlforecast_spark.operators.multimodal import decode_wav_any

    def wav_bytes(fmt_tag, payload, n_ch=1, rate=8000):
        fmt = st_.pack("<HHIIHH", fmt_tag, n_ch, rate, rate * n_ch, n_ch, 8)
        chunks = b"fmt " + st_.pack("<I", len(fmt)) + fmt
        chunks += b"data" + st_.pack("<I", len(payload)) + payload
        return b"RIFF" + st_.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    codes = bytes(range(256))
    for tag, expand in ((7, audioop.ulaw2lin), (6, audioop.alaw2lin)):
        arr, rate = decode_wav_any(wav_bytes(tag, codes))
        want = np.frombuffer(expand(codes, 2), "<i2").astype("float64") / 32768.0
        assert rate == 8000 and arr.shape == (256, 1)
        assert np.allclose(arr[:, 0], want, atol=1e-9), f"fmt {tag}"
    # PCM passthrough still works through the same entry point
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(st_.pack("<4h", 0, 1000, -1000, 32767))
    arr, rate = decode_wav_any(buf.getvalue())
    assert rate == 16000 and arr.shape == (4, 1)


def test_hash_sample_full_fraction(spark):
    """fraction=1.0 regression: the hex cutoff overflows 6 chars; the fix
    returns the frame unfiltered instead of silently keeping ~1/16."""
    from mlforecast_spark.operators.sampling import (
        hash_sample,
        stratified_hash_sample,
    )

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    assert hash_sample(df, 1.0).count() == 500
    strat = spark.createDataFrame(
        [(f"d{i}", "g") for i in range(30)], "doc_id string, grp string"
    )
    full = stratified_hash_sample(strat, ["grp"], k=5).toPandas()
    pre = stratified_hash_sample(
        strat, ["grp"], k=5, prefilter_fraction=1.0
    ).toPandas()
    key = ["grp", "sample_rank", "doc_id"]
    assert full.sort_values(key)[key].values.tolist() == pre.sort_values(key)[key].values.tolist()


def test_remove_boilerplate_preserves_blank_lines(spark):
    """Paragraph separators must survive boilerplate stripping."""
    from mlforecast_spark.operators.text import remove_boilerplate

    footer = "Copyright 2024 Example Corp"
    rows = [
        (1, f"para one\n\npara two\n{footer}"),
        (2, f"{footer}\nbody a\n\nbody b"),
        (3, f"{footer}\nx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_boilerplate(df, min_docs=3).toPandas().set_index("doc_id")
    assert out.loc[1, "text"] == "para one\n\npara two"
    assert out.loc[2, "text"] == "body a\n\nbody b"


def test_contamination_check(spark):
    from mlforecast_spark.operators.dedup import contamination_check

    eval_q = "what is the airspeed velocity of an unladen swallow in miles per hour"
    docs = spark.createDataFrame(
        [
            (1, f"intro text {eval_q} and some trailing words"),  # contains probe
            (2, "a completely unrelated document about spark physical plans"),
            (3, "what is the airspeed velocity of an unladen bird maybe"),  # partial
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(100, eval_q)], "probe_id long, text string")
    out = contamination_check(docs, probes, n=8).toPandas().set_index("doc_id")
    assert 1 in out.index and out.loc[1, "overlap_frac"] == 1.0
    assert 2 not in out.index
    # doc 3 shares < all 8-grams; with n=8 the partial match may or may not
    # surface — if it does, overlap must be partial
    if 3 in out.index:
        assert out.loc[3, "overlap_frac"] < 1.0


def _build_tiff(img, endian="<", compression=1, rows_per_strip=None, photometric=None):
    """Minimal strip-based TIFF writer for tests (8-bit gray or RGB)."""
    import struct as st_

    import numpy as np

    h, w = img.shape[:2]
    spp = img.shape[2] if img.ndim == 3 else 1
    rows_per_strip = rows_per_strip or h
    photometric = photometric if photometric is not None else (2 if spp == 3 else 1)

    def packbits(row_bytes):
        # literal-only encoding: runs of <=128 literal bytes
        out = bytearray()
        for i in range(0, len(row_bytes), 128):
            chunk = row_bytes[i : i + 128]
            out.append(len(chunk) - 1)
            out.extend(chunk)
        return bytes(out)

    strips = []
    flat = img.reshape(h, w * spp) if img.ndim == 3 else img
    for r0 in range(0, h, rows_per_strip):
        data = flat[r0 : r0 + rows_per_strip].tobytes()
        strips.append(packbits(data) if compression == 32773 else data)

    n_tags = 9
    header = st_.pack(endian + "2sHI", b"II" if endian == "<" else b"MM", 42, 8)
    ifd_size = 2 + 12 * n_tags + 4
    data_start = 8 + ifd_size
    extra = bytearray()

    def tag(tid, typ, count, value_or_offset, is_offset=False):
        # TIFF left-justifies inline values: a count-1 SHORT sits in the
        # first two bytes of the value field, which differs from a 4-byte
        # int under big-endian
        if typ == 3 and count == 1 and not is_offset:
            val = st_.pack(endian + "HH", value_or_offset, 0)
        else:
            val = st_.pack(endian + "I", value_or_offset)
        return st_.pack(endian + "HHI", tid, typ, count) + val

    # bits per sample array (goes to extra area when spp==3)
    if spp == 3:
        bits_off = data_start + len(extra)
        extra += st_.pack(endian + "HHH", 8, 8, 8) + b"\x00\x00"
        bits_entry = tag(258, 3, 3, bits_off, is_offset=True)
    else:
        bits_entry = st_.pack(endian + "HHI", 258, 3, 1) + st_.pack(endian + "HH", 8, 0)
    n_strips = len(strips)
    strip_offsets = []
    pos = data_start + len(extra) + (8 * n_strips if n_strips > 1 else 0) * 0
    # reserve arrays for offsets/counts when multiple strips
    if n_strips > 1:
        off_arr_pos = data_start + len(extra)
        extra += b"\x00" * (4 * n_strips)
        cnt_arr_pos = data_start + len(extra)
        extra += b"\x00" * (4 * n_strips)
    strip_data_pos = data_start + len(extra)
    cursor = strip_data_pos
    counts = []
    for s in strips:
        strip_offsets.append(cursor)
        counts.append(len(s))
        cursor += len(s)
    if n_strips > 1:
        for i, (o, c) in enumerate(zip(strip_offsets, counts)):
            extra[off_arr_pos - data_start + 4 * i : off_arr_pos - data_start + 4 * i + 4] = st_.pack(endian + "I", o)
            extra[cnt_arr_pos - data_start + 4 * i : cnt_arr_pos - data_start + 4 * i + 4] = st_.pack(endian + "I", c)
        t273 = tag(273, 4, n_strips, off_arr_pos)
        t279 = tag(279, 4, n_strips, cnt_arr_pos)
    else:
        t273 = tag(273, 4, 1, strip_offsets[0])
        t279 = tag(279, 4, 1, counts[0])
    entries = (
        tag(256, 4, 1, w)
        + tag(257, 4, 1, h)
        + bits_entry
        + tag(259, 3, 1, compression)
        + tag(262, 3, 1, photometric)
        + t273
        + tag(277, 3, 1, spp)
        + tag(278, 4, 1, rows_per_strip)
        + t279
    )
    ifd = st_.pack(endian + "H", n_tags) + entries + st_.pack(endian + "I", 0)
    return header + ifd + bytes(extra) + b"".join(strips)


def test_tiff_decode():
    import numpy as np
    import pytest

    from mlforecast_spark.operators.multimodal import decode_image, decode_tiff

    rng = np.random.RandomState(6)
    rgb = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, size=(6, 9), dtype=np.uint8)
    for endian in ("<", ">"):
        assert (decode_tiff(_build_tiff(rgb, endian)) == rgb).all(), endian
        assert (decode_tiff(_build_tiff(gray, endian)) == gray).all(), endian
    # multi-strip + PackBits
    assert (decode_tiff(_build_tiff(rgb, rows_per_strip=3)) == rgb).all()
    assert (decode_tiff(_build_tiff(rgb, compression=32773, rows_per_strip=2)) == rgb).all()
    # WhiteIsZero inversion
    assert (decode_tiff(_build_tiff(gray, photometric=0)) == 255 - gray).all()
    # dispatch + named gap
    assert (decode_image(_build_tiff(rgb)) == rgb).all()
    with pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(_build_tiff(rgb, compression=5))


def test_semantic_dedup_min_id(spark):
    """SemDeDup semantics with one list (all-pairs exact): near-identical
    vectors collapse to one min-id survivor, transitive chains (A~B~C with
    cos(A,C) below threshold) still dedup to ONE survivor, distinct vectors
    all survive as singletons."""
    import numpy as np
    from mlforecast_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    # 30 random gaussians in d=32: pairwise |cos| ~ N(0, 1/32) — far below
    # the 0.95 dup threshold with overwhelming margin
    rows = [(int(i), rng.normal(size=32)) for i in range(30)]
    # ids 100/101: exact copies of vector 0
    rows.append((100, rows[0][1].copy()))
    rows.append((101, rows[0][1].copy()))
    # ids 200/201/202: transitive chain in a dedicated 2-plane — consecutive
    # cos(0.25)=0.969 >= 0.95, endpoints cos(0.5)=0.878 < 0.95
    e1, e2 = np.zeros(32), np.zeros(32)
    e1[30], e2[31] = 1.0, 1.0
    theta = 0.25
    for j, t in enumerate([0.0, theta, 2 * theta]):
        rows.append((200 + j, 10.0 * (np.cos(t) * e1 + np.sin(t) * e2)))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = semantic_dedup(df, eps=0.05, n_lists=1, seed=1).toPandas().set_index("vec_id")
    assert len(out) == 35 and out["keep"].dtype == bool
    # exact-dup group {0, 100, 101}: only 0 survives
    assert bool(out.loc[0, "keep"]) and not out.loc[100, "keep"] and not out.loc[101, "keep"]
    assert out.loc[100, "cluster_id"] == 0 and out.loc[101, "cluster_id"] == 0
    assert out.loc[0, "cluster_size"] == 3
    # transitive chain {200, 201, 202}: one component, one survivor
    assert out.loc[201, "cluster_id"] == 200 and out.loc[202, "cluster_id"] == 200
    assert bool(out.loc[200, "keep"]) and not out.loc[201, "keep"] and not out.loc[202, "keep"]
    # the 29 other random vectors are singletons that survive
    singles = out.loc[list(range(1, 30))]
    assert singles["keep"].all() and (singles["cluster_size"] == 1).all()


def test_semantic_dedup_clustered_and_central(spark):
    """With n_lists > 1: exact copies are always co-assigned, so they still
    collapse; keep_policy='central' keeps exactly one per duplicate group
    (the member nearest its centroid)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(13)
    rows = [(int(i), rng.normal(size=32)) for i in range(60)]
    rows.append((500, rows[2][1].copy()))  # exact copy of 2
    rows.append((501, rows[2][1].copy()))  # exact copy of 2
    rows.append((502, rows[7][1].copy()))  # exact copy of 7
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    out = semantic_dedup(df, eps=0.02, n_lists=4, seed=2).toPandas().set_index("vec_id")
    assert len(out) == 63
    assert bool(out.loc[2, "keep"]) and not out.loc[500, "keep"] and not out.loc[501, "keep"]
    assert bool(out.loc[7, "keep"]) and not out.loc[502, "keep"]
    assert out["keep"].sum() == 60  # one survivor per distinct vector

    cen = (
        semantic_dedup(df, eps=0.02, n_lists=4, seed=2, keep_policy="central")
        .toPandas()
    )
    per = cen.groupby("cluster_id")["keep"].sum()
    assert (per == 1).all() and len(cen) == 63 and cen["keep"].sum() == 60

    with pytest.raises(ValueError, match="keep_policy"):
        semantic_dedup(df, eps=0.02, keep_policy="nope")
    with pytest.raises(ValueError, match="eps"):
        semantic_dedup(df, eps=1.5)


def test_mixture_sample(spark):
    """Domain mixture resampling: output composition tracks the target
    weights, the binding domain keeps ~all rows, the rule is deterministic,
    and no row is ever duplicated."""
    from mlforecast_spark.operators.sampling import mixture_sample

    rows = [(i, "web" if i < 6000 else ("code" if i < 7000 else "books"))
            for i in range(7500)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    # targets: books (500 rows) at 20% binds T at 2500 -> web ~1250, code ~750
    out = mixture_sample(
        df, "domain", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    pdf = out.toPandas()
    by = pdf.groupby("domain").size()
    assert by["books"] == 500  # binding domain keeps everything
    assert abs(by["web"] - 1250) < 100 and abs(by["code"] - 750) < 80
    # deterministic: same call returns the identical id set
    pdf2 = mixture_sample(
        df, "domain", {"web": 0.5, "code": 0.3, "books": 0.2}
    ).toPandas()
    assert set(pdf.doc_id) == set(pdf2.doc_id)
    assert pdf.doc_id.is_unique
    # subset of the keep set at full scale (hash-prefix rule is nested)
    half = mixture_sample(
        df, "domain", {"web": 0.5, "code": 0.3, "books": 0.2}, scale=0.5
    ).toPandas()
    assert set(half.doc_id) <= set(pdf.doc_id)
    # domains not in the target mixture are dropped
    assert set(pdf.domain) == {"web", "code", "books"}
    out2 = mixture_sample(df, "domain", {"web": 1.0}).toPandas()
    assert set(out2.domain) == {"web"} and len(out2) == 6000

    with pytest.raises(ValueError, match="absent"):
        mixture_sample(df, "domain", {"web": 0.5, "nope": 0.5})
    with pytest.raises(ValueError, match="scale"):
        mixture_sample(df, "domain", {"web": 1.0}, scale=0.0)
    with pytest.raises(ValueError, match="non-empty"):
        mixture_sample(df, "domain", {})


def test_pack_sequences_concat(spark):
    """Concat packing: every sequence except each shard's last is exactly
    full, every token is assigned exactly once, straddling docs split with
    consistent doc_start/slice_tokens spans."""
    import numpy as np
    from mlforecast_spark.operators.packing import pack_sequences, packing_stats

    rng = np.random.default_rng(7)
    rows = [(int(i), int(rng.integers(1, 900))) for i in range(300)]
    rows.append((999, 0))  # zero-token doc: dropped
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = pack_sequences(df, max_tokens=1024, num_shards=4).toPandas()
    total = sum(n for _, n in rows)
    assert out["slice_tokens"].sum() == total
    # each doc's slices reassemble the doc exactly
    per_doc = out.groupby("doc_id")["slice_tokens"].sum()
    for i, n in rows:
        if n > 0:
            assert per_doc[i] == n
        else:
            assert i not in per_doc.index
    # doc_start spans are contiguous from 0
    for did, g in out.groupby("doc_id"):
        g = g.sort_values("doc_start")
        assert g["doc_start"].iloc[0] == 0
        assert (g["doc_start"] + g["slice_tokens"]).iloc[:-1].tolist() == g[
            "doc_start"
        ].iloc[1:].tolist()
    # within each shard: all sequences but the last are exactly full
    per_seq = out.groupby(["shard", "seq"])["slice_tokens"].sum().reset_index()
    for sh, g in per_seq.groupby("shard"):
        last = g["seq"].max()
        assert (g[g.seq < last]["slice_tokens"] == 1024).all()
        assert g[g.seq == last]["slice_tokens"].iloc[0] <= 1024
    # offsets stay inside the budget
    assert ((out["offset_in_seq"] + out["slice_tokens"]) <= 1024).all()
    assert (out["offset_in_seq"] >= 0).all()
    # seq_id globally unique per (shard, seq)
    assert out.groupby("seq_id")[["shard", "seq"]].nunique().max().max() == 1
    # deterministic
    out2 = pack_sequences(df, max_tokens=1024, num_shards=4).toPandas()
    assert out.sort_values(["doc_id", "seq_id"]).reset_index(drop=True).equals(
        out2.sort_values(["doc_id", "seq_id"]).reset_index(drop=True)
    )
    stats = packing_stats(
        pack_sequences(df, max_tokens=1024, num_shards=4), 1024
    ).toPandas()
    assert stats["total_tokens"].iloc[0] == total
    assert 0.9 <= stats["mean_fill"].iloc[0] <= 1.0


def test_pack_sequences_greedy(spark):
    """Greedy packing: docs never split, sequences never exceed the budget,
    oversized docs are isolated and flagged."""
    import numpy as np
    from mlforecast_spark.operators.packing import pack_sequences

    rng = np.random.default_rng(9)
    rows = [(int(i), int(rng.integers(50, 700))) for i in range(200)]
    rows.append((900, 5000))  # oversized
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    out = pack_sequences(df, max_tokens=1024, mode="greedy", num_shards=3).toPandas()
    assert len(out) == 201  # one row per doc
    assert (out["doc_start"] == 0).all()
    big = out[out.doc_id == 900]
    assert bool(big["overflow"].iloc[0]) and len(big) == 1
    # oversized doc is alone in its sequence
    assert (out["seq_id"] == big["seq_id"].iloc[0]).sum() == 1
    # no non-overflow sequence exceeds the budget
    norm = out[~out.overflow]
    per_seq = norm.groupby("seq_id")["slice_tokens"].sum()
    assert (per_seq <= 1024).all()
    # offsets consistent with in-sequence layout
    for sid, g in norm.groupby("seq_id"):
        g = g.sort_values("offset_in_seq")
        pos = 0
        for _, r in g.iterrows():
            assert r["offset_in_seq"] == pos
            pos += r["slice_tokens"]

    with pytest.raises(ValueError, match="mode"):
        pack_sequences(df, max_tokens=10, mode="bogus")
    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(df, max_tokens=0)


def test_quality_classifier(spark):
    """Trainable quality gate: separates repetitive junk from normal prose
    on held-out docs; filter() keeps payload rows by semi-join."""
    from mlforecast_spark.operators.text import QualityClassifier

    import numpy as np

    rng = np.random.default_rng(17)
    words = ["alpha", "bridge", "cosmic", "delta", "ember", "forest",
             "granite", "harbor", "island", "jungle", "kernel", "lantern"]
    rows = []
    # class 1: varied prose
    for i in range(40):
        n = int(rng.integers(30, 60))
        rows.append((i, " ".join(rng.choice(words, size=n)) + ".", 1.0))
    # class 0: highly repetitive spam
    for i in range(40, 80):
        w = words[i % len(words)]
        n = int(rng.integers(30, 60))
        rows.append((i, " ".join([w, w + "!!!"] * n), 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    train = df.filter("doc_id % 4 != 0")
    test = df.filter("doc_id % 4 = 0")
    clf = QualityClassifier().fit(train)
    scored = clf.score(test).toPandas().set_index("doc_id")
    labels = {i: l for i, _, l in rows}
    acc = np.mean(
        [(scored.loc[i, "quality_prob"] >= 0.5) == (labels[i] == 1.0)
         for i in scored.index]
    )
    assert acc >= 0.9, acc
    kept = clf.filter(test, threshold=0.5).toPandas()
    assert set(kept.columns) == {"doc_id", "text", "label"}
    assert 0 < len(kept) < test.count()

    with pytest.raises(RuntimeError, match="before fit"):
        QualityClassifier().score(df)


def _smooth_rgb(h, w):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    r = (xx * 255.0 / max(w - 1, 1))
    g = (yy * 255.0 / max(h - 1, 1))
    b = ((xx + yy) * 255.0 / max(h + w - 2, 1))
    return np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype("uint8")


def test_jpeg_decode_roundtrip_444():
    """Baseline JPEG decode: encode a smooth RGB image with our test-only
    encoder (quant=1, 4:4:4) and recover it within DCT rounding error."""
    import numpy as np
    from mlforecast_spark.operators.multimodal import decode_image, decode_jpeg

    img = _smooth_rgb(40, 56)
    from tests._jpeg_encoder import encode_jpeg

    raw = encode_jpeg(img, quant=1)
    out = decode_jpeg(raw)
    assert out.shape == img.shape and out.dtype == np.uint8
    err = np.abs(out.astype(int) - img.astype(int))
    # quant=1 is near-lossless; color-space round trip costs a few counts
    assert err.mean() < 1.5 and err.max() <= 8, (err.mean(), err.max())
    # dispatch by magic bytes
    assert np.array_equal(decode_image(raw), out)


def test_jpeg_decode_grayscale_and_odd_dims():
    import numpy as np
    from mlforecast_spark.operators.multimodal import decode_jpeg
    from tests._jpeg_encoder import encode_jpeg

    rng = np.random.default_rng(3)
    img = np.clip(
        np.round(
            128 + 60 * np.sin(np.arange(23)[:, None] / 4.0)
            + 40 * np.cos(np.arange(17)[None, :] / 3.0)
        ),
        0,
        255,
    ).astype("uint8")
    raw = encode_jpeg(img, quant=1)
    out = decode_jpeg(raw)
    assert out.shape == (23, 17) and out.ndim == 2
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 3, err.max()
    # uniform image survives exactly (DC-only blocks)
    flat = np.full((16, 24), 130, "uint8")
    assert np.array_equal(decode_jpeg(encode_jpeg(flat, quant=1)), flat)
    # heavier quantization still decodes to something close on smooth data
    out8 = decode_jpeg(encode_jpeg(img, quant=8))
    assert np.abs(out8.astype(int) - img.astype(int)).mean() < 6


def test_jpeg_decode_420_subsampling():
    """4:2:0 chroma subsampling: luma near-exact, chroma within smooth-image
    subsampling error; odd dims crop correctly."""
    import numpy as np
    from mlforecast_spark.operators.multimodal import decode_jpeg
    from tests._jpeg_encoder import encode_jpeg

    img = _smooth_rgb(37, 45)
    raw = encode_jpeg(img, quant=1, subsample=True)
    out = decode_jpeg(raw)
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 4.0, err.mean()


def test_jpeg_decode_restart_markers():
    """DRI/RSTn: a restart-interval stream decodes identically to the same
    image without restarts."""
    import numpy as np
    from mlforecast_spark.operators.multimodal import decode_jpeg
    from tests._jpeg_encoder import encode_jpeg

    img = _smooth_rgb(32, 48)
    plain = decode_jpeg(encode_jpeg(img, quant=2))
    rst = decode_jpeg(encode_jpeg(img, quant=2, restart_interval=3))
    assert np.array_equal(plain, rst)


def test_jpeg_progressive_refused():
    import pytest as _pytest
    from mlforecast_spark.operators.multimodal import decode_jpeg

    # SOI + SOF2 header stub
    raw = b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x01\x11\x00\xff\xd9"
    with _pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(raw)


def test_jpeg_non_interleaved_refused():
    """A baseline color JPEG whose first scan covers only 1 of 3 components
    (non-interleaved, one scan per component) must refuse explicitly rather
    than silently returning the Y plane as grayscale."""
    import pytest as _pytest
    from mlforecast_spark.operators.multimodal import decode_jpeg

    sof0 = (b"\xff\xc0\x00\x11\x08\x00\x10\x00\x10\x03"
            b"\x01\x11\x00\x02\x11\x00\x03\x11\x00")
    sos = b"\xff\xda\x00\x08\x01\x01\x00\x00\x3f\x00"
    raw = b"\xff\xd8" + sof0 + sos + b"\xff\xd9"
    with _pytest.raises(NotImplementedError, match="non-interleaved"):
        decode_jpeg(raw)


def test_jpeg_through_spark(spark):
    """JPEG payloads decode for real inside the Arrow mapInPandas pass and
    report true dimensions/means."""
    import numpy as np
    from mlforecast_spark.operators.multimodal import (
        IMAGE_FEATURE_LEN,
        decode_and_featurize,
    )
    from tests._jpeg_encoder import encode_jpeg

    img = np.full((12, 10, 3), 180, dtype=np.uint8)
    rows = [(1, bytearray(encode_jpeg(img, quant=1))),
            (2, bytearray(encode_jpeg(_smooth_rgb(24, 16), quant=1, subsample=True)))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = (
        decode_and_featurize(df, fake=False)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    f1, f2 = out.loc[1, "features"], out.loc[2, "features"]
    assert len(f1) == IMAGE_FEATURE_LEN
    assert (f1[0], f1[1], f1[2]) == (12.0, 10.0, 3.0)
    assert all(abs(m - 180.0) <= 2.0 for m in f1[3:6])
    assert (f2[0], f2[1], f2[2]) == (24.0, 16.0, 3.0)


def test_repeated_spans(spark):
    """Cross-doc repeated w-token spans are found with exact token offsets;
    overlapping windows merge into one maximal span; unique text is never
    flagged."""
    from mlforecast_spark.operators.dedup import repeated_spans

    shared = "the quick brown fox jumps over the lazy dog again and again"  # 12 toks
    rows = [
        (1, "intro one two three " + shared + " tail a b c"),
        (2, "different lead in words here " + shared + " other ending words"),
        (3, "completely unrelated text with no overlap whatsoever at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_spans(df, window=5, min_docs=2).toPandas()
    assert set(out.doc_id) == {1, 2}
    d1 = out[out.doc_id == 1]
    d2 = out[out.doc_id == 2]
    # doc1: shared block is tokens 4..16 (0-based, 12 tokens); windows of 5
    # starting 4..11 merge into span [4, 16)
    assert len(d1) == 1 and d1.span_start.iloc[0] == 4 and d1.span_end.iloc[0] == 16
    assert d1.n_tokens.iloc[0] == 12
    # doc2: shared block starts at token 5
    assert len(d2) == 1 and d2.span_start.iloc[0] == 5 and d2.span_end.iloc[0] == 17

    with pytest.raises(ValueError, match="min_docs"):
        repeated_spans(df, window=5, min_docs=1)
    with pytest.raises(ValueError, match="window"):
        repeated_spans(df, window=0)


def test_remove_repeated_spans(spark):
    from mlforecast_spark.operators.dedup import remove_repeated_spans

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "intro one two three " + shared + " tail a b c"),
        (2, "different lead in words here " + shared + " other ending words"),
        (3, "completely unrelated text with no overlap whatsoever at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_repeated_spans(df, window=5, min_docs=2).toPandas().set_index("doc_id")
    assert out.loc[1, "text"] == "intro one two three tail a b c"
    assert out.loc[1, "n_removed_tokens"] == 12
    assert out.loc[2, "text"] == "different lead in words here other ending words"
    assert out.loc[2, "n_removed_tokens"] == 12
    # untouched doc passes through whole (whitespace-normalized)
    assert out.loc[3, "text"].startswith("completely unrelated")
    assert out.loc[3, "n_removed_tokens"] == 0
    # min_remain drops gutted docs
    kept = remove_repeated_spans(
        df, window=5, min_docs=2, min_remain=8
    ).toPandas()
    assert set(kept.doc_id) == {1, 3} or set(kept.doc_id) == {1, 2, 3}


def test_hash_split(spark):
    """Deterministic split: proportions track weights, assignment is stable
    under corpus growth, and keying by cluster id keeps duplicate clusters
    in one split."""
    from mlforecast_spark.operators.sampling import hash_split

    df = spark.createDataFrame(
        [(i,) for i in range(5000)], "doc_id long"
    )
    out = hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}).toPandas()
    by = out.groupby("split").size()
    assert abs(by["train"] - 4000) < 150
    assert abs(by["val"] - 500) < 80 and abs(by["test"] - 500) < 80
    # growth-stable: the same keys keep their split in a larger corpus
    bigger = spark.createDataFrame([(i,) for i in range(8000)], "doc_id long")
    out2 = hash_split(bigger, {"train": 0.8, "val": 0.1, "test": 0.1}).toPandas()
    merged = out.merge(out2, on="doc_id", suffixes=("_a", "_b"))
    assert (merged.split_a == merged.split_b).all()
    # leakage-safe: split on cluster_id -> all cluster members together
    cl = spark.createDataFrame(
        [(i, i // 10) for i in range(1000)], "doc_id long, cluster_id long"
    )
    sp = hash_split(cl, {"train": 0.5, "test": 0.5}, key_col="cluster_id").toPandas()
    assert (sp.groupby("cluster_id")["split"].nunique() == 1).all()

    with pytest.raises(ValueError, match="non-empty"):
        hash_split(df, {})


def test_mixture_sample_int_domain(spark):
    """Non-string domain columns work (cutoff frame typed from the input
    schema)."""
    from mlforecast_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(3000)], "doc_id long, bucket int"
    )
    out = mixture_sample(df, "bucket", {0: 0.5, 1: 0.25, 2: 0.25}).toPandas()
    by = out.groupby("bucket").size()
    # bucket 0 binds (1000/0.5 = 2000 < 4000): keeps all 1000
    assert by[0] == 1000
    assert abs(by[1] - 500) < 80 and abs(by[2] - 500) < 80


def test_write_training_shards(spark, tmp_path):
    import numpy as np
    from mlforecast_spark.operators.packing import (
        pack_sequences,
        write_training_shards,
    )

    rng = np.random.default_rng(21)
    rows = [(i, f"doc number {i} " + "tok " * int(rng.integers(5, 40)))
            for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counted = docs.selectExpr(
        "doc_id", "size(filter(split(text, ' +'), x -> length(x) > 0)) AS n_tokens"
    )
    packed = pack_sequences(counted, max_tokens=64, num_shards=3)
    path = str(tmp_path / "shards")
    write_training_shards(packed, docs, path)
    back = spark.read.parquet(path)
    assert back.count() == packed.count()
    assert {"seq", "seq_id", "offset_in_seq", "doc_start", "slice_tokens",
            "doc_id", "text", "shard"} <= set(back.columns)
    # shard partition dirs exist and contain every shard id
    import os as _os
    dirs = {d for d in _os.listdir(path) if d.startswith("shard=")}
    got_shards = {r[0] for r in back.select("shard").distinct().collect()}
    assert dirs == {f"shard={s}" for s in got_shards}


def test_minhash_recall_estimate(spark):
    """The measured-recall tool: on a corpus of planted near-dups plus
    random docs, recall of true pairs is high and the report's counting is
    internally consistent."""
    import numpy as np
    from mlforecast_spark.operators.dedup import minhash_recall_estimate

    rng = np.random.default_rng(23)
    words = [f"w{i}" for i in range(300)]
    rows = []
    for i in range(40):
        base = list(rng.choice(words, size=40))
        rows.append((2 * i, " ".join(base)))
        near = list(base)
        near[3] = "CHANGED"  # one-token edit -> high jaccard twin
        rows.append((2 * i + 1, " ".join(near)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = minhash_recall_estimate(
        df, threshold=0.6, sample_fraction=1.0, num_hashes=64, num_bands=16
    ).toPandas().iloc[0]
    assert rep.sample_docs == 80
    assert rep.true_pairs >= 35  # the planted twins
    assert rep.caught_pairs <= rep.true_pairs
    assert rep.caught_pairs <= rep.candidate_pairs
    assert rep.recall >= 0.9, rep.recall


def test_chunk_documents(spark):
    """Overlapping chunking: full token coverage, correct overlap, short
    docs produce one chunk, stride/offset arithmetic is exact."""
    from mlforecast_spark.operators.text import chunk_documents

    words = [f"t{i}" for i in range(100)]
    rows = [
        (1, " ".join(words)),          # 100 tokens
        (2, "just a few tokens"),      # 4 tokens -> one chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, chunk_tokens=32, overlap=8).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id").reset_index(drop=True)
    # starts: 0, 24, 48, 72, 96 -> ceil((100-8)/24) = 4? (92/24=3.83 -> 4)
    assert list(d1.chunk_start) == [0, 24, 48, 72]
    assert list(d1.n_chunk_tokens) == [32, 32, 32, 28]
    # overlap: last 8 tokens of chunk k == first 8 of chunk k+1
    for i in range(len(d1) - 1):
        a = d1.chunk_text[i].split()[-8:]
        b = d1.chunk_text[i + 1].split()[:8]
        assert a == b
    # every token covered
    covered = set()
    for _, r in d1.iterrows():
        covered.update(range(r.chunk_start, r.chunk_start + r.n_chunk_tokens))
    assert covered == set(range(100))
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.n_chunk_tokens.iloc[0] == 4
    assert d2.chunk_text.iloc[0] == "just a few tokens"

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=16, overlap=16)
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0)


def test_pool_chunk_embeddings(spark):
    """Mean pooling of chunk embeddings: unweighted = arithmetic mean,
    weighted respects weights, normalize yields unit vectors, dimension
    order survives the collect_list."""
    import numpy as np
    from mlforecast_spark.operators.similarity import pool_chunk_embeddings

    rows = [
        (1, [1.0, 0.0, 3.0], 1),
        (1, [3.0, 2.0, 5.0], 1),
        (2, [0.0, 4.0, 0.0], 2),
        (2, [6.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<double>, n_chunk_tokens int"
    )
    raw = (
        pool_chunk_embeddings(df, normalize=False)
        .toPandas()
        .set_index("doc_id")
    )
    np.testing.assert_allclose(raw.loc[1, "embedding"], [2.0, 1.0, 4.0])
    np.testing.assert_allclose(raw.loc[2, "embedding"], [3.0, 2.0, 0.0])
    wt = (
        pool_chunk_embeddings(df, weight_col="n_chunk_tokens", normalize=False)
        .toPandas()
        .set_index("doc_id")
    )
    np.testing.assert_allclose(wt.loc[2, "embedding"], [2.0, 8.0 / 3.0, 0.0])
    unit = pool_chunk_embeddings(df).toPandas().set_index("doc_id")
    for i in (1, 2):
        np.testing.assert_allclose(
            np.linalg.norm(unit.loc[i, "embedding"]), 1.0, rtol=1e-12
        )


def test_stream_near_dedup(spark, tmp_path):
    """Incremental near-dup dedup across micro-batches: batch-internal
    near-dups collapse, later batches dedup against the persisted index,
    novel docs always survive, restarts keep the index."""
    import glob
    import os

    import pandas as pd
    from mlforecast_spark.streaming import stream_near_dedup

    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    base = " ".join(f"tok{i}" for i in range(30))  # long doc: 1-token edits
    near = base.replace("tok7", "EDITED")     # stay at jaccard ~0.9
    other = "completely different words about spark streaming and parquet files"

    def run_batch(rows):
        if rows:
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_near_dedup(
            stream, idx, out, ckpt, threshold=0.5, num_hashes=32, num_bands=8
        )
        q.awaitTermination(180)

    # batch 1: base + its twin (internal near-dup) + a distinct doc
    run_batch([(1, base), (2, near), (3, other)])
    got1 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert set(got1.doc_id) == {1, 3}  # twin collapsed, min id wins

    # batch 2 (fresh query, same checkpoint/index): a near-dup of batch 1's
    # base is dropped against the INDEX; a novel doc survives
    run_batch([(10, base.replace("tok20", "CHANGED")), (11, "entirely novel "
               "text with nothing shared at all among previous documents")])
    got2 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert set(got2.doc_id) == {1, 3, 11}
    # index holds exactly the survivors' signatures
    idx_df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{idx}/batch_id=*/*.parquet")]
    )
    assert set(idx_df.doc_id) == {1, 3, 11}

    # replay: drop batch 1's checkpoint commit (simulates a crash between
    # the output write and the commit) and restart with no new data — the
    # replayed batch must OVERWRITE its own directory, not append dupes,
    # and must not match against its own earlier partial index write
    for f in glob.glob(f"{ckpt}/commits/1*") + glob.glob(f"{ckpt}/commits/.1*"):
        os.remove(f)
    run_batch([])
    got3 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert sorted(got3.doc_id) == [1, 3, 11]  # exact, no duplicates
    idx3 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{idx}/batch_id=*/*.parquet")]
    )
    assert sorted(idx3.doc_id) == [1, 3, 11]


def test_stream_near_dedup_midbatch_kill(spark, tmp_path):
    """Forced-kill simulation: a batch dies MID-write — its output dir holds
    a partial (even garbage) parquet and its index dir is missing entirely
    (crash between the two step-3 writes), and no commit was recorded. The
    replay must REPLACE the partial output wholesale and rebuild the index
    dir — no duplicates, no leftover partial rows."""
    import glob
    import os
    import shutil

    import pandas as pd
    from mlforecast_spark.streaming import stream_near_dedup

    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    base = " ".join(f"tok{i}" for i in range(30))
    other = "completely different words about spark streaming and parquet files"

    def run_batch(rows):
        if rows:
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_near_dedup(
            stream, idx, out, ckpt, threshold=0.5, num_hashes=32, num_bands=8
        )
        q.awaitTermination(180)

    run_batch([(1, base), (3, other)])  # batch 0
    run_batch([(10, base.replace("tok20", "CHANGED")), (11, "entirely novel "
               "text sharing nothing with any previous document at all")])

    # forced kill during batch 1's (replayed) execution: commit marker gone,
    # output dir left with a PARTIAL write (one bogus surviving row), index
    # dir for the batch missing entirely
    for f in glob.glob(f"{ckpt}/commits/1*") + glob.glob(f"{ckpt}/commits/.1*"):
        os.remove(f)
    shutil.rmtree(f"{out}/batch_id=1")
    spark.createDataFrame(
        [(999, "partial garbage row from the killed attempt")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(f"{out}/batch_id=1")
    shutil.rmtree(f"{idx}/batch_id=1")

    run_batch([])  # restart with no new data -> batch 1 replays

    got = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert sorted(got.doc_id) == [1, 3, 11]  # garbage gone, no dupes
    idx_df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{idx}/batch_id=*/*.parquet")]
    )
    assert sorted(idx_df.doc_id) == [1, 3, 11]  # index dir rebuilt


def test_semantic_dedup_target_list_size(spark):
    """target_list_size derives n_lists from the corpus so the quadratic
    within-list term stays bounded; exact copies still collapse."""
    import numpy as np
    from mlforecast_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(31)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(300)]
    rows.append((900, rows[5][1]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_dedup(df, eps=0.02, target_list_size=50, seed=3).toPandas()
    # ~301/50 -> 7 lists actually used by assignment (k-means may leave some
    # empty); just require multiple lists and correct dedup semantics
    assert out["list_id"].nunique() >= 3
    got = out.set_index("vec_id")
    assert bool(got.loc[5, "keep"]) and not got.loc[900, "keep"]
    assert out["keep"].sum() == 300

    with pytest.raises(ValueError, match="target_list_size"):
        semantic_dedup(df, eps=0.02, target_list_size=0)

    # DEFAULT args: n_lists derives from the corpus (301 vecs / 1024 target
    # -> 1 list) so the 100x fixed-list-count cliff can't happen by default
    out_d = semantic_dedup(df, eps=0.02, seed=3).toPandas()
    assert out_d["list_id"].nunique() == 1
    assert out_d["keep"].sum() == 300


def test_semantic_dedup_derived_n_lists():
    """The default list-count derivation scales with the corpus: 10x the
    vectors -> ~10x the lists, so mean list size (and the within-list
    quadratic term) stays constant."""
    from mlforecast_spark.operators.similarity import _derive_n_lists

    assert _derive_n_lists(10_000, 1024) == 10
    assert _derive_n_lists(100_000, 1024) == 98
    assert _derive_n_lists(1_000_000, 1024) == 977
    assert _derive_n_lists(5, 1024) == 1
    assert _derive_n_lists(0, 1024) == 1


def test_jpeg_decode_422_subsampling():
    """4:2:2 (horizontal-only chroma halving): asymmetric sampling factors
    exercise the general upsampler path."""
    import numpy as np
    from mlforecast_spark.operators.multimodal import decode_jpeg
    from tests._jpeg_encoder import encode_jpeg

    img = _smooth_rgb(29, 41)
    out = decode_jpeg(encode_jpeg(img, quant=1, subsample="422"))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 3.0, err.mean()


def test_ivf_sampled_trainer_deterministic_and_bounded(spark):
    """trainer='sample' (default): the driver-side k-means must be
    deterministic for a fixed seed, honor max_train_points, and assign the
    FULL corpus (the cap bounds training only)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import build_ivf_index

    rng = np.random.RandomState(11)
    centers = rng.randn(3, 8) * 6
    rows = [
        (i, (centers[i % 3] + rng.randn(8) * 0.1).astype(float).tolist())
        for i in range(90)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a = build_ivf_index(vecs, n_lists=3, seed=5, max_train_points=40)
    b = build_ivf_index(vecs, n_lists=3, seed=5, max_train_points=40)
    pa = a.assigned.toPandas().sort_values("vec_id").reset_index(drop=True)
    pb = b.assigned.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert pa["list_id"].tolist() == pb["list_id"].tolist()
    assert len(pa) == 90  # full corpus assigned despite the 40-point cap
    # the three planted blobs should land in three distinct lists
    assert pa["list_id"].nunique() == 3
    blob = pa.assign(src=pa["vec_id"] % 3).groupby("src")["list_id"].nunique()
    assert (blob == 1).all()

    ca = [list(c) for c in a.centroids.toPandas().sort_values("list_id")["center"]]
    cb = [list(c) for c in b.centroids.toPandas().sort_values("list_id")["center"]]
    assert ca == cb


def test_ivf_sampled_trainer_fewer_points_than_lists(spark):
    """n < k sample: every point becomes a center, surplus lists stay empty,
    and search still works."""
    import numpy as np
    from mlforecast_spark.operators.similarity import build_ivf_index, ivf_search

    rng = np.random.RandomState(2)
    rows = [(i, rng.randn(4).astype(float).tolist()) for i in range(3)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    index = build_ivf_index(vecs, n_lists=8, seed=1)
    assigned = index.assigned.toPandas()
    assert len(assigned) == 3
    out = ivf_search(index, vecs, k=2, nprobe=8).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id").size() == 2).all()


def test_ivf_trainer_validation_and_mllib_parity(spark):
    """Unknown trainer rejected at plan time; trainer='mllib' still builds a
    working index whose full-probe search matches the sampled trainer's
    (full probe == brute force, independent of the quantizer)."""
    import numpy as np
    import pytest as _pytest
    from mlforecast_spark.operators.similarity import build_ivf_index, ivf_search

    rng = np.random.RandomState(9)
    rows = [(i, rng.randn(6).astype(float).tolist()) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="trainer"):
        build_ivf_index(vecs, n_lists=4, trainer="faiss")

    q = vecs.filter(F.col("vec_id") < 5)
    key = ["query_id", "rank"]
    got = {}
    for tr in ("sample", "mllib"):
        idx = build_ivf_index(vecs, n_lists=4, seed=7, trainer=tr)
        got[tr] = (
            ivf_search(idx, q, k=3, nprobe=4)
            .toPandas()
            .sort_values(key)
            .reset_index(drop=True)
        )
    assert got["sample"]["neighbor_id"].tolist() == got["mllib"]["neighbor_id"].tolist()
    assert got["sample"]["cosine"].tolist() == got["mllib"]["cosine"].tolist()


def test_pq_adc_exact_when_subvectors_are_codewords(spark):
    """Vectors assembled from codewords quantize losslessly, so ADC == the
    exact L2 ranking."""
    import numpy as np
    from mlforecast_spark.operators.similarity import PQIndex, build_pq_index, pq_search

    rng = np.random.RandomState(4)
    m, kcodes, dsub = 2, 4, 3
    words = rng.randn(m, kcodes, dsub) * 3
    picks = rng.randint(0, kcodes, size=(60, m))
    X = np.concatenate([words[j][picks[:, j]] for j in range(m)], axis=1)
    rows = [(int(i), [float(x) for x in X[i]]) for i in range(len(X))]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = vecs.filter(F.col("vec_id") < 5)

    idx = build_pq_index(
        vecs, m=m, k=kcodes, normalize=False, seed=11, max_iter=25
    )
    got = pq_search(idx, q, k=4).toPandas()
    for qi in range(5):
        d = ((X - X[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        order = np.lexsort((np.arange(len(X)), np.round(d, 9)))[:4]
        mine = (
            got[got["query_id"] == qi].sort_values("rank")["neighbor_id"].tolist()
        )
        want_d = sorted(np.round(d[order], 6))
        mine_d = sorted(
            np.round(((X[mine] - X[qi]) ** 2).sum(axis=1), 6)
        )
        assert want_d == mine_d, (qi, want_d, mine_d)


def test_pq_cosine_recall_on_clustered_corpus(spark):
    import numpy as np
    from mlforecast_spark.operators.similarity import (
        build_pq_index,
        cosine_topk,
        pq_search,
    )

    rng = np.random.RandomState(9)
    centers = rng.randn(5, 16) * 4
    rows = []
    for i in range(300):
        c = i % 5
        rows.append((i, (centers[c] + rng.randn(16) * 0.3).astype(float).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = vecs.filter(F.col("vec_id") < 10)

    exact = cosine_topk(vecs, q, k=10).toPandas()
    idx = build_pq_index(vecs, m=4, k=64, seed=3)
    approx = pq_search(idx, q, k=10).toPandas()

    # within a tight cluster the top-10 are near-ties (cosine ~0.999+), so
    # set recall is the wrong bar for ADC — measure retrieval QUALITY: the
    # true cosine of what PQ returned must match the exact top-10's
    X = np.stack([np.array(r[1]) for r in rows])
    U = X / np.linalg.norm(X, axis=1)[:, None]
    for qi in range(10):
        got_ids = approx[approx["query_id"] == qi]["neighbor_id"].to_numpy()
        want_ids = exact[exact["query_id"] == qi]["neighbor_id"].to_numpy()
        got_cos = (U[got_ids] @ U[qi]).mean()
        want_cos = (U[want_ids] @ U[qi]).mean()
        assert got_cos >= want_cos - 0.005, (qi, got_cos, want_cos)
        # and every retrieved neighbor comes from the query's own cluster
        assert set(got_ids % 5) == {qi % 5}


def test_pq_index_save_load_and_determinism(spark, tmp_path):
    import numpy as np
    from mlforecast_spark.operators.similarity import PQIndex, build_pq_index, pq_search

    rng = np.random.RandomState(2)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(50)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = build_pq_index(vecs, m=2, k=8, seed=5)
    b = build_pq_index(vecs, m=2, k=8, seed=5)
    assert np.array_equal(a.codebooks, b.codebooks)
    ca = a.codes.toPandas().sort_values("vec_id").reset_index(drop=True)
    cb = b.codes.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert [list(c) for c in ca["code"]] == [list(c) for c in cb["code"]]

    path = str(tmp_path / "pq")
    a.save(path)
    loaded = PQIndex.load(spark, path)
    assert np.allclose(loaded.codebooks, a.codebooks)
    assert loaded.normalize == a.normalize
    q = vecs.filter(F.col("vec_id") < 3)
    key = ["query_id", "rank"]
    r1 = pq_search(a, q, k=5).toPandas().sort_values(key)
    r2 = pq_search(loaded, q, k=5).toPandas().sort_values(key)
    assert r1["neighbor_id"].tolist() == r2["neighbor_id"].tolist()


def test_pq_validation(spark):
    import numpy as np
    from mlforecast_spark.operators.similarity import build_pq_index

    rng = np.random.RandomState(1)
    rows = [(i, rng.randn(10).astype(float).tolist()) for i in range(20)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="divisible"):
        build_pq_index(vecs, m=3, k=4)
    with pytest.raises(ValueError, match="m >= 1"):
        build_pq_index(vecs, m=0, k=4)


def test_ivfpq_search_composes(spark):
    """IVFPQ == PQ ADC restricted to the probed lists: with nprobe ==
    n_lists it must equal flat pq_search; with nprobe=1 every result's
    neighbor must come from the query's own (clustered) region."""
    import numpy as np
    from mlforecast_spark.operators.similarity import (
        build_ivf_index,
        build_pq_index,
        ivfpq_search,
        pq_search,
    )

    rng = np.random.RandomState(6)
    centers = rng.randn(4, 8) * 6
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(8) * 0.2).astype(float).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = vecs.filter(F.col("vec_id") < 6)

    ivf = build_ivf_index(vecs, n_lists=4, seed=7)
    pq = build_pq_index(vecs, m=4, k=32, seed=7)

    key = ["query_id", "rank"]
    full = ivfpq_search(ivf, pq, q, k=5, nprobe=4).toPandas().sort_values(key)
    flat = pq_search(pq, q, k=5).toPandas().sort_values(key)
    assert full["neighbor_id"].tolist() == flat["neighbor_id"].tolist()

    one = ivfpq_search(ivf, pq, q, k=5, nprobe=1).toPandas()
    assert (one.groupby("query_id").size() == 5).all()
    # clusters are planted on vec_id % 4; nprobe=1 must stay in-cluster
    assert (one["neighbor_id"] % 4 == one["query_id"] % 4).all()


def test_stream_semantic_dedup(spark, tmp_path):
    """Streaming embedding near-dedup: batch-internal semantic dups
    collapse, later batches probe the persisted index under SHARED
    centroids, novel vectors survive, and the index grows only with
    survivors."""
    import glob
    import os

    import numpy as np
    import pandas as pd
    from mlforecast_spark.streaming import stream_semantic_dedup

    src = str(tmp_path / "src")
    idx = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    rng = np.random.RandomState(5)
    a = rng.randn(8)
    b = rng.randn(8)

    def v(x, noise=0.0):
        arr = x + noise * rng.randn(8) * 0.001
        return [float(t) for t in arr]

    def run_batch(rows):
        if rows:
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).parquet(src)
        q = stream_semantic_dedup(
            stream, idx, out, ckpt, eps=0.01, n_lists=2, nprobe=2
        )
        q.awaitTermination(180)

    # batch 1: a + its twin (internal dup) + a distinct direction
    run_batch([(1, v(a)), (2, v(a, noise=1)), (3, v(b))])
    got1 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert set(got1.vec_id) == {1, 3}

    # batch 2: a near-dup of batch 1's `a` drops against the index; a novel
    # direction survives
    c = rng.randn(8)
    run_batch([(10, v(a, noise=1)), (11, v(c))])
    got2 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert set(got2.vec_id) == {1, 3, 11}
    idx_df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{idx}/lists/batch_id=*/*.parquet")]
    )
    assert set(idx_df.vec_id) == {1, 3, 11}
    # the shared centroids were written exactly once
    assert os.path.isdir(f"{idx}/centroids")

    # replay: drop batch 1's checkpoint commit (crash between the output
    # write and the commit) and restart with no new data — the replayed
    # batch must OVERWRITE its own batch directory, not append, and must
    # not dedup against its own earlier partial index write
    for f in glob.glob(f"{ckpt}/commits/1*") + glob.glob(f"{ckpt}/commits/.1*"):
        os.remove(f)
    run_batch([])
    got3 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert sorted(got3.vec_id) == [1, 3, 11]
    idx3 = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{idx}/lists/batch_id=*/*.parquet")]
    )
    assert sorted(idx3.vec_id) == [1, 3, 11]


def test_optimal_bands_s_curve():
    """The chosen (b, r) must put the S-curve's steep zone at the threshold:
    high candidate probability just above it, low just below; and higher
    thresholds must select more rows per band (fewer bands)."""
    from mlforecast_spark.operators.dedup import optimal_bands

    b, r = optimal_bands(128, 0.5)
    assert b * r <= 128
    p = lambda s: 1.0 - (1.0 - s**r) ** b
    assert p(0.7) > 0.9
    assert p(0.3) < 0.35
    b_hi, r_hi = optimal_bands(128, 0.9)
    assert r_hi >= r  # stricter threshold -> longer bands
    b_fp, r_fp = optimal_bands(128, 0.5, fp_weight=0.95)
    assert r_fp >= r  # punishing false positives -> longer bands

    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        optimal_bands(128, 1.5)


def test_corpus_stats_sketches(spark):
    """Sketch-based corpus profile: exact counts where exact, HLL vocab
    within its error bound, quantiles bracketed by the data."""
    rows = [
        (0, "a b c d e"),
        (1, "a a a b"),
        (2, " ".join(f"w{i}" for i in range(20))),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from mlforecast_spark.operators.text import corpus_stats

    out = corpus_stats(df).toPandas().iloc[0]
    assert out["n_docs"] == 3  # the null-text doc has no tokens
    assert out["n_tokens"] == 5 + 4 + 20
    true_vocab = 5 + 1 + 20 - 1  # 'a' and 'b' shared between docs 0/1
    assert abs(out["approx_vocab"] - true_vocab) <= max(2, 0.1 * true_vocab)
    assert out["p50_doc_tokens"] in (4, 5)
    assert out["p99_doc_tokens"] == 20
    assert 0 < out["type_token_ratio_est"] <= 1.001


def test_pq_self_match_excluded_before_cut(spark):
    """Self-matches must be masked BEFORE the per-batch top-k: with the
    whole corpus in one partition and queries drawn from the corpus, each
    query still gets k full results (regression: a post-truncation filter
    silently dropped the true k-th neighbor)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import build_pq_index, pq_search

    rng = np.random.RandomState(8)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    q = vecs.filter(F.col("vec_id") < 5)
    idx = build_pq_index(vecs, m=2, k=16, seed=4)
    out = pq_search(idx, q, k=4).toPandas()
    assert (out.groupby("query_id").size() == 4).all()
    assert (out["query_id"] != out["neighbor_id"]).all()


def test_pq_mixed_id_types(spark):
    """String-keyed queries against a long-keyed index (ivf_search's
    documented mixed-type case) must work for PQ too (regression: the SQL
    self-filter forced an invalid cast)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import build_pq_index, pq_search

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).astype(float).tolist()) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = build_pq_index(vecs, m=2, k=8, seed=2)
    qrows = [(f"q{i}", rng.randn(8).astype(float).tolist()) for i in range(3)]
    q = spark.createDataFrame(qrows, "vec_id string, embedding array<double>")
    out = pq_search(idx, q, k=5).toPandas()
    assert (out.groupby("query_id").size() == 5).all()
    assert set(out["query_id"]) == {"q0", "q1", "q2"}


def test_ivfpq_per_query_list_confinement(spark):
    """Each query ranks only against its OWN probed lists: a query's
    results must be identical whether it shares the batch with far-away
    queries or runs alone (regression: pruning to the UNION of probed
    lists let queries see each other's lists)."""
    import numpy as np
    from mlforecast_spark.operators.similarity import (
        build_ivf_index,
        build_pq_index,
        ivfpq_search,
    )

    rng = np.random.RandomState(13)
    centers = rng.randn(3, 8) * 8
    rows = []
    for i in range(150):
        c = i % 3
        rows.append((i, (centers[c] + rng.randn(8) * 0.2).astype(float).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = build_ivf_index(vecs, n_lists=3, seed=5)
    pq = build_pq_index(vecs, m=4, k=32, seed=5)

    both = vecs.filter(F.col("vec_id").isin([0, 1]))  # clusters 0 and 1
    key = ["query_id", "rank"]
    together = (
        ivfpq_search(ivf, pq, both, k=5, nprobe=1).toPandas().sort_values(key)
    )
    for qid in (0, 1):
        alone = (
            ivfpq_search(
                ivf, pq, vecs.filter(F.col("vec_id") == qid), k=5, nprobe=1
            )
            .toPandas()
            .sort_values(key)
        )
        mine = together[together["query_id"] == qid]
        assert mine["neighbor_id"].tolist() == alone["neighbor_id"].tolist()


def test_temperature_weights_rebalance(spark):
    """w_d ∝ n_d^alpha: alpha=1 reproduces the natural mix, alpha=0 is
    uniform, intermediate alpha upweights the small domain; feeds
    mixture_sample directly."""
    import math

    from mlforecast_spark.operators.sampling import mixture_sample, temperature_weights

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")

    w1 = temperature_weights(df, "domain", alpha=1.0)
    assert abs(w1["big"] - 0.9) < 1e-9 and abs(w1["small"] - 0.1) < 1e-9
    w0 = temperature_weights(df, "domain", alpha=0.0)
    assert abs(w0["big"] - 0.5) < 1e-9
    wa = temperature_weights(df, "domain", alpha=0.3)
    expect_big = 900**0.3 / (900**0.3 + 100**0.3)
    assert abs(wa["big"] - expect_big) < 1e-9
    assert 0.5 < wa["big"] < 0.9  # between uniform and natural

    out = mixture_sample(df, "domain", wa).toPandas()
    got = out["domain"].value_counts(normalize=True)
    assert abs(got["big"] - wa["big"]) < 0.05

    import pytest as _pytest

    with _pytest.raises(ValueError, match="alpha"):
        temperature_weights(df, "domain", alpha=-1)


def test_dedup_paragraphs_keep_first_corpus_wide(spark):
    """Duplicate paragraphs survive only at their first (doc_id, pos)
    occurrence; blanks always survive; emptied docs come back as ''."""
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    spam = "subscribe to our newsletter"
    rows = [
        (1, f"alpha body\n{spam}\n\nbeta body"),
        (2, f"{spam}\ngamma body\n{spam}"),
        (3, spam),
        (4, f"delta body\nalpha body"),  # 'alpha body' already seen in doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_paragraphs(df).toPandas().set_index("doc_id")["text"]
    assert out.loc[1] == f"alpha body\n{spam}\n\nbeta body"  # first occurrence kept
    assert out.loc[2] == "gamma body"  # both spam copies stripped
    assert out.loc[3] == ""  # fully emptied doc survives with empty text
    assert out.loc[4] == "delta body"  # cross-doc dup stripped


def test_dedup_paragraphs_within_doc_and_min_chars(spark):
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    rows = [(1, "x\nsame para\nsame para\nx"), (2, "y\nx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # min_chars=2: single-char paragraphs are never dedup candidates
    out = (
        dedup_paragraphs(df, min_chars=2).toPandas().set_index("doc_id")["text"]
    )
    assert out.loc[1] == "x\nsame para\nx"  # in-doc repeat collapsed; 'x' immune
    assert out.loc[2] == "y\nx"

    # default min_chars=1: 'x' dedups corpus-wide too
    out1 = dedup_paragraphs(df).toPandas().set_index("doc_id")["text"]
    assert out1.loc[1] == "x\nsame para"
    assert out1.loc[2] == "y"


def test_dedup_paragraphs_preserves_extra_columns(spark):
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    rows = [(1, "a\nb", "s0"), (2, "a\nc", "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dedup_paragraphs(df).toPandas().set_index("doc_id")
    assert sorted(out.columns) == ["source", "text"]
    assert out.loc[2, "source"] == "s1"
    assert out.loc[2, "text"] == "c"


def test_bm25_scores_match_reference_formula(spark):
    """BM25 vs an independent plain-Python implementation (Lucene idf)."""
    import math

    from mlforecast_spark.operators.text import bm25_scores, bm25_top_k

    corpus = {
        1: "spark shuffles data across the cluster",
        2: "duckdb scans parquet fast fast fast",
        3: "spark spark spark joins and shuffles",
        4: "completely unrelated words here",
        5: "",
    }
    query = ["spark", "shuffles", "parquet"]
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    got = dict(
        bm25_scores(df, query).toPandas()[["doc_id", "bm25"]].itertuples(
            index=False, name=None
        )
    )

    # independent reference
    toks = {i: t.lower().split() for i, t in corpus.items() if t.split()}
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    k1, b = 1.2, 0.75
    expected = {i: 0.0 for i in corpus}
    for term in set(query):
        dfreq = sum(1 for v in toks.values() if term in v)
        if not dfreq:
            continue
        idf = math.log(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
        for i, v in toks.items():
            tf = v.count(term)
            if tf:
                expected[i] += idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(v) / avgdl)
                )

    assert set(got) == set(expected)
    for i in expected:
        assert abs(got[i] - expected[i]) < 1e-9, (i, got[i], expected[i])

    top = bm25_top_k(df, query, 2).toPandas()
    ranked = sorted(
        ((s, i) for i, s in expected.items() if s > 0), key=lambda t: (-t[0], t[1])
    )
    assert list(top["doc_id"]) == [i for _, i in ranked[:2]]


def test_bm25_top_k_plan_is_take_ordered(spark):
    from mlforecast_spark.operators.text import bm25_top_k

    df = spark.createDataFrame(
        [(i, f"word{i % 3} filler") for i in range(50)], "doc_id long, text string"
    )
    plan = bm25_top_k(df, ["word0"], 5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_profile_quality_bm25_fused_matches_composition(spark):
    """The fused single-gram-table plan must be value-identical to the
    three-way text_profile x bm25_scores x quality_filter composition it
    replaces in the doc_text_profile entry slot (r11 fusion) — including
    edge docs (empty / whitespace-only / tab-leading / single-token /
    repeated / marker-heavy / query-term-heavy), and must read the source
    far fewer times (2 scans vs ~8)."""
    import math

    from mlforecast_spark.operators.text import (
        bm25_scores,
        profile_quality_bm25,
        quality_filter,
        text_profile,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "   "),
        (4, "\tleading tab and spark window vector spark"),
        (5, "single"),
        (6, "rep rep rep rep rep rep rep rep rep rep"),
        (7, "der und die nicht ist der und die"),
        (8, "le et les des est " * 30),
        (9, "spark window vector " * 10),
        (10, "a b a b a b a b c d e f g h i j k l m n o p"),
        (11, "Punct!!! ??? ... ,,, ;;; ::: " + "'" * 3),
        (12, "x" * 500),
        (13, "el los que es una el los"),
        (14, "mixed CASE Tokens With the AND of to is"),
        (15, "trailing spaces   "),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    terms = ["spark", "window", "vector"]
    composed = (
        text_profile(df)
        .join(bm25_scores(df, terms), "doc_id")
        .join(
            quality_filter(df).select(
                "doc_id",
                "type_token_ratio",
                "top_token_frac",
                "dup_bigram_frac",
                "drop_reasons",
                "keep",
            ),
            "doc_id",
        )
    )
    fused = profile_quality_bm25(df, terms)
    assert fused.columns == composed.columns
    assert fused.dtypes == composed.dtypes
    cr = composed.orderBy("doc_id").collect()
    fr = fused.orderBy("doc_id").collect()
    assert len(cr) == len(fr) == len(docs)
    for a, b in zip(cr, fr):
        for c in composed.columns:
            va, vb = a[c], b[c]
            if isinstance(va, float):
                assert va == vb or (math.isnan(va) and math.isnan(vb)), (
                    a["doc_id"], c, va, vb,
                )
            else:
                assert va == vb, (a["doc_id"], c, va, vb)

    # the fusion's point: the corpus is read twice (projection + grams),
    # not once per leg
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") <= 2, plan


def _ppm_bytes(arr):
    import numpy as np

    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def _lowfreq_image(seed=42, size=64):
    """Sum of a few random cosine modes — substantial low-frequency DCT
    content, which is what pHash thresholds (a flat gradient's near-zero
    AC block makes the median threshold noise-dominated)."""
    import numpy as np

    y, x = np.mgrid[0:size, 0:size]
    rng = np.random.default_rng(seed)
    img = np.zeros((size, size))
    for _ in range(6):
        fy, fx = rng.uniform(0.5, 3, 2)
        ph = rng.uniform(0, 2 * np.pi)
        img += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * (fy * y / size + fx * x / size) + ph
        )
    img = (img - img.min()) / (img.max() - img.min()) * 255
    return np.stack([img, img * 0.8, img * 0.5], axis=-1).astype(np.uint8)


def test_phash64_invariances():
    """Identical -> 0 bits; light noise / resize -> few bits; unrelated or
    inverted -> many."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import phash64, resize_nearest

    rng = np.random.default_rng(7)
    base = _lowfreq_image()
    noised = np.clip(
        base.astype(int) + rng.integers(-8, 9, base.shape), 0, 255
    ).astype(np.uint8)
    other = rng.integers(0, 256, base.shape).astype(np.uint8)

    h_base = phash64(base)
    assert phash64(base) == h_base  # deterministic
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(h_base, phash64(noised)) <= 6
    assert ham(h_base, phash64(other)) >= 16
    assert ham(h_base, phash64((255 - base))) >= 16  # negation flips bits
    # resized copy stays close (scale invariance via the 32x32 resample)
    assert ham(h_base, phash64(resize_nearest(base, 96, 96))) <= 6


def test_image_phash_and_candidates(spark):
    """Spark path: decode -> phash in one mapInPandas; banded candidates
    surface the near-duplicate image pair only."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import image_phash, phash_candidates

    rng = np.random.default_rng(3)
    base = _lowfreq_image(seed=11)
    clone = np.clip(base.astype(int) + rng.integers(-4, 5, base.shape), 0, 255)
    rows = [
        (1, _ppm_bytes(base)),
        (2, _ppm_bytes(clone.astype(np.uint8))),
        (3, _ppm_bytes(rng.integers(0, 256, base.shape).astype(np.uint8))),
        (4, _ppm_bytes((255 - base))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fps = image_phash(df)
    assert fps.count() == 4
    pairs = phash_candidates(fps, max_hamming=8).toPandas()
    assert [(r.id_a, r.id_b) for r in pairs.itertuples()] == [(1, 2)]
    assert (pairs["hamming"] <= 8).all()


def _wav_bytes(sig, rate=8000):
    import io
    import wave

    import numpy as np

    pcm = (np.clip(sig, -1, 1) * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


def _tone_mix(t):
    import numpy as np

    return (
        0.4 * np.sin(2 * np.pi * 440 * t)
        + 0.3 * np.sin(2 * np.pi * 950 * t)
        + 0.2 * np.sin(2 * np.pi * 1800 * t * (1 + 0.1 * np.sin(2 * np.pi * 0.7 * t)))
    )


def test_audio_fingerprint_invariances():
    """Gain-exact, noise-robust, content-separating; resampled copies stay
    near (band edges are absolute Hz; bin-resolution leakage keeps it
    approximate)."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import (
        audio_fingerprint64,
        decode_wav_any,
    )

    rng = np.random.default_rng(5)
    t = np.arange(16000) / 8000
    base = _tone_mix(t)
    ham = lambda a, b: bin(a ^ b).count("1")

    def fp(sig, rate=8000):
        samples, r = decode_wav_any(_wav_bytes(sig, rate))
        return audio_fingerprint64(samples, r)

    h = fp(base)
    assert fp(base) == h  # deterministic
    assert ham(h, fp(base * 0.5)) == 0  # gain-invariant signs
    assert ham(h, fp(base + rng.normal(0, 0.01, len(t)))) <= 8
    other = (
        0.4 * np.sin(2 * np.pi * 220 * t)
        + 0.3 * np.sin(2 * np.pi * 2600 * t)
        + 0.2 * rng.normal(0, 0.2, len(t))
    )
    assert ham(h, fp(other)) >= 20
    t16 = np.arange(32000) / 16000
    assert ham(h, fp(_tone_mix(t16), 16000)) <= 16  # approximate


def test_audio_fingerprints_and_candidates(spark):
    import numpy as np

    from mlforecast_spark.operators.multimodal import (
        afp_candidates,
        audio_fingerprints,
    )

    rng = np.random.default_rng(9)
    t = np.arange(16000) / 8000
    base = _tone_mix(t)
    rows = [
        (1, _wav_bytes(base)),
        (2, _wav_bytes(base * 0.7 + rng.normal(0, 0.005, len(t)))),
        (3, _wav_bytes(rng.normal(0, 0.3, len(t)))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fps = audio_fingerprints(df)
    assert fps.count() == 3
    pairs = afp_candidates(fps, max_hamming=8).toPandas()
    assert [(r.id_a, r.id_b) for r in pairs.itertuples()] == [(1, 2)]


def test_stream_paragraph_dedup(spark, tmp_path):
    """Incremental paragraph dedup across micro-batches: within-batch
    keep-first, later batches strip paragraphs in the persisted hash
    index, blanks always survive, replays don't duplicate output."""
    import glob
    import os

    import pandas as pd

    from mlforecast_spark.streaming import stream_paragraph_dedup

    src = str(tmp_path / "src")
    idx = str(tmp_path / "pidx")
    out = str(tmp_path / "pout")
    ckpt = str(tmp_path / "pckpt")
    os.makedirs(src, exist_ok=True)

    spam = "subscribe to the newsletter"

    def run_batch(rows):
        if rows:
            spark.createDataFrame(rows, "doc_id long, text string").coalesce(
                1
            ).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = stream_paragraph_dedup(stream, idx, out, ckpt)
        q.awaitTermination(180)

    def texts():
        df = pd.concat(
            [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
        )
        # later replays of the same doc overwrite their batch dir; doc ids
        # are unique across batches here
        return dict(zip(df.doc_id, df.text))

    # batch 1: spam repeats within the batch and across docs
    run_batch([(1, f"alpha body\n{spam}\n\nbeta body"), (2, f"{spam}\ngamma")])
    t1 = texts()
    assert t1[1] == f"alpha body\n{spam}\n\nbeta body"
    assert t1[2] == "gamma"

    # batch 2: paragraphs seen in batch 1 are stripped via the INDEX;
    # novel paragraphs survive; fully-stripped docs come back empty
    run_batch([(10, f"{spam}\nalpha body\nnovel paragraph"), (11, spam)])
    t2 = texts()
    assert t2[10] == "novel paragraph"
    assert t2[11] == ""

    # replay batch 1 of the index/output (crash between write and commit):
    # output must be replaced, not duplicated
    for f in glob.glob(f"{ckpt}/commits/1*") + glob.glob(f"{ckpt}/commits/.1*"):
        os.remove(f)
    run_batch([])
    df = pd.concat(
        [pd.read_parquet(f) for f in glob.glob(f"{out}/batch_id=*/*.parquet")]
    )
    assert sorted(df.doc_id) == [1, 2, 10, 11]
    assert dict(zip(df.doc_id, df.text))[10] == "novel paragraph"


def test_video_frame_phashes_and_near_dups(spark):
    """Animated GIFs sharing frames pair up with the shared-frame count;
    unrelated clips don't; single images contribute one frame."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import (
        video_frame_phashes,
        video_near_dups,
    )

    # three structured grayscale frames as palette images (grays 0..255)
    palette = [(i, i, i) for i in range(256)]
    f1 = _lowfreq_image(seed=1)[:, :, 0]  # use one channel as indices
    f2 = _lowfreq_image(seed=2)[:, :, 0]
    f3 = _lowfreq_image(seed=3)[:, :, 0]
    f4 = _lowfreq_image(seed=4)[:, :, 0]

    def gif(frames):
        return _build_gif(
            [(fr.astype(np.uint8), 0, 0, None, 0) for fr in frames],
            64,
            64,
            palette,
            min_code_size=8,
        )

    rows = [
        (1, gif([f1, f2, f3])),
        (2, gif([f1, f2, f4])),   # shares 2 frames with 1
        (3, gif([f4])),           # shares 1 frame with 2 only
        (4, _ppm_bytes(_lowfreq_image(seed=9))),  # single still image
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    fh = video_frame_phashes(df, k=8)
    got = fh.toPandas()
    assert len(got[got.doc_id == 1]) == 3
    assert len(got[got.doc_id == 4]) == 1

    pairs = video_near_dups(fh, min_matching_frames=2).toPandas()
    assert [(r.id_a, r.id_b, r.n_matching_frames) for r in pairs.itertuples()] == [
        (1, 2, 2)
    ]
    # evidence threshold 1 also surfaces the single shared frame
    pairs1 = video_near_dups(fh, min_matching_frames=1).toPandas()
    assert {(r.id_a, r.id_b) for r in pairs1.itertuples()} == {(1, 2), (2, 3)}

    # exact-equality path (max_hamming=0) finds the same byte-identical
    # shared frames
    pairs0 = video_near_dups(fh, min_matching_frames=2, max_hamming=0).toPandas()
    assert [(r.id_a, r.id_b, r.n_matching_frames) for r in pairs0.itertuples()] == [
        (1, 2, 2)
    ]


def test_video_near_dups_reencoded_clip(spark):
    """A re-encoded clip (mild pixel noise perturbing each frame pHash by a
    bit or two) is still caught by the banded hamming join, while the exact
    equi-join misses it — the round-6 recall gap."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import (
        video_frame_phashes,
        video_near_dups,
    )

    palette = [(i, i, i) for i in range(256)]
    frames = [_lowfreq_image(seed=s)[:, :, 0] for s in (1, 2, 3)]
    # amplitude tuned so each frame's pHash moves by exactly 2 bits (>0,
    # <=3): the banded join must catch it, the exact join must not
    rng = np.random.default_rng(11)
    noisy = [
        np.clip(
            fr.astype(np.int16) + rng.integers(-8, 9, size=fr.shape), 0, 255
        ).astype(np.uint8)
        for fr in frames
    ]

    def gif(frs):
        return _build_gif(
            [(fr.astype(np.uint8), 0, 0, None, 0) for fr in frs],
            64,
            64,
            palette,
            min_code_size=8,
        )

    unrelated = [_lowfreq_image(seed=s)[:, :, 0] for s in (20, 21, 22)]
    df = spark.createDataFrame(
        [(1, gif(frames)), (2, gif(noisy)), (3, gif(unrelated))],
        "doc_id long, payload binary",
    )
    fh = video_frame_phashes(df, k=8)

    hashes = fh.toPandas()
    h1 = sorted(hashes[hashes.doc_id == 1].phash)
    h2 = sorted(hashes[hashes.doc_id == 2].phash)
    perturbed = sum(
        bin((a ^ b) & ((1 << 64) - 1)).count("1") for a, b in zip(h1, h2)
    )
    assert perturbed > 0  # the noise really moved at least one hash bit

    banded = video_near_dups(fh, min_matching_frames=2, max_hamming=3).toPandas()
    assert {(r.id_a, r.id_b) for r in banded.itertuples()} == {(1, 2)}
    exact = video_near_dups(fh, min_matching_frames=2, max_hamming=0).toPandas()
    assert len(exact) == 0  # the old path misses the re-encode

    with pytest.raises(ValueError, match="max_hamming"):
        video_near_dups(fh, max_hamming=4)


def test_dedup_media_corpus(spark):
    """Mixed image+audio corpus: near-dup cluster members collapse to the
    min id per modality; unrelated assets survive."""
    import numpy as np

    from mlforecast_spark.operators.multimodal import dedup_media_corpus

    rng = np.random.default_rng(13)
    img = _lowfreq_image(seed=21)
    img_twin = np.clip(img.astype(int) + rng.integers(-3, 4, img.shape), 0, 255)
    img_other = _lowfreq_image(seed=22)

    t = np.arange(16000) / 8000
    snd = _tone_mix(t)
    snd_twin = snd * 0.6 + rng.normal(0, 0.004, len(t))
    snd_other = 0.5 * np.sin(2 * np.pi * 2750 * t) + 0.3 * rng.normal(0, 0.2, len(t))

    rows = [
        (1, _ppm_bytes(img)),
        (2, _ppm_bytes(img_twin.astype(np.uint8))),
        (3, _ppm_bytes(img_other)),
        (10, _wav_bytes(snd)),
        (11, _wav_bytes(snd_twin)),
        (12, _wav_bytes(snd_other)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    kept = sorted(
        dedup_media_corpus(df, max_hamming=8).toPandas()["doc_id"].tolist()
    )
    assert kept == [1, 3, 10, 12]  # twins 2 and 11 collapsed into 1 and 10


def test_token_budget_sample(spark):
    """Greedy md5-ordered take per domain: totals stay within budget, the
    take is deterministic, the first doc always survives, and absent
    domains are dropped — verified against an exact pandas replay."""
    import hashlib

    from mlforecast_spark.operators.sampling import token_budget_sample

    rows = [(i, "web" if i % 3 else "code", 10 + (i * 7) % 50) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, n_tokens long")
    budgets = {"web": 300, "code": 45}
    got = token_budget_sample(df, "domain", budgets).toPandas()

    # exact replay
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["doc_id", "domain", "n_tokens"])
    pdf["h"] = pdf.doc_id.map(lambda i: hashlib.md5(str(i).encode()).hexdigest())
    expect = set()
    for dom, bud in budgets.items():
        run = 0
        for r in pdf[pdf.domain == dom].sort_values(["h", "doc_id"]).itertuples():
            if run + r.n_tokens <= bud or run == 0:
                expect.add(r.doc_id)
            run += r.n_tokens
    assert set(got.doc_id) == expect
    for dom, bud in budgets.items():
        sub = got[got.domain == dom]
        assert len(sub) >= 1
        first_only = len(sub) == 1
        assert sub.n_tokens.sum() <= bud or first_only

    # rerun is identical (determinism) and absent domains are dropped
    again = token_budget_sample(df, "domain", budgets).toPandas()
    assert set(again.doc_id) == expect
    only_web = token_budget_sample(df, "domain", {"web": 100}).toPandas()
    assert set(only_web.domain) == {"web"}


def test_token_budget_sample_prefilter_paths(spark):
    """The 100 TB prefilter path is bit-identical to the full-window run
    across budget regimes (tiny slice, keep-all, zero budget, budget over
    domain total), and the prefiltered plan's window really reads the hash
    sliver, not the domain."""
    from mlforecast_spark.operators.sampling import token_budget_sample

    rows = [
        (i, ["web", "code", "wiki"][i % 3], 5 + (i * 11) % 90) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, n_tokens long")
    for budgets in (
        {"web": 200, "code": 60},          # tiny slice vs domain totals
        {"web": 10**9, "code": 100},       # budget exceeds the web total
        {"web": 0, "code": 50},            # zero budget -> first-doc only
        {"web": 5, "code": 5, "wiki": 5},  # every domain budget-bound
    ):
        exact = token_budget_sample(
            df, "domain", budgets, prefilter_safety=None
        ).toPandas()
        fast = token_budget_sample(
            df, "domain", budgets, prefilter_safety=2.0
        ).toPandas()
        assert sorted(fast.doc_id) == sorted(exact.doc_id), budgets

    # the window's input is the sliver: the optimized plan filters on the
    # md5 hash prefix BELOW the Window node
    plan = (
        token_budget_sample(df, "domain", {"web": 200, "code": 60})
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    win_at = plan.index("Window")
    below = plan[win_at:]
    assert "substring(md5(" in below.replace(" ", "").lower() or (
        "substring" in below and "md5" in below
    ), plan

    with pytest.raises(ValueError, match="prefilter_safety"):
        token_budget_sample(df, "domain", {"web": 10}, prefilter_safety=0.5)


def test_token_budget_sample_zero_token_and_null(spark):
    """A zero-token doc hash-ordered first no longer lets the NEXT doc
    bypass the budget (the always-take clause is row_number()==1 now), and
    NULL token counts are rejected at execution time instead of silently
    dropping."""
    import hashlib

    from mlforecast_spark.operators.sampling import token_budget_sample

    rows = [(i, "web", 0 if i != 17 else 1000) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, domain string, n_tokens long")
    # doc 17 (1000 tokens) must NOT be admitted under a 10-token budget
    # unless it is literally the first doc in md5 order
    order = sorted(range(30), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    got = token_budget_sample(df, "domain", {"web": 10}).toPandas()
    pos17 = order.index(17)
    # zero-token docs BEFORE 17 ride at cum=0; 17 pushes cum to 1000, so it
    # and every later doc exceed the budget (unless 17 is the first doc,
    # which the always-take clause admits alone)
    expect_ids = set(order[:pos17]) if pos17 else {17}
    assert set(got.doc_id) == expect_ids
    assert (17 in set(got.doc_id)) == (pos17 == 0)

    null_rows = [(1, "web", 10), (2, "web", None)]
    ndf = spark.createDataFrame(null_rows, "doc_id long, domain string, n_tokens long")
    with pytest.raises(Exception, match="NULL n_tokens"):
        token_budget_sample(ndf, "domain", {"web": 100}).collect()
    with pytest.raises(Exception, match="NULL n_tokens"):
        token_budget_sample(
            ndf, "domain", {"web": 100}, prefilter_safety=None
        ).collect()


def test_afp_n_bands_and_optimal_bands_validation(spark):
    """audio_fingerprint64 rejects n_bands that break the 64-bit contract;
    optimal_bands rejects num_hashes < 1 with a clear error."""
    import numpy as np

    from mlforecast_spark.operators.dedup import optimal_bands
    from mlforecast_spark.operators.multimodal import (
        audio_fingerprint64,
        audio_fingerprints,
    )

    with pytest.raises(ValueError, match="n_bands"):
        audio_fingerprint64(np.zeros(4000), 8000, n_bands=4)
    with pytest.raises(ValueError, match="n_bands"):
        audio_fingerprints(
            spark.createDataFrame([(1, b"")], "doc_id long, payload binary"),
            n_bands=6,
        )
    with pytest.raises(ValueError, match="num_hashes"):
        optimal_bands(0, threshold=0.8)


def test_dedup_paragraphs_regex_special_separator(spark):
    """A regex-special separator splits and rejoins literally."""
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    rows = [(1, "aa|shared|bb"), (2, "shared|cc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_paragraphs(df, sep="|").toPandas().set_index("doc_id")["text"]
    assert out.loc[1] == "aa|shared|bb"
    assert out.loc[2] == "cc"


def test_centroid_probe_large_quantizer_fallback(spark, monkeypatch):
    """Quantizers past the literal-plan guard keep the broadcast-join +
    window probe; results must be identical to the literal projection."""
    import numpy as np

    import mlforecast_spark.operators.similarity as sim
    from mlforecast_spark.operators.similarity import build_ivf_index, ivf_search

    rng = np.random.RandomState(5)
    centers = rng.randn(4, 8) * 5
    rows = []
    for i in range(60):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(8) * 0.1).astype(float).tolist()))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 6)

    index = build_ivf_index(vecs, n_lists=4, seed=7)
    literal = ivf_search(index, queries, k=5, nprobe=2).toPandas()
    monkeypatch.setattr(sim, "_PROBE_LITERAL_MAX_CELLS", 1)
    index.local_centers = None  # force the size probe + fallback
    fallback = ivf_search(index, queries, k=5, nprobe=2).toPandas()
    key = ["query_id", "rank"]
    assert (
        literal.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
        == fallback.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
    )


def test_text_profile_perrow_scores_match_agg_join(spark):
    """r11: text_profile/language_scores compute marker scores per row in
    the projection pass (no explode/groupBy/join legs). Must be
    value-identical to the old _marker_score_agg + left-join formulation on
    per-document rows — including empty / whitespace / null-text / marker-
    heavy / mixed-case edge docs."""
    from pyspark.sql import functions as F

    from mlforecast_spark.operators.text import (
        LANG_MARKERS,
        _coalesced_score_cols,
        _marker_score_agg,
        language_scores,
        text_profile,
    )

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),
        (3, "   "),
        (4, "\tder und die nicht ist der und die"),
        (5, None),
        (6, "le et les des est " * 30),
        (7, "el los que es una el los"),
        (8, "mixed CASE Tokens With the AND of to is"),
        (9, "the the the und und le el"),
        (10, "no markers here whatsoever"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    old = (
        df.select("doc_id")
        .join(_marker_score_agg(df, "text", "doc_id"), "doc_id", "left")
        .select("doc_id", *_coalesced_score_cols())
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    score_cols = [f"score_{lang}" for lang in LANG_MARKERS]

    new_ls = (
        language_scores(df)
        .select("doc_id", *score_cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert new_ls[["doc_id", *score_cols]].equals(old[["doc_id", *score_cols]])

    new_tp = (
        text_profile(df)
        .select("doc_id", *score_cols)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert new_tp[["doc_id", *score_cols]].equals(old[["doc_id", *score_cols]])

    # plan shape: the single-pass form plans exactly ONE scan of the source
    # and no joins
    plan = text_profile(df)._jdf.queryExecution().optimizedPlan().treeString()
    assert "Join" not in plan
