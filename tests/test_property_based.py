"""Property-based differential tests (hypothesis): random panel shapes and
window parameters vs a pandas oracle. The reference has no property-based
coverage; this guards the frame arithmetic against parameter-combination
corner cases the fixed suites miss."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mlforecast_spark.core import FeaturePlan, PanelSchema, _parse_transforms
from mlforecast_spark.utils import qcol


def _spark_feature(spark, pdf, lag, tfm):
    panel = spark.createDataFrame(pdf)
    registry = _parse_transforms([], {lag: [tfm]})
    plan = FeaturePlan(schema=PanelSchema(), registry=registry)
    name = next(iter(registry))
    out = (
        plan.apply(panel)
        .select("unique_id", "ds", qcol(name).alias("feat"))
        .toPandas()
        .sort_values(["unique_id", "ds"])
        .reset_index(drop=True)
    )
    return out


def _random_panel(draw):
    n_series = draw(st.integers(1, 4))
    rows = []
    for sid in range(n_series):
        length = draw(st.integers(1, 40))
        vals = draw(
            st.lists(
                st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False, width=32),
                min_size=length,
                max_size=length,
            )
        )
        for t, v in enumerate(vals):
            rows.append((f"s{sid}", t, float(v)))
    return pd.DataFrame(rows, columns=["unique_id", "ds", "y"])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_rolling_mean_property(spark, data):
    from mlforecast_spark.lag_transforms import RollingMean

    pdf = _random_panel(data.draw)
    lag = data.draw(st.integers(1, 5))
    ws = data.draw(st.integers(1, 10))
    ms = data.draw(st.one_of(st.none(), st.integers(1, 10)))
    got = _spark_feature(spark, pdf, lag, RollingMean(window_size=ws, min_samples=ms))

    eff_ms = min(ms if ms is not None else ws, ws)
    exp_rows = []
    for uid, g in pdf.groupby("unique_id"):
        y = g.sort_values("ds")["y"].to_numpy()
        for i in range(len(y)):
            lo, hi = i - lag - ws + 1, i - lag  # inclusive window positions
            window = y[max(lo, 0) : hi + 1] if hi >= 0 else np.array([])
            exp_rows.append(
                window.mean() if len(window) >= max(eff_ms, 1) else np.nan
            )
    exp = np.array(exp_rows)
    gv = got["feat"].to_numpy(dtype="float64")
    ok = np.isclose(gv, exp, rtol=1e-9, equal_nan=True) | (
        np.isnan(gv) & np.isnan(exp)
    )
    assert ok.all(), f"lag={lag} ws={ws} ms={ms}: {np.where(~ok)[0][:5]}"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_expanding_mean_property(spark, data):
    from mlforecast_spark.lag_transforms import ExpandingMean

    pdf = _random_panel(data.draw)
    lag = data.draw(st.integers(1, 5))
    got = _spark_feature(spark, pdf, lag, ExpandingMean())
    exp_rows = []
    for uid, g in pdf.groupby("unique_id"):
        y = g.sort_values("ds")["y"].to_numpy()
        for i in range(len(y)):
            window = y[: i - lag + 1] if i - lag >= 0 else np.array([])
            exp_rows.append(window.mean() if len(window) else np.nan)
    exp = np.array(exp_rows)
    gv = got["feat"].to_numpy(dtype="float64")
    ok = np.isclose(gv, exp, rtol=1e-9, equal_nan=True) | (np.isnan(gv) & np.isnan(exp))
    assert ok.all()


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_lag_property(spark, data):
    from mlforecast_spark.lag_transforms import Lag

    pdf = _random_panel(data.draw)
    lag = data.draw(st.integers(1, 8))
    got = _spark_feature(spark, pdf, lag, Lag(lag))
    exp = (
        pdf.sort_values(["unique_id", "ds"])
        .groupby("unique_id")["y"]
        .shift(lag)
        .to_numpy()
    )
    gv = got["feat"].to_numpy(dtype="float64")
    ok = np.isclose(gv, exp, rtol=1e-12, equal_nan=True) | (np.isnan(gv) & np.isnan(exp))
    assert ok.all()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_connected_components_property(spark, data):
    """Random graphs vs a driver-side union-find, on both the public entry
    (small graphs finish on the driver) and the distributed path."""
    from mlforecast_spark.operators.dedup import (
        _connected_components_spark,
        connected_components,
    )

    n_nodes = data.draw(st.integers(2, 30))
    n_edges = data.draw(st.integers(1, 40))
    edges = [
        (
            data.draw(st.integers(0, n_nodes - 1)),
            data.draw(st.integers(0, n_nodes - 1)),
        )
        for _ in range(n_edges)
    ]
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = sorted({n for e in edges for n in e})
    want = {}
    roots = {}
    for n in touched:
        roots.setdefault(find(n), []).append(n)
    for members in roots.values():
        m = min(members)
        for n in members:
            want[n] = m

    frame = spark.createDataFrame(edges, "id_a long, id_b long")
    for out in (
        connected_components(frame),
        _connected_components_spark(frame, "id_a", "id_b", max_iter=25),
    ):
        got = out.toPandas().set_index("node_id")["cluster_id"].to_dict()
        assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_stratified_sample_partitioning_invariance(spark, data):
    """The sampled set is a pure function of the data: repartitioning and
    row order must not change it (the property df.sample lacks)."""
    import hashlib

    from mlforecast_spark.operators.sampling import stratified_hash_sample

    n = data.draw(st.integers(5, 60))
    k = data.draw(st.integers(1, 6))
    n_groups = data.draw(st.integers(1, 3))
    n_parts = data.draw(st.integers(1, 6))
    rows = [(f"d{i}", f"g{i % n_groups}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, grp string")
    out1 = stratified_hash_sample(df, ["grp"], k=k).toPandas()
    out2 = stratified_hash_sample(
        df.repartition(n_parts).sortWithinPartitions(F.desc("doc_id")), ["grp"], k=k
    ).toPandas()
    key = ["grp", "sample_rank", "doc_id"]
    assert (
        out1.sort_values(key)[key].values.tolist()
        == out2.sort_values(key)[key].values.tolist()
    )
    # matches the driver-side md5 ranking
    for g in {r[1] for r in rows}:
        members = [d for d, gg in rows if gg == g]
        want = sorted(members, key=lambda d: hashlib.md5(d.encode()).hexdigest())[:k]
        got = (
            out1[out1.grp == g].sort_values("sample_rank")["doc_id"].tolist()
        )
        assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_quantization_error_bound_property(spark, data):
    """|x - dequant(quant(x))| <= scale/2 elementwise for arbitrary finite
    vectors, including extreme magnitudes and all-zero vectors."""
    from mlforecast_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    dim = data.draw(st.integers(1, 24))
    n = data.draw(st.integers(1, 12))
    rows = []
    for i in range(n):
        vec = data.draw(
            st.lists(
                st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
                min_size=dim,
                max_size=dim,
            )
        )
        rows.append((i, [float(v) for v in vec]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_embeddings(df)
    scales = q.toPandas().set_index("vec_id")["scale"]
    deq = dequantize_embeddings(q).toPandas().set_index("vec_id")["embedding"]
    for i, vec in rows:
        err = np.abs(np.array(vec) - np.array(deq.loc[i]))
        assert (err <= scales.loc[i] / 2 + 1e-9 * max(1.0, scales.loc[i])).all()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_pack_sequences_conservation_property(spark, data):
    """Both packing modes conserve every token of every doc exactly once
    (concat may split; greedy never does), never exceed the budget in a
    non-overflow sequence, and are deterministic for arbitrary inputs."""
    from mlforecast_spark.operators.packing import pack_sequences

    n_docs = data.draw(st.integers(1, 60))
    budget = data.draw(st.integers(8, 256))
    counts = data.draw(
        st.lists(st.integers(0, 300), min_size=n_docs, max_size=n_docs)
    )
    shards = data.draw(st.integers(1, 5))
    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    total = sum(c for c in counts if c > 0)

    concat = pack_sequences(df, budget, num_shards=shards).toPandas()
    assert concat["slice_tokens"].sum() == total
    per_doc = concat.groupby("doc_id")["slice_tokens"].sum()
    for i, c in rows:
        assert (per_doc[i] == c) if c > 0 else (i not in per_doc.index)
    per_seq = concat.groupby("seq_id")["slice_tokens"].sum()
    assert (per_seq <= budget).all()

    greedy = pack_sequences(df, budget, mode="greedy", num_shards=shards).toPandas()
    assert len(greedy) == sum(1 for c in counts if c > 0)
    assert greedy["slice_tokens"].sum() == total
    norm = greedy[~greedy.overflow]
    if len(norm):
        assert (norm.groupby("seq_id")["slice_tokens"].sum() <= budget).all()
    assert (greedy[greedy.overflow]["slice_tokens"] > budget).all()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_mixture_sample_property(spark, data):
    """For arbitrary domain counts and exact-binary-float weights: no domain
    is upsampled, the binding domain keeps everything, and scaled samples
    nest inside full samples."""
    from mlforecast_spark.operators.sampling import mixture_sample

    sizes = data.draw(
        st.lists(st.integers(1, 400), min_size=2, max_size=4)
    )
    weights_pool = [0.5, 0.25, 0.125, 0.125]
    doms = [f"d{i}" for i in range(len(sizes))]
    w = {d: weights_pool[i] for i, d in enumerate(doms)}
    rows = []
    k = 0
    for d, n in zip(doms, sizes):
        for _ in range(n):
            rows.append((k, d))
            k += 1
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = mixture_sample(df, "domain", w).toPandas()
    by = out.groupby("domain").size()
    tot_w = sum(w.values())
    t = min(n / (w[d] / tot_w) for d, n in zip(doms, sizes))
    binding = [d for d, n in zip(doms, sizes) if n / (w[d] / tot_w) == t]
    for d, n in zip(doms, sizes):
        got = by.get(d, 0)
        assert got <= n  # never upsample
        if d in binding:
            assert got == n  # binding domain keeps all rows
    half = mixture_sample(df, "domain", w, scale=0.5).toPandas()
    assert set(half.doc_id) <= set(out.doc_id)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_repeated_spans_no_false_positives_property(spark, data):
    """Documents built from disjoint vocabularies share no w-token span, so
    detection must return empty for arbitrary shapes."""
    from mlforecast_spark.operators.dedup import repeated_spans

    n_docs = data.draw(st.integers(2, 8))
    w = data.draw(st.integers(2, 6))
    rows = []
    for d in range(n_docs):
        length = data.draw(st.integers(0, 30))
        toks = [f"d{d}w{j}" for j in range(length)]  # vocab disjoint per doc
        rows.append((d, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert repeated_spans(df, window=w, min_docs=2).count() == 0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_dedup_paragraphs_properties(spark, data):
    """Contracts of corpus-wide keep-first paragraph dedup: (1) a corpus
    with no repeated paragraph is returned verbatim; (2) the operator is
    idempotent; (3) the multiset of surviving paragraphs equals the set of
    distinct non-blank paragraphs (plus blanks)."""
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    n_docs = data.draw(st.integers(1, 6))
    vocab = ["alpha beta", "gamma", "delta one", "epsilon", ""]
    docs = []
    for i in range(n_docs):
        paras = data.draw(
            st.lists(st.sampled_from(vocab), min_size=1, max_size=6)
        )
        docs.append((i, "\n".join(paras)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    once = dedup_paragraphs(df)
    out1 = dict(
        once.toPandas()[["doc_id", "text"]].itertuples(index=False, name=None)
    )
    # idempotence
    out2 = dict(
        dedup_paragraphs(once)
        .toPandas()[["doc_id", "text"]]
        .itertuples(index=False, name=None)
    )
    assert out1 == out2

    # surviving non-blank paragraphs = distinct non-blank inputs, each once
    survivors = [
        p for _, t in sorted(out1.items()) for p in t.split("\n") if p.strip()
    ]
    distinct_inputs = set()
    for _, t in docs:
        distinct_inputs.update(p for p in t.split("\n") if p.strip())
    assert sorted(survivors) == sorted(distinct_inputs)

    # verbatim when every non-blank paragraph is globally unique
    uniq = [(i, f"solo-{i}-a\n\nsolo-{i}-b") for i in range(3)]
    udf_ = spark.createDataFrame(uniq, "doc_id long, text string")
    got = dict(
        dedup_paragraphs(udf_)
        .toPandas()[["doc_id", "text"]]
        .itertuples(index=False, name=None)
    )
    assert got == dict(uniq)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_token_budget_sample_properties(spark, data):
    """Contracts: per-domain token totals never exceed the budget unless a
    single first doc does; output is a subset of the input; raising a
    budget never drops a previously kept doc (monotonicity)."""
    from mlforecast_spark.operators.sampling import token_budget_sample

    n = data.draw(st.integers(5, 25))
    rows = [
        (i, data.draw(st.sampled_from(["a", "b"])), data.draw(st.integers(1, 40)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, n_tokens long")
    b1 = data.draw(st.integers(1, 120))
    got = token_budget_sample(df, "domain", {"a": b1, "b": b1}).toPandas()
    assert set(got.doc_id) <= {r[0] for r in rows}
    for dom, sub in got.groupby("domain"):
        assert sub.n_tokens.sum() <= b1 or len(sub) == 1

    bigger = token_budget_sample(df, "domain", {"a": b1 + 50, "b": b1 + 50}).toPandas()
    assert set(got.doc_id) <= set(bigger.doc_id)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_bm25_monotonicity(spark, data):
    """Appending one more occurrence of a query term to a document never
    lowers that document's BM25 when corpus statistics are held fixed by
    padding (same doc length via dropping one filler token)."""
    from mlforecast_spark.operators.text import bm25_scores

    fillers = ["pad1", "pad2", "pad3", "pad4"]
    base_toks = ["hit"] * data.draw(st.integers(1, 3)) + fillers
    boosted = ["hit"] + base_toks[:-1]  # +1 tf, same length
    others = [(10 + i, "noise words only here") for i in range(3)]
    rows_a = [(1, " ".join(base_toks))] + others
    rows_b = [(1, " ".join(boosted))] + others
    score = lambda rows: dict(
        bm25_scores(
            spark.createDataFrame(rows, "doc_id long, text string"), ["hit"]
        )
        .toPandas()[["doc_id", "bm25"]]
        .itertuples(index=False, name=None)
    )
    assert score(rows_b)[1] >= score(rows_a)[1] - 1e-12


@st.composite
def _asof_feeds(draw):
    """Random keyed feeds: shared keys, duplicate timestamps on BOTH sides,
    left rows outside the right range."""
    keys = draw(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3, unique=True))
    lrows, rrows = [], []
    for k in keys:
        lts = draw(st.lists(st.integers(0, 120), min_size=1, max_size=25))
        for i, t in enumerate(lts):
            lrows.append((k, int(t), float(i)))
        rts = draw(st.lists(st.integers(0, 120), min_size=0, max_size=25))
        for i, t in enumerate(rts):
            rrows.append((k, int(t), float(100 + i)))
    direction = draw(st.sampled_from(["backward", "forward", "nearest"]))
    exact = draw(st.booleans())
    tol = draw(st.sampled_from([None, 0, 7, 40]))
    return lrows, rrows, direction, exact, tol


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_asof_feeds())
def test_asof_join_matches_pandas_on_random_feeds(spark, feeds):
    """Differential fuzz of asof_join vs pandas.merge_asof: random keys,
    duplicate timestamps on both sides, all directions x exact x tolerance.
    pandas sorts stably, so its duplicate-tie picks match the seq-id rule."""
    from mlforecast_spark.joins import asof_join

    lrows, rrows, direction, exact, tol = feeds
    lp = pd.DataFrame(lrows, columns=["k", "ts", "size"]).astype(
        {"ts": "int64", "size": "float64"}
    )
    rp = pd.DataFrame(rrows, columns=["k", "ts", "px"]).astype(
        {"ts": "int64", "px": "float64"}
    )
    schema_l = "k string, ts long, size double"
    schema_r = "k string, ts long, px double"
    ldf = spark.createDataFrame(lrows, schema_l).coalesce(1)
    rdf = spark.createDataFrame(rrows or [("zz", 0, 0.0)], schema_r).coalesce(1)
    if not rrows:
        rdf = rdf.filter("k <> 'zz'")  # empty right side, schema intact
    got = (
        asof_join(ldf, rdf, on="ts", by=["k"], direction=direction,
                  allow_exact_matches=exact, tolerance=tol)
        .toPandas().sort_values(["k", "ts", "size"]).reset_index(drop=True)
    )
    exp = pd.merge_asof(
        lp.sort_values(["ts"], kind="stable"),
        rp.sort_values(["ts"], kind="stable"),
        on="ts", by="k", direction=direction,
        allow_exact_matches=exact, tolerance=tol,
    ).sort_values(["k", "ts", "size"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["k", "ts", "size", "px"]], exp[["k", "ts", "size", "px"]],
        check_dtype=False,
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_fill_gaps_matches_pandas_on_random_panels(spark, data):
    """fill_gaps vs a pandas date_range/merge replay on random sparse
    panels: random per-series subsets of a daily calendar, random
    start/end modes, random step size."""
    from mlforecast_spark.preprocessing import fill_gaps

    n_series = data.draw(st.integers(1, 3), label="n_series")
    step = data.draw(st.integers(1, 3), label="step_days")
    start_mode = data.draw(
        st.sampled_from(["per_serie", "global"]), label="start"
    )
    end_mode = data.draw(st.sampled_from(["per_serie", "global"]), label="end")
    base = pd.Timestamp("2024-03-01")
    frames = {}
    rows = []
    for sid in range(n_series):
        # random on-grid offsets: positions k*step for a random subset of k
        ks = sorted(
            data.draw(
                st.sets(st.integers(0, 25), min_size=1, max_size=10),
                label=f"ks{sid}",
            )
        )
        ds = [base + pd.Timedelta(days=k * step) for k in ks]
        f = pd.DataFrame({"ds": ds, "y": [float(k) for k in ks]})
        frames[f"s{sid}"] = f
        rows += [(f"s{sid}", d.date(), float(k)) for d, k in zip(ds, ks)]
    df = spark.createDataFrame(rows, "unique_id string, ds date, y double")
    got = (
        fill_gaps(df, f"{step}D", start=start_mode, end=end_mode)
        .toPandas()
        .sort_values(["unique_id", "ds"])
        .reset_index(drop=True)
    )
    gmin = min(f.ds.min() for f in frames.values())
    gmax = max(f.ds.max() for f in frames.values())
    expected = []
    for uid, f in frames.items():
        s = f.ds.min() if start_mode == "per_serie" else gmin
        e = f.ds.max() if end_mode == "per_serie" else gmax
        grid = pd.date_range(s, e, freq=f"{step}D")
        g = pd.DataFrame({"unique_id": uid, "ds": grid}).merge(
            f.assign(unique_id=uid), on=["unique_id", "ds"], how="outer"
        )
        expected.append(g)
    exp = (
        pd.concat(expected)
        .sort_values(["unique_id", "ds"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert got["unique_id"].tolist() == exp["unique_id"].tolist()
    assert [str(d) for d in got["ds"]] == [str(d.date()) for d in exp["ds"]]
    a, b = got["y"].to_numpy(), exp["y"].to_numpy()
    assert ((a == b) | (np.isnan(a) & np.isnan(b))).all()
