"""Physical-plan regression tests: the shapes that make this engine scale.

These assert the properties the 100 TB design depends on — if a refactor
breaks window fusion, broadcast dims, or scan pruning, these fail long before
a benchmark would show it."""

import re

import pytest
from pyspark.sql import functions as F

from mlforecast_spark.core import FeaturePlan, PanelSchema, _parse_transforms


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_all_local_features_fuse_into_one_window(spark, panel):
    """N local features over the same (id, ds) spec must compile to ONE
    WindowExec pass (one shuffle+sort regardless of feature count)."""
    from mlforecast_spark.lag_transforms import (
        ExpandingMean,
        ExpandingStd,
        RollingMax,
        RollingMean,
        RollingMin,
        RollingStd,
    )

    registry = _parse_transforms(
        [1, 2, 7, 14],
        {
            1: [RollingMean(window_size=7), RollingStd(window_size=7),
                RollingMin(window_size=7), RollingMax(window_size=7),
                ExpandingMean(), ExpandingStd()],
            7: [RollingMean(window_size=28)],
        },
    )
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    assert plan.count("Window ") + plan.count("Window\n") == 1, plan[:2000]


def test_seasonal_adds_only_one_more_window_pass(spark, panel):
    from mlforecast_spark.lag_transforms import RollingMean, SeasonalRollingMean

    registry = _parse_transforms(
        [1],
        {1: [RollingMean(window_size=7), SeasonalRollingMean(season_length=7, window_size=4)]},
    )
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    # base window + phase-partitioned window + ordinal row_number
    n_windows = len(re.findall(r"\bWindow\b", plan))
    assert n_windows <= 3, f"{n_windows} window nodes"


def test_panel_build_broadcasts_dims_and_prunes_scans(spark):
    import __spark_entry__ as entry

    panel = entry._panel(spark, "/root/testdata/sf0.001")
    plan = _plan(panel)
    assert plan.count("BroadcastHashJoin") == 2, "dims must broadcast"
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    orders_scan = [s for s in scans if "o_totalprice" in s]
    assert orders_scan and len(orders_scan[0].split(",")) == 3, orders_scan


def test_filter_pushdown_reaches_scan(spark):
    import __spark_entry__ as entry

    panel = entry._panel(spark, "/root/testdata/sf0.001")
    filtered = panel.filter(F.col("unique_id") == "NATION_1")
    plan = _plan(filtered)
    assert "EqualTo(n_name,NATION_1)" in plan, "predicate must push into the scan"


def test_scaler_stats_join_is_broadcast(spark, panel):
    from mlforecast_spark.target_transforms import LocalStandardScaler

    tfm = LocalStandardScaler()
    tfm.set_column_names("unique_id", "ds", "y")
    out = tfm.fit_transform(panel)
    assert "BroadcastHashJoin" in _plan(out)


def test_no_python_udfs_in_expression_features(spark, panel):
    """The hot path (lag/rolling/expanding) must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython / FlatMapGroupsInPandas nodes."""
    from mlforecast_spark.lag_transforms import ExpandingMean, RollingMean

    registry = _parse_transforms([1, 7], {1: [RollingMean(window_size=7), ExpandingMean()]})
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in plan


def test_linear_scoring_is_pure_expression(spark, panel):
    from mlforecast_spark import MLForecast
    from mlforecast_spark.models import LinearRegression

    mf = MLForecast(models=[LinearRegression()], freq="D", lags=[1])
    mf.fit(panel)
    feats = mf.preprocess(panel)
    scored = feats.withColumn("pred", mf._score_col(mf.models_["LinearRegression"]))
    plan = _plan(scored)
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan


def test_pooled_seasonal_stays_jvm_with_broadcast_joins(spark, panel):
    """Pooled seasonal rolling compiles to joins over the collapsed calendar:
    no Python eval nodes, and the tiny collapsed frames broadcast."""
    from mlforecast_spark.lag_transforms import SeasonalRollingMean

    registry = _parse_transforms(
        None,
        {7: [SeasonalRollingMean(season_length=7, window_size=2, global_=True)]},
    )
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    for bad in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert bad not in plan
    assert "BroadcastHashJoin" in plan


def test_minhash_signature_path_has_no_shingle_dedup(spark):
    """distinct=False shingles must not add an extra aggregate before the
    signature groupBy (minhash MIN is duplicate-invariant)."""
    from mlforecast_spark.operators.dedup import minhash_signatures, shingle_df

    docs = spark.createDataFrame(
        [("a", "x y z w"), ("b", "x y x y x y")], "doc_id string, text string"
    )
    sig_nodedup = minhash_signatures(shingle_df(docs, distinct=False))
    sig_dedup = minhash_signatures(shingle_df(docs, distinct=True))
    # exactly one aggregate (partial+final) feeds the signature — no extra
    # shingle-dedup stage (Catalyst's RemoveRedundantAggregates also strips
    # the distinct under MIN; pin that neither path regresses)
    assert _plan(sig_nodedup).count("HashAggregate") == 2
    assert _plan(sig_dedup).count("HashAggregate") == 2
    # and identical signatures either way
    a = {r["doc_id"]: r["signature"] for r in sig_nodedup.collect()}
    b = {r["doc_id"]: r["signature"] for r in sig_dedup.collect()}
    assert a == b


def test_plan_construction_runs_no_spark_jobs(spark, panel):
    """Building feature plans is pure plan construction — no driver-side
    count()/collect() actions. The ONE sanctioned exception in the package
    is semantic_dedup's default n_lists derivation (documented opt-out:
    pass n_lists); the EWM scan engine's count is opt-in (scan_rounds=None)."""
    from mlforecast_spark.lag_transforms import (
        ExpandingMean,
        ExponentiallyWeightedMean,
        RollingMean,
        RollingStd,
        SeasonalRollingMean,
    )

    registry = _parse_transforms(
        [1, 7, 14],
        {
            1: [RollingMean(window_size=7), RollingStd(window_size=7),
                ExpandingMean(),
                ExponentiallyWeightedMean(alpha=0.3),
                ExponentiallyWeightedMean(alpha=0.5, engine="scan"),
                SeasonalRollingMean(season_length=7, window_size=4),
                RollingMean(window_size=7, global_=True)],
        },
    )
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan construction must be action-free"


def test_pooled_global_rolling_quantile_is_hash_join(spark, panel):
    """The global_ rolling-quantile range join carries a block-id equi-key:
    without it Spark has no equi-condition (empty bucket) and plans a
    BroadcastNestedLoopJoin costing O(raw_rows x calendar_length)."""
    from mlforecast_spark.lag_transforms import RollingQuantile

    registry = _parse_transforms(
        [], {1: [RollingQuantile(p=0.5, window_size=7, global_=True)]}
    )
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    assert "NestedLoop" not in plan, plan[:3000]


def test_pooled_agg_path_ordinal_stays_on_collapsed_frame(spark, panel):
    """Partial-aggregate pooled features must not attach the parent-calendar
    ordinal to the RAW panel (the round-6 shape: distinct over the raw frame
    + broadcast join onto every row — one extra scan, shuffle, and exchange
    per pooled mode). The ordinal is derived on the collapsed frame
    (core._collapsed_ord), so the whole plan carries exactly ONE join: the
    features join-back. 14 -> 10 jobs / 1.56 -> 0.98 s at sf0.1."""
    from mlforecast_spark.lag_transforms import RollingMean

    # global_+partition_by (non-empty bucket, empty parent) additionally
    # broadcast-joins the ranked DISTINCT calendar onto the collapsed frame
    # (still no raw-frame scan), so it carries exactly TWO joins.
    for kwargs, n_joins in (
        ({"global_": True}, 1),
        ({"groupby": ["unique_id"]}, 1),
        ({"global_": True, "partition_by": ["unique_id"]}, 2),
    ):
        registry = _parse_transforms([], {1: [RollingMean(window_size=7, **kwargs)]})
        feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
        plan = _plan(feats)
        joins = re.findall(r"(?:BroadcastHash|SortMerge|ShuffledHash)Join", plan)
        assert len(joins) == n_joins, (kwargs, joins, plan[:3000])


def test_cogroup_predict_plan_is_one_grouped_map(spark, panel):
    """predict(engine='cogroup') must plan as a single grouped-map pass over
    the state: exactly one FlatMapGroupsInPandas and NO per-step union
    cascade — the shape whose cost is one shuffle at any h.

    Since fit() fuses state capture into the cached training frame, the
    keep_last_n tail trim rides inside this plan as a row_number over the
    InMemoryRelation; Spark runs it as a WindowGroupLimit (per-partition
    top-k, no added Exchange), so the single-shuffle property is asserted
    on the Exchange count, not on the absence of Window nodes: one
    hash-partitioning exchange feeding the grouped map (the cached frame
    is already hash-clustered only in the fit job, not for this read) and
    nothing else."""
    from mlforecast_spark import MLForecast
    from mlforecast_spark.lag_transforms import RollingMean
    from mlforecast_spark.models import LinearRegression

    mf = MLForecast(
        models=[LinearRegression()],
        freq="D",
        lags=[1, 7],
        lag_transforms={1: [RollingMean(window_size=7, min_samples=1)]},
        date_features=["dayofweek"],
    )
    mf.fit(panel)
    preds = mf.predict(7, engine="cogroup")
    plan = _plan(preds)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:2000]
    assert "Union" not in plan, plan[:2000]
    # tail trim must stay a group-limit, never a full-window rank over raw rows
    if "Window" in plan:
        assert "WindowGroupLimit" in plan, plan[:2000]
    # one exchange into the grouped map, one range exchange for the output
    # ordering — anything more means a per-step or per-feature shuffle crept
    # in. Exchanges INSIDE the InMemoryRelation string are the fit-time plan
    # (already executed and cached), not work this predict does: cut there.
    live = plan.split("InMemoryRelation", 1)[0]
    exchanges = re.findall(r"Exchange (\w+)", live)
    assert len(exchanges) <= 2, (exchanges, plan[:2000])


def test_dedup_paragraphs_aggregates_are_hash_not_sort(spark):
    """Winner selection must stay a HashAggregate: a min(struct(...))
    buffer silently falls back to SortAggregate, sorting every exploded
    paragraph row twice (measured 2.8 -> 1.8 s at sf1 when fixed)."""
    from mlforecast_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(i, f"para{i % 5}\nshared body\npara{i}") for i in range(200)],
        "doc_id long, text string",
    )
    out = dedup_paragraphs(df)
    out.count()  # AQE finalizes the executed plan
    plan = _plan(out)
    assert "SortAggregate" not in plan, plan[:3000]
    assert "HashAggregate" in plan


def test_sql_with_frames_preserves_caches(spark):
    """PySpark's parameterized ``spark.sql(..., df=df)`` drops its temp views
    THROUGH the CacheManager, silently unpersisting any cache entry whose
    plan matches a DataFrame argument (found r11: the minhash signatures
    cache was dead from the first parameterized call, so the signature
    pipeline recomputed on all four join sides). ``sql_with_frames`` must
    not do that."""
    from mlforecast_spark.utils import sql_with_frames

    df = spark.range(50).selectExpr("id", "id * 3 AS v").cache()
    try:
        out = sql_with_frames(spark, "SELECT sum(v) AS s FROM {d}", d=df)
        # the cache entry must still exist: a fresh consumer reads it
        probe = df.groupBy().count()
        assert "InMemoryTableScan" in _plan(probe)
        # and the parameterized result itself resolves and reads the cache
        assert out.collect()[0]["s"] == sum(3 * i for i in range(50))
        assert "InMemoryTableScan" in _plan(out)
    finally:
        df.unpersist()


def _minhash_docs(spark):
    return spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta") for i in range(20)]
        + [(100, "alpha beta gamma delta epsilon zeta eta"),
           (101, "alpha beta gamma delta epsilon zeta eta")],
        "doc_id long, text string",
    )


def test_minhash_candidates_cache_optin_is_alive(spark):
    """With ``cache=True`` the signatures cache must survive the SQL-string
    construction inside ``minhash_lsh_candidates`` (the stock parameterized
    ``spark.sql`` silently unpersisted it — utils.sql_with_frames) and be
    substituted into all four join sides."""
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_df,
    )

    sig = minhash_signatures(shingle_df(_minhash_docs(spark), n=3, distinct=False))
    cand = minhash_lsh_candidates(sig, max_bucket_size=1000, cache=True)
    plan = _plan(cand)
    n_cached_scans = plan.count("InMemoryTableScan")
    assert n_cached_scans >= 4, f"expected >=4 cached scans, got {n_cached_scans}"
    sig.unpersist()


def test_minhash_candidates_default_shares_signature_stage(spark):
    """Default path (no cache): the four signature subtrees must be
    canonically identical so AQE materializes the signature shuffle once —
    the banded subquery's ``id IS NOT NULL`` filter exists purely to match
    the null-filter the attach joins push down. Executing the query must
    leave exactly ONE live scan of the corpus in the final adaptive plan."""
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_df,
    )

    sig = minhash_signatures(shingle_df(_minhash_docs(spark), n=3, distinct=False))
    cand = minhash_lsh_candidates(sig, max_bucket_size=1000)
    # collect() executes cand's OWN queryExecution -> final adaptive plan
    assert len(cand.collect()) > 0
    final = _plan(cand).split("== Initial Plan ==")[0]
    n_scans = final.count("Scan ExistingRDD") + final.count("FileScan")
    assert n_scans == 1, f"expected 1 shared corpus scan, got {n_scans}"
    assert "ReusedExchange" in final


def test_shingles_have_no_exchange_before_consumer(spark):
    """The slice/arrays_zip shingle builder is a pure projection: no
    Exchange (token shuffle) may appear below the consumer's own
    aggregation (the lead-window form paid Exchange+Sort of every token)."""
    from mlforecast_spark.operators.dedup import shingle_df

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g")], "doc_id long, text string"
    )
    sh = shingle_df(docs, n=3, distinct=False)
    plan = _plan(sh)
    assert "Exchange" not in plan
    assert "Window" not in plan
    rows = {(r["doc_id"], r["shingle"]) for r in sh.collect()}
    assert (1, "a b c") in rows and (2, "e f g") in rows
    assert len(rows) == 8


def test_python_pass_ships_only_narrow_columns(spark, panel):
    """The Arrow applyInPandas pass (EWM engine='pandas') must run on the
    narrow base frame BEFORE the JVM window features widen it: applyInPandas
    ships every input column both ways, so ordering it first bounds the
    Python boundary at (id, time, y) + statics regardless of how many JVM
    features the plan also attaches (wide_feature_matrix: 24 columns)."""
    from mlforecast_spark.lag_transforms import (
        ExponentiallyWeightedMean,
        RollingMean,
        RollingStd,
    )

    registry = _parse_transforms(
        list(range(1, 8)),
        {
            1: [
                RollingMean(window_size=7),
                RollingStd(window_size=7),
                ExponentiallyWeightedMean(alpha=0.3),
            ]
        },
    )
    feats = FeaturePlan(schema=PanelSchema(), registry=registry).apply(panel)
    plan = _plan(feats)
    m = re.search(r"FlatMapGroupsInPandas \[[^\]]*\], compute\(([^)]*)\)", plan)
    assert m, plan
    shipped = [c.split("#")[0] for c in m.group(1).split(", ")]
    assert shipped == ["unique_id", "ds", "y"], shipped
    # and the features are all still produced
    missing = [n for n in registry if not any(n in c for c in feats.columns)]
    assert not missing, missing


def test_spread_scan_fires_only_on_starved_big_file_scans(spark, tmp_path):
    """spread_scan (r11) unpins CPU-heavy token stages from the parquet
    row-group count: it must repartition a large single-file scan, and be a
    NO-OP for in-memory frames, non-scan plans, and scans below the size
    threshold (the sf0.1 bench crossover)."""
    from mlforecast_spark.utils import spread_scan

    path = str(tmp_path / "docs.parquet")
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"w{i}x"), F.col("id") % 17) for i in range(30)]
        ).alias("text"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path).select("doc_id", "text")

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().treeString()

    old = spark.conf.get("spark.mlforecast.spreadScan.minBytes", None)
    try:
        spark.conf.set("spark.mlforecast.spreadScan.minBytes", "1")
        spread = spread_scan(scan)
        assert "Repartition" in plan(spread)
        assert (
            spread.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        # in-memory frame: untouched (keeps plan-shape tests meaningful)
        mem = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        assert "Repartition" not in plan(spread_scan(mem))
        # non-scan plan: untouched (the partition probe must not run on
        # plans whose .rdd would trigger AQE execution)
        agg = scan.groupBy("doc_id").count()
        assert spread_scan(agg) is agg
        # below the size threshold: untouched
        spark.conf.set(
            "spark.mlforecast.spreadScan.minBytes", str(1 << 40)
        )
        assert "Repartition" not in plan(spread_scan(scan))
    finally:
        if old is None:
            spark.conf.unset("spark.mlforecast.spreadScan.minBytes")
        else:
            spark.conf.set("spark.mlforecast.spreadScan.minBytes", old)


def test_spread_scan_consumers_results_identical(spark, tmp_path):
    """The spread plans must produce exactly the rows of the unspread plans
    for the tokenizing consumers (integer/min aggregates — partition-order
    free): shingles (multiset), simhash fingerprints, repetition stats."""
    from mlforecast_spark.operators.dedup import shingle_df, simhash
    from mlforecast_spark.operators.text import repetition_stats, text_profile

    path = str(tmp_path / "docs2.parquet")
    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"t{i % 7}_"), F.col("id") % 13) for i in range(25)]
        ).alias("text"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    scan = spark.read.parquet(path)

    old = spark.conf.get("spark.mlforecast.spreadScan.minBytes", None)
    try:
        results = {}
        for arm, min_bytes in [("spread", "1"), ("plain", str(1 << 40))]:
            spark.conf.set("spark.mlforecast.spreadScan.minBytes", min_bytes)
            results[arm] = {
                "shingles": sorted(
                    (r["doc_id"], r["shingle"])
                    for r in shingle_df(scan, n=3, distinct=False).collect()
                ),
                "simhash": sorted(
                    (r["doc_id"], r["simhash"]) for r in simhash(scan).collect()
                ),
                "reps": sorted(
                    tuple(r) for r in repetition_stats(scan).collect()
                ),
                "profile": sorted(
                    tuple(r) for r in text_profile(scan).collect()
                ),
            }
        assert results["spread"] == results["plain"]
    finally:
        if old is None:
            spark.conf.unset("spark.mlforecast.spreadScan.minBytes")
        else:
            spark.conf.set("spark.mlforecast.spreadScan.minBytes", old)


def test_panel_fat_group_gate(spark, tmp_path):
    """The r11 id-keyed RAW-row panel exchange is gated on group fatness
    (r12): thin groups (every driver SF) keep the single REPARTITION_BY_COL
    exchange the window passes reuse; fat (id, ds) groups flip to
    aggregate-then-shuffle (partial aggregation collapses the fat groups
    map-side), with y identical."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    # driver testdata must stay on the raw plan (estimate ~2.5 rows/group)
    est = entry._panel_rows_per_group("/root/testdata/sf0.001")
    assert 0 < est < 32, est
    raw_plan = _plan(entry._panel(spark, "/root/testdata/sf0.001"))
    assert "REPARTITION_BY_COL" in raw_plan
    assert raw_plan.count("Exchange hashpartitioning") == 1

    # fat synthetic: 5 nations x 10 days x 64 rows/group, integral prices
    # so group sums are fp-exact and both plans produce bit-identical y
    fat = tmp_path / "fat"
    fat.mkdir()
    n_nations, n_days, per_group = 5, 10, 64
    n = n_nations * n_days * per_group
    rng = np.random.default_rng(3)
    day = np.repeat(np.arange(n_days), n_nations * per_group)
    base = np.datetime64("1995-01-01").astype("datetime64[us]")
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array(rng.integers(0, n_nations * 4, n), pa.int64()),
                "o_totalprice": pa.array(
                    rng.integers(1, 1000, n).astype("float64")
                ),
                "o_orderdate": pa.array(
                    base + day * np.timedelta64(86_400_000_000, "us"),
                    pa.timestamp("us"),
                ),
            }
        ),
        str(fat / "orders.parquet"),
    )
    ck = np.arange(n_nations * 4)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(ck, pa.int64()),
                "c_nationkey": pa.array((ck % n_nations).astype("int32")),
            }
        ),
        str(fat / "customer.parquet"),
    )
    nk = np.arange(n_nations)
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(nk.astype("int32")),
                "n_name": pa.array([f"NATION_{i}" for i in nk]),
                "n_regionkey": pa.array((nk % 5).astype("int32")),
            }
        ),
        str(fat / "nation.parquet"),
    )

    assert entry._panel_rows_per_group(str(fat)) == pytest.approx(64.0)
    fat_plan = _plan(entry._panel(spark, str(fat)))
    # aggregate-then-shuffle: the group exchange is keyed by BOTH keys and
    # fed by a partial aggregate, plus the cheap post-agg id repartition
    assert fat_plan.count("Exchange hashpartitioning") == 2, fat_plan[:1500]

    def rows(df):
        return sorted(
            (r["unique_id"], str(r["ds"]), r["y"])
            for r in df.collect()
        )

    fat_rows = rows(entry._panel(spark, str(fat)))
    old = spark.conf.get(
        "spark.mlforecast.panel.rawRepartitionMaxRowsPerGroup", None
    )
    try:
        spark.conf.set(
            "spark.mlforecast.panel.rawRepartitionMaxRowsPerGroup", "-1"
        )
        raw_fat = entry._panel(spark, str(fat))
        assert "REPARTITION_BY_COL" in _plan(raw_fat)
        assert rows(raw_fat) == fat_rows
    finally:
        if old is None:
            spark.conf.unset(
                "spark.mlforecast.panel.rawRepartitionMaxRowsPerGroup"
            )
        else:
            spark.conf.set(
                "spark.mlforecast.panel.rawRepartitionMaxRowsPerGroup", old
            )


def test_minhash_attach_broadcast_gate(spark):
    """The attach-broadcast gate: tiny corpora keep the AQE-planned
    joins (no static broadcast hint — the hint only adds a broadcast-build
    job there), while corpora past minBytes get the static BROADCAST
    attach that removes the mid-attach exchange; values identical."""
    from mlforecast_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        shingle_df,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sig = minhash_signatures(shingle_df(docs, n=3, distinct=False))

    def static_plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    old = spark.conf.get("spark.mlforecast.attachBroadcast.minBytes", None)
    try:
        # default gate: input far below minBytes -> no static broadcast of
        # the signature attach (the banded self-join side is never hinted)
        spark.conf.set("spark.mlforecast.attachBroadcast.minBytes", str(16 << 20))
        ungated = minhash_lsh_candidates(sig, max_bucket_size=1000)
        assert "BROADCAST" not in ungated._jdf.queryExecution().logical().toString()
        # force the gate open: the attach joins are statically broadcast
        spark.conf.set("spark.mlforecast.attachBroadcast.minBytes", "0")
        gated = minhash_lsh_candidates(sig, max_bucket_size=1000)
        assert "broadcast" in gated._jdf.queryExecution().optimizedPlan().toString().lower()
        assert canon(gated) == canon(ungated)
    finally:
        if old is None:
            spark.conf.unset("spark.mlforecast.attachBroadcast.minBytes")
        else:
            spark.conf.set("spark.mlforecast.attachBroadcast.minBytes", old)


def test_probe_attach_broadcasts_only_the_side_past_the_gate(spark, monkeypatch):
    """``minhash_probe_candidates`` attaches probe and index signatures in
    two joins; each side is broadcast only when it alone passes
    ``_attach_broadcast``. A probe inside the gate must not drag the index
    into a broadcast; values do not depend on the hints."""
    from mlforecast_spark.operators import dedup

    sig = dedup.minhash_signatures(
        dedup.shingle_df(_minhash_docs(spark), n=3, distinct=False)
    )
    probe = sig.filter(F.col("doc_id") % 7 == 0)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.setattr(dedup, "_attach_broadcast", lambda df: False)
    plain = dedup.minhash_probe_candidates(probe, sig)
    # only the probe signatures (renamed sig_a by the attach) pass the gate
    monkeypatch.setattr(dedup, "_attach_broadcast", lambda df: "sig_a" in df.columns)
    probe_only = dedup.minhash_probe_candidates(probe, sig)

    def hinted_joins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [
            line for line in plan.splitlines()
            if "Join Inner" in line and "strategy=broadcast" in line
        ]

    assert hinted_joins(plain) == []
    hinted = hinted_joins(probe_only)
    assert len(hinted) == 1, hinted
    assert re.search(r"\(probe_id#\d+L = probe_id#\d+L\)", hinted[0]), hinted[0]
    assert canon(probe_only) == canon(plain)
    assert len(canon(plain)) > 0


def _variant_corpus(spark, path):
    """300 seeded random 30-token documents, the first 40 of them also in
    three case/whitespace variants. A variant differs in bytes, so exact
    dedup keeps it, but tokenizes like its original, so each group of four
    is a 6-edge clique of identical simhashes. Read back from parquet like a
    real corpus: over an in-memory relation AQE's job count varies by run."""
    import random

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(5000)]
    texts = [" ".join(rnd.choice(vocab) for _ in range(30)) for _ in range(300)]
    rows = list(enumerate(texts))
    for c, t in enumerate(texts[:40]):
        rows += [
            (1000 + 3 * c, t.upper()),
            (1001 + 3 * c, t.replace(" ", "  ")),
            (1002 + 3 * c, " " + t.title()),
        ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


# Spark jobs of one simhash dedup_corpus pass over _variant_corpus, consuming
# count included: the exact-dup and fingerprint stages, the candidate join,
# connected_components' counted edge checkpoint and its one collect. Resolving
# the same graph with the distributed label propagation takes over twenty.
_SIMHASH_DEDUP_MAX_JOBS = 12


def test_simhash_dedup_corpus_job_budget(spark, tmp_path):
    """A small candidate graph is resolved on the driver, so a simhash
    dedup runs no Spark job per propagation round."""
    from mlforecast_spark.operators.dedup import dedup_corpus

    docs = _variant_corpus(spark, str(tmp_path / "docs"))
    sc = spark.sparkContext
    group = "test_simhash_dedup_corpus_job_budget"
    sc.setJobGroup(group, "job budget")
    try:
        survivors = dedup_corpus(docs, method="simhash").count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert survivors == 300
    assert 0 < n_jobs <= _SIMHASH_DEDUP_MAX_JOBS, n_jobs
