"""Shared helpers: SparkSession factory, frequency arithmetic, synthetic data.

Frequency semantics mirror the reference's ``Freq = Union[int, str]``
(`/root/reference/mlforecast/core.py:152`): an ``int`` freq means the time
column is integer-typed and steps advance by ``freq``; a string freq is a
pandas-style offset alias ('D', 'W', 'H', 'min', 'S', 'M'/'MS', 'Y'/'YS').
"""

from __future__ import annotations

import re
from typing import Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

Freq = Union[int, str]


def qcol(name: str) -> Column:
    """Column reference that survives dots in feature names (reference names
    like ``exponentially_weighted_mean_lag1_alpha0.3`` contain dots)."""
    if "." in name or "`" in name:
        return F.col("`" + name.replace("`", "``") + "`")
    return F.col(name)


def qsql(name: str) -> str:
    """Backtick-quoted identifier for SQL-string expression building (the
    string analog of :func:`qcol`)."""
    return "`" + name.replace("`", "``") + "`"


def sql_with_frames(spark: SparkSession, sql_text: str, **frames):
    """``spark.sql`` with DataFrame parameters, minus PySpark's cache-killing
    side effect.

    ``spark.sql("... {df} ...", df=df)`` routes through
    ``SQLStringFormatter``, which registers each DataFrame argument as a
    temp view and then calls ``catalog.dropTempView`` on it — and that drop
    cascades into ``CacheManager.uncacheQuery`` on the view's analyzed plan,
    which UNPERSISTS any cache entry whose plan matches the argument
    (measured r11: ``signatures.cache()`` in ``minhash_lsh_candidates`` was
    silently dead from the moment the first parameterized ``spark.sql`` was
    built, so the signature pipeline was recomputed on all four join sides;
    ``simhash_candidates``' fps cache likewise).

    This helper does the same view substitution (``sql_text`` uses
    ``{name}`` placeholders) but drops the views through the low-level
    ``SessionCatalog``, which does not touch the CacheManager. The returned
    DataFrame's plan is already resolved, so the drop is safe."""
    import uuid

    names = {k: f"_mlfs_{k}_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(names[k])
    try:
        return spark.sql(sql_text.format(**names))
    finally:
        try:
            cat = spark._jsparkSession.sessionState().catalog()
            for nm in names.values():
                cat.dropTempView(nm)
        except Exception:  # pragma: no cover - non-classic sessions
            # r12 hardening: this fallback is the cache-killing
            # ``catalog.dropTempView`` the function exists to avoid (it
            # fires on Spark Connect or if the private JVM surface drifts).
            # Re-persist any argument frame that was cached so the
            # CacheManager entry survives — the re-registration is lazy
            # (no job); the one cost is that an already-materialized cache
            # is rebuilt on next use. Warn so the regression is visible.
            import warnings

            cached = [df for df in frames.values() if df.is_cached]
            for nm in names.values():
                spark.catalog.dropTempView(nm)
            for df in cached:
                lvl = df.storageLevel
                df.unpersist()
                df.persist(lvl)
            if cached:
                warnings.warn(
                    "sql_with_frames fell back to catalog.dropTempView, "
                    "which uncaches matching plans; re-persisted "
                    f"{len(cached)} argument frame(s) (lazily). The "
                    "low-level SessionCatalog path is unavailable in "
                    "this session type.",
                    RuntimeWarning,
                    stacklevel=2,
                )


_FREQ_RE = re.compile(r"^(\d*)\s*([A-Za-z]+)$")

# pandas alias -> (unit, multiplier) where unit is a make_interval unit
_UNIT_ALIASES = {
    "d": ("day", 1),
    "day": ("day", 1),
    "w": ("day", 7),
    "h": ("hour", 1),
    "hour": ("hour", 1),
    "t": ("minute", 1),
    "min": ("minute", 1),
    "s": ("second", 1),
    "m": ("month", 1),
    "ms": ("month", 1),
    "me": ("month", 1),
    "q": ("month", 3),
    "qs": ("month", 3),
    "y": ("year", 1),
    "ys": ("year", 1),
    "a": ("year", 1),
}


def parse_freq(freq: Freq) -> tuple[str, int]:
    """Return (unit, step) where unit in {'int','day','hour','minute','second','month','year'}."""
    if isinstance(freq, int):
        return "int", freq
    m = _FREQ_RE.match(freq.strip())
    if not m:
        raise ValueError(f"Unsupported freq: {freq!r}")
    n = int(m.group(1)) if m.group(1) else 1
    # pandas 'ms' (lowercase) means milliseconds, 'MS' means month-start —
    # lowercasing would silently turn milliseconds into monthly stepping
    if m.group(2) == "ms":
        raise ValueError(
            "Ambiguous freq 'ms' (pandas milliseconds, unsupported); "
            "use 'MS' for month-start."
        )
    alias = m.group(2).lower()
    if alias not in _UNIT_ALIASES:
        raise ValueError(f"Unsupported freq alias: {freq!r}")
    unit, mult = _UNIT_ALIASES[alias]
    return unit, n * mult


def time_plus(col: Column, freq: Freq, n) -> Column:
    """``col + n * freq``. ``n`` may be an int or a Column of step counts."""
    unit, step = parse_freq(freq)
    n_col = F.lit(n) if isinstance(n, int) else n
    total = n_col * step
    if unit == "int":
        return col + total
    if unit in ("day", "hour", "minute", "second"):
        kwargs = {"days": F.lit(0), "hours": F.lit(0), "mins": F.lit(0), "secs": F.lit(0)}
        key = {"day": "days", "hour": "hours", "minute": "mins", "second": "secs"}[unit]
        kwargs[key] = total
        iv = F.make_dt_interval(kwargs["days"], kwargs["hours"], kwargs["mins"], kwargs["secs"])
        res = col.cast("timestamp") + iv
        return res
    if unit == "month":
        return F.add_months(col, total)
    if unit == "year":
        return F.add_months(col, total * 12)
    raise AssertionError(unit)


def future_steps_col(freq: Freq, last_ds: Column, h: int) -> Column:
    """Array column of the next ``h`` timestamps strictly after ``last_ds``."""
    steps = F.sequence(F.lit(1), F.lit(h))
    return F.transform(steps, lambda i: time_plus(last_ds, freq, i))


_EVENTS_CACHE: dict = {}


def load_events(spark: SparkSession, sf_dir: str):
    """The driver's events table stores ``ts`` as TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; with ``nanosAsLong`` it arrives as
    nanosecond longs — convert to a microsecond timestamp here. The conf is
    runtime-settable, so this works in externally-created sessions too."""
    key = (id(spark), sf_dir)
    cached = _EVENTS_CACHE.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        # integer division, not `/`: ns-since-epoch (~1.7e18) exceeds
        # double's 2^53 exact-integer range, so (ts/1000).cast(long) can be
        # off by ~1 us — enough to flip an event across a window boundary
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # memoize: the parquet footer re-read at every call is driver-side plan
    # latency; the DataFrame is an immutable plan, safe to share
    _EVENTS_CACHE[key] = df
    return df


_SPREAD_SCAN_NODES = re.compile(r"^(Project|Filter|Relation|InMemoryRelation)\b")
_SPREAD_CACHE: dict = {}


def spread_scan(df, min_parts: int | None = None):
    """Round-robin repartition of a narrow file scan before CPU-heavy
    per-row work (optimization guide §2.5 "input skew": repartition right
    after the read when the source under-splits).

    Spark cannot split a parquet ROW GROUP across tasks, so a compressed
    corpus file exposes only as many effective scan tasks as it has row
    groups — measured at the 100×-replicated bench scale:
    documents.parquet is 58 MB with 5 row groups, and the minhash
    signature stage (shingle explode + 32 hash-min aggregation, ~31 s of
    CPU) ran on ≤5 effective tasks of 32 cores, 11.3 s wall. Spreading
    the scan costs one corpus-sized exchange and unpins every downstream
    token/hash stage; it pays whenever per-row CPU dominates one extra
    pass over the bytes, which holds for every tokenizing operator.

    Scale-adaptive and conservative — this is a no-op unless ALL hold:

    - the plan is scan/project/filter only (no joins/aggregates/exchanges:
      their presence would make the partition probe below trigger AQE
      execution, and such plans aren't scan-starved anyway);
    - the scan yields fewer partitions than ``sc.defaultParallelism``
      (false at real scale, where the file count dwarfs the core count —
      the repartition then never enters the plan);
    - the scan's estimated size is at least
      ``spark.mlforecast.spreadScan.minBytes`` (default 4 MB). Below that
      the exchange's fixed stage cost exceeds what starvation can waste:
      interleaved A/B on the 0.64 MB sf0.1 corpus measured +0.2-0.3 s per
      dedup/text query from spreading, while at 5.9 MB (10×) spreading
      already wins 2.3× on ``text_profile`` — the default sits between
      those measured points and is conf-tunable per deployment;
    - ``spark.mlforecast.spreadScan`` is not set to ``false``.

    Only use upstream of order-insensitive consumers (integer/min/max/count
    aggregations, per-row projections): round-robin repartitioning changes
    which rows share a partition, so float partial-aggregation order moves
    — same reassociation class the engine's 6-dp output rounding absorbs.
    """
    spark = df.sparkSession
    if (
        spark.conf.get("spark.mlforecast.spreadScan", "true").lower()
        == "false"
    ):
        return df
    plan = df._jdf.queryExecution().optimizedPlan().treeString()
    nodes = [
        ln.lstrip("+-: ").strip()
        for ln in plan.splitlines()
        if ln.strip()
    ]
    if not all(_SPREAD_SCAN_NODES.match(n) for n in nodes):
        return df
    if not any(n.startswith("Relation") for n in nodes):
        return df  # in-memory frames (tests, createDataFrame) keep their plan
    sc = spark.sparkContext
    target = min_parts or sc.defaultParallelism
    min_bytes = int(
        spark.conf.get("spark.mlforecast.spreadScan.minBytes", str(4 << 20))
    )
    # memoize the probes per (session, optimized plan): .rdd costs 20-50 ms
    # of driver plan building, which is bench-floor latency when every
    # query re-derives the same corpus scan
    key = (id(spark), plan)
    probed = _SPREAD_CACHE.get(key)
    if probed is None:
        # size from the LEAF relation (file bytes), not the projected root:
        # Project stats rescale strings to a 20-byte default width, badly
        # underestimating text corpora — the cost being traded is the real
        # bytes the scan decompresses and the exchange moves
        leaf = df._jdf.queryExecution().optimizedPlan().collectLeaves().apply(0)
        probed = _SPREAD_CACHE[key] = (
            df.rdd.getNumPartitions(),
            int(str(leaf.stats().sizeInBytes())),
        )
    n, size_bytes = probed
    if n >= target or size_bytes < min_bytes:
        return df
    return df.repartition(target)


def future_grid(df, freq: Freq, h: int, id_col: str = "unique_id", time_col: str = "ds"):
    """ids × next h timestamps after each series' last observation
    (`/root/reference/mlforecast/forecast.py:1425-1443` as sequence+explode)."""
    last = df.groupBy(id_col).agg(F.max(time_col).alias("_last_ds"))
    ds_type = df.schema[time_col].dataType
    out = last.select(
        id_col, F.explode(F.sequence(F.lit(1), F.lit(h))).alias("_step"), "_last_ds"
    )
    return out.select(
        id_col,
        time_plus(F.col("_last_ds"), freq, F.col("_step")).cast(ds_type).alias(time_col),
    )


_CGROUP_MEMORY_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def _memory_limit_bytes(cgroup_files=_CGROUP_MEMORY_LIMIT_FILES) -> int | None:
    """The smaller of physical RAM and the process's cgroup memory limit;
    None if neither can be read. An unlimited cgroup reads as ``max`` or a
    huge number and so never wins the minimum."""
    import os

    limits = []
    try:
        limits.append(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    except (AttributeError, OSError, ValueError):
        pass
    for path in cgroup_files:
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    limits = [b for b in limits if b > 0]
    return min(limits) if limits else None


def _default_driver_memory(limit_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: 60% of the memory available to the
    process (``limit_bytes``, read from the machine when None), capped at
    48g and at least 1g, in whole MiB. The remaining 40% is left to the
    JVM's off-heap use and the Python driver and workers. 8g when the
    memory cannot be read."""
    if limit_bytes is None:
        limit_bytes = _memory_limit_bytes()
    if limit_bytes is None:
        return "8g"
    mib = int(limit_bytes * 0.6) >> 20
    return f"{max(1024, min(48 << 10, mib))}m"


def get_spark(app_name: str = "mlforecast-spark", cpus: int | None = None) -> SparkSession:
    """Local SparkSession tuned for this engine (tests / bench).

    On a real cluster the caller supplies their own session; every knob here
    (AQE, Arrow, shuffle partitions) is equally valid at 1000 executors.
    """
    import os

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE swap sort-merge for shuffled-hash when every post-shuffle
        # partition of the build side fits this threshold (runtime decision
        # from actual sizes, used by the banded dedup joins instead of static
        # SHUFFLE_HASH hints, which win at sf10 but block AQE's broadcast
        # conversion at sf0.1; see BASELINE.md). 64m matches the advisory
        # partition size; per-partition hash builds of that size are safe on
        # any multi-GB executor.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM IS the executor; 32 task threads on an
        # 8g heap spent whole benches in GC (measured at sf1: simhash 41s ->
        # 19.6s, IVF probe 40s -> 17.1s after raising the cap). -Xmx is a
        # ceiling, not an allocation, but the JVM grows its heap toward it
        # instead of collecting, so a ceiling above the machine's memory gets
        # the process killed; the default is sized from the memory present.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # read TIMESTAMP(NANOS) parquet columns as long (see load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # ad-hoc session overrides for experiments / deployment tuning:
    # SPARK_GRAFT_EXTRA_CONF="spark.x=1;spark.y=2"
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, (s.strip() for s in extra.split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def generate_daily_series(
    spark: SparkSession,
    n_series: int,
    min_length: int = 50,
    max_length: int = 500,
    n_static_features: int = 0,
    equal_ends: bool = False,
    seed: int = 0,
    start: str = "2000-01-01",
):
    """Spark-native analogue of the reference's synthetic generator
    (`/root/reference/mlforecast/utils.py:165-223`): seasonal daily panel with
    per-series random lengths, built from ``spark.range`` + ``sequence`` +
    ``explode`` so it scales to any n_series without driver materialization.
    """
    ids = spark.range(n_series).select(
        F.format_string(f"id_%0{len(str(n_series - 1))}d", F.col("id").cast("int")).alias("unique_id"),
        F.col("id").alias("_sid"),
    )
    span = max_length - min_length
    ids = ids.withColumn(
        "_len",
        (F.lit(min_length) + F.floor(F.rand(seed) * F.lit(max(span, 1)))).cast("int"),
    )
    if equal_ends:
        # all series end at start + max_length - 1; starts stagger
        ids = ids.withColumn("_offset", F.lit(max_length) - F.col("_len"))
    else:
        ids = ids.withColumn("_offset", F.lit(0))
    for i in range(n_static_features):
        ids = ids.withColumn(f"static_{i}", F.floor(F.rand(seed + 10 + i) * 100).cast("int"))
    df = ids.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("_len") - 1)).alias("_i"),
    )
    df = df.withColumn("ds", F.date_add(F.to_date(F.lit(start)), (F.col("_offset") + F.col("_i")).cast("int")))
    # seasonal (weekly) pattern + per-row noise, strictly positive
    df = df.withColumn(
        "y",
        (F.pmod(F.col("_offset") + F.col("_i"), F.lit(7)) + 1).cast("double")
        * (F.lit(0.5) + F.rand(seed + 1)),
    )
    return df.drop("_sid", "_len", "_offset", "_i")


def generate_prices_for_series(
    series: "DataFrame", horizon: int = 7, seed: int = 0
) -> "DataFrame":
    """Random exogenous price per (series, day) covering each series' span
    plus ``horizon`` future days (`/root/reference/mlforecast/utils.py:225-246`).
    Requires equal series ends, like the reference. Built with sequence +
    explode and a hash-derived uniform so it is partitioning-stable."""
    from pyspark.sql import Window

    spans = series.groupBy("unique_id").agg(
        F.min("ds").alias("_start"), F.max("ds").alias("_end")
    )
    n_ends = spans.select("_end").distinct().count()
    if n_ends > 1:
        raise ValueError("series must have equal ends.")
    grid = spans.select(
        "unique_id",
        F.explode(
            F.sequence(
                F.col("_start"), F.date_add(F.col("_end"), horizon), F.expr("interval 1 day")
            )
        ).alias("ds"),
    )
    price = (
        F.pmod(F.xxhash64(F.lit(seed), "unique_id", "ds"), F.lit(10**9)) / 1e9
    )
    return grid.withColumn("price", price)
