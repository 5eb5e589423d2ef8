"""Similarity search over embedding columns (`array<float>`).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline. Dot
  products via ``zip_with``/``aggregate`` higher-order functions (JVM-side,
  no Python). Quadratic; use for query sets, not all-pairs at scale.
- ``lsh_topk``: random-hyperplane LSH bucketing — data-independent scale
  path. Vectors only meet within matching buckets, turning the quadratic
  join into a bucket-local one. Recall tunable via num_planes/num_tables.
- ``ivf_topk``: k-means inverted lists (FAISS-style) — the data-adaptive
  scale path; probes the ``nprobe`` nearest lists per query and degrades
  exactly to brute force at ``nprobe == n_lists``. Split as
  ``build_ivf_index`` / ``ivf_search`` with a parquet-persistable
  :class:`IVFIndex` (build once, search per query batch).
- ``quantize_embeddings``: int8 scalar quantization (SQ8) for 4-8x smaller
  embedding storage/shuffles.
- ``build_pq_index``/``pq_search``: product quantization + ADC scan
  (FAISS PQ) — 30-60x smaller than floats; search reads only the codes.
  Compose with IVF via a vec_id join for IVFPQ.
- ``semantic_dedup``: SemDeDup-style semantic deduplication — k-means
  clusters confine the quadratic pairwise pass, connected components pick
  one survivor per duplicate group.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..utils import spread_scan


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def with_unit_vectors(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Pre-normalize once so cosine = dot."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = _norm(v)
    return df.withColumn("_unit", F.when(n > 0, F.transform(v, lambda x: x / n)))


# Per-worker memory bound for one gram block, in float64 CELLS. 16M cells
# = 128 MB per gram block (~4 transient arrays of that size live at once:
# raw/cos/mask/ranked, so ~0.5 GB peak per worker; 32 concurrent workers
# ~16 GB) — small enough for the box, large enough that BLAS runs at full
# throughput. The sf10 STRICT sweep (200k queries x 6.25k-vector buckets
# = a 10 GB gram PER TASK x 32 workers) crashed the unchunked form's
# python workers; chunking the query axis is exact (each query row's
# scores are independent).
_GRAM_BLOCK_CELLS = 16_000_000


def _gram_topk_fn(k: int, rt: int):
    """Cogrouped-Arrow scorer shared by :func:`cosine_topk` and
    :func:`ivf_search`: BLAS gram ``Q @ N.T`` per group over the
    ``(query_id, _qv)`` x ``(neighbor_id, _nv)`` frames, HALF_UP rounding
    to ``rt`` decimals (matches Spark ``F.round`` / DuckDB ``ROUND`` —
    numpy's banker's rounding diverges on exact .5 ties), self-pairs
    excluded, per-group top-k by (cosine desc, neighbor_id asc).

    The gram is computed in fixed-size QUERY-ROW chunks so one task's
    resident block never exceeds ``_GRAM_BLOCK_CELLS`` float64 cells
    regardless of how many queries the group carries — per-query rows are
    independent, so chunking the query axis changes nothing but peak
    memory (bit-identical output, asserted in
    tests/test_operators.py::test_gram_chunking_identical)."""
    import pandas as pd

    def score_list(qpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if qpdf.empty or npdf.empty:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        Q = np.stack(qpdf["_qv"].to_numpy()).astype(np.float64)
        N = np.stack(npdf["_nv"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(Q, axis=1)
        nn = np.linalg.norm(N, axis=1)
        qn[qn == 0] = 1.0
        nn[nn == 0] = 1.0
        qids = qpdf["query_id"].to_numpy()
        nids = npdf["neighbor_id"].to_numpy()
        # fully vectorized per-group top-k (a per-query pandas loop here
        # cost 640k tiny sort_values/head frames at sf1 — 70 of the 76 s):
        # columns pre-sorted by neighbor_id so ONE stable argsort on the
        # negated rounded cosine realizes the (cosine desc, neighbor_id
        # asc) tie rule for every query at once; self-pairs are pushed to
        # the end via -inf and dropped after selection
        order = np.argsort(nids, kind="stable")
        nids_s = nids[order]
        N_s = N[order]
        nn_s = nn[order]
        scale = 10.0 ** rt
        kk = min(int(k), len(nids_s))
        chunk = max(1, _GRAM_BLOCK_CELLS // max(1, len(nids_s)))
        out_q, out_n, out_c = [], [], []
        for lo in range(0, len(Q), chunk):
            hi = min(lo + chunk, len(Q))
            raw = (Q[lo:hi] @ N_s.T) / np.outer(qn[lo:hi], nn_s)
            cos = np.sign(raw) * np.floor(np.abs(raw) * scale + 0.5) / scale
            self_mask = qids[lo:hi, None] == nids_s[None, :]
            ranked = np.where(self_mask, -np.inf, cos)
            idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kk]
            rowi = np.repeat(np.arange(hi - lo), kk)
            coli = idx.ravel()
            sel = ranked[rowi, coli]
            keep = sel != -np.inf  # legit cosines are finite by construction
            out_q.append(qids[lo:hi][rowi[keep]])
            out_n.append(nids_s[coli[keep]])
            out_c.append(sel[keep])
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    return score_list


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    num_buckets: Optional[int] = None,
    num_query_blocks: Optional[int] = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector — the brute-force
    baseline every ANN variant is measured against.

    Output: (query_id, neighbor_id, cosine), ranked by rounded cosine with
    neighbor-id tie-break so results are deterministic across engines.

    Engine: a 2D-blocked BLAS gram. The corpus is salted into
    ``num_buckets`` hash buckets (default: the session's parallelism) and
    the query set into ``num_query_blocks`` hash blocks; every
    (query-block, corpus-bucket) cell is one cogrouped ``applyInPandas``
    task scoring ``Q_block @ N_bucket.T`` + local top-k, and an exact
    global top-k window runs over the per-bucket slivers (lossless: every
    global top-k member is a fortiori in its bucket's local top-k; only
    ``num_buckets * k`` rows per query leave Python).

    ``num_query_blocks`` bounds the PER-TASK resident query payload: each
    task holds |Q|/qb query rows and |N|/nb corpus rows, so both axes of
    a task's memory stay O(data / blocks) no matter how large either side
    grows; shuffle volume is |Q|*nb + |N|*qb (the classic block-matrix
    trade). Default: ``num_buckets`` when ``queries is vectors`` (the
    all-pairs near-dup self-join -> square blocking), else 1 (small query
    batches keep the zero-extra-shuffle 1D plan). The r10 sf10 STRICT
    sweep measured why the query axis must be blocked: with qb=1 the full
    2M-vector query set was replicated into EVERY bucket task (>=1 GB of
    float64 plus pandas object overhead per task, x32 concurrent) and
    crashed the Python workers — the r10 gram-chunking
    (``_GRAM_BLOCK_CELLS``) bounds the gram block but not the stacked Q;
    query-blocking bounds both. Pass ``num_query_blocks`` explicitly for
    large query frames that are not the identical DataFrame object.

    The previous form —
    per-pair ``zip_with``/``aggregate`` dot products over a nested-loop
    join — had BOTH no parallelism (pair count inherits the corpus scan's
    partitioning: one file = one task) and interpreted-HOF per-pair cost;
    the sf1 STRICT oracle sweep caught it at 52+ min single-core where
    this form takes seconds, the same BLAS-vs-interpreter cliff as
    ivf_search's scorer (measured there: 13.5 s -> 2 s at sf10) and
    semantic_dedup's pairwise pass (241 s -> 8.5 s at sf1)."""
    spark = vectors.sparkSession
    nb = int(num_buckets or spark.sparkContext.defaultParallelism or 32)
    if num_query_blocks is None:
        qb_n = nb if queries is vectors else 1
    else:
        qb_n = max(1, int(num_query_blocks))
    a = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    b = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb)).cast("int").alias("_b"),
    )
    buckets = spark.range(nb).select(F.col("id").cast("int").alias("_b"))
    id_type = dict(a.dtypes)["query_id"]
    nbr_type = dict(b.dtypes)["neighbor_id"]
    out_schema = f"query_id {id_type}, neighbor_id {nbr_type}, cosine double"
    scorer = _gram_topk_fn(int(k), int(round_to))
    if qb_n <= 1:
        a_rep = a.crossJoin(F.broadcast(buckets))
        pairs = (
            a_rep.groupBy("_b")
            .cogroup(b.groupBy("_b"))
            .applyInPandas(scorer, schema=out_schema)
        )
    else:
        qblocks = spark.range(qb_n).select(F.col("id").cast("int").alias("_qb"))
        a_rep = a.withColumn(
            "_qb",
            F.pmod(F.xxhash64(F.col("query_id")), F.lit(qb_n)).cast("int"),
        ).crossJoin(F.broadcast(buckets))
        b_rep = b.crossJoin(F.broadcast(qblocks))
        pairs = (
            a_rep.groupBy("_qb", "_b")
            .cogroup(b_rep.groupBy("_qb", "_b"))
            .applyInPandas(scorer, schema=out_schema)
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _plane_matrix(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(num_planes, dim).tolist()


def lsh_bucket_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(v · plane_i); emitted as one
    integer bucket key, all in JVM expressions."""
    bits = []
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bits.append(F.shiftleft((_dot(vec, arr) > 0).cast("long"), i))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 4,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: vectors meet only when they share an LSH bucket in
    at least one of ``num_tables`` hyperplane tables.

    ``dim`` (embedding dimensionality) sizes the hyperplane matrices. Pass
    it explicitly when known; otherwise it is read from the DataFrame
    metadata if present, and only as a last resort probed with a
    ``LIMIT 1`` job (a driver action during plan construction — avoid on
    hot paths)."""
    if dim is None:
        meta = vectors.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        dim = len(vectors.select(vec_col).limit(1).first()[0])
    # the hyperplane dot products (num_tables x num_planes interpreted
    # aggregate HOFs per row) run in the scan stage — spread a row-group-
    # starved corpus scan first (per-row projection, result-neutral)
    vectors = spread_scan(vectors)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def bucketize(df, out_id):
        buckets = F.array(
            *[
                lsh_bucket_col(vd, _plane_matrix(dim, num_planes, seed + t))
                for t in range(num_tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(f"_{out_id}_v"),
            buckets.alias(f"_{out_id}_bks"),
        ).select(
            F.col(out_id),
            F.col(f"_{out_id}_v"),
            F.col(f"_{out_id}_bks"),
            F.posexplode(F.col(f"_{out_id}_bks")).alias("table", f"_{out_id}_bucket"),
        )

    qb = bucketize(queries, "query_id")
    vb = bucketize(vectors, "neighbor_id")
    qv = F.transform(F.col("_query_id_v"), lambda x: x.cast("double"))
    nv = F.transform(F.col("_neighbor_id_v"), lambda x: x.cast("double"))
    cos = _dot(qv, nv) / (_norm(qv) * _norm(nv))
    # first-matching-table dedup (same trick as the minhash/simhash band
    # dedup): both bucket vectors ride the join row, so each (query,
    # neighbor) pair survives from exactly one table and the candidate-set
    # dropDuplicates shuffle disappears
    no_earlier = F.lit(True)
    for t in range(num_tables - 1):
        no_earlier = no_earlier & F.when(
            qb["table"] > t,
            F.col("_query_id_bks")[t] != F.col("_neighbor_id_bks")[t],
        ).otherwise(F.lit(True))
    pairs = (
        qb.join(
            vb,
            (qb["table"] == vb["table"])
            & (qb["_query_id_bucket"] == vb["_neighbor_id_bucket"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .filter(no_earlier)
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    max_iter: int = 10,
    round_to: int = 6,
    train_fraction: float | None = None,
    trainer: str = "sample",
    max_train_points: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    (see :func:`build_ivf_index`) partitions vectors into ``n_lists`` inverted
    lists; each query probes its ``nprobe`` nearest centroids and ranks only
    those lists' vectors exactly. The candidate join is an equi-join on the
    list id — per query it touches ~``nprobe/n_lists`` of the corpus, the
    standard FAISS-style scale path for clusterable embeddings.

    ``train_fraction``: train the k-means on a seeded Bernoulli sample of
    the corpus (assignment still covers everything) — FAISS practice:
    centroids only need a representative sample (its defaults train on ≤256
    points per list). At 100 TB this is the difference between iterating
    k-means over the corpus and over a sliver of it. A fraction (not a row
    cap) so plan construction stays action-free. None = train on
    everything.

    ``nprobe == n_lists`` degrades exactly to brute force (every list
    probed), which is the oracle-checkable configuration; recall at small
    ``nprobe`` depends on how clusterable the corpus is."""
    index = build_ivf_index(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        seed=seed,
        max_iter=max_iter,
        train_fraction=train_fraction,
        trainer=trainer,
        max_train_points=max_train_points,
    )
    return ivf_search(
        index, queries, k=k, id_col=id_col, vec_col=vec_col, nprobe=nprobe,
        round_to=round_to,
    )


class IVFIndex:
    """A built IVF index: the coarse-quantizer centroids (tiny,
    broadcast-joined at query time) and the corpus assigned to inverted
    lists. Both are plain DataFrames, so the index persists as two parquet
    tables — at 100 TB you build it once (the k-means pass) and reuse it
    for every query batch with :func:`ivf_search`; ``assigned`` written
    partitioned by ``list_id`` makes each probe a partition-pruned scan."""

    def __init__(self, centroids: DataFrame, assigned: DataFrame, local_centers=None):
        self.centroids = centroids  # list_id int, center array<double>
        self.assigned = assigned  # vec_id, embedding, list_id
        # (list_id, center) pairs already resident on the driver when the
        # index was built in this session — lets the probe inline them
        # without any collect job; a load()ed index leaves this None
        self.local_centers = local_centers

    def save(self, path: str) -> None:
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        (
            self.assigned.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(f"{path}/assigned")
        )

    @classmethod
    def load(cls, spark, path: str) -> "IVFIndex":
        return cls(
            spark.read.parquet(f"{path}/centroids"),
            spark.read.parquet(f"{path}/assigned"),
        )


def _collect_train_sample(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    cap: int,
    seed: int,
    train_fraction,
    caller: str,
):
    """Bounded, deterministic training sample for driver-side quantizer
    fits: optional Bernoulli pre-sample, then hash-ordered TakeOrdered
    (planned as TakeOrderedAndProject — no full sort), ONE job."""
    import numpy as np

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    train = vectors.select(vd.alias("_v"), F.xxhash64(F.col(id_col)).alias("_h"))
    if train_fraction is not None and train_fraction < 1.0:
        train = train.sample(fraction=train_fraction, seed=seed)
    rows = train.orderBy("_h").limit(int(cap)).select("_v").collect()
    if not rows:
        raise ValueError(f"{caller}: no vectors to train on")
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def _kmeans_numpy(X, k: int, seed: int, max_iter: int):
    """Seeded k-means++ init + Lloyd iterations on a driver-side sample.

    The sample is bounded (see ``build_ivf_index``), so the whole fit is
    one BLAS loop on the driver — the FAISS coarse-quantizer recipe (its
    defaults train on <=256 points per centroid regardless of corpus
    size). Deterministic for a given (sample, seed): numpy RandomState
    init, ties in the assignment argmin break to the lowest list id, and
    empty clusters reseed to the point farthest from its center."""
    import numpy as np

    n = len(X)
    rng = np.random.RandomState(seed)
    if n < k:
        # fewer sample points than lists: every point is a center, the
        # remainder duplicate existing centers (their lists end up empty)
        reps = -(-k // n)
        return np.tile(X, (reps, 1))[:k].copy()
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        tot = d2.sum()
        if tot > 0:
            probs = d2 / tot
            centers[j] = X[rng.choice(n, p=probs)]
        else:
            centers[j] = X[rng.randint(n)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    x_sq = (X**2).sum(axis=1)
    labels = None
    for _ in range(max_iter):
        dist = x_sq[:, None] - 2.0 * (X @ centers.T) + (centers**2).sum(axis=1)
        new_labels = dist.argmin(axis=1)
        if labels is not None and (new_labels == labels).all():
            break
        labels = new_labels
        # DISTINCT worst-fit points for empty-cluster reseeds: handing every
        # empty cluster the same argmax point would leave duplicate centers
        # (argmin ties go to the lowest id, so the others stay empty forever)
        worst_order = np.argsort(-dist.min(axis=1))
        next_worst = 0
        for j in range(k):
            members = X[labels == j]
            if len(members):
                centers[j] = members.mean(axis=0)
            else:
                centers[j] = X[worst_order[min(next_worst, n - 1)]]
                next_worst += 1
    return centers


def build_ivf_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 7,
    max_iter: int = 10,
    train_fraction: float | None = None,
    trainer: str = "sample",
    max_train_points: int | None = None,
) -> IVFIndex:
    """Train the coarse quantizer and assign every vector to its inverted
    list.

    ``trainer='sample'`` (default): collect a bounded, seeded,
    deterministically-ordered sample to the driver (cap =
    ``max_train_points``, default ``min(max(256 * n_lists, 16384),
    131072)`` — FAISS's 256-points-per-centroid practice), run seeded
    k-means++ + Lloyd in numpy there, then assign the full corpus in ONE
    Arrow pass (a BLAS argmin pandas UDF against the broadcast centroid
    matrix). Two jobs total regardless of ``max_iter`` — at 100 TB the
    centroids never needed more than a sliver of the data, and on a warm
    cluster this removes the per-iteration job latency of a distributed
    fit. ``train_fraction`` additionally pre-samples before the cap (cheap
    scan-side Bernoulli filter, useful when the corpus is huge and the
    TakeOrdered over it would dominate).

    ``trainer='mllib'``: the previous behavior — Spark MLlib distributed
    k-means (kmeans|| init; one job per init/Lloyd pass). Use when the
    training set genuinely must exceed driver memory, i.e. you have reason
    to believe a 131k-point sample cannot represent the corpus."""
    if n_lists < 1:
        raise ValueError(f"n_lists must be >= 1, got {n_lists}")
    if trainer not in ("sample", "mllib"):
        raise ValueError(f"trainer must be 'sample' or 'mllib', got {trainer!r}")
    # spread a row-group-starved vector scan BEFORE the per-row argmin
    # assign pass and everything chained onto `assigned` (the probe's
    # list-pruned mapInPandas runs in the same stage as the scan) — the
    # 100x bench embeddings file is 52 MB in 2 row groups, pinning those
    # BLAS kernels to 2 effective tasks. Only the ASSIGN input is spread:
    # the training paths keep the original frame, because the Bernoulli
    # `train_fraction` pre-sample and MLlib's kmeans|| init are partition-
    # dependent (the default hash-ORDERED driver sample is not, but the
    # restriction keeps every trainer bit-stable). Assignment is per-row
    # and every search top-k merges under a total (score, id) order, so
    # spreading it is result-neutral. See utils.spread_scan.
    assign_src = spread_scan(vectors)
    if n_lists == 1:
        # degenerate single-list index (== brute force at search time);
        # MLlib KMeans rejects k=1, and no clustering is needed anyway
        assigned = assign_src.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            F.lit(0).alias("list_id"),
        )
        dim_expr = F.size(F.col(vec_col))
        cdf = (
            vectors.select(dim_expr.alias("_d"))
            .limit(1)
            .select(
                F.lit(0).alias("list_id"),
                F.array_repeat(F.lit(0.0), F.col("_d")).alias("center"),
            )
        )
        return IVFIndex(cdf, assigned)

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if trainer == "mllib":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = vectors.select(
            F.col(id_col).alias("vec_id_"),
            F.col(vec_col).alias("embedding_"),
            array_to_vector(vd).alias("_feat"),
        )
        train = feats
        if train_fraction is not None and train_fraction < 1.0:
            train = feats.sample(fraction=train_fraction, seed=seed)
        km = KMeans(k=n_lists, seed=seed, maxIter=max_iter, featuresCol="_feat")
        model = km.fit(train)
        feats_assign = assign_src.select(
            F.col(id_col).alias("vec_id_"),
            F.col(vec_col).alias("embedding_"),
            array_to_vector(vd).alias("_feat"),
        )
        assigned = model.transform(feats_assign).select(
            F.col("vec_id_").alias("vec_id"),
            F.col("embedding_").alias("embedding"),
            F.col("prediction").alias("list_id"),
        )
        centers = [
            (int(i), [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
        cdf = vectors.sparkSession.createDataFrame(
            centers, "list_id int, center array<double>"
        )
        return IVFIndex(cdf, assigned, local_centers=centers)

    cap = max_train_points
    if cap is None:
        cap = min(max(256 * n_lists, 16384), 131072)
    X = _collect_train_sample(
        vectors, id_col, vec_col, cap, seed, train_fraction, "build_ivf_index"
    )
    centers_np = _kmeans_numpy(X, n_lists, seed=seed, max_iter=max_iter)
    c_t = centers_np.T.copy()
    c_sq = (centers_np**2).sum(axis=1)

    def _assign_fn(col):
        import numpy as np
        import pandas as pd

        Xb = np.stack(col.to_numpy()).astype(np.float64)
        # argmin ||x-c||^2 == argmin (-2 x.c + ||c||^2); ||x||^2 constant
        d = Xb @ c_t * (-2.0) + c_sq
        return pd.Series(d.argmin(axis=1).astype("int32"))

    _assign = F.pandas_udf(_assign_fn, "int")

    assigned = assign_src.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        _assign(vd).alias("list_id"),
    )
    centers = [(int(i), [float(x) for x in c]) for i, c in enumerate(centers_np)]
    cdf = vectors.sparkSession.createDataFrame(
        centers, "list_id int, center array<double>"
    )
    return IVFIndex(cdf, assigned, local_centers=centers)


# n_lists * dim guard for the literal probe plan. Measured on this
# container (r9, local[4], 100-row probe frame): the single-string SQL
# parse below costs ~2 s at 16k cells, ~6 s at 64k, ~27 s at 262k —
# analyzer + codegen on the literal tree grows superlinearly, so the old
# 262k bound admitted exactly the pathology it existed to prevent (and
# per-F.lit py4j construction was another ~9x slower on top: 56 s at 64k).
# Above the bound the broadcast-join fallback's extra shuffle is cheaper.
_PROBE_LITERAL_MAX_CELLS = 16_384


def _sql_double(x: float) -> str:
    """SQL double literal, bit-exact round trip (shortest repr +
    correctly-rounded parse); finite guard for kmeans edge cases."""
    if x != x:
        return "double('NaN')"
    if x == float("inf"):
        return "double('Infinity')"
    if x == float("-inf"):
        return "double('-Infinity')"
    return repr(float(x)) + "D"


def _centroid_probe(
    df: DataFrame,
    centroids: DataFrame,
    key_col: str,
    vec_col: str,
    nprobe: int,
    local_centers=None,
) -> DataFrame:
    """Attach each row's ``nprobe`` nearest centroid lists (L2 rank, ties
    to the lower list id) — the shared probe step of ivf_search /
    ivfpq_search / streaming list assignment. Output: the input columns
    plus ``_list`` (one row per probed list).

    Default plan: the centroid table is tiny by construction (the coarse
    quantizer), so it is collected once and inlined as a LITERAL array of
    (list_id, center) structs; per row the probe is then transform →
    array_sort → slice — a pure projection, ZERO shuffles (struct sort
    order gives the (distance, list_id) tiebreak for free). This replaced
    a broadcast cross-join + per-key row_number window, whose exchange
    re-shuffled the ENTIRE probed frame by key — on a corpus-sized frame
    that is a full extra shuffle, and even on a query batch it cost
    2 AQE-materialized jobs per search. The literal is built as ONE SQL
    string parsed JVM-side (~9x faster than per-``F.lit`` py4j calls —
    measured 6 s vs 56 s at 64k cells) and gated at
    ``_PROBE_LITERAL_MAX_CELLS`` = 16k cells (~2 s of plan work), past
    which analyzer/codegen on the literal tree grows superlinearly and
    the join+window fallback is cheaper."""
    if local_centers is not None:
        rows = [{"list_id": l, "center": c} for l, c in local_centers]
        n_cells = sum(len(r["center"]) for r in rows)
    else:
        stats = centroids.select(F.sum(F.size("center")).alias("cells")).first()
        n_cells = int(stats["cells"] or 0)
        rows = (
            centroids.select("list_id", "center").collect()
            if 0 < n_cells <= _PROBE_LITERAL_MAX_CELLS
            else []
        )
    if 0 < n_cells <= _PROBE_LITERAL_MAX_CELLS:
        parts = []
        for r in sorted(rows, key=lambda r: int(r["list_id"])):
            vals = ",".join(_sql_double(x) for x in r["center"])
            parts.append(
                f"named_struct('l',{int(r['list_id'])},'c',array({vals}))"
            )
        carr = f"array({','.join(parts)})"
        vd_sql = f"transform(`{vec_col}`, x -> cast(x as double))"
        dists = (
            f"transform({carr}, s -> named_struct("
            f"'d', aggregate(zip_with({vd_sql}, s.c, (a, b) -> (a-b)*(a-b)),"
            f" 0.0D, (a, x) -> a + x),"
            f"'l', s.l))"
        )
        top = F.expr(f"slice(array_sort({dists}), 1, {int(nprobe)})")
        return df.withColumn(
            "_list", F.explode(F.transform(top, lambda s: s["l"]))
        )
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cdf = centroids.select(
        F.col("list_id").alias("_list"), F.col("center").alias("_center")
    )
    diff = F.zip_with(vd, F.col("_center"), lambda a, b: (a - b) * (a - b))
    dist = F.aggregate(diff, F.lit(0.0), lambda a, x: a + x)
    w = Window.partitionBy(key_col).orderBy(dist.asc(), F.col("_list"))
    return (
        df.join(F.broadcast(cdf), how="cross")
        .withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= nprobe)
        .drop("_center", "_pr")
    )


# ivf_search collects query batches up to this many rows to the driver and
# computes their centroid probes in numpy (zero Spark jobs) instead of
# planning the distributed probe+cogroup. 4096 queries x 64 doubles = 2 MB —
# comfortably driver/closure-sized; batches past the cap (or loaded indexes
# without driver-resident centroids) take the distributed path unchanged.
_SMALL_QUERY_BATCH_CAP = 4096


def _ivf_search_small(
    index: IVFIndex,
    qrows,
    k: int,
    nprobe: int,
    round_to: int,
    out_schema: str,
) -> DataFrame:
    """Small-query-batch IVF probe: the serving shape (a handful of queries
    against a huge corpus). The query batch is already driver-resident, so
    the nprobe nearest centroids per query are a numpy argsort (no probe
    plan at all), the corpus is pruned with a scan-pushed ``isin`` on the
    probed list ids (partition-pruned when ``assigned`` is stored
    partitioned by ``list_id`` — see :meth:`IVFIndex.save`), and scoring is
    one ``mapInPandas`` pass over the pruned scan: per Arrow batch, one BLAS
    gram per probed list against that list's querying vectors with a
    per-batch top-k, so only ``<= partitions * queries * k`` candidate rows
    reach the final global top-k window. ZERO corpus shuffles — the
    cogrouped path pays two exchanges (both cogroup sides) plus the
    semi-join prune stages, which at the bench SF were pure per-job floor
    (8 jobs -> 4) and at 100 TB are a full corpus shuffle this path never
    does."""
    import numpy as np

    local = index.local_centers
    list_ids = np.array([int(l) for l, _ in local], dtype=np.int64)
    C = np.array([c for _, c in local], dtype=np.float64)
    Q = np.stack(
        [np.asarray(r["_qv"], dtype=np.float64) for r in qrows]
    )
    qids = np.array([r["query_id"] for r in qrows])
    # L2 rank, ties to the lower list id — same rule as _centroid_probe's
    # struct ('d', 'l') sort
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    order = np.lexsort((np.broadcast_to(list_ids, d2.shape), d2), axis=1)
    probed = order[:, : min(int(nprobe), len(local))]
    q_for_list: dict[int, np.ndarray] = {}
    for qi in range(len(qrows)):
        for ci in probed[qi]:
            q_for_list.setdefault(int(list_ids[ci]), []).append(qi)
    q_for_list = {l: np.asarray(v) for l, v in q_for_list.items()}
    needed = sorted(q_for_list)

    assigned = index.assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_nv"),
        F.col("list_id").alias("_list"),
    )
    spark = assigned.sparkSession
    if not needed:
        return spark.createDataFrame([], out_schema + ", rank int")

    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    kk = int(k)
    rt = int(round_to)

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for l, grp in pdf.groupby("_list"):
                qidx = q_for_list.get(int(l))
                if qidx is None or grp.empty:
                    continue
                N = np.stack(grp["_nv"].to_numpy()).astype(np.float64)
                nids = grp["neighbor_id"].to_numpy()
                nn = np.linalg.norm(N, axis=1)
                nn[nn == 0] = 1.0
                raw = (Q[qidx] @ N.T) / np.outer(qn[qidx], nn)
                scale = 10.0 ** rt
                # HALF_UP, matching _gram_topk_fn / Spark F.round
                cos = np.sign(raw) * np.floor(np.abs(raw) * scale + 0.5) / scale
                o = np.argsort(nids, kind="stable")
                nids_s = nids[o]
                cos_s = cos[:, o]
                self_mask = qids[qidx][:, None] == nids_s[None, :]
                ranked = np.where(self_mask, -np.inf, cos_s)
                kb = min(kk, ranked.shape[1])
                idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kb]
                rowi = np.repeat(np.arange(len(qidx)), kb)
                coli = idx.ravel()
                sel = ranked[rowi, coli]
                keep = sel != -np.inf
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qidx][rowi[keep]],
                            "neighbor_id": nids_s[coli[keep]],
                            "cosine": sel[keep],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    pairs = assigned.filter(F.col("_list").isin([int(l) for l in needed])).mapInPandas(
        scan, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ivf_search(
    index: IVFIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Probe a built (or loaded) :class:`IVFIndex`: nprobe nearest centroids
    per query via a broadcast centroid join, exact cosine rank within the
    probed lists only.

    Scoring runs as a per-list BLAS gram inside cogrouped ``applyInPandas``
    (one ``Q @ N.T`` per probed list) with a per-list top-k, so only
    ``nprobe * k`` candidate rows per query leave Python and the global
    rank is a window over that sliver. The interpreted higher-order-
    function cosine it replaces evaluated every (query, vector) pair one
    multiply at a time — measured at sf10 (200k vectors, 20 queries,
    nprobe=4): 13.5 s → the gram form's ~2 s, the same ~BLAS-vs-
    interpreter gap as semantic_dedup's pairwise pass. Per-list top-k is
    lossless: every global top-k member is a fortiori in its own list's
    top-k. Ties break on (rounded cosine desc, neighbor_id asc), matching
    the brute-force oracle."""
    assigned = index.assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_nv"),
        F.col("list_id").alias("_list"),
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))

    id_type_early = dict(q.dtypes)["query_id"]
    nbr_type_early = dict(assigned.dtypes)["neighbor_id"]
    local0 = getattr(index, "local_centers", None)
    if local0 is not None and nprobe < len(local0):
        # partial-probe small-batch fast path (see _ivf_search_small): one
        # bounded collect decides — <= CAP rows means the batch IS the
        # collected data; past the cap the rows are discarded and the
        # distributed plan below runs (one wasted tiny job, amortized by
        # the batch size that caused it). Full probe (nprobe >= n_lists)
        # keeps the cogrouped plan: it is the brute-force-equivalent
        # oracle configuration and probe order cannot change its result.
        qrows = q.limit(_SMALL_QUERY_BATCH_CAP + 1).collect()
        if len(qrows) <= _SMALL_QUERY_BATCH_CAP:
            return _ivf_search_small(
                index,
                qrows,
                k,
                nprobe,
                round_to,
                f"query_id {id_type_early}, neighbor_id {nbr_type_early},"
                " cosine double",
            )
    probes = _centroid_probe(
        q, index.centroids, "query_id", "_qv", nprobe,
        local_centers=getattr(index, "local_centers", None),
    ).select("query_id", "_qv", "_list")

    id_type = dict(q.dtypes)["query_id"]
    # neighbor ids come from the INDEX side — their type need not match the
    # query id type (e.g. long corpus ids probed by string-keyed queries)
    nbr_type = dict(assigned.dtypes)["neighbor_id"]
    out_schema = (
        f"query_id {id_type}, neighbor_id {nbr_type}, cosine double"
    )
    score_list = _gram_topk_fn(int(k), int(round_to))

    # prune the corpus to the PROBED lists before the cogroup (a broadcast
    # semi-join the optimizer can push toward the scan): with nprobe <<
    # n_lists the cogroup would otherwise shuffle every inverted list,
    # probed or not — the pruning the old per-pair join got implicitly.
    # Full probe (nprobe >= n_lists, the brute-force-equivalent oracle
    # config) touches every list by construction: the prune is a no-op
    # there, so skip its distinct + semi-join stages outright.
    # (only decidable action-free when the centroids are driver-resident;
    # a load()ed index keeps the prune unconditionally rather than pay a
    # count job to find out)
    local = getattr(index, "local_centers", None)
    n_lists = len(local) if local is not None else None
    if n_lists is None or nprobe < n_lists:
        # no .distinct(): left-semi is duplicate-tolerant, and dropping it
        # removes the distinct's exchange from the broadcast build (the
        # probed-lists frame is n_queries * nprobe rows — tiny either way)
        probed_lists = probes.select("_list")
        assigned = assigned.join(
            F.broadcast(probed_lists), on="_list", how="left_semi"
        )
    pairs = (
        probes.groupBy("_list")
        .cogroup(assigned.groupBy("_list"))
        .applyInPandas(score_list, schema=out_schema)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``q_i = round(x_i /
    scale)`` with ``scale = max|x| / 127``. Cuts embedding storage and
    shuffle bytes 4-8x (float32/64 -> byte + one double per vector), which
    at 100 TB is usually the difference between an ANN index that fits the
    cluster's disks and one that doesn't; cosine rankings survive int8
    quantization nearly unchanged (standard FAISS SQ8 practice). All
    expression-based; reconstruction error per element is <= scale/2.

    Per-row interpreted HOFs (the O(dim) max-abs aggregate + quantizing
    transform) are the cost; the scan is spread first so they aren't
    pinned to the parquet row-group count (utils.spread_scan; per-row
    computation — partitioning cannot move any value)."""
    df = spread_scan(df)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)), F.lit(0.0), lambda a, x: F.greatest(a, x)
    )
    # stage the O(dim) max-abs scan as an attribute: higher-order functions
    # run interpreted, where re-evaluating the aggregate per reference (it
    # appears in scale, the guard and the divisor) is not CSE'd away
    # branch on the SCALE, not amax: a subnormal amax (~5e-324) is > 0 yet
    # amax/127 underflows to exactly 0.0, which would divide-by-zero under
    # ANSI (hypothesis-found); such vectors quantize to zeros like amax==0
    staged = df.select(
        F.col(id_col),
        v.alias("_v"),
        (amax / F.lit(127.0)).alias("_scale"),
    )
    return staged.select(
        F.col(id_col),
        F.col("_scale").alias("scale"),
        F.when(
            F.col("_scale") > 0,
            F.transform(
                F.col("_v"),
                lambda x: F.round(x / F.col("_scale")).cast("byte"),
            ),
        )
        .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0).cast("byte")))
        .alias("qvec"),
    )


def _derive_n_lists(count: int, target_list_size: int) -> int:
    """Number of k-means lists so mean list size ≈ ``target_list_size`` —
    clusters ∝ corpus, the SemDeDup practice (11k clusters / 233M docs)."""
    return max(1, -(-int(count) // int(target_list_size)))


def semantic_dedup(
    vectors: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = None,
    seed: int = 7,
    max_iter: int = 10,
    train_fraction: float | None = None,
    keep_policy: str = "min_id",
    target_list_size: int = 1024,
    trainer: str = "sample",
    max_train_points: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, call two documents
    semantic duplicates when their cosine similarity within a cluster is
    ``>= 1 - eps``, and keep one representative per duplicate group.

    Returns ``(id_col, list_id, cluster_id, cluster_size, keep)`` — one row
    per input vector. Singletons (no duplicate above the threshold) keep
    ``cluster_id = id`` and ``keep = true``. ``keep_policy``:

    - ``'min_id'``: the smallest id in each duplicate group survives
      (deterministic, engine-portable).
    - ``'central'``: the member closest to its k-means centroid survives —
      the paper's "keep the most prototypical" variant (ties broken by id).

    Scale shape: the quadratic term is confined within each inverted list
    (equi-self-join on ``list_id``), exactly like the paper's per-cluster
    pairwise pass — the 100 TB knob is ``n_lists`` ∝ corpus size so mean
    list size stays bounded (the paper uses 11k clusters for 233M docs).
    A FIXED ``n_lists`` is a scale cliff: 10× the vectors at the same list
    count costs 100× the pairwise work (measured: 4.6 s → 309 s from sf0.1
    to sf1 at a fixed 16 lists). The DEFAULT therefore derives
    ``n_lists = ceil(count / target_list_size)`` so pairwise cost stays
    ``count × target_list_size`` (linear in the corpus); this is the ONE
    sanctioned plan-time driver action in the package (a single
    ``count()`` job). Pass ``n_lists`` explicitly to pin the list count
    and skip the count job entirely (``target_list_size`` is then
    ignored).
    Pair edges collapse to clusters via
    :func:`~mlforecast_spark.operators.dedup.connected_components` (on the
    driver for a small edge set, distributed label propagation otherwise), so
    transitive near-dups (A~B~C with cos(A,C) < 1-eps) still dedup to ONE
    survivor, matching the paper's per-group extraction. ``train_fraction``
    passes through to the k-means (sampled centroid training)."""
    from .dedup import connected_components

    if not 0.0 < eps < 1.0:
        raise ValueError(f"eps must be in (0, 1), got {eps}")
    if keep_policy not in ("min_id", "central"):
        raise ValueError("keep_policy must be 'min_id' or 'central'")
    if n_lists is None:
        if target_list_size < 1:
            raise ValueError(
                f"target_list_size must be >= 1, got {target_list_size}"
            )
        n_lists = _derive_n_lists(vectors.count(), target_list_size)
    index = build_ivf_index(
        vectors,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        seed=seed,
        max_iter=max_iter,
        train_fraction=train_fraction,
        trainer=trainer,
        max_train_points=max_train_points,
    )
    assigned = index.assigned.select(
        F.col("vec_id").alias(id_col),
        F.col("embedding").alias(vec_col),
        "list_id",
    )
    # duplicate-pair edges: per-list BLAS gram matrix inside applyInPandas.
    # A within-list expression self-join evaluates the cosine per PAIR in
    # Spark's interpreted higher-order functions — measured 241 s at sf1
    # (200k vecs, ~1000/list, ~1e8 pairs); one numpy U @ U.T per list does
    # the same flops in BLAS for ~100x less wall. Arrow moves each vector
    # ONCE (group columns), not once per pair. Row blocks bound the gram to
    # ~8 MB regardless of list size.
    import pandas as pd

    eps_f = float(eps)

    def list_edges(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["_id"].to_numpy()
        V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        U = V / norms[:, None]
        out_a, out_b = [], []
        block = 1024
        for s in range(0, len(U), block):
            G = U[s : s + block] @ U.T  # (block, n)
            bi, bj = np.nonzero(G >= 1.0 - eps_f)
            keep = (bi + s) < bj  # upper triangle: each pair once
            out_a.append(ids[bi[keep] + s])
            out_b.append(ids[bj[keep]])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []})
        a = np.concatenate(out_a)
        b = np.concatenate(out_b)
        return pd.DataFrame(
            {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)}
        )

    id_type = dict(assigned.dtypes)[id_col]
    edges = (
        assigned.select(
            F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), "list_id"
        )
        .groupBy("list_id")
        .applyInPandas(list_edges, f"id_a {id_type}, id_b {id_type}")
    )
    comps = connected_components(edges)  # node_id, cluster_id, cluster_size
    labeled = assigned.join(
        comps.withColumnRenamed("node_id", id_col), on=id_col, how="left"
    ).select(
        id_col,
        vec_col,
        "list_id",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        F.coalesce(F.col("cluster_size"), F.lit(1)).cast("long").alias(
            "cluster_size"
        ),
    )
    if keep_policy == "min_id":
        keep = F.col("cluster_id") == F.col(id_col)
        return labeled.select(
            id_col, "list_id", "cluster_id", "cluster_size", keep.alias("keep")
        )
    # 'central': rank group members by distance to their list centroid
    cdf = index.centroids.select("list_id", F.col("center").alias("_center"))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    d2 = F.aggregate(
        F.zip_with(v, F.col("_center"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("cluster_id").orderBy(F.col("_d2").asc(), F.col(id_col))
    return (
        labeled.join(F.broadcast(cdf), on="list_id")
        .withColumn("_d2", d2)
        .withColumn("_rk", F.row_number().over(w))
        .select(
            id_col,
            "list_id",
            "cluster_id",
            "cluster_size",
            (F.col("_rk") == 1).alias("keep"),
        )
    )


def dequantize_embeddings(
    df: DataFrame, qvec_col: str = "qvec", scale_col: str = "scale",
    id_col: str = "vec_id", out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings` (lossy: values land on the
    scale grid)."""
    return df.select(
        F.col(id_col),
        F.transform(
            F.col(qvec_col), lambda q: q.cast("double") * F.col(scale_col)
        ).alias(out_col),
    )


def pool_chunk_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    weight_col: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Collapse per-chunk embeddings into one document embedding by
    (optionally weighted) mean pooling — the standard aggregation after a
    :func:`~mlforecast_spark.operators.text.chunk_documents` + encode pass,
    so document-level ANN/dedup (``ivf_topk``, ``semantic_dedup``) can run
    on corpora whose documents exceed the encoder's window.

    One explode + one groupBy: ``posexplode`` the vector, sum per
    (doc, dimension) with Spark's map-side partial aggregation, reassemble
    with ``sort_array(collect_list(struct(dim, val)))``. ``weight_col``
    (e.g. ``n_chunk_tokens``) weights each chunk's contribution;
    ``normalize`` L2-normalizes the pooled vector (cosine-ready)."""
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    expl = df.select(
        F.col(id_col),
        w.alias("_w"),
        F.posexplode(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
            "_d", "_v"
        ),
    )
    per_dim = expl.groupBy(id_col, "_d").agg(
        (F.sum(F.col("_v") * F.col("_w")) / F.sum("_w")).alias("_m")
    )
    pooled = per_dim.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col("_d"), F.col("_m")))),
            lambda s: s["_m"],
        ).alias(vec_col)
    )
    if not normalize:
        return pooled
    vn = _norm(F.col(vec_col))
    return pooled.select(
        F.col(id_col),
        F.when(
            vn > 0, F.transform(F.col(vec_col), lambda x: x / vn)
        ).otherwise(F.col(vec_col)).alias(vec_col),
    )


# ---------------------------------------------------------------------------
# Product quantization (FAISS PQ/ADC): the 100 TB memory story — m per-
# subspace codebooks of k codewords compress each vector to m small codes
# (8 bytes at m=8, k=256 vs 256+ bytes of floats), and search scans CODES
# against a per-query lookup table (asymmetric distance computation), never
# touching the original floats.
# ---------------------------------------------------------------------------

class PQIndex:
    """Product-quantization index: per-subspace codebooks (tiny numpy
    tensor, broadcast at search time) + the corpus encoded as ``m`` small
    codes per vector. Persists as two parquet tables like
    :class:`IVFIndex`; ``codes`` is what a 100 TB deployment stores and
    scans — compressing embeddings 30-60× is the difference between an
    in-memory scan and a disk-bound one. Compose with IVF by joining
    ``codes`` to ``IVFIndex.assigned`` on ``vec_id`` (both partition-
    prunable by the same key): probe lists with the coarse quantizer,
    ADC-rank inside the probed lists (FAISS IVFPQ)."""

    def __init__(self, codebooks, codes: DataFrame, normalize: bool):
        import numpy as np

        self.codebooks = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
        self.codes = codes  # vec_id, code binary (m bytes; 2m when k > 256)
        self.normalize = bool(normalize)

    def save(self, path: str) -> None:
        import numpy as np

        m, k, dsub = self.codebooks.shape
        spark = self.codes.sparkSession
        rows = [
            (int(j), int(c), [float(x) for x in self.codebooks[j, c]])
            for j in range(m)
            for c in range(k)
        ]
        cb = spark.createDataFrame(
            rows, "subspace int, code int, center array<double>"
        ).withColumn("_normalize", F.lit(self.normalize))
        cb.write.mode("overwrite").parquet(f"{path}/codebooks")
        self.codes.write.mode("overwrite").parquet(f"{path}/codes")

    @classmethod
    def load(cls, spark, path: str) -> "PQIndex":
        import numpy as np

        cb = spark.read.parquet(f"{path}/codebooks")
        rows = cb.collect()
        m = max(r["subspace"] for r in rows) + 1
        k = max(r["code"] for r in rows) + 1
        dsub = len(rows[0]["center"])
        books = np.zeros((m, k, dsub))
        for r in rows:
            books[r["subspace"], r["code"]] = r["center"]
        normalize = bool(rows[0]["_normalize"])
        return cls(books, spark.read.parquet(f"{path}/codes"), normalize)


def build_pq_index(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 256,
    seed: int = 7,
    max_iter: int = 10,
    train_fraction: float | None = None,
    max_train_points: int | None = None,
    normalize: bool = True,
) -> PQIndex:
    """Train ``m`` per-subspace codebooks (seeded k-means on a bounded
    driver-side sample, exactly like :func:`build_ivf_index`'s default
    trainer — FAISS trains PQ on a sample too) and encode the full corpus
    in ONE Arrow pass (per-subspace BLAS argmin).

    ``normalize=True`` unit-normalizes vectors before training/encoding so
    ADC inner product approximates cosine (the embedding-search default);
    ``normalize=False`` quantizes raw vectors for L2 search. The corpus-
    size-dependent work is the single encode pass; training is bounded by
    ``max_train_points`` (default ≤131072)."""
    import numpy as np
    import pandas as pd

    if m < 1 or k < 2:
        raise ValueError(f"need m >= 1 subspaces and k >= 2 codes, got {m=}, {k=}")
    cap = max_train_points
    if cap is None:
        cap = min(max(64 * k, 16384), 131072)
    X = _collect_train_sample(
        vectors, id_col, vec_col, cap, seed, train_fraction, "build_pq_index"
    )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    if normalize:
        n = np.linalg.norm(X, axis=1)
        n[n == 0] = 1.0
        X = X / n[:, None]
    k_eff = min(k, len(X))
    # NOTE (r11, measured veto): thread-parallelizing the m independent
    # sub-space fits is bit-identical but SLOWER here — each numpy kernel
    # already fans out OpenBLAS threads, so an outer pool oversubscribes
    # (m=8: 8.9 s serial vs 12.7 s pooled on 32 cores; no threadpoolctl
    # available to pin inner threads). Keep the serial loop.
    books = np.stack(
        [
            _kmeans_numpy(X[:, j * dsub : (j + 1) * dsub], k_eff, seed + j, max_iter)
            for j in range(m)
        ]
    )
    if k_eff < k:  # pad so code values stay in [0, k) with stable shapes
        pad = np.repeat(books[:, -1:, :], k - k_eff, axis=1)
        books = np.concatenate([books, pad], axis=1)

    books_local = books
    norm_flag = bool(normalize)
    # codes pack to a BINARY column: one byte per subspace for k <= 256
    # (FAISS's default), two little-endian bytes beyond — the column a
    # 100 TB deployment actually stores is m (or 2m) bytes per vector,
    # not an array of 8-byte longs
    code_dtype = "<u1" if k <= 256 else "<u2"

    def encode_fn(col):
        import numpy as np
        import pandas as pd

        Xb = np.stack(col.to_numpy()).astype(np.float64)
        if norm_flag:
            nn = np.linalg.norm(Xb, axis=1)
            nn[nn == 0] = 1.0
            Xb = Xb / nn[:, None]
        out = np.empty((len(Xb), books_local.shape[0]), dtype=code_dtype)
        for j in range(books_local.shape[0]):
            sub = Xb[:, j * dsub : (j + 1) * dsub]
            C = books_local[j]
            d = sub @ C.T * (-2.0) + (C**2).sum(axis=1)
            out[:, j] = d.argmin(axis=1)
        return pd.Series([row.tobytes() for row in out])

    encode = F.pandas_udf(encode_fn, "binary")
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # spread a row-group-starved vector scan before the per-row BLAS encode
    # pass only — the training sample above keeps the original frame (its
    # optional Bernoulli pre-sample is partition-dependent; the default
    # hash-ordered sample is not). See utils.spread_scan.
    codes = spread_scan(vectors).select(
        F.col(id_col).alias("vec_id"), encode(vd).alias("code")
    )
    return PQIndex(books, codes, normalize)


def _pq_query_lut(index: PQIndex, queries: DataFrame, id_col, vec_col, caller):
    """Collect the (bounded) query batch and build the per-query ADC lookup
    table: LUT[q, j, c] = subspace-j contribution of codeword c. Returns
    (query ids, LUT, sort sign) — sign maps 'best' to ascending order."""
    import numpy as np

    books = index.codebooks  # (m, k, dsub)
    m, _, dsub = books.shape
    qpdf = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).toPandas()
    if qpdf.empty:
        raise ValueError(f"{caller}: empty query batch")
    Q = np.stack(qpdf["_qv"].to_numpy()).astype(np.float64)
    if index.normalize:
        nn = np.linalg.norm(Q, axis=1)
        nn[nn == 0] = 1.0
        Q = Q / nn[:, None]
        lut = np.einsum("qjd,jcd->qjc", Q.reshape(len(Q), m, dsub), books)
        sign = -1.0  # rank desc by inner product == asc by -ip
    else:
        qsub = Q.reshape(len(Q), m, dsub)
        lut = (
            (qsub**2).sum(axis=2)[:, :, None]
            - 2.0 * np.einsum("qjd,jcd->qjc", qsub, books)
            + (books**2).sum(axis=2)[None, :, :]
        )
        sign = 1.0
    return qpdf["query_id"].to_numpy(), lut, sign


def pq_search(
    index: PQIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance) top-k over PQ codes: build each query's
    ``m × n_codes`` lookup table once on the driver (the query batch is the
    bounded small side, as in FAISS), broadcast it into ONE ``mapInPandas``
    scan of the codes, keep a per-batch top-k per query (numpy
    argpartition), and resolve the global top-k with a window over the
    ``batches × queries × k`` sliver. The corpus floats are never read —
    at 100 TB the scan touches only the ~8-byte codes.

    Scores: ``normalize=True`` ranks by ADC inner product (approximate
    cosine, desc); ``normalize=False`` ranks by ADC squared L2 (asc).
    Ties break on neighbor id. Exact when every subvector is itself a
    codeword (pinned in tests); otherwise recall depends on m/k."""
    qids, lut, sign = _pq_query_lut(index, queries, id_col, vec_col, "pq_search")
    books = index.codebooks
    m, kcodes, dsub = books.shape
    k_local = int(k)

    def scan(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            dt = "<u1" if kcodes <= 256 else "<u2"
            codes = (
                np.frombuffer(b"".join(pdf["code"]), dtype=dt)
                .reshape(len(pdf), m)
                .astype(np.int64)
            )
            nids = pdf["vec_id"].to_numpy()
            # gather per subspace: scores (nq, n)
            scores = np.zeros((len(qids), len(codes)))
            for j in range(m):
                scores += lut[:, j, :][:, codes[:, j]]
            keyed = sign * scores
            frames = []
            for qi in range(len(qids)):
                # self-match masked BEFORE the batch cut (matching
                # ivf_search) — masking after truncation would silently
                # drop the true k-th neighbor whenever the query is in the
                # corpus, and a post-hoc SQL filter would force a cast
                # between possibly-different query/corpus id types
                mask = nids != qids[qi]
                cand_keys = keyed[qi][mask]
                cand_ids = nids[mask]
                cand_scores = scores[qi][mask]
                kk = min(k_local, len(cand_ids))
                if kk == 0:
                    continue
                # deterministic (score, neighbor_id) order BEFORE the cut:
                # argpartition alone keeps an arbitrary subset of exact
                # ties, making results depend on batch row order
                sel = np.lexsort((cand_ids, cand_keys))[:kk]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[qi],
                            "neighbor_id": cand_ids[sel],
                            "score": cand_scores[sel],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    nbr_type = dict(index.codes.dtypes)["vec_id"]
    qid_type = dict(
        queries.select(F.col(id_col).alias("query_id")).dtypes
    )["query_id"]
    out_schema = f"query_id {qid_type}, neighbor_id {nbr_type}, score double"
    cand = index.codes.mapInPandas(scan, schema=out_schema)
    order = (
        F.col("score").desc() if index.normalize else F.col("score").asc()
    )
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def ivfpq_search(
    ivf: IVFIndex,
    pq: PQIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """FAISS IVFPQ: coarse-quantizer probing bounds WHICH codes are scanned,
    product quantization bounds HOW MUCH each scanned row costs. The two
    indexes share ``vec_id``: codes pick up their list ids in one shuffled
    equi-join, get pruned to the union of probed lists (broadcast of the
    tiny list set; partition-pruned when ``assigned`` was written
    partitioned by ``list_id``), and are ADC-scanned in a per-list cogroup
    where EACH query ranks only against its OWN ``nprobe`` lists — like
    :func:`ivf_search`, not against lists probed by other queries in the
    batch. At 100 TB this reads ``nprobe/n_lists`` of an already
    30-60x-compressed table.

    Exactness caveat (standard IVFPQ): scores are ADC approximations of
    the probed lists' true distances; ranking quality is governed by
    (m, k) and coverage by ``nprobe``."""
    import numpy as np
    import pandas as pd

    qids, lut, sign = _pq_query_lut(pq, queries, id_col, vec_col, "ivfpq_search")
    qpos = {qid: i for i, qid in enumerate(qids)}
    books = pq.codebooks
    m, kcodes, _ = books.shape
    k_local = int(k)

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    probes = _centroid_probe(
        q, ivf.centroids, "query_id", "_qv", nprobe,
        local_centers=getattr(ivf, "local_centers", None),
    ).select("query_id", "_list")
    # codes meet their list ids in a shuffled equi-join (never broadcasting
    # the corpus-sized id set), then only the probed lists survive
    coded = pq.codes.join(
        ivf.assigned.select("vec_id", F.col("list_id").alias("_list")),
        on="vec_id",
    ).join(
        F.broadcast(probes.select("_list").distinct()), on="_list", how="left_semi"
    )

    nbr_type = dict(pq.codes.dtypes)["vec_id"]
    qid_type = dict(
        queries.select(F.col(id_col).alias("query_id")).dtypes
    )["query_id"]
    out_schema = f"query_id {qid_type}, neighbor_id {nbr_type}, score double"

    def score_list(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        import pandas as pd

        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        dt = "<u1" if kcodes <= 256 else "<u2"
        codes = (
            np.frombuffer(b"".join(cpdf["code"]), dtype=dt)
            .reshape(len(cpdf), m)
            .astype(np.int64)
        )
        nids = cpdf["vec_id"].to_numpy()
        frames = []
        for qid in qpdf["query_id"]:
            row = lut[qpos[qid]]
            scores = np.zeros(len(codes))
            for j in range(m):
                scores += row[j][codes[:, j]]
            mask = nids != qid
            keyed = sign * scores[mask]
            cand_ids = nids[mask]
            kk = min(k_local, len(cand_ids))
            if kk == 0:
                continue
            sel = np.lexsort((cand_ids, keyed))[:kk]
            frames.append(
                pd.DataFrame(
                    {
                        "query_id": qid,
                        "neighbor_id": cand_ids[sel],
                        "score": scores[mask][sel],
                    }
                )
            )
        if not frames:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "score": []})
        return pd.concat(frames, ignore_index=True)

    cand = (
        probes.groupBy("_list")
        .cogroup(coded.groupBy("_list"))
        .applyInPandas(score_list, schema=out_schema)
    )
    order = F.col("score").desc() if pq.normalize else F.col("score").asc()
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )
