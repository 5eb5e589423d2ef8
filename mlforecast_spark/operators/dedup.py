"""Deduplication operators: exact, MinHash+LSH (self-join and incremental
batch-vs-index probing), SimHash, n-gram Jaccard, corpus-wide keep-first
paragraph dedup, connected-components cluster resolution, and the
``dedup_corpus`` end-to-end composition.

Scale design notes (100 TB):
- exact dedup is a hash-groupBy — one shuffle on a 128-bit digest, no skew
  beyond true duplicate mass.
- MinHash/LSH: shingle → k minhashes via k independent affine hashes over one
  ``xxhash64`` base (all JVM expressions over exploded shingles) → band keys →
  self-join on (band, bucket). The candidate join is the only quadratic piece
  and is confined to same-bucket collisions.
- SimHash: 64-bit fingerprint from token hashes; near-dup = fingerprints
  equal in all-but-few bits; banded by 4×16-bit chunks for candidate gen.
- exact n-gram Jaccard verifies candidates (or small blocked sets) exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from ..utils import spread_scan, sql_with_frames

# Mersenne prime 2^31-1 for affine minhash permutations: with a, b, base all
# < 2^31, products stay < 2^62 — no long overflow under Spark's ANSI mode
_MH_PRIME = (1 << 31) - 1


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content digest: every row gets its group's
    canonical (min) id and the group size. One shuffle on the digest."""
    h = F.md5(F.col(text_col))
    w = Window.partitionBy(h)
    return df.select(
        F.col(id_col),
        h.alias("content_hash"),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count("*").over(w).cast("long").alias("dup_count"),
    )


def _exploded_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    extra_cols: tuple = (),
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs via a pure slice/arrays_zip projection — ZERO
    shuffles before the consumer's own aggregation.

    Not a lead-window formulation: posexplode + n-1 ``lead``s over
    ``Window.partitionBy(id)`` would pay a full Exchange+Sort of EVERY
    TOKEN in the corpus just to stitch adjacent tokens back together —
    at 100 TB that is a corpus-sized shuffle before any dedup work starts,
    and on the bench it is one extra AQE stage in every shingle consumer.
    Slicing the per-doc token array n ways and zipping restores adjacency
    without leaving the row: ``slice``/``arrays_zip``/``explode``/
    ``concat_ws`` are all codegen'd JVM expressions (unlike ``transform``,
    whose interpreted lambda was the slow alternative measured earlier).
    Output proven multiset-identical to the window form on sf0.01 + edge
    cases (empty/whitespace/short docs, n=1..5, extra_cols) — shingle
    STRINGS are unchanged, so every minhash signature and Jaccard value
    downstream is unchanged.

    ``distinct=False`` skips the dedup shuffle — correct for consumers whose
    aggregation is duplicate-invariant (minhash MIN).

    The corpus scan is spread first (``spread_scan``): the shingle explode +
    hash aggregation downstream is the CPU-heaviest work in the dedup
    family, and a row-group-starved scan pins it to a handful of tasks.
    Every consumer aggregation here is integer/min-valued, so the
    partition-order change cannot move any result."""
    src = spread_scan(
        df.select(F.col(id_col), *[F.col(c) for c in extra_cols], F.col(text_col))
    )
    arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = src.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], arr.alias("_toks")
    )
    cnt = F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(0))
    slices = [F.slice("_toks", i + 1, cnt).alias(f"_s{i}") for i in range(n)]
    sh = base.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.arrays_zip(*slices)).alias("_z"),
    ).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.concat_ws(" ", *[F.col(f"_z._s{i}") for i in range(n)]).alias(
            "shingle"
        ),
    )
    if distinct:
        sh = sh.dropDuplicates([id_col, "shingle"])
    return sh


def shingle_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) exploded pairs — the base for minhash and Jaccard.

    Jaccard set semantics need ``distinct=True``; minhash signatures are
    MIN-aggregated and duplicate-invariant, so ``distinct=False`` saves a
    full shuffle there."""
    return _exploded_shingles(df, text_col, id_col, n, distinct=distinct)


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 32,
    seed: int = 13,
) -> DataFrame:
    """One row per id with an array<long> minhash signature.

    k affine permutations ``(a_i * h + b_i) mod p`` over a single
    ``xxhash64(shingle)`` base hash — k JVM expressions, one aggregation;
    no Python in the loop. The k ``min`` aggregates and the signature
    array are built as SQL strings parsed JVM-side (same analyzed plan;
    node-by-node py4j construction was ~0.7 s of per-call driver overhead
    at k=32 — the same floor pathology measured on ``simhash``).
    """
    import random

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, _MH_PRIME), rnd.randrange(0, _MH_PRIME))
        for _ in range(num_hashes)
    ]
    mins = [
        F.expr(
            f"min(pmod(pmod(xxhash64(shingle), {_MH_PRIME}L) * {a}L + {b}L,"
            f" {_MH_PRIME}L))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = shingles.groupBy(id_col).agg(*mins)
    arr = "array(" + ",".join(f"mh_{i}" for i in range(num_hashes)) + ")"
    return sig.select(F.col(id_col), F.expr(arr).alias("signature"))


def _cap_buckets(
    bands: DataFrame, bucket_cols: list, max_bucket_size: int | None
) -> DataFrame:
    """Keep only buckets that can produce pairs (size >= 2) and, when
    ``max_bucket_size`` is set, drop degenerate buckets above it.

    The size-1 prune is lossless (singleton buckets yield no pairs) and
    typically removes most of the join input. The cap is the standard LSH
    guard against quadratic blowup: one boilerplate/empty-document bucket
    with m members costs m^2/2 comparisons, so at 100 TB a single degenerate
    bucket would dominate the job. Pairs lost to the cap are only those whose
    *every* matching band is degenerate — overwhelmingly boilerplate, not
    near-duplicate content. The per-bucket count is a window over the same
    keys the self-join shuffles on, so the exchange is reused."""
    w = Window.partitionBy(*bucket_cols)
    bands = bands.withColumn("_bn", F.count(F.lit(1)).over(w)).filter(F.col("_bn") >= 2)
    if max_bucket_size is not None:
        bands = bands.filter(F.col("_bn") <= max_bucket_size)
    return bands.drop("_bn")


def _band_buckets_expr(num_bands: int, num_hashes: int) -> Column:
    """array<long> of per-band bucket hashes over the ``signature`` column.

    Built as a STATIC ``array(xxhash64(slice(...)), ...)`` rather than
    ``transform(sequence(...), b -> ...)``: num_bands is a plan-time
    constant, and higher-order functions are evaluated interpreted (no
    whole-stage codegen), so the lambda form paid an interpreter dispatch
    per band per row. Same hashes, same order — values identical."""
    rows_per_band = max(1, num_hashes // num_bands)
    return F.array(
        *[
            F.xxhash64(
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
            )
            for b in range(num_bands)
        ]
    )


def _first_matching_band(band_col: Column, bks_a: Column, bks_b: Column, num_bands: int) -> Column:
    """True iff ``band_col`` is the FIRST band where the two bucket vectors
    agree — the filter that makes banded self/probe joins emit each pair
    exactly once without a dedup shuffle."""
    cond = F.lit(True)
    for j in range(num_bands - 1):
        cond = cond & F.when(band_col > j, bks_a[j] != bks_b[j]).otherwise(F.lit(True))
    return cond


def _attach_est_jaccard(
    pairs: DataFrame, sigs_a: DataFrame, sigs_b: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Join both signature arrays onto the (deduplicated) pair set and score
    signature agreement — the wide payload stays out of the banded join.

    Join strategy: the candidate set is quadratic in duplicate-cluster size
    and a sort-merge join would SORT it twice just to probe a one-row-per-doc
    build side (measured on the 100×-replicated corpus: 27M pairs, full
    query 21.8 → 11.3 s when the sorts are avoided). The build side is
    per-doc signatures — unskewed, bounded per partition — so a hash build
    is memory-safe at any corpus scale. AQE makes that call at runtime from
    actual partition sizes (``maxShuffledHashJoinLocalMapThreshold`` in
    ``utils.get_spark``), broadcasting instead when the signatures are tiny.
    Each side is also statically broadcast when it alone passes
    :func:`_attach_broadcast`: a small probe must not drag a large index
    into a broadcast.

    Agreement via one ``aggregate(zip_with(...))`` — measured fastest of
    the equivalent forms on the 100× corpus (see the A/B note in
    ``minhash_lsh_candidates``; a static unrolled sum is 12× SLOWER there:
    it blows the generated method past HotSpot's JIT limit). Sum of
    ``CAST(x = y AS INT)`` equals the count of agreeing slots, so
    est_jaccard is value-identical to the former filter/size form."""
    # a broadcast side keeps the pair rows, already carrying the other
    # side's signature payload, from being re-exchanged by its join key
    if _attach_broadcast(sigs_a):
        sigs_a = F.broadcast(sigs_a)
    if _attach_broadcast(sigs_b):
        sigs_b = F.broadcast(sigs_b)
    pairs = pairs.join(sigs_a, a_col).join(sigs_b, b_col)
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return pairs.select(
        a_col, b_col, F.round(agree / F.size("sig_a"), 6).alias("est_jaccard")
    )


def _minhash_lsh_candidates_grouped(
    signatures: DataFrame,
    id_col: str,
    num_bands: int,
    num_hashes: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Rep-space banded LSH: band DISTINCT signatures, join reps, expand rep
    pairs back to id pairs (the same collapse as
    :func:`_simhash_candidates_grouped` — guide §2.3/§2.5). Measured at the
    100× bench scale: 500k docs hold 260,964 distinct signatures, and both
    the banded self-join volume and the per-pair ``est_jaccard`` work (the
    query's CPU wall — an ``aggregate(zip_with(...))`` over 32-slot arrays
    per candidate pair) shrink by the clone-pair ratio; identical-signature
    pairs skip the join entirely (est_jaccard is exactly
    ``size/size = 1.0`` for them, or NULL for degenerate empty signatures,
    matching the row-space 0/0).

    Cap semantics are preserved in DOC counts: ``_bn = sum(group size)``
    per (band, bucket), per-rep ``_cap`` flags, first-UNCAPPED-agreeing-band
    claims a rep pair, and an identical-signature pair survives iff any
    band's bucket is uncapped (``NOT array_min(_cap)``) — identical
    signatures agree on every band. Multiset-pinned against the row-space
    plan by ``test_minhash_candidates_grouped_matches_rowspace``."""
    spark = signatures.sparkSession
    rpb = max(1, num_hashes // num_bands)
    iq = f"`{id_col}`"
    bks = (
        "array("
        + ",".join(
            f"xxhash64(slice(signature, {b * rpb + 1}, {rpb}))"
            for b in range(num_bands)
        )
        + ")"
    )
    groups = (
        f"SELECT signature, "
        f"array_sort(collect_list({iq})) AS _ids, min({iq}) AS rk "
        f"FROM (SELECT {iq}, signature FROM {{sig}} "
        f"WHERE {iq} IS NOT NULL AND signature IS NOT NULL) "
        f"GROUP BY signature"
    )
    exploded = (
        f"SELECT rk, _bks, band, bucket, _cnt FROM "
        f"(SELECT size(_ids) AS _cnt, rk, {bks} AS _bks FROM ({groups})) "
        f"LATERAL VIEW posexplode(_bks) t AS band, bucket"
    )
    counted = (
        f"SELECT *, count(1) OVER (PARTITION BY band, bucket) AS _rn, "
        f"sum(_cnt) OVER (PARTITION BY band, bucket) AS _bn "
        f"FROM ({exploded})"
    )
    self_est = "round(CAST(size(signature) AS DOUBLE) / size(signature), 6)"
    if max_bucket_size is None:
        bands_sql = (
            f"SELECT rk, _bks, band, bucket FROM ({counted}) WHERE _rn >= 2"
        )
        self_sql = (
            f"SELECT ia AS id_a, ib AS id_b, {self_est} AS est_jaccard "
            f"FROM ({groups}) "
            f"LATERAL VIEW posexplode(_ids) ta AS pa, ia "
            f"LATERAL VIEW posexplode(_ids) tb AS pb, ib "
            f"WHERE size(_ids) >= 2 AND pa < pb"
        )
    else:
        capped = (
            f"SELECT rk, _bks, band, bucket, _rn, _bn, "
            f"transform(array_sort(collect_list(named_struct("
            f"'band', band, 'c', _bn > {max_bucket_size})) "
            f"OVER (PARTITION BY rk)), s -> s.c) AS _cap "
            f"FROM ({counted})"
        )
        bands_sql = (
            f"SELECT rk, _bks, band, bucket, _cap FROM ({capped}) "
            f"WHERE _rn >= 2 AND _bn <= {max_bucket_size}"
        )
        self_sql = (
            f"SELECT ia AS id_a, ib AS id_b, {self_est} AS est_jaccard "
            f"FROM ({groups}) g "
            f"JOIN (SELECT rk AS _crk, _cap FROM ({capped}) WHERE band = 0) c "
            f"ON g.rk = c._crk "
            f"LATERAL VIEW posexplode(_ids) ta AS pa, ia "
            f"LATERAL VIEW posexplode(_ids) tb AS pb, ib "
            f"WHERE size(_ids) >= 2 AND pa < pb AND NOT array_min(_cap)"
        )
    # broadcast the rep signature frame into both attach joins when the
    # corpus is small enough to bound the built relation (see
    # _attach_broadcast): kills the mid-attach exchange that re-shuffled
    # pair rows already carrying sa's signatures + id arrays.
    est_hint = "/*+ BROADCAST(sa, sb) */ " if _attach_broadcast(signatures) else ""
    if max_bucket_size is None:
        terms = [
            f"IF(a.band > {j}, a._bks[{j}] != b._bks[{j}], TRUE)"
            for j in range(num_bands - 1)
        ]
    else:
        terms = [
            f"IF(a.band > {j}, "
            f"NOT(a._bks[{j}] = b._bks[{j}] AND NOT a._cap[{j}]), TRUE)"
            for j in range(num_bands - 1)
        ]
    first_band = " AND ".join(terms) if terms else "TRUE"
    rep_pairs = (
        f"SELECT a.rk AS rk_a, b.rk AS rk_b "
        f"FROM ({bands_sql}) a JOIN ({bands_sql}) b "
        f"ON a.band = b.band AND a.bucket = b.bucket AND a.rk < b.rk "
        f"WHERE {first_band}"
    )
    attach = (
        f"SELECT {est_hint}sa._ids AS ids_a, sb._ids AS ids_b, "
        f"round(aggregate(zip_with(sa.signature, sb.signature, "
        f"(x, y) -> CAST(x = y AS INT)), 0, (acc, x) -> acc + x) "
        f"/ size(sa.signature), 6) AS est_jaccard "
        f"FROM ({rep_pairs}) p "
        f"JOIN ({groups}) sa ON p.rk_a = sa.rk "
        f"JOIN ({groups}) sb ON p.rk_b = sb.rk"
    )
    cross_sql = (
        f"SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, "
        f"est_jaccard FROM ({attach}) "
        f"LATERAL VIEW explode(ids_a) ta AS ia "
        f"LATERAL VIEW explode(ids_b) tb AS ib"
    )
    sql = f"{cross_sql} UNION ALL {self_sql}"
    return sql_with_frames(spark, sql, sig=signatures)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_hashes: int = 32,
    max_bucket_size: int | None = None,
    cache: bool = False,
    group_identical: bool | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: hash each band of the
    signature to a bucket, self-join on (band, bucket). Returns distinct
    (id_a, id_b) with id_a < id_b plus the estimated Jaccard from signature
    agreement.

    ``signatures`` feeds all four join sides. Sharing is by AQE stage reuse,
    not caching: all four subtrees are canonically identical (the
    banded subquery filters ``id IS NOT NULL`` precisely so its scan matches
    the null-filter the attach joins push down — null ids can never form a
    pair, so the filter is free), and AQE materializes the signature
    shuffle ONCE and wires every consumer to it via ReusedExchange. That
    beats ``cache=True`` at every scale measured (sf0.1: 1.12 s vs 1.58 s
    min, 8 vs 13 jobs — the cache adds a materialization job plus columnar
    write/read without saving any recompute that stage reuse doesn't
    already save). Pass ``cache=True`` only when the SAME ``signatures``
    frame is consumed again by LATER queries in a pipeline (stage reuse is
    per-query; the cache's lifetime is the session, so unpersist the frame
    you passed in after your terminal action).
    Only (id, bucket vector, band, bucket)
    flows through the self-join — num_bands longs per row, enough for the
    first-matching-band dedup filter — while the full signature arrays are
    joined back onto the deduplicated pair set, keeping the wide payload out
    of the quadratic stage.

    ``max_bucket_size`` is OFF by default so the banding guarantee holds
    exactly; at 100 TB scale, set it (e.g. 1000) to drop degenerate
    boilerplate buckets — the recall caveat is that pairs whose *every*
    matching band lands in a capped bucket are lost (see ``_cap_buckets``).

    Plan-floor note: the whole candidate query after ``signatures`` is
    built as TWO ``spark.sql`` strings (banded rows; self-join + pair dedup
    + est_jaccard attach) with the DataFrames passed as SQL parameters —
    identical analyzed plan and caching points to the old node-by-node
    Column construction, but ~2,200 fewer py4j round trips per call
    (measured build 0.83 s → <0.1 s; same pathology as ``simhash``).

    Self-join strategy (capped mode bounds every (band, bucket) group, so
    the build side is skew-free): AQE picks broadcast/shuffled-hash/
    sort-merge from ACTUAL shuffle sizes
    (``maxShuffledHashJoinLocalMapThreshold`` in ``utils.get_spark``);
    no join strategy is pinned statically, so AQE skew splitting still
    protects degenerate boilerplate buckets."""
    if cache:
        signatures = signatures.cache()
    if group_identical is None:
        min_bytes = int(
            signatures.sparkSession.conf.get(
                "spark.mlforecast.groupFingerprints.minBytes", str(16 << 20)
            )
        )
        group_identical = _input_bytes(signatures) >= min_bytes
    if group_identical:
        return _minhash_lsh_candidates_grouped(
            signatures, id_col, num_bands, num_hashes, max_bucket_size
        )
    spark = signatures.sparkSession
    rpb = max(1, num_hashes // num_bands)
    iq = f"`{id_col}`"
    # static array, not transform(sequence(...), ...): HOF lambdas are
    # interpreted per band per row; the unrolled form whole-stage-codegens.
    # Same hashes in the same order (see _band_buckets_expr).
    bks = (
        "array("
        + ",".join(
            f"xxhash64(slice(signature, {b * rpb + 1}, {rpb}))"
            for b in range(num_bands)
        )
        + ")"
    )
    # each band row carries the doc's full bucket vector (num_bands longs) so
    # pair dedup can run as a filter on the join rows instead of a shuffle
    # IS NOT NULL: null ids can never survive the pair join (a.id < b.id is
    # null, and the est_jaccard attach is an inner equi-join on id), so this
    # filter cannot change the result — it exists to make the banded
    # subtree's scan CANONICALLY EQUAL to the attach-join subtrees (whose
    # scans carry the pushed-down join-key null filter). With the subtrees
    # equal, AQE stage reuse computes the signature pipeline ONCE for all
    # four consumers (measured: the corpus scan + shingle explode + 32-hash
    # aggregate ran twice without it).
    exploded = (
        f"SELECT {iq}, _bks, band, bucket FROM "
        f"(SELECT {iq}, {bks} AS _bks FROM {{sig}} WHERE {iq} IS NOT NULL) "
        f"LATERAL VIEW posexplode(_bks) t AS band, bucket"
    )
    counted = (
        f"SELECT *, count(1) OVER (PARTITION BY band, bucket) AS _bn "
        f"FROM ({exploded})"
    )
    if max_bucket_size is None:
        bands_sql = (
            f"SELECT {iq}, _bks, band, bucket FROM ({counted}) WHERE _bn >= 2"
        )
    else:
        # capped mode, still shuffle-free pair dedup: every banded row also
        # carries the doc's per-band CAPPED flags (`_cap`), built with one
        # window over the id — so "the first band where the pair agrees in
        # an UNCAPPED bucket" is a plain join-row filter. The old fallback
        # (dropDuplicates over the raw join output) shuffled the quadratic
        # candidate set: on a clone-heavy corpus (sf10, ~100-member groups)
        # that was ~200M rows and 200 s vs ~27 s for the filter form.
        capped = (
            f"SELECT {iq}, _bks, band, bucket, _bn, "
            f"transform(array_sort(collect_list(named_struct("
            f"'band', band, 'c', _bn > {max_bucket_size})) "
            f"OVER (PARTITION BY {iq})), s -> s.c) AS _cap "
            f"FROM ({counted})"
        )
        bands_sql = (
            f"SELECT {iq}, _bks, band, bucket, _cap FROM ({capped}) "
            f"WHERE _bn >= 2 AND _bn <= {max_bucket_size}"
        )
    # NOT cached: the self-join's two sides recompute the banding
    # from the CACHED signatures, which measures equal-or-faster than
    # caching the exploded band rows at sf0.1 (1.13 vs 1.23 s min) and
    # sf10 (21.4 vs 21.9 s min) — and repeated calls with the cache
    # accumulated storage churn (first sf10 reps 47–60 s vs a stable
    # 21–25 s uncached). One fewer materialization job per call.
    # sql_with_frames, NOT spark.sql(..., sig=...): the stock parameterized
    # form drops its temp views through the CacheManager and silently
    # UNPERSISTS the signatures cache (see utils.sql_with_frames), so a
    # cache=True caller would recompute the pipeline on all four join sides.
    bands = sql_with_frames(spark, bands_sql, sig=signatures)
    # same gated broadcast as the grouped path (see _attach_broadcast)
    est_hint = "/*+ BROADCAST(sa, sb) */ " if _attach_broadcast(signatures) else ""
    if max_bucket_size is None:
        # first-matching-band dedup (same trick as simhash_candidates): a
        # pair joins once per agreeing band, and both bucket vectors ride the
        # join row — so "is this the FIRST agreeing band" is a plain filter
        # and the dropDuplicates shuffle of the whole candidate set
        # disappears.
        terms = [
            f"IF(a.band > {j}, a._bks[{j}] != b._bks[{j}], TRUE)"
            for j in range(num_bands - 1)
        ]
    else:
        # first UNCAPPED matching band claims the pair: an earlier band j
        # claims iff the vectors agree there AND that bucket survived the
        # cap (the flag is a's, but agreement means both docs share the
        # bucket, so the flag is the pair's). Pairs whose every matching
        # band is capped never join at all — identical to the old
        # dropDuplicates semantics, without the candidate-set shuffle.
        terms = [
            f"IF(a.band > {j}, "
            f"NOT(a._bks[{j}] = b._bks[{j}] AND NOT a._cap[{j}]), TRUE)"
            for j in range(num_bands - 1)
        ]
    first_band = " AND ".join(terms) if terms else "TRUE"
    # est_jaccard agreement via ONE aggregate(zip_with(...)) instead of the
    # former size(filter(zip_with(...))): one fewer interpreted
    # higher-order pass and no intermediate filtered-array allocation per
    # pair. Interleaved A/B on the 100x corpus (27.3M candidate pairs,
    # min-of-2 per arm): filter-form 14.0 s, aggregate-form 12.8 s, and
    # the pure join floor (constant est) 8.1 s. A fully STATIC unrolled
    # 32-term sum — the "obvious" codegen form — measured 163-234 s: the
    # unrolled comparisons blow the generated consume() past HotSpot's
    # JIT method limit and the whole pair stage drops to interpreted
    # bytecode (stage CPU 512 -> 3,687 s). Kept the HOF form deliberately.
    # Sum of CAST(x = y AS INT) == count of agreeing slots: value-identical.
    pairs_sql = (
        f"SELECT {est_hint}p.id_a, p.id_b, "
        f"round(aggregate(zip_with(sa.signature, sb.signature, "
        f"(x, y) -> CAST(x = y AS INT)), 0, (acc, x) -> acc + x) "
        f"/ size(sa.signature), 6) AS est_jaccard "
        f"FROM ("
        f"SELECT a.{iq} AS id_a, b.{iq} AS id_b "
        f"FROM {{bands}} a JOIN {{bands}} b "
        f"ON a.band = b.band AND a.bucket = b.bucket AND a.{iq} < b.{iq} "
        f"WHERE {first_band}"
        f") p "
        f"JOIN {{sig}} sa ON p.id_a = sa.{iq} "
        f"JOIN {{sig}} sb ON p.id_b = sb.{iq}"
    )
    return sql_with_frames(spark, pairs_sql, bands=bands, sig=signatures)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    block_cols: tuple = (),
    threshold: float = 0.0,
    allow_all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs (optionally blocked by
    ``block_cols`` to bound the quadratic term). Pure joins + aggregations.

    Without ``block_cols`` the shingle self-join is unblocked all-pairs —
    correct as an exact VERIFIER on LSH candidate pairs, quadratic and
    scale-unsafe as a primary dedup pass. Callers must acknowledge that with
    ``allow_all_pairs=True``; at 100 TB run minhash/simhash banding first and
    verify only the candidates."""
    if not block_cols and not allow_all_pairs:
        raise ValueError(
            "ngram_jaccard_pairs without block_cols is an unblocked all-pairs "
            "shingle join (quadratic in corpus size). Pass block_cols to "
            "bound it, or allow_all_pairs=True to accept the all-pairs plan "
            "(e.g. as the exact verifier on LSH candidates)."
        )
    sh = _exploded_shingles(df, text_col, id_col, n, extra_cols=tuple(block_cols))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    res = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        res = res.filter(F.col("jaccard") >= threshold)
    return res


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard on GIVEN candidate pairs only — the bounded
    verifier the 100 TB pipeline runs after LSH banding.

    ``ngram_jaccard_pairs`` computes the exact all-pairs set via a shingle
    self-join — quadratic in hot shingles and (by design) the recall
    ORACLE, not the production path: at sf10 (500k docs) it does not
    finish on either engine. This operator bounds
    the exact work by the candidate set instead: semi-join each side's
    shingles onto the pairs (only candidate docs' shingles survive the
    scan), join a-side to b-side per pair on shingle equality, and
    per-pair counts give |A∩B| with |A|,|B| from a per-doc agg —
    total join volume is Σ over pairs of matching shingles, linear in
    the candidate list for bounded-length docs. Same output columns
    (id_a, id_b, jaccard) and the same round(6) as the all-pairs form;
    equality on the candidate subset is pinned in
    tests/test_operators.py::test_jaccard_verify_pairs_matches_allpairs.

    Compose: ``minhash_lsh_candidates(sig) |> jaccard_verify_pairs(docs,
    ...)`` — banding generates, this verifies, both shuffles bounded.

    Robustness: input pairs are ``distinct()``-ed first — a duplicated
    (id_a, id_b) row would otherwise multiply n_inter through the
    join-then-groupBy and silently report jaccard > truth (even > 1.0);
    minhash_lsh_candidates happens to emit distinct pairs but external
    candidate sources need not. Pairs touching a shingle-less doc (text
    shorter than n tokens, or an id absent from ``df``) are KEPT with
    jaccard = 0.0 via left joins on the size agg — previously the inner
    joins dropped them, contradicting the contract."""
    p = pairs.select("id_a", "id_b").distinct()
    sh = shingle_df(df, text_col, id_col, n=n, distinct=True)
    ids = p.select(F.col("id_a").alias(id_col)).union(
        p.select(F.col("id_b").alias(id_col))
    )
    sh = sh.join(ids.distinct(), on=id_col, how="left_semi")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingle").alias("_sh_a"))
    sb = sh.select(F.col(id_col).alias("_idb"), F.col("shingle").alias("_sh_b"))
    inter = (
        p.join(sa, "id_a")
        .join(
            sb,
            (F.col("id_b") == F.col("_idb")) & (F.col("_sh_a") == F.col("_sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    n_i = F.coalesce(F.col("n_inter"), F.lit(0))
    n_a = F.coalesce(F.col("n_a"), F.lit(0))
    n_b = F.coalesce(F.col("n_b"), F.lit(0))
    denom = n_a + n_b - n_i
    res = (
        p.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n_sh", "n_a"),
            "id_a",
            "left",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n_sh", "n_b"),
            "id_b",
            "left",
        )
        .select(
            "id_a",
            "id_b",
            F.when(denom > 0, F.round(n_i / denom, 6))
            .otherwise(F.lit(0.0))
            .alias("jaccard"),
        )
    )
    if threshold > 0:
        res = res.filter(F.col("jaccard") >= threshold)
    return res


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: sum ±1 per bit weighted by token
    frequency, sign → bit. All expression-based: explode tokens → xxhash64 →
    packed per-bit counters → groupBy sum.

    The naive formulation is 64 ``SUM(CASE WHEN bit THEN 1 ELSE -1)``
    aggregates over the exploded token rows — a 64-slot aggregation buffer
    with a branch per slot. Instead we pack three 21-bit ones-counters per
    BIGINT lane (lane j counts bits 3j..3j+2; 21 lanes cover the 63
    fingerprint bits exactly), so the aggregate is 21 branchless SUMs plus
    one COUNT; the ±1 sign rule is recovered per doc as ``2*ones_i > n``
    (identical fingerprints: sum(±1) = 2*ones − n).

    ANSI-overflow safety: the widest counter sits at bit shift 42, so the
    per-doc SUM stays below 2^63 for any document under ~2^20 (≈1M) tokens —
    a 4×16-bit packing caps at 32,767 same-bit tokens before Spark's
    default-ANSI ``SUM`` throws ARITHMETIC_OVERFLOW on plausible long docs
    (regression-tested in ``test_dedup.py::test_simhash_long_doc``).

    Per-lane bit spreading is one multiply+mask instead of per-bit
    shift/and/shift/add: ``((h >> 3j) & 7) * (1 + 2^20 + 2^40)`` copies the
    3-bit group to offsets 0/20/40, and masking ``1 | 1<<21 | 1<<42`` keeps
    exactly bit 0 at 0, bit 1 at 21, bit 2 at 42 (the multiply's largest
    product is 7·(1+2^20+2^40) < 2^43 — ANSI-safe). 4 expression ops per
    lane per row instead of 7.

    Fingerprint-aggregation A/B history at sf1 (interleaved warm reps,
    local[32], median sec): 64-CASE ±1 (round 3) 4.33 / packed-4×16
    (round 4) 3.90 but overflow-unsafe / packed-3×21 shift-add 3.72, and on
    the 2026-08-14 session multiply-spread **2.30** vs shift-add 2.43 (9
    reps; 2.47 vs 2.55 in a 5-rep run). Identical fingerprints verified
    across all variants (exceptAll empty both directions at sf1).

    Plan-floor note: the whole query — tokenize, lane sums, and the
    63-term fingerprint reassembly — is ONE ``spark.sql`` string with the
    input DataFrame passed as a SQL parameter; identical analyzed plan and
    results to the node-by-node Column construction, but the py4j round
    trips per node dominated the query's fixed floor (measured at sf0.001,
    5 warm reps, local[32]: full dedup_simhash 1.69 s -> 0.72 s median
    from the earlier F.expr-per-aggregate form, then the residual ~0.15 s
    of groupBy/select plumbing removed by this single-statement form)."""
    spark = df.sparkSession
    # spread a row-group-starved corpus scan before the token explode +
    # 21-lane aggregation (see utils.spread_scan; lane sums are integers,
    # so partition order cannot move the fingerprint)
    df = spread_scan(df.select(F.col(id_col), F.col(text_col)))
    iq = f"`{id_col}`"
    tq = f"`{text_col}`"
    spread_mul = (1) | (1 << 20) | (1 << 40)
    spread_mask = (1) | (1 << 21) | (1 << 42)
    lane_sums = ", ".join(
        f"sum((shiftrightunsigned(xxhash64(tok), {3 * j}) & 7L)"
        f" * {spread_mul}L & {spread_mask}L) AS l{j}"
        for j in range(21)
    )
    mask = (1 << 21) - 1
    terms = []
    for i in range(63):  # keep the sign bit clear to avoid ANSI overflow
        j, k = divmod(i, 3)
        ones = f"(shiftrightunsigned(l{j}, {21 * k}) & {mask}L)"
        terms.append(f"if({ones} * 2 > _n, shiftleft(1L, {i}), 0L)")
    fp = " + ".join(terms)
    sql = (
        f"SELECT {iq}, {fp} AS simhash FROM ("
        f"SELECT {iq}, count(1) AS _n, {lane_sums} FROM ("
        f"SELECT {iq}, tok FROM ("
        f"SELECT {iq}, explode(split(trim(lower({tq})), '\\\\s+')) AS tok "
        f"FROM {{df}}) WHERE length(tok) > 0"
        f") GROUP BY {iq})"
    )
    return sql_with_frames(spark, sql, df=df)


# Largest candidate graph, in edges, that connected_components finishes on
# the driver. Measured with tools/measure_cc_bound.py (local[3], 3g heap,
# 4-vCPU VM): at 1M edges the driver path took 2.4-2.8 s against 11.5-13.5 s
# distributed, and raised the Python driver's peak RSS by 142 MB for bigint
# ids and 366 MB for 16-character string ids; at 2M string-id edges that
# grows to 848 MB. The bound keeps the driver's extra Python memory under ~0.4 GB;
# larger graphs stay distributed.
_CC_DRIVER_MAX_EDGES = 1_000_000

# id types whose Python ordering equals Spark's: integers compare
# numerically, and UTF8_BINARY strings compare by UTF-8 bytes, which is code
# point order, the order Python uses for str
_CC_DRIVER_ID_TYPES = (ByteType(), ShortType(), IntegerType(), LongType(), StringType())


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Resolve candidate near-duplicate PAIRS into duplicate CLUSTERS: each
    node gets ``cluster_id`` = the minimum node id in its connected component
    (+ ``cluster_size``). This is the last step of every dedup pipeline —
    pairs alone can't answer "which docs do I keep": A~B and B~C must
    collapse to one cluster {A,B,C} with one canonical survivor.

    The edge set is materialized once (``localCheckpoint``) and counted in
    the same job. A graph of at most ``_CC_DRIVER_MAX_EDGES`` (1,000,000)
    edges is then collected and finished on the driver by a numpy
    union-find over sorted node codes and returned as one small local
    frame, so it costs no Spark job per round. The driver path is
    taken only when both id columns have the same integral or string type
    and no id is null: only then does Python's ordering equal Spark's, so
    the minimum found on the driver is the minimum Spark would pick. Every
    other graph runs the distributed label propagation
    (:func:`_connected_components_spark`, capped at ``max_iter`` rounds)
    over the materialized edges, so the upstream candidate pipeline is
    evaluated once on either path. Both paths return the same rows with the
    same schema ``(node_id, cluster_id, cluster_size)``.
    """
    edges = edges.select(
        F.col(src).alias("_a"), F.col(dst).alias("_b")
    ).localCheckpoint(eager=False)
    # one job, no shuffle: computing the plan's RDD materializes the
    # checkpoint and counts it (DataFrame.count would add an aggregation
    # stage), so nothing is collected before the size is known
    n_edges = edges._jdf.queryExecution().toRdd().count()
    id_type = edges.schema["_a"].dataType
    if (
        n_edges <= _CC_DRIVER_MAX_EDGES
        and id_type == edges.schema["_b"].dataType
        and id_type in _CC_DRIVER_ID_TYPES
    ):
        local = edges.toPandas()
        if not local.isna().to_numpy().any():
            return _connected_components_local(edges.sparkSession, local, id_type)
    return _connected_components_spark(edges, "_a", "_b", max_iter)


def _connected_components_local(spark, local, id_type) -> DataFrame:
    """Components of the collected ``(_a, _b)`` edges, computed in numpy.

    Node ids are factorized with ``sort=True``, so code order is id order
    and a component's smallest code is its smallest id. Each round hooks
    every root that has an edge to a smaller root onto the smallest such
    root, then jumps pointers until every node points at its root; the loop
    ends when no edge joins two roots. ``parent[x] <= x`` throughout, so the
    forest has no cycles and every root is the minimum of its tree."""
    import numpy as np
    import pandas as pd

    n = len(local)
    codes, nodes = pd.factorize(
        np.concatenate([local["_a"].to_numpy(), local["_b"].to_numpy()]), sort=True
    )
    u, v = codes[:n], codes[n:]
    parent = np.arange(len(nodes))
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        np.minimum.at(parent, np.maximum(ru, rv)[cross], np.minimum(ru, rv)[cross])
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    size = np.bincount(parent, minlength=len(nodes))
    schema = StructType(
        [
            StructField("node_id", id_type),
            StructField("cluster_id", id_type),
            StructField("cluster_size", LongType(), nullable=False),
        ]
    )
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "node_id": nodes,
                "cluster_id": nodes[parent],
                "cluster_size": size[parent].astype("int64"),
            }
        ),
        schema,
    )


def _connected_components_spark(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Distributed connected components for graphs too large (or with ids
    of a type) the driver path does not take.

    Algorithm: min-neighbor hooking + graph CONTRACTION, then min-label
    propagation with pointer jumping on the contracted graph (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
    star-contraction idea). Hooking (label(x) = min over direct neighbors
    ∪ self) forms a forest; mapping every edge through its endpoint labels
    and dropping self-loops contracts each star to a point, so a k-clique
    (the shape a k-fold-replicated/boilerplate corpus produces: every
    clone pairs with every other) contributes k·(k−1)/2 edges to exactly
    ONE pass and ZERO edges to the iterative loop. The loop then runs on
    the contracted remainder — inter-star chains only, typically a small
    fraction of the input — with two-shuffle rounds: (a) pull min label
    across contracted edges, (b) pointer-jump label(x) <- label(label(x)),
    frames localCheckpoint()ed per round to truncate iterative lineage.
    The per-round convergence test is one count() over the changed rows —
    an inherent driver action of any fixpoint loop, not a collect of data.

    At 100 TB: the full edge set is touched a bounded number of times
    (symmetrize, hook, contract — map-side-combining aggregations all);
    every loop round shuffles only the contracted graph, which clone-heavy
    corpora collapse to near-nothing, so the cost of k-fold replication is
    the k²-fold candidate set itself, paid O(1) times, not per round.
    Every intermediate is materialized by ``localCheckpoint`` alone, so the
    path registers nothing with the session's cache manager.
    """
    # symmetrize in ONE pass over the edges (a union of two selects would
    # read them twice per consumer); hooking and contraction both read this
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("_u"), F.col(dst).alias("_v")),
                F.struct(F.col(dst).alias("_u"), F.col(src).alias("_v")),
            )
        ).alias("_e")
    ).select(F.col("_e._u").alias("_u"), F.col("_e._v").alias("_v"))
    # hook: label(x) = min(x, min over direct neighbors). Forms a forest
    # (every non-root label strictly decreases), each tree a star after
    # this single pass over the edges.
    hooked = (
        sym.groupBy("_u")
        .agg(F.min("_v").alias("_m"))
        .select(F.col("_u").alias("_id"), F.least("_u", "_m").alias("_lbl"))
        .localCheckpoint(eager=True)
    )
    # contract: rewrite every edge to (label(u), label(v)), drop self-loops
    # (intra-star edges — ALL of a clique's edges), dedup. Partial
    # aggregation collapses the clique bulk map-side before the shuffle.
    contracted = (
        sym.join(
            hooked.select(F.col("_id").alias("_u"), F.col("_lbl").alias("_lu")),
            on="_u",
        )
        .join(
            hooked.select(F.col("_id").alias("_v"), F.col("_lbl").alias("_lv")),
            on="_v",
        )
        .select("_lu", "_lv")
        .filter(F.col("_lu") != F.col("_lv"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    csym = contracted.select(
        F.col("_lu").alias("_u"), F.col("_lv").alias("_v")
    )  # already symmetric: sym contained both directions of every edge
    labels = (
        csym.groupBy("_u")
        .agg(F.min("_v").alias("_m"))
        .select(F.col("_u").alias("_id"), F.least("_u", "_m").alias("_lbl"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # (a) pull min label across contracted edges
        nbr = (
            csym.join(labels.withColumnRenamed("_id", "_v"), on="_v")
            .groupBy("_u")
            .agg(F.min("_lbl").alias("_nl"))
        )
        pulled = (
            labels.join(nbr.withColumnRenamed("_u", "_id"), on="_id", how="left")
            .select("_id", F.least("_lbl", "_nl").alias("_lbl"))
        )
        # (b) pointer jumping: label(x) <- label(label(x)) where defined
        jump = labels.select(
            F.col("_id").alias("_lbl"), F.col("_lbl").alias("_jl")
        )
        new_labels = (
            pulled.join(jump, on="_lbl", how="left")
            .select("_id", F.least("_lbl", "_jl").alias("_lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("_lbl", "_old"), on="_id")
            .filter(F.col("_lbl") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # compose back: node -> hooked label -> its contracted-component min
    # (roots with no surviving contracted edges keep their hooked label)
    final = (
        hooked.join(
            labels.select(
                F.col("_id").alias("_lbl"), F.col("_lbl").alias("_fl")
            ),
            on="_lbl",
            how="left",
        )
        .select("_id", F.coalesce("_fl", "_lbl").alias("_lbl"))
    )
    w = Window.partitionBy("_lbl")
    return final.select(
        F.col("_id").alias("node_id"),
        F.col("_lbl").alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
    )


def _input_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's LEAF relation sizes — the same probe
    ``utils.spread_scan`` uses (leaf stats, not the projected root, whose
    string-width defaults badly underestimate text corpora). Drives the
    scale gates below; memoized per (session, plan)."""
    key = (id(df.sparkSession), df._jdf.queryExecution().optimizedPlan().treeString())
    got = _INPUT_BYTES_CACHE.get(key)
    if got is None:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        got = _INPUT_BYTES_CACHE[key] = sum(
            int(str(leaves.apply(i).stats().sizeInBytes()))
            for i in range(leaves.length())
        )
    return got


_INPUT_BYTES_CACHE: dict = {}


def _attach_broadcast(df: DataFrame) -> bool:
    """Whether to statically broadcast ONE per-doc signature/fingerprint
    frame into a pair-attach join; callers ask once per frame, so a frame
    is broadcast only on its own size. As two chained shuffle joins, the
    FIRST join's output — candidate pairs already carrying one side's
    signature payload — is re-shuffled by the second join key: at the 100x
    bench corpus that middle exchange alone was ~1.06 GB of the query's
    1.72 GB total shuffle. Broadcasting the attach sides removes it
    (measured, min-of-3 interleaved: total task time 254 -> 193 s,
    executor CPU 230 -> 169 s, shuffle write 1718 -> 654 MB, wall
    10.9 -> 8.5 s; bit_xor row-hash identical).
    Gated BOTH ways on the same leaf-stats probe as ``group_identical``:
    above ``maxInputBytes`` (default 2 GiB of input parquet — the per-doc
    signature relation that builds from it is ~100-200 MB, far under
    Spark's 8 GiB broadcast cap) the planner keeps today's shuffle joins,
    AQE picking the strategy from actual sizes; below ``minBytes``
    (default 16 MiB) the hint is also skipped, because at tiny inputs
    AQE's runtime broadcast conversion already handles the joins and the
    static hint only adds a dedicated broadcast-build job (measured at
    sf0.1, interleaved min-of-6: 0.850 s hinted vs 0.824 s AQE — the
    driver bench SF must keep the AQE plan). Tune with
    ``spark.mlforecast.attachBroadcast.{minBytes,maxInputBytes}``
    (maxInputBytes <= 0 disables)."""
    conf = df.sparkSession.conf
    max_b = int(
        conf.get("spark.mlforecast.attachBroadcast.maxInputBytes", str(2 << 30))
    )
    min_b = int(
        conf.get("spark.mlforecast.attachBroadcast.minBytes", str(16 << 20))
    )
    return max_b > 0 and min_b <= _input_bytes(df) <= max_b


def _simhash_candidates_grouped(
    fps: DataFrame,
    id_col: str,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Rep-space banded self-join: group ids by DISTINCT fingerprint first,
    band/join the distinct fingerprints only, then expand rep pairs back to
    id pairs (guide §2.3 "shuffle keys instead of payloads" / §2.5 hot
    keys). Near-dup corpora are clone-heavy, so the quadratic join mass
    collapses by the squared duplication factor: measured at the 100×
    bench scale, 500k docs hold 167,829 distinct simhashes and the banded
    join's comparison volume Σ_bucket n² drops 5.6B → 0.3B (18×), while
    the hottest (chunk, bucket) key shrinks 18,397 → 3,271 rows — the
    compute skew that pinned the join stage to ~10 of 32 cores (byte-based
    AQE skew splitting can never fire on a 2 MB partition) disappears
    with it. Identical-fingerprint pairs never enter the join at all: they
    are emitted directly from each group (hamming 0, subject to the same
    cap rules — an identical pair survives iff any of its four buckets is
    uncapped, exactly the old first-uncapped-agreeing-band condition,
    since identical fingerprints agree everywhere).

    Output is the exact multiset the row-space join produces
    (``test_simhash_candidates_grouped_matches_rowspace``): each unordered
    id pair once, oriented id_a < id_b, same cap semantics (``_bn`` stays
    the DOC count per bucket — ``sum(_cnt)`` over the bucket's reps).

    Per-group state is one sorted id array; a group so large that its
    array is a memory hazard implies a quadratic OUTPUT (m²/2 pairs) that
    is infeasible anyway — run ``exact_duplicates`` first, as
    ``dedup_corpus`` does, to collapse byte-identical mass."""
    spark = fps.sparkSession
    iq = f"`{id_col}`"
    chunk_arr = "array(" + ", ".join(
        f"shiftright(simhash, {16 * i}) & 65535L" for i in range(4)
    ) + ")"
    groups = (
        f"SELECT simhash, array_sort(collect_list({iq})) AS _ids "
        f"FROM (SELECT {iq}, simhash FROM {{fps}} "
        f"WHERE {iq} IS NOT NULL AND simhash IS NOT NULL) "
        f"GROUP BY simhash"
    )
    exploded = (
        f"SELECT simhash, size(_ids) AS _cnt, _ids, chunk_idx, chunk "
        f"FROM ({groups}) "
        f"LATERAL VIEW posexplode({chunk_arr}) t AS chunk_idx, chunk"
    )
    if max_bucket_size is None:
        # _rn (reps per bucket) >= 2 is the rep-space analogue of the old
        # doc-count filter: a single-rep bucket cannot form a cross pair
        # (its identical pairs come from the group branch below).
        counted = (
            f"SELECT *, count(1) OVER (PARTITION BY chunk_idx, chunk) AS _rn "
            f"FROM ({exploded})"
        )
        chunks_sql = (
            f"SELECT simhash, _ids, chunk_idx, chunk FROM ({counted}) "
            f"WHERE _rn >= 2"
        )
        self_sql = (
            f"SELECT ia AS id_a, ib AS id_b, CAST(0 AS INT) AS hamming "
            f"FROM ({groups}) "
            f"LATERAL VIEW posexplode(_ids) ta AS pa, ia "
            f"LATERAL VIEW posexplode(_ids) tb AS pb, ib "
            f"WHERE size(_ids) >= 2 AND pa < pb"
        )
    else:
        # cap semantics are DOC counts, exactly as the row-space plan: _bn
        # = sum of group sizes in the bucket, _cap = the rep's per-band
        # capped flags. _rn >= 2 is a pure pruning filter on top.
        counted = (
            f"SELECT *, count(1) OVER (PARTITION BY chunk_idx, chunk) AS _rn, "
            f"sum(_cnt) OVER (PARTITION BY chunk_idx, chunk) AS _bn "
            f"FROM ({exploded})"
        )
        capped = (
            f"SELECT simhash, _cnt, _ids, chunk_idx, chunk, _rn, _bn, "
            f"transform(array_sort(collect_list(named_struct("
            f"'chunk_idx', chunk_idx, 'c', _bn > {max_bucket_size})) "
            f"OVER (PARTITION BY simhash)), s -> s.c) AS _cap "
            f"FROM ({counted})"
        )
        chunks_sql = (
            f"SELECT simhash, _ids, chunk_idx, chunk, _cap FROM ({capped}) "
            f"WHERE _rn >= 2 AND _bn <= {max_bucket_size}"
        )
        # identical pairs survive iff any of the four shared buckets is
        # uncapped (they agree on every band, so "first band agreeing in
        # an uncapped bucket" reduces to "not all four buckets capped")
        self_sql = (
            f"SELECT ia AS id_a, ib AS id_b, CAST(0 AS INT) AS hamming "
            f"FROM (SELECT _ids, _cap FROM ({capped}) WHERE chunk_idx = 0) "
            f"LATERAL VIEW posexplode(_ids) ta AS pa, ia "
            f"LATERAL VIEW posexplode(_ids) tb AS pb, ib "
            f"WHERE size(_ids) >= 2 AND pa < pb "
            f"AND NOT (_cap[0] AND _cap[1] AND _cap[2] AND _cap[3])"
        )
    # first-matching-band dedup at rep level (identical reasoning to the
    # row-space plan, with simhash ordering standing in for id ordering:
    # each unordered REP pair joins once per agreeing band and exactly one
    # band claims it)
    terms = []
    for j in range(3):
        differs = (
            f"(shiftright(a.simhash ^ b.simhash, {16 * j}) & 65535L) != 0"
        )
        claim_free = (
            differs
            if max_bucket_size is None
            else f"(({differs}) OR a._cap[{j}])"
        )
        terms.append(f"IF(a.chunk_idx > {j}, {claim_free}, TRUE)")
    no_earlier = " AND ".join(terms)
    rep_pairs = (
        f"SELECT a._ids AS ids_a, b._ids AS ids_b, "
        f"bit_count(a.simhash ^ b.simhash) AS hamming "
        f"FROM ({chunks_sql}) a JOIN ({chunks_sql}) b "
        f"ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk "
        f"AND a.simhash < b.simhash "
        f"WHERE {no_earlier}"
    )
    cross_sql = (
        f"SELECT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b, hamming "
        f"FROM (SELECT * FROM ({rep_pairs}) WHERE hamming <= {max_hamming}) "
        f"LATERAL VIEW explode(ids_a) ta AS ia "
        f"LATERAL VIEW explode(ids_b) tb AS ib"
    )
    sql = f"{cross_sql} UNION ALL {self_sql}"
    return sql_with_frames(spark, sql, fps=fps)


def simhash_candidates(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    cache: bool = False,
    group_identical: bool | None = None,
) -> DataFrame:
    """Near-dup candidates: band the 64-bit fingerprint into 4×16-bit chunks
    (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal), join per chunk,
    verify exact hamming distance.

    ``group_identical``: run the banded self-join over DISTINCT
    fingerprints and expand rep pairs back to id pairs — output multiset
    identical (pinned by
    ``test_simhash_candidates_grouped_matches_rowspace``), join mass and
    hot-bucket skew collapse by the corpus' duplication factor squared
    (see :func:`_simhash_candidates_grouped` for the measurements).
    Default ``None`` auto-enables it when the input's leaf bytes reach
    ``spark.mlforecast.groupFingerprints.minBytes`` (16 MB): measured
    interleaved min-of-4 walls — 100× corpus (58 MB) 8.25 → 5.57 s (−32%),
    10× (5.9 MB) a wash (2.38 vs 2.38 s), driver sf0.1 (0.64 MB) a
    regression (0.80 → 1.36 s; the extra distinct-fingerprint aggregation
    exchange is pure floor at 5k docs) — so the gate sits above the wash
    point and the rep-space plan engages exactly where duplication mass
    exists to collapse.

    ``max_bucket_size`` is OFF by default: capping breaks the pigeonhole
    guarantee for pairs whose every equal chunk sits in a capped bucket. Set
    it explicitly (e.g. 1000) as the 100 TB guard against one degenerate
    chunk value turning the self-join quadratic (see ``_cap_buckets``).

    ``cache``: both self-join sides read the fingerprints; the default
    relies on AQE stage reuse — the two sides' chunk exchanges are
    canonically identical, so the fingerprint pipeline is materialized once
    and shared (measured at sf0.1: 1.05 s / 5 jobs vs 2.39 s / 8 jobs
    with ``cache=True``, whose materialization job + columnar write buys
    nothing stage reuse doesn't). Pass ``cache=True`` only when the same
    ``fps`` frame feeds later queries in a session pipeline; the cache
    lives until evicted (LRU), so unpersist the frame you passed in after
    your terminal action."""
    if cache:
        fps = fps.cache()
    if group_identical is None:
        min_bytes = int(
            fps.sparkSession.conf.get(
                "spark.mlforecast.groupFingerprints.minBytes", str(16 << 20)
            )
        )
        group_identical = _input_bytes(fps) >= min_bytes
    if group_identical:
        return _simhash_candidates_grouped(
            fps, id_col, max_hamming, max_bucket_size
        )
    spark = fps.sparkSession
    iq = f"`{id_col}`"
    chunk_arr = "array(" + ", ".join(
        f"shiftright(simhash, {16 * i}) & 65535L" for i in range(4)
    ) + ")"
    exploded = (
        f"SELECT {iq}, simhash, chunk_idx, chunk FROM "
        f"(SELECT {iq}, simhash FROM {{fps}}) "
        f"LATERAL VIEW posexplode({chunk_arr}) t AS chunk_idx, chunk"
    )
    counted = (
        f"SELECT *, count(1) OVER (PARTITION BY chunk_idx, chunk) AS _bn "
        f"FROM ({exploded})"
    )
    if max_bucket_size is None:
        chunks_sql = (
            f"SELECT {iq}, simhash, chunk_idx, chunk FROM ({counted}) "
            f"WHERE _bn >= 2"
        )
    else:
        # capped mode, shuffle-free dedup (same construction as the minhash
        # path): every chunk row carries the doc's per-chunk CAPPED flags so
        # "first chunk agreeing in an UNCAPPED bucket" is a join-row filter
        # instead of a dropDuplicates over the quadratic candidate set
        capped = (
            f"SELECT {iq}, simhash, chunk_idx, chunk, _bn, "
            f"transform(array_sort(collect_list(named_struct("
            f"'chunk_idx', chunk_idx, 'c', _bn > {max_bucket_size})) "
            f"OVER (PARTITION BY {iq})), s -> s.c) AS _cap "
            f"FROM ({counted})"
        )
        chunks_sql = (
            f"SELECT {iq}, simhash, chunk_idx, chunk, _cap FROM ({capped}) "
            f"WHERE _bn >= 2 AND _bn <= {max_bucket_size}"
        )
    # same reasoning as the minhash banded join: capped buckets bound skew,
    # so a runtime hash join can skip sorting both exploded chunk sides
    # (AQE's SMJ->SHJ threshold decides, nothing is pinned statically);
    # uncapped keeps AQE skew-splitting free to act on degenerate buckets.
    # first-matching-band dedup: both fingerprints ride the join row, so
    # "is this the FIRST band where the pair's chunks agree" is a plain
    # expression — each pair survives from exactly one band and the
    # dropDuplicates shuffle of the whole candidate set disappears (at
    # sf1: 27.7M banded rows shuffled -> 0). Under bucket caps the claim
    # goes to the first band agreeing in an UNCAPPED bucket (the _cap
    # flags; agreement means the bucket is shared, so a's flag is the
    # pair's).
    terms = []
    for j in range(3):
        differs = (
            f"(shiftright(a.simhash ^ b.simhash, {16 * j}) & 65535L) != 0"
        )
        claim_free = (
            differs
            if max_bucket_size is None
            else f"(({differs}) OR a._cap[{j}])"
        )
        terms.append(f"IF(a.chunk_idx > {j}, {claim_free}, TRUE)")
    no_earlier = " AND ".join(terms)
    sql = (
        f"SELECT id_a, id_b, hamming FROM ("
        f"SELECT a.{iq} AS id_a, b.{iq} AS id_b, "
        f"bit_count(a.simhash ^ b.simhash) AS hamming "
        f"FROM ({chunks_sql}) a JOIN ({chunks_sql}) b "
        f"ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk "
        f"AND a.{iq} < b.{iq} "
        f"WHERE {no_earlier}"
        f") WHERE hamming <= {max_hamming}"
    )
    # cache-safe substitution: fps is cached above, and the stock
    # parameterized spark.sql would unpersist it while building this query
    return sql_with_frames(spark, sql, fps=fps)


def dedup_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    method: str = "minhash",
    jaccard_threshold: float = 0.8,
    max_hamming: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end corpus deduplication: the composition a training-data
    pipeline actually runs. Returns the SURVIVING documents (all original
    columns): one canonical doc per exact-duplicate group and per near-dup
    cluster (cluster canonical = min id).

    Stages, cheapest first so each pass shrinks the next one's input:
    1. exact dedup — one shuffle on md5(text); keeps each group's min id.
    2. near-dup candidate pairs over the survivors — ``method='minhash'``
       (banded LSH, pairs kept at ``est_jaccard >= jaccard_threshold``) or
       ``'simhash'`` (chunk-banded fingerprints, ``hamming <= max_hamming``).
    3. :func:`connected_components` resolves pairs into clusters; every
       non-canonical member is dropped with one left-anti join.

    100 TB notes: every stage is banded/bounded (see the candidate
    generators); the drop set is (cluster members − clusters), typically a
    small fraction of the corpus, and the final anti-join shuffles on the id
    only. Set ``max_bucket_size`` to cap degenerate boilerplate buckets."""
    ex = exact_duplicates(docs, text_col=text_col, id_col=id_col)
    survivors = docs.join(
        ex.filter(F.col(id_col) == F.col("canonical_id")).select(id_col),
        on=id_col,
        how="inner",
    )
    if method == "minhash":
        sig = minhash_signatures(
            shingle_df(survivors, text_col=text_col, id_col=id_col, n=shingle_n,
                       distinct=False),
            id_col=id_col,
            num_hashes=num_hashes,
        )
        pairs = minhash_lsh_candidates(
            sig,
            id_col=id_col,
            num_bands=num_bands,
            num_hashes=num_hashes,
            max_bucket_size=max_bucket_size,
        ).filter(F.col("est_jaccard") >= jaccard_threshold)
    elif method == "simhash":
        fps = simhash(survivors, text_col=text_col, id_col=id_col)
        pairs = simhash_candidates(
            fps, id_col=id_col, max_hamming=max_hamming,
            max_bucket_size=max_bucket_size,
        )
    else:
        raise ValueError(f"method must be 'minhash' or 'simhash', got {method!r}")
    comps = connected_components(pairs, src="id_a", dst="id_b")
    drop = comps.filter(F.col("node_id") != F.col("cluster_id")).select(
        F.col("node_id").alias(id_col)
    )
    return survivors.join(drop, on=id_col, how="left_anti")


def minhash_probe_candidates(
    probe_sigs: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 8,
    num_hashes: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental-ingest dedup: candidate near-dup pairs between a PROBE
    set (a fresh batch) and an INDEXED corpus signature table — the
    continuous-pipeline shape where the corpus signature table persists (one
    row per doc, parquet) and each new batch only band-joins against it
    instead of re-running the corpus self-join. Returns (probe_id, index_id,
    est_jaccard); probe-internal duplicates are ``minhash_lsh_candidates``
    on the batch alone.

    Cost per batch: |batch| × num_bands band rows joined against the index's
    banded table on (band, bucket) — at 100 TB the join is driven by the
    tiny probe side (broadcast it when the batch is small), and the corpus
    is touched only at matching buckets. ``max_bucket_size`` caps degenerate
    index buckets (measured on the index side only, since the probe side is
    assumed small)."""
    def banded(sigs, out_id):
        return sigs.select(
            F.col(id_col).alias(out_id),
            _band_buckets_expr(num_bands, num_hashes).alias(f"_bks_{out_id}"),
        ).select(
            F.col(out_id),
            F.col(f"_bks_{out_id}"),
            F.posexplode(F.col(f"_bks_{out_id}")).alias("band", "bucket"),
        )

    probe_b = banded(probe_sigs, "probe_id")
    index_b = banded(index_sigs, "index_id")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        index_b = (
            index_b.withColumn("_bn", F.count(F.lit(1)).over(w))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    joined = probe_b.join(
        index_b,
        on=["band", "bucket"],
    ).filter(F.col("probe_id") != F.col("index_id"))
    if max_bucket_size is None:
        pairs = joined.filter(
            _first_matching_band(
                F.col("band"),
                F.col("_bks_probe_id"),
                F.col("_bks_index_id"),
                num_bands,
            )
        ).select("probe_id", "index_id")
    else:
        pairs = joined.select("probe_id", "index_id").dropDuplicates(
            ["probe_id", "index_id"]
        )
    sig_p = probe_sigs.select(
        F.col(id_col).alias("probe_id"), F.col("signature").alias("sig_a")
    )
    sig_i = index_sigs.select(
        F.col(id_col).alias("index_id"), F.col("signature").alias("sig_b")
    )
    return _attach_est_jaccard(pairs, sig_p, sig_i, "probe_id", "index_id")


def contamination_check(
    docs: DataFrame,
    probes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_id_col: str = "probe_id",
    n: int = 8,
    min_matches: int = 1,
) -> DataFrame:
    """Benchmark-contamination screening: which corpus documents contain
    n-gram overlap with a (small) probe set — eval questions, test answers,
    held-out documents. Returns (doc_id, probe_id, n_matching_ngrams,
    probe_ngrams, overlap_frac) for pairs with >= ``min_matches`` shared
    ``n``-grams.

    Shape: both sides shingle with the dedup machinery; the join runs on
    ``xxhash64(shingle)`` so only 8-byte keys shuffle, and the probe side is
    tiny (eval suites are thousands of items, not billions) — broadcast it
    or let AQE pick. Long n (8 by default) makes incidental overlap
    vanishingly unlikely, the standard contamination heuristic."""
    doc_sh = _exploded_shingles(docs, text_col, id_col, n, distinct=True).select(
        F.col(id_col), F.xxhash64("shingle").alias("_sh")
    )
    probe_sh = _exploded_shingles(
        probes, text_col, probe_id_col, n, distinct=True
    ).select(F.col(probe_id_col), F.xxhash64("shingle").alias("_sh"))
    probe_sizes = probe_sh.groupBy(probe_id_col).agg(
        F.count(F.lit(1)).alias("probe_ngrams")
    )
    hits = (
        doc_sh.join(probe_sh, on="_sh")
        .groupBy(id_col, probe_id_col)
        .agg(F.count(F.lit(1)).alias("n_matching_ngrams"))
        .filter(F.col("n_matching_ngrams") >= min_matches)
    )
    return hits.join(probe_sizes, probe_id_col).select(
        F.col(id_col),
        F.col(probe_id_col),
        "n_matching_ngrams",
        "probe_ngrams",
        F.round(F.col("n_matching_ngrams") / F.col("probe_ngrams"), 6).alias(
            "overlap_frac"
        ),
    )


def repeated_spans(
    df: DataFrame,
    window: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-span detection — the token-level analog of
    exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", which uses a byte-level suffix array):
    find every ``window``-token span that occurs in at least ``min_docs``
    distinct documents, and return the merged covered regions per document
    as ``(id_col, span_start, span_end, n_tokens)`` token-offset intervals
    (``span_end`` exclusive; overlapping windows are merged).

    Spark-first shape, NO pairwise term anywhere: tokenize per doc, hash
    every w-token sliding window (array ``slice`` + ``xxhash64`` over a
    per-doc token array — one projection), one shuffle groups window hashes
    to count distinct docs, and a semi-join marks each doc's repeated
    window starts; gaps-and-islands (lag + running flag sum) merges
    overlapping windows into maximal spans. At 100 TB the only global
    exchange is the hash aggregation — the suffix array this replaces is a
    single-machine structure that cannot shard this way.

    Window hashes, not window strings, cross the shuffle (8 bytes vs ~300);
    distinct hash collisions (~n^2/2^64) can only over-mark a span as
    repeated, never corrupt text."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    w = int(window)
    # one row per window start: hash of the w-token window, built by a
    # lambda-free slice/arrays_zip projection over the token array — ZERO
    # shuffles (a lead-window form pays an Exchange+Sort of every corpus
    # token) and no interpreted transform-LAMBDA per window: slice/zip/
    # explode/concat/xxhash64 are all codegen'd. Slices are sized to the
    # valid window count, so posexplode's index IS the window start
    # position over the length-filtered token sequence. The scan is spread
    # first (utils.spread_scan) so the window hashing isn't pinned to the
    # parquet row-group count.
    df = spread_scan(df.select(F.col(id_col), F.col(text_col)))
    base = df.select(
        F.col(id_col),
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"),
            lambda t: F.length(t) > 0,
        ).alias("_toks"),
    )
    wcnt = F.greatest(F.size("_toks") - F.lit(w - 1), F.lit(0))
    slices = [F.slice("_toks", i + 1, wcnt).alias(f"_s{i}") for i in range(w)]
    wins = base.select(
        F.col(id_col),
        F.posexplode(F.arrays_zip(*slices)).alias("_pos", "_z"),
    ).select(
        F.col(id_col),
        F.col("_pos"),
        F.xxhash64(
            F.concat_ws("\x1f", *[F.col(f"_z._s{i}") for i in range(w)])
        ).alias("_wh"),
    )
    repeated = (
        wins.groupBy("_wh")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_wh")
    )
    marked = wins.join(repeated, "_wh", "left_semi").select(id_col, "_pos")
    # merge overlapping/adjacent windows: starts within w of the previous
    # covered end belong to the same island
    ww = Window.partitionBy(id_col).orderBy("_pos")
    islands = (
        marked.withColumn("_prev", F.lag("_pos").over(ww))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("_pos") > F.col("_prev") + w),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("_isl", F.sum("_new").over(ww))
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(F.min("_pos").alias("span_start"), (F.max("_pos") + w).alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    window: int = 50,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_remain: int = 0,
) -> DataFrame:
    """Cut the :func:`repeated_spans` regions out of every document and
    reassemble the survivors (whitespace-normalized: tokens rejoined with
    single spaces — the same normalization the span detection tokenized
    under; casing is preserved even though detection lowercases). Documents
    left with fewer than ``min_remain`` tokens are dropped entirely.
    Returns ``(id_col, text_col, n_removed_tokens)`` for every input doc
    that keeps at least one token.

    The cut is positional (token offsets from one ordered per-doc window
    pass), so no second corpus-wide shuffle beyond the span join; the
    reassembly is ``sort_array(collect_list(struct(pos, token)))`` per doc
    — one groupBy, the same shape as boilerplate removal."""
    spans = repeated_spans(df, window, min_docs, text_col, id_col)
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("_pos"),
    ).distinct()
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > 0
            )
        ).alias("_pos0", "_tok"),
    ).withColumn("_pos", F.col("_pos0"))
    kept = toks.join(covered, [id_col, "_pos"], "left_anti")
    removed = toks.join(covered, [id_col, "_pos"], "left_semi").groupBy(
        id_col
    ).agg(F.count(F.lit(1)).alias("n_removed_tokens"))
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("_pos"), F.col("_tok")))
                    ),
                    lambda s: s["_tok"],
                ),
                " ",
            ).alias(text_col),
            F.count(F.lit(1)).alias("_n_kept"),
        )
        .filter(F.col("_n_kept") >= min_remain)
    )
    return (
        rebuilt.join(removed, id_col, "left")
        .select(
            id_col,
            text_col,
            F.coalesce(F.col("n_removed_tokens"), F.lit(0)).cast("long").alias(
                "n_removed_tokens"
            ),
        )
    )


def minhash_recall_estimate(
    df: DataFrame,
    threshold: float = 0.5,
    sample_fraction: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    salt: str = "",
) -> DataFrame:
    """Measured recall/precision of the banded MinHash candidate generator
    against EXACT n-gram Jaccard, on a deterministic hash sample of the
    corpus — "measure, don't guess" for the knob that matters at 100 TB
    (bands/hashes trade shuffle volume against missed duplicates, and the
    right setting depends on the corpus's similarity distribution, not on
    theory alone).

    Returns one row: ``(sample_docs, true_pairs, candidate_pairs,
    caught_pairs, recall, precision)`` where true pairs are sample pairs
    with exact Jaccard >= ``threshold`` and caught pairs are true pairs the
    banded generator surfaced. The exact all-pairs verification is
    quadratic BY DESIGN and confined to the sample — ``sample_fraction``
    bounds it (e.g. 50k docs of a 1B-doc corpus); the sample is the same
    md5-prefix rule as :func:`~mlforecast_spark.operators.sampling.
    hash_sample`, so reruns measure the same subset."""
    from .sampling import hash_sample

    sample = hash_sample(df, sample_fraction, key_col=id_col, salt=salt)
    exact = ngram_jaccard_pairs(
        sample, text_col=text_col, id_col=id_col, n=n, allow_all_pairs=True
    ).filter(F.col("jaccard") >= threshold)
    sigs = minhash_signatures(
        shingle_df(sample, text_col=text_col, id_col=id_col, n=n, distinct=False),
        id_col=id_col,
        num_hashes=num_hashes,
    )
    cands = minhash_lsh_candidates(
        sigs, id_col=id_col, num_hashes=num_hashes, num_bands=num_bands
    ).select("id_a", "id_b")
    exact = exact.select("id_a", "id_b").cache()
    cands = cands.cache()
    n_docs = sample.count()
    n_true = exact.count()
    n_cand = cands.count()
    n_caught = exact.join(cands, ["id_a", "id_b"], "inner").count()
    spark = df.sparkSession
    out = spark.createDataFrame(
        [
            (
                n_docs,
                n_true,
                n_cand,
                n_caught,
                round(n_caught / n_true, 6) if n_true else None,
                round(n_caught / n_cand, 6) if n_cand else None,
            )
        ],
        "sample_docs long, true_pairs long, candidate_pairs long, "
        "caught_pairs long, recall double, precision double",
    )
    exact.unpersist()
    cands.unpersist()
    return out


def _paragraph_lines(
    df: DataFrame, text_col: str, id_col: str, sep: str, min_chars: int
) -> DataFrame:
    """Exploded paragraph rows ``(_did, _pos, _para, _h1, _h2)``: position-
    preserving split with a compact 96-bit content hash on dedup-eligible
    paragraphs (blanks / below ``min_chars`` get null hashes, so equi- and
    anti-joins can never match them). Shared by :func:`dedup_paragraphs`
    and the streaming incremental variant."""
    # \Q..\E-quote the separator: F.split takes a regex but reassembly uses
    # the literal string, so a regex-special sep (e.g. "|") would split on
    # something it doesn't rejoin with
    lines = df.select(
        F.col(id_col).alias("_did"),
        F.posexplode(F.split(F.col(text_col), "\\Q" + sep + "\\E")).alias(
            "_pos", "_para"
        ),
    )
    eligible = (F.length(F.trim("_para")) >= F.lit(max(min_chars, 1)))
    return lines.withColumn(
        "_h1", F.when(eligible, F.xxhash64("_para"))
    ).withColumn("_h2", F.when(eligible, F.hash("_para")))


def _reassemble_paragraphs(
    df: DataFrame, kept: DataFrame, text_col: str, id_col: str, sep: str
) -> DataFrame:
    """Rebuild per-doc text from kept ``(_did, _pos, _para)`` rows in
    original order; docs whose every paragraph was dropped come back with
    empty text, all other columns preserved."""
    rebuilt = kept.groupBy("_did").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.sort_array(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s["_para"],
            ),
        ).alias("_clean_text")
    )
    return (
        df.drop(text_col)
        .join(rebuilt, on=[F.col(id_col) == F.col("_did")], how="left")
        .withColumn(text_col, F.coalesce(F.col("_clean_text"), F.lit("")))
        .drop("_did", "_clean_text")
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide exact paragraph deduplication (RefinedWeb / CCNet style:
    a paragraph that appears in many documents — boilerplate, quoted spam,
    mirrored content — is kept only at its FIRST occurrence and stripped
    everywhere else). First = smallest ``(id, position)`` across the corpus,
    so the output is deterministic. Documents are reassembled in original
    paragraph order; blank separators (trimmed length 0) and paragraphs
    shorter than ``min_chars`` are never candidates and always survive.
    Documents whose every paragraph was removed come back with empty text.

    Reference analog: paragraph-level exact dedup in RefinedWeb (Penedo et
    al. 2023 §3.3) and the line-level variant in CCNet; the reference repo
    has no counterpart (forecasting library) — this is part of the
    training-data-pipeline surface.

    Scale shape (100 TB): winner selection runs over a compact 96-bit hash
    key (``xxhash64`` + murmur3 — 12 bytes crosses the wire, not the
    paragraph) as two staged PRIMITIVE-buffer mins (min doc per hash, then
    min pos within that doc) so every aggregate is a HashAggregate —
    ``min(struct(...))`` would silently fall back to SortAggregate and sort
    every exploded paragraph row. Map-side combine collapses duplicate mass
    before the shuffle, and the winner set is FILTERED to hashes that
    actually repeat — on a mostly-unique corpus the join's build side
    shrinks toward the true duplicate mass and AQE can broadcast it,
    leaving document reassembly (one shuffle keyed by doc id,
    ``sort_array(collect_list(...))`` — no window over the corpus) as the
    only full-text shuffle. No driver-side actions; no Python UDFs.
    Equality is by the 96-bit hash: two distinct paragraphs colliding in
    BOTH hashes (~n²/2⁹⁷ over n distinct paragraphs — negligible below
    ~10¹³) would be treated as duplicates.
    """
    hashed = _paragraph_lines(df, text_col, id_col, sep, min_chars)
    # lexicographic min(did, pos) without min(struct) — a struct buffer
    # forces SortAggregate; two staged primitive mins keep every aggregate
    # a HashAggregate: (1) min doc per hash (+ count, to prune unique
    # paragraphs from the join entirely), (2) min pos within that doc.
    #
    # Winner selection is TWO CHAINED aggregations over ONE scan — per
    # (hash, doc) first (min pos + count; map-side combine collapses
    # within-doc repeats before the shuffle), then per hash with
    # ``min_by(_dpos, _did)`` picking the min-doc's first position without
    # revisiting the occurrence rows, so the corpus is never re-scanned or
    # re-exploded to find the winning position. The second aggregation's
    # input is the per-(hash, doc) combined rows, and ``min_by`` over the
    # unique-per-group ``_did`` is deterministic and stays a HashAggregate
    # (primitive buffer; pinned by
    # test_dedup_paragraphs_aggregates_are_hash_not_sort).
    narrow = hashed.select("_did", "_pos", "_h1", "_h2").filter(
        F.col("_h1").isNotNull()
    )
    per_doc = narrow.groupBy("_h1", "_h2", "_did").agg(
        F.min("_pos").alias("_dpos"), F.count(F.lit(1)).alias("_dc")
    )
    winners = (
        per_doc.groupBy("_h1", "_h2")
        .agg(
            F.min("_did").alias("_wdid"),
            F.expr("min_by(_dpos, _did)").alias("_wpos"),
            F.sum("_dc").alias("_c"),
        )
        .filter(F.col("_c") > 1)
        .drop("_c")
    )
    kept = hashed.join(winners, on=["_h1", "_h2"], how="left").filter(
        F.col("_wdid").isNull()
        | ((F.col("_wdid") == F.col("_did")) & (F.col("_wpos") == F.col("_pos")))
    )
    return _reassemble_paragraphs(df, kept, text_col, id_col, sep)


def optimal_bands(
    num_hashes: int,
    threshold: float,
    fp_weight: float = 0.5,
) -> tuple:
    """Choose ``(num_bands, rows_per_band)`` for the banded MinHash join by
    minimizing the weighted false-positive/false-negative area of the LSH
    S-curve ``P(candidate | jaccard=s) = 1 - (1 - s^r)^b`` around
    ``threshold`` (the standard datasketch/MMDS tuning rule). Driver-side
    arithmetic only — use it to pick ``num_bands`` for
    :func:`minhash_lsh_candidates` / :func:`dedup_corpus`, then verify the
    achieved recall empirically with :func:`minhash_recall_estimate`.

    ``fp_weight`` trades candidate-set size (false positives = wasted join
    work at 100 TB) against missed near-dups (false negatives); 0.5 weighs
    them equally."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 <= fp_weight <= 1.0:
        raise ValueError(f"fp_weight must be in [0, 1], got {fp_weight}")
    fn_weight = 1.0 - fp_weight
    steps = 200
    best = None
    for b in range(1, num_hashes + 1):
        r = num_hashes // b
        if r == 0 or b * r > num_hashes:
            continue

        # integrate the S-curve below/above the threshold (midpoint rule)
        fp = 0.0
        for i in range(steps):
            s = threshold * (i + 0.5) / steps
            fp += 1.0 - (1.0 - s**r) ** b
        fp *= threshold / steps
        fn = 0.0
        for i in range(steps):
            s = threshold + (1.0 - threshold) * (i + 0.5) / steps
            fn += 1.0 - (1.0 - (1.0 - s**r) ** b)
        fn *= (1.0 - threshold) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]
