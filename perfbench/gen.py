"""Seeded input generators for the three benchmark workloads.

Every input is a function of ``(workload, seed, size)`` only: numpy's
``default_rng(seed)`` drives all randomness, and pyarrow writes the result
as a multi-file parquet directory. The program under test reads only that
directory; the ground truth the checks need (held-out days, planted
duplicate ids) is written beside it and never handed to the program.

Layout of one generated input::

    <root>/<workload>-s<seed>-<size>/
        input/part-00000.parquet ...   what the program reads
        update/part-*.parquet           forecast_pooled: the update batch
        probe/part-*.parquet            corpus_dedup: the fresh probe batch
        embeddings/part-*.parquet       corpus_dedup: vectors for semantic dedup
        holdout.parquet                 forecast truth: the held-out days
        truth.json                      dedup truth: planted copy -> source ids
        _DONE                           written last; marks a complete input
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START = dt.date(2020, 1, 1)
HOLDOUT_DAYS = 14
POOLED_H = 1  # forecast_pooled horizon: update batch and each forecast
N_PARTS = 8

# (workload, size) -> generator parameters. "full" is what the benchmark
# times; "tiny" is what the benchmark's own tests use.
SIZES = {
    "forecast_wide": {
        "full": dict(n_series=500, n_days=730),
        "tiny": dict(n_series=12, n_days=120),
    },
    "forecast_pooled": {
        "full": dict(n_series=200, n_days=372, n_brands=10, h=POOLED_H),
        "tiny": dict(n_series=12, n_days=80, n_brands=3, h=POOLED_H),
    },
    "corpus_dedup": {
        "full": dict(n_docs=10_000, vocab=20_000, n_vecs=3_000, n_probe=600),
        "tiny": dict(n_docs=400, vocab=2_000, n_vecs=200, n_probe=60),
    },
}


def _write_parts(df: pd.DataFrame, path: str, n_parts: int = N_PARTS, schema=None):
    """Write ``df`` as ``n_parts`` parquet files, split on row order."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(df), n_parts + 1).astype(int)
    for i in range(n_parts):
        part = df.iloc[bounds[i]:bounds[i + 1]]
        table = pa.Table.from_pandas(part, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def _series_ids(n: int) -> np.ndarray:
    width = len(str(n - 1))
    return np.array([f"id_{i:0{width}d}" for i in range(n)])


def _seasonal_matrix(rng, n_series: int, n_days: int, common=None):
    """(n_series, n_days) positive series: level × weekly profile + AR(1)
    noise, plus an optional shared component added per series."""
    level = rng.uniform(20.0, 200.0, n_series)
    amp = rng.uniform(0.1, 0.5, n_series)
    phase = rng.integers(0, 7, n_series)
    t = np.arange(n_days)
    profile = np.sin(2 * np.pi * ((t[None, :] + phase[:, None]) % 7) / 7.0)
    sigma = 0.05 * level
    noise = np.empty((n_series, n_days))
    e = rng.normal(0.0, sigma)
    for j in range(n_days):
        e = 0.6 * e + rng.normal(0.0, sigma)
        noise[:, j] = e
    y = level[:, None] * (1.0 + amp[:, None] * profile) + noise
    if common is not None:
        y = y + common
    return np.maximum(y, 1.0)


def _panel_frame(ids, y, first_day):
    """Long (unique_id, ds, y) frame from a matrix; cells before each
    series' ``first_day`` are left out."""
    n_series, n_days = y.shape
    days = np.array([START + dt.timedelta(days=int(d)) for d in range(n_days)])
    mask = np.arange(n_days)[None, :] >= first_day[:, None]
    rows, cols = np.nonzero(mask)
    return pd.DataFrame({
        "unique_id": ids[rows],
        "ds": days[cols],
        "y": y[rows, cols],
    })


def gen_forecast_wide(rng, out, n_series: int, n_days: int):
    """Daily panel with weekly seasonality and staggered starts; every
    series ends on the same day and its last ``HOLDOUT_DAYS`` are held out."""
    y = _seasonal_matrix(rng, n_series, n_days)
    first = rng.integers(0, n_days // 3, n_series)
    df = _panel_frame(_series_ids(n_series), y, first)
    cut = START + dt.timedelta(days=n_days - HOLDOUT_DAYS)
    _write_parts(df[df["ds"] < cut], os.path.join(out, "input"))
    df[df["ds"] >= cut].to_parquet(os.path.join(out, "holdout.parquet"), index=False)


def gen_forecast_pooled(rng, out, n_series: int, n_days: int, n_brands: int, h: int):
    """Equal-length panel with a static integer ``brand`` column and a
    per-brand shared random walk, so pooled brand features carry signal.
    The ``h`` days after the input are the ``update`` batch; those and the
    next ``h`` days are the held-out truth."""
    total = n_days + 2 * h
    brand = rng.integers(0, n_brands, n_series)
    walk = np.cumsum(rng.normal(0.0, 2.0, (n_brands, total)), axis=1)
    y = _seasonal_matrix(rng, n_series, total, common=walk[brand] + 50.0)
    df = _panel_frame(_series_ids(n_series), y, np.zeros(n_series, dtype=int))
    df["brand"] = np.repeat(brand, total).astype(np.int32)
    cut = START + dt.timedelta(days=n_days)
    upd = START + dt.timedelta(days=n_days + h)
    _write_parts(df[df["ds"] < cut], os.path.join(out, "input"))
    _write_parts(df[(df["ds"] >= cut) & (df["ds"] < upd)], os.path.join(out, "update"), 2)
    df[df["ds"] >= cut].to_parquet(os.path.join(out, "holdout.parquet"), index=False)


def _zipf_docs(rng, n: int, vocab: int, s: float = 1.0):
    p = 1.0 / np.arange(1, vocab + 1) ** s
    p /= p.sum()
    lengths = rng.integers(30, 91, n)
    toks = rng.choice(vocab, size=int(lengths.sum()), p=p)
    return np.split(toks, np.cumsum(lengths)[:-1])


def _near_copy(rng, toks: np.ndarray, vocab: int, frac: float = 0.1):
    out = toks.copy()
    k = max(1, int(round(frac * len(toks))))
    pos = rng.choice(len(toks), size=k, replace=False)
    out[pos] = rng.integers(0, vocab, k)
    return out


def _text(toks) -> str:
    return " ".join(f"w{t}" for t in toks)


def gen_corpus_dedup(rng, out, n_docs: int, vocab: int, n_vecs: int, n_probe: int):
    """Zipf(1.0) token documents with 5% planted exact copies and 10%
    planted near copies (10% of tokens replaced); a fresh probe batch with
    planted copies of corpus docs; 64-d embeddings with 10% near copies."""
    n_exact, n_near = n_docs // 20, n_docs // 10
    n_base = n_docs - n_exact - n_near
    docs = _zipf_docs(rng, n_base, vocab)
    src = rng.choice(n_base, size=n_exact + n_near, replace=False)
    exact_src, near_src = src[:n_exact], src[n_exact:]
    docs += [docs[i] for i in exact_src]
    docs += [_near_copy(rng, docs[i], vocab) for i in near_src]
    ids = rng.permutation(n_docs).astype(np.int64)  # slot -> doc_id
    corpus = pd.DataFrame({"doc_id": ids, "text": [_text(d) for d in docs]})
    _write_parts(corpus, os.path.join(out, "input"))

    n_pe, n_pn = n_probe // 10, n_probe // 10
    probe_src = rng.choice(n_docs, size=n_pe + n_pn, replace=False)
    probe_docs = _zipf_docs(rng, n_probe - n_pe - n_pn, vocab)
    probe_docs += [docs[i] for i in probe_src[:n_pe]]
    probe_docs += [_near_copy(rng, docs[i], vocab) for i in probe_src[n_pe:]]
    probe_ids = n_docs + np.arange(n_probe, dtype=np.int64)
    probe = pd.DataFrame({"doc_id": probe_ids, "text": [_text(d) for d in probe_docs]})
    _write_parts(probe, os.path.join(out, "probe"), 2)

    n_vnear = n_vecs // 10
    base = rng.normal(0.0, 1.0, (n_vecs - n_vnear, 64))
    vsrc = rng.choice(len(base), size=n_vnear, replace=False)
    near = base[vsrc] + rng.normal(0.0, 0.02, (n_vnear, 64))
    vecs = np.vstack([base, near]).astype(np.float32)
    vec_ids = rng.permutation(n_vecs).astype(np.int64)
    emb = pd.DataFrame({"vec_id": vec_ids, "embedding": list(vecs)})
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    _write_parts(emb, os.path.join(out, "embeddings"), 4, schema=schema)

    slot = lambda a: ids[np.asarray(a)].tolist()  # noqa: E731
    truth = {
        "exact": [[c, s] for c, s in zip(slot(range(n_base, n_base + n_exact)), slot(exact_src))],
        "near": [[c, s] for c, s in zip(slot(range(n_base + n_exact, n_docs)), slot(near_src))],
        "probe_exact": [[int(p), s] for p, s in zip(probe_ids[-n_pe - n_pn:-n_pn], slot(probe_src[:n_pe]))],
        "probe_near": [[int(p), s] for p, s in zip(probe_ids[-n_pn:], slot(probe_src[n_pe:]))],
        "vec_near": [[int(vec_ids[len(base) + i]), int(vec_ids[s])] for i, s in enumerate(vsrc)],
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)


GENERATORS = {
    "forecast_wide": gen_forecast_wide,
    "forecast_pooled": gen_forecast_pooled,
    "corpus_dedup": gen_corpus_dedup,
}


def generate(workload: str, seed: int, root: str, size: str = "full") -> str:
    """Generate (or reuse) the input for ``workload`` at ``seed``; returns
    its directory. A directory without ``_DONE`` is regenerated."""
    out = os.path.join(root, f"{workload}-s{seed}-{size}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, out, **SIZES[workload][size])
    with open(os.path.join(out, "_DONE"), "w") as f:
        f.write("ok\n")
    return out
