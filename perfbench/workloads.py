"""The three benchmark workloads, driven through the library's public API.

Each workload has three parts:

- ``prepare(spark)``: per-session set-up that is not part of a user's pass
  (corpus_dedup persists the signature index the probe step reads);
- ``run(spark, step)``: one pass of the workload's steps.
  ``step(name, layer)`` is a context manager that times one step and, in a
  traced pass, is a span of ``layer``, the layer whose plan the step's
  action forces. Every step forces its result inside the timed region (a
  noop write, a collect or an eager fit);
- ``check(out)``: independent correctness checks on the last pass's
  outputs, run outside the timed region. Returns ``[(name, ok, detail)]``
  and the workload's quality figures.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from gen import HOLDOUT_DAYS, POOLED_H
from refs import (
    duckdb_pooled_features,
    linear_rollout,
    mae_ratio,
    numpy_features,
)


def _noop(df) -> None:
    """Compute every column of ``df`` without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


def _close(a, b, rtol=1e-6, atol=1e-6) -> tuple[bool, str]:
    a, b = np.asarray(a, float), np.asarray(b, float)
    if a.shape != b.shape:
        return False, f"shape {a.shape} != {b.shape}"
    both_nan = np.isnan(a) & np.isnan(b)
    ok = np.isclose(a, b, rtol=rtol, atol=atol) | both_nan
    err = float(np.nanmax(np.abs(a - b))) if a.size else 0.0
    return bool(ok.all()), f"max abs err {err:.3g} over {a.size} values"


class Workload:
    name = ""
    rows = 0  # input rows, for rows_per_s

    def __init__(self, data_dir: str, seed: int):
        self.dir = data_dir
        self.seed = seed

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def prepare(self, spark) -> None:
        pass

    def pair_yield(self, spark) -> float:
        """Verified / candidate near-duplicate pairs; 0 where no dedup runs."""
        return 0.0


class ForecastWide(Workload):
    """Data-heavy: per-series windows, a scaled target, a Gram fit,
    distributed GBT histograms and the Arrow cogroup rollout over a wide
    panel."""

    name = "forecast_wide"
    H = HOLDOUT_DAYS

    def __init__(self, data_dir, seed):
        super().__init__(data_dir, seed)
        self.rows = pd.read_parquet(self.path("input"), columns=["y"]).shape[0]

    @staticmethod
    def make_mf():
        from mlforecast_spark import MLForecast
        from mlforecast_spark.lag_transforms import (
            ExpandingMean,
            ExponentiallyWeightedMean,
            RollingMean,
            RollingStd,
        )
        from mlforecast_spark.models import LinearRegression
        from mlforecast_spark.models_gbt import GradientBoostedTrees
        from mlforecast_spark.target_transforms import LocalStandardScaler

        return MLForecast(
            models=[
                LinearRegression(),
                # a low collect_threshold keeps the distributed histogram
                # path on this panel size
                GradientBoostedTrees(n_estimators=2, max_depth=3, collect_threshold=10_000),
            ],
            freq="D",
            lags=[1, 2, 3, 7, 14],
            lag_transforms={
                1: [
                    RollingMean(7),
                    RollingMean(28),
                    RollingStd(7),
                    ExpandingMean(),
                    ExponentiallyWeightedMean(0.3),
                ],
                7: [RollingMean(7)],
            },
            date_features=["dayofweek"],
            target_transforms=[LocalStandardScaler()],
        )

    def run(self, spark, step):
        df = spark.read.parquet(self.path("input"))
        mf = self.make_mf()
        with step("preprocess_s", "core"):
            _noop(mf.preprocess(df))
        with step("fit_s", "forecast"):
            mf.fit(df)
        with step("predict_s", "local_predict"):
            fc = mf.predict(
                self.H, engine="cogroup", cogroup_buckets=16, sort_output=False
            ).toPandas()
        return {"mf": mf, "df": df, "fc": fc}

    def check(self, out):
        from pyspark.sql import functions as F

        mf, fc = out["mf"], out["fc"]
        train = pd.read_parquet(self.path("input"))
        hold = pd.read_parquet(self.path("holdout.parquet"))
        ids = sorted(train["unique_id"].unique())
        rng = np.random.default_rng(self.seed)
        sample = sorted(rng.choice(ids, size=5, replace=False).tolist())
        checks = []

        checks.append((
            "forecast_rows",
            len(fc) == len(ids) * self.H and fc[["LinearRegression", "GradientBoostedTrees"]].notna().all().all(),
            f"{len(fc)} rows for {len(ids)} series x {self.H}",
        ))

        got = (
            mf.preprocess(out["df"])
            .filter(F.col("unique_id").isin(sample))
            .toPandas()
            .sort_values(["unique_id", "ds"])
        )
        want = pd.concat([
            numpy_features(train[train["unique_id"] == u].sort_values("ds"))
            for u in sample
        ])
        names = list(mf.feature_names_)
        if sorted(names) != sorted(c for c in want.columns if c not in ("unique_id", "ds", "y")):
            checks.append(("features_numpy", False, f"feature names {names}"))
        else:
            ok, detail = _close(got[names].to_numpy(), want[names].to_numpy())
            ok = ok and len(got) == len(want)
            checks.append(("features_numpy", ok, f"{len(got)} vs {len(want)} rows; {detail}"))

        lin = mf.models_["LinearRegression"]
        order = list(mf.features_order_)
        pred = []
        for u in sample:
            hist = train[train["unique_id"] == u].sort_values("ds")
            pred.append(linear_rollout(hist, lin.coef_, lin.intercept_, order, self.H))
        pred = np.concatenate(pred)
        fcs = fc[fc["unique_id"].isin(sample)].sort_values(["unique_id", "ds"])
        ok, detail = _close(fcs["LinearRegression"].to_numpy(), pred)
        checks.append(("rollout_numpy", ok, detail))

        ratio = mae_ratio(train, hold, [fc], "LinearRegression")
        checks.append(("beats_seasonal_naive", ratio < 1.0, f"mae_ratio {ratio:.4f}"))
        return checks, {"mae_ratio": ratio}


class ForecastPooled(Workload):
    """Job-bound: pooled features force the lockstep predict loop, and the
    conformal calibration backtest re-enters fit and predict, so a pass is
    many small Spark jobs on tiny data; ``update`` appends beside the
    predict state."""

    name = "forecast_pooled"
    H = POOLED_H

    def __init__(self, data_dir, seed):
        super().__init__(data_dir, seed)
        self.rows = pd.read_parquet(self.path("input"), columns=["y"]).shape[0]

    @staticmethod
    def lag_transforms():
        from mlforecast_spark.lag_transforms import ExpandingMean, RollingMean

        return {
            1: [
                RollingMean(7, groupby=["brand"], time_agg="sum"),
                ExpandingMean(global_=True),
                RollingMean(7),
            ]
        }

    def make_mf(self):
        from mlforecast_spark import MLForecast
        from mlforecast_spark.models import Ridge

        return MLForecast(
            models=[Ridge()], freq="D", lags=[1, 7], lag_transforms=self.lag_transforms()
        )

    def run(self, spark, step):
        from mlforecast_spark.conformal import PredictionIntervals

        df = spark.read.parquet(self.path("input"))
        upd = spark.read.parquet(self.path("update"))
        mf = self.make_mf()
        with step("fit_s", "forecast"):
            mf.fit(
                df,
                static_features=["brand"],
                prediction_intervals=PredictionIntervals(n_windows=2, h=self.H),
            )
        with step("predict_s", "forecast"):
            fc = mf.predict(self.H, level=[80, 95]).toPandas()
        with step("update_s", "forecast"):
            mf.update(upd)
        return {"df": df, "fc": fc, "mf": mf}

    def check(self, out):
        from mlforecast_spark import MLForecast

        train = pd.read_parquet(self.path("input"))
        hold = pd.read_parquet(self.path("holdout.parquet"))
        n_series = train["unique_id"].nunique()
        fc = out["fc"]
        fc2 = out["mf"].predict(self.H).toPandas()  # reads the updated state
        checks = []

        plain = MLForecast(models=[], freq="D", lag_transforms=self.lag_transforms())
        got = plain.preprocess(out["df"], static_features=["brand"], dropna=False).toPandas()
        want = duckdb_pooled_features(self.path("input"))
        names = list(plain.feature_names_)
        got = got.sort_values(["unique_id", "ds"]).reset_index(drop=True)
        want = want.sort_values(["unique_id", "ds"]).reset_index(drop=True)
        if sorted(names) != sorted(c for c in want.columns if c not in ("unique_id", "ds")):
            checks.append(("pooled_features_duckdb", False, f"feature names {names}"))
        else:
            ok, detail = _close(got[names].to_numpy(), want[names].to_numpy(), rtol=1e-9)
            checks.append(("pooled_features_duckdb", ok and len(got) == len(want), detail))

        cols = ["Ridge-lo-95", "Ridge-lo-80", "Ridge", "Ridge-hi-80", "Ridge-hi-95"]
        v = fc[cols].to_numpy()
        ordered = bool(np.all(np.diff(v, axis=1) >= 0)) and not np.isnan(v).any()
        checks.append(("interval_order", ordered and len(fc) == n_series * self.H,
                       f"{len(fc)} rows, lo95<=lo80<=yhat<=hi80<=hi95: {ordered}"))
        checks.append(("update_horizon", len(fc2) == n_series * self.H
                       and fc2["ds"].min() > fc["ds"].max(), f"{len(fc2)} rows after update"))
        ratio = mae_ratio(train, hold, [fc, fc2], "Ridge")
        checks.append(("quality", bool(np.isfinite(ratio)) and ratio < 2.0, f"mae_ratio {ratio:.4f}"))
        return checks, {"mae_ratio": ratio}


class CorpusDedup(Workload):
    """The dedup and similarity operators: minhash and simhash corpus
    dedup, a small probe against a persisted signature index, and
    semantic dedup of embeddings."""

    name = "corpus_dedup"
    BANDS = 16  # 2 rows per band: near copies with 10% edits sit near J=0.55
    THRESHOLD = 0.3

    def __init__(self, data_dir, seed):
        super().__init__(data_dir, seed)
        with open(self.path("truth.json")) as f:
            self.truth = json.load(f)
        self.rows = sum(
            pd.read_parquet(self.path(d)).shape[0] for d in ("input", "probe", "embeddings")
        )
        self.index = self.path("index_sigs")

    def prepare(self, spark):
        """Persist the corpus signature index the probe step reads."""
        from mlforecast_spark.operators.dedup import minhash_signatures, shingle_df

        if os.path.exists(os.path.join(self.index, "_SUCCESS")):
            return
        docs = spark.read.parquet(self.path("input"))
        sigs = minhash_signatures(shingle_df(docs, distinct=False))
        sigs.write.mode("overwrite").parquet(self.index)

    def pair_yield(self, spark) -> float:
        """Share of the corpus's minhash LSH candidate pairs that pass the
        estimated-Jaccard verification."""
        from pyspark.sql import functions as F

        from mlforecast_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
            shingle_df,
        )

        sigs = minhash_signatures(shingle_df(spark.read.parquet(self.path("input")), distinct=False))
        cand = minhash_lsh_candidates(sigs, num_bands=self.BANDS)
        n, ok = cand.agg(
            F.count(F.lit(1)), F.sum((F.col("est_jaccard") >= self.THRESHOLD).cast("long"))
        ).first()
        return (ok or 0) / n if n else 0.0

    def run(self, spark, step):
        from mlforecast_spark.operators.dedup import (
            dedup_corpus,
            minhash_probe_candidates,
            minhash_signatures,
            shingle_df,
        )
        from mlforecast_spark.operators.similarity import semantic_dedup

        docs = spark.read.parquet(self.path("input"))
        with step("dedup_minhash_s", "operators.dedup"):
            mh = dedup_corpus(
                docs, method="minhash", num_bands=self.BANDS,
                jaccard_threshold=self.THRESHOLD,
            ).select("doc_id").toPandas()
        with step("dedup_simhash_s", "operators.dedup"):
            sh = dedup_corpus(docs, method="simhash").select("doc_id").toPandas()
        with step("probe_s", "operators.dedup"):
            batch = spark.read.parquet(self.path("probe"))
            sigs = minhash_signatures(shingle_df(batch, distinct=False))
            probe = minhash_probe_candidates(
                sigs, spark.read.parquet(self.index), num_bands=self.BANDS
            ).toPandas()
        with step("semantic_dedup_s", "operators.similarity"):
            sem = semantic_dedup(spark.read.parquet(self.path("embeddings"))).toPandas()
        return {"mh": mh, "sh": sh, "probe": probe, "sem": sem}

    def check(self, out):
        t = self.truth
        n_docs = pd.read_parquet(self.path("input"), columns=["doc_id"]).shape[0]
        planted = {c for c, _ in t["exact"]} | {c for c, _ in t["near"]}
        sources = {s for _, s in t["exact"]} | {s for _, s in t["near"]}
        checks = []
        n_exact = len(t["exact"])
        for key in ("mh", "sh"):
            kept = set(out[key]["doc_id"].tolist())
            both = sum(1 for c, s in t["exact"] if c in kept and s in kept)
            checks.append((f"{key}_exact_collapsed", both == 0 and len(kept) <= n_docs - n_exact,
                           f"{both} of {n_exact} planted exact pairs both kept; {len(kept)} survivors"))
        # minhash at this threshold never joins unrelated Zipf documents, so
        # its survivors are exactly determined up to near-copy recall
        kept = set(out["mh"]["doc_id"].tolist())
        lost = sum(1 for i in range(n_docs) if i not in kept and i not in planted and i not in sources)
        checks.append(("mh_no_false_drops", lost == 0, f"{lost} unrelated docs dropped"))
        one = sum(1 for c, s in t["exact"] if (c in kept) != (s in kept))
        checks.append(("mh_exact_groups", one == n_exact, f"{one} of {n_exact} exact groups keep one"))
        found = sum(1 for c, s in t["near"] if not (c in kept and s in kept))
        checks.append(("mh_near_found", found >= 0.95 * len(t["near"]),
                       f"{found} of {len(t['near'])} planted near copies collapsed"))

        pairs = set(zip(out["probe"]["probe_id"].tolist(), out["probe"]["index_id"].tolist()))
        exact_hit = sum(1 for p, s in t["probe_exact"] if (p, s) in pairs)
        near_hit = sum(1 for p, s in t["probe_near"] if (p, s) in pairs)
        checks.append(("probe_copies_matched",
                       exact_hit == len(t["probe_exact"]) and near_hit >= 0.95 * len(t["probe_near"]),
                       f"exact {exact_hit}/{len(t['probe_exact'])}, near {near_hit}/{len(t['probe_near'])}"))

        sem = out["sem"].set_index("vec_id")
        same = sum(1 for c, s in t["vec_near"] if sem.loc[c, "cluster_id"] == sem.loc[s, "cluster_id"])
        checks.append(("semantic_near_found", same >= 0.95 * len(t["vec_near"]),
                       f"{same} of {len(t['vec_near'])} planted vector copies clustered"))
        checks.append(("semantic_keep_one", int(sem["keep"].sum()) == sem["cluster_id"].nunique(),
                       "one survivor per cluster"))
        n_pairs = len(out["probe"])
        return checks, {"probe_pairs": n_pairs}


WORKLOADS = {w.name: w for w in (ForecastWide, ForecastPooled, CorpusDedup)}
