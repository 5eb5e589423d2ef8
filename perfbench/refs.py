"""Independent reference computations for the correctness checks.

Nothing here imports the library: features are recomputed with pandas and
numpy, the linear rollout is a plain loop over the fitted coefficients, and
pooled features are DuckDB window SQL over the same parquet input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WIDE_LAGS = (1, 2, 3, 7, 14)


def _wide_feature_values(y: pd.Series, ds: pd.Series) -> dict:
    """Feature columns of the forecast_wide pipeline for one series."""
    out = {f"lag{k}": y.shift(k) for k in WIDE_LAGS}
    s1, s7 = y.shift(1), y.shift(7)
    out["rolling_mean_lag1_window_size7"] = s1.rolling(7).mean()
    out["rolling_mean_lag1_window_size28"] = s1.rolling(28).mean()
    out["rolling_std_lag1_window_size7"] = s1.rolling(7).std(ddof=1)
    out["expanding_mean_lag1"] = s1.expanding().mean()
    out["exponentially_weighted_mean_lag1_alpha0.3"] = s1.ewm(alpha=0.3, adjust=False).mean()
    out["rolling_mean_lag7_window_size7"] = s7.rolling(7).mean()
    out["dayofweek"] = pd.to_datetime(ds).dt.dayofweek.astype(float)
    return out


def _scale(y: pd.Series) -> tuple[float, float]:
    """Per-series standard scaler: mean and population std (0 -> 1)."""
    loc, scale = float(y.mean()), float(y.std(ddof=0))
    return loc, (scale if scale != 0.0 else 1.0)


def numpy_features(series: pd.DataFrame) -> pd.DataFrame:
    """(unique_id, ds, y, features...) for one series sorted by ``ds``, on
    the standard-scaled target, keeping only rows where every feature is
    defined."""
    s = series.reset_index(drop=True)
    loc, scale = _scale(s["y"])
    z = (s["y"] - loc) / scale
    feats = pd.DataFrame(_wide_feature_values(z, s["ds"]))
    out = pd.concat([s[["unique_id", "ds"]], z.rename("y"), feats], axis=1)
    return out.dropna()


def linear_rollout(series: pd.DataFrame, coef, intercept, order, h: int) -> np.ndarray:
    """Recursive h-step forecast of one series (sorted by ``ds``) from a
    linear model's coefficients over the feature columns ``order``, in the
    scaled space, mapped back to the original scale."""
    loc, scale = _scale(series["y"].astype(float))
    z = ((series["y"].astype(float) - loc) / scale).tolist()
    ds = pd.to_datetime(series["ds"]).tolist()
    coef = np.asarray(coef, float)
    preds = []
    for _ in range(h):
        nxt = ds[-1] + pd.Timedelta(days=1)
        vals = _wide_feature_values(pd.Series(z + [np.nan]), pd.Series(ds + [nxt]))
        x = np.array([vals[c].iloc[-1] for c in order])
        p = float(x @ coef + intercept)
        preds.append(p)
        z.append(p)
        ds.append(nxt)
    return np.array(preds) * scale + loc


def mae_ratio(known: pd.DataFrame, holdout: pd.DataFrame, forecasts, col: str) -> float:
    """MAE of ``col`` over the held-out days the ``forecasts`` cover, divided
    by the MAE of the seasonal-naive forecast issued at the same origin (the
    same weekday of the last week before each forecast's first day)."""
    hist = pd.concat([known[["unique_id", "ds", "y"]], holdout[["unique_id", "ds", "y"]]])
    hist = hist.assign(ds=pd.to_datetime(hist["ds"])).set_index(["unique_id", "ds"])["y"]
    model_err, naive_err = [], []
    for fc in forecasts:
        f = fc.assign(ds=pd.to_datetime(fc["ds"]))[["unique_id", "ds", col]]
        m = f.merge(hist.rename("y").reset_index(), on=["unique_id", "ds"])
        origin = f["ds"].min() - pd.Timedelta(days=1)
        back = np.ceil((m["ds"] - origin).dt.days / 7.0).astype(int) * 7
        ref = m["ds"] - pd.to_timedelta(back, unit="D")
        naive = hist.reindex(list(zip(m["unique_id"], ref))).to_numpy()
        model_err.append(np.abs(m[col].to_numpy() - m["y"].to_numpy()))
        naive_err.append(np.abs(naive - m["y"].to_numpy()))
    return float(np.mean(np.concatenate(model_err)) / np.mean(np.concatenate(naive_err)))


POOLED_SQL = """
WITH t AS (SELECT unique_id, ds, y, brand FROM read_parquet('{glob}')),
b AS (SELECT brand, ds, sum(y) AS s FROM t GROUP BY brand, ds),
bf AS (
  SELECT brand, ds,
    CASE WHEN count(s) OVER w = 7 THEN avg(s) OVER w END AS f
  FROM b WINDOW w AS (PARTITION BY brand ORDER BY ds
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
g AS (SELECT ds, sum(y) AS s, count(y) AS c FROM t GROUP BY ds),
gf AS (
  SELECT ds, sum(s) OVER w / sum(c) OVER w AS f
  FROM g WINDOW w AS (ORDER BY ds ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
sf AS (
  SELECT unique_id, ds,
    CASE WHEN count(y) OVER w = 7 THEN avg(y) OVER w END AS f
  FROM t WINDOW w AS (PARTITION BY unique_id ORDER BY ds
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT t.unique_id, t.ds,
  bf.f AS "groupby_brand_rolling_mean_lag1_window_size7_time_aggsum",
  gf.f AS "global_expanding_mean_lag1",
  sf.f AS "rolling_mean_lag1_window_size7"
FROM t
JOIN bf USING (brand, ds)
JOIN gf USING (ds)
JOIN sf USING (unique_id, ds)
"""


def duckdb_pooled_features(input_dir: str) -> pd.DataFrame:
    """The forecast_pooled lag transforms on the raw target, as DuckDB
    window SQL over the input parquet directory."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(POOLED_SQL.format(glob=f"{input_dir}/*.parquet")).df()
    finally:
        con.close()
