"""Span recorder and event-log attribution for the traced run.

Spans are recorded from the benchmark process only: :func:`install` wraps
the public entry points of each library module (the *layers*), and each
workload step opens a span for the layer whose output its action forces.
While a span is open its id is the Spark local property ``SPAN_KEY``, so
every job the thread submits carries the id of the innermost open span.
Lazy entry points therefore own only their plan building; their jobs go to
the span that issued the action.

After the session stops, :func:`layer_metrics` reads Spark's JSON event log
and charges every job (and its stages' task metrics) to its span's layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time

SPAN_KEY = "perfbench.span"

# layer -> [(module, attribute path)]; entries missing from a version of the
# library are skipped, so the table may name a superset.
LAYERS = {
    "forecast": [
        ("mlforecast_spark.forecast", "MLForecast.fit"),
        ("mlforecast_spark.forecast", "MLForecast.predict"),
        ("mlforecast_spark.forecast", "MLForecast.update"),
        ("mlforecast_spark.forecast", "MLForecast.cross_validation"),
        ("mlforecast_spark.forecast", "MLForecast.preprocess"),
    ],
    "core": [("mlforecast_spark.core", "FeaturePlan.apply")],
    "target_transforms": [
        ("mlforecast_spark.target_transforms", "LocalStandardScaler.fit_transform"),
        ("mlforecast_spark.target_transforms", "LocalStandardScaler.inverse_transform"),
    ],
    "models": [
        ("mlforecast_spark.models", "LinearRegression.fit_spark"),
        ("mlforecast_spark.models", "Ridge.fit_spark"),
    ],
    "models_gbt": [("mlforecast_spark.models_gbt", "GradientBoostedTrees.fit_spark")],
    "local_predict": [("mlforecast_spark.local_predict", "predict_cogroup")],
    "conformal": [
        ("mlforecast_spark.conformal", "conformity_scores"),
        ("mlforecast_spark.conformal", "compute_conformity_scores"),
        ("mlforecast_spark.conformal", "add_interval_columns"),
    ],
    "operators.dedup": [
        ("mlforecast_spark.operators.dedup", name)
        for name in (
            "dedup_corpus",
            "shingle_df",
            "minhash_signatures",
            "minhash_lsh_candidates",
            "simhash_candidates",
            "connected_components",
            "minhash_probe_candidates",
        )
    ],
    "operators.similarity": [
        ("mlforecast_spark.operators.similarity", name)
        for name in ("build_ivf_index", "ivf_search", "semantic_dedup")
    ],
}

LAYER_METRICS = (
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("driver_gap_s", "s"),
    ("jobs", "count"),
    ("task_s", "s"),
    ("cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("python_mb", "MB"),
)

PYTHON_ACCUMULABLES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """In-memory span stack. ``enabled`` is False outside the traced
    passes: wrapped calls then run without recording."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.enabled = False

    def _set_property(self):
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_KEY, str(self.stack[-1]) if self.stack else None)

    @contextlib.contextmanager
    def span(self, layer: str, name: str, call: bool = True):
        """Open a span; ``call=False`` marks a benchmark step span, which
        owns its jobs but is not a call into the layer."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "call": call,
            "start": time.time() * 1000.0,
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._set_property()
        try:
            yield
        finally:
            rec["end"] = time.time() * 1000.0
            self.stack.pop()
            self._set_property()


def _resolve(module: str, path: str):
    try:
        owner = importlib.import_module(module)
    except ImportError:
        return None
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part, None)
        if owner is None:
            return None
    fn = getattr(owner, attr, None)
    return (owner, attr, fn) if callable(fn) else None


def install(tracer: Tracer, layers=LAYERS):
    """Wrap every entry point in ``layers``; returns an undo function."""
    undo = []
    for layer, entries in layers.items():
        for module, path in entries:
            found = _resolve(module, path)
            if found is None:
                continue
            owner, attr, fn = found
            had_own = attr in vars(owner)

            def wrapped(*args, __fn=fn, __layer=layer, __name=path, **kwargs):
                with tracer.span(__layer, __name):
                    return __fn(*args, **kwargs)

            functools.update_wrapper(wrapped, fn)
            setattr(owner, attr, wrapped)
            undo.append((owner, attr, fn, had_own))

    def uninstall():
        for owner, attr, fn, had_own in reversed(undo):
            if had_own:
                setattr(owner, attr, fn)
            else:
                delattr(owner, attr)

    return uninstall


# ---------------------------------------------------------------- event log
def read_event_log(path: str) -> dict:
    """Jobs from one Spark JSON event log: ``{job_id: {span, start, end,
    metrics}}``, times in epoch ms, task metrics summed over the job's
    stages."""
    jobs, stage_job = {}, {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_KEY)
                jid = ev["Job ID"]
                jobs[jid] = {
                    "span": int(span) if span not in (None, "") else None,
                    "start": float(ev["Submission Time"]),
                    "end": None,
                    "metrics": dict.fromkeys(
                        ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "python_mb"), 0.0
                    ),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = float(ev["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                m = jobs[jid]["metrics"]
                tm = ev.get("Task Metrics") or {}
                m["task_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                m["spill_mb"] += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / 1e6
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in PYTHON_ACCUMULABLES:
                        m["python_mb"] += float(acc.get("Update") or 0) / 1e6
    return jobs


def _merge(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def _subtract(base, cut):
    """Intervals of ``base`` (one [s, e]) not covered by merged ``cut``."""
    out, (s, e) = [], base
    for cs, ce in cut:
        if ce <= s or cs >= e:
            continue
        if cs > s:
            out.append([s, cs])
        s = max(s, ce)
    if s < e:
        out.append([s, e])
    return out


def _length(intervals) -> float:
    return sum(e - s for s, e in intervals)


def layer_metrics(spans: list[dict], jobs: dict, passes: int, layers=LAYERS) -> dict:
    """Per-layer totals over the traced passes, divided by ``passes``.

    - ``calls``: spans that are calls into the layer's entry points;
    - ``wall_s``: time inside the layer, counting nested same-layer spans once;
    - ``self_s``: span time not covered by child spans;
    - ``driver_gap_s``: self time during which no Spark job was running;
    - job and task metrics: summed over the jobs submitted while one of the
      layer's spans was the innermost open span.
    """
    zero = {name: 0.0 for name, _ in LAYER_METRICS}
    out = {layer: dict(zero) for layer in layers}
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    job_iv = _merge([[j["start"], j["end"]] for j in jobs.values() if j["end"] is not None])

    def outer_same_layer(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["layer"] == s["layer"]:
                return True
            p = by_id[p]["parent"]
        return False

    for s in spans:
        if s["layer"] not in out or s["end"] is None:
            continue
        m = out[s["layer"]]
        dur = s["end"] - s["start"]
        m["calls"] += 1 if s["call"] else 0
        if not outer_same_layer(s):
            m["wall_s"] += dur / 1e3
        self_iv = _subtract(
            [s["start"], s["end"]],
            _merge([[c["start"], c["end"]] for c in children.get(s["id"], []) if c["end"]]),
        )
        m["self_s"] += _length(self_iv) / 1e3
        m["driver_gap_s"] += sum(_length(_subtract(iv, job_iv)) for iv in self_iv) / 1e3
    for j in jobs.values():
        s = by_id.get(j["span"])
        if s is None or s["layer"] not in out:
            continue
        m = out[s["layer"]]
        m["jobs"] += 1
        for k, v in j["metrics"].items():
            m[k] += v
    return {
        layer: {k: v / max(passes, 1) for k, v in metrics.items()}
        for layer, metrics in out.items()
    }


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
