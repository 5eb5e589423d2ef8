"""Span arithmetic on synthetic data, and job attribution on a tiny input
through a real Spark session."""

import os

import pytest

import spans


def _span(i, layer, start, end, parent=None, call=True):
    return {"id": i, "layer": layer, "name": layer, "parent": parent,
            "call": call, "start": start, "end": end}


def _job(span, start, end, task_s=0.0):
    metrics = dict.fromkeys(
        ("task_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "python_mb"), 0.0
    )
    metrics["task_s"] = task_s
    return {"span": span, "start": start, "end": end, "metrics": metrics}


LAYERS = {"a": [], "b": []}


def test_self_time_wall_time_and_driver_gap():
    # a: [0, 1000] with child b: [200, 700]; a nested a: [800, 900]
    s = [
        _span(0, "a", 0, 1000),
        _span(1, "b", 200, 700, parent=0),
        _span(2, "a", 800, 900, parent=0),
    ]
    jobs = {
        0: _job(0, 100, 150, task_s=2.0),  # in a's own time
        1: _job(1, 300, 600, task_s=5.0),  # in b
        2: _job(2, 850, 950, task_s=1.0),  # in the nested a, ends after it
    }
    m = spans.layer_metrics(s, jobs, passes=1, layers=LAYERS)
    assert m["a"]["calls"] == 2 and m["b"]["calls"] == 1
    assert m["a"]["wall_s"] == pytest.approx(1.0)  # nested same-layer span once
    # self: outer a = 1000 - 500 (b) - 100 (nested a) = 400; nested a = 100
    assert m["a"]["self_s"] == pytest.approx(0.5)
    assert m["b"]["self_s"] == pytest.approx(0.5)
    # a's self intervals [0,200] [700,800] [900,1000] + [800,900]; jobs cover
    # [100,150] and [850,950] -> gap = 500 - 50 - 100 = 350 ms
    assert m["a"]["driver_gap_s"] == pytest.approx(0.35)
    assert m["b"]["driver_gap_s"] == pytest.approx(0.2)
    assert m["a"]["jobs"] == 2 and m["a"]["task_s"] == pytest.approx(3.0)
    assert m["b"]["jobs"] == 1 and m["b"]["task_s"] == pytest.approx(5.0)


def test_step_spans_own_jobs_but_are_not_calls_and_passes_divide():
    s = [_span(0, "a", 0, 100, call=False), _span(1, "a", 200, 300)]
    jobs = {0: _job(0, 10, 20, task_s=4.0), 1: _job(None, 30, 40, task_s=9.0)}
    m = spans.layer_metrics(s, jobs, passes=2, layers=LAYERS)
    assert m["a"]["calls"] == 0.5
    assert m["a"]["jobs"] == 0.5 and m["a"]["task_s"] == pytest.approx(2.0)
    assert m["b"] == dict.fromkeys(m["b"], 0.0)


def test_install_wraps_and_restores():
    import types
    import sys

    mod = types.ModuleType("perfbench_fake_layer")

    class Thing:
        def go(self, x):
            return x + 1

    def helper(x):
        return x * 2

    mod.Thing, mod.helper = Thing, helper
    sys.modules[mod.__name__] = mod
    try:
        tracer = spans.Tracer()
        layers = {"fake": [(mod.__name__, "Thing.go"), (mod.__name__, "helper"),
                           (mod.__name__, "Missing.go")]}
        undo = spans.install(tracer, layers)
        assert Thing().go(1) == 2 and mod.helper(2) == 4
        assert tracer.spans == []  # disabled: nothing recorded
        tracer.enabled = True
        with tracer.span("fake", "step", call=False):
            Thing().go(1)
            mod.helper(1)
        assert [(x["name"], x["parent"]) for x in tracer.spans] == [
            ("step", None), ("Thing.go", 0), ("helper", 0)
        ]
        undo()
        assert Thing.go is not None and "go" in vars(Thing)
        assert mod.helper is helper and not hasattr(Thing.go, "__wrapped__")
    finally:
        del sys.modules[mod.__name__]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("work"))
    run.prepare_environment(work)
    session = run.start_session(work, event_dir=os.path.join(work, "events"))
    yield session, work
    session.stop()


def test_jobs_attributed_to_innermost_span(spark):
    """Eager entry points own their jobs; a lazy entry point owns none, and
    the action that forces its plan goes to the span that issued it."""
    import numpy as np
    from pyspark.sql import functions as F

    from mlforecast_spark.models import LinearRegression
    from mlforecast_spark.operators import dedup

    session, work = spark
    app_id = session.sparkContext.applicationId
    tracer = spans.Tracer(session.sparkContext)
    layers = {
        "models": [("mlforecast_spark.models", "LinearRegression.fit_spark")],
        "operators.dedup": [("mlforecast_spark.operators.dedup", "minhash_signatures")],
    }
    undo = spans.install(tracer, layers)
    try:
        rng = np.random.default_rng(0)
        x = rng.normal(size=200)
        df = session.createDataFrame(
            [(float(a), float(2 * a + 1)) for a in x], "x double, y double"
        )
        docs = session.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(i, i + 8))) for i in range(20)],
            "doc_id long, text string",
        )
        session.range(1).collect()  # untraced job: ignored
        tracer.enabled = True
        with tracer.span("models", "fit", call=False):
            model = LinearRegression()
            model.fit_spark(df, ["x"], "y")
        with tracer.span("operators.dedup", "sign", call=False):
            sigs = dedup.minhash_signatures(dedup.shingle_df(docs))
            n = sigs.agg(F.count(F.lit(1))).first()[0]
        tracer.enabled = False
    finally:
        undo()
    assert n == 20 and model.coef_[0] == pytest.approx(2.0)
    session.stop()
    log = spans.find_event_log(os.path.join(work, "events"), app_id)
    jobs = spans.read_event_log(log)
    by_id = {s["id"]: s for s in tracer.spans}
    owners = [by_id[j["span"]]["name"] for j in jobs.values() if j["span"] is not None]
    assert "LinearRegression.fit_spark" in owners  # eager: the fit owns its jobs
    assert "minhash_signatures" not in owners  # lazy: plan building only
    assert "sign" in owners  # the step that issued the action
    assert any(j["span"] is None for j in jobs.values())
    m = spans.layer_metrics(tracer.spans, jobs, passes=1, layers=layers)
    assert m["models"]["calls"] == 1 and m["models"]["jobs"] >= 1
    assert m["operators.dedup"]["calls"] == 1 and m["operators.dedup"]["jobs"] >= 1
    assert m["models"]["task_s"] > 0 and m["operators.dedup"]["task_s"] > 0
    for layer in m.values():
        assert 0 <= layer["driver_gap_s"] <= layer["self_s"] <= layer["wall_s"] + 1e-9
