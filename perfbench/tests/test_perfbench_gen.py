"""The input generator is a pure function of (workload, seed, size)."""

import hashlib
import os

import pytest

import gen


def _digest(root: str) -> dict:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"), size="tiny")
    b = gen.generate(workload, 7, str(tmp_path / "b"), size="tiny")
    assert _digest(a) == _digest(b)
    assert any(name.startswith("input" + os.sep) for name in _digest(a))


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_other_input(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path), size="tiny")
    b = gen.generate(workload, 8, str(tmp_path), size="tiny")
    da, db = _digest(a), _digest(b)
    assert sorted(da) == sorted(db)
    assert da != db


def test_cached_input_is_reused(tmp_path):
    a = gen.generate("forecast_wide", 1, str(tmp_path), size="tiny")
    stamp = os.path.getmtime(os.path.join(a, "_DONE"))
    assert gen.generate("forecast_wide", 1, str(tmp_path), size="tiny") == a
    assert os.path.getmtime(os.path.join(a, "_DONE")) == stamp


def test_input_is_multi_file_and_truth_is_beside_it(tmp_path):
    import json

    import pandas as pd

    d = gen.generate("corpus_dedup", 3, str(tmp_path), size="tiny")
    parts = os.listdir(os.path.join(d, "input"))
    assert len(parts) == gen.N_PARTS
    docs = pd.read_parquet(os.path.join(d, "input"))
    text = dict(zip(docs["doc_id"], docs["text"]))
    with open(os.path.join(d, "truth.json")) as f:
        truth = json.load(f)
    assert truth["exact"] and all(text[c] == text[s] for c, s in truth["exact"])
    assert truth["near"] and all(text[c] != text[s] for c, s in truth["near"])

    w = gen.generate("forecast_wide", 3, str(tmp_path), size="tiny")
    train = pd.read_parquet(os.path.join(w, "input"))
    hold = pd.read_parquet(os.path.join(w, "holdout.parquet"))
    assert hold.groupby("unique_id").size().eq(gen.HOLDOUT_DAYS).all()
    assert train["ds"].max() < hold["ds"].min()
