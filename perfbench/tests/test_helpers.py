"""Tests for the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

import datagen
import run
import stats
import workloads
from tracing import Tracer, sql_metric_total

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize(
    "n,want",
    [(9, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.beyond(n, want) >= 10
        higher = [p for p in stats.TAIL_CANDIDATES if p > want]
        assert all(stats.beyond(n, p) < 10 for p in higher)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs[::-1], 99) == 99
    assert stats.percentile([7.0], 90) == 7.0


def _frame() -> pd.DataFrame:
    return pd.DataFrame({
        "k": np.arange(6, dtype="int64"),
        "name": list("abcdef"),
        "x": [0.1, 0.2, np.nan, 1e6, -3.5, 2.0],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", None, "2024-02-01", "2024-03-01", "2024-04-01"]),
        "vec": [[1.0, 2.0], [3.0], [], [0.5], [1.0], [2.0, 2.0]],
    })


def test_result_hash_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)[["vec", "x", "ts", "name", "k"]]
    assert stats.result_hash(shuffled) == stats.result_hash(df)
    assert stats.result_hash(df.iloc[::-1].reset_index(drop=True)) == stats.result_hash(df)


def test_result_hash_sees_values_and_widths():
    df = _frame()
    changed = df.copy()
    changed.loc[4, "x"] = -3.25
    assert stats.result_hash(changed) != stats.result_hash(df)
    dropped = df.iloc[1:]
    assert stats.result_hash(dropped) != stats.result_hash(df)
    # integer widths unify, float noise below the rounding does not count
    narrow = df.assign(k=df["k"].astype("int32"), x=df["x"] + 1e-9)
    assert stats.result_hash(narrow) == stats.result_hash(df)
    # an integer column that became float is a different result
    assert stats.result_hash(df.assign(k=df["k"].astype("float64"))) != stats.result_hash(df)


def test_metric_names_are_limited():
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in declared["end_to_end"] + declared["per_layer"]]
    names += list(run.E2E_UNITS) + list(run.LAYER_UNITS) + list(workloads.LAYER_UNITS)
    for name in names:
        assert stats.check_metric_name(name) == name
    for bad in ("", "a b", "p90%", "exec/s", "_x", "x" * 65, "latency\n"):
        with pytest.raises(ValueError):
            stats.check_metric_name(bad)


def test_declared_metrics_match_what_the_run_prints():
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in declared["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layers == {**run.LAYER_UNITS, **workloads.LAYER_UNITS}
    assert [w["name"] for w in declared["workloads"]] == list(run.WORKLOADS)


def test_spark_sql_metric_totals():
    assert sql_metric_total("0 ms") == 0.0
    assert sql_metric_total("total (min, med, max (stageId: taskId))\n4.4 s (2.1 s, 2.2 s, 2.2 s (stage 3.0: task 3))") == 4.4
    assert sql_metric_total("total (min, med, max (stageId: taskId))\n999 ms (460 ms, 539 ms)") == pytest.approx(0.999)
    assert sql_metric_total("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, 1.0 KiB)") == 2048.0
    assert sql_metric_total("1.5 m") == 90.0


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("query", "q"):
        with tr.span("build", "q"):
            pass
        with tr.span("exec", "q"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["build"]["parent"] == spans["query"]["id"]
    self_s = tr.self_times()
    total = spans["query"]["end"] - spans["query"]["start"]
    assert self_s["query"] + self_s["build"] + self_s["exec"] == pytest.approx(total)
    off = Tracer(enabled=False)
    with off.span("query", "q"):
        pass
    assert off.spans == []


def test_inputs_come_from_the_seed():
    a, b, c = datagen.tables(5, 0.001), datagen.tables(5, 0.001), datagen.tables(6, 0.001)
    assert list(a) == datagen.TABLES
    for name in datagen.TABLES:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"]
    assert (docs["n_chars"] == docs["text"].str.len()).all()
    assert docs["text"].str.endswith(" dup").any()
    pd.testing.assert_frame_equal(datagen.listings(3, 50), datagen.listings(3, 50))
