"""Fast checks of the benchmark itself (no Spark session):

    python3 -m pytest titlebench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.fixture(scope="module")
def corpus():
    from duckdb_title_mapper_spark.kb import load_kb

    return load_kb().corpus


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _bytes(tmp_path, name, rows):
    path = tmp_path / name
    run._write_parts(str(path), rows, 3)
    return [(path / f).read_bytes() for f in sorted(os.listdir(path))]


@pytest.mark.parametrize("make", [
    lambda seed, corpus: gen.distinct_slices(seed, corpus, 3, 3000),
    lambda seed, corpus: gen.repeated_slices(seed, corpus, 3, 100, 30),
])
def test_same_seed_same_bytes(tmp_path, corpus, make):
    a, b, c = make(7, corpus), make(7, corpus), make(8, corpus)
    assert a == b
    assert a != c
    assert _bytes(tmp_path, "a", a[0]) == _bytes(tmp_path, "b", b[0])


def test_repeated_slices_repeat_disjoint_titles(corpus):
    slices = gen.repeated_slices(4, corpus, 3, 100, 30)
    sets = [set(s) for s in slices]
    for s, titles in zip(slices, sets):
        assert len(s) == 3000
        assert all(s.count(t) == 30 for t in titles if t)
    for i in range(3):
        for j in range(i):
            assert not (sets[i] & sets[j]) - {None, ""}


def test_unique_slices_are_disjoint(corpus):
    slices = gen.distinct_slices(3, corpus, 4, 2000)
    seen: set = set()
    for s in slices:
        assert len(s) == 2000
        titles = [t for t in s if t]
        assert len(set(titles)) == len(titles)
        assert seen.isdisjoint(titles)
        seen.update(titles)


def test_inputs_have_blanks_and_noise(corpus):
    rows = gen.distinct_slices(5, corpus, 1, 20000)[0]
    assert rows.count(None) > 0 and rows.count("") > 0
    assert any(t and t != t.strip() for t in rows)  # spacing noise
    assert any(t and t.isupper() for t in rows)  # case noise
    assert any(t and re.search(r"\d{3,}", t) for t in rows)  # numbers


def test_split_covers_rows_in_order():
    rows = list(range(10))
    parts = gen.split(rows, 3)
    assert [len(p) for p in parts] == [4, 3, 3]
    assert sum(parts, []) == rows


def test_rollup_matches_spark_semantics():
    got = run.rollup(["a", None, "", "b"], ["X - Cat", None, "Y - Dog", "Z"], run.category)
    assert got == {"Cat": (1, 3904355907), None: (1, None), "Dog": (1, 0), "": (1, 1908338681)}


def test_metric_names(spec):
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.fullmatch(name), name
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_reported_metrics_match_spec(spec, corpus):
    """The traced and untraced reports carry exactly the names the spec
    declares, with the declared units."""
    from duckdb_title_mapper_spark.operators.standardize import get_index

    sample = gen.distinct_slices(9, corpus, 1, 50)[0]
    sample = [t for t in sample if t is not None]
    task = {"stage_durations_ms": [[10, 12, 30], [5]], "run_ms": 50, "gc_ms": 1,
            "shuffle_bytes": 1000}
    p = {"rows": 50, "ok": True, "seconds": 1.0, "kernel_s": 0.5, "kernel_batches": [(50, 0.5)], "plan_s": 0.1,
         "traced": True, "warm": False, "tasks": task, "distinct_ratio": 1.0,
         "spans": {"materialize": (1, 0.2), "standardize.kb_posting_lists_df": (1, 0.1)},
         "replay": run.replay(sample, sample, get_index())}
    res = {"passes": [p, dict(p, traced=False)], "failed": 0, "py_peak_rss_mb": 100.0}
    setup = {"session": 1.0, "register": 1.0, "warmup": 1.0, "total": 3.0, "end": 0.0}

    def units(ms):
        return {k: u for k, (_, u) in ms.items()}

    assert units(run.end_to_end([setup], res)) == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = run.per_layer(setup, run.Tracer(), res, 3, 500.0, 0.1)
    assert units(layer) == {m["name"]: m["unit"] for m in spec["per_layer"]}
