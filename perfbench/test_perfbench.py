"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------ generator

def input_digest(path: str) -> str:
    """sha256 over the rows and truth of an input directory."""
    import pandas as pd

    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith((".parquet", ".json")):
            h.update(name.encode())
            if name.endswith(".parquet"):
                df = pd.read_parquet(os.path.join(path, name))
                h.update(df.to_csv(index=False).encode())
            else:
                with open(os.path.join(path, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "PLANTED_DOCS", 60)
    monkeypatch.setattr(gen, "DAY2_DOCS", 80)
    monkeypatch.setattr(gen, "DAY2_DELTA", 8)
    monkeypatch.setattr(gen, "DAY2_SCREEN", 8)
    for w in gen.WORKLOADS:
        a = input_digest(gen.generate(w, 3, str(tmp_path / "a")))
        b = input_digest(gen.generate(w, 3, str(tmp_path / "b")))
        c = input_digest(gen.generate(w, 4, str(tmp_path / "c")))
        assert a == b, w
        assert a != c, w


def test_day2_split_sizes_are_exact(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "DAY2_DOCS", 80)
    monkeypatch.setattr(gen, "DAY2_DELTA", 8)
    monkeypatch.setattr(gen, "DAY2_SCREEN", 9)
    out = gen.generate("day2_fold", 5, str(tmp_path))
    with open(os.path.join(out, "truth.json")) as f:
        docs = json.load(f)["docs"]
    assert docs == {"delta": 8, "screen": 9, "base": 63}


# ------------------------------------------------------------ spans

def _span(i, name, start, end, parent=None, cpu=0.0):
    return dict(id=i, name=name, start=start, end=end, parent=parent, run_id="t", cpu_s=cpu)


def test_covered_merges_and_clips():
    assert spans.covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_children_once():
    s = [
        _span(0, "driver.op", 0, 10),
        _span(1, "signatures", 1, 3, parent=0),
        _span(2, "lsh", 2, 5, parent=0),  # overlaps its sibling
        _span(3, "io.write", 3, 4, parent=2),
    ]
    st = spans.self_times(s)
    assert st == {0: 6, 1: 2, 2: 2, 3: 1}


def test_self_times_account_for_wall_without_overlap():
    s = [
        _span(0, "driver.op", 0, 10),
        _span(1, "incremental.fold", 0.5, 6, parent=0),
        _span(2, "signatures", 1, 2, parent=1),
        _span(3, "io.write", 2, 2.5, parent=1),
        _span(4, "incremental.screen", 6, 9.5, parent=0),
        _span(5, "io.read", 6, 6.25, parent=4),
    ]
    assert abs(sum(spans.self_times(s).values()) - 10) < 1e-9


def test_layer_metrics_do_not_double_count_nested_same_layer():
    s = [
        _span(0, "driver.op", 0, 10, cpu=8.0),
        _span(1, "incremental.fold", 0, 6, parent=0, cpu=6.0),
        _span(2, "incremental.pairs", 1, 3, parent=1, cpu=4.0),
    ]
    m = spans.layer_metrics(s, ["driver", "incremental", "io"], nproc=2)
    assert m["incremental.s"] == 6
    assert m["incremental.self_s"] == 6
    assert m["incremental.cpu_util"] == 0.5
    assert m["driver.self_s"] == 4
    assert m["io.s"] == 0 and m["io.cpu_util"] == 0.0


def test_summary_reports_median_and_quartiles():
    x = spans.summary([1.0, 2.0, 3.0, 4.0, 100.0])
    assert x["median"] == 3.0 and x["n"] == 5
    assert x["q1"] <= x["median"] <= x["q3"]
    assert spans.summary([2.5]) == dict(median=2.5, q1=2.5, q3=2.5, n=1)


# ------------------------------------------------------------ names

def test_metric_names_use_allowed_characters():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    for name in names:
        assert spans.NAME_RE.match(name), name
    assert not spans.NAME_RE.match("bad name")
    assert not spans.NAME_RE.match(".leading_dot")


def test_benchmark_json_matches_reported_metrics():
    b = _bench_json()
    assert [m["name"] for m in b["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in b["workloads"]] == list(gen.WORKLOADS)
    for m in b["end_to_end"] + b["per_layer"] + b["workloads"]:
        assert spans.NAME_RE.match(m["name"]), m["name"]


# ------------------------------------------------------------ chain

def test_vendored_chain_links_only_neighbours():
    from welldedup.fixtures import py_jaccard
    from welldedup.config import DedupConfig

    docs = [r["content"] for r in gen.vendored_chain(7)]
    assert len(docs) == gen.CHAIN_DOCS
    assert docs == [r["content"] for r in gen.vendored_chain(7)]

    def shares_slice(a, b, n=256):
        return any(a[k : k + n] in b for k in range(0, len(a) - n, n))

    for i in range(len(docs) - 1):
        assert shares_slice(docs[i], docs[i + 1])
    for i in range(len(docs) - 2):
        for j in range(i + 2, len(docs)):
            assert not shares_slice(docs[i], docs[j])
            assert py_jaccard(docs[i], docs[j], DedupConfig()) < 0.5


# ------------------------------------------------------------ meter

def test_meter_removes_steal_and_adds_up_blocks(monkeypatch):
    clock = {"cpu": 0.0, "steal": 0.0}
    monkeypatch.setattr(spans, "tree_cpu_s", lambda: clock["cpu"])
    monkeypatch.setattr(spans, "machine_steal_s", lambda: clock["steal"])
    m = spans.Meter()
    for cpu, steal in ((3.0, 1.0), (3.0, 0.0)):
        with m:
            clock["cpu"] += cpu
            clock["steal"] += steal
    assert (m.cpu, m.steal) == (6.0, 1.0)
    assert m.share == 6.0 / 7.0
    assert spans.Meter().share == 1.0
