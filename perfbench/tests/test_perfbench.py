"""Self-tests of the benchmark: input determinism, the tail rule, the
output contract, toy-scale smoke runs of each workload, and a seeded wrong
answer that must surface in ``failed``.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(the smoke runs start Spark and take a few minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import dashboard  # noqa: E402
import measure  # noqa: E402
import tpchgen  # noqa: E402
import yelpgen  # noqa: E402
from analytics import Analytics, _Collected  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_yelp_generator_is_deterministic(tmp_path):
    for run in ("a", "b"):
        yelpgen.write(yelpgen.generate(7, 0.01, 3, 50), str(tmp_path / run / "raw"),
                      str(tmp_path / run / "ev"), 50)
    yelpgen.write(yelpgen.generate(8, 0.01, 3, 50), str(tmp_path / "c" / "raw"),
                  str(tmp_path / "c" / "ev"), 50)
    for sub in ("raw", "ev"):
        assert _same_tree(str(tmp_path / "a" / sub), str(tmp_path / "b" / sub))
    assert not _same_tree(str(tmp_path / "a" / "raw"), str(tmp_path / "c" / "raw"))


def test_yelp_generator_covers_the_fixture_families():
    data = yelpgen.generate(3, 0.02, 4, 100)
    known = {b["business_id"] for b in data.business}
    assert any(r["business_id"] not in known for r in data.review)  # dangling FK
    assert len({r["review_id"] for r in data.review}) < len(data.review)  # duplicate PK
    assert {type(c["date"]) for c in data.checkin} == {str, dict}  # both encodings
    kids = {repr(b["attributes"].get("GoodForKids")) for b in data.business if b["attributes"]}
    assert {"True", "'True'"} <= kids
    cities = [b["city"] for b in {b["business_id"]: b for b in data.business}.values()]
    assert min(cities.count(c) for c in set(cities)) > 5
    topics = {e["topic"] for e in data.events}
    assert topics == {"yelp-reviews", "yelp-checkins", "yelp-businesses", "yelp-users"}
    ids = [e["review_id"] for e in data.events if e["topic"] == "yelp-reviews"]
    assert len(set(ids)) < len(ids) or set(ids) & {r["review_id"] for r in data.review}


def test_table_generator_is_deterministic(tmp_path):
    tpchgen.write(5, 0.001, str(tmp_path / "a"))
    tpchgen.write(5, 0.001, str(tmp_path / "b"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert len(os.listdir(tmp_path / "a")) == 10


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    pct, value, n = measure.tail(xs)
    assert (pct, value, n) == (90.0, 90, 100)
    assert sum(x > value for x in xs) == 10
    assert measure.tail(list(range(11)))[1] == 0
    assert measure.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 3)


def test_benchmark_json_matches_the_program():
    import run

    assert [m["name"] for m in SPEC["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in SPEC["workloads"]] == ["dashboard", "analytics", "ingest"]


def test_seeded_wrong_dashboard_answer_counts_as_failed(tmp_path, monkeypatch):
    wl = dashboard.Dashboard(str(tmp_path), 4, "toy")
    wl.generate()
    for key, (method, kwargs) in wl.requests.items():
        want = dashboard.expected(wl.data, method, kwargs)
        if method == "overview_stats":
            want = dict(want, review_count=want["review_count"] + 1)  # wrong answer
        wl.results[key] = [json.dumps(want)] if want is not None else []
        wl.attempted += 1
    # the projection of a checked answer is the answer itself here
    monkeypatch.setattr(dashboard, "project", lambda method, out: out)
    wl.check()
    assert wl.failed == 1 and wl.failed / wl.attempted > 0


def test_seeded_wrong_analytics_answer_counts_as_failed(tmp_path, monkeypatch):
    from yelpdatawarehouse_spark.queries import all_queries

    import analytics
    from tests.parity import oracle_canon

    monkeypatch.setattr(analytics, "CACHE", str(tmp_path))
    wl = Analytics(str(tmp_path), 1, "toy")
    wl.generate()
    wl.registry = all_queries()
    name = "q1_pricing_summary"
    cols, canon = oracle_canon(wl.registry[name].oracle, wl.sf_dir)
    rows = [tuple(v[1] if v[0] != "~none" else None for v in r) for r in canon]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    right = _Collected([cols[i] for i in order], rows)
    wrong = _Collected(right.columns, rows[:-1])
    wl.results = {name: [right, wrong]}
    wl.attempted = 2
    wl.check()
    assert wl.failed == 1


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "toy"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["dashboard", "analytics", "ingest"])
def test_toy_smoke_run(workload):
    p = _run(workload, trace=0)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(out) == ["attempted", "correct", "failed", "metrics"]
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_toy_traced_run_reports_every_layer_metric():
    p = _run("ingest", trace=1)
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["streaming.batches"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".cache", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("dashboard", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0 and "{" not in p.stdout
