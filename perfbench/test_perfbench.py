"""Self-tests for the benchmark code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import datagen, ops, report, workloads
from perfbench.trace import (Span, Tracer, covered, median, parse_metric,
                             percentile)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- seeds --------------------------------------------------------------------

def _requests(seed, n=60):
    return list(itertools.islice(workloads.interactive_requests(seed), n))


def _passes(seed, n=3):
    return list(itertools.islice(workloads.pipeline_passes(seed), n))


def test_same_seed_same_sequences():
    assert _requests(5) == _requests(5)
    assert _passes(5) == _passes(5)
    assert (workloads.ingest_doc_batches(5, 3, 40)
            == workloads.ingest_doc_batches(5, 3, 40))
    a, b = datagen.make_tables(5, 0.001), datagen.make_tables(5, 0.001)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)


def test_other_seed_other_sequences():
    assert _requests(5) != _requests(6)
    assert _passes(5) != _passes(6)
    assert (workloads.ingest_doc_batches(5, 3, 40)
            != workloads.ingest_doc_batches(6, 3, 40))
    a, b = datagen.make_tables(5, 0.001), datagen.make_tables(6, 0.001)
    assert not a["orders"].equals(b["orders"])


def test_request_mix_is_fixed_per_block():
    for seed in (1, 2, 3):
        reqs = _requests(seed, workloads.BLOCK * 4)
        for i in range(4):
            block = reqs[i * workloads.BLOCK:(i + 1) * workloads.BLOCK]
            kinds = [k for k, _ in block]
            assert {k: kinds.count(k) for k in set(kinds)} == \
                workloads.BLOCK_MIX


def test_every_prefix_of_a_block_keeps_the_mix():
    reqs = _requests(7, workloads.BLOCK)
    for n in range(1, workloads.BLOCK + 1):
        kinds = [k for k, _ in reqs[:n]]
        for kind, per_block in workloads.BLOCK_MIX.items():
            assert abs(kinds.count(kind)
                       - n * per_block / workloads.BLOCK) < 1


def test_every_query_runs_once_per_block():
    reqs = _requests(4, workloads.BLOCK * 2)
    for i in range(2):
        keys = [k for kind, k in reqs[i * workloads.BLOCK:
                                      (i + 1) * workloads.BLOCK]
                if kind in ("schema", "sql")]
        assert sorted(keys) == sorted(workloads.SCHEMA_POOL
                                      + workloads.SQL_POOL)


def test_latency_samples_keep_complete_cycles_only():
    recs = [{"ms": 1.0, "cycle": 0}, {"ms": 2.0, "cycle": 0},
            {"ms": 3.0, "cycle": 1}, {"ms": 4.0, "cycle": 1},
            {"ms": 99.0, "cycle": 2}]
    assert report.latency_samples(recs) == [1.0, 2.0, 3.0, 4.0]


def test_cycle_rate_spans_complete_cycles_only():
    recs = [{"cycle": 0, "t0": 0.0, "t1": 1.0},
            {"cycle": 0, "t0": 1.0, "t1": 2.0},
            {"cycle": 1, "t0": 2.0, "t1": 2.5},
            {"cycle": 1, "t0": 2.5, "t1": 4.0},
            {"cycle": 2, "t0": 4.0, "t1": 9.0}]
    assert report.cycle_rate(recs) == pytest.approx(4 / 4.0)


def test_requests_repeat_within_a_session():
    keys = [k for _, k in _requests(1, 100)]
    assert len(set(keys)) < len(keys)


def test_every_pass_runs_every_operator_once():
    for p in _passes(9, 4):
        assert sorted(p) == sorted(workloads.PIPELINE_OPS)


def test_doc_batches_ids_rise_and_resubmit():
    batches = workloads.ingest_doc_batches(3, 4, 50)
    ids = [i for b in batches for i, _ in b]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    first = {t for _, t in batches[0]}
    later = [t for _, t in batches[1]]
    assert any(t in first for t in later)  # exact re-submissions


# -- arithmetic ---------------------------------------------------------------

def test_percentile_interpolates_like_numpy():
    xs = [10, 1, 4, 7]  # sorted: 1 4 7 10
    assert percentile(xs, 50) == pytest.approx(5.5)
    assert percentile(xs, 0) == 1 and percentile(xs, 100) == 10
    assert percentile(range(1, 11), 90) == pytest.approx(9.1)
    assert median([3.0]) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_unions_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(6)
    assert covered((0, 10), [(-5, 20)]) == pytest.approx(10)


def test_self_time_subtracts_children_once():
    tr = Tracer(spans=[
        Span(0, "outer", 0.0, 10.0, None, 0),
        Span(1, "other", 20.0, 21.0, None, 1),
        Span(2, "a", 1.0, 4.0, 0, 0),
        Span(3, "b", 3.0, 6.0, 0, 0),   # overlaps a: union is 1..6
        Span(4, "c", 3.5, 3.8, 2, 0),
    ])
    st = tr.self_times()
    assert st[0] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.7)
    assert st[1] == pytest.approx(1.0)
    assert tr.innermost(3.6).name == "c"
    assert [s.name for s in tr.ancestors(tr.spans[4])] == ["c", "a", "outer"]


def test_spans_nest_under_the_open_span():
    tr = Tracer(active=True)
    with tr.span("request") as outer:
        with tr.span("collect") as inner:
            pass
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_inactive_tracer_records_nothing():
    tr = Tracer()
    wrapped = tr.wrap(lambda x: x + 1, "f")
    with tr.span("x"):
        assert wrapped(1) == 2
    assert tr.spans == []


def test_parse_metric_units():
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "6.1 s (1.5 s, 1.5 s, 1.5 s (stage 3.0: task 5))"
                        ) == pytest.approx(6100.0)
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("total (min, med, max)\n127.7 KiB (1 KiB)") == \
        pytest.approx(127.7 * 1024)
    assert parse_metric("1,024") == 1024.0


def test_family_pass_seconds_uses_complete_passes():
    recs = []
    for p in range(3):
        for op, fam in workloads.PIPELINE_OPS.items():
            recs.append({"ms": 1000.0 * (p + 1), "family": fam, "cycle": p})
    recs.append({"ms": 99999.0, "family": "dedup", "cycle": 3})
    got = report.family_pass_seconds(recs)
    for fam, ops_ in workloads.PIPELINE_FAMILIES.items():
        # median pass (the second, 2 s per operator), cut-off pass ignored
        assert got[f"functions.{fam}_s"] == pytest.approx(2.0 * len(ops_))


# -- failures are counted -----------------------------------------------------

class _Args:
    workload, seed, seconds, trace = "interactive", 1, 1.0, 0


def _rec(ms, ok):
    return {"kind": "sql", "key": "k", "ms": ms, "ok": ok, "traced": False,
            "cycle": 0, "t0": 0.0, "t1": 1.0}


def test_wrong_result_counts_as_failed(capsys):
    out = report.summarize(_Args(), [_rec(5.0, True), _rec(7.0, False)],
                           1.0, 2.0, 100.0, (0.1, 0.2),
                           Tracer(), ROOT)
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (2, 1)
    assert out["metrics"]["ok_frac"]["value"] == pytest.approx(0.5)
    assert out["metrics"]["setup_s"]["value"] == pytest.approx(2.0)
    assert set(out["metrics"]) == set(report.E2E_UNITS)


def test_repeat_with_other_rows_disagrees():
    res = ops._Results()
    assert res.agree("q", [(1, 2.0)])
    assert res.agree("q", [(1, 2.0000000001)])  # within 9 places
    assert not res.agree("q", [(1, 2.5)])


def test_oracle_check_flags_a_wrong_answer(tmp_path):
    wl = ops.Interactive(1, Tracer())
    wl.data = datagen.write_tables(str(tmp_path / "d"), 1, 0.001)
    sql = workloads.chat_keys(1)[0]
    con = ops.duck_views(wl.data)
    right = ops.canonical(con.execute(sql).fetchall())
    wrong = ops.canonical([(r[0], -1) for r in con.execute(sql).fetchall()])
    wl.results.first = {sql: right, "q08_sql_filter_agg": wrong}
    assert wl.check() == {"q08_sql_filter_agg"}


def test_benchmark_json_lists_what_the_report_prints():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = report.layer_names()
    assert len(names) == len(set(names))
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        [(n, report._unit(n)) for n in names]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == \
        report.E2E_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(ops.WORKLOADS)


# -- the command --------------------------------------------------------------

def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "interactive",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
