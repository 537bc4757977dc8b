"""Self-tests of the benchmark harness. All but the last run without a
Spark session:

    python3 -m pytest perfbench/tests -q            # fast tests
    python3 -m pytest perfbench/tests -q -m slow    # two short real runs
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import types

import numpy as np
import pytest

import gen
import layers
import measure
import run
from oracle import Oracle, compare, trigram_topn_sql
from polars_sim_spark.queries import ORACLES
from workloads import WORKLOADS, NameJoin

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- generators --------------------------------------------------------------


def _all_inputs(seed: int) -> list:
    rng = np.random.default_rng(seed)
    ref = gen.person_names(rng, 500)
    return [
        ref,
        gen.name_batch(rng, 200, ref),
        gen.documents(rng, 50).to_pylist(),
        gen.name_table(np.arange(200), ref[:200], "r_id", "rpay", rng).to_pylist(),
    ]


def test_generators_are_deterministic_per_seed():
    assert _all_inputs(7) == _all_inputs(7)


def test_generators_differ_across_seeds():
    a, b = _all_inputs(7), _all_inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_typo_is_one_edit_and_keys_repeat():
    rng = np.random.default_rng(3)
    ref = gen.person_names(rng, 5000)
    for s in ref[:300]:
        t = gen.typo(rng, s)
        assert abs(len(t) - len(s)) <= 1
        if len(t) == len(s):
            assert sum(a != b for a, b in zip(s, t)) <= 1
    assert gen.duplicate_share(ref) > 0.2


@pytest.mark.parametrize("seed", range(10))
def test_no_seed_collapses_distinct_names_to_one_trigram_set(seed):
    rng = np.random.default_rng(seed)
    ref = gen.person_names(rng, 10_000)
    assert gen.collapse_share(ref) == 0
    assert gen.collapse_share(gen.name_batch(rng, 1_000, ref)) == 0


# -- statistics --------------------------------------------------------------


@pytest.mark.parametrize("n", [20, 57, 100, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = [float(v) for v in np.random.default_rng(n).permutation(n)]
    t = measure.tail(values)
    assert t["beyond"] >= 10 and t["n"] == n
    assert sum(v > t["value"] for v in values) == t["beyond"]
    nxt = t["percentile"] + 1
    if nxt <= 99:  # the next percentile up leaves fewer than ten beyond
        assert n - -(-nxt * n // 100) < 10


@pytest.mark.parametrize("n", [1, 10, 19])
def test_tail_needs_ten_beyond_the_median(n):
    assert measure.tail([1.0] * n) is None


def test_quartiles_match_statistics():
    v = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0]
    q1, med, q3 = measure.quartiles(v)
    assert (q1, q3) == (statistics.quantiles(v, n=4)[0], statistics.quantiles(v, n=4)[2])
    assert med == statistics.median(v)


_GC_LOG = """[0.010s][info][gc] Using G1
[1.961s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 113M->29M(2048M) 6.116ms
[2.090s][info][gc] GC(1) Pause Remark 30M->30M(2048M) 4.696ms
[21.101s][info][gc] GC(9) Pause Young (Normal) (G1 Evacuation Pause) 1975M->423M(2048M) 10.1ms
[24.602s][info][gc] GC(10) Pause Young (Concurrent Start) (G1 Evacuation Pause) 1837M->515M(2048M) 9.0ms
[27.339s][info][gc] GC(11) Pause Full (System.gc()) 1G->300M(2G) 9.0ms
"""


def test_gc_log_heap_counts_collections_in_the_window(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(_GC_LOG)
    heap = measure.gc_log_heap_mb(str(log), 20.0, 30.0)
    assert heap == {"committed": 2048.0, "live_median": 423.0, "live_max": 515.0, "collections": 3}
    # no collection in the window: the last one before it stands for it
    assert measure.gc_log_heap_mb(str(log), 2.0, 20.0)["live_median"] == 29.0
    # none at all: the whole committed heap counts
    assert measure.gc_log_heap_mb(str(log), 0.0, 1.0)["live_median"] == 2048.0


# -- output check ------------------------------------------------------------


def _namejoin_without_spark(tmp_path) -> NameJoin:
    ctx = types.SimpleNamespace(spark=None, tracer=None, seed=5, data_dir=str(tmp_path))
    wl = NameJoin(ctx)
    rng = np.random.default_rng(5)
    wl.paths = wl._write_inputs(rng, 60, 300, "nj")
    wl.expected = None
    return wl


def _oracle_output(wl: NameJoin) -> tuple[list[str], list[tuple]]:
    o = Oracle({"l": wl.paths[0], "r": wl.paths[1]})
    try:
        return o.rows(
            f"""SELECT m.l_id, m.r_id, l.name, l.lpay, r.name AS name_right, r.rpay, m.sim
FROM ({trigram_topn_sql('l', 'r', 10)}) m
JOIN l USING (l_id) JOIN r USING (r_id)"""
        )
    finally:
        o.close()


def test_output_check_fails_on_corrupted_row_and_counts_it(tmp_path):
    wl = _namejoin_without_spark(tmp_path)
    cols, rows = _oracle_output(wl)
    assert rows, "the fixture must produce matches"
    si = cols.index("sim")
    bad = list(rows)
    bad[0] = bad[0][:si] + (bad[0][si] + 1e-3,) + bad[0][si + 1:]
    wl.pending = [("good", lambda: wl._check(cols, rows)), ("bad", lambda: wl._check(cols, bad))]
    errors = wl.check()
    assert len(errors) == 1 and errors[0].startswith("bad: value mismatch")
    # run.main reports failed / attempted from exactly this list
    assert len(errors) / len(wl.pending) == 0.5


def test_output_check_catches_a_dropped_row(tmp_path):
    wl = _namejoin_without_spark(tmp_path)
    cols, rows = _oracle_output(wl)
    assert "rowcount" in wl._check(cols, rows[1:])


def test_media_oracle_check_fails_on_corrupted_value(tmp_path):
    gen.write(gen.documents(np.random.default_rng(2), 12), str(tmp_path), "documents")
    o = Oracle({"documents": str(tmp_path / "documents.parquet")})
    try:
        cols, rows = o.rows(ORACLES["multimodal_png_pixel_stats"])
    finally:
        o.close()
    assert compare(cols, rows, cols, rows) is None
    i = cols.index("sum_r")
    bad = [rows[0][:i] + (rows[0][i] + 1,) + rows[0][i + 1:]] + rows[1:]
    assert "value mismatch" in compare(cols, bad, cols, rows)


# -- metric names ------------------------------------------------------------


def test_end_to_end_names_match_benchmark_json():
    names = {m["name"] for m in _spec()["end_to_end"]}
    assert set(run.end_to_end([1.0, 2.0], 3.0, 100.0)) == names


def test_per_layer_names_match_benchmark_json():
    assert [m["name"] for m in _spec()["per_layer"]] == layers.NAMES


def test_benchmark_json_names_the_workloads():
    assert {w["name"] for w in _spec()["workloads"]} == set(WORKLOADS)


def test_per_layer_from_synthetic_spans():
    tracer = measure.Tracer(types.SimpleNamespace(sparkContext=_FakeSc()))
    tracer.enabled = True
    with tracer.span("operators.join_sim.join", 0):
        with tracer.span("operators.join_sim.build", 0):
            pass
        with tracer.span("operators.join_sim.action", 0):
            pass
    spans = {s.name: s for s in tracer.spans}
    groups = {
        spans["operators.join_sim.build"].sid: {"jobs": 3, "task_s": 0.5},
        spans["operators.join_sim.action"].sid: {"jobs": 2, "task_s": 1.5},
    }
    wl = types.SimpleNamespace(TIMED_SPANS={"operators.join_sim.join"})
    out = layers.per_layer(wl, tracer, [], groups, 4, 1.0, 2.0, 0.0)
    assert list(out) == layers.NAMES
    assert out["operators.join_sim.build_jobs"]["value"] == 3
    assert out["spark.jobs"]["value"] == 5  # children roll up into the unit
    root = spans["operators.join_sim.join"]
    assert tracer.self_time(root) <= root.dur


class _FakeSc:
    def setJobGroup(self, *a, **k):
        pass

    def setLocalProperty(self, *a):
        pass


# -- a real run in both modes --------------------------------------------------


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_and_untraced_runs_emit_same_end_to_end_names(workload):
    records = []
    for trace in (0, 1):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        record, last = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        assert last["correct"] and last["failed"] == 0
        records.append(record)
    assert set(records[0]["end_to_end"]) == set(records[1]["end_to_end"])
    assert set(records[1]["per_layer"]) == set(layers.NAMES)

