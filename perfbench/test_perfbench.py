"""Tests of the benchmark's own code: statistics, output checks, seeded
generators, the event-log reader and spans. No Spark session is started.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import checks
import eventlog
import gen
import harness
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------------ statistics


def test_median_of_even_count_is_mean_of_middle_pair():
    # attempt ratios of a 4-attempt scaling record: the upper median
    # (sorted[len // 2]) reads 0.822; the true median is 0.751
    ratios = [0.677, 0.68, 0.822, 0.875]
    assert sorted(ratios)[len(ratios) // 2] == 0.822
    assert stats.median(ratios) == pytest.approx(0.751)


def test_quartiles_follow_statistics_quantiles():
    assert stats.quartiles(range(10)) == (1.75, 4.5, 7.25)
    assert stats.quartiles([3.0]) == (3.0, 3.0, 3.0)


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, (50, 9.0)), (99, (50, 49.0)), (100, (90, 89.0)),
     (1000, (99, 989.0)), (10000, (99.9, 9989.0))],
)
def test_tail_percentile_keeps_ten_samples_beyond_it(n, expected):
    assert stats.tail_percentile([float(i) for i in range(n)]) == expected


# ------------------------------------------------------------------ checks


def test_flagship_check_rejects_each_perturbation():
    good = dict(checks.FLAGSHIP)
    assert checks.check_flagship(good) == []
    for rule, (n, a2) in checks.FLAGSHIP.items():
        assert checks.check_flagship({**good, rule: (n + 1, a2)})
        assert checks.check_flagship({**good, rule: (n, a2 - 2)})
        assert checks.check_flagship({k: v for k, v in good.items() if k != rule})


def test_spatial_check_rejects_each_perturbation():
    good = dict(checks.SPATIAL)
    assert checks.check_spatial(good) == []
    for q, (rows, total) in checks.SPATIAL.items():
        assert checks.check_spatial({**good, q: (rows - 1, total)})
        assert checks.check_spatial({**good, q: (rows, total + 1)})
        assert checks.check_spatial({k: v for k, v in good.items() if k != q})


def test_lines_net_check_is_the_closed_form():
    n = gen.LINES_NET_N
    assert checks.lines_net_expected() == (n * n, 2 * n * n * 100)
    assert checks.check_lines_net(n * n, 2 * n * n * 100) == []
    assert checks.check_lines_net(n * n - 1, 2 * n * n * 100)
    assert checks.check_lines_net(n * n, 2 * n * n * 100 - 200)


def test_spiral_check_rejects_each_perturbation():
    shapes, rings, area2 = checks.SPIRAL
    assert checks.check_spiral((shapes, rings, area2)) == []
    assert checks.check_spiral((shapes + 1, rings, area2))
    assert checks.check_spiral((shapes, rings + 1, area2))
    assert checks.check_spiral((shapes, rings, area2 + 1))


def test_ring_area2_and_spiral_summary_on_a_square():
    class Identity:
        @staticmethod
        def quantize(p):
            return np.asarray(p, dtype=np.int64)

    sq = np.array([[0, 0], [4, 0], [4, 3], [0, 3]])
    assert checks.ring_area2(sq) == 24
    assert checks.ring_area2(sq[::-1]) == -24
    assert checks.spiral_summary([[sq], [sq[::-1]]], Identity) == (2, 2, 0)


# ------------------------------------------------------------------ generators


def test_line_ids_do_not_depend_on_the_seed():
    a, b = gen.line_ids(), gen.line_ids()
    assert np.array_equal(a, b)
    assert len(np.unique(a)) == len(a)
    assert 450_000 < len(a) < 460_000


def test_presentation_changes_only_order_and_partitions():
    p1, part1 = gen.presentation(1, 1000, 16)
    p2, part2 = gen.presentation(2, 1000, 16)
    assert not np.array_equal(p1, p2)
    assert sorted(p1) == sorted(p2) == list(range(1000))
    assert part1.max() < 16 and part2.max() < 16


def _untranslated_rings(rows):
    """Multiset of (role, ring) with the whole net moved back to its
    original lower-left corner."""
    min_x = min(min(r[2]) for r in rows)
    min_y = min(min(r[3]) for r in rows)
    return sorted(
        (role, tuple((x - min_x, y - min_y) for x, y in zip(xs, ys)))
        for role, _cid, xs, ys in rows
    )


def test_lines_net_seeds_differ_only_by_order_and_whole_cells():
    a, b = gen.lines_net_rows(1, 16), gen.lines_net_rows(2, 16)
    assert [r[1] for r in a] != [r[1] for r in b]
    assert _untranslated_rings(a) == _untranslated_rings(b)
    for seed in (1, 2, 3):
        dx, dy = gen.cell_offset(seed)
        assert dx % gen.TOP_CELL == 0 and dy % gen.TOP_CELL == 0
        assert max(dx, dy) + gen.LINES_NET_A * gen.LINES_NET_N < 2**30


def test_spiral_seed_only_rotates_the_ring():
    a, b = gen.spiral_path(1, 500), gen.spiral_path(2, 500)
    assert not np.array_equal(a, b)
    k = int(np.flatnonzero((b == a[0]).all(axis=1))[0])
    assert np.array_equal(np.roll(b, -k, axis=0), a)


# ------------------------------------------------------------------ tracing


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_event_log_keys_stages_per_application(tmp_path):
    def app(desc, run_ms):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
             "Properties": {"spark.job.description": desc},
             "Stage Infos": [{"Stage ID": 0, "Stage Name": "s"}]},
            {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
             "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms},
             "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 5,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
            {"Event": "SparkListenerBlockUpdated",
             "Block Updated Info": {"Block ID": "rdd_3_0", "Memory Size": 11, "Disk Size": 0}},
            {"Event": "SparkListenerStageCompleted",
             "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1500,
                            "Accumulables": [{"Name": "scan time", "Value": "40"}]}},
            {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        ]

    _write_log(tmp_path / "app-a", app("merge+ckpt", 300))
    _write_log(tmp_path / "app-b", app("extract:count", 200))
    log = eventlog.read(str(tmp_path))
    assert [j.desc for j in log.jobs] == ["merge+ckpt", "extract:count"]
    assert [j.wall_s for j in log.jobs] == [0.6, 0.6]
    assert {j.stages[0] for j in log.jobs} == {(0, 0), (1, 0)}
    assert log.stages[(1, 0)].sum("run_ms") == 200
    assert log.stages[(0, 0)].accum["scan time"] == 40
    assert log.rdd_blocks == [((0, 0), 11), ((1, 0), 11)]
    assert len(log.jobs_between(900, 1100)) == 2


def test_span_self_time_excludes_children():
    tr = harness.Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.with_self_times()
    assert inner["parent"] == outer["id"]
    assert outer["self_s"] == pytest.approx(outer["dur_s"] - inner["dur_s"])
    off = harness.Tracer("t", enabled=False)
    with off.span("x") as rec:
        assert rec is None
    assert off.spans == []


# ------------------------------------------------------------------ contract


def test_benchmark_json_matches_the_metrics_run_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
