"""Differential tests: batched tile kernel (kernel/batch.py) vs the scalar per-pair
kernel — results must be BIT-IDENTICAL (the batch is an execution strategy, not an
approximation), across random stars (crossings + snap rounding), holes, degenerate
inputs, all 7 rules, both common fill rules, and the reference's executed golden
fixtures run as one batch per fill-rule group."""

import math
import random

import numpy as np
import pytest

from ioverlay_spark.kernel.batch import overlay_batch
from ioverlay_spark.kernel.overlay import build_graph
from ioverlay_spark.kernel.fixtures import load_fixture, shapes_match_any
from ioverlay_spark.options import ALL_RULES, FillRule, OverlayOptions

RULES = list(ALL_RULES)


def rect(x, y, w, h):
    return np.array([[x, y], [x + w, y], [x + w, y + h], [x, y + h]], dtype=np.int64)


def star(cx, cy, r1, r2, n, rot=0.0):
    pts = []
    for k in range(2 * n):
        r = r1 if k % 2 == 0 else r2
        a = rot + math.pi * k / n
        pts.append([int(cx + r * math.cos(a)), int(cy + r * math.sin(a))])
    return np.array(pts, dtype=np.int64)


def assert_batch_equals_scalar(jobs, fill_rule):
    batch = overlay_batch(jobs, RULES, fill_rule)
    for k, ((subj, clip), b) in enumerate(zip(jobs, batch)):
        g = build_graph(subj, clip, fill_rule)
        for rule in RULES:
            sl = [[r.tolist() for r in s] for s in g.extract(rule)]
            bl = [[r.tolist() for r in s] for s in b[rule]]
            assert sl == bl, f"job {k} rule {rule.value}"


@pytest.mark.parametrize("fill_rule", [FillRule.EVEN_ODD, FillRule.NON_ZERO])
def test_batch_random_stars(fill_rule):
    rnd = random.Random(11)
    jobs = []
    for _ in range(120):
        cx, cy = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        subj = [star(cx, cy, rnd.randrange(50, 4000), rnd.randrange(10, 2000), rnd.randrange(3, 9), rnd.random())]
        clip = [
            star(
                cx + rnd.randrange(-500, 500),
                cy + rnd.randrange(-500, 500),
                rnd.randrange(50, 4000),
                rnd.randrange(10, 2000),
                rnd.randrange(3, 9),
                rnd.random(),
            )
        ]
        jobs.append((subj, clip))
    assert_batch_equals_scalar(jobs, fill_rule)


def test_batch_holes_and_degenerates():
    rnd = random.Random(13)
    jobs = []
    for _ in range(40):
        x, y = rnd.randrange(0, 100000), rnd.randrange(0, 100000)
        outer = rect(x, y, 2000, 2000)
        hole = rect(x + 500, y + 500, 800, 800)[::-1].copy()
        jobs.append(([outer, hole], [rect(x + 300, y + 300, 1500, 1500)]))
    jobs += [
        ([], [rect(0, 0, 10, 10)]),
        ([rect(0, 0, 10, 10)], []),
        ([np.array([[0, 0], [5, 0], [10, 0]], dtype=np.int64)], [rect(0, 0, 4, 4)]),
        (
            [np.array([[0, 0], [5, 0], [10, 0], [10, 10], [5, 10], [0, 10]], dtype=np.int64)],
            [rect(2, 2, 4, 4)],
        ),
        ([], []),
        ([rect(0, 0, 100, 100)], [rect(0, 0, 100, 100)]),
    ]
    rnd.shuffle(jobs)
    assert_batch_equals_scalar(jobs, FillRule.EVEN_ODD)


def test_batch_wide_coordinates_scalar_fallback():
    """Coordinates past the batch cap take the per-job scalar kernel, whose
    ring areas exceed int64 at 2^35-sized rings: shapes and exact python-int
    areas must still come back per job."""
    from ioverlay_spark.kernel.extract import ring_area2

    o, s = 1 << 40, 1 << 35
    jobs = [
        ([rect(o, o, s, s)], [rect(o + s // 2, o, s, s)]),
        ([rect(0, 0, 10, 10)], [rect(5, 5, 10, 10)]),
    ]
    assert_batch_equals_scalar(jobs, FillRule.NON_ZERO)
    batch = overlay_batch(jobs, RULES, FillRule.NON_ZERO, with_areas=True)
    for (subj, clip), b in zip(jobs, batch):
        g = build_graph(subj, clip, FillRule.NON_ZERO)
        for rule in RULES:
            shapes, areas = b[rule]
            assert areas == [[ring_area2(r) for r in s] for s in g.extract(rule)]
    assert max(abs(a) for s in batch[0][RULES[0]][1] for a in s) >= 1 << 63


def test_batch_result_independent_of_batch_composition():
    """A job's result must not depend on its batch mates or slot position."""
    jobs = [([rect(i * 7, i * 3, 100 + i, 80 + i)], [rect(i * 7 + 30, i * 3 + 20, 90, 70)]) for i in range(20)]
    full = overlay_batch(jobs, RULES, FillRule.EVEN_ODD)
    rev = overlay_batch(jobs[::-1], RULES, FillRule.EVEN_ODD)[::-1]
    for a, b in zip(full, rev):
        for rule in RULES:
            assert [[r.tolist() for r in s] for s in a[rule]] == [
                [r.tolist() for r in s] for s in b[rule]
            ]


def test_batch_passes_executed_golden_fixtures():
    """All reference-executed fixtures, grouped by fill rule, run as batches."""
    executed = list(range(144)) + [150, 151, 152]
    opts = OverlayOptions.fixture_defaults()
    by_rule: dict = {}
    for i in executed:
        fx = load_fixture(i)
        by_rule.setdefault(fx["fill_rule"], []).append((i, fx))
    for fill_rule, items in by_rule.items():
        jobs = [(fx["subj"], fx["clip"]) for _, fx in items]
        res = overlay_batch(jobs, RULES, fill_rule, opts)
        for (i, fx), r in zip(items, res):
            for rule, variants in fx["expected"].items():
                assert shapes_match_any(r[rule], variants), f"fixture {i} rule {rule.value}"


def star_polygon(cx, cy, r, n, k, rot=0.0):
    """Self-crossing {n/k} star polygon: each vertex joins the k-th next."""
    return np.array(
        [
            [int(cx + r * math.cos(rot + 2 * math.pi * i * k / n)), int(cy + r * math.sin(rot + 2 * math.pi * i * k / n))]
            for i in range(n)
        ],
        dtype=np.int64,
    )


def windmill(cx, cy, r, blades):
    """One ring through its centre once per blade: a node of degree 2*blades."""
    pts = []
    for b in range(blades):
        a = 2 * math.pi * b / blades
        pts += [
            [cx, cy],
            [int(cx + r * math.cos(a)), int(cy + r * math.sin(a))],
            [int(cx + r * math.cos(a + 0.5)), int(cy + r * math.sin(a + 0.5))],
        ]
    return np.array(pts, dtype=np.int64)


def checkerboard(x, y, n, s):
    """The n x n board's even squares: corner-touching (pinch) nodes."""
    return [rect(x + i * s, y + j * s, s, s) for i in range(n) for j in range(n) if (i + j) % 2 == 0]


def rect_pair_jobs(rng):
    jobs = []
    for k in range(250):
        x1, y1 = int(rng.integers(0, 1 << 18)), int(rng.integers(0, 1 << 18))
        w, h = int(rng.integers(64, 2048)), int(rng.integers(64, 2048))
        dx, dy = w // 3, h // 3
        subj = [np.array([[x1, y1], [x1 + w, y1], [x1 + w, y1 + h], [x1, y1 + h]], np.int64)]
        if k % 5 == 0:  # nested: union has a hole
            subj.append(
                np.array(
                    [
                        [x1 + w // 4, y1 + h // 4],
                        [x1 + w // 4, y1 + 3 * h // 4],
                        [x1 + 3 * w // 4, y1 + 3 * h // 4],
                        [x1 + 3 * w // 4, y1 + h // 4],
                    ],
                    np.int64,
                )
            )
        clip = [
            np.array(
                [[x1 + dx, y1 + dy], [x1 + w + dx, y1 + dy], [x1 + w + dx, y1 + h + dy], [x1 + dx, y1 + h + dy]],
                np.int64,
            )
        ]
        jobs.append((subj, clip))
    return jobs


def crossing_jobs(rng, n):
    """Small jobs whose boundaries have nodes of degree > 2: self-crossing
    stars (degree 4-8 with windmills), corner-touching squares and nested
    holes crossed by a clip."""
    jobs = []
    for k in range(n):
        x, y = int(rng.integers(0, 1 << 16)), int(rng.integers(0, 1 << 16))
        r = int(rng.integers(40, 600))
        kind = k % 4
        if kind == 0:
            nv = int(rng.integers(5, 10))
            subj = [star_polygon(x, y, r, nv, int(rng.integers(2, (nv - 1) // 2 + 1)), rng.random())]
            clip = [star_polygon(x + r // 3, y, r, 5, 2, rng.random())]
        elif kind == 1:
            subj = [windmill(x, y, r, int(rng.integers(2, 5)))]
            clip = [star_polygon(x, y + r // 4, r // 2, 7, 3)]
        elif kind == 2:
            subj = checkerboard(x, y, int(rng.integers(2, 5)), r // 4 + 2)
            clip = [rect(x + r // 8, y + r // 6, r // 2, r // 3)]
        else:
            subj = [rect(x, y, 4 * r, 4 * r), rect(x + r, y + r, 2 * r, 2 * r)[::-1].copy()]
            clip = [
                rect(x + 2 * r, y + 2 * r, 3 * r, 3 * r),
                rect(x + 3 * r, y + 3 * r, r // 2 + 1, r // 2 + 1)[::-1].copy(),
            ]
        jobs.append((subj, clip))
    return jobs


def test_fast_extract_bit_identical_to_scalar_walk(monkeypatch):
    """The fast extract (fast_extract=True, the default: vectorized degree-2
    walk plus the exact replay of crossing tiles) must match the scalar walk
    (fast_extract=False) bit-for-bit across all rules, EVEN_ODD and NON_ZERO,
    both output directions: rect pairs with holes, self-crossing stars,
    pinches, nested holes, and one batch mixing a 16x16 checkerboard with
    many small crossing jobs, in which the lockstep replay runs and hands its
    unfinished tiles to the per-tile replay."""
    from ioverlay_spark.kernel import batch as B
    from ioverlay_spark.options import ContourDirection, FillRule

    calls = {"lockstep": 0, "handoff": 0}
    lockstep, per_tile = B._lockstep_walk, B._sim_walk_tiles

    def spy_lockstep(*a):
        calls["lockstep"] += 1
        return lockstep(*a)

    def spy_per_tile(*a):
        calls["handoff"] += calls["lockstep"] > 0
        return per_tile(*a)

    monkeypatch.setattr(B, "_lockstep_walk", spy_lockstep)
    monkeypatch.setattr(B, "_sim_walk_tiles", spy_per_tile)

    rng = np.random.default_rng(23)
    board = (checkerboard(0, 0, 16, 64), [rect(100, 40, 700, 900), star_polygon(500, 500, 400, 7, 3)])
    batches = [
        rect_pair_jobs(rng),
        crossing_jobs(rng, 60),
        [board] + crossing_jobs(rng, 2 * B._LOCKSTEP_MIN_WALKERS),
    ]
    for fill_rule in (FillRule.EVEN_ODD, FillRule.NON_ZERO):
        for direction in ContourDirection:
            options = OverlayOptions(output_direction=direction)
            for jobs in batches:
                slow = overlay_batch(jobs, RULES, fill_rule, options, fast_extract=False)
                fast = overlay_batch(jobs, RULES, fill_rule, options, fast_extract=True)
                for i, (a, b) in enumerate(zip(slow, fast)):
                    for rule in RULES:
                        ka = [[r.tolist() for r in shape] for shape in a[rule]]
                        kb = [[r.tolist() for r in shape] for shape in b[rule]]
                        assert ka == kb, f"job {i} rule {rule} {fill_rule} {direction} diverged"
    assert calls["lockstep"] and calls["handoff"]


def test_crossing_tile_replay_bails_over_cap_rings():
    """With a small max_ring, replayed crossing tiles bail to the scalar path
    (tile_fast False) exactly when one of their rings has more than max_ring
    points; every tile still served fast yields the scalar walk's contours."""
    from ioverlay_spark.kernel import batch as B
    from ioverlay_spark.kernel.extract import boundary_mask, walk_contours
    from ioverlay_spark.options import DEFAULT_OPTIONS, FillRule

    jobs = crossing_jobs(np.random.default_rng(5), 2 * B._LOCKSTEP_MIN_WALKERS)
    fill_rule = FillRule.EVEN_ODD
    segs, fills, starts, off, y0 = B._graph_batch_parts(jobs, fill_rule, DEFAULT_OPTIONS)
    per_job = B.graph_batch(jobs, fill_rule)
    at_cap = over_cap = 0
    for max_ring in (5, 8, 12):
        for rule in RULES:
            tile_fast, rd = B._fast_contours_batch(
                segs, boundary_mask(fills, rule), fills, starts, rule, False, off, y0,
                max_ring=max_ring,
            )
            got: dict = {}
            if rd is not None:
                for i, slot in enumerate(rd["slot"].tolist()):
                    n = int(rd["len"][i])
                    ring = [(int(rd["first_x"][i]), int(rd["first_y"][i]))]
                    ring += zip(rd["buf_x"][i, : n - 1].tolist(), rd["buf_y"][i, : n - 1].tolist())
                    got.setdefault(slot, []).append((ring, bool(rd["hole"][i])))
            for slot, (jsegs, jfills) in enumerate(per_job):
                want = walk_contours(jsegs, jfills, rule, False)
                longest = max((len(ring) for ring, _ in want), default=0)
                assert tile_fast[slot] == (longest <= max_ring), f"job {slot} rule {rule}"
                if tile_fast[slot]:
                    at_cap += longest == max_ring
                    assert got.get(slot, []) == want, f"job {slot} rule {rule}"
                else:
                    over_cap += longest == max_ring + 1
    assert at_cap and over_cap
