"""Distributed huge-overlay pipeline vs the exact single-kernel result
(differential test, SURVEY.md §7 hard-part (c))."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def checkerboard(n: int, cell: int = 16):
    """The reference's headline scenario (performance/rust_app checkerboard): an
    n x n grid of SUBJECT squares XORed with an (n-1) x (n-1) grid of offset
    CLIP squares (performance/rust_app/src/test/test_0_checkerboard.rs)."""
    subj, clip = [], []
    for i in range(n):
        for j in range(n):
            x, y = i * cell * 2, j * cell * 2
            subj.append([(x, y), (x + 2 * cell, y), (x + 2 * cell, y + 2 * cell), (x, y + 2 * cell)])
    for i in range(n - 1):
        for j in range(n - 1):
            x, y = i * cell * 2 + cell, j * cell * 2 + cell
            clip.append([(x, y), (x + 2 * cell, y), (x + 2 * cell, y + 2 * cell), (x, y + 2 * cell)])
    return subj, clip


def rings_to_contours_rows(subj, clip):
    rows = [
        ("subject", i, [p[0] for p in r], [p[1] for p in r]) for i, r in enumerate(subj)
    ]
    rows += [
        ("clip", len(subj) + i, [p[0] for p in r], [p[1] for p in r])
        for i, r in enumerate(clip)
    ]
    return rows


@pytest.fixture(scope="module")
def board(spark):
    subj, clip = checkerboard(6)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    return subj, clip, df


def kernel_reference(subj, clip, rule, fill_rule):
    from ioverlay_spark.kernel import build_graph
    from ioverlay_spark.kernel.extract import ring_area2

    g = build_graph(
        [np.array(r, dtype=np.int64) for r in subj],
        [np.array(r, dtype=np.int64) for r in clip],
        fill_rule,
    )
    shapes = g.extract(rule)
    return sorted(ring_area2(ring) for shape in shapes for ring in shape)


def _kernel_split(subj, clip):
    from ioverlay_spark.kernel import build_segments, sort_and_merge, split_segments
    from ioverlay_spark.kernel.segments import Segments

    segs = Segments.concat(
        [
            build_segments([np.array(r, dtype=np.int64) for r in subj], True),
            build_segments([np.array(r, dtype=np.int64) for r in clip], False),
        ]
    )
    return split_segments(sort_and_merge(segs))


def _kernel_fill_rows(segs, fill_rule, boundary_rule=None):
    """Sorted (ax, ay, bx, by, fill) rows of the scalar fill kernel over
    `segs`, boundary-filtered for `boundary_rule` when given."""
    from ioverlay_spark.kernel import compute_fills
    from ioverlay_spark.kernel.extract import boundary_mask

    kf = compute_fills(segs, fill_rule)
    keep = np.ones(len(kf), dtype=bool)
    if boundary_rule is not None:
        keep = boundary_mask(kf.astype(np.uint8), boundary_rule)
    return sorted(
        zip(
            segs.ax[keep].tolist(), segs.ay[keep].tolist(),
            segs.bx[keep].tolist(), segs.by[keep].tolist(), kf[keep].tolist(),
        )
    )


def test_distributed_split_merge_matches_kernel(spark, board):
    subj, clip, df = board
    from ioverlay_spark.operators.distributed import contours_to_segments_df, split_segments_df

    segs_df = contours_to_segments_df(spark, df)
    out = split_segments_df(segs_df).toPandas()

    ker = _kernel_split(subj, clip)
    got = sorted(map(tuple, out[["ax", "ay", "bx", "by", "subj", "clip"]].to_numpy().tolist()))
    exp = sorted(
        zip(
            ker.ax.tolist(),
            ker.ay.tolist(),
            ker.bx.tolist(),
            ker.by.tolist(),
            ker.subj.tolist(),
            ker.clip.tolist(),
        )
    )
    assert got == exp


def test_distributed_fills_match_kernel(spark, board):
    subj, clip, df = board
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=7).toPandas()

    exp = _kernel_fill_rows(_kernel_split(subj, clip), FillRule.EVEN_ODD)
    got = sorted(map(tuple, fills[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    assert got == exp


def test_distributed_fills_two_level_strips_match_kernel(spark, board):
    """n_strips=64 on a small board: most segments span several strips and
    many strips hold only crossing (non-home) copies; fills must still be
    exact (the strip kernel sees every segment crossing each strip)."""
    subj, clip, df = board
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=64).toPandas()

    exp = _kernel_fill_rows(_kernel_split(subj, clip), FillRule.EVEN_ODD)
    got = sorted(map(tuple, fills[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    assert got == exp


def test_distributed_fills_one_strip_match_kernel(spark, board):
    """n_strips=1 (no strip edges) runs the same packed plan with every
    segment home in strip 0: fills equal the scalar kernel's, and an empty
    segment set gives zero rows."""
    subj, clip, df = board
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    split = split_segments_df(contours_to_segments_df(spark, df)).localCheckpoint()
    ker = _kernel_split(subj, clip)
    cols = ["ax", "ay", "bx", "by", "fill"]
    for fr, br in ((FillRule.EVEN_ODD, None), (FillRule.NON_ZERO, OverlayRule.XOR)):
        pdf = compute_fills_df(split, fr, n_strips=1, boundary_rule=br).toPandas()
        got = sorted(map(tuple, pdf[cols].to_numpy().tolist()))
        assert got == _kernel_fill_rows(ker, fr, br) and len(got) > 0

    empty = spark.createDataFrame(
        [], "ax long, ay long, bx long, by long, subj long, clip long"
    )
    for n_strips in (1, None):
        assert compute_fills_df(empty, FillRule.EVEN_ODD, n_strips=n_strips).count() == 0


def test_packed_fill_matches_legacy_explode(spark, board):
    """The packed blob shuffle must produce the scalar kernel's fill multiset
    — with and without a boundary_rule push-down, and on a wide-coordinate
    input that defeats the pack stage's per-partition int32 narrowing."""
    from ioverlay_spark.kernel.segments import Segments
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    subj, clip, df = board
    split = split_segments_df(contours_to_segments_df(spark, df)).localCheckpoint()
    ker = _kernel_split(subj, clip)
    cols = ["ax", "ay", "bx", "by", "fill"]

    for br in (None, OverlayRule.UNION):
        pdf = compute_fills_df(split, FillRule.EVEN_ODD, n_strips=5, boundary_rule=br).toPandas()
        got = sorted(map(tuple, pdf[cols].to_numpy().tolist()))
        assert got == _kernel_fill_rows(ker, FillRule.EVEN_ODD, br) and len(got) > 0

    # wide coordinates (beyond int32) keep 8-byte words through the pack stage
    rows = [
        (0, 0, 2**40, 2**40, 1, 0),
        (0, 2**40, 2**40, 0, 1, 0),
        (0, 0, 2**40, 0, 1, 0),
    ]
    wide = spark.createDataFrame(rows, ["ax", "ay", "bx", "by", "subj", "clip"])
    got = compute_fills_df(wide, FillRule.EVEN_ODD, n_strips=2).toPandas()
    wide_segs = Segments(*(np.array(c, dtype=np.int64) for c in zip(*rows)))
    assert sorted(map(tuple, got[cols].to_numpy().tolist())) == _kernel_fill_rows(
        wide_segs, FillRule.EVEN_ODD
    )
    assert got["bx"].max() == 2**40


def test_distributed_fills_match_kernel_long_chords(spark):
    """Regression: the strip fill must NOT use the sweep path (sweep windings
    propagate at insertion x, which needs the FULL set — a strip group only
    holds segments crossing the strip). Long dense chords are exactly the
    inputs whose est/n would trigger the sweep dispatch; seen as a wrong ring
    count on the distributed spiral audit."""
    import math

    import numpy as np

    from ioverlay_spark.kernel import compute_fills
    from ioverlay_spark.options import FillRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    # zigzag spiral band (the reference test_3_spiral geometry, small n)
    a_path, b_path = [], []
    a, r, radius = 0.0, 100.0, 100.0
    w = 0.1 * radius
    p0 = np.array([0.0, 0.0])
    for i in range(2048):
        sx, sy = math.cos(a), math.sin(a)
        rr = r + 0.2 * radius if i % 2 == 0 else r - 0.2 * radius
        p = np.array([rr * sx, rr * sy])
        d = p - p0
        nrm = d / math.hypot(d[0], d[1])
        t = np.array([w * -nrm[1], w * nrm[0]])
        a_path += [p0 + t, p + t]
        b_path += [p0 - t, p - t]
        a += radius / r
        r = radius * (1.0 + a / (2.0 * math.pi))
        p0 = p
    ring = np.round(np.array(a_path + b_path[::-1]) * 500).astype(np.int64)
    df = spark.createDataFrame(
        [("subject", 0, ring[:, 0].tolist(), ring[:, 1].tolist())],
        ["role", "cid", "pts_x", "pts_y"],
    )
    split = split_segments_df(contours_to_segments_df(spark, df))
    fills = compute_fills_df(split, FillRule.NON_ZERO, n_strips=5).toPandas()
    pdf = split.toPandas()
    from ioverlay_spark.kernel.segments import Segments

    ker = Segments(
        pdf["ax"].to_numpy(np.int64),
        pdf["ay"].to_numpy(np.int64),
        pdf["bx"].to_numpy(np.int64),
        pdf["by"].to_numpy(np.int64),
        pdf["subj"].to_numpy(np.int64),
        pdf["clip"].to_numpy(np.int64),
    )
    kf = compute_fills(ker, FillRule.NON_ZERO)
    exp = sorted(
        zip(ker.ax.tolist(), ker.ay.tolist(), ker.bx.tolist(), ker.by.tolist(), kf.tolist())
    )
    got = sorted(map(tuple, fills[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    assert got == exp


@pytest.mark.parametrize("rule_name", ["xor", "union", "intersect", "difference"])
def test_distributed_extract_matches_kernel_areas(spark, board, rule_name):
    subj, clip, df = board
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import contours_to_segments_df, distributed_overlay

    rule = OverlayRule(rule_name)
    out = distributed_overlay(
        contours_to_segments_df(spark, df), rule, FillRule.EVEN_ODD, force_distributed=True
    )
    pdf = out.toPandas()
    got = sorted(int(a) for a in pdf["area2"].tolist())
    exp = kernel_reference(subj, clip, rule, FillRule.EVEN_ODD)
    assert got == exp
    # hole binding sanity: every hole's shape_id is some hull's ring_id
    hull_ids = set(pdf.loc[~pdf["is_hole"], "ring_id"])
    assert set(pdf.loc[pdf["is_hole"], "shape_id"]).issubset(hull_ids)
    # strategy dispatch: the small-path one-task kernel must agree with the
    # fully distributed plan (areas + hole structure)
    small = distributed_overlay(
        contours_to_segments_df(spark, df), rule, FillRule.EVEN_ODD
    ).toPandas()
    assert sorted(small["area2"].tolist()) == got
    assert sorted(small["is_hole"].tolist()) == sorted(pdf["is_hole"].tolist())


def test_hole_binding_nested_innermost(spark):
    """bind_holes_df picks the innermost CONTAINING hull among nested candidates
    and resolves island-inside-hole configurations without iteration."""
    from ioverlay_spark.operators.distributed_extract import bind_holes_df

    def sq(rid, x0, y0, s):
        return (rid, [x0, x0 + s, x0 + s, x0], [y0, y0, y0 + s, y0 + s])

    # hull 1 (big), hull 2 (island inside hull 1's hole), hull 3 (far away)
    hulls = spark.createDataFrame(
        [sq(1, 0, 0, 100), sq(2, 40, 40, 20), sq(3, 1000, 1000, 10)],
        ["ring_id", "pts_x", "pts_y"],
    )
    holes = spark.createDataFrame(
        [
            # hole of hull 1 (contains hull 2): anchor inside hull 1 only
            (10, 20, 20),
            # hole of the island hull 2: anchor inside both 1 and 2 -> innermost = 2
            (11, 45, 45),
        ],
        ["ring_id", "anchor_x", "anchor_y"],
    )
    got = {
        r["hole_ring_id"]: r["shape_id"] for r in bind_holes_df(hulls, holes).collect()
    }
    assert got == {10: 1, 11: 2}


def test_distributed_extract_no_ring_collect(spark, board, monkeypatch):
    """North-rule scale guard: the distributed extractor must not materialize
    ring/segment data on the driver — only O(1) scalar rows (bounds aggregates)
    may be collected."""
    import pyspark.sql.dataframe as dfmod
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )
    from ioverlay_spark.operators.distributed_extract import extract_shapes_df

    subj, clip, df = board
    fills = compute_fills_df(
        split_segments_df(contours_to_segments_df(spark, df)), FillRule.EVEN_ODD
    ).localCheckpoint(eager=True)

    collected = []
    real_collect = dfmod.DataFrame.collect

    def counting_collect(self):
        rows = real_collect(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(dfmod.DataFrame, "collect", counting_collect)
    out = extract_shapes_df(fills, OverlayRule.XOR)
    pdf = real_collect(out)
    # board-6 XOR: both tilings are contiguous -> one frame hull + one hole
    assert len(pdf) == 2 and any(r["is_hole"] for r in pdf)
    assert sum(collected) <= 4, f"driver materialized {sum(collected)} rows"


def test_fused_extract_matches_salted_path(spark, board, monkeypatch):
    """The fused single-task CC+walk extract (small boundary sets) must emit
    exactly the rings of the broadcast-CC + salt-walk plan — same areas, same
    hole structure, same point sets (XOR board: frame hull + hole)."""
    import ioverlay_spark.operators.distributed_extract as dx
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        split_segments_df,
    )

    subj, clip, df = board
    fills = compute_fills_df(
        split_segments_df(contours_to_segments_df(spark, df)), FillRule.EVEN_ODD
    ).localCheckpoint(eager=True)

    def canon(pdf):
        rows = []
        for r in pdf.itertuples():
            pts = sorted(zip(r.pts_x, r.pts_y))
            rows.append((bool(r.is_hole), int(r.area2), tuple(pts)))
        return sorted(rows)

    fused = dx.extract_shapes_df(fills, OverlayRule.XOR).toPandas()
    monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
    salted = dx.extract_shapes_df(fills, OverlayRule.XOR).toPandas()
    assert canon(fused) == canon(salted)
    assert len(fused) == 2
    # shape ids resolve hole->hull identically on both paths
    for pdf in (fused, salted):
        hull_ids = set(pdf.loc[~pdf["is_hole"], "ring_id"])
        assert set(pdf.loc[pdf["is_hole"], "shape_id"]).issubset(hull_ids)


def _canon_rings(pdf):
    rows = []
    for r in pdf.itertuples():
        pts = sorted(zip(r.pts_x, r.pts_y))
        rows.append((bool(r.is_hole), int(r.area2), tuple(pts)))
    return sorted(rows)


def _scalar_canon_rings(subj, clip, rule, fill_rule):
    """_canon_rings of the scalar kernel's overlay (hole = contour index > 0)."""
    from ioverlay_spark.kernel import overlay
    from ioverlay_spark.kernel.extract import ring_area2

    shapes = overlay(
        [np.array(r, dtype=np.int64) for r in subj],
        [np.array(r, dtype=np.int64) for r in clip],
        rule,
        fill_rule,
    )
    return sorted(
        (ci > 0, int(ring_area2(ring)), tuple(sorted(map(tuple, np.asarray(ring).tolist()))))
        for shape in shapes
        for ci, ring in enumerate(shape)
    )


def test_boundary_blob_feed_matches_row_feed(spark, monkeypatch):
    """The fill stage's in-kernel boundary blob pack (BOUNDARY_BLOB_SCHEMA,
    the only feed distributed_overlay uses) must produce the scalar kernel's
    rings and the closed form's n^2 squares — on the int32 blob layout, on the
    wide-coordinate int64 layout, and through the giant-boundary fallback that
    unpacks blobs back to rows for the salted multi-task plan."""
    import ioverlay_spark.operators.distributed_extract as dx
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    n, a = 12, 20
    subj, clip = lines_net(n, a)
    for shift in (0, 1 << 40):  # int32 blob words, then the wide int64 layout
        s_s = [[(x + shift, y + shift) for (x, y) in r] for r in subj]
        c_s = [[(x + shift, y + shift) for (x, y) in r] for r in clip]
        df = spark.createDataFrame(
            rings_to_contours_rows(s_s, c_s), ["role", "cid", "pts_x", "pts_y"]
        )
        segs = contours_to_segments_df(spark, df)
        blob = distributed_overlay(
            segs, OverlayRule.INTERSECT, FillRule.EVEN_ODD, force_distributed=True
        ).toPandas()
        # giant-boundary fallback: blobs unpack to rows for the salted plan
        monkeypatch.setattr(dx, "_FUSED_EXTRACT_CAP", 0)
        blob_salted = distributed_overlay(
            segs, OverlayRule.INTERSECT, FillRule.EVEN_ODD, force_distributed=True
        ).toPandas()
        monkeypatch.undo()
        exp = _scalar_canon_rings(s_s, c_s, OverlayRule.INTERSECT, FillRule.EVEN_ODD)
        assert _canon_rings(blob) == exp
        assert _canon_rings(blob_salted) == exp
        assert len(blob) == n * n
        assert int(blob["area2"].sum()) == 2 * n * n * (a // 2) * (a // 2)


def lines_net(n: int, a: int = 20):
    """The reference's lines_net scenario (performance/rust_app many_lines_x/y):
    n vertical strips (subject) x n horizontal strips (clip), width a/2 at
    spacing a — INTERSECT is exactly n^2 squares of (a/2)^2."""
    w = a // 2
    s = a * n // 2
    subj, clip = [], []
    x = -s + w // 2
    for _ in range(n):
        subj.append([(x, -s), (x + w, -s), (x + w, s), (x, s)])
        x += a
    y = -s + w // 2
    for _ in range(n):
        clip.append([(-s, y), (s, y), (s, y + w), (-s, y + w)])
        y += a
    return subj, clip


def test_lines_net_intersect_closed_form(spark):
    """Real-crossing workload (nothing cancels at merge): n^2 intersection
    squares; checks the dispatch pair-bound guard + both plans against the
    closed form."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    n, a = 24, 20
    subj, clip = lines_net(n, a)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    expect_area2 = 2 * n * n * (a // 2) * (a // 2)
    for forced in (False, True):
        out = distributed_overlay(
            contours_to_segments_df(spark, df),
            OverlayRule.INTERSECT,
            FillRule.EVEN_ODD,
            force_distributed=forced,
        ).toPandas()
        assert len(out) == n * n, f"forced={forced}: {len(out)} rings"
        assert int(out["area2"].sum()) == expect_area2


def test_lines_net_pair_guard_routes_to_distributed(spark):
    """With a tiny pair threshold the dispatch must refuse the single-task path
    even though the pre-split segment count is small."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    n, a = 16, 20
    subj, clip = lines_net(n, a)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    out = distributed_overlay(
        contours_to_segments_df(spark, df),
        OverlayRule.INTERSECT,
        FillRule.EVEN_ODD,
        pair_threshold=10,  # force the distributed plan via the pair bound
    ).toPandas()
    assert len(out) == n * n
    # distributed extractor ids are component-derived (small path uses 0..k);
    # n^2 separate squares -> n^2 distinct shape ids either way
    assert out["shape_id"].nunique() == n * n


@pytest.mark.parametrize(
    "off",
    [
        5_000_000,          # > 2^21: the round-2 packing would silently collide
        (1 << 30) + 4096,   # >= _NODE_CAP: exact dense-id fallback path
    ],
)
def test_distributed_extract_wide_coordinates(spark, off):
    """Node-id guard (VERDICT r02 Wrong #3): distributed extraction must produce
    correct components for coordinate grids beyond 2^21 — widened packing up to
    2^30, exact dense ids beyond."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    subj, clip = checkerboard(3)
    subj = [[(x + off, y + off) for (x, y) in r] for r in subj]
    clip = [[(x + off, y + off) for (x, y) in r] for r in clip]
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    )
    out = distributed_overlay(
        contours_to_segments_df(spark, df),
        OverlayRule.XOR,
        FillRule.EVEN_ODD,
        force_distributed=True,
    ).toPandas()
    got = sorted(int(a) for a in out["area2"].tolist())
    exp = kernel_reference(subj, clip, OverlayRule.XOR, FillRule.EVEN_ODD)
    assert got == exp
    hull_ids = set(out.loc[~out["is_hole"], "ring_id"])
    assert set(out.loc[out["is_hole"], "shape_id"]).issubset(hull_ids)


def test_narrow_boundary_schema(spark):
    """Tripwire for the fused-transfer narrowing (BENCH.md round-4 fifth pass):
    below the int32 cap the single-task transfer must carry int coords +
    tinyint fill (bytes there are serialized wall-clock); at/over the cap the
    columns must stay wide (the cast would wrap)."""
    from ioverlay_spark.operators.distributed_extract import _narrow_boundary

    b = spark.createDataFrame(
        [(1, 2, 3, 4, 5)], "ax long, ay long, bx long, by long, fill int"
    )
    narrow = dict(_narrow_boundary(b, 1_000_000).dtypes)
    assert narrow == {
        "ax": "int", "ay": "int", "bx": "int", "by": "int", "fill": "tinyint"
    }
    for cap in ((1 << 31) - 1, 1 << 40, None):
        wide = dict(_narrow_boundary(b, cap).dtypes)
        assert wide == dict(b.dtypes)


def test_fused_apply_pack_matches_legacy(spark):
    """The fused terminal apply+pack (_apply_pack_strips_iter: numpy
    _apply_marks + strip pack inside one mapInArrow, replacing the JVM chain
    sort/zip_with/Generate pipeline) must produce the scalar kernel's ring
    multiset through the full distributed pipeline."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        contours_to_segments_df,
        distributed_overlay,
    )

    subj, clip = lines_net(24, 20)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    ).localCheckpoint()
    out = distributed_overlay(
        contours_to_segments_df(spark, df),
        OverlayRule.INTERSECT,
        FillRule.EVEN_ODD,
        force_distributed=True,
    ).toPandas()
    exp = _scalar_canon_rings(subj, clip, OverlayRule.INTERSECT, FillRule.EVEN_ODD)
    assert _canon_rings(out) == exp and len(exp) == 24 * 24


def test_fused_apply_pack_plan_and_fills(spark):
    """Fill-level differential on the lazy-terminal path: the fused inputs
    attach on the eligible terminal round, the fused fill plan has no
    Generate node (the chain explode happens in numpy), and its boundary fill
    multiset equals the scalar kernel's."""
    from ioverlay_spark.options import FillRule, OverlayRule
    from ioverlay_spark.operators.distributed import (
        compute_fills_df,
        contours_to_segments_df,
        merge_segments_df,
        split_segments_df,
        _count_and_bounds,
    )

    subj, clip = lines_net(48, 20)
    df = spark.createDataFrame(
        rings_to_contours_rows(subj, clip), ["role", "cid", "pts_x", "pts_y"]
    ).localCheckpoint()
    merged = merge_segments_df(contours_to_segments_df(spark, df)).localCheckpoint()
    bounds = _count_and_bounds(merged)
    split = split_segments_df(
        merged, pre_merged=True, bounds=bounds, checkpoint_last=False
    )
    assert getattr(split, "_ioverlay_apply_inputs", None) is not None

    fills = compute_fills_df(split, FillRule.EVEN_ODD, boundary_rule=OverlayRule.INTERSECT)
    plan = fills._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan
    pdf = fills.toPandas()
    got = sorted(map(tuple, pdf[["ax", "ay", "bx", "by", "fill"]].to_numpy().tolist()))
    exp = _kernel_fill_rows(
        _kernel_split(subj, clip), FillRule.EVEN_ODD, OverlayRule.INTERSECT
    )
    assert got == exp and len(got) > 0