"""Stage-level profile of the flagship overlay worker loop (no Spark).

Reproduces exactly what one mapInArrow batch does in overlay_rows (the flat
Arrow path, round 4 third pass):
  (a) flat decode of the RecordBatch list columns (offsets+values)
  (b) overlay_batch_flat_out kernel (split+fill+walk, 3 rules)
  (c) flat emission (per-rule arrays concatenated, pair ids gathered)
  (d) output RecordBatch construction (ListArray.from_arrays)

Jobs are the bench flagship's shape: L-hexagon subject vs shifted-rect clip,
three rules per job, derived from synthetic int ids like the sf0.1 lineitem key.
"""
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, "/root/repo")
from ioverlay_spark.kernel.batch import overlay_batch_flat_out
from ioverlay_spark.options import DEFAULT_OPTIONS, FillRule, OverlayRule

N = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000
rng = np.random.default_rng(7)
ids = rng.integers(1, 6_000_000, size=N).astype(np.int64)

# mirror rect_exprs/_hex_pts/_clip_rect_exprs arithmetic in numpy
x1 = (ids % 10_000) * 100
y1 = ((ids // 7) % 10_000) * 100
x2 = x1 + 400 + (ids % 37) * 8
y2 = y1 + 400 + (ids % 29) * 8
xm = x1 + ((x2 - x1) >> 1)
ym = y1 + ((y2 - y1) >> 1)
subj_x = np.stack([x1, x2, x2, xm, xm, x1], axis=1)
subj_y = np.stack([y1, y1, ym, ym, y2, y2], axis=1)
cx1 = x1 + 150
cy1 = y1 + 150
cx2 = x2 + 150
cy2 = y2 + 150
clip_x = np.stack([cx1, cx2, cx2, cx1], axis=1)
clip_y = np.stack([cy1, cy1, cy2, cy2], axis=1)


def list_col(arr2d):
    n, w = arr2d.shape
    offs = pa.array(np.arange(n + 1, dtype=np.int32) * w)
    return pa.ListArray.from_arrays(offs, pa.array(arr2d.ravel()))


rb = pa.RecordBatch.from_arrays(
    [pa.array(ids), list_col(subj_x), list_col(subj_y), list_col(clip_x), list_col(clip_y)],
    names=["pair_id", "subj_x", "subj_y", "clip_x", "clip_y"],
)
rule_objs = [OverlayRule("intersect"), OverlayRule("union"), OverlayRule("xor")]
rule_vals = [r.value for r in rule_objs]
fr = FillRule.EVEN_ODD

t0 = time.perf_counter()


def flat(rb, name):
    col = rb.column(name)
    offs = np.asarray(col.offsets, dtype=np.int64)
    vals = np.asarray(col.values, dtype=np.int64)
    if offs[0] != 0 or offs[-1] != len(vals):
        vals = vals[offs[0]:offs[-1]]
        offs = offs - offs[0]
    return offs, vals


n = rb.num_rows
pids = np.asarray(rb.column("pair_id"), dtype=np.int64)
sx_off, sx = flat(rb, "subj_x")
sy_off, sy = flat(rb, "subj_y")
cx_off, cx = flat(rb, "clip_x")
cy_off, cy = flat(rb, "clip_y")
ns, nc = len(sx), len(cx)
P = np.empty((ns + nc, 2), dtype=np.int64)
P[:ns, 0] = sx
P[:ns, 1] = sy
P[ns:, 0] = cx
P[ns:, 1] = cy
counts = np.concatenate([np.diff(sx_off), np.diff(cx_off)]).astype(np.int64)
ring_job = np.concatenate([np.arange(n), np.arange(n)])
ring_subj = np.zeros(2 * n, dtype=bool)
ring_subj[:n] = True
t1 = time.perf_counter()
res = overlay_batch_flat_out(P, counts, ring_job, ring_subj, n, rule_objs, fr, DEFAULT_OPTIONS)
t2 = time.perf_counter()
parts = [res[rule] for rule in rule_objs]
op = np.concatenate([pids[p[0]] for p in parts])
orr = np.concatenate([np.full(len(p[0]), ri, dtype=np.int32) for ri, p in enumerate(parts)])
osid = np.concatenate([p[1] for p in parts])
ocid = np.concatenate([p[2] for p in parts]).astype(np.int32)
lens = np.concatenate([p[3] for p in parts])
PTS = np.concatenate([p[4] for p in parts], axis=0)
oa = np.concatenate([p[5] for p in parts])
m = len(op)
offs = np.zeros(m + 1, dtype=np.int32)
np.cumsum(lens, out=offs[1:])
t3 = time.perf_counter()
po = pa.array(offs)
out = pa.RecordBatch.from_arrays(
    [
        pa.array(op),
        pa.DictionaryArray.from_arrays(
            pa.array(orr), pa.array(rule_vals, type=pa.string())
        ).cast(pa.string()),
        pa.array(osid),
        pa.array(ocid),
        pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 0]))),
        pa.ListArray.from_arrays(po, pa.array(np.ascontiguousarray(PTS[:, 1]))),
        pa.array(oa),
    ],
    names=["pair_id", "rule", "shape_id", "contour_idx", "pts_x", "pts_y", "area2"],
)
t4 = time.perf_counter()

print(f"jobs={N} out_rings={out.num_rows}")
print(f"(a) flat decode {t1-t0:7.3f} s  {(t1-t0)/N*1e6:6.1f} us/job")
print(f"(b) kernel      {t2-t1:7.3f} s  {(t2-t1)/N*1e6:6.1f} us/job (3 rules)")
print(f"(c) emission    {t3-t2:7.3f} s  {(t3-t2)/N*1e6:6.1f} us/job")
print(f"(d) arrow out   {t4-t3:7.3f} s  {(t4-t3)/N*1e6:6.1f} us/job")
print(f"total           {t4-t0:7.3f} s  {(t4-t0)/N*1e6:6.1f} us/job")
