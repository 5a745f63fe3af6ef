"""Seeded input generators owned by the benchmark.

Every generator splits its input into a fixed *shape* (the geometry the checks
pin) and a seed-dependent *presentation*: row order, partition assignment and,
where the checks allow it, translation by whole top-level grid cells. So two
seeds give different inputs with the same expected outputs.
"""

from __future__ import annotations

import math

import numpy as np

# TPC-H-shaped id tables at scale factor 0.1: 150,000 orders and 600,000
# (orderkey, linenumber) draws, deduplicated into ~457k line ids. The shape is
# fixed by this constant, never by --seed.
SHAPE_SEED = 20261017
N_ORDERS = 150_000
N_LINE_DRAWS = 600_000
MAX_LINENUMBER = 7

# one top-level cell of the 2^20 integer grid the spatial layer works in
TOP_CELL = 1 << 20

LINES_NET_N = 1024
LINES_NET_A = 20
SPIRAL_N = 262_144
SPIRAL_RADIUS = 100.0


def line_ids() -> np.ndarray:
    """Sorted distinct line ids (orderkey * 10 + linenumber)."""
    rng = np.random.default_rng(SHAPE_SEED)
    ok = rng.integers(0, N_ORDERS, N_LINE_DRAWS, dtype=np.int64)
    ln = rng.integers(1, MAX_LINENUMBER + 1, N_LINE_DRAWS, dtype=np.int64)
    return np.unique(ok * 10 + ln)


def order_ids() -> np.ndarray:
    return np.arange(N_ORDERS, dtype=np.int64)


def presentation(seed: int, n: int, n_parts: int) -> tuple[np.ndarray, np.ndarray]:
    """(row permutation, partition of each permuted row) for `n` rows."""
    rng = np.random.default_rng(seed)
    return rng.permutation(n), rng.integers(0, n_parts, n)


def cell_offset(seed: int) -> tuple[int, int]:
    """Translation by whole top-level cells, chosen by the seed; at most 7
    cells keeps every coordinate well under 2^30, so no wide-coordinate path
    fires."""
    rng = np.random.default_rng([seed, 1])
    kx, ky = rng.integers(0, 8, 2)
    return int(kx) * TOP_CELL, int(ky) * TOP_CELL


def lines_net(n: int = LINES_NET_N, a: int = LINES_NET_A) -> tuple[list, list]:
    """The reference lines_net scenario: n vertical strips (subject) crossing n
    horizontal strips (clip), width a/2 at spacing a. INTERSECT is exactly n^2
    squares of side a/2, so n^2 rings and sum(area2) = 2 * n^2 * (a/2)^2."""
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


def lines_net_rows(seed: int, n: int = LINES_NET_N, a: int = LINES_NET_A) -> list[tuple]:
    """(role, cid, pts_x, pts_y) contour rows in seed order, translated by
    whole top-level cells."""
    subj, clip = lines_net(n, a)
    dx, dy = cell_offset(seed)
    rows = [("subject", i, r) for i, r in enumerate(subj)]
    rows += [("clip", len(subj) + i, r) for i, r in enumerate(clip)]
    order = np.random.default_rng(seed).permutation(len(rows))
    return [
        (role, cid, [p[0] + dx for p in r], [p[1] + dy for p in r])
        for role, cid, r in (rows[i] for i in order)
    ]


def spiral(count: int = SPIRAL_N, radius: float = SPIRAL_RADIUS) -> np.ndarray:
    """The reference spiral scenario (test_3_spiral): a zigzag band of width
    0.1 * radius whose inner and outer rails cross each other. Returns the
    closed (4 * count, 2) float64 path."""
    # the angle/radius recurrence is sequential scalar math; the rails are not
    ang = np.empty(count)
    rad = np.empty(count)
    a, r = 0.0, radius
    for i in range(count):
        ang[i] = a
        rad[i] = r
        a += radius / r
        r = radius * (1.0 + a / (2.0 * math.pi))
    zig = np.where(np.arange(count) % 2 == 0, 0.2 * radius, -0.2 * radius)
    p = np.column_stack([(rad + zig) * np.cos(ang), (rad + zig) * np.sin(ang)])
    p0 = np.vstack([[0.0, 0.0], p[:-1]])
    d = p - p0
    nrm = d / np.hypot(d[:, 0], d[:, 1])[:, None]
    t = 0.1 * radius * np.column_stack([-nrm[:, 1], nrm[:, 0]])
    a_path = np.empty((2 * count, 2))
    a_path[0::2] = p0 + t
    a_path[1::2] = p + t
    b_path = np.empty((2 * count, 2))
    b_path[0::2] = p0 - t
    b_path[1::2] = p - t
    return np.concatenate([a_path, b_path[::-1]])


def spiral_path(seed: int, count: int = SPIRAL_N) -> np.ndarray:
    """The spiral ring started at a seed-chosen vertex: the same closed curve,
    so the same segment set and the same overlay."""
    path = spiral(count)
    start = int(np.random.default_rng(seed).integers(0, len(path)))
    return np.roll(path, -start, axis=0)
