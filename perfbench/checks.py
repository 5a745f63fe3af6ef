"""Output checks. Each returns the list of problems found (empty = correct).

The expected values hold for every seed, because the seed only changes what
they are invariant to (row order, partition assignment, translation by whole
top-level cells). Pinned values were produced by the library at the commit
that introduced this benchmark; the closed forms need no pinning.
"""

from __future__ import annotations

import numpy as np

from gen import LINES_NET_A, LINES_NET_N

# rule -> (output rings, sum of area2) over the generated sf0.1-shaped line ids
FLAGSHIP = {
    "intersect": (124_775, 533_874_575_972),
    "union": (789_637, 17_076_884_202_664),
    "xor": (914_372, 16_543_009_626_692),
}

# query -> (rows, checksum): pip sum(p_id + r_id), tiles sum(n_rects),
# knn sum(d2)
SPATIAL = {
    "pip": (4_676_884, 3_859_693_908_978),
    "tiles": (4_225, 1_071_146),
    "knn": (1_371_738, 5_601_194_931_006),
}

# (shapes, rings, sum of area2 on the adapter's integer grid)
SPIRAL = (1, 1, 75_595_474_939_455_056)


def lines_net_expected() -> tuple[int, int]:
    """INTERSECT of the strip net: n^2 squares of side a/2."""
    n, a = LINES_NET_N, LINES_NET_A
    return n * n, 2 * n * n * (a // 2) ** 2


def _compare(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: got {got}, expected {want}"]


def check_flagship(per_rule: dict) -> list[str]:
    """per_rule: rule -> (rings, sum area2)."""
    out = _compare("flagship rules", sorted(per_rule), sorted(FLAGSHIP))
    for rule, want in FLAGSHIP.items():
        if rule in per_rule:
            out += _compare(f"flagship {rule}", tuple(per_rule[rule]), want)
    return out


def check_spatial(per_query: dict) -> list[str]:
    """per_query: query -> (rows, checksum)."""
    out = _compare("spatial queries", sorted(per_query), sorted(SPATIAL))
    for q, want in SPATIAL.items():
        if q in per_query:
            out += _compare(f"spatial {q}", tuple(per_query[q]), want)
    return out


def check_lines_net(rings: int, area2_sum: int) -> list[str]:
    return _compare("lines_net (rings, area2)", (rings, area2_sum), lines_net_expected())


def ring_area2(pts: np.ndarray) -> int:
    """Twice the signed area of an integer ring (shoelace, exact in int64 for
    coordinates under 2^31)."""
    x = pts[:, 0].astype(np.int64)
    y = pts[:, 1].astype(np.int64)
    return int(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def spiral_summary(shapes, adapter) -> tuple[int, int, int]:
    """(shapes, rings, sum area2) of float_overlay output, measured back on the
    adapter's integer grid so the sum is exact whatever the ring start points."""
    rings = [r for s in shapes for r in s]
    return len(shapes), len(rings), sum(ring_area2(adapter.quantize(r)) for r in rings)


def check_spiral(summary: tuple[int, int, int]) -> list[str]:
    return _compare("spiral (shapes, rings, area2)", tuple(summary), SPIRAL)
