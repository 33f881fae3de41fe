"""Exact polygon boolean operations (intersection / union / difference
/ symmetric difference) on ring sets.

Implements the Martinez–Rueda–Feito sweep-line boolean algorithm
(Martinez, Rueda, Feito: "A new algorithm for computing Boolean
operations on polygons", Computers & Geosciences 2009; degeneracy
handling per the 2013 revision).  This replaces, with exact ring
geometry, the cell-approximated overlays used for the reference's
Intersect_analysis (IB-Tool2.py:664, 2085, 2153), Erase_analysis
(IB-Tool2.py:1873-74), SymDiff_analysis (IB-Tool2.py:1844, 2156;
Error_Classification.py:258) and Clip_analysis (IB-Tool2.py:951).

Polygons are even-odd ring sets (list of (N,2) float arrays), the
convention used across geom.py; the result is a flat ring list under
the same even-odd reading, so downstream kernels (points_in_polygon,
polygon_area) consume it directly — no hole-parenting pass is needed.

Scale note: the kernel is a per-pair scalar algorithm by design — the
engine invokes it inside applyInPandas over *candidate pairs* produced
by a cell/bbox equi-join (see ops.overlay_join), exactly like the
PIP/kNN candidate-then-refine pattern, so the distributed shape is one
bounded kernel call per overlapping polygon pair.
"""

from __future__ import annotations

import functools
import heapq

import numpy as np

SUBJECT = 0
CLIPPING = 1

# edge annotations (degenerate overlap handling)
NORMAL = 0
NON_CONTRIBUTING = 1
SAME_TRANSITION = 2
DIFFERENT_TRANSITION = 3

OP_INTERSECTION = "and"
OP_UNION = "or"
OP_DIFFERENCE = "not"
OP_XOR = "xor"

_QUANTUM = 1e-9


def _snap(v: float) -> float:
    """Snap-round a coordinate to the working quantum — keeps
    intersection points consistent between overlapping segments."""
    return round(v / _QUANTUM) * _QUANTUM


class _Event:
    __slots__ = (
        "x",
        "y",
        "left",
        "other",
        "pol",
        "in_out",
        "other_in_out",
        "edge_type",
        "in_result",
        "prev_in_result",
        "pos",
        "result_in_out",
        "contour_id",
    )

    def __init__(self, x: float, y: float, left: bool, pol: int):
        self.x = x
        self.y = y
        self.left = left
        self.pol = pol
        self.other: "_Event | None" = None
        self.in_out = False
        self.other_in_out = False
        self.edge_type = NORMAL
        self.in_result = False
        self.prev_in_result: "_Event | None" = None
        self.pos = 0
        self.result_in_out = False
        self.contour_id = -1

    # --- geometry helpers -------------------------------------------------

    def segment(self):
        return (self.x, self.y, self.other.x, self.other.y)

    def below(self, px: float, py: float) -> bool:
        """Is point p strictly below the line of this (left) event's
        segment?"""
        if self.left:
            return _signed_area(self.x, self.y, self.other.x, self.other.y, px, py) > 0
        return _signed_area(self.other.x, self.other.y, self.x, self.y, px, py) > 0

    def above(self, px: float, py: float) -> bool:
        return not self.below(px, py) and not self.collinear(px, py)

    def collinear(self, px: float, py: float) -> bool:
        return _signed_area(self.x, self.y, self.other.x, self.other.y, px, py) == 0.0

    def vertical(self) -> bool:
        return self.x == self.other.x


def _signed_area(ax, ay, bx, by, cx, cy) -> float:
    return (ax - cx) * (by - cy) - (bx - cx) * (ay - cy)


def _event_less(e1: _Event, e2: _Event) -> bool:
    """Full comparator including the collinearity tiebreak (the event
    whose segment is below comes first)."""
    if e1.x != e2.x:
        return e1.x < e2.x
    if e1.y != e2.y:
        return e1.y < e2.y
    if e1.left != e2.left:
        return not e1.left  # right endpoint first
    # same point, both same endpoint type: the one below comes first
    if not e1.collinear(e2.other.x, e2.other.y):
        return e1.below(e2.other.x, e2.other.y)
    return e1.pol < e2.pol


class _EventKey:
    """heapq wrapper using the full comparator."""

    __slots__ = ("e",)

    def __init__(self, e: _Event):
        self.e = e

    def __lt__(self, other: "_EventKey") -> bool:
        return _event_less(self.e, other.e)


def _segment_below(le1: _Event, le2: _Event) -> bool:
    """Status-line order: does le1's segment sort below le2's at their
    common sweep position?  Both are left events."""
    if le1 is le2:
        return False
    if le1.collinear(le2.x, le2.y) and le1.collinear(le2.other.x, le2.other.y):
        # collinear segments: break ties by polygon then event order
        if le1.pol != le2.pol:
            return le1.pol < le2.pol
        return _event_less(le1, le2)
    if le1.x == le2.x and le1.y == le2.y:
        # share the left endpoint: order by the right endpoints
        return le1.below(le2.other.x, le2.other.y)
    if _event_less(le1, le2):
        # le1 enters the status line first: compare le2's left point
        return le1.below(le2.x, le2.y)
    return not le2.below(le1.x, le1.y)


def _find_intersections(s1, s2):
    """Intersection of two segments, snap-rounded.  Returns a list of
    0, 1, or 2 points (2 = collinear overlap endpoints)."""
    x1, y1, x2, y2 = s1
    x3, y3, x4, y4 = s2
    dx1, dy1 = x2 - x1, y2 - y1
    dx2, dy2 = x4 - x3, y4 - y3
    denom = dx1 * dy2 - dy1 * dx2
    if denom != 0.0:
        t = ((x3 - x1) * dy2 - (y3 - y1) * dx2) / denom
        u = ((x3 - x1) * dy1 - (y3 - y1) * dx1) / denom
        if -1e-12 <= t <= 1.0 + 1e-12 and -1e-12 <= u <= 1.0 + 1e-12:
            t = min(max(t, 0.0), 1.0)
            px = _snap(x1 + t * dx1)
            py = _snap(y1 + t * dy1)
            return [(px, py)]
        return []
    # parallel: check collinearity
    if _signed_area(x1, y1, x2, y2, x3, y3) != 0.0:
        return []
    # collinear: project on the dominant axis
    pts = []
    if abs(dx1) >= abs(dy1):
        lo1, hi1 = sorted((x1, x2))
        lo2, hi2 = sorted((x3, x4))
        lo, hi = max(lo1, lo2), min(hi1, hi2)
        if lo > hi:
            return []
        for xx in {lo, hi}:
            tt = (xx - x1) / dx1 if dx1 != 0 else 0.0
            pts.append((_snap(xx), _snap(y1 + tt * dy1)))
    else:
        lo1, hi1 = sorted((y1, y2))
        lo2, hi2 = sorted((y3, y4))
        lo, hi = max(lo1, lo2), min(hi1, hi2)
        if lo > hi:
            return []
        for yy in {lo, hi}:
            tt = (yy - y1) / dy1
            pts.append((_snap(x1 + tt * dx1), _snap(yy)))
    return sorted(set(pts))


class _Sweep:
    def __init__(self, op: str):
        self.op = op
        self.queue: list[_EventKey] = []
        self.sorted_events: list[_Event] = []

    # --- queue ------------------------------------------------------------

    def push(self, e: _Event):
        heapq.heappush(self.queue, _EventKey(e))

    def add_segment(self, x1, y1, x2, y2, pol):
        if (x1, y1) == (x2, y2):
            return  # degenerate
        e1 = _Event(x1, y1, True, pol)
        e2 = _Event(x2, y2, True, pol)
        e1.other = e2
        e2.other = e1
        if _event_less(e1, e2):
            e2.left = False
        else:
            e1.left = False
        self.push(e1)
        self.push(e2)

    def divide(self, e: _Event, px: float, py: float):
        """Split e's segment at (px, py) into two."""
        if (px, py) == (e.x, e.y) or (px, py) == (e.other.x, e.other.y):
            return
        r = _Event(px, py, False, e.pol)  # right end of left half
        l = _Event(px, py, True, e.pol)  # noqa: E741 — left end of right half
        r.other = e
        l.other = e.other
        if _event_less(e.other, l):  # snap-rounding pushed the split past the end
            e.other.left = True
            l.left = False
        e.other.other = l
        e.other = r
        self.push(l)
        self.push(r)

    # --- intersections ----------------------------------------------------

    def possible_intersection(self, e1: _Event, e2: _Event) -> int:
        pts = _find_intersections(e1.segment(), e2.segment())
        if not pts:
            return 0
        if len(pts) == 1:
            px, py = pts[0]
            # divide is a no-op at an existing endpoint
            self.divide(e1, px, py)
            self.divide(e2, px, py)
            return 1
        # collinear overlap
        if e1.pol == e2.pol:
            # self-overlap within one polygon (invalid input): drop one
            e2.edge_type = NON_CONTRIBUTING
            return 0
        left_coincide = (e1.x, e1.y) == (e2.x, e2.y)
        right_coincide = (e1.other.x, e1.other.y) == (e2.other.x, e2.other.y)
        if left_coincide:
            # the overlapping fragments start together: annotate now
            # (fields of both are already computed at this call site)
            e2.edge_type = NON_CONTRIBUTING
            e1.edge_type = (
                SAME_TRANSITION if e2.in_out == e1.in_out else DIFFERENT_TRANSITION
            )
            if not right_coincide:
                if _event_less(e1.other, e2.other):
                    self.divide(e2, e1.other.x, e1.other.y)
                else:
                    self.divide(e1, e2.other.x, e2.other.y)
            return 2
        # overlap starting apart: split so the middle fragments share a
        # left endpoint — a later adjacency check annotates them via
        # the left_coincide branch above
        if right_coincide:
            if _event_less(e1, e2):
                self.divide(e1, e2.x, e2.y)
            else:
                self.divide(e2, e1.x, e1.y)
            return 3
        if _event_less(e1, e2):
            self.divide(e1, e2.x, e2.y)
        else:
            self.divide(e2, e1.x, e1.y)
        if _event_less(e1.other, e2.other):
            self.divide(e2, e1.other.x, e1.other.y)
        else:
            self.divide(e1, e2.other.x, e2.other.y)
        return 3

    # --- field computation --------------------------------------------------

    def compute_fields(self, e: _Event, prev: "_Event | None"):
        if prev is None:
            e.in_out = False
            e.other_in_out = True
        elif e.pol == prev.pol:
            e.in_out = not prev.in_out
            e.other_in_out = prev.other_in_out
        else:
            e.in_out = not prev.other_in_out
            e.other_in_out = prev.in_out if not prev.vertical() else not prev.in_out
        if prev is not None:
            e.prev_in_result = (
                prev
                if (self._in_result(prev) and not prev.vertical())
                else prev.prev_in_result
            )
        e.in_result = self._in_result(e)

    def _in_result(self, e: _Event) -> bool:
        if e.edge_type == NORMAL:
            if self.op == OP_INTERSECTION:
                return not e.other_in_out
            if self.op == OP_UNION:
                return e.other_in_out
            if self.op == OP_DIFFERENCE:
                return (e.pol == SUBJECT and e.other_in_out) or (
                    e.pol == CLIPPING and not e.other_in_out
                )
            return True  # XOR
        if e.edge_type == SAME_TRANSITION:
            return self.op in (OP_INTERSECTION, OP_UNION)
        if e.edge_type == DIFFERENT_TRANSITION:
            return self.op == OP_DIFFERENCE
        return False  # NON_CONTRIBUTING

    # --- main loop ----------------------------------------------------------

    def run(self):
        status: list[_Event] = []  # active left events, bottom→top
        while self.queue:
            e = heapq.heappop(self.queue).e
            self.sorted_events.append(e)
            if e.left:
                # insert into status by _segment_below order
                idx = 0
                while idx < len(status) and _segment_below(status[idx], e):
                    idx += 1
                status.insert(idx, e)
                prev = status[idx - 1] if idx > 0 else None
                nxt = status[idx + 1] if idx + 1 < len(status) else None
                self.compute_fields(e, prev)
                if nxt is not None:
                    if self.possible_intersection(e, nxt) == 2:
                        self.compute_fields(e, prev)
                        self.compute_fields(nxt, e)
                if prev is not None:
                    if self.possible_intersection(prev, e) == 2:
                        pprev = status[idx - 2] if idx > 1 else None
                        self.compute_fields(prev, pprev)
                        self.compute_fields(e, prev)
            else:
                le = e.other
                try:
                    idx = next(i for i, s in enumerate(status) if s is le)
                except StopIteration:
                    continue
                prev = status[idx - 1] if idx > 0 else None
                nxt = status[idx + 1] if idx + 1 < len(status) else None
                status.pop(idx)
                if prev is not None and nxt is not None:
                    self.possible_intersection(prev, nxt)


def _connect_edges(sorted_events: list[_Event]) -> list[np.ndarray]:
    """Reconnect inResult segments into closed rings."""
    result_events = [
        e for e in sorted_events if (e.left and e.in_result) or (not e.left and e.other.in_result)
    ]
    # re-sort (divisions appended events out of order); stable O(n log n)
    # — the old bubble pass made dissolve's folded unions quadratic
    result_events.sort(
        key=functools.cmp_to_key(lambda a, b: -1 if _event_less(a, b) else (1 if _event_less(b, a) else 0))
    )
    for i, e in enumerate(result_events):
        e.pos = i
    # right events point at their left partner's position
    for i, e in enumerate(result_events):
        if not e.left:
            e.pos, e.other.pos = e.other.pos, e.pos

    processed = [False] * len(result_events)
    rings: list[np.ndarray] = []
    for i, e in enumerate(result_events):
        if processed[i]:
            continue
        start = (e.x, e.y)
        contour = [start]
        pos = i
        while True:
            processed[pos] = True
            pos = result_events[pos].pos  # jump to segment partner
            processed[pos] = True
            pt = (result_events[pos].x, result_events[pos].y)
            if pt == start:
                break
            contour.append(pt)
            nxt = _next_pos(pos, result_events, processed, pt)
            if nxt is None:
                break
            pos = nxt
        # a contour through a pinch point (two result regions touching
        # at a single vertex, e.g. corner-contact union) comes back as
        # a self-touching figure-eight — split it into simple rings at
        # repeated vertices so signed areas don't cancel
        for ring in _split_at_repeats(contour):
            if len(ring) >= 3:
                rings.append(np.asarray(ring, dtype=np.float64))
    return rings


def _split_at_repeats(contour: list[tuple]) -> list[list[tuple]]:
    out: list[list[tuple]] = []
    stack: list[tuple] = []
    seen: dict[tuple, int] = {}
    for pt in contour:
        if pt in seen:
            i = seen[pt]
            out.append(stack[i:])
            for q in stack[i:]:
                seen.pop(q, None)
            stack = stack[:i]
        seen[pt] = len(stack)
        stack.append(pt)
    if stack:
        out.append(stack)
    return out


def _next_pos(pos: int, events: list[_Event], processed: list[bool], pt) -> "int | None":
    j = pos + 1
    while j < len(events) and (events[j].x, events[j].y) == pt:
        if not processed[j]:
            return j
        j += 1
    j = pos - 1
    while j >= 0 and (events[j].x, events[j].y) == pt:
        if not processed[j]:
            return j
        j -= 1
    return None


def _rings_bbox(rings):
    pts = np.vstack(rings)
    return pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()


def polygon_boolean(
    subject: list[np.ndarray], clipping: list[np.ndarray], op: str
) -> list[np.ndarray]:
    """Boolean combination of two even-odd ring sets → even-odd ring
    list.  ``op``: "and" (intersection), "or" (union), "not"
    (difference subject−clipping), "xor" (symmetric difference)."""
    subject = [np.asarray(r, dtype=np.float64) for r in subject if len(r) >= 3]
    clipping = [np.asarray(r, dtype=np.float64) for r in clipping if len(r) >= 3]
    if op == OP_XOR:
        # XOR junctions put four result edges on one sweep point, which
        # the ring walk can merge into a self-crossing figure-eight;
        # (A−B) ⊎ (B−A) is the same region with interior-disjoint parts,
        # and difference junctions are two-edged.
        return polygon_boolean(subject, clipping, OP_DIFFERENCE) + polygon_boolean(
            clipping, subject, OP_DIFFERENCE
        )
    if not subject:
        return [] if op in (OP_INTERSECTION, OP_DIFFERENCE) else [r.copy() for r in clipping]
    if not clipping:
        return [] if op == OP_INTERSECTION else [r.copy() for r in subject]

    # trivial bbox rejections
    sminx, sminy, smaxx, smaxy = _rings_bbox(subject)
    cminx, cminy, cmaxx, cmaxy = _rings_bbox(clipping)
    if smaxx < cminx or cmaxx < sminx or smaxy < cminy or cmaxy < sminy:
        if op == OP_INTERSECTION:
            return []
        if op == OP_DIFFERENCE:
            return [r.copy() for r in subject]
        return [r.copy() for r in subject] + [r.copy() for r in clipping]

    sweep = _Sweep(op)
    for pol, rings in ((SUBJECT, subject), (CLIPPING, clipping)):
        for ring in rings:
            n = ring.shape[0]
            for k in range(n):
                x1, y1 = _snap(float(ring[k, 0])), _snap(float(ring[k, 1]))
                x2, y2 = (
                    _snap(float(ring[(k + 1) % n, 0])),
                    _snap(float(ring[(k + 1) % n, 1])),
                )
                sweep.add_segment(x1, y1, x2, y2, pol)
    sweep.run()
    return _connect_edges(sweep.sorted_events)
