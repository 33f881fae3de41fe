"""Deterministic synthetic scene + image/caption payload table.

BASELINE.json's ``input_hint`` fixes the payload: an Iceberg-style
table ``(image_id, bytes, w, h, fmt, caption, phash)``.  No external
data exists, so this module synthesizes it *deterministically* (every
byte a pure function of ``image_id``), at any scale, distributed via
``mapInPandas`` — the 100 TB story is "the generator is itself a Spark
job", not a driver loop.

Geocoding: each image maps to a planar point through a hash-derived
formula (`FIXTURES.md` §1: "derived deterministically from image_id, not
stored in source").  The formula uses only bit ops and exact float64
arithmetic so the JVM Column implementation (``geocode_cols``) and the
numpy mirror (``geocode_np``) agree bit-for-bit — pinned by tests.
~80 % of points fall inside settlement clusters, with a Zipf-weighted
cluster choice so a few cells are intentionally dense (the skew
exercise the north_rule demands explicit handling for).

Scene: 48 settlement clusters with star-convex boundary polygons (a few
with holes), mirroring the reference's study-area shape (71 partitions,
86 boundary polygons — Test_data/A_PART, UGB.shp).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from . import codecs
from .geom import polygon_area, ring_area, rings_bbox

SCENE_SEED = 4242
N_CLUSTERS = 48
LOOKUP_LEN = 256
CLUSTER_PROB = 0.8
SCATTER_LO = 2000.0
SCATTER_SPAN = 96000.0

IMAGE_SIZES = (16, 32, 64)
FORMATS = ("png", "ppm", "tdc")

_ADJS = ("red brick", "timbered", "whitewashed", "modern", "derelict", "half-built", "narrow", "sunlit")
_NOUNS = ("farmhouse", "warehouse", "row house", "chapel", "barn", "workshop", "tenement", "kiosk")
_PLACES = tuple(f"settlement_{i:02d}" for i in range(N_CLUSTERS))


@dataclass(frozen=True)
class Scene:
    """Driver-side immutable scene definition (broadcast to executors)."""

    cx: np.ndarray  # (K,) cluster center x
    cy: np.ndarray
    rad: np.ndarray  # (K,) cluster radius (scatter half-width)
    diam: np.ndarray  # 2*rad, precomputed so both geocode impls share it
    lookup: np.ndarray  # (LOOKUP_LEN,) int cluster index, Zipf multiplicity
    polygons: list = field(hash=False, compare=False)  # [(sid, name, rings)]


def build_scene(seed: int = SCENE_SEED) -> Scene:
    rng = np.random.RandomState(seed)
    cx = rng.uniform(12000.0, 88000.0, N_CLUSTERS)
    cy = rng.uniform(12000.0, 88000.0, N_CLUSTERS)
    rad = rng.uniform(900.0, 2600.0, N_CLUSTERS)
    # Zipf-ish multiplicity lookup → skewed cluster choice
    w = 1.0 / (np.arange(N_CLUSTERS) + 1.0)
    w /= w.sum()
    counts = np.maximum(1, np.rint(w * LOOKUP_LEN).astype(int))
    lookup = np.repeat(np.arange(N_CLUSTERS), counts)[:LOOKUP_LEN]
    if lookup.shape[0] < LOOKUP_LEN:
        lookup = np.concatenate(
            [lookup, np.zeros(LOOKUP_LEN - lookup.shape[0], dtype=int)]
        )
    polygons = []
    for k in range(N_CLUSTERS):
        nv = 24
        ang = 2.0 * np.pi * np.arange(nv) / nv
        r = rad[k] * (0.80 + 0.40 * rng.uniform(size=nv))
        ring = np.stack([cx[k] + r * np.cos(ang), cy[k] + r * np.sin(ang)], axis=1)
        rings = [ring]
        if k % 7 == 3:  # a few polygons with holes (even-odd rule exercise)
            s = rad[k] * 0.25
            hole = np.array(
                [
                    [cx[k] - s, cy[k] - s],
                    [cx[k] - s, cy[k] + s],
                    [cx[k] + s, cy[k] + s],
                    [cx[k] + s, cy[k] - s],
                ]
            )  # CW → hole under even-odd regardless, but keep orientation distinct
            rings.append(hole)
        polygons.append((k, f"SETT_{k:03d}", rings))
    return Scene(cx=cx, cy=cy, rad=rad, diam=2.0 * rad, lookup=lookup.astype(np.int64), polygons=polygons)


_SCENE: Scene | None = None


def default_scene() -> Scene:
    global _SCENE
    if _SCENE is None:
        _SCENE = build_scene()
    return _SCENE


# ---------------------------------------------------------------------------
# Geocode — numpy mirror (oracle path)
# ---------------------------------------------------------------------------


def geocode_np(image_ids, scene: Scene | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) for an array of image_id strings — bit-exact mirror of
    :func:`geocode_cols`."""
    scene = scene or default_scene()
    ids = np.asarray(image_ids, dtype="S")
    h1 = codecs.xxh64_strings(ids).astype(np.uint64)
    g_ids = np.char.add(ids, b"#g")
    h2 = codecs.xxh64_strings(g_ids).astype(np.uint64)
    u_pick = ((h1 >> np.uint64(12)) & np.uint64((1 << 20) - 1)).astype(np.float64) / float(1 << 20)
    u_mode = (h1 & np.uint64(0xFFF)).astype(np.float64) / float(1 << 12)
    u_x = ((h2 >> np.uint64(38)) & np.uint64((1 << 26) - 1)).astype(np.float64) / float(1 << 26)
    u_y = ((h2 >> np.uint64(12)) & np.uint64((1 << 26) - 1)).astype(np.float64) / float(1 << 26)
    k = scene.lookup[np.floor(u_pick * LOOKUP_LEN).astype(np.int64)]
    in_cluster = u_mode < CLUSTER_PROB
    x = np.where(in_cluster, scene.cx[k] + (u_x - 0.5) * scene.diam[k], SCATTER_LO + u_x * SCATTER_SPAN)
    y = np.where(in_cluster, scene.cy[k] + (u_y - 0.5) * scene.diam[k], SCATTER_LO + u_y * SCATTER_SPAN)
    return x, y


# ---------------------------------------------------------------------------
# Geocode — Spark Column builders (hot path: pure built-ins, codegen)
# ---------------------------------------------------------------------------


def geocode_cols(image_id_col, scene: Scene | None = None):
    """Return (x, y) Column expressions for ``image_id``.

    Entirely JVM-side: xxhash64 + bit ops + array-literal lookups, no
    Python in the hot path (input_hint: "no per-row Python").
    """
    from pyspark.sql import functions as F

    scene = scene or default_scene()
    h1 = F.xxhash64(image_id_col)
    h2 = F.xxhash64(F.concat(image_id_col, F.lit("#g")))
    u_pick = F.shiftrightunsigned(h1, 12).bitwiseAND(F.lit((1 << 20) - 1)).cast("double") / F.lit(float(1 << 20))
    u_mode = h1.bitwiseAND(F.lit(0xFFF)).cast("double") / F.lit(float(1 << 12))
    u_x = F.shiftrightunsigned(h2, 38).bitwiseAND(F.lit((1 << 26) - 1)).cast("double") / F.lit(float(1 << 26))
    u_y = F.shiftrightunsigned(h2, 12).bitwiseAND(F.lit((1 << 26) - 1)).cast("double") / F.lit(float(1 << 26))
    lookup = F.array(*[F.lit(int(v)) for v in scene.lookup])
    cx = F.array(*[F.lit(float(v)) for v in scene.cx])
    cy = F.array(*[F.lit(float(v)) for v in scene.cy])
    diam = F.array(*[F.lit(float(v)) for v in scene.diam])
    slot = F.floor(u_pick * F.lit(float(LOOKUP_LEN))).cast("int")
    k = F.element_at(lookup, slot + F.lit(1))
    in_cluster = u_mode < F.lit(CLUSTER_PROB)
    kx = F.element_at(cx, k + F.lit(1))
    ky = F.element_at(cy, k + F.lit(1))
    kd = F.element_at(diam, k + F.lit(1))
    x = F.when(in_cluster, kx + (u_x - F.lit(0.5)) * kd).otherwise(F.lit(SCATTER_LO) + u_x * F.lit(SCATTER_SPAN))
    y = F.when(in_cluster, ky + (u_y - F.lit(0.5)) * kd).otherwise(F.lit(SCATTER_LO) + u_y * F.lit(SCATTER_SPAN))
    return x, y


# ---------------------------------------------------------------------------
# Pixel / caption / row synthesis (pure function of image_id)
# ---------------------------------------------------------------------------


from functools import lru_cache


@lru_cache(maxsize=None)
def _px_grid(h: int, w: int):
    """Cached (yy, xx) ramp grids, pre-shaped (h, w, 1) — only 9 (h, w)
    combinations exist, and the per-call meshgrid dominated
    expected_pixels in the decode-validate contract."""
    yy, xx = np.meshgrid(
        np.arange(h, dtype=np.float64) / h,
        np.arange(w, dtype=np.float64) / w,
        indexing="ij",
    )
    yy3, xx3 = yy[:, :, None], xx[:, :, None]
    yy3.setflags(write=False)
    xx3.setflags(write=False)
    return yy3, xx3


@lru_cache(maxsize=None)
def _px_checker(h: int, w: int, period: int):
    """Cached checker term (h, w, 1), already scaled by 24.0 — 72
    (h, w, period) combinations exist."""
    checker = (((np.arange(w) // period)[None, :] + (np.arange(h) // period)[:, None]) % 2).astype(np.float64)
    c = checker[:, :, None] * 24.0
    c.setflags(write=False)
    return c


# Per-(h, w) float64 scratch pair reused across expected_pixels_f
# calls — the contract kernel synthesizes ~10⁵ expected images per
# task, and the two (h, w, 3) allocations per call were its largest
# cost after the r4 grid caching.  Worker processes are single-threaded
# per task, so plain module state is safe.
_PX_SCRATCH: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def expected_pixels_f(image_id: str, hp: int | None = None) -> np.ndarray:
    """Float64 twin of :func:`expected_pixels` in a REUSED scratch
    buffer: same operation order, so ``astype(uint8)`` of the result is
    bit-identical to expected_pixels.  The returned array is only valid
    until the next call with the same (h, w) — callers must consume it
    immediately (the validate kernel subtracts it the next line)."""
    if hp is None:
        hp = codecs.xxh64((image_id + "#px").encode()) & ((1 << 64) - 1)
    w = IMAGE_SIZES[hp % 3]
    h = IMAGE_SIZES[(hp >> 2) % 3]
    base = np.array([(hp >> 8) & 0xFF, (hp >> 16) & 0xFF, (hp >> 24) & 0xFF], dtype=np.float64)
    gx = np.array([(hp >> 32) & 0x3F, (hp >> 38) & 0x3F, (hp >> 44) & 0x3F], dtype=np.float64) - 32.0
    gy = np.array([(hp >> 50) & 0x3F, (hp >> 56) & 0x3F, hp & 0x3F], dtype=np.float64) - 32.0
    yy3, xx3 = _px_grid(h, w)
    bufs = _PX_SCRATCH.get((h, w))
    if bufs is None:
        bufs = (np.empty((h, w, 3), dtype=np.float64), np.empty((h, w, 3), dtype=np.float64))
        _PX_SCRATCH[(h, w)] = bufs
    img, t = bufs
    np.multiply(xx3, (gx * 2.0)[None, None, :], out=img)
    img += base[None, None, :]
    np.multiply(yy3, (gy * 2.0)[None, None, :], out=t)
    img += t
    period = 4 + (hp >> 5) % 8
    img += _px_checker(h, w, int(period))
    np.rint(img, out=img)
    # clip(x, 0, 255) == maximum-then-minimum for non-NaN float64;
    # the two in-place ufuncs skip np.clip's dispatch wrapper
    np.maximum(img, 0.0, out=img)
    np.minimum(img, 255.0, out=img)
    return img


@lru_cache(maxsize=None)
def _px_checker_all(h: int, w: int):
    """All eight period variants of the checker term stacked (8, h, w, 1)
    so a batch caller can gather per-image checkers in one fancy-index."""
    stack = np.stack([_px_checker(h, w, p) for p in range(4, 12)])
    stack.setflags(write=False)
    return stack


# (h, w) → (img, t) float64 chunk scratch reused across
# expected_pixels_batch calls (same single-threaded-per-task argument
# as _PX_SCRATCH).
_PX_BATCH_SCRATCH: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

# Target float64 bytes for one batch-synthesis chunk: big enough to
# amortize numpy dispatch over dozens of images, small enough that the
# two scratch stacks stay L3-resident per core under 32-way executors.
_PX_BATCH_BYTES = 3 << 20


def px_batch_chunk(h: int, w: int) -> int:
    """Images per synthesis chunk at (h, w) — adaptive to image size."""
    return max(16, min(256, _PX_BATCH_BYTES // (h * w * 3 * 8)))


def expected_pixels_batch(hps: np.ndarray, h: int, w: int) -> np.ndarray:
    """Vectorized float64 twin of :func:`expected_pixels_f` for a chunk
    of images sharing one (h, w): returns a (k, h, w, 3) stack in a
    REUSED scratch buffer (valid until the next same-shape call).

    Per-element operation order is identical to the scalar path —
    multiply, +base, +row-term, +checker, rint, max, min — so every
    pixel is bit-identical to ``expected_pixels_f``; only the numpy
    dispatch count drops from ~15 per image to ~10 per chunk."""
    hp = np.ascontiguousarray(hps, dtype=np.uint64)
    k = len(hp)
    base = np.stack([(hp >> 8) & 0xFF, (hp >> 16) & 0xFF, (hp >> 24) & 0xFF], axis=1).astype(np.float64)
    gx = np.stack([(hp >> 32) & 0x3F, (hp >> 38) & 0x3F, (hp >> 44) & 0x3F], axis=1).astype(np.float64) - 32.0
    gy = np.stack([(hp >> 50) & 0x3F, (hp >> 56) & 0x3F, hp & 0x3F], axis=1).astype(np.float64) - 32.0
    yy3, xx3 = _px_grid(h, w)
    cap = max(k, px_batch_chunk(h, w))
    bufs = _PX_BATCH_SCRATCH.get((h, w))
    if bufs is None or bufs[0].shape[0] < k:
        bufs = (
            np.empty((cap, h, w, 3), dtype=np.float64),
            np.empty((cap, h, w, 3), dtype=np.float64),
        )
        _PX_BATCH_SCRATCH[(h, w)] = bufs
    img, t = bufs[0][:k], bufs[1][:k]
    np.multiply(xx3[None], (gx * 2.0)[:, None, None, :], out=img)
    img += base[:, None, None, :]
    np.multiply(yy3[None], (gy * 2.0)[:, None, None, :], out=t)
    img += t
    periods = ((hp >> 5) % 8).astype(np.int64)
    img += _px_checker_all(h, w)[periods]
    np.rint(img, out=img)
    np.maximum(img, 0.0, out=img)
    np.minimum(img, 255.0, out=img)
    return img


@lru_cache(maxsize=None)
def _px_checker_i16(h: int, w: int, period: int):
    """Checker term pre-scaled by 24·64 as int16 (h, w, 1) — the
    integer twin of :func:`_px_checker` for the sixty-fourths lattice
    used by :func:`expected_pixels_batch_i16`."""
    checker = (
        ((np.arange(w) // period)[None, :] + (np.arange(h) // period)[:, None]) % 2
    ).astype(np.int16)
    c = checker[:, :, None] * np.int16(1536)
    c.setflags(write=False)
    return c


# (h, w) → (M, T) int16 chunk scratch for expected_pixels_batch_i16
# (same single-threaded-per-task argument as _PX_SCRATCH).
_PX_I16_SCRATCH: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def expected_pixels_batch_i16(hps: np.ndarray, h: int, w: int) -> np.ndarray:
    """Integer twin of :func:`expected_pixels_batch`: a (k, h, w, 3)
    int16 stack whose values equal ``expected_pixels`` (0..255), in a
    REUSED scratch buffer (valid until the next same-shape call).

    Bit-identity argument: with w, h ∈ {16, 32, 64} (powers of two) and
    even integer gradients |gx2|, |gy2| ≤ 64, every float64 operation in
    the scalar path — x/w, ·gx2, +base, +y/h·gy2, +24·checker — is EXACT
    (all values are dyadic rationals with denominator ≤ 64 and magnitude
    ≪ 2⁵³), so the pre-rint pixel is exactly M/64 with

        M = x·gx2·(64/w) + 64·base + y·gy2·(64/h) + 1536·checker

    an integer with |M| ≤ 25 668 (int16-safe, incl. the +32 rounding
    slack).  ``np.rint``'s round-half-to-even on M/64 then equals the
    integer formula ``(M + 31 + ((M >> 6) & 1)) >> 6`` — pinned
    exhaustively over the full int range in tests — and the clip is
    order-preserved.  The int16 lattice runs ~4× less memory traffic
    than the float64 path and is what the decode-validate contract uses.

    Callers should pass chunks sorted by checker period so the
    run-length checker add touches each row range once (any order is
    still correct)."""
    hp = np.ascontiguousarray(hps, dtype=np.uint64)
    k = len(hp)
    base = np.stack([(hp >> 8) & 0xFF, (hp >> 16) & 0xFF, (hp >> 24) & 0xFF], axis=1).astype(np.int16)
    gx2 = (np.stack([(hp >> 32) & 0x3F, (hp >> 38) & 0x3F, (hp >> 44) & 0x3F], axis=1).astype(np.int16) - 32) * 2
    gy2 = (np.stack([(hp >> 50) & 0x3F, (hp >> 56) & 0x3F, hp & 0x3F], axis=1).astype(np.int16) - 32) * 2
    sx = np.int16(64 // w)
    sy = np.int16(64 // h)
    ax = np.arange(w, dtype=np.int16)[None, :, None] * (gx2 * sx)[:, None, :]
    by = np.arange(h, dtype=np.int16)[None, :, None] * (gy2 * sy)[:, None, :]
    by += (base << 6)[:, None, :]
    bufs = _PX_I16_SCRATCH.get((h, w))
    if bufs is None or bufs[0].shape[0] < k:
        cap = max(k, px_batch_chunk(h, w))
        bufs = (
            np.empty((cap, h, w, 3), dtype=np.int16),
            np.empty((cap, h, w, 3), dtype=np.int16),
        )
        _PX_I16_SCRATCH[(h, w)] = bufs
    m, t = bufs[0][:k], bufs[1][:k]
    np.add(by[:, :, None, :], ax[:, None, :, :], out=m)
    periods = (hp >> np.uint64(5)) % np.uint64(8)
    b0 = 0
    for b in range(1, k + 1):
        if b == k or periods[b] != periods[b0]:
            m[b0:b] += _px_checker_i16(h, w, int(4 + periods[b0]))
            b0 = b
    # round-half-to-even of M/64: (M + 31 + ((M >> 6) & 1)) >> 6
    np.right_shift(m, 6, out=t)
    t &= 1
    t += 31
    m += t
    np.right_shift(m, 6, out=m)
    np.maximum(m, 0, out=m)
    np.minimum(m, 255, out=m)
    return m


@lru_cache(maxsize=None)
def _px_checker_i16_hw(h: int, w: int, period: int):
    """Channel-free (h, w) int16 checker term pre-scaled by 24·64 — the
    channel-major twin of :func:`_px_checker_i16`."""
    checker = (
        ((np.arange(w) // period)[None, :] + (np.arange(h) // period)[:, None]) % 2
    ).astype(np.int16)
    c = checker * np.int16(1536)
    c.setflags(write=False)
    return c


# (h, w) → (M, T) int16 channel-major scratch for
# expected_pixels_batch_i16_cm.
_PX_I16CM_SCRATCH: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def expected_pixels_batch_i16_cm(hps: np.ndarray, h: int, w: int) -> np.ndarray:
    """Channel-MAJOR twin of :func:`expected_pixels_batch_i16`: returns
    a (k, 3, h, w) int16 stack on the same exact sixty-fourths lattice
    (values bit-identical per element — pinned in tests).

    Layout rationale: in the (k, h, w, 3) layout every broadcast add
    (row-term + column-term, checker) has a 3-element innermost loop —
    numpy cannot merge the w axis because the row/checker operands
    carry stride 0 across it — which measured ~13× slower than the
    same add in (k, 3, h, w), where the w axis is the mergeable inner
    axis for every operand.  The validate kernel keeps its decoded
    stack channel-major too, so the diff and phash never transpose."""
    hp = np.ascontiguousarray(hps, dtype=np.uint64)
    k = len(hp)
    base = np.stack([(hp >> 8) & 0xFF, (hp >> 16) & 0xFF, (hp >> 24) & 0xFF], axis=1).astype(np.int16)
    gx2 = (np.stack([(hp >> 32) & 0x3F, (hp >> 38) & 0x3F, (hp >> 44) & 0x3F], axis=1).astype(np.int16) - 32) * 2
    gy2 = (np.stack([(hp >> 50) & 0x3F, (hp >> 56) & 0x3F, hp & 0x3F], axis=1).astype(np.int16) - 32) * 2
    sx = np.int16(64 // w)
    sy = np.int16(64 // h)
    ax = np.arange(w, dtype=np.int16)[None, None, :] * (gx2 * sx)[:, :, None]
    by = np.arange(h, dtype=np.int16)[None, None, :] * (gy2 * sy)[:, :, None]
    by += (base << 6)[:, :, None]
    bufs = _PX_I16CM_SCRATCH.get((h, w))
    if bufs is None or bufs[0].shape[0] < k:
        cap = max(k, px_batch_chunk(h, w))
        bufs = (
            np.empty((cap, 3, h, w), dtype=np.int16),
            np.empty((cap, 3, h, w), dtype=np.int16),
        )
        _PX_I16CM_SCRATCH[(h, w)] = bufs
    m, t = bufs[0][:k], bufs[1][:k]
    np.add(by[:, :, :, None], ax[:, :, None, :], out=m)
    periods = (hp >> np.uint64(5)) % np.uint64(8)
    b0 = 0
    for b in range(1, k + 1):
        if b == k or periods[b] != periods[b0]:
            m[b0:b] += _px_checker_i16_hw(h, w, int(4 + periods[b0]))[None, None]
            b0 = b
    # round-half-to-even of M/64: (M + 31 + ((M >> 6) & 1)) >> 6
    np.right_shift(m, 6, out=t)
    t &= 1
    t += 31
    m += t
    np.right_shift(m, 6, out=m)
    np.maximum(m, 0, out=m)
    np.minimum(m, 255, out=m)
    return m


def expected_pixels(image_id: str, hp: int | None = None) -> np.ndarray:
    """Deterministic RGB image for an id — the oracle for the PSNR check.

    ``hp`` lets a batch caller pass the pre-vectorized ``xxh64(id+'#px')``
    (see :func:`id_hashes`) so the per-image Python hash is skipped.
    In-place accumulation, ×2 folded into the (3,) gradients: power-of-
    two scaling is exact and commutes with the multiply's rounding, so
    the pixels are bit-identical to the original formulation."""
    return expected_pixels_f(image_id, hp).astype(np.uint8)


def id_hashes(ids: list[str], suffix: str) -> np.ndarray:
    """Vectorized ``xxh64(id + suffix) & M64`` → uint64 (n,).  Falls
    back to the scalar mirror when ids are not equal-length (the
    vectorized fixed-width path requires it)."""
    lens = {len(s) for s in ids}
    if len(lens) == 1 and next(iter(lens)) + len(suffix) < 32:
        return codecs.xxh64_strings([s + suffix for s in ids]).astype(np.uint64)
    return np.array(
        [codecs.xxh64((s + suffix).encode()) for s in ids], dtype=np.int64
    ).astype(np.uint64)


def expected_caption(image_id: str) -> str:
    hc = codecs.xxh64((image_id + "#cap").encode()) & ((1 << 64) - 1)
    adj = _ADJS[hc % len(_ADJS)]
    noun = _NOUNS[(hc >> 8) % len(_NOUNS)]
    place = _PLACES[(hc >> 16) % len(_PLACES)]
    return f"a {adj} {noun} near {place}"


def image_fmt(image_id: str) -> str:
    hf = codecs.xxh64((image_id + "#fmt").encode()) & ((1 << 64) - 1)
    return FORMATS[hf % 3]


def make_row(i: int) -> dict:
    image_id = f"img_{i:012d}"
    px = expected_pixels(image_id)
    fmt = image_fmt(image_id)
    data = codecs.encode(px, fmt)
    return {
        "image_id": image_id,
        "bytes": data,
        "w": px.shape[1],
        "h": px.shape[0],
        "fmt": fmt,
        "caption": expected_caption(image_id),
        "phash": codecs.phash(codecs.decode(data, fmt)),
    }


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def synth_images_df(spark, n: int, n_partitions: int | None = None):
    """Distributed payload synthesis: ``spark.range(n)`` → mapInPandas.

    Every row is a pure function of its index, so the table is identical
    regardless of partitioning/retries — the property that lets the
    10^12-scale variant be generated (or re-generated) lazily on a real
    cluster with no coordination.
    """
    import pandas as pd

    if n_partitions is None:
        n_partitions = max(4, min(256, n // 2000))

    def gen(batches):
        for pdf in batches:
            rows = [make_row(int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(0, n, 1, n_partitions).mapInPandas(gen, IMAGES_SCHEMA)


def images_sf_count(sf_dir: str) -> int:
    """Map the driver's sf tier to the payload row count (FIXTURES.md §1)."""
    name = os.path.basename(os.path.normpath(sf_dir))
    sf = float(name.replace("sf", "")) if name.startswith("sf") else 0.001
    return int(round(sf * 2_000_000))


# Materialised synthetic tables live in the checkout's `.synth/`
CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".synth")


def ensure_images_table(spark, n: int, cache_root: str = CACHE_ROOT) -> str:
    """Materialize the synthetic table once per size; return parquet path.

    Written partitioned by a coarse derived cell ("Iceberg-style layout",
    SURVEY.md §1.2) so downstream scans get partition pruning on spatial
    predicates.
    """
    from pyspark.sql import functions as F

    from .cells import DEFAULT_GRID, encode_col, parent_col

    path = os.path.join(cache_root, f"images_n{n}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    df = synth_images_df(spark, n)
    x, y = geocode_cols(F.col("image_id"))
    cell = encode_col(x, y, 10)
    df = df.withColumn("pcell", parent_col(cell, 10, 3))
    # co-locate each coarse cell before writing (one writer per pcell
    # bucket instead of gen_partitions × pcells tiny files).  Decode
    # granularity comes from ROW GROUPS, not files: an 8 MB parquet
    # block ≈ 2500 rows, and every decode consumer bin-packs (file,
    # row_group) splits (ops.decode_validate_direct) or splits scans by
    # maxPartitionBytes — so one file per pcell with many small row
    # groups keeps the same task granularity while metadata-only scans
    # stop paying hundreds of per-file opens (guide §6 small-files).
    # Measured on the 2M-image table: the r5 layout (819 × 2500-row
    # files) scanned image_id in 0.31 s, this layout (36 files, 2500-row
    # row groups) in 0.083 s — the flagship count's largest single cost
    # (plans/r06).
    (
        df.repartition(64, "pcell")
        .write.mode("overwrite")
        .option("parquet.block.size", str(8 * 1024 * 1024))
        .partitionBy("pcell")
        .parquet(path)
    )
    return path


def settlements_pdf(scene: Scene | None = None):
    """Settlement polygons as a pandas DataFrame (driver-side, tiny)."""
    import pandas as pd

    scene = scene or default_scene()
    rows = []
    for sid, name, rings in scene.polygons:
        minx, miny, maxx, maxy = rings_bbox(rings)
        rows.append(
            {
                "sid": sid,
                "name": name,
                "rings": [r.tolist() for r in rings],
                "minx": minx,
                "miny": miny,
                "maxx": maxx,
                "maxy": maxy,
                "area": polygon_area(rings),
                "outer_area": abs(ring_area(rings[0])),
            }
        )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Synthetic building footprints (A_HU analogue — FIXTURES.md §2)
# ---------------------------------------------------------------------------

POS_FKT = ("31001_1000", "31001_1010", "31001_1020")
NEG_FKT = ("31001_2721", "31001_2463")


def buildings_pdf(scene: Scene | None = None, per_cluster: int = 40):
    """Deterministic building-footprint table clustered at settlement
    centers: rotated rectangles 8-30 m (the bulk), a few large detached
    halls > 300 m² (AddSinglBdg trigger, IB-Tool2.py:1649), sub-35 m²
    sheds (min-area filter, IB-Tool2.py:831-840), and negative-use
    codes from the reference's filter lists (IB-Tool2_Filter.txt)."""
    import pandas as pd

    from .geom import rect_rings

    scene = scene or default_scene()
    # the draws stay one building at a time: legacy randint rejection
    # sampling makes how many draws a building takes depend on the data;
    # the rings are built after, all at once
    rects, fkts, ks = [], [], []
    for k in range(N_CLUSTERS):
        rng = np.random.RandomState(SCENE_SEED + 1000 + k)
        n_b = per_cluster + (k % 5) * (per_cluster // 8)
        cx, cy, rad = scene.cx[k], scene.cy[k], scene.rad[k]
        for _ in range(n_b):
            # fixed ~110 m core scatter: footprint spacing in the tens
            # of meters, so the reference's coverage/density thresholds
            # behave as they do on real settlement data
            bx = cx + rng.normal() * 110.0
            by = cy + rng.normal() * 110.0
            w = rng.uniform(8, 30)
            h = rng.uniform(8, 30)
            ang = rng.uniform(0, np.pi)
            rects.append((bx, by, w, h, ang))
            fkts.append(POS_FKT[rng.randint(3)] if rng.uniform() > 0.1 else NEG_FKT[rng.randint(2)])
        # large detached buildings outside the dense core
        for j in range(2):
            ang = rng.uniform(0, 2 * np.pi)
            bx = cx + np.cos(ang) * rad * 1.15
            by = cy + np.sin(ang) * rad * 1.15
            rects.append((bx, by, 25.0, 15.0, rng.uniform(0, np.pi)))
            fkts.append(POS_FKT[0])
        # small sheds (below the reference's 35 m² floor)
        for j in range(3):
            bx = cx + rng.normal() * 110.0
            by = cy + rng.normal() * 110.0
            rects.append((bx, by, 5.0, 5.0, 0.0))
            fkts.append(POS_FKT[0])
        ks.append(np.full(n_b + 5, k, dtype=np.int64))
    r = rect_rings(*np.array(rects).T)
    cxc, cyc, area = _rect_centroids_areas(r)
    return pd.DataFrame(
        {
            "bid": np.arange(r.shape[0], dtype=np.int64),
            "rings": [[v] for v in r.tolist()],
            "cx": cxc,
            "cy": cyc,
            "area": area,
            "fkt": fkts,
            "true_cluster": np.concatenate(ks),
        }
    )


def _rect_centroids_areas(r: np.ndarray) -> "tuple[np.ndarray, np.ndarray, np.ndarray]":
    """geom.ring_centroid and abs(geom.ring_area) of every ring of
    ``r`` (N, K, 2) in one pass.  For K < 8 numpy's row sums add in the
    order of its 1-D sums, so each value equals the per-ring one bit
    for bit."""
    x, y = r[:, :, 0], r[:, :, 1]
    xn, yn = np.roll(x, -1, axis=1), np.roll(y, -1, axis=1)
    cross = x * yn - xn * y
    s = cross.sum(axis=1)
    a = s / 2.0
    flat = np.abs(a) < 1e-12
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = np.where(flat, x.mean(axis=1), ((x + xn) * cross).sum(axis=1) / (6.0 * a))
        cy = np.where(flat, y.mean(axis=1), ((y + yn) * cross).sum(axis=1) / (6.0 * a))
    return cx, cy, np.abs(0.5 * s)


BUILDINGS_SCHEMA = (
    "bid long, rings array<array<array<double>>>, cx double, cy double, "
    "area double, fkt string, true_cluster long"
)


def buildings_df(spark, scene: Scene | None = None, per_cluster: int = 40):
    from .ops import local_df  # ops imports this module

    return local_df(spark, buildings_pdf(scene, per_cluster), BUILDINGS_SCHEMA)


def buildings_sf_per_cluster(sf_dir: str) -> int:
    import os as _os

    name = _os.path.basename(_os.path.normpath(sf_dir))
    sf = float(name.replace("sf", "")) if name.startswith("sf") else 0.001
    # capped at 5000: the Delaunay kernel is vectorized (one numpy
    # circumcircle pass per insertion — 5k points ≈ 1.2 s) and the
    # per-partition group is bounded by the density partitioner;
    # partitions beyond this should be pre-split
    return min(5000, max(10, int(round(sf * 20000))))


# ---------------------------------------------------------------------------
# Synthetic road network (A_RN analogue — FIXTURES.md §3)
# ---------------------------------------------------------------------------


def roads_pdf(scene: Scene | None = None):
    """Grid-ish streets per settlement + dead-end stubs.

    Per cluster: 3 horizontal + 3 vertical streets through the core
    (closed blocks for the Blocker/polygonize analogue) plus one short
    (< 50 m) and one long (> 50 m) dead-end stub — the exemption the
    reference's road-crossing prune tests (IB-Tool2.py:1359-72: short
    dead-ends do NOT cut Delaunay edges)."""
    import pandas as pd

    scene = scene or default_scene()
    rows = []
    rid = 0
    for k in range(N_CLUSTERS):
        rng = np.random.RandomState(SCENE_SEED + 2000 + k)
        cx, cy, rad = scene.cx[k], scene.cy[k], scene.rad[k]
        span = rad * 0.9
        offs = [-rad * 0.45, 0.0, rad * 0.45]
        # streets carry a vertex at every crossing (the reference splits
        # lines at junctions before NodesDetect, IB-Tool2.py:1127-46),
        # so junction nodes are shared segment endpoints with degree 4
        for off in offs:
            hx = [[cx - span, cy + off]] + [[cx + o, cy + off] for o in offs] + [[cx + span, cy + off]]
            rows.append((rid, hx, k, "street"))
            rid += 1
            vy = [[cx + off, cy - span]] + [[cx + off, cy + o] for o in offs] + [[cx + off, cy + span]]
            rows.append((rid, vy, k, "street"))
            rid += 1
        # dead-end stubs anchored at a junction of the central streets
        rows.append((rid, [[cx + offs[2], cy], [cx + offs[2], cy + 30.0]], k, "stub_short"))
        rid += 1
        rows.append((rid, [[cx + offs[0], cy], [cx + offs[0], cy - 120.0]], k, "stub_long"))
        rid += 1
        _ = rng  # seeded per cluster for future jitter; layout is exact
    return pd.DataFrame(rows, columns=["rid", "line", "kind_cluster", "kind"]).rename(
        columns={"kind_cluster": "true_cluster"}
    )


ROADS_SCHEMA = "rid long, line array<array<double>>, true_cluster long, kind string"


def roads_df(spark, scene: Scene | None = None):
    from .ops import local_df  # ops imports this module

    pdf = roads_pdf(scene)
    rows = [
        (
            int(r.rid),
            [[float(p[0]), float(p[1])] for p in r.line],
            int(r.true_cluster),
            r.kind,
        )
        for r in pdf.itertuples()
    ]
    return local_df(spark, rows, ROADS_SCHEMA)
