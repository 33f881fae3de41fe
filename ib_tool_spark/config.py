"""Config + filter-list sources (SURVEY.md S5/S6).

The reference drives its pipeline from two text side-channels:

- a ``key : value`` config txt parsed into typed parameters
  (IB-Tool2.py:66-72, 322-340);
- a filter txt of positive/negative attribute-code lists compiled into
  ``LIKE`` where-clauses (IB-Tool2.py:715-772) — codes are exact
  10-char prefixes, so the engine compiles them to ``isin`` predicates
  on the code prefix instead of a LIKE chain.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    """Typed pipeline parameters (the reference's Starter tuple,
    IB-Tool2.py:266-340, with the same semantic knobs)."""

    cell_res: int = 10
    tile_res: int = 6
    density_cell_size: float = 150.0
    density_radius: float = 300.0
    density_threshold: float = 1e-5
    min_bdg_count: int = 10
    min_patch_size: float = 5000.0
    max_hole_size: float = 5000.0
    coverage_thresh: float = 12.0
    max_edge: float = 120.0
    buffer_m: float = 25.0
    extras: dict = field(default_factory=dict)

    @classmethod
    def from_text(cls, text: str) -> "EngineConfig":
        cfg = cls()
        known = {f for f in cfg.__dataclass_fields__ if f != "extras"}
        for line in text.splitlines():
            line = line.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            key, val = (p.strip() for p in line.split(":", 1))
            if key in known:
                cur = getattr(cfg, key)
                setattr(cfg, key, type(cur)(float(val)) if isinstance(cur, (int, float)) else val)
            else:
                cfg.extras[key] = val
        return cfg

    @classmethod
    def load(cls, path: str) -> "EngineConfig":
        with open(path) as f:
            return cls.from_text(f.read())


def parse_filter_lists(text: str) -> tuple[list[str], list[str]]:
    """Positive/negative attribute-code lists.

    Format mirrors the reference's IB-Tool2_Filter.txt: one code per
    line; a line starting with ``[positive]`` / ``[negative]`` switches
    the active list; ``#`` comments.  Returns (pos, neg) code lists.
    """
    pos: list[str] = []
    neg: list[str] = []
    current = pos
    for line in text.splitlines():
        line = line.split("#", 1)[0].strip()
        if not line:
            continue
        low = line.lower()
        if low.startswith("[pos"):
            current = pos
            continue
        if low.startswith("[neg"):
            current = neg
            continue
        current.append(line)
    return pos, neg


def filter_prefixes(codes: list[str], prefix_len: int = 10) -> list[str]:
    """The sorted distinct ``prefix_len``-character code prefixes that
    filter_predicate and filter_mask test."""
    return sorted({c[:prefix_len] for c in codes})


def filter_predicate(col, codes: list[str], prefix_len: int = 10):
    """Compile a code list to the engine predicate: exact prefix isin
    (the reference's ``fkt LIKE 'code%'`` chains are all fixed-length
    prefixes, so isin is equivalent and sargable)."""
    from pyspark.sql import functions as F

    return F.substring(col, 1, prefix_len).isin(filter_prefixes(codes, prefix_len))


def filter_mask(codes_col, codes: list[str], prefix_len: int = 10):
    """filter_predicate over a pandas Series of codes: a boolean mask
    that is False where the predicate is false or NULL."""
    return codes_col.str[:prefix_len].isin(filter_prefixes(codes, prefix_len)).to_numpy(bool)
