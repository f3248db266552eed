"""Engine configuration.

Defaults mirror the reference's production tuning and the golden fixture
config from FIXTURES.md §4: k_shingle=5, minhash_k=128, radius=4. The SimHash
band count is derived from the radius (bands_for_radius): radius 4 -> 5 bands
of 13/13/13/13/12 bits, not the fixture's 8x8-bit layout. Hot band keys are
salted over banded_self_join's fixed 16 buckets, and the degenerate
signatures functions/hashing.BAD_SIMHASHES never match.

- radius defaults: dedup 2 / cross-similarity 4 / interactive 6
  (/root/reference/deduplicator/ProcessArchive.py:19, :746, :863)
- hot-key thresholds: >500 matches logged, >100 candidates skipped
  (/root/reference/dbPhashApi.py:185-191,
   /root/reference/deduplicator/ProcessArchive.py:504-513)
"""

from __future__ import annotations

from dataclasses import dataclass

from .functions.hashing import MinHashParams


def bands_for_radius(radius: int) -> int:
    """Smallest band count with full recall at Hamming radius r: r+1
    (pigeonhole: r differing bits leave at least one of r+1 bands untouched).

    Fewest bands = widest band keys = the most selective candidate join
    (functions/columns.band_widths splits 64 bits as evenly as possible, e.g.
    radius 4 -> 5 bands of 13/13/13/13/12 bits). Measured at 160k docs the
    5-band plan emits the identical verified pair set as the old 8x8-bit
    layout at ~2.5x less wall time, because 13-bit keys collide ~32x less."""
    if not 0 <= radius <= 63:
        raise ValueError(f"radius {radius} out of range 0..63")
    return radius + 1


@dataclass(frozen=True)
class DedupConfig:
    k_shingle: int = 5
    minhash_k: int = 128
    minhash_bands: int = 32  # 32 bands x 4 rows over the 128-sig
    simhash_radius: int = 4  # bands: bands_for_radius(simhash_radius)
    # skew handling (reference analogs cited in module docstring)
    hot_band_threshold: int = 500
    # MinHash candidates entering the cluster graph must pass exact Jaccard
    # verification at this threshold (candidates alone are probabilistic)
    jaccard_verify_threshold: float = 0.7
    # containment anchor-exchange winnowing (operators/containment.py,
    # functions/hashing.winnow_split): window-w sliding-min selection shrinks
    # the flagship's largest exchange ~(w+1)/2-fold with a DETERMINISTIC
    # recall guarantee for inner docs longer than w + k_shingle + 1 tokens.
    # None (default) explodes the full shingle set — required when true inner
    # duplicates can be shorter than that bound (tweet-sized corpora, the
    # 10-token driver testdata docs); web-page corpora (>= ~200 tokens)
    # should set 8.
    containment_winnow_w: int | None = None

    @property
    def minhash_params(self) -> MinHashParams:
        """The minhash_k-wide permutation family (default seed 42)."""
        return MinHashParams.make(self.minhash_k)

    def __post_init__(self):
        bands_for_radius(self.simhash_radius)  # raises outside 0..63
        if self.minhash_k % self.minhash_bands != 0:
            raise ValueError("minhash_bands must divide minhash_k")


DEFAULT_CONFIG = DedupConfig()
