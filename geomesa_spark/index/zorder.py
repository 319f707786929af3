"""Z-order (Morton) curve encoding, numpy-vectorized.

Semantics follow the reference curve library (geomesa-z3):
- Z2: lon/lat each normalized to 31-bit ints, bits interleaved
  (Z2SFC.scala:21-53; NormalizedDimension.scala:56-77:
  i = floor((x - min) * 2^p / (max - min)), clamped).
- Z3: lon/lat/time-offset at 21 bits each (Z3SFC.scala:21-99), time binned
  per day/week/month/year (BinnedTime.scala:46-215; default week).

The implementation is an independent numpy bit-spreading version (standard
Morton magic numbers), not a translation of the Scala."""

from __future__ import annotations

import numpy as np

WORLD = (-180.0, -90.0, 180.0, 90.0)
Z2_BITS = 31  # bits per dimension (Z2SFC.scala:14)
Z3_BITS = 21  # bits per dimension (Z3SFC.scala)

_U = np.uint64


def normalize(values, vmin: float, vmax: float, bits: int) -> np.ndarray:
    """NormalizedDimension semantics: floor((x-min)*2^b/(max-min)) clamped."""
    v = np.asarray(values, dtype=np.float64)
    scale = (2.0**bits) / (vmax - vmin)
    i = np.floor((v - vmin) * scale)
    return np.clip(i, 0, 2**bits - 1).astype(np.int64)


def denormalize(idx, vmin: float, vmax: float, bits: int) -> np.ndarray:
    """Cell-center back-mapping: min + (i + 0.5) * (max-min)/2^b."""
    i = np.asarray(idx, dtype=np.float64)
    return vmin + (i + 0.5) * (vmax - vmin) / (2.0**bits)


def _spread2(x: np.ndarray) -> np.ndarray:
    """Spread 32-bit ints so bits occupy even positions of 64-bit words."""
    x = x.astype(np.uint64)
    x = (x | (x << _U(16))) & _U(0x0000FFFF0000FFFF)
    x = (x | (x << _U(8))) & _U(0x00FF00FF00FF00FF)
    x = (x | (x << _U(4))) & _U(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << _U(2))) & _U(0x3333333333333333)
    x = (x | (x << _U(1))) & _U(0x5555555555555555)
    return x


def _squash2(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64) & _U(0x5555555555555555)
    z = (z | (z >> _U(1))) & _U(0x3333333333333333)
    z = (z | (z >> _U(2))) & _U(0x0F0F0F0F0F0F0F0F)
    z = (z | (z >> _U(4))) & _U(0x00FF00FF00FF00FF)
    z = (z | (z >> _U(8))) & _U(0x0000FFFF0000FFFF)
    z = (z | (z >> _U(16))) & _U(0x00000000FFFFFFFF)
    return z.astype(np.int64)


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread 21-bit ints to every 3rd bit of 64-bit words."""
    x = x.astype(np.uint64) & _U(0x1FFFFF)
    x = (x | (x << _U(32))) & _U(0x1F00000000FFFF)
    x = (x | (x << _U(16))) & _U(0x1F0000FF0000FF)
    x = (x | (x << _U(8))) & _U(0x100F00F00F00F00F)
    x = (x | (x << _U(4))) & _U(0x10C30C30C30C30C3)
    x = (x | (x << _U(2))) & _U(0x1249249249249249)
    return x


def _squash3(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64) & _U(0x1249249249249249)
    z = (z | (z >> _U(2))) & _U(0x10C30C30C30C30C3)
    z = (z | (z >> _U(4))) & _U(0x100F00F00F00F00F)
    z = (z | (z >> _U(8))) & _U(0x1F0000FF0000FF)
    z = (z | (z >> _U(16))) & _U(0x1F00000000FFFF)
    z = (z | (z >> _U(32))) & _U(0x1FFFFF)
    return z.astype(np.int64)


def interleave2(ix, iy) -> np.ndarray:
    """z = spread(x) | spread(y) << 1 (Z2.scala:53 convention)."""
    return (
        _spread2(np.asarray(ix, dtype=np.int64))
        | (_spread2(np.asarray(iy, dtype=np.int64)) << _U(1))
    ).astype(np.int64)


def deinterleave2(z) -> tuple[np.ndarray, np.ndarray]:
    z = np.asarray(z, dtype=np.int64)
    return _squash2(z), _squash2(np.asarray(z, dtype=np.uint64) >> _U(1))


def interleave3(ix, iy, it) -> np.ndarray:
    return (
        _spread3(np.asarray(ix, dtype=np.int64))
        | (_spread3(np.asarray(iy, dtype=np.int64)) << _U(1))
        | (_spread3(np.asarray(it, dtype=np.int64)) << _U(2))
    ).astype(np.int64)


def deinterleave3(z) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    zu = np.asarray(z, dtype=np.uint64)
    return _squash3(zu), _squash3(zu >> _U(1)), _squash3(zu >> _U(2))


def z2_index(lons, lats, bits: int = Z2_BITS) -> np.ndarray:
    """Z2 curve index of lon/lat points at `bits` bits/dim (vectorized)."""
    ix = normalize(lons, WORLD[0], WORLD[2], bits)
    iy = normalize(lats, WORLD[1], WORLD[3], bits)
    return interleave2(ix, iy)


def z2_invert(z, bits: int = Z2_BITS) -> tuple[np.ndarray, np.ndarray]:
    ix, iy = deinterleave2(z)
    return (
        denormalize(ix, WORLD[0], WORLD[2], bits),
        denormalize(iy, WORLD[1], WORLD[3], bits),
    )


# ----------------------------------------------------------------- time bins

SECONDS_PER = {
    "day": 86400,
    "week": 7 * 86400,
    "month": 31 * 86400,  # reference bins months by calendar; we use 31d ceiling
    "year": 366 * 86400,
}
DEFAULT_INTERVAL = "week"  # geomesa.z3.interval default (Conversions.scala:251-254)


def time_to_bin_offset(epoch_seconds, interval: str = DEFAULT_INTERVAL):
    """(bin: int16-ish, offset seconds within bin). Week bins count from the
    epoch like the reference BinnedTime (weeks since 1970-01-01)."""
    s = np.asarray(epoch_seconds, dtype=np.int64)
    per = SECONDS_PER[interval]
    bins = np.floor_divide(s, per)
    offs = s - bins * per
    return bins.astype(np.int64), offs.astype(np.int64)


def z3_index(lons, lats, epoch_seconds, interval: str = DEFAULT_INTERVAL,
             bits: int = Z3_BITS) -> tuple[np.ndarray, np.ndarray]:
    """(time_bin, z3) pair — the analog of the reference's
    [2B bin][8B z3] key (Z3IndexKeySpace.scala:79-94), kept as two columns."""
    bins, offs = time_to_bin_offset(epoch_seconds, interval)
    per = SECONDS_PER[interval]
    ix = normalize(lons, WORLD[0], WORLD[2], bits)
    iy = normalize(lats, WORLD[1], WORLD[3], bits)
    it = normalize(offs, 0, per, bits)
    return bins, interleave3(ix, iy, it)
