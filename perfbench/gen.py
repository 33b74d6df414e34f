"""Seed-driven LAS tile generator for the benchmark.

Everything here writes bytes with numpy/struct and never calls the
package's own writers or header serializer, so a writer bug cannot hide
itself behind a matching reader bug.

LAS tiles follow a real tiled survey: every tile of a set shares ONE
scale/offset grid and covers a disjoint raw x/y square of a regular grid,
so header bounds separate tiles (pushdown can skip them) and header
min/max can answer global aggregates.
"""

from __future__ import annotations

import fnmatch
import os
import struct
from dataclasses import dataclass

import numpy as np

#: LAS 1.2 point format 3 (GPS time + RGB: 34-byte records)
POINT_FORMAT = 3
POINT_DTYPE = np.dtype([
    ("x", "<i4"), ("y", "<i4"), ("z", "<i4"), ("intensity", "<u2"),
    ("flags", "u1"), ("classification", "u1"), ("angle", "i1"),
    ("user", "u1"), ("source", "<u2"), ("time", "<f8"),
    ("red", "<u2"), ("green", "<u2"), ("blue", "<u2"),
])

SCALE = 0.01
#: world origin of every tile grid (metres, Lambert-93-like magnitudes)
ORIGIN = (650_000.0, 6_860_000.0)
CLASSES = (1, 2, 3, 4, 5, 6)


@dataclass
class TileSet:
    """A generated tile directory plus the numpy truth the checks use."""

    directory: str
    paths: list[str]
    points: list[np.ndarray]  # structured arrays, one per tile (path order)
    tile_raw: int  # raw grid units per tile edge
    #: what a reader loads: the directory, or a glob of some of its tiles
    source: str = ""

    def __post_init__(self):
        self.source = self.source or self.directory

    def subset(self, pattern: str) -> "TileSet":
        """The tiles whose file names match the glob ``pattern``."""
        keep = [i for i, p in enumerate(self.paths)
                if fnmatch.fnmatch(os.path.basename(p), pattern)]
        return TileSet(self.directory, [self.paths[i] for i in keep],
                       [self.points[i] for i in keep], self.tile_raw,
                       os.path.join(self.directory, pattern))

    @property
    def n_points(self) -> int:
        return sum(len(p) for p in self.points)

    def raw_origin(self) -> tuple[int, int]:
        return round(ORIGIN[0] / SCALE), round(ORIGIN[1] / SCALE)


def las_header(pts: np.ndarray) -> bytes:
    """LAS 1.2 public header (227 bytes, no VLRs) for ``pts``, scale
    ``SCALE`` and offset 0 on every axis, bounds in world units."""
    buf = bytearray(227)
    buf[0:4] = b"LASF"
    buf[24:26] = bytes((1, 2))
    buf[26:58] = b"perfbench".ljust(32, b"\0")
    buf[58:90] = b"perfbench gen".ljust(32, b"\0")
    struct.pack_into("<HH", buf, 90, 1, 2026)
    struct.pack_into("<HIIBHI", buf, 94, 227, 227, 0, POINT_FORMAT,
                     POINT_DTYPE.itemsize, len(pts))
    ret = pts["flags"] & 0x7
    by_return = [int((ret == r).sum()) for r in range(1, 6)]
    struct.pack_into("<5I", buf, 111, *by_return)
    struct.pack_into("<3d", buf, 131, SCALE, SCALE, SCALE)
    struct.pack_into("<3d", buf, 155, 0.0, 0.0, 0.0)
    bounds = []
    for axis in "xyz":
        raw = pts[axis]
        bounds += [SCALE * int(raw.max()), SCALE * int(raw.min())]
    struct.pack_into("<6d", buf, 179, *bounds)
    return bytes(buf)


def parse_las_header(path: str) -> dict:
    """The fields the output checks need, read with struct (independent of
    the package's parser): count, scale, offset, world bounds, and where
    the point data should end."""
    with open(path, "rb") as f:
        buf = f.read(227)
    if buf[:4] != b"LASF":
        raise ValueError(f"{path}: not a LAS file")
    if buf[24:26] != bytes((1, 2)):
        raise ValueError(f"{path}: LAS 1.{buf[25]}, expected 1.2")
    (n,) = struct.unpack_from("<I", buf, 107)
    (data_offset,) = struct.unpack_from("<I", buf, 96)
    (stride,) = struct.unpack_from("<H", buf, 105)
    scale = struct.unpack_from("<3d", buf, 131)
    offset = struct.unpack_from("<3d", buf, 155)
    xmax, xmin, ymax, ymin, zmax, zmin = struct.unpack_from("<6d", buf, 179)
    return {
        "count": n, "scale": scale, "offset": offset,
        "min": (xmin, ymin, zmin), "max": (xmax, ymax, zmax),
        "data_end": data_offset + n * stride,
    }


def _tile_points(rng, n: int, x0: int, y0: int, edge: int) -> np.ndarray:
    pts = np.zeros(n, dtype=POINT_DTYPE)
    pts["x"] = rng.integers(x0, x0 + edge, n)
    pts["y"] = rng.integers(y0, y0 + edge, n)
    # a smooth terrain plus vegetation noise, 0..300 m
    gx = (pts["x"] - x0) / edge
    gy = (pts["y"] - y0) / edge
    ground = 100 + 40 * np.sin(6 * gx) * np.cos(4 * gy)
    pts["z"] = np.round((ground + rng.gamma(1.5, 4.0, n)) / SCALE).astype(np.int32)
    pts["intensity"] = rng.integers(0, 4096, n)
    returns = rng.integers(1, 5, n)
    pts["flags"] = returns | (4 << 3)
    pts["classification"] = rng.choice(CLASSES, n, p=(0.1, 0.4, 0.2, 0.15, 0.1, 0.05))
    pts["angle"] = rng.integers(-20, 21, n)
    pts["user"] = 0
    pts["source"] = rng.integers(0, 8, n)
    pts["time"] = np.sort(rng.uniform(0, 1e5, n))
    for c in ("red", "green", "blue"):
        pts[c] = rng.integers(0, 65536, n)
    return pts


def make_tiles(
    directory: str, seed: int, cols: int, rows: int, points_per_tile: int,
    tile_m: float,
) -> TileSet:
    """Write ``cols × rows`` LAS tiles of ``tile_m`` metres on one grid."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    edge = round(tile_m / SCALE)
    ox, oy = round(ORIGIN[0] / SCALE), round(ORIGIN[1] / SCALE)
    paths, points = [], []
    for r in range(rows):
        for c in range(cols):
            pts = _tile_points(rng, points_per_tile, ox + c * edge, oy + r * edge, edge)
            path = os.path.join(directory, f"tile_{r:03d}_{c:03d}.las")
            with open(path, "wb") as f:
                f.write(las_header(pts))
                f.write(pts.tobytes())
            paths.append(path)
            points.append(pts)
    return TileSet(directory, paths, points, edge)
