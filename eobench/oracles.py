"""Oracles run in the benchmark process, independent of the Spark path: numpy over the
generator's closed forms and pyarrow reads of what the program wrote.

Each ``check_*`` raises ``Mismatch`` on a wrong output; the benchmark counts
that operation as failed."""

from __future__ import annotations

import math
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from eoreader_spark import codecs, datagen
from eoreader_spark.functions import indices


class Mismatch(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


# ------------------------------------------------------------ closed forms
def closed_form_tiles(n_images: int) -> dict[str, np.ndarray]:
    """Tile bounds of images 0..n-1 with the generator's float arithmetic
    (bbox split into TILE-pixel tiles, rows counted from the top)."""
    t = datagen.TILE
    bx0, by0, bx1, by1 = datagen.scene_bbox(np.arange(n_images, dtype=np.int64))
    out = {k: [] for k in ("x0", "y0", "x1", "y1")}
    for i in range(n_images):
        h, w = datagen.image_dims(i)
        ntx, nty = w // t, h // t
        dx, dy = (bx1[i] - bx0[i]) / ntx, (by1[i] - by0[i]) / nty
        ty, tx = np.divmod(np.arange(ntx * nty), ntx)
        x0 = bx0[i] + tx * dx
        y0 = by1[i] - (ty + 1) * dy
        out["x0"].append(x0)
        out["y0"].append(y0)
        out["x1"].append(x0 + dx)
        out["y1"].append(y0 + dy)
    return {k: np.concatenate(v) for k, v in out.items()}


def parse_ring(wkt: str) -> np.ndarray:
    inner = wkt[wkt.index("((") + 2 : wkt.rindex("))")]
    ring = np.array([[float(v) for v in p.split()] for p in inner.split(",")])
    return ring[:-1] if len(ring) > 1 and np.all(ring[0] == ring[-1]) else ring


def even_odd(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number test with the half-open rule: an edge counts when
    exactly one endpoint lies strictly above the point and the point lies
    strictly left of the crossing."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(ring)
    for k in range(n):
        xa, ya = ring[k]
        xb, yb = ring[(k + 1) % n]
        if ya == yb:
            continue
        straddle = (ya > py) != (yb > py)
        xint = xa + (py - ya) * (xb - xa) / (yb - ya)
        inside ^= straddle & (px < xint)
    return inside


def tiles_in_aoi(tiles: dict[str, np.ndarray], wkt: str) -> np.ndarray:
    cx = (tiles["x0"] + tiles["x1"]) * 0.5
    cy = (tiles["y0"] + tiles["y1"]) * 0.5
    return even_odd(cx, cy, parse_ring(wkt))


def decoded_image(i: int) -> np.ndarray:
    """Pixels as the image's container gives them back (jpeg is lossy)."""
    h, w = datagen.image_dims(i)
    fmt = datagen.image_fmt(i)
    img = codecs.make_image(i, h, w)
    return codecs.decode(codecs.encode(img, fmt), fmt, h, w).astype(np.float32)


def dem_slope(h: int, w: int) -> np.ndarray:
    """Slope in degrees of the generator's DEM surface over the whole image,
    central differences with the border replicated."""
    yy, xx = np.mgrid[0:h, 0:w]
    z = (100.0 * np.sin(xx / 5.0) + 2.0 * yy).astype(np.float32).astype(np.float64)
    p = np.pad(z, 1, mode="edge")
    dzdx = (p[1:-1, 2:] - p[1:-1, :-2]) / 2.0
    dzdy = (p[2:, 1:-1] - p[:-2, 1:-1]) / 2.0
    return np.degrees(np.arctan(np.hypot(dzdx, dzdy)))


# -------------------------------------------------------------- pipeline
def read_lineage_rows(root: Path) -> dict[str, int]:
    """stage -> summed row_count of its lineage rows, read with pyarrow."""
    lin = root / "_lineage"
    if not lin.exists():
        return {}
    t = ds.dataset(str(lin), format="parquet").to_table(columns=["stage", "row_count"])
    return {
        r["stage"]: r["row_count_sum"]
        for r in t.group_by("stage").aggregate([("row_count", "sum")]).to_pylist()
    }


class PipelineOracle:
    """Expected lineage row counts for ``run_pipeline(n_images)`` from the
    closed forms, plus an index-stats sample against the numpy oracle."""

    STAGES = ("images", "tiles", "assign", "index_stats")

    def __init__(self, n_images: int, aoi_wkts: list[str], index_names: list[str]) -> None:
        tiles = closed_form_tiles(n_images)
        n_assign = sum(int(tiles_in_aoi(tiles, w).sum()) for w in aoi_wkts)
        self.rows = {
            "images": n_images,
            "tiles": len(tiles["x0"]),
            "assign": n_assign,
            "index_stats": n_images * len(index_names),
        }
        self.index_names = index_names
        # lossless containers only: the closed-form pixels are the decoded ones
        self.sample = [i for i in range(0, n_images, max(1, n_images // 8)) if i % 3 != 2][:6]
        self.stats = {
            i: indices.oracle_index_stats(i, *datagen.image_dims(i), index_names)
            for i in self.sample
        }

    def check_lineage(self, root: Path) -> None:
        got = read_lineage_rows(root)
        for stage in self.STAGES:
            rows = got.get(stage, 0)
            expect(rows == self.rows[stage], f"{stage}: {rows} lineage rows, want {self.rows[stage]}")

    def check_index_stats(self, root: Path) -> None:
        want_ids = [f"img{i:012d}" for i in self.sample]
        t = ds.dataset(str(root / "index_stats"), format="parquet", partitioning="hive").to_table(
            columns=["image_id", "index_name", "mean", "min", "max"],
            filter=pc.field("image_id").isin(want_ids),
        )
        got = {
            (r["image_id"], r["index_name"]): (r["mean"], r["min"], r["max"])
            for r in t.to_pylist()
        }
        for i in self.sample:
            for name in self.index_names:
                g = got.get((f"img{i:012d}", name))
                expect(g is not None, f"index_stats missing img {i} {name}")
                expect(
                    np.allclose(g, self.stats[i][name], rtol=1e-9, atol=1e-12),
                    f"index_stats img {i} {name}: {g} != {self.stats[i][name]}",
                )

    def check_fresh(self, root: Path, out: dict) -> None:
        for key in ("images", "tiles", "assign", "index"):
            expect(not out[key]["skipped"], f"fresh root skipped stage {key}")
        self.check_lineage(root)
        self.check_index_stats(root)

    def check_resumed(self, root: Path, out: dict) -> None:
        for key in ("images", "tiles", "assign", "index"):
            expect(out[key]["skipped"], f"resume recomputed stage {key}")
            expect(out[key]["rows_written"] == 0, f"resume wrote rows in {key}")
        self.check_lineage(root)


# ----------------------------------------------------------------- query
class QueryOracle:
    """Brute-force answers over the at-rest tables, read with pyarrow."""

    def __init__(self, tables: Path) -> None:
        sc = ds.dataset(str(tables / "scenes"), format="parquet").to_table(
            columns=["image_id", "lon", "lat"]
        )
        self.scene_ids = np.array(sc.column("image_id").to_pylist())
        self.lon = sc.column("lon").to_numpy()
        self.lat = sc.column("lat").to_numpy()
        tl = ds.dataset(str(tables / "tiles"), format="parquet", partitioning="hive").to_table(
            columns=["image_id", "tile_x", "tile_y", "x0", "y0", "x1", "y1"]
        )
        self.tiles = {c: tl.column(c).to_numpy(zero_copy_only=False) for c in tl.column_names}
        aoi = ds.dataset(str(tables / "aoi"), format="parquet").to_table(
            columns=["aoi_id", "geom_wkt"]
        )
        self.aoi = dict(zip(aoi.column("aoi_id").to_pylist(), aoi.column("geom_wkt").to_pylist()))

    def check_knn(self, lon: float, lat: float, k: int, rows: list) -> None:
        dlon = np.abs(self.lon - lon)
        dlon = np.minimum(dlon, 360.0 - dlon) * math.cos(math.radians(lat))
        d = dlon * dlon + (self.lat - lat) ** 2
        order = np.lexsort((self.scene_ids, d))[:k]
        want = d[order]
        rows = sorted(rows, key=lambda r: r["rank"])
        expect(len(rows) == k, f"knn returned {len(rows)} rows, want {k}")
        expect([r["rank"] for r in rows] == list(range(1, k + 1)), "knn ranks not 1..k")
        got = np.array([r["dist"] for r in rows])
        expect(np.allclose(got, want, rtol=1e-9, atol=1e-15), f"knn dists {got} != {want}")
        by_id = dict(zip(self.scene_ids, d))
        for r in rows:
            expect(
                math.isclose(by_id[r["image_id"]], r["dist"], rel_tol=1e-9, abs_tol=1e-15),
                f"knn {r['image_id']} distance mismatch",
            )

    def check_aoi(self, aoi_id: str, rows: list) -> None:
        keep = tiles_in_aoi(self.tiles, self.aoi[aoi_id])
        want = set(
            zip(
                self.tiles["image_id"][keep].tolist(),
                self.tiles["tile_x"][keep].tolist(),
                self.tiles["tile_y"][keep].tolist(),
            )
        )
        got = [(r["image_id"], r["tile_x"], r["tile_y"]) for r in rows]
        expect(len(got) == len(set(got)), f"{aoi_id}: duplicate assignments")
        expect(all(r["aoi_id"] == aoi_id for r in rows), f"{aoi_id}: foreign aoi rows")
        expect(set(got) == want, f"{aoi_id}: {len(got)} tiles assigned, want {len(want)}")

    @staticmethod
    def check_window(i: int, window: tuple[int, int, int, int], rows: list) -> None:
        t = datagen.TILE
        h, w = datagen.image_dims(i)
        tx0, ty0, tx1, ty1 = window
        want_tiles = {(tx, ty) for tx in range(tx0, tx1 + 1) for ty in range(ty0, ty1 + 1)}
        got_tiles = [(r["tile_x"], r["tile_y"]) for r in rows]
        expect(
            sorted(got_tiles) == sorted(want_tiles),
            f"window {window} of img {i}: tiles {sorted(got_tiles)}",
        )
        img = decoded_image(i)
        p0 = codecs.pixel_plane(i, 0, h, w).astype(np.int32)
        invalid = (p0 % 97 == 0) | (p0 % 89 == 0) | (p0 > 250)
        red = np.where(invalid, np.nan, np.clip(img[0] / 255.0, 0, None))
        nir = np.where(invalid, np.nan, np.clip(img[2] / 255.0, 0, None))
        ndvi = (nir - red) / (nir + red + 1e-12)
        slope = dem_slope(h, w)
        for r in rows:
            sl = (
                slice(r["tile_y"] * t, (r["tile_y"] + 1) * t),
                slice(r["tile_x"] * t, (r["tile_x"] + 1) * t),
            )
            for col, want, tol in (
                ("px_RED", red, 1e-6),
                ("px_NIR", nir, 1e-6),
                ("px_NDVI", ndvi, 1e-5),
                ("px_SLOPE", slope, 1e-3),
            ):
                got = np.array(r[col], dtype=np.float64).reshape(t, t)
                expect(
                    np.allclose(got, want[sl], atol=tol, equal_nan=True),
                    f"window img {i} tile {r['tile_x']},{r['tile_y']}: {col} mismatch",
                )
