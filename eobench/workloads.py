"""The two workloads.  Each drives the library's public entry points the way
its callers do: build the DataFrame, wait for the result, check it.

``setup`` writes the inputs and warms every code path the operations take;
``next_op`` draws the next operation.  An operation is ``(kind, run,
check)``: ``run`` is the timed call (it returns the collected result and the
seconds of any timed parts), ``check`` compares that result with a
oracle outside Spark and outside the timed region.  ``tracer`` opens spans around
the parts; the runner swaps in a recording one for the traced half.
"""

from __future__ import annotations

import random
import shutil
import time
from collections.abc import Callable
from pathlib import Path

from oracles import PipelineOracle, QueryOracle

from eoreader_spark import datagen, pipelines
from eoreader_spark.operators import assign, knn
from eoreader_spark.plans import loader

# run_pipeline size per operation: every stage still commits several
# lineage partitions; fixed per-job and per-commit cost dominates anyway
PIPELINE_IMAGES = 12
INDEX_NAMES = ["NDVI", "NDWI"]  # run_pipeline's default index set
# at-rest query tables: pixels, tiles, masks and DEM for QUERY_IMAGES
# scenes, and a scene catalogue of QUERY_SCENES for kNN (the 30% of kNN
# points drawn uniformly need several ring-widening passes at this density)
QUERY_IMAGES = 200
QUERY_SCENES = 2000
KNN_K = 5
WINDOW_BANDS = ["RED", "NIR", "NDVI", "SLOPE"]
# operation types in a fixed cycle, so every run has the same mix; the seed
# draws each operation's point, AOI, scene and window.  Every third kNN point
# is uniform over the globe ("knn_sparse": more ring-widening passes), the
# others lie near the hot spots
QUERY_CYCLE = ("knn", "aoi", "window") * 2 + ("knn_sparse", "aoi", "window")

# (kind, run, check): run() -> (output, {part: seconds}); check(output)
Op = tuple[str, Callable[[], tuple[object, dict]], Callable[[object], None]]


def _aoi_wkts(spark, n_images: int) -> list[str]:
    """The AOI polygons run_pipeline generates for itself (its input)."""
    return [r.geom_wkt for r in datagen.gen_aoi(spark, n_images).select("geom_wkt").collect()]


class BatchWorkload:
    """run_pipeline on a fresh root (the write path), then run_pipeline
    again on that root with all four stages committed (the retry/backfill
    read path).  One operation is the pair; each half is also timed.

    run_pipeline generates its inputs from row ids, so the seed cannot reach
    this workload."""

    name = "batch"

    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.oracle = PipelineOracle(
            PIPELINE_IMAGES, _aoi_wkts(spark, PIPELINE_IMAGES), INDEX_NAMES
        )
        self.n_roots = 0

    def setup(self) -> None:
        # one untimed pair, so the timed ones run warm
        _, run, check = self.next_op()
        check(run()[0])

    def next_op(self) -> Op:
        def run():
            self.n_roots += 1
            root = self.work / f"root{self.n_roots}"
            parts, outs = {}, []
            for part in ("pipeline", "resume"):
                with self.tracer.span(f"batch.{part}"):
                    t0 = time.perf_counter()
                    outs.append(pipelines.run_pipeline(self.spark, str(root), PIPELINE_IMAGES))
                    parts[part] = time.perf_counter() - t0
            return (root, outs), parts

        def check(result):
            root, (fresh, resumed) = result
            try:
                self.oracle.check_fresh(root, fresh)
                self.oracle.check_resumed(root, resumed)
            finally:
                shutil.rmtree(root, ignore_errors=True)

        return "batch", run, check


class QueryWorkload:
    """Seeded mix of per-scene questions over at-rest tables: kNN scenes,
    tiles in one AOI, and a windowed band load of one scene."""

    name = "query"

    def __init__(self, spark, work: Path, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.n_ops = 0

    def setup(self) -> None:
        sp, n, t = self.spark, QUERY_IMAGES, self.work / "tables"
        datagen.gen_images(sp, n).write.parquet(str(t / "images"))
        datagen.gen_scenes(sp, QUERY_SCENES).write.parquet(str(t / "scenes"))
        datagen.gen_aoi(sp, n).write.parquet(str(t / "aoi"))
        datagen.write_tiles_partitioned(sp, str(t / "tiles"), n)
        datagen.gen_qa_masks(sp, n).write.parquet(str(t / "qa_masks"))
        datagen.gen_dem(sp, n).write.parquet(str(t / "dem"))
        read = sp.read.parquet
        self.images = read(str(t / "images"))
        self.scenes = read(str(t / "scenes")).select("image_id", "lon", "lat")
        self.aoi = read(str(t / "aoi"))
        self.tiles = read(str(t / "tiles"))
        self.qa = read(str(t / "qa_masks"))
        self.dem = read(str(t / "dem"))
        self.oracle = QueryOracle(t)
        self.aoi_ids = sorted(self.oracle.aoi)
        # warm the knn, aoi and window paths twice (the first pass still
        # compiles) on a fixed stream, apart from the seeded one
        warm = random.Random(-1)
        for kind in QUERY_CYCLE[:6]:
            _, run, check = self._op(kind, warm)
            check(run()[0])

    def next_op(self) -> Op:
        self.n_ops += 1
        return self._op(QUERY_CYCLE[(self.n_ops - 1) % len(QUERY_CYCLE)], self.rng)

    def _op(self, kind: str, rng: random.Random) -> Op:
        if kind in ("knn", "knn_sparse"):
            if kind == "knn":
                sx, sy = rng.choice(datagen.HOT_SPOTS)
                lon, lat = sx + rng.uniform(-1.0, 1.0), sy + rng.uniform(-1.0, 1.0)
            else:
                lon, lat = rng.uniform(-160.0, 160.0), rng.uniform(-70.0, 70.0)

            def run():
                q = self.spark.createDataFrame(
                    [(0, lon, lat)], "query_id long, lon double, lat double"
                )
                return knn.knn_join(q, self.scenes, k=KNN_K).collect(), {}

            return (
                kind,
                run,
                lambda rows: self.oracle.check_knn(lon, lat, KNN_K, [r.asDict() for r in rows]),
            )
        if kind == "aoi":
            aoi_id = rng.choice(self.aoi_ids)
            return (
                "aoi",
                lambda: (
                    assign.assign_tiles(
                        self.tiles, self.aoi.filter(self.aoi.aoi_id == aoi_id)
                    ).collect(),
                    {},
                ),
                lambda rows: self.oracle.check_aoi(aoi_id, [r.asDict() for r in rows]),
            )
        i = rng.randrange(QUERY_IMAGES)
        h, w = datagen.image_dims(i)
        ntx, nty = w // datagen.TILE, h // datagen.TILE
        tx0, ty0 = rng.randrange(ntx), rng.randrange(nty)
        window = (tx0, ty0, rng.randrange(tx0, ntx), rng.randrange(ty0, nty))
        iid = f"img{i:012d}"

        def run():
            def one(df):
                return df.filter(df.image_id == iid)

            engine = loader.ImageEngine(one(self.images), qa_masks=one(self.qa), dem=one(self.dem))
            return engine.load(WINDOW_BANDS, clean="clean", window=window).collect(), {}

        return (
            "window",
            run,
            lambda rows: self.oracle.check_window(i, window, [r.asDict() for r in rows]),
        )


WORKLOADS = {w.name: w for w in (BatchWorkload, QueryWorkload)}
