"""Single-thread timings outside Spark: a host-noise control and the decode
and index-kernel cost per image on a fixed sample of the workload's images."""

from __future__ import annotations

import random
import time

import numpy as np
import pandas as pd

from eoreader_spark import codecs, datagen
from eoreader_spark.functions import indices

SAMPLE_SEED = 0  # fixed, so every run times the same images
SAMPLE_SIZE = 24
MIN_TIMED_S = 0.3


def host_control() -> float:
    """Fixed pure-numpy job (gradient and blend passes over a raster)."""
    rng = np.random.RandomState(0)
    a = rng.randint(0, 256, (768, 768)).astype(np.float64)
    t0 = time.perf_counter()
    s = 0.0
    for _ in range(40):
        s += float(np.abs(np.diff(a, axis=0)).sum() + np.abs(np.diff(a, axis=1)).sum())
        a = a * 0.99 + np.roll(a, 1, axis=0) * 0.01
    return time.perf_counter() - t0


def _repeat_ms_per_item(fn, n_items: int) -> float:
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= MIN_TIMED_S:
            return elapsed * 1000.0 / (reps * n_items)


def decode_and_kernel_ms(n_images: int, index_names: list[str]) -> tuple[float, float]:
    """(decode ms/image, index-kernel ms/image) over a fixed sample of
    images 0..n_images-1, timed with ``indices.decode_planes`` and the
    registry kernels as index_stats_scan runs them."""
    ids = random.Random(SAMPLE_SEED).sample(range(n_images), min(SAMPLE_SIZE, n_images))
    rows = []
    for i in ids:
        h, w = datagen.image_dims(i)
        fmt = datagen.image_fmt(i)
        rows.append((codecs.encode(codecs.make_image(i, h, w), fmt), fmt, h, w))
    pdf = pd.DataFrame(rows, columns=["bytes", "fmt", "h", "w"])
    decode_ms = _repeat_ms_per_item(lambda: indices.decode_planes(pdf), len(ids))

    imgs = indices.decode_planes(pdf)
    needs = indices.needed_bands(index_names)
    fns = [indices.INDEX_REGISTRY[n][1] for n in index_names]

    def kernels():
        for img in imgs:
            bands = {b: indices.to_reflectance(img[indices.PLANE_OF[b]]) for b in needs}
            for fn in fns:
                v = fn(bands).astype("float64")
                v.mean(), v.min(), v.max()

    return decode_ms, _repeat_ms_per_item(kernels, len(ids))
