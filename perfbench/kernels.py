"""Single-threaded rates of the public kernels on a fixed sample of the
workload's own inputs. A kernel that a workload does not run reports 0."""

from __future__ import annotations

import time
from statistics import median

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

KERNELS = ("functions.codecs.decode_mpx_per_s",
           "functions.resampling.downsample_mpx_per_s",
           "functions.tiff.encode_cog_mpx_per_s",
           "operators.polygonize.label_components_mpx_per_s",
           "functions.cellindex.cell_of_per_s",
           "operators.pip.st_contains_point_per_s")


def _rate(fn, units: float, budget_s: float = 0.3, min_reps: int = 3) -> float:
    """Median units/s over repeated calls filling budget_s."""
    fn()
    rates = []
    end = time.perf_counter() + budget_s
    while len(rates) < min_reps or time.perf_counter() < end:
        t0 = time.perf_counter()
        fn()
        rates.append(units / (time.perf_counter() - t0))
    return median(rates)


def _landcover(inputs: gen.Inputs) -> dict:
    from godal_spark.functions import codecs, resampling, tiff
    from godal_spark.operators import polygonize

    t = pq.read_table(inputs.paths["images"], columns=["bytes", "w", "h", "fmt"]).to_pylist()
    mosaic = inputs.data["mosaic"]
    mpx = mosaic.size / 1e6
    tile = np.ascontiguousarray(mosaic[:256, :256])

    def decode():
        for r in t:
            codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"])

    half = resampling.downsample2x2(mosaic, alg="nearest")
    return {
        "functions.codecs.decode_mpx_per_s":
            _rate(decode, sum(r["w"] * r["h"] for r in t) / 1e6),
        "functions.resampling.downsample_mpx_per_s":
            _rate(lambda: resampling.downsample2x2(mosaic, alg="nearest"), mpx),
        "functions.tiff.encode_cog_mpx_per_s":
            _rate(lambda: tiff.encode_cog([mosaic, half], tile=(256, 256),
                                          compression="deflate"),
                  (mosaic.size + half.size) / 1e6),
        "operators.polygonize.label_components_mpx_per_s":
            _rate(lambda: polygonize.label_components(tile), tile.size / 1e6),
    }


def _geo(inputs: gen.Inputs) -> dict:
    from godal_spark.functions import cellindex
    from godal_spark.operators import pip

    a = inputs.data
    lon, lat = a["lon"], a["lat"]
    # refine sample: image centres against 64 of the footprint WKBs
    wkb = pq.read_table(inputs.paths["footprints"], columns=["geometry"]) \
        .column("geometry").to_pylist()
    n = 20_000
    geoms = pd.Series([wkb[i % 64] for i in range(n)])
    px, py = pd.Series(lon[:n]), pd.Series(lat[:n])
    return {
        "functions.cellindex.cell_of_per_s":
            _rate(lambda: cellindex.cell_of(lon, lat, 11), float(lon.size)),
        "operators.pip.st_contains_point_per_s":
            _rate(lambda: pip.st_contains_point.func(geoms, px, py), float(n)),
    }


def rates(workload: str, inputs: gen.Inputs) -> dict:
    out = dict.fromkeys(KERNELS, 0.0)
    if workload == "landcover_cog":
        out.update(_landcover(inputs))
    elif workload == "geo_join":
        out.update(_geo(inputs))
    return out
