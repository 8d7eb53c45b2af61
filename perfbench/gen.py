"""Seeded input generators for the three benchmark workloads.

Each generator is pure numpy + pyarrow (no Spark, no `datagen.synth_*`,
whose seed is fixed) and writes its tables as parquet once per
(workload, seed, size) under the benchmark's work directory. The engine
only ever sees those files; the references in `checks.py` are computed
from the same in-memory arrays the files were written from.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes. A pass is bound by per-job round-trips more than by data volume;
# these keep the Spark start, the cold warm pass and one measured pass near
# one minute on a 4-core host (see LAYERS.md).
GEO_IMAGES = 20_000        # image footprints, 20% in one hot 1-degree cell
GEO_BOXES = 2_000          # box footprints, 25% in the hot cell
GEO_KNN_QUERIES = 200      # box centroids queried for their k=5 nearest images
GEO_PX = 0.001             # image pixel size, degrees
LC_GRID = 8                # LC_GRID x LC_GRID scenes ...
LC_SCENE = 64              # ... of LC_SCENE^2 px each
LC_CLASSES = (30, 60, 90, 120, 150, 180)
LC_SPECK = 250             # planted sub-threshold specks
CAP_DOCS = 20_000          # captions; every 8th near-copies its predecessor
CAP_TOKENS = 60
CAP_VOCAB = 4096
CAP_SPAN_DOCS = 4_000      # prefix of the corpus fed to substring dedup

N_FILES = 8                # parquet files per table: one scan split per file


@dataclass
class Inputs:
    """Paths handed to the engine plus the arrays the references use."""
    paths: dict[str, str]
    data: dict = field(default_factory=dict)
    input_bytes: int = 0
    items: float = 0.0          # units of work per pass (images, Mpx, captions)
    workdir: str = ""


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under path (Hadoop .crc and hidden files skipped)."""
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith(".") and not f.endswith(".crc"))


def _box_wkb(minx, miny, maxx, maxy) -> bytes:
    ring = np.array([[minx, miny], [maxx, miny], [maxx, maxy],
                     [minx, maxy], [minx, miny]], dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, 5) + ring.tobytes()


# ---------------------------------------------------------------------------
# geo_join
# ---------------------------------------------------------------------------

def geo_arrays(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    n = GEO_IMAGES
    w = rng.integers(16, 97, n).astype(np.int32)
    h = rng.integers(16, 97, n).astype(np.int32)
    hot = rng.permutation(n) < n // 5          # exactly 20%, placed at random
    lon0 = np.where(hot, 10.0 + rng.random(n) * 0.9, -170.0 + rng.random(n) * 340.0)
    top = np.where(hot, 45.1 + rng.random(n) * 0.9, -79.0 + rng.random(n) * 159.0)
    lon = lon0 + (w / 2.0) * GEO_PX
    lat = top - (h / 2.0) * GEO_PX

    m = GEO_BOXES
    bhot = rng.permutation(m) < m // 4         # exactly 25%
    cx = np.where(bhot, 10.0 + rng.random(m), -170.0 + rng.random(m) * 340.0)
    cy = np.where(bhot, 45.0 + rng.random(m), -75.0 + rng.random(m) * 150.0)
    # keep the large boxes off the hot cell: one landing there would add
    # ~20% to the pair count of that seed alone
    near_hot = ~bhot & (np.abs(cx - 10.5) < 1.5) & (np.abs(cy - 45.5) < 1.5)
    cx = np.where(near_hot, cx + 5.0, cx)
    s = np.where(bhot, 0.02, 0.1 + rng.random(m) * 0.5)
    # kNN queries: the first box centroids. About 3/4 lie outside the hot
    # cell, where images are sparse enough that some query always needs the
    # re-probe round at 4 rings (at the resolution knn.auto_res picks here,
    # 7), and, kept within 75 degrees of the equator, none needs a second
    # one: every seed runs the same job chain (checked over 120 seeds).
    q = GEO_KNN_QUERIES
    return {"img_id": np.arange(n, dtype=np.int64), "w": w, "h": h,
            "lon0": lon0, "top": top, "lon": lon, "lat": lat,
            "fid": np.arange(m, dtype=np.int64),
            "minx": cx - s, "miny": cy - s, "maxx": cx + s, "maxy": cy + s,
            "qid": np.arange(q, dtype=np.int64), "qlon": cx[:q], "qlat": cy[:q]}


def gen_geo_join(seed: int, root: str) -> Inputs:
    a = geo_arrays(seed)
    d = os.path.join(root, f"geo_join-s{seed}-n{GEO_IMAGES}")
    paths = {k: os.path.join(d, k) for k in ("images", "footprints", "queries")}
    if not os.path.exists(os.path.join(d, "_DONE")):
        gt = [[float(x0), GEO_PX, 0.0, float(t), 0.0, -GEO_PX]
              for x0, t in zip(a["lon0"], a["top"])]
        _write(pa.table({"img_id": a["img_id"], "w": a["w"], "h": a["h"],
                         "gt": pa.array(gt, pa.list_(pa.float64())),
                         "lon": a["lon"], "lat": a["lat"]}), paths["images"])
        wkb = [_box_wkb(*b) for b in zip(a["minx"], a["miny"], a["maxx"], a["maxy"])]
        _write(pa.table({"fid": a["fid"], "geometry": pa.array(wkb, pa.binary()),
                         "foo": ["bar" if f % 2 == 0 else "baz" for f in a["fid"]],
                         "srs": ["EPSG:4326"] * GEO_BOXES}), paths["footprints"])
        _write(pa.table({"fid": a["qid"], "lon": a["qlon"], "lat": a["qlat"]}),
               paths["queries"])
        open(os.path.join(d, "_DONE"), "w").close()
    return Inputs(paths, a, dir_bytes(d), float(GEO_IMAGES), root)


# ---------------------------------------------------------------------------
# landcover_cog
# ---------------------------------------------------------------------------

def landcover_mosaic(seed: int) -> np.ndarray:
    """Categorical mosaic: 32-px class blocks (every component >= 32^2 px)
    with single-row specks of 1-5 px planted strictly inside blocks, so
    each speck has exactly one neighbouring component and the sieve result
    does not depend on tie-breaks."""
    rng = np.random.default_rng([seed, 2])
    side = LC_GRID * LC_SCENE
    nb = side // 32
    classes = np.array(LC_CLASSES, dtype=np.uint8)
    coarse = classes[rng.integers(0, len(classes), (nb, nb))]
    arr = np.repeat(np.repeat(coarse, 32, axis=0), 32, axis=1)
    # one speck per 16x16 cell of a lattice, jittered, kept 3 px from any
    # block edge and tile seams allowed (seams fall on block edges only
    # when the speck is not there)
    for by in range(0, side, 16):
        for bx in range(0, side, 16):
            if rng.random() < 0.5:
                continue
            y = by + int(rng.integers(3, 13))
            ln = int(rng.integers(1, 6))
            x = bx + int(rng.integers(3, 13 - ln + 1))
            arr[y, x:x + ln] = LC_SPECK
    return arr


def gen_landcover_cog(seed: int, root: str) -> Inputs:
    from godal_spark.functions import codecs

    arr = landcover_mosaic(seed)
    d = os.path.join(root, f"landcover_cog-s{seed}-n{LC_GRID}x{LC_SCENE}")
    paths = {"images": os.path.join(d, "images")}
    if not os.path.exists(os.path.join(d, "_DONE")):
        px = 0.0001
        rows = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption",
                                "phash", "gt", "srs", "nodata")}
        for j in range(LC_GRID):
            for i in range(LC_GRID):
                tile = arr[j * LC_SCENE:(j + 1) * LC_SCENE,
                           i * LC_SCENE:(i + 1) * LC_SCENE]
                rows["image_id"].append(f"scene_{j:02d}_{i:02d}")
                rows["bytes"].append(codecs.encode(np.ascontiguousarray(tile), "png"))
                rows["w"].append(LC_SCENE)
                rows["h"].append(LC_SCENE)
                rows["fmt"].append("png")
                rows["caption"].append(f"landcover scene {j},{i}")
                rows["phash"].append(j * LC_GRID + i)
                rows["gt"].append([5.0 + i * LC_SCENE * px, px, 0.0,
                                   45.0 - j * LC_SCENE * px, 0.0, -px])
                rows["srs"].append("EPSG:4326")
                rows["nodata"].append(None)
        schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                            ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                            ("caption", pa.string()), ("phash", pa.int64()),
                            ("gt", pa.list_(pa.float64())), ("srs", pa.string()),
                            ("nodata", pa.float64())])
        _write(pa.table(rows, schema=schema), paths["images"])
        open(os.path.join(d, "_DONE"), "w").close()
    side = LC_GRID * LC_SCENE
    return Inputs(paths, {"mosaic": arr}, dir_bytes(d), side * side / 1e6, root)


# ---------------------------------------------------------------------------
# caption_dedup
# ---------------------------------------------------------------------------

def captions(seed: int) -> tuple[list[str], list[tuple[int, int]]]:
    """CAP_DOCS captions of CAP_TOKENS tokens over a uniform vocabulary;
    doc i with i % 8 == 7 copies doc i-1 with ONE token replaced (word
    5-gram Jaccard >= 51/61, above the 0.8 threshold). Returns the texts
    and the planted (id_a, id_b) pairs."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, CAP_VOCAB)
    vocab = sorted({"".join(rng.choice(letters, n)) for n in lens})
    vocab = np.array(vocab)
    toks = rng.integers(0, len(vocab), (CAP_DOCS, CAP_TOKENS))
    planted = []
    for i in range(7, CAP_DOCS, 8):
        toks[i] = toks[i - 1]
        pos = int(rng.integers(0, CAP_TOKENS))
        new = int(rng.integers(0, len(vocab)))
        while new == toks[i, pos]:
            new = int(rng.integers(0, len(vocab)))
        toks[i, pos] = new
        planted.append((i - 1, i))
    texts = [" ".join(vocab[row]) for row in toks]
    return texts, planted


def gen_caption_dedup(seed: int, root: str) -> Inputs:
    texts, planted = captions(seed)
    d = os.path.join(root, f"caption_dedup-s{seed}-n{CAP_DOCS}")
    paths = {"docs": os.path.join(d, "docs")}
    if not os.path.exists(os.path.join(d, "_DONE")):
        _write(pa.table({"doc_id": np.arange(CAP_DOCS, dtype=np.int64),
                         "text": texts}), paths["docs"])
        open(os.path.join(d, "_DONE"), "w").close()
    return Inputs(paths, {"texts": texts, "planted": planted},
                  dir_bytes(d), float(CAP_DOCS), root)


GENERATORS = {"geo_join": gen_geo_join, "landcover_cog": gen_landcover_cog,
              "caption_dedup": gen_caption_dedup}
