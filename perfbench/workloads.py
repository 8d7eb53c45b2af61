"""The three workloads: one full pipeline pass each, plus its output check.

Every call into the engine goes through `Pass.step`, which sets a Spark
job group `<pass>:<layer.op>` around the call, times the call itself
(`call_s`: eager driver-side work before a frame is returned) and then
forces the returned frame with an eager local checkpoint (`wall_s`).
Forcing each operator's output is also what a pipeline that feeds one
operator into the next must do, or Spark recomputes the upstream
lineage once per downstream action.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np

import checks
import gen


class Pass:
    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.ops: dict[str, dict] = {}
        self.t0 = self.t1 = 0.0

    def group(self, name: str) -> None:
        self.sc.setJobGroup(f"{self.tag}:{name}", name, False)

    def step(self, op: str, fn, force: bool = True):
        self.group(op)
        t0 = time.perf_counter()
        out = fn()
        t1 = time.perf_counter()
        if force:
            out = out.localCheckpoint(eager=True)
        self.ops[op] = {"call_s": t1 - t0, "wall_s": time.perf_counter() - t0}
        return out

    def __enter__(self) -> "Pass":
        self.t0 = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.t1 = time.time()
        self.group("check")


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


class Workload:
    name = unit = ""

    def __init__(self, spark, inputs: gen.Inputs):
        self.spark, self.inputs = spark, inputs
        self.ref: dict = {}

    def reference(self) -> None:
        """Build the check's reference, without the engine's Spark path."""
        raise NotImplementedError

    def run(self, p: Pass, sink: str) -> dict:
        """One pass; returns what `check` needs and the sink's byte count."""
        raise NotImplementedError

    def check(self, out: dict) -> tuple[bool, str, dict]:
        """(outputs match the reference, output digest, details)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# geo_join: block grid -> cell index + broadcast PIP -> checkpointed
# partitioned write -> kNN
# ---------------------------------------------------------------------------

class GeoJoin(Workload):
    name = "geo_join"
    unit = "images"
    res = 11

    def reference(self) -> None:
        self.ref = checks.geo_reference(self.inputs)

    def run(self, p: Pass, sink: str) -> dict:
        from pyspark.sql import functions as F

        from godal_spark.operators import knn, pip, tiling
        from godal_spark.plans import lineage

        spark, paths = self.spark, self.inputs.paths
        images = spark.read.parquet(paths["images"])
        fps = spark.read.parquet(paths["footprints"])

        def grid():
            t = tiling.with_block_grid(images.select("img_id", "w", "h", "gt"),
                                       bw=32, bh=32)
            return (t.withColumn("lon", F.col("gt")[0] + (F.col("x0") + F.col("bw") / 2.0)
                                 * F.col("gt")[1])
                     .withColumn("lat", F.col("gt")[3] + (F.col("y0") + F.col("bh") / 2.0)
                                 * F.col("gt")[5])
                     .drop("gt"))

        tiles = p.step("tiling.with_block_grid", grid)
        joined = p.step("pip.pip_join", lambda: pip.pip_join(
            tiles, fps, res=self.res, broadcast_footprints=True)
            .select("img_id", "block_x", "block_y", "fid", "foo"))
        writer = lineage.CheckpointedWriter(sink)
        metas = p.step("lineage.run_partitioned", lambda: lineage.run_partitioned(
            writer, ["bar", "baz"], lambda k: joined.filter(F.col("foo") == k)),
            force=False)
        points = images.select("img_id", "lon", "lat")
        queries = spark.read.parquet(paths["queries"])
        nn = p.step("knn.knn_join", lambda: knn.knn_join(
            queries, points, 5, q_id="fid", p_id="img_id"))
        return {"joined": joined, "knn": nn,
                "sink_bytes": sum(m["bytes"] for m in metas),
                "written_rows": sum(m["rows"] for m in metas)}

    def check(self, out: dict) -> tuple[bool, str, dict]:
        counts = {int(r["fid"]): int(r["count"])
                  for r in out["joined"].groupBy("fid").count().collect()}
        nn = sorted((int(r["fid"]), int(r["rank"]), int(r["neighbor_id"]), float(r["dist"]))
                    for r in out["knn"].select("fid", "rank", "neighbor_id", "dist").collect())
        ok_join = counts == self.ref["counts"]
        ok_rows = out["written_rows"] == sum(self.ref["counts"].values())
        ok_knn = checks.knn_matches(nn, self.ref["knn"])
        digest = _digest([sorted(counts.items()), [r[:3] for r in nn]])
        return (ok_join and ok_rows and ok_knn, digest,
                {"pairs": sum(counts.values()), "join_ok": ok_join,
                 "write_ok": ok_rows, "knn_ok": ok_knn})


# ---------------------------------------------------------------------------
# landcover_cog: warp -> sieve -> overviews -> COG
# ---------------------------------------------------------------------------

class LandcoverCog(Workload):
    name = "landcover_cog"
    unit = "Mpx"
    block = 256
    threshold = 8

    def reference(self) -> None:
        self.ref = checks.landcover_reference(self.inputs, self.threshold)

    def run(self, p: Pass, sink: str) -> dict:
        from godal_spark.operators import polygonize, tiling, warp

        spark = self.spark
        images = spark.read.parquet(self.inputs.paths["images"])
        mosaic = p.step("warp.warp", lambda: warp.warp(
            spark, images, ["-r", "nearest"], block=self.block))
        sieved = p.step("polygonize.sieve_tiles", lambda: polygonize.sieve_tiles(
            mosaic, self.threshold))
        ovr = p.step("tiling.build_overviews", lambda: tiling.build_overviews(
            sieved.select(*tiling_cols()), min_size=gen.LC_SCENE, alg="nearest",
            block=self.block))
        meta = mosaic.select("image_id", "gt", "srs").distinct()
        cog = p.step("tiling.cog_write", lambda: tiling.cog_write(
            sieved.select(*tiling_cols()).unionByName(ovr), images_meta=meta,
            tile_size=self.block, compression="deflate"))
        p.group("sink")
        rows = cog.select("image_id", "cog").collect()
        os.makedirs(sink, exist_ok=True)
        nbytes = 0
        for r in rows:
            path = os.path.join(sink, f"{r['image_id']}.tif")
            with open(path, "wb") as fh:
                fh.write(bytes(r["cog"]))
            nbytes += os.path.getsize(path)
        return {"sieved": sieved, "cogs": [bytes(r["cog"]) for r in rows],
                "sink_bytes": nbytes}

    def check(self, out: dict) -> tuple[bool, str, dict]:
        tiles = out["sieved"].select("x0", "y0", "bw", "bh", "payload").collect()
        got = checks.assemble(tiles, self.ref["sieved"].shape, self.ref["sieved"].dtype)
        ok_sieve = bool(np.array_equal(got, self.ref["sieved"]))
        ok_cog, levels = (False, 0)
        if len(out["cogs"]) == 1:
            ok_cog, levels = checks.cog_histogram_matches(out["cogs"][0], self.ref["hist"])
        digest = _digest([hashlib.sha256(got.tobytes()).hexdigest(),
                          [hashlib.sha256(c).hexdigest() for c in out["cogs"]]])
        return (ok_sieve and ok_cog, digest,
                {"sieve_ok": ok_sieve, "cog_ok": ok_cog, "cog_levels": levels})


def tiling_cols() -> list[str]:
    from godal_spark.operators.tiling import TILE_SCHEMA

    return [c.split()[0] for c in TILE_SCHEMA.split(",")]


# ---------------------------------------------------------------------------
# caption_dedup: exact -> MinHash LSH -> substring spans
# ---------------------------------------------------------------------------

class CaptionDedup(Workload):
    name = "caption_dedup"
    unit = "captions"
    threshold = 0.8
    min_recall = 0.98

    def reference(self) -> None:
        self.ref = checks.caption_reference(self.inputs)

    def run(self, p: Pass, sink: str) -> dict:
        from pyspark.sql import functions as F

        from godal_spark.operators import dedup

        docs = self.spark.read.parquet(self.inputs.paths["docs"])
        exact = p.step("dedup.exact_dedup", lambda: dedup.exact_dedup(docs))
        near = p.step("dedup.minhash_lsh_dedup", lambda: dedup.minhash_lsh_dedup(
            docs, threshold=self.threshold))
        spans = p.step("dedup.substring_duplicate_spans",
                       lambda: dedup.substring_duplicate_spans(
                           docs.filter(F.col("doc_id") < gen.CAP_SPAN_DOCS)))
        p.group("sink")
        near.write.parquet(os.path.join(sink, "near_pairs"))
        spans.write.parquet(os.path.join(sink, "spans"))
        return {"exact": exact, "near": near, "spans": spans,
                "sink_bytes": gen.dir_bytes(sink)}

    def check(self, out: dict) -> tuple[bool, str, dict]:
        ex = out["exact"].selectExpr("count(*) as g", "sum(n_copies) as n").first()
        ok_exact = (int(ex["g"]) == self.ref["distinct"]
                    and int(ex["n"]) == gen.CAP_DOCS)
        pairs = sorted((int(r["id_a"]), int(r["id_b"]), float(r["jaccard"]))
                       for r in out["near"].collect())
        precision_ok, recall = checks.near_pairs_quality(pairs, self.ref)
        spans = sorted(tuple(int(v) for v in r)
                       for r in out["spans"].select("id_a", "pos_a", "id_b", "pos_b",
                                                    "span_len").collect())
        spans_ok, span_recall = checks.spans_quality(spans, self.inputs.data["texts"],
                                                     self.ref["span_pairs"])
        digest = _digest([[p[:2] for p in pairs], spans])
        ok = ok_exact and precision_ok and recall >= self.min_recall and spans_ok
        return (ok, digest, {"exact_ok": ok_exact, "precision_ok": precision_ok,
                             "recall": recall, "spans_ok": spans_ok,
                             "span_recall": span_recall, "pairs": len(pairs),
                             "spans": len(spans)})


WORKLOADS = {w.name: w for w in (GeoJoin, LandcoverCog, CaptionDedup)}
