"""Output references, computed at set-up without the engine's Spark path.

- geo_join: DuckDB box-join counts per footprint over the same parquet
  files, and a numpy brute-force top-k with the (dist, id) tie-break.
- landcover_cog: the single-array `sieve_array` path on the whole
  mosaic, and the pixel histogram a decoded COG must reproduce.
- caption_dedup: exact word-5-gram Jaccard of the planted pairs in
  DuckDB (recall, and precision of 1), and exact-substring checks of
  every reported span.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa

import gen


def _duck(workdir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(workdir, 'duckdb_tmp')}'")
    return con


def geo_reference(inputs: gen.Inputs) -> dict:
    a = inputs.data
    con = _duck(inputs.workdir)
    try:
        con.register("boxes", pa.table({"fid": a["fid"], "minx": a["minx"],
                                         "miny": a["miny"], "maxx": a["maxx"],
                                         "maxy": a["maxy"]}))
        img = os.path.join(inputs.paths["images"], "*.parquet")
        # tiles and boxes meet on whole-degree bins (a box spans at most
        # 2x2 bins) so the exact box predicate runs on a hash join
        rows = con.execute(f"""
            WITH img AS (
              SELECT img_id, w, h, gt[1] AS g0, gt[2] AS g1, gt[4] AS g3, gt[6] AS g5
              FROM read_parquet('{img}')),
            t1 AS (SELECT *, unnest(range(0, (w + 31) // 32)) AS bx FROM img),
            t2 AS (SELECT *, unnest(range(0, (h + 31) // 32)) AS by FROM t1),
            tiles AS (
              SELECT img_id,
                g0 + (CAST(bx * 32 AS DOUBLE) + CAST(least(32, w - bx * 32) AS DOUBLE) / 2.0::DOUBLE) * g1 AS lon,
                g3 + (CAST(by * 32 AS DOUBLE) + CAST(least(32, h - by * 32) AS DOUBLE) / 2.0::DOUBLE) * g5 AS lat
              FROM t2),
            bins AS (
              SELECT b.*, unnest(range(CAST(floor(minx) AS BIGINT), CAST(floor(maxx) AS BIGINT) + 1)) AS ix
              FROM boxes b),
            bins2 AS (
              SELECT *, unnest(range(CAST(floor(miny) AS BIGINT), CAST(floor(maxy) AS BIGINT) + 1)) AS iy
              FROM bins)
            SELECT b.fid, count(*) FROM tiles t JOIN bins2 b
              ON CAST(floor(t.lon) AS BIGINT) = b.ix AND CAST(floor(t.lat) AS BIGINT) = b.iy
             AND t.lon >= b.minx AND t.lon <= b.maxx AND t.lat >= b.miny AND t.lat <= b.maxy
            GROUP BY b.fid""").fetchall()
    finally:
        con.close()
    counts = {int(f): int(n) for f, n in rows}
    # kNN: exact top-5 by (dist, id), same expression order as the engine
    plon, plat, pid = a["lon"], a["lat"], a["img_id"]
    knn = []
    for qi, (qx, qy) in enumerate(zip(a["qlon"], a["qlat"])):
        d = np.sqrt((qx - plon) ** 2 + (qy - plat) ** 2)
        order = np.lexsort((pid, d))[:5]
        knn.extend((int(a["qid"][qi]), r + 1, int(pid[j]), float(d[j]))
                   for r, j in enumerate(order))
    return {"counts": counts, "knn": sorted(knn)}


def knn_matches(got: list, want: list) -> bool:
    if len(got) != len(want):
        return False
    return all(g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-12 * max(1.0, w[3])
               for g, w in zip(got, want))


def landcover_reference(inputs: gen.Inputs, threshold: int) -> dict:
    from godal_spark.operators.polygonize import sieve_array

    sieved = sieve_array(inputs.data["mosaic"], threshold)
    return {"sieved": sieved, "hist": np.bincount(sieved.ravel(), minlength=256)}


def assemble(tiles, shape, dtype) -> np.ndarray:
    out = np.zeros(shape, dtype=dtype)
    for t in tiles:
        out[t["y0"]:t["y0"] + t["bh"], t["x0"]:t["x0"] + t["bw"]] = \
            np.frombuffer(t["payload"], dtype).reshape(t["bh"], t["bw"])
    return out


def cog_histogram_matches(buf: bytes, hist: np.ndarray) -> tuple[bool, int]:
    from godal_spark.functions import tiff

    arrays, _ = tiff.decode_tiff_all(buf)
    got = np.bincount(np.asarray(arrays[0]).ravel(), minlength=256)
    return bool(np.array_equal(got, hist)), len(arrays)


_WS = re.compile(r"\s+", re.ASCII)


def word_grams(text: str, k: int = 5) -> set[str]:
    toks = _WS.split(text.strip().lower())
    return {" ".join(toks[i:i + k]) for i in range(max(len(toks) - k, 0) + 1)}


def caption_reference(inputs: gen.Inputs) -> dict:
    texts, planted = inputs.data["texts"], inputs.data["planted"]
    con = _duck(inputs.workdir)
    try:
        docs = os.path.join(inputs.paths["docs"], "*.parquet")
        distinct = con.execute(
            f"SELECT count(DISTINCT text) FROM read_parquet('{docs}')").fetchone()[0]
        con.register("planted", pa.table({
            "id_a": np.array([p[0] for p in planted], np.int64),
            "id_b": np.array([p[1] for p in planted], np.int64)}))
        rows = con.execute(f"""
            WITH d AS (
              SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              FROM read_parquet('{docs}')),
            g AS (
              SELECT doc_id, list_distinct(list_transform(
                       range(0, greatest(len(t) - 5, 0) + 1),
                       i -> array_to_string(t[i + 1:i + 5], ' '))) AS sh
              FROM d),
            j AS (
              SELECT p.id_a, p.id_b, len(list_intersect(a.sh, b.sh)) AS inter,
                     len(a.sh) AS na, len(b.sh) AS nb
              FROM planted p JOIN g a ON a.doc_id = p.id_a JOIN g b ON b.doc_id = p.id_b)
            SELECT id_a, id_b, inter / (na + nb - inter) FROM j""").fetchall()
    finally:
        con.close()
    jac = {(int(a), int(b)): float(v) for a, b, v in rows}
    span_pairs = {p for p in planted if p[1] < gen.CAP_SPAN_DOCS}
    return {"distinct": int(distinct), "jaccard": jac, "texts": texts,
            "span_pairs": span_pairs}


def near_pairs_quality(pairs: list, ref: dict, threshold: float = 0.8) -> tuple[bool, float]:
    """Precision 1: every reported pair has exact Jaccard >= threshold and
    the reported value matches it. Recall over planted pairs at or above
    the threshold."""
    jac, texts = ref["jaccard"], ref["texts"]
    for a, b, j in pairs:
        want = jac.get((a, b))
        if want is None:
            ga, gb = word_grams(texts[a]), word_grams(texts[b])
            want = len(ga & gb) / len(ga | gb)
        if want < threshold or abs(want - j) > 1e-6:
            return False, 0.0
    truth = {k for k, v in jac.items() if v >= threshold}
    found = {(a, b) for a, b, _ in pairs}
    return True, len(truth & found) / max(len(truth), 1)


def spans_quality(spans: list, texts: list, span_pairs: set,
                  min_span: int = 40) -> tuple[bool, float]:
    """Every span is an exact, maximal shared substring of >= min_span
    chars; recall is the share of planted pairs with at least one span."""
    for a, i, b, j, n in spans:
        ta, tb = texts[a], texts[b]
        if n < min_span or ta[i:i + n] != tb[j:j + n]:
            return False, 0.0
        left = i > 0 and j > 0 and ta[i - 1] == tb[j - 1]
        right = i + n < len(ta) and j + n < len(tb) and ta[i + n] == tb[j + n]
        if left or right:
            return False, 0.0
    found = {(a, b) for a, _, b, _, _ in spans}
    return True, len(span_pairs & found) / max(len(span_pairs), 1)
