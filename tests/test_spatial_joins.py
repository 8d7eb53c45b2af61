"""PIP join, kNN join, spatial filter, skew salting, checkpoint/resume."""

import contextlib
import logging
import signal
import zlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.functions import geom as G
from godal_spark.operators import knn, pip
from godal_spark.plans import lineage, skew


def _points_df(spark, pts):
    return spark.createDataFrame(
        pd.DataFrame({"pid": range(len(pts)),
                      "lon": [p[0] for p in pts], "lat": [p[1] for p in pts]}),
        "pid long, lon double, lat double")


def test_pip_join_counts(spark):
    # canonical footprints: two identical unit squares [100,0]-[101,1]
    fps = datagen.canonical_footprints(spark)
    pts = _points_df(spark, [(100.5, 0.5), (100.9, 0.1), (99.0, 0.5), (100.5, 5.0)])
    out = pip.pip_join(pts, fps, res=10).collect()
    # 2 inside points x 2 overlapping footprints = 4 pairs
    assert len(out) == 4
    assert sorted({r.pid for r in out}) == [0, 1]
    assert sorted({r.foo for r in out}) == ["bar", "baz"]


def test_pip_join_boundary_inclusive(spark):
    fps = datagen.canonical_footprints(spark)
    pts = _points_df(spark, [(100.0, 0.0), (101.0, 1.0)])
    out = pip.pip_join(pts, fps, res=10, broadcast_footprints=True).collect()
    assert len(out) == 4  # corners count as contained


def test_pip_join_matches_bruteforce(spark):
    fps = datagen.synth_footprints(spark, 60)
    rng = np.random.default_rng(3)
    pts = [(float(lo), float(la)) for lo, la in
           zip(rng.uniform(-170, 170, 300), rng.uniform(-80, 80, 300))]
    # add points inside the hot cluster so the join is non-trivial
    pts += [(10.0 + i / 50, 45.0 + i / 60) for i in range(50)]
    pdf = _points_df(spark, pts)
    got = {(r.pid, r.fid) for r in pip.pip_join(pdf, fps, res=10).collect()}
    # brute force oracle
    fp_rows = fps.collect()
    geoms = [(r.fid, G.from_wkb(bytes(r.geometry))) for r in fp_rows]
    exp = set()
    for pid, (lon, lat) in enumerate(pts):
        for fid, g in geoms:
            if G.points_in_polygon([lon], [lat], g)[0]:
                exp.add((pid, fid))
    assert got == exp


def test_salted_pip_equals_unsalted(spark):
    fps = datagen.synth_footprints(spark, 40)
    fps = pip.with_bbox(fps).cache()
    pts = _points_df(spark, [(10.0 + i / 40, 45.0 + i / 45) for i in range(80)])
    pts = pip.with_point_cells(pts, res=10)
    fcells = pip.explode_footprint_cells(fps, res=10).drop("cell_x", "cell_y")
    plain = pts.join(fcells, "cell")
    salted = skew.salted_join(pts, fcells, on="cell", salt=4, salt_by="pid")
    refine = lambda df: df.filter(  # noqa: E731
        pip.st_contains_point(F.col("geometry"), F.col("lon"), F.col("lat")))
    a = {(r.pid, r.fid) for r in refine(plain).collect()}
    b = {(r.pid, r.fid) for r in refine(salted).collect()}
    assert a == b and len(a) > 0


def test_knn_join_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    qs = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 3, 25), rng.uniform(40, 43, 25))]
    ps = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 3, 200), rng.uniform(40, 43, 200))]
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": range(len(qs)), "lon": [q[0] for q in qs], "lat": [q[1] for q in qs]}))
    pdf = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(ps)), "lon": [p[0] for p in ps], "lat": [p[1] for p in ps]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid", res=6, rings=2).collect()
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.dist))
    assert all(r.complete for r in out)
    for qid, (qx, qy) in enumerate(qs):
        d = sorted((np.hypot(qx - px, qy - py), pid) for pid, (px, py) in enumerate(ps))[:3]
        mine = sorted(got[qid])
        assert [m[1] for m in mine] == [pid for _, pid in d]
        np.testing.assert_allclose([m[2] for m in mine], [dd for dd, _ in d], rtol=1e-9)


def test_knn_guarantee_fine_res(spark):
    """At res 10 / rings 1 cells are ~0.35° wide; neighbors ~1° away sit
    outside the ring block, so the bare ring pass would return wrong
    top-k — the re-probe tier must recover the exact answer."""
    rng = np.random.default_rng(7)
    qs = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 10, 20), rng.uniform(40, 50, 20))]
    ps = [(float(x), float(y)) for x, y in zip(rng.uniform(0, 10, 60), rng.uniform(40, 50, 60))]
    qdf = spark.createDataFrame(
        pd.DataFrame({"qid": range(len(qs)), "lon": [q[0] for q in qs], "lat": [q[1] for q in qs]}))
    pdf = spark.createDataFrame(
        pd.DataFrame({"pid": range(len(ps)), "lon": [p[0] for p in ps], "lat": [p[1] for p in ps]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid",
                       res=10, rings=1, guarantee=True).collect()
    assert all(r.complete for r in out)
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.dist))
    assert len(got) == len(qs)
    for qid, (qx, qy) in enumerate(qs):
        d = sorted((np.hypot(qx - px, qy - py), pid) for pid, (px, py) in enumerate(ps))[:3]
        mine = sorted(got[qid])
        assert [m[1] for m in mine] == [pid for _, pid in d], f"q{qid}"
        np.testing.assert_allclose([m[2] for m in mine], [dd for dd, _ in d], rtol=1e-9)


def test_knn_no_guarantee_flags_violators(spark):
    """guarantee=False: the bound check must set complete=False when the
    kth distance exceeds rings*min_cell (the round-1 bug certified it)."""
    # query at origin, 3 points ~2 cells away at res 10 (cell ~0.35 deg)
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [0.05], "lat": [0.05]}))
    pdf = spark.createDataFrame(pd.DataFrame(
        {"pid": [0, 1, 2], "lon": [0.3, 0.31, 0.32], "lat": [0.05, 0.05, 0.05]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid",
                       res=10, rings=1, guarantee=False).collect()
    # kth dist ~0.27 deg > 1 * 0.1758 (min cell at res 10) -> not certified
    assert len(out) == 3 and not any(r.complete for r in out)


def test_knn_auto_res(spark):
    pdf = spark.createDataFrame(pd.DataFrame({
        "pid": range(500),
        "lon": np.linspace(0, 5, 500), "lat": np.linspace(40, 45, 500)}))
    r = knn.auto_res(pdf, k=3, rings=2)
    assert 2 <= r <= 12
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [2.5], "lat": [42.5]}))
    out = knn.knn_join(qdf, pdf, k=3, q_id="qid", p_id="pid", res=None).collect()
    assert len(out) == 3 and all(r_.complete for r_ in out)


def test_knn_incomplete_flag(spark):
    qdf = spark.createDataFrame(pd.DataFrame({"qid": [0], "lon": [0.0], "lat": [0.0]}))
    pdf = spark.createDataFrame(pd.DataFrame({"pid": [0], "lon": [0.1], "lat": [0.1]}))
    out = knn.knn_join(qdf, pdf, k=5, q_id="qid", p_id="pid", res=6, rings=1).collect()
    assert len(out) == 1 and not out[0].complete


@contextlib.contextmanager
def _deadline(seconds: int):
    """Fail the block with TimeoutError after `seconds` (main thread only)."""
    def expire(*_):
        raise TimeoutError(f"did not finish within {seconds} s")

    old = signal.signal(signal.SIGALRM, expire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _xy_df(spark, name, xy):
    return spark.createDataFrame(
        pd.DataFrame({name: np.arange(len(xy), dtype=np.int64),
                      "lon": xy[:, 0], "lat": xy[:, 1]}),
        f"{name} long, lon double, lat double")


def _assert_exact_knn(out, qs, ps, k):
    """Rows equal the numpy (dist, id)-ordered top-k of every query, and
    `complete` is k <= |P|."""
    got = {}
    for r in out:
        got.setdefault(r.qid, []).append((r.rank, r.neighbor_id, r.dist, r.complete))
    assert sorted(got) == list(range(len(qs)))
    for qid, (qx, qy) in enumerate(qs):
        d = np.sqrt((qx - ps[:, 0]) ** 2 + (qy - ps[:, 1]) ** 2)
        want = np.lexsort((np.arange(len(ps)), d))[:k]
        mine = sorted(got[qid])
        assert [m[0] for m in mine] == list(range(1, len(want) + 1)), f"q{qid}"
        assert [m[1] for m in mine] == want.tolist(), f"q{qid}"
        np.testing.assert_allclose([m[2] for m in mine], d[want], rtol=1e-12)
        assert all(m[3] == (len(ps) >= k) for m in mine), f"q{qid}"


def _cluster(rng, n, x0, y0, w, h):
    return np.c_[rng.uniform(x0, x0 + w, n), rng.uniform(y0, y0 + h, n)]


def _knn_case(name):
    rng = np.random.default_rng(zlib.crc32(name.encode()))
    ps = _cluster(rng, 150, 0, 40, 3, 3)
    qs = _cluster(rng, 12, 0, 40, 3, 3)
    if name == "far":
        # queries far from every point: their histogram radius passes
        # max_reprobe_rings, so the brute tier joins the radius pass
        qs = np.r_[qs, [[120.0, -60.0], [-150.0, 10.0], [2.0, -80.0], [60.0, 80.0]]]
        return qs, ps, 3, {"res": None}
    if name == "antimeridian":
        ps = np.r_[_cluster(rng, 60, 179.0, -1, 0.99, 2), _cluster(rng, 60, -179.99, -1, 0.99, 2)]
        qs = np.array([[179.9, 0.0], [-179.9, 0.0], [179.9, 0.9], [-179.9, -0.9]])
        return qs, ps, 4, {"res": None}
    if name == "poles":
        ps = np.r_[_cluster(rng, 60, -10, 88, 20, 2), _cluster(rng, 60, -10, -90, 20, 2)]
        qs = np.array([[0.0, 89.9], [5.0, -89.9], [-9.0, 89.9], [0.0, 0.0]])
        return qs, ps, 4, {"res": None}
    if name in ("res10", "res12"):
        # above the histogram level, with sparse outliers the ring pass misses
        ps = np.r_[ps, _cluster(rng, 10, -20, 20, 40, 40)]
        qs = np.r_[qs, _cluster(rng, 4, -20, 20, 40, 40)]
        return qs, ps, 3, {"res": int(name[3:]), "rings": 1}
    if name == "k_gt_p":
        return qs, ps[:4], 6, {"res": 6}
    if name == "ties":
        # a 0.5-degree lattice; queries on lattice points and cell centres
        # have 4 or 5 equidistant neighbors, broken by id
        g = np.arange(0.0, 3.01, 0.5)
        ps = np.array([(x, 40.0 + y) for x in g for y in g])
        qs = np.array([[1.0, 41.0], [1.25, 41.25], [0.0, 40.0], [2.75, 42.75]])
        return qs, ps, 3, {"res": 7, "rings": 1}
    raise AssertionError(name)


@pytest.mark.parametrize("case", ["far", "antimeridian", "poles", "res10", "res12",
                                  "k_gt_p", "ties"])
def test_knn_exact_sweep(spark, case):
    """Exact (dist, id) top-k against numpy brute force across the tiers:
    histogram radius, the brute tier, wrap/pole edges, res above the
    histogram level, k > |P| and equal distances."""
    qs, ps, k, kw = _knn_case(case)
    out = knn.knn_join(_xy_df(spark, "qid", qs), _xy_df(spark, "pid", ps), k,
                       q_id="qid", p_id="pid", **kw).collect()
    _assert_exact_knn(out, qs, ps, k)


def test_knn_degenerate_inputs(spark):
    rng = np.random.default_rng(5)
    qs, ps = _cluster(rng, 8, 0, 40, 3, 3), _cluster(rng, 80, 0, 40, 3, 3)
    qdf, pdf = _xy_df(spark, "qid", qs), _xy_df(spark, "pid", ps)
    for bad in ({"k": 0}, {"k": -2}, {"k": 3, "rings": -1}):
        with pytest.raises(ValueError):
            knn.knn_join(qdf, pdf, q_id="qid", p_id="pid", **bad)
    # rings=0 used to spin forever in the doubling re-probe loop
    with _deadline(120):
        out = knn.knn_join(qdf, pdf, 3, q_id="qid", p_id="pid", res=6, rings=0).collect()
    _assert_exact_knn(out, qs, ps, 3)
    with _deadline(120):
        assert knn.knn_join(qdf, pdf.limit(0), 3, q_id="qid", p_id="pid").collect() == []
        assert knn.knn_join(qdf.limit(0), pdf, 3, q_id="qid", p_id="pid").collect() == []


def test_knn_join_one_action_before_return(spark, caplog):
    """knn_join runs only its occupancy-histogram collect before it
    returns; everything else is one lazy plan. Adaptive execution runs
    the aggregate's shuffle map stage as a job of its own, so one action
    is at most two jobs (the doubling loop ran a dozen or more). The
    runtime choice is logged on one line."""
    caplog.set_level(logging.INFO, logger="godal_spark.operators.knn")
    rng = np.random.default_rng(9)
    qs = np.r_[_cluster(rng, 20, 0, 40, 3, 3), [[40.0, 0.0]]]
    ps = _cluster(rng, 300, 0, 40, 3, 3)
    qdf, pdf = _xy_df(spark, "qid", qs), _xy_df(spark, "pid", ps)
    sc = spark.sparkContext
    group = "test_knn_one_action"
    sc.setJobGroup(group, group, False)
    try:
        out = knn.knn_join(qdf, pdf, 4, q_id="qid", p_id="pid", res=None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("", "", False)
    assert 1 <= len(jobs) <= 2, jobs
    (line,) = [r.getMessage() for r in caplog.records if r.name == knn.__name__]
    for field in ("|P|=300", "|Q|=21", "res=", "h=8", "max_radius=", "cells_over_rings=",
                  "brute=True"):
        assert field in line, line
    _assert_exact_knn(out.collect(), qs, ps, 4)


def test_knn_reprobe_passes(spark, caplog, monkeypatch):
    """The re-probe passes the histogram plans. Dense query cells at
    rings=3 certify in the ring pass alone (no re-probe). At res 12 a
    query whose level-8 cell is empty gets a coarse radius over
    max_reprobe_rings, so the brute tier is planned, but its k-th
    neighbor is 34 ring cells away: the doubling passes up to 64 rings
    certify it and no row reaches the brute tier."""
    caplog.set_level(logging.INFO, logger="godal_spark.operators.knn")
    seen = []

    def brute(q_side, *args):
        seen.append(q_side)
        return real_brute(q_side, *args)

    real_brute = knn._brute
    monkeypatch.setattr(knn, "_brute", brute)
    rng = np.random.default_rng(13)
    dense = _cluster(rng, 200, 0.1, 40.9, 2.6, 1.2)
    cluster = _cluster(rng, 400, 10.0, 45.0, 0.5, 0.3)
    for ps, qs, kw, want in [
            (dense, dense[:10], {"res": 7, "rings": 3}, "steps=[] brute=False"),
            (cluster, np.r_[cluster[:5], [[12.0, 45.1]]], {"res": 12, "rings": 2},
             "steps=[4, 8, 16, 32, 64] brute=True")]:
        caplog.clear()
        out = knn.knn_join(_xy_df(spark, "qid", qs), _xy_df(spark, "pid", ps), 3,
                           q_id="qid", p_id="pid", **kw).collect()
        (line,) = [r.getMessage() for r in caplog.records if r.name == knn.__name__]
        assert want in line, line
        _assert_exact_knn(out, qs, ps, 3)
    (rest,) = seen
    assert rest.count() == 0


def test_spatial_filter_golden(spark):
    # godal_test.go:2620-2634: 2 rows; point filter inside → 1 row
    fps = spark.createDataFrame(pd.DataFrame({
        "fid": [0, 1],
        "geometry": [G.to_wkb(G.box(0, 0, 1, 1)), G.to_wkb(G.box(10, 10, 11, 11))],
    }), "fid long, geometry binary")
    assert fps.count() == 2
    flt = G.to_wkb(G.buffer(G.point(0.5, 0.5), 0.1))
    assert pip.spatial_filter(fps, flt).count() == 1


def test_checkpoint_resume(spark, tmp_path):
    w = lineage.CheckpointedWriter(str(tmp_path / "ckpt"))
    calls = []

    def df_for_key(k):
        calls.append(k)
        return spark.range(10).withColumn("k", F.lit(k))

    metas = lineage.run_partitioned(w, ["a", "b", "c"], df_for_key)
    assert len(metas) == 3 and calls == ["a", "b", "c"]
    # resume: nothing recomputed
    calls.clear()
    metas2 = lineage.run_partitioned(w, ["a", "b", "c", "d"], df_for_key)
    assert calls == ["d"] and len(metas2) == 1
    assert w.read_all(spark).count() == 40
    lin = w.lineage()
    assert {m["key"] for m in lin} == {"a", "b", "c", "d"}
    assert all(m["rows"] == 10 and m["wall_s"] >= 0 for m in lin)


def test_pip_join_salted_param_equals_plain(spark):
    fps = datagen.synth_footprints(spark, 40)
    pts = _points_df(spark, [(10.0 + i / 40, 45.0 + i / 45) for i in range(80)])
    plain = {(r.pid, r.fid) for r in pip.pip_join(pts, fps, res=10).collect()}
    salted = {(r.pid, r.fid) for r in
              pip.pip_join(pts, fps, res=10, salt=4, salt_by="pid").collect()}
    assert plain == salted and len(plain) > 0


def test_lod_pushdown_levels(spark):
    from godal_spark.plans.skew import best_available_level, lod_pushdown
    assert best_available_level([2, 4, 8], 1.0) == 0
    assert best_available_level([2, 4, 8], 3.9) == 2
    assert best_available_level([2, 4, 8], 4.0) == 4
    assert best_available_level([2, 4, 8], 100.0) == 8
    assert best_available_level([], 10.0) == 0
    import pandas as pd
    tiles = spark.createDataFrame(pd.DataFrame(
        {"level": [0, 0, 2, 4], "x": [1, 2, 3, 4]}))
    got = lod_pushdown(tiles, [2, 4], 1.0, 5.0)
    assert [r.level for r in got.collect()] == [4]
