"""Rasterize family + vector surface goldens."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from godal_spark import datagen
from godal_spark.functions import geom as G
from godal_spark.operators import rasterize as RZ, vector as V

SQ = G.box(100, 0, 101, 1)
GT3 = [99.1, 1, 0, 1.9, 0, -1]  # 3x3 grid, extent 99.1,-0.9 → 102.1,1.9


def test_rasterize_grid_golden(spark):
    # godal_test.go:2391-2417: 9x9, -te 99 -1 102 2, init 10, burn 20
    fps = datagen.canonical_footprints(spark)
    out = RZ.rasterize(fps, te=(99, -1, 102, 2), ts=(9, 9), init=10, burn=20)
    r = out.first()
    arr = np.frombuffer(r.payload, np.uint8).reshape(9, 9)
    assert (arr == 10).sum() == 72
    assert (arr == 20).sum() == 9


def test_rasterize_geometry_default_all_bands():
    # godal_test.go:2477-2487: default burns 0 into all bands at center px
    img = np.full((3, 3, 3), 255, np.uint8)
    out = RZ.rasterize_geometry_array(img, SQ, GT3)
    assert out[1, 1].tolist() == [0, 0, 0]
    assert out[0, 0].tolist() == [255, 255, 255]
    assert out[2, 2].tolist() == [255, 255, 255]


def test_rasterize_geometry_values_sequence():
    # godal_test.go:2496-2512: 200,200,200 → 100,200,200 → 1,2,3 → 5,6,3
    img = np.full((3, 3, 3), 255, np.uint8)
    img = RZ.rasterize_geometry_array(img, SQ, GT3, values=[200])
    assert img[1, 1].tolist() == [200, 200, 200]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0], values=[100])
    assert img[1, 1].tolist() == [100, 200, 200]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, values=[1, 2, 3])
    assert img[1, 1].tolist() == [1, 2, 3]
    img = RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0, 1], values=[5, 6])
    assert img[1, 1].tolist() == [5, 6, 3]


def test_rasterize_geometry_errors():
    # godal_test.go:2514-2521
    img = np.full((3, 3, 3), 255, np.uint8)
    with pytest.raises(ValueError):
        RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0], values=[1, 2])
    with pytest.raises(ValueError):
        RZ.rasterize_geometry_array(img, SQ, GT3, bands=[0, 2, 3], values=[1, 2, 3])


def test_rasterize_all_touched():
    # godal_test.go:2453-2458: -at lights the top-left pixel too
    img = np.full((3, 3), 255, np.uint8)
    plain = RZ.rasterize_geometry_array(img, SQ, GT3, values=[0])
    at = RZ.rasterize_geometry_array(img, SQ, GT3, values=[0], all_touched=True)
    assert plain[0, 0] == 255
    assert at[0, 0] == 0
    assert at[1, 1] == 0
    assert (at != plain).any()


def test_layer_bounds_golden(spark):
    # godal_test.go:2713-2715: [100,0,101,1]
    fps = datagen.canonical_footprints(spark)
    assert V.layer_bounds(fps) == (100.0, 0.0, 101.0, 1.0)


def test_st_functions_sql(spark):
    V.register_st_functions(spark)
    fps = datagen.canonical_footprints(spark)
    fps.createOrReplaceTempView("fps")
    rows = spark.sql(
        "SELECT fid, st_area(geometry) AS a, st_astext(geometry) AS wkt FROM fps").collect()
    assert all(r.a == 1.0 for r in rows)
    assert all(r.wkt == "POLYGON ((100 0,101 0,101 1,100 1,100 0))" for r in rows)
    # SELECT 1 golden (godal_test.go:2565-2576)
    assert spark.sql("SELECT 1").first()[0] == 1


def test_vector_translate_roundtrip(spark, tmp_path):
    fps = datagen.canonical_footprints(spark)
    # geojson out → read back
    p = str(tmp_path / "out_geojson")
    V.vector_translate(fps, p, "geojson")
    back = V.read_geojson(spark, p)
    assert back.count() == 2
    g = G.from_wkb(bytes(back.first().geometry))
    assert g.bounds() == (100.0, 0.0, 101.0, 1.0)
    # csv out with WKT geometry
    p2 = str(tmp_path / "out_csv")
    V.vector_translate(fps, p2, "csv")
    got = spark.read.option("header", True).csv(p2)
    assert got.count() == 2 and "POLYGON" in got.first().geometry


def test_reproject_layer_roundtrip(spark):
    fps = datagen.canonical_footprints(spark)
    out = V.reproject_layer(fps, "EPSG:4326", "EPSG:3857")
    b = V.layer_bounds(out)
    assert b[0] == pytest.approx(11131949.0793, rel=1e-6)
    back = V.reproject_layer(out, "EPSG:3857", "EPSG:4326")
    bb = V.layer_bounds(back)
    assert np.allclose(bb, (100, 0, 101, 1), atol=1e-9)


def test_loose_casts(spark):
    # godal.go:3074-3166: unparsable → 0, numeric strings parse
    df = spark.createDataFrame(
        [("12",), ("3.7",), ("abc",), (None,)], "v string")
    got = [r.i for r in df.select(V.loose_int("v").alias("i")).collect()]
    assert got == [12, 3, 0, 0]
    gotf = [r.f for r in df.select(V.loose_float("v").alias("f")).collect()]
    assert gotf == [12.0, 3.7, 0.0, 0.0]


@pytest.mark.parametrize("eight", [False, True])
def test_polygonize_tiles_matches_gathered(spark, eight):
    """Cross-tile distributed polygonize == per-image gather on feature
    (value, n_pixels) multisets and total area, incl. components that
    snake across many tiles."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    rng = np.random.default_rng(13)
    arr = rng.integers(0, 4, (24, 33), dtype=np.uint8) * 50
    arr[5, :] = 200     # full-width stripe crossing all tile columns
    arr[:, 11] = 200    # full-height stripe -> one big cross component
    images = datagen.images_df(spark, [datagen.image_row("big", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    assert tiles.count() > 8  # genuinely multi-tile

    gathered = PZ.polygonize(tiles, eight=eight).collect()
    dist = PZ.polygonize_tiles(tiles, eight=eight).collect()

    gm = sorted((r.value, r.n_pixels) for r in gathered)
    dm = sorted((r.value, r.n_pixels) for r in dist)
    assert gm == dm
    assert sum(r.area for r in gathered) == pytest.approx(sum(r.area for r in dist))
    # the cross component spans many tiles and must come back as ONE row
    big = [r for r in dist if r.n_pixels >= 24 + 33 - 1]
    assert len(big) == 1 and big[0].value == 200.0
    assert big[0].n_parts > 4
    # geometry assembled (<= max_geom_parts): pixel-count == area AND the
    # cross-tile rings are truly DISSOLVED — identical ring structure to
    # the same component polygonized without tiling
    from godal_spark.functions import geom as G
    g = G.from_wkb(bytes(big[0].geometry))
    assert g.area() == pytest.approx(big[0].n_pixels)
    gbig = [r for r in gathered if r.n_pixels == big[0].n_pixels
            and r.value == 200.0]
    gg = G.from_wkb(bytes(gbig[0].geometry))

    def canon(geom):
        out = []
        for rings in geom.polygons():
            for r in rings:
                pts = {(float(x), float(y)) for x, y in r[:-1]}
                out.append((len(r), tuple(sorted(pts))))
        return sorted(out)
    assert canon(g) == canon(gg)


def test_polygonize_tiles_distributed_root_resolution(spark):
    """Force the distributed pointer-doubling path (max_border_edges=0):
    must match the gathered result exactly, including a long chain
    component (stress for propagation convergence)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    arr = np.zeros((8, 64), dtype=np.uint8)
    arr[3, :] = 7          # 64-px chain crossing 16 tiles (bw=4)
    arr[0, ::3] = 9        # scattered singles
    images = datagen.images_df(spark, [datagen.image_row("chain", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    gathered = PZ.polygonize(tiles, eight=False).collect()
    dist = PZ.polygonize_tiles(tiles, eight=False, max_border_edges=0).collect()
    assert sorted((r.value, r.n_pixels) for r in gathered) == \
        sorted((r.value, r.n_pixels) for r in dist)
    chain = [r for r in dist if r.value == 7.0]
    assert len(chain) == 1 and chain[0].n_pixels == 64 and chain[0].n_parts == 16


def test_polygonize_mask_band_operator(spark):
    """Reference Mask(band) option at the OPERATOR level: a mask band of
    zeros over the top-left 4x4 quarter excludes those pixels. Derived
    by hand on the 8x8 diag image (4-conn): 4 surviving diagonal
    singletons; the valid background splits into two 22-px components
    (TR + upper BR triangle / BL + lower BR triangle)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL
    from godal_spark import datagen

    diag = datagen.pixels_diag(8)
    mask = np.ones((8, 8), dtype=np.uint8)
    mask[:4, :4] = 0
    # two-band image: band 0 = data, band 1 = mask
    arr = np.stack([diag, mask], axis=-1)
    images = datagen.images_df(spark, [datagen.image_row("m", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=4, bh=4)
    feats = PZ.polygonize(tiles, eight=False, mask_band=1).collect()
    assert all(f.band == 0 for f in feats)
    counts = {}
    for f in feats:
        counts.setdefault(f.value, []).append(f.n_pixels)
    assert sorted(counts[128.0]) == [1, 1, 1, 1]
    assert sorted(counts[64.0]) == [22, 22]


def test_rasterize_tiles_match_monolithic(spark):
    """Distributed per-tile burn == single-array kernel, including
    geometries that cross tile seams, concave shapes, and -at; and the
    plan contains no driver-side collect of pixel data."""
    import inspect
    import pandas as pd
    from godal_spark.operators import rasterize as RZm

    src = inspect.getsource(RZm)
    assert ".collect()" not in src  # scale invariant: pixels stay on executors

    # concave L-shape + two boxes, seams at every 8 px on a 40x24 grid
    geoms = [
        G.box(100.05, 0.05, 101.4, 0.6),
        G.box(102.0, 1.0, 103.3, 1.9),
        G.from_wkt("POLYGON ((99.5 0.2,101.9 0.2,101.9 1.8,101.2 1.8,"
                   "101.2 0.9,99.5 0.9,99.5 0.2))"),
    ]
    fps = spark.createDataFrame(
        pd.DataFrame({"fid": range(len(geoms)),
                      "geometry": [G.to_wkb(g) for g in geoms]}),
        "fid long, geometry binary")
    te, ts = (99.0, -0.5, 103.5, 2.0), (40, 24)
    for at in (False, True):
        want, gt = RZ.rasterize_array(geoms, te, ts, init=3, burn=9,
                                      all_touched=at)
        tiles = RZ.rasterize_tiles(fps, te, ts, bw=8, bh=8, init=3, burn=9,
                                   all_touched=at).collect()
        assert len(tiles) == 5 * 3  # full tile set, empty tiles included
        got = np.zeros((24, 40), np.uint8)
        for r in tiles:
            got[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = \
                np.frombuffer(r.payload, np.uint8).reshape(r.bh, r.bw)
        assert (got == want).all(), f"all_touched={at}"
        # monolithic path (executor-assembled) agrees too
        mono = RZ.rasterize(fps, te, ts, init=3, burn=9, all_touched=at,
                            block=8).first()
        assert np.frombuffer(mono.payload, np.uint8).reshape(24, 40).tolist() \
            == want.tolist()


@pytest.mark.parametrize("eight", [False, True])
def test_sieve_tiles_matches_gathered(spark, eight):
    """Distributed sieve == per-array sieve_array on a multi-tile raster
    whose small components CROSS tile borders (global size must be the
    summed size, not the per-tile size — a 6-px blob straddling a seam
    must survive threshold 5 even though each half is < 5)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.zeros((16, 24), dtype=np.uint8)
    arr[3, 6:12] = 7      # 6-px run straddling the bw=8 seam at x=8
    arr[10, 10] = 9       # 1-px speck (dies)
    arr[12:14, 15:17] = 5 # 4-px blob inside one tile (dies at t=5)
    arr[0:6, 20:24] = 3   # 24-px region (lives; the "largest neighbor")
    images = datagen.images_df(spark, [datagen.image_row("sv", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    assert tiles.count() == 6

    got_tiles = PZ.sieve_tiles(tiles, 5, eight=eight).collect()
    got = np.zeros_like(arr)
    for t in got_tiles:
        got[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, np.uint8).reshape(t.bh, t.bw)
    want = PZ.sieve_array(arr, 5, eight=eight)
    assert np.array_equal(got, want), f"eight={eight}\n{got}\n{want}"
    # the straddling 6-px run survived; the speck and the 4-px blob died
    assert (got[3, 6:12] == 7).all()
    assert got[10, 10] == 0 and (got[12:14, 15:17] == 0).all()


def test_sieve_tiles_chain_and_masked(spark):
    """Chain semantics (small A adjacent to small B adjacent to big C:
    values move ONE step per pass, sieve_array contract) and nodata
    pixels untouched."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 24), 200, dtype=np.uint8)
    arr[4, 2] = 10        # small A (1 px), neighbors: B and 200
    arr[4, 3:5] = 20      # small B (2 px), neighbors: A and 200
    arr[0, 0] = 0         # nodata pixel
    images = datagen.images_df(spark, [datagen.image_row("ch", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    got_tiles = PZ.sieve_tiles(tiles, 4, nodata=0.0).collect()
    got = np.zeros_like(arr)
    for t in got_tiles:
        got[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, np.uint8).reshape(t.bh, t.bw)
    want = PZ.sieve_array(arr, 4, valid=arr != 0)
    assert np.array_equal(got, want)
    assert got[0, 0] == 0  # nodata untouched


def test_sieve_tiles_untouched_passthrough_and_dist_path(spark):
    """Rasters with no small components pass through byte-identical;
    the forced-distributed root path (max_border_edges=0) agrees with
    the driver union-find path."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    rng = np.random.default_rng(5)
    arr = (rng.integers(0, 3, (12, 32)) * 100).astype(np.uint8)
    images = datagen.images_df(spark, [datagen.image_row("p", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    clean = PZ.sieve_tiles(tiles, 1).collect()  # nothing < 1 px
    orig = {(t.block_x, t.block_y): t.payload for t in tiles.collect()}
    for t in clean:
        assert bytes(t.payload) == bytes(orig[(t.block_x, t.block_y)])
    a = PZ.sieve_tiles(tiles, 4).collect()
    b = PZ.sieve_tiles(tiles, 4, max_border_edges=0).collect()
    am = {(t.block_x, t.block_y): bytes(t.payload) for t in a}
    bm = {(t.block_x, t.block_y): bytes(t.payload) for t in b}
    assert am == bm


def test_sieve_tiles_megapixel_smoke(spark):
    """1024x1536 raster (1.5 Mpx, 96 tiles of 128px) of 64px blocky
    regions with ~60 planted specks (some straddling tile seams):
    distributed result == sieve_array on the whole raster, and no
    sub-threshold component survives (every speck's neighbor is a large
    region, so one pass cleans them all)."""
    from godal_spark.operators import polygonize as PZ, tiling as TL

    rng = np.random.default_rng(31)
    coarse = (rng.integers(0, 3, (16, 24)) * 100).astype(np.uint8)
    arr = np.repeat(np.repeat(coarse, 64, axis=0), 64, axis=1)  # 1024x1536
    for _ in range(60):  # specks, some crossing the 128px tile seams
        y = int(rng.integers(1, 1023)); x = int(rng.integers(1, 1530))
        ln = int(rng.integers(1, 6))
        arr[y, x:x + ln] = 50
    arr[100, 126:131] = 50   # guaranteed seam-straddler at x=128
    images = datagen.images_df(spark, [datagen.image_row("mp", arr, "raw8")])
    tiles = TL.explode_tiles(images, bw=128, bh=128)
    out_tiles = PZ.sieve_tiles(tiles, 8).collect()
    got = np.zeros_like(arr)
    for t in out_tiles:
        got[t.y0:t.y0 + t.bh, t.x0:t.x0 + t.bw] = \
            np.frombuffer(t.payload, np.uint8).reshape(t.bh, t.bw)
    want = PZ.sieve_array(arr, 8)
    assert np.array_equal(got, want)
    assert 50 not in np.unique(got)  # every speck merged into a region


def test_rasterize_tiles_megapixel_smoke(spark):
    """4096x4096 target (16 Mpx, 256 tiles): distributed burn produces a
    complete tile set whose burned-pixel total matches the analytic
    count for axis-aligned boxes (center rule), with no driver-side
    pixel collect."""
    import pandas as pd

    boxes = [G.box(10.0, 10.0, 50.25, 30.75), G.box(-120.5, -45.5, -60.0, 20.0)]
    fps = spark.createDataFrame(
        pd.DataFrame({"fid": range(2), "geometry": [G.to_wkb(b) for b in boxes]}),
        "fid long, geometry binary")
    te, ts = (-180.0, -90.0, 180.0, 90.0), (4096, 4096)
    pw = 360.0 / 4096
    ph = 180.0 / 4096
    tiles = RZ.rasterize_tiles(fps, te, ts, bw=256, bh=256, init=0, burn=1)
    rows = tiles.collect()
    assert len(rows) == 16 * 16
    burned = sum(int(np.frombuffer(r.payload, np.uint8).sum()) for r in rows)

    def count_box(minx, miny, maxx, maxy):
        cx = -180.0 + (np.arange(4096) + 0.5) * pw
        cy = 90.0 - (np.arange(4096) + 0.5) * ph
        return int((np.count_nonzero((cx >= minx) & (cx <= maxx)))
                   * np.count_nonzero((cy >= miny) & (cy <= maxy)))

    want = sum(count_box(*b.bounds()) for b in boxes)  # disjoint boxes
    assert burned == want


def test_label_components_adversarial_diameter():
    """Huge-diameter components (concentric 1-px rings, perimeter up to
    ~1000 px each) must label fast — the round-4 root-hooking fix.
    Node-hooking propagated merged labels one BFS layer per round
    (O(diameter): 1,030 rounds / 17 s on a 1024^2 snaky-blob tile);
    root-hooking + pointer doubling is O(log n) rounds."""
    import time

    from godal_spark.operators.polygonize import label_components

    sp = np.zeros((256, 256), np.uint8)
    x0, y0, x1, y1 = 0, 0, 255, 255
    while x0 <= x1 and y0 <= y1:
        sp[y0, x0:x1 + 1] = 1
        sp[y0:y1 + 1, x1] = 1
        sp[y1, x0:x1 + 1] = 1
        sp[y0:y1 + 1, x0] = 1
        x0 += 2; y0 += 2; x1 -= 2; y1 -= 2
    t0 = time.perf_counter()
    lab, n = label_components(sp)
    wall = time.perf_counter() - t0
    # 64 one-valued rings + 64 zero gap rings, each its own component
    assert n == 128
    # the outermost ring is ONE component end-to-end
    assert lab[0, 0] == lab[255, 255] == lab[0, 255] == lab[255, 0]
    # and distinct from the next ring inward
    assert lab[0, 0] != lab[2, 2]
    # wall guard: ~2 s pre-fix on this input, <50 ms after
    assert wall < 1.0


def test_dissolve_rectilinear_assemble_matches_generic():
    """The vectorized dissolve's hole→shell ray-shoot assembler must
    produce bit-identical assembly to the generic O(holes × perimeter)
    G._assemble on the same ring set (round-5c kernel audit: 157 s of a
    159 s percolation dissolve was generic assembly), across density
    regimes incl. deep nesting (islands inside holes inside shells)."""
    import godal_spark.functions.geom as G
    from godal_spark.operators import polygonize as P

    captured = {}
    orig = P._assemble_rectilinear

    def capture(rings_out, ring_of, kaxis, bx, by):
        fast = orig(rings_out, ring_of, kaxis, bx, by)
        captured["fast"], captured["rings"] = fast, rings_out
        return fast

    def canon(poly_lists):
        return {pl[0].tobytes(): sorted(h.tobytes() for h in pl[1:])
                for pl in poly_lists}

    # deterministic nested fixture: frame shell, hole, island in the
    # hole, island's own hole — split across two tiles so the dissolve
    # path (not the single-polygon shortcut) runs
    nest = np.zeros((40, 40), np.uint8)
    nest[2:38, 2:38] = 1      # shell
    nest[8:32, 8:32] = 0      # hole
    nest[14:26, 14:26] = 1    # island inside the hole
    nest[18:22, 18:22] = 0    # hole inside the island
    cases = [("nest", nest, 20)]
    for seed, n, p, tile in [(7, 128, 0.62, 32), (3, 120, 0.9, 40),
                             (5, 128, 0.15, 64)]:
        rng = np.random.default_rng(seed)
        cases.append((f"rand{seed}", (rng.random((n, n)) < p).astype(np.uint8),
                      tile))

    P._assemble_rectilinear = capture
    try:
        for name, m, tile in cases:
            n = m.shape[0]
            polys = []
            for ty in range(0, n, tile):
                for tx in range(0, n, tile):
                    rings = P._trace_rings(m[ty:ty + tile, tx:tx + tile]
                                           .astype(bool))
                    polys.append([r + np.array([tx, ty]) for r in rings])
            g = P._dissolve_pixel_rings(polys)
            assert captured["fast"] is not None, f"{name}: fell back"
            slow = G._assemble(captured["rings"]).polygons()
            assert canon(captured["fast"]) == canon(slow), name
            assert abs(g.area() - float(m.sum())) < 1e-9, name
    finally:
        P._assemble_rectilinear = orig


def test_trace_rings_matches_dict_walk_reference():
    """Vectorized _trace_rings (round 5c) vs the original dict-of-lists
    walk it replaced: identical directed-edge multisets and identical
    total signed area on every mask. Ring PAIRING may differ only where
    a ring starts at a saddle (the dict walk took whichever out-edge
    was appended last there; the vectorized walk applies the CW rule
    uniformly) — on saddle-free masks the rings must be identical up to
    rotation."""
    from godal_spark.operators.polygonize import _trace_rings

    def trace_ref(mask):  # the pre-round-5c implementation, verbatim
        h, w = mask.shape
        padded = np.zeros((h + 2, w + 2), dtype=bool)
        padded[1:-1, 1:-1] = mask
        core = padded[1:-1, 1:-1]
        edges = {}
        m_top = core & ~padded[:-2, 1:-1]
        m_right = core & ~padded[1:-1, 2:]
        m_bot = core & ~padded[2:, 1:-1]
        m_left = core & ~padded[1:-1, :-2]
        segs = []
        ys, xs = np.nonzero(m_top); segs.append((xs, ys, xs + 1, ys))
        ys, xs = np.nonzero(m_right); segs.append((xs + 1, ys, xs + 1, ys + 1))
        ys, xs = np.nonzero(m_bot); segs.append((xs + 1, ys + 1, xs, ys + 1))
        ys, xs = np.nonzero(m_left); segs.append((xs, ys + 1, xs, ys))
        for (x0a, y0a, x1a, y1a) in segs:
            for x0, y0, x1, y1 in zip(x0a.tolist(), y0a.tolist(),
                                      x1a.tolist(), y1a.tolist()):
                edges.setdefault((x0, y0), []).append((x1, y1))
        DIRS = {(1, 0): 0, (0, 1): 1, (-1, 0): 2, (0, -1): 3}
        rings = []
        while edges:
            start = next(iter(edges))
            ring = [start]; cur = start; prev = None
            while True:
                outs = edges.get(cur)
                if not outs:
                    break
                if len(outs) == 1 or prev is None:
                    nxt = outs.pop()
                else:
                    outs.sort(key=lambda c: (
                        DIRS[(c[0] - cur[0], c[1] - cur[1])] - prev) % 4)
                    nxt = outs.pop(0)
                if not edges[cur]:
                    del edges[cur]
                prev = DIRS[(nxt[0] - cur[0], nxt[1] - cur[1])]
                cur = nxt; ring.append(cur)
                if cur == start:
                    break
            if len(ring) >= 4 and ring[0] == ring[-1]:
                rings.append(np.array(ring, dtype=np.float64))
        return rings

    def edgeset(rr):
        s = set()
        for r in rr:
            ri = r.astype(np.int64)
            s.update((int(a[0]), int(a[1]), int(b[0]), int(b[1]))
                     for a, b in zip(ri[:-1], ri[1:]))
        return s

    def shoelace_sum(rr):
        return sum(float(np.sum(r[:-1, 0] * np.roll(r[:-1, 1], -1)
                                - np.roll(r[:-1, 0], -1) * r[:-1, 1])) / 2
                   for r in rr)

    def canon(rr):
        out = []
        for r in rr:
            pts = [tuple(p) for p in r[:-1].tolist()]
            i = min(range(len(pts)), key=lambda k: pts[k])
            out.append(tuple(pts[i:] + pts[:i]))
        return sorted(out)

    rng = np.random.default_rng(0)
    for trial in range(40):
        n = int(rng.integers(1, 40))
        m = rng.random((n, n)) < rng.uniform(0.1, 0.95)
        old, new = trace_ref(m), _trace_rings(m)
        assert edgeset(old) == edgeset(new), trial
        assert abs(shoelace_sum(old) - shoelace_sum(new)) < 1e-9, trial
    # saddle-free fixtures: exact ring equality (up to start rotation)
    nest = np.zeros((16, 16), bool)
    nest[1:15, 1:15] = True
    nest[4:12, 4:12] = False
    nest[6:10, 6:10] = True
    for m in [np.ones((5, 7), bool), nest,
              np.pad(np.ones((3, 3), bool), 2)]:
        assert canon(trace_ref(m)) == canon(_trace_rings(m))


def test_geom_name_accessor():
    """Geometry.Name parity (godal.go:2679-2681, OGR_G_GetGeometryName):
    uppercase WKT tag per type."""
    from godal_spark.functions import geom as G

    for wkt, want in [("POINT (1 2)", "POINT"),
                      ("LINESTRING (0 0, 1 1)", "LINESTRING"),
                      ("POLYGON ((0 0,1 0,1 1,0 1,0 0))", "POLYGON"),
                      ("MULTIPOLYGON (((0 0,1 0,1 1,0 1,0 0)))",
                       "MULTIPOLYGON"),
                      ("GEOMETRYCOLLECTION (POINT (1 2))",
                       "GEOMETRYCOLLECTION")]:
        assert G.from_wkt(wkt).name() == want


def test_sieve_tiles_float_nan_border(spark):
    """Round-6 regression: the JVM border pairing must not use Spark's
    NaN = NaN (TRUE) semantics — a NaN|NaN pair across a tile seam is an
    adjacency between two singleton components (numpy semantics), never
    an equivalence. Distributed result must equal sieve_array."""
    from godal_spark import datagen
    from godal_spark.operators import polygonize as PZ, tiling as TL

    arr = np.full((8, 16), 1.0, dtype=np.float32)
    arr[2, 3] = np.nan
    arr[5, 7] = np.nan
    arr[5, 8] = np.nan  # NaN|NaN pair straddling the bw=8 seam
    arr[0:3, 12:16] = 7.0
    images = datagen.images_df(spark, [datagen.image_row("f", arr, "rawf32")])
    tiles = TL.explode_tiles(images, bw=8, bh=8)
    got_rows = PZ.sieve_tiles(tiles, 3, use_nodata_mask=False).collect()
    out = np.zeros_like(arr)
    for r in got_rows:
        a = np.frombuffer(r.payload, np.dtype(r.dtype)).reshape(r.bh, r.bw)
        out[r.y0:r.y0 + r.bh, r.x0:r.x0 + r.bw] = a
    want = PZ.sieve_array(arr, 3)
    same = (out == want) | (np.isnan(out) & np.isnan(want))
    assert same.all()
    # the same seam pairing feeds polygonize_tiles: the NaN|NaN pair
    # stays two singleton features, as in the gathered polygonize (a NaN
    # value crosses the Arrow boundary as NULL)

    def feats(rows):
        out = []
        for r in rows:
            nanlike = r.value is None or r.value != r.value
            out.append((nanlike, 0.0 if nanlike else r.value, r.n_pixels))
        return sorted(out)

    gathered = PZ.polygonize(tiles, use_nodata_mask=False).collect()
    dist = PZ.polygonize_tiles(tiles, use_nodata_mask=False).collect()
    assert feats(dist) == feats(gathered)
    assert [f for f in feats(dist) if f[0]] == [(True, 0.0, 1)] * 3


@pytest.mark.parametrize("eight", [False, True])
def test_tiles_empty_border_strips(spark, eight):
    """Zero-height tiles emit zero-length border strips: the JVM pairing
    must not index into them (a backwards sequence(1, 0) raised
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT). sieve returns the input tiles,
    polygonize returns no features."""
    from godal_spark.operators import polygonize as PZ
    from godal_spark.operators.tiling import TILE_SCHEMA

    rows = [("e", 0, 0, bx, 0, 4 * bx, 0, 4, 0, 8, 0, "uint8", b"", None)
            for bx in (0, 1)]
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)
    got = PZ.sieve_tiles(tiles, 2, eight=eight).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in rows)
    assert PZ.polygonize_tiles(tiles, eight=eight).count() == 0


@pytest.mark.parametrize("eight", [False, True])
def test_border_pairs_rows_and_plan(spark, eight):
    """The one border pairing both tile operators share: equal values
    (NaN-exclusive) are equivalences, unequal straight neighbours are
    adjacencies, diagonal and corner neighbours count only when equal,
    masked (-1) pixels, one-sided and empty strips give nothing. The
    plan is JVM built-ins only: no Python pairing stage."""
    from godal_spark.operators import polygonize as PZ

    nan = float("nan")
    rows = [
        ("i", 0, "v:4:0", "a", [5.0, 6.0, nan, 6.0], [1, 2, 3, -1]),
        ("i", 0, "v:4:0", "b", [6.0, 6.0, nan, 6.0], [7, 8, 9, 6]),
        ("i", 0, "h:0:4", "a", [2.0], [11]),          # no 'b' side
        ("i", 0, "h:4:4", "a", [], []),
        ("i", 0, "h:4:4", "b", [], []),
    ]
    if eight:  # tile-corner strips exist only under 8-connectivity
        rows += [("i", 0, "cd:4:4", "a", [3.0], [12]),
                 ("i", 0, "cd:4:4", "b", [4.0], [13]),
                 ("i", 0, "ca:8:4", "a", [4.0], [14]),
                 ("i", 0, "ca:8:4", "b", [4.0], [15])]
    strips = spark.createDataFrame(
        rows, "image_id string, band int, key string, side string, "
              "vals array<double>, cids array<long>")
    pairs = PZ._border_pairs(strips, eight)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    got = sorted((r.image_id, r.band, r.cid_a, r.cid_b, r.eq)
                 for r in pairs.collect())
    want = [("i", 0, 1, 7, False), ("i", 0, 2, 8, True),
            ("i", 0, 3, 9, False)]
    if eight:
        # a[1] = b[0] diagonally; a corner pair counts only when equal,
        # so cd (3 vs 4) is dropped and ca (4 = 4) kept
        want += [("i", 0, 2, 7, True), ("i", 0, 14, 15, True)]
    assert got == sorted(want)
