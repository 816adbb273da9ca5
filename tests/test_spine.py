"""End-to-end spine: synth pages -> byte-identical text extraction ->
geocode -> cell encode -> broadcast PIP join -> admin assignment.

This exercises the whole engine spine (scan -> Arrow UDF -> broadcast
join -> window -> agg) on local Spark, including the north-rule
invariants: byte-identity per url, exact join assignments vs a pure
numpy oracle, and plan shape (broadcast, no fact-side pre-join shuffle).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from posmspark import cells, geom, joins, synth, textx
from posmspark.joins import pip_join, prepare_boundaries, with_cell

N_PAGES = 2000


@pytest.fixture(scope="module")
def pages(spark):
    return synth.pages_df(spark, N_PAGES).cache()


@pytest.fixture(scope="module")
def prepared():
    return prepare_boundaries(synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf())


def test_byte_identical_extraction(spark, pages):
    """BASELINE.json invariant: extract_text(html) == text for every url."""
    df = textx.with_extracted_text(pages)
    bad = df.filter(
        ~F.col("text_extracted").eqNullSafe(F.col("text"))
    ).count()
    assert bad == 0
    # and it's bytes, not just string equality: compare re-encoded bytes
    bad2 = df.filter(
        F.encode(F.col("text_extracted"), "UTF-8") != F.encode(F.col("text"), "UTF-8")
    ).count()
    assert bad2 == 0


def test_geocode_parse(spark, pages):
    df = textx.with_geocode(pages)
    n = df.count()
    n_geo = df.filter(F.col("lat").isNotNull()).count()
    assert 0.6 * n < n_geo < 0.8 * n  # ~70% geotagged
    # parsed values re-format to the exact token in the text
    bad = df.filter(F.col("lat").isNotNull()).filter(
        ~F.col("text").contains(F.format_string("geo: %.5f, %.5f", "lat", "lon"))
    ).count()
    assert bad == 0


def _assert_matches_numpy_oracle(spark, pages, prepared):
    lcols = [f"osm_id_l{lv}" for lv in range(prepared.n_levels)]
    geo = with_cell(textx.with_geocode(pages)).filter(F.col("lat").isNotNull())
    out = pip_join(geo, prepared, spark).select("url", "lon", "lat", *lcols)
    got = out.toPandas().set_index("url").sort_index()

    levels = prepared.levels_pdf
    ordered = levels.sort_values("insert_order")

    def oracle(lon, lat, level):
        for r in ordered[ordered.adminlevel == level].itertuples(index=False):
            if geom.points_in_multipolygon(
                np.array([lon]), np.array([lat]), prepared.polys_by_id[r.osm_id]
            )[0]:
                return r.osm_id
        return None

    sample = got.sample(n=300, random_state=42) if len(got) > 300 else got
    for url, row in sample.iterrows():
        for lv, col in enumerate(lcols):
            exp = oracle(row.lon, row.lat, lv)
            assert row[col] == exp or (exp is None and pd.isna(row[col])), (
                url, lv, row[col], exp)


def test_pip_join_matches_numpy_oracle(spark, pages, prepared):
    """Join assignments must equal a brute-force numpy oracle exactly
    (the reference-semantics golden: first insert_order match wins)."""
    _assert_matches_numpy_oracle(spark, pages, prepared)


def test_pip_join_matches_numpy_oracle_4_levels(spark, pages):
    """Same golden with a 4-deep hierarchy (reference levels 1..10,
    extract_all.py:92-121): the generalized resolve index + schema must
    assign osm_id_l3 exactly."""
    prepared4 = prepare_boundaries(
        synth.gen_boundaries_pdf(), synth.gen_admin_mapping_pdf(), n_levels=4
    )
    assert prepared4.n_levels == 4
    l3 = prepared4.levels_pdf.query("adminlevel == 3")
    assert set(l3.osm_id) == {"R1111", "R1112"}
    assert set(l3.is_in) == {"R1110"}
    _assert_matches_numpy_oracle(spark, pages, prepared4)


def test_pip_join_counts_stable_across_parallelism(spark, pages, prepared):
    """North-rule invariant: identical results across partition counts."""
    geo = with_cell(textx.with_geocode(pages)).filter(F.col("lat").isNotNull())
    a = pip_join(geo.repartition(4), prepared, spark)
    b = pip_join(geo.repartition(32), prepared, spark)
    agg_a = a.groupBy("osm_id_l0", "osm_id_l1", "osm_id_l2").count()
    agg_b = b.groupBy("osm_id_l0", "osm_id_l1", "osm_id_l2").count()
    assert agg_a.exceptAll(agg_b).count() == 0
    assert agg_b.exceptAll(agg_a).count() == 0


def test_pip_join_plan_is_map_only(spark, pages, prepared):
    """The assignment operator must be shuffle-free and Python-free:
    one broadcast of the prepared index table, no shuffle Exchange and
    no Python evaluation node anywhere in its plan."""
    import re

    geo = textx.with_ingest_jvm(pages).filter(F.col("lat").isNotNull())
    out = pip_join(geo, prepared, spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_fused_ingest_matches_reference_kernels(spark, pages):
    """with_ingest (fused hot path) must agree with the standalone
    extract_text_udf + geocode_udf reference kernels row-for-row."""
    from posmspark.joins import cell_udf

    fused = textx.with_ingest(pages).select("url", "text_ok", "lat", "lon",
                                            "cell")
    sep0 = textx.with_geocode(textx.with_extracted_text(pages))
    sep = sep0.select(
        "url",
        F.col("text_extracted").eqNullSafe(F.col("text")).alias("text_ok"),
        "lat", "lon",
        cell_udf(F.col("lon"), F.col("lat")).alias("cell"),
    )
    assert fused.exceptAll(sep).count() == 0
    assert sep.exceptAll(fused).count() == 0
    # all synthetic pages satisfy byte identity
    assert fused.filter(~F.col("text_ok")).count() == 0


def test_jvm_cell_encoder_matches_numpy(spark, pages):
    """cell_column (JVM expression) must be bit-identical to the numpy
    encoder used on the broadcast/cover side."""
    from posmspark import cells
    from posmspark.joins import cell_udf, cell_udf_at

    geo = textx.with_geocode(pages).filter(F.col("lat").isNotNull())
    both = geo.select(
        cells.cell_column("lon", "lat").alias("jvm"),
        cell_udf(F.col("lon"), F.col("lat")).alias("py"),
    )
    assert both.filter(~F.col("jvm").eqNullSafe(F.col("py"))).count() == 0

    # edge inputs, bit for bit against the numpy encoder at several
    # resolutions: the antimeridian (lon 180 lands in the last column,
    # not past it), the poles, out-of-range coords that must clamp, and
    # NaN/null, where numpy's -1 must be a null cell
    lons = [-180.0, 180.0, 180.00001, -180.00001, 500.0, -500.0, 0.0,
            -0.0, 12.34567, float("nan"), None]
    lats = [-90.0, 90.0, 91.0, -91.0, 0.0, -45.5, float("nan"), None]
    pairs = [(x, y) for x in lons for y in lats]
    edge = spark.createDataFrame(pairs, "lon double, lat double")
    for res in (8, 10, 12):
        got = edge.select(
            "lon", "lat",
            cells.cell_column("lon", "lat", res).alias("cell"),
            cell_udf_at(res)(F.col("lon"), F.col("lat")).alias("py"),
        ).collect()
        assert len(got) == len(pairs)
        lon = np.array([np.nan if r.lon is None else r.lon for r in got])
        lat = np.array([np.nan if r.lat is None else r.lat for r in got])
        want = cells.encode(lon, lat, res)
        for r, w in zip(got, want):
            assert r.cell == r.py == (None if w == -1 else int(w)), (res, r, w)


def test_hot_cell_skew_exists(spark, pages):
    """The synthetic generator must produce the mandated hot-cell skew."""
    geo = with_cell(textx.with_geocode(pages)).filter(F.col("lat").isNotNull())
    top = (geo.groupBy("cell").count().orderBy(F.desc("count")).limit(1)
           .collect()[0])
    total = geo.count()
    assert top["count"] > 0.05 * total  # one cell holds >5% of the docs


def test_jvm_ingest_matches_arrow_kernel(spark, pages):
    """The pure-JVM ingest path (pipeline hot path) must be
    bit-identical to the fused Arrow kernel on every column, and its
    plan must contain NO Python evaluation."""
    cols = ["url", "text_ok", "lat", "lon", "cell"]
    jvm = textx.with_ingest_jvm(pages).select(cols)
    py = textx.with_ingest(pages).select(cols)
    assert jvm.exceptAll(py).count() == 0
    assert py.exceptAll(jvm).count() == 0
    plan = jvm._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan, plan[:800]


def _bsp_rects(x0, y0, x1, y1, rng, depth):
    if depth == 0 or rng.random() < 0.25:
        return [(x0, y0, x1, y1)]
    if rng.random() < 0.5 and x1 - x0 > 1:
        xm = x0 + (x1 - x0) * rng.uniform(0.3, 0.7)
        return (_bsp_rects(x0, y0, xm, y1, rng, depth - 1)
                + _bsp_rects(xm, y0, x1, y1, rng, depth - 1))
    elif y1 - y0 > 1:
        ym = y0 + (y1 - y0) * rng.uniform(0.3, 0.7)
        return (_bsp_rects(x0, y0, x1, ym, rng, depth - 1)
                + _bsp_rects(x0, ym, x1, y1, rng, depth - 1))
    return [(x0, y0, x1, y1)]


def _fuzz_boundaries(seed: int) -> pd.DataFrame:
    """Random boundary rows: two BSP-split countries at irrational
    coords, levels 1 and 2 split again, one overlapping duplicate
    level-1 region per country, shuffled into random input order."""
    rng = np.random.default_rng(seed)
    rows, order = [], iter(range(10000))
    cid = 0
    for c in range(2):
        cx = c * 40 + rng.uniform(0, 3) * np.pi
        cy = rng.uniform(-20, 20)
        W, H = rng.uniform(8, 14, 2)
        rows.append(synth._row(f"C{cid}", f"c{c}", f"c{c}", "2", "aa",
                               "administrative",
                               [[synth.rect(cx, cy, cx + W, cy + H)]],
                               next(order)))
        cid += 1
        for i, (a, b, x, y) in enumerate(
                _bsp_rects(cx, cy, cx + W, cy + H, rng, 2)):
            rows.append(synth._row(f"C{cid}", f"l1-{c}-{i}", None, "4",
                                   None, "administrative",
                                   [[synth.rect(a, b, x, y)]],
                                   next(order)))
            cid += 1
            for j, (p, q, r, s) in enumerate(
                    _bsp_rects(a, b, x, y, rng, 2)):
                rows.append(synth._row(f"C{cid}", f"l2-{c}-{i}-{j}",
                                       None, "6", None,
                                       "administrative",
                                       [[synth.rect(p, q, r, s)]],
                                       next(order)))
                cid += 1
        aa = cx + rng.uniform(0, W / 2)
        bb = cy + rng.uniform(0, H / 2)
        rows.append(synth._row(f"C{cid}", f"dup-{c}", None, "4", None,
                               "administrative",
                               [[synth.rect(aa, bb, aa + W / 3,
                                            bb + H / 3)]], next(order)))
        cid += 1
    return pd.DataFrame(rows).sample(
        frac=1, random_state=seed).reset_index(drop=True)


def test_pip_join_random_hierarchy_fuzz(spark):
    """r03 fuzz class: the cover-map + PIP assignment must match the
    first-insert_order-match oracle on RANDOM hierarchies too — BSP
    countries at irrational coords, shuffled input order, overlapping
    duplicate level-1 regions (8-seed external run clean; 2 pinned).
    The hierarchy itself is checked against the same oracle: every
    level >= 1 row's is_in and country come from its representative
    point."""
    mapping = synth.gen_admin_mapping_pdf()
    overrides = mapping.set_index("country_osm_id")

    def tag_for(country, level):
        key = f"admin_level_{level}"
        if country in overrides.index:
            return str(int(overrides.loc[country, key]))
        return str(synth.ADMIN_DEFAULTS[key])

    for seed in (0, 3):
        bpdf = _fuzz_boundaries(seed)
        prepared = prepare_boundaries(bpdf, mapping)

        prng = np.random.default_rng(seed + 999)
        lon = np.concatenate([prng.uniform(-10, 100, 150),
                              prng.uniform(0, 14, 100)])
        lat = np.concatenate([prng.uniform(-40, 40, 150),
                              prng.uniform(-20, 20, 100)])
        pts = spark.createDataFrame(pd.DataFrame({
            "url": [f"u{i}" for i in range(len(lon))],
            "lon": lon, "lat": lat}))
        lcols = [f"osm_id_l{lv}" for lv in range(prepared.n_levels)]
        got = (pip_join(with_cell(pts), prepared, spark)
               .select("url", "lon", "lat", *lcols)
               .toPandas().set_index("url"))

        ordered = prepared.levels_pdf.sort_values("insert_order")

        def oracle(lo, la, level):
            for r in ordered[ordered.adminlevel == level].itertuples(
                    index=False):
                if geom.points_in_multipolygon(
                        np.array([lo]), np.array([la]),
                        prepared.polys_by_id[r.osm_id])[0]:
                    return r.osm_id
            return None

        for url, row in got.iterrows():
            for lv, col in enumerate(lcols):
                exp = oracle(row.lon, row.lat, lv)
                assert row[col] == exp or (
                    exp is None and pd.isna(row[col])), (seed, url, lv)

        raw_level = dict(zip(bpdf.osm_id, bpdf.admin_level.astype(str)))
        children = prepared.levels_pdf[prepared.levels_pdf.adminlevel >= 1]
        assert set(children.adminlevel) == {1, 2}, seed
        for r in children.itertuples(index=False):
            x, y = geom.representative_point(prepared.polys_by_id[r.osm_id])
            assert r.is_in == oracle(x, y, r.adminlevel - 1), (seed, r.osm_id)
            country = oracle(x, y, 0)
            assert country is not None, (seed, r.osm_id)
            assert raw_level[r.osm_id] == tag_for(country, r.adminlevel), (
                seed, r.osm_id)


def _parity_points(prepared, seed: int, n: int = 200_000) -> np.ndarray:
    """(lon, lat) rows: n seeded uniform points over the boundaries'
    bbox plus one degree, then the adversarial set: every ring vertex,
    every edge midpoint, the corners and edge midpoints of every cover
    cell, and NaN, +-180 and +-90 coordinates."""
    rings = [r for polys in prepared.polys_by_id.values()
             for rs in polys for r in rs]
    verts = np.vstack(rings)
    (x0, y0), (x1, y1) = verts.min(axis=0) - 1, verts.max(axis=0) + 1
    rng = np.random.default_rng(seed)
    uniform = np.c_[rng.uniform(x0, x1, n), rng.uniform(y0, y1, n)]
    mids = np.vstack([(r[:-1] + r[1:]) / 2 for r in rings])
    c0, r0, c1, r1 = cells.cell_bounds(prepared.resolve_index()[0])
    cx, cy = (c0 + c1) / 2, (r0 + r1) / 2
    cell_pts = np.vstack([np.c_[a, b] for a in (c0, c1) for b in (r0, r1)]
                         + [np.c_[cx, r0], np.c_[cx, r1],
                            np.c_[c0, cy], np.c_[c1, cy]])
    odd = [(np.nan, 1.0), (1.0, np.nan), (np.nan, np.nan)] + [
        (x, y) for x in (-180.0, 0.0, 180.0) for y in (-90.0, 0.0, 90.0)]
    return np.vstack([uniform, verts, mids, cell_pts, np.array(odd)])


@pytest.mark.parametrize("boundaries", ["default", "fuzz0", "fuzz3"])
def test_pip_join_bit_identical_to_resolve_points(spark, boundaries):
    """The JVM join and Project must give _resolve_points' answer on
    every level of every point: 200k seeded uniform points plus the
    adversarial set (_parity_points), on the pipeline's prepared
    boundaries and on both fuzz hierarchies. A point on a ring vertex
    or edge, or on a cell's side, is where a dropped edge or a changed
    rounding would show."""
    from posmspark.pipeline import default_prepared

    if boundaries == "default":
        prepared = default_prepared()
    else:
        prepared = prepare_boundaries(_fuzz_boundaries(int(boundaries[4:])),
                                      synth.gen_admin_mapping_pdf())
    xy = _parity_points(prepared, seed=17)
    n = prepared.n_levels
    exp = joins._resolve_points(xy[:, 0], xy[:, 1], prepared.resolve_index(),
                                prepared.polys_by_id, n)
    pdf = pd.DataFrame({"i": np.arange(len(xy)), "lon": xy[:, 0],
                        "lat": xy[:, 1]})
    for lv in range(n):
        pdf[f"exp{lv}"] = pd.Series(exp[:, lv], dtype=object)
    got = pip_join(spark.createDataFrame(pdf), prepared, spark)
    differs = ~F.col("osm_id_l0").eqNullSafe(F.col("exp0"))
    for lv in range(1, n):
        differs = differs | ~F.col(f"osm_id_l{lv}").eqNullSafe(
            F.col(f"exp{lv}"))
    bad = got.filter(differs).limit(5).collect()
    assert not bad, bad
    assert sum(x is not None for x in exp[:, 0]) > 1000  # not vacuous


def test_ingest_kernels_agree_on_adversarial_html(spark):
    """r03 fuzz: the Arrow and JVM ingest kernels must agree cell-for-
    cell on adversarial inputs — malformed UTF-8 at the slice cut and
    raw binary junk ROUTE OUT as text_ok=False rather than crashing the
    task (the old Arrow kernel decoded the slice and died)."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(80):
        body = " ".join(rng.choice([
            "plain", "ümlaut ßharp", "日本語", "emoji 😀", "<p>tag</p>",
            "lat=1.5 lon=2.5", "x" * 200]) for _ in range(rng.randint(1, 6)))
        rows.append((f"u{i}", pd.Timestamp("2025-01-01", tz="UTC"),
                     body.encode(), body if i % 2 else body + "X", "en"))
    for i in range(80, 100):
        rows.append((f"u{i}", pd.Timestamp("2025-01-01", tz="UTC"),
                     bytes([rng.randrange(256)
                            for _ in range(rng.randint(0, 40))]),
                     "claim", "en"))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "text", "lang"]))
    cols = ["text_ok", "lat", "lon", "cell"]
    a = textx.with_ingest(df).select("url", *cols).toPandas().set_index(
        "url").sort_index()
    b = textx.with_ingest_jvm(df).select("url", *cols).toPandas().set_index(
        "url").sort_index()
    for u in a.index:
        for c in cols:
            va, vb = a.loc[u, c], b.loc[u, c]
            assert (pd.isna(va) and pd.isna(vb)) or va == vb, (u, c, va, vb)
