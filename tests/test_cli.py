"""End-to-end CLI test: synthetic grids + regions CSV → zips + metadata."""

from __future__ import annotations

import json
import os
import zipfile

import pytest

from geospatial_etl_pipeline_spark import cli
from geospatial_etl_pipeline_spark.sources.asc import write_asc


@pytest.fixture(scope="module")
def io_dirs(tmp_path_factory):
    src = tmp_path_factory.mktemp("asc_in")
    out = tmp_path_factory.mktemp("asc_out")
    # two grids with valid parameter (01) / period (monthly2, annual) codes
    for i, (param, period) in enumerate([("01", "monthly2"), ("02", "annual")]):
        cells = [float((r * 5 + c + i) % 30) for r in range(10) for c in range(10)]
        write_asc(str(src / f"vcsn_{param}_x_y_mean_{period}.asc"), 10, 10, cells)
    regions = src / "regions.csv"
    regions.write_text(
        "regc_code,region_name_ascii,wkt\n"
        '01,Northland Region,"POLYGON((0 0, 10 0, 10 6, 0 6, 0 0))"\n'
        '09,Wellington Region,"POLYGON((2 2, 8 2, 8 9, 2 9, 2 2))"\n'
        "99,Area Outside Region,\n"
    )
    return src, out, regions


def test_cli_end_to_end(spark, io_dirs):
    src, out, regions = io_dirs
    result = cli.run(
        spark,
        str(src),
        str(out),
        regions_csv=str(regions),
        bucket_name="climate-bucket",
        s3prefix="/products/",
        strict=True,
    )
    # 2 grids x 2 real regions (99 excluded)
    assert result["products"] == 4
    assert result["zips"] == 4
    assert result["metadata_docs"] == 4

    zips = sorted(os.listdir(out / "zips"))
    assert len(zips) == 4 and all(z.endswith(".zip") for z in zips)
    with zipfile.ZipFile(out / "zips" / zips[0]) as zf:
        names = sorted(zf.namelist())
        assert names[0].endswith(".asc") and names[1].endswith(".stats.json")
        assert names[2].endswith(".tif")
        stats = json.loads(zf.read(names[1]))
        assert stats["n_cells"] > 0
        # the .tif is a REAL Cloud-Optimized GeoTIFF: tiled, deflated,
        # with an overview pyramid (round-trips through our decoder)
        from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

        tif = decode_cog(zf.read(names[2]))
        assert tif["width"] == 10 and tif["crs"] == "EPSG:27200"
        assert tif["tile_px"] % 16 == 0
        assert len(tif["overviews"]) >= 1
        assert all(o["reduced_resolution"] for o in tif["overviews"])

    docs = sorted(p for p in os.listdir(out) if p.endswith(".json"))
    assert len(docs) == 4
    meta = json.loads((out / docs[0]).read_text())
    assert meta["geojson"]["type"] == "Polygon"
    assert "$date" in meta["dateMin"] and "$date" in meta["updatedAt"]
    # product name carries the dim-decoded parts + region title
    assert any("Northland" in d or "Wellington" in d for d in docs)

    # upload targets honor the slash-stripped prefix (REF:377-394)
    assert result["upload_targets"][0].startswith(
        "s3a://climate-bucket/products/"
    )


def test_cli_passthrough_without_regions(spark, io_dirs):
    src, out, _ = io_dirs
    out2 = str(out) + "_noregions"
    result = cli.run(spark, str(src), out2)
    assert result["products"] == 2  # one pseudo-region, no clip
    assert result["zips"] == 2


def _executed_operators(spark, plan) -> list:
    """Every operator instance that runs when ``plan`` (executed) runs: a
    cached relation's plan counts once however many scans read it,
    adaptive plans contribute their final plan, reused exchanges nothing."""
    jvm = spark.sparkContext._jvm
    seen: set[int] = set()
    out: list = []

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        out.append(node)
        if cls == "InMemoryTableScanExec":
            builder = node.relation().cacheBuilder()
            key = jvm.System.identityHashCode(builder)
            if key not in seen:
                seen.add(key)
                walk(builder.cachedPlan())
            return
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(plan)
    return out


def test_build_products_runs_each_kernel_once(spark, io_dirs, tmp_path):
    """Products built the way cli.run builds them decode and mask once
    each: no clip/pass-through Union, and the stats join is a broadcast,
    so no exchange carries the cell arrays. A null-WKT region passes
    through the same mask kernel unclipped."""
    src, _, _ = io_dirs
    regions_csv = tmp_path / "regions.csv"
    regions_csv.write_text(
        "regc_code,region_name_ascii,wkt\n"
        '01,Northland Region,"POLYGON((0 0, 10 0, 10 6, 0 6, 0 0))"\n'
        "02,Auckland Region,\n"
    )
    with cli._cache_scope() as keep:
        rasters = keep(cli.read_asc(spark, str(src)))
        regions = cli.load_regions(spark, str(regions_csv))
        products = keep(cli.build_products(spark, rasters, regions, keep))
        rows = {r["product_name"]: r for r in products.collect()}
        ops = _executed_operators(spark, products._jdf.queryExecution().executedPlan())

    names = [op.nodeName() for op in ops]
    kernels = sorted(
        op.toString().split("(")[0].split()[-1] for op in ops
        if op.nodeName() == "MapInPandas"
    )
    assert kernels == ["decode", "mask"], kernels
    assert "Union" not in names
    shuffled = [
        op.output().toString() for op in ops
        if op.getClass().getSimpleName() == "ShuffleExchangeExec"
    ]
    assert not any("cells#" in cols for cols in shuffled), shuffled

    assert len(rows) == 4
    for name, row in rows.items():
        if name.endswith("_Auckland"):
            assert row["n_cells"] == 100  # passed through unmasked
        else:
            assert 0 < row["n_cells"] < 100
