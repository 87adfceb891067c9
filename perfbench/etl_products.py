"""etl_products: the reference's own job through ``cli.run``.

A seeded grid tree (``GRIDS`` grids of ``SIZE``x``SIZE`` cells, ~4%
NODATA) and 16 seeded region polygons of 100-200 vertices (plus the
``99`` row the ETL must skip) go through ``cli.run`` in strict mode with
a bucket and s3prefix (manifest-only upload): decode, clip per region,
stats, naming, COG encode, one zip and one metadata document per product.

Closed loop, one client: pass 0 is the cold CLI invocation
(``cold_s``), then warm passes repeat until the run's seconds are used
(at least ``MIN_WARM``; their median is ``warm_s``). Every pass writes
to its own output folder; all of them are checked.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
import zipfile
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import timed

GRIDS = 8
SIZE = 120
MIN_WARM = 3
BUCKET, PREFIX = "perfbench-products", "climate/products"
CRS = "EPSG:27200"


def run(bench, tracer, session_setup_s: float) -> None:
    # input generation is repeatable; the session start is once per process
    gen_times = []
    for i in range(3):
        with timed(gen_times):
            root = os.path.join(bench.work, f"input{i}")
            layout = gen.write_grid_tree(root, bench.seed, GRIDS, SIZE)
    bench.metric_unless_traced("setup_s", session_setup_s + statistics.median(gen_times), "s")
    grids_dir, regions_csv = os.path.join(root, "grids"), os.path.join(root, "regions.csv")

    from geospatial_etl_pipeline_spark import cli

    outputs: list = []  # (output folder, cli.run result) per pass

    def one_pass() -> float:
        out = os.path.join(bench.work, f"out{len(outputs)}")
        t0 = time.perf_counter()
        res = cli.run(bench.spark, grids_dir, out, regions_csv=regions_csv,
                      bucket_name=BUCKET, s3prefix=PREFIX, crs=CRS, strict=True)
        dt = time.perf_counter() - t0
        outputs.append((out, res))
        return dt

    # a traced run needs one warm pass, the reference for its traced pass
    min_warm = 1 if bench.trace else MIN_WARM
    t_start = time.perf_counter()
    cold = one_pass()
    warm = []
    while len(warm) < min_warm or time.perf_counter() - t_start < bench.seconds:
        warm.append(one_pass())

    bench.samples.update(cli_run_s=[cold] + warm)
    if bench.trace:
        # the untraced reference: the passes just before and after it
        pass_span = traced_pass(bench, tracer, one_pass, outputs, layout)
        bench.trace_pass = (pass_span, (warm[-1] + one_pass()) / 2)
    else:
        bench.metric("cold_s", cold, "s")
        bench.metric("warm_s", statistics.median(warm), "s")

    verify(bench, layout, outputs)


# ---- traced pass ------------------------------------------------------------

# cli's module-level names the traced pass wraps -> span name.
# build_products calls clip_to_polygon and raster_stats through the same
# module globals, so their spans nest inside cli.build_products.
TRACED = {
    "read_asc": "sources.asc.read_asc",
    "load_regions": "cli.load_regions",
    "build_products": "cli.build_products",
    "clip_to_polygon": "operators.raster.clip_to_polygon",
    "raster_stats": "operators.raster.raster_stats",
    "product_files": "operators.geotiff.encode",
    "write_product_zips": "operators.sinks.write_product_zips",
    "write_metadata_json": "operators.sinks.write_metadata_json",
}


@contextmanager
def traced_cli(tracer):
    """Replace the ``TRACED`` names on the cli module with wrappers that
    open a span around the call and materialize (cache + count) the
    DataFrame it returns. Yields span name -> (the value returned, its
    row count or None); restores the module and unpersists on exit."""
    from pyspark.sql import DataFrame

    from geospatial_etl_pipeline_spark import cli

    returned: dict = {}
    cached = []

    def wrap(real, name):
        @functools.wraps(real)
        def call(*args, **kwargs):
            with tracer.span(name):
                out = real(*args, **kwargs)
                rows = None
                if isinstance(out, DataFrame):
                    cached.append(out.cache())
                    rows = out.count()
            returned[name] = (out, rows)
            return out
        return call

    originals = {attr: getattr(cli, attr) for attr in TRACED}
    try:
        for attr, name in TRACED.items():
            setattr(cli, attr, wrap(originals[attr], name))
        yield returned
    finally:
        for attr, real in originals.items():
            setattr(cli, attr, real)
        for df in cached:
            df.unpersist()


def traced_pass(bench, tracer, one_pass, outputs, layout) -> dict:
    """One ``cli.run`` with its layer calls in spans; returns the pass
    span. Its output is checked like every other pass's."""
    from pyspark.sql import functions as F

    with traced_cli(tracer) as returned:
        with tracer.span("cli.run") as pass_span:
            one_pass()
        stats, stats_rows = returned["operators.raster.raster_stats"]
        kept = stats.agg(F.sum("n_cells")).first()[0]
        files, _ = returned["operators.geotiff.encode"]
        tif_bytes = files.filter(F.col("path").endswith(".tif")).agg(
            F.sum(F.length("content"))).first()[0]
        _, n_products = returned["cli.build_products"]
    n_zips, _ = returned["operators.sinks.write_product_zips"]
    n_docs, _ = returned["operators.sinks.write_metadata_json"]

    out = outputs[-1][0]
    zip_dir = os.path.join(out, "zips")
    written = sum(os.path.getsize(os.path.join(zip_dir, f)) for f in os.listdir(zip_dir))
    written += sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)
                   if f.endswith(".json"))
    n_cells = layout["size"] ** 2
    valid_in = sum(int((c != gen.NODATA).sum()) for c in layout["grids"].values()) * len(gen.REGIONS)

    def dur(name):
        return tracer.duration(tracer.find(name)[0])

    m = bench.metric
    decode_s = dur("sources.asc.read_asc")
    m("sources.asc.decode_s", decode_s, "s")
    m("sources.asc.cells_per_s", len(layout["grids"]) * n_cells / decode_s, "1/s")
    m("operators.raster.clip_s", dur("operators.raster.clip_to_polygon"), "s")
    m("operators.raster.clip_keep_ratio", kept / valid_in, "ratio")
    m("operators.raster.stats_s", dur("operators.raster.raster_stats"), "s")
    m("operators.raster.stats_rows", stats_rows, "count")
    m("cli.build_products_s", dur("cli.build_products"), "s")
    m("operators.geotiff.encode_s", dur("operators.geotiff.encode"), "s")
    m("operators.geotiff.bytes_out", tif_bytes, "bytes")
    m("operators.geotiff.bytes_per_cell", tif_bytes / (n_products * n_cells), "bytes")
    m("operators.sinks.zip_s", dur("operators.sinks.write_product_zips"), "s")
    m("operators.sinks.zip_files", n_zips, "count")
    m("operators.sinks.metadata_s", dur("operators.sinks.write_metadata_json"), "s")
    m("operators.sinks.metadata_files", n_docs, "count")
    m("operators.sinks.bytes_written_per_input_byte", written / layout["input_bytes"], "ratio")
    return pass_span


# ---- output checks ----------------------------------------------------------

def inside_polygon(ring: np.ndarray, size: int) -> np.ndarray:
    """Cell-centre-in-polygon mask by scanline: per cell row, the x of
    every edge crossing at the row's centre line, sorted; centres between
    crossings 2k and 2k+1 are inside. Independent of the engine's
    per-point even-odd test."""
    cs = gen.GRID_CELLSIZE
    xs = gen.GRID_XLL + (np.arange(size) + 0.5) * cs
    ytop = gen.GRID_YLL + size * cs
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    mask = np.zeros((size, size), dtype=bool)
    for r in range(size):
        y = ytop - (r + 0.5) * cs
        hit = (y1 > y) != (y2 > y)
        cross = np.sort(x1[hit] + (y - y1[hit]) * (x2[hit] - x1[hit]) / (y2[hit] - y1[hit]))
        for a, b in zip(cross[::2], cross[1::2]):
            mask[r] |= (xs > a) & (xs < b)
    return mask.ravel()


def expected_products(layout) -> dict:
    """product name -> (masked cells, stats, metadata doc sans updatedAt)."""
    from geospatial_etl_pipeline_spark.functions.naming import MONTH_SEASON, PARAMETER

    size = layout["size"]
    extent = size * gen.GRID_CELLSIZE
    x0, y0, x1, y1 = gen.GRID_XLL, gen.GRID_YLL, gen.GRID_XLL + extent, gen.GRID_YLL + extent
    ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    masks = {code: inside_polygon(r, size) for code, r in layout["regions"].items()}
    out = {}
    for grid, cells in layout["grids"].items():
        parts = grid.split("_")
        stem = f"{PARAMETER[parts[1]]}_{parts[4]}_1991-2020_{MONTH_SEASON[parts[-1]]}"
        for code, mask in masks.items():
            title = gen.REGIONS[code].split(" Region")[0]
            name = f"{stem}_{title}"
            clipped = np.where(mask, cells, gen.NODATA)
            valid = clipped[clipped != gen.NODATA]
            stats = {"n_cells": int(valid.size),
                     "min": float(valid.min()) if valid.size else None,
                     "max": float(valid.max()) if valid.size else None,
                     "mean": float(valid.mean()) if valid.size else None}
            doc = {"title": name,
                   "geojson": {"type": "Polygon", "coordinates": [ring]},
                   "dateMin": {"$date": "1991-01-01T00:00:00Z"},
                   "dateMax": {"$date": "2020-12-31T00:00:00Z"},
                   "footprint_crs": CRS}
            out[name] = (clipped, stats, doc)
    return out


def parse_asc(text: str) -> tuple[dict, np.ndarray]:
    lines = text.split("\n", 6)
    header = {k.lower(): float(v) for k, v in (ln.split() for ln in lines[:6])}
    return header, np.array(lines[6].split(), dtype=np.float64)


def check_product(bench, name, members: dict, expected, size: int) -> bool:
    from geospatial_etl_pipeline_spark.operators.geotiff import decode_cog

    cells, stats, _ = expected
    want = {f"{name}.tif", f"{name}.asc", f"{name}.stats.json"}
    if not bench.check(set(members) == want, f"{name}: zip members {sorted(members)}"):
        return False
    got = json.loads(members[f"{name}.stats.json"])
    ok = got["n_cells"] == stats["n_cells"] and got["min"] == stats["min"] \
        and got["max"] == stats["max"] and (
            got["mean"] == stats["mean"] or abs(got["mean"] - stats["mean"])
            <= 1e-9 * abs(stats["mean"]))
    if not bench.check(ok, f"{name}: stats {got} != {stats}"):
        return False
    header, asc = parse_asc(members[f"{name}.asc"].decode())
    ok = (header["ncols"] == size and header["nrows"] == size
          and header["xllcorner"] == gen.GRID_XLL and header["yllcorner"] == gen.GRID_YLL
          and header["cellsize"] == gen.GRID_CELLSIZE
          and header["nodata_value"] == gen.NODATA and np.array_equal(asc, cells))
    if not bench.check(ok, f"{name}: .asc differs from the independent clip"):
        return False
    tif = decode_cog(members[f"{name}.tif"])
    ok = (tif["width"] == size and tif["height"] == size and tif["crs"] == CRS
          and tif["cellsize"] == gen.GRID_CELLSIZE and tif["xllcorner"] == gen.GRID_XLL
          and np.array_equal(np.asarray(tif["cells"]), asc))
    return bench.check(ok, f"{name}: .tif does not decode to the .asc cells")


def read_zip(path: str) -> dict:
    # members, not archive bytes: zipfile stamps wall-clock times
    with zipfile.ZipFile(path) as zf:
        return {n: zf.read(n) for n in zf.namelist()}


def read_doc(path: str) -> dict:
    with open(path) as f:
        doc = json.load(f)
    doc.pop("updatedAt", None)
    return doc


def verify(bench, layout, outputs) -> None:
    """Untimed. The last pass is checked against independent expectations;
    every other pass must match it member for member."""
    expected = expected_products(layout)
    names = sorted(expected)
    size = layout["size"]
    ref_out, _ = outputs[-1]
    reference = {}
    for name in names:
        zpath = os.path.join(ref_out, "zips", f"{name}.zip")
        members = read_zip(zpath) if os.path.exists(zpath) else {}
        doc_path = os.path.join(ref_out, f"{name}.json")
        ok = check_product(bench, name, members, expected[name], size)
        ok = ok and bench.check(os.path.exists(doc_path) and read_doc(doc_path) == expected[name][2],
                                f"{name}: metadata document differs")
        reference[name] = members if ok else None
    targets = {f"s3a://{BUCKET}/{PREFIX}/{n}.zip" for n in names}

    for out, res in outputs:
        bench.attempted += len(names)
        bad = set()
        for name in names:
            if reference[name] is None:
                bad.add(name)
                continue
            zpath = os.path.join(out, "zips", f"{name}.zip")
            doc_path = os.path.join(out, f"{name}.json")
            if out != ref_out and not (
                    os.path.exists(zpath) and read_zip(zpath) == reference[name]
                    and os.path.exists(doc_path) and read_doc(doc_path) == expected[name][2]):
                bench.check(False, f"{out}: {name} differs from the checked pass")
                bad.add(name)
        extra = (set(os.listdir(os.path.join(out, "zips")))
                 - {f"{n}.zip" for n in names})
        manifest = set(pq.read_table(os.path.join(out, "_upload_manifest"))
                       .column("upload_target").to_pylist())
        ok = bench.check(not extra, f"{out}: unexpected zips {sorted(extra)[:3]}")
        ok &= bench.check(manifest == targets, f"{out}: upload manifest differs")
        ok &= bench.check(res["products"] == res["zips"] == res["metadata_docs"] == len(names)
                          and res["n_upload_targets"] == len(names),
                          f"{out}: cli.run counts {res['products']}/{res['zips']}")
        bench.failed += len(names) if not ok else len(bad)
