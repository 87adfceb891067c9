"""Seeded input generators. The program under test only ever sees the
files these write; every generator takes its seed as an argument, so the
same seed always yields byte-identical inputs.

- ``write_grid_tree``: an Esri ASCII grid tree (parameter/period
  subdirectories, reference-shaped file names) plus a regions CSV of
  star-shaped simple polygons and the ``99`` row the ETL must skip.
- ``cut_event_replay`` / ``cut_document_replay``: a landed backlog of
  stream files cut from the sf0.1 ``events`` and ``documents`` tables
  (copies of the sf0.1 test tables in ``perfbench/data/sf0.1``). Events
  are cut in event-time order with jitter well inside the 10-minute
  watermark, so the streaming results do not depend on the cut.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parameter codes and period keys the ETL's naming dims decode
# (functions/naming.py PARAMETER and MONTH_SEASON).
PARAM_CODES = ["00", "01", "02", "03", "04", "09", "11", "17", "23", "33", "34", "37"]
PERIOD_KEYS = ["annual", "seasonal1", "monthly2", "monthly7"]
# The 16 councils of REF:162-181 ("99" is appended as the excluded row).
REGIONS = {
    "01": "Northland Region", "02": "Auckland Region", "03": "Waikato Region",
    "04": "Bay Of Plenty Region", "05": "Gisborne Region",
    "06": "Hawkes Bay Region", "07": "Taranaki Region",
    "08": "Manawatu Whanganui Region", "09": "Wellington Region",
    "12": "West Coast Region", "13": "Canterbury Region",
    "14": "Otago Region", "15": "Southland Region", "16": "Tasman Region",
    "17": "Nelson Region", "18": "Marlborough Region",
}

GRID_XLL = 1_090_000.0
GRID_YLL = 4_740_000.0
GRID_CELLSIZE = 1000.0
NODATA = -9999.0


def grid_name(param: str, period: str) -> str:
    """Reference file-name schema: parts[1]=parameter code, parts[4]=
    statistic, parts[-1]=period key (REF:244-251)."""
    return f"vcsn_{param}_1991-2020_30yr_mean_{period}"


def grid_cells(rng: np.random.Generator, size: int, nodata_share: float) -> np.ndarray:
    """A smooth field plus noise, on a 0.1 lattice so the text round-trips
    exactly, with ``nodata_share`` of the cells set to NODATA."""
    yy, xx = np.mgrid[0:size, 0:size] / size
    a, b, c = rng.uniform(0.5, 3.0, 3)
    field = 10 * np.sin(a * np.pi * xx + c) * np.cos(b * np.pi * yy) + 15
    field += rng.normal(0.0, 1.0, (size, size))
    cells = np.round(field, 1)
    cells[rng.random((size, size)) < nodata_share] = NODATA
    return cells.ravel()


def star_polygon(rng: np.random.Generator, cx: float, cy: float, radius: float,
                 n_vertices: int) -> np.ndarray:
    """A simple polygon: sorted angles around a centre with a jittered
    radius (star-shaped about the centre, so the ring never crosses
    itself). Closed ring of shape (n+1, 2)."""
    theta = np.sort(rng.uniform(0.0, 2 * np.pi, n_vertices))
    r = radius * rng.uniform(0.75, 1.25, n_vertices)
    ring = np.column_stack([cx + r * np.cos(theta), cy + r * np.sin(theta)])
    return np.vstack([ring, ring[:1]])


def ring_wkt(ring: np.ndarray) -> str:
    # repr keeps every digit: the engine parses exactly these vertices
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def write_grid_tree(root: str, seed: int, n_grids: int, size: int,
                    nodata_share: float = 0.04) -> dict:
    """Write ``n_grids`` .asc grids under ``root/grids`` and
    ``root/regions.csv``. Returns the layout the verifier needs."""
    from geospatial_etl_pipeline_spark.sources.asc import asc_text

    rng = np.random.default_rng([seed, 1])
    if n_grids > len(PARAM_CODES) * len(PERIOD_KEYS):
        raise ValueError(f"at most {len(PARAM_CODES) * len(PERIOD_KEYS)} grids")
    # grid i = 12a + b gets parameter b and period (a + b) % 4: distinct
    # pairs, and every prefix mixes parameters and periods
    combos = [(PARAM_CODES[i % 12], PERIOD_KEYS[(i // 12 + i) % 4])
              for i in range(n_grids)]
    grids = {}
    for param, period in combos:
        name = grid_name(param, period)
        cells = grid_cells(rng, size, nodata_share)
        d = os.path.join(root, "grids", param, period)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{name}.asc"), "w") as f:
            f.write(asc_text(size, size, cells.tolist(), GRID_XLL, GRID_YLL,
                             GRID_CELLSIZE, NODATA))
        grids[name] = cells

    extent = size * GRID_CELLSIZE
    # each region covers about a tenth of the grid: pi r^2 = extent^2 / 10
    radius = extent * np.sqrt(0.1 / np.pi)
    regions = {}
    with open(os.path.join(root, "regions.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["regc_code", "region_name_ascii", "wkt"])
        # vertex counts 100..200 on a fixed schedule: the clip's work
        # (cells x vertices) is the same for every seed, only shapes move
        for i, (code, name) in enumerate(REGIONS.items()):
            fx, fy = rng.uniform(0.2, 0.8, 2)
            n_vertices = 100 + round(100 * i / (len(REGIONS) - 1))
            ring = star_polygon(rng, GRID_XLL + fx * extent, GRID_YLL + fy * extent,
                                radius, n_vertices)
            regions[code] = ring
            w.writerow([code, name, ring_wkt(ring)])
        w.writerow(["99", "Area Outside Region", ""])
    return {
        "grids": grids, "regions": regions, "size": size,
        "input_bytes": sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(os.path.join(root, "grids")) for fn in fns
        ),
    }


# ---- stream replay backlogs -------------------------------------------------

def cut_event_replay(events_path: str, out_dir: str, seed: int, n_files: int,
                     jitter_s: float = 300.0) -> None:
    """Cut the events table into ``n_files`` files in event-time order.
    Rows are ordered by ts + U(0, jitter_s) before cutting, so files
    overlap a little in event time but no row trails the newest event of
    an earlier file by more than ``jitter_s`` — below the 10-minute
    watermark, so no row is late."""
    table = pq.read_table(events_path)
    rng = np.random.default_rng([seed, 3])
    ts_s = table.column("ts").cast(pa.int64()).to_numpy() / 1e6
    order = np.argsort(ts_s + rng.uniform(0.0, jitter_s, len(ts_s)), kind="stable")
    _write_chunks(table.take(order), out_dir, n_files)


def cut_document_replay(docs_path: str, out_dir: str, seed: int, n_files: int) -> None:
    """Cut the documents table into ``n_files`` files in a seeded order."""
    table = pq.read_table(docs_path)
    order = np.random.default_rng([seed, 4]).permutation(table.num_rows)
    _write_chunks(table.take(order), out_dir, n_files)


def _write_chunks(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        # the file source replays in modification-time order: make it
        # the cut order, one second apart
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
