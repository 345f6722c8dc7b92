"""Seeded inputs of the benchmark.

Everything a workload reads is generated here from `--seed` and the input
size, under this directory's `.work/data/s<seed>_n<pages>/`:

  lineitem.parquet  a lineitem-shaped key table (l_orderkey, l_linenumber)
                    with TPC-H's shape: contiguous order keys, 1-7 lines
                    per order. `sources.pages.pages_df` turns it into the
                    pages table, so the page geography (30% of pages in
                    three hot cities), the outlinks and the html all come
                    from the engine's own synthesizer.
  pages/            that pages table materialized as parquet with many
                    row groups, the storage scan every op starts from.
  grid.json         the phase of the 10^4-hexagon admin grid.

The same seed and size give the same files. run.py generates them in a
child process and marks a complete directory with an empty `READY` file.
Row counts are checked before every use (`check_pages`).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

PAGE_FILES = 8  # row groups of the materialized pages table: 2 per core
HEX_SIDE = 100   # 100 x 100 = 10^4 hexagons
KNN_WORLD = 40075016680000.0  # the kNN grid extent used by bench.py
S2_WORLD = 40075016680.0      # the true mercator world in mm


def data_dir(work: str, seed: int, n_pages: int, regional: bool) -> str:
    kind = "regional" if regional else "world"
    return os.path.join(work, "data", f"{kind}_s{seed}_n{n_pages}")


def _lineitem_keys(seed: int, n_pages: int) -> tuple[np.ndarray, np.ndarray]:
    """(l_orderkey, l_linenumber) for exactly n_pages distinct page keys."""
    rng = np.random.default_rng(seed)
    n_orders = n_pages // 2 + 8  # mean 4 lines per order: always enough
    lines = rng.integers(1, 8, size=n_orders)
    base = int(rng.integers(1, 1 << 24))
    orderkey = np.repeat(np.arange(base, base + n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(len(orderkey), dtype=np.int64) - starts + 1
    return orderkey[:n_pages], linenumber[:n_pages]


def _regional_keys(seed: int, n_pages: int) -> tuple[np.ndarray, np.ndarray]:
    """Page keys of a regional extract: 30% of pages in the three hot
    cities, as everywhere, and the other 70% inside one seeded window of
    1/16 x 1/16 of the mercator world (a country-sized vector-bulk job).
    Positions follow sources/pages.py's synthesizer arithmetic exactly."""
    from avecado_spark.sources.pages import HALF_WORLD_MM, MARGIN_MM
    xhalf, yhalf = HALF_WORLD_MM - MARGIN_MM, 15000000000
    rng = np.random.default_rng(seed)
    # the window is aligned to 4 x 4 of the sink's 64 x 64 part_key buckets,
    # so every seed writes the same number of partitions
    bucket = 2 * HALF_WORLD_MM // 64
    side = 4 * bucket
    x0 = -HALF_WORLD_MM + int(rng.integers(1, 59)) * bucket
    y0 = HALF_WORLD_MM - int(rng.integers(9, 51)) * bucket - side
    n_hot = (3 * n_pages) // 10
    hot_k, win_k = [], []
    n_h = n_w = 0
    while n_h < n_hot or n_w < n_pages - n_hot:
        k = rng.integers(9, 1 << 30, size=1 << 22, dtype=np.int64)
        k = k[k % 8 != 0]
        m = k % 2147483648
        hot = (m * 2654435761 + 12345) % 100 < 30
        ux = (m * 2654435761 + 1013904223) % (2 * xhalf) - xhalf
        uy = (m * 2246822519 + 3266489917) % (2 * yhalf) - yhalf
        win = ~hot & (ux >= x0) & (ux < x0 + side) & (uy >= y0) & (uy < y0 + side)
        hot_k.append(k[hot])
        win_k.append(k[win])
        n_h += int(hot.sum())
        n_w += int(win.sum())
    hot_k = np.unique(np.concatenate(hot_k))[:n_hot]
    win_k = np.unique(np.concatenate(win_k))[:n_pages - n_hot]
    k = np.sort(np.concatenate([hot_k, win_k]))
    return k // 8, k % 8


def _write_lineitem(path: str, seed: int, n_pages: int, regional: bool) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    keys = _regional_keys if regional else _lineitem_keys
    ok, ln = keys(seed, n_pages)
    tmp = path + ".tmp"
    pq.write_table(pa.table({"l_orderkey": ok, "l_linenumber": ln}), tmp)
    os.replace(tmp, path)


def grid_phase(seed: int) -> tuple[float, float]:
    """Seeded shift of the hexagon grid, as a share of the cell spacing.
    |shift| < 0.15 keeps every hexagon (radius 0.35) inside the world."""
    rng = np.random.default_rng(seed + 7_000_003)
    return tuple(float(v) for v in rng.uniform(-0.15, 0.15, size=2))


def hex_polygons(phase: tuple[float, float], world: float,
                 n_side: int = HEX_SIDE) -> list[tuple[int, list, str]]:
    """bench.py's 10^4 hexagonal admin polygons (`_bench_polys_10k`) with
    the grid shifted by `phase` cell spacings."""
    spacing = world / n_side
    ang = np.linspace(0.0, 2 * np.pi, 7)[:-1] + 0.3
    hx = (0.35 * spacing) * np.cos(ang)
    hy = (0.35 * spacing) * np.sin(ang)
    polys = []
    for gy in range(n_side):
        for gx in range(n_side):
            cx = -world / 2 + (gx + 0.5 + phase[0]) * spacing
            cy = -world / 2 + (gy + 0.5 + phase[1]) * spacing
            i = gy * n_side + gx
            polys.append((i, [(cx + dx, cy + dy) for dx, dy in zip(hx, hy)],
                          f"adm{i}"))
    return polys


def prepare(spark, work: str, seed: int, n_pages: int,
            regional: bool = False) -> dict:
    """Generate (once per seed, size and kind) and return the input paths."""
    from avecado_spark.sources.pages import pages_df

    d = data_dir(work, seed, n_pages, regional)
    os.makedirs(d, exist_ok=True)
    li = os.path.join(d, "lineitem.parquet")
    if not os.path.exists(li):
        _write_lineitem(li, seed, n_pages, regional)
    pages = os.path.join(d, "pages")
    if not os.path.exists(os.path.join(pages, "_SUCCESS")):
        shutil.rmtree(pages, ignore_errors=True)
        pages_df(spark, d).repartition(PAGE_FILES).write.parquet(pages)
    grid = os.path.join(d, "grid.json")
    if not os.path.exists(grid):
        with open(grid + ".tmp", "w") as f:
            json.dump(grid_phase(seed), f)
        os.replace(grid + ".tmp", grid)
    return {"dir": d, "lineitem": li, "pages": pages, "grid": grid}


def column_bytes(pages_dir: str, cols) -> int:
    """Compressed bytes of the given columns over the table's files."""
    import pyarrow.parquet as pq
    total = 0
    for f in os.listdir(pages_dir):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(pages_dir, f)).metadata
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    if col.path_in_schema in cols:
                        total += col.total_compressed_size
    return total


def check_pages(spark, paths: dict, n_pages: int) -> dict:
    """Row-count and shape check of the materialized inputs; raises on a
    mismatch. Returns the facts later output checks compare against."""
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq
    li = pq.read_table(paths["lineitem"])
    if li.num_rows != n_pages:
        raise RuntimeError(f"lineitem rows {li.num_rows} != {n_pages}")
    # the synthesizer's hot-city draw (sources/pages.py `hot` < 30)
    k = (li["l_orderkey"].to_numpy() * 8 + li["l_linenumber"].to_numpy())
    hot = ((k % 2147483648) * 2654435761 + 12345) % 100 < 30
    if not 0.27 <= hot.mean() <= 0.33:
        raise RuntimeError(f"hot-city share {hot.mean():.3f} is not ~30%")
    pages = spark.read.parquet(paths["pages"])
    if len(pages.inputFiles()) < PAGE_FILES:
        raise RuntimeError("pages table has fewer files than row groups")
    r = pages.agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("urls"),
        F.sum(F.col("text").rlike(" geo:mxm=-?[0-9]+;mym=-?[0-9]+ ")
              .cast("long")).alias("geo")).first()
    if not (r["n"] == r["urls"] == r["geo"] == n_pages):
        raise RuntimeError(f"pages table: {r} for {n_pages} pages")
    with open(paths["grid"]) as f:
        phase = tuple(json.load(f))
    return {"n_pages": n_pages, "phase": phase}
