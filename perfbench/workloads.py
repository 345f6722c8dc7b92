"""The four workloads: the ops each repetition times, their output checks
and, for the traced run, the cut points that split an op into layers.

Every op starts from the seeded pages table and calls the engine's public
functions directly (api, keys, encode, adminizer, plans.pipeline,
sources.manifest, webgraph, dedup). An op's `run` returns the count of
items it processed; its `check` returns a list of failure messages.
Checks run outside the timed window.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

from avecado_spark import api
from avecado_spark.functions.mercator import tile_x_expr, tile_y_expr
from avecado_spark.operators import adminizer, dedup, encode, keys, webgraph
from avecado_spark.plans import pipeline
from avecado_spark.sources import manifest

import inputs
from spans import skew

GEO_RE = r"geo:mxm=(-?\d+);mym=(-?\d+)"
URL_PREFIX_LEN = 31  # 'https://crawl.example.org/page/'
# set-up runs the engine calls of every op on this many pages, so that
# first-call costs (JIT, python worker imports, UDF pickling, index
# builds) fall in setup_s and not, at random, in the first timed op
WARM_PAGES = 200


def noop(df) -> None:
    """Force every row and column of df without storing it."""
    df.write.format("noop").mode("overwrite").save()


def fingerprint(df, *cols) -> tuple[int, int, int]:
    """Order-independent (count, xor, sum) over the rows' xxhash64: equal
    fingerprints mean equal row multisets up to a 2^-62 collision."""
    h = F.xxhash64(*cols)
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(h).alias("x"),
               F.sum(F.pmod(h, F.lit(1 << 31))).alias("s")).first()
    return int(r["n"]), int(r["x"] or 0), int(r["s"] or 0)


def jvm_geo(pages):
    """(url, mx_mm, my_mm) parsed with JVM regexp, no Python: the
    reference side of the output checks."""
    return pages.select(
        "url",
        F.regexp_extract("text", GEO_RE, 1).cast("long").alias("mx_mm"),
        F.regexp_extract("text", GEO_RE, 2).cast("long").alias("my_mm"))


def page_id():
    return F.col("url").substr(URL_PREFIX_LEN + 1, 20).cast("long")


class Op(NamedTuple):
    name: str
    run: Callable[[], int]          # forces the op; returns items processed
    check: Callable[[], list[str]]  # failure messages, empty when correct
    unit: str                       # what run() counts


class Workload:
    """Base: holds the session, input paths and facts of one run."""

    name = ""
    scan_cols: tuple[str, ...] = ()  # page columns the ops read

    def __init__(self, spark, paths: dict, n_pages: int, work: str, seed: int,
                 tracer):
        self.spark, self.paths, self.n = spark, paths, n_pages
        self.work, self.seed, self.tr = work, seed, tracer
        self.facts: dict = {}  # set by the input check of each set-up
        self._ref: dict = {}

    def pages(self):
        return self.spark.read.parquet(self.paths["pages"])

    def scan_bytes(self) -> int:
        """Compressed parquet bytes of the columns the ops scan."""
        return inputs.column_bytes(self.paths["pages"], self.scan_cols)

    def ref(self, key, fn):
        """Reference values for the checks, computed once per run."""
        if key not in self._ref:
            self._ref[key] = fn()
        return self._ref[key]

    def cleanup(self) -> None:
        """Remove what one repetition wrote (outside the timed window)."""

    def prepare(self) -> None:
        """Derive reference inputs once per seed (before set-up)."""

    # overridden
    def setup(self) -> None: ...
    def ops(self) -> list[Op]: ...
    def cuts(self) -> dict[str, Callable[[], None]]: ...
    def layers(self, log, cut: dict) -> dict: ...


# ---------------------------------------------------------------------------
# tile_job: vector-bulk as users run it (jobs/build_tiles.py)
# ---------------------------------------------------------------------------

class TileJob(Workload):
    name = "tile_job"
    scan_cols = ("url", "text", "lang")
    Z = 14
    rep = -1  # repetitions started; each writes a fresh output directory

    def setup(self):
        small = self.pages().limit(WARM_PAGES)
        out = os.path.join(self.work, "run", "tiles_warm")
        shutil.rmtree(out, ignore_errors=True)
        # one partitioned write warms the encode and the sink's writer; the
        # full job would run its four passes over the build
        (manifest.with_part_key(api.build_tiles(small, z=self.Z), self.Z)
         .write.partitionBy("part_key").parquet(out))
        shutil.rmtree(out)

    def _lineage(self):
        return f"perfbench:{self.paths['pages']}@z{self.Z}"

    def _build(self, out):
        tiles = api.build_tiles(self.pages(), z=self.Z)
        with self.tr.span("sources.run_resumable_build"):
            return manifest.run_resumable_build(self.spark, tiles, self.Z,
                                                out, self._lineage())

    def ops(self):
        self.rep += 1
        self.out = os.path.join(self.work, "run", f"tiles_{self.rep}")
        shutil.rmtree(self.out, ignore_errors=True)
        self.state: dict = {}

        def build():
            m = self._build(self.out)
            self.state["build"] = m
            return m["n_tiles"]

        def check_build():
            errs = []
            counts, tiles, payload = self._table_fingerprints()
            want = self.ref("tile_counts", lambda: fingerprint(
                jvm_geo(self.pages())
                .select(tile_x_expr("mx_mm", self.Z).alias("x"),
                        tile_y_expr("my_mm", self.Z).alias("y"))
                .groupBy("x", "y").agg(F.count("*").alias("n_features")),
                "x", "y", "n_features"))
            if counts != want:
                errs.append(f"per-tile feature counts {counts} != {want}")
            mrows = self.spark.read.parquet(os.path.join(self.out, "manifest"))
            n_man = mrows.agg(F.sum("n_tiles")).first()[0]
            if n_man != counts[0] or self.state["build"]["n_tiles"] != counts[0]:
                errs.append(f"manifest n_tiles {n_man}, job {self.state['build']}"
                            f" vs {counts[0]} table rows")
            self.state["hash"] = tiles
            self.state["written"] = self._written(payload)
            self.state["missing"] = self._drop_quarter()
            return errs

        def resume():
            m = self._build(self.out)
            self.state["resume"] = m
            return self.state["missing"][1]

        def check_resume():
            errs = []
            got = self._table_fingerprints()[1]
            if got != self.state["hash"]:
                errs.append(f"resumed table {got} != uninterrupted "
                            f"{self.state['hash']}")
            m, (n_parts, n_tiles, n_left) = self.state["resume"], self.state["missing"]
            if (m["written_partitions"], m["skipped_partitions"],
                    m["n_tiles"]) != (n_parts, n_left, n_tiles):
                errs.append(f"resume {m} != missing {self.state['missing']}")
            return errs

        return [Op("build", build, check_build, "tiles"),
                Op("resume", resume, check_resume, "tiles")]

    def cleanup(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def _table_fingerprints(self):
        """One pass over the written tile table: fingerprints of
        (x, y, n_features) and (z, x, y, tile_pbf), and payload bytes."""
        t = self.spark.read.parquet(os.path.join(self.out, "tiles"))
        h1, h2 = F.xxhash64("x", "y", "n_features"), F.xxhash64("z", "x", "y", "tile_pbf")
        m = F.lit(1 << 31)
        r = t.agg(F.count(F.lit(1)), F.bit_xor(h1), F.sum(F.pmod(h1, m)),
                  F.bit_xor(h2), F.sum(F.pmod(h2, m)),
                  F.sum(F.length("tile_pbf"))).first()
        r = [int(v or 0) for v in r]
        return (r[0], r[1], r[2]), (r[0], r[3], r[4]), r[5]

    def _written(self, payload: int) -> tuple[int, int, int]:
        """(data files, their bytes, tile payload bytes) of the output.
        Hidden files (checksums, markers) are not counted."""
        files, nbytes = 0, 0
        for root, _, fs in os.walk(self.out):
            for f in fs:
                if not f.startswith(("_", ".")):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, f))
        return files, nbytes, payload

    def _drop_quarter(self) -> tuple[int, int, int]:
        """Delete a seeded quarter of the written partitions from both the
        tile table and the manifest. Returns (partitions dropped, tiles
        dropped, partitions left)."""
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        tdir = os.path.join(self.out, "tiles")
        parts = sorted(int(d.split("=")[1]) for d in os.listdir(tdir)
                       if d.startswith("part_key="))
        rng = np.random.default_rng(self.seed)  # the same quarter every rep
        drop = set(rng.choice(parts, size=len(parts) // 4, replace=False).tolist())
        for k in drop:
            shutil.rmtree(os.path.join(tdir, f"part_key={k}"))
        mdir = os.path.join(self.out, "manifest")
        m = ds.dataset(mdir, format="parquet").to_table()
        keep = ~np.isin(m["part_key"].to_numpy(), list(drop))
        n_tiles = int(m["n_tiles"].to_numpy()[~keep].sum())
        shutil.rmtree(mdir)
        os.makedirs(mdir)
        pq.write_table(m.filter(keep), os.path.join(mdir, "part-0.parquet"))
        return len(drop), n_tiles, len(parts) - len(drop)

    # -- traced run ---------------------------------------------------------

    def cuts(self):
        p = self.pages()
        geo = keys.geocode(p)
        keyed = keys.with_tile_keys(geo, self.Z).withColumn("feature_id", page_id())
        salted = keys.with_salt(keyed)
        return {
            "scan": lambda: noop(self.pages().select(*self.scan_cols)),
            "geocode": lambda: noop(geo.select("url", "mx_mm", "my_mm", "lang")),
            "keys": lambda: noop(salted.select("x", "y", "salt", "mx_mm",
                                               "my_mm", "feature_id", "lang")),
            "phase1": lambda: noop(encode.build_point_tiles(
                salted, self.Z, partials_only=True)),
            "encode": lambda: noop(api.build_tiles(p, z=self.Z)),
        }

    def layers(self, log, cut):
        build, resume = cut["build"], cut["resume"]
        execs = log.execution_walls("tile_job.build")
        # executions that write the tile table (the output path ends in
        # /tiles), as against the manifest's
        write_s = sum(w for x, w in execs.items()
                      if log.writes_to(x, os.sep + "tiles"))
        all_s = sum(execs.values())
        p1 = [s for s in log.stages_of("tile_job.cut.phase1")
              if "MapInPandas" in s["scopes"]]
        files, nbytes, payload = self.state["written"]
        encoded = log.node_metric("tile_job.resume", "MapInPandas", "phase2",
                                  "number of output rows")
        missing = self.state["missing"][1]
        return {
            "self": {"sources.scan": cut["scan"],
                     "keys.geocode": cut["geocode"] - cut["scan"],
                     "keys.tile_keys": cut["keys"] - cut["geocode"],
                     "encode.phase1": cut["phase1"] - cut["keys"],
                     "encode.phase2": cut["encode"] - cut["phase1"],
                     "sources.sink": build - cut["encode"],
                     "sources.resume": resume},
            "metrics": {
                "sources.scan_s": cut["scan"],
                "sources.scan_bytes": self.scan_bytes(),
                "sources.write_s": write_s,
                "sources.files_written": files,
                "sources.write_amp": nbytes / max(payload, 1),
                "sources.manifest_s": all_s - write_s,
                "sources.resume_rebuild_ratio": encoded / max(missing, 1),
                "keys.geocode_s": cut["geocode"] - cut["scan"],
                "keys.geocode_rows": log.node_metric(
                    "tile_job.cut.geocode", "ArrowEvalPython", "geocode_udf",
                    "number of output rows"),
                "encode.passes_per_job": log.count_executions_with(
                    "tile_job.build", "MapInPandas", "phase1"),
                "encode.phase1_s": cut["phase1"] - cut["keys"],
                "encode.phase2_s": cut["encode"] - cut["phase1"],
                "encode.shuffle_bytes": log.totals(["tile_job.cut.encode"])["shuffle_w"],
                "encode.task_skew": skew([t for s in p1 for t in s["task_s"]]),
                "plan.python_nodes.tile_build": log.python_nodes("tile_job.build"),
                "plan.python_nodes.tile_resume": log.python_nodes("tile_job.resume"),
            }}


# ---------------------------------------------------------------------------
# admin_join: geocode -> point-in-polygon probe, three probe modes
# ---------------------------------------------------------------------------

class AdminJoin(Workload):
    name = "admin_join"
    scan_cols = ("url", "text")
    tr_metrics = False  # set by the traced run: pass metrics={} to probes
    K = 2
    LEVEL = 10

    def setup(self):
        phase = self.facts["phase"]
        self.knn_polys = inputs.hex_polygons(phase, inputs.KNN_WORLD)
        self.s2_polys = inputs.hex_polygons(phase, inputs.S2_WORLD)
        self.polys_df = adminizer.polygons_to_df(self.spark, self.s2_polys)
        self.metrics: dict[str, dict] = {}
        g = self._geo(self.pages().limit(WARM_PAGES))
        # the knn probe warms geocode and the python workers; the s2 probes
        # would add 5 s of set-up to every run (index build, broadcast,
        # covering), which the run-time budget of the benchmark lacks
        adminizer.adminize_points_knn_rings(g, self.knn_polys, k=self.K).count()

    def _geo(self, pages):
        return keys.geocode(pages).select("url", "mx_mm", "my_mm")

    def _metrics(self):
        """A fresh `metrics=` dict for the probe in traced runs, else None.
        It is kept under the open span's name, so the traced op's counters
        are told from those of the cut repetitions."""
        if not self.tr_metrics:
            return None
        self.metrics[self.tr.current()] = {}
        return self.metrics[self.tr.current()]

    def ops(self):
        self.state: dict = {}

        def knn():
            g = self._geo(self.pages())
            with self.tr.span(f"{self.tr.current()}.index"):
                out = adminizer.adminize_points_knn_rings(
                    g, self.knn_polys, k=self.K, metrics=self._metrics())
            self.state["knn"] = out.agg(
                F.count("*").alias("n"), F.sum("rank").alias("r"),
                F.sum(F.pmod(F.xxhash64("url"), F.lit(1 << 31))).alias("h"),
                F.sum(F.col("admin").isNull().cast("long")).alias("nul")).first()
            return self.n

        def s2index():
            g = self._geo(self.pages())
            out = adminizer.adminize_points_s2index(
                g, self.s2_polys, max_level=self.LEVEL,
                metrics=self._metrics())
            self.state["s2index"] = fingerprint(
                out, "url", F.coalesce("admin", F.lit("")))
            return self.n

        def s2join():
            g = self._geo(self.pages())
            out = adminizer.adminize_points_s2join(g, self.polys_df,
                                                   max_level=self.LEVEL)
            self.state["s2join"] = fingerprint(
                out, "url", F.coalesce("admin", F.lit("")))
            return self.n

        def url_hash():
            return self.pages().agg(F.sum(F.pmod(F.xxhash64("url"),
                                                 F.lit(1 << 31)))).first()[0]

        def check_knn():
            r, n = self.state["knn"], self.n
            want = (self.K * n, n * self.K * (self.K + 1) // 2,
                    self.K * self.ref("url_hash", url_hash), 0)
            got = (r["n"], r["r"], r["h"], r["nul"])
            return [] if got == want else [f"knn rows {got} != {want}"]

        def check_s2index():
            n = self.state["s2index"][0]
            return [] if n == self.n else [f"s2index rows {n} != {self.n}"]

        def check_s2join():
            a, b = self.state["s2index"], self.state["s2join"]
            return [] if a == b else [f"s2join {b} != s2index {a}"]

        return [Op("knn", knn, check_knn, "points"),
                Op("s2index", s2index, check_s2index, "points"),
                Op("s2join", s2join, check_s2join, "points")]

    def cuts(self):
        p = self.pages()
        return {"scan": lambda: noop(self.pages().select(*self.scan_cols)),
                "geocode": lambda: noop(self._geo(p))}

    def layers(self, log, cut):
        geo = cut["geocode"]
        out = {"keys.geocode_s": geo - cut["scan"],
               "keys.geocode_rows": log.node_metric(
                   "admin_join.cut.geocode", "ArrowEvalPython", "geocode_udf",
                   "number of output rows"),
               "sources.scan_s": cut["scan"],
               "sources.scan_bytes": self.scan_bytes(),
               "adminizer.s2join.shuffle_bytes":
                   log.totals(["admin_join.s2join"])["shuffle_w"]}
        selfs = {}
        for mode in ("knn", "s2index", "s2join"):
            probe = cut[mode] - geo
            out[f"adminizer.{mode}.probe_s"] = probe
            out[f"plan.python_nodes.{mode}"] = log.python_nodes(f"admin_join.{mode}")
            selfs[f"{mode}.sources.scan"] = cut["scan"]
            selfs[f"{mode}.keys.geocode"] = geo - cut["scan"]
            selfs[f"{mode}.adminizer.probe"] = probe
        m = {k: (v if isinstance(v, float) else v.value)
             for k, v in self.metrics.get("admin_join.knn.index", {}).items()}
        pts = max(m.get("points", 0), 1)
        out["adminizer.knn.rescan_pct"] = 100.0 * m.get("rescans", 0) / pts
        out["adminizer.knn.exact_evals_per_point"] = m.get("exact_evals", 0) / pts
        m = {k: (v if isinstance(v, float) else v.value)
             for k, v in self.metrics.get("admin_join.s2index", {}).items()}
        out["adminizer.s2index.cand_per_point"] = (
            m.get("cand_pairs", 0) / max(m.get("points", 0), 1))
        out["adminizer.s2index.index_build_s"] = m.get("index_build_s", 0.0)
        out["adminizer.knn.index_build_s"] = self.tr.wall("admin_join.knn.index")
        return {"self": selfs, "metrics": out}


# ---------------------------------------------------------------------------
# izer_tiles: the unionizer walk and the fused izer feature encode
# ---------------------------------------------------------------------------

UNION_CONF = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
    {"type": "unionizer", "union_heuristic": "greedy",
     "tag_strategy": "intersect", "max_iterations": 1,
     "match_tags": ["a"]}]}]}

CITY0_X = -8237642000  # sources/pages.py CITY_X[0], mercator mm
FUSE_CX0 = int(CITY0_X / 100000) * 100  # city 0 snapped to the 100 m grid
FUSE_EDGE = FUSE_CX0 + 50               # split edge: only sx == FUSE_CX0 crosses
_BIG = 30000000  # > half the mercator world in meters
SPLIT_CONF = {"roads": [{"minzoom": 0, "maxzoom": 22, "process": [
    {"type": "adminizer", "param_name": "region", "split": "true",
     "datasource": {"inline_rows": [(
         f"POLYGON(({FUSE_EDGE} {-_BIG}, {FUSE_EDGE + 6000000} {-_BIG}, "
         f"{FUSE_EDGE + 6000000} {_BIG}, {FUSE_EDGE} {_BIG}, "
         f"{FUSE_EDGE} {-_BIG}))", "core")]}}]}]}


def chain_features(geo):
    """One two-segment line chain per page at z10 with a page-unique match
    tag (the izer_unionize_oracle construction): each tile's walk makes
    exactly one union, so n_features = 2n-1 and n_points = 4n-1."""
    m = (geo.withColumn("bx", (F.col("mx_mm") / 1000).cast("long"))
            .withColumn("by", (F.col("my_mm") / 1000).cast("long"))
            .withColumn("pid", page_id()))

    def seg(x0, x1):
        return F.array((F.col("bx") + x0).cast("double"),
                       F.col("by").cast("double"),
                       (F.col("bx") + x1).cast("double"),
                       F.col("by").cast("double"))

    return (m.select(
        F.lit(10).alias("z"),
        tile_x_expr("mx_mm", 10).alias("x"),
        tile_y_expr("my_mm", 10).alias("y"),
        F.lit("roads").alias("layer"),
        F.create_map(F.lit("a"), F.col("pid").cast("string")).alias("props"),
        F.explode(F.array(
            F.struct((F.col("pid") * 2).alias("id"), seg(0, 100).alias("coords")),
            F.struct((F.col("pid") * 2 + 1).alias("id"),
                     seg(100, 200).alias("coords")))).alias("s"))
        .select("z", "x", "y", "layer", F.col("s.id").alias("id"), "props",
                F.lit("LINESTRING").alias("gtype"),
                F.col("s.coords").alias("coords"),
                F.array(F.lit(2)).alias("rings"),
                F.array(F.lit(1)).alias("part_rings")))


def snapped(geo):
    """Pages snapped to a 100 m segment grid, keyed to their z12 tile."""
    return (geo.withColumn("sx", (F.col("mx_mm") / 100000).cast("long") * 100)
               .withColumn("sy", (F.col("my_mm") / 100000).cast("long") * 100)
               .withColumn("tk", tile_x_expr("mx_mm", 12) * 4096
                           + tile_y_expr("my_mm", 12)))


def line_features(geo):
    """WKT road segments on a 100 m grid from every page (the
    _city_line_features construction over all pages); a duplicate segment
    keeps the min (tile key, id) row."""
    d = (snapped(geo).groupBy("sx", "sy")
         .agg(F.min("tk").alias("k"), F.min(page_id()).alias("id")))
    wkt = F.concat(F.lit("LINESTRING("), F.col("sx"), F.lit(" "), F.col("sy"),
                   F.lit(", "), F.col("sx") + 100, F.lit(" "), F.col("sy"),
                   F.lit(")"))
    return d.select(F.lit(12).alias("z"), F.expr("k div 4096").alias("x"),
                    F.pmod(F.col("k"), F.lit(4096)).alias("y"),
                    F.lit("roads").alias("layer"), "id",
                    F.create_map(F.lit("a"), F.lit("yes")).alias("props"),
                    wkt.alias("wkt"))


class IzerTiles(Workload):
    name = "izer_tiles"
    scan_cols = ("url", "text")

    def setup(self):
        g = keys.geocode(self.pages().limit(WARM_PAGES))
        pipeline.apply_to_tiles(chain_features(g), UNION_CONF).count()
        encode.build_feature_tiles_salted(line_features(g), izer_config=SPLIT_CONF,
                                          buffer_size=8).count()

    def ops(self):
        self.state: dict = {}

        def walk():
            feats = chain_features(keys.geocode(self.pages()))
            out = pipeline.apply_to_tiles(feats, UNION_CONF)
            self.state["walk"] = {
                (r["x"], r["y"]): (r["f"], r["p"])
                for r in out.groupBy("x", "y").agg(
                    F.count("*").alias("f"),
                    F.sum((F.size("coords") / 2).cast("long")).alias("p"))
                .collect()}
            return 2 * self.n

        def feature_encode():
            feats = line_features(keys.geocode(self.pages()))
            tiles = encode.build_feature_tiles_salted(
                feats, izer_config=SPLIT_CONF, buffer_size=8)
            self.state["encode"] = {
                (r["x"], r["y"]): (r["n_features"], r["b"] > 0)
                for r in tiles.select("x", "y", "n_features",
                                      F.length("tile_pbf").alias("b"))
                .collect()}
            return len(self.state["encode"])

        def pages_per_tile():
            return {(r["x"], r["y"]): r["n"] for r in
                    jvm_geo(self.pages()).select(
                        tile_x_expr("mx_mm", 10).alias("x"),
                        tile_y_expr("my_mm", 10).alias("y"))
                    .groupBy("x", "y").agg(F.count("*").alias("n")).collect()}

        def segments_per_tile():
            d = (snapped(jvm_geo(self.pages())).groupBy("sx", "sy")
                 .agg(F.min("tk").alias("k")))
            return {(r["x"], r["y"]): (r["n"], True) for r in d.select(
                F.expr("k div 4096").alias("x"),
                F.pmod(F.col("k"), F.lit(4096)).alias("y"),
                F.when(F.col("sx") == FUSE_CX0, 2).otherwise(1).alias("w"))
                .groupBy("x", "y").agg(F.sum("w").alias("n")).collect()}

        def check_walk():
            want = {t: (2 * n - 1, 4 * n - 1)
                    for t, n in self.ref("walk", pages_per_tile).items()}
            got = self.state["walk"]
            bad = [t for t in want if got.get(t) != want[t]]
            if bad or len(got) != len(want):
                return [f"walk: {len(bad)} tiles differ, e.g. {bad[:1]}, "
                        f"{len(got)} vs {len(want)} tiles"]
            return []

        def check_encode():
            want = self.ref("encode", segments_per_tile)
            got = self.state["encode"]
            bad = [t for t in want if got.get(t) != want[t]]
            if bad or len(got) != len(want):
                return [f"feature encode: {len(bad)} tiles differ, "
                        f"{len(got)} vs {len(want)} tiles"]
            return []

        return [Op("walk", walk, check_walk, "features"),
                Op("feature_encode", feature_encode, check_encode, "tiles")]

    def cuts(self):
        geo = keys.geocode(self.pages())
        return {"scan": lambda: noop(self.pages().select(*self.scan_cols)),
                "geocode": lambda: noop(geo.select("url", "mx_mm", "my_mm")),
                "features": lambda: noop(chain_features(geo)),
                "lines": lambda: noop(line_features(geo))}

    def layers(self, log, cut):
        walk_stages = [s for s in log.stages_of("izer_tiles.walk")
                       if "MapInPandas" in s["scopes"]]
        tasks = [t for s in walk_stages for t in s["task_s"]]
        counts = self._ref["walk"]  # pages per z10 tile, from check_walk
        out_f = sum(f for f, _ in self.state["walk"].values())
        geo = cut["geocode"]
        return {
            "self": {"walk.sources.scan": cut["scan"],
                     "walk.keys.geocode": geo - cut["scan"],
                     "walk.keys.features": cut["features"] - geo,
                     "walk.pipeline.walk": cut["walk"] - cut["features"],
                     "encode.sources.scan": cut["scan"],
                     "encode.keys.geocode": geo - cut["scan"],
                     "encode.keys.lines": cut["lines"] - geo,
                     "encode.encode.feature": cut["feature_encode"] - cut["lines"]},
            "metrics": {
                "sources.scan_s": cut["scan"],
                "sources.scan_bytes": self.scan_bytes(),
                "keys.geocode_s": geo - cut["scan"],
                "keys.geocode_rows": log.node_metric(
                    "izer_tiles.cut.geocode", "ArrowEvalPython", "geocode_udf",
                    "number of output rows"),
                "pipeline.walk_s": cut["walk"] - cut["features"],
                "pipeline.walk_max_task_s": max(tasks, default=0.0),
                "pipeline.walk_task_skew": skew(tasks),
                "pipeline.max_group_features": 2 * max(counts.values(), default=0),
                "pipeline.groups": len(self.state["walk"]),
                "unionizer.unions": 2 * self.n - out_f,
                "encode.feature_s": cut["feature_encode"] - cut["lines"],
                "plan.python_nodes.izer_walk": log.python_nodes("izer_tiles.walk"),
                "plan.python_nodes.izer_encode":
                    log.python_nodes("izer_tiles.feature_encode"),
            }}


# ---------------------------------------------------------------------------
# web_graph: html link extraction, PageRank, connected components
# ---------------------------------------------------------------------------

TOP = 100
RANK_SCALE = 10 ** 12


class WebGraph(Workload):
    name = "web_graph"
    scan_cols = ("url", "html")

    def prepare(self):
        self._oracle()

    def setup(self):
        small = self.pages().limit(WARM_PAGES)
        e = webgraph.edges_df(small, unique=True)
        webgraph.pagerank_int(small.select("url"), e, iters=1).count()

    def _oracle(self) -> dict:
        """DuckDB twins from queries.oracle_sql(): top-100 ranks and the
        live edge count. Computed once per seed and kept with the inputs."""
        import json
        path = os.path.join(self.paths["dir"], "web_oracle.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb
        from avecado_spark.queries import oracle_sql
        con = duckdb.connect()
        li = self.paths["lineitem"].replace("'", "''")
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li}')")
        sql = oracle_sql()["web_pagerank_top"]
        top = [[u, int(r)] for u, r in con.execute(sql).fetchall()]
        # the same oracle's live-edge CTE, counted instead of ranked
        edges_sql = sql.split(",\ndeg AS")[0] + "\nSELECT count(*) FROM edges"
        n_edges = con.execute(edges_sql).fetchone()[0]
        con.close()
        res = {"top": top, "edges": int(n_edges)}
        with open(path + ".tmp", "w") as f:
            json.dump(res, f)
        os.replace(path + ".tmp", path)
        return res

    @staticmethod
    def _id_edges(edges):
        """(src, dst) urls -> (u, v) long node ids for components_bigstar."""
        return edges.select(F.xxhash64("src").alias("u"),
                            F.xxhash64("dst").alias("v"))

    def _edges(self, pages):
        links = webgraph.extract_links(pages)
        return webgraph.edges_df(pages, links=links, unique=True)

    def ops(self):
        self.state: dict = {}

        def rank():
            p = self.pages()
            with self.tr.span("webgraph.pagerank_int"):
                ranks = webgraph.pagerank_int(p.select("url"), self._edges(p),
                                              iters=5, scale=RANK_SCALE)
                self.state["top"] = [
                    [r["url"], r["rank_i"]] for r in
                    ranks.orderBy(F.col("rank_i").desc(), "url").limit(TOP)
                    .collect()]
            return self.n

        def components():
            with self.tr.span("dedup.components_bigstar"):
                stars, rounds = dedup.components_bigstar(
                    self._id_edges(self._edges(self.pages())))
                self.state["cc"] = (fingerprint(stars, "u", "v"), rounds)
            return self.n

        def check_rank():
            want = self._oracle()["top"]
            if self.state["top"] != want:
                return ["pagerank top-100 differs from the DuckDB oracle"]
            return []

        def reference_components():
            """Union-find over the collected edge ids: the fingerprint of
            (node, component min) for every non-root node, the number of
            components, of nodes and of edges."""
            edges = self._id_edges(self._edges(self.pages())).collect()
            parent: dict[int, int] = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for u, v in edges:
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                a, b = find(u), find(v)
                if a != b:  # the smaller root wins: a root is its set's min
                    parent[max(a, b)] = min(a, b)
            stars = [(n, find(n)) for n in parent if find(n) != n]
            fp = fingerprint(self.spark.createDataFrame(stars, "u long, v long"),
                             "u", "v")
            return fp, len(parent) - len(stars), len(parent), len(edges)

        def check_components():
            errs = []
            want, n_comp, n_nodes, n_e = self.ref("components",
                                                  reference_components)
            if n_e != self._oracle()["edges"]:
                errs.append(f"edges {n_e} != oracle {self._oracle()['edges']}")
            got, rounds = self.state["cc"]
            if got != want:
                errs.append(f"components: (node, root) rows {got} != "
                            f"union-find {want} ({n_comp} components)")
            if rounds > 2 * math.ceil(math.log2(max(n_nodes, 2))):
                errs.append(f"bigstar took {rounds} rounds")
            return errs

        return [Op("rank", rank, check_rank, "pages"),
                Op("components", components, check_components, "pages")]

    def cuts(self):
        p = self.pages()
        return {"scan": lambda: noop(self.pages().select(*self.scan_cols)),
                "links": lambda: noop(webgraph.extract_links(p)),
                "edges": lambda: noop(self._edges(p))}

    def layers(self, log, cut):
        nodes = log.plan_nodes("web_graph.rank")
        links = cut["links"] - cut["scan"]
        edges = cut["edges"] - cut["links"]
        return {
            "self": {"rank.sources.scan": cut["scan"],
                     "rank.webgraph.extract_links": links,
                     "rank.webgraph.edges": edges,
                     "rank.webgraph.pagerank": cut["rank"] - cut["edges"],
                     "cc.sources.scan": cut["scan"],
                     "cc.webgraph.extract_links": links,
                     "cc.webgraph.edges": edges,
                     "cc.dedup.components": cut["components"] - cut["edges"]},
            "metrics": {
                "sources.scan_s": cut["scan"],
                "sources.scan_bytes": self.scan_bytes(),
                "webgraph.extract_links_s": links,
                "webgraph.links": log.node_metric(
                    "web_graph.cut.links", "MapInPandas", "run",
                    "number of output rows"),
                "webgraph.pagerank_s": cut["rank"] - cut["edges"],
                "webgraph.pagerank_exchanges_executed": sum(
                    n["nodeName"] == "Exchange" for n in nodes),
                "webgraph.pagerank_exchanges_reused": sum(
                    n["nodeName"] == "ReusedExchange" for n in nodes),
                "dedup.components_s": cut["components"] - cut["edges"],
                "dedup.components_rounds": self.state["cc"][1],
                "plan.python_nodes.web_rank": log.python_nodes("web_graph.rank"),
                "plan.python_nodes.web_components":
                    log.python_nodes("web_graph.components"),
            }}


WORKLOADS = {w.name: w for w in (TileJob, AdminJoin, IzerTiles, WebGraph)}
