"""The three benchmark workloads.

Each workload generates its inputs from the seed on the driver (the
package sees only the generated inputs), writes them to parquet in
`materialize`, and runs one closed-loop pass per `run_pass` call. A
pass returns its output; `digest` fingerprints it and `check` compares
it with the brute-force references, both outside the timed region.

Why each workload exists and which layer metric should move which
end-to-end metric is written down in README.md beside this file.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import reference as ref
from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import hydro
from whitebox_tools_spark.operators import tiling
from whitebox_tools_spark.operators.clump import clump
from whitebox_tools_spark.operators.knn import knn_join_exact, wbt_default_radius
from whitebox_tools_spark.operators.pip_join import (_auto_cover_radius, points_in_polygons,
                                                     points_in_polygons_cellcover)
from whitebox_tools_spark.plans.lineage import CheckpointedRun
from whitebox_tools_spark.sources.docs import extract_points, synth_docs
from whitebox_tools_spark.sources.fixtures import (FIXTURE_POLYGONS, feature_pip_sql,
                                                   polygons_df)

EXTENT = 1000.0


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()


class Workload:
    """items: what one pass pushes through (docs, points, raster cells).
    warmup_passes: passes after the cold one that are run and discarded,
    chosen from the pass times of a long session (see README.md)."""

    name: str
    items: int
    warmup_passes: int

    def materialize(self) -> None:
        raise NotImplementedError

    def run_pass(self, tr, pass_dir: str):
        raise NotImplementedError

    def digest(self, out) -> str:
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# docs_pip_tile: the flagship docs -> points -> PIP tag join -> tile counts
# ---------------------------------------------------------------------------


class DocsPipTile(Workload):
    name = "docs_pip_tile"
    warmup_passes = 4
    SIZES = {"full": 100_000, "tiny": 2_000}
    FILES = 16
    TILE = 100.0

    def __init__(self, spark, seed: int, workdir: str, size: str):
        self.spark = spark
        self.seed = seed
        self.items = self.SIZES[size]
        self.path = os.path.join(workdir, "docs.parquet")
        self.grid = tiling.resolve_tile_grid(0.0, EXTENT, 0.0, EXTENT, 0.0, 0.0,
                                             self.TILE, self.TILE)

    def materialize(self) -> None:
        # a corpus of 16 files, as a crawl lands in many; at this size
        # Spark's file packing still reads them in about one task per core
        synth_docs(self.spark, self.items, seed=self.seed).write.mode("overwrite") \
            .option("maxRecordsPerFile", -(-self.items // self.FILES)).parquet(self.path)
        self.docs = self.spark.read.parquet(self.path)
        self.polygons = polygons_df(self.spark)

    def run_pass(self, tr, pass_dir: str):
        with tr.span("docs.extract"):
            pts = tr.pin(extract_points(self.docs))
        tr.count("docs.points", pts)
        with tr.span("pip_join.tag"):
            # plan='auto' resolves to the codegen predicate on the fixtures
            tagged = tr.pin(points_in_polygons(pts, self.polygons))
        tr.count("pip_join.tag_rows", tagged)
        with tr.span("tiling.count"):
            tiled, _ = tiling.assign_tiles(tagged, 0.0, 0.0, self.TILE, self.TILE,
                                           extent=(0.0, EXTENT, 0.0, EXTENT))
            rows = tiled.groupBy("polygon_id", "tile_id").count().collect()
        tr.value("tiling.groups", len(rows))
        return sorted((r["polygon_id"], r["tile_id"], r["count"]) for r in rows)

    def digest(self, out) -> str:
        return _sha(out)

    def oracle_sql(self) -> str:
        """DuckDB query for the same counts over the same parquet, built
        from the package's portable SQL generators. feature_pip_sql is
        the bare winding test; the package also applies the strict bbox
        prefilter (a point on a bbox side can read inside by winding),
        so the oracle adds it."""
        tile_id = tiling.tile_exprs(self.grid)["tile_id"]
        arms = []
        for poly in FIXTURE_POLYGONS:
            xs = [v[0] for p in poly["parts"] for v in p["ring"]]
            ys = [v[1] for p in poly["parts"] for v in p["ring"]]
            bbox = (f"x > {min(xs)!r} AND x < {max(xs)!r} "
                    f"AND y > {min(ys)!r} AND y < {max(ys)!r}")
            arms.append(f"SELECT {poly['polygon_id']} AS polygon_id, x, y FROM pts "
                        f"WHERE {bbox} AND {feature_pip_sql(poly)}")
        return (
            "WITH spans AS (SELECT UNNEST(spans) AS s "
            f"FROM read_parquet('{self.path}/*.parquet')), "
            "pts AS (SELECT x, y FROM (SELECT s.kind, "
            # CASE, not WHERE, guards the casts: DuckDB may cast before filtering
            "CASE WHEN s.kind = 'point' THEN CAST(split_part(s.text, ';', 1) AS DOUBLE) END AS x, "
            "CASE WHEN s.kind = 'point' THEN CAST(split_part(s.text, ';', 2) AS DOUBLE) END AS y "
            "FROM spans) WHERE kind = 'point'), "
            f"tagged AS ({' UNION ALL '.join(arms)}) "
            f"SELECT polygon_id, {tile_id} AS tile_id, COUNT(*) AS n "
            "FROM tagged GROUP BY 1, 2"
        )

    def check(self, out) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            con.execute(f"SET temp_directory = '{os.path.dirname(self.path)}/duckdb_tmp'")
            want = sorted(tuple(int(v) for v in r) for r in con.execute(self.oracle_sql()).fetchall())
        finally:
            con.close()
        got = [tuple(int(v) for v in r) for r in out]
        if got != want:
            return [f"docs_pip_tile: {len(set(got) ^ set(want))} (polygon, tile, count) "
                    f"rows differ from DuckDB ({len(got)} vs {len(want)} rows)"]
        return []


# ---------------------------------------------------------------------------
# cellcover_knn_write: cell-cover PIP + exact kNN, written with lineage
# ---------------------------------------------------------------------------


def star_polygons(rng: np.random.Generator, n: int) -> list[dict]:
    """n star-shaped polygons in the fixtures' dict shape.

    Radii are fixed quantiles of a Pareto law (heavy tail, capped), the
    same multiset for every seed, so the join's work does not drift with
    the seed; the seed places and shapes them. Vertex radii vary, so most
    are concave; every fourth has a hole. Shells are clockwise and holes
    counter-clockwise (the package's ring convention)."""
    q = (np.arange(n) + 0.5) / n
    radii = np.minimum(3.0 * (1.0 - q) ** (-1.0 / 1.3), 120.0)
    rng.shuffle(radii)
    polys = []
    for i, r in enumerate(radii):
        cx, cy = rng.uniform(r, EXTENT - r, size=2)

        def ring(scale_lo: float, scale_hi: float, clockwise: bool) -> list:
            m = int(rng.integers(24, 60))
            ang = np.sort(rng.uniform(0.0, 2.0 * math.pi, m))
            if clockwise:
                ang = ang[::-1]
            rad = r * rng.uniform(scale_lo, scale_hi, m)
            pts = [(float(cx + a * math.cos(t)), float(cy + a * math.sin(t)))
                   for a, t in zip(rad, ang)]
            return pts + [pts[0]]

        parts = [{"is_hole": False, "ring": ring(0.55, 1.0, True)}]
        if i % 4 == 0:
            # hole radius < 0.4 r < the shell's smallest vertex radius
            parts.append({"is_hole": True, "ring": ring(0.2, 0.4, False)})
        polys.append({"polygon_id": i + 1, "name": f"p{i + 1}", "parts": parts})
    return polys


class CellcoverKnnWrite(Workload):
    """Cell-cover tag join and exact kNN, written through CheckpointedRun
    under two spatial keys (the west and east halves). Each key holds both
    layers in one long table: layer, id (point or query), ref_id (polygon
    or target), dist2 and knn_rank (null for tag rows)."""

    name = "cellcover_knn_write"
    warmup_passes = 0
    SIZES = {"full": (10_000, 120), "tiny": (3_000, 40)}
    K = 4
    QUERY_STRIDE = 10  # every 10th point is a kNN query
    KEYS = ["west", "east"]
    SAMPLE = 1000

    def __init__(self, spark, seed: int, workdir: str, size: str):
        self.spark = spark
        n_points, n_polys = self.SIZES[size]
        self.items = n_points
        rng = np.random.default_rng(seed)
        # ids follow x, so a half of the plane is an id range and the kNN
        # output (keyed by query id) splits along the same line as the points
        self.px = np.sort(rng.uniform(0.0, EXTENT, n_points))
        self.py = rng.uniform(0.0, EXTENT, n_points)
        n_west = int(np.searchsorted(self.px, EXTENT / 2))
        self.sides = {"west": f"< {n_west}", "east": f">= {n_west}"}
        self.polys = star_polygons(rng, n_polys)
        # twice the package's default search radius: about 50 points per
        # bin, so nearly every query resolves in the first ring and the
        # round count (and the pass time) does not swing with the seed
        self.knn_radius = 2.0 * wbt_default_radius(EXTENT * EXTENT, n_points)
        self.sample = np.sort(rng.choice(n_points, size=min(self.SAMPLE, n_points),
                                         replace=False))
        self.points_path = os.path.join(workdir, "points.parquet")
        self.polys_path = os.path.join(workdir, "polygons.parquet")

    def materialize(self) -> None:
        pdf = pd.DataFrame({"point_id": np.arange(self.items, dtype=np.int64),
                            "x": self.px, "y": self.py})
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(self.points_path)
        polygons_df(self.spark, self.polys).write.mode("overwrite").parquet(self.polys_path)
        self.points = self.spark.read.parquet(self.points_path)
        self.polygons = self.spark.read.parquet(self.polys_path)
        # the cover cell size the package's auto plan picks for this layer
        self.radius = _auto_cover_radius(self.polygons)

    def run_pass(self, tr, pass_dir: str):
        with tr.span("knn.join"):
            queries = self.points.where(f"point_id % {self.QUERY_STRIDE} = 0") \
                .selectExpr("point_id AS query_id", "x", "y")
            targets = self.points.selectExpr("point_id AS target_id", "x", "y")
            knn = tr.pin(knn_join_exact(queries, targets, k=self.K, radius=self.knn_radius))

        def job(spark, side: str):
            with tr.span("pip_join.cellcover"):
                tagged = tr.pin(points_in_polygons_cellcover(
                    self.points.where(f"point_id {self.sides[side]}"),
                    self.polygons, radius=self.radius))
            return tagged.selectExpr(
                "'pip' AS layer", "point_id AS id", "polygon_id AS ref_id",
                "CAST(NULL AS DOUBLE) AS dist2", "CAST(NULL AS INT) AS knn_rank",
            ).unionByName(knn.where(f"query_id {self.sides[side]}").selectExpr(
                "'knn' AS layer", "query_id AS id", "target_id AS ref_id", "dist2", "knn_rank"))

        with tr.span("lineage.write"):
            run = CheckpointedRun(self.spark, base=pass_dir, run_id="bench")
            stats = run.run(self.KEYS, job)
        with tr.span("lineage.resume"):
            resumed = CheckpointedRun(self.spark, base=pass_dir, run_id="bench").run(self.KEYS, job)
        rows = {}
        for fn in os.listdir(run.lineage_dir):
            if fn.endswith(".json"):
                with open(os.path.join(run.lineage_dir, fn)) as f:
                    rec = json.load(f)
                rows[rec["partition_key"]] = rec["rows"]
        tr.value("lineage.rows", sum(rows.values()))
        tr.value("lineage.partitions", stats["completed"])
        return {"stats": stats, "resumed": resumed, "rows": rows, "out": run.output_dir}

    def digest(self, out) -> str:
        r = self.spark.read.parquet(out["out"]).agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("BIT_XOR(XXHASH64(partition_key, layer, id, ref_id, dist2, knn_rank))")
            .alias("h")).collect()[0]
        return _sha([out["stats"], out["resumed"], out["rows"], r["n"], r["h"]])

    def check(self, out) -> list[str]:
        problems = []
        want_stats = {"skipped": 0, "completed": len(self.KEYS), "failed": 0}
        if out["stats"] != want_stats:
            problems.append(f"lineage run stats {out['stats']} != {want_stats}")
        if out["resumed"]["skipped"] != len(self.KEYS) or out["resumed"]["completed"]:
            problems.append(f"resume with the same run_id did not skip every key: {out['resumed']}")
        written = self.spark.read.parquet(out["out"])
        got = {(r["id"], r["ref_id"]) for r in
               written.where((F.col("layer") == "pip") & F.col("id").isin(self.sample.tolist()))
               .collect()}
        want = ref.polygon_hits(self.px[self.sample], self.py[self.sample], self.sample, self.polys)
        if got != want:
            problems.append(f"cell-cover tag join: {len(got ^ want)} sampled (point, polygon) "
                            f"pairs differ from the numpy reference")
        q = self.sample[self.sample % self.QUERY_STRIDE == 0]
        got = {(r["id"], r["ref_id"], r["dist2"], r["knn_rank"]) for r in
               written.where((F.col("layer") == "knn") & F.col("id").isin(q.tolist()))
               .collect()}
        ids = np.arange(self.items)
        want = ref.knn_rows(q, self.px[q], self.py[q], ids, self.px, self.py, self.K)
        if got != want:
            problems.append(f"exact kNN: {len(got ^ want)} sampled rows differ from the "
                            f"numpy reference")
        return problems


# ---------------------------------------------------------------------------
# dem_fixpoint: fill -> D8 accumulation -> clump, the iterative operators
# ---------------------------------------------------------------------------


def synth_dem(rng: np.random.Generator, n: int) -> np.ndarray:
    """A tilted, gently rolling surface with noise and single-cell pits,
    rounded to centimetres. The rolling part is fixed and the seed moves
    the noise and the pits, so depression sizes (and the iterative
    operators' round counts) stay alike from seed to seed."""
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    z = 100.0 + 0.25 * xx + 0.15 * yy + 1.5 * np.sin(xx / 5.0) * np.cos(yy / 7.0)
    z += rng.normal(0.0, 0.4, z.shape)
    pits = rng.choice(n * n, size=n * n // 40, replace=False)
    z.ravel()[pits] -= rng.uniform(1.0, 4.0, len(pits))
    return np.round(z, 2)


class DemFixpoint(Workload):
    name = "dem_fixpoint"
    warmup_passes = 0
    SIZES = {"full": 32, "tiny": 16}
    CLASS_WIDTH = 0.05  # metres per class of the clumped copy

    def __init__(self, spark, seed: int, workdir: str, size: str):
        self.spark = spark
        n = self.SIZES[size]
        self.n = n
        self.items = n * n
        self.z = synth_dem(np.random.default_rng(seed), n)
        self.meta = GridMeta(rows=n, columns=n, north=float(n), south=0.0,
                             east=float(n), west=0.0, resolution_x=1.0, resolution_y=1.0)
        self.path = os.path.join(workdir, "dem.parquet")

    def materialize(self) -> None:
        n = self.n
        pdf = pd.DataFrame({"row": np.repeat(np.arange(n, dtype=np.int64), n),
                            "col": np.tile(np.arange(n, dtype=np.int64), n),
                            "value": self.z.ravel()})
        self.spark.createDataFrame(pdf).write.mode("overwrite").parquet(self.path)
        self.cells = self.spark.read.parquet(self.path)

    def _grid(self, df, col: str = "value") -> np.ndarray:
        pdf = df.select("row", "col", col).toPandas()
        grid = np.full((self.n, self.n), np.nan)
        grid[pdf["row"].to_numpy(), pdf["col"].to_numpy()] = pdf[col].to_numpy(np.float64)
        return grid

    def run_pass(self, tr, pass_dir: str):
        with tr.span("hydro.fill"):
            filled_df = hydro.fill_depressions(self.cells, self.meta)
            filled = self._grid(filled_df)
        with tr.span("hydro.d8"):
            accum = self._grid(hydro.d8_flow_accumulation_tiled(filled_df, self.meta))
        with tr.span("clump.label"):
            classed = filled_df.selectExpr(
                "row", "col", f"FLOOR(value / {self.CLASS_WIDTH!r}) AS value")
            labels = self._grid(clump(classed, self.n), "clump_id")
        tr.value("clump.clumps", float(np.nanmax(labels)))
        return {"filled": filled, "accum": accum, "labels": labels}

    def digest(self, out) -> str:
        h = hashlib.sha256()
        for key in ("filled", "accum", "labels"):
            h.update(np.ascontiguousarray(out[key]).tobytes())
        return h.hexdigest()

    def check(self, out) -> list[str]:
        filled = ref.priority_flood(self.z)
        want = {
            "filled": filled,
            "accum": ref.d8_accumulation(filled, 1.0, 1.0),
            "labels": ref.clump_labels(np.floor(filled / self.CLASS_WIDTH)).astype(np.float64),
        }
        return [f"dem_fixpoint {key}: {int(np.sum(out[key] != want[key]))} cells differ "
                f"from the numpy reference" for key in want
                if not np.array_equal(out[key], want[key])]


class Composite(Workload):
    """Runs its parts one after another in every pass, in one session."""

    def __init__(self, parts: list[Workload]):
        self.parts = parts
        self.items = sum(p.items for p in parts)
        self.warmup_passes = max(p.warmup_passes for p in parts)

    def materialize(self) -> None:
        for p in self.parts:
            p.materialize()

    def run_pass(self, tr, pass_dir: str):
        return [p.run_pass(tr, os.path.join(pass_dir, p.name)) for p in self.parts]

    def digest(self, out) -> str:
        return _sha([p.digest(o) for p, o in zip(self.parts, out)])

    def check(self, out) -> list[str]:
        return [msg for p, o in zip(self.parts, out) for msg in p.check(o)]


# workload name -> parts. The cell-cover and DEM parts share one session
# and one cold pass: both start Python workers, and paying that start-up
# once per run is what lets both fit the run budget.
WORKLOADS = {
    "docs_pip_tile": [DocsPipTile],
    "cellcover_knn_dem": [CellcoverKnnWrite, DemFixpoint],
}


def make(name: str, spark, seed: int, workdir: str, size: str) -> Workload:
    parts = [cls(spark, seed, workdir, size) for cls in WORKLOADS[name]]
    return parts[0] if len(parts) == 1 else Composite(parts)
