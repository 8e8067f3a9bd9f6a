"""The benchmark's workloads and layer probes, each driven through the
engine's public API.  A workload builds its inputs from the seed, runs
one job per call of `job` (ending at Spark's noop sink, so every column
is computed), and checks its output after an untimed warm-up job.

Why these two (each stresses layers the other bypasses):

* ``krige_broadcast`` — the headline pages -> geocode -> broadcast kNN
  -> local kriging shape.  Neighbour search dominates, with zero
  shuffle: it loads the search, kernel and Arrow layers and bypasses
  exchange and tiling.
* ``ann_lsh`` — LSH top-3 ANN (bucket kernel, Hamming-1 probe,
  DISTINCT, gather scoring, rank tail).  No geo layer runs; the Arrow
  pair stream, DISTINCT and shuffle dominate.

The tiled kNN path and the resumable pipeline have no workload of their
own (a run of either costs more than the benchmark's time budget allows
per run); `layer_probes` measures them, with every other layer, in each
traced run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from geostatssolvers_jl_spark import lineage, neighbors, pipelines, planner
from geostatssolvers_jl_spark import tiling
from geostatssolvers_jl_spark.distances import Haversine
from geostatssolvers_jl_spark.grid import CartesianGrid
from geostatssolvers_jl_spark.operators import kriging, tiled
from geostatssolvers_jl_spark.operators.kriging import KrigingModel
from geostatssolvers_jl_spark.sources import pages as P
from geostatssolvers_jl_spark.variogram import GaussianVariogram
from geostatssolvers_jl_spark.webtext import similarity, vecops

from measure import plan_summary


K = 8                      # kriging neighbours, as in the frozen bench
METRIC = Haversine(6371.0)
WORLD = ((-180.0, -90.0), (180.0, 90.0))
REL_TOL = 1e-9             # engine vs driver-side brute force
CHECK_CELLS = 200          # seeded sample of grid cells checked
PROBE_QUERIES = 8000       # one-core search/solve probe sample
PROBE_SCALE = 2.0          # input set of the layer probes
KRIGE_GRID = (360, 180)    # krige_broadcast's grid, also probed
TILED_GRID = (60, 30)      # tiled-path probe grid


def model() -> KrigingModel:
    return KrigingModel(variogram=GaussianVariogram(range=2000.0, sill=1e4))


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def make_inputs(root: Path, work: Path, seed: int, scale: float) -> dict:
    """Inputs from ``tools/make_sf.py --seed``, generated once per (seed,
    scale) under the work directory and reused.  Returns the record
    (seed, scale, sha256 per file) stored beside them."""
    out = work / "inputs" / f"seed{seed}-scale{scale:g}"
    rec_path = out / "inputs.json"
    if not rec_path.is_file():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, str(root / "tools" / "make_sf.py"),
             "--out", str(tmp), "--scale", f"{scale:g}", "--seed", str(seed)],
            check=True, stdout=subprocess.DEVNULL,
        )
        files = {p.name: _sha256(p) for p in sorted(tmp.glob("*.parquet"))}
        (tmp / "inputs.json").write_text(json.dumps(
            {"seed": seed, "scale": scale, "sha256": files}))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    rec = json.loads(rec_path.read_text())
    rec["dir"] = str(out)
    return rec


def pages_frame(spark, sf_dir: str, res: int | None = 6):
    """The frozen bench's data side: geocoded pages with z = text length."""
    pg = P.geocode(P.load_pages(spark, sf_dir), res=res)
    return pg.selectExpr("doc_id AS data_id", "lon", "lat",
                         "CAST(length(text) AS DOUBLE) AS z")


def collect_data(pagesdf) -> neighbors.PointData:
    return neighbors.collect_points(
        pagesdf.filter("z IS NOT NULL"), ["lon", "lat"], ["z"],
        id_col="data_id")


def _mismatch(a: np.ndarray, b: np.ndarray, floor: float) -> np.ndarray:
    """Where a and b differ by more than `REL_TOL` relative to the larger
    of |a|, |b| and ``floor`` (NaN matches NaN)."""
    both_nan = np.isnan(a) & np.isnan(b)
    scale = np.maximum(np.maximum(np.abs(a), np.abs(b)), floor)
    with np.errstate(invalid="ignore"):
        bad = ~(np.abs(a - b) <= REL_TOL * scale)
    return bad & ~both_nan


def check_kriging(pdf, grid: CartesianGrid, data: neighbors.PointData,
                  seed: int) -> list[str]:
    """Row count equals grid cells, ids are the grid's, and a seeded
    sample of cells matches driver-side brute force (`topk_search` +
    `solve_systems`) to `REL_TOL` relative."""
    n = grid.ncells
    ids = pdf["cell_id"].to_numpy(np.int64)
    if len(ids) != n:
        return [f"{len(ids)} output rows for {n} grid cells"]
    if len(np.unique(ids)) != n or ids.min() != 0 or ids.max() != n - 1:
        return ["output cell ids are not the grid's"]
    rng = np.random.default_rng(seed)
    sample = np.sort(rng.choice(n, size=min(CHECK_CELLS, n), replace=False))
    q = grid.centroids_np(sample)
    idx, dist, _ = neighbors.topk_search(q, data.coords, K, METRIC)
    safe = np.maximum(idx, 0)
    mu, var = kriging.solve_systems(
        model(), q, data.coords[safe], data.values["z"].astype(np.float64)[safe],
        idx >= 0, dist, METRIC, 1)
    got = pdf.set_index("cell_id").loc[sample]
    problems = []
    # the kriging variance is the sill minus a sum of terms of the sill's
    # magnitude, so its rounding error scales with the sill, not with the
    # (possibly tiny) variance itself
    sill = model().variogram.sill
    for col, ref, floor in (("z", mu, 0.0), ("z_variance", var, sill)):
        bad = _mismatch(got[col].to_numpy(np.float64), ref, floor)
        if bad.any():
            i = int(np.nonzero(bad)[0][0])
            problems.append(
                f"{col} of cell {int(sample[i])}: engine "
                f"{got[col].to_numpy()[i]!r} vs brute force {ref[i]!r} "
                f"({int(bad.sum())} of {len(sample)} sampled cells differ)")
    return problems


def broadcast_probes(tr, pagesdf, grid: CartesianGrid, seed: int) -> dict:
    """One-core driver-side probes of the broadcast path: collect, index
    build, search and the stacked kriging solve on a seeded query
    sample."""
    with tr.span("neighbors.collect_points"):
        data = collect_data(pagesdf)
    with tr.span("bucket_index.build"):
        data.index(METRIC)
    rng = np.random.default_rng(seed + 1)
    m = min(PROBE_QUERIES, grid.ncells)
    q = grid.centroids_np(rng.choice(grid.ncells, size=m, replace=False))
    with tr.span("neighbors.search"):
        idx, dist, _ = neighbors.search(data, q, K, METRIC)
    safe = np.maximum(idx, 0)
    NC = data.coords[safe]
    zn = data.values["z"].astype(np.float64)[safe]
    with tr.span("operators.kriging.solve_systems"):
        kriging.solve_systems(model(), q, NC, zn, idx >= 0, dist, METRIC, 1)
    t_search = tr.last("neighbors.search")
    t_solve = tr.last("operators.kriging.solve_systems")
    return {
        "neighbors.collect_points_s": tr.last("neighbors.collect_points"),
        "bucket_index.build_s": tr.last("bucket_index.build"),
        "neighbors.search_qps": m / t_search,
        "neighbors.search_share": t_search / (t_search + t_solve),
        "operators.kriging.solve_systems_sps": m / t_solve,
    }


def tiled_probes(tr, qlog, pagesdf, grid: CartesianGrid, cores: int) -> dict:
    """The tiled path on its own: planner resolution, the ring-1 pass
    (certified share, candidate rows), the ring table, and one tiled
    kriging solve split into its pairs ladder and its gather + solve."""
    spark = pagesdf.sparkSession
    n_data = pagesdf.count()
    res = planner.choose_tile_res(n_data)
    gdf = grid.spark_df(spark, scramble=True, num_partitions=cores)
    q = gdf.selectExpr("cell_id", "cx AS lon", "cy AS lat")
    d = pagesdf.select("data_id", "lon", "lat")
    # the first pass replicates the smaller side, as kriging_tiled does
    first = "queries" if grid.ncells <= n_data else "data"
    qlog.begin()
    with tr.span("neighbors.knn_join_tiled"):
        resolved = (
            neighbors.knn_join_tiled(q, d, K, res, metric=METRIC, ring=1,
                                     replicate=first)
            .groupBy("cell_id")
            .agg(F.sum(F.col("certified").cast("int")).alias("nc"),
                 F.count(F.lit(1)).alias("n"))
            .filter((F.col("nc") >= F.col("n")) & (F.col("n") >= K))
            .count())
    nodes = qlog.plan_nodes(qlog.end())
    # the candidate join is the widest join of the ring-1 pass
    cand = max((m.get("numOutputRows", 0) for name, m, _ in nodes
                if "Join" in name), default=0)
    cells = d.selectExpr(f"{tiling.cell_expr('lon', 'lat', res)} AS cell")
    with tr.span("tiling.ring_table"):
        noop_sink(tiling.ring_table(spark, cells, k=1))
    targets = [
        (tiled, "kriging_tiled", "operators.tiled.kriging_tiled"),
        (tiled, "knn_join_tiled_exact", "neighbors.knn_join_tiled_exact"),
    ]
    qlog.begin()
    with tr.patched(targets), tr.span("tiled_solve"):
        sol = kriging.solve_kriging(
            pagesdf, gdf, model=model(), data_coord_cols=["lon", "lat"],
            maxneighbors=K, metric=METRIC, strategy="local-tiled",
            tile_res=res)
        with tr.span("sink.noop"):
            noop_sink(sol)
    shuffled = plan_summary(qlog.plan_nodes(qlog.end()))["shuffle_bytes"]
    pairs = tr.last("neighbors.knn_join_tiled_exact")
    return {
        "neighbors.tiled_res": res,
        "neighbors.tiled_pass1_certified_ratio": resolved / grid.ncells,
        "neighbors.tiled_candidate_rows": cand,
        "neighbors.tiled_yield": grid.ncells * K / cand if cand else 0.0,
        "tiling.ring_table_s": tr.last("tiling.ring_table"),
        "neighbors.tiled_pairs_s": pairs,
        "neighbors.tiled_shuffle_bytes": shuffled,
        # Spark is lazy: the gather and the solve run at the sink
        "operators.tiled.gather_solve_s":
            tr.last("operators.tiled.kriging_tiled") - pairs
            + tr.last("sink.noop"),
    }


def webtext_probes(tr, spark, sf_dir: str, seed: int) -> dict:
    """The LSH bucket kernel as a Spark job, and the one-core rate of the
    sequential-fold pair scorer on seeded pairs."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with tr.span("webtext.vecops.bucket_tables_kernel"):
        noop_sink(vecops.bucket_tables_kernel(
            spark, emb.repartition(spark.sparkContext.defaultParallelism)))
    emb.createOrReplaceTempView("pb_probe_emb")
    ids, E = similarity.collect_emb_matrix(spark, "pb_probe_emb")
    rng = np.random.default_rng(seed + 2)
    m = 200_000
    A, B = E[rng.integers(0, len(ids), m)], E[rng.integers(0, len(ids), m)]
    with tr.span("webtext.vecops.seq_dot_rows"):
        vecops.seq_dot_rows(A, B)
    return {
        "webtext.vecops.bucket_tables_s":
            tr.last("webtext.vecops.bucket_tables_kernel"),
        "webtext.vecops.score_pairs_per_s":
            m / tr.last("webtext.vecops.seq_dot_rows"),
    }


def geocode_probe(tr, spark, sf_dir: str) -> dict:
    with tr.span("sources.pages.geocode"):
        noop_sink(P.geocode(P.load_pages(spark, sf_dir), res=6))
    return {"sources.pages.geocode_s": tr.last("sources.pages.geocode")}


def layer_probes(tr, qlog, spark, root: Path, work: Path, seed: int,
                 cores: int) -> tuple[dict, list[str]]:
    """Every layer's probe, whatever the workload, on the seed's
    `PROBE_SCALE` input set, so that each per-layer time is measured in
    every traced run.  Returns (metrics, problems found by the checks of
    the lineage cycle)."""
    sf = make_inputs(root, work, seed, PROBE_SCALE)["dir"]
    pagesdf = pages_frame(spark, sf)
    out = geocode_probe(tr, spark, sf)
    out.update(broadcast_probes(
        tr, pagesdf, CartesianGrid.from_extent(*WORLD, KRIGE_GRID), seed))
    out.update(tiled_probes(
        tr, qlog, pagesdf, CartesianGrid.from_extent(*WORLD, TILED_GRID),
        cores))
    out.update(webtext_probes(tr, spark, sf, seed))
    values, problems = LineageCycle(
        spark, sf, work / "out" / "lineage", seed).run(tr)
    out.update(values)
    return out, problems


class Workload:
    """One benchmark workload.  Subclasses set the class attributes and
    implement `bind`, `job` and `check`."""

    name = ""
    scale = 1.0
    items_what = ""

    def __init__(self, root: Path, work: Path, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.inputs = make_inputs(root, work, seed, self.scale)
        self.sf = self.inputs["dir"]

    def bind(self, spark) -> None:
        self.spark = spark

    def items(self) -> int:
        raise NotImplementedError

    def job(self, span=lambda name: nullcontext()) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Run one untimed job whose output is collected and checked."""
        raise NotImplementedError

    def job_layers(self, nodes) -> dict:
        """Per-layer counts read from one traced job's executed plans."""
        return {}

    def patch_targets(self) -> list:
        """(module, attribute, span name) wrapped in spans in traced jobs."""
        return []


class KrigeBroadcast(Workload):
    name = "krige_broadcast"
    scale = 2.0
    dims = KRIGE_GRID
    items_what = "grid cells estimated"

    def bind(self, spark):
        super().bind(spark)
        self.grid = CartesianGrid.from_extent(*WORLD, self.dims)

    def items(self):
        return self.grid.ncells

    def solution(self, span=lambda name: nullcontext()):
        spark = self.spark
        with span("sources.pages"):
            pagesdf = pages_frame(spark, self.sf)
        with span("grid.spark_df"):
            gdf = self.grid.spark_df(spark, scramble=True,
                                     num_partitions=self.cores)
        return kriging.solve_kriging(
            pagesdf, gdf, model=model(), data_coord_cols=["lon", "lat"],
            query_coord_cols=["cx", "cy"], maxneighbors=K, metric=METRIC,
            strategy="local-broadcast")

    def job(self, span=lambda name: nullcontext()):
        sol = self.solution(span)
        with span("sink.noop"):
            noop_sink(sol)

    def check(self):
        pdf = self.solution().toPandas()
        data = collect_data(pages_frame(self.spark, self.sf))
        return check_kriging(pdf, self.grid, data, self.seed)

    def patch_targets(self):
        return [
            (P, "load_pages", "sources.pages.load_pages"),
            (P, "geocode", "sources.pages.geocode"),
            (kriging, "solve_kriging", "operators.kriging.solve_kriging"),
            (kriging, "collect_points", "neighbors.collect_points"),
            (kriging, "local_apply", "neighbors.local_apply"),
        ]


class AnnLsh(Workload):
    name = "ann_lsh"
    scale = 0.5
    k = 3
    items_what = "query vectors ranked"

    def _oracle_rows(self) -> list[tuple]:
        """The DuckDB oracle text ``oracle_sql()["ann_topk_lsh"]`` over the
        same parquet, computed once per input set and kept beside it."""
        path = Path(self.sf) / "oracle_ann_topk_lsh.json"
        if not path.is_file():
            import duckdb

            import __spark_entry__ as entry

            con = duckdb.connect()
            try:
                con.execute(f"SET threads TO {self.cores}")
                emb = Path(self.sf) / "embeddings.parquet"
                con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{emb}'")
                rows = con.execute(entry.oracle_sql()["ann_topk_lsh"]).fetchall()
            finally:
                con.close()
            tmp = path.with_name(path.name + f".tmp{os.getpid()}")
            tmp.write_text(json.dumps([list(r) for r in rows]))
            tmp.rename(path)
        return sorted(_ann_row(r) for r in json.loads(path.read_text()))

    def bind(self, spark):
        super().bind(spark)
        self.emb = spark.read.parquet(f"{self.sf}/embeddings.parquet")
        self.emb.createOrReplaceTempView("pb_emb")
        self.n = self.emb.count()

    def items(self):
        return self.n

    def result(self):
        spark = self.spark
        bt = vecops.bucket_tables_kernel(
            spark, self.emb.repartition(spark.sparkContext.defaultParallelism))
        bt.createOrReplaceTempView("pb_bt")
        return similarity.ann_topk_lsh_spark(
            spark, k=self.k, bt_rel="pb_bt", emb_rel="pb_emb", known_n=self.n)

    def job(self, span=lambda name: nullcontext()):
        out = self.result()
        with span("sink.noop"):
            noop_sink(out)

    def check(self):
        # the oracle (~10 s of DuckDB planning on a new input set) runs
        # beside the untimed warm-up job and is awaited before timing
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle_rows)
            got = sorted(_ann_row(r) for r in self.result().collect())
            want = oracle.result()
        if got == want:
            return []
        diff = len(set(got) ^ set(want))
        return [f"ann rows differ from the DuckDB oracle: {len(got)} vs "
                f"{len(want)} rows, {diff} not in both"]

    def job_layers(self, nodes) -> dict:
        """Candidate and distinct pair counts of one traced job's plans."""
        cand = max((m.get("numOutputRows", 0) for name, m, _ in nodes
                    if "Join" in name), default=0)
        distinct = sum(
            m.get("pythonNumRowsReceived", 0) for name, m, node in nodes
            if name == "MapInPandas" and "c_raw" in node.output().toString())
        return {
            "webtext.similarity.candidate_rows": cand,
            "webtext.similarity.distinct_pairs": distinct,
            "webtext.similarity.yield":
                self.n * self.k / distinct if distinct else 0.0,
        }

    def patch_targets(self):
        return [
            (vecops, "bucket_tables_kernel", "webtext.vecops.bucket_tables_kernel"),
            (similarity, "ann_topk_lsh_spark", "webtext.similarity.ann_topk_lsh_spark"),
            (similarity, "collect_emb_matrix", "webtext.similarity.collect_emb_matrix"),
            (vecops, "gather_score_pairs", "webtext.vecops.gather_score_pairs"),
        ]


def _ann_row(r) -> tuple:
    qid, nid, cos, rank = r
    return (int(qid), int(nid), round(float(cos), 9), int(rank))


class LineageCycle:
    """The resumable kriging pipeline (`pipelines.kriging_pages_resumable`)
    through a simulated kill: half the work units committed from an
    already materialized solution, then a resume, a no-op resume and a
    read-back, each step in a span.  Measures the ``lineage`` layer and
    checks its contract: one manifest row per unit, rows summing to the
    grid, and a resume that recomputes exactly the pending units."""

    dims = (90, 45)
    n_units = 16
    stage = "kriging"

    def __init__(self, spark, sf: str, out: Path, seed: int):
        self.spark, self.sf, self.seed = spark, sf, seed
        self.base = str(out)
        self.grid = CartesianGrid.from_extent(*WORLD, self.dims)
        self.block = -(-self.grid.ncells // self.n_units)

    def _units(self, upto: int | None = None):
        u = self.spark.range(self.n_units).select(F.col("id").alias("unit"))
        return u if upto is None else u.filter(F.col("unit") < upto)

    def _compute(self, todo):
        """The pipeline's per-unit compute: broadcast kriging over the
        grid blocks of the given units, split as the pipeline splits."""
        units = [r["unit"] for r in todo.select("unit").collect()]
        unit = (F.col("cell_id") / self.block).cast("long")
        gdf = self.grid.spark_df(self.spark).withColumn("unit", unit)
        gdf = gdf.filter(F.col("unit").isin(units)).drop("unit")
        sol = kriging.solve_kriging(
            pages_frame(self.spark, self.sf, res=None), gdf, model=model(),
            data_coord_cols=["lon", "lat"], maxneighbors=K, metric=METRIC,
            strategy="local-broadcast")
        return sol.withColumn("unit", unit)

    def _resume(self):
        return pipelines.kriging_pages_resumable(
            self.spark, self.sf, self.base, self.grid, model(),
            n_units=self.n_units, maxneighbors=K, metric=METRIC,
            stage=self.stage)

    def run(self, tr) -> tuple[dict, list[str]]:
        spark = self.spark
        shutil.rmtree(self.base, ignore_errors=True)
        half = self._units(self.n_units // 2)
        sol = self._compute(half).persist()
        sol.count()
        with tr.span("lineage.commit_units"):
            lineage.commit_units(sol, self.base, self.stage, units=half)
        sol.unpersist()
        with tr.span("lineage.pending_units"):
            lineage.pending_units(self._units(), spark, self.base,
                                  self.stage).count()
        with tr.span("resume"):
            noop_sink(self._resume())
        with tr.span("resume.noop"):
            noop_sink(self._resume())
        with tr.span("lineage.readback"):
            pdf = spark.read.parquet(f"{self.base}/{self.stage}").toPandas()
        batches, rows = self._batches()
        kill_wall = next((r["wall_s"] for r in rows if r["unit"] == 0), None)
        files = [p for p in Path(self.base).rglob("*")
                 if p.is_file() and not p.name.endswith(".crc")]
        data_bytes = sum(p.stat().st_size for p in files
                         if p.suffix == ".parquet" and self.stage in p.parts)
        values = {
            "resume_s": tr.last("resume"),
            "lineage.commit_units_s": tr.last("lineage.commit_units"),
            "lineage.pending_units_s": tr.last("lineage.pending_units"),
            # manifest rows the resume wrote: those outside the commit
            # made before the kill, which holds unit 0
            "lineage.recomputed_units": sum(
                1 for r in rows if r["wall_s"] != kill_wall),
            "lineage.readback_s": tr.last("lineage.readback"),
            "lineage.files_written": len(files),
            "lineage.bytes_per_row": data_bytes / self.grid.ncells,
        }
        problems = self._check_manifest(batches, rows)
        data = collect_data(pages_frame(spark, self.sf, res=None))
        problems += check_kriging(pdf, self.grid, data, self.seed)
        return values, problems

    def _batches(self):
        """Committed unit sets, one per commit (the rows of one commit
        share its wall_s), and the manifest rows."""
        rows = lineage.read_manifest(self.spark, self.base, self.stage).collect()
        by: dict[float, set] = {}
        for r in rows:
            by.setdefault(r["wall_s"], set()).add(r["unit"])
        return list(by.values()), rows

    def _check_manifest(self, batches, rows) -> list[str]:
        problems = []
        units = sorted(r["unit"] for r in rows)
        if units != list(range(self.n_units)):
            problems.append(f"manifest units {units} are not one row per "
                            f"unit of {self.n_units}")
        total = sum(r["rows"] for r in rows)
        if total != self.grid.ncells:
            problems.append(f"manifest rows sum to {total}, grid has "
                            f"{self.grid.ncells} cells")
        half = set(range(self.n_units // 2))
        rest = set(range(self.n_units)) - half
        if sorted(map(sorted, batches)) != sorted(map(sorted, (half, rest))):
            problems.append("the resume did not recompute exactly the "
                            f"pending units: commits {batches}")
        return problems


WORKLOADS = {w.name: w for w in (KrigeBroadcast, AnnLsh)}
