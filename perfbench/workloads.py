"""The benchmark's workloads.

Each workload builds its inputs and serial references once in
``setup``, runs one pass of engine calls per ``run_pass`` (every call
inside a tracer span named after the op and the layer it enters),
checks a pass's outputs in ``check`` outside the timing, and releases
what the pass itself persisted in ``release``.  ``probes`` times the
layer-level calls of the traced run.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_us(fn, items) -> float:
    out = []
    for it in items:
        t0 = time.perf_counter()
        fn(it)
        out.append((time.perf_counter() - t0) * 1e6)
    return statistics.median(out)


class Workload:
    name = ""
    # (printed stage time, span names summed into it)
    stages: list[tuple[str, tuple[str, ...]]] = []
    # what units() counts, for the printed throughput
    work_unit = ""

    def __init__(self, spark, tracer, work_dir: str, seed: int, toy: bool):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.toy = toy
        self.baseline_s = 0.0
        self.completed = 0
        self.probe_failed = 0
        self.corrupt = False
        os.makedirs(work_dir, exist_ok=True)

    def got(self, arr: np.ndarray) -> np.ndarray:
        """An output on its way to the check; ``corrupt`` changes one
        cell of the first one (the benchmark's self-test)."""
        if self.corrupt:
            self.corrupt = False
            arr = arr.copy()
            arr.flat[0] += 1
        return arr

    def op(self, name: str, layer: str, fn):
        with self.tracer.span(name, layer):
            out = fn()
        self.completed += 1
        return out

    def units(self) -> float:
        """Work per pass, in ``work_unit``."""
        raise NotImplementedError

    def probes(self, passes: list[int]) -> dict[str, float]:
        """Layer-level numbers of the traced run; ``passes`` are the ids
        of its job-tagged passes."""
        return {}


# ---------------------------------------------------------------------------
# hydro_manytile
# ---------------------------------------------------------------------------


class HydroManyTile(Workload):
    """Perlin DEM read from parquet, fill -> D8 accum -> slope -> write,
    on 1024 tiles of 32x32: the tile boundary, the halo strips and the
    perimeter solve dominate, each kernel call does little.  The traced
    run also times Quinn MFD on a 256x256 Perlin DEM on 2x2 tiles, whose
    cost is seam rounds x the per-round Spark job floor."""

    name = "hydro_manytile"
    work_unit = "cells"
    stages = [("read_s", ("read_raster",)),
              ("fill_s", ("fill",)),
              ("accum_s", ("accum",)),
              ("slope_s", ("slope",)),
              ("write_s", ("write_raster",))]

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.grid, self.tile = (64, 16) if self.toy else (1024, 32)
        self.mfd_grid, self.mfd_tile = (32, 16) if self.toy else (256, 128)

    def describe(self) -> dict:
        n = -(-self.grid // self.tile)
        m = -(-self.mfd_grid // self.mfd_tile)
        return {"grid": self.grid, "tile": self.tile, "tiles": n * n,
                "mfd_grid": self.mfd_grid, "mfd_tile": self.mfd_tile,
                "mfd_tiles": m * m}

    def units(self) -> float:
        return float(self.grid ** 2)

    def setup(self) -> None:
        from richdem_spark.kernels.d8 import d8_flow_accum, d8_flow_directions
        from richdem_spark.kernels.fill import priority_flood_fill
        from richdem_spark.kernels.terrain import slope_riserun
        from richdem_spark.tiles import raster_from_array, write_raster

        from inputs import perlin_dem

        self.dem = perlin_dem(self.grid, self.seed)
        self.in_path = os.path.join(self.work, "dem_in")
        write_raster(raster_from_array(self.spark, self.dem, self.tile,
                                       self.tile), self.in_path)
        t0 = time.perf_counter()
        fill = priority_flood_fill(self.dem)
        dirs = d8_flow_directions(fill)
        accum = d8_flow_accum(dirs)
        slope = slope_riserun(fill)
        self.baseline_s = time.perf_counter() - t0
        self.ref = {"fill": fill, "dirs": dirs, "accum": accum,
                    "slope": slope}

    def run_pass(self, k: int) -> dict:
        from richdem_spark.api import (
            FillDepressions,
            FlowAccumulation,
            TerrainAttribute,
        )
        from richdem_spark.tiles import read_raster, write_raster

        out_path = os.path.join(self.work, f"accum_out{k}")
        tr = self.op("read_raster", "tiles",
                     lambda: read_raster(self.spark, self.in_path))
        with self.tracer.span("fill", "ops.fill"):
            fill = self.op("fill.call", "ops.fill",
                           lambda: FillDepressions(tr))
            self.op("fill.materialize", "ops.fill",
                    lambda: fill.persist().df.count())
        with self.tracer.span("accum", "ops.accum"):
            acc = self.op("accum.call", "ops.accum",
                          lambda: FlowAccumulation(fill))
            self.op("accum.materialize", "ops.accum",
                    lambda: acc.persist().df.count())
        slope = self.op("slope", "ops.focal", lambda: _persisted(
            TerrainAttribute(fill, "slope_riserun")))
        self.op("write_raster", "tiles", lambda: write_raster(acc, out_path))
        return {"fill": fill, "accum": acc, "slope": slope,
                "out_path": out_path}

    def check(self, h: dict) -> dict[str, bool]:
        import pyarrow.parquet as pq

        ok = {
            "fill": np.array_equal(self.got(h["fill"].to_array()),
                                   self.ref["fill"]),
            "accum": np.array_equal(self.got(h["accum"].to_array()),
                                    self.ref["accum"]),
            "slope": np.allclose(self.got(h["slope"].to_array()),
                                 self.ref["slope"], rtol=1e-9, atol=1e-9),
        }
        written = pq.read_table(h["out_path"], columns=["tile_x"]).num_rows
        ok["write_raster"] = written == self.describe()["tiles"]
        shutil.rmtree(h["out_path"], ignore_errors=True)
        return ok

    def release(self, h: dict) -> None:
        for key in ("fill", "accum", "slope"):
            h[key].unpersist()

    def probes(self, passes: list[int]) -> dict[str, float]:
        from richdem_spark.kernels.d8 import d8_flow_accum, d8_flow_directions
        from richdem_spark.kernels.fill import fill_tile_labels
        from richdem_spark.kernels.terrain import slope_riserun
        from richdem_spark.ops.focal import elementwise
        from richdem_spark.tiles import halo_join, read_raster

        tr = read_raster(self.spark, self.in_path)
        m = tr.meta
        tiles = [(tx, ty) for ty in range(m.ntiles_y)
                 for tx in range(m.ntiles_x)]
        # every 4th tile: the per-tile cost is flat across a Perlin grid
        sample = tiles[::4]

        def sub(a, tx, ty):
            return a[ty * m.tile_h:(ty + 1) * m.tile_h,
                     tx * m.tile_w:(tx + 1) * m.tile_w]

        out = {
            "kernels.fill_tile_labels_us_per_tile": _median_us(
                lambda t: fill_tile_labels(sub(self.dem, *t), None,
                                           m.edge_mask(*t), 2), sample),
            "kernels.d8_flow_directions_us_per_tile": _median_us(
                lambda t: d8_flow_directions(sub(self.ref["fill"], *t)),
                sample),
            "kernels.d8_flow_accum_us_per_tile": _median_us(
                lambda t: d8_flow_accum(sub(self.ref["dirs"], *t)), sample),
            "kernels.slope_riserun_us_per_tile": _median_us(
                lambda t: slope_riserun(sub(self.ref["fill"], *t)), sample),
            "kernels.serial_pipeline_s": self.baseline_s,
            # fill 8 B in + 8 out + 8 labels, dirs 8 in + 1 out,
            # accum 1 in + 8 out, slope 8 in + 8 out, per cell
            "kernels.bytes_computed": float(66 * m.width * m.height),
        }
        perim = sum(2 * (w + h) - 4 for w, h in
                    (m.tile_dims(tx, ty) for tx, ty in tiles))
        out["solve.perimeter_cells"] = float(perim)
        # four float64 edge strips plus four corners per tile
        out["tiles.halo_strip_bytes"] = float(8 * (perim + 4 * len(tiles)))
        with self.tracer.span("tiles.stage_floor", "tiles"):
            _noop(elementwise(tr, lambda a: a).df)
        with self.tracer.span("tiles.halo_join", "tiles"):
            _noop(halo_join(tr))
        for name in ("tiles.stage_floor", "tiles.halo_join"):
            out[f"{name}_s"] = self.tracer.seconds(name, None)
        out.update(self.mfd_probe())
        return out

    def mfd_probe(self, reps: int = 3) -> dict[str, float]:
        """Quinn MFD, ``reps`` times on a fresh input, each call checked
        against the serial kernels; medians of the rounds and times."""
        from richdem_spark.api import FlowAccumulation
        from richdem_spark.kernels.flowmet import fm_quinn, prop_flow_accum
        from richdem_spark.tiles import raster_from_array

        from inputs import perlin_dem

        dem = perlin_dem(self.mfd_grid, self.seed)
        ref = prop_flow_accum(fm_quinn(dem, None))
        runs = []
        for _ in range(reps):
            m: dict = {}
            with self.tracer.span("mfd", "ops.mfd") as sid:
                tr = self.op("mfd.call", "ops.mfd", lambda: _persisted(
                    FlowAccumulation(raster_from_array(
                        self.spark, dem, self.mfd_tile, self.mfd_tile),
                        "Quinn", metrics=m)))
            span = next(s for s in self.tracer.spans if s["id"] == sid)
            if not np.allclose(self.got(tr.to_array()), ref, rtol=0,
                               atol=1e-9):
                self.probe_failed += 1
            tr.unpersist()
            runs.append((span["end"] - span["start"], m))
        return {
            "mfd_s": statistics.median(t for t, _ in runs),
            "mfd.rounds": statistics.median(m["rounds"] for _, m in runs),
            "mfd.inflight_rows": statistics.median(
                sum(m["inflight_per_round"]) for _, m in runs),
            "mfd.s_per_round": statistics.median(
                t / max(m["rounds"], 1) for t, m in runs),
        }


def _persisted(tr):
    tr.persist().df.count()
    return tr


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

# query -> module it enters
TABLE_QUERIES = {
    "knn_sites_cells": "spatial",
    "minhash_lsh_pairs": "textops",
    "cosine_topk": "vector",
}


def _norm(v) -> str:
    """Value normalisation of the DuckDB oracle comparison: floats to six
    significant digits, NULL and NaN spelled out."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "nan" if v != v else f"{v:.6g}"
    return str(v)


def _rowset(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class Tables(Workload):
    """One spatial, one text and one vector query of __spark_entry__ on
    seeded tables with the sf0.1 row counts and value ranges measured in
    inputs.py, rows collected and checked against the DuckDB oracle: many small rows, no tiles, kernels or solve."""

    name = "tables"
    stages = [("spatial_s", tuple(q for q, m in TABLE_QUERIES.items()
                                  if m == "spatial")),
              ("text_s", tuple(q for q, m in TABLE_QUERIES.items()
                               if m == "textops")),
              ("vector_s", tuple(q for q, m in TABLE_QUERIES.items()
                                 if m == "vector"))]
    work_unit = "queries"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_docs, self.n_vecs = (200, 100) if self.toy else (5000, 2000)
        self.rows: dict[str, list] = {}

    def describe(self) -> dict:
        return {"documents": self.n_docs, "embeddings": self.n_vecs,
                "queries": len(TABLE_QUERIES)}

    def units(self) -> float:
        return float(len(TABLE_QUERIES))

    def setup(self) -> None:
        import duckdb

        import __spark_entry__ as entry
        from inputs import write_tables

        self.data = os.path.join(self.work, "tables")
        write_tables(self.data, self.seed, self.n_docs, self.n_vecs)
        self.queries = entry.queries()
        sql = entry.oracle_sql()
        t0 = time.perf_counter()
        con = duckdb.connect()
        try:
            con.execute("set threads to 1")
            for t in ("documents", "embeddings", "region", "nation"):
                con.execute(f"create view {t} as select * from "
                            f"'{self.data}/{t}.parquet'")
            self.ref = {}
            for q in TABLE_QUERIES:
                res = con.execute(sql[q])
                cols = [d[0] for d in res.description]
                self.ref[q] = (sorted(cols), _rowset(res.fetchall(), cols))
        finally:
            con.close()
        self.baseline_s = time.perf_counter() - t0

    def run_pass(self, k: int) -> dict:
        self.rows = {}
        for q, module in TABLE_QUERIES.items():
            def run(q=q):
                df = self.queries[q](self.spark, self.data)
                self.rows[q] = (df.columns, df.collect())
            self.op(q, module, run)
        return dict(self.rows)

    def check(self, h: dict) -> dict[str, bool]:
        ok = {}
        for q, (cols, rows) in h.items():
            want_cols, want = self.ref[q]
            got = _rowset([tuple(r) for r in rows], cols)
            if got and self.corrupt:
                self.corrupt = False
                got[0] = ("corrupted",) + got[0][1:]
            ok[q] = sorted(cols) == want_cols and got == want
        return ok

    def release(self, h: dict) -> None:
        pass

    def probes(self, passes: list[int]) -> dict[str, float]:
        return {f"{module}.{q}_s": statistics.median(
            self.tracer.seconds(q, k) for k in passes)
            for q, module in TABLE_QUERIES.items()}


WORKLOADS = {w.name: w for w in (HydroManyTile, Tables)}
