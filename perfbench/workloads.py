"""The two benchmark workloads: seeded inputs, one timed rep, an oracle.

`pages_pip` is the vector side (pages → point-in-polygon join). `raster` is
the raster side: a dense two-band NDVI over UInt16 tiles, then a sparse
density raster burned from the same pages, reduced under zones and
checkpointed into a snapshot table.

Inputs are generated without Spark (numpy + pyarrow) and cached on disk by
(kind, seed, size); the oracle answer is computed from the same generated
arrays with numpy and the `cells` kernels, and cached beside the input. A
workload object only ever sees the cached files, never the seed.

Zones are the fixed fixture set `make_polygon_fixtures(n, ZONE_SEED)`, not
seeded: zone geometry sets the cover and candidate work, and across fixture
seeds 1-8 the 64-zone cover at res 10 ranged from 60.6k to 82.6k cells
(6.4-9.7 s of driver time), which would swamp run-to-run spread. Pages and
tiles vary with the seed.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # smoke check of the benchmark itself
    "tiny": {"pages": 4_000, "tiles": 4, "pip_zones": 64, "raster_zones": 4},
    # fitted to a run of about a minute on a 4-core host
    "default": {"pages": 100_000, "tiles": 32, "pip_zones": 64, "raster_zones": 16},
}
ZONE_SEED = 42
PIP_RES = 8
RASTER_RES = 10
TILE_SHIFT = 4
BUCKETS = 16
PRUNE_BELOW = 4  # pruned read keeps buckets 0..3
TILE = 256
NODATA_SHARE = 0.05
PARTS = 4  # parquet parts per input, so the scan splits over the cores


# ------------------------------------------------------------------ inputs --
def ensure_input(data_dir: str, kind: str, seed: int, size: str) -> str:
    """Directory holding the `kind` ("pages" or "tiles") input files and
    `_oracle.json` for (seed, size), generated on first use. The name
    carries the preset's numbers, so a changed preset is not served stale
    files."""
    tag = "-".join(f"{k}{v}" for k, v in sorted(SIZES[size].items()))
    path = os.path.join(data_dir, "inputs", f"{kind}-s{seed}-{size}-{tag}")
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        oracle = (_make_pages if kind == "pages" else _make_tiles)(path, seed, SIZES[size])
        with open(os.path.join(path, "_oracle.json"), "w") as f:
            json.dump(oracle, f)
        open(done, "w").close()
    return path


def _make_pages(path: str, seed: int, size: dict) -> dict:
    """The rows `sources.pages.materialize_pages(spark, n, seed, path)`
    writes (same `gen_batch`), split over PARTS parquet parts."""
    from erased_cells_spark.sources.pages import gen_batch

    n = size["pages"]
    bounds = np.linspace(0, n, PARTS + 1).astype(int)
    hosts = []
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pdf = gen_batch(np.arange(lo, hi, dtype=np.int64), seed)
        pdf["warc_ts"] = pdf["warc_ts"].dt.tz_localize("UTC")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"), coerce_timestamps="us")
        hosts += [u.split("/", 3)[2] for u in pdf["url"]]
    return {
        "pages": n,
        "pip": pip_oracle(hosts, size["pip_zones"]),
        "zonal": raster_oracle(hosts, size["raster_zones"]),
    }


def zones(n: int) -> list[dict]:
    from erased_cells_spark.spatial.geom import make_polygon_fixtures

    return make_polygon_fixtures(n, ZONE_SEED)


def pip_oracle(hosts: list[str], n_zones: int) -> dict:
    """Per-zone n_pages / n_hosts by brute force: `pip_join_np` over
    `geocode_np` of every page's host."""
    from erased_cells_spark.functions.geocode import geocode_np
    from erased_cells_spark.operators.pip import pip_join_np

    # every page of a host shares its location, so the join runs over the
    # distinct hosts and each match counts that host's pages
    uniq, pages = np.unique(np.asarray(hosts), return_counts=True)
    lon, lat = geocode_np(uniq.tolist())
    pairs = np.asarray(pip_join_np(lon, lat, zones(n_zones)), dtype=np.int64).reshape(-1, 2)
    out = {}
    for pid in np.unique(pairs[:, 1]):
        idx = pairs[pairs[:, 1] == pid, 0]
        out[str(int(pid))] = [int(pages[idx].sum()), int(len(idx))]
    return {"zones": out}


def raster_oracle(hosts: list[str], n_zones: int) -> dict:
    """Density raster at RASTER_RES reduced under each zone by cell centre
    (the zonal_stats convention), plus the tile count and the tiles the
    pruned snapshot read must return."""
    from erased_cells_spark.functions.geocode import geocode_np
    from erased_cells_spark.spatial.geom import points_in_ring

    lon, lat = geocode_np(hosts)
    n = 1 << RASTER_RES
    ix = np.floor((lon + 180.0) / 360.0 * float(n)).astype(np.int64) % n
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * float(n)).astype(np.int64), 0, n - 1)
    cells, counts = np.unique(iy * n + ix, return_counts=True)
    ciy, cix = np.divmod(cells, n)
    cx = (cix + 0.5) / n * 360.0 - 180.0
    cy = (ciy + 0.5) / n * 180.0 - 90.0
    out = {}
    for z in zones(n_zones):
        v = counts[points_in_ring(cx, cy, z["ring"])].astype(np.float64)
        if len(v):
            out[str(int(z["poly_id"]))] = [float(v.min()), float(v.max()), float(v.sum()), int(len(v))]
    tkeys = np.unique((ciy >> TILE_SHIFT) * (n >> TILE_SHIFT) + (cix >> TILE_SHIFT))
    return {
        "zones": out,
        "tiles": int(len(tkeys)),
        "pruned_tiles": int((tkeys % BUCKETS < PRUNE_BELOW).sum()),
    }


def tile_arrays(seed: int, i: int):
    """Tile i of the seeded two-band UInt16 raster: (nir, red, nir_valid)."""
    rng = np.random.default_rng([seed, i])
    nir = rng.integers(3000, 30000, (TILE, TILE), dtype=np.uint16)
    red = rng.integers(1000, 20000, (TILE, TILE), dtype=np.uint16)
    valid = rng.random((TILE, TILE)) >= NODATA_SHARE
    return nir, red, valid


TILES_ARROW_SCHEMA = pa.schema(
    [("tile_id", pa.int64())]
    + [
        (f"{band}_{k}", t)
        for band in ("nir", "red")
        for k, t in (
            ("cell_type", pa.string()),
            ("cols", pa.int32()),
            ("rows", pa.int32()),
            ("data", pa.binary()),
            ("mask", pa.binary()),
        )
    ]
)


def _make_tiles(path: str, seed: int, size: dict) -> dict:
    from erased_cells_spark.tiles.schema import tile_row

    arrays = [tile_arrays(seed, i) for i in range(size["tiles"])]
    for part, ids in enumerate(np.array_split(np.arange(len(arrays)), PARTS)):
        rows = []
        for i in ids:
            nir, red, valid = arrays[i]
            row = {"tile_id": int(i)}
            row.update({f"nir_{k}": v for k, v in tile_row(nir, valid).items()})
            row.update({f"red_{k}": v for k, v in tile_row(red).items()})  # NULL mask
            rows.append(row)
        if rows:
            pq.write_table(
                pa.Table.from_pylist(rows, TILES_ARROW_SCHEMA),
                os.path.join(path, f"part-{part:03d}.parquet"),
            )
    return {"cells": size["tiles"] * TILE * TILE, "ndvi": ndvi_kernel(arrays)}


def ndvi_kernel(arrays) -> dict:
    """NDVI + mask-aware min_max/counts/sum + Float32 NIR egress checksum
    with the `cells` kernels directly, one tile at a time in this process:
    the answer the Spark plan must give, and the floor its cost is
    compared against."""
    from erased_cells_spark.cells import CellBuffer, CellType, Mask, MaskedCellBuffer, NoData

    f32 = CellType.parse("Float32")
    nd = NoData("default", f32, None)
    lo, hi, total, data, nodata, crc = np.inf, -np.inf, 0.0, 0, 0, 0
    for nir, red, valid in arrays:
        n = MaskedCellBuffer(CellBuffer(nir.ravel()), Mask(valid.ravel()))
        r = MaskedCellBuffer.from_buffer(CellBuffer(red.ravel()))
        ndvi = (n - r) / (n + r)
        a, b = ndvi.min_max()
        d, m = ndvi.counts()
        lo, hi = min(lo, float(a.v)), max(hi, float(b.v))
        total += float(ndvi.buffer.data[ndvi.mask.data].sum())
        data, nodata = data + d, nodata + m
        crc += zlib.crc32(n.to_vec_with_nodata(f32, nd).tobytes())
    return {"min": lo, "max": hi, "sum": total, "data": data, "nodata": nodata, "crc": crc}


# ---------------------------------------------------------------- workloads --
def _close(a, b) -> bool:
    """Counts and checksums match exactly; float sums (summed in another
    order by Spark) to a relative 1e-9."""
    if isinstance(a, int) and isinstance(b, int):
        return a == b
    return abs(a - b) <= 1e-9 * max(1.0, abs(b))


def _zone_mismatches(got: dict, want: dict) -> list[str]:
    bad = [f"zone {k}: missing, want {v}" for k, v in want.items() if k not in got]
    for k, g in got.items():
        w = want.get(k)
        if w is None or len(g) != len(w) or not all(_close(a, b) for a, b in zip(g, w)):
            bad.append(f"zone {k}: got {g} want {w}")
    return bad


class Workload:
    """One workload on one Spark session. `rep()` runs the timed work and
    returns its outputs; `check()` lists every mismatch with the oracle."""

    name = ""
    kinds: tuple[str, ...] = ()  # input kinds, see ensure_input
    # untimed reps after the cold one: the JIT and Catalyst keep speeding the
    # reps up for a few seconds of work, and timed reps before that would
    # measure the warm-up curve, not the program
    warmup_reps = 1

    def __init__(self, spark, inputs: dict, work_dir: str, size: str, tracer):
        self.spark = spark
        self.inputs = inputs
        self.work_dir = work_dir
        self.size = SIZES[size]
        self.tracer = tracer
        self.oracle = {}
        for path in inputs.values():
            with open(os.path.join(path, "_oracle.json")) as f:
                self.oracle.update(json.load(f))

    def open(self) -> None:
        raise NotImplementedError

    def rep(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def verify_once(self) -> list[str]:
        """Checks too slow for every rep, run once after the timed reps."""
        return []

    def prefixes(self) -> dict:
        """Named noop-sink prefix plans of the rep, for the traced deltas."""
        return {}


class PagesPip(Workload):
    """Rows are pages."""

    name = "pages_pip"
    kinds = ("pages",)
    warmup_reps = 3

    def open(self) -> None:
        self.pages = self.spark.read.parquet(self.inputs["pages"])
        self.zones = zones(self.size["pip_zones"])
        self.rows = self.oracle["pages"]

    def rep(self) -> dict:
        from erased_cells_spark.pipeline import flagship_with_invariant

        with self.tracer.span("pipeline.flagship_with_invariant"):
            out, obs = flagship_with_invariant(self.pages, self.zones, res=PIP_RES)
        with self.tracer.span("pipeline.collect"):
            rows = out.collect()
        return {
            "zones": {str(r.poly_id): [r.n_pages, r.n_hosts] for r in rows},
            "bad_extractions": obs.get["bad_extractions"],
            "rows_in": obs.get["rows_in"],
        }

    def check(self, out: dict) -> list[str]:
        bad = _zone_mismatches(out["zones"], self.oracle["pip"]["zones"])
        if out["bad_extractions"] != 0:
            bad.append(f"bad_extractions={out['bad_extractions']}")
        if out["rows_in"] != self.rows:
            bad.append(f"rows_in={out['rows_in']} want {self.rows}")
        return bad

    def prefixes(self) -> dict:
        from pyspark.sql import functions as F

        from erased_cells_spark.functions.text import extract_text
        from erased_cells_spark.operators.pip import pip_join
        from erased_cells_spark.pipeline import geocoded_pages

        text = self.pages.select("url", "html", "text")
        urls = self.pages.select("url")
        return {
            "scan": lambda: text,
            "scan_extract": lambda: text.select((extract_text(F.col("html")) != F.col("text")).alias("bad")),
            "scan_url": lambda: urls,
            "scan_geocode": lambda: geocoded_pages(urls, use_extracted_text=False),
            "join": lambda: pip_join(
                geocoded_pages(text, use_extracted_text=True).select(
                    "url", "host", "lon", "lat", (F.col("extracted") != F.col("text")).alias("bad")
                ),
                self.zones,
                res=PIP_RES,
            ),
        }


class Raster(Workload):
    """Two parts per rep, each one Spark plan or chain of plans:

    ndvi: `tiles.udfs.ndvi_expr` → `tile_stats` → global min/max/sum/
      data/nodata, plus a `tile_to_vec_with_nodata(nir, "Float32")` egress
      crc32 checksum, over the dense two-band tiles.
    checkpoint: the pages' urls → geocode → `rasterize_points` (cached) →
      `zonal_stats` → `SnapshotTable.write_partitions` into a fresh table
      of BUCKETS tile buckets → zone-map-pruned read + count.

    Rows are raster cells: the NDVI cells per band plus the cells of the
    density tiles."""

    name = "raster"
    kinds = ("tiles", "pages")

    def open(self) -> None:
        self.tiles = self.spark.read.parquet(self.inputs["tiles"])
        self.pages = self.spark.read.parquet(self.inputs["pages"])
        self.zones = zones(self.size["raster_zones"])
        cell = 1 << (2 * TILE_SHIFT)
        self.rows = self.oracle["cells"] + self.oracle["zonal"]["tiles"] * cell
        self.n_rep = 0

    def rep(self) -> dict:
        return {"ndvi": self._ndvi(), **self._checkpoint()}

    def _ndvi(self) -> dict:
        from pyspark.sql import functions as F

        from erased_cells_spark.tiles.udfs import ndvi_expr, tile_stats, tile_to_vec_with_nodata

        with self.tracer.span("tiles.udfs.ndvi_expr"):
            nd = ndvi_expr(self.tiles)
            per_tile = nd.select(
                tile_stats(F.col("ndvi.cell_type"), F.col("ndvi.data"), F.col("ndvi.mask")).alias("s"),
                F.crc32(
                    tile_to_vec_with_nodata(
                        F.col("nir_cell_type"), F.col("nir_data"), F.col("nir_mask"), "Float32"
                    )
                ).alias("crc"),
            )
            agg = per_tile.agg(
                F.min("s.min_value").alias("min"),
                F.max("s.max_value").alias("max"),
                F.sum("s.sum_value").alias("sum"),
                F.sum("s.data_count").alias("data"),
                F.sum("s.nodata_count").alias("nodata"),
                F.sum("crc").alias("crc"),
            )
        with self.tracer.span("tiles.udfs.collect"):
            return agg.first().asDict()

    def _checkpoint(self) -> dict:
        from pyspark.sql import functions as F

        from erased_cells_spark.operators.raster import rasterize_points, zonal_stats
        from erased_cells_spark.pipeline import geocoded_pages
        from erased_cells_spark.sources.snapshot import SnapshotTable

        self.n_rep += 1
        shutil.rmtree(os.path.join(self.work_dir, f"snapshot-{self.n_rep - 1}"), ignore_errors=True)
        t = self.tracer
        with t.span("pipeline.geocoded_pages"):
            pts = geocoded_pages(self.pages.select("url"), use_extracted_text=False)
        with t.span("operators.raster.rasterize_points"):
            tiles = (
                rasterize_points(pts, res=RASTER_RES, tile_shift=TILE_SHIFT)
                .withColumn("bucket", F.pmod(F.col("tile_key"), F.lit(BUCKETS)).cast("int"))
                .cache()
            )
            n_tiles = tiles.count()
        try:
            with t.span("operators.raster.zonal_stats"):
                z = zonal_stats(tiles, self.zones, res=RASTER_RES, tile_shift=TILE_SHIFT)
            with t.span("operators.raster.zonal_collect"):
                zrows = z.collect()
            with t.span("sources.snapshot.write_partitions"):
                self.table = SnapshotTable(os.path.join(self.work_dir, f"snapshot-{self.n_rep}"))
                written = self.table.write_partitions(tiles, "bucket", list(range(BUCKETS)))
            with t.span("sources.snapshot.read"):
                n_pruned = self.table.read(self.spark, where=[("bucket", "<", PRUNE_BELOW)]).count()
        finally:
            tiles.unpersist()
        return {
            "tiles": n_tiles,
            "zones": {str(r.poly_id): [r.z_min, r.z_max, r.z_sum, r.z_count] for r in zrows},
            "written_rows": sum(m["rows"] for m in written.values()),
            "pruned_tiles": n_pruned,
            "last_scan": dict(self.table.last_scan),
        }

    def check(self, out: dict) -> list[str]:
        want = self.oracle["ndvi"]
        bad = [f"ndvi {k}: got {out['ndvi'][k]} want {w}" for k, w in want.items() if not _close(out["ndvi"][k], w)]
        z = self.oracle["zonal"]
        bad += _zone_mismatches(out["zones"], z["zones"])
        for k, w in (("tiles", z["tiles"]), ("written_rows", z["tiles"]), ("pruned_tiles", z["pruned_tiles"])):
            if out[k] != w:
                bad.append(f"{k}={out[k]} want {w}")
        return bad

    def verify_once(self) -> list[str]:
        """Read-back rows equal written rows; the pruned read equals the
        filtered full read; and the examples/quick.rs known answer,
        u8 [1,2,3] / u16 [2,4,6] * 0.5 == Float64 [0.25]*3 all valid."""
        from pyspark.sql import functions as F

        from erased_cells_spark.tiles import tile_binop, tile_row, tile_scalar_op, tile_to_masked_buffer

        bad = []
        full = self.table.read(self.spark)
        pruned = self.table.read(self.spark, where=[("bucket", "<", PRUNE_BELOW)])
        if full.count() != self.oracle["zonal"]["tiles"]:
            bad.append("read-back rows differ from written rows")
        keys = lambda df: sorted(r.tile_key for r in df.select("tile_key").collect())
        if keys(pruned) != keys(full.filter(F.col("bucket") < PRUNE_BELOW)):
            bad.append("pruned read differs from the filtered full read")

        row = {f"l_{k}": v for k, v in tile_row(np.array([1, 2, 3], np.uint8)).items()}
        row.update({f"r_{k}": v for k, v in tile_row(np.array([2, 4, 6], np.uint16)).items()})
        fields = "cell_type string, cols int, rows int, data binary, mask binary"
        schema = ", ".join(f"{side}_{f}" for side in "lr" for f in fields.split(", "))
        df = self.spark.createDataFrame([row], schema)
        cols = [F.col(f"{side}_{k}") for side in "lr" for k in ("cell_type", "data", "mask")]
        t = df.select(tile_binop("div", *cols).alias("t"))
        u = t.select(
            tile_scalar_op("mul", F.col("t.cell_type"), F.col("t.data"), F.col("t.mask"), 0.5).alias("u")
        ).first()["u"]
        mb = tile_to_masked_buffer(u.cell_type, u.data, u.mask)
        if u.cell_type != "Float64" or list(mb.buffer.data) != [0.25] * 3 or not mb.mask.all(True):
            bad.append(f"known-answer tile: got {u.cell_type} {list(mb.buffer.data)}")
        return bad

    def prefixes(self) -> dict:
        from erased_cells_spark.pipeline import geocoded_pages

        urls = self.pages.select("url")
        return {
            "scan_url": lambda: urls,
            "scan_geocode": lambda: geocoded_pages(urls, use_extracted_text=False),
        }

    def kernel_inputs(self) -> list:
        """The NDVI tiles as numpy arrays, read back from the input files."""
        out = []
        for r in pq.read_table(self.inputs["tiles"]).to_pylist():
            nir = np.frombuffer(r["nir_data"], "<u2").reshape(r["nir_rows"], r["nir_cols"])
            red = np.frombuffer(r["red_data"], "<u2").reshape(r["red_rows"], r["red_cols"])
            valid = np.frombuffer(r["nir_mask"], np.uint8).astype(bool).reshape(nir.shape)
            out.append((nir, red, valid))
        return out


WORKLOADS = {w.name: w for w in (PagesPip, Raster)}
