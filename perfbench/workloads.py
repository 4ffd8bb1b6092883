"""The three workloads.  Each stages its fixed inputs once (``stage``), then runs
operations (``op``), every one on an input no earlier operation of the run used.

An operation calls the engine's public functions the way a client would and times
each call together with the action that consumes its output.  Traced, it also
reads what Spark ran under each call and, where a layer's cost is hidden inside a
larger call, times that layer's own public function on the same input.
"""

from __future__ import annotations

import copy
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import cells as C
from geojson_utility_spark.functions import pip as P
from geojson_utility_spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_near_dups,
    minhash_signatures,
)
from geojson_utility_spark.operators.enrichment import enrich_locations, run_metrics
from geojson_utility_spark.operators.knn import knn_join
from geojson_utility_spark.operators.spatial_join import (
    DEFAULT_JOIN_ZOOM,
    normalize_polygons,
    polygon_cover,
    prepare_polygons,
    spatial_join,
)
from geojson_utility_spark.operators.tiling import rasterize_polygons
from geojson_utility_spark.operators.validation import (
    reject_file_errors,
    validate_locations,
)
from geojson_utility_spark.sources.locations_csv import read_locations_csv

from perfbench import inputs as IN
from perfbench import oracle as O
from perfbench.probes import PlanNode

# Operation index spaces: timed operations count up from 0, warm-up operations and
# fixed staged inputs draw from ranges of their own, so no input is used twice.
WARMUP_BASE = 10_000
FIXED_BASE = 15_000

SIZES = {
    "serve_points": {
        "batch": 50_000, "knn_slice": 1_000, "polygons": 120, "sellers": 360,
        "join_sample": 200, "knn_sample": 20,
    },
    "upload_catchments": {
        "rows": 60, "points": 20_000, "raster_zoom": 10, "join_sample": 200,
        "raster_sample": 4,
    },
    "corpus_dedup": {"docs": 500, "pairs": 60, "threshold": 0.5},
}

SMOKE_SIZES = {
    "serve_points": {
        "batch": 2_000, "knn_slice": 100, "polygons": 120, "sellers": 360,
        "join_sample": 100, "knn_sample": 5,
    },
    "upload_catchments": {
        "rows": 40, "points": 2_000, "raster_zoom": 10, "join_sample": 100,
        "raster_sample": 2,
    },
    "corpus_dedup": {"docs": 200, "pairs": 40, "threshold": 0.5},
}

# MinHash-LSH parameters minhash_near_dups uses by default (32 hashes in 8 bands).
MINHASH_ROWS, MINHASH_BANDS = 4, 8


def noop(df) -> None:
    """Consume every output column without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def fetch(df):
    """Bring every output row and column to the client, as a caller of the engine
    does.  The checks read this copy: re-running the plan to check it would cost
    as much again as the call."""
    return df.toPandas()


@dataclass
class Check:
    """One output check.  ``gather`` reads the engine output it needs (untimed,
    and only for measured operations); ``corrupt`` makes one expected value wrong."""

    name: str
    fn: object
    gather: object
    corrupt: object

    def run(self, wrong: bool = False) -> None:
        if not hasattr(self, "_kwargs"):
            self._kwargs = self.gather()
        self.fn(**(self.corrupt(dict(self._kwargs)) if wrong else self._kwargs))


@dataclass
class OpResult:
    items: int
    seconds: dict = field(default_factory=dict)   # main call -> wall seconds
    layer: dict = field(default_factory=dict)     # per-layer metric -> value
    groups: list = field(default_factory=list)    # Spark job groups of main calls
    plans: list = field(default_factory=list)     # executed plans of main calls, traced
    checks: list = field(default_factory=list)


class Run:
    """What one benchmark run shares: session, staging directory, probes, sizes."""

    def __init__(self, spark, tmp, seed, sizes, tracer, probe, traced):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.sizes = sizes
        self.tracer = tracer
        self.probe = probe
        self.traced = traced

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    @contextmanager
    def call(self, res: OpResult, tag: str, layer: str, name: str, main: bool = True):
        """Time one public call plus the action consuming it.  ``main`` calls are
        the operation itself; the others run only when traced, to time a layer.
        Traced, ``rec["plan"]`` holds what Spark executed."""
        group = f"{tag}:{name}" if main else f"trace:{tag}:{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        marker = self.probe.last_execution_id() if self.traced else None
        rec: dict = {}
        t0 = time.perf_counter()
        with self.tracer.span(layer, name):
            yield rec
        rec["seconds"] = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup(f"{tag}:untimed", "untimed")
        if self.traced:
            rec["plan"] = self.probe.plans_after(marker)
        if main:
            res.seconds[name] = rec["seconds"]
            res.groups.append(group)
            if self.traced:
                res.plans.append(rec["plan"])


def _sample(rng, ids, k):
    ids = list(ids)
    return [ids[i] for i in sorted(rng.choice(len(ids), min(k, len(ids)), replace=False))]


def _square(lat, lon, half=1e-3):
    return np.array([[lon - half, lat - half], [lon + half, lat - half],
                     [lon + half, lat + half], [lon - half, lat + half],
                     [lon - half, lat - half]])


def _join_checks(result, points_df, sample_ids, rings, tag):
    """Match set of sampled points vs the benchmark's ray cast over ``rings``;
    ``result`` is the fetched join output."""

    def gather():
        pts = {
            r["point_id"]: (r["lat"], r["lon"])
            for r in points_df.filter(F.col("point_id").isin(sample_ids)).collect()
        }
        mine = result[result["point_id"].isin(sample_ids)]
        got = set(zip(mine["point_id"], mine["polygon_id"]))
        return {"points": pts, "got": got, "rings": rings}

    def phantom(kw):
        lat, lon = next(iter(kw["points"].values()))
        kw["rings"] = {**kw["rings"], "phantom": _square(lat, lon)}
        return kw

    return Check(f"{tag}_matches", O.check_join, gather, phantom)


def _rejected_check(rejected, known, tag):
    """``rejected()`` returns the polygon ids the engine refused."""
    def extra(kw):
        kw["known_invalid"] = set(kw["known_invalid"]) | {"never_invalid"}
        return kw

    return Check(f"{tag}_rejected", O.check_rejected,
                 lambda: {"rejected": set(rejected()), "known_invalid": set(known)}, extra)


# -- per-layer readings from executed plans -----------------------------------------


def join_layer(plan: PlanNode) -> dict:
    """Spatial-join counters from the executed plan of the join's action."""
    out = {"probe_rows": sum(n.rows() for n in plan.find("Generate"))}
    refine = plan.find("MapInArrow")
    if refine:
        r = refine[0]
        cands = next((n.rows() for n in r.walk() if n.name == "BroadcastHashJoin"), 0.0)
        out.update(
            refine_matches=r.rows(),
            refine_python_s=r.metrics.get("time to run Python workers", 0.0),
            boundary_candidates=cands,
            refine_yield=r.rows() / cands if cands else 0.0,
        )
    for union in plan.find("Union"):
        for child in union.children:
            if not child.find("MapInArrow"):
                out["interior_matches"] = next(
                    (n.rows() for n in child.walk() if n.name == "BroadcastHashJoin"), 0.0
                )
    bx = plan.find("BroadcastExchange")
    out["broadcast_mb"] = sum(n.metrics.get("data size", 0.0) for n in bx) / 2**20
    out["broadcast_build_s"] = sum(
        n.metrics.get(k, 0.0)
        for n in bx
        for k in ("time to collect", "time to build", "time to broadcast")
    )
    return out


def shuffle_mb(plan: PlanNode) -> float:
    return sum(
        n.metrics.get("shuffle bytes written", 0.0) for n in plan.find("Exchange")
    ) / 2**20


def knn_layer(plan: PlanNode) -> dict:
    """Which kNN path ran, and the replicated-index rounds its result reads."""
    index = [
        n for n in plan.find("BroadcastExchange") if n.find("BroadcastNestedLoopJoin")
    ]
    inside = {id(m) for b in plan.find("BroadcastExchange") for m in b.walk()}
    fallback = [
        c.rows()
        for n in plan.find("BroadcastNestedLoopJoin")
        if id(n) not in inside
        for c in n.children
        if c.name != "BroadcastExchange"
    ]
    return {
        "knn_path": 1.0 if plan.find("Window") else 0.0,
        "knn_rounds": float(len(index)),
        "knn_index_rows": sum(n.rows() for n in index),
        "knn_fallback_points": sum(fallback),
    }


def cells_kernel(rings, zoom=DEFAULT_JOIN_ZOOM) -> dict:
    """Direct calls of the adaptive cover on each ring."""
    t0 = time.perf_counter()
    n_cells = sum(
        len(C.polygon_to_cells_adaptive(r, zoom, return_interior=True)[0]) for r in rings
    )
    dt = time.perf_counter() - t0
    return {
        "cover_kernel_s_per_polygon": dt / len(rings),
        "cells_per_polygon": n_cells / len(rings),
    }


def pip_kernel(rings, seed, per_ring=8192) -> dict:
    """Direct calls of the refine kernel on a fixed candidate set: points drawn
    uniformly in each ring's bounding box."""
    rng = np.random.default_rng(IN.op_seed(seed, FIXED_BASE, 9))
    blocks = []
    for r in rings:
        lo, hi = r.min(axis=0), r.max(axis=0)
        blocks.append((P.RingKernel(r), rng.uniform(lo[0], hi[0], per_ring),
                       rng.uniform(lo[1], hi[1], per_ring)))
    t0 = time.perf_counter()
    for kern, px, py in blocks:
        kern.test_block(px, py)
    return {"pip_kernel_points_per_s": per_ring * len(blocks) / (time.perf_counter() - t0)}


def polygon_side(run: Run, res: OpResult, tag: str, polygons) -> dict:
    """Traced only: normalize and cover timed as their own public calls."""
    with run.call(res, tag, "operators.spatial_join", "normalize_polygons", False) as c:
        norm = normalize_polygons(polygons).cache()
        norm.count()
    out = {"normalize_s": c["seconds"]}
    with run.call(res, tag, "operators.spatial_join", "polygon_cover", False) as c:
        counts = dict(
            (r["interior"], r["count"])
            for r in polygon_cover(norm).groupBy("interior").count().collect()
        )
    norm.unpersist()
    out.update(
        cover_s=c["seconds"],
        cover_cells_interior=float(counts.get(True, 0)),
        cover_cells_boundary=float(counts.get(False, 0)),
    )
    return out


# -- workloads --------------------------------------------------------------------------


class ServePoints:
    """A fixed catchment index serves fresh point batches: prepared join + kNN."""

    name = "serve_points"
    warmup = 1

    def stage(self, run: Run, rep: int):
        sz = run.sizes
        # the index and the sellers are fixed: only the point batches follow --seed.
        # Repeated set-ups rename the polygons, since prepare_polygons on data an
        # earlier call prepared is served from that call's cache.
        polys = FX.make_polygons(sz["polygons"])
        if rep:
            polys["polygon_id"] = polys["polygon_id"] + f"_rep{rep}"
        prepared = prepare_polygons(run.spark.createDataFrame(polys[["polygon_id", "geojson"]]))
        prepared.cover_idx.count()  # build the cached cover now, not in the first join
        sellers = IN.sellers(0, sz["sellers"])
        return {
            "polygons": polys, "prepared": prepared, "sellers": sellers,
            "sellers_df": run.spark.createDataFrame(sellers),
        }

    def release(self, state) -> None:
        state["prepared"].unpersist()

    def use(self, run: Run, state) -> None:
        self.s = state
        geo = dict(zip(state["polygons"]["polygon_id"], state["polygons"]["geojson"]))
        self.rings = {
            k: v for k, v in IN.polygon_rings(geo).items()
            if k not in IN.KNOWN_INVALID_POLYGONS
        }
        self.rejected = set(geo) - set(state["prepared"].pid_rows)

    def traced_extra(self, run: Run):
        # renamed like a repeated set-up: on the index's data, normalize would be
        # served from the index's cache
        polys = self.s["polygons"][["polygon_id", "geojson"]].copy()
        polys["polygon_id"] = polys["polygon_id"] + "_traced"
        out = polygon_side(run, OpResult(0), "setup", run.spark.createDataFrame(polys))
        rings = list(self.rings.values())
        out.update(cells_kernel(rings))
        out.update(pip_kernel(rings[:8], run.seed))
        return out, []

    def op(self, run: Run, idx: int, tag: str) -> OpResult:
        sz = run.sizes
        n, m = sz["batch"], sz["knn_slice"]
        res = OpResult(items=n)
        batch = IN.point_batch(run.spark, run.seed, idx * n, n)
        with run.call(res, tag, "operators.spatial_join", "spatial_join") as c:
            joined = fetch(spatial_join(batch, prepared=self.s["prepared"]))
        if run.traced:
            res.layer.update(join_layer(c["plan"].children[-1]))
            res.layer["jobs_per_join"] = float(run.probe.jobs(f"{tag}:spatial_join")[0])
        res.layer["join_points_per_s"] = n / c["seconds"]
        piece = IN.point_batch(run.spark, run.seed, idx * n, m)
        # the top-3 lists are small and checked whole: collect every column rather
        # than re-run the kNN rounds for the check
        with run.call(res, tag, "operators.knn", "knn_join") as c:
            near = knn_join(piece, self.s["sellers_df"], k=3).collect()
        if run.traced:
            # the last execution is the action; earlier ones are the rounds' own jobs
            res.layer.update(knn_layer(c["plan"].children[-1]))
            res.layer["knn_jobs"] = float(run.probe.jobs(f"{tag}:knn_join")[0])
        res.layer["knn_points_per_s"] = m / c["seconds"]

        rng = np.random.default_rng(IN.op_seed(run.seed, idx, 4))
        ids = [f"img_{(run.seed % 1000) * 10**9 + idx * n + i:012d}" for i in range(n)]
        res.checks.append(_join_checks(
            joined, batch, _sample(rng, ids, sz["join_sample"]), self.rings, "serve_join"
        ))
        res.checks.append(_rejected_check(
            lambda: self.rejected, IN.KNOWN_INVALID_POLYGONS, "serve"
        ))
        res.checks.append(self._knn_check(piece, near, _sample(rng, ids[:m], sz["knn_sample"])))
        return res

    def _knn_check(self, piece, near, sample_ids):
        def gather():
            pts = {
                r["point_id"]: (r["lat"], r["lon"])
                for r in piece.filter(F.col("point_id").isin(sample_ids)).collect()
            }
            got: dict = {}
            for r in sorted(near, key=lambda r: (r["point_id"], r["knn_rank"])):
                if r["point_id"] in pts:
                    got.setdefault(r["point_id"], []).append((r["target_id"], r["dist_km"]))
            return {"points": pts, "got": got, "targets": self.s["sellers"], "k": 3}

        def drop_nearest(kw):
            first = next(iter(kw["got"].values()))
            kw["targets"] = kw["targets"][kw["targets"]["target_id"] != first[0][0]]
            return kw

        return Check("knn_top3", O.check_knn, gather, drop_nearest)


class UploadCatchments:
    """Fresh uploaded CSVs through validation and enrichment, then the resulting
    catchments through an ad-hoc join and rasterization."""

    name = "upload_catchments"
    warmup = 1

    def stage(self, run: Run, rep: int):
        path = run.path(f"points-{time.perf_counter_ns()}.parquet")
        pts = IN.point_batch(run.spark, run.seed, FIXED_BASE * 10_000, run.sizes["points"])
        pts.write.parquet(path)
        return {"points": run.spark.read.parquet(path)}

    def release(self, state) -> None:
        pass

    def use(self, run: Run, state) -> None:
        self.points = state["points"]
        self.point_ids = [r["point_id"] for r in self.points.select("point_id").collect()]

    def traced_extra(self, run: Run):
        """The dedup layer has no workload of its own in BENCHMARK.json, so the
        traced run of this one also runs one fresh corpus of ``corpus_dedup``'s
        make-up through it, with that workload's checks."""
        side = copy.copy(run)
        side.sizes = SIZES["corpus_dedup"]
        res = CorpusDedup().op(side, FIXED_BASE, "side")
        return res.layer, res.checks

    def op(self, run: Run, idx: int, tag: str) -> OpResult:
        sz = run.sizes
        csv = run.path(f"upload-{idx}.csv")
        upload = IN.upload_csv(csv, run.seed, idx, sz["rows"])
        res = OpResult(items=len(upload))
        with run.call(res, tag, "operators.enrichment", "upload") as up:
            with run.tracer.span("sources.locations_csv", "read_locations_csv"):
                df = read_locations_csv(run.spark, csv)
            with run.tracer.span("operators.validation", "reject_file_errors") as fc:
                file_errors = reject_file_errors(df)
            with run.tracer.span("operators.enrichment", "enrich_locations") as en:
                enriched = enrich_locations(df)
                out = enriched.toPandas()
            with run.tracer.span("operators.enrichment", "run_metrics") as rm:
                metrics = run_metrics(enriched)
        res.layer["upload_rows_per_s"] = len(upload) / up["seconds"]
        if file_errors:
            raise RuntimeError(f"upload rejected: {file_errors}")
        catchments = run.spark.createDataFrame(
            out[["location_id", "geojson"]].rename(columns={"location_id": "polygon_id"})
        )
        with run.call(res, tag, "operators.spatial_join", "spatial_join") as c:
            joined = fetch(spatial_join(self.points, catchments))
        res.layer["catchment_join_s"] = c["seconds"]
        with run.call(res, tag, "operators.tiling", "rasterize_polygons") as r:
            tiles = fetch(rasterize_polygons(normalize_polygons(catchments), sz["raster_zoom"]))
        n_tiles = len(tiles)
        res.layer["raster_tiles_per_s"] = n_tiles / r["seconds"]

        if run.traced:
            res.layer.update(self._traced(run, res, tag, csv, out, fc, en, rm, c, r, n_tiles))

        rng = np.random.default_rng(IN.op_seed(run.seed, idx, 4))
        rings = IN.polygon_rings(dict(zip(out["location_id"], out["geojson"])))
        res.checks.append(Check(
            "enrichment", O.check_enrichment,
            lambda: {"inp": upload, "out": out.to_dict("records"), "metrics": metrics,
                     "negative_errors": IN.NEGATIVE_ROW_ERRORS},
            _wrong_message,
        ))
        res.checks.append(_join_checks(
            joined, self.points, _sample(rng, self.point_ids, sz["join_sample"]), rings,
            "catchment_join",
        ))
        res.checks.append(_rejected_check(
            lambda: [
                r["polygon_id"]
                for r in normalize_polygons(catchments).filter(F.col("poly_errors") != "")
                .select("polygon_id").collect()
            ],
            set(IN.NEGATIVE_ROW_ERRORS), "catchment",
        ))
        res.checks.append(self._raster_check(
            tiles, rings, _sample(rng, sorted(rings), sz["raster_sample"])
        ))
        return res

    @staticmethod
    def _raster_check(tiles, rings, sample_ids):
        def gather():
            rows = tiles[tiles["polygon_id"].isin(sample_ids)].to_dict("records")
            # partly covered tiles first: there a shifted ring changes the mask
            rows.sort(key=lambda r: (r["coverage"] in (0.0, 1.0), r["polygon_id"],
                                     r["tile_x"], r["tile_y"]))
            return {"tiles": rows[:8], "rings": rings}

        return Check("raster_masks", O.check_raster, gather, _shifted_ring)

    def _traced(self, run, res, tag, csv, out, fc, en, rm, c, r, n_tiles) -> dict:
        out_m: dict = {}
        with run.call(res, tag, "sources.locations_csv", "read_locations_csv", False) as rd:
            noop(read_locations_csv(run.spark, csv))
        with run.call(res, tag, "operators.validation", "validate_locations", False) as va:
            noop(validate_locations(read_locations_csv(run.spark, csv)))
        out_m.update(
            csv_read_s=rd["seconds"],
            file_check_s=fc["end"] - fc["start"],
            validate_s=va["seconds"],
            invalid_rows=float((out["errors"] != "").sum()),
            enrich_s=en["end"] - en["start"],
            catchments_built=float((out["geojson"] != "{}").sum()),
            run_metrics_s=rm["end"] - rm["start"],
        )
        out_m.update(join_layer(c["plan"].children[-1]))
        out_m["jobs_per_join"] = float(run.probe.jobs(f"{tag}:spatial_join")[0])
        polys = run.spark.createDataFrame(
            out[["location_id", "geojson"]].rename(columns={"location_id": "polygon_id"})
        )
        with run.call(res, tag, "operators.spatial_join", "prepare_polygons", False) as pp:
            prepared = prepare_polygons(polys)
        prepared.unpersist()
        out_m["prepare_s"] = pp["seconds"]
        out_m.update(polygon_side(run, res, tag, polys))
        rings = list(IN.polygon_rings(dict(zip(out["location_id"], out["geojson"]))).values())
        out_m.update(cells_kernel(rings))
        out_m.update(pip_kernel(rings[:8], run.seed))
        size = 64
        out_m["raster_tiles"] = n_tiles
        out_m["raster_pixels_per_s"] = n_tiles * size * size / r["seconds"]
        return out_m


def _wrong_message(kw):
    kw["negative_errors"] = {**kw["negative_errors"], "L11": "a message no row carries"}
    return kw


def _shifted_ring(kw):
    t = kw["tiles"][0]
    w, _, e, _ = O.tile_bounds(t["tile_z"], t["tile_x"], t["tile_y"])
    shift = np.array([0.37 * (e - w), 0.0])
    kw["rings"] = {**kw["rings"], t["polygon_id"]: kw["rings"][t["polygon_id"]] + shift}
    return kw


class CorpusDedup:
    """Fresh text corpora with planted near-duplicates through MinHash-LSH."""

    name = "corpus_dedup"
    warmup = 2

    def stage(self, run: Run, rep: int):
        return {}

    def release(self, state) -> None:
        pass

    def use(self, run: Run, state) -> None:
        pass

    def traced_extra(self, run: Run):
        return {}, []

    def op(self, run: Run, idx: int, tag: str) -> OpResult:
        sz = run.sizes
        frame, planted = IN.corpus(run.seed, idx, sz["docs"], sz["pairs"])
        path = run.path(f"corpus-{idx}.parquet")
        run.spark.createDataFrame(frame).write.parquet(path)
        docs = run.spark.read.parquet(path)
        res = OpResult(items=len(frame))
        with run.call(res, tag, "operators.dedup", "minhash_near_dups") as c:
            t0 = time.perf_counter()
            result = minhash_near_dups(docs, "text", "doc_id", threshold=sz["threshold"])
            t_call = time.perf_counter() - t0
            marker = run.probe.last_execution_id() if run.traced else None
            pairs = [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in result.collect()]
        res.layer["dedup_docs_per_s"] = len(frame) / c["seconds"]
        if run.traced:
            res.layer.update(self._traced(run, res, tag, docs, c, t_call, marker, len(pairs)))

        texts = dict(zip(frame["doc_id"].tolist(), frame["text"]))

        def floor(n):
            return O.banding_recall_floor(n, 0.9, MINHASH_ROWS, MINHASH_BANDS)

        def gather():
            return {"pairs": pairs, "texts": texts, "planted": planted,
                    "threshold": sz["threshold"], "jaccard": IN.jaccard, "floor_of": floor}

        res.checks.append(Check("dedup_pairs", O.check_dedup, gather, _off_jaccard))
        res.checks.append(Check("dedup_recall", O.check_dedup, gather, _unfound_planted))
        return res

    def _traced(self, run, res, tag, docs, c, t_call, marker, n_pairs) -> dict:
        verify = run.probe.plans_after(marker)
        top = verify.find("Filter")
        survivors = top[0].children[0].rows() if top and top[0].children else 0.0
        with run.call(res, tag, "operators.dedup", "minhash_signatures", False) as sg:
            sigs = minhash_signatures(docs, "text", "doc_id").cache()
            sigs.count()
        with run.call(res, tag, "operators.dedup", "minhash_candidate_pairs", False):
            n_cands = minhash_candidate_pairs(sigs, MINHASH_BANDS).count()
        sigs.unpersist()
        return {
            "signatures_s": sg["seconds"],
            "lsh_candidates": float(n_cands),
            "prefilter_survivors": survivors,
            "verify_s": c["seconds"] - t_call,
            "verified_pairs": float(n_pairs),
            "verify_yield": n_pairs / survivors if survivors else 0.0,
            "dedup_jobs": float(run.probe.jobs(f"{tag}:minhash_near_dups")[0]),
        }


def _off_jaccard(kw):
    kw["jaccard"] = lambda a, b: IN.jaccard(a, b) + 0.01
    return kw


def _unfound_planted(kw):
    texts = list(kw["texts"])
    fake = {(texts[i], texts[i + 1]): 0.95 for i in range(0, 2 * len(kw["planted"]), 2)}
    kw["planted"] = {**kw["planted"], **fake}
    return kw


WORKLOADS = {w.name: w for w in (ServePoints, UploadCatchments, CorpusDedup)}
