"""Independent output checks: numpy reference computations written for the benchmark
alone (no engine code), compared with what the engine returned.

Every check raises ``CheckFailed`` on the first disagreement and takes its expected
values as arguments, so the smoke test can hand it a wrong one and see it fail.
"""

from __future__ import annotations

import json
import math

import numpy as np

EARTH_RADIUS_KM = 6371.0088
# Points closer than this (degrees) to a ring edge sit where two correct float
# evaluations of the same predicate may disagree; they may go either way.
BOUNDARY_EPS_DEG = 1e-9


class CheckFailed(AssertionError):
    pass


def _closed(ring: np.ndarray) -> np.ndarray:
    ring = np.asarray(ring, dtype=np.float64)
    return ring if (ring[0] == ring[-1]).all() else np.vstack([ring, ring[:1]])


def covers(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Boundary-inclusive even-odd ray cast of points against one ring."""
    r = _closed(ring)
    x1, y1, x2, y2 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    px, py = np.asarray(lon)[:, None], np.asarray(lat)[:, None]
    straddles = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    inside = (straddles & (px < x_at)).sum(axis=1) % 2 == 1
    return inside | (boundary_distance(lon, lat, r) == 0.0)


def boundary_distance(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Planar distance (degrees) from each point to the nearest ring segment."""
    r = _closed(ring)
    ax, ay, bx, by = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
    px, py = np.asarray(lon)[:, None], np.asarray(lat)[:, None]
    dx, dy = bx - ax, by - ay
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy), 0.0, 1.0)
    t = np.nan_to_num(t)
    return np.sqrt((px - ax - t * dx) ** 2 + (py - ay - t * dy) ** 2).min(axis=1)


def check_join(points: dict, got: set, rings: dict) -> int:
    """``points``: id -> (lat, lon) of the sampled points; ``got``: the engine's
    (point_id, polygon_id) matches for those points; ``rings``: polygon_id -> outer
    ring of every polygon that should take part.  Returns the pairs compared."""
    ids = list(points)
    lat = np.array([points[i][0] for i in ids])
    lon = np.array([points[i][1] for i in ids])
    want = set()
    ambiguous = set()
    for pid, ring in rings.items():
        hit = covers(lon, lat, ring)
        near = boundary_distance(lon, lat, ring) <= BOUNDARY_EPS_DEG
        want.update((ids[k], pid) for k in np.nonzero(hit & ~near)[0])
        ambiguous.update((ids[k], pid) for k in np.nonzero(near)[0])
    missing = want - got
    extra = got - want - ambiguous
    if missing or extra:
        raise CheckFailed(
            f"spatial join: {len(missing)} matches missing (e.g. {sorted(missing)[:3]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:3]})"
        )
    return len(ids) * len(rings)


def check_rejected(rejected: set, known_invalid: set) -> None:
    if set(rejected) != set(known_invalid):
        raise CheckFailed(
            f"rejected polygons {sorted(rejected)} != known invalid {sorted(known_invalid)}"
        )


def haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp, dl = p2 - p1, np.radians(lon2) - np.radians(lon1)
    h = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(h))


def check_knn(points: dict, got: dict, targets, k: int) -> None:
    """``got``: point_id -> [(target_id, dist_km)] in rank order; ``targets``: a
    frame of target_id/lat/lon.  Top-k ids by brute-force haversine, distances to
    1e-9 km."""
    tid = targets["target_id"].to_numpy()
    tlat = targets["lat"].to_numpy(np.float64)
    tlon = targets["lon"].to_numpy(np.float64)
    for pid, (lat, lon) in points.items():
        d = haversine_km(lat, lon, tlat, tlon)
        order = np.lexsort((tid, d))[:k]
        want = [(tid[i], d[i]) for i in order]
        have = got.get(pid, [])
        if [t for t, _ in have] != [t for t, _ in want]:
            raise CheckFailed(f"knn {pid}: got {have}, want {want}")
        for (_, dh), (_, dw) in zip(have, want):
            if abs(dh - dw) > 1e-9:
                raise CheckFailed(f"knn {pid}: distance {dh} != {dw}")


def _gps(text: str) -> tuple[float, float]:
    lat, lon = (float(v) for v in text.split(","))
    return lat, lon


def check_enrichment(inp, out, metrics: dict, negative_errors: dict) -> None:
    """``inp``: the uploaded frame in file order; ``out``: the engine's output rows
    (dicts) in output order; ``metrics``: ``run_metrics`` of that output;
    ``negative_errors``: location_id -> the error its row must carry."""
    if len(out) != len(inp):
        raise CheckFailed(f"enrichment: {len(out)} rows out for {len(inp)} in")
    if [r["location_id"] for r in out] != inp["location_id"].tolist():
        raise CheckFailed("enrichment: output order differs from input order")
    n_err = n_geo = 0
    for r in out:
        loc = r["location_id"]
        if r["errors"]:
            n_err += 1
        if r["geojson"] != "{}":
            n_geo += 1
        if loc in negative_errors:
            if negative_errors[loc] not in r["errors"] or r["geojson"] != "{}":
                raise CheckFailed(f"enrichment: row {loc} lacks {negative_errors[loc]!r}")
            continue
        if r["errors"]:
            raise CheckFailed(f"enrichment: valid row {loc} has errors {r['errors']!r}")
        ring = json.loads(r["geojson"])["features"][0]["geometry"]["coordinates"][0]
        lat, lon = _gps(r["location_gps"])
        if not covers(np.array([lon]), np.array([lat]), np.asarray(ring))[0]:
            raise CheckFailed(f"enrichment: catchment of {loc} misses its location")
    want = {
        "total_rows": len(out),
        "failed_rows": n_err,
        "successful_rows": len(out) - n_err,
        "api_calls_made": n_geo,
        "status": "failed" if n_err else "done",
    }
    for key, value in want.items():
        if metrics.get(key) != value:
            raise CheckFailed(f"run_metrics {key}: {metrics.get(key)!r} != {value!r}")


def tile_bounds(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    """Slippy-map tile (west, south, east, north) in degrees."""
    n = 2.0**z

    def lat(yy):
        return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yy / n))))

    return x / n * 360 - 180, lat(y + 1), (x + 1) / n * 360 - 180, lat(y)


def check_raster(tiles: list, rings: dict) -> None:
    """Tile masks (dicts of polygon_id, tile_z/x/y, mask_size, coverage, mask)
    against the rings they were rasterized from."""
    for t in tiles:
        check_raster_tile(t["tile_z"], t["tile_x"], t["tile_y"], t["mask_size"],
                          t["coverage"], bytes(t["mask"]), rings[t["polygon_id"]])


def check_raster_tile(z, x, y, size, coverage, mask: bytes, ring) -> None:
    """One tile mask against pixel centres of the tile (row 0 north) ray-cast by
    the benchmark."""
    w, s, e, n = tile_bounds(z, x, y)
    c = (np.arange(size) + 0.5) / size
    glon, glat = np.meshgrid(w + c * (e - w), n + c * (s - n))
    want = covers(glon.ravel(), glat.ravel(), ring)
    have = np.unpackbits(np.frombuffer(mask, dtype=np.uint8))[: size * size].astype(bool)
    diff = np.nonzero(want != have)[0]
    if diff.size:
        near = boundary_distance(glon.ravel()[diff], glat.ravel()[diff], ring)
        if (near > BOUNDARY_EPS_DEG).any():
            raise CheckFailed(f"raster tile {z}/{x}/{y}: {diff.size} pixels differ")
    if abs(coverage - have.mean()) > 1e-12:
        raise CheckFailed(f"raster tile {z}/{x}/{y}: coverage {coverage} != {have.mean()}")


def banding_recall_floor(n_pairs: int, j: float, rows: int, bands: int) -> int:
    """Fewest of ``n_pairs`` planted pairs at Jaccard >= ``j`` that MinHash-LSH must
    report.  Banding misses such a pair with probability at most (1 - j^rows)^bands,
    the signature prefilter at most as often again (its documented cut keeps its
    miss within banding's); the floor allows the misses that happen with
    probability above 1e-6."""
    q = min(1.0, 2 * (1 - j**rows) ** bands)
    tail, allowed = 1.0, 0
    for m in range(n_pairs + 1):
        tail -= math.comb(n_pairs, m) * q**m * (1 - q) ** (n_pairs - m)
        if tail <= 1e-6:
            allowed = m
            break
    return n_pairs - allowed


def check_dedup(pairs, texts: dict, planted: dict, threshold: float, jaccard, floor_of) -> None:
    """``pairs``: (doc_a, doc_b, jaccard) reported; ``texts``: doc_id -> text;
    ``planted``: (a, b) -> known Jaccard; ``jaccard``: the benchmark's shingle
    Jaccard; ``floor_of(n)``: recall floor for n planted pairs at >= 0.9."""
    for a, b, j in pairs:
        want = jaccard(texts[a], texts[b])
        if want < threshold or abs(want - j) > 1e-12:
            raise CheckFailed(f"dedup pair ({a}, {b}): reported {j}, recomputed {want}")
    high = [p for p, j in planted.items() if j >= 0.9]
    found = {(a, b) for a, b, _ in pairs}
    hit = sum(p in found for p in high)
    if hit < floor_of(len(high)):
        raise CheckFailed(f"dedup recall: {hit} of {len(high)} planted pairs >= 0.9 found")
