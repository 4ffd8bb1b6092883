"""Seeded input generators for the engine benchmark.

Every input derives from the run's ``--seed`` and an operation index, so the same
seed gives the same inputs and no two operations of one run share an input (the
engine persists and caches per call, so a repeated input measures cache hits).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from geojson_utility_spark import fixtures as FX

# India-ish bounding box the fixtures draw their background points from.
LAT_RANGE = (8.0, 34.0)
LON_RANGE = (68.0, 92.0)

# fixtures.make_polygons plants exactly one self-intersecting ring, at index 13.
KNOWN_INVALID_POLYGONS = frozenset({"poly_000013"})

# The validation message each negative vector of fixtures.make_locations must carry
# once written to CSV, by location_id: texts of the reference service.  L10's empty
# snp_id is not among them: an empty CSV cell reads as missing, and the reference
# validates a missing id as the string 'nan', so that row is valid after upload.
GPS_ERROR = "location_gps must be a string with two comma-separated floats"
NEGATIVE_ROW_ERRORS = {
    "L11": "snp_id must be at most 255 characters.",
    "L12": "snp_id contains invalid characters.",
    "L13": GPS_ERROR,
    "L14": GPS_ERROR,
    "L15": GPS_ERROR,
    "L16": "Either drive_distance or drive_time must be provided and non-empty.",
    "L17": "drive_distance must be a valid number if present.",
    "L18": "drive_distance must be a positive number.",
    "L19": "drive_distance is unreasonably large.",
    "L20": "drive_time is unreasonably large.",
    "L21": "drive_distance must be a positive number.",
}

# Point ids are "img_%012d"; each seed owns a billion-id block of its own.
_IDS_PER_SEED = 10**9


def op_seed(seed: int, op: int, salt: int) -> int:
    """A distinct, reproducible seed per (run seed, operation, input kind)."""
    return int(np.random.SeedSequence([seed, op, salt]).generate_state(1)[0])


class _RangeFrom:
    """Stands in for a SparkSession inside ``fixtures.image_point_df`` so its
    ``spark.range(n)`` yields ids ``[start, start + n)``: the fixture's point cloud
    over a fresh id range, with its expressions unchanged."""

    def __init__(self, spark, start: int):
        self._spark = spark
        self._start = start

    def range(self, start, end=None, step=1, numPartitions=None):
        if end is None:
            start, end = 0, start
        return self._spark.range(self._start + start, self._start + end, step, numPartitions)


def point_batch(spark, seed: int, first_id_offset: int, n: int):
    """``image_point_df`` rows for ids ``seed block + [offset, offset + n)``."""
    start = (seed % 1000) * _IDS_PER_SEED + first_id_offset
    if first_id_offset + n > _IDS_PER_SEED:
        raise ValueError("point id range exceeds the seed's id block")
    return FX.image_point_df(_RangeFrom(spark, start), n)


def sellers(seed: int, n: int) -> pd.DataFrame:
    """kNN targets: two thirds around the fixture hot spots, one third uniform over
    the background box, as (target_id, lat, lon)."""
    rng = np.random.default_rng(op_seed(seed, 0, 1))
    n_hot = 2 * n // 3
    hs = np.asarray([(la, lo) for la, lo, _ in FX.HOTSPOTS])
    pick = hs[np.arange(n_hot) % len(hs)]
    lat = np.r_[pick[:, 0] + rng.normal(0, 0.3, n_hot),
                rng.uniform(*LAT_RANGE, n - n_hot)]
    lon = np.r_[pick[:, 1] + rng.normal(0, 0.3, n_hot),
                rng.uniform(*LON_RANGE, n - n_hot)]
    return pd.DataFrame(
        {"target_id": [f"seller_{i:05d}" for i in range(n)], "lat": lat, "lon": lon}
    )


def upload_csv(path: str, seed: int, op: int, n_rows: int) -> pd.DataFrame:
    """Writes one uploaded locations CSV built like ``fixtures.make_locations``
    (golden rows, one negative vector per predicate, seeded valid rows) and returns
    the frame written, in file order."""
    n_fixed = len(FX.GOLDEN_LOCATION_ROWS) + len(FX.NEGATIVE_LOCATION_ROWS)
    df = FX.make_locations(n_extra=max(1, n_rows - n_fixed), seed=op_seed(seed, op, 2))
    df.to_csv(path, index=False)
    return df


_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(rng, n_words: int) -> np.ndarray:
    lens = rng.integers(3, 10, n_words)
    letters = rng.integers(0, 26, (n_words, 9))
    return np.array(["".join(_ALPHABET[letters[i, : lens[i]]]) for i in range(n_words)])


def shingles(text: str, n: int = 8) -> set[str]:
    """Character n-shingles of the lowercased, whitespace-collapsed text."""
    t = " ".join(text.lower().split())
    return {t[i : i + n] for i in range(max(1, len(t) - n + 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def corpus(seed: int, op: int, n_docs: int, n_pairs: int):
    """A text corpus with planted near-duplicate pairs.

    Returns (frame of doc_id/text, {(doc_a, doc_b): jaccard} of the planted pairs).
    Each planted copy replaces a few words of its source (edit rate drawn so the
    pairs span Jaccard ~0.4-1.0) and varies case and spacing, which the shingling
    normalizes away.  Ids are unique to the operation.
    """
    rng = np.random.default_rng(op_seed(seed, op, 3))
    vocab = _vocabulary(rng, 4000)
    base_id = (op + 1) * 10_000_000
    n_src = n_docs - n_pairs
    texts = []
    for _ in range(n_src):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(40, 90))]))
    planted = {}
    src_idx = rng.choice(n_src, n_pairs, replace=False)
    edit_rates = rng.choice([0.0, 0.01, 0.03, 0.08, 0.15], n_pairs)
    for k, (si, rate) in enumerate(zip(src_idx.tolist(), edit_rates.tolist())):
        words = texts[si].split(" ")
        hit = rng.random(len(words)) < rate
        words = [vocab[rng.integers(0, len(vocab))] if h else w for w, h in zip(words, hit)]
        copy = "  ".join(words).upper() if k % 2 else "\t".join(words)
        texts.append(copy)
        a, b = base_id + si, base_id + n_src + k
        planted[(a, b)] = jaccard(texts[si], copy)
    frame = pd.DataFrame({"doc_id": np.arange(base_id, base_id + n_docs), "text": texts})
    return frame, planted


def polygon_rings(geojson_by_id: dict[str, str]) -> dict[str, np.ndarray]:
    """Outer rings parsed straight from the input GeoJSON (no engine code); ids
    whose document has no polygon are left out."""
    rings = {}
    for pid, doc in geojson_by_id.items():
        try:
            coords = json.loads(doc)["features"][0]["geometry"]["coordinates"][0]
        except (KeyError, IndexError, TypeError, ValueError):
            continue
        rings[pid] = np.asarray(coords, dtype=np.float64)
    return rings
