"""Seeded benchmark inputs.

Every point set is a pure function of the workload seed. Points are written
once, during set-up, through `sources.geoparquet.write_geoparquet`; engines
read them back with `read_geoparquet`, the same path a user takes.

About 1% of rows carry a null coordinate (lng, lat or both), which the
load path must drop.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

NULL_FRAC = 0.01
LAT_LIMIT = 84.0  # inside the world bbox (±85), so world queries see every point
N_HOTSPOTS = 20


def _with_nulls(rng: np.random.Generator, ids, lng, lat) -> pa.Table:
    """Arrow table (id, lng, lat) with ~NULL_FRAC rows nulled in one or both
    coordinates."""
    null_row = rng.random(len(ids)) < NULL_FRAC
    which = rng.integers(0, 3, len(ids))  # 0: lng, 1: lat, 2: both
    lng_null = null_row & (which != 1)
    lat_null = null_row & (which != 0)
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "lng": pa.array(lng, pa.float64(), mask=lng_null),
            "lat": pa.array(lat, pa.float64(), mask=lat_null),
        }
    )


def uniform_points(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lng = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-LAT_LIMIT, LAT_LIMIT, n)
    return _with_nulls(rng, np.arange(n), lng, lat)


def hotspot_centres(seed: int) -> np.ndarray:
    """(N_HOTSPOTS, 3): lng, lat, sigma in degrees of longitude, heaviest
    centre first. Only the positions depend on the seed; the sizes grow
    geometrically from 0.05 to 2 degrees with the centre's rank, so the
    heaviest centres are the densest in every input."""
    rng = np.random.default_rng([seed, 2])
    return np.column_stack(
        [
            rng.uniform(-170.0, 170.0, N_HOTSPOTS),
            rng.uniform(-60.0, 60.0, N_HOTSPOTS),
            0.05 * 40.0 ** (np.arange(N_HOTSPOTS) / (N_HOTSPOTS - 1)),
        ]
    )


def hotspot_points(seed: int, n: int, first_id: int = 0, stream: int = 0) -> pa.Table:
    """Points around the seed's 20 centres, with Zipf-skewed centre weights
    (the first centre draws ~28% of points, the last ~1.4%). The latitude
    spread shrinks by cos(latitude), so a spot covers as many Web Mercator
    cells wherever the seed puts it."""
    centres = hotspot_centres(seed)
    rng = np.random.default_rng([seed, 3, stream])
    w = 1.0 / np.arange(1, N_HOTSPOTS + 1)
    pick = rng.choice(N_HOTSPOTS, n, p=w / w.sum())
    c = centres[pick]
    lng = c[:, 0] + rng.normal(0.0, 1.0, n) * c[:, 2]
    lat_sigma = c[:, 2] * np.cos(np.radians(c[:, 1]))
    lat = np.clip(c[:, 1] + rng.normal(0.0, 1.0, n) * lat_sigma, -LAT_LIMIT, LAT_LIMIT)
    lng = (lng + 180.0) % 360.0 - 180.0
    return _with_nulls(rng, np.arange(first_id, first_id + n), lng, lat)


def non_null_count(table: pa.Table) -> int:
    valid = np.asarray(table["lng"].is_valid()) & np.asarray(table["lat"].is_valid())
    return int(valid.sum())


def write_points(spark, table: pa.Table, path: str, partitions: int) -> None:
    """Stage an Arrow table as GeoParquet through the package's writer."""
    from arrow_supercluster_spark.sources.geoparquet import write_geoparquet

    write_geoparquet(spark.createDataFrame(table).repartition(partitions), path)
