"""Golden regression pin for the flagship pipeline at sf0.001.

The driver's rows-only check can't see value drift in the geo
path (hex cells aren't SQL-expressible); this pins the exact output so
any accidental change to centroid math, hex indexing, daypart handling,
normalization, or rank-tie semantics fails loudly. Regenerate the
literal ONLY for a deliberate semantic change.
"""

from __future__ import annotations

from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

# (popularity, route_pickup_hex, route_dropoff_hex, route_count,
#  dropoff_hexagon, dropoff_count, pickup_hexagon, pickup_count)
GOLDEN = {
    (1, "hx9_-35743_17177", "hx9_-35688_17177", 20,
     "hx9_-35780_17177", 470, "hx9_-35798_17177", 134),
    (2, "hx9_-35833_17283", "hx9_-35780_17177", 18,
     "hx9_-35790_17198", 449, "hx9_-35762_17177", 126),
    (2, "hx9_-35772_17198", "hx9_-35780_17177", 18,
     "hx9_-35790_17198", 449, "hx9_-35762_17177", 126),
}


def test_flagship_golden_subset(spark, sf_dir):
    df = run_taxi_pipeline(spark, sf_dir)
    rows = {
        (
            r.popularity,
            r.route.pickup_hexagons,
            r.route.dropoff_hexagons,
            r.route_count,
            r.dropoff_hexagon,
            r.dropoff_count,
            r.pickup_hexagon,
            r.pickup_count,
        )
        for r in df.collect()
    }
    assert len(rows) == 15
    assert GOLDEN <= rows  # top ranks exactly as pinned, ties included
