"""Distributed S2 shuffle join: parity with the broadcast dense probe and
plan shape (equi-join on cell, no cartesian, no polygon broadcast)."""

import numpy as np
import pandas as pd

rng = np.random.default_rng(29)


def _points_df(spark, n=3000):
    from avecado_spark.queries import ADMIN_RINGS
    cx, cy = ADMIN_RINGS[0][1][0]
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(n)],
        "mx_mm": np.concatenate([
            rng.integers(cx - 4_000_000_000, cx + 4_000_000_000, n // 2),
            rng.integers(-20_000_000_000, 20_000_000_000, n - n // 2)]),
        "my_mm": np.concatenate([
            rng.integers(cy - 4_000_000_000, cy + 4_000_000_000, n // 2),
            rng.integers(-15_000_000_000, 15_000_000_000, n - n // 2)]),
    })
    return spark.createDataFrame(pdf)


def test_s2join_matches_dense_probe(spark):
    from avecado_spark.operators.adminizer import (adminize_points_rings,
                                                   adminize_points_s2join,
                                                   polygons_to_df)
    from avecado_spark.queries import ADMIN_RINGS

    df = _points_df(spark)
    polys = polygons_to_df(spark, ADMIN_RINGS)
    a = sorted(adminize_points_rings(df, ADMIN_RINGS)
               .select("url", "admin").collect())
    b = sorted(adminize_points_s2join(df, polys, max_level=8)
               .select("url", "admin").collect())
    assert a == b


def test_s2join_plan_is_shuffle_equijoin(spark):
    from avecado_spark.operators.adminizer import (adminize_points_s2join,
                                                   polygons_to_df)
    from avecado_spark.queries import ADMIN_RINGS

    df = _points_df(spark, n=100)
    polys = polygons_to_df(spark, ADMIN_RINGS)
    out = adminize_points_s2join(df, polys, max_level=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate join keys on cell; Spark may pick SMJ/SHJ (or BHJ when
    # the cover side is tiny, as here) — what matters is it's an EQUI-join
    assert "cell" in plan


def test_s2index_matches_dense_probe(spark):
    from avecado_spark.operators.adminizer import (adminize_points_rings,
                                                   adminize_points_s2index)
    from avecado_spark.queries import ADMIN_RINGS

    df = _points_df(spark)
    a = sorted(adminize_points_rings(df, ADMIN_RINGS)
               .select("url", "admin").collect())
    for max_level in (6, 8, 9, 12):
        b = sorted(adminize_points_s2index(df, ADMIN_RINGS,
                                           max_level=max_level)
                   .select("url", "admin").collect())
        assert a == b, max_level


def test_s2index_many_polygons_grid(spark):
    """400 overlapping boxes: the flattened index resolves the SAME
    first-match assignment as the dense probe — nesting/adjacency handled
    by the elementary-interval sweep."""
    from avecado_spark.operators.adminizer import (adminize_points_rings,
                                                   adminize_points_s2index)

    polys = []
    k = 0
    side = 1_500_000_000
    for gx in range(20):
        for gy in range(20):
            x0 = -15_000_000_000 + gx * side
            y0 = -11_000_000_000 + gy * side
            # overlap neighbours by 20% so points hit several candidates
            ring = [(x0, y0), (x0 + int(side * 1.2), y0),
                    (x0 + int(side * 1.2), y0 + int(side * 1.2)),
                    (x0, y0 + int(side * 1.2))]
            polys.append((k, ring, f"cell{k}"))
            k += 1
    n = 4000
    pdf = pd.DataFrame({
        "url": [f"u{i}" for i in range(n)],
        "mx_mm": rng.integers(-16_000_000_000, 16_000_000_000, n),
        "my_mm": rng.integers(-12_000_000_000, 12_000_000_000, n),
    })
    df = spark.createDataFrame(pdf)
    a = sorted(adminize_points_rings(df, polys)
               .select("url", "admin").collect())
    b = sorted(adminize_points_s2index(df, polys, max_level=10)
               .select("url", "admin").collect())
    assert a == b
