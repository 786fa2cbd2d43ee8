"""Focused tests for the round-6 optimization internals.

Covers the r6 rewrites whose equivalence arguments are local
invariants (the oracle gate proves end-to-end equality; these pin the
pieces):

- slots_dim_pdf: the denormalized prune dim must carry REAL Nones for
  missing slots (pandas NaN would flip join-miss semantics) and agree
  row-for-row with the two-level slots->region-dim layout.
- pip_literal_sql / bilinear_sql: the SQL strings must evaluate
  exactly like their numpy oracles (spatial.pip.contains,
  grids.bilinear.interp_tile) — rect AND general polygons; interior,
  vertex, edge, outside.
- local_frame: numpy scalars at any nesting depth reach Spark as
  values, NaN stays NaN, and the frame is a local relation.
- read_input: repartitions a 1-partition scan up to default
  parallelism, leaves an already-parallel scan untouched.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.engine import transform_sql as tsql
from vyperdatum_spark.grids import bilinear
from vyperdatum_spark.spatial import pip


@pytest.fixture(scope="module")
def spark():
    from vyperdatum_spark.session import get_spark

    return get_spark(app_name="test-r6", cores=4,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_slots_dim_has_real_nones_and_matches_two_level_layout():
    grids = tsql.combined_grids("ellipse", "mllw")
    j_max = max(len(g) for g in grids.values())
    pdf, schema, depth = tsql.slots_dim_pdf(grids, j_max)
    # no NaN anywhere (a float NaN in ord/ngr/lon0 would silently
    # change join-miss comparisons: j < NaN is TRUE, j < NULL is NULL)
    for col in pdf.columns:
        for v in pdf[col]:
            assert not (isinstance(v, float) and math.isnan(v)), col
    # row-for-row agreement with the two-level layout
    slots, _depth = tsql.cover_slots_pdf()
    rd = tsql.region_dim_pdf(grids, j_max).set_index("region_id")
    by_cell = {int(r.cell9): r for r in pdf.itertuples(index=False)}
    assert len(by_cell) == len(slots)
    for row in slots.itertuples(index=False):
        got = by_cell[int(row.cell9)]
        for k in range(depth):
            rid = getattr(row, f"slot_{k}")
            assert getattr(got, f"rid_s{k}") == rid
            if rid is None:
                assert getattr(got, f"ord_s{k}") is None
                assert getattr(got, f"gkey_s{k}_0") is None
            else:
                ref = rd.loc[rid]
                assert getattr(got, f"ord_s{k}") == int(ref["region_ord"])
                assert getattr(got, f"ngr_s{k}") == int(ref["n_groups"])
                assert getattr(got, f"lon0_s{k}_0") == ref["lon0_0"]


def test_pip_sql_matches_numpy_pip(spark):
    """pip_literal_sql evaluates exactly like spatial.pip.contains
    (the numpy oracle) on a rect and a general octagon, including
    points on vertices and edges."""
    rect = [(-78.0, 33.0), (-77.0, 33.0), (-77.0, 34.0), (-78.0, 34.0),
            (-78.0, 33.0)]
    octagon = [(-77.5, 33.2), (-77.2, 33.0), (-76.8, 33.1), (-76.6, 33.5),
               (-76.7, 33.9), (-77.1, 34.1), (-77.6, 33.9), (-77.7, 33.5),
               (-77.5, 33.2)]
    k = np.arange(4000)
    xs = -78.2 + (k % 80) * 0.02
    ys = 32.8 + (k // 80 % 50) * 0.03
    for poly in (rect, octagon):
        ring = np.asarray(poly)
        mids = (ring[:-1] + ring[1:]) / 2.0
        px = np.concatenate([xs, ring[:, 0], mids[:, 0]])
        py = np.concatenate([ys, ring[:, 1], mids[:, 1]])
        pts = spark.createDataFrame(
            pd.DataFrame({"i": np.arange(len(px)), "x": px, "y": py}))
        got = (pts.select("i", F.expr(tsql.pip_literal_sql("x", "y", poly))
                          .alias("inside"))
               .toPandas().sort_values("i")["inside"].to_numpy())
        assert np.array_equal(got, pip.contains(poly, px, py))


def test_bilinear_sql_matches_interp_tile(spark):
    """bilinear_sql evaluates exactly like grids.bilinear.interp_tile
    (the numpy oracle) on a 2×2 lattice whose origin is the point's
    cell lower-left node — the origin the production corner join
    supplies."""
    rng = np.random.default_rng(7)
    n = 2000
    dlon, dlat = 0.05, 0.04
    lon0 = -78.05 + rng.integers(0, 40, n) * dlon
    lat0 = 32.95 + rng.integers(0, 40, n) * dlat
    tx_, ty_ = rng.uniform(0.0, 0.999, n), rng.uniform(0.0, 0.999, n)
    tx_[:10] = ty_[:10] = 0.0  # points on the lower-left node
    pdf = pd.DataFrame({
        "i": np.arange(n), "x": lon0 + tx_ * dlon, "y": lat0 + ty_ * dlat,
        "lon0": lon0, "lat0": lat0, "dlon": dlon, "dlat": dlat,
        "v00": rng.uniform(-40, 40, n), "v01": rng.uniform(-40, 40, n),
        "v10": rng.uniform(-40, 40, n), "v11": rng.uniform(-40, 40, n),
    })
    got = (spark.createDataFrame(pdf).select("i", F.expr(tsql.bilinear_sql(
        "x", "y", "lon0", "lat0", "dlon", "dlat", "v00", "v01", "v10", "v11",
    )).alias("v")).toPandas().sort_values("i")["v"].to_numpy())
    exp = np.array([
        bilinear.interp_tile(
            r.lon0, r.lat0, r.dlon, r.dlat, 2, 2,
            np.array([r.v00, r.v01, r.v10, r.v11]),
            np.array([r.x]), np.array([r.y]), knn_fallback=False,
        )[0]
        for r in pdf.itertuples(index=False)
    ])
    assert np.isfinite(exp).all()
    # bit-exact equality, not approx: same float64 ops in the same order
    assert np.array_equal(got, exp)


def test_local_frame_takes_numpy_scalars_at_any_depth(spark):
    """Dim rows carry numpy scalars (itertuples over numpy columns, the
    kNN ``cands`` array<struct>): they reach Spark as plain values, a
    float NaN stays NaN (only None is null), and the frame is an Arrow
    local relation."""
    from vyperdatum_spark.session import local_frame

    rows = [
        ("a", np.int64(1), np.float64("nan"),
         [(np.float64(1.5), 2.5, np.float32(0.5), np.int64(7))]),
        ("b", np.int32(2), None, None),
        ("c", 3, 1.0, []),
    ]
    df = local_frame(spark, rows, "g string, ix long, v double, cands "
                     "array<struct<lon: double, lat: double, v: double, i: bigint>>")
    got = df.collect()
    assert [r.ix for r in got] == [1, 2, 3]
    assert math.isnan(got[0].v) and got[1].v is None and got[2].v == 1.0
    assert [tuple(c) for c in got[0].cands] == [(1.5, 2.5, 0.5, 7)]
    assert got[1].cands is None and got[2].cands == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    assert local_frame(spark, [], "g string, ix long").count() == 0


def test_read_input_parallelizes_only_small_scans(spark, tmp_path):
    from vyperdatum_spark.engine.inputs import parallelize_scan

    one = spark.range(100).coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    out = parallelize_scan(one, spark)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row set unchanged
    assert sorted(r[0] for r in out.collect()) == list(range(100))
    wide = spark.range(100).repartition(
        spark.sparkContext.defaultParallelism + 4)
    assert parallelize_scan(wide, spark) is wide
