"""Raster-path parity tests (reference tests/test_raster.py semantics
over the synthetic catalog): sep application, sign matrix, nodata
passthrough, count precedence, out-of-coverage, kNN edge fill."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.datums import catalog
from vyperdatum_spark.engine import raster as vr
from vyperdatum_spark.grids import tiler
from vyperdatum_spark.spatial import pip


def _raster(spark, nodata_cells=0):
    """A 20×20 raster fully inside region A."""
    rng = np.random.default_rng(21)
    vals = np.round(rng.uniform(-30.0, -5.0, (20, 20)), 2)
    if nodata_cells:
        vals.ravel()[:nodata_cells] = -9999.0
    return vals, vr.raster_to_points(
        spark, origin_x=-77.95, origin_y=34.4, dx=0.02, dy=-0.02,
        width=20, height=20, values=vals, nodata=-9999.0,
    )


def test_raster_transform_golden(spark):
    vals, cells_df = _raster(spark)
    out = vr.transform_raster_points(
        spark, cells_df, "ellipse", "mllw"
    ).toPandas().sort_values(["row", "col"])
    assert out.covered.all()
    # every cell in region A; transform_closed_form(z=value) carries
    # the full sign matrix (height band -> depth mllw flips once)
    exp = []
    for _, r in out.iterrows():
        exp.append(round(catalog.transform_closed_form(
            r.region_id, "ellipse", "mllw", r.x, r.y, r["value"]
        ), 3))
    assert np.allclose(out.z_out.to_numpy(), np.array(exp), atol=1e-9)


def test_raster_sounding_sign_matrix(spark):
    """Height vs sounding input (raster.py:356-364), with mllw a DEPTH
    datum (vypercrs.py:545-552): a height band to mllw flips once,
    z = -(v + sep); a sounding band to mllw keeps its sign,
    z = +(v - sep) — both therefore satisfy ∓z_out ± value = +sep."""
    vals, cells_df = _raster(spark)
    h = vr.transform_raster_points(
        spark, cells_df, "ellipse", "mllw", input_is_height=True
    ).toPandas().sort_values(["row", "col"])
    s = vr.transform_raster_points(
        spark, cells_df, "ellipse", "mllw", input_is_height=False
    ).toPandas().sort_values(["row", "col"])
    # height: z_h = -(value + sep); sounding: z_s = +(value - sep)
    sep_h = -h.z_out.to_numpy() - h["value"].to_numpy()
    sep_s = s["value"].to_numpy() - s.z_out.to_numpy()
    assert np.allclose(sep_h, sep_s, atol=0.002)
    # to a HEIGHT output (navd88), a height band keeps its sign:
    # flip=+1, z = +(value + sep_navd88)
    hh = vr.transform_raster_points(
        spark, cells_df, "ellipse", "navd88", input_is_height=True
    ).toPandas().sort_values(["row", "col"])
    assert np.allclose(
        hh.z_out.to_numpy() - hh["value"].to_numpy(),
        hh.sep.to_numpy(), atol=0.002,
    )


def test_raster_nodata_passthrough(spark):
    vals, cells_df = _raster(spark, nodata_cells=7)
    out = vr.transform_raster_points(
        spark, cells_df, "ellipse", "mllw"
    ).toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    assert out.loc[:6, "z_out"].isna().all()
    assert out.loc[7:, "z_out"].notna().all()


def test_raster_band_round_trip(spark):
    vals, cells_df = _raster(spark)
    out = vr.transform_raster_points(
        spark, cells_df, "ellipse", "mllw"
    ).toPandas()
    band = vr.points_to_band(out, 20, 20)
    assert band.shape == (20, 20)
    assert np.isfinite(band).all()


def test_raster_count_precedence_w2(spark):
    """A raster straddling A and the ABC overlap: W2 gives every
    overlap cell to the region with the most valid cells (A), whereas
    the points path (W1) would give C."""
    # 30 cells in A-only + 4 cells in the ABC overlap zone
    xs = np.concatenate([np.linspace(-77.9, -77.3, 30), np.full(4, -76.75)])
    ys = np.concatenate([np.full(30, 33.5), np.linspace(34.7, 34.8, 4)])
    pdf = pd.DataFrame(
        {
            "cell_id": np.arange(34, dtype=np.int64),
            "row": np.zeros(34, dtype=np.int32),
            "col": np.arange(34, dtype=np.int32),
            "x": xs,
            "y": ys,
            "value": np.full(34, -10.0),
        }
    )
    out = vr.transform_raster_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw"
    ).toPandas().set_index("cell_id")
    assert (out.loc[30:, "region_id"] == "RGNAcoast01_8301").all()


def test_raster_outside_coverage_catzoc(spark):
    pdf = pd.DataFrame(
        {
            "cell_id": np.arange(2, dtype=np.int64),
            "row": np.zeros(2, dtype=np.int32),
            "col": np.arange(2, dtype=np.int32),
            "x": [-74.2, -74.3],
            "y": [34.0, 34.0],
            "value": [-12.0, 5.0],
        }
    )
    out = vr.transform_raster_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw",
        allow_points_outside_coverage=True,
    ).toPandas().set_index("cell_id")
    # height band -> depth mllw: uncovered keeps flip*value (negated);
    # CATZOC evaluates the height-convention value
    assert out.loc[0, "z_out"] == 12.0
    assert out.loc[0, "unc"] == 3.0 - 0.06 * (-12.0)
    assert out.loc[1, "z_out"] == -5.0
    assert out.loc[1, "unc"] == 3.0


@pytest.mark.parametrize("strategy", ["sql", "broadcast"])
def test_knn_edge_fill(spark, strategy):
    """NaN-hole grid: a point whose 4 surrounding nodes include NaN is
    filled from the nearest valid node when knn_fallback=True, NaN
    otherwise (J8/W3 north_rule requirement), on both strategies."""
    def hole(lon, lat):
        return (np.abs(lon - (-77.5)) < 0.026) & (np.abs(lat - 34.0) < 0.026)

    # the catalog's grids with a NaN hole in region A's mllw grid; the
    # point lies in region A only
    defs = [
        tiler.GridDef(gd.grid_id, gd.lon0, gd.lat0, gd.dlon, gd.dlat,
                      gd.nx, gd.ny, gd.plane, nan_predicate=hole)
        if gd.grid_id == "RGNAcoast01_8301/mllw.gtx" else gd
        for gd in tiler.fixture_grid_defs()
    ]
    pdf = pd.DataFrame(
        {"pid": np.array([0], dtype=np.int64),
         "x": [-77.501], "y": [34.001], "z": [10.0]}
    )
    from vyperdatum_spark.engine import transform as tx

    no_knn = tx.transform_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw",
        grid_defs=defs, knn_fallback=False, strategy=strategy,
    ).toPandas()
    assert not no_knn.covered.iloc[0]

    with_knn = tx.transform_points(
        spark, spark.createDataFrame(pdf), "ellipse", "mllw",
        grid_defs=defs, knn_fallback=True, strategy=strategy,
    ).toPandas()
    assert with_knn.covered.iloc[0]
    assert np.isfinite(with_knn.z_out.iloc[0])


def test_band_table_sink_round_trip(spark, tmp_path):
    """GeoTIFF-shaped sink: strips + geotransform metadata reassemble
    to the exact transformed band, nodata-filled where uncovered."""
    from vyperdatum_spark.engine import sinks

    vals, cells_df = _raster(spark)
    out = vr.transform_raster_points(spark, cells_df, "ellipse", "mllw")
    path = str(tmp_path / "band_tbl")
    sinks.to_band_table(
        out, path, origin_x=-77.95, origin_y=34.4, dx=0.02, dy=-0.02,
        width=20, height=20, bands=("z_out", "unc"), rows_per_strip=8,
    )
    band, meta = sinks.read_band(spark, path, "z_out")
    assert band.shape == (20, 20) and meta["width"] == 20
    # strips reassemble to the same band points_to_band produces
    ref = vr.points_to_band(out.toPandas(), 20, 20)
    assert np.allclose(band, ref, atol=1e-12)
    unc_band, _ = sinks.read_band(spark, path, "unc")
    assert np.isfinite(unc_band).all()


def test_geotiff_export_byte_layout(spark, tmp_path):
    """Round-3 stretch (reference raster.py:513-546): the band table
    exports to an actual baseline GeoTIFF byte layout — header fields
    verified at the struct level, bands equal to read_band output."""
    import struct

    from vyperdatum_spark.engine import geotiff, sinks

    vals, cells_df = _raster(spark, nodata_cells=5)
    out = vr.transform_raster_points(spark, cells_df, "ellipse", "mllw")
    path = str(tmp_path / "band_tbl")
    sinks.to_band_table(
        out, path, origin_x=-77.95, origin_y=34.4, dx=0.02, dy=-0.02,
        width=20, height=20, bands=("z_out", "unc"), rows_per_strip=8,
    )
    tif = str(tmp_path / "out.tif")
    geotiff.export_band_table(spark, path, tif)

    # raw header assertions straight off the TIFF 6.0 spec (not via
    # our own reader): magic, version 42, IFD entry count
    raw = open(tif, "rb").read()
    assert raw[:2] == b"II" and struct.unpack("<H", raw[2:4])[0] == 42
    (ifd_off,) = struct.unpack("<I", raw[4:8])
    (n_entries,) = struct.unpack("<H", raw[ifd_off:ifd_off + 2])
    assert n_entries == 16
    # tags ascend (spec requirement readers rely on)
    tag_ids = [
        struct.unpack("<H", raw[ifd_off + 2 + 12 * i:ifd_off + 4 + 12 * i])[0]
        for i in range(n_entries)
    ]
    assert tag_ids == sorted(tag_ids)

    bands, meta = geotiff.read_geotiff(tif)
    assert meta["width"] == 20 and meta["height"] == 20
    assert meta["dx"] == 0.02 and meta["dy"] == -0.02
    assert meta["origin_x"] == -77.95 and meta["origin_y"] == 34.4
    assert meta["nodata"] == -9999.0
    assert meta["planar_config"] == 2          # band-sequential (GDAL)
    assert meta["sample_format"] == [3, 3]     # IEEE float
    assert meta["bits_per_sample"] == [32, 32]  # Float32 (reference type)
    assert meta["geo_model_type"] == 2          # geographic

    # band values: float32 of the reassembled band, nodata where
    # uncovered/nodata cells were
    ref, _m = sinks.read_band(spark, path, "z_out")
    got = bands["z_out"].astype(np.float64)
    got_nod = got == np.float32(-9999.0)
    ref_nod = ref == -9999.0
    assert np.array_equal(got_nod, ref_nod) and got_nod.sum() == 5
    assert np.allclose(got[~got_nod], ref[~ref_nod], atol=1e-5)
    assert set(bands) == {"z_out", "unc"}
