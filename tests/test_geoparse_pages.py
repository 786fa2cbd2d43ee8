"""Geoparse + pages pipeline tests: byte-identical text invariant,
miss handling, end-to-end pages→transform."""

import re

import numpy as np
from pyspark.sql import functions as F

from vyperdatum_spark.engine import datagen, geoparse, transform as tx


def test_geoparse_extracts_and_preserves_text(spark):
    pages = datagen.pages_df(spark, 300)
    parsed = geoparse.geoparse(pages)
    pdf = parsed.toPandas()
    src = datagen.pages_pdf(300)
    # byte-identical text per url (the input_hint invariant)
    merged = pdf.set_index("url")["text"].to_dict()
    for u, t in zip(src.url, src.text):
        assert merged[u] == t
    # ~85% parse; misses and malformed rows are null
    got = pdf[~pdf.x.isna()]
    assert 0.7 < len(got) / len(pdf) <= 0.9
    assert (pdf[pdf.text.str.startswith("Plain")].x.isna()).all()
    assert (pdf[pdf.text.str.startswith("Broken")].x.isna()).all()


def test_geoparse_sign_conventions(spark):
    pages = spark.createDataFrame(
        [("u1", "located at 34.75000N, 76.75000W, elevation 10.00 m"),
         ("u2", "located at 12.50000S, 100.25000E, elevation -3.50 m")],
        "url string, text string",
    )
    pdf = geoparse.geoparse(pages).toPandas().set_index("url")
    assert pdf.loc["u1", "x"] == -76.75 and pdf.loc["u1", "y"] == 34.75
    assert pdf.loc["u2", "x"] == 100.25 and pdf.loc["u2", "y"] == -12.5
    assert pdf.loc["u2", "z"] == -3.5


def test_pages_end_to_end_transform(spark):
    """Full pages → geoparse → transform path with url as the key:
    heavy columns (html/text) survive untouched, parsed rows get z."""
    pages = datagen.pages_df(spark, 200)
    parsed = geoparse.geoparse(pages).filter(F.col("x").isNotNull())
    out = tx.transform_points(spark, parsed, "ellipse", "mllw", key_col="url")
    pdf = out.toPandas()
    assert set(["url", "warc_ts", "html", "text", "lang", "z_out"]) <= set(pdf.columns)
    src = datagen.pages_pdf(200).set_index("url")
    for u, t in zip(pdf.url, pdf.text):
        assert src.loc[u, "text"] == t
    # famous-coordinate rows are covered (inside the ABC overlap)
    famous = pdf[np.isclose(pdf.x, datagen.FAMOUS[0])]
    assert len(famous) > 10 and famous.covered.all()
    assert (famous.region_id == "RGNCbay01_8301").all()


def test_full_text_regex_runs_once_under_a_caller_filter(spark, tmp_path):
    """The caller's ``x IS NOT NULL`` filter must not pull the
    full-text regexes into the Filter: in the optimized plan the
    Filter reads only the staged match, and each full-text pattern
    sits in exactly one operator."""
    path = str(tmp_path / "pages")
    # a parquet scan, not a local relation: the optimizer folds
    # filters over local relations away before the plan can be read
    datagen.pages_df(spark, 50).write.parquet(path)
    parsed = geoparse.geoparse(spark.read.parquet(path))
    plan = (parsed.filter(F.col("x").isNotNull())
            ._jdf.queryExecution().optimizedPlan().toString())
    ops = plan.splitlines()
    filters = [op for op in ops if op.lstrip(" :+-").startswith("Filter")]
    assert filters and not any("text#" in op for op in filters), plan
    for pat in (geoparse.COORD_RE, geoparse.ELEV_RE):
        full = re.compile(r"regexp_extract\(text#\d+, " + re.escape(pat) + r", 0\)")
        assert sum(1 for op in ops if full.search(op)) == 1, (pat, plan)
