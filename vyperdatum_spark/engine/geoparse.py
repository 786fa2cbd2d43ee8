"""Geoparsing: extract (lon, lat, z) from web-page text.

The graft's driving table is Common-Crawl-shaped pages
(url, warc_ts, html, text, lang — BASELINE.json input_hint); points
are parsed from coordinate mentions in ``text``. Extraction is pure
JVM-side ``regexp_extract`` column math (whole-stage codegen; no
Python in this hot path), and the ``text`` column is never rewritten —
the byte-identical-text-per-url invariant is a projection guarantee.

Recognized pattern (the fixture generator's template):
    "... located at 34.75123N, 76.75123W, elevation 10.50 m ..."
Degrees with hemisphere letters; S/W negate. Rows without a
coordinate mention parse to null x/y (geoparse miss).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

COORD_RE = r"(\d+\.\d+)\s*([NS]),?\s+(\d+\.\d+)\s*([WE])"
ELEV_RE = r"elevation (-?\d+\.\d+) m"


def _signed(value: Column, hemi: Column, neg: str) -> Column:
    # try_cast: regexp misses yield '' which must parse to null, not
    # raise under Spark 4's default ANSI mode
    v = value.try_cast("double")
    return F.when(hemi == neg, -v).otherwise(v)


def geoparse(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """Add x (lon), y (lat), z columns parsed from ``text_col``.

    All other columns pass through untouched. Misses yield nulls.

    Each regex runs ONCE over the full text (regexp_extract group 0)
    and the cheap per-group extracts rerun only over the ~25-char
    match. A miss yields '' (null for a null text), which the
    per-group extracts and ``try_cast`` carry to null x/y/z.

    Why the ``inline(array(struct(...)))``: it is an optimizer
    barrier. Plain staged columns are not enough — Catalyst pushes a
    caller's ``x IS NOT NULL`` filter below the projections and
    inlines ``x`` (and with it the full-text regex) into the filter,
    one copy per reference: the filter held six copies of the COORD
    regex, up to five of which ran per row. A generator's output can
    be neither inlined nor pushed through, so both full-text regexes
    run once per row, below any filter on x/y/z.
    """
    t = F.col(text_col)
    stage = pages.select("*", F.inline(F.array(F.struct(
        F.regexp_extract(t, COORD_RE, 0).alias("_m"),
        F.regexp_extract(t, ELEV_RE, 0).alias("_e"),
    ))))
    m, e = F.col("_m"), F.col("_e")
    lat = _signed(F.regexp_extract(m, COORD_RE, 1), F.regexp_extract(m, COORD_RE, 2), "S")
    lon = _signed(F.regexp_extract(m, COORD_RE, 3), F.regexp_extract(m, COORD_RE, 4), "W")
    z = F.regexp_extract(e, ELEV_RE, 1).try_cast("double")
    # regexp_extract returns '' on miss (and null passes through);
    # try_cast maps '' to null
    return (
        stage.withColumn("x", lon)
        .withColumn("y", lat)
        .withColumn("z", z)
        .drop("_m", "_e")
    )


def geoparse_mentions(pages: DataFrame, id_col: str = "url",
                      text_col: str = "text") -> DataFrame:
    """ALL coordinate mentions per page, one output row per mention:
    (id, mention_idx 1-based, x, y).

    regexp_extract_all runs the pattern ONCE over the text; the
    per-group extracts rerun only over each ~25-char match after the
    posexplode — the multi-mention generalization of :func:`geoparse`
    (pages citing several stations each)."""
    t = F.col(text_col)
    exploded = (
        pages.select(
            F.col(id_col),
            F.posexplode(F.regexp_extract_all(t, F.lit(COORD_RE), F.lit(0)))
            .alias("_pos", "_m"),
        )
        .withColumn("mention_idx", F.col("_pos") + 1)
    )
    m = F.col("_m")
    lat = _signed(F.regexp_extract(m, COORD_RE, 1), F.regexp_extract(m, COORD_RE, 2), "S")
    lon = _signed(F.regexp_extract(m, COORD_RE, 3), F.regexp_extract(m, COORD_RE, 4), "W")
    return exploded.select(
        id_col, "mention_idx", lon.alias("x"), lat.alias("y")
    )
