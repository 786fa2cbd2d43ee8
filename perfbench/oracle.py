"""Expected outputs and the output checks.

Expected values come from the generator's truth table and a DuckDB
closed form, never from the program's own plan. Both sides are reduced
to order-insensitive digests: the row count plus the XOR of a 60-bit
md5 prefix per row (urls are unique, so equal rows cannot cancel). The
row strings are built identically in DuckDB and Spark; ``z_out`` enters
as an integer count of millimetres, its rounding unit.

The timed jobs compute their digests through ``DataFrame.observe``, so
checking a job costs no extra Spark job. Expected digests are computed
once, when the input is generated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"


def _h60(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def _row_text() -> Column:
    return F.concat(F.col("url"), F.lit(SEP), F.col("text"))


def _row_geo() -> Column:
    mm = F.round(F.col("z_out") * 1000).cast("long").cast("string")
    return F.concat(F.col("url"), F.lit(SEP), F.coalesce(F.col("region_id"), F.lit("~")),
                    F.lit(SEP), F.coalesce(mm, F.lit("~")), F.lit(SEP),
                    F.col("covered").cast("string"))


def digest_cols(geo: bool, text: bool = True) -> list[Column]:
    cols = [F.count(F.lit(1)).alias("rows")]
    if text:
        cols.append(F.bit_xor(_h60(_row_text())).alias("text_xor"))
    if geo:
        cols.append(F.bit_xor(_h60(_row_geo())).alias("geo_xor"))
    return cols


def digest(df: DataFrame, geo: bool) -> dict:
    return df.agg(*digest_cols(geo)).collect()[0].asDict()


# the same digests in DuckDB SQL
_H60_SQL = "CAST(('0x' || substr(md5({}), 1, 15)) AS BIGINT)"
_TEXT_SQL = _H60_SQL.format("url || chr(31) || text")
_GEO_SQL = _H60_SQL.format(
    "url || chr(31) || coalesce(region_id, '~') || chr(31) || "
    "coalesce(CAST(CAST(round(z_out * 1000) AS BIGINT) AS VARCHAR), '~') || "
    "chr(31) || CAST(covered AS VARCHAR)")


def expected_digests(pages_glob: str, truth_path: str, curate: bool) -> dict:
    """Expected digests of one generated input.

    transform: every parsed page with its text and the closed-form
    region_id / z_out / covered (rectangle regions, plane grids).
    curate: the pages that survive exact dedup (min url per text),
    decontamination (no quoted eval words) and the sampler, with text.
    """
    import duckdb

    from vyperdatum_spark.queries.geo import region_case_sql, z_out_case_sql

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW pages AS SELECT * FROM read_parquet('{pages_glob}')")
        con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{truth_path}')")
        con.execute(
            f"CREATE VIEW geo AS SELECT url, text, region_id, "
            f"{z_out_case_sql('ellipse', 'mllw')} AS z_out, "
            f"region_id IS NOT NULL AS covered FROM ("
            f"SELECT p.url, p.text, t.x, t.y, t.z, {region_case_sql()} AS region_id "
            f"FROM pages p JOIN truth t USING (url) WHERE t.x IS NOT NULL)")
        out = {"transform": _digest_sql(
            con, f"SELECT count(*), bit_xor({_TEXT_SQL}), bit_xor({_GEO_SQL}) FROM geo",
            ("rows", "text_xor", "geo_xor"))}
        if curate:
            out["curate"] = _digest_sql(
                con, f"SELECT count(*), bit_xor({_TEXT_SQL}) FROM pages p JOIN truth t "
                "USING (url) WHERE t.x IS NOT NULL AND t.dup_of < 0 AND NOT t.contam "
                "AND t.sample_keep", ("rows", "text_xor"))
    finally:
        con.close()
    return out


def leaf_rows(sf_dir: str, leaves: list[str]) -> dict:
    """Each leaf's row count under its own DuckDB oracle
    (``oracle_sql_extended``) over the parquet tables in ``sf_dir``."""
    import glob
    import os

    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql_extended()
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        return {n: con.execute(f"SELECT count(*) FROM ({oracles[n]})").fetchone()[0]
                for n in leaves}
    finally:
        con.close()


def _digest_sql(con, sql: str, names: tuple) -> dict:
    row = con.execute(sql).fetchone()
    return {k: int(v) for k, v in zip(names, row)}


# ------------------------------------------------------------------ checks
def compare(observed: dict, want: dict) -> list[str]:
    """One line per digest field that differs (empty when correct)."""
    return [f"{k}: got {observed.get(k)} want {v}"
            for k, v in want.items() if observed.get(k) != v]


def check_curate(observed: dict, want: dict) -> list[str]:
    """Exactly the expected survivors, with byte-identical text: a
    missed duplicate or contaminated page, an extra removal, or a changed
    byte all change the digest. The output must also be non-empty."""
    bad = compare(observed, want)
    if not observed.get("rows"):
        bad.append("empty output")
    return bad


def checkpoint_stats(out: DataFrame, metrics: DataFrame) -> dict:
    """One pass over the checkpointed output plus the metrics sidecars."""
    o = out.agg(*digest_cols(geo=True, text=False),
                F.count_distinct("url").alias("keys"),
                F.count("z_out").alias("z_out_rows")).collect()[0].asDict()
    m = metrics.agg(F.sum("rows_in").alias("m_in"),
                    F.sum("rows_out").alias("m_out")).collect()[0]
    o["metrics_rows_in"] = int(m["m_in"] or 0)
    o["metrics_rows_out"] = int(m["m_out"] or 0)
    return o


def check_checkpoint(stats: dict, want_geo: dict) -> list[str]:
    """Output rows equal input rows, keys are unique, the metrics sums
    equal the output counts, and the geo columns match the closed form."""
    bad = compare(stats, {"rows": want_geo["rows"], "geo_xor": want_geo["geo_xor"]})
    if stats["keys"] != stats["rows"]:
        bad.append(f"keys {stats['keys']} != rows {stats['rows']}")
    if stats["metrics_rows_in"] != stats["rows"]:
        bad.append(f"metrics rows_in {stats['metrics_rows_in']} != rows {stats['rows']}")
    if stats["metrics_rows_out"] != stats["z_out_rows"]:
        bad.append(f"metrics rows_out {stats['metrics_rows_out']} != "
                   f"z_out rows {stats['z_out_rows']}")
    return bad
