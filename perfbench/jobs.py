"""The workload chains, run through the program's public functions.

Each workload has a timed form (one call chain whose output digest is
observed in the same Spark job that materializes it) and a layered form
for the traced run, in which every layer's output is materialized
before the next layer reads it, inside a span named after the layer.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from . import oracle
from .trace import TRACE_GROUP

CURATE_COLS = ["url", "lang", "cell5", "region_id", "z_out", "unc", "text"]
READBACK_SCHEMA = ("url string, lang string, region_id string, z_out double, "
                   "unc double, text string, cell5 long")
CKPT_BUCKETS = 2
CKPT_FAIL_AFTER = 1
RUN_ID = "perfbench"
# the leaf suite: the bench.HEADLINE leaves that run the search, DSIR,
# k-means, similarity and embedding-kernel ops, each with eager jobs
# (training, statistics or checkpoints) while its plan is built
LEAF_OPS = {"text_bm25_topk", "dsir_weights", "ann_ivf_trained_topk"}


def leaf_suite() -> list[str]:
    """The leaf suite in bench.HEADLINE order."""
    import bench

    return [n for n in bench.HEADLINE if n in LEAF_OPS]


def _pages(spark, inp: dict) -> DataFrame:
    from vyperdatum_spark.sources import tables

    return tables.read_table(spark, os.path.join(inp["dir"], "pages")).select(
        "url", "warc_ts", "text", "lang")


def _parsed(pages: DataFrame) -> DataFrame:
    from vyperdatum_spark.engine import geoparse

    return geoparse.geoparse(pages).filter(F.col("x").isNotNull())


def _transform(spark, parsed: DataFrame) -> DataFrame:
    from vyperdatum_spark.engine import transform as tx

    return tx.transform_points(spark, parsed, "ellipse", "mllw", key_col="url")


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dedup_exact(df: DataFrame) -> DataFrame:
    """min-url keeper per md5(text)."""
    keepers = (df.groupBy(F.md5(F.col("text")).alias("_k"))
               .agg(F.min("url").alias("url")).select("url"))
    return df.join(keepers, "url", "left_semi")


def _decontaminate(spark, df: DataFrame, inp: dict) -> DataFrame:
    from vyperdatum_spark.ops import dedup

    bench = spark.read.parquet(os.path.join(inp["dir"], "eval"))
    contam = dedup.decontaminate(df, bench, id_col="url", text_col="text")
    clean = contam.filter(F.col("n_hit") == 0).select("url")
    return df.join(clean, "url", "left_semi")


def _sample(df: DataFrame) -> DataFrame:
    from vyperdatum_spark.ops import textstats

    return textstats.sample_stratified(df, id_col="url", lang_col="lang")


def _sink(df: DataFrame, path: str) -> None:
    from vyperdatum_spark.engine import sinks

    sinks.to_cell_partitioned_parquet(df.select(*CURATE_COLS), path)


def _readback(spark, path: str) -> DataFrame:
    return (spark.read.schema(READBACK_SCHEMA).option("basePath", path)
            .parquet(path).select(*CURATE_COLS))


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ---------------------------------------------------------------- timed jobs
def transform_job(spark, inp: dict) -> dict:
    """pages → geoparse → transform → noop sink; returns the digest."""
    obs = Observation()
    out = _transform(spark, _parsed(_pages(spark, inp)))
    _noop(out.observe(obs, *oracle.digest_cols(geo=True)))
    return obs.get


def checkpoint_call(spark, inp: dict, out_dir: str, fail_after=None) -> int:
    """One run_with_checkpoint invocation over the parsed pages (text
    rides through staging and the bucket commits). Returns the buckets
    processed, or -1 for the simulated crash."""
    from vyperdatum_spark.engine import checkpoint as ckpt

    try:
        return ckpt.run_with_checkpoint(
            spark, _parsed(_pages(spark, inp)), _transform, out_dir, RUN_ID,
            key_col="url", n_buckets=CKPT_BUCKETS, fail_after=fail_after)
    except RuntimeError as e:
        if "simulated failure" not in str(e):
            raise
        return -1


def curate_tail(spark, inp: dict, out_dir: str, work: str) -> dict:
    """checkpoint output → exact dedup → decontaminate → sample →
    cell-partitioned sink → read-back; returns the read-back digest."""
    from vyperdatum_spark.engine import checkpoint as ckpt

    out = ckpt.read_output(spark, out_dir).select(*CURATE_COLS)
    path = os.path.join(work, "curated")
    _sink(_sample(_decontaminate(spark, _dedup_exact(out), inp)), path)
    obs = Observation()
    _noop(_readback(spark, path).observe(obs, *oracle.digest_cols(geo=False)))
    return obs.get


def leaf_pass(spark, sf_dir: str, leaves: list[str]) -> dict:
    """Build and materialize (noop sink) each leaf in turn; returns
    each leaf's row count, observed in the materializing job."""
    import __spark_entry__ as entry

    qs = entry.queries_extended()
    rows = {}
    for name in leaves:
        obs = Observation()
        _noop(qs[name](spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")))
        rows[name] = obs.get["rows"]
    return rows


def checkpoint_stats(spark, out_dir: str) -> dict:
    from vyperdatum_spark.engine import checkpoint as ckpt

    return oracle.checkpoint_stats(ckpt.read_output(spark, out_dir),
                                   ckpt.read_metrics(spark, out_dir, RUN_ID))


# ------------------------------------------------------------- layered runs
def _mat(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


def layered_transform(spark, inp: dict, tr) -> dict:
    """scan → geoparse → transform → noop sink, each in its own span."""
    with tr.span("sources.tables.scan"):
        pages, n_in = _mat(_pages(spark, inp))
    with tr.span("engine.geoparse.exec"):
        parsed, n_parsed = _mat(_parsed(pages))
    with tr.span("engine.transform.build"):
        out = _transform(spark, parsed)
    with tr.span("engine.transform.analyze"):
        out._jdf.queryExecution().executedPlan()
    with tr.span("engine.transform.exec"):
        out, _ = _mat(out)
        n_cov = out.filter(F.col("covered")).count()
    with tr.span("engine.sinks.write"):
        _noop(out)
    for df in (pages, parsed, out):
        df.unpersist()
    return {"engine.geoparse.hit_ratio": n_parsed / n_in,
            "engine.transform.cover_ratio": n_cov / n_parsed}


def no_span(name: str, **attrs):
    """The untraced stand-in for ``Tracer.span``."""
    return contextlib.nullcontext()


def stepwise_checkpoint(spark, inp: dict, out_dir: str, span) -> list[float]:
    """Stage, then commit one bucket per fail_after=1 call, each step
    inside ``span``; returns the per-bucket wall times. The traced run
    and its untraced reference both run the checkpoint in this shape."""
    from vyperdatum_spark.engine import checkpoint as ckpt

    with span("engine.checkpoint.stage"):
        ckpt.stage_buckets(spark, _parsed(_pages(spark, inp)), out_dir, RUN_ID,
                           "url", CKPT_BUCKETS)
    buckets = []
    for b in range(CKPT_BUCKETS):
        t0 = time.perf_counter()
        with span("engine.checkpoint.bucket", bucket=b):
            checkpoint_call(spark, inp, out_dir, fail_after=1)
        buckets.append(time.perf_counter() - t0)
    return buckets


def layered_curate_resume(spark, inp: dict, tr, work: str) -> dict:
    """The stepwise checkpoint (per-bucket times); the output and
    metrics reads; then each curation layer."""
    from vyperdatum_spark.engine import checkpoint as ckpt
    from vyperdatum_spark.sources import tables

    out_dir = os.path.join(work, "ckpt")
    buckets = stepwise_checkpoint(spark, inp, out_dir, tr.span)
    with tr.span("engine.checkpoint.read_output"):
        out, n_out = _mat(ckpt.read_output(spark, out_dir).select(*CURATE_COLS))
    with tr.span("engine.checkpoint.read_metrics"):
        ckpt.read_metrics(spark, out_dir, RUN_ID).collect()
    with tr.span("ops.dedup.exact"):
        dd, n_dd = _mat(_dedup_exact(out))
    with tr.span("ops.dedup.decontaminate"):
        clean, n_clean = _mat(_decontaminate(spark, dd, inp))
    with tr.span("ops.textstats.sample"):
        sampled, _ = _mat(_sample(clean))
    path = os.path.join(work, "curated")
    with tr.span("engine.sinks.write"):
        _sink(sampled, path)
    with tr.span("engine.sinks.readback"):
        _noop(_readback(spark, path))
    for df in (out, dd, clean, sampled):
        df.unpersist()
    return {
        "engine.checkpoint.bucket_s_p50": statistics.median(buckets),
        "engine.checkpoint.bucket_s_max": max(buckets),
        "sources.tables.commits": len(tables.current_chain(os.path.join(out_dir, "data"))),
        "sources.tables.bytes_written": dir_bytes(out_dir) + dir_bytes(path),
        "ops.dedup.dup_removed": n_out - n_dd,
        "ops.dedup.contam_removed": n_dd - n_clean,
        "engine.sinks.files": sum(1 for _, _, fs in os.walk(path)
                                  for f in fs if f.endswith(".parquet")),
    }


def layered_leaves(spark, sf_dir: str, leaves: list[str], tr) -> dict:
    """Each leaf's build (the query function's call) and execution (the
    noop sink) in their own spans. Build runs under the job group
    ``<TRACE_GROUP>-build-<leaf>``, so the jobs a leaf starts before its
    materializing call are counted; execution runs under TRACE_GROUP."""
    import __spark_entry__ as entry

    qs = entry.queries_extended()
    sc = spark.sparkContext
    eager = 0
    for name in leaves:
        build_group = f"{TRACE_GROUP}-build-{name}"
        sc.setJobGroup(build_group, f"build {name}")
        with tr.span(f"leaf.{name}.build"):
            df = qs[name](spark, sf_dir)
        eager += len(sc.statusTracker().getJobIdsForGroup(build_group))
        sc.setJobGroup(TRACE_GROUP, f"execute {name}")
        with tr.span(f"leaf.{name}.exec"):
            _noop(df)
    return {"queries.eager_jobs": eager}
