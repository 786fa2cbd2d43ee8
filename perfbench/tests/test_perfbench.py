"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from perfbench import gen, jobs, oracle, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------- generators
def test_generator_is_deterministic_per_seed():
    a, ta, ea = gen.pages_frame(2000, 5, gen.DUP_FRAC, gen.CONTAM_FRAC)
    b, tb, eb = gen.pages_frame(2000, 5, gen.DUP_FRAC, gen.CONTAM_FRAC)
    c, _, _ = gen.pages_frame(2000, 6, gen.DUP_FRAC, gen.CONTAM_FRAC)
    assert a.equals(b) and ta.equals(tb) and ea.equals(eb)
    assert not a["text"].equals(c["text"])


@pytest.mark.parametrize("dup,contam", [(0.0, 0.0), (gen.DUP_FRAC, gen.CONTAM_FRAC)])
def test_generator_urls_unique(dup, contam):
    pages, _, _ = gen.pages_frame(5000, 9, dup, contam)
    assert pages["url"].is_unique


def test_generator_plants_known_duplicates_and_contamination():
    pages, truth, evals = gen.pages_frame(5000, 3, gen.DUP_FRAC, gen.CONTAM_FRAC)
    dups = truth.index[truth["dup_of"] >= 0]
    assert 0 < len(dups) and truth["contam"].sum() > 0
    # a copy repeats an earlier, clean original's text exactly
    orig = truth.loc[dups, "dup_of"].to_numpy()
    assert (pages.loc[dups, "text"].to_numpy() == pages.loc[orig, "text"].to_numpy()).all()
    assert (orig < dups.to_numpy()).all() and not truth.loc[orig, "contam"].any()
    assert (truth.loc[orig, "dup_of"] < 0).all()
    # texts are unique apart from the planted copies
    assert pages["text"].nunique() == len(pages) - len(dups)
    # only contaminated pages carry eval vocabulary
    has_eval = pages["text"].str.contains(" zq")
    assert (has_eval == truth["contam"]).all()
    assert evals["text"].str.split().map(lambda ws: all(w.startswith("zq") for w in ws)).all()


def test_sf_tables_are_deterministic_per_seed():
    a, b, c = gen.sf_tables(400, 5), gen.sf_tables(400, 5), gen.sf_tables(400, 6)
    for name in a:
        assert a[name].equals(b[name])
    assert a["documents"]["doc_id"].is_unique and a["embeddings"]["vec_id"].is_unique
    assert not a["documents"]["text"].equals(c["documents"]["text"])


def test_cache_is_keyed_and_reused(tmp_path):
    m1 = gen.ensure(str(tmp_path), "pages", 4, 300, n_files=2)
    m2 = gen.ensure(str(tmp_path), "pages", 4, 300, n_files=2)
    assert "gen_s" in m1 and "gen_s" not in m2
    assert m1["key"] == gen.key("pages", 4, 300) == m2["key"]
    assert gen.GEN_VERSION in m1["key"]
    m3 = gen.ensure(str(tmp_path), "pages", 5, 300, n_files=2)
    assert m3["dir"] != m1["dir"]


# ----------------------------------------------------------- output checks
@pytest.fixture(scope="module")
def spark():
    from vyperdatum_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": "2g"})
    yield s
    s.stop()


def _flip_one_byte(df, url):
    flipped = F.concat(F.lit("#"), F.expr("substring(text, 2)"))
    return df.withColumn("text", F.when(F.col("url") == url, flipped)
                         .otherwise(F.col("text")))


def test_transform_check_fires_on_corruption(spark, tmp_path):
    inp = gen.ensure(str(tmp_path), "pages", 21, 3000, n_files=2)
    want = inp["expected"]["transform"]
    out = jobs._transform(spark, jobs._parsed(jobs._pages(spark, inp))).cache()
    assert oracle.compare(jobs.transform_job(spark, inp), want) == []
    url = out.filter(F.col("covered")).first()["url"]
    assert oracle.compare(oracle.digest(_flip_one_byte(out, url), geo=True), want)
    assert oracle.compare(
        oracle.digest(out.filter(F.col("url") != url), geo=True), want)
    shifted = out.withColumn("z_out", F.when(F.col("url") == url, F.col("z_out") + 0.001)
                             .otherwise(F.col("z_out")))
    assert oracle.compare(oracle.digest(shifted, geo=True), want)


def test_curate_resume_checks_fire_on_corruption(spark, tmp_path):
    inp = gen.ensure(str(tmp_path), "curate", 22, 4000, n_files=2)
    want_geo = inp["expected"]["transform"]
    want_cur = inp["expected"]["curate"]
    out_dir = str(tmp_path / "ckpt")
    work = str(tmp_path / "work")
    assert jobs.checkpoint_call(spark, inp, out_dir,
                                fail_after=jobs.CKPT_FAIL_AFTER) == -1
    assert jobs.checkpoint_call(spark, inp, out_dir) == (
        jobs.CKPT_BUCKETS - jobs.CKPT_FAIL_AFTER)
    assert oracle.check_checkpoint(jobs.checkpoint_stats(spark, out_dir), want_geo) == []
    assert oracle.check_curate(jobs.curate_tail(spark, inp, out_dir, work), want_cur) == []

    back = jobs._readback(spark, os.path.join(work, "curated")).cache()
    url = back.first()["url"]
    assert oracle.check_curate(oracle.digest(_flip_one_byte(back, url), geo=False), want_cur)
    assert oracle.check_curate(
        oracle.digest(back.filter(F.col("url") != url), geo=False), want_cur)
    assert "empty output" in oracle.check_curate({"rows": 0}, want_cur)[-1]

    from vyperdatum_spark.engine import checkpoint as ckpt

    output = ckpt.read_output(spark, out_dir).cache()
    metrics = ckpt.read_metrics(spark, out_dir, jobs.RUN_ID)
    dropped = oracle.checkpoint_stats(output.filter(F.col("url") != url), metrics)
    assert any("rows" in b for b in oracle.check_checkpoint(dropped, want_geo))
    twice = oracle.checkpoint_stats(output.unionByName(output.limit(1)), metrics)
    assert any(b.startswith("keys") for b in oracle.check_checkpoint(twice, want_geo))


def test_leaf_check_fires_on_a_dropped_row(spark, tmp_path):
    leaves = jobs.leaf_suite()
    inp = gen.ensure(str(tmp_path), "sf", 23, 300, leaves=leaves)
    want = inp["expected"]["leaf_rows"]
    assert set(want) == set(leaves) and all(want.values())
    got = jobs.leaf_pass(spark, inp["dir"], leaves)
    assert oracle.compare(got, want) == []
    dropped = dict(got, **{leaves[0]: got[leaves[0]] - 1})
    assert oracle.compare(dropped, want)


# ----------------------------------------------------------- the command
def _bench_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]},
            [w["name"] for w in spec["workloads"]])


def test_benchmark_json_matches_the_command():
    e2e, layer, workloads = _bench_units()
    assert e2e == run.END_TO_END
    assert layer == run.per_layer()
    assert sorted(workloads) == sorted(run.WORKLOADS)


TINY = ("import sys; sys.path.insert(0, '.'); from perfbench import run; "
        "run.WORKLOADS = {k: dict(v, rows=300 if v['kind'] == 'sf' else 3000) "
        "for k, v in run.WORKLOADS.items()}; run.WARM_ROWS = 500; "
        "sys.exit(run.main(sys.argv[1:]))")


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    p = subprocess.run(
        [sys.executable, "-c", TINY, "--workload", workload, "--seed", "31",
         "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, record = json.loads(lines[-1]), json.loads(lines[-2])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    e2e, layer, _ = _bench_units()
    want = layer if trace else e2e
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        for name in ("failed_frac", *e2e):
            assert record["metrics"][name]["n"] >= 1
        assert record["metrics"]["setup_s"]["n"] == 1
    assert record["host"]["nproc"] and record["host"]["bench_py_sha256"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pages_transform",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0 and p.stdout == ""
