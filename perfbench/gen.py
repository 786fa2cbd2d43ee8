"""Seeded input generators for the benchmark, cached on disk.

Every input is a pure function of (GEN_VERSION, kind, seed, rows): the
cache directory name carries all four, so a changed generator or size
never reuses stale files. A cache entry is complete only once its
``meta.json`` exists; entries are built in a temporary directory and
renamed into place.

Pages follow the engine's fixture distribution (20% at one hot
coordinate, 10% without a mention, 5% malformed mention, the rest
uniform over a box whose tail lies outside every region). Every row has
a unique url. The ``curate`` kind adds planted exact duplicates and
pages quoting a held-out eval set whose vocabulary is disjoint from the
corpus, so the dedup and decontamination filters each remove a known,
non-zero count.

The ``sf`` kind is a star-schema-shaped dataset for the leaf suite: one
parquet file per table the chosen leaves read (``documents`` and
``embeddings``), with the column names and
types of the repository's fixture tables. Its expected outputs are the
per-leaf row counts of the leaves' own DuckDB oracles.

The program only ever sees ``pages/`` (a snapshot table), ``eval/`` and
the ``sf`` tables.
``truth.parquet`` holds the generator's own answers (parsed x/y/z and
the planted flags); the expected output digests derived from it are kept
in ``meta.json`` for the output checks alone.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import oracle

GEN_VERSION = "g4"
CACHE_DIR = ".perfbench_cache"
FAMOUS = (-76.7512345, 34.7512345)
LANGS = np.array(["en", "es", "de", "fr"])
# sampler spec the pages_curate oracle applies (textstats defaults)
SAMPLE_SEED = "s42"
SAMPLE_RATES = {"en": 0.5, "de": 0.25}
DUP_FRAC = 0.20
CONTAM_FRAC = 0.02
EVAL_DOCS = 200
EVAL_WORDS = 12


def _fmt(fmt: str, v: np.ndarray) -> np.ndarray:
    return np.char.mod(fmt, v).astype(object)


def pages_frame(n: int, seed: int, dup_frac: float = 0.0,
                contam_frac: float = 0.0):
    """(pages, truth, eval_docs) as pandas frames.

    pages: url, warc_ts, text, lang — what the program reads.
    truth: url, x, y, z (parsed as the text states them, null on a
    miss), dup_of (row index whose text this row copies, -1 if none),
    contam (quotes an eval doc).
    eval_docs: url, text of the held-out set (empty unless contam_frac).
    """
    rng = np.random.default_rng([seed, n])
    k = np.arange(n, dtype=np.int64)
    url = np.char.add(f"https://bench.test/s{seed}/p", np.char.zfill(k.astype(str), 9))
    warc_ts = pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(k, unit="s")
    lang = LANGS[rng.integers(0, 4, n)]

    lon = rng.uniform(-78.0, -74.0, n)
    lat = rng.uniform(33.0, 36.0, n)
    z = rng.uniform(-20.0, 20.0, n)
    kind = rng.uniform(0.0, 1.0, n)
    famous = kind < 0.20
    lon[famous], lat[famous] = FAMOUS
    normal = kind < 0.85
    miss = (kind >= 0.85) & (kind < 0.95)

    lat_s, z_s = _fmt("%.5f", lat), _fmt("%.2f", z)
    lon_s = _fmt("%.5f", np.abs(lon))
    tie = _rounding_ties("-" + lon_s, lat_s, z_s)
    while tie.any():
        lon[tie] -= 1e-5
        lon_s[tie] = _fmt("%.5f", np.abs(lon[tie]))
        tie[tie] = _rounding_ties("-" + lon_s[tie], lat_s[tie], z_s[tie])
    ks = k.astype(str).astype(object)
    text = np.where(
        normal,
        "Survey report " + ks + ": the station is located at " + lat_s
        + "N, " + lon_s + "W, elevation " + z_s + " m above the ellipsoid.",
        np.where(miss, "Plain page " + ks + " with no coordinates whatsoever.",
                 "Broken page " + ks + ": located at " + lat_s + "X, nonsense."),
    )

    dup_of = np.full(n, -1, dtype=np.int64)
    contam = np.zeros(n, dtype=bool)
    eval_docs = pd.DataFrame({"url": pd.Series([], dtype=object),
                              "text": pd.Series([], dtype=object)})
    if contam_frac > 0:
        # eval vocabulary: "zq"-prefixed hex words, a prefix no corpus
        # token has, so only a quoted run of eval words can share a
        # shingle with the eval set
        vocab = np.array([f"zq{i:04x}" for i in range(4 * EVAL_DOCS * EVAL_WORDS)])
        words = rng.choice(vocab, size=(EVAL_DOCS, EVAL_WORDS))
        etext = np.array([" ".join(w) for w in words], dtype=object)
        eval_docs = pd.DataFrame({
            "url": [f"https://eval.test/s{seed}/e{i:05d}" for i in range(EVAL_DOCS)],
            "text": etext,
        })
        role = rng.uniform(0.0, 1.0, n)
        contam = role < contam_frac
        which = rng.integers(0, EVAL_DOCS, n)
        start = rng.integers(0, EVAL_WORDS - 4, n)
        idx = np.flatnonzero(contam)
        quotes = np.array(
            [" ".join(words[which[i], start[i]:start[i] + 4]) for i in idx],
            dtype=object)
        text[idx] = text[idx] + " Quoted: " + quotes
        # duplicates copy an earlier, clean original; originals are
        # never themselves copies, so every planted row is one removal
        is_dup = (role >= contam_frac) & (role < contam_frac + dup_frac)
        orig_pool = np.flatnonzero(~contam & ~is_dup)
        dups = np.flatnonzero(is_dup)
        # each copy picks uniformly among the clean originals before it,
        # so the min-url keeper of every text group is its original
        before = np.searchsorted(orig_pool, dups)
        dups, before = dups[before > 0], before[before > 0]
        dup_of[dups] = orig_pool[(rng.uniform(size=len(dups)) * before).astype(np.int64)]
        text[dups] = text[dup_of[dups]]
    elif dup_frac > 0:
        raise ValueError("dup_frac requires contam_frac > 0")

    # the truth: coordinates exactly as the text states them
    src = np.where(dup_of >= 0, dup_of, k)
    has = normal[src]
    x = np.where(has, -lon_s[src].astype(float), np.nan)
    y = np.where(has, lat_s[src].astype(float), np.nan)
    zz = np.where(has, z_s[src].astype(float), np.nan)
    pages = pd.DataFrame({"url": url.astype(object), "warc_ts": warc_ts,
                          "text": text, "lang": lang.astype(object)})
    truth = pd.DataFrame({"url": url.astype(object), "x": x, "y": y, "z": zz,
                          "dup_of": dup_of, "contam": contam})
    return pages, truth, eval_docs


def _rounding_ties(x_s, y_s, z_s) -> np.ndarray:
    """Rows whose exact closed-form z_out (ellipse→mllw, in decimal
    arithmetic) lies exactly on a rounding boundary of its 3 decimals.

    There the double-precision result of any evaluation order may round
    either way, so the expected value is not well defined; the generator
    moves such a point 1e-5 degree west (about 1 row in 200k)."""
    import duckdb

    from vyperdatum_spark.queries.geo import region_case_sql, z_out_case_sql

    eps = "0.0000000001"  # far below the 1e-9 resolution of exact values
    pts = pd.DataFrame({"xs": x_s, "ys": y_s, "zs": z_s})
    con = duckdb.connect()
    try:
        con.register("pts", pts)
        tie = con.execute(
            f"SELECT ({z_out_case_sql('ellipse', 'mllw', z=f'(z + {eps})')}) IS DISTINCT FROM "
            f"({z_out_case_sql('ellipse', 'mllw', z=f'(z - {eps})')}) FROM ("
            f"SELECT x, y, z, {region_case_sql()} AS region_id FROM ("
            f"SELECT CAST(xs AS DECIMAL(18, 5)) AS x, CAST(ys AS DECIMAL(18, 5)) AS y, "
            f"CAST(zs AS DECIMAL(24, 12)) AS z FROM pts))").df().iloc[:, 0]
    finally:
        con.close()
    return tie.to_numpy(dtype=bool)


def sample_keep(urls, langs) -> np.ndarray:
    """Closed form of the stratified sampler: keep iff
    int(md5(seed||url)[:15], 16) / 2^60 < rate(lang)."""
    scale = float(1 << 60)
    out = np.empty(len(urls), dtype=bool)
    for i, (u, lg) in enumerate(zip(urls, langs)):
        h = int(hashlib.md5((SAMPLE_SEED + u).encode()).hexdigest()[:15], 16)
        out[i] = h / scale < SAMPLE_RATES.get(lg, 1.0)
    return out


# the fixture tables' document vocabulary (the search ops' literal
# queries draw their terms from it)
SF_VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split())
SF_LANGS = np.array(["en", "en", "en", "es", "fr", "zh", "de"])
EMB_DIM = 64


def sf_tables(n_docs: int, seed: int) -> dict[str, pd.DataFrame]:
    """The leaf suite's tables, sized from the document count.

    documents: 10-100 vocabulary words each; 5% are an earlier
    document's text plus the word "dup". embeddings: half as many unit
    vectors with random labels, as in the fixture tables.
    """
    rng = np.random.default_rng([seed, n_docs, 7])
    n_len = rng.integers(10, 101, n_docs)
    words = rng.choice(SF_VOCAB, size=n_len.sum())
    text = np.array([" ".join(w) for w in np.split(words, np.cumsum(n_len)[:-1])],
                    dtype=object)
    near = np.flatnonzero(rng.uniform(size=n_docs) < 0.05)
    near = near[near > 0]
    text[near] = text[rng.integers(0, near)] + " dup"
    docs = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": text,
        "lang": SF_LANGS[rng.integers(0, len(SF_LANGS), n_docs)].astype(object),
        "source": np.char.add("src", (np.arange(n_docs) % 20).astype(str)).astype(object),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})

    n_emb = n_docs // 2
    v = rng.normal(size=(n_emb, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embs = pd.DataFrame({"vec_id": np.arange(n_emb, dtype=np.int64),
                         "embedding": list(v),
                         "label": rng.integers(0, 10, n_emb).astype(np.int32)})

    return {"documents": docs, "embeddings": embs}


def _write_files(df: pd.DataFrame, out_dir: str, n_files: int) -> int:
    os.makedirs(out_dir)
    total = 0
    table = pa.Table.from_pandas(df, preserve_index=False)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for f, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        p = os.path.join(out_dir, f"part-{f:05d}.parquet")
        pq.write_table(table.slice(a, b - a), p, coerce_timestamps="us")
        total += os.path.getsize(p)
    return total


def key(kind: str, seed: int, rows: int) -> str:
    return f"{GEN_VERSION}-{kind}-s{seed}-n{rows}"


def _build_sf(tmp: str, rows: int, seed: int, leaves: list[str]) -> dict:
    """Write the sf tables into ``tmp``; return the meta fields."""
    in_bytes = n_rows = 0
    for name, df in sf_tables(rows, seed).items():
        p = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), p,
                       coerce_timestamps="us")
        in_bytes += os.path.getsize(p)
        n_rows += len(df)
    return {"input_bytes": in_bytes, "input_rows": n_rows,
            "expected": {"leaf_rows": oracle.leaf_rows(tmp, leaves)}}


def _build_pages(tmp: str, kind: str, rows: int, seed: int, n_files: int) -> dict:
    """Write a pages (or curate) input into ``tmp``; return the meta fields."""
    curate = kind == "curate"
    pages, truth, eval_docs = pages_frame(
        rows, seed, dup_frac=DUP_FRAC if curate else 0.0,
        contam_frac=CONTAM_FRAC if curate else 0.0)
    in_bytes = _write_files(pages, os.path.join(tmp, "pages"), n_files)
    if curate:
        _write_files(eval_docs, os.path.join(tmp, "eval"), 1)
        truth["sample_keep"] = sample_keep(pages["url"], pages["lang"])
    truth_p = os.path.join(tmp, "truth.parquet")
    pq.write_table(pa.Table.from_pandas(truth, preserve_index=False), truth_p)
    return {"files": n_files, "input_bytes": in_bytes, "input_rows": rows,
            "n_parsed": int(truth["x"].notna().sum()),
            "n_dup": int((truth["dup_of"] >= 0).sum()),
            "n_contam": int(truth["contam"].sum()),
            "expected": oracle.expected_digests(
                os.path.join(tmp, "pages", "*.parquet"), truth_p, curate)}


def ensure(root: str, kind: str, seed: int, rows: int, n_files: int = 16,
           leaves: list[str] | None = None) -> dict:
    """Build (once) and return the meta record of one cached input.

    kind: "pages" (transform input), "curate" (planted dups/contam) or
    "sf" (the leaf suite's tables, ``rows`` documents; ``leaves`` names
    the leaves whose oracle row counts are expected, and is part of the
    cache key). The returned dict carries the directory, input rows and
    bytes on disk, the expected outputs and, on the call that generated
    it, ``gen_s``.
    """
    from vyperdatum_spark.sources import tables

    k = key(kind, seed, rows)
    if kind == "sf":
        k += "-l" + hashlib.md5(" ".join(leaves).encode()).hexdigest()[:8]
    d = os.path.join(root, CACHE_DIR, k)
    meta_p = os.path.join(d, "meta.json")
    if os.path.exists(meta_p):
        with open(meta_p) as f:
            return json.load(f)
    t0 = time.perf_counter()
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = {"key": k, "kind": kind, "seed": seed, "rows": rows}
    if kind == "sf":
        meta.update(_build_sf(tmp, rows, seed, leaves))
    else:
        meta.update(_build_pages(tmp, kind, rows, seed, n_files))
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    if kind != "sf":
        # register the files as a snapshot table only after the rename:
        # the table layer records the files through relative links
        tables.adopt_parquet_dir(os.path.join(d, "pages"), {"generator": k})
    meta["dir"] = d
    with open(meta_p + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_p + ".tmp", meta_p)
    meta["gen_s"] = time.perf_counter() - t0
    return meta
