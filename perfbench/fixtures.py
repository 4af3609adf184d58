"""Benchmark inputs, generated from ``crawlfe.synth`` at the run's seed.

Each workload's inputs are parquet tables in one fixture directory,
cached under the benchmark's work directory. The cache key holds the
workload, the scale, the seed and a digest of the ``crawlfe`` sources,
and the fixture carries a fingerprint (row counts, html bytes, and an
order-independent ``bit_xor(xxhash64(...))`` per table). Set-up
recomputes the fingerprint from the files and regenerates on any
mismatch, so two commits that print the same fingerprint read
identical inputs.

Expected outputs are derived here too, once per fixture, with pandas
and pyarrow: the page text comes from the frozen reference extractor
``extract_text_reference`` (not ``extract_text``, which the passes time,
and which the generator's own ``text`` column and ``oracle_features``
both call), and the windows and as-of from ``crawlfe.oracle``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import zlib
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlfe.extract import extract_text_reference
from crawlfe.oracle import oracle_asof, oracle_lag_lead, oracle_sessionize
from crawlfe.synth import SynthConfig, gen_pages_pdf

SAMPLE_URLS = 12  # urls in the oracle-parity sample

# Generator settings per workload and scale. "full" is what a run
# times; "tiny" (about sf0.001) is for the self-test.
# n_urls urls are generated, the first pages/tile of their pages kept,
# and each is repeated under "tile" distinct keys (url + "#t<j>"): the
# engine does the same work per row whether or not two rows share html,
# and generation costs a fraction of a pass. A url has a random number
# of pages, so n_urls leaves a margin of five standard deviations and
# every seed gets exactly "pages" pages. "files" is each table's file
# count; the scan splits them as the engine's own file settings say.
SCALES = {
    "flagship": {
        "full": {"n_urls": 580, "pages": 25_600, "tile": 8, "files": 8},
        "tiny": {"n_urls": 120, "pages": 2_400, "tile": 4, "files": 4},
    },
    "incremental_commit": {
        "full": {"n_urls": 350, "pages": 15_200, "tile": 8,
                 "attr_frac": 0.85, "n_snapshots": 4, "files": 4},
        "tiny": {"n_urls": 120, "pages": 2_400, "tile": 4,
                 "attr_frac": 0.85, "n_snapshots": 2, "files": 4},
    },
}

# output columns the oracle can reproduce exactly (feat is checked by
# allclose parity on the url sample instead)
CORE_COLS = [
    "url", "join_ts", "warc_ts", "text_sha256",
    "lag_gap_s", "lead_gap_s", "session_id",
]
_CORE_SCHEMA = (
    "url string, join_ts timestamp_ntz, warc_ts timestamp_ntz, "
    "text_sha256 string, lag_gap_s double, lead_gap_s double, "
    "session_id bigint"
)


def xxh(*cols) -> F.Column:
    """Order-independent checksum of a set of rows."""
    return F.bit_xor(F.xxhash64(*cols))


def core_checksum(df: DataFrame) -> F.Column:
    """Checksum of the as-of output columns listed in CORE_COLS; NaN and
    null gaps hash alike, so pandas and Spark outputs compare."""
    cols = [
        F.when(~F.isnan(df[c]), df[c]) if c.endswith("_gap_s") else df[c]
        for c in CORE_COLS
    ]
    return xxh(*cols)


def source_digest(root: str) -> str:
    """Digest of the crawlfe sources and of this file: a changed
    generator, extractor, oracle or expected-value derivation never
    reuses a cached fixture."""
    h = hashlib.sha256()
    paths = glob.glob(os.path.join(root, "crawlfe", "**", "*.py"), recursive=True)
    for path in sorted(paths + [os.path.abspath(__file__)]):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


@dataclass
class Fixture:
    dir: str
    workload: str
    seed: int
    spec: dict
    fingerprint: dict
    expected: dict

    def path(self, table: str) -> str:
        return os.path.join(self.dir, table)

    @property
    def input_tables(self) -> dict[str, list[str]]:
        """The tables a pass reads besides the pages, by fingerprint name."""
        if self.workload == "flagship":
            return {"probes": ["probes"]}
        return {"snapshots": [f"snap-{k}"
                              for k in range(self.spec["n_snapshots"])]}

    @property
    def pages(self) -> int:
        return self.fingerprint["pages"]


def ensure(spark: SparkSession, work: str, workload: str, scale: str,
           seed: int, digest: str) -> Fixture:
    """The cached fixture if its fingerprint still matches the files on
    disk, else a freshly generated one."""
    spec = SCALES[workload][scale]
    d = os.path.join(work, "fixtures", f"{workload}-{scale}-s{seed}-{digest}")
    meta = os.path.join(d, "fixture.json")
    if os.path.exists(meta):
        with open(meta) as f:
            fx = Fixture(dir=d, **json.load(f))
        if fx.spec == spec and fingerprint(spark, fx) == fx.fingerprint:
            return fx
    shutil.rmtree(d, ignore_errors=True)
    return _generate(spark, d, workload, spec, seed)


def fingerprint(spark: SparkSession, fx: Fixture) -> dict:
    """Seed, generator settings, counts, html bytes and per-table hashes,
    recomputed from the fixture's files."""
    pages = spark.read.parquet(fx.path("pages"))
    n, html, h = pages.agg(
        F.count(F.lit(1)), F.sum(F.length("html")), xxh(*pages.columns)
    ).first()
    out = {
        "seed": fx.seed,
        "n_urls": fx.spec["n_urls"],
        "tile": fx.spec["tile"],
        "attr_frac": fx.spec.get("attr_frac", 0.0),
        "pages": n,
        "html_bytes": html,
        "hashes": {"pages": str(h)},
    }
    for name, tables in fx.input_tables.items():
        df = spark.read.parquet(*[fx.path(t) for t in tables])
        n, h = df.agg(F.count(F.lit(1)), xxh(*df.columns)).first()
        out[f"rows.{name}"] = n
        out["hashes"][name] = str(h)
    out["probes"] = out.get("rows.probes", 0)
    out["inputs_hash"] = hashlib.sha256(
        json.dumps(out["hashes"], sort_keys=True).encode()).hexdigest()[:16]
    return out


_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
_PROBES_ARROW = pa.schema([("url", pa.string()), ("join_ts", pa.timestamp("us"))])


def _generate(spark, d: str, workload: str, spec: dict, seed: int) -> Fixture:
    """Generate with the pure ``gen_pages_pdf`` (what ``synth_pages`` runs
    in each Spark task) and write with pyarrow: the inputs are the same,
    and a run does not start Python workers just to make them."""
    os.makedirs(d)
    fx = Fixture(dir=d, workload=workload, seed=seed, spec=spec,
                 fingerprint={}, expected={})
    cfg = SynthConfig(seed=seed, n_urls=spec["n_urls"],
                      attr_frac=spec.get("attr_frac", 0.0))
    files = spec["files"]
    per_tile = spec["pages"] // spec["tile"]
    pages = gen_pages_pdf(cfg, 0, spec["n_urls"])
    if len(pages) < per_tile:
        raise RuntimeError(f"seed {seed}: {len(pages)} pages from "
                           f"{spec['n_urls']} urls, {per_tile} needed")
    pages = _tile(pages.iloc[:per_tile], spec["tile"])
    _write(pages, fx.path("pages"), files, _PAGES_ARROW)
    if workload == "flagship":
        probes = pd.DataFrame({
            "url": pages["url"],
            "join_ts": pages["warc_ts"] + pd.Timedelta(hours=1),
        })
        _write(probes, fx.path("probes"), files, _PROBES_ARROW)
    else:
        n = spec["n_snapshots"]
        part = pages["url"].map(lambda u: zlib.crc32(u.encode()) % n)
        for k in range(n):
            _write(pages[part == k], fx.path(f"snap-{k}"), files, _PAGES_ARROW)
    fx.expected = _expected(spark, fx)
    fx.fingerprint = fingerprint(spark, fx)
    with open(os.path.join(d, "fixture.json"), "w") as f:
        json.dump({k: getattr(fx, k) for k in (
            "workload", "seed", "spec", "fingerprint", "expected")}, f)
    return fx


def _tile(pdf: pd.DataFrame, tile: int) -> pd.DataFrame:
    """Every row once per tile, the url suffixed with "#t<j>"."""
    return pd.concat(
        [pdf.assign(url=pdf["url"] + f"#t{j}") for j in range(tile)],
        ignore_index=True)


def _write(pdf: pd.DataFrame, path: str, files: int, schema=None) -> None:
    """``pdf`` as ``files`` parquet files of consecutive rows."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    step = -(-len(pdf) // files)
    for j in range(files):
        pq.write_table(table.slice(j * step, step),
                       os.path.join(path, f"part-{j:05d}.parquet"))


def read_pdf(path: str, columns: list[str], urls=None) -> pd.DataFrame:
    """A fixture table (or its rows for ``urls``) as pandas, read with
    pyarrow so the expected values never pass through Spark."""
    filters = [("url", "in", list(urls))] if urls is not None else None
    pdf = pq.read_table(path, columns=columns, filters=filters).to_pandas()
    if "warc_ts" in pdf:
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    if "join_ts" in pdf:
        pdf["join_ts"] = pdf["join_ts"].astype("datetime64[us]")
    return pdf


def oracle_pipeline(build: pd.DataFrame, probes: pd.DataFrame,
                    extra_cols: list[str] = ()) -> pd.DataFrame:
    """``feature_pipeline`` re-derived from the pandas oracles: lag/lead
    and session windows over the build table, then a backward as-of."""
    enriched = oracle_sessionize(oracle_lag_lead(build))
    return oracle_asof(
        probes, enriched,
        build_cols=["text_sha256", *extra_cols,
                    "lag_gap_s", "lead_gap_s", "session_id"],
    )


def _sample(urls: pd.Series) -> list[str]:
    """Deterministic, evenly spaced url sample for the oracle parity."""
    urls = sorted(urls.unique())
    return urls[::max(1, len(urls) // SAMPLE_URLS)][:SAMPLE_URLS]


def _golden_sha256(pages: pd.DataFrame) -> pd.DataFrame:
    """url, warc_ts and the sha256 of the text the reference extractor
    gives for each page's html. Tiled pages share their html, so each
    distinct document is parsed once."""
    memo: dict = {}

    def sha(html):
        key = None if html is None else bytes(html)
        if key not in memo:
            memo[key] = hashlib.sha256(
                extract_text_reference(key).encode("utf-8")).hexdigest()
        return memo[key]

    return pd.DataFrame({"url": pages["url"], "warc_ts": pages["warc_ts"],
                         "text_sha256": [sha(h) for h in pages["html"]]})


def _expected(spark: SparkSession, fx: Fixture) -> dict:
    build = _golden_sha256(read_pdf(fx.path("pages"), ["url", "warc_ts", "html"]))
    sample = _sample(build["url"])
    if fx.workload == "incremental_commit":
        gdf = spark.createDataFrame(
            build, schema="url string, warc_ts timestamp_ntz, text_sha256 string")
        h = gdf.agg(xxh("url", "warc_ts", "text_sha256")).first()[0]
        return {"rows": len(build), "checksum": str(h),
                "snapshots": fx.spec["n_snapshots"], "sample_urls": sample}
    probes = read_pdf(fx.path("probes"), ["url", "join_ts"])
    out = oracle_pipeline(build, probes)[CORE_COLS].astype(
        {"session_id": "Int64"})
    out["text_sha256"] = out["text_sha256"].where(out["text_sha256"].notna(), None)
    sdf = spark.createDataFrame(out, schema=_CORE_SCHEMA)
    h = sdf.agg(core_checksum(sdf)).first()[0]
    return {
        "rows": len(out),
        "matched": int((out["warc_ts"].notna()).sum()),
        "checksum": str(h),
        "sample_urls": sample,
    }
