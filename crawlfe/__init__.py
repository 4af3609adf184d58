"""crawlfe — a PySpark-native point-in-time / as-of join + windowed
feature-engineering engine over Common-Crawl-style web-page tables.

Built from scratch per SURVEY.md; the computation *shape* mirrors the
reference pipeline (batch per-entity feature extraction, then a temporal
comparison stage, then evaluation/metrics — ref: acoss/extractors.py::
batch_feature_extractor and acoss/benchmark/algorithm_template.py::
CoverAlgorithm.all_pairwise [R], see SURVEY.md §0 citation convention),
re-expressed as idiomatic Spark DataFrame + Arrow-vectorized pandas UDFs.

Layout:
    conf        SparkSession/builder configs (AQE, Arrow, shuffle sizing)
    hashing     splitmix64-style stable hashing (scalar + numpy vectorized)
                and Spark's xxhash64 over Arrow columns, in numpy
    extract     FROZEN pure-function html -> text extractor (byte-identical)
    textfeat    numpy featurizers shared verbatim by Spark UDFs and oracle
    synth       deterministic synthetic pages generator (distributed + pandas)
    features    Spark featurize stage: one mapInArrow; on commit, each task's
                lineage row built in flight into an accumulator
    _zipcache   worker-side guard: re-read a zip directory only when the
                archive changed (Python < 3.12)
    asof        as-of join: one JVM struct-carry window kernel over
                hash clustering (union_window, the default) or
                repartitionByRange + sortWithinPartitions (range_scan);
                lag/lead and sessions on the same spine; salted hot keys
    windows     lag/lead, rolling, rank, cumsum, sessionize, backfill
    io          iceberg-lite parquet table: staged atomic commit + manifest
    pipeline    end-to-end featurize job with checkpoint/resume
    clean       corpus-cleaning funnel (dedup, length, quality filters)
    fingerprint winnowing document fingerprints
    media       binary media columns with typed metadata
    warclite    WARC-style record container + Spark Python DataSource
    pagestream  streaming Python data source replaying crawl snapshots
    streaming   event-time windowing + incremental featurization
    oracle      single-node pandas/DuckDB oracles for parity tests
    queries     driver query registry (SURVEY.md §2.B keys with DuckDB
                oracle twins) behind __spark_entry__.queries()
"""

__version__ = "0.1.0"

from ._zipcache import install as _install_zipcache

# every crawlfe UDF unpickles crawlfe.* in the Python worker, so this
# runs in the first task of each reused worker
_install_zipcache()
