"""Table IO: the fixture scan and the postings sink (SURVEY.md §2.A).

Helpers: `read_fixture` scans a driver fixture table with a size-gated
rebalance (the registry reads every fixture through it);
`write_postings_shards` lays postings out one single-row-group file per
shard (index.publish_index writes through it) and `check_shard_layout`
is the writer's and the reader's check of that layout. Every other table is read and written
as plain Parquet by the module that owns it.

BASELINE.json:15 names Iceberg tables; no Iceberg jars exist offline
(SURVEY.md §0), so every table is Parquet. An Iceberg layer belongs with the
jars, in the readers and writers of every index table at once.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession


# Files below this size get a round-robin rebalance after the scan. The
# driver fixtures are single-file, single-ROW-GROUP parquet, so Spark plans
# exactly one non-empty scan task however small the byte splits are — every
# scan-attached codegen/Arrow stage then runs on 1 of N cores. One exchange
# of a few MB buys full parallelism; at production input sizes (>= many row
# groups) the gate never fires and plans are byte-identical to before.
_REBALANCE_MAX_BYTES = 256 << 20
# Lower gate: leave sub-2MB files alone. Rebalancing changes the order in
# which float partial aggregates combine, which can flip a round(x, 4) at a
# .00005 boundary — the correctness scale factors (sf0.001/sf0.01/sf0.1,
# all files < 2 MB) must scan EXACTLY as before so Spark-vs-DuckDB parity
# is bit-stable; at bench scale only throughput matters. A constant, so the
# parity gate cannot be bypassed from the environment.
_REBALANCE_MIN_BYTES = 2 << 20
_REBALANCE_ROW_BYTES = 64 << 10  # ~64 KB of file per partition
# Only tables whose downstream work is CPU-heavy PER ROW (text analysis
# UDFs, shingle explodes, vector math) gain from the rebalance exchange.
# For pure columnar scan+aggregate tables (lineitem/orders/events) the
# round-robin exchange of the full payload costs more than the extra
# parallelism buys — measured: agg_date_histogram 0.5->1.8s when events was
# rebalanced.
_REBALANCE_TABLES = frozenset({"documents", "embeddings"})


def read_fixture(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    """A6: driver-generated fixture table (TESTDATA.md:14-15).

    rebalance=True (default): single-row-group files smaller than
    _REBALANCE_MAX_BYTES are round-robin repartitioned to min(size/64KB,
    2x defaultParallelism) so per-row compute uses the whole machine; the
    deterministic sort-before-repartition (SPARK-23207) keeps retries safe.
    Callers that must stay scan-only can pass rebalance=False."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if not rebalance or name not in _REBALANCE_TABLES:
        return df
    try:
        size = os.path.getsize(path)
    except OSError:  # directory table / remote path — leave the scan alone
        return df
    if size >= _REBALANCE_MAX_BYTES or size < _REBALANCE_MIN_BYTES:
        return df
    # Cap at 1x defaultParallelism: Python-stage tasks carry a fixed
    # per-task handshake cost, so one wave of core-count tasks beats two
    # (A/B at sf1.0, 50k docs: 24-32 parts 0.38-0.40 s vs 64 parts 0.55 s
    # for the corpus analyzer pass).
    target = min(
        max(size // _REBALANCE_ROW_BYTES, 1),
        spark.sparkContext.defaultParallelism,
    )
    if target <= 1:
        return df
    return df.repartition(int(target))


# A shard's row-group ceiling. Parquet sizes a row group compressed and
# holds it in memory while writing. On Zipf text (s = 1.07, 50k words) of
# 1,000 tokens (~500 distinct terms) per doc a one-shard build took 948
# bytes per doc at 4,000 docs and 775 at 16,000, so the default 2^20 docs
# per shard reach ~0.8 GB; pages up to ~1,300 tokens fit (scaled linearly).
SHARD_ROW_GROUP_BYTES = 1 << 30

# The write format of every index table (postings, term_dict, doc_stats):
# Parquet's v2 writer, whose non-dictionary fallbacks are the delta
# encodings [public: Parquet encodings spec], so the sorted key columns
# shrink: postings `tid` and doc_stats `doc_id` are DELTA_BINARY_PACKED,
# term_dict `term` DELTA_BYTE_ARRAY (prefix-shared, as Lucene's terms dict).
PARQUET_V2 = ("parquet.writer.version", "PARQUET_2_0")


def write_postings_shards(postings: DataFrame, path: str, mode: str = "overwrite"):
    """A3: segment sink — `postings/shard=<s>/` is ONE Parquet file of ONE
    row group (up to SHARD_ROW_GROUP_BYTES) sorted by (tid, part), `bucket`
    a data column: an ES shard / Lucene segment [public] per file. A Parquet
    split reads a row group only when the group's midpoint falls inside it,
    so a shard is never cut across scan tasks and the searcher scores it in
    the scan stage. The cost: row-group min/max no longer prunes `tid`
    inside a shard; at web scale that pruning is left to Parquet page
    indexes."""
    (
        postings.repartition("shard").sortWithinPartitions("shard", "tid", "part")
        .write.mode(mode)
        .option("parquet.block.size", SHARD_ROW_GROUP_BYTES)
        .option(*PARQUET_V2)
        .option("maxRecordsPerFile", 0)
        .partitionBy("shard")
        .parquet(path)
    )


def check_shard_layout(table: str, one_file: bool = True) -> None:
    """Raise unless every data entry of `table` (an index's postings/ or
    tombstones/ dir) is a `shard=<s>/` dir and, with one_file (postings),
    holds one Parquet file of one row group: the writer refuses to publish,
    and a reader to open, any other layout rather than answer wrongly."""
    import pyarrow.parquet as pq

    for sub in glob.glob(os.path.join(table, "[!_]*")):
        files = glob.glob(os.path.join(sub, "[!_]*"))
        ok = not one_file or (len(files) == 1 and pq.ParquetFile(files[0]).num_row_groups == 1)
        if not (os.path.basename(sub).startswith("shard=") and os.path.isdir(sub) and ok):
            raise ValueError(f"{sub}: not in the layout of io.write_postings_shards")
