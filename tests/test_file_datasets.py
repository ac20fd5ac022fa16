"""Sharded export layout + text-format round-trips (sources/files.py)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from kstreamjs_spark.sources import files
from kstreamjs_spark.tables import load


def _data_files(root: str, pattern: str) -> list[str]:
    return [
        p for p in glob.glob(os.path.join(root, pattern), recursive=True)
        if os.path.basename(p)[0] not in "._" and not p.endswith(".crc")
    ]


def test_write_sharded_layout_and_roundtrip(spark, sf_smoke, tmp_path):
    (docs,) = load(spark, sf_smoke, "documents")
    out = str(tmp_path / "corpus")
    files.write_sharded(docs, out, partition_by=["lang"], shards=3,
                        key="doc_id")

    langs = {r[0] for r in docs.select("lang").distinct().collect()}
    for lang in langs:
        part_files = _data_files(out, f"lang={lang}/*.parquet")
        # exactly the pinned shard count per partition directory (a shard
        # may be empty only if the hash left a bucket unhit — never more)
        assert 1 <= len(part_files) <= 3, (lang, part_files)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # partition column survives the Hive layout; content round-trips
    a = sorted(r["doc_id"] for r in back.filter(F.col("lang") == "en").collect())
    b = sorted(r["doc_id"] for r in docs.filter(F.col("lang") == "en").collect())
    assert a == b


def test_partition_pruning_on_sharded_output(spark, sf_smoke, tmp_path):
    """The point of partitionBy: a per-lang read lists only that directory."""
    (docs,) = load(spark, sf_smoke, "documents")
    out = str(tmp_path / "pruned")
    files.write_sharded(docs, out, partition_by=["lang"], shards=2,
                        key="doc_id")
    plan = (
        spark.read.parquet(out).filter(F.col("lang") == "fr")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_jsonl_roundtrip(spark, sf_smoke, tmp_path):
    (docs,) = load(spark, sf_smoke, "documents")
    out = str(tmp_path / "docs_jsonl")
    files.write_jsonl(docs, out, shards=2, compression="gzip")
    assert _data_files(out, "*.json.gz")
    back = files.read_jsonl(spark, out, docs.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_csv_roundtrip_with_schema(spark, sf_smoke, tmp_path):
    (nation,) = load(spark, sf_smoke, "nation")
    out = str(tmp_path / "nation_csv")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    back = files.read_csv(spark, out, nation.schema)
    assert back.schema == nation.schema  # pinned, not inferred
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


# ---------------------------------------- custom Python Data Source
@pytest.mark.slow
def test_docgen_datasource_reads_and_is_deterministic(spark):
    """The docgen custom DataSource (Spark 4 Python DataSource API):
    schema-stable, partition-parallel, and bit-reproducible for a fixed
    seed — including when only a SUBSET of partitions is read (the
    retry/speculation safety property)."""
    from kstreamjs_spark.sources import docgen

    docgen.register(spark)
    df = (
        spark.read.format("docgen")
        .option("partitions", 3)
        .option("rows_per_partition", 50)
        .option("seed", 5)
        .load()
    )
    assert df.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    rows = df.collect()
    assert len(rows) == 150
    assert len({r["doc_id"] for r in rows}) == 150  # globally unique ids
    again = (
        spark.read.format("docgen")
        .option("partitions", 3)
        .option("rows_per_partition", 50)
        .option("seed", 5)
        .load()
        .collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_docgen_plants_exact_duplicates(spark):
    """dup_fraction plants exact duplicates the dedup operators can find."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.sources import docgen

    docgen.register(spark)
    df = (
        spark.read.format("docgen")
        .option("partitions", 2)
        .option("rows_per_partition", 200)
        .option("seed", 1)
        .option("dup_fraction", 0.2)
        .load()
    )
    n = df.count()
    n_distinct = df.select("text").distinct().count()
    assert n_distinct < n  # duplicates exist
    # and the exact-dedup operator removes exactly the text-dup surplus
    from kstreamjs_spark.operators import dedup

    assert dedup.exact_dedup(df, ["text"]).count() == n_distinct


def test_docgen_stream_equals_batch(spark, tmp_path):
    """The docgen streaming reader (Spark 4 Python streaming DataSource):
    N micro-batches of rows_per_batch rows, offsets as {"batch": k}
    dicts — and because rows are pure functions of (seed, batch, row),
    the streamed multiset equals the batch read of the same
    (partitions=max_batches, rows, seed) exactly: the same batch<->stream
    equivalence contract the parquet replay harness provides."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.sources import docgen

    docgen.register(spark)
    sdf = (
        spark.readStream.format("docgen")
        .option("rows_per_batch", 40)
        .option("max_batches", 3)
        .option("seed", 9)
        .load()
    )
    agg = sdf.select("doc_id", "text")
    q = (
        agg.writeStream.format("memory")
        .queryName("dg_eq")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = sorted(
        map(tuple, spark.sql("SELECT doc_id, text FROM dg_eq").collect())
    )
    batch = sorted(
        map(
            tuple,
            spark.read.format("docgen")
            .option("partitions", 3)
            .option("rows_per_partition", 40)
            .option("seed", 9)
            .load()
            .select("doc_id", "text")
            .collect(),
        )
    )
    assert streamed == batch and len(streamed) == 120
