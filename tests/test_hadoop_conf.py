"""The Hadoop configuration of ``get_spark`` sessions keeps every key and
value but no property sources, through stream and batch writes, so each
conf a query ships is smaller. A session configured only through
``configure_runtime`` keeps its sources. Every input is generated here,
so no parquet fixtures are needed."""

from __future__ import annotations

from kstreamjs_spark.session import hadoop_conf_bytes

from .test_checkpoint_io import drain, parts, write_part
from .test_local_fs import REPO, run_driver

SPOT = {
    "fs.defaultFS": "file:///",
    "mapreduce.fileoutputcommitter.algorithm.version": "1",
    "fs.file.impl": "kstreamjs_spark.jvm.NioLocalFileSystem",
}


def fresh_conf(spark):
    """The Hadoop conf Spark builds for a new context from this session's
    SparkConf, sources and all."""
    util = getattr(spark._jvm.org.apache.spark.deploy, "SparkHadoopUtil$").__getattr__("MODULE$")
    conf = util.newConfiguration(spark._jsc.sc().conf())
    conf.size()  # load the default resources
    return conf


def test_session_conf_ships_without_sources(spark, tmp_path):
    hc = spark._jsc.hadoopConfiguration()
    fresh = fresh_conf(spark)
    assert fresh.getPropertySources("fs.defaultFS") is not None
    for key, value in SPOT.items():
        assert hc.get(key) == fresh.get(key) == value, key

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    write_part(src, 0, parts()[0])
    drain(spark, src, ckpt, str(tmp_path / "out"))
    batch = str(tmp_path / "batch")
    spark.range(10).write.parquet(batch)
    assert spark.read.parquet(batch).count() == 10

    for conf in (hc, spark._jsparkSession.sessionState().newHadoopConf()):
        assert conf.getPropertySources("fs.defaultFS") is None
        for key, value in SPOT.items():
            assert conf.get(key) == value, key
    assert hadoop_conf_bytes(spark) < 0.8 * hadoop_conf_bytes(spark, fresh)


def test_configure_runtime_keeps_sources_and_get_spark_keeps_values(tmp_path):
    """One JVM: a plain session configured through ``configure_runtime``
    keeps its sources; ``get_spark`` on it then drops them and leaves
    the same key->value map."""
    run_driver(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from kstreamjs_spark.session import configure_runtime, get_spark

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        configure_runtime(spark)
        hc = spark._jsc.hadoopConfiguration()
        before = dict(hc.getValByRegex(".*"))
        assert len(before) == hc.size() > 1000, len(before)
        assert list(hc.getPropertySources("fs.defaultFS")) == ["core-default.xml"]

        get_spark("hadoop-conf-plain", cpus=1)
        assert hc.getPropertySources("fs.defaultFS") is None
        assert dict(hc.getValByRegex(".*")) == before
        assert hc.size() == len(before)
        spark.stop()
    """, cwd=tmp_path)
