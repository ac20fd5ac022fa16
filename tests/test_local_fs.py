"""The ``file:`` file system of ``get_spark`` sessions
(``kstreamjs_spark/jvm/NioLocalFileSystem``): it sets permissions without
forking ``chmod``, gives the same modes, keeps Hadoop's CRC checks, matches
its Java source, and does not break a session started without its jar."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from .test_checkpoint_io import LATE_FROM, MINUTE_MS, parts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(REPO, "kstreamjs_spark", "jvm", "NioLocalFileSystem.jar")
FS_CLASS = "kstreamjs_spark.jvm.NioLocalFileSystem"
N_PARTS = 4


def run_driver(script: str, cwd, env=None) -> subprocess.CompletedProcess:
    res = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res


def expected_windows(watermark_ms: int) -> pd.DataFrame:
    """5-minute windows of the on-time rows of the first ``N_PARTS``
    parts that the watermark has closed (window end <= watermark)."""
    rows = [
        r for i, part in enumerate(parts()[:N_PARTS])
        for r in (part[:-1] if i >= LATE_FROM else part)
    ]
    pdf = pd.DataFrame(rows, columns=["m", "k", "v"])
    pdf["start"] = pdf["m"] // 5 * 5
    out = pdf.groupby(["start", "k"]).agg(n=("v", "size"), s=("v", "sum")).reset_index()
    out = out[(out["start"] + 5) * MINUTE_MS <= watermark_ms]
    return out.sort_values(["start", "k"]).reset_index(drop=True)


def test_stateful_drain_forks_no_chmod(tmp_path):
    log = tmp_path / "chmod.log"
    shim = tmp_path / "bin"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("chmod")} "$@"\n'
    )
    (shim / "chmod").chmod(0o755)
    env = dict(os.environ, PATH=f"{shim}{os.pathsep}{os.environ['PATH']}")
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))

    res = run_driver(f"""
        import json, sys
        sys.path.insert(0, {REPO!r})
        from kstreamjs_spark.session import get_spark
        from tests.test_checkpoint_io import drain, parts, sink, write_part

        spark = get_spark("local-fs-forks", cpus=2)
        for i, rows in enumerate(parts()[:{N_PARTS}]):
            write_part({src!r}, i, rows)
        q = drain(spark, {src!r}, {ckpt!r}, {out!r})
        pdf = sink(spark, {out!r})
        print(json.dumps({{
            "watermark": q.lastProgress["eventTime"]["watermark"],
            "rows": [[int(r.window_start.timestamp() * 1000) // {MINUTE_MS}, r.k, int(r.n), int(r.s)]
                     for r in pdf.itertuples()],
        }}))
        spark.stop()
    """, cwd=tmp_path, env=env)

    assert not log.exists() or log.read_text() == ""
    got = json.loads(res.stdout.strip().splitlines()[-1])
    watermark_ms = int(pd.Timestamp(got["watermark"]).timestamp() * 1000)
    want = expected_windows(watermark_ms)
    assert len(want) > 0
    assert got["rows"] == want[["start", "k", "n", "s"]].values.tolist()
    state = set(os.listdir(os.path.join(ckpt, "state", "0", "0")))
    assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= state, state


def mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def test_modes_match_hadoop_defaults(spark, tmp_path):
    out = tmp_path / "p"
    spark.range(3).coalesce(1).write.parquet(str(out))
    for d, dirs, files in os.walk(out):
        assert mode(d) == 0o755, d
        for f in files:
            assert mode(os.path.join(d, f)) == 0o644, f

    fs = local_fs(spark)
    assert fs.getClass().getName() == FS_CLASS
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    f, d = tmp_path / "f", tmp_path / "d"
    f.write_text("x")
    d.mkdir()
    for path, symbolic, want in (
        (f, "-rw-------", 0o600),
        (d, "drwxr-x---", 0o750),
        (d, "drwxrwxrwt", 0o1777),
    ):
        fs.setPermission(hpath(str(path)), perm.valueOf(symbolic))
        assert mode(path) == want, (path, symbolic, oct(mode(path)))


def test_flipped_byte_fails_checksum(spark, tmp_path):
    out = tmp_path / "p"
    spark.range(1000).coalesce(1).write.parquet(str(out))
    (part,) = [p for p in out.iterdir() if p.name.endswith(".parquet")]
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0xFF
    part.write_bytes(bytes(data))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(str(out)).collect()


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs a JDK")
def test_committed_jar_matches_source(tmp_path):
    rebuilt = tmp_path / "rebuilt.jar"
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "build_localfs_jar.py"), str(rebuilt)],
        check=True, timeout=300,
    )

    def classes(jar):
        with zipfile.ZipFile(jar) as z:
            return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}

    committed = classes(JAR)
    assert committed and classes(rebuilt) == committed


def test_get_spark_on_a_running_plain_session(tmp_path):
    run_driver(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from kstreamjs_spark.session import get_spark

        SparkSession.builder.master("local[2]").getOrCreate()
        spark = get_spark("local-fs-plain", cpus=2)
        out = {str(tmp_path / "p")!r}
        spark.range(5).write.parquet(out)
        assert spark.read.parquet(out).count() == 5
        spark.stop()
    """, cwd=tmp_path)
