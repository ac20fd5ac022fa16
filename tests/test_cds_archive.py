"""``get_spark``'s class-data-sharing archive (``kstreamjs_spark/cds.py``):
the first session trains it, the next validates and promotes it, later
sessions load Spark's classes from it, a truncated archive is deleted
rather than mapped, and a caller's ``-Xshare`` wins. Each session is a
driver subprocess with ``XDG_CACHE_HOME`` in a tmp dir; the checks that
need no JVM call ``cds`` directly."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pytest

from kstreamjs_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(cds.java_home() or "", "lib", "server", "classes.jsa")),
    reason="the JDK has no base CDS archive (lib/server/classes.jsa)",
)

DRIVER = """
    import sys
    sys.path.insert(0, {repo!r})
    from kstreamjs_spark.session import get_spark

    conf = {{"spark.driver.memory": "1g"}}
    if {java_options!r}:
        conf["spark.driver.extraJavaOptions"] = {java_options!r}
    spark = get_spark("cds-test", cpus=2, extra_conf=conf)
    facts = spark.range(20000).selectExpr("id % 97 AS k", "id AS v")
    dims = spark.range(97).selectExpr("id AS k", "id * 2 AS w")
    facts.write.mode("overwrite").parquet("facts")
    facts = spark.read.parquet("facts")
    facts.createOrReplaceTempView("facts")
    ranked = spark.sql("SELECT k, v, rank() OVER (PARTITION BY k ORDER BY v DESC) AS r FROM facts")
    rows = (
        ranked.where("r = 1").groupBy("k").agg({{"v": "max"}})
        .join(dims, "k").orderBy("k").collect()
    )
    assert len(rows) == 97 and rows[1]["w"] == 2, rows[:2]
    conf = spark.sparkContext.getConf()
    print("JAVA_OPTIONS=" + conf.get("spark.driver.extraJavaOptions"))
    print("CLASS_PATH=" + conf.get("spark.driver.extraClassPath"))
"""


def session(cache, java_options: str = "") -> tuple[str, list[str]]:
    """Run a driver with ``cache`` as ``XDG_CACHE_HOME``; its Java options
    and stdout lines (which include its ``CLASS_PATH=``)."""
    res = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(DRIVER.format(repo=REPO, java_options=java_options))],
        cwd=cache, env=dict(os.environ, XDG_CACHE_HOME=str(cache)),
        capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.splitlines()
    (opts,) = [line.split("=", 1)[1] for line in lines if line.startswith("JAVA_OPTIONS=")]
    return opts, lines


def archives(cache) -> list[str]:
    d = os.path.join(cache, "kstreamjs_spark", "cds")
    return sorted(f for f in os.listdir(d) if f.endswith((".jsa", ".tmp")))


def shared_spark_classes(lines: list[str]) -> int:
    return sum("org.apache.spark" in ln and "source: shared objects file" in ln for ln in lines)


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache after a first session, and after a second that logs its
    class loads: ``(cache, files after each, second's options and stdout)``."""
    cache = tmp_path_factory.mktemp("cds")
    opts, _ = session(cache)
    assert "-XX:ArchiveClassesAtExit=" in opts
    first = archives(cache)
    second = session(cache, "-Xlog:class+load")
    return cache, first, archives(cache), second


def test_first_session_trains_and_next_promotes(trained):
    _, first, second, _ = trained
    (tmp,) = first
    key, pid, ext = tmp.split(".")
    assert ext == "tmp" and int(pid) > 0
    assert second == [f"{key}.jsa"]


def test_promoted_archive_serves_spark_classes(trained):
    cache, _, (jsa,), (opts, lines) = trained
    # the caller's options stay, and the archive joins them
    path = os.path.join(cache, "kstreamjs_spark", "cds", jsa)
    assert opts.endswith(f"-Xlog:class+load -XX:SharedArchiveFile={path}")
    assert shared_spark_classes(lines) >= 5000


def test_truncated_archive_is_deleted_not_mapped(trained, tmp_path, monkeypatch):
    cache, _, (jsa,), (_, lines) = trained
    (class_path,) = [ln.split("=", 1)[1] for ln in lines if ln.startswith("CLASS_PATH=")]
    key = jsa.split(".")[0]
    d = tmp_path / "kstreamjs_spark" / "cds"
    d.mkdir(parents=True)
    os.link(os.path.join(cache, "kstreamjs_spark", "cds", jsa), d / jsa)
    size = (d / jsa).stat().st_size
    dead = subprocess.Popen(["true"])
    dead.wait()
    truncated = d / f"{key}.{dead.pid}.tmp"
    shutil.copyfile(d / jsa, truncated)
    os.truncate(truncated, size // 2)
    (d / f"{key}.claim").write_text(cds._claim_text([dead.pid]))

    # the stale claim's archive fails its check, so the session is given
    # the good one (a promoted truncated archive would kill the JVM)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert cds.jvm_options(class_path, "1g") == (f"-XX:SharedArchiveFile={d / jsa}", None)
    assert archives(tmp_path) == [jsa]
    assert (d / jsa).stat().st_size == size
    assert not (d / f"{key}.claim").exists()


def test_caller_xshare_wins(trained):
    cache, _, files, _ = trained
    opts, lines = session(cache, "-Xshare:off -Xlog:class+load")
    assert opts.endswith("-Xshare:off -Xlog:class+load")
    assert "Archive" not in opts
    assert shared_spark_classes(lines) == 0
    assert archives(cache) == files


def test_one_live_process_trains_a_key(tmp_path):
    """Eight processes (more than this host's cores) ask for the same
    class path's options at once and stay alive: exactly one trains."""
    claimer = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from kstreamjs_spark import cds
        print(cds.jvm_options({os.path.join(REPO, "kstreamjs_spark", "jvm", "*")!r}, "1g")[0], flush=True)
        sys.stdin.read()  # stay alive, and so keep any claim live
    """)
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    procs = [
        subprocess.Popen([sys.executable, "-c", claimer], env=env, text=True,
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        for _ in range(8)
    ]
    try:
        options = [p.stdout.readline() for p in procs]
    finally:
        for p in procs:
            p.stdin.close()
            p.wait(timeout=60)
    assert sum("-XX:ArchiveClassesAtExit=" in o for o in options) == 1, options
    assert sum(o.strip() == "" for o in options) == 7, options


def test_eviction_keeps_recently_used_and_live(tmp_path):
    d = tmp_path
    for i in range(6):
        (d / f"k{i}.jsa").write_bytes(b"")
        os.utime(d / f"k{i}.jsa", (1000 + i, 1000 + i))
    # an archive a live process is still writing is never evicted
    (d / "live.1.tmp").write_bytes(b"")
    os.utime(d / "live.1.tmp", (1, 1))
    (d / "live.claim").write_text(cds._claim_text([os.getpid()]))
    (d / "dead.1.tmp").write_bytes(b"")
    cds._evict(str(d))
    assert sorted(os.listdir(d)) == [
        "dead.1.tmp", "k3.jsa", "k4.jsa", "k5.jsa", "live.1.tmp", "live.claim",
    ]


def test_claim_of_a_reused_pid_is_stale(tmp_path):
    claim = tmp_path / "k.claim"
    claim.write_text(cds._claim_text([os.getpid()]))
    assert cds._live(str(claim))
    # the same pid, started at another time: the kernel reused it
    namespace, proc = claim.read_text().splitlines()
    pid, start = proc.split()
    claim.write_text(f"{namespace}\n{pid} {int(start) + 1 if start.isdigit() else 0}")
    assert not cds._live(str(claim))


def test_claim_from_another_pid_namespace_ages_out(tmp_path):
    """A pid from another boot or container says nothing here, so its
    claim stays live for a day after it was written, whatever the pid."""
    claim = tmp_path / "k.claim"
    claim.write_text("another-boot pid:[1]\n1 1")
    assert cds._live(str(claim))
    old = claim.stat().st_mtime - cds._FOREIGN_CLAIM_S - 1
    os.utime(claim, (old, old))
    assert not cds._live(str(claim))
