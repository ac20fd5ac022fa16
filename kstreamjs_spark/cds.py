"""Dynamic class-data-sharing (CDS) archives for ``get_spark``'s JVM.

A cold JVM parses and verifies each class it loads: about 17.6k of
Spark's before a session runs its first query. JDK 17 can dump the
classes a run loaded into a dynamic archive (JEP 350), which later JVMs
with the same class path map instead. :func:`jvm_options` adds, per
class path, one of:

- ``-XX:SharedArchiveFile=<key>.jsa`` when that archive exists;
- else, to train it, ``-XX:ArchiveClassesAtExit=<key>.<pid>.tmp``. The
  JVM writes the archive when it exits normally. The training process
  holds ``<key>.claim``, which lists its pid and, once started, its
  JVM's pid, so that only one live process trains a key at a time;
- else nothing.

Only a session that finds a validated archive starts faster. The
training session starts slower and its exit waits for the dump, and
other sessions for its key start with nothing until it exits.

A claim names its host's boot and pid namespace, and each pid with
that process's start time, so a pid the kernel has since reused does
not keep it live. A claim from another boot or pid namespace (a cache
shared between containers) cannot be checked, and stays live for
:data:`_FOREIGN_CLAIM_S` after it was last written. A claim that is
not live is stale. Its ``.tmp`` becomes
``<key>.jsa`` (``os.replace``) only after ``java -Xshare:on`` maps it,
because a truncated archive does not fall back under ``-Xshare:auto``:
it kills the JVM with SIGBUS. An archive that fails the check is
deleted. No file is rewritten in place, so a running JVM never sees
its mapped archive change.

Archives live in ``${XDG_CACHE_HOME:-~/.cache}/kstreamjs_spark/cds``.
The key hashes the JDK (``java.home`` and its ``release`` file), each
class path entry's path, size and mtime, and whether the heap is large
enough (32 GiB) for the JVM to turn compressed oops off. The
:data:`KEEP` most recently used archives are kept.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import time

KEEP = 4
_VALIDATE_TIMEOUT_S = 120
_DUMP_TIMEOUT_S = 300
_FOREIGN_CLAIM_S = 24 * 3600


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "kstreamjs_spark", "cds")


def java_home() -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def jvm_options(class_path: str, memory: str) -> tuple[str, str | None]:
    """JVM options that map or train the archive for ``-cp class_path
    -Xmx<memory>``, and the claim to pass to :func:`started` when they
    train. ``("", None)`` when no archive applies or the cache directory
    is not writable."""
    home = java_home()
    if home is None:
        return "", None
    entries = _entries(class_path)
    key = _key(home, entries, _bytes(memory) >= 32 * 2**30)
    d = cache_dir()
    try:
        os.makedirs(d, exist_ok=True)
        if not os.access(d, os.W_OK):
            return "", None
        lock = os.open(os.path.join(d, ".lock"), os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return "", None
    try:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            options, claim = _decide(d, key, home, class_path, memory, entries)
        except OSError:
            options, claim = "", None
        with contextlib.suppress(OSError):
            _evict(d)
    finally:
        os.close(lock)
    return options, claim


def started(spark, claim: str) -> None:
    """Add the training JVM's pid to ``claim``, and hold this process's
    exit until that JVM has exited and so written its archive."""
    from pyspark import SparkContext

    pids = [os.getpid(), spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()]
    part = f"{claim}.{os.getpid()}"
    with open(part, "w") as fh:
        fh.write(_claim_text(pids))
    os.replace(part, claim)
    atexit.register(_await_exit, SparkContext._gateway.proc)


def _decide(d, key, home, class_path, memory, entries) -> tuple[str, str | None]:
    jsa = os.path.join(d, f"{key}.jsa")
    claim = os.path.join(d, f"{key}.claim")
    if os.path.exists(claim):
        if _live(claim):
            return "", None
        for tmp in glob.glob(os.path.join(glob.escape(d), f"{key}.*.tmp")):
            if _maps(home, tmp, class_path, memory):
                os.replace(tmp, jsa)
            else:
                os.unlink(tmp)
        os.unlink(claim)
    if os.path.exists(jsa):
        os.utime(jsa)
        return f"-XX:SharedArchiveFile={jsa}", None
    # JDK 17 dumps nothing (and exits 1) when a non-empty directory
    # precedes an entry the archive uses; the base archive is its parent.
    if not os.path.exists(os.path.join(home, "lib", "server", "classes.jsa")) or any(
        os.path.isdir(e) and os.listdir(e) for e in entries
    ):
        return "", None
    fd = os.open(claim, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
    with os.fdopen(fd, "w") as fh:
        fh.write(_claim_text([os.getpid()]))
    tmp = os.path.join(d, f"{key}.{os.getpid()}.tmp")
    # Without -Xlog:cds=off the dump prints hundreds of "Skipping ...
    # Signed JAR" lines to stdout at exit.
    return f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=off", claim


def _maps(home: str, archive: str, class_path: str, memory: str) -> bool:
    """Whether a JVM run as Spark's launcher runs it maps ``archive``."""
    cmd = [
        os.path.join(home, "bin", "java"), f"-Xmx{memory}", "-Xshare:on",
        f"-XX:SharedArchiveFile={archive}", "-XX:ErrorFile=/dev/null",
        "-XX:-CreateCoredumpOnCrash", "-cp", class_path, "-version",
    ]
    try:
        res = subprocess.run(
            cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=_VALIDATE_TIMEOUT_S,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return res.returncode == 0


def _evict(d: str) -> None:
    """Delete all but the KEEP most recently used archives: ``.jsa``
    files and the ``.tmp`` files no live process is writing."""
    files = glob.glob(os.path.join(glob.escape(d), "*.jsa")) + [
        tmp for tmp in glob.glob(os.path.join(glob.escape(d), "*.tmp"))
        if not _live(os.path.join(d, os.path.basename(tmp).split(".")[0] + ".claim"))
    ]
    files.sort(key=os.path.getmtime, reverse=True)
    for f in files[KEEP:]:
        os.unlink(f)


def _claim_text(pids: list[int]) -> str:
    return "\n".join([_namespace(), *(f"{pid} {_start_time(pid)}" for pid in pids)])


def _live(claim: str) -> bool:
    try:
        with open(claim) as fh:
            namespace, *procs = fh.read().splitlines()
        if namespace != _namespace():
            return time.time() - os.path.getmtime(claim) < _FOREIGN_CLAIM_S
        return any(
            _start_time(int(pid)) == start for pid, start in (p.split() for p in procs)
        )
    except (OSError, ValueError):
        return False


def _namespace() -> str:
    """This boot and pid namespace, within which a pid names a process;
    ``-`` where ``/proc`` does not say."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            return f"{fh.read().strip()} {os.readlink('/proc/self/ns/pid')}"
    except OSError:
        return "-"


def _start_time(pid: int) -> str | None:
    """The start time of process ``pid`` (clock ticks after boot), which
    a later process given the same pid does not share; ``-`` for a live
    process where ``/proc`` is missing, ``None`` for no process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except (OSError, IndexError):
        if os.path.isdir("/proc/self"):
            return None
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return None
    except PermissionError:
        pass
    return "-"


def _await_exit(proc) -> None:
    proc.stdin.close()  # EOF: Spark's PythonGatewayServer calls System.exit(0)
    try:
        proc.wait(timeout=_DUMP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass


def _entries(class_path: str) -> list[str]:
    """Class path entries with ``dir/*`` expanded to its jars, as the
    java launcher expands them."""
    out = []
    for entry in filter(None, class_path.split(os.pathsep)):
        if os.path.basename(entry) == "*":
            pattern = os.path.join(glob.escape(os.path.dirname(entry)), "*.[jJ][aA][rR]")
            out += sorted(glob.glob(pattern))
        else:
            out.append(entry)
    return out


def _key(home: str, entries: list[str], nocoops: bool) -> str:
    h = hashlib.sha256(f"{home}\0{nocoops}\n".encode())
    try:
        with open(os.path.join(home, "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    for e in entries:
        try:
            st = os.stat(e)
            h.update(f"{e}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{e}\0-\n".encode())
    return h.hexdigest()[:20]


def _bytes(memory: str) -> int:
    """A Spark memory string (``8g``, ``512m``; no unit means MiB) in bytes."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", memory.strip().lower())
    if m is None:
        return 0
    return int(m.group(1)) * 1024 ** (1 + "kmgt".index(m.group(2) or "m"))
