"""Build kstreamjs_spark/jvm/NioLocalFileSystem.jar from its Java source.

Usage: python3 scripts/build_localfs_jar.py [OUT_JAR]

Compiles kstreamjs_spark/jvm/NioLocalFileSystem.java with
`javac --release 17` against pyspark's bundled jars and writes the classes
to OUT_JAR (default: the committed jar next to the source). Entries are
sorted and carry a fixed timestamp, so a rebuild from the same source with
the same javac gives the same bytes. Only rebuilding needs a JDK: sessions
load the committed jar with any Java 17+ runtime.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE = os.path.join(ROOT, "kstreamjs_spark", "jvm", "NioLocalFileSystem.java")
DEFAULT_JAR = os.path.join(ROOT, "kstreamjs_spark", "jvm", "NioLocalFileSystem.jar")
EPOCH = (1980, 1, 1, 0, 0, 0)  # earliest zip timestamp
MANIFEST = b"Manifest-Version: 1.0\r\n\r\n"


def build(out_jar: str) -> None:
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, SOURCE],
            check=True,
        )
        entries = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, files in os.walk(classes)
            for f in files
        )
        with zipfile.ZipFile(out_jar, "w", zipfile.ZIP_DEFLATED) as jar:
            jar.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", EPOCH), MANIFEST)
            for name in entries:
                with open(os.path.join(classes, name), "rb") as f:
                    info = zipfile.ZipInfo(name, EPOCH)
                    info.compress_type = zipfile.ZIP_DEFLATED
                    jar.writestr(info, f.read())


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_JAR)
