"""Build and load the JVM curve kernels (``Curves.java``).

The jar is compiled on first use with the host's ``javac`` (JDK 17+)
against two of Spark's own jars, and cached beside the source under a
name keyed by a hash of it: only the first session in a checkout pays
the compile (~1.5 s), and an edited source builds a new jar, which
replaces the old one in the cache.  Nothing is downloaded.
:func:`lindel_spark.session.get_spark` starts the JVM with the jar on
``spark.jars``; a session started any other way gets it through ``ADD
JAR`` on first use.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

SOURCE = Path(__file__).with_name("Curves.java")
CACHE = Path(__file__).with_name(".jvm-cache")
# compile-time class path: UDF1, Column, functions, DataType; Column's
# supertype Logging; scala.collection.Seq
_CLASSPATH = ("spark-sql-api_*.jar", "spark-common-utils_*.jar",
              "scala-library-*.jar")


def jar_path() -> str:
    """The kernels' jar for the current source, built if absent."""
    digest = hashlib.sha256(SOURCE.read_bytes()).hexdigest()[:16]
    jar = CACHE / f"lindel-curves-{digest}.jar"
    if not jar.exists():
        _build(jar)
    return str(jar)


def _spark_jars() -> list[str]:
    from pyspark.find_spark_home import _find_spark_home

    jars = Path(_find_spark_home()) / "jars"
    found = []
    for pattern in _CLASSPATH:
        hits = sorted(jars.glob(pattern))
        if not hits:
            raise RuntimeError(
                f"LINDEL: no {pattern} under {jars}; cannot compile the "
                "curve kernels")
        found.append(str(hits[-1]))
    return found


def _build(jar: Path) -> None:
    javac = shutil.which("javac")
    if javac is None and os.environ.get("JAVA_HOME"):
        javac = shutil.which("javac", path=os.path.join(
            os.environ["JAVA_HOME"], "bin"))
    if javac is None:
        raise RuntimeError(
            "LINDEL: the curve functions run as a Java UDF compiled on "
            "first use; install a JDK (17+) so that javac is on PATH")
    CACHE.mkdir(exist_ok=True)
    # a private build dir on the cache's file system, so the finished
    # jar lands by an atomic rename: concurrent first sessions never
    # see a partial jar
    with tempfile.TemporaryDirectory(dir=CACHE) as tmp:
        classes = Path(tmp) / "classes"
        done = subprocess.run(
            [javac, "--release", "17", "-nowarn", "-d", str(classes),
             "-cp", os.pathsep.join(_spark_jars()), str(SOURCE)],
            capture_output=True, text=True, timeout=600)
        if done.returncode != 0:
            raise RuntimeError(
                f"LINDEL: javac failed on {SOURCE.name}:\n{done.stderr}")
        part = Path(tmp) / "part.jar"
        with zipfile.ZipFile(part, "w", zipfile.ZIP_DEFLATED) as z:
            for f in sorted(classes.rglob("*.class")):
                z.write(f, f.relative_to(classes).as_posix())
        os.replace(part, jar)
    # the cache keeps one jar: the current source's
    for stale in CACHE.glob("lindel-curves-*.jar"):
        if stale != jar:
            stale.unlink(missing_ok=True)


# (gateway client, lindel.Curves instance) of the last JVM looked up
_found = None


def _lookup(jvm):
    """A ``lindel.Curves`` instance in ``jvm``, or None if its class is
    not visible to this thread's JVM class loader.

    Cached per gateway: py4j calls the static factories through the
    instance, which skips the by-name class lookups (a round trip each)
    that ``jvm.lindel.Curves`` and every call on a ``JavaClass`` pay.
    """
    from py4j.java_gateway import JavaClass

    global _found
    client = jvm._gateway_client
    if _found is not None and _found[0] is client:
        return _found[1]
    cls = jvm.lindel.Curves
    if not isinstance(cls, JavaClass):
        return None
    _found = (client, cls())
    return _found[1]


def curves(spark=None):
    """The ``lindel.Curves`` factories in the JVM of ``spark``, or of
    the active SparkContext when ``spark`` is None.

    A JVM started by :func:`lindel_spark.session.get_spark` has the
    class on its class path.  Otherwise the jar is added with ``ADD
    JAR``, which also ships it to executors; there is no other
    execution path to fall back to, so a JVM that still cannot see the
    class is an error.
    """
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if spark is None and SparkContext._active_spark_context is None:
        spark = SparkSession.active()  # raises: no session to run in
    found = _lookup((spark or SparkContext._active_spark_context)._jvm)
    if found is None:
        spark = spark or SparkSession.active()
        spark.sql(f"ADD JAR '{jar_path()}'")
        found = _lookup(spark._jvm)
    if found is None:
        raise RuntimeError(
            "LINDEL: the JVM curve kernels are not loadable in this "
            "session (ADD JAR did not expose lindel.Curves); start the "
            "session with lindel_spark.session.get_spark()")
    return found
