"""Building and loading the JVM curve kernels (lindel_spark/jvm.py):
a cold build needs no manual step, a session not started by
``get_spark`` loads the jar itself, and a JVM that cannot load it
raises instead of running the curve functions some other way."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from lindel_spark import functions as LF
from lindel_spark import jvm

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cold_build_from_empty_cache(tmp_path, monkeypatch):
    """From a cache holding only a stale jar (an earlier source's),
    ``jar_path`` compiles the source, publishes only the finished jar
    and removes the stale one; javac is waited on, and a second call
    reuses the jar without compiling."""
    started = []

    class Recorded(subprocess.Popen):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            started.append(self)

    monkeypatch.setattr(jvm, "CACHE", tmp_path / "cache")
    monkeypatch.setattr(subprocess, "Popen", Recorded)
    (tmp_path / "cache").mkdir()
    stale = tmp_path / "cache" / "lindel-curves-0000000000000000.jar"
    stale.write_bytes(b"stale")
    jar = jvm.jar_path()
    assert not stale.exists()
    assert os.listdir(tmp_path / "cache") == [os.path.basename(jar)]
    with zipfile.ZipFile(jar) as z:
        names = set(z.namelist())
    assert {"lindel/Curves.class", "lindel/Curves$Encode.class",
            "lindel/Curves$Decode.class"} <= names
    assert len(started) == 1 and started[0].returncode == 0
    assert jvm.jar_path() == jar and len(started) == 1


def test_session_without_get_spark_loads_the_jar():
    """A plain ``SparkSession.builder`` session (no ``spark.jars``) gets
    the kernels through ``ADD JAR`` on first use and runs them in the
    JVM: goldens match and the plan has no Python UDF node."""
    script = textwrap.dedent("""
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F
        from lindel_spark import functions as LF

        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        try:
            assert "lindel" not in spark.conf.get("spark.jars", "")
            df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
            out = df.select(
                LF.hilbert_encode(["a", "b", "c"], "int8").alias("h"),
                LF.hilbert_decode(F.lit(22), 3, input_width=32).alias("d"))
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "EvalPython" not in plan, plan
            row = out.first()
            jars = spark.sparkContext._jsc.sc().listJars().mkString(",")
            print("RESULT", row.h, list(row.d), "lindel-curves" in jars)
        finally:
            spark.stop()
    """)
    env = dict(os.environ, PYTHONPATH=ROOT + os.pathsep
               + os.environ.get("PYTHONPATH", ""))
    done = subprocess.run([sys.executable, "-c", script], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert "RESULT 22 [1, 2, 3] True" in done.stdout


def test_unloadable_kernels_raise_naming_get_spark(spark, monkeypatch):
    """If ``ADD JAR`` cannot expose the class, building a curve Column
    fails with a LINDEL error that names get_spark."""
    monkeypatch.setattr(jvm, "_lookup", lambda _jvm: None)
    with pytest.raises(RuntimeError, match="LINDEL: .*get_spark"):
        LF.hilbert_encode(["x", "y"], "int32")
