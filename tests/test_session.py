"""`session.get_spark` starts Spark's Python processes through a launcher that
drops Spark's zip copies of pyspark and py4j from `PYTHONPATH`, so they import
the bytecode-cached pyspark the driver imports."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_source_runner_imports_pyspark_outside_the_zip(spark, tmp_path):
    """A Python streaming source's `latestOffset` runs in the source-runner
    process Spark starts for the query; it reports where its pyspark came
    from."""
    import pyspark
    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    class WhereReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"pyspark": ""}

        def latestOffset(self):
            import pyspark

            return {"pyspark": pyspark.__file__}

        def partitions(self, start, end):
            return [InputPartition(0)]

        def read(self, partition):
            yield (1,)

    class WhereSource(DataSource):
        @classmethod
        def name(cls):
            return "pyspark_origin_probe"

        def schema(self):
            return "x int"

        def streamReader(self, schema):
            return WhereReader()

    spark.dataSource.register(WhereSource)
    q = (spark.readStream.format("pyspark_origin_probe").load()
         .writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    end = q.recentProgress[0]["sources"][0]["endOffset"]
    assert "pyspark.zip" not in end, end
    assert pyspark.__file__ in end, end  # the driver's own install


def test_pyspark_python_that_cannot_import_pyspark_keeps_the_stock_exec(tmp_path):
    """The probe fails for an interpreter that finds pyspark only in Spark's
    zip: `get_spark` keeps `PYSPARK_PYTHON` as Spark's `pythonExec`, and
    Python tasks still run on it."""
    stub = tmp_path / "python_no_site"
    stub.write_text(f'#!/bin/sh\nexec {sys.executable} -S "$@"\n')
    stub.chmod(0o755)
    driver = (
        "import os, sys; sys.path.insert(0, {repo!r});"
        "from singer_spark.session import get_spark;"
        "sc = get_spark('stub_python').sparkContext;"
        "print('EXEC', sc.pythonExec);"
        "print('ENV', os.environ['PYSPARK_PYTHON']);"
        "print('SUM', sc.parallelize(range(4), 2).map(lambda x: x + 1).sum())"
    ).format(repo=REPO)
    env = dict(os.environ, PYSPARK_PYTHON=str(stub))
    out = subprocess.run([sys.executable, "-c", driver], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert f"EXEC {stub}\n" in out.stdout, out.stderr[-3000:]
    assert f"ENV {stub}\n" in out.stdout
    assert "SUM 10" in out.stdout, out.stderr[-3000:]


def _launched_pythonpath(monkeypatch, tmp_path, pythonpath: str | None) -> str | None:
    from singer_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    launcher = session._write_launcher(sys.executable)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath is not None:
        env["PYTHONPATH"] = pythonpath
    out = subprocess.run(
        [launcher, "-c", "import os; print(repr(os.environ.get('PYTHONPATH')))"],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=60, check=True)
    return eval(out.stdout)


def test_launcher_drops_only_sparks_zips(monkeypatch, tmp_path):
    (tmp_path / "globbed").mkdir()
    (tmp_path / "globbed" / "a.py").write_text("")
    star = f"{tmp_path}/globbed/*"
    entries = ["", "/opt/with space/lib", star, "/s/python/lib/pyspark.zip", "",
               "/s/python/lib/py4j-0.10.9.9-src.zip", "/j/spark-core_2.13-4.1.2.jar",
               "/other/pyspark.zip.d", ""]
    kept = [e for e in entries if not e.endswith((".zip", "-src.zip"))]
    assert _launched_pythonpath(monkeypatch, tmp_path, ":".join(entries)) \
        == ":".join(kept)


def test_launcher_leaves_pythonpath_unset_or_empty(monkeypatch, tmp_path):
    assert _launched_pythonpath(monkeypatch, tmp_path, None) is None
    assert _launched_pythonpath(monkeypatch, tmp_path, "") == ""
    assert _launched_pythonpath(monkeypatch, tmp_path, "/s/lib/pyspark.zip") is None
