"""The package's Python launcher (``launcher.sh``).

``session.get_session`` makes it the Python executable of every process
Spark starts. Pins four things:

1. a Python UDF task, the ``emrkv`` planner runner and an ``emrlog``
   query's source runner all import pyspark from a directory, not from
   Spark's zip, under the driver's interpreter;
2. the launcher keeps every non-Spark ``PYTHONPATH`` entry in order and
   passes arguments and the exit code through unchanged;
3. a session started from a directory other than the repo root still
   runs a pandas UDF;
4. where the launcher does not apply, Spark's default executable stays.
"""

from __future__ import annotations

import ast
import json
import logging
import os
import subprocess
import sys
from types import SimpleNamespace

import pyspark
from pyspark import cloudpickle
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark import session
from aliyun_emapreduce_datasources_spark.sources.pyds import (
    KVStoreDataSource,
    KVStoreReader,
    LogShardDataSource,
    LogShardStreamReader,
    register_all,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Spark's Python processes cannot import this test module: ship its
# probes by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _view() -> dict:
    """Where this process imported pyspark from, and under which
    interpreter."""
    return {"pyspark": pyspark.__file__, "python": sys.executable,
            "is_file": os.path.isfile(pyspark.__file__)}


def _assert_compiled(view: dict) -> None:
    assert view["is_file"] and ".zip" not in view["pyspark"], view
    assert view["python"] == sys.executable, view


class PlannerProbeReader(KVStoreReader):
    """emrkv reader that records the planner runner's view."""

    def __init__(self, schema, options) -> None:
        super().__init__(schema, options)
        self.probe = options["probe"]

    def partitions(self):
        with open(self.probe, "w") as fh:
            json.dump(_view(), fh)
        return super().partitions()


class PlannerProbe(KVStoreDataSource):
    @classmethod
    def name(cls) -> str:
        return "emrkv_planner_probe"

    def reader(self, schema):
        return PlannerProbeReader(schema, self.options)


class SourceProbeReader(LogShardStreamReader):
    """emrlog reader whose offsets carry the source runner's view; the
    query's progress reports them back to the driver."""

    def latestOffset(self) -> dict:  # noqa: N802 — API name
        return {**super().latestOffset(), "__view__": json.dumps(_view())}

    def partitions(self, start: dict, end: dict):
        def shards(offset):
            return {k: v for k, v in offset.items() if k != "__view__"}

        return super().partitions(shards(start), shards(end))


class SourceProbe(LogShardDataSource):
    @classmethod
    def name(cls) -> str:
        return "emrlog_source_probe"

    def streamReader(self, schema):  # noqa: N802 — API name
        return SourceProbeReader(schema, self.options)


def test_udf_task_imports_compiled_pyspark(spark):
    view = F.udf(lambda _: json.dumps(_view()), "string")
    seen = {r.v for r in spark.range(0, 8, 1, 4).select(view("id").alias("v")).collect()}
    assert len(seen) == 1, seen
    _assert_compiled(json.loads(seen.pop()))


def test_emrkv_planner_runner_imports_compiled_pyspark(spark, sf_dir, tmp_path):
    register_all(spark)
    spark.dataSource.register(PlannerProbe)
    probe = str(tmp_path / "planner.json")
    path = os.path.join(sf_dir, "nation.parquet")
    got = (
        spark.read.format("emrkv_planner_probe")
        .option("path", path)
        .option("probe", probe)
        .load()
    )
    assert got.count() == spark.read.parquet(path).count()
    with open(probe) as fh:
        _assert_compiled(json.load(fh))


def test_emrlog_source_runner_imports_compiled_pyspark(spark, tmp_path):
    d = str(tmp_path / "shards")
    os.makedirs(d)
    with open(os.path.join(d, "shard-00.jsonl"), "w") as fh:
        fh.writelines(json.dumps({"k": i}) + "\n" for i in range(5))
    spark.dataSource.register(SourceProbe)
    q = (
        spark.readStream.format("emrlog_source_probe")
        .option("path", d)
        .option("schema", "k bigint")
        .load()
        .writeStream.format("memory")
        .queryName("launcher_source_probe")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(60)
        assert q.exception() is None
        progress = [p for p in q.recentProgress if p["numInputRows"]]
    finally:
        q.stop()
    assert sum(p["numInputRows"] for p in progress) == 5
    # PySpark reports the offset dict as its repr
    end = ast.literal_eval(progress[-1]["sources"][0]["endOffset"])
    _assert_compiled(json.loads(end["__view__"]))


_ECHO = "import os, sys; print(os.environ.get('PYTHONPATH')); print(sys.argv[1:]); sys.exit(7)"


def test_launcher_drops_spark_archives_and_passes_through():
    kept = ["/tmp/spark-x/userFiles-y", os.path.join(_REPO, "vendor"), "/a dir/*", _REPO]
    path = [
        "/opt/spark/python/lib/pyspark.zip",
        kept[0],
        "/opt/spark/python/lib/py4j-0.10.9.9-src.zip",
        kept[1],
        "/opt/spark/jars/spark-core_2.13-4.1.2.jar",
        kept[2],
        kept[3],
    ]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path), EMR_DATASOURCES_PYTHON=sys.executable)
    args = ["two words", "", "*", "-m"]
    out = subprocess.run(
        [session._LAUNCHER, "-c", _ECHO, *args], env=env, capture_output=True, text=True,
    )
    assert out.returncode == 7, out.stderr
    assert out.stdout.splitlines() == [os.pathsep.join(kept), repr(args)]


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from aliyun_emapreduce_datasources_spark.session import get_session

spark = get_session("launcher-cwd")

@F.pandas_udf("string")
def where(s: pd.Series) -> pd.Series:
    import pyspark
    return s.map(lambda _: pyspark.__file__)

rows = spark.range(0, 4, 1, 2).select(where("id").alias("m")).collect()
print("PYSPARK=" + ",".join(sorted({{r.m for r in rows}})))
spark.stop()
"""


def test_session_outside_repo_root_runs_pandas_udf(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != _REPO
    )
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT.format(repo=_REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("PYSPARK=")]
    assert line == [f"PYSPARK={pyspark.__file__}"], out.stdout[-2000:]


def _fake_session(master: str, version: str):
    sc = SimpleNamespace(master=master, pythonExec="python3", environment={})
    return SimpleNamespace(sparkContext=sc, version=version)


def test_launcher_skipped_keeps_default_python_exec(caplog):
    for fake in (
        _fake_session("local[2]", "0.0.1"),  # version mismatch
        _fake_session("spark://host:7077", pyspark.__version__),  # not local
    ):
        caplog.clear()
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            session._use_launcher(fake)
        assert fake.sparkContext.pythonExec == "python3"
        assert fake.sparkContext.environment == {}
        assert len(caplog.records) == 1, caplog.records

