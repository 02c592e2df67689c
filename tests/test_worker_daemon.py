"""The package's PySpark worker daemon (``daemon.py``).

Pins three things:

1. zip-cache semantics: an unchanged archive is not re-read by
   ``invalidate_caches()``, and a rewritten one is, so a member added
   to it becomes importable;
2. Python tasks run with the stat-checked ``invalidate_caches``
   installed (the session names the daemon module);
3. a session started from a directory other than the repo root still
   finds the daemon and runs a pandas UDF.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from aliyun_emapreduce_datasources_spark import daemon

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PATCHED = sys.version_info < (3, 13)


def _write_zip(path: str, members: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.mark.skipif(not _PATCHED, reason="Python >= 3.13 runs pyspark.daemon untouched")
def test_zip_stamps_skip_unchanged_and_reread_rewritten(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zstamp_a.py": "X = 1\n"})

    reads = []
    stock_reread = daemon._reread

    def reread(self):
        reads.append(self.archive)
        stock_reread(self)

    monkeypatch.setattr(daemon, "_stamps", {})
    monkeypatch.setattr(daemon, "_reread", reread)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon._invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    for mod in ("zstamp_a", "zstamp_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)

    assert importlib.import_module("zstamp_a").X == 1
    importlib.invalidate_caches()
    assert reads.count(archive) == 1  # first call reads and stamps
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1  # unchanged: stamp check only

    _write_zip(archive, {"zstamp_a.py": "X = 1\n", "zstamp_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("zstamp_b").Y == 2


def test_python_task_runs_with_stamped_zip_caches(spark):
    # defined here, not at module level, so it pickles by value: the
    # workers cannot import this test module
    def worker_probe(_):
        import zipimport as zi

        from aliyun_emapreduce_datasources_spark import daemon as d

        return f"{zi.zipimporter.invalidate_caches.__module__}:{len(d._stamps)}"

    probe = F.udf(worker_probe, "string")
    seen = {r.p for r in spark.range(0, 8, 1, 4).select(probe("id").alias("p")).collect()}
    assert len(seen) == 1, seen
    module, n_stamped = seen.pop().split(":")
    if _PATCHED:
        assert module == daemon.__name__
        # pyspark.zip at least: the daemon read its archives before forking
        assert int(n_stamped) >= 1
    else:
        assert module == "zipimport"


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from aliyun_emapreduce_datasources_spark.session import get_session

spark = get_session("daemon-cwd")

@F.pandas_udf("string")
def where(s: pd.Series) -> pd.Series:
    import zipimport
    return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

rows = spark.range(0, 4, 1, 2).select(where("id").alias("m")).collect()
print("MODULES=" + ",".join(sorted({{r.m for r in rows}})))
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
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("MODULES=")]
    want = daemon.__name__ if _PATCHED else "zipimport"
    assert line == [f"MODULES={want}"], out.stdout[-2000:]
