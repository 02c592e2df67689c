"""``release_checkpoint``: counted releases, and a failure that is
counted and logged once instead of swallowed."""

from __future__ import annotations

import logging

from aliyun_emapreduce_datasources_spark.operators import common
from aliyun_emapreduce_datasources_spark.operators.common import (
    release_checkpoint,
    release_counts,
)


def test_release_counts_each_checkpoint_released(spark, monkeypatch):
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})
    a = spark.range(10).localCheckpoint()
    b = spark.range(5).localCheckpoint()
    release_checkpoint(a.union(b))
    assert release_counts() == {"released": 2, "failed": 0}


def test_release_failure_is_counted_and_logged_once(monkeypatch, caplog):
    monkeypatch.setattr(common, "_release_counts", {"released": 0, "failed": 0})

    class NoPlan:  # a DataFrame whose plan introspection fails
        _jdf = None

    with caplog.at_level(logging.WARNING, logger=common.__name__):
        release_checkpoint(NoPlan())  # must not raise
        release_checkpoint(NoPlan())
    assert release_counts() == {"released": 0, "failed": 2}
    warnings = [r for r in caplog.records if "release_checkpoint failed" in r.getMessage()]
    assert len(warnings) == 1
    assert warnings[0].exc_info is not None
