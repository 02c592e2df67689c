"""Rotation-policy unit tests for the driver-correctness window
(round-3 verdict asks #6/#7): the catalog must front never-checked
oracle-backed entries, then re-confirm already-green entries
stalest-round-first, and never spend a window slot on a rows-only
entry."""

from __future__ import annotations

from aliyun_emapreduce_datasources_spark.operators import catalog


def test_live_catalog_window_is_all_oracled():
    names = list(catalog.QUERIES)
    window = names[:50]
    assert all(n in catalog.ORACLES for n in window), [
        n for n in window if n not in catalog.ORACLES
    ]


def test_auto_front_orders_fresh_then_stalest(monkeypatch):
    order = list(catalog.QUERIES)
    oracled = [n for n in order if n in catalog.ORACLES]
    assert len(oracled) >= 4
    fresh = oracled[0]
    stale_old, stale_new = oracled[1], oracled[2]
    fake_last = {n: 3 for n in oracled if n != fresh}
    fake_last[stale_old] = 1  # checked long ago → must re-confirm first
    fake_last[stale_new] = 2
    monkeypatch.setattr(catalog, "_last_checked_rounds", lambda: fake_last)
    front = catalog._auto_front()
    # rows-only entries never appear
    assert all(n in catalog.ORACLES for n in front)
    # never-checked first, then stalest round ascending
    assert front[0] == fresh
    assert front[1] == stale_old
    assert front[2] == stale_new
    # ties keep merge order (stable sort)
    rest = front[3:]
    assert rest == [n for n in oracled if n not in (fresh, stale_old, stale_new)]


def test_auto_front_without_driver_files_is_merge_order(monkeypatch):
    """No CORRECTNESS file: every oracle-backed entry is fresh, so the
    front is the oracle-backed entries in merge order."""
    merged = list(reversed(catalog.QUERIES))  # any merge order
    monkeypatch.setattr(catalog, "QUERIES", dict.fromkeys(merged))
    monkeypatch.setattr(catalog, "_last_checked_rounds", dict)
    front = catalog._auto_front()
    assert front == [n for n in merged if n in catalog.ORACLES]
