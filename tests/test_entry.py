"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs_and_has_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    r = rows[0].asDict()
    assert r["false_negatives"] == 0
    assert r["fp_rate_ok"] is True


def test_catalog_is_consistent():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 9
    for name in oracles:
        assert name in qs, f"oracle {name} has no query"


def test_graded_window_contract():
    """The correctness driver grades the first 50 catalog entries: the
    graded window must stay EXACTLY 50 queries, every one full-oracle,
    disjoint from the extended set, and together they are the whole
    catalog."""
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    ext = entrymod.queries_extended()
    ext_oracles = entrymod.oracle_sql_extended()

    assert len(qs) == 50
    assert set(oracles) == set(qs), "every graded entry needs a full oracle"
    assert not (set(qs) & set(ext)), "window and extended sets must be disjoint"
    assert set(ext_oracles) <= set(ext)
    # rows-only-by-necessity checks live in the extended set, never in
    # the graded window
    rows_only = set(ext) - set(ext_oracles)
    assert rows_only <= {
        "dedup_minhash_lsh", "ann_ivf_topk", "compression_filter",
    }, f"unexpected rows-only queries: {rows_only}"
    for name, fn in list(qs.items()) + list(ext.items()):
        assert callable(fn), name
