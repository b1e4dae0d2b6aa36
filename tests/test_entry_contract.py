"""Local replica of the driver's correctness gate: every queries() entry
runs and every oracle_sql() pair matches DuckDB (row count + columns +
order-insensitive values) at sf0.001. The full sf0.01 run is exercised
by the driver; this keeps the contract green in-repo."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from yadf_spark.testing import run_contract

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "size", "group_key", "stage"}


def test_every_query_has_callable_and_oracle_keys_subset():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(oracles) <= set(qs), "oracle keys must reference real queries"
    # SQL-expressible coverage: at least 25 oracle-checked operators
    assert len(oracles) >= 25


def test_rotation_window_covers_never_driver_checked_queries():
    """The driver's correctness sweep checks only the FIRST 50 entries
    of queries(); the round-5 rotation promises that window to every
    query with no GREEN verdict in CORRECTNESS_r01-r04, placed
    first. Pin that against the committed records so an accidental
    reorder can't silently leave a never-checked query outside the
    window."""
    import json
    import os

    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    greens: set[str] = set()
    for r in (1, 2, 3, 4):
        path = os.path.join(repo, f"CORRECTNESS_r0{r}.json")
        if not os.path.exists(path):
            pytest.skip("prior-round correctness records not present")
        with open(path) as f:
            for k, v in json.load(f).items():
                if (
                    v.get("rows_match")
                    and v.get("schema_match")
                    and v.get("hash_match") is not False
                ):
                    greens.add(k)
    qs = list(entrymod.queries())
    window = qs[:50]
    # never GREEN, not merely never present: a red row that was never
    # re-greened must stay inside the window until a green verdict exists
    never_green = [k for k in qs if k not in greens]
    missed = [k for k in never_green if k not in window]
    assert not missed, (
        f"queries without a green driver verdict outside the window: {missed}"
    )
    # never-green queries lead the window so a driver that checks fewer
    # than 50 still hits them first
    n = len(never_green)
    assert set(window[:n]) == set(never_green)


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_contract_query(spark, name):
    res = run_contract(spark, SF, only=[name])[name]
    assert res["ok"], res
