"""``operators.merge.append`` / ``find_or_create``: the live-table half of
every loader's merge (id allocation, idempotent find-or-create, bounded
lineage), and the M13 ids they allocate with."""

from __future__ import annotations

import pytest

from modware_loader_spark.frames import local_frame
from modware_loader_spark.operators.merge import append, find_or_create, generate_ids

SCHEMA = "db_id long, name string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _leaves(df) -> list[str]:
    """Node names of the leaves of ``df``'s logical plan."""
    out, stack = [], [df._jdf.queryExecution().logical()]
    while stack:
        node = stack.pop()
        children = node.children()
        if children.isEmpty():
            out.append(node.nodeName())
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_ids_start_at_one_then_continue_after_max(spark):
    live = local_frame(spark, [], SCHEMA)
    live, new = find_or_create(
        live, local_frame(spark, ["b", "a"], "name string"), ["name"], "db_id"
    )
    assert _rows(new) == [("a", 1), ("b", 2)]
    gapped = local_frame(spark, [(7, "x")], SCHEMA)
    live, new = append(
        gapped, local_frame(spark, ["z", "y"], "name string"),
        id_col="db_id", order_by=["name"],
    )
    assert _rows(new) == [("y", 8), ("z", 9)]
    assert _rows(live) == [(7, "x"), (8, "y"), (9, "z")]


def test_duplicate_rows_inserted_once(spark):
    live = local_frame(spark, [(1, "a")], SCHEMA)
    rows = local_frame(spark, ["b", "b", "a", "c", "c"], "name string")
    live, new = find_or_create(live, rows, ["name"], "db_id")
    assert new.count() == 2
    assert _rows(live) == [(1, "a"), (2, "b"), (3, "c")]


def test_existing_keys_insert_nothing_and_keep_ids(spark):
    live = local_frame(spark, [], SCHEMA)
    live, _ = find_or_create(
        live, local_frame(spark, ["a", "b", "c"], "name string"), ["name"], "db_id"
    )
    before = _rows(live)
    live, new = find_or_create(
        live, local_frame(spark, ["c", "a"], "name string"), ["name"], "db_id"
    )
    assert new.count() == 0
    assert _rows(live) == before
    # without ids: the whole row is the key
    pair = "a long, b long"
    links, new = find_or_create(
        local_frame(spark, [(1, 2)], pair), local_frame(spark, [(1, 2), (1, 2)], pair),
        ["a", "b"],
    )
    assert new.count() == 0 and _rows(links) == [(1, 2)]


def test_lineage_stays_bounded(spark):
    live = local_frame(spark, [], SCHEMA)
    for i in range(5):
        live, new = append(
            live, local_frame(spark, [f"n{i}"], "name string"),
            id_col="db_id", order_by=["name"],
        )
        leaves = _leaves(live)
        assert len(leaves) <= 2, leaves
        assert all(name in ("LogicalRDD", "LocalRelation") for name in leaves), leaves
    assert [r.db_id for r in live.orderBy("db_id").collect()] == [1, 2, 3, 4, 5]


def test_new_frames_keep_their_extra_columns(spark):
    live = local_frame(spark, [(1, "a")], SCHEMA)
    first, second = (
        local_frame(spark, [(5, "p", "x")], "db_id long, name string, note string"),
        local_frame(spark, [(6, "q")], SCHEMA),
    )
    live, first, second = append(live, first, second)
    assert first.columns == ["db_id", "name", "note"]
    assert live.columns == ["db_id", "name"]
    assert _rows(live) == [(1, "a"), (5, "p"), (6, "q")]


@pytest.mark.parametrize("n, prefix", [(300, ""), (300, "auto-"), (0, "auto-")])
def test_generate_ids_equal_row_number_across_partitions(spark, n, prefix):
    # unique keys in shuffled order, over 8 range partitions AQE may not merge
    keys = [(k * 7919) % 1000 for k in range(n)]
    df = local_frame(spark, [(k, f"n{k}") for k in keys], "k long, name string")
    conf = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {key: spark.conf.get(key) for key in conf}
    for key, value in conf.items():
        spark.conf.set(key, value)
    try:
        got = generate_ids(df, ["k"], id_col="gid", prefix=prefix, start=5)
        rows = sorted(tuple(r) for r in got.collect())
    finally:
        for key, value in old.items():
            spark.conf.set(key, value)
    assert got.columns == ["k", "name", "gid"]
    want = sorted(
        (k, f"n{k}", f"{prefix}{rn + 5 - 1}" if prefix else rn + 5 - 1)
        for rn, k in enumerate(sorted(keys), start=1)
    )
    assert rows == want
