"""Sync plan edge cases on small in-memory frames: ``plan_sync`` plus
``apply_sync_ordered`` against a pure-Python model built on
``was_changed`` (the reference's asymmetric diff), and the write order
hierarchical sinks rely on."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.functions.diff import was_changed
from opendata_gov_lt_mysql_import_spark.plans.sync import (
    apply_sync_ordered,
    plan_sync,
)


def log_sink(path: str):
    """A sink that appends every received row as one JSON line
    ``{"_kind": ..., **row}``. Phases run one after another, so file
    order is write order across phases. A nested function, so executors
    unpickle it by value (this test module is not importable there)."""

    def sink(kind: str, batch: list[dict]) -> None:
        lines = "".join(
            json.dumps({"_kind": kind, **row}, default=str) + "\n" for row in batch
        )
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(lines)

    return sink


def _read_log(path) -> list[dict]:
    if not path.exists():
        return []
    return [json.loads(line) for line in path.read_text().splitlines()]


def _model(incoming, existing, keys, owned=lambda row: True):
    """Expected (kind, key) set: create/update per ``was_changed`` over
    the incoming document's non-key fields, deletes gated by ``owned``.
    Null keys never match."""
    def key_of(row):
        return tuple(row[k] for k in keys)

    old = {key_of(r): r for r in existing if None not in key_of(r)}
    new_keys = {key_of(r) for r in incoming if None not in key_of(r)}
    want = set()
    for row in incoming:
        k = key_of(row)
        doc = {f: v for f, v in row.items() if f not in keys}
        if None in k or k not in old:
            want.add(("create", k))
        elif was_changed(doc, old[k]):
            want.add(("update", k))
    for row in existing:
        k = key_of(row)
        if (None in k or k not in new_keys) and owned(row):
            want.add(("delete", k))
    return want


CASES = {
    "empty_existing_all_creates": dict(
        schema="id int, title string",
        incoming=[(1, "a"), (2, "b"), (3, "c")],
        existing=[],
    ),
    "empty_incoming_all_deletes": dict(
        schema="id int, title string",
        incoming=[],
        existing=[(1, "a"), (2, "b"), (3, "c")],
    ),
    "no_changes": dict(
        schema="id int, title string",
        incoming=[(1, "a"), (2, "b"), (3, None)],
        existing=[(1, "a"), (2, "b"), (3, None)],
    ),
    "null_key": dict(
        schema="id int, title string",
        incoming=[(None, "new"), (1, "a"), (2, "b2")],
        existing=[(None, "old"), (1, "a"), (2, "b")],
    ),
    "two_column_key": dict(
        schema="org string, id int, title string",
        key=["org", "id"],
        incoming=[("x", 1, "a"), ("x", 2, "b2"), ("y", 1, "c"), ("y", 3, "d")],
        existing=[("x", 1, "a"), ("x", 2, "b"), ("y", 2, "gone"), ("z", 1, "e")],
    ),
    "ownership_filter": dict(
        schema="id int, title string",
        existing_schema="id int, title string, owner string",
        incoming=[(1, "a")],
        existing=[(1, "a", "IVPK IRS"), (2, "b", "IVPK IRS"), (3, "c", "other"),
                  (4, "d", None)],
        ownership=("owner = 'IVPK IRS'", lambda r: r["owner"] == "IVPK IRS"),
    ),
    "existing_only_field_ignored": dict(
        schema="id int, title string",
        existing_schema="id int, title string, note string",
        incoming=[(1, "a"), (2, "b"), (3, "c2")],
        existing=[(1, "a", "n1"), (2, "b", None), (3, "c", "n3")],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_plan_and_apply_match_was_changed_model(spark, tmp_path, case):
    c = CASES[case]
    keys = c.get("key", ["id"])
    incoming = spark.createDataFrame(c["incoming"], c["schema"])
    existing = spark.createDataFrame(c["existing"], c.get("existing_schema", c["schema"]))
    filt, owned = c.get("ownership", (None, lambda row: True))
    filt = None if filt is None else F.expr(filt)
    want = _model(
        [r.asDict() for r in incoming.collect()],
        [r.asDict() for r in existing.collect()],
        keys,
        owned,
    )

    plan = plan_sync(incoming, existing, key=keys, ownership_filter=filt)
    planned = {
        (kind, tuple(r[k] for k in keys))
        for kind, df in (("create", plan.creates), ("update", plan.updates),
                         ("delete", plan.deletes))
        for r in df.collect()
    }
    assert planned == want
    expected_counts = {k: sum(1 for kind, _ in want if kind == k)
                       for k in ("create", "update", "delete")}
    assert plan.counts() == expected_counts

    log = tmp_path / "sink.jsonl"
    assert apply_sync_ordered(plan, log_sink(str(log))) == expected_counts
    got = _read_log(log)
    assert sorted((r["_kind"], tuple(r[k] for k in keys)) for r in got) == sorted(want)
    if case == "no_changes":
        assert got == []
    # deletes carry the existing row, creates/updates the incoming document
    for r in got:
        side = existing if r["_kind"] == "delete" else incoming
        assert set(r) - {"_kind"} == set(side.columns)


def test_depth_levels_reach_the_sink_in_order(spark, tmp_path):
    """Creates parents first (a null depth counts as the shallowest level),
    then updates, then deletes children first; no row is lost."""
    schema = "id int, title string, depth int"
    incoming = spark.createDataFrame(
        [(1, "root", 0), (2, "mid", 1), (3, "leaf", 2), (4, "orphan", None),
         (5, "kept", 1), (6, "renamed", 2)],
        schema,
    )
    existing = spark.createDataFrame(
        [(5, "kept", 1), (6, "old name", 2),
         (10, "gone root", 0), (11, "gone mid", 1), (12, "gone leaf", 2)],
        schema,
    )
    log = tmp_path / "sink.jsonl"
    counts = apply_sync_ordered(
        plan_sync(incoming, existing, key="id"), log_sink(str(log)),
        depth_col="depth", batch_size=1,
    )
    assert counts == {"create": 4, "update": 1, "delete": 3}
    phases = []
    for r in _read_log(log):
        step = (r["_kind"], r["depth"] if r["_kind"] != "update" else "-")
        if not phases or phases[-1] != step:
            phases.append(step)
    assert phases == [
        ("create", None), ("create", 0), ("create", 1), ("create", 2),
        ("update", "-"),
        ("delete", 2), ("delete", 1), ("delete", 0),
    ]
