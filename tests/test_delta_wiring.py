"""Delta-branch wiring validated WITHOUT delta-spark (absent in this
container): a recording stub DeltaTable executes the real branch code
in operators/incremental.py, pinning the MERGE condition strings and
clause order, and Spark's own parser checks the condition syntax.
On-cluster verification steps: tools/delta_runbook.md."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vexere_lakehouse_pipeline_spark.operators import incremental


class FakeDeltaTable:
    last: "FakeDeltaTable | None" = None

    def __init__(self, path: str):
        self.path = path
        self.target_alias = None
        self.source = None
        self.cond = None
        self.clauses: list[str] = []
        self.executed = False

    @classmethod
    def forPath(cls, spark, path):
        inst = cls(path)
        cls.last = inst
        return inst

    def alias(self, a):
        self.target_alias = a
        return self

    def merge(self, source, cond):
        self.source = source
        self.cond = cond
        return self

    def whenMatchedUpdateAll(self):
        self.clauses.append("whenMatchedUpdateAll")
        return self

    def whenNotMatchedInsertAll(self):
        self.clauses.append("whenNotMatchedInsertAll")
        return self

    def execute(self):
        self.executed = True


@pytest.fixture
def delta_stub(spark, monkeypatch):
    existing = spark.createDataFrame([(0, "d0", "z")],
                                     "id int, day string, v string")
    monkeypatch.setattr(incremental, "_HAVE_DELTA", True)
    monkeypatch.setattr(incremental, "DeltaTable", FakeDeltaTable,
                        raising=False)
    monkeypatch.setattr(incremental, "read_table",
                        lambda _spark, _path, _fmt="delta": existing)
    FakeDeltaTable.last = None
    return FakeDeltaTable


def test_merge_append_delta_branch(spark, delta_stub):
    df = spark.createDataFrame([(1, "d1", "a")], "id int, day string, v string")
    n = incremental.merge_append(df, "/delta/t", ["id", "day"], fmt="delta")
    t = delta_stub.last
    assert t is not None and t.executed and t.path == "/delta/t"
    # null-safe per-key equality, backticked, target/source aliased
    assert t.cond == "t.`id` <=> s.`id` AND t.`day` <=> s.`day`"
    assert t.clauses == ["whenNotMatchedInsertAll"]  # append: NO update clause
    assert n == -1  # delta reports no synchronous insert count
    F.expr(t.cond)  # Spark's parser accepts the generated condition


def test_keyed_merge_append_delta_branch_keys_above_max(spark, delta_stub):
    df = spark.createDataFrame([("d1", "a"), ("d2", "b")], "day string, v string")
    incremental.merge_append(df, "/delta/t", ["day"], fmt="delta", key_col="id")
    src = delta_stub.last.source
    assert src.columns == ["id", "day", "v"]  # key first, as in the target
    assert sorted(r.id for r in src.collect()) == [1, 2]  # above max id 0


def test_upsert_delta_branch(spark, delta_stub):
    df = spark.createDataFrame([(1, "d1", "a")], "id int, day string, v string")
    incremental.upsert(df, "/delta/t2", ["id"], fmt="delta")
    t = delta_stub.last
    assert t is not None and t.executed and t.path == "/delta/t2"
    assert t.cond == "t.`id` <=> s.`id`"
    # upsert: update matched rows, insert new ones — in that order
    assert t.clauses == ["whenMatchedUpdateAll", "whenNotMatchedInsertAll"]
    F.expr(t.cond)


def test_upsert_delta_branch_still_rejects_duplicate_keys(spark, delta_stub):
    dup = spark.createDataFrame([(1, "d1", "a"), (1, "d1", "b")],
                                "id int, day string, v string")
    with pytest.raises(ValueError, match="duplicate merge key"):
        incremental.upsert(dup, "/delta/t3", ["id"], fmt="delta")
    assert delta_stub.last is None  # guard fires BEFORE any merge
