"""StageStore catalog-branch coverage.

The sandbox ships no Iceberg runtime jar and Spark's built-in session
catalog rejects the V2 REPLACE TABLE path (verified:
UNSUPPORTED_FEATURE.TABLE_OPERATION), so the catalog branch cannot run
against a real V2 catalog here. This stub drives every catalog-branch
method of StageStore through duck-typed fakes that mimic the exact
Spark surfaces the branch touches (catalog.tableExists, table, sql,
DataFrame.writeTo → createOrReplace/append/create/partitionedBy), so
the branch's call flow is executed and asserted rather than dead code.
``lineage`` and ``append_rows`` run their Spark form here (an aggregate
over the table, a createDataFrame append), where parquet mode reads
footers and writes pyarrow files on the driver.
On a real cluster the same calls hit Iceberg via
``spark.sql.catalog.<name>`` configs (see sources/catalog.py docstring).
"""

from __future__ import annotations

from character_identification_spark.plans.pipeline import LINEAGE_SCHEMA
from character_identification_spark.sources.catalog import StageStore


class FakeWriter:
    def __init__(self, store, table, df):
        self.store, self.table, self.df = store, table, df
        self.partition_cols: list = []

    def partitionedBy(self, *cols):
        self.partition_cols = list(cols)
        return self

    def createOrReplace(self):
        self.store.tables[self.table] = {
            "rows": list(self.df.rows),
            "partitioned": [str(c) for c in self.partition_cols],
            "ops": ["createOrReplace"],
        }

    def create(self):
        if self.table in self.store.tables:
            raise AssertionError("create() on existing table")
        self.store.tables[self.table] = {
            "rows": list(self.df.rows), "partitioned": [], "ops": ["create"],
        }

    def append(self):
        self.store.tables[self.table]["rows"].extend(self.df.rows)
        self.store.tables[self.table]["ops"].append("append")


class FakeDF:
    def __init__(self, rows):
        self.rows = rows

    def writeTo(self, table):  # noqa: N802 — mimics the Spark surface
        return FakeWriter(_STORE, table, self)

    # the lineage aggregate: every fake row sits in partition 0
    def groupBy(self, *cols):  # noqa: N802
        return self

    def agg(self, *cols):
        return FakeDF([{"partition_id": 0, "rows": len(self.rows)}])

    def collect(self):
        return list(self.rows)


class FakeCatalog:
    def tableExists(self, name):  # noqa: N802
        return name in _STORE.tables


class FakeSpark:
    catalog = FakeCatalog()

    def createDataFrame(self, rows, schema):  # noqa: N802
        assert schema is LINEAGE_SCHEMA
        return FakeDF(list(rows))

    def table(self, name):
        return FakeDF(list(_STORE.tables[name]["rows"]))

    def sql(self, stmt):
        assert stmt.startswith("DROP TABLE IF EXISTS ")
        _STORE.tables.pop(stmt.removeprefix("DROP TABLE IF EXISTS "), None)


class _Store:
    def __init__(self):
        self.tables: dict = {}


_STORE = _Store()


def test_stage_store_catalog_branch_flow(spark):
    # the real `spark` fixture is needed only because the partitionedBy
    # path builds pyspark Column objects (requires an active context);
    # all catalog I/O goes through the fakes
    _STORE.tables.clear()
    store = StageStore(FakeSpark(), root="/nonexistent", catalog="ice")

    # write → V2 createOrReplace with partitionedBy columns
    store.write(FakeDF([1, 2]), "mentions", partition_by=("block_key",))
    assert store.exists("mentions")
    t = _STORE.tables["ice.mentions"]
    assert t["ops"] == ["createOrReplace"]
    assert any("block_key" in c for c in t["partitioned"])

    # lineage is one Spark aggregate over the committed table
    assert store.lineage("mentions") == [(0, 2)]

    # append_rows on a MISSING table must create, not blow up
    store.append_rows("lineage", [("mentions", 0, 2)], LINEAGE_SCHEMA)
    assert _STORE.tables["ice.lineage"]["ops"] == ["create"]
    # append_rows on an existing table appends
    store.append_rows("lineage", [("names", 0, 4)], LINEAGE_SCHEMA)
    assert _STORE.tables["ice.lineage"]["ops"] == ["create", "append"]
    assert _STORE.tables["ice.lineage"]["rows"] == [("mentions", 0, 2), ("names", 0, 4)]

    # read round-trips through spark.table; a schema is for the parquet
    # reader only
    assert store.read("mentions").rows == [1, 2]
    assert store.read("mentions", LINEAGE_SCHEMA).rows == [1, 2]

    # delete issues DROP TABLE IF EXISTS and exists() flips
    store.delete("mentions")
    assert not store.exists("mentions")
    # parquet fallback is untouched by catalog mode: root not created
    import os

    assert not os.path.exists("/nonexistent")
