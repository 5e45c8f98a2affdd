"""JDBC connector integration tests against embedded Derby.

No MySQL exists in the test environment, but Spark bundles Derby for its
metastore — a real JDBC engine, so the source/sink wrappers get a true
write → read → pushdown → partitioned-scan cycle instead of mock option
checks. MySQL-specific bits (URL shape, zero-date behavior) stay covered
by the option-construction unit tests in test_codecs_and_sources.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.sources.jdbc import (
    read_jdbc_table,
    write_jdbc_table,
)

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
URL = "jdbc:derby:memory:jdbc_tests;create=true"


@pytest.fixture(scope="module")
def seeded(spark):
    fact = spark.range(1000).select(
        F.col("id").alias("ID"),
        (F.col("id") % 50).alias("USER_ID"),
        F.when(F.col("id") % 4 == 0, "U").otherwise("P").alias("STATUSAS"),
    )
    users = spark.range(50).select(
        F.col("id").alias("ID"), F.concat(F.lit("login_"), F.col("id")).alias("LOGIN")
    )
    write_jdbc_table(
        fact, URL, "t_rinkmena_it", mode="overwrite", driver=DRIVER,
        column_types="STATUSAS VARCHAR(1)",
    )
    write_jdbc_table(
        users, URL, "t_user_it", mode="overwrite", driver=DRIVER,
        column_types="LOGIN VARCHAR(64)",
    )
    return fact, users


def test_roundtrip_counts_and_schema(spark, seeded):
    fact, _ = seeded
    back = read_jdbc_table(spark, url=URL, table="t_rinkmena_it", driver=DRIVER)
    assert back.count() == 1000
    assert set(back.columns) == {"ID", "USER_ID", "STATUSAS"}
    assert sorted(r["ID"] for r in back.collect()) == sorted(
        r["ID"] for r in fact.collect()
    )


def test_filter_pushdown_reaches_jdbc(spark, seeded):
    back = read_jdbc_table(spark, url=URL, table="t_rinkmena_it", driver=DRIVER)
    active = back.filter(F.col("STATUSAS") == "U")
    assert active.count() == 250
    plan = active._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "STATUSAS" in plan, plan


def test_column_pruning_reaches_jdbc(spark, seeded):
    back = read_jdbc_table(spark, url=URL, table="t_rinkmena_it", driver=DRIVER)
    two = back.select("ID", "USER_ID")
    plan = two._jdf.queryExecution().sparkPlan().toString()
    assert "STATUSAS" not in plan.split("ReadSchema")[-1], plan


def test_partitioned_range_scan(spark, seeded):
    part = read_jdbc_table(
        spark,
        url=URL,
        table="t_rinkmena_it",
        driver=DRIVER,
        partition_column="ID",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    # range scans must not lose or duplicate rows, including bound edges
    assert part.count() == 1000
    assert part.select(F.count_distinct("ID")).first()[0] == 1000


def test_partition_bounds_do_not_filter(spark, seeded):
    # Spark's JDBC bounds only split the scan; rows OUTSIDE the bounds
    # land in the first/last stride — a classic misreading, pinned here.
    part = read_jdbc_table(
        spark,
        url=URL,
        table="t_rinkmena_it",
        driver=DRIVER,
        partition_column="ID",
        lower_bound=200,
        upper_bound=800,
        num_partitions=3,
    )
    assert part.count() == 1000


def test_broadcast_join_over_jdbc_relations(spark, seeded):
    fact = read_jdbc_table(spark, url=URL, table="t_rinkmena_it", driver=DRIVER)
    users = read_jdbc_table(spark, url=URL, table="t_user_it", driver=DRIVER)
    joined = fact.filter(F.col("STATUSAS") == "U").join(
        F.broadcast(users.withColumnRenamed("ID", "USER_ID")), on="USER_ID", how="left"
    )
    assert joined.count() == 250
    joined.count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_append_then_overwrite_modes(spark):
    df = spark.range(10).select(F.col("id").alias("ID"))
    write_jdbc_table(df, URL, "t_modes_it", mode="overwrite", driver=DRIVER)
    write_jdbc_table(df, URL, "t_modes_it", mode="append", driver=DRIVER)
    assert read_jdbc_table(spark, url=URL, table="t_modes_it", driver=DRIVER).count() == 20
    write_jdbc_table(df, URL, "t_modes_it", mode="overwrite", driver=DRIVER)
    assert read_jdbc_table(spark, url=URL, table="t_modes_it", driver=DRIVER).count() == 10


class TestJdbcSyncSink:
    URL = "jdbc:derby:memory:sync_sink;create=true"

    def _state(self, spark):
        return read_jdbc_table(
            spark, url=self.URL, table="t_target", driver=DRIVER
        )

    def test_sync_plan_applies_and_is_idempotent(self, spark):
        from opendata_gov_lt_mysql_import_spark.plans.sync import (
            apply_sync_jdbc,
            plan_sync,
        )

        existing = spark.createDataFrame(
            [(1, "keep", 10), (2, "stale-update", 20), (3, "delete-me", 30)],
            "ID int, NAME string, V int",
        )
        write_jdbc_table(
            existing, self.URL, "t_target", mode="overwrite", driver=DRIVER,
            column_types="NAME VARCHAR(64)",
        )
        incoming = spark.createDataFrame(
            [(1, "keep", 10), (2, "updated", 20), (4, "created", 40)],
            "ID int, NAME string, V int",
        )

        for attempt in range(2):  # second pass must be a no-op
            current = self._state(spark)
            plan = plan_sync(incoming, current, key="ID")
            counts = apply_sync_jdbc(
                spark, plan, self.URL, "t_target", key="ID", driver=DRIVER,
                column_types="NAME VARCHAR(64)",
            )
            if attempt == 0:
                assert counts == {"create": 1, "update": 1, "delete": 1}
            else:
                assert counts == {"create": 0, "update": 0, "delete": 0}

        final = sorted(tuple(r) for r in self._state(spark).collect())
        assert final == [(1, "keep", 10), (2, "updated", 20), (4, "created", 40)]

    def test_lowercase_key_create_update_delete(self, spark):
        """Spark's JDBC writer quotes column names, so a lowercase ``id``
        stays lowercase in Derby; the driver-side upsert/delete statements
        must quote it the same way (unquoted it folds to ``ID``)."""
        from opendata_gov_lt_mysql_import_spark.plans.sync import (
            apply_sync_jdbc,
            plan_sync,
        )

        schema = "id int, title string"
        table = "t_lower"

        def sync(rows, current):
            incoming = spark.createDataFrame(rows, schema)
            return apply_sync_jdbc(
                spark, plan_sync(incoming, current, key="id"), self.URL, table,
                key="id", driver=DRIVER, column_types="title VARCHAR(64)",
            )

        def state():
            return read_jdbc_table(spark, url=self.URL, table=table, driver=DRIVER)

        first = [(1, "a"), (2, "b"), (3, "c")]
        assert sync(first, spark.createDataFrame([], schema)) == {
            "create": 3, "update": 0, "delete": 0
        }
        assert state().columns == ["id", "title"]
        assert sync([(1, "a"), (2, "B"), (3, "c")], state()) == {
            "create": 0, "update": 1, "delete": 0
        }
        assert sync([(1, "a"), (2, "B")], state()) == {
            "create": 0, "update": 0, "delete": 1
        }
        assert sorted(tuple(r) for r in state().collect()) == [(1, "a"), (2, "B")]
