"""The full harvest pipeline over a LIVE JDBC source (embedded Derby).

The closest environment gets to the reference's production shape: the
five-table schema seeded into a real SQL engine, read back through the
partitioned JDBC source (schema from JDBC metadata — the analog of the
reference's meta.reflect(), odgovlt.py:147-156), and the whole document
pipeline run on those relations. Outputs must be identical to the
in-memory DataFrame run — the pipeline is source-agnostic by design.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
from opendata_gov_lt_mysql_import_spark.plans.sync import (
    JsonDirSink,
    _jdbc_execute,
    apply_sync_ordered,
    export_with_observed_metrics,
    plan_sync,
)
from opendata_gov_lt_mysql_import_spark.sources.jdbc import (
    REFERENCE_TABLES,
    read_reference_tables,
    write_jdbc_table,
)
from reference_fixture import build_reference_tables

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
URL = "jdbc:derby:memory:pipeline_src;create=true"

# Derby maps StringType to CLOB unless told otherwise; CLOB rejects the
# pushed-down equality predicates the pipeline relies on (STATUSAS='U').
_VARCHAR = {
    "user": "LOGIN VARCHAR(64), PASS VARCHAR(64), EMAIL VARCHAR(128), "
            "FIRST_NAME VARCHAR(64), LAST_NAME VARCHAR(64)",
    "istaiga": "PAVADINIMAS VARCHAR(255), KODAS VARCHAR(32), ADRESAS VARCHAR(255)",
    # KODAS stays CLOB: it is nullable, and Spark writes null strings as
    # setNull(CLOB) (the dialect's JDBC type), which Derby rejects against
    # a VARCHAR column. CLOB read-back is fine — KODAS is only projected
    # into extras, never used in a pushed-down predicate.
    "rinkmena": "PAVADINIMAS VARCHAR(255), SANTRAUKA VARCHAR(255), "
                "TINKLAPIS VARCHAR(255), R_ZODZIAI VARCHAR(1024), "
                "K_EMAIL VARCHAR(128), STATUSAS VARCHAR(1)",
    "kategorija": "PAVADINIMAS VARCHAR(255)",
    "kategorija_rinkmena": None,
}


def _seed_derby(spark, url):
    """Write the reference fixture into the Derby database at ``url`` and
    bind it back through the JDBC source; returns (via JDBC, in memory)."""
    frames = build_reference_tables(spark)
    for alias, df in frames.items():
        write_jdbc_table(
            df, url, REFERENCE_TABLES[alias], mode="overwrite",
            driver=DRIVER, column_types=_VARCHAR[alias],
        )
    return read_reference_tables(
        spark, url, fact_partitions=4, driver=DRIVER, fact_upper_bound=100
    ), frames


@pytest.fixture(scope="module")
def jdbc_tables(spark):
    return _seed_derby(spark, URL)


def test_jdbc_schema_reflection(jdbc_tables):
    via_jdbc, frames = jdbc_tables
    for alias, df in via_jdbc.items():
        assert set(df.columns) == set(frames[alias].columns), alias


def test_fact_scan_is_partitioned(jdbc_tables):
    via_jdbc, _ = jdbc_tables
    assert via_jdbc["rinkmena"].rdd.getNumPartitions() == 4


# `full` tier (round-16): see pytest.ini — excluded from the default driver-window run
@pytest.mark.full
def test_pipeline_outputs_match_in_memory_run(spark, jdbc_tables):
    via_jdbc, frames = jdbc_tables
    p_jdbc = HarvestPipeline(spark, via_jdbc)
    p_mem = HarvestPipeline(spark, frames)

    def doc_key(df, cols):
        return sorted(str(tuple(r)) for r in df.select(*cols).collect())

    pkg_cols = ["name", "title", "notes", "url", "maintainer", "tags", "groups"]
    assert doc_key(p_jdbc.package_documents(), pkg_cols) == doc_key(
        p_mem.package_documents(), pkg_cols
    )
    grp_cols = ["name", "title"]
    assert doc_key(p_jdbc.group_documents(), grp_cols) == doc_key(
        p_mem.group_documents(), grp_cols
    )
    usr_cols = ["name", "fullname", "email"]
    assert doc_key(p_jdbc.user_documents(), usr_cols) == doc_key(
        p_mem.user_documents(), usr_cols
    )


def test_status_filter_pushed_to_jdbc(spark, jdbc_tables):
    via_jdbc, _ = jdbc_tables
    p = HarvestPipeline(spark, via_jdbc)
    active = p.active_datasets()
    plan = active._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "STATUSAS" in plan, plan
    assert active.count() == 3  # the unpublished row never crosses the wire


def test_sink_and_catalog_share_one_snapshot(spark, tmp_path):
    """A source edit between a cycle's sync and its export reaches neither:
    the catalog holds exactly the documents the sink received. Were the
    export to re-read the source, the catalog would record the new title
    the sink never got, and the next cycle's diff would find no change —
    the update lost for good."""
    url = "jdbc:derby:memory:pipeline_snapshot;create=true"
    via_jdbc, _ = _seed_derby(spark, url)
    docs = HarvestPipeline(spark, via_jdbc).package_documents()
    sink = tmp_path / "sink"
    apply_sync_ordered(
        plan_sync(docs, spark.createDataFrame([], docs.schema), key="id"),
        JsonDirSink(str(sink)),
    )
    _jdbc_execute(
        spark, url, DRIVER,
        f"UPDATE {REFERENCE_TABLES['rinkmena']} SET PAVADINIMAS = 'Pakeista' WHERE ID = 1",
    )
    catalog = str(tmp_path / "catalog")
    export_with_observed_metrics(docs, catalog)

    received = {}
    for path in sink.glob("*.jsonl"):
        for line in path.read_text(encoding="utf-8").splitlines():
            row = json.loads(line)
            received[row["id"]] = row["title"]
    exported = {
        r["id"]: r["title"]
        for r in spark.read.parquet(catalog).select("id", "title").collect()
    }
    assert received["1"] == "Testinė rinkmena nr. 1"
    assert exported == received
