"""Diff-sync engine — compute create/update/delete sets and apply them
idempotently (reference J4-J7 + F5 + the per-row create_or_update sinks,
/root/reference/odgovlt.py:205-211, 249-255, 276-287, 312-318, 407).

The reference interleaves existence probes and API writes row by row.
Here a sync is one tagged change frame: a single full outer key join of
the incoming documents and the existing rows, each output row carrying
the incoming document (``_new``), the existing row (``_old``) and its
``_change_kind``, filtered to changed rows. The asymmetric diff of
``was_changed`` is a canonical-JSON comparison over the incoming side's
fields; the ownership predicate is evaluated over the existing side.

Applying a plan evaluates that frame ONCE: it is persisted, one summary
aggregate over (kind, depth) fills the cache and yields the phase levels,
and every sink write then reads the cached changed rows — the document
DAG (source reads, UDFs, joins) is not re-run per write phase. Ordering
constraints for hierarchies (parents before children on create, children
before parents on delete) are satisfied by applying per topological
depth, ascending or descending.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.diff import _canonical

KINDS = ("create", "update", "delete")


def ensure_harvest_user(users: DataFrame, name: str = "harvest") -> DataFrame:
    """``sync_harvest_user`` analog (reference odgovlt.py:160-181): make
    sure one sysadmin row named ``name`` exists in the users frame before
    a sync — absent → created (with the reference's bootstrap password),
    present without sysadmin → promoted, already sysadmin → unchanged.
    Idempotent: applying twice is a fixpoint.

    Expects ``name`` and ``sysadmin`` columns; any other columns of the
    bootstrap row are null (except ``password``, which gets the
    reference's literal default when the column exists)."""
    promoted = users.withColumn(
        "sysadmin",
        F.when(F.col("name") == name, F.lit(True)).otherwise(F.col("sysadmin")),
    )
    defaults = {"name": name, "sysadmin": True, "password": "secret123"}
    spark = users.sparkSession
    bootstrap = spark.createDataFrame(
        [tuple(defaults.get(f.name) for f in users.schema.fields)],
        schema=users.schema,
    )
    missing = bootstrap.join(users.select("name"), on="name", how="left_anti")
    return promoted.unionByName(missing)


@dataclass
class SyncPlan:
    """One sync as a tagged change frame. ``changes`` holds one row per
    changed entity: ``_change_kind`` ('create' | 'update' | 'delete'),
    ``_new`` (the incoming document; null for deletes) and ``_old`` (the
    existing row; null for creates). The per-kind frames are projections
    of it, so every consumer shares one plan."""

    changes: DataFrame

    def rows(self, kind: str, where: Column | None = None) -> DataFrame:
        """Changed rows of one kind: the incoming documents for creates and
        updates, the existing rows for deletes."""
        frame = self.changes.filter(F.col("_change_kind") == kind)
        if where is not None:
            frame = frame.filter(where)
        return frame.select("_old.*" if kind == "delete" else "_new.*")

    @property
    def creates(self) -> DataFrame:
        return self.rows("create")

    @property
    def updates(self) -> DataFrame:
        return self.rows("update")

    @property
    def deletes(self) -> DataFrame:
        return self.rows("delete")

    def depth(self, depth_col: str | None) -> Column:
        """A change's topological level: ``depth_col`` of the incoming
        document for creates, of the existing row for deletes; null for
        updates, without ``depth_col``, or when that side lacks it."""
        if depth_col is None:
            return F.lit(None)
        level = {}
        for kind, side in (("create", "_new"), ("delete", "_old")):
            fields = self.changes.schema[side].dataType.fieldNames()
            level[kind] = F.col(side)[depth_col] if depth_col in fields else None
        kind = F.col("_change_kind")
        return F.when(kind == "create", level["create"]).when(
            kind == "delete", level["delete"]
        )

    def summary(self, depth_col: str | None = None) -> dict[tuple[str, object], int]:
        """Changed rows per (kind, depth level), from ONE aggregate job."""
        rows = (
            self.changes.groupBy("_change_kind", self.depth(depth_col).alias("_depth"))
            .count()
            .collect()
        )
        return {(r[0], r[1]): r[2] for r in rows}

    def counts(self) -> dict[str, int]:
        """Rows per change kind, from one aggregate job."""
        return _per_kind(self.summary())


def _per_kind(levels: dict[tuple[str, object], int]) -> dict[str, int]:
    counts = dict.fromkeys(KINDS, 0)
    for (kind, _), n in levels.items():
        counts[kind] += n
    return counts


def plan_sync(
    incoming: DataFrame,
    existing: DataFrame,
    key: str | Sequence[str],
    compare_fields: Sequence[str] | None = None,
    ownership_filter: Column | None = None,
) -> SyncPlan:
    """Tag a sync's changed rows in one full outer key join.

    - create: incoming keys absent from existing;
    - update: present but changed on incoming's fields (asymmetric diff —
      fields only the sink carries don't trigger updates);
    - delete: existing keys absent from incoming, gated by the ownership
      predicate over existing's columns (never delete rows another
      pipeline owns).

    Null keys never match, so a null-keyed incoming row is a create and a
    null-keyed existing row a (gated) delete.
    """
    keys = [key] if isinstance(key, str) else list(key)
    fields = [c for c in (compare_fields or incoming.columns) if c not in keys]

    new = incoming.select(
        *[F.col(k).alias(f"_nk{i}") for i, k in enumerate(keys)],
        F.struct(*incoming.columns).alias("_new"),
        _canonical(incoming, fields).alias("_canon_new"),
    )
    old = existing.select(
        *[F.col(k).alias(f"_ok{i}") for i, k in enumerate(keys)],
        F.struct(*existing.columns).alias("_old"),
        _canonical(existing, fields).alias("_canon_old"),
        (F.lit(True) if ownership_filter is None else ownership_filter).alias("_owned"),
    )
    cond = F.lit(True)
    for i in range(len(keys)):
        cond = cond & (F.col(f"_nk{i}") == F.col(f"_ok{i}"))

    kind = (
        F.when(F.col("_old").isNull(), F.lit("create"))
        .when(F.col("_new").isNull(), F.when(F.col("_owned"), F.lit("delete")))
        .when(F.col("_canon_new") != F.col("_canon_old"), F.lit("update"))
    )
    changes = (
        new.join(old, on=cond, how="full_outer")
        .select(kind.alias("_change_kind"), "_new", "_old")
        .filter(F.col("_change_kind").isNotNull())
    )
    return SyncPlan(changes)


def apply_batched(
    df: DataFrame,
    sink: Callable[[list[dict]], None],
    batch_size: int = 500,
) -> None:
    """Apply a sink callback over JSON-safe row batches, partition-local —
    the set-oriented replacement for the reference's one-API-call-per-row
    writes. ``sink`` runs on executors: it must be picklable and talk to
    the external system itself (REST session per partition, etc.)."""
    cols = df.columns

    def run_partition(rows):
        batch: list[dict] = []
        for row in rows:
            batch.append({c: row[c] for c in cols})
            if len(batch) >= batch_size:
                sink(batch)
                batch = []
        if batch:
            sink(batch)

    df.foreachPartition(run_partition)


@contextmanager
def _job_description(spark, text: str) -> Iterator[None]:
    """Label the jobs started inside the block (``spark.job.description``)
    so the event log and UI attribute them; other local properties, such
    as a caller's job group, are left alone."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


@contextmanager
def _evaluated_once(plan: SyncPlan) -> Iterator[None]:
    """Persist the change frame for the block (default storage level,
    MEMORY_AND_DISK): the first job over it fills the cache and every
    later write reads the cached changed rows instead of re-running the
    document DAG."""
    plan.changes.persist()
    try:
        yield
    finally:
        plan.changes.unpersist()


def _phase_order(levels) -> list[tuple[str, object]]:
    """(kind, depth) phases in write order: creates parents first, then
    updates, then deletes children first. A null depth sorts as the
    shallowest level."""
    order = []
    for kind in KINDS:
        depths = sorted(
            (d for k, d in levels if k == kind), key=lambda d: (d is not None, d)
        )
        order += [(kind, d) for d in (reversed(depths) if kind == "delete" else depths)]
    return order


def apply_sync_ordered(
    plan: SyncPlan,
    sink: Callable[[str, list[dict]], None],
    depth_col: str | None = None,
    batch_size: int = 500,
) -> dict[str, int]:
    """Apply creates (parents first), updates, then deletes (children
    first). With ``depth_col`` the create/delete phases iterate depth
    levels so hierarchical sinks see parents before children — bounded by
    tree depth, not data size.

    The change frame is evaluated once: it is persisted, one summary job
    over (kind, depth) fills the cache and yields the levels (empty
    phases are skipped), and each phase's write reads the cached rows.
    Each phase's jobs carry the description ``sync <kind>[ depth=<d>]``.
    Returns the applied counts per kind.
    """
    spark = plan.changes.sparkSession

    def by_kind(kind: str) -> Callable[[list[dict]], None]:
        return lambda batch: sink(kind, batch)

    with _evaluated_once(plan):
        with _job_description(spark, "sync summary"):
            levels = plan.summary(depth_col)
        depth = plan.depth(depth_col)
        for kind, d in _phase_order(levels):
            where = None if depth_col is None else depth.eqNullSafe(F.lit(d))
            rows = plan.rows(kind, where=where)
            label = f"sync {kind}" if d is None else f"sync {kind} depth={d}"
            with _job_description(spark, label):
                apply_batched(rows, by_kind(kind), batch_size)
    return _per_kind(levels)


class JsonDirSink:
    """Test/debug sink: each batch lands as one JSON-lines file in a
    directory (unique name per partition+batch). Executor-safe."""

    def __init__(self, path: str):
        self.path = path

    def __call__(self, kind: str, batch: list[dict]) -> None:
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fname = os.path.join(self.path, f"{kind}-{uuid.uuid4().hex}.jsonl")
        with open(fname, "w", encoding="utf-8") as f:
            for row in batch:
                f.write(json.dumps(row, ensure_ascii=False, default=str) + "\n")


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _safe_ident(name: str) -> str:
    """Validate a SQL identifier before interpolation. Table names are
    validated, not quoted: Derby (and most engines) fold unquoted
    identifiers to upper case, so quoting would stop matching tables the
    distributed JDBC writer created unquoted."""
    if not _IDENT_RE.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _column_quoter(spark, url: str) -> Callable[[str], str]:
    """Quote column names with the URL's JDBC dialect (``"c"`` on Derby,
    backticks on MySQL), as Spark's JDBC writer does when it creates the
    table: an unquoted lowercase ``id`` would fold to ``ID`` and miss it."""
    dialect = spark._jvm.org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    return lambda name: dialect.quoteIdentifier(_safe_ident(name))


def _jdbc_execute(spark, url: str, driver: str | None, *statements: str) -> None:
    """Run control statements on the driver through the JVM's
    DriverManager — the only imperative residue of the JDBC sink (2-3
    statements per sync, independent of row count).

    All statements run in ONE transaction: the upsert's DELETE+INSERT
    pair must be atomic, or a failure between them silently drops every
    updated row."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def apply_sync_jdbc(
    spark,
    plan: SyncPlan,
    url: str,
    table: str,
    key: str,
    driver: str | None = None,
    staging_table: str | None = None,
    column_types: str | None = None,
) -> dict[str, int]:
    """Materialize a SyncPlan into a pipeline-owned JDBC table,
    set-oriented end to end:

    - creates: bulk-appended with the distributed JDBC writer;
    - updates: staged to a scratch table, then one driver-side
      ``DELETE ... WHERE key IN (SELECT key FROM staging)`` + one
      ``INSERT ... SELECT`` — a portable upsert that avoids per-row
      statements and works on engines without MERGE;
    - deletes: key set staged, one ``DELETE ... IN (SELECT ...)``.

    The table must be pipeline-owned: updates replace whole rows (the
    reference's create_or_update semantics, odgovlt.py:407), so sink-side
    columns outside the plan's schema would be lost.

    Counts and writes come from ONE evaluation of the change frame, taken
    before the first write: later phases read the cached changes, not the
    target table that earlier phases already modified.

    Returns the applied counts per kind.
    """
    from ..sources.jdbc import write_jdbc_table

    stage = _safe_ident(staging_table or f"{table}_stage")
    table = _safe_ident(table)
    quote = _column_quoter(spark, url)
    qkey = quote(key)
    delete_staged = (
        f"DELETE FROM {table} WHERE {qkey} IN (SELECT {qkey} FROM {stage})"
    )

    with _evaluated_once(plan):
        with _job_description(spark, "sync summary"):
            counts = plan.counts()
        if counts["create"]:
            with _job_description(spark, "sync create"):
                write_jdbc_table(
                    plan.creates, url, table, mode="append", driver=driver,
                    column_types=column_types,
                )
        if counts["update"]:
            cols = ", ".join(quote(c) for c in plan.updates.columns)
            with _job_description(spark, "sync update"):
                write_jdbc_table(
                    plan.updates, url, stage, mode="overwrite", driver=driver,
                    column_types=column_types,
                )
            _jdbc_execute(
                spark, url, driver,
                delete_staged,
                f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {stage}",
            )
        if counts["delete"]:
            with _job_description(spark, "sync delete"):
                write_jdbc_table(
                    plan.deletes.select(key), url, stage, mode="overwrite",
                    driver=driver,
                )
            _jdbc_execute(spark, url, driver, delete_staged)
    return counts


def export_with_observed_metrics(df, path: str, metrics: dict | None = None):
    """Write ``df`` as parquet while collecting pipeline metrics IN THE
    SAME JOB via ``DataFrame.observe`` — the zero-extra-pass health
    check every production export wants. A naive pipeline runs the
    export and then a second aggregate scan for row counts / null rates;
    ``observe`` piggybacks the aggregates on the write job's own pass,
    so a 100 TB export pays nothing for its own metrics.

    ``metrics``: name -> aggregate Column over df's columns (defaults to
    a row count). Returns the observed metrics row as a dict after the
    write completes. Reference analog: the harvest loop counts imported
    objects as a side effect of importing them (odgovlt.py:355-367) —
    same single-pass idea, set-oriented.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    metrics = metrics or {"rows": F.count(F.lit(1))}
    obs = Observation("export_metrics")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return dict(obs.get)
