"""One benchmark run inside one Spark session: set-up, a closed loop of
operations (one client, one operation at a time) for the requested
seconds, output checks, and in the traced run the per-layer metrics.

run.py starts this file with the environment it needs and samples memory
from outside; the result goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from harvest_source import HarvestSource, SCHEMAS  # noqa: E402
from spans import SpanIndex, Tracer, read_event_log  # noqa: E402

EXPECTED_PATH = os.path.join(HERE, "expected.json")

# Query workloads: fixture scale and operation list. Each pass runs every
# operation once, in an order the seed shuffles.
QUERY_WORKLOADS = {
    "olap": {
        "scale": "sf0.1",
        "ops": (
            "q1_pricing_summary q3_top_revenue q5_supplier_volume "
            "q7_volume_shipping q9_nation_year_profit q10_returned_items "
            "q13_customer_distribution q18_large_orders q21_waiting_suppliers "
            "j1_left_join_default j3_mn_collect window_top_order_per_customer "
            "cube_status_priority percentile_price events_sessionize "
            "events_asof_last_order w1_tree_closure f4_package_tags "
            "f5_changed_rows zorder_pruned_scan"
        ).split(),
        # first call builds a persisted snapshot fixture
        "warm_state": ("zorder_pruned_scan",),
        "min_passes": 1,
    },
    "recipe": {
        "scale": "sf0.01",
        "ops": (
            "kmeans_k_fixed classifier_train_perceptron minhash_lsh_pairs "
            "ngram_jaccard_verify_warm"
        ).split(),
        # first call persists the gram index as snapshot tables
        "warm_state": ("ngram_jaccard_verify_warm",),
        # a pass is short; two give the median eight samples
        "min_passes": 2,
    },
}

# harvest: source size and the JDBC source it is loaded into
HARVEST_DATASETS = 5_000
DERBY = "org.apache.derby.jdbc.EmbeddedDriver"
DERBY_URL = "jdbc:derby:memory:perfbench_src;create=true"
# Derby maps strings to CLOB unless told otherwise, and CLOB rejects the
# pushed-down STATUSAS='U' predicate. Nullable strings stay CLOB: Spark
# writes their nulls as CLOB nulls, which a VARCHAR column rejects.
COLUMN_TYPES = {
    "user": "LOGIN VARCHAR(64), PASS VARCHAR(64), EMAIL VARCHAR(128), "
            "FIRST_NAME VARCHAR(64), LAST_NAME VARCHAR(64)",
    "istaiga": "PAVADINIMAS VARCHAR(255), KODAS VARCHAR(32), ADRESAS VARCHAR(255)",
    "rinkmena": "PAVADINIMAS VARCHAR(255), SANTRAUKA VARCHAR(255), "
                "TINKLAPIS VARCHAR(255), R_ZODZIAI VARCHAR(1024), "
                "K_EMAIL VARCHAR(128), STATUSAS VARCHAR(1)",
    "kategorija": "PAVADINIMAS VARCHAR(255)",
    "kategorija_rinkmena": None,
}
EDITS_TABLE = "perfbench_edits"
SYNC_KEYS = {"package": "id", "group": "name", "user": "name", "organization": "name"}


_T0 = time.perf_counter()


def _now() -> float:
    return time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{_now() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


class QueryWorkload:
    """``olap`` / ``recipe``: an operation builds one registered query and
    evaluates every column of every row (``bench.force_eval_chk``)."""

    def __init__(self, spark, tracer, name: str, expected: dict):
        import __spark_entry__
        from bench import force_eval_chk
        from opendata_gov_lt_mysql_import_spark.sources.parquet import DEFAULT_SF_DIR

        cfg = QUERY_WORKLOADS[name]
        self.spark, self.tracer = spark, tracer
        self.registry = __spark_entry__.queries()
        self.force_eval_chk = force_eval_chk
        self.sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), cfg["scale"])
        self.ops = cfg["ops"]
        self.warm_state = cfg["warm_state"]
        self.min_passes = cfg["min_passes"]
        self.expected = expected.get(name, {})
        self.observed: dict[str, list[int]] = {}
        self.first_wall: dict[str, float] = {}

    def setup(self) -> bool:
        """Warm-up pass in list order: JIT, parquet footers, warm state."""
        ok = True
        for name in self.ops:
            rec = self.run_op(name)
            self.first_wall[name] = rec["wall"]
            ok &= rec["ok"]
        return ok

    def passes(self, rng: random.Random):
        while True:
            order = list(self.ops)
            rng.shuffle(order)
            yield order

    def run_op(self, name: str) -> dict:
        tr = self.tracer
        t0 = _now()
        try:
            with tr.span("op"):
                with tr.span("queries.build"):
                    df = self.registry[name](self.spark, self.sf_dir)
                with tr.span("spark.exec.action"):
                    rows, chk = self.force_eval_chk(df)
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            return {"name": name, "wall": _now() - t0, "ok": False, "rows": 0}
        wall = _now() - t0
        log(f"{name}: {wall:.2f}s")
        if tr.enabled:
            tr.catalyst.append(catalyst_phases(df))
        self.observed[name] = [rows, chk]
        ok = self.expected.get(name) == [rows, chk]
        if not ok:
            log(f"{name} gave {[rows, chk]}, expected {self.expected.get(name)}")
        return {"name": name, "wall": wall, "ok": ok, "rows": rows}

    def layer_metrics(self, idx: SpanIndex, ops: set[int], records) -> dict:
        n = len(ops)
        build = idx.named("queries.build", ops)
        build_s = sum(idx.duration(s) for s in build)
        op_s = sum(idx.duration(s) for s in idx.named("op", ops))
        steady = {}
        for rec in records:
            steady.setdefault(rec["name"], []).append(rec["wall"])
        return {
            "queries.build_s": build_s / n,
            # the name BENCHMARK.json gives plan construction on every workload
            "construct_s": build_s / n,
            "queries.build_jobs": idx.exec_stats(build)["jobs"] / n,
            "queries.build_share": build_s / op_s,
            "snapshots.state_build_s": sum(
                self.first_wall[e] - statistics.median(steady[e])
                for e in self.warm_state
                if e in steady
            ),
            **exec_metrics(idx, idx.named("spark.exec.action", ops), n),
        }


class HarvestWorkload:
    """``harvest``: each operation is one delta harvest cycle from the
    JDBC source into a JSON-file sink and a parquet catalog."""

    def __init__(self, spark, tracer, seed: int, work: str, expected: dict):
        from opendata_gov_lt_mysql_import_spark.session import cpu_count

        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work
        self.cpus = cpu_count()
        self.src = HarvestSource(seed, HARVEST_DATASETS)
        self.expected = expected.get("harvest", {}).get(str(seed), {})
        self.observed: dict[str, list[int]] = {}
        self.prev_catalog: str | None = None
        self.cycle = 0
        self.min_passes = 1
        self.stats: list[dict] = []

    # -- source side (untimed) ----------------------------------------------

    def _frame(self, alias: str, rows: list[tuple]):
        import pandas as pd

        names = [c.split()[0] for c in SCHEMAS[alias].split(", ")]
        return self.spark.createDataFrame(
            pd.DataFrame(rows, columns=names), schema=SCHEMAS[alias]
        )

    def _write(self, alias, rows, mode):
        from opendata_gov_lt_mysql_import_spark.sources.jdbc import (
            REFERENCE_TABLES,
            write_jdbc_table,
        )

        write_jdbc_table(
            self._frame(alias, rows), DERBY_URL, REFERENCE_TABLES[alias],
            mode=mode, driver=DERBY, column_types=COLUMN_TYPES[alias],
        )

    def _execute(self, sql: str) -> None:
        jvm = self.spark._jvm
        jvm.java.lang.Class.forName(DERBY)
        conn = jvm.java.sql.DriverManager.getConnection(DERBY_URL)
        try:
            conn.createStatement().executeUpdate(sql)
        finally:
            conn.close()  # closes the statement too

    def apply_delta(self, delta) -> None:
        from opendata_gov_lt_mysql_import_spark.sources.jdbc import write_jdbc_table

        self._write("rinkmena", delta.new_rows, "append")
        if delta.new_links:
            self._write("kategorija_rinkmena", delta.new_links, "append")
        edits = self.spark.createDataFrame(
            [(i, t, s) for i, (t, s) in sorted(delta.edits.items())],
            "ID int, PAVADINIMAS string, STATUSAS string",
        )
        write_jdbc_table(
            edits, DERBY_URL, EDITS_TABLE, mode="overwrite", driver=DERBY,
            column_types="PAVADINIMAS VARCHAR(255), STATUSAS VARCHAR(1)",
        )
        pick = f"(SELECT e.%s FROM {EDITS_TABLE} e WHERE e.ID = t_rinkmena.ID)"
        self._execute(
            f"UPDATE t_rinkmena SET PAVADINIMAS = {pick % 'PAVADINIMAS'}, "
            f"STATUSAS = {pick % 'STATUSAS'} "
            f"WHERE ID IN (SELECT ID FROM {EDITS_TABLE})"
        )

    # -- the workload --------------------------------------------------------

    def setup(self) -> bool:
        """Load the source and run the initial full harvest. No warm-up
        delta cycle: measured, the cycle after one took as long."""
        for alias, rows in self.src.tables.items():
            self._write(alias, rows, "overwrite")
        log("source loaded")
        return self.run_op(None)["ok"]

    def passes(self, rng: random.Random):
        """One cycle per pass; the seed already drove the source edits."""
        while True:
            delta = self.src.delta(self.cycle + 1)
            self.apply_delta(delta)
            yield [delta]

    def run_op(self, delta) -> dict:
        """One harvest cycle; ``delta`` None is the initial full load."""
        cycle = self.cycle + (delta is not None)
        catalog = os.path.join(self.work, "catalog", str(cycle))
        sink = os.path.join(self.work, "sink", str(cycle))
        t0 = _now()
        try:
            tables, docs, exported = self._harvest(catalog, sink)
        except Exception:  # a failed operation is counted, the loop goes on
            traceback.print_exc()
            return {"name": "cycle", "wall": _now() - t0, "ok": False, "rows": 0}
        wall = _now() - t0
        if self.tracer.enabled:
            self._probe(tables, docs)
        if self.prev_catalog:
            shutil.rmtree(self.prev_catalog)
        self.prev_catalog, self.cycle = catalog, cycle
        ok = self._check(cycle, delta, exported, _sink_counts(sink))
        log(f"cycle {cycle}: {wall:.2f}s ok={ok}")
        return {
            "name": "cycle", "wall": wall, "ok": ok, "rows": len(self.src.rows),
            "cycle": cycle,
        }

    def _harvest(self, catalog: str, sink: str):
        from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
        from opendata_gov_lt_mysql_import_spark.plans.sync import (
            JsonDirSink,
            apply_sync_ordered,
            export_with_observed_metrics,
            plan_sync,
        )
        from opendata_gov_lt_mysql_import_spark.sources.jdbc import read_reference_tables

        tr, spark = self.tracer, self.spark
        exported = {}
        with tr.span("op"):
            with tr.span("sources.read_reference_tables"):
                tables = read_reference_tables(
                    spark, DERBY_URL, fact_partitions=self.cpus, driver=DERBY,
                    fact_upper_bound=self.src.max_id + 1,
                )
            p = HarvestPipeline(spark, tables)
            with tr.span("pipeline.package_documents"):
                docs = {"package": p.package_documents()}
            with tr.span("pipeline.group_documents"):
                docs["group"] = p.group_documents()
            with tr.span("pipeline.dimension_documents"):
                docs["user"] = p.user_documents()
                docs["organization"] = p.organization_documents()
            for kind, df in docs.items():
                if self.prev_catalog:
                    existing = spark.read.parquet(os.path.join(self.prev_catalog, kind))
                else:
                    existing = spark.createDataFrame([], df.schema)
                with tr.span("sync.plan"):
                    plan = plan_sync(df, existing, key=SYNC_KEYS[kind])
                with tr.span("sync.apply"):
                    apply_sync_ordered(
                        plan, JsonDirSink(os.path.join(sink, kind)),
                        depth_col="depth" if kind == "group" else None,
                    )
                with tr.span("sync.export"):
                    exported[kind] = export_with_observed_metrics(
                        df, os.path.join(catalog, kind)
                    )["rows"]
        return tables, docs, exported

    def _probe(self, tables, docs) -> None:
        """Traced run only, after the cycle: Catalyst phases of the package
        documents and ``slugify_udf`` over the cycle's titles."""
        from pyspark.sql import functions as F

        from opendata_gov_lt_mysql_import_spark.functions.text import slugify_udf

        self.tracer.catalyst.append(catalyst_phases(docs["package"]))
        with self.tracer.span("functions.slugify"):
            tables["rinkmena"].select(
                slugify_udf(length=42)(F.col("PAVADINIMAS")).alias("s")
            ).agg(F.count("s")).collect()

    def _check(self, cycle: int, delta, exported: dict, sink: dict) -> bool:
        from pyspark.sql import functions as F

        published, digest = self.src.catalog_digest()
        dims = {"group": len(self.src.tables["kategorija"]),
                "user": len(self.src.tables["user"]),
                "organization": len(self.src.tables["istaiga"])}
        want_sink = {"package": delta.expected if delta else {"create": published}}
        for kind, n in dims.items():
            want_sink[kind] = {} if delta else {"create": n}
        want_rows = {"package": published, **dims}
        pkg = self.spark.read.parquet(os.path.join(self.prev_catalog, "package"))
        # digest: model-checked for any seed; chk: all columns, recorded per seed
        got = pkg.agg(
            F.count(F.lit(1)),
            F.sum(F.crc32(F.concat_ws("|", "id", "title"))),
            F.expr("bit_xor(xxhash64(to_json(struct(*))))"),
        ).first()
        rows, chk = got[0], got[2]
        self.observed[str(cycle)] = [rows, chk]
        recorded = self.expected.get(str(cycle))
        problems = []
        if sink != want_sink:
            problems.append(f"sink {sink} != {want_sink}")
        if exported != want_rows:
            problems.append(f"exported {exported} != {want_rows}")
        if (got[0], got[1]) != (published, digest):
            problems.append(f"catalog digest {tuple(got)} != {(published, digest)}")
        if recorded is not None and recorded != [rows, chk]:
            problems.append(f"catalog checksum {[rows, chk]} != recorded {recorded}")
        changed = sum(sum(v.values()) for v in sink.values())
        self.stats.append({
            "cycle": cycle,
            "source_rows": len(self.src.rows),
            "changed": changed,
            "evaluated": sum(exported.values()),
            "sink": sink,
        })
        for p in problems:
            log(f"harvest cycle {cycle}: {p}")
        return not problems

    def layer_metrics(self, idx: SpanIndex, ops: set[int], records) -> dict:
        n = len(ops)
        op_spans = idx.named("op", ops)
        cycles = {r.get("cycle") for r in records}
        stats = [s for s in self.stats if s["cycle"] in cycles]
        source_rows = sum(s["source_rows"] for s in stats)
        cycle_exec = idx.exec_stats(op_spans)
        sync = {k: idx.named(f"sync.{k}", ops) for k in ("plan", "apply", "export")}
        out = {
            "sources.jdbc_read_s": cycle_exec["jdbc_task_s"] / n,
            "sources.reads_per_source_row": cycle_exec["jdbc_records"] / source_rows,
            "functions.slugify_s": _mean_duration(idx, idx.named("functions.slugify", ops), n),
            "sync.jobs": sum(idx.exec_stats(v)["jobs"] for v in sync.values()) / n,
            "sync.changed_share": sum(s["changed"] for s in stats)
            / sum(s["evaluated"] for s in stats),
        }
        pipeline = {
            part: idx.named(f"pipeline.{part}", ops)
            for part in ("package_documents", "group_documents", "dimension_documents")
        }
        for part, sids in pipeline.items():
            out[f"pipeline.{part}_s"] = _mean_duration(idx, sids, n)
        for k, sids in sync.items():
            out[f"sync.{k}_s"] = _mean_duration(idx, sids, n)
        construct = sync["plan"] + [s for sids in pipeline.values() for s in sids]
        out.update(exec_metrics(idx, sync["apply"] + sync["export"], n))
        # whole-cycle gap: cycle wall not covered by any Spark job
        out["spark.exec.driver_gap_s"] = cycle_exec["gap_s"] / n
        out["construct_s"] = sum(idx.duration(s) for s in construct) / n
        return out


def _sink_counts(path: str) -> dict[str, dict[str, int]]:
    """Rows the sink received, per entity kind and change kind."""
    out: dict[str, dict[str, int]] = {}
    for f in glob.glob(os.path.join(path, "*", "*.jsonl")):
        entity = os.path.basename(os.path.dirname(f))
        change = os.path.basename(f).split("-", 1)[0]
        with open(f, encoding="utf-8") as fh:
            n = sum(1 for _ in fh)
        by = out.setdefault(entity, {})
        by[change] = by.get(change, 0) + n
    for entity in SYNC_KEYS:
        out.setdefault(entity, {})
    shutil.rmtree(path, ignore_errors=True)
    return out


def _mean_duration(idx: SpanIndex, sids: list[int], n: int) -> float:
    return sum(idx.duration(s) for s in sids) / n


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times (ms) of ``df``'s own QueryExecution, after
    forcing its optimization and physical planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def exec_metrics(idx: SpanIndex, sids: list[int], n: int) -> dict[str, float]:
    st = idx.exec_stats(sids)
    return {
        "spark.exec.action_s": st["wall_s"] / n,
        "spark.exec.jobs": st["jobs"] / n,
        "spark.exec.tasks": st["tasks"] / n,
        "spark.exec.task_s": st["task_s"] / n,
        "spark.exec.driver_gap_s": st["gap_s"] / n,
        "spark.exec.input_bytes": st["input_bytes"] / n,
        "spark.exec.shuffle_write_bytes": st["shuffle_write_bytes"] / n,
        "spark.exec.spill_bytes": st["spill_bytes"] / n,
    }


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with ten or fewer samples, the maximum."""
    s = sorted(walls)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[*QUERY_WORKLOADS, "harvest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    t0 = _now()
    from opendata_gov_lt_mysql_import_spark.session import get_spark

    events = os.path.join(args.work, "events")
    extra = {}
    if args.trace:
        os.makedirs(events, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            # one plain JSON-lines file, readable without a codec
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    spark.range(1).collect()
    session_start = _now() - t0

    tracer = Tracer(spark, bool(args.trace))
    expected = load_expected()
    if args.workload == "harvest":
        wl = HarvestWorkload(spark, tracer, args.seed, args.work, expected)
    else:
        wl = QueryWorkload(spark, tracer, args.workload, expected)
    setup_ok = wl.setup()
    setup_s = _now() - t0

    rng = random.Random(args.seed)
    first_catalyst = len(tracer.catalyst)
    records: list[dict] = []
    t_loop = _now()
    # whole passes only, so every run measures the same operation mix
    for done, batch in enumerate(wl.passes(rng), start=1):
        for item in batch:
            tracer.op = len(records)
            records.append(wl.run_op(item))
        if done >= wl.min_passes and _now() - t_loop >= args.seconds:
            break
    loop_s = _now() - t_loop
    tracer.op = None

    walls = [r["wall"] for r in records if r["ok"]] or [r["wall"] for r in records]
    tail_s, tail_pct = tail(walls)
    failed = sum(not r["ok"] for r in records)
    result = {
        "setup_ok": setup_ok,
        "attempted": len(records),
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "op_s.p50": statistics.median(walls),
            "op_s.tail": tail_s,
            "ops_per_min": 60.0 * len(records) / loop_s,
        },
        "detail": {
            "workload": args.workload,
            "seed": args.seed,
            "session.start_s": session_start,
            "op_s.tail_percentile": tail_pct,
            "n": len(walls),
            "failed_share": failed / len(records),
            "ops": [(r["name"], round(r["wall"], 4), r["ok"]) for r in records],
            "observed": wl.observed,
        },
    }
    if args.workload == "harvest":
        rows = sum(r["rows"] for r in records)
        result["detail"]["rows_per_s"] = rows / sum(r["wall"] for r in records)
        result["detail"]["cycles"] = wl.stats

    if args.trace:
        spark.stop()  # flushes the event log
        result["spans"] = tracer.spans
        idx = SpanIndex(tracer.spans, read_event_log(events))
        ops = set(range(len(records)))
        layers = {
            "session.start_s": session_start,
            "traced.op_s.p50": statistics.median(walls),
            **wl.layer_metrics(idx, ops, records),
        }
        cat = tracer.catalyst[first_catalyst:]
        for phase in ("analysis", "optimization", "planning"):
            layers[f"spark.catalyst.{phase}_ms"] = statistics.mean(c[phase] for c in cat)
        result["layers"] = layers

    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
