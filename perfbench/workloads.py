"""The four workloads. Each one stages its inputs, runs operations through
the :class:`~perfbench.harness.Runner` and checks its outputs.

Interface (called by :func:`perfbench.harness.run_workload`):

- ``stage()``: input staging, timed as part of ``setup_s``;
- ``instrument(patcher)``: traced runs only, wraps layer functions;
- ``cold()``: the first operation(s) plus the correctness gate; returns
  ``cold_op_s``;
- ``round(r)``: the ops of round ``r`` (empty when inputs run out); the
  first ``warmup_rounds`` rounds are untimed warm-up;
- ``finish()``: the end-of-run gate, where there is one;
- ``probes()``: traced runs only, layer values measured in isolation;
- ``close()``: stop what the workload started and delete its files.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import sys
import time
from functools import partial

from tests import oracle_harness

from . import datagen, stats
from .harness import WrongResult

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "tests", "fixtures")
PKG = "etl_dashboard_project_1_spark"


def _tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's hidden
    ``_SUCCESS``/``.crc`` bookkeeping files."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _program_modules() -> list:
    return [m for name, m in list(sys.modules.items())
            if m is not None and (name == PKG or name.startswith(PKG + ".")
                                  or name == "__spark_entry__")]


class Workload:
    name = ""
    rows_metric = True
    #: untimed rounds between the cold phase and the timed phase
    warmup_rounds = 1

    def __init__(self, spark, settings, runner, tracer):
        self.spark = spark
        self.settings = settings
        self.runner = runner
        self.tracer = tracer
        self.rng = random.Random(settings.seed)
        self.gate_detail: dict = {}

    def instrument(self, patcher) -> None:
        pass

    def finish(self) -> None:
        pass

    def probes(self) -> dict:
        return {}

    def close(self) -> None:
        pass


# --- vehicle_refresh -----------------------------------------------------------


class VehicleRefresh(Workload):
    """The paper's refresh job over the 7,569-row vehicle workbook: messy
    frame -> header inference + canonicalization -> vehicle pipeline with
    the fuzzy importer join -> 35-column projection -> CSV + parquet."""

    name = "vehicle_refresh"

    def __init__(self, *args):
        super().__init__(*args)
        self.catalog_path = os.path.join(self.settings.work_dir, "header_catalog.json")
        self.sinks: list[str] = []
        self.n_sinks = 0

    def stage(self) -> None:
        import pandas as pd

        from etl_dashboard_project_1_spark.functions.headers import HeaderCanonicalizer
        from etl_dashboard_project_1_spark.plans.vehicle_pipeline import ROW_ID
        from etl_dashboard_project_1_spark.sources import writers

        raw = pd.read_parquet(os.path.join(FIXTURES, "vehicle_raw.parquet"))
        raw = raw.drop(columns=[ROW_ID])
        names = list(raw.columns)
        # header block (the fixture's column names) + one blank spacer row
        header = pd.DataFrame([names, [None] * len(names)], dtype=object)
        body = raw.astype(object)
        body.columns = range(len(names))
        self.messy = pd.concat([header, body], ignore_index=True)
        self.n_rows = len(raw)
        # identity catalog: every header is its own canonical name, so each
        # lookup takes the hash-cache path
        catalog = {n: {"original_names": [n], "hashes": [HeaderCanonicalizer.header_hash(n)]}
                   for n in names}
        writers.write_json_catalog(catalog, self.catalog_path)
        self.canon = HeaderCanonicalizer(self.catalog_path)
        self.importers = self.spark.createDataFrame(
            pd.read_parquet(os.path.join(FIXTURES, "vehicle_importers.parquet")))

    def instrument(self, patcher) -> None:
        from etl_dashboard_project_1_spark.sources import excel

        tr = self.tracer
        patcher.set(excel, "infer_header_structure",
                    tr.wrap(excel.infer_header_structure, "sources.excel.infer"))
        canon = self.canon
        original = canon.standardize_all
        before = {}

        def standardize_all(headers):
            before["n"] = len(canon.catalog)
            return original(headers)

        def observe(args, _kw, _out):
            lookups = len(args[0])
            misses = len(canon.catalog) - before["n"]
            tr.count("functions.headers.lookups", lookups)
            tr.count("functions.headers.hits", lookups - misses)

        patcher.set(canon, "standardize_all",
                    tr.wrap(standardize_all, "functions.headers.standardize", observe))

    def refresh(self, sink: str) -> None:
        from etl_dashboard_project_1_spark.plans import vehicle_pipeline as vp
        from etl_dashboard_project_1_spark.sources import excel, writers

        tr = self.tracer
        with tr.span("sources.excel.ingest"):
            sdf = excel.ingest_messy_frame(self.spark, self.messy, self.canon)
        with tr.span("plans.build"):
            out = vp.final_projection(vp.vehicle_pipeline(sdf, importer_catalog=self.importers))
        with tr.span("plans.exec"):
            with tr.span("sources.writers.write"):
                writers.write_csv(out, os.path.join(sink, "csv"))
            with tr.span("sources.writers.write"):
                writers.write_parquet(out, os.path.join(sink, "parquet"))
        if tr.active:
            files, size = _tree_size(sink)
            tr.count("sources.writers.files_written", files)
            tr.count("sources.writers.bytes_written", size)

    def _sink(self) -> str:
        """A fresh sink directory; earlier ones are deleted first, outside
        any timed operation."""
        self._drop_sinks()
        self.n_sinks += 1
        path = os.path.join(self.settings.work_dir, f"sink-{self.n_sinks}")
        self.sinks.append(path)
        return path

    def _drop_sinks(self) -> None:
        for path in self.sinks:
            shutil.rmtree(path, ignore_errors=True)
        self.sinks.clear()

    def cold(self) -> float:
        sink = self._sink()
        rec = self.runner.run("refresh", partial(self.refresh, sink), "cold", self.n_rows)
        if rec.ok:
            problem = self.gate(os.path.join(sink, "parquet"))
            if problem:
                self.runner.fail(rec, f"gate: {problem}")
        self._drop_sinks()
        return rec.latency

    def gate(self, parquet_dir: str) -> str | None:
        """Row count, then the per-(year, propulsion, class) summary of the
        written table against ``VEHICLE_SUMMARY_SQL`` over the golden
        fixture."""
        from pyspark.sql import functions as F

        from etl_dashboard_project_1_spark.plans import round5_queries

        df = self.spark.read.parquet(parquet_dir)
        n = df.count()
        self.gate_detail = {"rows": n, "expected_rows": self.n_rows}
        if n != self.n_rows:
            return f"{n} rows != {self.n_rows}"
        summary = df.groupBy(
            F.col("AÑO").alias("anio"),
            F.col("CATEGORIA_PROPULSION").alias("cat_prop"),
            F.col("TIPO_LDV").alias("tipo_ldv"),
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("MARCA").alias("n_marcas"),
            F.count("RUT").cast("long").alias("n_rut"),
        )
        # the SQL reads the golden fixture by path; FIXTURES holds no tables
        ok, detail = oracle_harness.compare(
            self.spark, lambda *_: summary, round5_queries.VEHICLE_SUMMARY_SQL, FIXTURES)
        self.gate_detail["summary"] = detail
        return None if ok else detail

    def round(self, r: int):
        return [("refresh", partial(self.refresh, self._sink()), self.n_rows, None)]

    def probes(self) -> dict:
        """ffill and the fuzzy importer match, each called on a
        materialized input and forced; medians of three."""
        from pyspark.sql import functions as F

        from etl_dashboard_project_1_spark.functions.similarity import difflib_ratio_junk_udf
        from etl_dashboard_project_1_spark.operators import cleaning
        from etl_dashboard_project_1_spark.operators.fuzzy import fuzzy_match_names
        from etl_dashboard_project_1_spark.plans import vehicle_pipeline as vp
        from etl_dashboard_project_1_spark.sources.excel import ingest_messy_frame

        self._drop_sinks()
        fill_cols = ["FECHA_HOML", "PESO_BRUTO_VH_KG"]
        sdf = ingest_messy_frame(self.spark, self.messy, self.canon)
        base = sdf
        for c in fill_cols:
            base = base.withColumn(c, cleaning.sentinel_to_null(c))
        base = base.localCheckpoint(eager=True)
        names = vp.transform_categories(sdf).select("IMPORTADOR").localCheckpoint(eager=True)
        catalog = self.importers.select("NOMBRE_EMP", "RUT", "COD_IMP")
        ffill_s, match_s = [], []
        matched = []
        for _ in range(3):
            t = time.perf_counter()
            filled = cleaning.ffill(base, fill_cols, order_cols=[vp.ROW_ID])
            filled.write.format("noop").mode("overwrite").save()
            ffill_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            m = fuzzy_match_names(names, "IMPORTADOR", catalog, "NOMBRE_EMP", threshold=0.6,
                                  score_fn=difflib_ratio_junk_udf, normalize=False, strict=True)
            matched = m.select(F.col("matched_NOMBRE_EMP").isNotNull()).collect()
            match_s.append(time.perf_counter() - t)
        return {
            "operators.cleaning.ffill_s": stats.median(ffill_s),
            "operators.fuzzy.match_s": stats.median(match_s),
            "operators.fuzzy.match_ratio": stats.ratio(sum(r[0] for r in matched), len(matched)),
        }

    def close(self) -> None:
        self._drop_sinks()
        if os.path.exists(self.catalog_path):
            os.remove(self.catalog_path)


# --- registry query mixes ------------------------------------------------------


class QueryMix(Workload):
    """Seeded rounds over a fixed list of registry queries on seeded
    sf-scaled tables. Every round runs each query once, in a fresh seeded
    order, so every round does the same work."""

    queries: list[str] = []
    #: the tables the queries read; only these are generated and staged
    tables: tuple[str, ...] = ()
    #: query -> table whose rows count as the query's input rows
    input_table: dict[str, str] = {}

    def stage(self) -> None:
        import __spark_entry__ as registry

        tables = datagen.make_tables(self.settings.seed, self.settings.sf, self.tables)
        self.sf_dir = os.path.join(self.settings.work_dir, "sf")
        datagen.write_tables(tables, self.sf_dir)
        self.table_rows = {name: t.num_rows for name, t in tables.items()}
        fns, sqls = registry.queries(), registry.oracle_sql()
        self.fns = {q: fns[q] for q in self.queries}
        self.sqls = {q: sqls[q] for q in self.queries}

    def close(self) -> None:
        if hasattr(self, "sf_dir"):
            shutil.rmtree(self.sf_dir, ignore_errors=True)

    def instrument(self, patcher) -> None:
        from etl_dashboard_project_1_spark import session
        from etl_dashboard_project_1_spark.operators import dedup, textops, vector

        tr = self.tracer
        modules = _program_modules()
        returned: dict[tuple, object] = {}

        def observe_load(args, kwargs, df):
            key = (os.path.abspath(args[1]), args[2])
            tr.count("session.load_table.calls")
            if returned.get(key) is df:
                tr.count("session.load_table.hits")
            returned[key] = df

        patcher.replace_everywhere(
            modules, session.load_table,
            tr.wrap(session.load_table, "session.load_table", observe_load))
        patcher.replace_everywhere(
            modules, session.fan_out, tr.wrap(session.fan_out, "session.fan_out"))
        for family, mod in (("dedup", dedup), ("textops", textops), ("vector", vector)):
            for attr, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not attr.startswith("_")):
                    patcher.replace_everywhere(
                        modules, fn, tr.wrap(fn, f"operators.{family}"))

    def rows(self, q: str) -> int:
        table = self.input_table.get(q)
        return self.table_rows[table] if table else 0

    def cold(self) -> float:
        """One pass over every query in a seeded order, then the oracle
        gate; cold_op_s is the mean first-execution latency."""
        recs = {q: self.runner.run(q, partial(self.execute, q), "cold", self.rows(q))
                for q in self.rng.sample(self.queries, len(self.queries))}
        self.gate(recs)
        return sum(r.latency for r in recs.values()) / len(recs)

    def gate(self, recs) -> None:
        """Each query against its registry ``oracle_sql`` in DuckDB over
        the same staged tables."""
        for q, rec in recs.items():
            if not rec.ok:
                continue
            ok, detail = oracle_harness.compare(self.spark, self.fns[q], self.sqls[q],
                                                self.sf_dir)
            self.gate_detail[q] = detail
            if not ok:
                self.runner.fail(rec, f"gate: {detail}")

    def round(self, r: int):
        order = self.rng.sample(self.queries, len(self.queries))
        return [(q, partial(self.execute, q), self.rows(q), None) for q in order]


class DashboardMix(QueryMix):
    """Dashboard queries, each result collected to the driver."""

    name = "dashboard_mix"
    rows_metric = False
    queries = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q6_forecast_revenue", "q7_nation_volume", "q10_returned_items",
        "agg_cube_year_status", "agg_rollup_region_nation", "pivot_status_by_year",
        "window_running_sum", "topk_parts_per_brand", "agg_percentiles",
    ]
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events")

    def __init__(self, *args):
        super().__init__(*args)
        self.first_rows: dict[str, int] = {}

    def execute(self, q: str) -> None:
        """Build, collect; every result of a query must have the row count
        of its first one."""
        with self.tracer.span("plans.build"):
            df = self.fns[q](self.spark, self.sf_dir)
        with self.tracer.span("plans.exec"):
            rows = df.collect()
        first = self.first_rows.setdefault(q, len(rows))
        if len(rows) != first:
            raise WrongResult(f"{len(rows)} rows != {first}")


class CurationBatch(QueryMix):
    """LLM-data curation operators, each forced to the noop sink."""

    name = "curation_batch"
    queries = [
        "dedup_exact", "dedup_minhash_lsh", "text_quality", "text_pii_scrub",
        "sim_cosine_topk", "pack_chunks_manifest", "j1_fuzzy_similarity_join",
    ]
    tables = ("documents", "embeddings", "nation")
    input_table = {
        "dedup_exact": "documents", "dedup_minhash_lsh": "documents",
        "text_quality": "documents", "text_pii_scrub": "documents",
        "sim_cosine_topk": "embeddings", "pack_chunks_manifest": "documents",
        "j1_fuzzy_similarity_join": "nation",
    }

    def execute(self, q: str) -> None:
        with self.tracer.span("plans.build"):
            df = self.fns[q](self.spark, self.sf_dir)
        with self.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()


# --- event_ingest --------------------------------------------------------------


class EventIngest(Workload):
    """Event part files land one at a time in a directory read by the
    program's file stream; each micro-batch is upserted (latest event per
    user) into a parquet target that is rewritten on every batch."""

    name = "event_ingest"
    n_parts = 100
    warmup_rounds = 12

    def stage(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from etl_dashboard_project_1_spark.streaming import jobs

        self.dir = os.path.join(self.settings.work_dir, "events")
        pending = os.path.join(self.dir, "pending")
        self.landing = os.path.join(self.dir, "src", "events.parquet")
        self.target = os.path.join(self.dir, "target")
        os.makedirs(pending)
        os.makedirs(self.landing)
        events = datagen.make_events(self.settings.seed, self.settings.sf)
        rng = np.random.default_rng([self.settings.seed, 1])
        part_of = rng.integers(0, self.n_parts, events.num_rows)
        self.parts = []
        for p in range(self.n_parts):
            part = events.filter(pa.array(part_of == p))
            path = os.path.join(pending, f"part-{p:05d}.parquet")
            pq.write_table(part, path)
            self.parts.append((path, part.num_rows))
        self.landed: list[str] = []
        self.spark.conf.set("spark.sql.streaming.checkpointLocation",
                            os.path.join(self.dir, "checkpoints"))
        self.query = jobs.foreach_batch_upsert(
            jobs.read_events_stream(self.spark, os.path.dirname(self.landing)),
            self.target, key="user_id", order_col="ts", resolve="max_order",
            tiebreak_col="event_id",
        )
        self.group = str(self.query.runId)

    def close(self) -> None:
        if hasattr(self, "query"):
            self.query.stop()
        if hasattr(self, "dir"):
            shutil.rmtree(self.dir, ignore_errors=True)

    def land_and_drain(self, src: str, n_events: int) -> None:
        dst = os.path.join(self.landing, os.path.basename(src))
        os.rename(src, dst)
        self.landed.append(dst)
        self.query.processAllAvailable()
        tr = self.tracer
        if tr.active:
            # one landed file makes one micro-batch: the query's last progress
            p = self.query.lastProgress
            if p and p["numInputRows"]:
                d = p["durationMs"]
                tr.count("streaming.batch_s", d.get("triggerExecution", 0) / 1000.0)
                tr.count("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            tr.count("streaming.bytes_rewritten", _tree_size(self.target)[1])
            tr.count("streaming.events", n_events)

    def _next_part(self):
        """``(name, fn, rows, job_group)`` landing the next part, or None
        when every part has landed."""
        if len(self.landed) >= len(self.parts):
            return None
        src, n = self.parts[len(self.landed)]
        return "micro_batch", partial(self.land_and_drain, src, n), n, self.group

    def cold(self) -> float:
        name, fn, rows, group = self._next_part()
        return self.runner.run(name, fn, "cold", rows, job_group=group).latency

    def round(self, r: int):
        op = self._next_part()
        return [op] if op else []

    def finish(self) -> None:
        """The target must hold each user's latest landed event."""
        from pyspark.sql import functions as F

        from etl_dashboard_project_1_spark.plans.streaming_queries import (
            STREAM_UPSERT_LATEST_SQL,
        )

        df = self.spark.read.parquet(self.target).select(
            "user_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "event_type", "value")
        files = ", ".join(f"'{p}'" for p in self.landed)
        sql = (f"WITH events AS (SELECT * FROM read_parquet([{files}]))\n"
               + STREAM_UPSERT_LATEST_SQL)
        # self.dir holds no <table>.parquet file, so the oracle sees only
        # the landed parts, through the CTE
        ok, detail = oracle_harness.compare(self.spark, lambda *_: df, sql, self.dir)
        self.gate_detail = {"batches": len(self.landed), "target": detail}
        if not ok:
            self.runner.fail(self.runner.records[-1], f"gate: {detail}")


WORKLOADS = {w.name: w for w in (VehicleRefresh, DashboardMix, CurationBatch, EventIngest)}
