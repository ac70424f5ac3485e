"""The three workloads, each a closed loop with one client.

A workload object owns its tables, its generator model and the fake
endpoints' state. ``setup()`` is the timed set-up (engine side only),
``cycle()`` one timed unit of work, ``check()`` the untimed output check
after a cycle. Every call into an engine layer sits inside a tracer span
named ``<layer>.<function>``; with tracing off the spans cost nothing.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from bw_new_data_integration_spark.operators.matview import finish_rollup
from bw_new_data_integration_spark.plans import pipeline as plans
from bw_new_data_integration_spark.plans.matview_pipeline import (
    maintain_pipeline_rollup,
    serve_pipeline_from_matview,
    staging_frame,
)
from bw_new_data_integration_spark.plans.slicers import mdx_member_13_4
from bw_new_data_integration_spark.sources import odata, xmla
from bw_new_data_integration_spark.sources.parquet_target import ParquetKeyedTable
from bw_new_data_integration_spark.sources.sync import sync_to_rest
from perfbench import endpoints, gen, oracle

BK = endpoints.BK
SYNC_APP = "perfbench"
#: every 8th $batch request of the nightly push is refused with 429
NIGHTLY_THROTTLE_EVERY = 8


def batch_transport_factory(base_url: str, table: str):
    """Executor-side factory for the engine's real ``$batch`` transport."""

    def factory():
        from bw_new_data_integration_spark.sources.credentials import TokenProvider
        from bw_new_data_integration_spark.sources.http_transport import (
            HttpClient,
            ODataBatchTransport,
        )

        return ODataBatchTransport(HttpClient(base_url), table, TokenProvider(lambda: "bench"), BK)

    return factory


def xmla_execute_factory(base_url: str, catalog: str, soap_s):
    """Executor-side factory for the engine's XMLA executor, wrapped to
    add each round trip's wall time to the ``soap_s`` accumulator."""

    def factory():
        from bw_new_data_integration_spark.sources.http_transport import make_xmla_executor

        execute = make_xmla_executor(base_url, catalog, "bench", "bench")

        def timed(mdx: str) -> str:
            t0 = time.perf_counter()
            try:
                return execute(mdx)
            finally:
                soap_s.add(time.perf_counter() - t0)

        return timed

    return factory


def table_versions(table: ParquetKeyedTable, since: int) -> list[dict]:
    """Manifests of the versions committed after ``since``."""
    return [m for v in range(since + 1, table.current_version() + 1) if (m := table.manifest(v))]


def commit_counts(manifests: list[dict], prev_files: int) -> dict:
    """Files written/linked and bytes written by a run of commits;
    ``touched`` is written files over the files of the version before."""
    out = {"commits": len(manifests), "files_rewritten": 0, "files_linked": 0, "bytes_written": 0, "prev_files": 0}
    for m in manifests:
        written = [f for f in m["files"] if not f["linked"]]
        out["files_rewritten"] += len(written)
        out["files_linked"] += m["n_linked"]
        out["bytes_written"] += sum(f["bytes"] for f in written)
        out["prev_files"] += prev_files
        prev_files = m["n_files"]
    return out


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    throttle_every = 0
    #: unmeasured cycles after the first, then at least this many
    #: measured ones even when --seconds runs out first
    warmup_cycles = 0
    min_cycles = 3
    #: a traced run traces or skips blocks of this many warm cycles
    trace_block = 1

    def __init__(self, spark, tracer, seed: int, root: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.root = root
        self.server = endpoints.FakeServer(throttle_every=self.throttle_every)
        self.base_url = ""
        self._scans: list[tuple] = []  # (query frame, table) per read this cycle
        self.spec = plans.load_pipelines(oracle.PIPELINES_YAML)["daily_sales_full"]

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def table(self, name: str) -> ParquetKeyedTable:
        return getattr(self, name)

    def close(self) -> None:
        self.server.close()

    # -- landing + rollup shared by nightly_sync and serve_reads -------------

    def _open_landing(self) -> None:
        self.landing = ParquetKeyedTable(
            os.path.join(self.root, "landing"), ["k"], change_feed=True, stats_cols=["calendar_date"]
        )
        self.rollup = ParquetKeyedTable(
            os.path.join(self.root, "rollup"), ["store_number", "calendar_date"], change_feed=True
        )

    def _frame(self, pdf: pd.DataFrame):
        return self.spark.createDataFrame(pdf, gen.LANDING_SCHEMA)

    def _land(self, batch: gen.ChangeBatch) -> None:
        with self.span("pipeline.staging_frame"):
            staged = staging_frame(self._frame(batch.upserts), self.spec)
        with self.span("parquet_target.upsert"):
            self.landing.upsert(self.spark, staged)
        if len(batch.delete_keys):
            keys = self.spark.createDataFrame(pd.DataFrame({"k": batch.delete_keys}), "k bigint")
            with self.span("parquet_target.delete_keys"):
                self.landing.delete_keys(self.spark, keys)

    def _read(self, q: tuple):
        """Run one dashboard query (see ``gen.dashboard_query``) and
        collect its answer to the driver; keeps the query's scan for
        ``scanned_ratio``. Returns (result rows, answer)."""
        s = self.spark
        if q[0] == "slice":
            _k, stores, lo, hi = q
            with self.span("matview.serve_pipeline_from_matview"):
                df = serve_pipeline_from_matview(s, self.spec, self.rollup).where(
                    F.col("store_number").isin([str(x) for x in stores])
                    & F.col("calendar_date").between(gen.day_date(lo).isoformat(), gen.day_date(hi).isoformat())
                )
                rows = df.collect()
            self._scans.append((df, self.rollup))
            return rows, {r[BK]: {k: v for k, v in r.asDict().items() if v is not None} for r in rows}
        if q[0] == "range":
            _k, lo, hi = q
            with self.span("parquet_target.read_where"):
                df = self.landing.read_where(s, [("calendar_date", "between", (gen.day_date(lo), gen.day_date(hi)))])
                rows = df.agg(F.count(F.lit(1)), F.sum("l_quantity"), F.max("l_extendedprice")).collect()
            self._scans.append((df, self.landing))
            n, qty, mx = rows[0]
            return rows, (int(n), float(qty or 0.0), mx)
        with self.span("parquet_target.read_where"):
            df = self.landing.read_where(s, [("k", "=", q[1])])
            rows = df.collect()
        self._scans.append((df, self.landing))
        return rows, (oracle._landing_row(rows[0].asDict()) if len(rows) == 1 else None)

    def _read_problems(self, q: tuple, want, got) -> list[str]:
        if q[0] == "slice":
            return oracle.diff_records(want, got)
        return [] if want == got else [f"query {q}: expected {want!r} got {got!r}"]

    def scanned_ratio(self) -> float:
        """Mean over the cycle's queries of the files a query's plan
        reads over its table snapshot's files; 0 when nothing was read."""
        ratios = [len(df.inputFiles()) / max(t.manifest()["n_files"], 1) for df, t in self._scans]
        return sum(ratios) / len(ratios) if ratios else 0.0

    def _refresh(self) -> dict:
        with self.span("matview.maintain_pipeline_rollup") as s:
            stats = maintain_pipeline_rollup(self.spark, self.spec, self.landing, self.rollup)
            s["stats"] = {k: v for k, v in stats.items() if isinstance(v, (int, float, str)) or v is None}
        return stats


class NightlySync(Workload):
    """The reference's daily 2:00 AM job in O(churn) form: land a
    restatement of the trailing 14 days plus a new day, refresh the
    rollup, push the changed groups to the throttling ``$batch`` sink,
    then serve two dashboard reads of the refreshed state: a store/date
    slice from the rollup and a key lookup on the landing table."""

    name = "nightly_sync"
    tables = ("landing", "rollup")
    throttle_every = NIGHTLY_THROTTLE_EVERY

    def setup(self) -> None:
        self.model = gen.LandingModel(self.seed)
        self._read_rng = np.random.default_rng([self.seed, 4])
        self._open_landing()
        with self.span("endpoint.start"):
            self.base_url = self.server.start()
        self.transport = batch_transport_factory(self.base_url, "target_daily_sales_full")
        self._measures = self.spec.aggregate.measures
        with self.span("pipeline.staging_frame"):
            staged = staging_frame(self._frame(self.model.history()), self.spec)
        with self.span("parquet_target.upsert"):
            self.landing.upsert(self.spark, staged)
        self._refresh()
        self._sync()

    def _finish(self, df):
        """Rollup rows → sink records: derive AVG/ratio measures, present
        counts as integers and sums as doubles, then the pipeline's own
        post-aggregate stages (mapping, business key)."""
        with self.span("pipeline.finish_plan"):
            avgs = {n: m["expr"] for n, m in self._measures.items() if m.get("agg") == "avg"}
            ratios = {n: (m["num"], m["den"]) for n, m in self._measures.items() if m.get("agg") == "ratio"}
            cols = [F.col(d) for d in self.spec.aggregate.dims]
            for n, m in self._measures.items():
                kind = m.get("agg", "sum")
                cast = {"count": "bigint", "sum": "double"}.get(kind)
                cols.append(F.col(n).cast(cast).alias(n) if cast else F.col(n))
            return plans.finish_plan(finish_rollup(df, avgs, ratios).select(*cols), self.spec)

    def _sync(self) -> dict:
        with self.span("sync.sync_to_rest") as s:
            stats = sync_to_rest(self.spark, self.rollup, self.transport, BK, app=SYNC_APP, finish=self._finish)
            s["stats"] = stats
        return stats

    def before_cycle(self) -> None:
        self._batch = self.model.next_batch()
        self._batch_bytes = (
            pa.Table.from_pandas(self._batch.upserts, preserve_index=False).nbytes + 8 * len(self._batch.delete_keys)
        )
        self._queries = [gen.dashboard_query(kind, self._read_rng, self.model) for kind in ("slice", "point")]
        self._scans = []

    def cycle(self) -> dict:
        batch = self._batch
        self._land(batch)
        refresh = self._refresh()
        push = self._sync()
        self._got = [self._read(q)[1] for q in self._queries]
        rows = len(batch.upserts) + len(batch.delete_keys)
        return {
            "rows": rows,
            "batch_bytes": self._batch_bytes,
            "refresh": refresh,
            "records": push["upserted"] + push["deleted"] + push["errors"],
            "failed_records": push["errors"],
        }

    def check(self) -> list[str]:
        daily = oracle.expected_daily_sales(self.model.state)
        problems = oracle.diff_records(daily, self.server.sink)
        answers = oracle.serve_answers(self.model.state, daily, self._queries)
        for q, want, got in zip(self._queries, answers, self._got):
            problems += self._read_problems(q, want, got)
        return problems

    def rollup_groups(self) -> int:
        return len(self.model.state[["l_suppkey", "l_shipdate"]].drop_duplicates())


class FullRefresh(Workload):
    """The reference's weekly full sync: a 39-period cube backfill over
    XMLA, mapped by the plan builder, overwritten into the target, then
    a mass delete of the previous keys and a bulk push of every row."""

    name = "full_refresh"
    tables = ("target",)

    def setup(self) -> None:
        self.cube_spec = plans.load_pipelines(gen.CUBE_YAML)["weekly_cube_sales"]
        self.cube = gen.CubeModel(self.seed)
        with self.span("endpoint.start"):
            self.server.prerender_cube(self.cube)
            self.base_url = self.server.start()
        self.transport = batch_transport_factory(self.base_url, self.cube_spec.mapping.table)
        self.soap_s = self.spark.sparkContext.accumulator(0.0)
        self.mdx_by_slice = self.cube_spec.backfill_mdx(
            {name: mdx_member_13_4(int(name[:4]), int(name[6:])) for name in gen.slice_names()}
        )
        self.target = ParquetKeyedTable(os.path.join(self.root, "target"), [BK])
        self.revision = -1
        self._expected: dict[int, dict] = {}

    def before_cycle(self) -> None:
        self.revision += 1
        self.server.cube_revision = self.revision % self.cube.shape.revisions

    def cycle(self) -> dict:
        spec = self.cube_spec
        with self.span("xmla.fetch_partitioned_distributed"):
            df = xmla.fetch_partitioned_distributed(
                self.spark,
                xmla_execute_factory(self.base_url, spec.catalog, self.soap_s),
                self.mdx_by_slice,
                [dict(h) for h in spec.hierarchies],
                dim_fields=[h["field"] for h in spec.hierarchies],
                measure_fields=[caption for caption, _f in spec.cube_measures],
            )
            for caption, field in spec.cube_measures:
                df = df.withColumnRenamed(caption, field)
        with self.span("pipeline.build_plan"):
            mapped = plans.build_plan(df, spec)
        previous = self.target.read(self.spark)
        with self.span("parquet_target.overwrite"):
            self.target.overwrite(mapped)
        pushes = []
        if previous is not None:
            with self.span("odata.delete_batched"):
                pushes.append(odata.delete_batched(previous.select(BK), self.transport, BK))
        with self.span("odata.write_batched"):
            pushes.append(odata.write_batched(self.target.read(self.spark), self.transport, BK))
        return {
            "rows": self.cube.rows(self.server.cube_revision),
            "records": sum(p["created"] + p["updated"] + p["errors"] for p in pushes),
            "failed_records": sum(p["errors"] for p in pushes),
        }

    def _expected_now(self) -> dict:
        rev = self.server.cube_revision
        if rev not in self._expected:
            self._expected[rev] = oracle.expected_cube_records(self.cube, rev)
        return self._expected[rev]

    def check(self) -> list[str]:
        expected = self._expected_now()
        problems = [f"sink: {p}" for p in oracle.diff_records(expected, self.server.sink)]
        target = {}
        for row in self.target.read(self.spark).collect():
            rec = {k: (v.isoformat() if k == "calendar_date" else v) for k, v in row.asDict().items() if v is not None}
            target[rec[BK]] = rec
        problems += [f"target: {p}" for p in oracle.diff_records(expected, target)]
        return problems


class ServeReads(Workload):
    """Dashboard reads of what the nightly job produced: setup replays
    the seeded nightly history (no compaction), then each cycle is one
    query from a seeded mix, collected to the driver and checked."""

    name = "serve_reads"
    tables = ("landing", "rollup")
    history_nights = 1
    n_queries = 400
    trace_block = len(gen.SERVE_PATTERN)  # compare traced and untraced cycles over the same mix
    warmup_cycles = len(gen.SERVE_PATTERN)
    min_cycles = 4 * len(gen.SERVE_PATTERN)

    def setup(self) -> None:
        self.model = gen.LandingModel(self.seed)
        self._open_landing()
        with self.span("pipeline.staging_frame"):
            staged = staging_frame(self._frame(self.model.history()), self.spec)
        with self.span("parquet_target.upsert"):
            self.landing.upsert(self.spark, staged)
        self._refresh()
        for _ in range(self.history_nights):
            self._land(self.model.next_batch())
        self._refresh()
        self.queries = gen.serve_queries(self.seed, self.model, self.n_queries)
        self.next_query = 0

    def prepare_oracle(self) -> None:
        daily = oracle.expected_daily_sales(self.model.state)
        self.answers = oracle.serve_answers(self.model.state, daily, self.queries)

    def before_cycle(self) -> None:
        self.qi = self.next_query % len(self.queries)
        self.next_query += 1
        self._scans = []

    def cycle(self) -> dict:
        rows, self._got = self._read(self.queries[self.qi])
        return {"rows": len(rows), "records": 0, "failed_records": 0}

    def check(self) -> list[str]:
        return self._read_problems(self.queries[self.qi], self.answers[self.qi], self._got)


WORKLOADS = {w.name: w for w in (NightlySync, FullRefresh, ServeReads)}
