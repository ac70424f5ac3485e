"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload nightly_sync --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A readable report goes to standard error. See
perfbench/README.md for the workloads and every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")

#: Spark settings, the same on every run: four local cores (capped by
#: the machine's) and a driver heap that fits a 15 GB box
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"

def _isolate(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under run_dir,
    and let executor-side Python import the engine and the benchmark."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def _spark_conf(run_dir: str) -> dict:
    # -Xms pins the heap at its maximum, so peak RSS no longer depends on
    # when the collector chose to grow the heap (perfbench/README.md
    # §Settings has the before/after spread)
    java = (
        f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
        f"-XX:-UsePerfData -Dderby.system.home={run_dir}"
    )
    return {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _disk_bytes(paths: list[str]) -> int:
    """Bytes of distinct inodes under ``paths`` (hard links count once)."""
    seen: set[tuple[int, int]] = set()
    total = 0
    for top in paths:
        for d, _dirs, files in os.walk(top):
            for name in files:
                st = os.lstat(os.path.join(d, name))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total


def _quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Result:
    def __init__(self) -> None:
        self.setup_s = 0.0
        self.session_s = 0.0
        self.first_cycle_s = 0.0
        self.cycles: list[dict] = []  # one dict per measured cycle
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.disk_bytes = 0
        self.peak_rss_mb = 0.0
        self.spans: list[dict] = []


def run(workload: str, seed: int, seconds: float, trace: bool) -> Result:
    from bw_new_data_integration_spark.session import get_spark
    from perfbench.trace import Tracer, union_length
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    _isolate(run_dir)
    res = Result()
    tracer = Tracer(enabled=trace)
    wl = spark = None

    def counted(fn, label: str):
        """Run one cycle-level step; a raise is a failed operation."""
        res.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - a failing cycle is a measured outcome
            res.failed += 1
            res.problems.append(f"{label}: {type(exc).__name__}: {exc}"[:400])
            return None

    def checked(label: str, out: dict | None) -> None:
        if out is None:
            return
        res.attempted += out["records"]
        res.failed += out["failed_records"]
        problems = wl.check()
        if problems:
            res.failed += 1
            res.problems.extend(f"{label}: {p}" for p in problems[:5])

    try:
        tracer.cycle = "setup"
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=_spark_conf(run_dir))
        res.session_s = time.perf_counter() - t0
        tracer.attach(spark)
        wl = cls(spark, tracer, seed, os.path.join(run_dir, "tables"))
        wl.setup()
        res.setup_s = time.perf_counter() - t0
        if hasattr(wl, "prepare_oracle"):
            wl.prepare_oracle()
        tracer.harvest()

        tracer.cycle = "first"
        wl.before_cycle()
        t0 = time.perf_counter()
        out = counted(wl.cycle, "first cycle")
        res.first_cycle_s = time.perf_counter() - t0
        checked("first cycle", out)
        tracer.harvest()

        # unmeasured cycles (serve_reads: one pass over the query pattern);
        # first_cycle_s already reports what a cold process pays
        tracer.enabled = False
        for _ in range(wl.warmup_cycles):
            wl.before_cycle()
            out = counted(wl.cycle, "warm-up cycle")
            checked("warm-up cycle", out)
            tracer.harvest()

        start = time.perf_counter()
        i = 0
        # a traced run traces blocks of cycles in the order traced,
        # untraced, untraced, traced and ends on a whole group of four, so
        # the tracing overhead is measured inside one run and a steady
        # warm-up trend cancels out of it
        while (
            i < wl.min_cycles
            or time.perf_counter() - start < seconds
            or (trace and i // wl.trace_block % 4 != 0)
        ):
            i += 1
            tracer.enabled = trace and (i - 1) // wl.trace_block % 4 in (0, 3)
            tracer.cycle = i
            before = _layer_snapshot(wl)
            wl.before_cycle()
            t0 = time.perf_counter()
            out = counted(wl.cycle, f"cycle {i}")
            wall = time.perf_counter() - t0
            t1 = time.time()
            rec = {"wall": wall, "traced": tracer.enabled, "rows": (out or {}).get("rows", 0)}
            if tracer.enabled:
                spark_totals = tracer.harvest()
                rec.update(_layer_delta(wl, before, out or {}, tracer, spark_totals))
                rec["spark.driver_gap_s"] = max(
                    0.0, wall - union_length([(a, min(b, t1)) for a, b in spark_totals["intervals"]])
                )
            else:
                tracer.harvest()  # consume the cycle's jobs without attributing them
            res.cycles.append(rec)
            checked(f"cycle {i}", out)
            if i == wl.min_cycles:
                # a fixed point in the seeded history, so the figure does
                # not grow with the number of cycles a fast machine fits
                res.disk_bytes = _disk_bytes([wl.table(t).path for t in wl.tables])
        pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
        res.peak_rss_mb = sum(_vm_hwm_mb(p) for p in pids)
    finally:
        res.spans = tracer.spans
        if trace:
            os.makedirs(OUT, exist_ok=True)
            tracer.write_jsonl(os.path.join(OUT, f"trace-{workload}-seed{seed}.jsonl"))
        if wl is not None:
            wl.close()
        if spark is not None:
            spark.stop()
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return res


def _stop_jvm() -> None:
    """End the gateway JVM and wait for it: closing its stdin is the
    JVM's signal to exit (it takes its Python workers with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


# --- per-layer accounting -----------------------------------------------------

def _layer_snapshot(wl) -> dict:
    snap = {"server": wl.server.counters(), "versions": {}, "files": {}}
    for t in wl.tables:
        table = wl.table(t)
        v = table.current_version()
        snap["versions"][t] = v
        snap["files"][t] = (table.manifest(v) or {}).get("n_files", 0) if v >= 0 else 0
    if hasattr(wl, "soap_s"):
        snap["soap_s"] = wl.soap_s.value
    return snap


def _spans(tracer, cycle, prefix: str) -> list[dict]:
    return [s for s in tracer.spans if s["cycle"] == cycle and s["name"].startswith(prefix)]


def _outer(spans: list[dict]) -> list[dict]:
    ids = {s["id"] for s in spans}
    return [s for s in spans if s["parent"] not in ids]


def _time(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in _outer(spans))


def _jobs(spans: list[dict]) -> int:
    return sum(s.get("jobs", 0) for s in _outer(spans))


def _layer_delta(wl, before: dict, out: dict, tracer, spark_totals: dict) -> dict:
    from perfbench.workloads import commit_counts, table_versions

    c = tracer.cycle
    srv0, srv1 = before["server"], wl.server.counters()
    d = {ep: {k: srv1[ep][k] - srv0[ep][k] for k in srv1[ep]} for ep in srv1}
    commits = {"commits": 0, "files_rewritten": 0, "files_linked": 0, "bytes_written": 0, "prev_files": 0}
    for t in wl.tables:
        cc = commit_counts(table_versions(wl.table(t), before["versions"][t]), before["files"][t])
        for k in commits:
            commits[k] += cc[k]
    pt = _spans(tracer, c, "parquet_target.")
    mv = _spans(tracer, c, "matview.maintain")
    refresh = out.get("refresh") or {}
    changed = (refresh.get("groups_upserted") or 0) + (refresh.get("groups_deleted") or 0)
    rec = {
        "pipeline.plan_s": _time(_spans(tracer, c, "pipeline.")),
        "xmla.requests": d["xmla"]["requests"],
        "xmla.response_bytes": d["xmla"]["response_bytes"],
        "xmla.soap_s": wl.soap_s.value - before["soap_s"] if "soap_s" in before else 0.0,
        "parquet_target.commit_s": _time([s for s in pt if s["name"] != "parquet_target.read_where"]),
        "parquet_target.commits": commits["commits"],
        "parquet_target.jobs": _jobs([s for s in pt if s["name"] != "parquet_target.read_where"]),
        "parquet_target.files_rewritten": commits["files_rewritten"],
        "parquet_target.files_linked": commits["files_linked"],
        "parquet_target.touched_ratio": commits["files_rewritten"] / commits["prev_files"] if commits["prev_files"] else 0.0,
        "parquet_target.bytes_written": commits["bytes_written"],
        "parquet_target.write_amp": commits["bytes_written"] / out["batch_bytes"] if out.get("batch_bytes") else 0.0,
        "parquet_target.read_s": _time(_spans(tracer, c, "parquet_target.read_where")),
        "parquet_target.files_scanned_ratio": wl.scanned_ratio(),
        "matview.refresh_s": _time(mv),
        "matview.refresh_jobs": _jobs(mv),
        "matview.groups_changed_ratio": changed / wl.rollup_groups() if mv and hasattr(wl, "rollup_groups") else 0.0,
        "matview.serve_s": _time(_spans(tracer, c, "matview.serve")),
        "sync.push_s": _time(_spans(tracer, c, "sync.")),
        "sync.jobs": _jobs(_spans(tracer, c, "sync.")),
        "odata.push_s": _time(_spans(tracer, c, "odata.")),
        "odata.records_per_request": d["batch"]["records"] / d["batch"]["requests"] if d["batch"]["requests"] else 0.0,
        "odata.retries": d["batch"]["throttled"],
        "odata.useful_ratio": d["batch"]["useful"] / d["batch"]["records"] if d["batch"]["records"] else 0.0,
        "sink.records": d["batch"]["records"],
        "sink.requests": d["batch"]["requests"],
        "http.server_busy_s": d["batch"]["busy_s"] + d["xmla"]["busy_s"],
        "http.request_bytes": d["batch"]["request_bytes"] + d["xmla"]["request_bytes"],
        "spark.jobs": spark_totals["jobs"],
        "spark.stages": spark_totals["stages"],
        "spark.tasks": spark_totals["tasks"],
        "spark.shuffle_bytes": spark_totals["shuffle_bytes"],
        "spark.task_s": spark_totals["task_s"],
    }
    return rec


# --- metrics --------------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "first_cycle_s": "s",
    "cycle_p50_s": "s",
    "rows_per_s": "rows/s",
    "disk_bytes": "bytes",
    "peak_rss_mb": "MiB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "pipeline.plan_s": "s",
    "xmla.requests": "count",
    "xmla.response_bytes": "bytes",
    "xmla.soap_s": "s",
    "parquet_target.commit_s": "s",
    "parquet_target.commits": "count",
    "parquet_target.jobs": "count",
    "parquet_target.files_rewritten": "count",
    "parquet_target.files_linked": "count",
    "parquet_target.touched_ratio": "ratio",
    "parquet_target.bytes_written": "bytes",
    "parquet_target.write_amp": "ratio",
    "parquet_target.read_s": "s",
    "parquet_target.files_scanned_ratio": "ratio",
    "matview.refresh_s": "s",
    "matview.refresh_jobs": "count",
    "matview.groups_changed_ratio": "ratio",
    "matview.serve_s": "s",
    "sync.push_s": "s",
    "sync.jobs": "count",
    "odata.push_s": "s",
    "odata.records_per_request": "count",
    "odata.retries": "count",
    "odata.useful_ratio": "ratio",
    "sink.records": "count",
    "sink.requests": "count",
    "http.server_busy_s": "s",
    "http.request_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.task_s": "s",
    "spark.driver_gap_s": "s",
    "trace.overhead_s": "s",
}


def end_to_end(res: Result) -> dict:
    walls = [w["wall"] for w in res.cycles] or [float("nan")]
    return {
        "setup_s": res.setup_s,
        "first_cycle_s": res.first_cycle_s,
        "cycle_p50_s": _median(walls),
        "rows_per_s": _median([w["rows"] / w["wall"] for w in res.cycles]),
        "disk_bytes": res.disk_bytes,
        "peak_rss_mb": res.peak_rss_mb,
    }


def per_layer(res: Result) -> dict:
    traced = [w for w in res.cycles if w["traced"]]
    plain = [w["wall"] for w in res.cycles if not w["traced"]]
    out = {}
    for name in PER_LAYER_UNITS:
        if name == "session.start_s":
            out[name] = res.session_s
        elif name == "trace.overhead_s":
            out[name] = _median([w["wall"] for w in traced]) - _median(plain)
        else:
            out[name] = statistics.fmean([w[name] for w in traced]) if traced else 0.0
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["nightly_sync", "full_refresh", "serve_reads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "bw_new_data_integration_spark")):
        print("perfbench: engine package bw_new_data_integration_spark not found next to perfbench/", file=sys.stderr)
        return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))

    e2e = end_to_end(res)
    layers = per_layer(res) if args.trace else {}
    report(args, res, e2e, layers)
    metrics = (
        {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
        if args.trace
        else {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    )
    correct = res.failed == 0 and not res.problems
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0


def report(args, res: Result, e2e: dict, layers: dict) -> None:
    err = sys.stderr
    walls = [w["wall"] for w in res.cycles]
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{CORES}] driver={DRIVER_MEM} measured_cycles={len(walls)}", file=err)
    for k, v in e2e.items():
        print(f"  {k:<36} {v:>14.4f} {END_TO_END[k]}", file=err)
    if len(walls) >= 100:
        print(f"  {'cycle_p90_s':<36} {_quantile(walls, 0.9):>14.4f} s", file=err)
    print(f"  {'ops_failed_ratio':<36} {res.failed / max(res.attempted, 1):>14.4f} ratio "
          f"({res.failed}/{res.attempted})", file=err)
    print("  measured cycle walls: " + " ".join(f"{w:.2f}" for w in walls[:30]), file=err)
    for k, v in layers.items():
        print(f"  {k:<36} {v:>14.4f} {PER_LAYER_UNITS[k]}", file=err)
    if layers:
        # self time per span name, per traced measured cycle
        traced = {w for w, rec in enumerate(res.cycles, 1) if rec["traced"]}
        by: dict[str, list[float]] = {}
        for s in res.spans:
            if s["cycle"] in traced:
                agg = by.setdefault(s["name"], [0.0, 0.0, 0])
                agg[0] += s["end"] - s["start"]
                agg[1] += s.get("self_s", 0.0)
                agg[2] += s.get("jobs", 0)
        print(f"  {'span (per traced cycle)':<40} {'time_s':>8} {'self_s':>8} {'jobs':>6}", file=err)
        for name, (t, st, j) in by.items():
            n = len(traced)
            print(f"  {name:<40} {t / n:>8.3f} {st / n:>8.3f} {j / n:>6.1f}", file=err)
    for p in res.problems[:20]:
        print(f"  FAILED {p}", file=err)


if __name__ == "__main__":
    sys.exit(main())
