"""Output checks that do not go through the engine.

Expected answers come from DuckDB run over the generator's model of the
inputs (``gen.LandingModel.state``, ``gen.CubeModel``); the pipeline's
measure list is read from the repository's own YAML with PyYAML, so an
edit to the pipeline changes the oracle with it. Comparison is exact for
keys, strings and counts, and for floating-point values as well — the
same rule the repository's oracle parity tests apply: the engine sums in
DECIMAL(27,6) and so does the SQL below.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import yaml

from perfbench import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PIPELINES_YAML = os.path.join(REPO, "pipelines", "pipelines.yaml")


def _pipeline(path: str, name: str) -> tuple[dict, dict]:
    with open(path) as f:
        p = yaml.safe_load(f)["pipelines"][name]
    with open(os.path.join(os.path.dirname(path), p["mapping"])) as f:
        mapping = yaml.safe_load(f)
    return p, mapping


def _dec(expr: str) -> str:
    return f"SUM(CAST(({expr}) AS DECIMAL(27,6)))"


def daily_sales_sql(table: str = "landing") -> str:
    """The ``daily_sales_full`` aggregate and mapping as one DuckDB
    query over a lineitem-shaped ``table``: one output row per
    (store, day) with the sink's field names, types and business key."""
    p, mapping = _pipeline(PIPELINES_YAML, "daily_sales_full")
    agg = p["aggregate"]
    types = {m["source"]: m["type"] for m in mapping["measures"]}
    cols = []
    for name, m in agg["measures"].items():
        kind, raw = m.get("agg", "sum"), m.get("expr", name)
        if kind == "count":
            expr = "COUNT(*)" if raw == "*" else f"COUNT({raw})"
        elif kind == "sum":
            expr = f"CAST({_dec(raw)} AS DOUBLE)"
        elif kind == "avg":
            expr = f"CASE WHEN COUNT({raw}) > 0 THEN CAST({_dec(raw)} AS DOUBLE) / CAST(COUNT({raw}) AS DOUBLE) END"
        elif kind == "ratio":
            num, den = f"CAST({_dec(m['num'])} AS DOUBLE)", f"CAST({_dec(m['den'])} AS DOUBLE)"
            expr = f"CASE WHEN {den} <> 0 THEN {num} / {den} END"
        else:
            raise ValueError(f"measure {name}: agg {kind!r} has no oracle")
        cast = "INTEGER" if types[name] == "int" else "DOUBLE"
        cols.append(f"CAST({expr} AS {cast}) AS {name}")
    store, day = agg["dims"]["store_number"], agg["dims"]["calendar_date"]
    return f"""
        SELECT CAST({store} AS VARCHAR) || '_' || strftime({day}, '%Y%m%d') AS business_key,
               CAST({store} AS VARCHAR) AS store_number,
               strftime({day}, '%Y-%m-%d') AS calendar_date,
               {", ".join(cols)}
        FROM {table} GROUP BY {store}, {day}"""


def _records(df: pd.DataFrame) -> dict[str, dict]:
    out = {}
    for rec in df.to_dict("records"):
        out[rec["business_key"]] = {k: _py(v) for k, v in rec.items() if not _null(v)}
    return out


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and v != v) or v is pd.NA


def _py(v):
    return v.item() if hasattr(v, "item") else v


def expected_daily_sales(state: pd.DataFrame) -> dict[str, dict]:
    """Sink records the nightly job must leave behind for ``state``."""
    con = duckdb.connect()
    try:
        con.register("landing", state)
        return _records(con.sql(daily_sales_sql()).df())
    finally:
        con.close()


def expected_cube_records(cube: gen.CubeModel, rev: int) -> dict[str, dict]:
    """Sink/target records for cube revision ``rev`` after the cube
    pipeline's mapping: business key ``<store>_<yyyymmdd>``."""
    rows = []
    for name in gen.slice_names():
        for store, week, vals in cube.cells(rev, name):
            rows.append((store, week, *vals))
    frame = pd.DataFrame(rows, columns=["store", "week", *(c for c, _f, _t in gen.cube_measures())])
    sel = ", ".join(
        f'CAST("{c}" AS {"INTEGER" if kind == "int" else "DOUBLE"}) AS {field}'
        for c, field, kind in gen.cube_measures()
    )
    con = duckdb.connect()
    try:
        con.register("cube", frame)
        return _records(con.sql(f"""
            SELECT store || '_' || strftime(CAST(week AS DATE), '%Y%m%d') AS business_key,
                   store AS store_number, week AS calendar_date, {sel}
            FROM cube""").df())
    finally:
        con.close()


def diff_records(expected: dict[str, dict], actual: dict[str, dict]) -> list[str]:
    """Human-readable differences between two keyed record sets (empty
    when equal, at most five per-key lines). Keys, field sets and values
    must match exactly."""
    out = []
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    if missing:
        out.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        out.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    for key in sorted(expected.keys() & actual.keys()):
        e, a = expected[key], actual[key]
        if e != a:
            fields = sorted(k for k in e.keys() | a.keys() if e.get(k) != a.get(k))
            out.append(f"{key}: " + ", ".join(f"{f} expected {e.get(f)!r} got {a.get(f)!r}" for f in fields[:3]))
            if len(out) >= 5:
                break
    return out


# --- serve_reads answers ----------------------------------------------------

def serve_answers(state: pd.DataFrame, daily: dict[str, dict], queries: list[tuple]) -> list:
    """Precomputed answer per query (see ``gen.serve_queries``):
    a slice → its sink-shaped records; a range → (rows, sum of
    quantities, max extended price); a point → the landing row."""
    con = duckdb.connect()
    try:
        con.register("landing", state)
        out = []
        for q in queries:
            if q[0] == "slice":
                _kind, stores, lo, hi = q
                days = {gen.day_date(d).isoformat() for d in range(lo, hi + 1)}
                keep = {str(s) for s in stores}
                out.append({k: r for k, r in daily.items() if r["store_number"] in keep and r["calendar_date"] in days})
            elif q[0] == "range":
                _kind, lo, hi = q
                n, qty, mx = con.execute(
                    "SELECT COUNT(*), SUM(l_quantity), MAX(l_extendedprice) FROM landing "
                    "WHERE CAST(l_shipdate AS DATE) BETWEEN ? AND ?",
                    [gen.day_date(lo), gen.day_date(hi)],
                ).fetchone()
                out.append((int(n), float(qty or 0.0), mx))
            else:
                row = state[state["k"] == q[1]].iloc[0]
                out.append(_landing_row(row.to_dict()))
        return out
    finally:
        con.close()


def _landing_row(d: dict) -> dict:
    out = {k: _py(v) for k, v in d.items() if k in gen.LANDING_COLUMNS}
    out["l_shipdate"] = pd.Timestamp(out["l_shipdate"]).date().isoformat()
    return out
