"""Seeded input generator: the only source of the benchmark's data.

Everything the engine sees is produced here from ``--seed`` with numpy,
so the same seed gives byte-identical inputs on any machine. The
generator also keeps its own model of every table it feeds (a pandas
frame per landing state, a cell list per cube revision) — the output
checks in ``oracle.py`` run over that model, never over engine output.

Landing rows are lineitem-shaped (the columns the ``daily_sales_full``
pipeline's 47 measures read), with one store per ``l_suppkey`` and one
calendar day per ``l_shipdate``. Keys are assigned in arrival order, so
a day's rows occupy one contiguous key range (date-local), and a
restatement inside the trailing window scatters over that range.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import yaml

EPOCH = dt.date(2024, 1, 1)

LANDING_COLUMNS = (
    "k", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate",
)

#: Spark DDL of a landing batch, in LANDING_COLUMNS order
LANDING_SCHEMA = (
    "k bigint, l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp"
)


#: the reference's store count: its documented full-sync volume is
#: 33 measures × 45 stores × 52 weeks per fiscal year (SURVEY.md §6,
#: from the reference's Testing Scripts/test_multi_year_olap.py:47)
REFERENCE_STORES = 45


#: The reference documents no line count and no restatement or delete
#: rate (its nightly job re-sends the whole window), so these are the
#: benchmark's own choices; perfbench/README.md gives the reason for each.
LINES_PER_STORE_DAY = 10  # mean; each store-day draws ±2
RESTATE_FRAC = 0.03  # share of window rows restated per night
DELETE_FRAC = 0.003  # share of window rows deleted per night
WINDOW_DAYS = 14  # the reference's trailing two weeks (cron-jobs.txt:12)


@dataclass(frozen=True)
class LandingShape:
    """Size of the landing history (the tests use smaller ones)."""

    stores: int = REFERENCE_STORES
    history_days: int = 60


@dataclass(frozen=True)
class ChangeBatch:
    day: int  # day index (days since EPOCH) of the inserted day
    upserts: pd.DataFrame  # restated rows + the new day's rows
    delete_keys: np.ndarray  # int64 keys removed this night


def _rows(rng: np.random.Generator, keys: np.ndarray, stores: np.ndarray, days: np.ndarray) -> pd.DataFrame:
    n = len(keys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = rng.integers(90_000, 200_001, n) / 100.0
    ship = (np.datetime64(EPOCH, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pd.DataFrame(
        {
            "k": keys.astype(np.int64),
            "l_orderkey": rng.integers(1, 6_000_000, n, dtype=np.int64),
            "l_partkey": rng.integers(1, 200_000, n, dtype=np.int64),
            "l_suppkey": stores.astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * unit, 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
            "l_linestatus": rng.choice(np.array(["F", "O"], dtype=object), n),
            "l_shipdate": ship,
        },
        columns=list(LANDING_COLUMNS),
    )


class LandingModel:
    """The landing table as the generator believes it to be.

    ``history()`` is the initial load; each ``next_batch()`` draws one
    night's change batch and applies it to the model, so after N
    batches ``state`` is what the engine's landing table must hold.
    """

    def __init__(self, seed: int, shape: LandingShape = LandingShape()) -> None:
        self.shape = shape
        self._rng = np.random.default_rng([seed, 1])
        self.stores = np.sort(self._rng.choice(np.arange(1, 10_000), shape.stores, replace=False))
        self.next_key = 0
        self.nights = 0
        self.state = self._day_rows(np.arange(shape.history_days))

    def _day_rows(self, days: np.ndarray) -> pd.DataFrame:
        counts = self._rng.integers(
            LINES_PER_STORE_DAY - 2, LINES_PER_STORE_DAY + 3, (len(days), len(self.stores))
        )
        total = int(counts.sum())
        day_col = np.repeat(np.repeat(days, len(self.stores)), counts.ravel())
        store_col = np.repeat(np.tile(self.stores, len(days)), counts.ravel())
        keys = np.arange(self.next_key, self.next_key + total, dtype=np.int64)
        self.next_key += total
        return _rows(self._rng, keys, store_col, day_col)

    def history(self) -> pd.DataFrame:
        return self.state.copy()

    @property
    def last_day(self) -> int:
        return self.shape.history_days + self.nights - 1

    def next_batch(self) -> ChangeBatch:
        rng = self._rng
        self.nights += 1
        day = self.last_day
        day_idx = (self.state["l_shipdate"].values.astype("datetime64[D]") - np.datetime64(EPOCH, "D")).astype(np.int64)
        in_window = np.flatnonzero(day_idx >= day - WINDOW_DAYS)
        n_restate = int(round(len(in_window) * RESTATE_FRAC))
        n_delete = int(round(len(in_window) * DELETE_FRAC))
        picked = rng.choice(in_window, n_restate + n_delete, replace=False)
        restate_pos, delete_pos = np.sort(picked[:n_restate]), np.sort(picked[n_restate:])

        restated = self.state.iloc[restate_pos].copy()
        qty = rng.integers(1, 51, n_restate).astype(np.float64)
        unit = rng.integers(90_000, 200_001, n_restate) / 100.0
        restated["l_quantity"] = qty
        restated["l_extendedprice"] = np.round(qty * unit, 2)
        restated["l_discount"] = rng.integers(0, 11, n_restate) / 100.0
        inserted = self._day_rows(np.array([day]))
        delete_keys = self.state["k"].values[delete_pos].copy()

        upserts = pd.concat([restated, inserted], ignore_index=True)
        kept = self.state.drop(index=self.state.index[np.concatenate([restate_pos, delete_pos])])
        self.state = pd.concat([kept, upserts], ignore_index=True).sort_values("k", ignore_index=True)
        return ChangeBatch(day, upserts, delete_keys)


# --- the weekly cube --------------------------------------------------------

CUBE_YAML = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cube_pipeline.yaml")


@functools.cache
def cube_measures() -> tuple[tuple[str, str, str], ...]:
    """(cube caption, engine field, mapping type) per measure, in
    response-axis order, read from the benchmark's cube pipeline."""
    with open(CUBE_YAML) as f:
        p = yaml.safe_load(f)["pipelines"]["weekly_cube_sales"]
    with open(os.path.join(os.path.dirname(CUBE_YAML), p["mapping"])) as f:
        types = {m["source"]: m["type"] for m in yaml.safe_load(f)["measures"]}
    return tuple((caption, field, types[field]) for caption, field in p["source"]["cube_measures"].items())


FISCAL_YEARS = (2023, 2024, 2025)
PERIOD_WEEKS = 4  # 13-4 calendar: 13 periods of four weeks
STORE_HIERARCHY = "[Store].[Store Number]"
WEEK_HIERARCHY = "[Calendar].[Week]"


@dataclass(frozen=True)
class CubeShape:
    stores: int = REFERENCE_STORES  # × 52 weeks × 3 FY = 7,020 rows, 231,660 cells
    revisions: int = 3  # distinct cube states the weekly cycles rotate through


def slice_names() -> list[str]:
    """One slice per fiscal period: 3 fiscal years × 13 periods = 39."""
    return [f"{fy}-P{p:02d}" for fy in FISCAL_YEARS for p in range(1, 14)]


def slice_weeks(name: str) -> list[dt.date]:
    """First days of the period's four weeks (fiscal year starts 1 Feb)."""
    fy, p = int(name[:4]), int(name[6:])
    start = dt.date(fy - 1, 2, 1) + dt.timedelta(weeks=(p - 1) * PERIOD_WEEKS)
    return [start + dt.timedelta(weeks=i) for i in range(PERIOD_WEEKS)]


class CubeModel:
    """``revisions`` seeded states of a store × week cube with the
    measures of ``cube_measures()``. ``cells(rev, slice)`` is one slice's
    rows as (store caption, week caption, measure values); a value is
    None when the cube has no cell there (NON EMPTY keeps the row
    because other measures are present). The last measure is missing in
    about one row in ten."""

    def __init__(self, seed: int, shape: CubeShape = CubeShape()) -> None:
        self.shape = shape
        rng = np.random.default_rng([seed, 2])
        self.stores = [f"S{s:05d}" for s in np.sort(rng.choice(np.arange(1, 100_000), shape.stores, replace=False))]
        is_int = np.array([kind == "int" for _c, _f, kind in cube_measures()])
        n_rows = len(self.stores) * PERIOD_WEEKS
        self._cells: list[dict[str, list[tuple]]] = []
        for _rev in range(shape.revisions):
            rev: dict[str, list[tuple]] = {}
            for name in slice_names():
                money = np.round(rng.integers(50_000, 2_000_000, (n_rows, len(is_int))) / 100.0, 2)
                counts = rng.integers(0, 400, (n_rows, len(is_int)))
                last_missing = rng.random(n_rows) < 0.1
                rows = []
                i = 0
                for store in self.stores:
                    for week in slice_weeks(name):
                        vals = [int(c) if k else float(m) for m, c, k in zip(money[i], counts[i], is_int)]
                        if last_missing[i]:
                            vals[-1] = None
                        rows.append((store, week.isoformat(), tuple(vals)))
                        i += 1
                rev[name] = rows
            self._cells.append(rev)

    def cells(self, rev: int, name: str) -> list[tuple]:
        return self._cells[rev][name]

    def rows(self, rev: int) -> int:
        return sum(len(v) for v in self._cells[rev].values())


#: query kinds in the order every seed issues them (4 slices, 3 ranges,
#: 3 lookups per ten): the seed picks parameters, never the mix, so the
#: cycle-time percentiles compare like with like across seeds
SERVE_PATTERN = ("slice", "range", "point", "slice", "range", "point", "slice", "range", "slice", "point")


def dashboard_query(kind: str, rng: np.random.Generator, model: LandingModel) -> tuple:
    """One seeded dashboard query over the current landing/rollup state:
    ('slice', stores, lo_day, hi_day) — a store/date slice of the served
    pipeline; ('range', lo_day, hi_day) — a date-range aggregate on the
    landing table; ('point', key) — a business-key lookup."""
    last = model.last_day
    if kind == "slice":
        stores = tuple(int(s) for s in np.sort(rng.choice(model.stores, 5, replace=False)))
        hi = int(rng.integers(last - 20, last + 1))
        return ("slice", stores, hi - 6, hi)
    if kind == "range":
        hi = int(rng.integers(last - 30, last + 1))
        return ("range", hi - int(rng.integers(1, 8)), hi)
    keys = model.state["k"].values
    return ("point", int(keys[rng.integers(0, len(keys))]))


def serve_queries(seed: int, model: LandingModel, n: int) -> list[tuple]:
    """``n`` dashboard queries in the fixed ``SERVE_PATTERN`` mix."""
    rng = np.random.default_rng([seed, 3])
    return [dashboard_query(SERVE_PATTERN[i % len(SERVE_PATTERN)], rng, model) for i in range(n)]


def day_date(day: int) -> dt.date:
    return EPOCH + dt.timedelta(days=int(day))
