"""Tests of the benchmark's own parts (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import io

import numpy as np
import pandas as pd
import pytest

from bw_new_data_integration_spark.sources import xmla
from bw_new_data_integration_spark.sources.credentials import TokenProvider
from bw_new_data_integration_spark.sources.http_transport import (
    HttpClient,
    ODataBatchTransport,
    encode_odata_batch,
    make_xmla_executor,
    parse_batch_statuses,
)
from bw_new_data_integration_spark.plans import pipeline as plans
from bw_new_data_integration_spark.plans.slicers import mdx_member_13_4
from perfbench import endpoints, gen, oracle, trace


def _landing_bytes(seed: int, nights: int = 2) -> bytes:
    model = gen.LandingModel(seed)
    frames = [model.history()]
    for _ in range(nights):
        b = model.next_batch()
        frames += [b.upserts, pd.DataFrame({"k": b.delete_keys})]
    buf = io.BytesIO()
    for f in frames:
        f.to_parquet(buf, index=False)
    return buf.getvalue()


def _cube_bytes(seed: int) -> bytes:
    cube = gen.CubeModel(seed, gen.CubeShape(stores=2, revisions=2))
    server = endpoints.FakeServer()
    server.prerender_cube(cube)
    return b"".join(server._cube[k] for k in sorted(server._cube))


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _landing_bytes(7) == _landing_bytes(7)
    assert _landing_bytes(7) != _landing_bytes(8)
    assert _cube_bytes(7) == _cube_bytes(7)
    assert _cube_bytes(7) != _cube_bytes(8)
    m7, m8 = gen.LandingModel(7), gen.LandingModel(8)
    assert gen.serve_queries(7, m7, 50) == gen.serve_queries(7, gen.LandingModel(7), 50)
    assert gen.serve_queries(7, m7, 50) != gen.serve_queries(8, m8, 50)


def test_change_batch_stays_in_trailing_window():
    model = gen.LandingModel(3)
    before = set(model.state["k"])
    b = model.next_batch()
    restated = b.upserts[b.upserts["k"].isin(before)]
    days = (restated["l_shipdate"].values.astype("datetime64[D]") - np.datetime64(gen.EPOCH, "D")).astype(int)
    assert len(restated) > 0 and days.min() >= b.day - gen.WINDOW_DAYS
    assert set(b.delete_keys) <= before and not set(b.delete_keys) & set(model.state["k"])


@pytest.fixture
def server():
    s = endpoints.FakeServer()
    url = s.start()
    yield s, url
    s.close()


def test_batch_endpoint_round_trips_engine_wire_format(server):
    srv, url = server
    records = [{"business_key": f"k'{i}", "v": i * 1.5} for i in range(5)]
    body, ctype = encode_odata_batch("t", records, "business_key")
    client = HttpClient(url)
    resp = client.request("POST", endpoints.BATCH_PATH, body, {"Content-Type": ctype})
    assert resp.status == 200
    assert parse_batch_statuses(resp.text, 5) == [201] * 5
    assert srv.sink == {r["business_key"]: r for r in records}
    # an unchanged re-push is received but changes nothing; a key-only
    # part deletes
    body, ctype = encode_odata_batch("t", records[:2] + [{"business_key": "k'4"}], "business_key")
    resp = client.request("POST", endpoints.BATCH_PATH, body, {"Content-Type": ctype})
    assert parse_batch_statuses(resp.text, 3) == [204, 204, 204]
    assert "k'4" not in srv.sink and len(srv.sink) == 4
    assert srv.batch.records == 8 and srv.batch.useful == 6 and srv.batch.deletes == 1
    client.close()


def test_cube_response_round_trips_engine_parser(server):
    srv, url = server
    cube = gen.CubeModel(5, gen.CubeShape(stores=3, revisions=2))
    srv.prerender_cube(cube)
    name = "2024-P07"
    captions = [c for c, _f, _t in gen.cube_measures()]
    measures, rows, cells = xmla.parse_axes_and_cells(
        endpoints.render_execute_response(captions, cube.cells(1, name)).decode()
    )
    assert measures == captions
    want = cube.cells(1, name)
    assert rows == [{gen.STORE_HIERARCHY: s, gen.WEEK_HIERARCHY: d} for s, d, _v in want]
    for r, (_s, _d, vals) in enumerate(want):
        for c, v in enumerate(vals):
            got = cells.get(r * len(captions) + c)
            assert (got is None) if v is None else (float(got) == v)
    # over HTTP, addressed by the cube pipeline's own rendered MDX
    spec = plans.load_pipelines(gen.CUBE_YAML)["weekly_cube_sales"]
    mdx = spec.backfill_mdx({name: mdx_member_13_4(2024, 7)})[name]
    srv.cube_revision = 1
    assert make_xmla_executor(url, "Franchise", "u", "p")(mdx) == srv._cube[(1, name)].decode()
    assert srv.xmla.requests == 1


def test_throttle_count_is_as_configured(server):
    srv, url = server
    srv.throttle_every = 3
    transport = ODataBatchTransport(HttpClient(url), "t", TokenProvider(lambda: "x"), "business_key",
                                    sleep=lambda _s: None)
    for b in range(10):
        assert transport([{"business_key": f"{b}-{i}", "v": i} for i in range(4)]) == [201] * 4
    assert srv.batch.requests == 10 + srv.batch.throttled
    assert srv.batch.throttled == srv.batch.requests // 3 == 4
    assert len(srv.sink) == 40


def test_oracle_catches_a_corrupted_sink_row():
    model = gen.LandingModel(11, gen.LandingShape(stores=5, history_days=20))
    model.next_batch()
    expected = oracle.expected_daily_sales(model.state)
    sink = copy.deepcopy(expected)
    assert oracle.diff_records(expected, sink) == []
    key = sorted(sink)[3]
    sink[key]["ty_net_sales_usd"] += 0.01
    assert any(key in p for p in oracle.diff_records(expected, sink))
    dropped = copy.deepcopy(expected)
    dropped.pop(key)
    assert oracle.diff_records(expected, dropped)

    cube = gen.CubeModel(11, gen.CubeShape(stores=2, revisions=1))
    exp = oracle.expected_cube_records(cube, 0)
    bad = copy.deepcopy(exp)
    bad[sorted(bad)[0]]["ty_orders"] += 1
    assert len(exp) == 2 * 39 * gen.PERIOD_WEEKS and oracle.diff_records(exp, bad)


def test_daily_sales_oracle_covers_every_measure():
    import duckdb

    spec = plans.load_pipelines(oracle.PIPELINES_YAML)["daily_sales_full"]
    model = gen.LandingModel(2, gen.LandingShape(stores=3, history_days=4))
    con = duckdb.connect()
    con.register("landing", model.state)
    cols = con.sql(oracle.daily_sales_sql()).columns
    assert cols == ["business_key", *spec.aggregate.dims, *spec.aggregate.measures]
    rec = next(iter(oracle.expected_daily_sales(model.state).values()))
    assert rec["business_key"] == f"{rec['store_number']}_{rec['calendar_date'].replace('-', '')}"


def test_self_time_subtracts_children_union():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0, "self_jobs": 1},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0, "self_jobs": 2},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0, "self_jobs": 4},
    ]
    trace._roll_up(spans)
    by = {s["id"]: s for s in spans}
    assert by[0]["self_s"] == pytest.approx(5.0)
    assert by[1]["self_s"] == pytest.approx(2.0)
    assert by[0]["jobs"] == 7 and by[1]["jobs"] == 6
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
