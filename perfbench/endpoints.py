"""Loopback stand-ins for the two remote systems the reference talks to.

``FakeServer`` is one ``ThreadingHTTPServer`` on 127.0.0.1 that answers

- ``POST /xmla/default`` — an XMLA ``Execute``: the MDX's 13-4 slicer
  member names a fiscal period, and the answer is that period's slice
  of the current cube revision, rendered to mddataset XML during setup;
- ``POST /api/data/v9.2/$batch`` — an OData ``$batch`` changeset of
  keyed ``PATCH`` parts. The server keeps the sink's keyed state: a
  part whose JSON body carries only the alternate key is a delete (that
  is how ``odata.delete_batched`` addresses a key over this transport),
  any other part is an upsert. Every ``throttle_every``-th request is
  refused with 429 and ``Retry-After: 0``.

Server-side counters (requests, bytes, busy time, 429s, records that
changed the sink's state) are what the per-layer metrics report; the
sink state is what the output checks compare.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from xml.sax.saxutils import escape, quoteattr

from perfbench import gen

#: the sink's alternate key: the field every ``$batch`` part is addressed by
BK = "business_key"
XMLA_PATH = "/xmla/default"
BATCH_PATH = "/api/data/v9.2/$batch"

_SLICER_RE = re.compile(r"d_Year\]\.&\[(\d{4})\].*?d_Period\]\.&\[(\d+)\]", re.S)
_PART_RE = re.compile(
    rb"PATCH [^(\s]+\([A-Za-z_][A-Za-z0-9_]*='((?:[^']|'')*)'\) HTTP/1\.1\r\n.*?\r\n\r\n(.*?)\r\n--",
    re.S,
)
_BOUNDARY_RE = re.compile(r"boundary=([^\s;]+)")


def render_execute_response(measures: list[str], rows: list[tuple]) -> bytes:
    """A SOAP ``ExecuteResponse`` carrying one mddataset: Axis0 holds
    the measure members, Axis1 one (store, week) tuple per row, and
    CellData the non-null values at ``row * n_measures + col``."""
    out = [
        '<?xml version="1.0" encoding="utf-8"?>'
        '<soap:Envelope xmlns:soap="http://schemas.xmlsoap.org/soap/envelope/"><soap:Body>'
        '<ExecuteResponse xmlns="urn:schemas-microsoft-com:xml-analysis"><return>'
        '<root xmlns="urn:schemas-microsoft-com:xml-analysis:mddataset" '
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance" '
        'xmlns:xsd="http://www.w3.org/2001/XMLSchema">'
        '<Axes><Axis name="Axis0"><Tuples>'
    ]
    for m in measures:
        out.append(
            '<Tuple><Member Hierarchy="[Measures]">'
            f"<UName>[Measures].[{escape(m)}]</UName><Caption>{escape(m)}</Caption>"
            f"<LName>[Measures].[MeasuresLevel]</LName><LNum>0</LNum></Member></Tuple>"
        )
    out.append('</Tuples></Axis><Axis name="Axis1"><Tuples>')
    for store, day, _vals in rows:
        out.append(
            f"<Tuple><Member Hierarchy={quoteattr(gen.STORE_HIERARCHY)}>"
            f"<UName>{escape(gen.STORE_HIERARCHY)}.&amp;[{escape(store)}]</UName>"
            f"<Caption>{escape(store)}</Caption><LNum>1</LNum></Member>"
            f"<Member Hierarchy={quoteattr(gen.WEEK_HIERARCHY)}>"
            f"<UName>{escape(gen.WEEK_HIERARCHY)}.&amp;[{day}]</UName>"
            f"<Caption>{day}</Caption><LNum>3</LNum></Member></Tuple>"
        )
    out.append("</Tuples></Axis></Axes><CellData>")
    n_m = len(measures)
    for r, (_s, _d, vals) in enumerate(rows):
        for c, v in enumerate(vals):
            if v is None:
                continue
            kind = "xsd:double" if isinstance(v, float) else "xsd:int"
            out.append(
                f'<Cell CellOrdinal="{r * n_m + c}"><Value xsi:type="{kind}">{v!r}</Value>'
                f"<FmtValue>{v}</FmtValue></Cell>"
            )
    out.append("</CellData></root></return></ExecuteResponse></soap:Body></soap:Envelope>")
    return "".join(out).encode("utf-8")


_RESPONSE_BOUNDARY = "batchresponse_bench"


def render_batch_response(statuses: list[int]) -> bytes:
    """A ``$batch`` response: one changeset with one HTTP status line
    per part, in request order."""
    cs = "changesetresponse_bench"
    parts = [f"--{_RESPONSE_BOUNDARY}\r\nContent-Type: multipart/mixed; boundary={cs}\r\n\r\n"]
    for i, s in enumerate(statuses, 1):
        parts.append(
            f"--{cs}\r\nContent-Type: application/http\r\nContent-Transfer-Encoding: binary\r\n"
            f"Content-ID: {i}\r\n\r\nHTTP/1.1 {s} {'Created' if s == 201 else 'No Content'}\r\n"
            "OData-Version: 4.0\r\n\r\n"
        )
    parts.append(f"--{cs}--\r\n--{_RESPONSE_BOUNDARY}--\r\n")
    return "".join(parts).encode("ascii")


class Counters:
    """Server-side tallies for one endpoint."""

    __slots__ = ("requests", "request_bytes", "response_bytes", "busy_s", "throttled",
                 "records", "useful", "upserts", "deletes")

    def __init__(self) -> None:
        for name in self.__slots__:
            setattr(self, name, 0)

    def snapshot(self) -> dict:
        return {name: getattr(self, name) for name in self.__slots__}


class FakeServer:
    """Both endpoints on one loopback port; ``start()``/``close()``.

    ``cube`` responses are pre-rendered per (revision, slice) by
    :meth:`prerender_cube`; ``cube_revision`` selects the one served.
    ``sink`` maps alternate-key value → last upserted record.
    """

    def __init__(self, throttle_every: int = 0) -> None:
        self.throttle_every = throttle_every
        self.cube_revision = 0
        self._cube: dict[tuple[int, str], bytes] = {}
        self.sink: dict[str, dict] = {}
        self.xmla = Counters()
        self.batch = Counters()
        self._lock = threading.Lock()
        self._batch_seq = 0
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- setup ---------------------------------------------------------------

    def prerender_cube(self, cube: gen.CubeModel) -> int:
        measures = [caption for caption, _f, _t in gen.cube_measures()]
        total = 0
        for rev in range(cube.shape.revisions):
            for name in gen.slice_names():
                body = render_execute_response(measures, cube.cells(rev, name))
                self._cube[(rev, name)] = body
                total += len(body)
        return total

    def start(self) -> str:
        server = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *_a) -> None:  # keep stderr for the report
                pass

            def do_POST(self) -> None:  # noqa: N802 - http.server's name
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                if self.path == XMLA_PATH:
                    status, headers, payload, counters = server._xmla(body)
                elif self.path == BATCH_PATH:
                    status, headers, payload, counters = server._batch(
                        body, self.headers.get("Content-Type", "")
                    )
                else:
                    status, headers, payload, counters = 404, {}, b"", None
                self.send_response(status)
                for k, v in headers.items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                if counters is not None:
                    with server._lock:
                        counters.requests += 1
                        counters.request_bytes += len(body)
                        counters.response_bytes += len(payload)
                        counters.busy_s += time.perf_counter() - t0

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def close(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=10)
            self._httpd = None

    # -- endpoints -----------------------------------------------------------

    def _xmla(self, body: bytes):
        m = _SLICER_RE.search(body.decode("utf-8", errors="replace"))
        payload = self._cube.get((self.cube_revision, f"{m.group(1)}-P{int(m.group(2)):02d}")) if m else None
        if payload is None:
            return 400, {}, b"unknown slicer", self.xmla
        return 200, {"Content-Type": "text/xml; charset=utf-8"}, payload, self.xmla

    def _batch(self, body: bytes, content_type: str):
        if _BOUNDARY_RE.search(content_type) is None:
            return 400, {}, b"no boundary", self.batch
        with self._lock:
            self._batch_seq += 1
            throttle = self.throttle_every and self._batch_seq % self.throttle_every == 0
            if throttle:
                self.batch.throttled += 1
        if throttle:
            return 429, {"Retry-After": "0"}, b"", self.batch
        statuses = []
        with self._lock:
            for m in _PART_RE.finditer(body):
                key = m.group(1).decode("utf-8").replace("''", "'")
                rec = json.loads(m.group(2))
                self.batch.records += 1
                if rec.keys() == {BK}:
                    self.batch.deletes += 1
                    self.batch.useful += self.sink.pop(key, None) is not None
                    statuses.append(204)
                else:
                    self.batch.upserts += 1
                    prev = self.sink.get(key)
                    self.sink[key] = rec
                    self.batch.useful += prev != rec
                    statuses.append(204 if prev is not None else 201)
        payload = render_batch_response(statuses)
        return 200, {"Content-Type": f"multipart/mixed; boundary={_RESPONSE_BOUNDARY}"}, payload, self.batch

    def counters(self) -> dict:
        with self._lock:
            return {"xmla": self.xmla.snapshot(), "batch": self.batch.snapshot()}
