"""HTTP API shim — the reference's public API surface over the Spark
engine (SURVEY.md §7 phase 4; reference routes server.py:47-175).

Same routes, same JSON shapes (TimeSeriesDataset envelope,
src/model/data.py:22-25), stdlib-only (http.server — no Flask in this
environment; the API layer is deliberately thin since serving is not
a Spark concern, SURVEY.md S7/S8).

Routes:
  GET    /api/datasets?text=                     -> list[str]
  GET    /api/data/<dataset_id>?start&end        -> {"data": {dataset, points}}
  POST   /api/data {"data":[{dataset_id,points}]} -> {"message": "N datapoints were posted"}
  GET    /api/comment?start&end&tags=a,b         -> {"comments": [...]}
  POST   /api/comment/new {"comment": {...}}     -> {"message", "id"}
  PUT    /api/comment/edit {"comment": {...}}    -> {"message", "id"}
  DELETE /api/comment/delete/<id>                -> {"comments": null}

Fidelity routing is automatic (O2): wide ranges answer from rollups
with (date, min, mean, max) rows; narrow ranges return raw
(date, value) rows — exactly the reference's polymorphic payload
(Datapoint | AggregatedDatapoint, src/model/data.py:8-19).
"""

from __future__ import annotations

import datetime as _dt
import json
import mimetypes
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa

from open_tlm_spark.store import CommentStore, TelemetryStore
from open_tlm_spark.store.tsdb import _epoch_us, _points_table


_NOT_OBJECT = {"message": "the request body must be a JSON object"}

# The one date form _points_fast takes: naive YYYY-MM-DDTHH:MM:SS with
# 1-6 fraction digits or none, which numpy's datetime64[us] reads as
# datetime.fromisoformat does (naive = UTC). Year 0, which numpy takes
# and fromisoformat does not, is left out; a day past its month's end
# matches but fails numpy's parse.
_DATE = (
    r"(?!0000)[0-9]{4}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01])"
    r"T(?:[01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9](?:\.[0-9]{1,6})?"
)
_DATES = re.compile(f"{_DATE}(?:\n{_DATE})*")


def _iso(ts) -> str:
    return ts.isoformat()


def _iso_dates(us) -> list[str]:
    """Epoch microseconds -> naive-UTC ISO strings exactly as
    datetime.isoformat() writes them (the reference's payload format,
    src/model/data.py:10): a whole second carries no fraction. One
    vectorized call instead of a datetime per point."""
    us = np.asarray(us, dtype=np.int64)
    out = np.datetime_as_string(us.astype("datetime64[us]"), unit="us")
    whole = us % 1_000_000 == 0
    out[whole] = out[whole].astype("<U19")  # drop ".000000"
    return out.tolist()


def _points_loop(data: list) -> tuple[list, list, list]:
    """A POST's points as (ids, epoch µs, values), one datetime per
    point; a bad point raises KeyError, ValueError, TypeError or
    OverflowError (an integer past float range), whose text the 400
    response carries."""
    ids, stamps, values = [], [], []
    for ds in data:
        ids += [str(ds["dataset_id"])] * len(ds["points"])
        for p in ds["points"]:
            # naive ISO dates are UTC by engine convention
            d = _dt.datetime.fromisoformat(p["date"])
            stamps.append(_epoch_us(d))
            values.append(float(p["value"]))
    return ids, stamps, values


def _points_fast(data: list):
    """_points_loop's result decoded a column at a time, or None unless
    every point is a {"date", "value"} object whose date matches _DATE
    and whose value is a JSON number (an int or a float, not a bool);
    the caller then runs _points_loop, so what is accepted or rejected,
    and each 400's text, stays the loop's."""
    ids, dates, values = [], [], []
    try:
        for ds in data:
            points = ds["points"]
            if type(points) is not list:
                return None
            ids += [str(ds["dataset_id"])] * len(points)
            dates += [p["date"] for p in points]
            values += [p["value"] for p in points]
        if not set(map(type, values)) <= {int, float}:
            return None
        if dates and not _DATES.fullmatch("\n".join(dates)):
            return None
        stamps = np.array(dates, dtype="datetime64[us]").astype(np.int64)
        return ids, stamps, np.array(values, dtype=np.float64)
    except (KeyError, TypeError, ValueError, OverflowError):
        return None


def _json_floats(x: np.ndarray) -> list:
    """A float64 column as json.dumps writes each value: str() of a
    float is float.__repr__, and a non-finite value is NaN, Infinity or
    -Infinity (_valid_rows drops NaN but not ±inf, and a rollup mean of
    ±inf partials can be NaN)."""
    out = x.tolist()
    for i in np.flatnonzero(~np.isfinite(x)).tolist():
        v = out[i]
        out[i] = "NaN" if v != v else "Infinity" if v > 0 else "-Infinity"
    return out


def _data_body(dataset: str, table: pa.Table) -> bytes:
    """The GET /api/data body for a read_window table, byte for byte
    json.dumps({"data": {"dataset": dataset, "points": points}}) with
    points the reference's dicts: (date, value) for raw rows, (date,
    min_value, mean_value, max_value) for rollup rows. Built from the
    columns by one %-format over every point: no dict per point."""
    if "us" in table.column_names:
        us = table.column("us").to_numpy()
        keys = ("value",)
    else:
        us = table.column("bin_ts").to_numpy() * 1_000_000
        keys = ("min_value", "mean_value", "max_value")
    cols = [_iso_dates(us)] + [_json_floats(table.column(k).to_numpy()) for k in keys]
    args = [None] * (len(cols) * len(us))
    for i, col in enumerate(cols):
        args[i :: len(cols)] = col
    point = '{"date": "%s"' + "".join(f', "{k}": %s' for k in keys) + "}"
    points = ", ".join([point] * len(us)) % tuple(args)
    return f'{{"data": {{"dataset": {json.dumps(dataset)}, "points": [{points}]}}}}'.encode()


class TlmHandler(BaseHTTPRequestHandler):
    store: TelemetryStore
    comments: CommentStore
    # Optional reference-style browser app: a directory holding the
    # reference's static tree (templates/index.html + public/*). When
    # set, the shim serves `/` and `/public/<path>` exactly like the
    # reference server (server.py:47-53), so a deployment migrated
    # with tools/migrate_reference_store.py keeps its UI unchanged —
    # graph.js's fetches (/api/datasets, /api/data/<id>, /api/comment)
    # land on the byte-compatible JSON routes below.
    ui_root: str | None = None
    # ThreadingHTTPServer runs one thread per request; the stores'
    # read-merge-overwrite paths are not concurrent-writer-safe, so
    # mutations serialize on this lock (reads stay lock-free — single
    # node shim; a cluster deployment uses Delta's ACID instead).
    write_lock = threading.Lock()
    # Memoized GET /api/data response bodies, JSON-encoded, so a hit
    # skips json.dumps (dashboards refetch identical windows on every
    # refresh/pan-back — the reference effectively memoizes by holding
    # all data in process RAM). Bounded, cleared under write_lock
    # whenever new points are posted, and scoped PER SERVER: serve()
    # installs a fresh dict + lock + generation counter in each
    # BoundHandler, so two servers over different stores can never
    # serve each other's cached payloads. These
    # class-level defaults only back direct TlmHandler use.
    _data_memo: dict[str, bytes] = {}
    _DATA_MEMO_MAX = 256
    # Ingest generation, bumped under write_lock by every data POST.
    # A GET captures it before reading; a payload computed against a
    # superseded generation is served but never memoized (otherwise a
    # slow pre-ingest read could win the race with POST's clear() and
    # pin a stale window forever). List, not int: handler instances
    # are per-request, so mutation must hit shared state.
    _gen: list[int] = [0]

    # ------------------------------------------------------- plumbing
    def _send(self, code: int, payload) -> None:
        """payload: a JSON-able value, or an already-encoded body."""
        body = payload if isinstance(payload, bytes) else json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict | None:
        """The request's JSON object ({} without a body); None when the
        body is malformed or not an object."""
        try:
            n = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(n)) if n else {}
        except ValueError:  # bad length, bad JSON or bad UTF-8
            return None
        return body if isinstance(body, dict) else None

    def log_message(self, *args) -> None:  # quiet test output
        pass

    def _range(self, q):
        try:
            return (
                _dt.datetime.fromisoformat(q["start"][0]),
                _dt.datetime.fromisoformat(q["end"][0]),
            )
        except Exception:
            return None

    def _send_file(self, fs_path: str) -> None:
        try:
            with open(fs_path, "rb") as f:
                body = f.read()
        except OSError:
            return self._send(404, {"message": "not found"})
        ctype = (
            mimetypes.guess_type(fs_path)[0] or "application/octet-stream"
        )
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    # --------------------------------------------------------- routes
    def do_GET(self):
        url = urlparse(self.path)
        q = parse_qs(url.query)
        if self.ui_root is not None:
            if url.path == "/":
                return self._send_file(
                    os.path.join(self.ui_root, "templates", "index.html")
                )
            if url.path.startswith("/public/"):
                base = os.path.realpath(
                    os.path.join(self.ui_root, "public")
                )
                fs = os.path.realpath(
                    os.path.join(base, url.path[len("/public/"):])
                )
                # realpath containment: no ../ escape from the tree
                if not fs.startswith(base + os.sep):
                    return self._send(404, {"message": "not found"})
                return self._send_file(fs)
        if url.path == "/api/datasets":
            text = q.get("text", [""])[0]
            return self._send(200, self.store.list_datasets(text))
        m = re.fullmatch(r"/api/data/([^/]+)", url.path)
        if m:
            rng = self._range(q)
            if rng is None:
                return self._send(400, {"message": "Invalid or missing start/end times"})
            memo_key = self.path
            hit = self._data_memo.get(memo_key)
            if hit is not None:
                return self._send(200, hit)
            gen0 = self._gen[0]
            # read_window: on a warm store an in-memory lookup that
            # runs no Spark job, returning Arrow columns sorted by
            # time; the body is encoded from the columns. Dates are
            # formatted from epoch instants, so a non-UTC host cannot
            # shift them.
            window = self.store.read_window(m.group(1), *rng)
            body = _data_body(m.group(1), window)
            # Under write_lock, not a lock of its own: a reader then
            # pauses behind an in-flight POST instead of competing with
            # it for the GIL, which keeps ingest latency down.
            with self.write_lock:
                if (
                    self._gen[0] == gen0
                    and len(self._data_memo) < self._DATA_MEMO_MAX
                ):
                    self._data_memo[memo_key] = body
            return self._send(200, body)
        if url.path == "/api/comment":
            rng = self._range(q)
            if rng is None:
                return self._send(400, {"message": "Invalid or missing start/end times"})
            tags = q.get("tags", [None])[0]
            tag_filter = tags.split(",") if tags else []
            rows = self.comments.get(*rng, tags=tag_filter).collect()
            return self._send(
                200,
                {
                    "comments": [
                        {
                            "id": r.id,
                            "date": _iso(r.ts),
                            "text": r.text,
                            "tags": list(r.tags or []),
                        }
                        for r in rows
                    ]
                },
            )
        return self._send(404, {"message": "not found"})

    def do_POST(self):
        url = urlparse(self.path)
        if url.path == "/api/data":
            if (body := self._body()) is None:
                return self._send(400, _NOT_OBJECT)
            data = body.get("data")
            if not isinstance(data, list) or not data:
                return self._send(400, {"message": "'data' must be a nonempty list"})
            for ds in data:
                if not isinstance(ds, dict) or "dataset_id" not in ds:
                    return self._send(
                        400, {"message": "One or more data fields was missing 'dataset_id'"}
                    )
                if "points" not in ds:
                    return self._send(
                        400, {"message": "One or more data fields was missing 'points'"}
                    )
            try:
                ids, stamps, values = _points_fast(data) or _points_loop(data)
            except (KeyError, ValueError, TypeError, OverflowError) as e:
                return self._send(400, {"message": f"invalid point: {e}"})
            batch = _points_table(ids, stamps, values)
            with self.write_lock:
                self.store.put(batch)
                self._gen[0] += 1  # in-flight GETs must not memoize
                self._data_memo.clear()  # new points invalidate windows
            return self._send(
                200, {"message": f"{len(values)} datapoints were posted"}
            )
        if url.path == "/api/admin/compact":
            # maintenance (extension beyond the reference): O8
            # file-sizing as an operator-triggered table service
            with self.write_lock:
                self.store.compact()
                self._gen[0] += 1
                self._data_memo.clear()
            return self._send(200, {"message": "store compacted"})
        if url.path == "/api/admin/expire":
            # maintenance (extension): O9 downsample-then-expire —
            # drops raw days before 'before', rollups keep serving
            from open_tlm_spark.store.retention import expire_raw

            if (body := self._body()) is None:
                return self._send(400, _NOT_OBJECT)
            # the only route that irreversibly deletes data on an
            # unauthenticated shim: demand an explicit opt-in so a
            # single stray request can't destroy raw history
            if body.get("confirm") is not True:
                return self._send(
                    400,
                    {
                        "message": "expire deletes raw partitions "
                        "permanently; resend with 'confirm': true"
                    },
                )
            try:
                cutoff = _dt.datetime.fromisoformat(body["before"])
            except (KeyError, ValueError, TypeError) as e:
                return self._send(400, {"message": f"invalid cutoff: {e}"})
            with self.write_lock:
                n = expire_raw(self.store, cutoff)
                self._gen[0] += 1
                self._data_memo.clear()
            return self._send(
                200,
                {"message": f"{n} partitions expired", "partitions": n},
            )
        if url.path == "/api/comment/new":
            if (body := self._body()) is None:
                return self._send(400, _NOT_OBJECT)
            c = body.get("comment")
            if not isinstance(c, dict):
                return self._send(400, {"message": "Missing required 'comment' key"})
            try:
                ts = _dt.datetime.fromisoformat(c["date"])
            except (KeyError, ValueError, TypeError) as e:
                return self._send(400, {"message": f"invalid comment: {e}"})
            with self.write_lock:
                cid = self.comments.create(ts, c.get("text", ""), c.get("tags", []))
            return self._send(200, {"message": "Comment created", "id": cid})
        return self._send(404, {"message": "not found"})

    def do_PUT(self):
        if urlparse(self.path).path == "/api/comment/edit":
            if (body := self._body()) is None:
                return self._send(400, _NOT_OBJECT)
            c = body.get("comment")
            if not isinstance(c, dict) or "id" not in c:
                return self._send(400, {"message": "Missing required 'comment' key"})
            try:
                cid = int(c["id"])
            except (ValueError, TypeError):
                return self._send(400, {"message": "invalid id"})
            with self.write_lock:
                self.comments.update(cid, c.get("text"), c.get("tags"))
            return self._send(200, {"message": "Comment edited", "id": cid})
        return self._send(404, {"message": "not found"})

    def do_DELETE(self):
        m = re.fullmatch(r"/api/comment/delete/([^/]+)", urlparse(self.path).path)
        if m:
            try:
                cid = int(m.group(1))
            except ValueError:
                return self._send(400, {"message": "invalid id"})
            with self.write_lock:
                self.comments.delete(cid)
            return self._send(200, {"comments": None})
        return self._send(404, {"message": "not found"})


def serve(
    store: TelemetryStore,
    comments: CommentStore,
    port: int = 0,
    warm: bool = True,
    ui_root: str | None = None,
) -> ThreadingHTTPServer:
    """Start the API server on a daemon thread; returns the server
    (server.server_address[1] is the bound port; shutdown() to stop).

    warm=True holds the raw points, the rollups and the catalog as
    driver-side snapshots (store.warm), so a data read or a catalog
    search runs no Spark job; a write drops the snapshots of the
    tables it changed and they rebuild on their next read. A data
    read's window comes back as Arrow columns, from which the JSON
    body is encoded without a dict per point (_data_body). A data
    POST decodes its points a column at a time (_points_fast) and
    hands store.put an Arrow table, so validation, the dedup, the
    rollup merge and the pyarrow writes all run on the driver, and a
    POST runs no Spark job, with or without new series.

    ui_root: path to a reference-style static tree (templates/ +
    public/) to serve the browser app at / — completes the switching
    path for stores migrated with tools/migrate_reference_store.py."""
    if warm:
        store.warm()
    handler = type(
        "BoundHandler",
        (TlmHandler,),
        {
            "store": store,
            "comments": comments,
            "ui_root": ui_root,
            # per-server state — never shared across serve() calls
            "_data_memo": {},
            "_gen": [0],
            "write_lock": threading.Lock(),
        },
    )
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
