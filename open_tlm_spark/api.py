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

import pyarrow as pa

from open_tlm_spark.store import CommentStore, TelemetryStore
from open_tlm_spark.store.tsdb import _as_utc


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_ONE_US = _dt.timedelta(microseconds=1)


def _iso(ts) -> str:
    return ts.isoformat()


def _us_iso(us: int) -> str:
    """Epoch-microseconds -> naive-UTC ISO string (the reference's
    payload format, src/model/data.py:10)."""
    return (
        _dt.datetime.fromtimestamp(us / 1_000_000, tz=_dt.timezone.utc)
        .replace(tzinfo=None)
        .isoformat()
    )


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
    # Memoized GET /api/data payloads (dashboards refetch identical
    # windows on every refresh/pan-back — the reference effectively
    # memoizes by holding all data in process RAM). Bounded, cleared
    # under write_lock whenever new points are posted, and scoped
    # PER SERVER: serve() installs a fresh dict + lock + generation
    # counter in each BoundHandler, so two servers over different
    # stores can never serve each other's cached payloads. These
    # class-level defaults only back direct TlmHandler use.
    _data_memo: dict[str, object] = {}
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
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self):
        n = int(self.headers.get("Content-Length", 0))
        return json.loads(self.rfile.read(n)) if n else {}

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
            rows = self.store.datasets(text).collect()
            return self._send(200, [r.dataset_id for r in rows])
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
            # read_window: one-statement warm fast path, bounded rows
            # sorted driver-side (a Spark range-exchange per
            # interactive read would double the latency). Raw rows
            # carry epoch micros (us) — formatting from the epoch
            # avoids OS-local naive-datetime shifts on non-UTC hosts.
            rows = self.store.read_window(m.group(1), *rng)
            if rows and "us" in rows[0].__fields__:
                points = [
                    {"date": _us_iso(r.us), "value": r.value} for r in rows
                ]
            else:
                points = [
                    {
                        "date": _us_iso(r.bin_ts * 1_000_000),
                        "min_value": r.min_value,
                        "mean_value": r.mean_value,
                        "max_value": r.max_value,
                    }
                    for r in rows
                ]
            payload = {"data": {"dataset": m.group(1), "points": points}}
            with self.write_lock:
                if (
                    self._gen[0] == gen0
                    and len(self._data_memo) < self._DATA_MEMO_MAX
                ):
                    self._data_memo[memo_key] = payload
            return self._send(200, payload)
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
            body = self._body()
            data = body.get("data")
            if not isinstance(data, list) or not data:
                return self._send(400, {"message": "'data' must be a nonempty list"})
            for ds in data:
                if "dataset_id" not in ds:
                    return self._send(
                        400, {"message": "One or more data fields was missing 'dataset_id'"}
                    )
                if "points" not in ds:
                    return self._send(
                        400, {"message": "One or more data fields was missing 'points'"}
                    )
            try:
                ids, stamps, values = [], [], []
                for ds in data:
                    ids += [str(ds["dataset_id"])] * len(ds["points"])
                    for p in ds["points"]:
                        # naive ISO dates are UTC by engine convention;
                        # integer epoch micros are exact, while pyarrow
                        # can keep an offset-aware datetime's wall
                        # clock instead of its UTC instant
                        d = _as_utc(_dt.datetime.fromisoformat(p["date"]))
                        stamps.append((d - _EPOCH) // _ONE_US)
                        values.append(float(p["value"]))
            except (KeyError, ValueError, TypeError) as e:
                return self._send(400, {"message": f"invalid point: {e}"})
            # An Arrow table goes to the JVM as one columnar stream; a
            # list of Python rows would be pickled and re-read by
            # Python workers on every scan of the batch.
            batch = pa.table(
                {
                    "dataset_id": pa.array(ids, pa.string()),
                    "ts": pa.array(stamps, pa.timestamp("us", tz="UTC")),
                    "value": pa.array(values, pa.float64()),
                }
            )
            with self.write_lock:
                self.store.put(self.store.spark.createDataFrame(batch))
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

            body = self._body()
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
            body = self._body()
            c = body.get("comment")
            if c is None:
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
            body = self._body()
            c = body.get("comment")
            if c is None or "id" not in c:
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

    warm=True pins the rollup levels + catalog (and raw points) in
    memory so interactive reads serve from InMemoryRelation instead of
    re-listing/re-decoding parquet — ingest invalidates touched levels
    and they re-warm on next read (store.warm).

    ui_root: path to a reference-style static tree (templates/ +
    public/) to serve the browser app at / — completes the switching
    path for stores migrated with tools/migrate_reference_store.py."""
    if warm:
        store.warm(points=True)
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
