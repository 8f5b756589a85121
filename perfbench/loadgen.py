"""Closed-loop HTTP load generator for the serve workload.

Runs as its own process against a server started by run.py and prints
one JSON object. Three phases back to back:

  warmup  two dashboard readers for WARMUP_S: the server's first
          requests run on a cold JIT, so they are checked but not
          measured;
  read    two dashboard readers, no writes;
  ingest  one reader beside one writer that POSTs a fixed number of
          batches extending every series forward in time; the phase
          ends when the last POST is acknowledged.

Reader mix, dealt from shuffled decks of 20 so every run has the same
proportions: 1 /api/datasets search, 4 re-fetches of a recently
served window (a dashboard refresh), 9 fresh 5-minute raw windows,
4 fresh 1-hour windows (1 s rollup) and 2 fresh full-range windows
(10 s rollup). Every response is checked against the counts the 10 Hz
generator implies, after the timed phases end.
"""

from __future__ import annotations

import argparse
import datetime as dt
import http.client
import json
import random
import threading
import time

import datagen

RAW_S, HOUR_S, FULL_S = 300, 3600, 6000  # routed: raw, 1 s, 10 s level
FIDELITY = {"raw": None, "hour": 1, "full": 10}
WARMUP_S = 3.0
DECK = ["datasets"] + ["refetch"] * 4 + ["raw"] * 9 + ["hour"] * 4 + ["full"] * 2


class Client:
    def __init__(self, port: int):
        self.port = port

    def request(self, method: str, path: str, body: bytes | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            headers = {"Content-Type": "application/json"} if body else {}
            t0 = time.perf_counter()
            conn.request(method, path, body, headers)
            resp = conn.getresponse()
            data = resp.read()
            return time.perf_counter() - t0, resp.status, data
        finally:
            conn.close()


def iso(offset_ms: int) -> str:
    return (datagen.T0 + dt.timedelta(milliseconds=offset_ms)).isoformat()


class Geometry:
    """What the store holds: n_series x n_points at 10 Hz from T0,
    then `batch` points per series per acknowledged POST."""

    def __init__(self, n_series: int, n_points: int, batch: int):
        self.ids = datagen.series_ids(n_series)
        self.n_points = n_points
        self.batch = batch
        self.end_ms = n_points * 100  # first instant with no initial point

    def expected(self, kind: str, start_ms: int, end_ms: int) -> int:
        """Points (raw) or bins (rollup) in [start, end] of one series'
        initial data."""
        if kind == "raw":
            lo = max(0, -(-start_ms // 100))
            hi = min(self.n_points - 1, end_ms // 100)
            return max(0, hi - lo + 1)
        d = FIDELITY[kind]
        lo_s = (start_ms // 1000) // d * d
        hi_s = min(end_ms // 1000, self.end_ms // 1000 - 1)
        first = max(0, -(-lo_s // d))
        return max(0, hi_s // d - first + 1)


class Reader:
    def __init__(self, client, geo: Geometry, rng: random.Random, log: list):
        self.c, self.geo, self.rng, self.log = client, geo, rng, log
        self.recent: list[tuple] = []
        self.deck: list[str] = []

    def next_request(self):
        if not self.deck:
            self.deck = self.rng.sample(DECK, len(DECK))
        kind = self.deck.pop()
        if kind == "datasets":
            text = f"host{self.rng.randrange(len(self.geo.ids)):02d}"[:-1]
            return ("datasets", f"/api/datasets?text={text}", text)
        if kind == "refetch":
            if self.recent:
                return self.rng.choice(self.recent)
            kind = "raw"
        if kind == "raw":
            width = RAW_S * 1000
            start = self.rng.randrange(0, self.geo.end_ms - width)
        elif kind == "hour":
            width = HOUR_S * 1000
            start = self.rng.randrange(60_000, self.geo.end_ms) - width
        else:
            width = FULL_S * 1000
            start = self.geo.end_ms - width
        end = start + width - 50
        sid = self.rng.choice(self.geo.ids)
        req = (kind, f"/api/data/{sid}?start={iso(start)}&end={iso(end)}", (sid, start, end))
        self.recent = (self.recent + [req])[-8:]
        return req

    def run(self, phase: str, until: float = 0.0, stop: threading.Event | None = None) -> None:
        while time.perf_counter() < until if stop is None else not stop.is_set():
            kind, path, arg = self.next_request()
            t_sent = time.perf_counter()
            got = None
            try:
                lat, status, body = self.c.request("GET", path)
                if status == 200:
                    got = json.loads(body)
                    if kind != "datasets":
                        pts = got["data"]["points"]
                        got = (got["data"]["dataset"], len(pts), "value" in pts[0] if pts else None)
            except Exception as e:  # counted as a failed operation
                lat, status = time.perf_counter() - t_sent, repr(e)
            self.log.append(dict(phase=phase, kind=kind, t=t_sent, lat=lat, status=status, arg=arg, got=got))


def post_body(geo: Geometry, j: int, seed: int) -> bytes:
    rng = random.Random(seed * 7919 + j)
    first = geo.n_points + j * geo.batch
    data = [
        {
            "dataset_id": sid,
            "points": [
                {"date": iso((first + p) * 100), "value": round(rng.uniform(0.0, 100.0), 3)}
                for p in range(geo.batch)
            ],
        }
        for sid in geo.ids
    ]
    return json.dumps({"data": data}).encode()


def check(geo: Geometry, log: list[dict]) -> list[str]:
    bad = []
    for e in log:
        where = f"{e['kind']} {e['arg']}"
        if e["status"] != 200:
            bad.append(f"{where}: status {e['status']}")
        elif e["kind"] == "datasets":
            want = [i for i in geo.ids if e["arg"] in i]
            if e["got"] != want:
                bad.append(f"{where}: got {e['got']}")
        elif e["kind"] == "post":
            if e["got"] != f"{len(geo.ids) * geo.batch} datapoints were posted":
                bad.append(f"{where}: got {e['got']}")
        elif e["kind"] != "readback":
            sid, start, end = e["arg"]
            want = (sid, geo.expected(e["kind"], start, end), e["kind"] == "raw")
            if e["got"] != want:
                bad.append(f"{where}: got {e['got']} want {want}")
    return bad


def read_back(client, geo: Geometry, n_posts: int, log: list) -> list[str]:
    """Every acknowledged POST's points must be readable, raw, through
    the API (windows kept under the raw-routing limit)."""
    bad = []
    lo, hi = geo.end_ms, geo.end_ms + n_posts * geo.batch * 100
    for sid in geo.ids:
        got = 0
        for a in range(lo, hi, 400_000):
            b = min(hi, a + 400_000) - 50
            _, status, body = client.request("GET", f"/api/data/{sid}?start={iso(a)}&end={iso(b)}")
            if status != 200:
                bad.append(f"readback {sid}: status {status}")
                continue
            got += len(json.loads(body)["data"]["points"])
        log.append(dict(phase="check", kind="readback", status=200))
        if got != n_posts * geo.batch:
            bad.append(f"readback {sid}: {got} points, {n_posts * geo.batch} acknowledged")
    return bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--series", type=int, required=True)
    ap.add_argument("--points", type=int, required=True)
    ap.add_argument("--batch", type=int, required=True)
    ap.add_argument("--read-seconds", type=float, required=True)
    ap.add_argument("--posts", type=int, required=True)
    a = ap.parse_args()

    geo = Geometry(a.series, a.points, a.batch)
    client = Client(a.port)
    bodies = [post_body(geo, j, a.seed) for j in range(a.posts)]
    log: list[dict] = []
    crashes: list[str] = []  # a crashed client thread fails the run
    threading.excepthook = lambda a: crashes.append(f"client thread crashed: {a.exc_value!r}")
    readers = [Reader(client, geo, random.Random(a.seed * 31 + i), log) for i in range(2)]

    def read_phase(phase: str, seconds: float) -> float:
        t0 = time.perf_counter()
        threads = [threading.Thread(target=r.run, args=(phase, t0 + seconds)) for r in readers]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - t0

    read_phase("warmup", WARMUP_S)
    read_wall = read_phase("read", a.read_seconds)

    posts: list[int] = []  # acknowledged batches
    done = threading.Event()

    def writer() -> None:
        for j, body in enumerate(bodies):
            t_sent = time.perf_counter()
            try:
                lat, status, resp = client.request("POST", "/api/data", body)
                got = json.loads(resp).get("message") if status == 200 else None
            except Exception as e:
                lat, status, got = time.perf_counter() - t_sent, repr(e), None
            log.append(dict(phase="ingest", kind="post", t=t_sent, lat=lat, status=status, arg=j, got=got))
            if status == 200:
                posts.append(j)
        done.set()

    t_ingest = time.perf_counter()
    threads = [
        threading.Thread(target=writer),
        threading.Thread(target=readers[0].run, args=("ingest",), kwargs={"stop": done}),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ingest_wall = time.perf_counter() - t_ingest

    bad = crashes + check(geo, log) + read_back(client, geo, len(posts), log)
    print(json.dumps({
        "read_wall_s": read_wall,
        "ingest_wall_s": ingest_wall,
        "points_acked": len(posts) * len(geo.ids) * geo.batch,
        "log": [{k: v for k, v in e.items() if k in ("phase", "kind", "t", "lat", "status")} for e in log],
        "problems": bad,
    }))


if __name__ == "__main__":
    main()
