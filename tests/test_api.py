"""End-to-end HTTP API tests: the reference's 8-route surface
(server.py:47-175) over the Spark engine, driven through real HTTP."""

import datetime as dt
import json
import urllib.request

import numpy as np
import pyarrow as pa
import pytest

from open_tlm_spark.api import (
    _data_body,
    _iso_dates,
    _points_fast,
    _points_loop,
    serve,
)
from open_tlm_spark.store import CommentStore, TelemetryStore
from open_tlm_spark.store.tsdb import _ROLLUP_COLS, _ROLLUP_FIELDS, _ROLLUP_READ, _Snapshot


@pytest.fixture()
def api(spark, tmp_path):
    store = TelemetryStore(spark, str(tmp_path))
    comments = CommentStore(spark, str(tmp_path))
    srv = serve(store, comments)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _req(url, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, method=method, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_iso_dates_match_isoformat():
    """The vectorized date formatter writes exactly what the per-point
    datetime.isoformat() did: random instants from 1970 to 2100, whole
    seconds (no fraction) and the microsecond edges."""
    utc = dt.timezone.utc
    hi = int(dt.datetime(2100, 1, 1, tzinfo=utc).timestamp()) * 1_000_000
    draws = np.random.default_rng(7).integers(0, hi, 200_000)
    us = [0, 1, 999_999, 1_000_000, hi] + draws.tolist()
    us += [u // 1_000_000 * 1_000_000 for u in us[5:1000]]
    want = [
        dt.datetime.fromtimestamp(u / 1_000_000, tz=utc).replace(tzinfo=None).isoformat()
        for u in us
    ]
    assert _iso_dates(us) == want
    assert _iso_dates([]) == []


# Dates in and out of _points_fast's form: 0-7 fraction digits, UTC
# and other offsets, the space separator, the basic format, date-only
# and truncated times, impossible calendar values, years 0 and 1,
# non-ASCII digits, and dates that are no string.
_POST_DATES = [
    "2024-01-01T03:00:00",
    *[f"2024-01-01T03:00:00.{'123456789'[:n]}" for n in range(1, 8)],
    "1969-12-31T23:59:59.999999",
    "0001-01-01T00:00:00",
    "0999-06-30T12:00:00.5",
    "2024-02-29T23:59:59",
    "2024-01-01T03:00:00Z",
    "2024-01-01T03:00:00+00:00",
    "2024-01-01T07:00:01+04:00",
    "2023-12-31T22:30:03.25-04:30",
    "2024-01-01 03:00:00",
    "20240101T030000",
    "2024-01-01",
    "2024-01-01T03:00",
    "2024-02-30T00:00:00",
    "2023-02-29T00:00:00",
    "2024-13-01T00:00:00",
    "0000-01-01T00:00:00",
    "2024-01-01T24:00:00",
    "2024-01-01T23:59:60",
    "\u0662\u0660\u0662\u0664-01-01T00:00:00",
    "2024-01-01T03:00:00\n",
    "",
    1704078000,
    None,
]
# Values: JSON numbers (ints past int64 and past float range, NaN and
# infinities as json.loads gives them) and what is no number
_POST_VALUES = [
    1.0, -2.5, 0, 7, 2**63 + 1, 10**400, float("nan"), float("inf"),
    float("-inf"), True, False, "1.5", "nan", None, [1.0],
]


def _decoded(decode, data):
    """A decoder's (ids, epoch µs, value bits), or its error's type and
    text."""
    try:
        ids, stamps, values = decode(data)
    except (KeyError, ValueError, TypeError, OverflowError) as e:
        return type(e), str(e)
    return list(ids), [int(u) for u in stamps], np.array(values, np.float64).tobytes()


def test_post_fast_decoder_matches_the_loop():
    """A POST's points decoded a column at a time (_points_fast) equal
    the per-point loop's (_points_loop) wherever the fast path takes the
    body; a body it does not take goes to the loop, so every accepted
    and rejected input and each 400's text stay the loop's. The fast
    path takes every body of strict naive dates and JSON numbers."""
    base = {"date": "2024-01-01T00:00:00", "value": 1.0}
    bodies = [
        [{"dataset_id": "f.a", "points": [base, {"date": d, "value": v}]}]
        for d in _POST_DATES
        for v in _POST_VALUES
    ]
    bodies += [
        [{"dataset_id": "f.a", "points": {"date": "2024-01-01T00:00:00", "value": 1}}],
        [{"dataset_id": "f.a", "points": "2024"}],
        [{"dataset_id": "f.a", "points": 5}],
        [{"dataset_id": "f.a", "points": [base, [1, 2]]}],
        [{"dataset_id": "f.a", "points": [{"date": "2024-01-01T00:00:00"}]}],
        [{"dataset_id": "f.a", "points": [{"value": 1.0}]}],
        [{"dataset_id": 17, "points": [base]}, {"dataset_id": "f.b", "points": []}],
        [{"dataset_id": "f.a", "points": []}],
    ]
    rng = np.random.default_rng(11)
    epoch = dt.datetime(1970, 1, 1)
    us = rng.integers(0, 4_102_444_800 * 10**6, 5000)
    us[::3] -= us[::3] % 10**6  # whole seconds carry no fraction
    strict = [
        {"dataset_id": f"f.{k % 7}", "points": [
            {"date": (epoch + dt.timedelta(microseconds=int(u))).isoformat(), "value": v}
            for u, v in zip(us[k::50], rng.standard_normal(100).tolist())
        ]}
        for k in range(50)
    ]
    strict[0]["points"][0]["value"] = 3  # an int is a JSON number too
    taken = 0
    for data in [*bodies, strict]:
        want = _decoded(_points_loop, data)
        if _points_fast(data) is not None:
            taken += 1
            assert _decoded(_points_fast, data) == want, data
        assert _decoded(lambda d: _points_fast(d) or _points_loop(d), data) == want
    assert _points_fast(strict) is not None
    # each of the 11 strict dates with each of the 8 JSON numbers in
    # float range, the two other bodies of strict points and the
    # random body
    assert taken == 11 * 8 + 2 + 1


def _json_dumps_body(dataset, table):
    """The GET /api/data body as the handler used to build it: a dict
    per point, a datetime.isoformat() per date, one json.dumps."""
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    epoch = dt.datetime(1970, 1, 1)

    def date(us):
        return (epoch + dt.timedelta(microseconds=us)).isoformat()

    if "us" in table.column_names:
        points = [{"date": date(us), "value": v} for _, us, v in rows]
    else:
        points = [
            {"date": date(t * 10**6), "min_value": lo, "mean_value": mean, "max_value": hi}
            for _, t, lo, mean, hi, _, _ in rows
        ]
    return json.dumps({"data": {"dataset": dataset, "points": points}}).encode()


_EDGE_FLOATS = [-0.0, 5e-324, 1e22, 0.1, np.inf, -np.inf, np.nan, 1e16, 1e-5, -2.5]


def _random_floats(rng, n):
    """Values of every magnitude and sign, with the edge values mixed in."""
    x = rng.standard_normal(n) * 10.0 ** rng.integers(-320, 300, n)
    edge = rng.random(n) < 0.1
    x[edge] = rng.choice(_EDGE_FLOATS, edge.sum())
    return x


def test_data_body_matches_json_dumps():
    """_data_body writes exactly the bytes of json.dumps over a dict per
    point: raw and rollup tables, empty tables, an id that needs
    escaping, the float edge cases (signed zero, the smallest
    subnormal, exponent forms, ±inf, NaN), and a few hundred random
    windows cut from snapshots, also as multi-chunk tables with plain
    string ids (the cold path's shape)."""
    ts0 = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    day = 86_400_000_000
    n = len(_EDGE_FLOATS)
    edges = np.array(_EDGE_FLOATS)
    raw = pa.table(
        {
            "dataset_id": ["s"] * n,
            "us": ts0 + np.arange(n) * 250_000,  # whole seconds and fractions
            "value": edges,
        }
    )
    agg = pa.table(
        {
            "dataset_id": ["s"] * n,
            "bin_ts": ts0 // 10**6 + np.arange(n) * 100,
            "min_value": edges,
            "mean_value": edges[::-1],
            "max_value": np.roll(edges, 3),
            "sum_values": edges,
            "count": np.ones(n, np.int64),
        }
    )
    for dataset in ("api.x", 'we"ird\\ id\u00e9\n\u2028'):
        for table in (raw, agg, raw.slice(0, 0), _ROLLUP_READ.empty_table()):
            assert _data_body(dataset, table) == _json_dumps_body(dataset, table)

    rng = np.random.default_rng(11)
    ids = [f"s{i}" for i in range(5)]
    m = 4000
    off = rng.integers(0, day, m)
    whole = rng.random(m) < 0.3
    off[whole] = off[whole] // 10**6 * 10**6
    pts = pa.table(
        {
            "dataset_id": rng.choice(ids, m),
            "us": ts0 + off,
            "value": _random_floats(rng, m),
        }
    )
    rolls = pa.table(
        {
            "dataset_id": rng.choice(ids, m),
            "bin_ts": ts0 // 10**6 + rng.permutation(m) * 10,
            "min_value": _random_floats(rng, m),
            "max_value": _random_floats(rng, m),
            "sum_values": _random_floats(rng, m),
            "count": rng.integers(1, 1000, m),
        }
    )
    snaps = (
        (_Snapshot.collect([pts], ("dataset_id", "us", "value"))[0], 1),
        (_Snapshot.collect([rolls.select(list(_ROLLUP_COLS))], _ROLLUP_FIELDS)[0], 10**6),
    )
    for i in range(300):
        snap, unit = snaps[i % 2]
        lo, hi = np.sort(rng.integers(ts0, ts0 + day, 2)) // unit
        want = None if rng.random() < 0.2 else list(rng.choice(ids, rng.integers(0, 3)))
        window = snap.window(want, int(lo), int(hi))
        plain = window.set_column(0, "dataset_id", window.column(0).cast(pa.string()))
        cold = pa.Table.from_batches(plain.to_batches(max_chunksize=7), plain.schema)
        body = _json_dumps_body("s", window)
        assert _data_body("s", window) == body
        assert _data_body("s", cold) == body


def test_data_roundtrip(api):
    # POST points (reference body shape, server.py:76-103)
    status, body = _req(
        f"{api}/api/data",
        "POST",
        {
            "data": [
                {
                    "dataset_id": "api.test",
                    "points": [
                        {"date": "2024-01-01T03:00:00", "value": 10.0},
                        {"date": "2024-01-01T03:00:01", "value": 12.0},
                    ],
                }
            ]
        },
    )
    assert status == 200 and body["message"] == "2 datapoints were posted"

    # search catalog
    status, names = _req(f"{api}/api/datasets?text=api")
    assert status == 200 and names == ["api.test"]

    # GET range -> FULL fidelity (narrow range), TimeSeriesDataset shape
    status, body = _req(
        f"{api}/api/data/api.test?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
    )
    assert status == 200
    pts = body["data"]["points"]
    assert body["data"]["dataset"] == "api.test"
    assert [p["value"] for p in pts] == [10.0, 12.0]

    # bad range -> 400 like the reference
    status, body = _req(f"{api}/api/data/api.test?start=xx&end=yy")
    assert status == 400


def test_data_auto_fidelity(api):
    # A wide range (> MAX_DURATION_FULL) must answer from a rollup with
    # min/mean/max rows (AggregatedDatapoint shape).
    _req(
        f"{api}/api/data",
        "POST",
        {
            "data": [
                {
                    "dataset_id": "api.agg",
                    "points": [
                        {"date": "2024-01-01T00:00:00", "value": 1.0},
                        {"date": "2024-01-01T00:00:00.500000", "value": 3.0},
                    ],
                }
            ]
        },
    )
    status, body = _req(
        f"{api}/api/data/api.agg?start=2024-01-01T00:00:00&end=2024-01-01T01:00:00"
    )
    assert status == 200
    pts = body["data"]["points"]
    assert len(pts) == 1
    assert pts[0]["min_value"] == 1.0
    assert pts[0]["mean_value"] == 2.0
    assert pts[0]["max_value"] == 3.0


def test_post_builds_utc_instants_and_validates(api):
    """The POST hands put its batch as an Arrow table: a naive date is
    UTC and an offset date lands on its UTC instant; a NaN value and
    illegal dataset_ids (one ends in a newline, which Java's $ would
    accept) are dropped by put's validation. The message still counts
    every point the request carried."""
    status, body = _req(
        f"{api}/api/data",
        "POST",
        {
            "data": [
                {
                    "dataset_id": "api.arrow",
                    "points": [
                        {"date": "2024-01-01T03:00:00", "value": 1.0},
                        {"date": "2024-01-01T07:00:01+04:00", "value": 2.0},
                        {"date": "2024-01-01T03:00:02.250000", "value": float("nan")},
                        {"date": "2023-12-31T22:30:03-04:30", "value": 4.5},
                    ],
                },
                {
                    "dataset_id": "api bad/id",
                    "points": [{"date": "2024-01-01T03:00:00", "value": 9.0}],
                },
                {
                    "dataset_id": "api.arrow\n",
                    "points": [{"date": "2024-01-01T03:00:00", "value": 8.0}],
                },
            ]
        },
    )
    assert status == 200 and body["message"] == "6 datapoints were posted"

    status, body = _req(
        f"{api}/api/data/api.arrow?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
    )
    assert status == 200
    assert [(p["date"], p["value"]) for p in body["data"]["points"]] == [
        ("2024-01-01T03:00:00", 1.0),
        ("2024-01-01T03:00:01", 2.0),
        ("2024-01-01T03:00:03", 4.5),
    ]
    status, names = _req(f"{api}/api/datasets?text=api")
    assert status == 200 and names == ["api.arrow"]


def _raw_req(url, method, data: bytes):
    """_req with a body sent as given, not JSON-encoded."""
    req = urllib.request.Request(url, data=data, method=method)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_post_validation_errors(api):
    status, body = _req(f"{api}/api/data", "POST", {"data": []})
    assert status == 400 and "nonempty" in body["message"]
    status, body = _req(f"{api}/api/data", "POST", {"data": [{"points": []}]})
    assert status == 400 and "dataset_id" in body["message"]
    status, body = _req(f"{api}/api/data", "POST", {"data": [1]})
    assert status == 400 and "dataset_id" in body["message"]
    # an integer past float range: a 400, not a dropped connection
    point = {"date": "2024-01-01T00:00:00", "value": 10**400}
    status, body = _req(
        f"{api}/api/data", "POST", {"data": [{"dataset_id": "x", "points": [point]}]}
    )
    assert status == 400 and "invalid point" in body["message"]


@pytest.mark.parametrize(
    "method, route",
    [
        ("POST", "/api/data"),
        ("POST", "/api/admin/expire"),
        ("POST", "/api/comment/new"),
        ("PUT", "/api/comment/edit"),
    ],
)
def test_malformed_body_is_a_400(api, method, route):
    """A truncated body, a top-level array or non-UTF-8 bytes get a 400
    response, not a dropped connection."""
    for data in (b'{"data": [', b"[1]", b'"text"', b"\xff"):
        status, body = _raw_req(f"{api}{route}", method, data)
        assert status == 400 and "JSON object" in body["message"], data
    if route.startswith("/api/comment"):  # a comment that is no object
        status, _ = _req(f"{api}{route}", method, {"comment": 5})
        assert status == 400
    # the server still answers
    status, _ = _req(f"{api}/api/datasets")
    assert status == 200


def test_comment_crud(api):
    status, body = _req(
        f"{api}/api/comment/new",
        "POST",
        {"comment": {"date": "2024-01-01T12:00:00", "text": "anomaly", "tags": ["ops", "p1"]}},
    )
    assert status == 200
    cid = body["id"]

    status, body = _req(
        f"{api}/api/comment?start=2024-01-01T00:00:00&end=2024-01-02T00:00:00&tags=ops"
    )
    assert status == 200 and len(body["comments"]) == 1
    assert body["comments"][0]["text"] == "anomaly"

    # tag filter requires ALL query tags present (src/marks.py:58)
    status, body = _req(
        f"{api}/api/comment?start=2024-01-01T00:00:00&end=2024-01-02T00:00:00&tags=ops,p2"
    )
    assert status == 200 and body["comments"] == []

    status, body = _req(
        f"{api}/api/comment/edit",
        "PUT",
        {"comment": {"id": cid, "text": "resolved", "tags": ["ops"]}},
    )
    assert status == 200

    status, body = _req(
        f"{api}/api/comment?start=2024-01-01T00:00:00&end=2024-01-02T00:00:00"
    )
    assert body["comments"][0]["text"] == "resolved"

    status, body = _req(f"{api}/api/comment/delete/{cid}", "DELETE")
    assert status == 200
    status, body = _req(
        f"{api}/api/comment?start=2024-01-01T00:00:00&end=2024-01-02T00:00:00"
    )
    assert body["comments"] == []


def test_two_servers_do_not_share_memo(spark, tmp_path):
    """Two serve() instances over distinct stores must keep separate
    /api/data memo caches: the same path on server B must NOT return
    server A's cached payload (per-server _data_memo/_gen/_lock are
    installed by serve(); regression for the shared-class-attr bug)."""
    urls, srvs = [], []
    for sub, val in (("a", 1.0), ("b", 2.0)):
        store = TelemetryStore(spark, str(tmp_path / sub))
        comments = CommentStore(spark, str(tmp_path / sub))
        srv = serve(store, comments, warm=False)
        srvs.append(srv)
        urls.append(f"http://127.0.0.1:{srv.server_address[1]}")
        _req(
            f"{urls[-1]}/api/data",
            "POST",
            {
                "data": [
                    {
                        "dataset_id": "shared.name",
                        "points": [{"date": "2024-01-01T00:00:00", "value": val}],
                    }
                ]
            },
        )
    try:
        path = "/api/data/shared.name?start=2024-01-01T00:00:00&end=2024-01-01T00:01:00"
        # prime server A's memo, then read the SAME path from server B
        _, body_a = _req(urls[0] + path)
        _, body_a2 = _req(urls[0] + path)  # memo hit on A
        _, body_b = _req(urls[1] + path)
        assert [p["value"] for p in body_a["data"]["points"]] == [1.0]
        assert body_a2 == body_a
        assert [p["value"] for p in body_b["data"]["points"]] == [2.0]
    finally:
        for srv in srvs:
            srv.shutdown()


def test_admin_maintenance_routes(api):
    # ingest two days of points
    for day, val in ((1, 1.0), (2, 2.0)):
        status, _ = _req(
            f"{api}/api/data",
            "POST",
            {
                "data": [
                    {
                        "dataset_id": "admin.test",
                        "points": [
                            {"date": f"2024-01-0{day}T03:00:0{i}", "value": val}
                            for i in range(3)
                        ],
                    }
                ]
            },
        )
        assert status == 200

    # compaction: 200 and queries unchanged
    status, body = _req(f"{api}/api/admin/compact", "POST", {})
    assert status == 200 and body["message"] == "store compacted"
    status, body = _req(
        f"{api}/api/data/admin.test?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
    )
    assert status == 200 and len(body["data"]["points"]) == 3

    # expiry without the explicit confirm opt-in -> 400, nothing lost
    status, body = _req(
        f"{api}/api/admin/expire", "POST", {"before": "2024-01-02T00:00:00"}
    )
    assert status == 400 and "confirm" in body["message"]
    status, body = _req(
        f"{api}/api/data/admin.test?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
    )
    assert status == 200 and len(body["data"]["points"]) == 3

    # expiry: day-1 raw drops, day-2 survives
    status, body = _req(
        f"{api}/api/admin/expire",
        "POST",
        {"before": "2024-01-02T00:00:00", "confirm": True},
    )
    assert status == 200 and body["partitions"] > 0
    status, body = _req(
        f"{api}/api/data/admin.test?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
    )
    assert status == 200 and body["data"]["points"] == []
    status, body = _req(
        f"{api}/api/data/admin.test?start=2024-01-02T02:59:00&end=2024-01-02T03:01:00"
    )
    assert status == 200 and len(body["data"]["points"]) == 3

    # bad cutoff -> 400
    status, _ = _req(
        f"{api}/api/admin/expire",
        "POST",
        {"before": "nope", "confirm": True},
    )
    assert status == 400


def test_reference_ui_served(spark, tmp_path):
    """VERDICT r6 #6: serving the reference's browser app against the
    shim completes the switching path — a store migrated with
    tools/migrate_reference_store.py keeps its UI unchanged. Drives
    the exact URLs graph.js/index.html request (/, /public/<asset>,
    /api/datasets, /api/data/<id>) against the served tree."""
    import urllib.error

    store = TelemetryStore(spark, str(tmp_path))
    comments = CommentStore(spark, str(tmp_path))
    srv = serve(store, comments, ui_root="/root/reference")
    api = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        def raw(path):
            with urllib.request.urlopen(api + path) as r:
                return r.status, r.headers.get("Content-Type"), r.read()

        # the app shell, as the reference's "/" route serves it
        status, ctype, body = raw("/")
        assert status == 200 and ctype == "text/html"
        assert b"public/index.js" in body and b"public/style.css" in body

        # assets index.html/graph.js actually reference
        for path, want_type in [
            ("/public/index.js", "text/javascript"),
            ("/public/graph.js", "text/javascript"),
            ("/public/style.css", "text/css"),
            ("/public/icons/logo-small.svg", "image/svg+xml"),
        ]:
            status, ctype, body = raw(path)
            assert status == 200 and ctype == want_type and body

        # traversal out of the public tree is refused
        status, _ = _req(f"{api}/public/%2e%2e/server.py")
        assert status == 404

        # the fetches graph.js issues hit the JSON routes
        _req(
            f"{api}/api/data",
            "POST",
            {
                "data": [
                    {
                        "dataset_id": "ui.test",
                        "points": [
                            {"date": "2024-01-01T03:00:00", "value": 1.0}
                        ],
                    }
                ]
            },
        )
        status, names = _req(f"{api}/api/datasets?text=ui")
        assert status == 200 and names == ["ui.test"]
        status, body = _req(
            f"{api}/api/data/ui.test"
            "?start=2024-01-01T02:59:00&end=2024-01-01T03:01:00"
        )
        assert status == 200 and len(body["data"]["points"]) == 1
    finally:
        srv.shutdown()
