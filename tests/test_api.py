"""End-to-end HTTP API tests: the reference's 8-route surface
(server.py:47-175) over the Spark engine, driven through real HTTP."""

import json
import urllib.request

import pytest

from open_tlm_spark.api import serve
from open_tlm_spark.store import CommentStore, TelemetryStore


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
    """The POST batch goes to Spark as an Arrow table: a naive date is
    UTC and an offset date lands on its UTC instant; a NaN value and
    an illegal dataset_id are dropped by validate. The message still
    counts every point the request carried."""
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
            ]
        },
    )
    assert status == 200 and body["message"] == "5 datapoints were posted"

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


def test_post_validation_errors(api):
    status, body = _req(f"{api}/api/data", "POST", {"data": []})
    assert status == 400 and "nonempty" in body["message"]
    status, body = _req(f"{api}/api/data", "POST", {"data": [{"points": []}]})
    assert status == 400 and "dataset_id" in body["message"]


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
