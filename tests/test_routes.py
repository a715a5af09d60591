"""The route table (``api._ROUTES``): which row a request lands on, from
the path alone, and the gate each row applies. The matching tests start
no Spark; the gate and bad-input tests drive a server over HTTP."""

import http.client
import json
import urllib.error
import urllib.request

import pytest

from shaper_spark import api
from shaper_spark.auth import ALL_PERMISSIONS, PERMISSION_READ_DASHBOARD, Actor
from shaper_spark.api import ShaperServer

# (method, sample path, the handler of the row it must land on); every
# row has a sample. Pairs whose paths look alike are all listed, so a
# row that starts to shadow another fails here.
SAMPLES = [
    ("GET", "/health", "_health"),
    ("GET", "/metrics", "_metrics"),
    ("GET", "/favicon.ico", "_favicon"),
    ("GET", "/embed/shaper.js", "_embed_loader"),
    ("GET", "/dashboards/d1/edit", "_ui_shell"),
    ("GET", "/api/auth/info", "_auth_info"),
    ("GET", "/api/system/config", "_system_config"),
    ("GET", "/api/version", "_version"),
    ("GET", "/api/public/d1/status", "_public_status"),
    ("GET", "/api/auth/me", "_me"),
    ("GET", "/api/users", "_list_users"),
    ("GET", "/api/keys", "_list_keys"),
    ("GET", "/api/folders", "_list_folder"),
    ("GET", "/api/schema", "_schema"),
    ("GET", "/api/download/k1/out.csv", "_download_by_key"),
    ("GET", "/api/dashboards", "_list_apps"),
    ("GET", "/api/tasks", "_list_apps"),
    ("GET", "/api/dashboards/d1/info", "_dashboard_info"),
    ("GET", "/api/dashboards/info", "_dashboard"),
    ("GET", "/api/tasks/t1", "_task"),
    ("GET", "/api/tasks/runs", "_task"),
    ("GET", "/api/dashboards/d1", "_dashboard"),
    ("GET", "/api/dashboards/d1/download/out.csv", "_download"),
    ("GET", "/api/tasks/t1/events", "_task_events"),
    ("GET", "/api/tasks/t1/runs", "_task_runs"),
    ("POST", "/api/internal/task-result", "_task_result"),
    ("POST", "/api/auth/setup", "_setup"),
    ("POST", "/api/auth/login", "_login"),
    ("POST", "/api/auth/public", "_public_auth"),
    ("POST", "/api/invites/claim", "_claim_invite"),
    ("POST", "/api/auth/logout", "_logout"),
    ("POST", "/api/invites", "_create_invite"),
    ("POST", "/api/users/u1/password", "_update_user"),
    ("POST", "/api/admin/reset-jwt-secret", "_reset_jwt_secret"),
    ("POST", "/api/keys", "_create_key"),
    ("POST", "/api/keys/k1/permissions", "_key_permissions"),
    ("POST", "/api/folders", "_create_folder"),
    ("POST", "/api/folders/f1/rename", "_rename_folder"),
    ("POST", "/api/move", "_move"),
    ("POST", "/api/jwt", "_mint_jwt"),
    ("POST", "/api/sql", "_sql"),
    ("POST", "/api/data/events", "_ingest"),
    ("POST", "/api/validate", "_validate"),
    ("POST", "/api/download/out.csv", "_adhoc_download"),
    ("POST", "/api/dashboards", "_create_app"),
    ("POST", "/api/dashboards/d1/query", "_update_app"),
    ("POST", "/api/tasks/t1/content", "_update_app"),
    ("POST", "/api/deploy", "_deploy"),
    ("POST", "/api/run/task", "_run_task"),
    ("DELETE", "/api/keys/k1", "_delete_managed"),
    ("DELETE", "/api/dashboards/d1", "_delete_app"),
]

# requests no row serves: they answer 404 whatever the credentials
UNMATCHED = [
    ("GET", "/api/nope"),
    ("GET", "/random"),
    ("GET", "/embed/other.js"),
    ("GET", "/api/dashboards/d1/download"),
    ("POST", "/api/dashboards/d1/content"),
    ("POST", "/api/tasks/t1/query"),
    ("DELETE", "/api/run/task"),
    ("DELETE", "/api/users"),
]

# the rows that answer without a credential
PUBLIC = {
    ("GET", "_health"),
    ("GET", "_favicon"),
    ("GET", "_embed_loader"),
    ("GET", "_ui_shell"),
    ("GET", "_auth_info"),
    ("GET", "_system_config"),
    ("GET", "_public_status"),
    ("GET", "_download_by_key"),
    ("POST", "_task_result"),
    ("POST", "_setup"),
    ("POST", "_login"),
    ("POST", "_public_auth"),
    ("POST", "_claim_invite"),
}


def _row(method, path):
    found = api._match(method, path)
    return found and found[0]


@pytest.mark.parametrize("method,path,handler", SAMPLES)
def test_sample_lands_on_its_row(method, path, handler):
    route = _row(method, path)
    assert route and route.handler.__name__ == handler


def test_every_row_has_a_sample():
    hit = {api._ROUTES.index(_row(m, p)) for m, p, _ in SAMPLES}
    assert hit == set(range(len(api._ROUTES)))


@pytest.mark.parametrize("method,path", UNMATCHED)
def test_unmatched_requests_match_no_row(method, path):
    assert api._match(method, path) is None


def test_public_rows_are_the_allowlist():
    public = {(r.method, r.handler.__name__) for r in api._ROUTES if r.auth == "public"}
    assert public == PUBLIC


def test_auth_rules_are_known():
    for r in api._ROUTES:
        assert r.auth in ("public", "token", "mgmt", *ALL_PERMISSIONS), r


def _request(srv, method, path, body=b"", token=""):
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=body if method == "POST" else None,
        headers=headers,
        method=method,
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


@pytest.fixture(scope="module")
def gated(spark):
    """A server with one user: (server, API key with no permission,
    embed JWT scoped to dashboard ``emb``)."""
    srv = ShaperServer(spark).start()
    srv.auth.create_user("gate@b.c", "pw12345678")
    _, key = srv.auth.create_api_key("none", [], Actor("no_auth"))
    yield srv, key, srv.auth.mint_jwt({"dashboardId": "emb"})
    srv.stop()


GATED = [(m, p, h) for m, p, h in SAMPLES if (m, h) not in PUBLIC]


@pytest.mark.parametrize("method,path,handler", GATED)
def test_gated_row_refuses(gated, method, path, handler):
    srv, key, embed = gated
    route = _row(method, path)
    assert _request(srv, method, path, b"{}")[0] == 401
    if route.auth == "token":
        return  # any valid credential passes
    assert _request(srv, method, path, b"{}", token=key)[0] == 403
    # the embed JWT is scoped to "emb": every sample names other ids, so
    # even render and download are out of scope
    expect = 404 if route.auth == PERMISSION_READ_DASHBOARD else 403
    assert _request(srv, method, path, b"{}", token=embed)[0] == expect


@pytest.mark.parametrize("method,path", UNMATCHED)
def test_unmatched_is_404_whatever_the_credentials(gated, method, path):
    srv, key, embed = gated
    for token in ("", key, embed, "garbage"):
        status, body = _request(srv, method, path, b"{}", token=token)
        assert (status, json.loads(body)) == (404, {"error": "not found"})


@pytest.fixture(scope="module")
def open_srv(spark):
    """A server with no user (no-auth mode) and one dashboard ``bad``."""
    srv = ShaperServer(spark).start()
    srv.store.record(
        "create_dashboard", {"id": "bad", "content": "SELECT 1 AS x", "name": "bad"}
    )
    yield srv
    srv.stop()


@pytest.mark.parametrize(
    "path,body",
    [
        ("/api/dashboards", b"{not json"),
        ("/api/auth/login", b'{"email": '),
        ("/api/sql", b"\xff\xfe"),
        ("/api/data/events", b"[1, "),
    ],
)
def test_malformed_json_body_is_400(open_srv, path, body):
    status, raw = _request(open_srv, "POST", path, body)
    assert status == 400
    assert json.loads(raw)["error"].startswith("invalid JSON body: ")


@pytest.mark.parametrize(
    "path,body",
    [
        ("/api/dashboards", b"[1, 2]"),
        ("/api/deploy", b'"apps"'),
        ("/api/run/task", b"7"),
        ("/api/auth/login", b"null"),
    ],
)
def test_non_object_body_is_400(open_srv, path, body):
    status, raw = _request(open_srv, "POST", path, body)
    assert (status, json.loads(raw)) == (
        400, {"error": "invalid JSON body: expected an object"}
    )


def test_ingest_still_takes_an_array_of_objects(open_srv):
    status, raw = _request(open_srv, "POST", "/api/data/events", b"[1, 2]")
    assert (status, json.loads(raw)) == (400, {"error": "JSON object(s) required"})


@pytest.mark.parametrize(
    "path,name",
    [
        ("/api/tasks/t1/runs?after=x", "after"),
        ("/api/tasks/t1/runs?wait=soon", "wait"),
        ("/api/dashboards?limit=ten", "limit"),
        ("/api/tasks?offset=1.5", "offset"),
        ("/api/dashboards/bad/download/out.csv?query_id=first", "query_id"),
    ],
)
def test_non_integer_parameter_is_400(open_srv, path, name):
    status, raw = _request(open_srv, "GET", path)
    assert status == 400
    assert json.loads(raw)["error"].startswith(f"invalid {name}: ")


def test_repeated_list_parameter_takes_the_first(open_srv):
    status, raw = _request(open_srv, "GET", "/api/dashboards?q=ba&q=zz&limit=5&limit=x")
    assert status == 200
    assert [d["id"] for d in json.loads(raw)] == ["bad"]


def test_non_integer_content_length_is_400(open_srv):
    conn = http.client.HTTPConnection("127.0.0.1", open_srv.port, timeout=30)
    try:
        conn.putrequest("POST", "/api/validate")
        conn.putheader("Content-Length", "many")
        conn.endheaders()
        r = conn.getresponse()
        assert r.status == 400
        assert json.loads(r.read())["error"].startswith("invalid Content-Length: ")
    finally:
        conn.close()
