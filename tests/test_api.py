"""HTTP façade tests: reference route contracts over the stdlib server
(reference server/web/handler/{sql,validate}_test.go semantics)."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from shaper_spark.api import ShaperServer


@pytest.fixture(scope="module")
def server(spark):
    srv = ShaperServer(spark, variables={"org": "acme"}).start()
    yield srv
    srv.stop()


def _get(srv, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _post(srv, path, payload):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


class TestRoutes:
    def test_health(self, server):
        status, body = _get(server, "/health")
        assert status == 200
        assert json.loads(body) == {"status": "ok"}

    def test_sql_csv(self, server):
        status, body = _post(
            server,
            "/api/sql",
            {"sql": "SELECT 1 as id, 'hello' as name UNION ALL SELECT 2, 'world' ORDER BY id"},
        )
        assert status == 200
        assert body.decode() == "id,name\n1,hello\n2,world\n"

    def test_sql_rejects_multiple_statements(self, server):
        status, body = _post(server, "/api/sql", {"sql": "SELECT 1; SELECT 2"})
        assert status == 400

    def test_sql_rejects_ddl(self, server):
        status, _ = _post(server, "/api/sql", {"sql": "DROP TABLE x"})
        assert status == 403

    def test_validate(self, server):
        status, body = _post(
            server, "/api/validate", {"sql": "SELECT 1; DROP TABLE x;"}
        )
        assert status == 200
        v = json.loads(body)
        assert v["valid"] is False
        assert v["invalidStatements"] == [2]

    def test_validate_task_allows_ddl(self, server):
        status, body = _post(
            server,
            "/api/validate",
            {"sql": "CREATE TABLE t AS SELECT 1;", "type": "task"},
        )
        assert json.loads(body)["valid"] is True

    def test_ingest_and_query(self, server, spark):
        spark.sql("DROP TABLE IF EXISTS api_ingest")
        import shutil
        shutil.rmtree("spark-warehouse/api_ingest", ignore_errors=True)
        status, body = _post(
            server,
            "/api/data/api_ingest",
            [{"name": "a", "v": 1}, {"name": "b", "v": 2}],
        )
        assert status == 200
        assert json.loads(body)["ingested"] == 2
        status, body = _post(
            server, "/api/sql", {"sql": "SELECT name, v FROM api_ingest ORDER BY name"}
        )
        assert body.decode().splitlines()[1:] == ["a,1.0", "b,2.0"]

    def test_dashboard_roundtrip(self, server):
        content = """
        SELECT 'API Dash'::SECTION;
        SELECT 2 + 2 AS four;
        """
        status, _ = _post(server, "/api/dashboards", {"id": "d1", "content": content})
        assert status == 200
        status, body = _get(server, "/api/dashboards/d1")
        assert status == 200
        tree = json.loads(body)
        assert tree["name"] == "API Dash"
        rows = tree["sections"][-1]["queries"][0]["rows"]
        assert rows == [[4]]

    def test_dashboard_jwt_variable(self, server):
        _post(
            server,
            "/api/dashboards",
            {"id": "d2", "content": "SELECT getvariable('org') AS org"},
        )
        _, body = _get(server, "/api/dashboards/d2")
        assert json.loads(body)["sections"][0]["queries"][0]["rows"] == [["acme"]]

    def test_dashboard_download_csv(self, server):
        content = """
        SELECT 'file'::DOWNLOAD_CSV AS f;
        SELECT 10 AS a, 'x' AS b;
        """
        _post(server, "/api/dashboards", {"id": "d3", "content": content})
        status, body = _get(server, "/api/dashboards/d3/download/data.csv")
        assert status == 200
        assert body.decode() == "a,b\n10,x\n"

    def test_dashboard_download_json(self, server):
        _post(
            server,
            "/api/dashboards",
            {"id": "d4", "content": "SELECT 5 AS n"},
        )
        status, body = _get(server, "/api/dashboards/d4/download/data.json")
        assert json.loads(body) == [{"n": 5}]

    def test_missing_dashboard_404(self, server):
        status, _ = _get(server, "/api/dashboards/nope")
        assert status == 404

    def test_schema_tree(self, server):
        status, body = _get(server, "/api/schema")
        assert status == 200
        tree = json.loads(body)
        assert tree["databases"][0]["name"] == "spark_catalog"

    def test_task_register_and_run(self, server, spark):
        spark.sql("DROP TABLE IF EXISTS api_task_out")
        import shutil
        shutil.rmtree("spark-warehouse/api_task_out", ignore_errors=True)
        content = """
        SELECT 'init'::SCHEDULE AS s;
        CREATE TABLE api_task_out AS SELECT 7 AS v;
        """
        status, body = _post(server, "/api/tasks", {"id": "t1", "content": content})
        assert status == 200
        assert json.loads(body)["scheduleType"] == "init"
        deadline = time.time() + 30
        while time.time() < deadline:
            status, body = _get(server, "/api/tasks/t1/runs")
            runs = json.loads(body)
            if runs:
                break
            time.sleep(0.5)
        assert runs and runs[0]["success"] is True


def _delete(srv, path):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", method="DELETE"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


class TestCrudRoutes:
    """CRUD parity with reference routes.go:187-205."""

    def test_dashboard_info_update_delete(self, server):
        _post(server, "/api/dashboards", {"id": "crud1", "content": "SELECT 1 AS v", "name": "First"})
        status, body = _get(server, "/api/dashboards/crud1/info")
        assert status == 200
        info = json.loads(body)
        assert info["content"] == "SELECT 1 AS v"
        assert info["name"] == "First"

        status, _ = _post(server, "/api/dashboards/crud1/query", {"content": "SELECT 2 AS v"})
        assert status == 200
        status, _ = _post(server, "/api/dashboards/crud1/name", {"name": "Renamed"})
        assert status == 200
        info = json.loads(_get(server, "/api/dashboards/crud1/info")[1])
        assert info["content"] == "SELECT 2 AS v"
        assert info["name"] == "Renamed"

        status, _ = _delete(server, "/api/dashboards/crud1")
        assert status == 200
        assert _get(server, "/api/dashboards/crud1/info")[0] == 404

    def test_task_crud_and_run_now(self, server):
        _post(server, "/api/tasks", {"id": "tcrud", "content": "SELECT 41 AS x"})
        status, body = _get(server, "/api/tasks/tcrud")
        assert status == 200
        assert json.loads(body)["content"] == "SELECT 41 AS x"

        status, _ = _post(server, "/api/tasks/tcrud/content", {"content": "SELECT 42 AS x"})
        assert status == 200
        status, body = _post(server, "/api/run/task", {"id": "tcrud"})
        assert status == 200
        result = json.loads(body)
        assert result["success"] is True
        assert result["queries"][0]["resultRows"] == [[42]]
        # run recorded in the store
        run = json.loads(_get(server, "/api/tasks/tcrud")[1])["lastRun"]
        assert run and run["last_run_success"] == 1

        status, _ = _delete(server, "/api/tasks/tcrud")
        assert status == 200
        assert _get(server, "/api/tasks/tcrud")[0] == 404
        assert "tcrud" not in server.scheduler._contents

    def test_run_unknown_task_404(self, server):
        assert _post(server, "/api/run/task", {"id": "ghost"})[0] == 404

    def test_adhoc_download_csv_and_json(self, server):
        status, body = _post(
            server, "/api/download/out.csv",
            {"sql": "SELECT 1 AS a, 'x' AS b UNION ALL SELECT 2, 'y' ORDER BY a"},
        )
        assert status == 200
        assert body.decode().strip().splitlines() == ["a,b", "1,x", "2,y"]

        status, body = _post(
            server, "/api/download/out.json", {"sql": "SELECT 7 AS n"}
        )
        assert status == 200
        assert json.loads(body) == [{"n": 7}]

    def test_adhoc_download_gated(self, server):
        assert _post(server, "/api/download/x.csv", {"sql": "DROP TABLE t"})[0] == 403
        assert _post(server, "/api/download/x.csv", {"sql": "SELECT 1; SELECT 2"})[0] == 400
        assert _post(server, "/api/download/x.exe", {"sql": "SELECT 1"})[0] == 400


class TestDeploy:
    """POST /api/deploy bulk operations (deploy.go:26-131)."""

    def test_create_update_delete_cycle(self, server):
        status, body = _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "create",
             "data": {"id": "dep1", "name": "Dep One", "path": "/", "content": "SELECT 1 AS v"}},
            {"type": "task", "operation": "create",
             "data": {"name": "Dep Task", "path": "/", "content": "SELECT 2 AS v"}},
        ]})
        assert status == 200
        results = json.loads(body)["results"]
        assert [r["status"] for r in results] == ["created", "created"]
        task_id = results[1]["id"]
        assert task_id in server.scheduler._contents

        status, body = _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "update",
             "data": {"id": "dep1", "content": "SELECT 9 AS v", "name": "Renamed"}},
            {"type": "task", "operation": "delete", "data": {"id": task_id}},
        ]})
        assert status == 200
        info = json.loads(_get(server, "/api/dashboards/dep1/info")[1])
        assert info["content"] == "SELECT 9 AS v" and info["name"] == "Renamed"
        assert task_id not in server.scheduler._contents
        _delete(server, "/api/dashboards/dep1")

    def test_generated_id_is_cuid_shaped(self, server):
        status, body = _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "create",
             "data": {"name": "NoId", "path": "/", "content": "SELECT 1"}},
        ]})
        rid = json.loads(body)["results"][0]["id"]
        assert len(rid) == 24 and rid[0] == "c"
        _delete(server, f"/api/dashboards/{rid}")

    def test_invalid_operations_fail_whole_request(self, server):
        assert _post(server, "/api/deploy", {"apps": []})[0] == 400
        assert _post(server, "/api/deploy", {"apps": [
            {"type": "folder", "operation": "create", "data": {}}]})[0] == 400
        assert _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "upsert", "data": {}}]})[0] == 400
        assert _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "update", "data": {"id": "missing"}}]})[0] == 400
        assert _post(server, "/api/deploy", {"apps": [
            {"type": "dashboard", "operation": "create", "data": {"name": "X"}}]})[0] == 400


class TestVisibility:
    def test_visibility_update(self, server):
        _post(server, "/api/dashboards", {"id": "vis1", "content": "SELECT 1"})
        status, _ = _post(
            server, "/api/dashboards/vis1/visibility", {"visibility": "public"}
        )
        assert status == 200
        info = json.loads(_get(server, "/api/dashboards/vis1/info")[1])
        assert info["visibility"] == "public"
        _delete(server, "/api/dashboards/vis1")


class TestRunsLongPoll:
    """?after/&wait long-poll — stand-in for the reference's WebSocket
    task events (server/web/handler/task.go)."""

    def test_returns_immediately_when_runs_exist(self, server):
        _post(server, "/api/tasks", {"id": "lp1", "content": "SELECT 'init'::SCHEDULE AS s; SELECT 1 AS v"})
        deadline = time.time() + 10
        while time.time() < deadline:
            status, body = _get(server, "/api/tasks/lp1/runs")
            if json.loads(body):
                break
            time.sleep(0.2)
        runs = json.loads(body)
        assert runs and runs[0]["success"] is True

    def test_after_skips_known_runs(self, server):
        status, body = _get(server, "/api/tasks/lp1/runs?after=999&wait=0.3")
        assert status == 200
        assert json.loads(body) == []

    def test_wait_blocks_until_new_run(self, server):
        import threading as _t

        n_before = len(json.loads(_get(server, "/api/tasks/lp1/runs")[1]))
        got = {}

        def poll():
            status, body = _get(
                server, f"/api/tasks/lp1/runs?after={n_before}&wait=15"
            )
            got["runs"] = json.loads(body)

        t = _t.Thread(target=poll)
        t.start()
        time.sleep(0.3)
        _post(server, "/api/run/task", {"id": "lp1"})
        t.join(timeout=20)
        assert not t.is_alive()
        # run-now appends to the same run log, so the long-poll unblocks
        # with exactly the new run
        assert len(got["runs"]) == 1
        assert got["runs"][0]["success"] is True
        _delete(server, "/api/tasks/lp1")


class TestPdfDownload:
    CONTENT = """
        SELECT 'report'::DOWNLOAD_PDF AS f;
        SELECT 'Numbers'::SECTION;
        SELECT 1 AS a UNION ALL SELECT 2;
        """

    def test_pdf_download_returns_real_pdf_bytes(self, server):
        _post(server, "/api/dashboards", {"id": "dpdf", "content": self.CONTENT})
        status, body = _get(server, "/api/dashboards/dpdf/download/report.pdf")
        assert status == 200
        assert body.startswith(b"%PDF-1.4")
        assert body.rstrip().endswith(b"%%EOF")
        assert b"Numbers" in body  # section heading in the content stream

    def test_png_download_returns_real_png_bytes(self, server):
        _post(server, "/api/dashboards", {"id": "dpng", "content": self.CONTENT})
        status, body = _get(server, "/api/dashboards/dpng/download/report.png")
        assert status == 200
        assert body.startswith(b"\x89PNG\r\n\x1a\n")
        assert b"IHDR" in body and body.rstrip().endswith(b"IEND\xaeB`\x82")

    def test_html_variant_still_served(self, server):
        _post(server, "/api/dashboards", {"id": "dph", "content": self.CONTENT})
        status, body = _get(server, "/api/dashboards/dph/download/report.html")
        assert status == 200
        text = body.decode()
        assert text.startswith("<!DOCTYPE html>")
        assert "Numbers" in text and "<table>" in text


class TestWebSocketTaskEvents:
    """Reference pushes task results over a WebSocket
    (server/web/handler/task.go); minimal RFC6455 server push."""

    def _handshake(self, srv, task_id):
        import base64
        import os
        import socket

        s = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
        key = base64.b64encode(os.urandom(16)).decode()
        req = (
            f"GET /api/tasks/{task_id}/events HTTP/1.1\r\n"
            f"Host: 127.0.0.1:{srv.port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        )
        s.sendall(req.encode())
        resp = b""
        while b"\r\n\r\n" not in resp:
            resp += s.recv(4096)
        head, rest = resp.split(b"\r\n\r\n", 1)
        return s, key, head.decode(), rest

    def _read_frame(self, s, buf):
        import struct

        while len(buf) < 2:
            buf += s.recv(4096)
        length = buf[1] & 0x7F
        offset = 2
        if length == 126:
            while len(buf) < 4:
                buf += s.recv(4096)
            (length,) = struct.unpack("!H", buf[2:4])
            offset = 4
        while len(buf) < offset + length:
            buf += s.recv(4096)
        payload = buf[offset : offset + length]
        return payload, buf[offset + length :]

    def test_upgrade_and_result_push(self, server):
        import json as _json

        from shaper_spark.ws import accept_key

        _post(server, "/api/tasks", {"id": "wst", "content": "SELECT 1 AS v"})
        s, key, head, buf = self._handshake(server, "wst")
        try:
            assert "101" in head.splitlines()[0]
            assert accept_key(key) in head
            # trigger a run; its result must arrive as a WS text frame
            _post(server, "/api/run/task", {"id": "wst"})
            s.settimeout(15)
            payload, buf = self._read_frame(s, buf)
            run = _json.loads(payload)
            assert run["success"] is True
            assert run["queries"][0]["resultRows"] == [[1]]
            # client close frame ends the loop server-side
            s.sendall(b"\x88\x80\x00\x00\x00\x00")
        finally:
            s.close()

    def test_scheduled_run_pushes_to_connected_client(self, server):
        """RELOAD loop end-to-end: the client is already connected when
        the task is registered with an 'init' SCHEDULE; the scheduler
        fires on its own and the run result arrives as a WS frame with
        no explicit /api/run/task (reference: schedule_task.go arms the
        timer, task.go pushes results)."""
        import json as _json

        s, key, head, buf = self._handshake(server, "wsched")
        try:
            assert "101" in head.splitlines()[0]
            _post(
                server,
                "/api/tasks",
                {
                    "id": "wsched",
                    "content": "SELECT 'init'::SCHEDULE AS s; SELECT 7 AS v",
                },
            )
            s.settimeout(20)
            payload, buf = self._read_frame(s, buf)
            run = _json.loads(payload)
            assert run["success"] is True
            assert run["queries"][-1]["resultRows"] == [[7]]
            s.sendall(b"\x88\x80\x00\x00\x00\x00")
        finally:
            s.close()

    def test_non_upgrade_gets_426_pointer(self, server):
        status, body = _get(server, "/api/tasks/whatever/events")
        assert status == 426
        assert b"runs?after" in body


class TestAuthRoutes:
    """Auth middleware + user/invite/key/folder endpoints over HTTP.

    Uses its OWN server so flipping login_required (first user created)
    can't leak into the module-scoped no-auth server above."""

    @pytest.fixture()
    def asrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        def parse(raw):
            try:
                return json.loads(raw or b"{}")
            except ValueError:
                return raw  # CSV bodies (/api/sql)

        try:
            with urllib.request.urlopen(req) as r:
                return r.status, parse(r.read())
        except urllib.error.HTTPError as e:
            return e.code, parse(e.read())

    def test_full_auth_flow(self, asrv):
        # no-auth mode: everything open
        s, b = self._req(asrv, "GET", "/api/auth/info")
        assert (s, b) == (200, {"loginRequired": False})
        s, _ = self._req(asrv, "GET", "/api/dashboards")
        assert s == 200

        # setup first user -> login required everywhere
        s, _ = self._req(
            asrv, "POST", "/api/auth/setup",
            {"email": "a@b.c", "password": "pw12345678", "name": "Alice"},
        )
        assert s == 200
        s, _ = self._req(
            asrv, "POST", "/api/auth/setup",
            {"email": "x@y.z", "password": "pw12345678"},
        )
        assert s == 409  # setup-only first user
        s, _ = self._req(asrv, "GET", "/api/dashboards")
        assert s == 401

        # login, use token
        s, b = self._req(
            asrv, "POST", "/api/auth/login",
            {"email": "a@b.c", "password": "wrong"},
        )
        assert s == 401
        s, b = self._req(
            asrv, "POST", "/api/auth/login",
            {"email": "a@b.c", "password": "pw12345678"},
        )
        assert s == 200
        token = b["token"]
        s, me = self._req(asrv, "GET", "/api/auth/me", token=token)
        assert s == 200 and me["isUser"] and me["email"] == "a@b.c"
        s, _ = self._req(asrv, "GET", "/api/dashboards", token=token)
        assert s == 200

        # API key: only granted permission works
        s, b = self._req(
            asrv, "POST", "/api/keys",
            {"name": "ci", "permissions": ["data:query"]}, token=token,
        )
        assert s == 200
        key = b["key"]
        s, _ = self._req(
            asrv, "POST", "/api/sql", {"sql": "SELECT 1 AS one"},
            token=key,
        )
        assert s == 200
        s, _ = self._req(asrv, "GET", "/api/dashboards", token=key)
        assert s == 403  # no dashboard:read
        s, _ = self._req(asrv, "GET", "/api/users", token=key)
        assert s == 403  # keys never administer

        # invites
        s, b = self._req(
            asrv, "POST", "/api/invites", {"email": "n@b.c"}, token=token
        )
        assert s == 200
        s, b2 = self._req(
            asrv, "POST", "/api/invites/claim",
            {"code": b["code"], "name": "N", "password": "pw212345678"},
        )
        assert s == 200 and b2["token"]

        # folders over HTTP
        s, f = self._req(
            asrv, "POST", "/api/folders",
            {"name": "Marketing", "path": "/"}, token=token,
        )
        assert s == 200
        s, listing = self._req(
            asrv, "GET", "/api/folders?path=/", token=token
        )
        assert s == 200
        assert [x["name"] for x in listing["folders"]] == ["Marketing"]
        s, _ = self._req(
            asrv, "DELETE", f"/api/folders/{f['id']}", token=token
        )
        assert s == 200

        # logout invalidates the session token
        s, _ = self._req(asrv, "POST", "/api/auth/logout", {}, token=token)
        assert s == 200
        s, _ = self._req(asrv, "GET", "/api/dashboards", token=token)
        assert s == 401


class TestJwtFlow:
    """JWT dashboard-embed flow: mint with variables, render honors the
    claims, dashboard scoping enforced, API keys need the jwt grant."""

    @pytest.fixture()
    def jsrv(self, spark):
        srv = ShaperServer(spark, variables={"org": "acme"}).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")

    def test_embed_jwt_variables_and_scope(self, jsrv):
        s, _ = self._req(
            jsrv, "POST", "/api/dashboards",
            {"id": "jd", "content":
             "SELECT getvariable('who') AS who;"},
        )
        assert s == 200
        self._req(
            jsrv, "POST", "/api/dashboards",
            {"id": "other", "content": "SELECT 1 AS x;"},
        )
        # mint (no-auth mode: any caller may mint)
        s, b = self._req(
            jsrv, "POST", "/api/jwt",
            {"dashboardId": "jd", "variables": {"who": "embedded"}},
        )
        assert s == 200
        tok = b["jwt"]
        assert tok.count(".") == 2
        # render with the token: variables claim reaches the SQL
        s, d = self._req(jsrv, "GET", "/api/dashboards/jd", token=tok)
        assert s == 200
        rows = d["sections"][-1]["queries"][-1]["rows"]
        assert rows == [["embedded"]]
        # scope: the token cannot render a different dashboard (404,
        # indistinguishable from a missing id — see
        # TestEmbedScopeUniform404)
        s, _ = self._req(jsrv, "GET", "/api/dashboards/other", token=tok)
        assert s == 404
        # invalid variable shapes rejected at mint time
        s, _ = self._req(
            jsrv, "POST", "/api/jwt",
            {"dashboardId": "jd", "variables": {"n": 7}},
        )
        assert s == 400

    def test_tampered_and_expired_jwt_rejected(self, jsrv):
        jsrv.auth.create_user("j@b.c", "pw12345678")
        login = self._req(
            jsrv, "POST", "/api/auth/login",
            {"email": "j@b.c", "password": "pw12345678"},
        )[1]["token"]
        s, b = self._req(
            jsrv, "POST", "/api/jwt", {"dashboardId": "jd"}, token=login
        )
        assert s == 200
        tok = b["jwt"]
        bad = tok[:-2] + ("AA" if not tok.endswith("AA") else "BB")
        s, _ = self._req(jsrv, "GET", "/api/dashboards/jd", token=bad)
        assert s == 401
        expired = jsrv.auth.mint_jwt({"dashboardId": "jd"}, exp_s=-5)
        s, _ = self._req(jsrv, "GET", "/api/dashboards/jd", token=expired)
        assert s == 401

    def test_api_key_needs_jwt_permission(self, jsrv):
        jsrv.auth.create_user("k@b.c", "pw12345678")
        login = self._req(
            jsrv, "POST", "/api/auth/login",
            {"email": "k@b.c", "password": "pw12345678"},
        )[1]["token"]
        _, kb = self._req(
            jsrv, "POST", "/api/keys",
            {"name": "nojwt", "permissions": ["data:query"]}, token=login,
        )
        s, _ = self._req(
            jsrv, "POST", "/api/jwt", {"dashboardId": "jd"},
            token=kb["key"],
        )
        assert s == 403
        _, kb2 = self._req(
            jsrv, "POST", "/api/keys",
            {"name": "canjwt", "permissions": ["jwt"]}, token=login,
        )
        s, b = self._req(
            jsrv, "POST", "/api/jwt", {"dashboardId": "jd"},
            token=kb2["key"],
        )
        assert s == 200 and b["jwt"]
        # an api-key embed JWT without dashboardId is rejected
        s, _ = self._req(
            jsrv, "POST", "/api/jwt", {}, token=kb2["key"]
        )
        assert s == 400


class TestPublicSharing:
    """PublicAuth flow (web/handler/auth.go:233-300): public and
    password-protected dashboards mint embed JWTs without login;
    private visibility is indistinguishable from missing."""

    @pytest.fixture()
    def psrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")

    def test_public_and_password_protected(self, psrv):
        self._req(
            psrv, "POST", "/api/dashboards",
            {"id": "pub1", "content": "SELECT 1 AS one;"},
        )
        # private (default visibility): 404, like a missing dashboard
        s, _ = self._req(
            psrv, "POST", "/api/auth/public", {"dashboardId": "pub1"}
        )
        assert s == 404
        self._req(
            psrv, "POST", "/api/dashboards/pub1/visibility",
            {"visibility": "public"},
        )
        s, b = self._req(
            psrv, "POST", "/api/auth/public", {"dashboardId": "pub1"}
        )
        assert s == 200
        # create a user so auth is enforced, then render via the token
        psrv.auth.create_user("p@b.c", "pw12345678")
        s, d = self._req(
            psrv, "GET", "/api/dashboards/pub1", token=b["jwt"]
        )
        assert s == 200
        assert d["sections"][-1]["queries"][-1]["rows"] == [[1]]

        # password-protected (auth is on now — mutations need the user)
        login = self._req(
            psrv, "POST", "/api/auth/login",
            {"email": "p@b.c", "password": "pw12345678"},
        )[1]["token"]
        s, _ = self._req(
            psrv, "POST", "/api/dashboards/pub1/visibility",
            {"visibility": "password-protected"}, token=login,
        )
        assert s == 200
        s, _ = self._req(
            psrv, "POST", "/api/dashboards/pub1/password",
            {"password": "sharepw"}, token=login,
        )
        assert s == 200
        s, _ = self._req(
            psrv, "POST", "/api/auth/public", {"dashboardId": "pub1"}
        )
        assert s == 401  # password required
        s, _ = self._req(
            psrv, "POST", "/api/auth/public",
            {"dashboardId": "pub1", "password": "wrong"},
        )
        assert s == 401
        s, b = self._req(
            psrv, "POST", "/api/auth/public",
            {"dashboardId": "pub1", "password": "sharepw"},
        )
        assert s == 200
        s, _ = self._req(
            psrv, "GET", "/api/dashboards/pub1", token=b["jwt"]
        )
        assert s == 200


class TestJwtProtectedVariables:
    """Reference rule (get_dashboard.go:1526-1528 etc.): JWT-carried
    variables are protected — URL params must not override them."""

    @pytest.fixture()
    def vsrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def test_url_param_cannot_override_jwt_variable(self, vsrv):
        content = """
        SELECT getvariable('who') AS who, 'x'::DROPDOWN AS pick;
        SELECT getvariable('who') AS who;
        """
        _post(
            vsrv, "/api/dashboards",
            {"id": "vp", "content": "SELECT getvariable('who') AS who;"},
        )
        import urllib.request as _u

        s, b = _post(
            vsrv, "/api/jwt",
            {"dashboardId": "vp", "variables": {"who": "jwt-owner"}},
        )
        tok = json.loads(b)["jwt"]
        req = _u.Request(
            f"http://127.0.0.1:{vsrv.port}/api/dashboards/vp?who=attacker",
            headers={"Authorization": f"Bearer {tok}"},
        )
        with _u.urlopen(req) as r:
            tree = json.loads(r.read())
        rows = tree["sections"][-1]["queries"][-1]["rows"]
        assert rows == [["jwt-owner"]]


class TestEmbedScopeLockdown:
    """A dashboardId-scoped JWT is an embed credential, not a user:
    the reference rejects it on every non-render handler
    (dashboard.go:123-124, apps.go, users.go, keys.go, folders.go,
    schema.go). Even when minted by a logged-in user (claims carry
    userId), it must only render/download its one dashboard."""

    @pytest.fixture()
    def esrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            body = e.read() or b"{}"
            try:
                return e.code, json.loads(body)
            except Exception:
                return e.code, {}

    @pytest.fixture()
    def embed(self, esrv):
        """(server, embed_jwt minted by a real user, login token)."""
        esrv.auth.create_user("scope@b.c", "pw12345678")
        login = self._req(
            esrv, "POST", "/api/auth/login",
            {"email": "scope@b.c", "password": "pw12345678"},
        )[1]["token"]
        self._req(
            esrv, "POST", "/api/dashboards",
            {"id": "emb", "content": "SELECT 1 AS x;"}, token=login,
        )
        self._req(
            esrv, "POST", "/api/tasks",
            {"id": "embt", "content": "SELECT 2 AS y;"}, token=login,
        )
        tok = self._req(
            esrv, "POST", "/api/jwt", {"dashboardId": "emb"}, token=login,
        )[1]["jwt"]
        return esrv, tok, login

    def test_render_and_download_still_work(self, embed):
        esrv, tok, _ = embed
        s, d = self._req(esrv, "GET", "/api/dashboards/emb", token=tok)
        assert s == 200
        assert d["sections"][-1]["queries"][-1]["rows"] == [[1]]

    def test_embed_jwt_is_not_management_credential(self, embed):
        esrv, tok, _ = embed
        for method, path in (
            ("GET", "/api/users"),
            ("GET", "/api/keys"),
            ("GET", "/api/folders"),
            ("POST", "/api/invites"),
            ("DELETE", "/api/dashboards/emb"),
        ):
            s, _ = self._req(
                esrv, method, path,
                payload={} if method == "POST" else None, token=tok,
            )
            assert s in (401, 403), (method, path, s)

    def test_embed_jwt_cannot_query_or_deploy(self, embed):
        esrv, tok, _ = embed
        s, _ = self._req(
            esrv, "POST", "/api/sql", {"sql": "SELECT 1"}, token=tok
        )
        assert s == 403
        s, _ = self._req(
            esrv, "POST", "/api/dashboards",
            {"id": "x2", "content": "SELECT 1 AS x;"}, token=tok,
        )
        assert s == 403

    def test_embed_jwt_read_surface_is_404(self, embed):
        esrv, tok, _ = embed
        for path in (
            "/api/dashboards",            # list
            "/api/dashboards/emb/info",   # private SQL content
            "/api/tasks",                 # list
            "/api/tasks/embt",            # content
            "/api/tasks/embt/runs",
            "/api/tasks/embt/events",
        ):
            s, _ = self._req(esrv, "GET", path, token=tok)
            assert s == 404, (path, s)
        s, _ = self._req(esrv, "GET", "/api/schema", token=tok)
        assert s in (403, 404)

    def test_public_embed_jwt_same_lockdown(self, esrv):
        """The no-login public/password flow mints the same scoped
        token; it must not open lists/info/tasks either."""
        esrv.auth.create_user("pub@b.c", "pw12345678")
        login = self._req(
            esrv, "POST", "/api/auth/login",
            {"email": "pub@b.c", "password": "pw12345678"},
        )[1]["token"]
        self._req(
            esrv, "POST", "/api/dashboards",
            {"id": "pubd", "content": "SELECT 1 AS x;"}, token=login,
        )
        self._req(
            esrv, "POST", "/api/dashboards/pubd/visibility",
            {"visibility": "public"}, token=login,
        )
        s, b = self._req(
            esrv, "POST", "/api/auth/public", {"dashboardId": "pubd"}
        )
        assert s == 200
        tok = b["jwt"]
        s, _ = self._req(esrv, "GET", "/api/dashboards/pubd", token=tok)
        assert s == 200
        for path in ("/api/dashboards", "/api/dashboards/pubd/info",
                     "/api/tasks"):
            s, _ = self._req(esrv, "GET", path, token=tok)
            assert s == 404, (path, s)

    def test_info_never_discloses_password_hash(self, embed):
        esrv, _, login = embed
        self._req(
            esrv, "POST", "/api/dashboards/emb/visibility",
            {"visibility": "password"}, token=login,
        )
        self._req(
            esrv, "POST", "/api/dashboards/emb/password",
            {"password": "sharepw"}, token=login,
        )
        s, d = self._req(
            esrv, "GET", "/api/dashboards/emb/info", token=login
        )
        assert s == 200
        assert "password_hash" not in d
        assert d["hasPassword"] is True
        s, d = self._req(esrv, "GET", "/api/tasks/embt", token=login)
        assert s == 200
        assert "password_hash" not in d


class TestEmbedScopeUniform404:
    """A dashboardId-scoped embed token probing OTHER ids must not be
    able to distinguish an existing private dashboard from a missing
    one: both answer the identical 404 body, and the scope check runs
    before the existence lookup (reference dashboard.go:329-334 rejects
    the claim mismatch uniformly)."""

    @pytest.fixture()
    def esrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            body = e.read() or b"{}"
            try:
                return e.code, json.loads(body)
            except Exception:
                return e.code, {}

    def test_existing_and_missing_indistinguishable(self, esrv):
        esrv.auth.create_user("probe@b.c", "pw12345678")
        login = self._req(
            esrv, "POST", "/api/auth/login",
            {"email": "probe@b.c", "password": "pw12345678"},
        )[1]["token"]
        for did in ("scoped-a", "private-b"):
            self._req(
                esrv, "POST", "/api/dashboards",
                {"id": did, "content": "SELECT 1 AS x;"}, token=login,
            )
        tok = self._req(
            esrv, "POST", "/api/jwt", {"dashboardId": "scoped-a"},
            token=login,
        )[1]["jwt"]
        # in scope: renders
        s, _ = self._req(esrv, "GET", "/api/dashboards/scoped-a", token=tok)
        assert s == 200
        # out of scope, EXISTING vs MISSING: identical status and body shape
        s_exist, b_exist = self._req(
            esrv, "GET", "/api/dashboards/private-b", token=tok
        )
        s_miss, b_miss = self._req(
            esrv, "GET", "/api/dashboards/no-such-dash", token=tok
        )
        assert s_exist == s_miss == 404
        assert b_exist["error"].replace("private-b", "X") == b_miss[
            "error"
        ].replace("no-such-dash", "X")
        # downloads probe the same way
        s_exist, _ = self._req(
            esrv, "GET", "/api/dashboards/private-b/download/x.csv",
            token=tok,
        )
        s_miss, _ = self._req(
            esrv, "GET", "/api/dashboards/no-such-dash/download/x.csv",
            token=tok,
        )
        assert s_exist == s_miss == 404


class TestMetricsEndpoint:
    """GET /metrics: Prometheus text-format system gauges behind
    API-key auth + the metrics permission (reference routes.go:163 +
    server/metrics/metrics.go gauge families)."""

    @pytest.fixture()
    def msrv(self, spark):
        srv = ShaperServer(spark).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, r.read(), dict(r.headers)
        except urllib.error.HTTPError as e:
            return e.code, e.read(), dict(e.headers)

    def test_prometheus_format(self, msrv):
        s, body, headers = self._req(msrv, "GET", "/metrics")
        assert s == 200  # no-auth mode: open like every other route
        assert headers["Content-Type"].startswith("text/plain; version=0.0.4")
        text = body.decode()
        for family, typ in [
            ("system_disk_space_bytes", "gauge"),
            ("system_memory_bytes", "gauge"),
            ("system_cpu_usage_percent", "gauge"),
        ]:
            assert f"# HELP {family} " in text
            assert f"# TYPE {family} {typ}" in text
        samples = {}
        for line in text.splitlines():
            if line.startswith("#") or not line.strip():
                continue
            name, val = line.rsplit(" ", 1)
            samples[name] = float(val)
        assert (
            samples['system_disk_space_bytes{path="/",type="total"}']
            >= samples['system_disk_space_bytes{path="/",type="used"}']
            > 0
        )
        assert samples['system_memory_bytes{type="total"}'] > 0
        assert (
            samples['system_memory_bytes{type="used"}']
            + samples['system_memory_bytes{type="available"}']
            <= samples['system_memory_bytes{type="total"}'] * 1.01
        )
        assert 0.0 <= samples["system_cpu_usage_percent"] <= 100.0

    def test_engine_counters(self, msrv, spark):
        """Plan-cache counters from plancache.stats() and the gauge of
        statements collecting on the engine's shared pool."""
        from shaper_spark import plancache
        from shaper_spark.engine import query_dashboard

        script = (
            "SELECT count() AS n FROM nation; "
            "SELECT count() AS m FROM region WHERE r_regionkey > 0"
        )
        query_dashboard(spark, script)
        query_dashboard(spark, script)  # second render hits the cache
        before = plancache.stats()
        s, body, _ = self._req(msrv, "GET", "/metrics")
        after = plancache.stats()
        assert s == 200
        text = body.decode()
        for family, typ in [
            ("shaper_plancache_hits_total", "counter"),
            ("shaper_plancache_misses_total", "counter"),
            ("shaper_plancache_bypasses_total", "counter"),
            ("shaper_plancache_size", "gauge"),
            ("shaper_plancache_generation", "gauge"),
            ("shaper_statements_in_flight", "gauge"),
        ]:
            assert f"# HELP {family} " in text
            assert f"# TYPE {family} {typ}" in text
        samples = dict(
            line.rsplit(" ", 1)
            for line in text.splitlines()
            if line.startswith("shaper_")
        )
        for key in ("hits", "misses", "bypasses", "generation"):
            name = (
                "shaper_plancache_generation" if key == "generation"
                else f"shaper_plancache_{key}_total"
            )
            assert before[key] <= int(samples[name]) <= after[key]
        assert int(samples["shaper_plancache_hits_total"]) >= 2
        assert 0 <= int(samples["shaper_plancache_size"]) <= 256
        assert samples["shaper_statements_in_flight"] == "0"

    def test_key_gating_and_permission(self, msrv):
        # create the first user -> auth required everywhere
        s, body, _ = self._req(
            msrv, "POST", "/api/auth/setup",
            {"email": "m@x.y", "password": "pw12345678", "name": "M"},
        )
        assert s == 200
        s, _, _ = self._req(msrv, "GET", "/metrics")
        assert s == 401  # no token
        s, body, _ = self._req(
            msrv, "POST", "/api/auth/login",
            {"email": "m@x.y", "password": "pw12345678"},
        )
        user_token = json.loads(body)["token"]
        # API key WITHOUT the metrics permission -> 403
        s, body, _ = self._req(
            msrv, "POST", "/api/keys",
            {"name": "nometrics", "permissions": ["data:query"]},
            token=user_token,
        )
        assert s == 200
        s, _, _ = self._req(
            msrv, "GET", "/metrics", token=json.loads(body)["key"]
        )
        assert s == 403
        # API key WITH it -> 200
        s, body, _ = self._req(
            msrv, "POST", "/api/keys",
            {"name": "scraper", "permissions": ["metrics"]},
            token=user_token,
        )
        assert s == 200
        s, body, _ = self._req(
            msrv, "GET", "/metrics", token=json.loads(body)["key"]
        )
        assert s == 200 and b"system_cpu_usage_percent" in body
        # users hold every permission (auth.go:44-69)
        s, _, _ = self._req(msrv, "GET", "/metrics", token=user_token)
        assert s == 200

    def test_cpu_delta_between_scrapes(self, msrv):
        from shaper_spark import metrics as m

        first = m.render_prometheus().decode()
        second = m.render_prometheus().decode()
        for text in (first, second):
            (line,) = [
                ln
                for ln in text.splitlines()
                if ln.startswith("system_cpu_usage_percent ")
            ]
            assert 0.0 <= float(line.split()[-1]) <= 100.0


class TestSystemRoutes:
    """r10: the four remaining reference routes — /api/system/config,
    /api/version, /api/public/:id/status, /api/admin/reset-jwt-secret
    (routes.go:166,180-181,219; system.go:12-32; dashboard.go:857-880;
    auth.go:341-356)."""

    @pytest.fixture()
    def ssrv(self, spark):
        srv = ShaperServer(spark, no_tasks=True).start()
        yield srv
        srv.stop()

    def _req(self, srv, method, path, payload=None, token=""):
        headers = {"Content-Type": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}{path}",
            data=json.dumps(payload).encode() if payload is not None else None,
            headers=headers,
            method=method,
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read() or b"{}")
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read() or b"{}")

    def test_system_config_public(self, ssrv):
        s, b = self._req(ssrv, "GET", "/api/system/config")
        assert s == 200
        assert b == {
            "loginRequired": False,
            "tasksEnabled": False,  # no_tasks=True above
            "editEnabled": True,
            "publicSharingEnabled": True,
            "passwordProtectedSharingEnabled": True,
            "ssoLoginUrl": "",
            "jwtSecretStatic": False,
        }

    def test_version(self, ssrv):
        import shaper_spark

        s, b = self._req(ssrv, "GET", "/api/version")
        assert (s, b) == (200, {"version": shaper_spark.__version__})

    def test_public_status(self, ssrv):
        s, b = self._req(
            ssrv, "POST", "/api/dashboards",
            {"id": "pubst1", "content": "SELECT 1 AS v"},
        )
        assert s == 200
        did = "pubst1"
        # private (default) → 404, like unknown ids
        s, _ = self._req(ssrv, "GET", f"/api/public/{did}/status")
        assert s == 404
        s, _ = self._req(ssrv, "GET", "/api/public/nope/status")
        assert s == 404
        s, _ = self._req(
            ssrv, "POST", f"/api/dashboards/{did}/visibility",
            {"visibility": "public"},
        )
        assert s == 200
        s, b = self._req(ssrv, "GET", f"/api/public/{did}/status")
        assert (s, b) == (200, {"visibility": "public"})

    def test_public_status_respects_disabled_sharing(self, spark):
        srv = ShaperServer(spark, no_public_sharing=True).start()
        try:
            s, b = self._req(
                srv, "POST", "/api/dashboards",
                {"id": "pubst2", "content": "SELECT 1 AS v"},
            )
            did = "pubst2"
            self._req(
                srv, "POST", f"/api/dashboards/{did}/visibility",
                {"visibility": "public"},
            )
            s, _ = self._req(srv, "GET", f"/api/public/{did}/status")
            assert s == 404  # sharing mode disabled → uniform 404
        finally:
            srv.stop()

    def test_reset_jwt_secret_invalidates_tokens(self, ssrv):
        # mint an embed JWT, rotate, verify it stops working
        tok = ssrv.auth.mint_jwt({"userId": "u1"})
        assert ssrv.auth.verify_jwt(tok) is not None
        s, b = self._req(ssrv, "POST", "/api/admin/reset-jwt-secret")
        assert (s, b) == (200, {"ok": True})  # no-auth mode: open
        assert ssrv.auth.verify_jwt(tok) is None


class TestBrandingRoutes:
    """r11: favicon, custom CSS injection, the /embed/shaper.js
    loader, and the explicit /view/:id contract (reference
    routes.go:227,233,246 + frontend.go:60-144)."""

    def test_favicon_default(self, server):
        status, body = _get(server, "/favicon.ico")
        assert status == 200
        # valid ICO: reserved=0, type=1, count=1
        assert body[:6] == b"\x00\x00\x01\x00\x01\x00"
        assert len(body) > 100

    def test_favicon_custom_bytes(self, spark):
        srv = ShaperServer(spark, favicon=b"ICONBYTES").start()
        try:
            status, body = _get(srv, "/favicon.ico")
            assert (status, body) == (200, b"ICONBYTES")
        finally:
            srv.stop()

    def test_embed_loader(self, server):
        status, body = _get(server, "/embed/shaper.js")
        assert status == 200
        js = body.decode()
        assert "window.shaper" in js and "shaper.render" in js
        # base URL + custom CSS injected like frontend.go:86
        assert f"127.0.0.1:{server.port}" in js
        assert "defaultBaseUrl" in js and "customCSS" in js

    def test_embed_other_files_404(self, server):
        status, _ = _get(server, "/embed/evil.js")
        assert status == 404
        status, _ = _get(server, "/embed/shaper.js.map")
        assert status == 404  # no source map in this build

    def test_view_route_serves_shell(self, server):
        status, body = _get(server, "/view/anything")
        assert status == 200
        assert b"<div id='app'>" in body

    def test_custom_css_injected_into_shell(self, spark):
        srv = ShaperServer(spark, custom_css=".brand{color:red}").start()
        try:
            status, body = _get(srv, "/view/x")
            assert status == 200 and b".brand{color:red}" in body
            status, body = _get(srv, "/embed/shaper.js")
            assert status == 200 and b".brand{color:red}" in body
        finally:
            srv.stop()


class TestKeyedDownloads:
    """r11: the two-step mint-then-GET download flow
    (dashboard.go:617-661 RequestDashboardDownload mode=url +
    DownloadFileByKey, routes.go:198 — the keyed GET carries no
    auth; the key is the credential and expires)."""

    @pytest.fixture()
    def dsrv(self, spark):
        srv = ShaperServer(spark, downloads_ttl=1.5).start()
        srv.store.record(
            "create_dashboard",
            {
                "id": "dl1",
                "content": (
                    "SELECT r_name, count(*) AS n FROM region"
                    " GROUP BY 1 ORDER BY 1;"
                ),
                "name": "DL",
            },
        )
        yield srv
        srv.stop()

    def test_mint_and_fetch_roundtrip(self, dsrv):
        status, body = _get(
            dsrv, "/api/dashboards/dl1/download/data.csv?mode=url"
        )
        assert status == 200
        url = json.loads(body)["url"]
        assert url.startswith("/api/download/")
        token = url.split("/")[3]
        assert len(token) == 64  # 32 random bytes, hex
        status, body = _get(dsrv, url)
        assert status == 200
        assert body.decode().splitlines()[0] == "r_name,n"

    def test_key_is_single_purpose(self, dsrv):
        _, body = _get(
            dsrv, "/api/dashboards/dl1/download/data.csv?mode=url"
        )
        url = json.loads(body)["url"]
        # same key, different filename → uniform 404
        status, body = _get(dsrv, url.rsplit("/", 1)[0] + "/other.csv")
        assert status == 404
        assert json.loads(body)["error"] == "Download not found or expired"

    def test_key_expires(self, dsrv):
        _, body = _get(
            dsrv, "/api/dashboards/dl1/download/data.csv?mode=url"
        )
        url = json.loads(body)["url"]
        time.sleep(1.8)
        status, body = _get(dsrv, url)
        assert status == 404
        assert json.loads(body)["error"] == "Download not found or expired"
        # opportunistic sweep clears the expired row from the KV
        assert dsrv.sweep_download_keys() >= 1
        assert dsrv.sweep_download_keys() == 0

    def test_unknown_key_404(self, dsrv):
        status, body = _get(dsrv, "/api/download/" + "0" * 64 + "/x.csv")
        assert status == 404
        assert json.loads(body)["error"] == "Download not found or expired"

    def test_default_mode_still_streams(self, dsrv):
        status, body = _get(dsrv, "/api/dashboards/dl1/download/data.csv")
        assert status == 200
        assert body.decode().splitlines()[0] == "r_name,n"
