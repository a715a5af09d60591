"""HTTP API façade: the reference's data-facing routes over the Spark
engine, using only the Python standard library (no web framework in
this environment).

Routes re-expressed (reference server/web/routes.go:157-198):
  GET  /health                                  → liveness
  POST /api/sql            {"sql": "..."}       → CSV stream (single stmt)
  POST /api/data/<table>   JSON body            → ingest buffer publish
  GET  /api/schema                              → introspection tree JSON
  POST /api/validate       {"sql": "..."}       → statement-gate verdict
  POST /api/dashboards     {"id","content"}     → persist dashboard
  GET  /api/dashboards                          → list dashboards
  GET  /api/dashboards/<id>?vars…               → render tree JSON
  GET  /api/dashboards/<id>/info                → metadata + content
  POST /api/dashboards/<id>/query {"content"}   → update content
  POST /api/dashboards/<id>/name  {"name"}      → rename
  DELETE /api/dashboards/<id>                   → delete
  GET  /api/dashboards/<id>/download/<file>.csv|json|xlsx → export stream
  POST /api/download/<file>.csv|json|xlsx {"sql"} → ad-hoc SQL download
  POST /api/tasks          {"id","content"}     → persist + schedule task
  GET  /api/tasks                               → list tasks + last run
  GET  /api/tasks/<id>                          → metadata + content + run
  POST /api/tasks/<id>/content {"content"}      → update + reschedule
  POST /api/tasks/<id>/name {"name"}            → rename
  DELETE /api/tasks/<id>                        → delete + unschedule
  POST /api/run/task       {"id"}               → execute now, return result
  GET  /api/tasks/<id>/runs                     → task run results
                                                  (?after=N&wait=S long-poll)
  GET  /api/tasks/<id>/events                   → WebSocket result push
                                                  (RFC6455, shaper_spark.ws)

Since r7 the auth surface is in scope too: session/API-key tokens
with per-route permissions (auth.py), user/invite/key/folder
management routes, and the JWT dashboard-embed flow — POST /api/jwt
mints a variables-carrying HS256 token (web/handler/auth.go:163-230)
which the render/download routes honor (claims merge over the
constructor ``variables``; dashboardId-scoped tokens are restricted
to that dashboard's render/download routes and never act as the
minting user on any other route). The UI is served too — a
self-contained vanilla-JS SPA (ui.py) re-expressing the reference's
React app at the same routes; pixel parity with the React build is a
documented non-goal (MIGRATION.md).

Scale note: the server holds no query state — every request drives the
shared long-lived SparkSession; exports stream via toLocalIterator so
an unbounded download never materializes on the driver.
"""

from __future__ import annotations

import io
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

from . import sqltool, ui
from .auth import Actor, AuthError, AuthInfo, AuthService
from .engine import _prepare_query, _VarState, query_dashboard
from .folders import FolderService
from .exports import stream_csv, stream_dashboard_export
from .ingest import IngestBuffer
from .introspect import get_schema
from .metastore import Metastore
from .tasks import TaskScheduler

__all__ = ["ShaperServer"]


class ShaperServer:
    """Embeddable API server around one SparkSession.

    Metadata (dashboards, tasks, task-run state) lives in a
    :class:`Metastore` — pass ``db_path`` for restart durability
    (reference behavior: SQLite at ``server/core/db_schema.go:13-166``,
    reloaded through ``state.go:29-163``). On construction, stored
    tasks are re-registered with the scheduler, so schedules survive a
    process restart exactly like the reference's."""

    def __init__(
        self,
        spark: SparkSession,
        host: str = "127.0.0.1",
        port: int = 0,
        variables: dict[str, Any] | None = None,
        db_path: str | None = None,
        no_tasks: bool = False,
        no_edit: bool = False,
        no_public_sharing: bool = False,
        no_password_protected_sharing: bool = False,
        sso_login_url: str = "",
        custom_css: str = "",
        favicon: bytes | None = None,
        downloads_ttl: float = 600.0,
    ):
        self.spark = spark
        self.variables = variables or {}
        # serve-time branding (reference --custom-css / --favicon
        # flags, frontend.go:144 + routes.go:246) and the keyed
        # download-link TTL (reference DownloadsTTL, 10 min)
        self.custom_css = custom_css
        self.favicon = favicon
        self.downloads_ttl = downloads_ttl
        # feature flags surfaced by /api/system/config (reference
        # main.go CLI flags --no-tasks/--no-edit/--no-public-sharing/…)
        self.no_tasks = no_tasks
        self.no_edit = no_edit
        self.no_public_sharing = no_public_sharing
        self.no_password_protected_sharing = no_password_protected_sharing
        self.sso_login_url = sso_login_url
        self.store = Metastore(db_path)
        self.db_path = db_path
        if db_path:
            # Multi-host deployments share one metastore file: poll its
            # data generation per render so another host's ingest/DML
            # invalidates this host's analyzed plans, and broadcast our
            # own mutations back (r5 verdict: staleness was
            # process-local).
            from . import plancache

            plancache.set_staleness_probe(
                db_path, self.store.data_generation
            )
            plancache.add_bump_broadcaster(
                db_path, self.store.bump_data_generation
            )
        self.auth = AuthService(self.store)
        self.folders = FolderService(self.store)
        # Persistent deployments (a real metastore path) get the
        # durable ingest queue next to it: a publish survives this
        # node dying before its batch flushed (WalIngestQueue — the
        # JetStream work-queue seam). Ephemeral servers stay in-memory.
        # The directory is SHARED by every instance on this metastore:
        # each owns a private flock'd segment, and a starting instance
        # adopts dead peers' unacked entries (redelivery-to-any-
        # consumer, like the reference's work queue).
        self.ingest = IngestBuffer(
            spark,
            wal_dir=(db_path + ".ingest-wal") if db_path else None,
        )
        # The scheduler records runs and claims scheduled fires through
        # the shared store — multiple server instances on one metastore
        # dedupe runs like the reference's NATS work queue.
        self.scheduler = TaskScheduler(
            spark,
            store=self.store,
            # results survive a node dying between executing a task and
            # recording it (same adopt-on-start WAL as the ingest queue)
            result_wal_dir=(db_path + ".results-wal") if db_path else None,
        )
        self._flusher_stop = threading.Event()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            daemon_threads = True

            def log_message(self, *a):  # quiet
                pass

            # -- helpers ---------------------------------------------------
            def _json(self, code: int, payload: Any) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _read_body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            # -- auth middleware (reference routes.go:115-133 JWT/session
            # middleware + keys.go permission checks) ----------------------
            def _bearer(self) -> str:
                h = self.headers.get("Authorization") or ""
                if h.lower().startswith("bearer "):
                    return h[7:].strip()
                return self.headers.get("X-Shaper-Token") or ""

            def _gate(self, permission: str | None = None):
                """AuthInfo if the request may proceed, else respond
                401/403 and return None. Until the first user exists
                the server runs in no-auth mode (auth.go:342-346), so
                pre-auth deployments keep their exact old behavior.

                Besides session/API-key tokens, a signed JWT is
                accepted (the dashboard-embed flow, routes.go:115-133):
                a user-claim JWT acts as that user; a dashboard-scoped
                JWT grants dashboard:read only, and its claims
                (variables, dashboardId) ride on self._jwt_claims for
                the render handlers."""
                self._jwt_claims = None
                token = self._bearer()
                if (
                    token.count(".") == 2
                    and not token.startswith(
                        ("shapersession.", "shaperkey.")
                    )
                ):
                    claims = outer.auth.verify_jwt(token)
                    if claims is not None:
                        self._jwt_claims = claims
                        if claims.get("dashboardId"):
                            # Embed token: render-only scope even when
                            # the claims carry a userId (minted by a
                            # user via POST /api/jwt). The reference
                            # rejects dashboardId JWTs on every
                            # non-render handler (dashboard.go:123-124,
                            # apps.go, users.go, keys.go, folders.go,
                            # schema.go); granting the minting user's
                            # full identity here would let a token
                            # handed to a third-party page manage the
                            # instance.
                            info = AuthInfo(
                                valid=True,
                                api_key_id=str(
                                    claims.get("apiKeyId") or "jwt-embed"
                                ),
                                permissions=["dashboard:read"],
                            )
                        elif claims.get("userId"):
                            info = AuthInfo(
                                valid=True,
                                is_user=True,
                                user_id=str(claims["userId"]),
                                session_id=str(
                                    claims.get("sessionId") or ""
                                ),
                            )
                        else:
                            info = AuthInfo(
                                valid=True,
                                api_key_id=str(
                                    claims.get("apiKeyId") or "jwt-embed"
                                ),
                                permissions=["dashboard:read"],
                            )
                        if permission and not outer.auth.has_permission(
                            info, permission
                        ):
                            self._json(403, {"error": "forbidden"})
                            return None
                        return info
                info = outer.auth.valid_token(token)
                if not info.valid:
                    self._json(401, {"error": "unauthorized"})
                    return None
                if permission and not outer.auth.has_permission(
                    info, permission
                ):
                    self._json(403, {"error": "forbidden"})
                    return None
                return info

            def _mgmt(self):
                """Management endpoints (users/invites/keys/folders):
                user sessions only — API keys can't administer the
                instance (reference: admin routes sit behind the user
                session middleware)."""
                info = self._gate()
                if info is None:
                    return None
                if info.api_key_id:
                    self._json(403, {"error": "forbidden"})
                    return None
                return info

            def _embed_scope_blocks(self, parts) -> bool:
                """True (404 already sent) if the request carries a
                dashboardId-scoped embed JWT and ``parts`` is not that
                dashboard's render or download route. Mirrors the
                reference's per-handler dashboardId rejection
                (dashboard.go:123-124, apps.go, users.go, keys.go,
                folders.go, schema.go): an embed token must not list
                dashboards, read /info SQL content, or touch tasks,
                runs, events, or schema — private content 404s."""
                claims = getattr(self, "_jwt_claims", None) or {}
                scope = str(claims.get("dashboardId") or "")
                if not scope:
                    return False
                # render/download pass through — _jwt_variables 403s a
                # dashboardId mismatch there; every other read is 404
                allowed = parts[:2] == ["api", "dashboards"] and (
                    len(parts) == 3
                    or (len(parts) == 5 and parts[3] == "download")
                )
                if allowed:
                    return False
                self._json(404, {"error": "not found"})
                return True

            @staticmethod
            def _app_public(app: dict) -> dict:
                """App row with credential material stripped: the
                share-password scrypt hash never leaves the server
                (reference: users.go PasswordHash json:\"-\");
                callers see only a hasPassword boolean."""
                app = dict(app)
                ph = app.pop("password_hash", None)
                app["hasPassword"] = bool(ph)
                return app

            def _actor(self, info) -> Actor:
                if info.is_user:
                    return Actor("user", info.user_id)
                if info.api_key_id:
                    return Actor("api_key", info.api_key_id)
                return Actor("no_auth")

            def _ws_task_events(self, task_id: str, _ws) -> None:
                """RFC 6455 upgrade + one JSON text frame per task run
                (reference: server/web/handler/task.go pushes results
                over WS). Push-only: client frames are only inspected
                for CLOSE; the connection also ends on server stop."""
                key = self.headers.get("Sec-WebSocket-Key") or ""
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", _ws.accept_key(key))
                self.end_headers()
                self.wfile.flush()
                import select as _select

                sent = 0
                try:
                    while not outer._flusher_stop.is_set():
                        # snapshot: the poll thread appends concurrently
                        runs = list(outer.scheduler.results.get(task_id, []))
                        while sent < len(runs):
                            frame = _ws.encode_text_frame(
                                json.dumps(runs[sent].to_dict(), default=str)
                            )
                            self.wfile.write(frame)
                            self.wfile.flush()
                            sent += 1
                        readable, _, _ = _select.select(
                            [self.connection], [], [], 0.2
                        )
                        if not readable:
                            continue
                        head = self.rfile.read(2)
                        if not head:
                            break  # client went away
                        opcode, _, length = _ws.decode_frame_header(head)
                        if opcode == _ws.CLOSE_OPCODE:
                            break
                        # drain and ignore any other client frame payload
                        # (extended length field, mask key, data)
                        if length == 126:
                            import struct as _struct

                            (length,) = _struct.unpack(
                                "!H", self.rfile.read(2)
                            )
                        elif length == 127:
                            import struct as _struct

                            (length,) = _struct.unpack(
                                "!Q", self.rfile.read(8)
                            )
                        self.rfile.read(4 + length)
                except (BrokenPipeError, ConnectionResetError, OSError):
                    pass
                finally:
                    self.close_connection = True

            def _list_opts(self, url) -> dict[str, Any]:
                """?q= &sort= &order= &limit= &offset= (list_apps.go)."""
                qs = parse_qs(url.query)

                def one(k, default=""):
                    return qs.get(k, [default])[0]

                opts: dict[str, Any] = {
                    "query": one("q"),
                    "sort": one("sort", "id"),
                    "order": one("order", "asc"),
                }
                if one("limit"):
                    opts["limit"] = int(one("limit"))
                if one("offset"):
                    opts["offset"] = int(one("offset"))
                return opts

            # -- routes ----------------------------------------------------
            def do_GET(self):
                url = urlparse(self.path)
                parts = [unquote(p) for p in url.path.strip("/").split("/")]
                try:
                    if parts == ["health"]:
                        return self._json(200, {"status": "ok"})
                    if parts == ["metrics"]:
                        # Prometheus system gauges behind API-key auth +
                        # the metrics permission (routes.go:163 wires
                        # echoprometheus behind KeyAuth +
                        # PermissionReadMetrics). Must precede the SPA
                        # fallback — /metrics is a top-level route.
                        from .auth import PERMISSION_READ_METRICS
                        from .metrics import CONTENT_TYPE, render_prometheus

                        if self._gate(PERMISSION_READ_METRICS) is None:
                            return
                        body = render_prometheus()
                        self.send_response(200)
                        self.send_header("Content-Type", CONTENT_TYPE)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    if parts == ["favicon.ico"]:
                        # reference routes.go:246 (moderate caching);
                        # operator-supplied bytes or the built-in icon
                        body = outer.favicon or ui.default_favicon()
                        self.send_response(200)
                        self.send_header("Content-Type", "image/x-icon")
                        self.send_header(
                            "Cache-Control", "public, max-age=86400"
                        )
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    if parts[:1] == ["embed"]:
                        # GET /embed/shaper.js — the copy-paste script
                        # loader (reference serveEmbedJS,
                        # frontend.go:60: only shaper.js[.map] exist,
                        # anything else 404s; base URL + custom CSS
                        # injected per request)
                        if parts[1:] != ["shaper.js"]:
                            return self._json(
                                404, {"error": "File not found"}
                            )
                        proto = self.headers.get(
                            "X-Forwarded-Proto", "http"
                        )
                        host = self.headers.get(
                            "Host", f"127.0.0.1:{outer.port}"
                        )
                        body = ui.embed_loader_js(
                            f"{proto}://{host}", outer.custom_css
                        )
                        self.send_response(200)
                        self.send_header(
                            "Content-Type",
                            "text/javascript; charset=utf-8",
                        )
                        self.send_header(
                            "Cache-Control", "public, max-age=86400"
                        )
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    if parts[:1] != ["api"] and ui.is_ui_path(url.path):
                        # SPA fallback: the reference serves the built
                        # React bundle for every non-/api route
                        # (server/web/routes.go static handler); here
                        # the bundle is the self-contained ui.shell().
                        body = ui.shell(outer.custom_css)
                        self.send_response(200)
                        self.send_header(
                            "Content-Type", "text/html; charset=utf-8"
                        )
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        return
                    if parts == ["api", "auth", "info"]:
                        # public: tells a client whether login is needed
                        return self._json(
                            200,
                            {"loginRequired": outer.auth.login_required()},
                        )
                    if parts == ["api", "system", "config"]:
                        # public instance capabilities
                        # (system.go:12-24): the SPA reads these before
                        # any auth
                        return self._json(
                            200,
                            {
                                "loginRequired": outer.auth.login_required(),
                                "tasksEnabled": not outer.no_tasks,
                                "editEnabled": not outer.no_edit,
                                "publicSharingEnabled": not outer.no_public_sharing,
                                "passwordProtectedSharingEnabled": (
                                    not outer.no_password_protected_sharing
                                ),
                                "ssoLoginUrl": outer.sso_login_url,
                                # secrets here are metastore-generated,
                                # never statically configured
                                "jwtSecretStatic": False,
                            },
                        )
                    if parts == ["api", "version"]:
                        from . import __version__

                        if self._gate() is None:
                            return
                        return self._json(200, {"version": __version__})
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "public"]
                        and parts[3] == "status"
                    ):
                        # public share status (dashboard.go:857-880):
                        # 404 for private/unknown or when the matching
                        # sharing mode is disabled — never reveals
                        # whether the id exists
                        app = outer.store.get_app(parts[2])
                        vis = (app or {}).get("visibility")
                        if (
                            app is None
                            or vis in (None, "private")
                            or (outer.no_public_sharing and vis == "public")
                            or (
                                outer.no_password_protected_sharing
                                and vis == "password-protected"
                            )
                        ):
                            return self._json(
                                404, {"error": "Dashboard Not Found"}
                            )
                        return self._json(200, {"visibility": vis})
                    if parts == ["api", "auth", "me"]:
                        info = self._gate()
                        if info is None:
                            return
                        return self._json(
                            200,
                            {
                                "isUser": info.is_user,
                                "userId": info.user_id,
                                "email": info.user_email,
                                "name": info.user_name,
                                "apiKeyId": info.api_key_id,
                                "apiKeyName": info.api_key_name,
                            },
                        )
                    if parts == ["api", "users"]:
                        if self._mgmt() is None:
                            return
                        qs = parse_qs(url.query)
                        return self._json(
                            200,
                            outer.auth.list_users(
                                sort=qs.get("sort", [""])[0],
                                order=qs.get("order", ["desc"])[0],
                            ),
                        )
                    if parts == ["api", "keys"]:
                        if self._mgmt() is None:
                            return
                        return self._json(
                            200, {"keys": outer.auth.list_api_keys()}
                        )
                    if parts == ["api", "folders"]:
                        if self._mgmt() is None:
                            return
                        path = parse_qs(url.query).get("path", ["/"])[0]
                        return self._json(
                            200, outer.folders.list_folder(path)
                        )
                    if parts == ["api", "schema"]:
                        if self._gate("schema:read") is None:
                            return
                        return self._json(200, get_schema(outer.spark).to_dict())
                    if len(parts) == 4 and parts[:2] == [
                        "api",
                        "download",
                    ]:
                        # keyed TTL download — deliberately BEFORE the
                        # auth gate (reference routes.go:198 mounts
                        # DownloadFileByKey with no middleware): the
                        # minted key is the credential
                        return self._download_by_key(parts[2], parts[3])
                    # every remaining GET surface is dashboard/task reads
                    if parts[:1] == ["api"] and self._gate(
                        "dashboard:read"
                    ) is None:
                        return
                    if self._embed_scope_blocks(parts):
                        return
                    if parts == ["api", "dashboards"]:
                        return self._json(
                            200,
                            [
                                {k: a[k] for k in ("id", "name", "updated_at")}
                                for a in outer.store.list_apps(
                                    "dashboard", **self._list_opts(url)
                                )
                            ],
                        )
                    if parts == ["api", "tasks"]:
                        return self._json(
                            200,
                            [
                                {
                                    **{k: a[k] for k in ("id", "name", "updated_at")},
                                    "lastRun": outer.store.get_task_run(a["id"]),
                                }
                                for a in outer.store.list_apps(
                                    "task", **self._list_opts(url)
                                )
                            ],
                        )
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "dashboards"]
                        and parts[3] == "info"
                    ):
                        app = outer.store.get_app(parts[2])
                        if app is None or app["type"] != "dashboard":
                            return self._json(404, {"error": "not found"})
                        return self._json(200, self._app_public(app))
                    if (
                        len(parts) == 3
                        and parts[:2] == ["api", "tasks"]
                    ):
                        app = outer.store.get_app(parts[2])
                        if app is None or app["type"] != "task":
                            return self._json(404, {"error": "not found"})
                        return self._json(
                            200,
                            {
                                **self._app_public(app),
                                "lastRun": outer.store.get_task_run(parts[2]),
                            },
                        )
                    if len(parts) == 3 and parts[:2] == ["api", "dashboards"]:
                        return self._dashboard(parts[2], url)
                    if (
                        len(parts) == 5
                        and parts[:2] == ["api", "dashboards"]
                        and parts[3] == "download"
                    ):
                        return self._download(parts[2], parts[4], url)
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "tasks"]
                        and parts[3] == "events"
                    ):
                        # WebSocket task-result push, matching the
                        # reference's WS events endpoint
                        # (server/web/handler/task.go; gobwas/ws).
                        # Non-upgrade requests get a pointer to the
                        # long-poll runs endpoint.
                        from . import ws as _ws

                        if not _ws.is_upgrade_request(self.headers):
                            return self._json(
                                426,
                                {
                                    "error": "WebSocket upgrade required; "
                                    "or long-poll GET "
                                    f"/api/tasks/{parts[2]}/runs?after=N&wait=S"
                                },
                            )
                        return self._ws_task_events(parts[2], _ws)
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "tasks"]
                        and parts[3] == "runs"
                    ):
                        # ?after=N&wait=S long-polls for runs beyond the
                        # first N — the polling fallback for the
                        # reference's WebSocket task events
                        # (server/web/handler/task.go).
                        qs = parse_qs(url.query)
                        after = int(qs.get("after", ["0"])[0] or 0)
                        wait = min(float(qs.get("wait", ["0"])[0] or 0), 30.0)
                        deadline = time.monotonic() + wait
                        runs = list(outer.scheduler.results.get(parts[2], []))
                        while len(runs) <= after and time.monotonic() < deadline:
                            time.sleep(0.1)
                            runs = list(
                                outer.scheduler.results.get(parts[2], [])
                            )
                        return self._json(
                            200, [r.to_dict() for r in runs[after:]]
                        )
                    self._json(404, {"error": "not found"})
                except Exception as e:
                    self._json(500, {"error": str(e)})

            def do_POST(self):
                url = urlparse(self.path)
                parts = [unquote(p) for p in url.path.strip("/").split("/")]
                try:
                    if parts == ["api", "internal", "task-result"]:
                        # push half of the cross-instance result
                        # transport. Shared-metastore peers form the
                        # trust domain; membership is PROVEN by an
                        # HMAC over the body with the per-metastore
                        # push secret (config KV), not by the instance
                        # id — ids are broadcast in the clear, so a
                        # matching id alone must not admit forged
                        # results (the reference's NATS mesh is closed
                        # to non-members the same way).
                        raw = self._read_body() or b"{}"
                        from .tasks import push_signature
                        import hmac as _hmac

                        sig = str(
                            self.headers.get("X-Shaper-Push-Signature")
                            or ""
                        )
                        if not outer.db_path or not sig:
                            return self._json(403, {"error": "forbidden"})
                        try:
                            expect = push_signature(outer.store, raw)
                        except Exception:
                            return self._json(403, {"error": "forbidden"})
                        if not _hmac.compare_digest(expect, sig):
                            return self._json(403, {"error": "forbidden"})
                        body = json.loads(raw)
                        sender = str(body.get("instance") or "")
                        if not sender or not (
                            outer.store.is_registered_instance(sender)
                        ):
                            return self._json(403, {"error": "forbidden"})
                        applied = outer.scheduler.receive_push(body)
                        return self._json(200, {"applied": applied})
                    # -- public auth endpoints (setup works only while
                    # no user exists; login/claim authenticate) --------
                    if parts == ["api", "auth", "setup"]:
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            uid = outer.auth.create_user(
                                str(body.get("email") or ""),
                                str(body.get("password") or ""),
                                str(body.get("name") or ""),
                            )
                        except AuthError as e:
                            return self._json(409, {"error": str(e)})
                        return self._json(200, {"id": uid})
                    if parts == ["api", "auth", "login"]:
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            token = outer.auth.login(
                                str(body.get("email") or ""),
                                str(body.get("password") or ""),
                            )
                        except AuthError:
                            # uniform error: never reveal which of
                            # email/password failed
                            return self._json(
                                401, {"error": "invalid credentials"}
                            )
                        return self._json(200, {"token": token})
                    if parts == ["api", "auth", "public"]:
                        # PublicAuth (web/handler/auth.go:233-300):
                        # public/password-protected dashboards mint a
                        # dashboard-scoped embed JWT without a login
                        body = json.loads(self._read_body() or b"{}")
                        did = str(body.get("dashboardId") or "")
                        if not did:
                            return self._json(
                                400, {"error": "Missing dashboardId"}
                            )
                        try:
                            token = outer.auth.public_dashboard_jwt(
                                did, str(body.get("password") or "")
                            )
                        except AuthError as e:
                            msg = str(e)
                            code = 404 if msg == "not found" else 401
                            return self._json(code, {"error": msg})
                        return self._json(200, {"jwt": token})
                    if parts == ["api", "invites", "claim"]:
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            token = outer.auth.claim_invite(
                                str(body.get("code") or ""),
                                str(body.get("name") or ""),
                                str(body.get("password") or ""),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"token": token})
                    if parts == ["api", "auth", "logout"]:
                        info = self._gate()
                        if info is None:
                            return
                        if info.session_id:
                            outer.auth.logout(info.session_id)
                        return self._json(200, {"ok": True})
                    # -- management (user sessions only) ---------------
                    if parts == ["api", "invites"]:
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        return self._json(
                            200,
                            outer.auth.create_invite(
                                str(body.get("email") or ""),
                                self._actor(info),
                            ),
                        )
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "users"]
                        and parts[3] in ("password", "name")
                    ):
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            if parts[3] == "password":
                                outer.auth.update_user_password(
                                    parts[2],
                                    str(body.get("currentPassword") or ""),
                                    str(body.get("newPassword") or ""),
                                    self._actor(info),
                                    exclude_session_id=info.session_id,
                                )
                            else:
                                outer.auth.update_user_name(
                                    parts[2],
                                    str(body.get("name") or ""),
                                    self._actor(info),
                                )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"ok": True})
                    if parts == ["api", "admin", "reset-jwt-secret"]:
                        # rotate the shared signing secret
                        # (auth.go:341-356): every outstanding JWT —
                        # embed tokens included — stops verifying;
                        # user sessions only, like the reference's
                        # dashboardId-claim rejection
                        if self._mgmt() is None:
                            return
                        outer.auth.reset_jwt_secret()
                        return self._json(200, {"ok": True})
                    if parts == ["api", "keys"]:
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            kid, token = outer.auth.create_api_key(
                                str(body.get("name") or ""),
                                list(body.get("permissions") or []),
                                self._actor(info),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"id": kid, "key": token})
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "keys"]
                        and parts[3] == "permissions"
                    ):
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            outer.auth.update_api_key_permissions(
                                parts[2],
                                list(body.get("permissions") or []),
                                self._actor(info),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"ok": True})
                    if parts == ["api", "folders"]:
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            return self._json(
                                200,
                                outer.folders.create_folder(
                                    str(body.get("name") or ""),
                                    str(body.get("path") or "/"),
                                    self._actor(info),
                                ),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "folders"]
                        and parts[3] == "rename"
                    ):
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            outer.folders.rename_folder(
                                parts[2],
                                str(body.get("name") or ""),
                                self._actor(info),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"ok": True})
                    if parts == ["api", "move"]:
                        info = self._mgmt()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            outer.folders.move_items(
                                list(body.get("apps") or []),
                                list(body.get("folders") or []),
                                str(body.get("path") or "/"),
                                self._actor(info),
                            )
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"ok": True})
                    if parts == ["api", "jwt"]:
                        # dashboard-embed token minting
                        # (web/handler/auth.go:163-230 TokenAuth; API
                        # keys need the 'jwt' permission)
                        info = self._gate()
                        if info is None:
                            return
                        body = json.loads(self._read_body() or b"{}")
                        try:
                            token = outer.auth.generate_dashboard_jwt(
                                info,
                                dashboard_id=str(
                                    body.get("dashboardId") or ""
                                ),
                                variables=body.get("variables") or {},
                                exp_s=(
                                    30 * 24 * 3600
                                    if body.get("longLived")
                                    else None
                                ),
                            )
                        except AuthError as e:
                            code = (
                                403
                                if "permission" in str(e)
                                else 400
                            )
                            return self._json(code, {"error": str(e)})
                        return self._json(200, {"jwt": token})
                    # -- data/deploy surface (API-key permissions) -----
                    if parts == ["api", "sql"]:
                        if self._gate("data:query") is None:
                            return
                        return self._sql()
                    if len(parts) == 3 and parts[:2] == ["api", "data"]:
                        if self._gate("data:ingest") is None:
                            return
                        return self._ingest(parts[2])
                    if parts == ["api", "validate"]:
                        if self._gate("data:query") is None:
                            return
                        return self._validate()
                    if len(parts) == 3 and parts[:2] == ["api", "download"]:
                        if self._gate("data:query") is None:
                            return
                        return self._adhoc_download(parts[2])
                    # every remaining POST mutates dashboards/tasks
                    if parts[:1] == ["api"] and self._gate("deploy") is None:
                        return
                    if parts == ["api", "dashboards"]:
                        body = json.loads(self._read_body() or b"{}")
                        did = str(body.get("id") or "")
                        content = str(body.get("content") or "")
                        if not did or not content:
                            return self._json(400, {"error": "id and content required"})
                        outer.store.record(
                            "create_dashboard",
                            {"id": did, "content": content, "name": body.get("name")},
                        )
                        return self._json(200, {"id": did})
                    if parts == ["api", "tasks"]:
                        body = json.loads(self._read_body() or b"{}")
                        tid = str(body.get("id") or "")
                        content = str(body.get("content") or "")
                        if not tid or not content:
                            return self._json(400, {"error": "id and content required"})
                        outer.store.record(
                            "create_task",
                            {"id": tid, "content": content, "name": body.get("name")},
                        )
                        next_run, stype = outer.scheduler.register(tid, content)
                        return self._json(
                            200,
                            {"id": tid, "nextRunAt": next_run, "scheduleType": stype},
                        )
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "dashboards"]
                        and parts[3] in ("query", "name", "visibility", "password")
                    ):
                        return self._update_app(
                            "dashboard", parts[2], parts[3]
                        )
                    if (
                        len(parts) == 4
                        and parts[:2] == ["api", "tasks"]
                        and parts[3] in ("content", "name")
                    ):
                        return self._update_app("task", parts[2], parts[3])
                    if parts == ["api", "deploy"]:
                        return self._deploy()
                    if parts == ["api", "run", "task"]:
                        body = json.loads(self._read_body() or b"{}")
                        tid = str(body.get("id") or "")
                        app = outer.store.get_app(tid)
                        if app is None or app["type"] != "task":
                            return self._json(404, {"error": f"no task {tid}"})
                        from .tasks import execute_task

                        result = execute_task(
                            outer.spark, app["content"], variables=outer.variables
                        )
                        # visible to GET :id/runs and its long-poll
                        with outer.scheduler._lock:
                            outer.scheduler.results.setdefault(
                                tid, []
                            ).append(result)
                        outer.scheduler._record_run(tid, result)
                        # manual runs propagate to peers like scheduled
                        # ones (record + push)
                        outer.scheduler._broadcast_result(tid, result)
                        return self._json(200, result.to_dict())
                    self._json(404, {"error": "not found"})
                except Exception as e:
                    self._json(500, {"error": str(e)})

            def do_DELETE(self):
                url = urlparse(self.path)
                parts = [unquote(p) for p in url.path.strip("/").split("/")]
                try:
                    if len(parts) == 3 and parts[:2] in (
                        ["api", "users"],
                        ["api", "invites"],
                        ["api", "keys"],
                        ["api", "folders"],
                    ):
                        info = self._mgmt()
                        if info is None:
                            return
                        actor = self._actor(info)
                        try:
                            kind = parts[1]
                            if kind == "users":
                                outer.auth.delete_user(parts[2], actor)
                            elif kind == "invites":
                                outer.auth.delete_invite(parts[2], actor)
                            elif kind == "keys":
                                outer.auth.delete_api_key(parts[2], actor)
                            else:
                                outer.folders.delete_folder(parts[2], actor)
                        except AuthError as e:
                            return self._json(400, {"error": str(e)})
                        return self._json(200, {"ok": True})
                    if parts[:1] == ["api"] and self._gate("deploy") is None:
                        return
                    if len(parts) == 3 and parts[:2] == ["api", "dashboards"]:
                        if outer.store.get_app(parts[2]) is None:
                            return self._json(404, {"error": "not found"})
                        outer.store.record("delete_dashboard", {"id": parts[2]})
                        return self._json(200, {"id": parts[2]})
                    if len(parts) == 3 and parts[:2] == ["api", "tasks"]:
                        if outer.store.get_app(parts[2]) is None:
                            return self._json(404, {"error": "not found"})
                        outer.scheduler.unregister(parts[2])
                        outer.store.record("delete_task", {"id": parts[2]})
                        return self._json(200, {"id": parts[2]})
                    self._json(404, {"error": "not found"})
                except Exception as e:
                    self._json(500, {"error": str(e)})

            # -- route bodies ----------------------------------------------
            def _update_app(self, app_type: str, app_id: str, field_: str):
                """POST :id/query|content|name (reference
                SaveDashboardQuery/SaveTaskContent/..., routes.go:192-204)."""
                body = json.loads(self._read_body() or b"{}")
                app = outer.store.get_app(app_id)
                if app is None or app["type"] != app_type:
                    return self._json(404, {"error": "not found"})
                if field_ == "name":
                    value = str(body.get("name") or "")
                    if not value:
                        return self._json(400, {"error": "name required"})
                    outer.store.record(
                        f"update_{app_type}_name", {"id": app_id, "name": value}
                    )
                elif field_ == "visibility":
                    outer.store.record(
                        "update_dashboard_visibility",
                        {"id": app_id, "visibility": body.get("visibility")},
                    )
                elif field_ == "password":
                    # share password for password-protected visibility
                    # (empty clears); stored as a scrypt hash
                    outer.auth.set_dashboard_password(
                        app_id,
                        str(body.get("password") or ""),
                        Actor("no_auth"),
                    )
                else:
                    value = str(body.get("content") or "")
                    if not value:
                        return self._json(400, {"error": "content required"})
                    outer.store.record(
                        f"update_{app_type}_content",
                        {"id": app_id, "content": value},
                    )
                    if app_type == "task":
                        outer.scheduler.register(app_id, value)
                return self._json(200, {"id": app_id})

            def _deploy(self):
                """POST /api/deploy: bulk create/update/delete of
                dashboards and tasks — the CI deployment path (reference
                server/web/handler/deploy.go:26-131; the `path` folder
                field is accepted but folders are descoped). Any invalid
                operation fails the whole request with 400, matching the
                reference."""
                from .ingest import _gen_id

                body = json.loads(self._read_body() or b"{}")
                apps = body.get("apps")
                if not isinstance(apps, list) or not apps:
                    return self._json(400, {"error": "apps array is required"})
                results = []
                for idx, item in enumerate(apps):
                    app_type = str(item.get("type") or "").strip().lower()
                    op = str(item.get("operation") or "").strip().lower()
                    data = item.get("data") or {}
                    if app_type not in ("dashboard", "task"):
                        return self._json(
                            400,
                            {"error": f"apps[{idx}]: unsupported type {app_type!r}"},
                        )
                    if op == "create":
                        name = str(data.get("name") or "").strip()
                        content = data.get("content")
                        if not name or not content:
                            return self._json(
                                400,
                                {
                                    "error": f"apps[{idx}]: name and content "
                                    "required for create"
                                },
                            )
                        app_id = str(data.get("id") or "").strip() or _gen_id()
                        outer.store.record(
                            f"create_{app_type}",
                            {"id": app_id, "content": content, "name": name},
                        )
                        if app_type == "task":
                            outer.scheduler.register(app_id, content)
                        status = "created"
                    elif op == "update":
                        app_id = str(data.get("id") or "").strip()
                        existing = outer.store.get_app(app_id)
                        if existing is None or existing["type"] != app_type:
                            return self._json(
                                400,
                                {"error": f"apps[{idx}]: no {app_type} {app_id!r}"},
                            )
                        if data.get("content") is not None:
                            outer.store.record(
                                f"update_{app_type}_content",
                                {"id": app_id, "content": data["content"]},
                            )
                            if app_type == "task":
                                outer.scheduler.register(app_id, data["content"])
                        if data.get("name"):
                            outer.store.record(
                                f"update_{app_type}_name",
                                {"id": app_id, "name": data["name"]},
                            )
                        status = "updated"
                    elif op == "delete":
                        app_id = str(data.get("id") or "").strip()
                        if outer.store.get_app(app_id) is None:
                            return self._json(
                                400,
                                {"error": f"apps[{idx}]: no {app_type} {app_id!r}"},
                            )
                        if app_type == "task":
                            outer.scheduler.unregister(app_id)
                        outer.store.record(f"delete_{app_type}", {"id": app_id})
                        status = "deleted"
                    else:
                        return self._json(
                            400,
                            {
                                "error": f"apps[{idx}]: unsupported operation {op!r}"
                            },
                        )
                    results.append(
                        {
                            "operation": op,
                            "type": app_type,
                            "id": app_id,
                            "status": status,
                        }
                    )
                return self._json(200, {"results": results})

            def _adhoc_download(self, filename: str):
                """POST /api/download/<file>: one read-only statement
                streamed in the format named by the extension (reference
                DownloadSQL, routes.go:178)."""
                body = json.loads(self._read_body() or b"{}")
                sql = str(body.get("sql") or "")
                fmt = filename.rsplit(".", 1)[-1].lower()
                if fmt not in ("csv", "json", "xlsx"):
                    return self._json(400, {"error": f"unsupported format {fmt}"})
                df = self._adhoc_frame(sql)
                if df is None:
                    return None
                from .exports import stream_json, write_xlsx

                out: Any = io.BytesIO() if fmt == "xlsx" else io.StringIO()
                {"csv": stream_csv, "json": stream_json, "xlsx": write_xlsx}[
                    fmt
                ](df, out)
                data = out.getvalue()
                if isinstance(data, str):
                    data = data.encode()
                ctype = {
                    "csv": "text/csv",
                    "json": "application/json",
                    "xlsx": "application/vnd.openxmlformats-officedocument"
                    ".spreadsheetml.sheet",
                }[fmt]
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header(
                    "Content-Disposition", f'attachment; filename="{filename}"'
                )
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _adhoc_frame(self, sql: str):
                """The DataFrame of an ad-hoc request's one read-only
                statement, prepared as a dashboard statement is; None
                once a 400 or 403 is answered."""
                statements = [
                    s
                    for s in sqltool.split_sql_queries(
                        sqltool.strip_sql_comments(sql)
                    )
                    if s.strip()
                ]
                if len(statements) != 1:
                    self._json(
                        400, {"error": "exactly one SQL statement required"}
                    )
                    return None
                if not sqltool.is_allowed_statement(statements[0]):
                    self._json(403, {"error": "statement not allowed"})
                    return None
                df, _ = _prepare_query(
                    outer.spark, statements[0].strip(), _VarState(), {}
                )
                return df

            def _sql(self):
                """POST /api/sql: exactly one read-only statement → CSV
                (reference server/web/handler/sql.go:44-76)."""
                body = json.loads(self._read_body() or b"{}")
                df = self._adhoc_frame(str(body.get("sql") or ""))
                if df is None:
                    return None
                buf = io.StringIO()
                stream_csv(df, buf)
                data = buf.getvalue().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/csv")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _ingest(self, table: str):
                """POST /api/data/<table> (reference
                server/web/handler/events.go:27-80): single JSON object or
                array of objects."""
                body = json.loads(self._read_body() or b"{}")
                payloads = body if isinstance(body, list) else [body]
                if not all(isinstance(p, dict) for p in payloads):
                    return self._json(400, {"error": "JSON object(s) required"})
                # one WAL write+fsync for the whole array, not per row
                outer.ingest.publish_many(table, payloads)
                outer.ingest.flush()
                return self._json(200, {"ingested": len(payloads)})

            def _validate(self):
                """POST /api/validate: per-statement gate verdicts."""
                body = json.loads(self._read_body() or b"{}")
                sql = str(body.get("sql") or "")
                kind = str(body.get("type") or "dashboard")
                try:
                    statements = sqltool.split_sql_queries(
                        sqltool.strip_sql_comments(sql)
                    )
                except Exception as e:
                    return self._json(200, {"valid": False, "error": str(e)})
                gate = (
                    sqltool.is_allowed_task_statement
                    if kind == "task"
                    else sqltool.is_allowed_statement
                )
                bad = [
                    i + 1
                    for i, s in enumerate(statements)
                    if s.strip() and not gate(s)
                ]
                return self._json(200, {"valid": not bad, "invalidStatements": bad})

            def _jwt_variables(self, did: str):
                """(variables, error_sent): merge JWT claim variables
                over the server defaults (claims written at token-mint
                time, web/handler/auth.go:212-220) and enforce the
                dashboardId scope of embed tokens.  Scope mismatch
                answers with the SAME 404 body as a missing dashboard
                — and callers run this check BEFORE the existence
                lookup — so a scoped token probing other ids cannot
                distinguish private dashboards from absent ones (the
                reference's GetDashboard rejects the claim mismatch
                uniformly before any lookup, dashboard.go:329-334)."""
                claims = getattr(self, "_jwt_claims", None) or {}
                scope = claims.get("dashboardId")
                if scope and scope != did:
                    self._json(404, {"error": f"no dashboard {did}"})
                    return None, True
                merged = dict(outer.variables)
                merged.update(claims.get("variables") or {})
                return merged, False

            def _dashboard(self, did: str, url):
                variables, err = self._jwt_variables(did)
                if err:
                    return
                content = outer._dashboard_content(did)
                if content is None:
                    return self._json(404, {"error": f"no dashboard {did}"})
                params = {
                    k: v if len(v) > 1 else v[0]
                    for k, v in parse_qs(url.query).items()
                }
                result = query_dashboard(
                    outer.spark,
                    content,
                    params=params,
                    variables=variables,
                    dashboard_id=did,
                )
                return self._json(200, result.to_dict())

            def _download(self, did: str, filename: str, url):
                jwt_vars, err = self._jwt_variables(did)
                if err:
                    return
                params = {
                    k: v if len(v) > 1 else v[0]
                    for k, v in parse_qs(url.query).items()
                }
                mode = params.pop("mode", "default")
                if mode == "url":
                    # keyed TTL download link (reference
                    # dashboard.go:617-661 + the DownloadsKv TTL
                    # bucket, main.go): mint an unguessable token,
                    # persist the download intent — dashboard, params,
                    # and the CALLER's JWT-scoped variables — in the
                    # shared metastore KV with an expiry, and hand
                    # back a URL a browser can GET with no auth
                    # headers (navigations can't set Authorization)
                    import secrets as _secrets

                    token = _secrets.token_hex(32)
                    intent = {
                        "did": did,
                        "filename": filename,
                        "params": params,
                        "variables": jwt_vars,
                        "exp": time.time() + outer.downloads_ttl,
                    }
                    outer.store.config_put(
                        "download:" + token, json.dumps(intent)
                    )
                    outer.sweep_download_keys()
                    return self._json(
                        200,
                        {"url": f"/api/download/{token}/{filename}"},
                    )
                return self._stream_export(
                    did, filename, params, jwt_vars
                )

            def _download_by_key(self, key: str, filename: str):
                """GET /api/download/:key/:filename — NO auth
                (routes.go:198): the short-lived key IS the
                credential; missing, expired, or filename-mismatched
                keys answer one uniform 404."""
                raw = outer.store.config_get("download:" + key)
                intent = None
                if raw:
                    try:
                        intent = json.loads(raw)
                    except ValueError:
                        intent = None
                if (
                    not intent
                    or intent.get("exp", 0) < time.time()
                    or intent.get("filename") != filename
                ):
                    return self._json(
                        404,
                        {"error": "Download not found or expired"},
                    )
                return self._stream_export(
                    intent["did"],
                    filename,
                    dict(intent.get("params") or {}),
                    intent.get("variables") or {},
                )

            def _stream_export(
                self,
                did: str,
                filename: str,
                params: dict,
                jwt_vars: dict,
            ):
                content = outer._dashboard_content(did)
                if content is None:
                    return self._json(404, {"error": f"no dashboard {did}"})
                fmt = filename.rsplit(".", 1)[-1].lower()
                if fmt in ("pdf", "html", "png"):
                    # Reference renders PDFs by driving headless Chrome
                    # over the dashboard URL (server/pdf/pdf.go:33-133).
                    # No browser exists in this build, so DOWNLOAD_PDF
                    # serves REAL application/pdf bytes from the pure-
                    # stdlib writer (pdfreport.py: vector charts,
                    # tables, reference header/footer template with
                    # true page counters); ``.png`` rasterizes the same
                    # tree to a real image/png snapshot (pngreport.py,
                    # mirroring StreamDashboardPng); ``.html`` keeps
                    # the printable HTML variant (htmlreport.py).
                    result = query_dashboard(
                        outer.spark,
                        content,
                        params=params,
                        variables=jwt_vars,
                        dashboard_id=did,
                    )
                    stem = filename.rsplit(".", 1)[0] or "dashboard"
                    if fmt == "pdf":
                        from .pdfreport import render_dashboard_pdf

                        body = render_dashboard_pdf(
                            result.to_dict(), title=stem
                        )
                        ctype = "application/pdf"
                        disp = f'inline; filename="{stem}.pdf"'
                    elif fmt == "png":
                        from .pngreport import render_dashboard_png

                        body = render_dashboard_png(
                            result.to_dict(), title=stem
                        )
                        ctype = "image/png"
                        disp = f'inline; filename="{stem}.png"'
                    else:
                        from .htmlreport import render_dashboard_html

                        body = render_dashboard_html(
                            result.to_dict(), title=stem
                        ).encode()
                        ctype = "text/html; charset=utf-8"
                        disp = f'inline; filename="{stem}.html"'
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Disposition", disp)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return None
                if fmt not in ("csv", "json", "xlsx"):
                    return self._json(400, {"error": f"unsupported format {fmt}"})
                qid = int(params.pop("query_id", -1))
                if fmt == "xlsx":
                    out: Any = io.BytesIO()
                else:
                    out = io.StringIO()
                stream_dashboard_export(
                    outer.spark,
                    content,
                    fmt,
                    out,
                    query_id=qid,
                    params=params,
                    variables=jwt_vars,
                )
                data = out.getvalue()
                if isinstance(data, str):
                    data = data.encode()
                ctype = {
                    "csv": "text/csv",
                    "json": "application/json",
                    "xlsx": "application/vnd.openxmlformats-officedocument"
                    ".spreadsheetml.sheet",
                }[fmt]
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header(
                    "Content-Disposition", f'attachment; filename="{filename}"'
                )
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None
        self._flusher_thread: threading.Thread | None = None
        # Restart recovery: stored tasks re-arm their schedules
        # (reference re-derives schedules on boot, schedule_task.go).
        for app in self.store.list_apps("task"):
            try:
                self.scheduler.register(app["id"], app["content"])
            except Exception:
                pass

    def _dashboard_content(self, did: str) -> str | None:
        app = self.store.get_app(did)
        if app is None or app["type"] != "dashboard":
            return None
        return app["content"]

    def sweep_download_keys(self) -> int:
        """Drop expired keyed-download intents from the shared config
        KV (the reference gets this for free from its KV bucket's
        TTL; here each mint opportunistically sweeps).  Returns the
        number removed."""
        removed = 0
        now = time.time()
        try:
            rows = self.store.query(
                "SELECT key, value FROM config_kv"
                " WHERE key LIKE 'download:%'"
            )
        except Exception:
            return 0
        for row in rows:
            try:
                exp = float(json.loads(row["value"]).get("exp", 0))
            except (ValueError, TypeError):
                exp = 0.0
            if exp < now:
                self.store.config_delete(row["key"])
                removed += 1
        return removed

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "ShaperServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        if self.db_path:
            # multi-instance deployment (shared metastore): announce our
            # address so peers push task results instead of waiting out
            # the poll interval (the NATS-publish half of the transport)
            addr = self._server.server_address
            self.scheduler.enable_push(f"http://{addr[0]}:{addr[1]}")
        # Background flusher mirrors the reference's 2s batch timeout.
        def flush_loop():
            while not self._flusher_stop.wait(self.ingest.batch_timeout_s):
                try:
                    self.ingest.maybe_flush()
                except Exception:
                    pass

        self._flusher_thread = threading.Thread(target=flush_loop, daemon=True)
        self._flusher_thread.start()
        return self

    def stop(self) -> None:
        self._flusher_stop.set()
        self.scheduler.shutdown()
        self._server.shutdown()
        if self._thread:
            self._thread.join(timeout=5)
        if self._flusher_thread:
            # Drain an in-flight background flush: its insertInto shares
            # the table's _temporary staging dir with any writer that
            # starts after stop() returns; committing concurrently rips
            # that dir out from under the later write.
            self._flusher_thread.join(timeout=30)
        # release the WAL segment lock so the next instance on this
        # directory adopts anything left unacked
        self.ingest.close()
        if self.db_path:
            from . import plancache

            plancache.remove_probe(self.db_path)
        self.store.close()
