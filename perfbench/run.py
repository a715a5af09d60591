"""Dashboard-serving benchmark: drives a real ShaperServer over HTTP.

    python3 perfbench/run.py --workload render_hot --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The benchmark writes its tables (once per
checkout and scale) and one scratch directory per run under
``perfbench/.build``, starts ``server.py`` as its own process, stores the
dashboards over HTTP, warms up, drives the workload for ``--seconds``, checks
every rendered query against a DuckDB oracle over the same parquet, and
prints one JSON object as its last line: the end-to-end metrics with
``--trace 0``, the per-layer metrics of ``layers.py`` with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import http.client
import itertools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

SCALE = 0.1  # sf0.1, the repository's bench scale
BUILD = os.path.join(HERE, ".build")
STARTUP_TIMEOUT_S = 120
INGEST_ROWS = 50  # rows per ingest batch
WARMUP_CLIENTS = 3

# Load settings of each workload (BENCHMARK.json says why each exists).
# ``clients`` lists, per closed-loop render client, the dashboards it cycles
# through. Before the timed window, ``warmup`` renders run several at a
# time, then every client makes ``warm_renders`` renders beside the writer
# (which meanwhile fills a table of its own). ``ingest_every_s`` is the
# open-loop writer's period (None: no writer).
WORKLOADS = {
    "render_hot": {
        "clients": [W.HOT],
        "warmup": W.hot_warmup,
        "warm_renders": 4,
        "ingest_every_s": None,
    },
    "ingest_mix": {
        # Only the first client renders the temp-view dashboard: two
        # renders of it at once collide on the one shared session (see
        # README.md), and a benchmark workload must run without failures.
        "clients": [W.HOT + (W.LIVE, W.EXPLORER), W.HOT + (W.LIVE,),
                    W.HOT + (W.LIVE,)],
        "warmup": list,
        "warm_renders": 4,
        "ingest_every_s": 2.5,
    },
}
# Warm-up requests come from this fixed seed, not the workload's, so every
# run opens its timed window after the same work.
WARMUP_SEED = 0


class Client:
    """HTTP calls to the server; one connection per request, as the
    server speaks HTTP/1.0."""

    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, body=None, headers=None):
        """(status, body); status 0 when the request got no HTTP answer."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = None if body is None else json.dumps(body).encode()
            hdrs = dict(headers or {})
            if data is not None:
                hdrs["Content-Type"] = "application/json"
            conn.request(method, path, body=data, headers=hdrs)
            resp = conn.getresponse()
            return resp.status, resp.read()
        except (OSError, http.client.HTTPException) as e:
            return 0, repr(e).encode()
        finally:
            conn.close()


class Run:
    """State of one benchmark run: requests made, their timings and outcomes."""

    def __init__(self, client: Client):
        self.client = client
        # the timed window; renders started and batches due in it count
        self.t0 = self.t_end = float("inf")
        self.lock = threading.Lock()
        self.renders: list[dict] = []
        self.batches: list[dict] = []
        self.rows_sent = 0
        self.rows_acked = 0
        self._rid = 0

    def render(self, req: W.Request) -> dict:
        with self.lock:
            self._rid += 1
            rid = self._rid
            acked_before = self.rows_acked
        path = f"/api/dashboards/{req.dashboard.id}"
        if req.params:
            path += "?" + urllib.parse.urlencode(req.params)
        t0 = time.monotonic()
        status, body = self.client.call("GET", path, headers={"X-Render-Id": str(rid)})
        t1 = time.monotonic()
        with self.lock:
            sent_after = self.rows_sent
        rec = {
            "rid": rid, "req": req, "timed": self.t0 <= t0 < self.t_end,
            "start": t0, "end": t1,
            "status": status,
            "tree": json.loads(body) if status == 200 else body[:300],
            "live_bounds": (acked_before, sent_after),
        }
        with self.lock:
            self.renders.append(rec)
        return rec

    def ingest(self, table: str, rows: list[dict], due: float) -> None:
        live = table == W.LIVE_TABLE
        sent = time.monotonic()
        if live:
            with self.lock:
                self.rows_sent += len(rows)
        status, _ = self.client.call("POST", f"/api/data/{table}", body=rows)
        done = time.monotonic()
        with self.lock:
            if live and status == 200:
                self.rows_acked += len(rows)
            self.batches.append(
                {"table": table, "due": due, "sent": sent, "end": done,
                 "status": status, "rows": rows}
            )


def _render_loop(run: Run, requests, count: int | None = None) -> None:
    for req in itertools.islice(requests, count):
        if time.monotonic() >= run.t_end:
            return
        run.render(req)


def _writer_loop(run: Run, rng: random.Random, every: float, table: str,
                 stop: threading.Event) -> None:
    """Open loop: batch k is due k*every after the start whatever the
    server does; a late writer sends at once and the lateness shows in its
    timings. Ends at the window's end or when ``stop`` is set."""
    start = time.monotonic()
    for k in itertools.count():
        due = start + k * every
        if due >= run.t_end or stop.wait(max(0.0, due - time.monotonic())):
            return
        run.ingest(table, W.ingest_batch(rng, k * INGEST_ROWS, INGEST_ROWS), due)


def _phase(run: Run, streams, count, spec, rng, table) -> None:
    """Drive every client (``count`` renders each, or until the window
    ends) beside the writer, if the workload has one."""
    stop = threading.Event()
    clients = [threading.Thread(target=_render_loop, args=(run, s, count))
               for s in streams]
    writer = None
    if spec["ingest_every_s"]:
        writer = threading.Thread(
            target=_writer_loop, args=(run, rng, spec["ingest_every_s"], table, stop)
        )
        writer.start()
    for t in clients:
        t.start()
    for t in clients:
        t.join()
    stop.set()
    if writer is not None:
        writer.join()


# -- server process ----------------------------------------------------------


def _tree_pids(pid: int) -> list[int]:
    pids, todo = [], [pid]
    while todo:
        p = todo.pop()
        pids.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return pids


def _peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over the server and its children."""
    total_kb = 0
    for p in _tree_pids(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


class Server:
    """The serving process; stopped by closing its stdin."""

    def __init__(self, workdir: str, sf_dir: str, live: bool, trace_file: str):
        tmp = os.path.join(workdir, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update({
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # Keep the JVM small on a shared host; also steadies peak RSS.
            "SPARK_GRAFT_DRIVER_MEM": "2g",
        })
        cmd = [sys.executable, os.path.join(HERE, "server.py"),
               "--sf-dir", sf_dir, "--cpus", str(nproc())]
        if live:
            cmd += ["--live-table", W.LIVE_TABLE]
        if trace_file:
            cmd += ["--trace", trace_file]
        self.log_path = os.path.join(workdir, "server.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            cmd, cwd=workdir, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self._log, text=True,
            start_new_session=True,
        )

    def wait_ready(self) -> dict:
        result: dict = {}

        def read():
            line = self.proc.stdout.readline()
            if line:
                result.update(json.loads(line))

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(STARTUP_TIMEOUT_S)
        if "port" not in result:
            raise RuntimeError("server did not start; see " + self.log_path)
        return result

    def stop(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None or _group_alive(self.proc.pid):
            _kill_group(self.proc.pid)
            self.proc.wait(timeout=30)
        self._log.close()

    def log_tail(self, n: int = 40) -> str:
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except OSError:
        return False


def _kill_group(pgid: int) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except OSError:
        pass
    deadline = time.monotonic() + 30
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the host took from this machine between two
    ``_cpu_times()`` readings; it slows every timing of the run."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


# -- the run -------------------------------------------------------------------


def drive(args, sf_dir: str, workdir: str) -> dict:
    spec = WORKLOADS[args.workload]
    trace_file = os.path.join(workdir, "spans.json") if args.trace else ""
    rng = random.Random(args.seed)
    t_spawn = time.monotonic()
    server = Server(workdir, sf_dir, spec["ingest_every_s"] is not None, trace_file)
    try:
        info = server.wait_ready()
        client = Client(info["port"])
        for d in W.ALL_DASHBOARDS:
            status, body = client.call(
                "POST", "/api/dashboards", body={"id": d.id, "content": d.content}
            )
            if status != 200:
                raise RuntimeError(f"storing {d.id}: {status} {body[:200]!r}")
        setup_s = time.monotonic() - t_spawn

        run = Run(client)
        warm_rng = random.Random(WARMUP_SEED)
        # Several renders at a time: the same renders in less wall time
        # than one client would take.
        with concurrent.futures.ThreadPoolExecutor(WARMUP_CLIENTS) as ex:
            list(ex.map(run.render, spec["warmup"]()))
        _phase(run, [W.cycle(random.Random(warm_rng.random()), ds)
                     for ds in spec["clients"]],
               spec["warm_renders"], spec, warm_rng, W.WARM_TABLE)

        streams = [W.cycle(random.Random(rng.random()), ds) for ds in spec["clients"]]
        cpu0 = _cpu_times()
        run.t0 = time.monotonic()
        run.t_end = run.t0 + args.seconds
        _phase(run, streams, None, spec, random.Random(rng.random()), W.LIVE_TABLE)
        steal = steal_share(cpu0, _cpu_times())
        final = run.render(W.Request(W.LIVE, {})) if spec["ingest_every_s"] else None
        t_stop = time.monotonic()
        peak_rss = _peak_rss_mb(server.proc.pid)
    except BaseException:
        server.stop()
        sys.stderr.write(server.log_tail())
        raise
    server.stop()
    phases = {
        "setup": setup_s, "warmup": run.t0 - t_spawn - setup_s,
        "window": t_stop - run.t0, "stop": time.monotonic() - t_stop,
    }
    if server.proc.returncode != 0:
        sys.stderr.write(server.log_tail())

    spans = None
    if args.trace:
        with open(trace_file) as f:
            spans = json.load(f)
    return {
        "info": info, "setup_s": setup_s, "run": run, "phases": phases,
        "steal": steal,
        "peak_rss_mb": peak_rss, "final": final, "spans": spans,
    }


def check(res: dict, sf_dir: str, corrupt: bool) -> tuple[int, int]:
    """(attempted, failed) over every render and ingest batch of the run."""
    import data
    import duckdb

    run: Run = res["run"]
    con = duckdb.connect()
    for t in data.TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    expected: dict = {}

    def oracle(req: W.Request) -> list[list]:
        key = (req.dashboard.id, tuple(sorted(req.params.items())))
        if key not in expected:
            want = [
                [list(r) for r in con.execute(sql).fetchall()]
                for sql in req.dashboard.oracles(req.params)
            ]
            if corrupt:
                for rows in want:
                    if rows:
                        v = rows[0][0]
                        rows[0][0] = v + 1 if isinstance(v, (int, float)) else f"{v}?"
            expected[key] = want
        return expected[key]

    failed = 0
    for r in run.renders:
        ok = r["status"] == 200
        if ok and r["req"].dashboard is W.LIVE:
            ok = _live_ok(r, run, final=r is res["final"])
        elif ok:
            ok = W.queries_match(W.rendered_rows(r["tree"]), oracle(r["req"]))
        r["ok"] = ok
        failed += not ok
    failed += sum(b["status"] != 200 for b in run.batches)
    con.close()
    return len(run.renders) + len(run.batches), failed


def _live_ok(r: dict, run: Run, final: bool) -> bool:
    """The live count lies between the rows acked before the render was
    sent and the rows sent when it returned; after the writer stopped it
    equals the rows acked, per kind as well."""
    got = W.rendered_rows(r["tree"])
    if len(got) != 3:
        return False
    count = got[0][0][0]
    lo, hi = r["live_bounds"]
    if not lo <= count <= hi:
        return False
    if not final:
        return True
    if count != run.rows_acked:
        return False
    per_kind: dict = {}
    for b in run.batches:
        if b["status"] == 200 and b["table"] == W.LIVE_TABLE:
            for row in b["rows"]:
                n, amount, last = per_kind.get(row["kind"], (0, 0.0, -1.0))
                per_kind[row["kind"]] = (
                    n + 1, amount + row["amount"], max(last, row["seq"])
                )
    kinds = sorted(per_kind)
    return W.rows_match(got[1], [[k, per_kind[k][1]] for k in kinds]) and \
        W.rows_match(got[2], [[k, per_kind[k][0], per_kind[k][2]] for k in kinds])


def end_to_end(res: dict) -> dict:
    run: Run = res["run"]
    timed = [r for r in run.renders if r["timed"]]
    lat = [(r["end"] - r["start"]) * 1000 for r in timed]
    span = max(r["end"] for r in timed) - run.t0
    return {
        "setup_s": (res["setup_s"], "s"),
        "render_p50_ms": (statistics.median(lat), "ms"),
        "renders_per_s": (len(timed) / span, "1/s"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE,
                    help="table scale factor (the smoke test uses 0.001)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb every oracle result (the smoke test's "
                         "check that mismatches count as failures)")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the server process is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "shaper_spark")):
        sys.stderr.write(f"no shaper_spark package under {ROOT}\n")
        return 2

    import data

    sf_dir = data.build(os.path.join(BUILD, f"data-sf{args.scale:g}"), args.scale)
    workdir = os.path.join(BUILD, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    try:
        res = drive(args, sf_dir, workdir)
        attempted, failed = check(res, sf_dir, args.corrupt_expected)
        if args.trace:
            import layers

            metrics = layers.per_layer(res, workdir)
        else:
            metrics = end_to_end(res)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps({"env": {
        "workload": args.workload, "seed": args.seed, "nproc": nproc(),
        "defaultParallelism": res["info"]["defaultParallelism"],
        "sf_dir": os.path.relpath(sf_dir, ROOT), "scale": args.scale,
        "spark": res["info"]["spark"], "duckdb": __import__("duckdb").__version__,
        "python": sys.version.split()[0],
        "phase_s": {k: round(v, 1) for k, v in res["phases"].items()},
        "window_cpu_steal": round(res["steal"], 3),
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
