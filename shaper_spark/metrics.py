"""Prometheus text-format system metrics — the Spark rebuild of the
reference's ``/metrics`` endpoint (server/web/routes.go:163 registers
``echoprometheus.NewHandler()`` behind API-key auth +
``PermissionReadMetrics``; the gauges themselves come from
server/metrics/metrics.go:13-97, a custom collector over gopsutil).

Same three gauge families, same names and labels, produced with the
stdlib only (no prometheus client, no gopsutil):

* ``system_disk_space_bytes{path="/",type="total|used"}`` —
  ``shutil.disk_usage``
* ``system_memory_bytes{type="total|available|used"}`` —
  ``/proc/meminfo`` (Linux), with an ``os.sysconf`` fallback
* ``system_cpu_usage_percent`` — busy/total delta of ``/proc/stat``
  between calls (gopsutil's ``cpu.Percent(0, false)`` semantics: the
  first call reports usage since boot, later calls since the previous
  call)

Engine families the reference has no counterpart for:

* ``shaper_plancache_{hits,misses,bypasses}_total`` — counters from
  ``plancache.stats()``; ``shaper_plancache_size`` and
  ``shaper_plancache_generation`` (bumps so far) — gauges
* ``shaper_widget_predictions_total`` — statements launched with
  predicted widget variables; ``shaper_widget_mispredictions_total`` —
  of those, the ones assembly dropped (counters)
* ``shaper_statements_in_flight`` — prefetched dashboard statements
  collecting on the engine's shared pool

Exposition follows the Prometheus text format v0.0.4: ``# HELP`` /
``# TYPE`` per family, one sample per line, content type
``text/plain; version=0.0.4; charset=utf-8``.
"""

from __future__ import annotations

import os
import shutil
import threading

__all__ = ["render_prometheus", "CONTENT_TYPE"]

CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"

_cpu_lock = threading.Lock()
_cpu_last: tuple[float, float] | None = None  # (busy, total) jiffies


def _fmt(v: float) -> str:
    """Prometheus sample values: integers without a trailing .0 keeps
    the output byte-stable for scrapers and tests."""
    if float(v).is_integer():
        return str(int(v))
    return repr(float(v))


def _disk_lines(path: str = "/") -> list[str]:
    try:
        usage = shutil.disk_usage(path)
    except OSError:
        return []
    return [
        "# HELP system_disk_space_bytes Available disk space in bytes",
        "# TYPE system_disk_space_bytes gauge",
        f'system_disk_space_bytes{{path="{path}",type="total"}} '
        f"{_fmt(usage.total)}",
        f'system_disk_space_bytes{{path="{path}",type="used"}} '
        f"{_fmt(usage.used)}",
    ]


def _meminfo() -> dict[str, int] | None:
    """Parse /proc/meminfo into bytes; None off-Linux."""
    try:
        out: dict[str, int] = {}
        with open("/proc/meminfo") as f:
            for line in f:
                key, _, rest = line.partition(":")
                fields = rest.split()
                if not fields:
                    continue
                kb = int(fields[0])
                # values are in kB (even when the unit column is absent)
                out[key.strip()] = kb * 1024 if len(fields) > 1 else kb
        return out
    except (OSError, ValueError):
        return None


def _memory_lines() -> list[str]:
    mi = _meminfo()
    if mi is not None and "MemTotal" in mi:
        total = mi["MemTotal"]
        # MemAvailable (3.14+) is the estimate gopsutil uses; fall back
        # to free+buffers+cached on ancient kernels
        available = mi.get(
            "MemAvailable",
            mi.get("MemFree", 0) + mi.get("Buffers", 0) + mi.get("Cached", 0),
        )
        used = max(total - available, 0)
    else:
        try:  # POSIX fallback: page counts
            page = os.sysconf("SC_PAGE_SIZE")
            total = os.sysconf("SC_PHYS_PAGES") * page
            available = os.sysconf("SC_AVPHYS_PAGES") * page
            used = max(total - available, 0)
        except (ValueError, OSError, AttributeError):
            return []
    return [
        "# HELP system_memory_bytes System memory usage in bytes",
        "# TYPE system_memory_bytes gauge",
        f'system_memory_bytes{{type="total"}} {_fmt(total)}',
        f'system_memory_bytes{{type="available"}} {_fmt(available)}',
        f'system_memory_bytes{{type="used"}} {_fmt(used)}',
    ]


def _proc_stat() -> tuple[float, float] | None:
    """(busy, total) jiffies from the aggregate cpu line; None off-Linux."""
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
        if not first or first[0] != "cpu":
            return None
        vals = [float(x) for x in first[1:]]
    except (OSError, ValueError):
        return None
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle + iowait
    total = sum(vals[:8]) if len(vals) >= 8 else sum(vals)
    return (total - idle, total)


def _cpu_lines() -> list[str]:
    global _cpu_last
    cur = _proc_stat()
    if cur is None:
        return []
    with _cpu_lock:
        prev = _cpu_last
        _cpu_last = cur
    if prev is None:
        busy, total = cur  # first call: usage since boot (gopsutil)
    else:
        busy, total = cur[0] - prev[0], cur[1] - prev[1]
    pct = 100.0 * busy / total if total > 0 else 0.0
    pct = min(max(pct, 0.0), 100.0)
    return [
        "# HELP system_cpu_usage_percent Current CPU usage percentage",
        "# TYPE system_cpu_usage_percent gauge",
        f"system_cpu_usage_percent {_fmt(round(pct, 6))}",
    ]


def _engine_lines() -> list[str]:
    from .engine import prediction_stats, statements_in_flight
    from .plancache import stats

    pc = stats()
    lines = []
    for key in ("hits", "misses", "bypasses"):
        name = f"shaper_plancache_{key}_total"
        lines += [
            f"# HELP {name} Analyzed-plan cache {key} since process start",
            f"# TYPE {name} counter",
            f"{name} {pc[key]}",
        ]
    lines += [
        "# HELP shaper_plancache_size Analyzed plans held in the cache",
        "# TYPE shaper_plancache_size gauge",
        f"shaper_plancache_size {pc['size']}",
        "# HELP shaper_plancache_generation Plan-cache flushes (bumps) so far",
        "# TYPE shaper_plancache_generation gauge",
        f"shaper_plancache_generation {pc['generation']}",
    ]
    wp = prediction_stats()
    for key, help_ in (
        ("predictions", "Statements launched with predicted widget variables"),
        ("mispredictions", "Predicted launches dropped at assembly"),
    ):
        name = f"shaper_widget_{key}_total"
        lines += [
            f"# HELP {name} {help_}",
            f"# TYPE {name} counter",
            f"{name} {wp[key]}",
        ]
    return lines + [
        "# HELP shaper_statements_in_flight Dashboard statements collecting "
        "on the shared pool",
        "# TYPE shaper_statements_in_flight gauge",
        f"shaper_statements_in_flight {statements_in_flight()}",
    ]


def render_prometheus() -> bytes:
    """The full exposition body for GET /metrics."""
    lines = _disk_lines() + _memory_lines() + _cpu_lines() + _engine_lines()
    return ("\n".join(lines) + "\n").encode()
