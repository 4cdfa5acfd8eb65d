"""Sinks — the reference's renderer fan-out (S5–S9, SURVEY.md §2.1)
re-expressed over rollup rows.

Formats are byte-compatible with the reference so downstream dashboards
keep working (each builder cites the Rust source it mirrors and the
golden test that pins it).  The engine-native sink is the rollup table
itself; these renderers are cheap formatters over one (or many) rows,
fanned out after a single compute pass — unlike the reference, which
re-runs the whole pipeline per Prometheus scrape
(/root/reference/src/http_handler/mod.rs:16-29).
"""

from __future__ import annotations

import socket
import urllib.request
from dataclasses import dataclass


@dataclass
class RollupResult:
    """The reference's result shape (/root/reference/src/result/mod.rs:3-8):
    count always present; timing/error blocks optional."""

    count: int
    max: int | None = None
    min: int | None = None
    avg: int | None = None
    median: int | None = None
    percentile90: int | None = None
    percentile99: int | None = None
    client_error_4xx: float | None = None
    server_error_5xx: float | None = None

    @property
    def has_timing(self) -> bool:
        return self.max is not None

    @property
    def has_error(self) -> bool:
        return self.client_error_4xx is not None

    @classmethod
    def from_row(cls, row) -> "RollupResult":
        return cls(
            count=row["turn_count"],
            max=row["lat_max_ms"],
            min=row["lat_min_ms"],
            avg=row["lat_avg_ms"],
            median=row["lat_p50_ms"],
            percentile90=row["lat_p90_ms"],
            percentile99=row["lat_p99_ms"],
            client_error_4xx=row["err4xx_rate"],
            server_error_5xx=row["err5xx_rate"],
        )


def _rate(v: float) -> str:
    """Rust's ``{}`` float formatting: no trailing zeros, '0' for 0.0."""
    return f"{v:g}"


def terminal_lines(r: RollupResult) -> list[str]:
    """`key:\\tvalue` lines (/root/reference/src/render/terminal.rs:17-48)."""
    out = [f"count:\t{r.count}"]
    if r.has_timing:
        out += [
            f"time.avg:\t{r.avg}",
            f"time.min:\t{r.min}",
            f"time.median:\t{r.median}",
            f"time.90percent:\t{r.percentile90}",
            f"time.99percent:\t{r.percentile99}",
            f"time.max:\t{r.max}",
        ]
    if r.has_error:
        out += [
            f"error.client_error_4xx_rate:\t{_rate(r.client_error_4xx)}",
            f"error.server_error_5xx_rate:\t{_rate(r.server_error_5xx)}",
        ]
    return out


def graphite_lines(
    r: RollupResult, epoch_seconds: int, prefix: str | None = None
) -> list[str]:
    """`[prefix.]requests.<key> <value> <ts>` lines
    (/root/reference/src/render/graphite.rs:27-83); one shared timestamp
    per run, injected by the caller (parameterized, never wall-clock)."""
    p = f"{prefix}." if prefix else ""

    def line(key: str, value) -> str:
        return f"{p}{key} {value} {epoch_seconds}"

    out = [line("requests.count", r.count)]
    if r.has_timing:
        out += [
            line("requests.time.max", r.max),
            line("requests.time.min", r.min),
            line("requests.time.avg", r.avg),
            line("requests.time.median", r.median),
            line("requests.time.90percent", r.percentile90),
            line("requests.time.99percent", r.percentile99),
        ]
    if r.has_error:
        out += [
            line("requests.error.client_error_4xx_rate", _rate(r.client_error_4xx)),
            line("requests.error.server_error_5xx_rate", _rate(r.server_error_5xx)),
        ]
    return out


def influxdb_body(r: RollupResult, tags: str | None = None) -> str:
    """Line-protocol body (/root/reference/src/render/influxdb.rs:36-81):
    `request_log[,tags] count=N[,time_…][,…_rate=…]`, absent field
    groups skipped."""
    t = f",{tags}" if tags else ""
    timing = (
        f",time_max={r.max},time_min={r.min},time_avg={r.avg},"
        f"time_median={r.median},time_90percent={r.percentile90},"
        f"time_99percent={r.percentile99}"
        if r.has_timing
        else ""
    )
    err = (
        f",client_error_4xx_rate={_rate(r.client_error_4xx)},"
        f"server_error_5xx_rate={_rate(r.server_error_5xx)}"
        if r.has_error
        else ""
    )
    return f"request_log{t} count={r.count}{timing}{err}"


_PROM_GAUGES = [
    ("request_count", "count"),
    ("request_error_client_error_4xx_rate", "client_error_4xx"),
    ("request_error_server_error_5xx_rate", "server_error_5xx"),
    ("request_time_avg", "avg"),
    ("request_time_max", "max"),
    ("request_time_median", "median"),
    ("request_time_min", "min"),
    ("request_time_percentile90", "percentile90"),
    ("request_time_percentile99", "percentile99"),
]


def prometheus_exposition(r: RollupResult) -> str:
    """Text exposition of the 9 gauges
    (/root/reference/src/render/prometheus.rs:21-100), names sorted as
    the Rust TextEncoder emits them; unset gauges read 0."""
    chunks = []
    for name, attr in sorted(_PROM_GAUGES):
        v = getattr(r, attr)
        v = 0 if v is None else v
        chunks.append(
            f"# HELP {name} The {name} of responses.\n"
            f"# TYPE {name} gauge\n"
            f"{name} {_rate(float(v))}\n"
        )
    return "".join(chunks)


# ------------------------------------------------------------ transports


class GraphiteSink:
    def __init__(self, host: str, port: int, prefix: str | None = None):
        self.host, self.port, self.prefix = host, port, prefix

    def send(self, r: RollupResult, epoch_seconds: int) -> None:
        payload = (
            "\n".join(graphite_lines(r, epoch_seconds, self.prefix)) + "\n"
        ).encode()
        with socket.create_connection((self.host, self.port), timeout=10) as s:
            s.sendall(payload)


class InfluxDbSink:
    def __init__(self, write_url: str, tags: str | None = None):
        self.write_url, self.tags = write_url, tags

    def post(self, r: RollupResult) -> None:
        req = urllib.request.Request(
            self.write_url, data=influxdb_body(r, self.tags).encode(), method="POST"
        )
        with urllib.request.urlopen(req, timeout=10) as resp:
            if not (200 <= resp.status < 300):
                raise RuntimeError(f"InfluxDB POST failed: {resp.status}")
