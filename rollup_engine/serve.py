"""Query layer over the rollup tiers — answering the reference's
questions WITHOUT re-reading raw data.

The reference's one query shape is "aggregate of the trailing N
minutes", recomputed from raw logs every run (cron) or every scrape
(Prometheus, /root/reference/src/http_handler/mod.rs:16-29).  Here the
minute tier IS the cache: a trailing-window result is a merge of the
in-window minute buckets' mergeable state — O(minutes), independent of
raw volume.

Granularity contract: the reference filters raw pairs at exact
timestamps; serving from the minute tier quantizes the window edge to
bucket boundaries (≤59 s slack on a minute tier).  ``exact_edge=True``
additionally re-rolls the single partial edge bucket from raw turns —
still only one bucket of raw data.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import sqltext
from .hist_rollup import hist_cascade
from .render import RollupResult


def trailing_result(
    minute_tier: DataFrame,
    now: dt.datetime | str,
    minutes: int,
    raw_turns: DataFrame | None = None,
) -> RollupResult:
    """Merge the minute buckets inside [now − minutes, now] into one
    reference-shaped result (count=0 + absent blocks when empty).

    With ``raw_turns`` given, the window edge is EXACT: the cutoff
    bucket (where the window boundary cuts through a minute) is
    re-rolled from raw turns restricted to [cutoff, bucket_end) — one
    bucket of raw data, everything else still served from the tier.
    """
    merged = trailing_merge(minute_tier, now, minutes, raw_turns).collect()
    if not merged:
        return RollupResult(count=0)
    return RollupResult.from_row(merged[0])


def trailing_merge(
    minute_tier: DataFrame,
    now: dt.datetime | str,
    minutes: int,
    raw_turns: DataFrame | None = None,
) -> DataFrame:
    """The lazy plan behind ``trailing_result``: at most one tier-shaped
    row, the merge of every in-window bucket."""
    now_ts = _timestamp(now)
    cutoff = f"{now_ts} - INTERVAL {int(minutes)} MINUTES"
    edge_bucket = f"date_trunc('minute', {cutoff})"
    in_window = minute_tier.where(
        f"bucket_start >= {edge_bucket} AND bucket_start <= {now_ts}"
    )
    if raw_turns is not None:
        from .deltas import with_deltas
        from .hist_rollup import hist_rollup
        from .transcripts import clean

        # drop the (possibly partial) edge bucket from the tier merge…
        in_window = in_window.where(f"bucket_start > {edge_bucket}")
        # …and rebuild exactly its in-window part from raw turns
        edge_rows = with_deltas(clean(raw_turns)).where(
            f"ts >= {cutoff} AND date_trunc('minute', ts) = {edge_bucket}"
        )
        edge_rollup = hist_rollup(edge_rows, "minute")
        in_window = in_window.unionByName(edge_rollup)
    # collapse every in-window bucket onto one key, then same-tier
    # cascade = merge-all (associative state merge).  The key is a fixed
    # constant, not ``now``: Spark writes timestamp literals into the
    # generated Java, so a ``now`` key would give every stage of the
    # merge new code each minute; this way only the window filter does.
    # The result never reads ``bucket_start``.
    #
    # One key means the merge's distinct-count window exchange already
    # sends the whole window to one task, and ``write_tiers`` writes a
    # tier as one file, one scan task.  ``coalesce(1)`` (after the edge
    # union, so both branches land in the same task) makes that
    # explicit: a single partition satisfies every aggregate's and
    # window's distribution, the plan has no exchange, and the collect
    # is one Spark job, not one per query stage.  The merge is
    # order-free, so it is exact.
    one_key = in_window.coalesce(1).withColumn(
        "bucket_start", F.expr("timestamp_seconds(0)")
    )
    return hist_cascade(one_key, "minute")


def _timestamp(now: dt.datetime | str) -> str:
    """``now`` as a SQL timestamp expression, the instant ``F.lit(now)``
    would give: a naive datetime is local wall time, a string is cast
    in the session time zone.  Both fold to one literal."""
    if isinstance(now, dt.datetime):
        return f"timestamp_micros({T.TimestampType().toInternal(now)})"
    return f"CAST({sqltext.string(now)} AS TIMESTAMP)"


def serve_prometheus(
    compute_result, address: str = "127.0.0.1", port: int = 0
):
    """Prometheus pull endpoint (the reference's entry point 2,
    /root/reference/src/http_handler/mod.rs:15-40) — but each scrape
    reads the rollup tier instead of re-running the whole pipeline.

    ``compute_result``: zero-arg callable returning a RollupResult.
    Returns the started HTTPServer (daemon thread); ``.server_address``
    carries the bound port.
    """
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from .render import prometheus_exposition

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API)
            body = prometheus_exposition(compute_result()).encode()
            self.send_response(200)
            self.send_header(
                "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet
            pass

    server = HTTPServer((address, port), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
