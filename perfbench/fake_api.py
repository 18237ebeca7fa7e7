"""Executor-importable stand-in for the XML query API.

``ingest_xml.run(..., fetcher="perfbench.fake_api:fetch")`` makes every
executor call :func:`fetch` once per 5-minute window. The answer is a pure
function of the request: the ``url`` carries the workload seed, the row
count and the length of a window (``bench://<seed>/<rows>/<minutes>``), the
window id picks the rows.
Timestamps use the API's Java-locale format ``E MMM d HH:mm:ss z yyyy``.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

HEADER = "waktu,appId_String,clientAddr,serverAddr,transactions,delay,throughput"
APPS = tuple(f"app{i}" for i in range(10))
_API_FMT = "%a %b %d %H:%M:%S UTC %Y"


def make_url(seed: int, rows_per_window: int, window_minutes: int) -> str:
    return f"bench://{seed}/{rows_per_window}/{window_minutes}"


def window_rows(url: str, window_id: str) -> list[tuple]:
    """(timestamp, app, client, server, transactions, delay, throughput)."""
    seed, rows, minutes = url.removeprefix("bench://").split("/")
    rnd = random.Random(f"{seed}:{window_id}")
    start = datetime.strptime(window_id, "%Y-%m-%d %H:%M:%S")
    out = []
    for i in range(int(rows)):
        ts = start + timedelta(seconds=rnd.randrange(int(minutes) * 60))
        out.append((
            ts,
            APPS[rnd.randrange(len(APPS))],
            f"10.0.{rnd.randrange(256)}.{rnd.randrange(256)}",
            f"10.1.0.{rnd.randrange(64)}",
            float(rnd.randrange(1, 5000)),
            round(rnd.uniform(0.0, 2.0), 3),
            round(rnd.uniform(0.0, 1e6), 1),
        ))
    return out


def fetch(url: str, xml_body: str, window_id: str) -> str:
    """CSV answer for one window, as the API returns it."""
    lines = [HEADER]
    for ts, app, cli, srv, tx, delay, thr in window_rows(url, window_id):
        lines.append(f"{ts.strftime(_API_FMT)},{app},{cli},{srv},{tx},{delay},{thr}")
    return "\n".join(lines)
