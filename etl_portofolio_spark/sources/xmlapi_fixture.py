"""Deterministic executor-side fetcher for the XML-query API source.

`sources.http_xml` keeps the HTTP boundary pluggable (a ``fetcher``
option naming ``module:function`` importable on executors); this module
is the fixture-backed implementation the oracle-gated registry query
uses.  It plays the SERVER role of the reference's XML API
(`Ingestion Data (XML).py:91-132`): given the ``GenericClientQuery``
body, it answers with the window's rows as a CSV payload — derived
deterministically from the local ``events.parquet``, so a DuckDB oracle
can recompute the expected result exactly.

Everything numeric in the payload is an INTEGER rendered as text
(parsed into the schema's doubles losslessly), so the downstream
aggregation is exact cross-engine.  The fetch runs ON THE EXECUTOR —
one window per input partition — which is precisely the distributed
ingestion shape the reference's driver-pandas loop lacked.
"""

from __future__ import annotations

import re


def fetch_events_csv(url: str, xml_body: str, window_id: str) -> str:
    """Answer one ``GenericClientQuery`` window from events.parquet.

    ``url`` is the parquet path; the [start, end) window comes from the
    XML body.  Response columns map the reference's payload shape onto
    deterministic functions of the event row:
    waktu=ts, appId_String=event_type, clientAddr='u'||user_id,
    serverAddr='s'||(event_id%7), transactions=event_id%100,
    delay=user_id%50, throughput=event_id%1000.
    """
    import pandas as pd
    import pyarrow.parquet as pq

    start = re.search(r"<startTime>(.*?)</startTime>", xml_body).group(1)
    end = re.search(r"<endTime>(.*?)</endTime>", xml_body).group(1)
    lo, hi = pd.Timestamp(start), pd.Timestamp(end)

    # The window predicate is pushed into the parquet read (`filters=`),
    # so the "server" never materializes the whole table per request,
    # and the CSV payload is rendered with vectorized pandas ops. The
    # output is byte-identical to a per-row csv.writer loop: to_csv uses
    # the same csv quoting (QUOTE_MINIMAL) and \r\n line terminator,
    # int64-to-str matches str(int), and dt.strftime equals str(ts)[:19].
    tbl = pq.read_table(
        url,
        columns=["event_id", "ts", "user_id", "event_type"],
        filters=[("ts", ">=", lo), ("ts", "<", hi)],
    )
    df = tbl.to_pandas()
    out = pd.DataFrame(
        {
            "waktu": df["ts"].dt.strftime("%Y-%m-%d %H:%M:%S"),
            "appId_String": df["event_type"],
            "clientAddr": "u" + df["user_id"].astype(str),
            "serverAddr": "s" + (df["event_id"] % 7).astype(str),
            "transactions": df["event_id"] % 100,
            "delay": df["user_id"] % 50,
            "throughput": df["event_id"] % 1000,
        }
    )
    return out.to_csv(index=False, lineterminator="\r\n")
