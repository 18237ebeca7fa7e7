"""CLI dispatcher: ``python -m etl_portofolio_spark <job> [args...]``.

One front door for the runnable jobs (each remains independently
invocable as ``python -m etl_portofolio_spark.jobs.<name>``); no args
prints the catalog with one-line descriptions.
"""

from __future__ import annotations

import importlib
import sys

JOBS = {
    "ingest_xml": "XML-API ingestion (5-min fetches, hourly windows, watermark resume)",
    "ingest_jdbc": "JDBC incremental ingestion (hourly stripes, watermark resume)",
    "process_daily": "daily join/pivot processing (the reference's flagship)",
    "curate_corpus": "LLM corpus curation (dedup → gate → split → chunk; --publish WAP)",
    "build_ann_index": "k-means + int8 ANN index build; probe_index serves top-k",
    "maintain_tables": "retention sweep, targeted compaction, zonemap refresh",
    "monitor_feeds": "nightly audit composition (anomaly/integrity/drift/contracts)",
}


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] in ("-h", "--help"):
        print("usage: python -m etl_portofolio_spark <job> [args...]\n\njobs:")
        for name, desc in JOBS.items():
            print(f"  {name:16} {desc}")
        return 0
    job = sys.argv[1]
    if job not in JOBS:
        print(f"unknown job '{job}' — one of: {', '.join(JOBS)}", file=sys.stderr)
        return 2
    mod = importlib.import_module(f"etl_portofolio_spark.jobs.{job}")
    sys.argv = [f"etl_portofolio_spark.jobs.{job}", *sys.argv[2:]]
    return mod.main() or 0


if __name__ == "__main__":
    raise SystemExit(main())
