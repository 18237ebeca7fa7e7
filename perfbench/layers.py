"""Per-layer metrics from one traced replay of the measured ops.

Every metric is emitted on every workload; a layer a workload never reaches
reads 0 there (e.g. ``sources.jdbc.read_s`` on ``query_mix``). Times are
means per call unless the name says otherwise; engine counters are means
per op. LAYER_METRICS maps each metric to the end-to-end metric and
workload it should move.
"""

from __future__ import annotations

import statistics
import time

from perfbench.trace import COUNTERS

#: metric -> (end-to-end metric it should move, workload)
LAYER_METRICS = {
    "session.build_s": ("setup_s", "all"),
    "fixtures.ensure_s": ("setup_s", "query_mix"),
    "catalog.load_table_s": ("op_p50_geomean_s", "reference_etl (daily), query_mix"),
    "catalog.load_table_calls": ("op_p50_geomean_s", "reference_etl (daily), query_mix"),
    "plans.build_s": ("op_p50_geomean_s, rows_per_s", "query_mix; reference_etl (daily)"),
    "plans.exec_s": ("op_p50_geomean_s, rows_per_s", "query_mix"),
    "plans.jobs_per_op": ("op_p50_geomean_s", "all"),
    "plans.rows_examined_per_row_returned": ("op_p50_geomean_s", "query_mix"),
    "plans.shuffle_bytes": ("op_p50_geomean_s, rows_per_s", "query_mix"),
    "sources.http_xml.read_s": ("op_p50_geomean_s", "reference_etl (xml)"),
    "sources.jdbc.read_s": ("op_p50_geomean_s", "reference_etl (jdbc)"),
    "sources.skipping.files_read_per_lookup": ("op_p50_geomean_s", "query_mix"),
    "sources.bloomindex.files_read_per_lookup": ("op_p50_geomean_s", "query_mix"),
    "streaming.incremental.window_s": ("op_p50_geomean_s, rows_per_s", "reference_etl"),
    "streaming.incremental.jobs_per_window": ("op_p50_geomean_s", "reference_etl"),
    "streaming.incremental.nonempty_ratio": ("rows_per_s", "reference_etl"),
    "sinks.writer.write_s": ("op_p50_geomean_s, rows_per_s", "reference_etl"),
    "sinks.writer.jobs_per_write": ("op_p50_geomean_s", "reference_etl"),
    "sinks.writer.files_written": ("op_p50_geomean_s", "reference_etl"),
    "sinks.writer.bytes_written": ("rows_per_s", "reference_etl"),
    "sinks.writer.rows_per_file": ("rows_per_s", "reference_etl"),
    "sinks.writer.bytes_per_row": ("rows_per_s", "reference_etl"),
    "operators.text.quality_s": ("op_p50_geomean_s", "query_mix"),
    "caching.live_entries": ("process.peak_rss_mb", "all"),
    "process.peak_rss_mb": ("none (driver Python plus JVM VmHWM)", "all"),
    "jobs.ingest_xml.batch_p50_s": ("op_p50_geomean_s", "reference_etl"),
    "jobs.ingest_jdbc.window_p50_s": ("op_p50_geomean_s", "reference_etl"),
    "jobs.process_daily.window_p50_s": ("op_p50_geomean_s, rows_per_s", "reference_etl"),
    **{f"engine.{c}_per_op": ("op_p50_geomean_s", "all") for c in COUNTERS},
    "tracing.overhead_s": ("none (traced minus untraced wall time)", "all"),
    "tracing.self_s": ("none (time inside the tracer's bookkeeping)", "all"),
    "tracing.ops": ("none (ops replayed traced)", "all"),
}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _peak_rss_mb(spark) -> float:
    """Peak resident set of this process plus the driver JVM."""
    total = 0
    for pid in ("self", str(spark._jvm.ProcessHandle.current().pid())):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _probe(fn, reps: int = 3) -> float:
    """Median wall time of a standalone source read, forced to a noop sink."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _source_probes(wl) -> dict[str, float]:
    if wl.name != "reference_etl":
        return {"sources.http_xml.read_s": 0.0, "sources.jdbc.read_s": 0.0}
    from datetime import timedelta

    from etl_portofolio_spark.sources.http_xml import TIME_FMT, register_xml_api

    spark, start = wl.spark, wl.BASE
    end = start + timedelta(hours=1)
    register_xml_api(spark)

    def xml():
        return (
            spark.read.format("xmlapi")
            .option("url", wl.url).option("fetcher", "perfbench.fake_api:fetch")
            .option("starttime", start.strftime(TIME_FMT))
            .option("endtime", end.strftime(TIME_FMT))
            .option("windowminutes", str(wl.XML_WINDOW_MINUTES))
            .load()
        )

    return {
        "sources.http_xml.read_s": _probe(xml),
        "sources.jdbc.read_s": _probe(lambda: wl.jdbc_source.read_window(spark, start, end)),
    }


def _lookup_files(traced) -> dict[str, float]:
    from perfbench.workloads import PRUNED_LOOKUPS

    per_kind: dict[str, list[int]] = {"skipping": [], "bloomindex": []}
    for op, _, _ in traced:
        kind = PRUNED_LOOKUPS.get(op.kind)
        if kind:
            per_kind[kind].append(len(op.result["df"].inputFiles()))
    return {
        f"sources.{k}.files_read_per_lookup": _mean(v) for k, v in per_kind.items()
    }


def summarize(runner, warm, tracer, done, traced, session_s) -> dict[str, float]:
    wl = runner.wl
    n = max(len(traced), 1)
    spans = {}
    for s in tracer.spans:
        spans.setdefault(s.name, []).append(s)
    top = [s for s in tracer.spans if s.parent is None]

    def times(name):
        return [s.seconds for s in spans.get(name, [])]

    def attr(name, key):
        return [s.attrs[key] for s in spans.get(name, [])]

    writes = spans.get("sinks.writer.write", [])
    write_files = sum(s.attrs.get("files", 0) for s in writes)
    out_rows = sum(attr("sinks.writer.write", "output_records"))
    out_bytes = sum(attr("sinks.writer.write", "output_bytes"))
    windows = [s for s in top if s.name in ("op.jdbc", "op.daily")]
    plan_builds = times("plans.build") + times("plans.flagship_build")
    replayed = {id(d[0]) for d in traced}

    def op_lat(kind, src):
        return [d[1] for d in src if d[0].kind == kind]

    m = {
        "session.build_s": session_s,
        "fixtures.ensure_s": sum(s.seconds for s in warm.spans if s.name == "fixtures.ensure"),
        "catalog.load_table_s": sum(times("catalog.load_table")) / n,
        "catalog.load_table_calls": len(times("catalog.load_table")) / n,
        "plans.build_s": _mean(plan_builds),
        "plans.exec_s": _mean(times("plans.exec")),
        "plans.jobs_per_op": _mean(s.attrs["jobs"] for s in top),
        "plans.rows_examined_per_row_returned": sum(
            s.attrs["input_records"] for s in top
        ) / max(sum(s.attrs["rows"] for s in top), 1),
        "plans.shuffle_bytes": _mean(s.attrs["shuffle_write_bytes"] for s in top),
        **_source_probes(wl),
        **_lookup_files(traced),
        "streaming.incremental.window_s": _mean(times("streaming.incremental.window")),
        "streaming.incremental.jobs_per_window": _mean(
            attr("streaming.incremental.window", "jobs")
        ),
        "streaming.incremental.nonempty_ratio": _mean(
            1.0 if s.attrs["rows"] > 0 else 0.0 for s in windows
        ),
        "sinks.writer.write_s": _mean(s.seconds for s in writes),
        "sinks.writer.jobs_per_write": _mean(s.attrs["jobs"] for s in writes),
        "sinks.writer.files_written": write_files / max(len(writes), 1),
        "sinks.writer.bytes_written": out_bytes / max(len(writes), 1),
        "sinks.writer.rows_per_file": out_rows / max(write_files, 1),
        "sinks.writer.bytes_per_row": out_bytes / max(out_rows, 1),
        "operators.text.quality_s": _mean(op_lat("text_quality", traced)),
        "caching.live_entries": max((s.attrs["live_cache"] for s in top), default=0),
        "process.peak_rss_mb": _peak_rss_mb(runner.spark),
        "jobs.ingest_xml.batch_p50_s": _median(op_lat("xml", done)),
        "jobs.ingest_jdbc.window_p50_s": _median(op_lat("jdbc", done)),
        "jobs.process_daily.window_p50_s": _median(op_lat("daily", done)),
        **{
            f"engine.{c}_per_op": _mean(s.attrs[c] for s in top) for c in COUNTERS
        },
        "tracing.overhead_s": sum(d[1] for d in traced)
        - sum(d[1] for d in done if id(d[0]) in replayed),
        "tracing.self_s": tracer.self_s,
        "tracing.ops": len(traced),
    }
    if set(m) != set(LAYER_METRICS):
        raise RuntimeError(f"undeclared layer metrics: {set(m) ^ set(LAYER_METRICS)}")
    return m
