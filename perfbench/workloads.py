"""The benchmark workloads: seeded inputs, one op at a time, checked outputs.

Each workload is a closed loop with one client: the next op is issued when
the previous one returns. A workload object owns its inputs (generated from
the seed under its work directory), its op sequence and its correctness
check. Ops return the rows they produced; the runner times them.
"""

from __future__ import annotations

import calendar
import hashlib
import math
import os
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from decimal import Decimal

import duckdb
import pyarrow as pa
import pyarrow.csv as pacsv

from perfbench import datagen, fake_api

#: The read-only query mix: a scan-aggregate, a window, the reference's
#: daily pivot (joins), a range and a point lookup through file pruning,
#: and the text operators.
QUERY_MIX = (
    "agg_pricing_summary", "window_top_orders", "flagship_throughput_pivot",
    "zonemap_pruned_scan", "bloom_pruned_lookup", "text_quality",
)
#: Queries whose scan goes through a file-pruning index, by index kind.
PRUNED_LOOKUPS = {
    "zonemap_pruned_scan": "skipping",
    "bloom_pruned_lookup": "bloomindex",
}
STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

TZ_OFFSET_H = 7  # the jobs' ds key is UTC+7 wall-clock


@dataclass
class Op:
    """One call into the system.

    ``run()`` returns the rows produced; with a ``plan`` the call is split
    in two, ``run(plan())``, so plan building and execution time apart.
    ``check()`` runs untimed and returns an error message or None.
    """

    kind: str
    run: object
    check: object = None
    plan: object = None
    result: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    seed: int
    work: str
    inputs: dict = field(default_factory=dict)
    #: untimed rounds over all op kinds between set-up and measurement
    warm_rounds = 0

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Input set-up that needs the session (not part of set-up time)."""

    def kinds(self) -> list[str]:
        """The op kinds, in the order the run visits them."""
        raise NotImplementedError

    def op(self, kind: str, i: int) -> Op:
        """The ``i``-th call of one op kind; call 0 is the set-up call."""
        raise NotImplementedError

    def verify(self) -> list[str]:
        """End-of-run output check; returns error messages."""
        return []

    def close(self) -> None:
        """Release what the inputs hold open."""


def _norm(v):
    """Cell normal form shared by both engines' results."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) with columns sorted by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keys = sorted(
        repr(tuple(_norm(r[i]) for i in order)) for r in rows
    )
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for k in keys:
        h.update(k.encode())
    return len(keys), h.hexdigest()


class QueryMix(Workload):
    """Registry queries over a generated star schema, results collected."""

    SF = 0.01
    # the queries' latencies fall for five rounds after set-up, then hold
    warm_rounds = 5

    def generate(self) -> None:
        sf_dir = os.path.join(self.work, "sf")
        os.makedirs(sf_dir)
        sizes = datagen.dims(sf_dir, self.seed, self.SF)
        sizes.update(datagen.facts(sf_dir, self.seed, self.SF))
        sizes["events"] = datagen.events(
            sf_dir, self.seed, n=int(1_000_000 * self.SF),
            users=max(int(15_000 * self.SF), 10),
        )
        files = [os.path.join(sf_dir, f"{t}.parquet") for t in STAR_TABLES]
        self.sf_dir = sf_dir
        self.inputs = {
            "tables": sizes,
            "digest": datagen.file_digest(files),
        }

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in STAR_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        self.expected = {}
        for name in QUERY_MIX:
            rel = con.execute(oracles[name])
            cols = [d[0] for d in rel.description]
            self.expected[name] = result_digest(cols, rel.fetchall())
        con.close()

    def _op(self, name: str) -> Op:
        def plan():
            return self.queries[name](self.spark, self.sf_dir)

        def run(df) -> int:
            op.result.update(df=df, cols=df.columns, rows=df.collect())
            return len(op.result["rows"])

        def check() -> str | None:
            got = result_digest(op.result["cols"], op.result["rows"])
            want = self.expected[name]
            if got != want:
                return (
                    f"{name}: rows/digest {got[0]}/{got[1][:12]} != "
                    f"oracle {want[0]}/{want[1][:12]}"
                )
            return None

        op = Op(name, run, check, plan)
        return op

    def kinds(self) -> list[str]:
        # a fixed order: a query's latency depends on how warm the JVM is
        # when its turn comes, so its place must not move with the seed
        return list(QUERY_MIX)

    def op(self, kind: str, i: int) -> Op:
        return self._op(kind)


class ReferenceEtl(Workload):
    """The paper's three scheduled jobs through their public entry points."""

    XML_WINDOW_MINUTES = 15  # 4 windows (input partitions) per hourly batch
    XML_ROWS_PER_WINDOW = 360  # 1,440 rows per hourly batch
    JDBC_ROWS_PER_HOUR = 1_800
    JDBC_HOURS = 4
    DAILY_EVENTS_PER_DAY = 11_000  # ~3x the fixtures' event rate
    DAILY_DAYS = 4
    USERS = 1_500
    JDBC_STRIPES = 4
    ALLOW = fake_api.APPS[:8]
    BASE = datetime(2024, 1, 1)  # first window, ds-timezone wall-clock
    # a round is three jobs of 1-5 s each, too long to warm up untimed:
    # the measured rounds start right after set-up, and every run
    # measures the same two unless the jobs get much faster

    def generate(self) -> None:
        sf_dir = os.path.join(self.work, "sf")
        os.makedirs(sf_dir)
        sizes = datagen.dims(sf_dir, self.seed, self.USERS / 150_000)
        sizes["events"] = datagen.events(
            sf_dir, self.seed, n=self.DAILY_EVENTS_PER_DAY * self.DAILY_DAYS,
            users=self.USERS, days=self.DAILY_DAYS,
        )
        base_epoch = calendar.timegm(self.BASE.timetuple()) - TZ_OFFSET_H * 3600
        self.history = datagen.history(
            self.seed, base_epoch, self.JDBC_HOURS, self.JDBC_ROWS_PER_HOUR
        )
        self.sf_dir = sf_dir
        self.url = fake_api.make_url(
            self.seed, self.XML_ROWS_PER_WINDOW, self.XML_WINDOW_MINUTES
        )
        files = [
            os.path.join(sf_dir, f"{t}.parquet")
            for t in ("region", "nation", "customer", "events")
        ]
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, self.history.schema) as w:
            w.write_table(self.history)
        h = hashlib.sha256(datagen.file_digest(files).encode())
        h.update(sink.getvalue().to_pybytes())
        h.update(fake_api.fetch(self.url, "", "2024-01-01 00:00:00").encode())
        sizes["history"] = {
            "rows": self.history.num_rows, "bytes": sink.getvalue().size,
        }
        sizes["xml_api"] = {
            "rows_per_hour": 60 // self.XML_WINDOW_MINUTES * self.XML_ROWS_PER_WINDOW
        }
        self.inputs = {"tables": sizes, "digest": h.hexdigest()}
        self.out = {k: os.path.join(self.work, "out", k) for k in ("xml", "jdbc", "daily")}
        self.log: dict[str, list[int]] = {"xml": [], "jdbc": [], "daily": []}

    def prepare(self, spark) -> None:
        from etl_portofolio_spark.sources.jdbc import JdbcWindowSource

        self.spark = spark
        db = os.path.join(self.work, "derby", "bench")
        self.derby = f"jdbc:derby:{db}"
        # bulk import: one CSV file and one call, no per-row round trips
        csv_path = os.path.join(self.work, "history.csv")
        pacsv.write_csv(
            self.history, csv_path, pacsv.WriteOptions(include_header=False)
        )
        conn = spark._jvm.java.sql.DriverManager.getConnection(f"{self.derby};create=true")
        try:
            st = conn.createStatement()
            st.execute("CREATE TABLE history (ITEMID INT, CLOCK BIGINT, VALUE DOUBLE)")
            st.execute(
                "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
                f"(null, 'HISTORY', '{csv_path}', ',', null, null, 0)"
            )
            st.close()
        finally:
            conn.close()
        self.jdbc_source = JdbcWindowSource(
            url=self.derby, table="history", user="", password="",
            driver="org.apache.derby.jdbc.EmbeddedDriver",
            num_partitions=self.JDBC_STRIPES,
        )
        self.runners = None

    def _runners(self):
        # built lazily so a traced run wraps the flagship plan builder
        if self.runners is None:
            from etl_portofolio_spark.jobs import ingest_jdbc, process_daily

            self.runners = (
                ingest_jdbc.build_runner(self.spark, self.jdbc_source, self.out["jdbc"]),
                process_daily.build_runner(self.spark, self.sf_dir, self.out["daily"]),
            )
        return self.runners

    def _xml(self, i: int) -> Op:
        from etl_portofolio_spark.jobs import ingest_xml

        start = self.BASE + timedelta(hours=i % 24)

        def run() -> int:
            self.log["xml"].append(i % 24)
            return ingest_xml.run(
                self.spark, start, start + timedelta(hours=1), self.out["xml"],
                allowlist=list(self.ALLOW), url=self.url,
                fetcher="perfbench.fake_api:fetch",
                window_minutes=self.XML_WINDOW_MINUTES,
            )

        return Op("xml", run)

    def _jdbc(self, i: int) -> Op:
        h = i % self.JDBC_HOURS
        start = self.BASE + timedelta(hours=h)

        def run() -> int:
            self.log["jdbc"].append(h)
            return self._runners()[0].run_window(start, start + timedelta(hours=1)).rows

        return Op("jdbc", run)

    def _daily(self, i: int) -> Op:
        d = i % self.DAILY_DAYS
        start = datagen.EVENTS_START + timedelta(days=d)

        def run() -> int:
            self.log["daily"].append(d)
            return self._runners()[1].run_window(start, start + timedelta(days=1)).rows

        return Op("daily", run)

    def kinds(self) -> list[str]:
        return ["xml", "jdbc", "daily"]

    def op(self, kind: str, i: int) -> Op:
        return {"xml": self._xml, "jdbc": self._jdbc, "daily": self._daily}[kind](i)

    # -- end-of-run check: per-ds row counts against a DuckDB recount -----

    def _expected_xml(self, con) -> dict[str, int]:
        rows = []
        for k, h in enumerate(self.log["xml"]):
            t = self.BASE + timedelta(hours=h)
            for w in range(0, 60, self.XML_WINDOW_MINUTES):
                wid = (t + timedelta(minutes=w)).strftime("%Y-%m-%d %H:%M:%S")
                rows += [(k, r[0], r[1]) for r in fake_api.window_rows(self.url, wid)]
        tbl = pa.table({
            "op": [r[0] for r in rows], "ts": [r[1] for r in rows],
            "app": [r[2] for r in rows],
        })
        con.register("xml_in", tbl)
        allow = ", ".join(f"'{a}'" for a in self.ALLOW)
        return self._last_write_wins(con, f"""
            SELECT op, strftime(ts + INTERVAL {TZ_OFFSET_H} HOUR, '%Y%m%d') AS ds
            FROM xml_in WHERE app IN ({allow})""")

    def _expected_jdbc(self, con) -> dict[str, int]:
        con.register("history", self.history)
        base = calendar.timegm(self.BASE.timetuple()) - TZ_OFFSET_H * 3600
        ops = pa.table({
            "op": list(range(len(self.log["jdbc"]))), "h": self.log["jdbc"],
        })
        con.register("jdbc_ops", ops)
        return self._last_write_wins(con, f"""
            SELECT o.op, strftime(make_timestamp((CLOCK + {TZ_OFFSET_H * 3600}) * 1000000), '%Y%m%d') AS ds
            FROM history JOIN jdbc_ops o
              ON CLOCK >= {base} + o.h * 3600 AND CLOCK < {base} + (o.h + 1) * 3600""")

    @staticmethod
    def _last_write_wins(con, batches_sql: str) -> dict[str, int]:
        """Each op overwrites the ds partitions it writes: a partition
        holds the rows of the last op that wrote it."""
        return dict(con.execute(f"""
            WITH b AS ({batches_sql}),
                 last AS (SELECT ds, max(op) AS op FROM b GROUP BY ds)
            SELECT ds, count(*) FROM b JOIN last USING (ds, op) GROUP BY ds
        """).fetchall())

    def _expected_daily(self, con) -> dict[str, int]:
        import __spark_entry__ as entry

        for t in ("region", "nation", "customer", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        days = {
            (datagen.EVENTS_START + timedelta(days=d)).strftime("%Y%m%d")
            for d in self.log["daily"]
        }
        counts = dict(con.execute(
            "SELECT ds, count(*) FROM ("
            + entry.oracle_sql()["flagship_throughput_pivot"]
            + ") GROUP BY ds"
        ).fetchall())
        return {ds: n for ds, n in counts.items() if ds in days}

    def verify(self) -> list[str]:
        con = duckdb.connect()
        errors = []
        for kind, expect in (
            ("xml", self._expected_xml(con)),
            ("jdbc", self._expected_jdbc(con)),
            ("daily", self._expected_daily(con)),
        ):
            got = dict(con.execute(
                f"SELECT CAST(ds AS VARCHAR), count(*) FROM read_parquet("
                f"'{self.out[kind]}/**/*.parquet', hive_partitioning = true) "
                "GROUP BY ds"
            ).fetchall()) if os.path.isdir(self.out[kind]) else {}
            if got != expect:
                errors.append(f"{kind}: per-ds rows {sorted(got.items())} != {sorted(expect.items())}")
        con.close()
        return errors

    def close(self) -> None:
        """Shut the embedded database down so its directory can go."""
        try:
            self.spark._jvm.java.sql.DriverManager.getConnection(
                f"{self.derby};shutdown=true"
            )
        except Exception as exc:  # Derby reports a clean shutdown as 08006
            if "08006" not in str(exc):
                raise


WORKLOADS = {"reference_etl": ReferenceEtl, "query_mix": QueryMix}
