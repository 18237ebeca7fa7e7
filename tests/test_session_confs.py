"""Session configuration is decided in one place.

``session.apply_runtime_confs`` sets RUNTIME_CONFS once per session, at
``build_session`` or at the first registry dispatch; plan builders never
touch session confs, no module outside ``session.py`` and ``plans/``
sets one, and no engine module grows an env-var switch.
"""

from __future__ import annotations

import ast
import os

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENGINE = os.path.join(_REPO, "etl_portofolio_spark")

#: Every env var the engine may read, by module. The jobs' entries are
#: the reference scripts' connection settings (`os.getenv` in the
#: reference), not engine behaviour switches; `PYTHONPATH` and
#: `SPARK_HOME` are where Spark's Python workers look for code.
_ALLOWED_ENV = {
    "session.py": {"SPARK_GRAFT_CPUS", "PYTHONPATH"},
    "worker_daemon.py": {"SPARK_HOME"},
    "catalog.py": {"SPARK_GRAFT_SF_DIR"},
    "jobs/ingest_xml.py": {"api_url", "api_user", "api_password", "api_verify_tls"},
    "jobs/ingest_jdbc.py": {"ip", "port", "database", "user", "password"},
}


def _env_reads(tree: ast.AST) -> list[str | None]:
    """Names read via os.getenv / os.environ.get / os.environ[...];
    None for a read whose name is not a string literal."""

    def name(node: ast.AST) -> str | None:
        return node.value if isinstance(node, ast.Constant) and isinstance(node.value, str) else None

    def is_environ(node: ast.AST) -> bool:
        return getattr(node, "attr", getattr(node, "id", None)) == "environ"

    out: list[str | None] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            is_getenv = f.attr == "getenv"
            is_environ_get = f.attr == "get" and is_environ(f.value)
            if is_getenv or is_environ_get:
                out.append(name(node.args[0]) if node.args else None)
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            out.append(name(node.slice))
    return out


def test_no_env_switches_and_no_per_builder_confs():
    bad = []
    for dirpath, _dirs, files in os.walk(_ENGINE):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, _ENGINE).replace(os.sep, "/")
            src = open(path, encoding="utf-8").read()
            allowed = _ALLOWED_ENV.get(rel, set())
            bad += [f"{rel}: env {v!r}" for v in _env_reads(ast.parse(src)) if v not in allowed]
            if rel.startswith("plans/") and "apply_runtime_confs(" in src:
                bad.append(f"{rel}: apply_runtime_confs( in a plan builder module")
            # jobs, sinks and operators carry what they need as write
            # options or expressions; a session conf set there leaks
            if rel != "session.py" and not rel.startswith("plans/") and "conf.set(" in src:
                bad.append(f"{rel}: conf.set( outside session.py and plans/")
    assert not bad, bad


def test_registry_dispatch_keeps_caller_conf(spark):
    """A conf the caller changes after build_session stays changed
    through registry dispatch: with AQE turned off, a registry query
    must run without an AdaptiveSparkPlan."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = entrymod.queries()["flagship_throughput_pivot"](spark, SF_DIR)
        df.collect()
        assert spark.conf.get(key) == "false"
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan, plan[:2000]
    finally:
        spark.conf.set(key, old)
