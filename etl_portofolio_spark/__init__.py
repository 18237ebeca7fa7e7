"""etl_portofolio_spark — a Spark-first analytics engine.

A brand-new PySpark-native engine with the query and data-processing
capabilities of the reference ETL portfolio (see SURVEY.md):

- partitioned-parquet relational data model with string ``ds`` day keys,
- incremental micro-batch ingestion (JDBC / HTTP-API sources),
- join + regex-feature-extraction + direction-pivot processing,
- plus large-scale training-data-pipeline extensions (dedup, similarity
  search, text analysis, multimodal column plumbing).

Design: operators are thin functions that build DataFrame plans; Catalyst
is the optimizer and Tungsten the execution engine. There is no custom IR.

The public names resolve on first use (PEP 562), so importing a
submodule that needs no PySpark (``worker_daemon``, which runs before
the workers' first PySpark import) does not import it.
"""

from importlib import import_module

#: public name -> the submodule defining it
_EXPORTS = {
    "build_session": "session",
    "register_tables": "catalog",
    "TABLES": "catalog",
    "release_cached": "caching",
}

__all__ = list(_EXPORTS)
__version__ = "0.1.0"


def __getattr__(name: str):
    if name in _EXPORTS:
        return getattr(import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
