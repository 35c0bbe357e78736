"""S4 + M4: intermediary-table materialization contract.

The reference overwrites ``intermediary_table`` in a SQLite file per
stage-1 query so stage-2 chart queries and follow-ups never re-scan
the base table (openai/list_of_tools.py:152, langchain/my_toolkit.py:
67-71), and echoes {schema, first 5 rows} to the caller.

Spark realization: cached temp view (in-memory columnar, shared by
every follow-up query in the session) with an optional durable Parquet
overwrite for cross-session parity. The LangChain variant's hard-coded
column alias list (my_toolkit.py:32,59) becomes an explicit, optional
rename map — silently mislabeling columns is a bug we do not port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_pengadaan_agent_spark.sources.catalog import schema_head_echo

INTERMEDIARY_VIEW = "intermediary_table"

# view name -> the cached frame the view points to; holding the frame
# itself lets a re-point unpersist exactly that cache entry (a lookup
# through spark.table misses a stage-1 query that read the view itself)
_cached_views: dict[str, DataFrame] = {}


def materialize(
    df: DataFrame,
    view_name: str = INTERMEDIARY_VIEW,
    rename: dict[str, str] | None = None,
    durable_path: str | None = None,
    echo_rows: int = 5,
) -> dict:
    """Overwrite the result cache with ``df`` and return the schema +
    first-rows echo (M4). ``rename`` applies explicit column aliases
    (the reference's English-alias behavior, made opt-in)."""
    if rename:
        for old, new in rename.items():
            df = df.withColumnRenamed(old, new)
    df = df.cache()
    df.createOrReplaceTempView(view_name)
    previous = _cached_views.get(view_name)
    _cached_views[view_name] = df
    if (
        previous is not None
        and previous.sparkSession is df.sparkSession
        and not previous.sameSemantics(df)  # a retry shares its cache entry
    ):
        # a new result that read the old view recomputes through lineage
        previous.unpersist()
    if durable_path:
        df.write.mode("overwrite").parquet(durable_path)
    return schema_head_echo(df, echo_rows)


def read_intermediary(spark: SparkSession, view_name: str = INTERMEDIARY_VIEW) -> DataFrame:
    """S2: stage-2 scan over the materialized result cache."""
    return spark.table(view_name)


def drop_intermediary(spark: SparkSession, view_name: str = INTERMEDIARY_VIEW) -> None:
    previous = _cached_views.pop(view_name, None)
    if previous is not None and previous.sparkSession is spark:
        previous.unpersist()
    spark.catalog.dropTempView(view_name)
