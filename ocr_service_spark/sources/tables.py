"""Registry corpus tables: the one reader of the driver's scale-factor
directory (``<sf_dir>/<name>.parquet``) and the one map of its tables.

``SCHEMAS`` holds each table's schema as a DDL string, column order
and types as Spark infers them from the driver's files (``timestamp_ntz``
for the TPC-H dates and ``events.ts``; every column nullable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
        "p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
        "o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet reader for the registry table ``name`` under ``sf_dir``
    (an Iceberg catalog plugs in here, as in ``pages.read_pages``).

    The schema is declared, so the read starts no job to infer it from
    the files. A column missing from a file reads as null; a stored
    type Spark cannot read as the declared one (a string ``doc_id``)
    fails the scan, while a widening one (an int ``doc_id``) reads."""
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
