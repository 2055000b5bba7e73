"""Explicit StructType constants — the engine never infers schemas.

The reference declares row shapes as TypedDicts mirrored by hand-written
SQL column lists (reference ``processor/main.py:53-87`` vs ``:99-130``,
``:185-205`` vs ``:210-229``); here they are Spark StructTypes.

Two groups:
  1. The reference's ZTBus window and result rows — used by the
     algorithm registry and golden tests.
  2. The driver corpus tables under /root/testdata/sf*/ — used by the
     correctness-gated query catalog.
"""

from __future__ import annotations

from collections.abc import Mapping
from types import MappingProxyType

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = False) -> T.StructField:
    return T.StructField(name, dtype, nullable)


# --------------------------------------------------------------------------
# 1. ZTBus model (reference windows.py:7-37 + processor/main.py:326-337
#    for window events).
# --------------------------------------------------------------------------

# Window event stream element (reference simulator/main.py:104-112,
# processor/main.py:326-337,356-369; FIXTURES.md A4).
WINDOW_EVENT = T.StructType(
    [
        _f("time_from", T.TimestampType()),
        _f("time_to", T.TimestampType()),
        _f("name", T.StringType()),
        _f("version", T.StringType()),
        _f("origin", T.StringType()),
        _f("metadata", T.MapType(T.StringType(), T.LongType()), True),
    ]
)

# Algorithm result row (reference processor/main.py:371,466-470,506-514;
# FIXTURES.md A5).
RESULT = T.StructType(
    [
        _f("window", WINDOW_EVENT),
        _f("algorithm", T.StringType()),
        _f("version", T.StringType()),
        _f("value", T.DoubleType(), True),
        _f("payload", T.MapType(T.StringType(), T.DoubleType(), True), True),
    ]
)

# --------------------------------------------------------------------------
# 2. Driver corpus tables (TESTDATA.md; verified against the parquet
#    footers at /root/testdata/sf0.001).
# --------------------------------------------------------------------------

REGION = T.StructType([_f("r_regionkey", T.IntegerType()), _f("r_name", T.StringType())])

NATION = T.StructType(
    [
        _f("n_nationkey", T.IntegerType()),
        _f("n_name", T.StringType()),
        _f("n_regionkey", T.IntegerType()),
    ]
)

CUSTOMER = T.StructType(
    [
        _f("c_custkey", T.LongType()),
        _f("c_name", T.StringType()),
        _f("c_nationkey", T.IntegerType()),
        _f("c_acctbal", T.DoubleType()),
        _f("c_mktsegment", T.StringType()),
    ]
)

SUPPLIER = T.StructType(
    [
        _f("s_suppkey", T.LongType()),
        _f("s_name", T.StringType()),
        _f("s_nationkey", T.IntegerType()),
        _f("s_acctbal", T.DoubleType()),
    ]
)

PART = T.StructType(
    [
        _f("p_partkey", T.LongType()),
        _f("p_name", T.StringType()),
        _f("p_brand", T.StringType()),
        _f("p_type", T.StringType()),
        _f("p_size", T.IntegerType()),
        _f("p_retailprice", T.DoubleType()),
    ]
)

ORDERS = T.StructType(
    [
        _f("o_orderkey", T.LongType()),
        _f("o_custkey", T.LongType()),
        _f("o_orderstatus", T.StringType()),
        _f("o_totalprice", T.DoubleType()),
        _f("o_orderdate", T.TimestampType()),
        _f("o_orderpriority", T.StringType()),
    ]
)

LINEITEM = T.StructType(
    [
        _f("l_orderkey", T.LongType()),
        _f("l_partkey", T.LongType()),
        _f("l_suppkey", T.LongType()),
        _f("l_linenumber", T.IntegerType()),
        _f("l_quantity", T.DoubleType()),
        _f("l_extendedprice", T.DoubleType()),
        _f("l_discount", T.DoubleType()),
        _f("l_tax", T.DoubleType()),
        _f("l_returnflag", T.StringType()),
        _f("l_linestatus", T.StringType()),
        _f("l_shipdate", T.TimestampType()),
    ]
)

EVENTS = T.StructType(
    [
        _f("event_id", T.LongType()),
        _f("ts", T.TimestampType()),
        _f("user_id", T.LongType()),
        _f("event_type", T.StringType()),
        _f("value", T.DoubleType()),
        _f("props", T.StringType()),
    ]
)

DOCUMENTS = T.StructType(
    [
        _f("doc_id", T.LongType()),
        _f("text", T.StringType()),
        _f("lang", T.StringType()),
        _f("source", T.StringType()),
        _f("n_chars", T.LongType()),
    ]
)

EMBEDDINGS = T.StructType(
    [
        _f("vec_id", T.LongType()),
        _f("embedding", T.ArrayType(T.FloatType(), True)),
        _f("label", T.IntegerType()),
    ]
)

CORPUS_TABLES: Mapping[str, T.StructType] = MappingProxyType({
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
})
