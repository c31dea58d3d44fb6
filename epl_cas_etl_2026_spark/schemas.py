"""Explicit schemas.

Two families:

* ``TESTDATA_SCHEMAS`` — the driver's TPC-H-ish parquet tables
  (TESTDATA.md / FIXTURES.md §B). Parquet is self-describing, so these
  exist for validation + documentation, and so ETL-style code can build
  empty frames.

* Reference-domain schemas reconstructed from query usage in the
  reference (SURVEY.md §1.2; there is no DDL in the reference beyond
  one ALTER TABLE at app.py:130-132). Used by the ETL pipeline tests
  and fixtures.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# Driver testdata (FIXTURES.md §B)
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TESTDATA_TABLES: tuple[str, ...] = tuple(TESTDATA_SCHEMAS)

# --------------------------------------------------------------------------
# Reference-domain schemas (SURVEY.md §1.2; FIXTURES.md §A)
# --------------------------------------------------------------------------

PERIODOS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("codigo", T.StringType()),
        T.StructField("nombre", T.StringType()),
        T.StructField("fecha_inicio", T.DateType()),
        T.StructField("fecha_fin", T.DateType()),
        T.StructField("activo", T.BooleanType()),
    ]
)

SUCURSALES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("nombre", T.StringType()),
        T.StructField("numero", T.StringType()),
        T.StructField("estado", T.StringType()),
        T.StructField("ciudad", T.StringType()),
        T.StructField("grupo_operativo_id", T.IntegerType()),
        T.StructField("activo", T.BooleanType()),
        T.StructField("clasificacion", T.StringType()),
        T.StructField("latitud", T.DoubleType()),
        T.StructField("longitud", T.DoubleType()),
        T.StructField("zenput_location_id", T.StringType()),
    ]
)

CATALOGO_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("codigo", T.StringType()),
        T.StructField("nombre", T.StringType()),
        T.StructField("numero", T.IntegerType()),
    ]
)

#: formulario -> the column its detail rows name their catalog item by:
#: the reference's supervision_areas.area_id and seguridad_kpis.kpi_id
#: (SURVEY.md §1.2). The sync writes it and the dashboard joins on it.
DETAIL_FK = {"operativas": "area_id", "seguridad": "kpi_id"}

# Zenput submission (in-flight nested JSON — reference etl_sync.py:141-158,
# 206-224): answers[] is an array of {field_type, title, value} structs.
ZENPUT_ANSWER_SCHEMA = T.StructType(
    [
        T.StructField("field_type", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

ZENPUT_SUBMISSION_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField(
            "smetadata",
            T.StructType(
                [
                    T.StructField(
                        "location",
                        T.StructType([T.StructField("id", T.StringType())]),
                    ),
                    T.StructField(
                        "created_by",
                        T.StructType([T.StructField("display_name", T.StringType())]),
                    ),
                    T.StructField("date_submitted", T.StringType()),
                    T.StructField("lat", T.DoubleType()),
                    T.StructField("lon", T.DoubleType()),
                ]
            ),
        ),
        T.StructField("answers", T.ArrayType(ZENPUT_ANSWER_SCHEMA)),
    ]
)

SYNC_CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("formulario", T.StringType()),
        T.StructField("ultima_fecha", T.TimestampType()),
    ]
)

SYNC_LOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("workflow", T.StringType()),
        T.StructField("inicio", T.TimestampType()),
        T.StructField("fin", T.TimestampType()),
        T.StructField("registros_nuevos", T.IntegerType()),
        T.StructField("estado", T.StringType()),
    ]
)
