"""Explicit schemas, in two families.

1. The driver's star-schema testdata (``/root/testdata/sf*/*.parquet``).
   Nothing reads ``STAR_SCHEMAS``: ``sources.catalog`` reads each
   file's own schema, and the files hold ``timestamp_ntz`` where these
   declare ``TimestampType`` (``tests/test_testdata_contract.py``).
2. The reference pipeline's tables (hospital ETL).  The reference
   declares fixed DDL for its four Postgres tables
   (``design_table_schema.ipynb`` cells 0-3) and relies on pandas
   inference for CSV ingest (``load_hhs.py:46``).  Here the CSV readers
   cast to the ingest schema, and ``ParquetStore.read`` reads the store
   tables with ``STORE_SCHEMAS``, which ``tests/test_pipeline.py`` pins
   to the schemas Spark infers from a loader-written store.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Star-schema testdata (TESTDATA.md)
# ---------------------------------------------------------------------------

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

STAR_SCHEMAS: dict[str, T.StructType] = {
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

# ---------------------------------------------------------------------------
# Reference pipeline tables (healthcare ETL; SURVEY.md §1.2)
# ---------------------------------------------------------------------------

# The 8 bed-metric columns whose negativity invalidates a row
# (reference: load_hhs.py:104-127, operator F1).
HHS_BED_METRIC_COLS = (
    "all_adult_hospital_beds_7_day_avg",
    "all_pediatric_inpatient_beds_7_day_avg",
    "all_adult_hospital_inpatient_bed_occupied_7_day_coverage",
    "all_pediatric_inpatient_bed_occupied_7_day_avg",
    "total_icu_beds_7_day_avg",
    "icu_beds_used_7_day_avg",
    "inpatient_beds_used_covid_7_day_avg",
    "staffed_icu_adult_patients_confirmed_covid_7_day_avg",
)

# Ingest schema: the 17 columns the pipeline consumes out of the raw
# 127-column HHS weekly CSV (reference: load_hhs.py:76-77,90-91,129-137).
# Extra CSV columns are simply not selected — Catalyst prunes them at scan.
HHS_CONSUMED_SCHEMA = T.StructType(
    [
        T.StructField("hospital_pk", T.StringType(), False),
        T.StructField("collection_week", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("hospital_name", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("zip", T.StringType()),
        T.StructField("fips_code", T.StringType()),
        T.StructField("geocoded_hospital_address", T.StringType()),
    ]
    + [T.StructField(c, T.DoubleType()) for c in HHS_BED_METRIC_COLS]
)

# CMS quality CSV: loader keeps 5 of 38 columns, ingests all-as-string
# (reference: load_quality.py:98-99), coerces after.
CMS_CONSUMED_COLS = (
    "Facility ID",
    "Hospital Type",
    "Hospital Ownership",
    "Emergency Services",
    "Hospital overall rating",
)

# Target (storage-side) schemas — the reference's 4-table DDL
# (design_table_schema.ipynb cells 0-3) minus SERIAL surrogates, which
# Spark does not need (natural keys suffice; SURVEY.md §1.3).
HOSPITALS_SCHEMA = T.StructType(
    [
        T.StructField("hospital_pk", T.StringType(), False),
        T.StructField("hospital_name", T.StringType(), False),
    ]
)

HOSPITAL_LOCATIONS_SCHEMA = T.StructType(
    [
        T.StructField("hospital_fk", T.StringType(), False),
        T.StructField("state", T.StringType()),
        T.StructField("address", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("zip", T.StringType()),
        T.StructField("fips_code", T.StringType()),
        T.StructField("geocoded_hospital_address", T.StringType()),
        # Parsed from the WKT POINT at load time (operators/cleaning.py
        # parse_wkt_point); the reference stores only the raw string
        # (load_hhs.py:90-91) and can never filter on coordinates.
        T.StructField("longitude", T.DoubleType()),
        T.StructField("latitude", T.DoubleType()),
    ]
)

HOSPITAL_BEDS_SCHEMA = T.StructType(
    [
        T.StructField("hospital_fk", T.StringType(), False),
        T.StructField("collection_week", T.DateType()),
    ]
    + [T.StructField(c, T.DoubleType()) for c in HHS_BED_METRIC_COLS]
)

HOSPITAL_QUALITY_SCHEMA = T.StructType(
    [
        T.StructField("facility_id", T.StringType(), False),
        T.StructField("hospital_overall_rating", T.DoubleType()),
        T.StructField("emergency_services", T.BooleanType()),
        T.StructField("hospital_type", T.StringType()),
        T.StructField("hospital_ownership", T.StringType()),
        T.StructField("data_date", T.DateType()),
    ]
)

# The tables ParquetStore reads with a declared schema.
STORE_SCHEMAS: dict[str, T.StructType] = {
    "hospitals": HOSPITALS_SCHEMA,
    "hospital_locations": HOSPITAL_LOCATIONS_SCHEMA,
    "hospital_beds": HOSPITAL_BEDS_SCHEMA,
    "hospital_quality": HOSPITAL_QUALITY_SCHEMA,
}
