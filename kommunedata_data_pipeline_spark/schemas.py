"""Canonical schemas (SURVEY.md §1.3) + star-schema test tables (TESTDATA.md).

The reference keeps dynamic per-scraper dict schemas (e.g. the same record
uses key ``date_str`` in scraper_glostrup.py:197 but ``date`` in
scraper_copenhagen.py:89); the engine promotes everything to fixed
StructTypes so Catalyst can prune/push down.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- canonical pipeline tables (SURVEY §1.3) -------------------------------

# mirrors found_start_urls*.csv (header `Base URL,Start URL`,
# scraper.py:278-298) + derived columns (scraper.py:301-308, 35-40)
MUNICIPALITIES = T.StructType(
    [
        T.StructField("base_url", T.StringType(), False),
        T.StructField("start_url", T.StringType(), False),
        T.StructField("municipality", T.StringType(), True),
        T.StructField("committee", T.StringType(), True),
    ]
)

# the central fact: one meeting row (dict shapes at scraper_glostrup.py:196-200,
# scraper_copenhagen.py:86-91, tuple form scraper_roedovre.py:135)
MEETINGS = T.StructType(
    [
        T.StructField("municipality", T.StringType(), False),
        T.StructField("committee", T.StringType(), False),
        T.StructField("meeting_date", T.DateType(), True),
        T.StructField("doc_type", T.StringType(), True),
        T.StructField("url", T.StringType(), False),
        T.StructField("source_system", T.StringType(), True),
    ]
)

# raw harvest rows before typing (FIXTURES.md B2): order reified as
# (page_no, pos) because Spark does not preserve incidental list order
# (SURVEY §2.6 O3).
LISTINGS_RAW = T.StructType(
    [
        T.StructField("source_system", T.StringType(), True),
        T.StructField("municipality", T.StringType(), False),
        T.StructField("committee", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), True),
        T.StructField("pos", T.IntegerType(), True),
        T.StructField("url", T.StringType(), False),
        T.StructField("raw_date", T.StringType(), True),
        T.StructField("raw_type", T.StringType(), True),
        T.StructField("extra", T.StringType(), True),
    ]
)

# landed-document state — the anti-join right side (scraper.py:210-222;
# key format `YYYY-MM-DD_{muni}_{committee}.pdf` scraper.py:172)
CATALOG = T.StructType(
    [
        T.StructField("doc_key", T.StringType(), False),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("landed_at", T.TimestampType(), True),
    ]
)

# parent-child: agenda items nested under a meeting
# (scraper_copenhagen.py:147-151, scraper_ringkoebing_skjern.py:146-183)
AGENDA_ITEMS = T.StructType(
    [
        T.StructField("meeting_key", T.StringType(), False),
        T.StructField("item_no", T.IntegerType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("content_html", T.StringType(), True),
    ]
)

# document blobs (scraper.py:228-258; sample raw_files_glostrup/*.docx)
DOCUMENT_BLOBS = T.StructType(
    [
        T.StructField("doc_key", T.StringType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("provenance_url", T.StringType(), True),
    ]
)

# --- star-schema test tables (TESTDATA.md / FIXTURES.md A) -----------------
#
# Declared, not inferred: `sources.readers.load_table` hands these to
# the parquet reader, so building a query launches no schema-inference
# job (one ~75 ms footer-reading job per table read otherwise). Each
# equals what Spark infers from the testdata's and perfbench's footers
# (pytest-pinned); a file that disagrees fails its scan naming the
# column (PARQUET_COLUMN_DATA_TYPE_MISMATCH) — it is never silently
# re-typed. Timestamps are MICROS without timezone, i.e. TIMESTAMP_NTZ.


def _nullable(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_I, _L, _D, _S = T.IntegerType(), T.LongType(), T.DoubleType(), T.StringType()
_NTZ = T.TimestampNTZType()

STAR_SCHEMAS: dict[str, T.StructType] = {
    "region": _nullable(("r_regionkey", _I), ("r_name", _S)),
    "nation": _nullable(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "customer": _nullable(
        ("c_custkey", _L),
        ("c_name", _S),
        ("c_nationkey", _I),
        ("c_acctbal", _D),
        ("c_mktsegment", _S),
    ),
    "supplier": _nullable(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _nullable(
        ("p_partkey", _L),
        ("p_name", _S),
        ("p_brand", _S),
        ("p_type", _S),
        ("p_size", _I),
        ("p_retailprice", _D),
    ),
    "orders": _nullable(
        ("o_orderkey", _L),
        ("o_custkey", _L),
        ("o_orderstatus", _S),
        ("o_totalprice", _D),
        ("o_orderdate", _NTZ),
        ("o_orderpriority", _S),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _L),
        ("l_partkey", _L),
        ("l_suppkey", _L),
        ("l_linenumber", _I),
        ("l_quantity", _D),
        ("l_extendedprice", _D),
        ("l_discount", _D),
        ("l_tax", _D),
        ("l_returnflag", _S),
        ("l_linestatus", _S),
        ("l_shipdate", _NTZ),
    ),
    # ts is stored naive (NTZ); load_table and read_events_stream cast
    # it to session-zone TIMESTAMP
    "events": _nullable(
        ("event_id", _L),
        ("ts", _NTZ),
        ("user_id", _L),
        ("event_type", _S),
        ("value", _D),
        ("props", _S),
    ),
    "documents": _nullable(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _nullable(
        ("vec_id", _L), ("embedding", T.ArrayType(T.FloatType(), True)), ("label", _I)
    ),
}

STAR_TABLES = tuple(STAR_SCHEMAS)
