"""StructTypes of the pipeline's input and output tables.

Data model (SURVEY.md §1): the unit of work is one document (= one row
of the ``pages`` table, per BASELINE.json input_hint), and it yields
one row of the result table.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- pages
# Common-Crawl-style input table (BASELINE.json: input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),  # raw payload bytes (PDF span-doc or HTML)
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# -------------------------------------------------------------- outline
OUTLINE_ENTRY = T.StructType(
    [
        T.StructField("level", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("page", T.IntegerType(), False),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("outline", T.ArrayType(OUTLINE_ENTRY), True),
        # byte-identical JSON (json.dumps indent=2 ensure_ascii=False);
        # Spark's to_json cannot render indent=2, so this is produced in
        # the same Arrow stage that computes the outline.
        T.StructField("outline_json", T.StringType(), True),
        # HTML rows: boilerplate-stripped main content (north rule)
        T.StructField("main_text", T.StringType(), True),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("payload_kind", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
    ]
)
