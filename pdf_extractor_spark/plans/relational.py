"""SQL-expressible unbundling of the extraction operators (SURVEY §2).

The byte-identical pipeline runs as one Arrow stage (operators/), but
every relational sub-operator is ALSO expressed as a native DataFrame
plan here, over a deterministic ``blocks`` table derived from the
shared ``documents`` parquet. Each query has a DuckDB oracle (ANSI
SQL) computing the same result — the driver's correctness gate runs
both at sf0.01 and compares row counts, schemas and value hashes.

Determinism contract for the derivation: only integer arithmetic,
exact-in-binary doubles (halves/quarters/integers), and functions with
identical semantics in Spark and DuckDB (substr 1-based, trim of
spaces, length in chars, md5 lowercase hex). Catalyst keeps all of
this in whole-stage codegen — zero Python in any of these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


# --------------------------------------------------------------------
# Deterministic blocks derivation (shared Spark/DuckDB semantics)
# --------------------------------------------------------------------
def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan a testdata table, fanning out single-split files.

    The driver's small parquet files arrive as ONE scan partition (a
    single row group), which would serialize every downstream compute
    stage on local[N]. On a real cluster a 100 TB table scans as
    thousands of splits, so the repartition is skipped there
    (partitions >= defaultParallelism) — this costs nothing at scale
    and makes local parallelism honest.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min(target, 8):
        df = df.repartition(target)
    return df


def derived_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → synthetic per-document block table.

    Mirrors DERIVED_BLOCKS_CTE below EXACTLY — any edit must change both.
    """
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), (F.lit(7) + F.col("doc_id") % 13).cast("int"))).alias(
            "block_idx"
        ),
    )
    h = (F.col("doc_id") * 131 + F.col("block_idx") * 17) % 97
    b = b.withColumn("h", h.cast("bigint"))
    base_text = F.trim(
        F.substring(F.col("text"), (F.col("block_idx") * 23 + 1).cast("int"), (12 + F.col("h") % 19).cast("int"))
    )
    btext = (
        F.when(
            F.col("h") % 13 == 0,
            F.concat(((F.col("block_idx") % 4) + 1).cast("string"), F.lit(". "), base_text),
        )
        .when(
            F.col("h") % 13 == 1,
            F.concat(F.lit("2."), (F.col("block_idx") % 9).cast("string"), F.lit(" "), base_text),
        )
        .otherwise(base_text)
    )
    fs = (
        F.when(F.col("h") % 11 == 0, F.lit(24.0))
        .when(F.col("h") % 7 == 0, F.lit(18.0))
        .when(F.col("h") % 5 == 0, F.lit(14.0))
        .otherwise(F.lit(10.0))
    )
    out = (
        # floor() explicitly: DuckDB rounds on double→int casts, Spark
        # truncates — floor is the only portable semantics
        b.withColumn("page_num", F.floor(F.col("block_idx") / F.lit(5.0)))
        .withColumn("font_size", fs)
        .withColumn("is_bold", (F.col("h") % 3 == 0))
        .withColumn("block_text", btext)
        .withColumn("char_count", F.length("block_text").cast("bigint"))
        .withColumn("x0", (F.col("h") % 4).cast("double") * 40.0 + 36.0)
        .withColumn("y0", (F.col("block_idx") % 5).cast("double") * 120.0 + F.col("h").cast("double"))
        .withColumn("x1", F.col("x0") + F.col("char_count").cast("double") * F.col("font_size") * 0.5)
        .withColumn("y1", F.col("y0") + F.col("font_size") * 1.2)
        .withColumn(
            "numbering",
            F.when(F.col("block_text").rlike(r"^\d+\.\d+"), F.lit("x.y."))
            .when(F.col("block_text").rlike(r"^\d+\."), F.lit("x."))
            .otherwise(F.lit(None).cast("string")),
        )
        .select(
            "doc_id",
            "block_idx",
            "page_num",
            "block_text",
            "char_count",
            "font_size",
            "is_bold",
            "numbering",
            "x0",
            "y0",
            "x1",
            "y1",
        )
    )
    return out


# DuckDB twin of derived_blocks(); {sf} is the parquet dir.
DERIVED_BLOCKS_CTE = """
WITH raw AS (
  SELECT d.doc_id, d.text, s.i::BIGINT AS block_idx,
         ((d.doc_id * 131 + s.i * 17) % 97)::BIGINT AS h
  FROM documents d,
       LATERAL unnest(generate_series(0, 7 + (d.doc_id % 13)::BIGINT)) AS s(i)
),
based AS (
  SELECT *, trim(substr(text, (block_idx * 23 + 1)::INT, (12 + h % 19)::INT)) AS base_text
  FROM raw
),
blocks AS (
  SELECT doc_id, block_idx,
         CAST(floor(block_idx / 5.0) AS BIGINT) AS page_num,
         CASE WHEN h % 13 = 0 THEN CAST((block_idx % 4) + 1 AS VARCHAR) || '. ' || base_text
              WHEN h % 13 = 1 THEN '2.' || CAST(block_idx % 9 AS VARCHAR) || ' ' || base_text
              ELSE base_text END AS block_text,
         CASE WHEN h % 11 = 0 THEN 24.0
              WHEN h % 7 = 0 THEN 18.0
              WHEN h % 5 = 0 THEN 14.0
              ELSE 10.0 END AS font_size,
         (h % 3 = 0) AS is_bold,
         (CAST(h % 4 AS DOUBLE) * 40.0 + 36.0) AS x0,
         (CAST(block_idx % 5 AS DOUBLE) * 120.0 + CAST(h AS DOUBLE)) AS y0,
         h
  FROM based
),
blocks2 AS (
  SELECT doc_id, block_idx, page_num, block_text,
         length(block_text)::BIGINT AS char_count,
         font_size, is_bold, x0, y0,
         x0 + length(block_text)::DOUBLE * font_size * 0.5 AS x1,
         y0 + font_size * 1.2 AS y1,
         CASE WHEN regexp_matches(block_text, '^\\d+\\.\\d+') THEN 'x.y.'
              WHEN regexp_matches(block_text, '^\\d+\\.') THEN 'x.'
              ELSE NULL END AS numbering
  FROM blocks
)
"""


# --------------------------------------------------------------------
# Spark-side helper aggregates used by several queries
# --------------------------------------------------------------------
def _baseline(blocks: DataFrame) -> DataFrame:
    """Per-doc modal font size with first-encountered tie-break (A2)."""
    hist = blocks.groupBy("doc_id", "font_size").agg(
        F.count("*").alias("cnt"), F.min("block_idx").alias("first_idx")
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("first_idx"))
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", F.col("font_size").alias("baseline"))
    )


_BASELINE_SQL = """
baseline AS (
  SELECT doc_id, font_size AS baseline FROM (
    SELECT doc_id, font_size,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, min(block_idx) ASC) AS rn
    FROM blocks2 GROUP BY doc_id, font_size
  ) WHERE rn = 1
)
"""


def _tiers(blocks: DataFrame) -> DataFrame:
    """Per-doc heading tiers (A4) with the A5 outlier trim, as rows
    (doc_id, tier_index, tier_size)."""
    hist = blocks.groupBy("doc_id", "font_size").agg(
        F.count("*").alias("cnt"), F.max("page_num").alias("max_page")
    )
    t = hist.join(_baseline(blocks), "doc_id").filter(
        (F.col("font_size") >= F.col("baseline") * 1.15)
        & ((F.col("cnt") >= 2) | (F.col("font_size") >= F.col("baseline") * 1.5))
        & (F.col("max_page") > 0)
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("font_size"))
    ranked = t.withColumn("rk", F.row_number().over(w))
    firsts = ranked.groupBy("doc_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("font_size"))).alias("s1"),
        F.max(F.when(F.col("rk") == 2, F.col("font_size"))).alias("s2"),
        F.count("*").alias("ntiers"),
    )
    j = ranked.join(firsts, "doc_id")
    trimmed = j.filter(
        F.when(
            (F.col("ntiers") >= 2) & (F.col("s1") > F.col("s2") * 1.3),
            (F.col("rk") >= 2) & (F.col("rk") <= 5),
        ).otherwise(F.col("rk") <= 4)
    )
    drop_first = (F.col("ntiers") >= 2) & (F.col("s1") > F.col("s2") * 1.3)
    return trimmed.select(
        "doc_id",
        (F.col("rk") - F.when(drop_first, 2).otherwise(1)).cast("bigint").alias("tier_index"),
        F.col("font_size").alias("tier_size"),
    )


_TIERS_SQL = """
tier_raw AS (
  SELECT t.doc_id, t.font_size,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY t.font_size DESC) AS rk
  FROM (
    SELECT b.doc_id, b.font_size, count(*) AS cnt, max(b.page_num) AS max_page
    FROM blocks2 b GROUP BY b.doc_id, b.font_size
  ) t JOIN baseline bl ON t.doc_id = bl.doc_id
  WHERE t.font_size >= bl.baseline * 1.15
    AND (t.cnt >= 2 OR t.font_size >= bl.baseline * 1.5)
    AND t.max_page > 0
),
tier_firsts AS (
  SELECT doc_id,
         max(CASE WHEN rk = 1 THEN font_size END) AS s1,
         max(CASE WHEN rk = 2 THEN font_size END) AS s2,
         count(*) AS ntiers
  FROM tier_raw GROUP BY doc_id
),
tiers AS (
  SELECT r.doc_id,
         (r.rk - CASE WHEN f.ntiers >= 2 AND f.s1 > f.s2 * 1.3 THEN 2 ELSE 1 END)::BIGINT AS tier_index,
         r.font_size AS tier_size
  FROM tier_raw r JOIN tier_firsts f ON r.doc_id = f.doc_id
  WHERE CASE WHEN f.ntiers >= 2 AND f.s1 > f.s2 * 1.3
             THEN r.rk BETWEEN 2 AND 5
             ELSE r.rk <= 4 END
)
"""


def scored_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C1-C8 scoring chain as one whole-stage-codegen `when` chain
    (SURVEY §2.7), with per-doc baseline/tiers applied via broadcast
    joins — the reference's doc-scalar application is exactly a
    broadcast hash join of aggregates back onto blocks."""
    blocks = derived_blocks(spark, sf_dir)
    base = _baseline(blocks)
    tiers = _tiers(blocks)
    w = W.partitionBy("doc_id").orderBy("block_idx")
    b = (
        blocks.withColumn("prev_page", F.lag("page_num").over(w))
        .withColumn("prev_y1", F.lag("y1").over(w))
        .withColumn(
            "space_above",
            F.when(F.col("prev_page") == F.col("page_num"), F.col("y0") - F.col("prev_y1")).otherwise(0.0),
        )
        .withColumn(
            "is_centered",
            # literal 122.4 on BOTH sides (computing 612.0*0.2 at
            # runtime could differ in ULPs from the parsed literal)
            F.abs(F.lit(306.0) - (F.col("x0") + F.col("x1")) / 2) < F.lit(122.4),
        )
        .withColumn(
            "is_upper_sql",
            (F.upper("block_text") == F.col("block_text")) & (F.lower("block_text") != F.col("block_text")),
        )
    )
    tier_by_size = tiers.withColumnRenamed("tier_size", "font_size")
    b = b.join(F.broadcast(base), "doc_id").join(
        F.broadcast(tier_by_size), ["doc_id", "font_size"], "left"
    )
    ratio = F.col("font_size") / F.col("baseline")
    score = (
        F.when(F.col("tier_index").isNotNull(), 25 - F.col("tier_index") * 3)
        .when(ratio >= 2.0, 20)
        .when(ratio >= 1.5, 15)
        .when(ratio >= 1.2, 10)
        .when(ratio >= 1.1, 5)
        .otherwise(0)
        + F.when(F.col("is_bold"), F.when(ratio >= 1.3, 12).otherwise(8)).otherwise(0)
        + F.when(F.col("numbering").isNotNull(), 18).otherwise(0)
        + F.when(F.col("is_upper_sql"), 6).otherwise(0)
        + F.when(F.col("space_above") > F.col("baseline") * 1.5, 10).otherwise(0)
        + F.when(F.col("is_centered") & (ratio >= 1.2), 8).otherwise(0)
        + F.when(F.col("char_count") < 4, -8)
        .when(F.col("char_count") <= 50, 2)
        .when(F.col("char_count") > 100, -5)
        .otherwise(0)
        + F.when(F.col("font_size") < F.col("baseline") * 0.95, -8).otherwise(0)
    )
    return b.withColumn("heading_score", score.cast("bigint"))


_SCORED_SQL = """
scored AS (
  SELECT b.*, bl.baseline, t.tier_index,
         (CASE WHEN t.tier_index IS NOT NULL THEN 25 - t.tier_index * 3
               WHEN b.font_size / bl.baseline >= 2.0 THEN 20
               WHEN b.font_size / bl.baseline >= 1.5 THEN 15
               WHEN b.font_size / bl.baseline >= 1.2 THEN 10
               WHEN b.font_size / bl.baseline >= 1.1 THEN 5
               ELSE 0 END
          + CASE WHEN b.is_bold THEN (CASE WHEN b.font_size / bl.baseline >= 1.3 THEN 12 ELSE 8 END) ELSE 0 END
          + CASE WHEN b.numbering IS NOT NULL THEN 18 ELSE 0 END
          + CASE WHEN upper(b.block_text) = b.block_text AND lower(b.block_text) <> b.block_text THEN 6 ELSE 0 END
          + CASE WHEN sa.space_above > bl.baseline * 1.5 THEN 10 ELSE 0 END
          + CASE WHEN abs(306.0 - (b.x0 + b.x1) / 2) < 122.4 AND b.font_size / bl.baseline >= 1.2 THEN 8 ELSE 0 END
          + CASE WHEN b.char_count < 4 THEN -8
                 WHEN b.char_count <= 50 THEN 2
                 WHEN b.char_count > 100 THEN -5 ELSE 0 END
          + CASE WHEN b.font_size < bl.baseline * 0.95 THEN -8 ELSE 0 END
         )::BIGINT AS heading_score
  FROM blocks2 b
  JOIN baseline bl ON b.doc_id = bl.doc_id
  LEFT JOIN tiers t ON b.doc_id = t.doc_id AND b.font_size = t.tier_size
  JOIN (
    SELECT doc_id, block_idx,
           CASE WHEN lag(page_num) OVER w = page_num
                THEN y0 - lag(y1) OVER w ELSE 0.0 END AS space_above
    FROM blocks2 WINDOW w AS (PARTITION BY doc_id ORDER BY block_idx)
  ) sa ON b.doc_id = sa.doc_id AND b.block_idx = sa.block_idx
)
"""


def oracle_prefix() -> str:
    return DERIVED_BLOCKS_CTE + "," + _BASELINE_SQL + "," + _TIERS_SQL + "," + _SCORED_SQL
