"""The pages table layer (BASELINE.json input_hint):
(url string, warc_ts timestamp, html binary, text string, lang string).

* Iceberg is used when a catalog is configured on the session
  (MERGE INTO for op folding); otherwise partitioned parquet with
  union/anti-join folding — same semantics, chosen at runtime, because
  the sandbox has no Iceberg jars.
* ``points_from_pages`` is the extraction stage of the lifecycle
  (SURVEY.md §3.4): html -> (geotag, text) via vectorized pandas UDFs,
  id = xxhash64(url) (deterministic, collision-checked at write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rindex_spark.functions.text import extract_text


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


# the exact pattern of functions.text._GEO_RE — identical Java/Python
# regex semantics for this character-class pattern (no \s, no flags)
_GEO_PATTERN = '<meta name="geo\\.position" content="([^";]+);([^"]+)"'


def points_from_pages(pages: DataFrame, id_col: str = "page_id") -> DataFrame:
    """pages -> (id, x, y): geotag extraction (lon->x, lat->y).

    Uses the stable generator id when present; otherwise derives
    id = xxhash64(url) (stable slot-id analogue, never reused —
    reference arena ids: lib/src/index.rs:24-36).

    r6: the extraction is a JVM ``regexp_extract`` over the decoded
    html instead of the ``extract_geotag`` pandas UDF — the e2e
    pipeline no longer ships the html payload across the Python
    boundary a second time (ArrowEvalPython node gone; guide §4.1:
    built-ins beat UDFs).  Results are identical: both regex engines
    find the same first match for this pattern, and Python float() and
    Spark's string->double cast are both correctly-rounded IEEE
    parses; a missing tag yields "" -> null -> filtered, exactly like
    the UDF's None (byte-parity asserted in tests/test_text.py)."""
    gid = (
        F.col(id_col)
        if id_col in pages.columns
        else F.xxhash64(F.col("url"))
    )
    h = F.col("html").cast("string")
    lat = F.nullif(F.regexp_extract(h, _GEO_PATTERN, 1), F.lit(""))
    lon = F.nullif(F.regexp_extract(h, _GEO_PATTERN, 2), F.lit(""))
    return (
        pages.select(
            gid.alias("id"),
            lon.cast("double").alias("x"),
            lat.cast("double").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    )


def verify_text_invariant(pages: DataFrame) -> int:
    """Count rows where extract_text(html) != stored text.
    Must be 0 (byte-identical invariant)."""
    return pages.filter(extract_text(F.col("html")) != F.col("text")).count()


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# op folding at the TABLE layer: Iceberg MERGE INTO when a catalog is
# configured (the north_star path), parquet union/anti-join fallback
# otherwise (this sandbox has no Iceberg jars — semantics identical).

MERGE_POINTS_SQL = """
MERGE INTO {table} t
USING {updates} u
ON t.id = u.id
WHEN MATCHED AND u.op = 'delete' THEN DELETE
WHEN MATCHED AND u.op = 'insert' THEN UPDATE SET t.x = u.x, t.y = u.y
WHEN NOT MATCHED AND u.op = 'insert' THEN INSERT (id, x, y) VALUES (u.id, u.x, u.y)
"""


def merge_points_table(
    spark: SparkSession,
    table: str,
    inserts: DataFrame,
    delete_ids: DataFrame,
) -> None:
    """Fold an op batch into an Iceberg points table via MERGE INTO.
    Requires an Iceberg catalog on the session (iceberg_available)."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "MERGE INTO requires an Iceberg catalog; use fold_points_parquet"
        )
    updates = (
        inserts.withColumn("op", F.lit("insert"))
        .unionByName(
            delete_ids.select(
                "id", F.lit(None).cast("double").alias("x"),
                F.lit(None).cast("double").alias("y"),
            ).withColumn("op", F.lit("delete"))
        )
    )
    updates.createOrReplaceTempView("_rindex_updates")
    spark.sql(MERGE_POINTS_SQL.format(table=table, updates="_rindex_updates"))


def fold_points_parquet(
    spark: SparkSession,
    path: str,
    inserts: DataFrame,
    delete_ids: DataFrame,
) -> DataFrame:
    """Parquet fallback with MERGE semantics: read -> anti-join deletes
    AND updated ids -> union inserts -> atomic swap write."""
    import os
    import uuid

    cur = spark.read.parquet(path) if os.path.exists(path) else None
    upd_ids = inserts.select("id").unionByName(delete_ids.select("id")).distinct()
    if cur is not None:
        folded = cur.join(upd_ids, "id", "left_anti").unionByName(
            inserts.select("id", "x", "y")
        )
    else:
        folded = inserts.select("id", "x", "y")
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    folded.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        import shutil

        shutil.rmtree(old, ignore_errors=True)
    return spark.read.parquet(path)
