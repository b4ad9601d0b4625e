"""Pages-table sources + the checkpoint-resume extraction job
(SURVEY.md §2.1).

The production design targets an Iceberg table (``MERGE INTO ... WHEN
NOT MATCHED THEN INSERT`` keyed on url — S5); the sink here is the
snapshot table of ``sources/icetable.py``, with the SAME merge
semantics: anti-join against the current snapshot's urls before
compute, one atomic commit after. A re-run processes only urls absent
from the table, so re-runs are idempotent — no duplicates, no loss.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import icetable

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
# footer stats the sink's manifest keeps: url prunes the MERGE, warc_ts
# serves time-scoped scans
TABLE_STAT_COLS = ["url", "warc_ts"]


def pages_from_pandas(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pdf, schema=PAGES_SCHEMA_DDL)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Iceberg stand-in: ``spark.read.format("iceberg").load(tbl)`` in
    production; parquet directory here. Partition/file pruning and
    column pruning are native either way."""
    return spark.read.parquet(path)


def write_pages(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def resume_filter(
    pages: DataFrame,
    spark: SparkSession,
    out_path: str,
    snap_id: int | None = None,
    upsert: bool = False,
) -> DataFrame:
    """S5/S6 checkpoint resume against snapshot ``snap_id`` (default:
    the current one) of the sink table at ``out_path``.

    Insert mode drops every url the snapshot holds (Iceberg MERGE's
    NOT MATCHED branch). Upsert mode (re-crawls, the WHEN MATCHED
    branch) keeps the newest crawl of each url in ``pages`` and drops
    it if the snapshot's row for that url has the same or a newer
    ``warc_ts``, so only strictly newer crawls reach extraction.

    The completed-url side projects only the key columns before the
    join; at 10^12 rows this is a shuffled left-anti hash join on the
    url key — never a broadcast of the big side.
    """
    if upsert:
        newest = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        pages = (
            pages.withColumn("_rn", F.row_number().over(newest))
            .where("_rn = 1")
            .drop("_rn")
        )
    if snap_id is None and icetable.current_snapshot_id(out_path) is None:
        return pages
    done = icetable.read_table(spark, out_path, snap_id=snap_id)
    if not upsert:
        return pages.join(done.select("url"), "url", "left_anti")
    seen = done.select(
        F.col("url").alias("_seen_url"), F.col("warc_ts").alias("_seen_ts")
    )
    return pages.join(
        seen,
        (F.col("url") == F.col("_seen_url"))
        & (F.col("_seen_ts") >= F.col("warc_ts")),
        "left_anti",
    )


def read_pages_binary(
    spark: SparkSession, dir_path: str, glob: str = "*.{pdf,html}"
) -> DataFrame:
    """S1's loose-file mapping (reference ``processor.py:63-71``
    recursive ``*.pdf`` scan): read a directory of raw documents with
    the native binaryFile source and present them in the pages schema
    (``url`` = file path, ``warc_ts`` = modificationTime, ``text`` and
    ``lang`` null — the extractor derives them).

    ``recursiveFileLookup`` mirrors the reference's ``rglob``; listing
    and file pruning stay on the driver/JVM side, payloads are read by
    executors (never collected)."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(dir_path)
    )
    return raw.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


def write_report_csv(extracted: DataFrame, path: str) -> None:
    """S8 CSV report sink (reference ``batch_processor.py:320-362``:
    per-document comparison report ordered by quality desc — O7).
    Scalar projection of the extraction record; a single CSV directory
    written by executors (never collected to the driver)."""
    report = extracted.select(
        "url",
        "branch",
        "ok",
        F.col("quality.score").alias("score"),
        F.col("quality.grade").alias("grade"),
        F.col("quality.status").alias("status"),
        "n_pages",
        "bytes_in",
        "chars_out",
        F.size("errors").alias("n_errors"),
    ).orderBy(F.desc("score"), F.asc("url"))
    report.write.mode("overwrite").option("header", "true").csv(path)


def write_report_html(
    extracted: DataFrame, path: str, top_n: int = 100
) -> None:
    """S8 HTML report sink (reference ``batch_processor.py:339-362``:
    human-readable run summary). Unlike the row-level CSV report this
    is a SUMMARY artifact: one aggregate row plus the ``top_n``
    best/worst documents — the only part of a 10^12-row run a human
    reads, so collecting it to the driver is correct (bounded by
    ``top_n``, never by corpus size). The input is persisted around
    the two driver actions so the (expensive) upstream extraction
    plan executes once, not twice."""
    from html import escape

    extracted = extracted.persist()
    try:
        agg = extracted.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
            F.round(F.avg("quality.score"), 2).alias("avg_score"),
            F.sum("chars_out").alias("chars_out"),
        ).collect()[0]
        rows = (
            extracted.select(
                "url", "branch", F.col("quality.score").alias("score"),
                F.col("quality.grade").alias("grade"),
            )
            .orderBy(F.desc("score"), F.asc("url"))
            .limit(top_n)
            .collect()
        )
    finally:
        extracted.unpersist()

    def esc(s: object) -> str:
        return escape(str(s), quote=False)

    body = "\n".join(
        f"<tr><td>{esc(r.url)}</td><td>{esc(r.branch)}</td>"
        f"<td>{r.score:.1f}</td><td>{esc(r.grade)}</td></tr>"
        for r in rows
    )
    html = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>extraction report</title></head><body>"
        f"<h1>Extraction report</h1>"
        f"<p>docs: {agg.n_docs} ok: {agg.n_ok} "
        f"avg score: {agg.avg_score} chars out: {agg.chars_out}</p>"
        "<table border='1'><tr><th>url</th><th>branch</th>"
        f"<th>score</th><th>grade</th></tr>{body}</table>"
        "</body></html>"
    )
    import pathlib as _pl

    p = _pl.Path(path)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(html, encoding="utf-8")


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame,
    out_path: str,
    metrics_path: str | None = None,
    num_partitions: int = 32,
    upsert: bool = False,
) -> int | None:
    """End-to-end job: resume filter → extract → one commit to the
    snapshot table at ``out_path`` (an append, or with ``upsert`` a
    copy-on-write MERGE on url) → metrics of the rows it added.
    Returns the snapshot id, or None when nothing needed extracting:
    then nothing is committed and ``metrics_path`` is left alone.

    The commit names the snapshot the resume filter read, so a writer
    that committed in between raises :class:`icetable.CommitConflict`
    instead of duplicating urls. This is the body that
    ``scripts/submit_job.py`` and both streaming jobs run.
    """
    from ..plans import pipeline

    parent = icetable.current_snapshot_id(out_path)
    todo = resume_filter(pages, spark, out_path, parent, upsert)
    extracted = pipeline.extract_pages(todo, num_partitions=num_partitions)
    new = icetable.write_data_files(extracted, out_path, TABLE_STAT_COLS)
    if not any(e["n_rows"] for e in new):
        icetable.delete_files(new)
        return None
    if parent is None:
        snap_id = icetable.create_table(new, out_path, TABLE_STAT_COLS)
    elif upsert:
        snap_id = icetable.merge_upsert(
            spark, new, out_path, "url", TABLE_STAT_COLS, parent
        )
    else:
        snap_id = icetable.append(new, out_path, TABLE_STAT_COLS, parent)
    if metrics_path:
        added = spark.read.parquet(*[e["path"] for e in new])
        pipeline.metrics_from_extracted(added).write.mode(
            "overwrite"
        ).parquet(metrics_path)
    return snap_id
