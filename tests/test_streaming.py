"""Structured Streaming mode: batch/stream equivalence.

The engine's streaming surface (edgar_spark/streaming/pipeline.py) must agree
with its batch surface on closed inputs — same windowed aggregates, same
sessions, same parsed facts — since both run the identical definitions.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def events(spark):
    return spark.read.parquet(f"{SF_SMOKE}/events.parquet")


def _canon(df):
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)]
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_windowed_agg_stream_equals_batch(spark, events, tmp_path):
    from edgar_spark.streaming.pipeline import windowed_event_agg

    batch = windowed_event_agg(events, window="1 hour", watermark=None)

    src_dir = str(tmp_path / "src")
    events.write.parquet(src_dir)  # file-stream sources read directories
    src = spark.readStream.schema(events.schema).parquet(src_dir)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        windowed_event_agg(src, window="1 hour", watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out_dir)

    # append mode only emits windows the final watermark closed; every emitted
    # window must match batch exactly, and all but the watermark tail must emit
    b, s = _canon(batch), _canon(streamed)
    assert len(s) > 0
    merged = s.merge(b, how="left", indicator=True)
    assert (merged["_merge"] == "both").all(), "streamed window disagrees with batch"
    closed = b[b["window_end"] < s["window_end"].max()]
    assert len(s) >= len(closed)


def test_sessionize_stream_equals_batch(spark, events, tmp_path):
    from edgar_spark.streaming.pipeline import sessionize_batch, sessionize_stream

    gap = 30
    batch = sessionize_batch(events, gap_minutes=gap)

    # stage the events as a file-stream source dir, then a second drop of
    # far-future sentinel events (dummy user) to advance the watermark past
    # every real session's timeout so stateful timeouts flush them all
    src_dir = str(tmp_path / "src")
    events.write.parquet(src_dir)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(10**9, max_ts, -1, "sentinel", 0.0, "{}")],
        schema=events.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 30 DAYS"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src_dir)
        q = (
            sessionize_stream(stream, gap_minutes=gap, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    sentinel.write.mode("append").parquet(src_dir)
    run_once()  # resumes from checkpoint; watermark jump fires all timeouts

    streamed = spark.read.parquet(out_dir).filter(F.col("user_id") != 10**9)
    b, s = _canon(batch), _canon(streamed)
    assert len(s) == len(b), (len(s), len(b))
    assert (s.values == b.values).all()


def test_stream_pages_ingest_equals_batch(spark, tmp_path):
    from edgar_spark.operators.udfs import facts_of, marker_ok, parse_pages
    from edgar_spark.streaming.pipeline import (
        PAGES_STREAM_SCHEMA,
        stream_pages_ingest,
    )
    from edgar_spark.synth.corpus import build_pages

    pages = build_pages(spark, 2, n_filings=2)
    ctx = pages.select(
        "url",
        "warc_ts",
        "html",
        "text",
        "lang",
        F.when(F.col("url").rlike(r"/R\d+\.htm$"), "report")
        .otherwise("other")
        .alias("kind"),
        F.regexp_extract("url", r"data/(\d+)/", 1).alias("cik"),
        F.lit("T").alias("ticker"),
        F.lit("10-K").alias("filing_type"),
        F.lit("2023-01-01").alias("filing_date"),
        F.regexp_extract("url", r"data/\d+/(\d+)/", 1).alias("accession"),
        F.lit("Ops").alias("doc_type"),
    )
    src_dir = str(tmp_path / "pages")
    ctx.select(*[f.name for f in PAGES_STREAM_SCHEMA.fields]).write.parquet(src_dir)

    out_dir, ckpt = str(tmp_path / "facts"), str(tmp_path / "ckpt")
    stream_pages_ingest(spark, src_dir, out_dir, ckpt, max_files_per_trigger=2)
    streamed = spark.read.parquet(out_dir)

    batch = facts_of(
        parse_pages(
            ctx.filter(marker_ok()).select(
                "*", F.lit(0).alias("seed_seq"), F.lit(0).alias("type_seq")
            )
        )
    )
    b, s = _canon(batch), _canon(streamed)
    assert len(b) > 0
    assert len(s) == len(b)
    assert (s.values == b.values).all()
    shutil.rmtree(src_dir, ignore_errors=True)


def test_exact_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming exact dedup (complete mode over a bounded file stream)
    converges to exactly the batch operator's output."""
    from edgar_spark.operators.dedup import exact_dedup
    from edgar_spark.streaming.pipeline import streaming_exact_dedup

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c"), (5, "b"), (6, "a")],
        ["doc_id", "text"],
    )
    batch = {
        (r["doc_id"], r["n_copies"]) for r in exact_dedup(docs).collect()
    }

    src_dir = str(tmp_path / "src")
    docs.write.parquet(src_dir)
    src = spark.readStream.schema(docs.schema).parquet(src_dir)
    q = (
        streaming_exact_dedup(src)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["doc_id"], r["n_copies"])
        for r in spark.sql("SELECT * FROM dedup_stream").collect()
    }
    assert streamed == batch == {(1, 3), (3, 2), (4, 1)}


def test_hll_stream_equals_batch(spark, tmp_path):
    """The HLL register table as streaming state (complete mode over a
    bounded file stream) converges to exactly the batch sketch — and
    incremental delivery (two files) must not change it, since max-of-rho
    is commutative and idempotent."""
    from pyspark.sql import functions as F

    from edgar_spark.operators.sketches import hll_register_table
    from edgar_spark.streaming.pipeline import streaming_hll

    vals = spark.range(500).select(F.col("id").cast("string").alias("v"))
    batch = {
        (r["register"], r["max_rho"])
        for r in hll_register_table(vals, "v", p=6).collect()
    }

    src_dir = str(tmp_path / "src")
    # two separate files → at least two input splits for the stream
    vals.filter("id % 2 = 0").coalesce(1).write.parquet(src_dir)
    vals.filter("id % 2 = 1").coalesce(1).write.mode("append").parquet(src_dir)
    src = spark.readStream.schema(vals.schema).parquet(src_dir)
    q = (
        streaming_hll(src, "v", p=6)
        .writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r["register"], r["max_rho"])
        for r in spark.sql("SELECT * FROM hll_stream").collect()
    }
    assert streamed == batch and len(streamed) <= 64
