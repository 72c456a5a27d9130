"""Structured Streaming mode of the engine.

The reference is strictly batch (blocking fetch loop, `folder.go:42-97`); the
batch-wave crawler in ``frontier/crawler.py`` reproduces its semantics. This
module adds the streaming ingest mode SURVEY.md §7 notes as the natural
extension: ``pages`` as a stream source (e.g. a WARC drop directory landing
new Common-Crawl segments), parsed incrementally with the *same* Arrow
kernels, plus watermarked event-time aggregation and stateful gap
sessionization for the downstream metrics feed.

Scale notes:
- file-stream source with ``maxFilesPerTrigger`` bounds per-microbatch work;
  state-store size is bounded by the watermark (late rows past it drop);
- the parse is the identical ``mapInPandas`` kernel used in batch — streaming
  vs batch is purely a source/sink swap, one parse codepath;
- sessionization uses ``applyInPandasWithState`` (event-time timeout), the
  canonical Spark shape for a custom stateful operator; the batch variant is
  the classic lag/gap/cumsum window composition and is DuckDB-oracle-able.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# input_hint table shape (BASELINE.json): the stream source schema
PAGES_STREAM_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        # frontier context carried alongside (joined upstream or synthesized)
        StructField("kind", StringType()),
        StructField("cik", StringType()),
        StructField("ticker", StringType()),
        StructField("filing_type", StringType()),
        StructField("filing_date", StringType()),
        StructField("accession", StringType()),
        StructField("doc_type", StringType()),
    ]
)


# ----------------------------------------------------------- pages ingest


def stream_pages_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
):
    """Incremental report-page → facts ingest: readStream over a parquet drop
    directory, the batch ``parse_pages`` kernel, parquet sink with an
    ``availableNow`` trigger (drains whatever has landed, then stops — the
    deterministic/testable trigger; swap for processingTime on a live feed).

    Returns the finished StreamingQuery (already awaited).
    """
    from edgar_spark.operators.udfs import facts_of, marker_ok, parse_pages

    src = (
        spark.readStream.schema(PAGES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )
    # Sparser-style raw prefilter before Python, same as the batch wave;
    # report pages carry no crawl-priority context
    reports = src.filter((F.col("kind") == "report") & marker_ok()).select(
        "*", *[F.lit(None).cast("int").alias(c) for c in ("seed_seq", "type_seq")]
    )
    facts = facts_of(parse_pages(reports))
    q = (
        facts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ------------------------------------------------- watermarked window agg


def windowed_event_agg(
    events: DataFrame,
    window: str = "1 hour",
    watermark: Optional[str] = "2 hours",
) -> DataFrame:
    """Tumbling-window count/sum per event_type. Batch and streaming share
    this one definition; on a streaming input the watermark bounds state and
    drops late rows past it.

    Output: (window_start, window_end, event_type, n_events, sum_value).
    """
    src = events
    if src.isStreaming and watermark is not None:
        # watermarks require TIMESTAMP (not NTZ); with a UTC session the
        # window boundaries coincide with the batch NTZ computation
        src = src.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
            "ts", watermark
        )
    agg = src.groupBy(F.window("ts", window).alias("w"), "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
    return agg.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n_events",
        "sum_value",
    )


# ------------------------------------------------------- sessionization

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions, batch form: lag → new-session flag → cumulative
    session index → aggregate. Pure window composition (no Python), identical
    results to the streaming stateful form on a closed input.

    Output: (user_id, session_start, session_end, n_events, sum_value),
    one row per session.
    """
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    flagged = events.withColumn("_prev", F.lag("ts").over(wu)).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull()
            # timestampdiff works on both TIMESTAMP and TIMESTAMP_NTZ inputs
            | (F.expr("timestampdiff(MICROSECOND, _prev, ts)") > F.lit(gap_us)),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "_sess",
        F.sum("_new").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "_sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .drop("_sess")
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions, streaming form: ``applyInPandasWithState`` keyed by
    user, event-time timeout at (last event + gap) — the custom stateful
    operator pattern the engine uses where built-ins can't express the
    semantics. Emits a session row when its gap expires.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: Tuple[int],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                    "sum_value": [round(sv, 6)],
                }
            )
            return
        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000  # ns → us
        vals = rows["value"].astype("float64")
        if state.exists:
            start_us, end_us, n, sv = state.get
        else:
            start_us, end_us, n, sv = int(ts_us.iloc[0]), -1, 0, 0.0
        out = []
        for t_us, v in zip(ts_us, vals):
            t_us = int(t_us)
            if end_us >= 0 and t_us - end_us > gap_us:
                out.append((user_id, start_us, end_us, n, round(sv, 6)))
                start_us, n, sv = t_us, 0, 0.0
            end_us = t_us if end_us < t_us else end_us
            n += 1
            sv += float(v)
        state.update((start_us, end_us, n, sv))
        state.setTimeoutTimestamp((end_us // 1000) + gap_minutes * 60 * 1000)
        if out:
            yield pd.DataFrame(
                [
                    {
                        "user_id": u,
                        "session_start": pd.Timestamp(s, unit="us"),
                        "session_end": pd.Timestamp(e, unit="us"),
                        "n_events": nn,
                        "sum_value": vv,
                    }
                    for (u, s, e, nn, vv) in out
                ]
            )

    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Streaming twin of ``dedup.exact_dedup``: running (min id, copy
    count) per content hash over a document stream. Same one-shuffle shape
    — only the md5 moves; run in ``update``/``complete`` output mode (the
    aggregate revises as copies arrive). With a watermark on an event-time
    column upstream, state is bounded to the open window; unbounded
    retention here mirrors the batch operator's whole-corpus semantics."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("_h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("_h")
    )


def streaming_hll(
    events: DataFrame, col: str = "user_id", p: int = 8
) -> DataFrame:
    """Streaming twin of ``sketches.hll_register_table``: the HLL
    register table IS valid streaming state — bounded (≤2^p rows), its
    update (max of rho) is a commutative, idempotent streaming
    aggregate, and the complete-mode output at any trigger equals the
    batch sketch of everything ingested so far. This is the
    cardinality-sketch shape for an unbounded crawl: distinct-URL or
    vocabulary tracking with O(2^p) state where exact COUNT DISTINCT
    state would grow with the stream."""
    from edgar_spark.operators.sketches import hll_register_table

    return hll_register_table(events, col, p=p)
