"""Structured Streaming under the driver's DuckDB oracle gate.

Streaming correctness was previously pytest-only; these two queries
run REAL streams (file source -> availableNow drain -> parquet sink,
exactly-once checkpointing) whose final output is closed-form:

- q58: the streaming extraction backfill over html-wrapped documents
  must produce byte-identical results to the batch job — the oracle is
  the same closed-form transform q30 uses.
- q59: the stateful gap sessionizer (applyInPandasWithState, event-time
  timeout). With all events in ONE micro-batch, the emitted set is
  exactly: every non-final session of a user (closed inline by the gap
  split) plus each user's final session iff the end-of-stream watermark
  (max event time - 10 s) strictly passed its last event + the 30 min
  gap — which a window-function oracle expresses directly. This pins
  the one semantics a stateless window cannot: which sessions the
  TIMEOUT has closed by end of stream.

Both write under a deterministic /tmp scratch dir that is cleared at
the start of each invocation (results must outlive the function —
the driver collects the returned DataFrame lazily).
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.sources.tables import read_table
from ocr_service_spark.streaming.stream_job import (
    SESSION_GAP_MIN,
    stream_user_sessions,
)

_HTML_FMT = "<!DOCTYPE html>\n<html><head><title>t</title></head><body><p>%s</p></body></html>"


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(tag, sf_dir, pid) scratch root. A stable md5
    digest (not the process-salted builtin hash) means reruns reclaim
    their predecessor's output, while the pid suffix keeps two
    concurrent drivers on the same sf_dir from rmtree-ing each other's
    live stream sink."""
    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    return f"/tmp/ocr_spark_{tag}_{slug}_{os.getpid()}"


def _drain(q) -> None:
    """availableNow drains must finish; a partial sink read would feed
    wrong rows to the oracle gate silently."""
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("availableNow stream drain exceeded 600s")


def q58_stream_extract_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming extraction with a MID-DRAIN KILL and checkpoint
    restart. Run 1 is throttled (maxFilesPerTrigger) and hard-stopped
    after its first micro-batch commits — a kill between batches with
    most of the backlog unread. Run 2 opens a NEW query on the SAME
    checkpoint while run 1's input files are still present, drains
    everything, and a third availableNow pass proves the redundant
    rerun is a no-op. The sink is append-mode parquet, so any
    reprocessing across the restart would DUPLICATE rows and fail the
    driver's row-count + hash gate — the oracle (one row per doc) is
    the exactly-once proof."""
    import time

    from ocr_service_spark.streaming.stream_job import read_pages_stream
    from ocr_service_spark.streaming.stream_job import start_extraction_stream

    base = _scratch_dir("q58", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    pages_dir, results_dir, ckpt = f"{base}/pages", f"{base}/results", f"{base}/ckpt"

    docs = read_table(spark, sf_dir, "documents")
    pages = docs.select(
        F.format_string("doc://%s.html", F.col("doc_id").cast("string")).alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.encode(F.format_string(_HTML_FMT, F.col("text")), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang"),
    )
    # several files -> several micro-batches: the drain must compose
    # batches correctly, not just pass one batch through
    pages.repartition(24).write.parquet(pages_dir)

    # run 1: 3 files per micro-batch; kill after the first commit
    from ocr_service_spark.operators.extract import extract_documents

    q = (
        extract_documents(read_pages_stream(spark, pages_dir, max_files_per_trigger=3))
        .writeStream.format("parquet")
        .option("path", results_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.time() + 300
    while time.time() < deadline and q.isActive:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(120)

    # run 2: fresh query, same checkpoint — resumes where the kill left off
    q2 = start_extraction_stream(spark, pages_dir, results_dir, ckpt, available_now=True)
    _drain(q2)
    # run 3: redundant rerun drains nothing (exactly-once across restarts)
    q3 = start_extraction_stream(spark, pages_dir, results_dir, ckpt, available_now=True)
    _drain(q3)

    results = spark.read.parquet(results_dir)
    doc_id = F.regexp_extract("url", r"doc://(\d+)\.", 1).cast("bigint")
    return results.select(
        doc_id.alias("doc_id"),
        "extracted_text",
        "content_type",
        "pages",
        "success",
        "doc_class",
    )


def q59_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("q59", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    events_dir, out_dir, ckpt = f"{base}/events", f"{base}/sessions", f"{base}/ckpt"

    events = read_table(spark, sf_dir, "events").select("user_id", "ts")
    # ONE file -> one data micro-batch: every gap split happens inline
    # and only each user's final session reaches the state store, so
    # the trailing no-data batch's timeout sweep is the single
    # watermark comparison the oracle mirrors
    events.coalesce(1).write.parquet(events_dir)

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp_ntz")
        .option("maxFilesPerTrigger", 1000)
        .parquet(events_dir)
    )
    q = (
        stream_user_sessions(stream, watermark="10 seconds")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    return (
        spark.read.parquet(out_dir)
        .select("user_id", "session_start_us", "session_end_us", "n_events", "closed_by_timeout")
    )


# -- q163: watermarked tumbling-window counts with late-data drop ----------------
#
# The canonical Structured Streaming shape q58/q59/q101 don't cover:
# groupBy(window) aggregation in APPEND mode, where the watermark both
# DROPS late input and decides which windows may ever emit. The drop
# is made deterministic by controlling micro-batch ORDER with file
# mtimes (FileStreamSource processes files in timestamp order;
# maxFilesPerTrigger=1 makes one batch per file):
#
#   batch A (on-time): events across six 5-min windows plus one
#     "advancer" at +45 min -> end-of-batch watermark = +35 min;
#   batch B (nudge): a single on-time event at +46 min. Needed because
#     since SPARK-40925 the late-record filter of batch N uses the
#     watermark as of batch N-1's START (eviction uses N's own): late
#     rows must arrive TWO batches after the advancer to be filtered.
#     Measured without this batch, every "late" row was accepted and
#     merged — the sink held doubled counts for their windows;
#   batch C (late): rows timestamped inside A's already-emitted
#     windows, all older than the +35 min filtering watermark ->
#     dropped, by the aggregation's late-data rule, deterministically;
#   batch D (closer): one event at +2 h -> the trailing no-data batch
#     sweeps the watermark to +110 min and flushes the advancer/nudge
#     window; D's own window (end +125 min) stays beyond the final
#     watermark and never emits.
#
# Final sink therefore holds EXACTLY the on-time counts — any accepted
# late row or leaked unclosed window fails the oracle's hash.
# 2026-01-01 00:00:00 UTC; a multiple of the window length, so the
# epoch-aligned window starts are BASE + k*300 and the whole query is
# integer arithmetic — no timezone or date formatting anywhere.
Q163_EPOCH = 1_767_225_600
Q163_WINDOW_S = 300


def q163_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    base = _scratch_dir("q163", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    events_dir, out_dir, ckpt = f"{base}/events", f"{base}/counts", f"{base}/ckpt"
    os.makedirs(events_dir)

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ontime = docs.select(
        (d % 8).cast("bigint").alias("user_id"),
        F.timestamp_seconds(F.lit(Q163_EPOCH) + (d % 30) * 60).alias("ts"),
    ).unionByName(
        spark.range(1).select(
            F.lit(0).cast("bigint").alias("user_id"),
            F.timestamp_seconds(F.lit(Q163_EPOCH + 45 * 60)).alias("ts"),
        )
    )
    nudge = spark.range(1).select(
        F.lit(1).cast("bigint").alias("user_id"),
        F.timestamp_seconds(F.lit(Q163_EPOCH + 46 * 60)).alias("ts"),
    )
    late = docs.filter(d % 10 == 0).select(
        (d % 8).cast("bigint").alias("user_id"),
        F.timestamp_seconds(
            F.lit(Q163_EPOCH) + (d % 20) * 60 + 30
        ).alias("ts"),
    )
    closer = spark.range(1).select(
        F.lit(0).cast("bigint").alias("user_id"),
        F.timestamp_seconds(F.lit(Q163_EPOCH + 2 * 3600)).alias("ts"),
    )

    now = time.time()
    for i, (tag, df) in enumerate(
        [("a", ontime), ("b", nudge), ("c", late), ("d", closer)]
    ):
        tmp = f"{base}/tmp_{tag}"
        df.coalesce(1).write.parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
        )
        dst = f"{events_dir}/{tag}.parquet"
        shutil.move(f"{tmp}/{part}", dst)
        os.utime(dst, (now + 20 * i, now + 20 * i))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", f"{Q163_WINDOW_S} seconds"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").cast("long").alias("window_start_s"),
            "user_id",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    q = (
        counts.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.read.parquet(out_dir).select(
        "window_start_s", "user_id", "n_events"
    )


_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000
_GAP_MS = SESSION_GAP_MIN * 60 * 1_000

ORACLES: dict[str, str] = {
    "q58_stream_extract_backfill": """
        SELECT doc_id, 't' || chr(10) || trim(text) AS extracted_text,
               'text/html' AS content_type, 1 AS pages, TRUE AS success,
               'html' AS doc_class
        FROM documents
    """,
    "q59_stream_sessions": f"""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS us FROM events
        ),
        wm AS (
            SELECT max(epoch_ms(ts)) - 10000 AS wm_ms FROM events
        ),
        d AS (
            SELECT user_id, us,
                   CASE WHEN lag(us) OVER w IS NULL
                             OR us - lag(us) OVER w > {_GAP_US}
                        THEN 1 ELSE 0 END AS new_s
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ),
        s AS (
            SELECT user_id, us,
                   sum(new_s) OVER (
                       PARTITION BY user_id ORDER BY us
                       ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM d
        ),
        g AS (
            SELECT user_id, sid,
                   min(us) AS session_start_us,
                   max(us) AS session_end_us,
                   count(*) AS n_events
            FROM s GROUP BY 1, 2
        ),
        last_s AS (SELECT user_id, max(sid) AS last_sid FROM g GROUP BY 1)
        SELECT g.user_id,
               CAST(session_start_us AS BIGINT) AS session_start_us,
               CAST(session_end_us AS BIGINT) AS session_end_us,
               CAST(n_events AS BIGINT) AS n_events,
               (g.sid = l.last_sid) AS closed_by_timeout
        FROM g JOIN last_s l USING (user_id), wm
        WHERE g.sid <> l.last_sid
           OR (session_end_us // 1000 + {_GAP_MS} < wm_ms)
    """,
}

# -- q101: stateful streaming exact dedup ------------------------------------
# The crawl-ingest dedup shape: documents arrive over many micro-batches
# and a duplicate may land BATCHES after its first copy, so the dedup
# operator must hold the seen-hash set in the state store between
# batches — per-batch distinct is not enough. Clones of the first
# STREAM_DUP_CLONES docs are appended as a SECOND parquet write, so
# with maxFilesPerTrigger throttling most duplicate pairs straddle a
# micro-batch boundary. The sink is append-mode parquet: a cross-batch
# miss EMITS the duplicate and the oracle's n_emitted=1 row flips. At
# production scale the same plan runs dropDuplicatesWithinWatermark so
# state carries a TTL; the unbounded variant here is exact over the
# bounded drain.
STREAM_DUP_CLONES = 50
STREAM_DUP_OFFSET = 7_000_000


def q101_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _scratch_dir("q101", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    in_dir, out_dir, ckpt = f"{base}/docs", f"{base}/dedup", f"{base}/ckpt"

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(6).write.parquet(in_dir)
    clones = docs.filter(F.col("doc_id") < STREAM_DUP_CLONES).select(
        (F.col("doc_id") + STREAM_DUP_OFFSET).alias("doc_id"), "text"
    )
    clones.repartition(6).write.mode("append").parquet(in_dir)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 3)
        .parquet(in_dir)
    )
    q = (
        stream.select(F.md5("text").alias("h"))
        .dropDuplicates(["h"])
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)

    emitted = spark.read.parquet(out_dir).groupBy("h").agg(
        F.count(F.lit(1)).alias("n_emitted")
    )
    inputs = (
        docs.unionByName(clones)
        .select(F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_input_copies"))
    )
    # left join from the INPUT side: a hash the stream dropped entirely
    # surfaces as n_emitted=0, a cross-batch dedup miss as n_emitted>1
    return inputs.join(emitted, "h", "left").select(
        "h",
        F.coalesce("n_emitted", F.lit(0)).cast("bigint").alias("n_emitted"),
        F.col("n_input_copies").cast("bigint").alias("n_input_copies"),
    )


ORACLES["q101_stream_dedup"] = f"""
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {STREAM_DUP_OFFSET}, text
        FROM documents WHERE doc_id < {STREAM_DUP_CLONES}
    )
    SELECT md5(text) AS h,
           CAST(1 AS BIGINT) AS n_emitted,
           CAST(count(*) AS BIGINT) AS n_input_copies
    FROM aug GROUP BY md5(text)
"""

# The oracle is the on-time input ALONE (batch A events + the +45 min
# advancer + batch B's +46 min nudge): batch C is entirely behind the
# filtering watermark when it arrives (max ts 19:30 vs 35:00) so the
# late-data rule must drop every row, and batch D's own window (end
# +125 min) outlives the final watermark (+110 min) so it must never
# emit. Any accepted late row shifts a count; any leaked unclosed
# window adds a row — both flip the hash.
ORACLES["q163_stream_window_counts"] = f"""
    WITH ontime AS (
        SELECT CAST(doc_id % 8 AS BIGINT) AS user_id,
               CAST((doc_id % 30) * 60 AS BIGINT) AS off_s
        FROM documents
        UNION ALL
        SELECT CAST(0 AS BIGINT), CAST(2700 AS BIGINT)
        UNION ALL
        SELECT CAST(1 AS BIGINT), CAST(2760 AS BIGINT)
    )
    SELECT CAST({Q163_EPOCH} + off_s // {Q163_WINDOW_S} * {Q163_WINDOW_S}
                AS BIGINT) AS window_start_s,
           user_id,
           CAST(count(*) AS BIGINT) AS n_events
    FROM ontime
    GROUP BY 1, 2
"""

QUERIES = {
    "q58_stream_extract_backfill": q58_stream_extract_backfill,
    "q59_stream_sessions": q59_stream_sessions,
    "q101_stream_dedup": q101_stream_dedup,
    "q163_stream_window_counts": q163_stream_window_counts,
}
