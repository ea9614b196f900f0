"""Streaming window operators + stateful processing.

Scale notes:
- watermarks bound state: ``withWatermark`` lets Spark drop window state
  older than the lateness allowance — mandatory at 100 TB/day event volumes;
- tumbling/sliding windows shuffle once on (window, keys); AQE sizes the
  state-store partitions;
- ``applyInPandasWithState`` keeps per-key state in the state store with
  Arrow-batched user code — the escape hatch for operators Spark lacks.

The ``q_stream_*`` catalog entries execute genuine streaming queries
(file-stream source, availableNow trigger, memory sink) whose final output is
verified against batch SQL oracles — the streaming/batch unification Spark
promises, demonstrated.
"""

from __future__ import annotations

import tempfile
import uuid
from typing import Iterable, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
    StringType,
)

from ..session import temp_conf

# Stream schema for tests that stage their own legacy TIMESTAMP(NANOS)
# parquet (read as long under the nanosAsLong conf). The production
# ``events_stream`` source no longer hardcodes this — it derives the schema
# from the actual file footer, because the physical ts encoding varies
# (nanos-long / timestamp_ntz / timestamp — see relational.normalize_events_ts).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),  # TIMESTAMP(NANOS) read as long
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (one file = one micro-batch;
    in production this is a directory that keeps receiving files / Kafka).

    The stream schema is read from the parquet footer (one driver-side
    metadata read — no data scan) rather than hardcoded, so the source tracks
    whatever physical ts encoding the data currently has; ``ts`` is then
    normalized to TIMESTAMP (LTZ) exactly like the batch path
    (relational.normalize_events_ts).

    The file stream source requires a *directory*, so the single events
    parquet is staged into a temp dir via symlink (zero-copy). POSIX-local
    assumption, harness-only: on an object store there is no symlink — point
    the stream at the real landing directory instead (the production shape)."""
    import os

    from ..relational import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # LTZ alignment + NTZ cast
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stage = tempfile.mkdtemp(prefix="fsql_stream_src_")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), f"{stage}/events.parquet")
    raw = spark.readStream.schema(schema).format("parquet").load(stage)
    return normalize_events_ts(raw)


def tumbling_counts(
    events: DataFrame, every: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", every).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


def sliding_counts(
    events: DataFrame, length: str = "1 hour", slide: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Sliding windows: each event lands in length/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n_events")
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows (gap-merged) per user: state merges adjacent
    events within the gap; watermark closes/evicts stale sessions."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


_USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def _user_totals_fn(
    key: Tuple[int], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Custom stateful operator: cumulative per-user totals across batches."""
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: per-user running totals in the state store.
    Emits the updated total for every user seen in each micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join within a time interval: each side buffers
    state bounded by its watermark + the join interval (Spark evicts
    unmatched rows once they can no longer join — the state-bounding
    condition is the interval clause)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {within}"))
        & (rw[right_ts] <= lw[left_ts])
    )
    # drop the right-side key: the output carries ONE unambiguous join column
    return lw.join(rw, cond, "inner").drop(rw[on])


def stream_to_partitioned_table(
    stream_df: DataFrame,
    path: str,
    partition_by: list[str],
    checkpoint: str | None = None,
) -> None:
    """Sink a stream into a Hive-partitioned parquet tree (availableNow) —
    the streaming half feeding the batch half: the result is exactly the
    layout ``read_partitioned_table`` queries with partition pruning.

    For STATEFUL upstreams restarting against a durable ``checkpoint``,
    the state-partition count is immutable for the checkpoint's lifetime
    — inspect it with :func:`checkpoint_state_partitions` before changing
    the session's shuffle partitioning (the :func:`run_to_memory` guard,
    applied manually here because a stateless parquet append has no such
    constraint and must not be refused)."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint or tempfile.mkdtemp(prefix="fsql_ckpt_"))
        .partitionBy(*partition_by)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def checkpoint_state_partitions(checkpoint: str) -> int | None:
    """The shuffle/state-store partition count an existing checkpoint was
    created under, read from the latest offsets-log entry's
    ``OffsetSeqMetadata.conf`` (the public on-disk format:
    ``<checkpoint>/offsets/<batchId>`` line 2 is the metadata JSON whose
    ``conf`` pins ``spark.sql.shuffle.partitions`` for the query's
    lifetime). Returns None when the checkpoint has no completed offsets
    entry yet (fresh dir — any partitioning is still legal). An offsets
    entry that EXISTS but cannot be parsed raises instead of returning
    None: a silent None would disable the immutability guard exactly
    where it matters (corrupt/truncated/foreign-format checkpoints are
    the risky restarts, not the safe ones)."""
    import json
    import os

    odir = os.path.join(checkpoint, "offsets")
    try:
        batches = [f for f in os.listdir(odir) if f.isdigit()]
    except OSError:
        return None
    if not batches:
        return None
    latest = os.path.join(odir, max(batches, key=int))
    try:
        with open(latest) as f:
            lines = f.read().splitlines()
        meta = json.loads(lines[1])
        return int(meta["conf"]["spark.sql.shuffle.partitions"])
    except (OSError, ValueError, KeyError, IndexError) as exc:
        raise ValueError(
            f"checkpoint offsets entry {latest} exists but its metadata "
            f"could not be parsed ({exc!r}) — cannot verify the state "
            "partition count it was created under. Repair the checkpoint "
            "or start a new one; do not restart blind against it."
        ) from exc


def run_to_memory(
    stream_df: DataFrame,
    mode: str,
    state_partitions: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame:
    """Execute a streaming query to completion (availableNow) into an
    in-memory sink; returns the result table.

    ``state_partitions`` pins shuffle/state-store partitioning for the query
    (set at stream start, immutable afterwards). Two costs pull opposite
    ways: each partition is a state-store instance per stateful operator
    per batch (a stream-stream join keeps FOUR stores per partition), but a
    PYTHON-stateful kernel's addBatch parallelism is CAPPED at this count.
    Default (None) auto-selects from the plan — the r13 profile on
    local[32] at sf0.1: applyInPandasWithState entries are kernel-bound
    (attribution 4 -> 16 partitions: 2.61 -> 1.38 s, 1.9x; the Arrow
    kernel is the batch), while JVM-state streams are lifecycle-bound
    (stream-stream join 16 -> 4: 4.4 -> 2.5 s; more stores, zero kernel
    to parallelize), so Python-stateful plans get 16 and everything else
    4 (PERF.md r13; supersedes the r5 flat-4 note, profiled before the
    Python kernels existed). In production size it to key cardinality /
    executor count — it is immutable for the checkpoint's lifetime.

    ``checkpoint`` resumes from / writes to a durable checkpoint dir
    (default: a fresh temp dir per call). NOTE the resume semantics: the
    source skips offsets already committed to the checkpoint while the
    memory sink starts empty each call, so a second run against an
    unchanged input returns an EMPTY (append mode) or recomputed-from-
    state (complete mode) table — the result is incremental per
    checkpoint, not a re-audit of the whole input. Memory-sink recovery
    is also only supported by Spark in complete mode. Because the
    partition count IS immutable per checkpoint, restarting against an
    existing checkpoint under a different count — e.g. the auto-select
    choosing the other profile after the plan changed — is refused
    loudly: Spark itself would silently keep the checkpoint's old value
    and ignore the requested one, which in production reads as "I
    re-tuned the query" while nothing changed (r13 verdict task)."""
    spark = stream_df.sparkSession
    # plan inspection is an optimization, never a failure mode: if the
    # internal _jdf handle is unavailable (Spark Connect) or analysis
    # throws, fall back to the JVM-state profile instead of failing the
    # query at partition selection (advice find)
    try:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
    except Exception:
        plan = None
    if state_partitions is None:
        state_partitions = (
            16 if plan is not None and "FlatMapGroupsInPandasWithState" in plan else 4
        )
    # availableNow appends one empty finalization micro-batch after the data
    # batches. It exists to EMIT results an append-mode query was
    # withholding until the watermark passed (windowed aggregates, non-inner
    # stream-stream joins, event-time timeouts); for everything else —
    # complete/update mode, stateless maps, dedup and inner interval joins,
    # which all emit in the batch the row arrives — it emits nothing and
    # only pays a full WAL + per-batch planning round (~0.3 s/entry at
    # sf0.1, r15 stream profile). Skip it exactly when the plan has nothing
    # to finalize; when the plan cannot be inspected, keep it (safe side).
    import re

    if mode != "append":
        skip_final_batch = True
    elif plan is None:
        skip_final_batch = False
    else:
        joins = re.findall(r"\bJoin (\w+)", plan)
        skip_final_batch = (
            "Aggregate" not in plan
            and "FlatMapGroups" not in plan
            and all(j == "Inner" for j in joins)
        )
    if checkpoint is not None:
        existing = checkpoint_state_partitions(checkpoint)
        if existing is not None and existing != state_partitions:
            raise ValueError(
                f"checkpoint {checkpoint} was created with "
                f"{existing} state partitions; this run requests "
                f"{state_partitions}. The count is immutable for a "
                "checkpoint's lifetime — Spark would silently keep "
                f"{existing} and ignore the request. Pass "
                f"state_partitions={existing} explicitly, or start a new "
                "checkpoint to re-partition state."
            )
    confs = {"spark.sql.shuffle.partitions": str(state_partitions)}
    if skip_final_batch:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    with temp_conf(spark, **confs):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option(
                "checkpointLocation",
                checkpoint or tempfile.mkdtemp(prefix="fsql_ckpt_"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# --------------------------------------------------------------------------
# catalog entries + oracles
# --------------------------------------------------------------------------

def q_stream_hourly(spark: SparkSession, sf: str) -> DataFrame:
    out = run_to_memory(tumbling_counts(events_stream(spark, sf)), mode="complete")
    return out


Q_STREAM_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       COUNT(*)               AS n_events,
       ROUND(SUM(value), 2)   AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    return run_to_memory(sliding_counts(events_stream(spark, sf)), mode="complete")


# sliding 1h windows every 30min: an event at ts belongs to window starts
# {bucket30(ts) - 30min, bucket30(ts)} — expressed as a union in SQL
Q_STREAM_SLIDING_SQL = """
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket, event_type FROM events
),
m AS (
  SELECT bucket AS win_start, event_type FROM b
  UNION ALL
  SELECT bucket - INTERVAL '30 minutes' AS win_start, event_type FROM b
)
SELECT win_start, event_type, COUNT(*) AS n_events
FROM m
GROUP BY 1, 2
"""


def q_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    out = run_to_memory(session_aggregate(events_stream(spark, sf)), mode="complete")
    return out


# batch oracle for gap-based session windows: lag/cumsum sessionization
Q_STREAM_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
)
SELECT user_id,
       MIN(ts)              AS session_start,
       COUNT(*)             AS n_events,
       ROUND(SUM(value), 2) AS session_value
FROM sessions
GROUP BY user_id, sess
"""


def q_stream_user_totals(spark: SparkSession, sf: str) -> DataFrame:
    raw = run_to_memory(stateful_user_totals(events_stream(spark, sf)), mode="update")
    # update mode emits one row per (user, micro-batch); the final total per
    # user is the row with the highest (monotone) event count
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", F.round("sum_value", 2).alias("sum_value"))
    )


Q_STREAM_USER_TOTALS_SQL = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
FROM events
GROUP BY user_id
"""


def stream_dedup(
    events: DataFrame, keys: list[str], ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: emit only the FIRST event per key combination,
    with state bounded by the watermark (``dropDuplicatesWithinWatermark`` —
    a key's dedup state is dropped once the watermark passes it, so state
    stays proportional to keys-per-watermark-window, not keys-ever-seen).
    The streaming twin of ``dedup_exact_keys``: at-least-once upstream
    delivery (Kafka, retried file lands) becomes exactly-once rows."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Real streaming dedup on (user_id, event_type); the surviving firsts
    are audited per event type batch-side (over the append-mode output)."""
    ded = stream_dedup(events_stream(spark, sf), ["user_id", "event_type"])
    out = run_to_memory(ded, mode="append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))


Q_STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
"""


def ingest_batch_tree(spark: SparkSession, sf: str) -> str:
    """Build-once: the synthetic ingest batch (case-variant dups + novel
    truncations, same construction as q_dedup_incremental) staged as a
    3-file parquet dir so a file-source stream delivers it in 3
    micro-batches."""
    from ..fsql_catalog import _build_once, _tree_dir
    from ..operators.dedup import _incremental_batch

    def build(staging: str) -> None:
        _incremental_batch(spark, sf).repartition(3).write.mode("overwrite").parquet(staging)

    return _build_once(_tree_dir(sf, "ingest_batch3", "documents"), build)


def q_stream_ingest_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming crawl-ingest dedup against a STATIC training corpus: the
    batch operator ``dedup_against_bloom`` runs UNMODIFIED on a document
    stream — the broadcast Bloom prefilter is a map-side stateless filter,
    and the exact check is a stream-static left-anti join (both
    streaming-supported), so definitely-novel docs flow through without
    touching the join and state stays zero (no watermark needed: the
    corpus side is static). The batch entry q_dedup_incremental_bloom and
    this stream produce the identical answer — one more streaming/batch
    unification proof.

    The bitmap comes from the build-once artifact cache
    (``corpus_bloom_cached``) — the production lifecycle: the corpus was
    folded at ingest time; the stream just loads megabytes and filters."""
    from ..operators.dedup import corpus_bloom_cached, dedup_against_bloom

    src = ingest_batch_tree(spark, sf)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    corpus = spark.read.parquet(f"{sf}/documents.parquet")
    bloom = corpus_bloom_cached(spark, sf, ("text",), normalize=True)
    novel = dedup_against_bloom(stream, corpus, ["text"], normalize=True, bloom=bloom)
    out = run_to_memory(novel.select("doc_id"), mode="append")
    return out.select("doc_id")


# identical answer to the batch incremental-dedup entries by construction
# (same _incremental_batch, same normalized anti-join): alias the batch
# oracle so the two entries cannot drift apart
from ..operators.dedup import Q_DEDUP_INCREMENTAL_SQL as Q_STREAM_INGEST_DEDUP_SQL  # noqa: E402


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table (symlink-staged like
    ``events_stream``; in production the stream points at the crawl landing
    directory)."""
    import os

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stage = tempfile.mkdtemp(prefix="fsql_stream_docs_")
    os.symlink(
        os.path.abspath(f"{sf_dir}/documents.parquet"), f"{stage}/documents.parquet"
    )
    return spark.readStream.schema(schema).format("parquet").load(stage)


def q_stream_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The Gopher-rule quality filter running UNMODIFIED on a document
    stream: the rules are pure map expressions (stateless — no watermark, no
    state store), so the crawl-time filtering a 100 TB ingest does per
    arriving file is literally the batch operator applied to a readStream.
    Per-row flags stream into the sink; the per-language audit aggregates
    batch-side over the appended output. The oracle recomputes the same
    rules in SQL (the batch entry q_quality_filter carries the per-rule
    breakdown; this one audits the composed ``passes`` flag end-to-end)."""
    from ..operators.text import quality_filter

    flagged = quality_filter(documents_stream(spark, sf))
    out = run_to_memory(flagged.select("lang", "passes"), mode="append")
    n_pass = F.sum(F.col("passes").cast("long"))
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            n_pass.alias("n_pass"),
            F.round(n_pass / F.count(F.lit(1)), 4).alias("pass_rate"),
        )
        .orderBy("lang")
    )


def q_stream_html_extract(spark: SparkSession, sf: str) -> DataFrame:
    """The HTML crawl-ingest extractor running UNMODIFIED on a document
    stream: wrap + extract are pure Catalyst expressions (stateless — no
    watermark, no state store), so the per-arriving-file HTML-to-text step
    of a 100 TB ingest is literally the batch operator on a readStream.
    Per-row extractions stream into the sink; the per-source audit
    aggregates batch-side over the appended output, carrying the byte-exact
    round-trip count so any extraction drift is hash-visible."""
    from ..operators.html import extract_html_text, html_page_expr

    docs = documents_stream(spark, sf)
    pages = docs.select(
        "doc_id",
        "source",
        F.col("text").alias("_orig"),
        html_page_expr(F.col("doc_id"), F.col("source"), F.col("text")).alias("html"),
    )
    ex = extract_html_text(pages, "html")
    want = F.concat(
        F.lit("Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" "),
        F.trim(F.regexp_replace(F.col("_orig"), "\\s+", " ")),
    )
    flagged = ex.select(
        "source",
        "text_len",
        "html_len",
        (F.col("text_extracted") == F.trim(want)).alias("ok"),
    )
    out = run_to_memory(flagged, mode="append")
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("ok").cast("long")).alias("n_roundtrip"),
            F.sum("text_len").alias("sum_text_len"),
            F.sum("html_len").alias("sum_html_len"),
        )
        .orderBy("source")
    )


Q_STREAM_HTML_SQL = """
WITH pages AS (
  SELECT doc_id, source, text,
         '<!DOCTYPE html><html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &mdash; ' || source
         || '</title><script>var pageId=' || CAST(doc_id AS VARCHAR)
         || ';track(pageId);</script><style>body{margin:0} p{font:14px serif}</style>'
         || '</head><body><nav><a href="/">home</a> <a href="/about">about</a></nav>'
         || '<h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>' || chr(10) || '<p>'
         || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
         || '</p>' || chr(10) || '<footer>&copy; ' || source
         || ' &nbsp;<a href="/terms">terms</a></footer></body></html>' AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, source, text, html,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<nav[^>]*>.*?</nav>', ' ', 'g'),
                   '(?s)<footer[^>]*>.*?</footer>', ' ', 'g'),
                 '(?s)<head[^>]*>.*?</head>', ' ', 'g'),
               '<[^>]+>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&nbsp;', ' '), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS text_extracted
  FROM pages
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(text_extracted = trim('Doc ' || CAST(doc_id AS VARCHAR) || ' '
                || trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS INTEGER)) AS BIGINT)
         AS n_roundtrip,
       CAST(SUM(length(text_extracted)) AS BIGINT) AS sum_text_len,
       CAST(SUM(length(html)) AS BIGINT)           AS sum_html_len
FROM extracted
GROUP BY source
ORDER BY source
"""


Q_STREAM_QUALITY_SQL = """
WITH toks AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents
),
t AS (
  SELECT lang,
         len(l)                                                      AS n,
         COALESCE(list_sum(list_transform(l, x -> LENGTH(x))), 0) * 1.0
           / GREATEST(len(l), 1)                                     AS awl,
         len(list_distinct(l)) * 1.0 / GREATEST(len(l), 1)           AS dratio,
         list_contains(l, 'a') OR list_contains(l, 'the')            AS has_stop
  FROM toks
),
rules AS (
  SELECT lang,
         CAST(n BETWEEN 20 AND 90 AS INTEGER)
           * CAST(awl BETWEEN 2.5 AND 7.0 AS INTEGER)
           * CAST(has_stop AS INTEGER)
           * CAST(dratio >= 0.3 AS INTEGER) AS p
  FROM t
)
SELECT lang,
       COUNT(*)                                  AS n_docs,
       CAST(SUM(p) AS BIGINT)                    AS n_pass,
       ROUND(SUM(p) * 1.0 / COUNT(*), 4)         AS pass_rate
FROM rules
GROUP BY lang
ORDER BY lang
"""


def q_stream_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    """Metric anomaly detection ON THE STREAM against batch-trained stats:
    the per-type mean/stddev relation is the (5-row) artifact a monitoring
    pipeline trains offline; the stream joins it as a broadcast and flags
    z >= 3 map-only — stateless, no watermark, no state store (the third
    batch/stream unification proof after ingest-dedup and quality-filter).
    Audit: per-type anomaly counts over the appended output. The z=3
    threshold margin is pinned as a data property in
    tests/test_operators.py (batch twin), so float-moment noise cannot
    flip membership between the engines."""
    from ..relational import _t, anomaly_flags

    # the ONE flagging definition, stats trained on the batch relation —
    # batch entry and streaming twin cannot drift (review find)
    flagged = anomaly_flags(events_stream(spark, sf), stats_source=_t(spark, sf, "events"))
    out = run_to_memory(flagged.select("event_type", "value"), mode="append")
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


from ..relational import _ANOMALY_FLAGGED_CTE  # noqa: E402

Q_STREAM_ANOMALY_SQL = f"""
WITH {_ANOMALY_FLAGGED_CTE}
SELECT event_type,
       COUNT(*)             AS n_anomalies,
       ROUND(SUM(value), 2) AS sum_value
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


def q_stream_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """LM quality scoring AT CRAWL INGEST: the unigram model is trained
    offline on the batch corpus (the shipped artifact), then every arriving
    document scores row-locally on the stream via the STATELESS kernel
    scorer — no aggregation state, no watermark; the dict-sized model rides
    in the closure. Fourth batch/stream unification proof. Audit: per-lang
    doc counts + mean cross-entropy over the appended output."""
    from ..operators.lm import _TOP_K, doc_cross_entropy_stateless, unigram_model

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    model, oov_lp, _, _ = unigram_model(docs, top_k=_TOP_K)
    scored = doc_cross_entropy_stateless(
        documents_stream(spark, sf), model, oov_lp, carry_cols=("lang",)
    )
    out = run_to_memory(scored.select("lang", "cross_entropy"), mode="append")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("cross_entropy"), 4).alias("avg_ce"),
        )
        .orderBy("lang")
    )


from ..operators.lm import _LM_MODEL_CTE, _LM_SCORED_CTE  # noqa: E402

# composes the SHARED model/scoring CTEs (one SQL definition of the LM —
# a _TOP_K or smoothing change cannot drift between the LM oracles)
Q_STREAM_PERPLEXITY_SQL = f"""
WITH {_LM_MODEL_CTE},
{_LM_SCORED_CTE}
SELECT d.lang,
       COUNT(*)            AS n_docs,
       ROUND(AVG(s.ce), 4) AS avg_ce
FROM scored s JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


def q_stream_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Binary container processing AT CRAWL INGEST: arriving documents are
    packed into FVID containers and frame-sampled by the SAME two stateless
    Arrow kernels the batch entry uses, chained on a readStream — no state,
    no watermark; the container pipeline is source-agnostic. Oracle aliased
    from the batch entry (identical output set by construction)."""
    from ..operators.multimodal import pack_video, sample_container_frames

    media = pack_video(documents_stream(spark, sf))
    sampled = sample_container_frames(media, every=3)
    out = run_to_memory(sampled, mode="append")
    return out.select("media_id", "frame_idx", "frame_fp")


from ..operators.multimodal import Q_FRAME_SAMPLE_SQL as Q_STREAM_FRAME_SAMPLE_SQL  # noqa: E402


def q_stream_audio_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL-codec processing AT CRAWL INGEST: arriving documents are packed
    into 16-bit PCM WAV containers and decoded + energy-windowed by the
    SAME two stateless Arrow kernels the batch entry uses (`pack_wav` ->
    `decode_audio_energy`, the native RIFF parser inside), chained on a
    readStream — sixth batch/stream unification proof, this one through a
    real-world binary format. Oracle aliased from the batch entry
    (identical output set by construction)."""
    from ..operators.multimodal import decode_audio_energy, pack_wav

    media = pack_wav(documents_stream(spark, sf))
    energy = decode_audio_energy(media, window=64)
    out = run_to_memory(energy, mode="append")
    return out.select("media_id", "window_idx", "n_samples", "energy")


from ..operators.multimodal import Q_WAV_ENERGY_SQL as Q_STREAM_AUDIO_DECODE_SQL  # noqa: E402


def q_stream_video_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video-format processing AT CRAWL INGEST: arriving documents are
    packed into Y4M containers and frame-sampled by the SAME two stateless
    Arrow kernels the batch entry uses (`pack_y4m` ->
    `sample_video_frames`, the native YUV4MPEG2 parser inside), chained on
    a readStream — seventh batch/stream unification proof, through a real
    public video container. Stride 30 (one keyframe-ish sample per ~1.2s
    of 25fps video) rather than the batch entry's 3: the memory sink
    materializes every output row on the driver, so the STREAM harness
    entry keeps its result driver-sized while still decoding every
    container in full (the parse cost is identical at any stride)."""
    from ..operators.multimodal import pack_y4m, sample_video_frames

    # the single-file micro-batch arrives as one partition; spread it
    # before the per-frame kernels (stateless, so the shuffle is legal)
    docs = documents_stream(spark, sf).repartition(
        spark.sparkContext.defaultParallelism
    )
    media = pack_y4m(docs, frame_w=8, frame_h=8)
    frames = sample_video_frames(media, every=30)
    out = run_to_memory(frames, mode="append")
    return out.select("media_id", "frame_idx", "luma_sum", "frame_fp")


Q_STREAM_VIDEO_DECODE_SQL = """
SELECT doc_id                                                   AS media_id,
       CAST(s.p - 1 AS INTEGER)                                 AS frame_idx,
       CAST(64 * ascii(substr(text, CAST(s.p AS INTEGER), 1)) AS BIGINT) AS luma_sum,
       md5(repeat(substr(text, CAST(s.p AS INTEGER), 1), 64))   AS frame_fp
FROM documents, unnest(generate_series(1, LENGTH(text), 30)) AS s(p)
WHERE LENGTH(text) > 0
"""


def events_batch_tree(spark: SparkSession, sf: str) -> str:
    """Build-once: the events table staged as a 3-file parquet dir (ts
    already normalized to TIMESTAMP) so a file-source stream delivers it in
    3 micro-batches."""
    from ..fsql_catalog import _build_once, _tree_dir
    from ..relational import _t

    def build(staging: str) -> None:
        _t(spark, sf, "events").repartition(3).write.mode("overwrite").parquet(staging)

    return _build_once(_tree_dir(sf, "events_batch3", "events"), build)


def q_stream_rollup_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """The stream -> incremental-materialized-view pattern: each micro-batch
    of the event stream is MERGED into the stored hourly rollup via
    ``foreachBatch`` + ``update_rollup`` — the canonical production wiring
    for a continuous aggregate (the sink is the batch operator; micro-batch
    boundaries are exactly the disjoint-split case the rollup's
    mergeability invariant covers). The final table must equal one
    full-history recompute: oracle aliased from q_rollup_incremental so
    the streaming and batch maintenance paths cannot drift."""
    from ..fsql_catalog import _build_once, _tree_dir
    from ..operators.rollup import read_rollup, update_rollup

    src = events_batch_tree(spark, sf)
    schema = spark.read.parquet(src).schema

    def build(staging: str) -> None:
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                # thread the micro-batch id through: a checkpoint-restart
                # replay of an already-merged batch must be a no-op (additive
                # partials are not idempotent; the rollup records the last
                # merged id atomically with its data)
                lambda bdf, bid: update_rollup(spark, bdf, staging, batch_id=bid)
            )
            .option("checkpointLocation", tempfile.mkdtemp(prefix="fsql_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    url = _build_once(_tree_dir(sf, "rollup_stream_v1", "events"), build)
    out = read_rollup(spark, url)
    return out.select(
        "hour_start",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


from ..operators.rollup import Q_ROLLUP_INCREMENTAL_SQL as Q_STREAM_ROLLUP_SQL  # noqa: E402


def stream_sink_tree(spark: SparkSession, sf: str) -> str:
    """Build-once: stream the events table into a Hive-partitioned
    (event_type, date) parquet tree via the streaming sink — the one-time
    ingest that q_stream_sink_roundtrip queries (bench prematerializes it,
    like the other catalog trees)."""
    from ..fsql_catalog import _build_once, _tree_dir

    def build(staging: str) -> None:
        import shutil

        ev = events_stream(spark, sf)
        out = ev.withColumn("date", F.date_format("ts", "yyyy-MM-dd")).select(
            "event_id", "user_id", "value", "event_type", "date"
        )
        stream_to_partitioned_table(out, staging, ["event_type", "date"])
        # the sink's _spark_metadata log records ABSOLUTE file paths under
        # the staging dir; after _build_once renames staging -> dest those
        # paths are dangling, and Spark prefers the metadata log over
        # listing (MetadataLogFileIndex) — a batch read of the renamed tree
        # would throw (or silently fall back off the fast path). The log
        # exists for exactly-once handoff to DOWNSTREAM STREAMS; this tree
        # is a finished batch artifact, so drop it and let reads list.
        shutil.rmtree(f"{staging}/_spark_metadata", ignore_errors=True)

    # v2: layout tag bumped when the _spark_metadata cleanup landed, so
    # pre-fix cached trees (dangling metadata log) are never reused
    return _build_once(_tree_dir(sf, "stream_sink_events_v2", "events"), build)


def q_stream_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming half FEEDING the batch half, end-to-end and
    driver-checked: a real file-source stream sinks into a Hive-partitioned
    parquet tree (``stream_to_partitioned_table``, availableNow), and the
    result is answered THROUGH ``read_partitioned_table`` with Q_EQ
    partition pruning over the engine-written layout — the lake-ingest
    pattern (stream lands partitioned; every later batch query prunes).
    Raw-row append (no windowed agg), so watermark finalization cannot
    withhold tail rows and the batch oracle is exact. The tree is
    build-once per events fingerprint, like the fsql catalog trees."""
    from ..api import read_partitioned_table
    from ..queries import Q_EQ

    url = stream_sink_tree(spark, sf)
    df = read_partitioned_table(url, Q_EQ("event_type", "purchase"), spark=spark)
    return df.groupBy("date").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


Q_STREAM_SINK_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS date,
       COUNT(*)                 AS n_events,
       ROUND(SUM(value), 2)     AS sum_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""


def q_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """REAL stream-stream interval join: purchases joined to the same user's
    clicks within the preceding 30 minutes — two independent file-stream
    sources, state bounded by watermark + join interval on both sides. The
    per-user aggregation runs batch-side on the joined (append-mode) output."""
    purchases = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
    )
    clicks = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_value"))
    )
    joined = stream_stream_join(purchases, clicks, "user_id", "p_ts", "c_ts", within="30 minutes")
    out = run_to_memory(joined, mode="append")
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum("c_value"), 2).alias("click_value"),
    )


Q_STREAM_JOIN_SQL = """
SELECT p.user_id,
       COUNT(*)                AS n_pairs,
       ROUND(SUM(c.value), 2)  AS click_value
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL '30 minutes'
 AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
GROUP BY p.user_id
"""


_TRANS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_pairs", LongType()),
        StructField("pairs_json", StringType()),
    ]
)
_TRANS_STATE_SCHEMA = StructType(
    [
        StructField("last_type", StringType()),
        StructField("counts_json", StringType()),
        StructField("n", LongType()),
    ]
)


def _transition_fn(
    key: Tuple[int], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user transition counting across micro-batches: state carries the
    user's LAST event type (so a pair spanning a batch boundary is still
    counted) plus the cumulative (type -> next) counts as sorted JSON."""
    import json

    if state.exists:
        last_type, counts_json, n = state.get
        counts = json.loads(counts_json)
    else:
        last_type, counts, n = None, {}, 0
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for cur in pdf["event_type"]:
            if last_type is not None:
                k = last_type + "\x01" + cur
                counts[k] = counts.get(k, 0) + 1
                n += 1
            last_type = cur
    state.update((last_type, json.dumps(counts, sort_keys=True), n))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_pairs": [n],
         "pairs_json": [json.dumps(counts, sort_keys=True)]}
    )


def stateful_transitions(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: per-user first-order transition counts in the
    state store — the STREAMING twin of
    :func:`~fsql_spark.operators.sequence.transition_matrix`. Each
    micro-batch emits the user's updated cumulative counts (update mode);
    pairs spanning batch boundaries are counted via the carried last-type.

    Ordering contract: within a batch rows are sorted by (ts, event_id);
    ACROSS batches the source must deliver each user's events in order (the
    Kafka partition-by-key shape; the harness's one-file availableNow
    source trivially satisfies it). An out-of-order source would need a
    watermark-buffered variant."""
    return events.groupBy("user_id").applyInPandasWithState(
        _transition_fn,
        outputStructType=_TRANS_OUT_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_ATTR_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("channel", StringType()),
        StructField("conversions", LongType()),
        StructField("revenue", DoubleType()),
    ]
)
_ATTR_STATE_SCHEMA = StructType(
    [
        StructField("last_touch", StringType()),
        StructField("totals_json", StringType()),
    ]
)
_ATTR_TOUCH_TYPES = ("click", "view")


def _attribution_fn(
    key: Tuple[int], batches: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-user last-touch attribution across micro-batches: state carries
    the latest qualifying touch (so a conversion in a later batch credits a
    touch from an earlier one) plus cumulative per-channel (conversions,
    revenue) as sorted JSON. Revenue accumulates in event order — the same
    left-to-right summation order the batch oracle's user-sequence implies."""
    import json

    if state.exists:
        last_touch, totals_json = state.get
        totals = json.loads(totals_json)
    else:
        last_touch, totals = None, {}
    for pdf in batches:
        pdf = pdf.sort_values(["ts", "event_id"])
        for etype, value in zip(pdf["event_type"], pdf["value"]):
            if etype == "purchase":
                ch = last_touch if last_touch is not None else "direct"
                n, s = totals.get(ch, (0, 0.0))
                totals[ch] = (n + 1, s + float(value))
            if etype in _ATTR_TOUCH_TYPES:
                last_touch = etype
    state.update((last_touch, json.dumps(totals, sort_keys=True)))
    chans = sorted(totals)
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(chans),
            "channel": chans,
            "conversions": [totals[c][0] for c in chans],
            "revenue": [totals[c][1] for c in chans],
        }
    )


def stateful_attribution(events: DataFrame) -> DataFrame:
    """applyInPandasWithState: streaming last-touch revenue attribution —
    the streaming twin of
    :func:`~fsql_spark.operators.sequence.last_touch_attribution`. State
    per user is two scalars (last touch + totals JSON); each micro-batch
    emits the user's updated per-channel totals (update mode). Same
    ordering contract as :func:`stateful_transitions` (in-order-per-key
    source; rows sorted within the batch)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _attribution_fn,
        outputStructType=_ATTR_OUT_SCHEMA,
        stateStructType=_ATTR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming last-touch attribution: stateful per-user crediting in the
    state store, combined batch-side into per-channel conversions +
    revenue (2dp) — identical output to the batch q_events_attribution,
    proved by the same oracle."""
    from pyspark.sql.window import Window

    raw = run_to_memory(stateful_attribution(events_stream(spark, sf)), mode="update")
    # update mode: latest (user, channel) row wins — conversions is monotone
    w = Window.partitionBy("user_id", "channel").orderBy(F.desc("conversions"))
    latest = (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    return (
        latest.groupBy("channel")
        .agg(
            F.sum("conversions").alias("conversions"),
            F.round(F.sum("revenue"), 2).alias("revenue"),
        )
        .orderBy("channel")
    )


Q_STREAM_ATTRIBUTION_SQL = """
WITH tagged AS (
  SELECT event_type, value,
         LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
  FROM events
)
SELECT COALESCE(channel, 'direct') AS channel,
       COUNT(*) AS conversions,
       ROUND(SUM(value), 2) AS revenue
FROM tagged
WHERE event_type = 'purchase'
GROUP BY 1
ORDER BY 1
"""


def q_stream_markov(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming Markov transition matrix: per-user stateful pair counting
    in the state store, then a batch-side combine of the users' final count
    maps into the corpus (type, next_type, n, p) matrix — identical output
    to the batch q_markov_transitions, proved by the same oracle."""
    from pyspark.sql.types import LongType as _L
    from pyspark.sql.types import MapType, StringType as _S
    from pyspark.sql.window import Window

    raw = run_to_memory(stateful_transitions(events_stream(spark, sf)), mode="update")
    # update mode emits one row per (user, micro-batch); the final counts
    # are the row with the highest (monotone) pair count
    w = Window.partitionBy("user_id").orderBy(F.desc("n_pairs"))
    latest = (
        raw.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(F.from_json("pairs_json", MapType(_S(), _L())).alias("m"))
    )
    pairs = latest.select(F.explode("m").alias("k", "n")).select(
        F.split_part("k", F.lit("\x01"), F.lit(1)).alias("type"),
        F.split_part("k", F.lit("\x01"), F.lit(2)).alias("next_type"),
        "n",
    )
    counts = pairs.groupBy("type", "next_type").agg(F.sum("n").alias("n"))
    w_row = Window.partitionBy("type")
    return (
        counts.withColumn("p", F.round(F.col("n") / F.sum("n").over(w_row), 4))
        .orderBy("type", "next_type")
    )


Q_STREAM_MARKOV_SQL = """
WITH pairs AS (
  SELECT event_type AS type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
),
counts AS (
  SELECT type, next_type, COUNT(*) AS n
  FROM pairs WHERE next_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT type, next_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY type), 4) AS p
FROM counts
ORDER BY type, next_type
"""


def q_stream_dsir_score(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR selection scoring AT CRAWL INGEST: the hashed-n-gram log-ratio
    model is fit offline on the batch corpus (``dsir_fit`` — the shipped
    B-sized artifact), then every arriving document hashes its own grams
    and sums ratios ROW-LOCALLY via the stateless kernel scorer — no join,
    no aggregation state, no watermark; the array-sized model rides in the
    closure. The streaming face of entry #192: a real crawl scores docs as
    they arrive and resamples downstream in batch. Audit: per-lang doc
    counts + mean llr over the appended output, replayed exactly by the
    shared model/scoring CTEs."""
    from ..operators.dsir import DSIR_BUCKETS, dsir_fit, dsir_score_stateless

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ratio_rows = dsir_fit(docs, "text", F.col("lang") == "en", DSIR_BUCKETS)
    scored = dsir_score_stateless(
        documents_stream(spark, sf), ratio_rows, DSIR_BUCKETS, carry_cols=("lang",)
    )
    out = run_to_memory(scored.select("lang", "llr"), mode="append")
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("llr"), 4).alias("avg_llr"),
        )
        .orderBy("lang")
    )


def q_stream_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Decontamination AT CRAWL INGEST — the streaming twin of
    #202 q_contamination_fraction (the q_stream_dsir_score playbook): the
    distinct benchmark gram set is built batch-side from the fixed eval
    slice (doc_id < 20) and shipped in the stateless kernel's closure;
    every arriving corpus document grams itself and intersects row-locally
    — no join, no aggregation state, no watermark. Same output schema,
    same oracle SQL as the batch entry: the drop verdicts a crawl-time
    quarantine makes must be EXACTLY the ones the batch audit would."""
    from ..operators.decontam import benchmark_grams, contamination_score_stateless

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    bench_rows = benchmark_grams(
        docs.where(F.col("doc_id") < 20), "text", ngram=4
    ).collect()
    stream = documents_stream(spark, sf).where(F.col("doc_id") >= 20)
    scored = contamination_score_stateless(
        stream, bench_rows, "doc_id", "text", ngram=4, threshold=0.5
    )
    return run_to_memory(scored, mode="append")


def q_stream_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-classifier filtering AT CRAWL INGEST — the streaming twin
    of #205 q_quality_classifier (the DCLM deployment shape, same playbook
    as q_stream_dsir_score): the B-row weight vector is fit batch-side on
    the corpus, ships in the stateless kernel's closure, and every
    arriving document is scored row-locally — no join, no aggregation
    state, no watermark. Same output schema and the batch entry's oracle
    VERBATIM: the keep verdicts a crawl-time filter makes must be exactly
    the batch audit's."""
    from ..operators.quality import (
        QC_BUCKETS,
        quality_classifier_fit,
        quality_score_stateless,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    weight_rows, bias = quality_classifier_fit(
        docs, "text", F.col("lang") == "en", QC_BUCKETS
    )
    scored = quality_score_stateless(
        documents_stream(spark, sf), weight_rows, bias, "doc_id", "text", QC_BUCKETS
    )
    return run_to_memory(scored, mode="append")


from ..operators.quality import Q_QUALITY_CLASSIFIER_SQL  # noqa: E402

Q_STREAM_QUALITY_CLASSIFIER_SQL = Q_QUALITY_CLASSIFIER_SQL

from ..operators.decontam import Q_CONTAMINATION_FRACTION_SQL  # noqa: E402

# the batch entry's oracle applies VERBATIM: the stream scores the same
# corpus slice against the same benchmark gram set with the same arithmetic
Q_STREAM_CONTAMINATION_SQL = Q_CONTAMINATION_FRACTION_SQL

from ..operators.dsir import _DSIR_SCORES_CTE  # noqa: E402

# composes the SHARED model/scoring CTEs (one SQL definition of the DSIR
# arithmetic — a bucket-count or smoothing change cannot drift between the
# batch selection oracle and this twin)
Q_STREAM_DSIR_SQL = f"""
WITH {_DSIR_SCORES_CTE}
SELECT d.lang,
       COUNT(*)             AS n_docs,
       ROUND(AVG(s.llr), 4) AS avg_llr
FROM scores s JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""


STREAMING_QUERIES = {
    "q_stream_dedup": q_stream_dedup,
    "q_stream_contamination": q_stream_contamination,
    "q_stream_quality_classifier": q_stream_quality_classifier,
    "q_stream_dsir_score": q_stream_dsir_score,
    "q_stream_markov": q_stream_markov,
    "q_stream_attribution": q_stream_attribution,
    "q_stream_hourly": q_stream_hourly,
    "q_stream_sliding": q_stream_sliding,
    "q_stream_sessions": q_stream_sessions,
    "q_stream_user_totals": q_stream_user_totals,
    "q_stream_join": q_stream_join,
    "q_stream_sink_roundtrip": q_stream_sink_roundtrip,
    "q_stream_ingest_dedup": q_stream_ingest_dedup,
    "q_stream_quality_filter": q_stream_quality_filter,
    "q_stream_anomaly": q_stream_anomaly,
    "q_stream_rollup_ingest": q_stream_rollup_ingest,
    "q_stream_perplexity": q_stream_perplexity,
    "q_stream_frame_sample": q_stream_frame_sample,
    "q_stream_audio_decode": q_stream_audio_decode,
    "q_stream_video_decode": q_stream_video_decode,
    "q_stream_html_extract": q_stream_html_extract,
}

STREAMING_ORACLES = {
    "q_stream_dedup": Q_STREAM_DEDUP_SQL,
    "q_stream_contamination": Q_STREAM_CONTAMINATION_SQL,
    "q_stream_quality_classifier": Q_STREAM_QUALITY_CLASSIFIER_SQL,
    "q_stream_dsir_score": Q_STREAM_DSIR_SQL,
    "q_stream_markov": Q_STREAM_MARKOV_SQL,
    "q_stream_attribution": Q_STREAM_ATTRIBUTION_SQL,
    "q_stream_join": Q_STREAM_JOIN_SQL,
    "q_stream_hourly": Q_STREAM_HOURLY_SQL,
    "q_stream_sliding": Q_STREAM_SLIDING_SQL,
    "q_stream_sessions": Q_STREAM_SESSIONS_SQL,
    "q_stream_user_totals": Q_STREAM_USER_TOTALS_SQL,
    "q_stream_sink_roundtrip": Q_STREAM_SINK_SQL,
    "q_stream_ingest_dedup": Q_STREAM_INGEST_DEDUP_SQL,
    "q_stream_quality_filter": Q_STREAM_QUALITY_SQL,
    "q_stream_anomaly": Q_STREAM_ANOMALY_SQL,
    "q_stream_rollup_ingest": Q_STREAM_ROLLUP_SQL,
    "q_stream_perplexity": Q_STREAM_PERPLEXITY_SQL,
    "q_stream_frame_sample": Q_STREAM_FRAME_SAMPLE_SQL,
    "q_stream_audio_decode": Q_STREAM_AUDIO_DECODE_SQL,
    "q_stream_video_decode": Q_STREAM_VIDEO_DECODE_SQL,
    "q_stream_html_extract": Q_STREAM_HTML_SQL,
}
