"""The two workloads: fixed op lists whose parameters come from the seed.

An op is one public call into the engine (its *build*) plus the action that
makes the result concrete. Every op knows how to compute its expected result
outside the timed region, so each run checks what it measured.

- ``files``: the file-layer half of the engine. Reads: direct
  ``read_partitioned_table`` calls on a 1,455-partition lineitem
  ``year/month/day`` tree (every query kind, one day to the whole tree) and
  the catalog's ``q_fsql_*`` trees. Writes: seeded daily ``events`` batches
  committed with ``overwrite_partitions`` into a ``day/hour`` tree and read
  back, a per-day ``compact``, and streaming entries: two sink a stream
  into a fresh tree on every call, two run into a memory sink.
- ``compute``: the halves the engine delegates to Spark. TPC-H and
  relational shapes over flat parquet (joins, aggregates, shuffles, no
  Python) interleaved with LLM-pipeline operators (dedup, perplexity,
  TF-IDF, kNN, media decode) whose time goes to the Arrow/Python boundary.
  It lists no directory trees.

One run is one pass; the lists are sized so a pass takes about half a
minute on 4 CPUs.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd

WORKLOADS = ("files", "compute")

#: Every fsql catalog entry: orc, csv, json.gz, compacted, many-file,
#: value-only (fixed columns), generated-grammar, restated, drifting,
#: retention, sorted, z-ordered and bucketed trees, date/lex ranges, Q_EQ and
#: Q_IN pushdown, an AtomicQuery crawl and a SQL read of a partitioned table.
SCAN_ENTRIES = [
    "q_fsql_orc_scan", "q_fsql_csv_scan", "q_fsql_jsongz_scan", "q_fsql_compacted_scan",
    "q_fsql_manyfile_scan", "q_fsql_fixed_columns", "q_fsql_generated_scan",
    "q_fsql_daterange_revenue", "q_fsql_lexrange_revenue", "q_fsql_eq_in_pushdown",
    "q_fsql_sorted_scan", "q_fsql_zorder_scan", "q_fsql_restated_scan", "q_fsql_drift_scan",
    "q_fsql_retention_scan", "q_fsql_bucketed_join", "q_fsql_atomic_discovery",
    "q_sql_yearly_revenue",
]

#: The scan tree holds lineitem shipped in [1995, 1999): 1,455 day
#: partitions; predicates draw their year from the first three.
SCAN_YEARS = (1995, 1998)
SCAN_TREE_END = "1999-01-01"

#: TPC-H shapes (aggregates, 3- to 6-way joins, IN and EXISTS subqueries)
#: plus one entry per relational shape.
#: q2_min_cost_supplier is left out: on the benchmark's data its Spark result
#: differs from the DuckDB oracle in one half-cent rounding (917.44 vs 917.45).
ANALYTICS_ENTRIES = ["q1_", "q3_", "q4_", "q5_", "q6_", "q7_", "q9_", "q10_", "q12_", "q14_", "q18_", "q21_"] + [
    "q_customer_running_total",  # window
    "q_cube_order_stats",  # cube
    "q_pivot_priority_by_year",  # pivot
    "q_events_sessionize",  # sessionization
    "q_asof_click_purchase",  # as-of join
    "q_range_join_bursts",  # range join
]

#: Dedup (exact, MinHash, SimHash, semantic), quality classifier,
#: perplexity, TF-IDF, kNN and JPEG decode; the exact-dedup, chunking and
#: text-stats ops stay in the JVM and bypass the Python boundary.
CORPUS_ENTRIES = [
    "q_dedup_exact", "q_minhash_near_dups", "q_simhash_near_dups", "q_semantic_dedup",
    "q_quality_classifier", "q_doc_perplexity", "q_tfidf_terms", "q_embedding_knn",
    "q_image_decode_jpeg", "q_chunk_documents", "q_doc_text_stats",
]

STREAM_ENTRIES = ["q_stream_sink_roundtrip", "q_stream_rollup_ingest", "q_stream_dedup", "q_stream_hourly"]

#: Streaming entries that sink into a build-once tree: each execution runs
#: against an empty tree root, so the stream-to-tree write (a parquet sink,
#: a foreachBatch rollup merge) happens inside the timed build every time.
#: The value names the source trees the stream reads, copied in untimed.
SINKING_ENTRIES = {"q_stream_sink_roundtrip": (), "q_stream_rollup_ingest": ("events_batch_tree",)}

#: Ingest: one pass commits this many seeded days, one per streaming entry.
INGEST_COMMITS = len(STREAM_ENTRIES)
INGEST_DAYS = 30
INGEST_ROWS_PER_DAY = 3300
INGEST_EPOCH = datetime.date(2024, 1, 1)


@dataclass
class Op:
    """One op: ``build`` is the public call, ``action`` makes it concrete,
    ``expect`` computes the expected outcome (untimed), ``module`` names the
    engine module the op calls into."""

    key: str
    kind: str
    module: str
    build: Callable[["Ctx"], Any]
    action: Callable[[Any], Any]
    expect: Callable[["Ctx"], Any]
    input_bytes: int = 0  # in-memory size of the rows a write op commits
    prepare: Callable[["Ctx"], None] | None = None  # untimed, before each build


@dataclass
class Ctx:
    """What ops need at run time; ``layer`` collects driver-side times of
    public calls made inside a build (api.read_ms, write.ms, ...)."""

    spark: Any
    sf_dir: str
    scan_tree: str
    ingest_tree: str
    fs: Any = None
    sink_dir: str = ""  # parent of the fresh tree roots of sinking entries
    duck: Any = None
    oracle: Callable[[str], str] | None = None
    layer: dict = field(default_factory=dict)

    def timed(self, name: str, fn, *args, **kwargs):
        import time

        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            self.layer[name] = self.layer.get(name, 0.0) + (time.perf_counter() - t0) * 1e3


def catalog() -> dict[str, Callable]:
    import __spark_entry__

    return __spark_entry__.queries()


def _entry_names(prefixes: list[str], names: list[str]) -> list[str]:
    """Resolve ``q1_`` style prefixes against the catalog, keeping order."""
    out = []
    for p in prefixes:
        hits = [n for n in names if n == p or (p.endswith("_") and n.startswith(p))]
        if len(hits) != 1:
            raise KeyError(f"catalog entry {p!r} matches {hits}")
        out.append(hits[0])
    return out


def entry_op(name: str, fn: Callable) -> Op:
    """A catalog entry; its collected result is hashed against the oracle."""
    return Op(
        key=name,
        kind="entry",
        module=fn.__module__,
        build=lambda ctx: fn(ctx.spark, ctx.sf_dir),
        action=lambda df: df.toPandas(),
        expect=lambda ctx: ctx.oracle(name),
    )


def sinking_entry_op(name: str, fn: Callable, sources: tuple[str, ...]) -> Op:
    """A streaming entry whose stream sinks into a build-once tree, run
    against a fresh catalog tree root so the sink is part of every build."""
    import itertools
    import os
    import shutil

    from fsql_spark import fsql_catalog
    from fsql_spark.streaming import windows

    runs = itertools.count()
    root = ""

    def prepare(ctx: Ctx) -> None:
        nonlocal root
        root = os.path.join(ctx.sink_dir, f"{name}-{next(runs)}")
        for source in sources:
            tree = getattr(windows, source)(ctx.spark, ctx.sf_dir)
            shutil.copytree(tree, os.path.join(root, os.path.relpath(tree, fsql_catalog._TREE_ROOT)))

    def build(ctx: Ctx):
        shared, fsql_catalog._TREE_ROOT = fsql_catalog._TREE_ROOT, root
        try:
            return fn(ctx.spark, ctx.sf_dir)
        finally:
            fsql_catalog._TREE_ROOT = shared

    op = entry_op(name, fn)
    op.build, op.prepare = build, prepare
    return op


# --- scan ---------------------------------------------------------------


def _agg(df) -> tuple[int, float]:
    from pyspark.sql import functions as F

    row = df.agg(F.count("*"), F.sum("l_quantity")).collect()[0]
    return int(row[0]), float(row[1] or 0.0)


def _tree_op(key: str, query, where_sql: str) -> Op:
    from fsql_spark import read_partitioned_table

    def build(ctx: Ctx):
        return ctx.timed("api.read_ms", read_partitioned_table, ctx.scan_tree, query, fs=ctx.fs, spark=ctx.spark)

    def expect(ctx: Ctx):
        row = ctx.duck.execute(
            "SELECT count(*), coalesce(sum(l_quantity), 0) FROM lineitem "
            f"WHERE {where_sql}"
        ).fetchone()
        return int(row[0]), float(row[1])

    return Op(key, "read", "fsql_spark.api", build, _agg, expect)


def scan_tree_ops(rng: random.Random) -> list[Op]:
    """Six reads of the lineitem tree: every query kind, one day to all."""
    from fsql_spark.queries import (
        Q_AND, Q_EQ, Q_IN, Q_TRUE, AtomicQuery, ColumnComparator, ColumnRange,
        DateRangeQuery, LexRangeQuery,
    )

    y = rng.randrange(SCAN_YEARS[0], SCAN_YEARS[1])
    m = rng.randrange(1, 13)
    d = rng.randrange(1, 29)
    months = sorted(rng.sample(range(1, 13), 3))
    start = datetime.date(y, m, d)
    week_end = start + datetime.timedelta(days=7)
    ymd = "year(l_shipdate)", "month(l_shipdate)", "day(l_shipdate)"
    ship = "CAST(l_shipdate AS DATE)"
    half = rng.randrange(0, 2)
    lo_m, hi_m = (1, 6) if half == 0 else (7, 12)
    num = ColumnComparator.num
    return [
        _tree_op(
            f"tree.eq.{y}-{m}-{d}",
            Q_AND(Q_EQ("year", str(y)), Q_AND(Q_EQ("month", str(m)), Q_EQ("day", str(d)))),
            f"{ymd[0]} = {y} AND {ymd[1]} = {m} AND {ymd[2]} = {d}",
        ),
        _tree_op(
            f"tree.in.{y}.{months}",
            Q_AND(Q_EQ("year", str(y)), Q_IN("month", [str(x) for x in months])),
            f"{ymd[0]} = {y} AND {ymd[1]} IN ({', '.join(map(str, months))})",
        ),
        _tree_op(
            f"tree.week.{start}",
            DateRangeQuery(start, week_end),
            f"{ship} >= DATE '{start}' AND {ship} < DATE '{week_end}'",
        ),
        _tree_op(
            f"tree.lex.{y}-{m}",
            LexRangeQuery(
                [ColumnRange("year", str(y), str(y + 1), num), ColumnRange("month", str(m), str(m), num)]
            ),
            f"({ymd[0]} > {y} OR {ymd[1]} >= {m}) AND ({ymd[0]} < {y + 1} OR {ymd[1]} < {m}) "
            f"AND {ymd[0]} BETWEEN {y} AND {y + 1}",
        ),
        _tree_op(
            f"tree.atomic.{y}.h{half}",
            AtomicQuery(lambda year, month: year == str(y) and lo_m <= int(month) <= hi_m),
            f"{ymd[0]} = {y} AND {ymd[1]} BETWEEN {lo_m} AND {hi_m}",
        ),
        _tree_op("tree.all", Q_TRUE, f"l_shipdate < TIMESTAMP '{SCAN_TREE_END}'"),
    ]


# --- ingest -------------------------------------------------------------


def day_label(i: int) -> str:
    return (INGEST_EPOCH + datetime.timedelta(days=i)).isoformat()


def ingest_batch(seed: int, day: int) -> pd.DataFrame:
    """One day of events: fixed size, contents drawn from (seed, day)."""
    rng = np.random.default_rng([seed, day])
    n = INGEST_ROWS_PER_DAY
    us = np.sort(rng.integers(0, 86_400_000_000, n))
    hours = us // 3_600_000_000
    ts = pd.Timestamp(INGEST_EPOCH) + pd.Timedelta(days=day) + pd.to_timedelta(us, unit="us")
    return pd.DataFrame(
        {
            "event_id": np.arange(day * n, (day + 1) * n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n).astype(np.int64),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n)],
            "value": np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2),
            "day": day_label(day),
            "hour": [f"{h:02d}" for h in hours],
        }
    )


def batch_digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, sum of value in cents): exact under any summation order."""
    return len(pdf), int(np.rint(pdf["value"].to_numpy() * 100).astype(np.int64).sum())


def _readback(ctx: Ctx, day: int):
    from fsql_spark import Q_EQ, read_partitioned_table

    return ctx.timed(
        "api.read_ms", read_partitioned_table, ctx.ingest_tree, Q_EQ("day", day_label(day)), fs=ctx.fs, spark=ctx.spark
    )


def _cents(df) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = df.agg(F.count("*"), F.sum(F.round(F.col("value") * 100).cast("long"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def commit_op(seed: int, day: int) -> Op:
    from fsql_spark import overwrite_partitions

    pdf = ingest_batch(seed, day)
    digest = batch_digest(pdf)

    def build(ctx: Ctx):
        df = ctx.spark.createDataFrame(pdf)
        ctx.timed("write.ms", overwrite_partitions, df, ctx.ingest_tree, ["day", "hour"], fs=ctx.fs)
        return _readback(ctx, day)

    return Op(
        f"commit.{day_label(day)}", "write", "fsql_spark.maintenance", build, _cents,
        lambda ctx: digest, input_bytes=int(pdf.memory_usage(deep=True).sum()),
    )


def compact_op(seed: int, day: int) -> Op:
    """Compact one day's subtree (hour partitions), then read it back; the
    op list always commits ``day`` earlier in the same pass."""
    import os

    from fsql_spark import compact

    digest = batch_digest(ingest_batch(seed, day))

    def build(ctx: Ctx):
        url = os.path.join(ctx.ingest_tree, f"day={day_label(day)}")
        ctx.timed("maintenance.compact_ms", compact, ctx.spark, url, partition_by=["hour"], fs=ctx.fs)
        return _readback(ctx, day)

    return Op(f"compact.{day_label(day)}", "compact", "fsql_spark.maintenance", build, _cents, lambda ctx: digest)


# --- op lists -----------------------------------------------------------


def _interleave(a: list, b: list) -> list:
    out = [x for pair in zip(a, b) for x in pair]
    return out + a[len(b):] + b[len(a):]


def op_list(workload: str, seed: int, entries: dict[str, Callable] | None = None) -> list[Op]:
    """The op list of one pass. The seed draws the scan predicates and the
    ingest days and batches. Order and composition never depend on it: an
    op's latency depends on what ran before it in the same JVM and Python
    workers, so a seeded order would add spread that is not the engine's."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = random.Random(f"{workload}:{seed}")
    entries = entries if entries is not None else catalog()
    names = list(entries)

    def entry_ops(prefixes):
        return [
            sinking_entry_op(n, entries[n], SINKING_ENTRIES[n]) if n in SINKING_ENTRIES else entry_op(n, entries[n])
            for n in _entry_names(prefixes, names)
        ]

    if workload == "compute":
        return _interleave(entry_ops(ANALYTICS_ENTRIES), entry_ops(CORPUS_ENTRIES))
    reads = _interleave(scan_tree_ops(rng), entry_ops(SCAN_ENTRIES))
    days = rng.sample(range(INGEST_DAYS), INGEST_COMMITS)
    writes = _interleave([commit_op(seed, d) for d in days], entry_ops(STREAM_ENTRIES))
    writes.insert(1, compact_op(seed, days[0]))  # a compact follows the first commit
    return reads + writes


def warmup_ops(workload: str, entries: dict[str, Callable] | None = None) -> list[Op]:
    """Fixed ops run untimed in set-up, the same for every seed: they pay
    the first-query costs (the first stream, and for compute the Python
    worker start) the timed pass should not see."""
    entries = entries if entries is not None else catalog()
    if workload == "files":
        stream = [entry_op(n, entries[n]) for n in _entry_names(["q_stream_hourly"], list(entries))]
        return scan_tree_ops(random.Random(0))[:1] + [commit_op(0, 0)] + stream
    return [entry_op(n, entries[n]) for n in _entry_names(["q6_", "q_embedding_knn"], list(entries))]
