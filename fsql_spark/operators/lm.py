"""Unigram language-model scoring: corpus-trained token model + per-document
cross-entropy / perplexity — the CCNet-style "how surprising is this document
under the corpus distribution" quality signal an LLM-data pipeline uses to
rank and filter crawl text (Wenzek et al. 2019 use a KenLM 5-gram; the
unigram variant keeps the same two-pass shape while staying exactly
SQL-replicable for the oracle gate).

Scale shape (the 100 TB story):

- :func:`unigram_model` is ONE token-keyed aggregate over the corpus
  (map-side combinable: the map side already emits one (doc, token, tf) row
  per distinct pair via the zero-shuffle :func:`~fsql_spark.operators.vocab.
  term_frequencies` kernel, so only collapsed counts ride the exchange),
  followed by a top-K cut. The model is tokenizer-vocabulary-sized metadata
  (K rows), NOT corpus-sized — exactly the artifact a real pipeline ships.
- The two model scalars (total token mass T, kept-vocab size V) come from
  one aggregate over the token-keyed counts — driver-side scalars, not data.
- :func:`doc_cross_entropy` never shuffles the corpus: the map-only tf
  stream joins the BROADCAST model, and the per-document aggregate's map
  side collapses each document's rows locally (a document's tf rows are
  co-located by construction), so the exchange carries one narrow partial
  row per document.

No reference counterpart (the reference delegates row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pinned
from .vocab import term_frequencies, vocabulary


def unigram_model(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 30_000,
    tf: DataFrame | None = None,
    counts: DataFrame | None = None,
) -> tuple[DataFrame, float, int, int]:
    """Laplace-smoothed unigram model over the corpus: the ``top_k`` tokens
    by total term frequency (ties broken lexically — deterministic cut).

    Returns ``(model, oov_logprob, total_tf, vocab_size)`` where ``model``
    has columns ``(token, tf, logprob)`` with
    ``logprob = ln((tf + 1) / (T + V + 1))`` for total corpus token mass
    ``T`` (ALL occurrences, in- and out-of-vocabulary) and kept-vocab size
    ``V = min(top_k, distinct tokens)``; every out-of-vocabulary token
    scores the shared unknown mass ``oov_logprob = ln(1 / (T + V + 1))``.
    Exact integer counts feed one ``ln`` per token, so a SQL engine replays
    the model bit-for-bit.

    Pass a (persisted) ``tf`` stream from :func:`~fsql_spark.operators.
    vocab.term_frequencies` to share one tokenization pass between model
    training and document scoring — at corpus scale the text is tokenized
    ONCE, never per consumer. ``counts`` goes one step further: an already
    token-keyed ``(token, total_tf)`` relation (e.g. summed from a bigram
    pair-count table, whose ``cur`` column enumerates every occurrence)
    skips the tokenize AND the token shuffle here entirely.

    The returned model is MATERIALIZED (driver-held, rebuilt as a local
    DataFrame): it is vocabulary-sized metadata by definition — the
    artifact a real pipeline ships — and materializing it here lets the
    training-side cache be released immediately instead of leaking a
    corpus-scale persist per training call (review find); downstream plans
    then broadcast a self-contained relation with no lineage back into the
    corpus."""
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    if counts is None:
        if tf is not None:
            counts = tf.groupBy("token").agg(
                F.count(F.lit(1)).alias("doc_freq"), F.sum("tf").alias("total_tf")
            )
        else:
            counts = vocabulary(corpus, id_col, text_col)
    with pinned(counts):
        # T and V are model metadata: one aggregate over the token-keyed
        # counts (vocabulary-sized, NOT corpus-sized), two driver scalars.
        tot = counts.agg(
            F.sum("total_tf").alias("t"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        total_tf = int(tot["t"] or 0)
        vocab_size = min(top_k, int(tot["n"]))
        denom = float(total_tf + vocab_size + 1)
        rows = (
            counts.orderBy(F.desc("total_tf"), "token")
            .limit(top_k)
            .select(
                "token",
                F.col("total_tf").alias("tf"),
                F.log((F.col("total_tf") + F.lit(1.0)) / F.lit(denom)).alias("logprob"),
            )
            .collect()
        )
    schema = StructType(
        [
            StructField("token", StringType()),
            StructField("tf", LongType()),
            StructField("logprob", DoubleType()),
        ]
    )
    model = corpus.sparkSession.createDataFrame(rows, schema)
    return model, math.log(1.0 / denom), total_tf, vocab_size


def doc_cross_entropy(
    df: DataFrame,
    model: DataFrame,
    oov_logprob: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-document cross-entropy under a unigram model:
    ``(id, n_tokens, n_oov, cross_entropy, perplexity)`` with
    ``cross_entropy = -avg(logprob per token occurrence)`` and
    ``perplexity = exp(cross_entropy)``.

    The corpus never shuffles: tf pairs are map-only, the model join is a
    broadcast, and the document aggregate's partial (map-side) step collapses
    each document's co-located rows before the exchange — one narrow partial
    row per document crosses the wire. Pass ``tf`` to reuse an existing
    term-frequency stream (one tokenization pass for train + score)."""
    if tf is None:
        tf = term_frequencies(df, id_col, text_col)
    scored = tf.join(F.broadcast(model.select("token", "logprob")), "token", "left")
    lp = F.coalesce(F.col("logprob"), F.lit(oov_logprob))
    n_tokens = F.sum("tf")
    return (
        scored.groupBy(id_col)
        .agg(
            n_tokens.alias("n_tokens"),
            F.sum(F.when(F.col("logprob").isNull(), F.col("tf")).otherwise(F.lit(0))).alias(
                "n_oov"
            ),
            (-F.sum(F.col("tf") * lp) / n_tokens).alias("cross_entropy"),
        )
        .withColumn("perplexity", F.exp("cross_entropy"))
    )


def _py_tokens(text: str | None) -> list[str]:
    """THE Python-side tokenization, shared by every stateless kernel —
    must stay equivalent to the JVM side (``split(text, ' ')`` + non-empty
    filter in term_frequencies / _pair_stream) and the SQL CTEs. One
    definition: a tokenization tweak cannot silently desynchronize the
    scorers (_LM_FORMAT guards the persisted-model side of the same
    hazard)."""
    return [t for t in (text or "").split(" ") if t]


#: stateless scorers collect the model to the driver and ship it in the
#: kernel closure. The bound normally comes from the TRAINER's top-K caps
#: (30k unigram / 100k bigram), but a model LOADED from an external parquet
#: carries no such guarantee — refuse to collect past this ceiling rather
#: than silently OOM the driver. ~2M rows of (token, logprob) is ~100 MB
#: in the closure: already past where the join formulation wins anyway.
MAX_STATELESS_MODEL_ROWS = 2_000_000


def _collect_model_bounded(model: DataFrame, cols: list, what: str) -> list:
    rows = model.select(*cols).limit(MAX_STATELESS_MODEL_ROWS + 1).collect()
    if len(rows) > MAX_STATELESS_MODEL_ROWS:
        raise ValueError(
            f"{what}: model exceeds {MAX_STATELESS_MODEL_ROWS} rows — too large "
            "for a stateless kernel closure; use the broadcast-join "
            "formulation (doc_cross_entropy / doc_bigram_cross_entropy) "
            "or retrain with a top-K cap"
        )
    return rows


def doc_cross_entropy_stateless(
    df: DataFrame,
    logprobs: dict | DataFrame,
    oov_logprob: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple = (),
) -> DataFrame:
    """STATELESS per-document cross-entropy: the model rides as a plain dict
    in the kernel closure (vocabulary-sized — the shipped artifact), each
    document scores row-locally inside one Arrow batch, and there is no
    aggregation at all — so the same code runs unmodified on a readStream
    (crawl-time scoring) where the groupBy formulation would need
    unbounded state. Zero-token documents emit no row, matching
    :func:`doc_cross_entropy`. ``logprobs`` may be the model DataFrame from
    :func:`unigram_model` (token/logprob collected here) or a prebuilt
    ``{token: logprob}`` dict."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if isinstance(logprobs, DataFrame):
        logprobs = {
            r["token"]: r["logprob"]
            for r in _collect_model_bounded(
                logprobs, ["token", "logprob"], "doc_cross_entropy_stateless"
            )
        }
    src = df.select(id_col, text_col, *carry_cols)
    schema = StructType(
        [src.schema[id_col]]
        + [src.schema[c] for c in carry_cols]
        + [
            StructField("n_tokens", LongType()),
            StructField("n_oov", LongType()),
            StructField("cross_entropy", DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            carries = [pdf[c] for c in carry_cols]
            # zip over plain columns (no per-row Series construction) and
            # ONE dict probe per token (None sentinel = OOV)
            for key, text, *extra in zip(pdf[id_col], pdf[text_col], *carries):
                toks = _py_tokens(text)
                if not toks:
                    continue
                lps = [logprobs.get(t) for t in toks]
                n_oov = sum(1 for v in lps if v is None)
                total = sum(v if v is not None else oov_logprob for v in lps)
                rows.append((key, *extra, len(toks), n_oov, -total / len(toks)))
            yield pd.DataFrame(
                rows, columns=[id_col, *carry_cols, "n_tokens", "n_oov", "cross_entropy"]
            )

    return src.mapInPandas(run, schema=schema)


#: bump when the tokenization/smoothing definition changes: an old persisted
#: model scored against newly-tokenized batches would be silently wrong
_LM_FORMAT = 1
_LM_META_COLS = ["__oov_logprob", "__total_tf", "__vocab_size", "__lm_fmt"]


# --------------------------------------------------------------------------
# bigram LM (unigram backoff)
# --------------------------------------------------------------------------

def _pair_stream(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc, prev, cur) for every token occurrence — ``prev`` NULL for each
    document's first token. Built ROW-LOCALLY with a transform over the
    token array (JVM-side, no per-doc window/shuffle — the LAG formulation
    would shuffle the whole corpus on doc_id just to look one token back).
    The outer single-element transform let-binds the filtered split once
    per row (the HOF-CSE lesson from the shingle kernels)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")

    def _of(ts):
        n = F.size(ts)
        pairs = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.struct(
                F.when(i > 1, F.element_at(ts, i - 1)).alias("prev"),
                F.element_at(ts, i).alias("cur"),
            ),
        )
        # n == 0 must short-circuit: sequence(1, 0) is a DESCENDING [1, 0]
        # whose 0 index would throw under ANSI element_at
        return F.when(
            n <= 0, F.array().cast("array<struct<prev:string,cur:string>>")
        ).otherwise(pairs)

    arr = F.transform(F.array(toks), _of)[0]
    # NOT spread (r14 A/B): shuffling the compact text rows to parallelize
    # the pair explosion costs more than the one-task explosion itself at
    # tested scale (the perplexity entries regressed 1.3->4 s under the
    # spread); many-file corpora already arrive parallel.
    return df.select(F.col(id_col), F.explode(arr).alias("p")).select(
        id_col, F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur")
    )


def bigram_model(
    corpus: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100_000,
    pairs: DataFrame | None = None,
    pair_counts: DataFrame | None = None,
) -> DataFrame:
    """Laplace-smoothed bigram table: the ``top_k`` (prev, cur) pairs by
    corpus count (ties lexical — deterministic cut) with
    ``logprob = ln((c(prev,cur) + 1) / (ctx(prev) + V + 1))`` where
    ``ctx(prev)`` counts ALL bigrams with that context (not just kept ones)
    and ``V`` is the unigram vocab size — so the bigram and unigram layers
    smooth against the same vocabulary. Exact integer counts into one ln
    per pair: a SQL engine replays the table bit-for-bit.

    Scale shape: pair extraction is map-only (row-local transform), the
    count is one map-side-combinable shuffle on (prev, cur), and the
    returned table is MATERIALIZED driver-side (top-k-sized metadata, the
    shipped artifact) — downstream scoring broadcasts it with no lineage
    back into the corpus. Pass a (persisted) ``pairs`` stream from
    :func:`_pair_stream` to share ONE pair-extraction pass between model
    training and document scoring (the ``tf=`` convention of
    :func:`unigram_model`). ``pair_counts`` goes one step further: an
    already (prev, cur)-keyed ``(prev, cur, c12)`` count table (prev NULL
    rows — document-first tokens — welcome, filtered here) skips the
    corpus-scale shuffle entirely, letting ONE pair-count aggregate feed
    both LM layers."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    if pair_counts is None:
        if pairs is None:
            pairs = _pair_stream(corpus, id_col, text_col)
        pair_counts = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c12"))
    counts = pair_counts.where(F.col("prev").isNotNull())
    with pinned(counts):
        ctx = counts.groupBy("prev").agg(F.sum("c12").alias("cctx"))
        rows = (
            counts.orderBy(F.desc("c12"), "prev", "cur")
            .limit(top_k)
            .join(ctx, "prev")
            .select(
                "prev",
                "cur",
                F.log(
                    (F.col("c12") + F.lit(1.0))
                    / (F.col("cctx") + F.lit(float(vocab_size + 1)))
                ).alias("logprob"),
            )
            .collect()
        )
    schema = StructType(
        [
            StructField("prev", StringType()),
            StructField("cur", StringType()),
            StructField("logprob", DoubleType()),
        ]
    )
    return corpus.sparkSession.createDataFrame(rows, schema)


def doc_bigram_cross_entropy(
    df: DataFrame,
    uni_model: DataFrame,
    oov_logprob: float,
    bi_model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Per-document cross-entropy under the bigram model with deterministic
    unigram backoff: each token scores its bigram logprob when the (prev,
    cur) pair is in the table, else the unigram logprob of the token, else
    the shared OOV mass — document-first tokens (prev NULL) always take the
    unigram layer. No interpolation weights: the backoff chain is a
    COALESCE, so the oracle replays it exactly.

    ``(id, n_tokens, n_bigram_hits, cross_entropy, perplexity)``. The
    corpus never shuffles for the models (both broadcast); the per-doc
    aggregate partial-combines map-side. Pass ``pairs`` (persisted) to
    reuse the training pass's pair extraction."""
    if pairs is None:
        pairs = _pair_stream(df, id_col, text_col)
    u = F.broadcast(uni_model.select(F.col("token").alias("cur"), F.col("logprob").alias("uni_lp")))
    b = F.broadcast(bi_model.select("prev", "cur", F.col("logprob").alias("bi_lp")))
    scored = pairs.join(u, "cur", "left").join(b, ["prev", "cur"], "left")
    lp = F.coalesce(F.col("bi_lp"), F.col("uni_lp"), F.lit(oov_logprob))
    n = F.count(F.lit(1))
    return (
        scored.groupBy(id_col)
        .agg(
            n.alias("n_tokens"),
            F.sum(F.when(F.col("bi_lp").isNotNull(), 1).otherwise(0)).alias("n_bigram_hits"),
            (-F.sum(lp) / n).alias("cross_entropy"),
        )
        .withColumn("perplexity", F.exp("cross_entropy"))
    )


def write_unigram_model(
    model: DataFrame, oov_logprob: float, total_tf: int, vocab_size: int, url: str
) -> None:
    """Materialize a trained unigram model to storage — the train-once /
    score-every-batch lifecycle: the 100 TB corpus is tokenized and counted
    ONCE, and each future ingest batch scores against this vocabulary-sized
    table. The model scalars and the format version ride as constant
    columns, validated on read (aggregate over the whole table, so a table
    appended to under a different config or format refuses loudly)."""
    from ..api import write_table

    if vocab_size == 0:
        # the same latent flaw as the bigram writer: zero rows lose the
        # constant meta columns and the artifact can never be read back
        raise ValueError(
            "unigram model is empty (no tokens in corpus) — nothing to persist"
        )
    out = (
        model.withColumn("__oov_logprob", F.lit(float(oov_logprob)))
        .withColumn("__total_tf", F.lit(int(total_tf)))
        .withColumn("__vocab_size", F.lit(int(vocab_size)))
        .withColumn("__lm_fmt", F.lit(_LM_FORMAT))
    )
    write_table(out, url)


def read_unigram_model(
    spark: SparkSession, url: str
) -> tuple[DataFrame, float, int, int]:
    """Load a persisted unigram model; returns the same tuple as
    :func:`unigram_model`. Refuses models written by a different format
    version or containing mixed configs (the distinct scan reads only the
    dictionary-encoded constant columns — metadata-cheap)."""
    from ..fs import get_url_and_fs

    path, fs = get_url_and_fs(url)
    df = spark.read.parquet(fs.spark_url(path))
    missing = [c for c in _LM_META_COLS if c not in df.columns]
    if missing:
        raise ValueError(
            f"unigram model at {url} lacks metadata column(s) {missing} — "
            f"rebuild with write_unigram_model (current format v{_LM_FORMAT})"
        )
    configs = [tuple(r) for r in df.select(*_LM_META_COLS).distinct().limit(3).collect()]
    if len(configs) != 1:
        raise ValueError(
            f"unigram model at {url} contains MIXED configs {configs} — "
            "it was appended to under different settings; rebuild it"
        )
    oov_logprob, total_tf, vocab_size, fmt = configs[0]
    if fmt != _LM_FORMAT:
        raise ValueError(
            f"unigram model at {url} is format v{fmt}, this engine expects "
            f"v{_LM_FORMAT} (tokenization/smoothing changed) — rebuild it"
        )
    # the mixed-config check cannot catch an append written with the SAME
    # config: duplicate token rows pass distinct-meta and then double
    # n_tokens/ce via broadcast-join fan-out in doc_cross_entropy. The
    # stored __vocab_size pins the expected row count exactly.
    n_rows = df.count()
    if n_rows != int(vocab_size):
        raise ValueError(
            f"unigram model at {url} has {n_rows} token rows but records "
            f"__vocab_size={int(vocab_size)} — it was appended to (duplicate "
            "token rows would double-count every scored document); rebuild it"
        )
    return df.drop(*_LM_META_COLS), float(oov_logprob), int(total_tf), int(vocab_size)


def doc_bigram_cross_entropy_stateless(
    df: DataFrame,
    uni_logprobs: dict | DataFrame,
    oov_logprob: float,
    bi_logprobs: dict | DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    carry_cols: tuple = (),
) -> DataFrame:
    """STATELESS bigram scorer (the :func:`doc_cross_entropy_stateless`
    twin — same ``carry_cols`` contract, so the two are interchangeable in
    streaming wiring): both model layers ride as plain dicts in the kernel
    closure and each document scores row-locally with the same COALESCE
    backoff chain (bigram -> unigram -> OOV) — no joins, no aggregation
    state, so the same code runs unmodified on a readStream. Zero-token
    documents emit no row, matching the join formulation exactly."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if isinstance(uni_logprobs, DataFrame):
        uni_logprobs = {
            r["token"]: r["logprob"]
            for r in _collect_model_bounded(
                uni_logprobs, ["token", "logprob"], "doc_bigram_cross_entropy_stateless (unigram layer)"
            )
        }
    if isinstance(bi_logprobs, DataFrame):
        bi_logprobs = {
            (r["prev"], r["cur"]): r["logprob"]
            for r in _collect_model_bounded(
                bi_logprobs, ["prev", "cur", "logprob"], "doc_bigram_cross_entropy_stateless (bigram layer)"
            )
        }
    src = df.select(id_col, text_col, *carry_cols)
    schema = StructType(
        [src.schema[id_col]]
        + [src.schema[c] for c in carry_cols]
        + [
            StructField("n_tokens", LongType()),
            StructField("n_bigram_hits", LongType()),
            StructField("cross_entropy", DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            carries = [pdf[c] for c in carry_cols]
            for key, text, *extra in zip(pdf[id_col], pdf[text_col], *carries):
                toks = _py_tokens(text)
                if not toks:
                    continue
                total, hits = 0.0, 0
                prev = None
                for t in toks:
                    lp = bi_logprobs.get((prev, t)) if prev is not None else None
                    if lp is not None:
                        hits += 1
                    else:
                        lp = uni_logprobs.get(t)
                        if lp is None:
                            lp = oov_logprob
                    total += lp
                    prev = t
                rows.append((key, *extra, len(toks), hits, -total / len(toks)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, *carry_cols, "n_tokens", "n_bigram_hits", "cross_entropy"],
            )

    return src.mapInPandas(run, schema=schema)


_BIGRAM_FORMAT = 1
_BIGRAM_META_COLS = ["__vocab_size", "__n_pairs", "__bigram_fmt"]


def write_bigram_model(model: DataFrame, vocab_size: int, url: str) -> None:
    """Materialize a trained bigram table (train-once lifecycle, like
    :func:`write_unigram_model`): the smoothing vocab size, pair count and
    format version ride as constant columns, validated on read."""
    from ..api import write_table

    n_pairs = model.count()
    if n_pairs == 0:
        # constant meta columns cannot survive a zero-row write, which would
        # make the artifact permanently unreadable — refuse HERE with the
        # actionable story instead (a bigram-less corpus scores fine through
        # the unigram backoff; there is nothing to ship)
        raise ValueError(
            "bigram model is empty (corpus has no two-token documents) — "
            "nothing to persist; score with the unigram model alone"
        )
    out = (
        model.withColumn("__vocab_size", F.lit(int(vocab_size)))
        .withColumn("__n_pairs", F.lit(int(n_pairs)))
        .withColumn("__bigram_fmt", F.lit(_BIGRAM_FORMAT))
    )
    write_table(out, url)


def read_bigram_model(spark: SparkSession, url: str) -> tuple[DataFrame, int]:
    """Load a persisted bigram table -> (model, vocab_size). Refuses
    missing/mismatched format, mixed configs, and same-config appends (the
    stored __n_pairs pins the exact row count — duplicate pair rows would
    fan out the scoring join)."""
    from ..fs import get_url_and_fs

    path, fs = get_url_and_fs(url)
    df = spark.read.parquet(fs.spark_url(path))
    missing = [c for c in _BIGRAM_META_COLS if c not in df.columns]
    if missing:
        raise ValueError(
            f"bigram model at {url} lacks metadata column(s) {missing} — "
            f"rebuild with write_bigram_model (current format v{_BIGRAM_FORMAT})"
        )
    configs = [tuple(r) for r in df.select(*_BIGRAM_META_COLS).distinct().limit(3).collect()]
    if len(configs) != 1 or configs[0][2] != _BIGRAM_FORMAT:
        raise ValueError(
            f"bigram model at {url} has config(s) {configs}, expected one "
            f"config at format v{_BIGRAM_FORMAT} — rebuild it"
        )
    vocab_size, n_pairs, _fmt = configs[0]
    n_rows = df.count()
    if n_rows != int(n_pairs):
        raise ValueError(
            f"bigram model at {url} has {n_rows} pair rows but records "
            f"__n_pairs={int(n_pairs)} — it was appended to; rebuild it"
        )
    return df.drop(*_BIGRAM_META_COLS), int(vocab_size)


# --------------------------------------------------------------------------
# catalog entries + oracles
# --------------------------------------------------------------------------

_TOP_K = 30  # small enough to exercise the OOV path on the testdata corpus

#: the ONE SQL definition of the catalog model (tokenize -> counts ->
#: scalars -> top-K Laplace logprobs) — every LM oracle composes this CTE
#: prefix, so a _TOP_K or smoothing change cannot drift between the
#: batch/bucket/stream twins (review find; same pattern as the shared
#: anomaly CTE).
_LM_MODEL_CTE = f"""toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
filtered AS (SELECT doc_id, token FROM toks WHERE token <> ''),
counts AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM filtered GROUP BY token
),
scalars AS (
  SELECT SUM(tf) AS t, LEAST(COUNT(*), {_TOP_K}) AS v FROM counts
),
model AS (
  SELECT token, tf, LN((tf + 1.0) / (scalars.t + scalars.v + 1.0)) AS logprob
  FROM counts CROSS JOIN scalars
  ORDER BY tf DESC, token
  LIMIT {_TOP_K}
)"""

#: per-doc scoring CTE on top of the model (unrounded ce, one row per
#: non-empty doc) — shared by the perplexity/bucket/stream oracles
_LM_SCORED_CTE = """scored AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN m.logprob IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         -SUM(COALESCE(m.logprob, (SELECT LN(1.0 / (t + v + 1.0)) FROM scalars)))
           / COUNT(*) AS ce
  FROM filtered f LEFT JOIN model m USING (token)
  GROUP BY f.doc_id
)"""


def q_lm_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """The trained unigram model itself (top-30 tokens by corpus frequency,
    Laplace logprobs) — the model-building aggregate under the oracle."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    model, _, _, _ = unigram_model(docs, top_k=_TOP_K)
    return model.select("token", "tf", F.round("logprob", 4).alias("logprob")).orderBy(
        F.desc("tf"), "token"
    )


Q_LM_VOCAB_SQL = f"""
WITH {_LM_MODEL_CTE}
SELECT token, tf, ROUND(logprob, 4) AS logprob
FROM model
ORDER BY tf DESC, token
"""


def q_doc_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document cross-entropy/perplexity under the corpus-trained top-30
    unigram model for the 300 lowest doc_ids (model trained on the FULL
    corpus; the cut exercises real OOV scoring)."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # ONE tokenization pass: the persisted tf stream feeds both the (eager)
    # model training and the scoring plan. The scored slice is bounded
    # (doc_id < 300), so it is materialized driver-side — exactly like the
    # model itself — which lets the corpus-scale tf cache be RELEASED per
    # call instead of accumulating executor storage across catalog runs.
    tf = term_frequencies(docs)
    with pinned(tf):
        model, oov_lp, _, _ = unigram_model(docs, top_k=_TOP_K, tf=tf)
        out = (
            doc_cross_entropy(docs, model, oov_lp, tf=tf)
            .where(F.col("doc_id") < 300)
            .select(
                "doc_id",
                "n_tokens",
                "n_oov",
                F.round("cross_entropy", 4).alias("cross_entropy"),
                F.round("perplexity", 2).alias("perplexity"),
            )
            .orderBy("doc_id")
        )
        pdf = out.toPandas()  # <=300 rows x 5 scalars
    return spark.createDataFrame(pdf, schema=out.schema)


Q_DOC_PERPLEXITY_SQL = f"""
WITH {_LM_MODEL_CTE},
{_LM_SCORED_CTE}
SELECT doc_id, n_tokens, n_oov,
       ROUND(ce, 4)      AS cross_entropy,
       ROUND(EXP(ce), 2) AS perplexity
FROM scored
WHERE doc_id < 300
ORDER BY doc_id
"""


_TOP_B = 200  # bigram-table cut for the catalog entry (backoff path exercised)


def q_doc_bigram_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document perplexity under the corpus-trained bigram model
    (top-200 pairs, unigram backoff, shared V) for the 300 lowest doc_ids.
    Oracle: full SQL replica — pair positions from the filtered token list,
    the bigram table from exact counts, the COALESCE backoff chain."""
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # ONE pair-extraction pass shared by bigram training and scoring (the
    # tf= convention of q_doc_perplexity); released on every path. r15: the
    # unigram layer previously re-tokenized the corpus (vocabulary() inside
    # unigram_model — a second full text pass) and the bigram layer
    # re-shuffled the occurrence stream; the ``cur`` column of the pair
    # table enumerates every token occurrence, so ONE (prev, cur) count
    # aggregate now feeds both layers: unigram counts are its cur-keyed
    # sums (pair-count-sized input, not corpus-sized), T/V/topk identical
    # by construction. Entry profile: summed job time 2.92 -> 2.36 s (the
    # corpus pass is the single-task tokenize job, now run once not twice);
    # wall at sf0.1 is scheduler-dominated and moves less.
    pairs = _pair_stream(docs)
    pc = pairs.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c12"))
    with pinned(pairs, pc):
        uni_counts = pc.groupBy(F.col("cur").alias("token")).agg(
            F.sum("c12").alias("total_tf")
        )
        uni, oov_lp, _, vocab_size = unigram_model(docs, top_k=_TOP_K, counts=uni_counts)
        bi = bigram_model(docs, vocab_size, top_k=_TOP_B, pair_counts=pc)
        out = (
            doc_bigram_cross_entropy(docs, uni, oov_lp, bi, pairs=pairs)
            .where(F.col("doc_id") < 300)
            .select(
                "doc_id",
                "n_tokens",
                "n_bigram_hits",
                F.round("cross_entropy", 4).alias("cross_entropy"),
                F.round("perplexity", 2).alias("perplexity"),
            )
            .orderBy("doc_id")
        )
        pdf = out.toPandas()  # <=300 rows
    return spark.createDataFrame(pdf, schema=out.schema)


Q_DOC_BIGRAM_PERPLEXITY_SQL = f"""
WITH {_LM_MODEL_CTE},
toksl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
  FROM documents
),
pos AS (
  SELECT doc_id, ts[CAST(s.i AS INTEGER)] AS cur,
         CASE WHEN s.i > 1 THEN ts[CAST(s.i - 1 AS INTEGER)] END AS prev
  FROM toksl, unnest(generate_series(1, len(ts))) AS s(i)
),
bic AS (
  SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c12
  FROM pos WHERE prev IS NOT NULL GROUP BY 1, 2
),
bctx AS (SELECT prev, SUM(c12) AS cctx FROM bic GROUP BY prev),
btop AS (SELECT prev, cur, c12 FROM bic ORDER BY c12 DESC, prev, cur LIMIT {_TOP_B}),
bim AS (
  SELECT t.prev, t.cur,
         LN((t.c12 + 1.0) / (x.cctx + (SELECT v FROM scalars) + 1.0)) AS bi_lp
  FROM btop t JOIN bctx x USING (prev)
),
lps AS (
  SELECT p.doc_id,
         COALESCE(b.bi_lp, m.logprob,
                  (SELECT LN(1.0 / (t + v + 1.0)) FROM scalars)) AS lp,
         CASE WHEN b.bi_lp IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM pos p
  LEFT JOIN bim b ON p.prev = b.prev AND p.cur = b.cur
  LEFT JOIN model m ON p.cur = m.token
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)  AS n_tokens,
       CAST(SUM(hit) AS BIGINT)  AS n_bigram_hits,
       ROUND(-SUM(lp) / COUNT(*), 4)      AS cross_entropy,
       ROUND(EXP(-SUM(lp) / COUNT(*)), 2) AS perplexity
FROM lps
WHERE doc_id < 300
GROUP BY doc_id
ORDER BY doc_id
"""


def q_perplexity_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2019 §4.3):
    tercile thresholds of the cross-entropy distribution from a
    deterministic 50% hash-sample (discrete rank selection — actual data
    values, engine-replayable), then MAP-ONLY bucket assignment over the
    full scored corpus. At 100 TB only the sample is sorted (per-stratum at
    real scale); the corpus itself never shuffles to be bucketed. The
    audit: per-bucket doc counts + ce range."""
    from .sketches import sampled_quantiles

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # caches release on EVERY path (a mid-job failure must not leave
    # corpus-scale blocks persisted with no handle to free them)
    tf = term_frequencies(docs)
    with pinned(tf):
        model, oov_lp, _, _ = unigram_model(docs, top_k=_TOP_K, tf=tf)
        # persist the NARROW (doc_id, ce) relation: the threshold sample and
        # the final bucketing both consume it — without this the corpus-scale
        # scoring join would run twice (review find). Two columns per doc, not
        # corpus text; the threshold collect below materializes it.
        scored = doc_cross_entropy(docs, model, oov_lp, tf=tf).select(
            "doc_id", F.round("cross_entropy", 4).alias("ce")
        )
        with pinned(scored):
            th = sampled_quantiles(
                scored, "ce", "doc_id", fraction=0.5, quantiles=(1 / 3, 2 / 3)
            ).collect()[0]
            # the threshold collect above materialized the narrow scored cache;
            # every later read goes through it, so the corpus-scale tf cache is
            # now dead weight — release it early (review find)
            tf.unpersist()
            t1, t2 = th["q33_ce"], th["q67_ce"]
            bucket = (
                F.when(F.col("ce") <= t1, F.lit("head"))
                .when(F.col("ce") <= t2, F.lit("middle"))
                .otherwise(F.lit("tail"))
            )
            out = (
                scored.withColumn("bucket", bucket)
                .groupBy("bucket")
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.round(F.min("ce"), 4).alias("min_ce"),
                    F.round(F.max("ce"), 4).alias("max_ce"),
                )
                .orderBy("bucket")
            )
            # 3-row audit: materialize it so the scored cache can release too —
            # repeated catalog runs must not accumulate per-call executor storage
            pdf = out.toPandas()
    return spark.createDataFrame(pdf, schema=out.schema)


def _q_perplexity_buckets_sql() -> str:
    from .sampling import fraction_to_hex_threshold

    third, two_thirds = repr(1 / 3), repr(2 / 3)
    return f"""
WITH {_LM_MODEL_CTE},
{_LM_SCORED_CTE},
rce AS (SELECT doc_id, ROUND(ce, 4) AS ce FROM scored),
ranked AS (
  SELECT ce,
         ROW_NUMBER() OVER (ORDER BY ce, doc_id) AS rn,
         COUNT(*) OVER ()                        AS n
  FROM rce
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '{fraction_to_hex_threshold(0.5)}'
),
th AS (
  SELECT ROUND(MAX(CASE WHEN rn = CAST(CEIL({third} * n) AS INTEGER) THEN ce END), 4) AS t1,
         ROUND(MAX(CASE WHEN rn = CAST(CEIL({two_thirds} * n) AS INTEGER) THEN ce END), 4) AS t2
  FROM ranked
),
bucketed AS (
  SELECT CASE WHEN s.ce <= th.t1 THEN 'head'
              WHEN s.ce <= th.t2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         s.ce
  FROM rce s CROSS JOIN th
)
SELECT bucket,
       COUNT(*)          AS n_docs,
       ROUND(MIN(ce), 4) AS min_ce,
       ROUND(MAX(ce), 4) AS max_ce
FROM bucketed
GROUP BY bucket
ORDER BY bucket
"""


LM_QUERIES = {
    "q_lm_vocab": q_lm_vocab,
    "q_doc_perplexity": q_doc_perplexity,
    "q_doc_bigram_perplexity": q_doc_bigram_perplexity,
    "q_perplexity_buckets": q_perplexity_buckets,
}

LM_ORACLES = {
    "q_lm_vocab": Q_LM_VOCAB_SQL,
    "q_doc_perplexity": Q_DOC_PERPLEXITY_SQL,
    "q_doc_bigram_perplexity": Q_DOC_BIGRAM_PERPLEXITY_SQL,
    "q_perplexity_buckets": _q_perplexity_buckets_sql(),
}
