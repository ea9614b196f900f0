"""Perceptual-hash image deduplication (average hash): the multimodal twin
of the text dedup family. A crawl's image corpus is full of byte-UNequal
near-copies (re-encodes, resizes, metadata strips); exact content hashing
misses all of them. aHash is the classic cheap perceptual fingerprint:
downsample to ``hash_size`` x ``hash_size``, threshold each sample against
the tile mean, read the bits row-major — byte-level differences that don't
move pixels past the mean leave the hash unchanged, so equal hashes group
re-encoded copies.

Everything here rides the REAL codec path: payloads decode through
:func:`~fsql_spark.operators.multimodal.decode_image` (magic-dispatched
PNG/JPEG/GIF/BMP/TIFF/WebP), the downsample is the same integer
nearest-neighbor sampler as :func:`~fsql_spark.operators.multimodal.
resize_images` (``src = min(i * dim // hash_size, dim - 1)``), and the
threshold is the INTEGER comparison ``n_samples * v > sum(v)`` — no float
mean, so a SQL oracle replays the hash bit-for-bit from the source text the
catalog images derive from.

Scale shape (the 100 TB story): hashing is embarrassingly parallel
(mapInPandas over Arrow batches, one row out per image — bytes never
amplify); grouping shuffles 8-byte-scale hash strings + ids, NOT pixels;
the cluster annotation is a window over the hash partition (one exchange).
Identical-hash grouping is exact grouping, not similarity search — for
near-miss Hamming-distance matching, band the bits and reuse the
MinHash-LSH bucketing machinery (``dedup.py``); this operator is the
exact-bucket base case every image pipeline runs first.

No reference counterpart (the reference delegates row-level compute,
`/root/reference/src/fsql/deser.py:30-31`); driver-mandated extension
surface (SURVEY §2.6).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..session import pinned

PHASH_SCHEMA = StructType(
    [StructField("media_id", LongType()), StructField("phash", StringType())]
)


def perceptual_hashes(
    media: DataFrame,
    hash_size: int = 8,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """(media_id, phash) — average-hash over the decoded pixels, as a
    ``hash_size**2``-character '0'/'1' string (row-major; bit = 1 iff the
    sample exceeds the tile mean STRICTLY, compared in integers). RGB
    collapses each sampled pixel to ``(r + g + b) // 3`` before
    thresholding. Undecodable payloads raise with the media id attached —
    the quarantine-don't-guess convention of every codec kernel here."""
    import numpy as np

    from .multimodal import _reraise_with_media_id, decode_image

    if hash_size < 1:
        raise ValueError(f"hash_size must be >= 1, got {hash_size}")
    n_samples = hash_size * hash_size

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for mid, raw in zip(pdf[id_col], pdf[content_col]):
                try:
                    arr = decode_image(raw)
                except Exception as exc:
                    _reraise_with_media_id(mid, exc)
                h, w = arr.shape[0], arr.shape[1]
                rows = np.minimum((np.arange(hash_size) * h) // hash_size, h - 1)
                cols = np.minimum((np.arange(hash_size) * w) // hash_size, w - 1)
                tile = arr[np.ix_(rows, cols)].astype(np.int64)
                if tile.ndim == 3:  # RGB -> integer luma proxy
                    tile = tile.sum(axis=2) // tile.shape[2]
                total = int(tile.sum())
                bits = (n_samples * tile.reshape(-1)) > total
                hashes.append("".join("1" if b else "0" for b in bits))
            yield pd.DataFrame({"media_id": pdf[id_col], "phash": hashes})

    return media.select(id_col, content_col).mapInPandas(kernel, PHASH_SCHEMA)


def phash_clusters(hashes: DataFrame) -> DataFrame:
    """Annotate each image with its exact-hash cluster: ``(media_id, phash,
    cluster_size, canonical_id)`` — ``canonical_id`` is the cluster's min
    id (the keep-one-drop-rest dedup decision), so ``media_id !=
    canonical_id`` is the drop set. One hash-keyed window exchange."""
    by_hash = Window.partitionBy("phash")
    return hashes.select(
        "media_id",
        "phash",
        F.count(F.lit(1)).over(by_hash).cast("long").alias("cluster_size"),
        F.min("media_id").over(by_hash).cast("long").alias("canonical_id"),
    )


def phash_near_pairs(
    hashes: DataFrame,
    n_bands: int = 4,
    max_hamming: int = 6,
    id_col: str = "media_id",
    n_bits: int = 64,
) -> DataFrame:
    """Near-miss pairs of DISTINCT perceptual hashes via banded Hamming LSH
    — the image twin of the MinHash band join with its collapse_exact
    prefix (``dedup.py``): identical hashes first collapse to one
    representative (min id) carrying a member count, THEN the distinct
    hashes band-join and candidates verify with the EXACT Hamming
    distance. Emits one row per distinct-hash pair within ``max_hamming``:
    ``(id_a, id_b, hamming, members_a, members_b)`` — representative ids,
    with the counts making the image-pair multiplicity explicit
    (``members_a * members_b`` underlying pairs). Hamming 0 is impossible
    by construction; exact-dup grouping is :func:`phash_clusters`' job.

    The collapse is what makes this scale (measured, r10 spot-bench): on
    a copy-heavy corpus the per-IMAGE band join explodes (29.5M candidate
    pairs at sf1, growing ~quadratically with copies), while the
    per-DISTINCT-HASH join stays bounded by hash diversity (301k at sf1
    and FEWER at sf10, because new copies land in existing hashes) —
    same lesson as MinHash's collapse_exact. Standard LSH recall: a pair
    is a candidate iff >= 1 band matches exactly (guaranteed for
    hamming < n_bands by pigeonhole; probabilistic above). The band join
    is a pure equi-join; the Hamming verify stays JVM-side (higher-order
    array functions, no Python).

    Callers should pass a persisted/cached ``hashes`` frame: both join
    sides derive from it, so an unpersisted lineage would decode the image
    corpus twice. ``n_bits`` is the hash length (``hash_size ** 2`` of the
    producing :func:`perceptual_hashes` call)."""
    if n_bits % n_bands != 0:
        raise ValueError(f"n_bands={n_bands} must divide hash length {n_bits}")
    band_w = n_bits // n_bands
    # pack the '0'/'1' string into 32-bit long chunks ONCE per distinct
    # hash: the Hamming verify then costs bit_count(xor) per chunk instead
    # of n_bits per-character substring calls per candidate — measured 9.1s
    # -> sub-second on the sf0.1 band join (skewed synthetic buckets make
    # candidates >> output, so per-candidate cost dominates this operator)
    n_chunks = (n_bits + 31) // 32
    bits_expr = F.expr(
        f"transform(sequence(0, {n_chunks - 1}), c -> "
        f"cast(conv(substring(phash, c * 32 + 1, least(32, {n_bits} - c * 32)), 2, 10)"
        " as bigint))"
    )
    distinct = hashes.groupBy("phash").agg(
        F.min(id_col).cast("long").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("members"),
    ).withColumn("bits", bits_expr)
    bands = distinct.select(
        "rep",
        "members",
        "bits",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        "phash",
    ).select(
        "rep",
        "members",
        "bits",
        "band",
        F.expr(f"substring(phash, band * {band_w} + 1, {band_w})").alias("band_key"),
    )
    a = bands.select(
        F.col("band"), F.col("band_key"), F.col("rep").alias("id_a"),
        F.col("bits").alias("ba"), F.col("members").alias("members_a"),
    )
    b = bands.select(
        F.col("band"), F.col("band_key"), F.col("rep").alias("id_b"),
        F.col("bits").alias("bb"), F.col("members").alias("members_b"),
    )
    hamming = F.expr(
        "aggregate(zip_with(ba, bb, (x, y) -> bit_count(x ^ y)),"
        " 0L, (acc, v) -> acc + cast(v as bigint))"
    )
    # verify BEFORE deduping: the filter is now a couple of xor+bit_count
    # instructions, so running it on multi-band duplicate candidates is far
    # cheaper than shuffling every candidate through a distinct first —
    # the distinct then runs on the (small) verified near-pair set
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", hamming.alias("hamming"), "members_a", "members_b"
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()  # a pair colliding in several bands is ONE candidate
    )


# --------------------------------------------------------------------------
# catalog entries + oracles
# --------------------------------------------------------------------------


def q_image_phash_dups(spark: SparkSession, sf: str) -> DataFrame:
    """aHash every document-derived PNG through the real decode path and
    annotate exact-hash clusters — the image-dedup keep/drop table. The
    oracle replays the downsample + integer threshold from the '.'-padded
    source text, so one flipped pixel anywhere in deflate/unfilter/sampler
    flips a hash bit and breaks the row hash."""
    from .multimodal import documents_as_png

    media = documents_as_png(spark, sf, width=32)
    return phash_clusters(perceptual_hashes(media, hash_size=8)).orderBy("media_id")


Q_IMAGE_PHASH_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS h
  FROM documents
),
samples AS (
  SELECT doc_id,
         r.i AS r, c.i AS c,
         ascii(substr(padded,
                      CAST(LEAST((r.i * h) // 8, h - 1) * 32
                           + LEAST((c.i * 32) // 8, 31) + 1 AS INTEGER),
                      1)) AS v
  FROM sized,
       unnest(generate_series(0, 7)) AS r(i),
       unnest(generate_series(0, 7)) AS c(i)
),
bits AS (
  SELECT doc_id, r, c,
         CASE WHEN 64 * v > SUM(v) OVER (PARTITION BY doc_id) THEN '1' ELSE '0' END AS bit
  FROM samples
),
hashes AS (
  SELECT doc_id AS media_id, string_agg(bit, '' ORDER BY r, c) AS phash
  FROM bits GROUP BY doc_id
)
SELECT media_id, phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS cluster_size,
       CAST(MIN(media_id) OVER (PARTITION BY phash) AS BIGINT) AS canonical_id
FROM hashes
ORDER BY media_id
"""


def q_image_phash_near_dups(spark: SparkSession, sf: str) -> DataFrame:
    """Near-miss DISTINCT-hash pairs (exact-collapse, then banded Hamming
    LSH over aHash: 4 bands of 16 bits, exact verify at distance <= 6) —
    catches re-encodes whose pixels moved a few samples past the mean,
    which exact-hash grouping misses; representative ids + member counts
    carry the underlying image-pair multiplicity.

    The band self-join references the hash frame on both sides, so the
    decode-bearing hash computation is persisted per call and the
    pairs-sized result materialized driver-side (the q_doc_perplexity
    cache-release pattern)."""
    from .multimodal import documents_as_png

    hashes = perceptual_hashes(documents_as_png(spark, sf, width=32), hash_size=8)
    with pinned(hashes):
        # materialize BEFORE planning the self-join: AQE submits both band
        # join sides' map stages concurrently, and two racing cache-miss
        # scans each run the full render+decode (profiler: two parallel
        # 0.67s 32-task jobs instead of one build + cheap cache reads)
        hashes.count()
        out = phash_near_pairs(hashes, n_bands=4, max_hamming=6).orderBy("id_a", "id_b")
        pdf = out.toPandas()  # near-pair rows: 3 scalars each, LSH-bounded
    return spark.createDataFrame(pdf, schema=out.schema)


Q_IMAGE_PHASH_NEAR_SQL = """
WITH sized AS (
  SELECT doc_id,
         rpad(text, CAST(GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) * 32 AS INTEGER), '.') AS padded,
         GREATEST(CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER), 1) AS h
  FROM documents
),
samples AS (
  SELECT doc_id,
         r.i AS r, c.i AS c,
         ascii(substr(padded,
                      CAST(LEAST((r.i * h) // 8, h - 1) * 32
                           + LEAST((c.i * 32) // 8, 31) + 1 AS INTEGER),
                      1)) AS v
  FROM sized,
       unnest(generate_series(0, 7)) AS r(i),
       unnest(generate_series(0, 7)) AS c(i)
),
bits AS (
  SELECT doc_id, r, c,
         CASE WHEN 64 * v > SUM(v) OVER (PARTITION BY doc_id) THEN '1' ELSE '0' END AS bit
  FROM samples
),
hashes AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY r, c) AS phash
  FROM bits GROUP BY doc_id
),
dh AS (
  SELECT phash, CAST(MIN(doc_id) AS BIGINT) AS rep,
         CAST(COUNT(*) AS BIGINT) AS members
  FROM hashes GROUP BY phash
),
bands AS (
  SELECT rep, members, phash, b.i AS band,
         substr(phash, CAST(b.i * 16 + 1 AS INTEGER), 16) AS band_key
  FROM dh, unnest(generate_series(0, 3)) AS b(i)
),
cand AS (
  SELECT DISTINCT a.rep AS id_a, b.rep AS id_b, a.phash AS pa, b.phash AS pb,
                  a.members AS members_a, b.members AS members_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.rep < b.rep
),
scored AS (
  SELECT id_a, id_b,
         CAST((SELECT COUNT(*) FROM unnest(generate_series(1, 64)) AS t(i)
               WHERE substr(pa, CAST(i AS INTEGER), 1)
                  <> substr(pb, CAST(i AS INTEGER), 1)) AS BIGINT) AS hamming,
         members_a, members_b
  FROM cand
)
SELECT id_a, id_b, hamming, members_a, members_b
FROM scored WHERE hamming <= 6
ORDER BY id_a, id_b
"""


PHASH_QUERIES = {
    "q_image_phash_dups": q_image_phash_dups,
    "q_image_phash_near_dups": q_image_phash_near_dups,
}
PHASH_ORACLES = {
    "q_image_phash_dups": Q_IMAGE_PHASH_SQL,
    "q_image_phash_near_dups": Q_IMAGE_PHASH_NEAR_SQL,
}
