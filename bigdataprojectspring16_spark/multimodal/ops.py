"""Multimodal columns: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``binary`` columns flowing
through ordinary relational plans; per-asset compute (decode,
feature-extract, resize, frame-sample) runs as Arrow-batched
``mapInPandas`` stages so the Python boundary is crossed once per
batch, never per row.

The image/audio libraries are not installed in this environment, so
the *decode* step is stubbed: ``decode_images(..., real=True)``
raises ``NotImplementedError`` unless PIL is importable, and the
default deterministic fake derives (width, height, channels) from
the payload bytes. Everything around the stub — schema, Arrow batch
shape, partition-invariance — is real and tested
(tests/test_multimodal.py).

The fixtures ship no binary column, so :func:`with_binary_payload`
manufactures one by UTF-8-encoding ``documents.text`` — byte-exact
on both engines (``sha256(text)`` ≡ sha256 of the payload), which is
what makes ``multimodal_binary_stats`` oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import fan_out_small_scan, load_table

#: Fixed feature dimension for the fake feature extractor.
FEATURE_DIM = 16


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach an opaque ``payload: binary`` column + typed metadata.

    Models how ingested assets look after a real fetch stage: raw
    bytes plus a metadata struct the planner can prune/filter on
    without touching the payload.
    """
    return docs.select(
        "doc_id",
        "source",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


DECODED_SCHEMA = (
    "doc_id bigint, source string, n_bytes int, width int, height int, channels int"
)


def decode_images(assets: DataFrame, real: bool = False) -> DataFrame:
    """Decode stage: payload bytes → (width, height, channels).

    ``real=True`` requires PIL (not installed here → clearly-marked
    ``NotImplementedError``); the default is a deterministic fake
    that derives dimensions from the byte content, so the full
    pipeline shape — Arrow batches in, typed rows out — is
    exercised end to end.
    """
    if real:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:  # pragma: no cover - env has no PIL
            raise NotImplementedError(
                "real image decode needs PIL, which is not installed; "
                "use real=False for the deterministic fake decode"
            ) from exc

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len)
            first = pdf["payload"].map(lambda b: b[0] if len(b) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_bytes": n.astype("int32"),
                    # fake decode: dimensions derived from content,
                    # stable under any partitioning of the input.
                    "width": (n % 640 + 16).astype("int32"),
                    "height": ((n * 7 + first) % 480 + 16).astype("int32"),
                    "channels": (first % 3 + 1).astype("int32"),
                }
            )

    return assets.mapInPandas(decode, schema=DECODED_SCHEMA)


FEATURES_SCHEMA = "doc_id bigint, n_bytes int, mean_byte double, features array<double>"


def extract_features(assets: DataFrame) -> DataFrame:
    """Feature-extract stage: byte histogram → FEATURE_DIM-dim vector.

    Fully real (no stub): a 16-bin normalized byte histogram per
    payload, the kind of cheap content signature a curation pipeline
    computes before expensive model embedding. Vectorized NumPy over
    Arrow batches.

    Bin values are emitted UNROUNDED: callers that need a decimal
    contract apply ``F.round`` afterwards (NumPy's ``.round`` is
    banker's rounding, which diverges from Spark/DuckDB half-up at
    exact .xxxxxx5 boundaries — e.g. 1/640 = 0.0015625).
    """

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for b in pdf["payload"]:
                arr = np.frombuffer(b, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype("float64")
                total = max(1, len(arr))
                out.append(
                    (
                        int(len(arr)),
                        float(arr.mean()) if len(arr) else 0.0,
                        (hist / total).tolist(),
                    )
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pd.Series([o[0] for o in out], dtype="int32"),
                    "mean_byte": [o[1] for o in out],
                    "features": [o[2] for o in out],
                }
            )

    return assets.mapInPandas(feats, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = "doc_id bigint, width int, height int, resized_bytes int"


def resize_images(decoded: DataFrame, max_side: int = 64, real: bool = False) -> DataFrame:
    """Resize stage (stubbed compute, real plumbing).

    Scales (width, height) to fit ``max_side`` preserving aspect
    ratio and reports the would-be payload size; the actual pixel
    resample needs PIL (``real=True`` → NotImplementedError here).
    """
    if real:
        try:
            import PIL  # noqa: F401
        except ImportError as exc:  # pragma: no cover
            raise NotImplementedError(
                "real resize needs PIL; use real=False for the metadata-only fake"
            ) from exc

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            scale = (max_side / pdf[["width", "height"]].max(axis=1)).clip(upper=1.0)
            w = (pdf["width"] * scale).astype("int32").clip(lower=1)
            h = (pdf["height"] * scale).astype("int32").clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "resized_bytes": (w * h * pdf["channels"]).astype("int32"),
                }
            )

    return decoded.mapInPandas(resize, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes binary"


def sample_frames(assets: DataFrame, frame_size: int = 64, every: int = 4) -> DataFrame:
    """Frame-sample stage: every ``every``-th fixed-size block.

    Treats the payload as a frame sequence (as a video container
    would be after demux) and emits every k-th frame — the 1:N
    exploding mapInPandas shape (one asset row → many frame rows)
    that a real video pipeline uses for keyframe extraction.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                for k, off in enumerate(range(0, len(b), frame_size)):
                    if k % every == 0:
                        ids.append(doc_id)
                        idxs.append(k)
                        frames.append(bytes(b[off : off + frame_size]))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": frames,
                }
            )

    return assets.mapInPandas(sample, schema=FRAMES_SCHEMA)


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT
        source,
        count(*) AS n_assets,
        CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
        count(DISTINCT sha256(text)) AS distinct_payloads,
        round(avg(octet_length(encode(text))), 4) AS avg_bytes
    FROM documents
    GROUP BY source
    """,
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column stats: the relational face of multimodal data.

    Payloads stay opaque bytes; the query touches only cheap
    byte-level properties (length, content digest) — exactly what a
    100 TB asset catalog scan should do: no decode, pushdown-friendly
    metadata aggregation partitioned by source.
    """
    assets = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return assets.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.count_distinct(F.sha2(F.col("payload"), 256)).alias("distinct_payloads"),
        F.round(F.avg(F.length("payload")), 4).alias("avg_bytes"),
    )


@query(
    "multimodal_features",
    oracle="""
    WITH d AS (
        SELECT doc_id, text,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes
        FROM documents
    ),
    chars AS (
        SELECT d.doc_id, ascii(substring(d.text, CAST(u.i AS INT), 1)) AS b
        FROM d, unnest(generate_series(1, d.n_bytes)) u(i)
    ),
    doc_stats AS (
        SELECT doc_id, round(avg(CAST(b AS DOUBLE)), 6) AS mean_byte
        FROM chars GROUP BY doc_id
    ),
    counts AS (
        SELECT doc_id, b // 16 AS bin, count(*) AS c
        FROM chars GROUP BY doc_id, b // 16
    )
    SELECT d.doc_id,
           d.n_bytes,
           coalesce(s.mean_byte, 0.0) AS mean_byte,
           CAST(bins.bin AS INT) AS bin,
           round(CAST(coalesce(c.c, 0) AS DOUBLE)
                 / greatest(1, d.n_bytes), 6) AS value
    FROM d
    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bin) bins
    LEFT JOIN doc_stats s ON s.doc_id = d.doc_id
    LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.bin = bins.bin
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads, declared
    as hash-safe scalar rows: the 16-bin histogram explodes to one
    (doc_id, n_bytes, mean_byte, bin, value) row per bin.

    The ``mapInPandas`` NumPy stage is the real compute (unchanged);
    ``posexplode`` is a narrow 1:16 expansion, so the declared shape
    costs no extra shuffle. Until r4 this key returned the raw
    ``array<double>`` column and was rows-only — the driver's harness
    cannot hash array cells (r3 err: unhashable numpy.ndarray), and
    reshaping to scalars also unlocks a full DuckDB oracle: the
    fixture corpus is pure ASCII (verified: octet_length(encode(text))
    = length(text)), so the byte high-nibble equals ascii(char) // 16
    and the histogram is plain SQL. Rounding happens Spark-side with
    ``F.round`` (half-up, matches DuckDB) — never NumPy's banker's
    rounding. Determinism and partition-invariance are asserted in
    tests/test_multimodal.py.
    """
    assets = with_binary_payload(
        fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    )
    feats = extract_features(assets)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("mean_byte", 6).alias("mean_byte"),
        F.posexplode("features").alias("bin", "value"),
    ).select(
        "doc_id",
        "n_bytes",
        "mean_byte",
        F.col("bin").cast("int").alias("bin"),
        F.round("value", 6).alias("value"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH v AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    f AS (
        SELECT doc_id, n_bytes,
               unnest(generate_series(0, (n_bytes - 1) // 256, 4)) AS frame_no
        FROM v
        WHERE n_bytes > 0
    )
    SELECT doc_id, frame_no,
           frame_no * 256 AS byte_offset,
           least(256, n_bytes - frame_no * 256) AS frame_bytes
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: treat each
    binary payload as fixed-size 256-byte frames and emit every 4th
    frame's (index, byte offset, length) — the 1:N row expansion that
    feeds a decode UDF (the decode itself is the stubbed Pandas-UDF
    stage in tests/test_multimodal.py; this query is the exact
    Spark-side shape that schedules it).

    ``sequence`` + ``explode`` is a narrow expansion — no shuffle, no
    driver involvement, output partitioning inherits the scan — which
    is what makes per-frame fan-out viable when a 100 TB corpus
    expands 30× into frame rows; the downstream decode runs
    ``mapInPandas`` on the already-expanded, already-distributed rows.
    """
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    v = d.select("doc_id", F.octet_length(payload).alias("n_bytes")).where(
        # Empty payloads emit zero frames on both engines (DuckDB's
        # generate_series(0, -1) is empty; Spark's sequence(0, -1)
        # would DESCEND and emit [0, -1]).
        F.col("n_bytes") > 0
    )
    f = v.select(
        "doc_id",
        "n_bytes",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("n_bytes") - 1) / 256).cast("int"),
                F.lit(4),
            )
        ).alias("frame_no"),
    )
    return f.select(
        "doc_id",
        "frame_no",
        (F.col("frame_no") * 256).alias("byte_offset"),
        F.least(F.lit(256), F.col("n_bytes") - F.col("frame_no") * 256).alias(
            "frame_bytes"
        ),
    )


@query(
    "multimodal_bin_packing",
    oracle="""
    WITH sized AS (
        SELECT source, n_chars AS n_bytes,
               sum(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_bytes
        FROM documents
    ),
    binned AS (
        SELECT source, n_bytes,
               CAST(floor((cum_bytes - 1) / 2048) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT source,
           count(DISTINCT bin_id) AS n_bins,
           count(*) AS n_docs,
           round(CAST(sum(n_bytes) AS DOUBLE)
                 / count(DISTINCT bin_id) / 2048, 6) AS avg_fill
    FROM binned GROUP BY source
    """,
)
def multimodal_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload batch-packing for decode scheduling: assign variable-size
    payloads to fixed-capacity (2 KiB here) processing bins per source
    via a running byte total, report bin counts and fill factor.

    The micro-batching step in front of any expensive per-payload
    stage (GPU decode, OCR): bins bound the memory of one
    `mapInPandas` batch. The running sum is partitioned by source and
    ordered by the (total) doc_id order, so bin assignment is
    deterministic on any engine or partitioning; integer arithmetic
    throughout. Payload size is the measured n_chars ≡
    octet_length(text) fixture invariant — real binaries swap in
    `octet_length(payload)` unchanged.
    """
    d = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.select(
        "source",
        F.col("n_chars").alias("n_bytes"),
        F.floor((F.sum("n_chars").over(w) - 1) / 2048).alias("bin_id"),
    )
    return binned.groupBy("source").agg(
        F.countDistinct("bin_id").alias("n_bins"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum("n_bytes").cast("double")
            / F.countDistinct("bin_id")
            / F.lit(2048),
            6,
        ).alias("avg_fill"),
    )


@query(
    "multimodal_block_dedup",
    oracle="""
    WITH v AS (
        SELECT doc_id, source, text, length(text) AS n_bytes
        FROM documents
    ),
    b AS (
        SELECT source,
               md5(substring(text, frame_no * 256 + 1, 256)) AS blk
        FROM v, unnest(generate_series(0, (n_bytes - 1) // 256)) u(frame_no)
        WHERE n_bytes > 0
    )
    SELECT source,
           count(*) AS n_blocks,
           count(DISTINCT blk) AS distinct_blocks,
           round(1 - CAST(count(DISTINCT blk) AS DOUBLE) / count(*), 6)
               AS dedup_ratio
    FROM b GROUP BY source
    """,
)
def multimodal_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level payload dedup ratio: split every binary payload
    into fixed 256-byte blocks, digest each block, and report the
    per-source share of duplicate blocks — the storage-dedup /
    content-addressable-store planning number for a multimodal asset
    lake (dup blocks = bytes a CAS would never store twice).

    The block expansion is the frame-sample narrow fan-out (sequence
    + explode, no shuffle) with the digest computed JVM-side on the
    binary slice; the only exchanges are the digest-keyed distinct
    count's two-phase partials.  No payload byte ever shuffles —
    blocks travel as 128-bit digests.  The oracle slices the text
    twin of the payload (fixture corpus is pure ASCII — verified
    ``octet_length(encode(text)) = length(text)`` — so byte blocks
    and char blocks coincide; with multibyte payloads the oracle
    would slice a hex/BLOB form instead, DuckDB's substring being
    VARCHAR-only).
    """
    d = load_table(spark, sf_dir, "documents")
    assets = with_binary_payload(d)
    v = assets.select(
        "source", "payload", F.octet_length("payload").alias("n_bytes")
    ).where(
        # Zero-byte payloads contribute zero blocks on both engines
        # (and keep Spark's descending-`sequence` edge unreachable:
        # sequence(0, -1) would emit [0, -1], not empty).
        F.col("n_bytes") > 0
    )
    blocks = v.select(
        "source",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("n_bytes") - 1) / 256).cast("int"),
            )
        ).alias("frame_no"),
        "payload",
    ).select(
        "source",
        F.md5(
            F.expr("substring(payload, frame_no * 256 + 1, 256)")
        ).alias("blk"),
    )
    return blocks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count_distinct(F.col("blk")).alias("distinct_blocks"),
        F.round(
            1 - F.count_distinct(F.col("blk")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("dedup_ratio"),
    )


@query(
    "multimodal_payload_near_dup",
    oracle="""
    WITH b AS (
        SELECT doc_id, source,
               list_sort(list_distinct(list_transform(
                   generate_series(1, octet_length(encode(text)), 32),
                   i -> md5(substring(text, CAST(i AS INT), 32))
               ))) AS blocks
        FROM documents
        WHERE octet_length(encode(text)) > 0
    ),
    pairs AS (
        SELECT least(a.source, b2.source) AS source_a,
               greatest(a.source, b2.source) AS source_b,
               round(CAST(len(list_intersect(a.blocks, b2.blocks)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.blocks, b2.blocks))),
                     6) AS j
        FROM b a JOIN b b2 ON a.doc_id < b2.doc_id
    )
    SELECT source_a, source_b, count(*) AS n_pairs,
           round(avg(j), 6) AS avg_j
    FROM pairs WHERE j >= 0.5 GROUP BY source_a, source_b
    """,
)
def multimodal_payload_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary near-dup detection WITHOUT decoding: assets whose
    32-byte-block digest sets overlap at Jaccard ≥ 0.5, reported as
    pair counts per (source, source) — the content-addressable-store
    dedup sweep for re-encoded / re-uploaded / trailing-metadata
    variants that exact sha256 dedup misses.

    Payload bytes never pair-join: each asset collapses to its set of
    128-bit block digests (a narrow 1:N expansion + digest collect),
    and candidates come from the SAME lossless prefix-filter
    equi-join and exact verify as the text near-dup family
    (``dedup.prefix_jaccard_pairs``, recall 1.0 ≥ the 0.5 floor),
    keyed on single xxhash64-coded digests — rare blocks form the prefixes,
    which is what bounds posting lists on real binary corpora.  The
    oracle states the all-pairs form over the text twin
    (`sha256(text)` ≡ payload digests — fixture corpus is pure ASCII,
    same convention as `multimodal_block_dedup`).
    """
    from ..llmops.dedup import prefix_jaccard_pairs

    assets = with_binary_payload(load_table(spark, sf_dir, "documents"))
    b = assets.where(F.length("payload") > 0).select(
        "doc_id",
        "source",
        F.array_sort(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(payload), 32),"
                    " i -> md5(substring(payload, i, 32)))"
                )
            )
        ).alias("blocks"),
    )
    pairs = (
        prefix_jaccard_pairs(b, 0.5, "blocks", carry=("source",))
        .select(
            F.least("source_a", "source_b").alias("source_a"),
            F.greatest("source_a", "source_b").alias("source_b"),
            F.round("jaccard", 6).alias("j"),
        )
        .where(F.col("j") >= 0.5)
    )
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("j"), 6).alias("avg_j"),
    )
