"""Multimodal-column operators: image/audio/video payloads are opaque
``binary`` columns plus typed metadata. The container has no codec
libraries, so the decode step is a clearly-marked deterministic stub —
but the Spark-side plumbing (binary columns, schema, mapInPandas batch
shape, frame-sampling explode) is real and tested.

The fixtures carry no binary files, so payloads are derived from
``documents.text`` (encode to UTF-8 bytes) — the dataflow is identical
to reading real blobs via ``spark.read.format("binaryFile")``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis2sse_spark.catalog import load_table, pin_cache, scratch_fresh
from kinesis2sse_spark.registry import register

FRAME_BYTES = 16  # bytes per fake "frame"
FRAME_STRIDE = 4  # sample every 4th frame


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           CAST(octet_length(CAST(text AS BLOB)) // 16 AS BIGINT) AS n_frames,
           upper(substr(md5(text), 1, 8)) AS content_key
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata: size, derived frame count, and a
    content-addressed key (md5 prefix) — the manifest a multimodal
    pipeline builds before any decode."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        (F.octet_length(payload).cast("bigint") / FRAME_BYTES)
        .cast("bigint")
        .alias("n_frames"),
        F.upper(F.substring(F.md5(payload), 1, 8)).alias("content_key"),
    )


@register(
    "mm_frame_sample",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes FROM documents
    )
    SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           CAST(i * {FRAME_BYTES} AS BIGINT) AS byte_offset
    FROM meta, LATERAL (SELECT unnest(range(0, CAST(n_bytes // {FRAME_BYTES} AS BIGINT), {FRAME_STRIDE})) AS i) u
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a "video" payload: every FRAME_STRIDE-th
    FRAME_BYTES block becomes a frame row (explode of a sequence — no
    Python). Real decoders slot in at the frame_bytes projection."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    n_frames = (F.octet_length(payload) / FRAME_BYTES).cast("bigint")
    idx = F.sequence(F.lit(0).cast("bigint"), n_frames - 1, F.lit(FRAME_STRIDE).cast("bigint"))
    return (
        d.select("doc_id", idx.alias("idx"))
        .filter(F.size("idx") > 0)
        .select("doc_id", F.explode("idx").alias("frame_idx"))
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * FRAME_BYTES).alias("byte_offset"),
        )
    )


@register(
    "source_binary_files",
    oracle="""
    SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes
    FROM documents WHERE doc_id < 10
    """,
)
def source_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source: stage the first 10 documents as raw files, read
    them back with spark.read.format('binaryFile') — the ingestion path
    for real image/audio blobs (path, modificationTime, length, content).
    doc_id is recovered from the filename; lengths must match the source
    table."""
    import os

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    stage = scratch_fresh("binfiles", sf_dir)
    rows = d.select("doc_id", "text").collect()
    # Driver-side staging is ONLY safe because the filter above bounds the
    # fixture set; fail loudly if a future edit widens it into a funnel.
    # A hard raise, not `assert` — asserts vanish under `python -O` and
    # this guard must survive optimized mode.
    if len(rows) > 10:
        raise RuntimeError(
            f"source_binary_files staged {len(rows)} rows on the driver; "
            "the collect() is bounded by design — widen via a distributed "
            "write (df.write.format('binaryFile'-equivalent)), not this loop"
        )
    for row in rows:
        with open(os.path.join(stage, f"{row['doc_id']:05d}.bin"), "wb") as f:
            f.write(row["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(stage)
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("bigint").alias("doc_id"),
        F.octet_length("content").cast("bigint").alias("n_bytes"),
    )


@register(
    "mm_decode_features",
    oracle="""
    WITH b AS (
      SELECT doc_id, ascii(substring(text, CAST(i AS INT), 1)) AS byte
      FROM documents,
           LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bytes,
           floor((CAST(sum(byte) AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6
             AS mean_byte,
           CAST(max(byte) AS DOUBLE) AS max_byte,
           CAST(min(byte) AS DOUBLE) AS min_byte
    FROM b GROUP BY doc_id
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads with mapInPandas: Arrow
    batches in, Arrow batches out — the shape a GPU/codec UDF runs in at
    scale (one batch per core, payloads never hit the driver). Decode
    itself is stubbed (see extract_image_features in decode_batches).

    Features are projected as SCALAR columns (one moment per column),
    not array<double> — the r04 driver canonicalizer cannot hash list
    cells, and scalars make the contract DuckDB-expressible (the oracle
    recomputes the same moments from the byte stream, mirroring the
    reference's golden-bytes tests, record_processor_test.go:14-85).
    The mean uses floor(x*1e6+0.5)/1e6 on both sides — step 2 of the
    registry's FP-determinism ladder — so engine round() modes can't
    flip the hash at half-way points."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # The whole closure is self-contained (no module-global references):
    # cloudpickle ships it by VALUE, so the UDF runs on workers that
    # don't have kinesis2sse_spark on sys.path — a module-level helper
    # would pickle by module reference and ModuleNotFoundError on any
    # deploy that didn't install the package executor-side.
    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        def extract_image_features(payload: bytes) -> tuple:
            # STUB decode: the container has no image/audio codecs.
            # Deterministic fake features = moments of the raw byte
            # stream. A real deployment replaces this body with
            # PIL/torchvision decode; the Spark plumbing (schema,
            # batching, partitioning) is unchanged.
            if not payload:
                return (0, 0.0, 0.0, 0.0)
            n = len(payload)
            mean = math.floor((float(sum(payload)) / n) * 1e6 + 0.5) / 1e6
            return (n, mean, float(max(payload)), float(min(payload)))

        for pdf in batches:
            feats = [extract_image_features(bytes(b)) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [f[0] for f in feats],
                    "mean_byte": [f[1] for f in feats],
                    "max_byte": [f[2] for f in feats],
                    "min_byte": [f[3] for f in feats],
                }
            )

    return d.mapInPandas(
        decode_batches,
        schema="doc_id long, n_bytes long, mean_byte double,"
        " max_byte double, min_byte double",
    )


@register(
    "mm_audio_windows",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             CAST((i - 1) // 64 AS INT) AS window_idx,
             ascii(substring(text, CAST(i AS INT), 1)) AS byte,
             length(text) AS n
      FROM documents,
           LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
    )
    SELECT doc_id, window_idx,
           floor(sqrt(CAST(sum(byte * byte) AS DOUBLE) / 64) * 1e6 + 0.5)
             / 1e6 AS rms
    FROM b
    WHERE (window_idx + 1) * 64 <= n
    GROUP BY doc_id, window_idx
    """,
)
def mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-style windowed feature extraction: treat the byte stream as a
    waveform, emit RMS energy per complete 64-sample window via
    mapInPandas (vectorized numpy inside the Arrow batch).

    Numerics are oracle-exact by construction: the 64 squared bytes sum
    to an integer < 2^53 (order-independent, exact in doubles), /64 is a
    power-of-two divide, IEEE sqrt is correctly rounded, and the final
    floor(x*1e6+0.5)/1e6 is step 2 of the registry's FP ladder — so the
    DuckDB oracle recomputing the same windows from the byte stream
    hashes identically (golden-bytes rigor per
    record_processor_test.go:14-85)."""
    import numpy as np

    win = 64
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def rms_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_rms = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.float64)
                n_win = len(arr) // win
                if n_win == 0:
                    continue
                chunks = arr[: n_win * win].reshape(n_win, win)
                rms = np.sqrt((chunks**2).mean(axis=1))
                out_ids.extend([doc_id] * n_win)
                out_idx.extend(range(n_win))
                out_rms.extend(np.floor(rms * 1e6 + 0.5) / 1e6)
            yield pd.DataFrame(
                {"doc_id": out_ids, "window_idx": out_idx, "rms": out_rms}
            )

    return d.mapInPandas(rms_windows, schema="doc_id long, window_idx int, rms double")


PATCH_ROW_BYTES = 32  # fake "image" width: bytes per raster row
PATCH_SIZE = 8  # patch side length (8x8 = 64 bytes per patch)


@register(
    "mm_image_patches",
    oracle=f"""
    WITH raw AS (
      -- byte-level raster: hex(encode(text)) + hex-pair arithmetic,
      -- NOT ascii(substring(text, i, 1)) — character indexing counts
      -- codepoints, so any non-ASCII document would desync geometry
      -- and values vs the Spark side's UTF-8 byte buffer
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ), hx2 AS (
      SELECT doc_id, i, nb,
             ascii(substring(hx, CAST(2 * i - 1 AS INT), 1)) AS h1,
             ascii(substring(hx, CAST(2 * i AS INT), 1)) AS h2
      FROM raw, LATERAL (SELECT unnest(range(1, nb + 1)) AS i) u
    ), b AS (
      SELECT doc_id,
             ((i - 1) % {PATCH_ROW_BYTES}) // {PATCH_SIZE} AS px,
             ((i - 1) // {PATCH_ROW_BYTES}) // {PATCH_SIZE} AS py,
             (i - 1) // {PATCH_ROW_BYTES} AS r,
             (CASE WHEN h1 BETWEEN 48 AND 57 THEN h1 - 48 ELSE h1 - 55 END) * 16
             + (CASE WHEN h2 BETWEEN 48 AND 57 THEN h2 - 48 ELSE h2 - 55 END) AS byte,
             (nb // {PATCH_ROW_BYTES}) // {PATCH_SIZE} * {PATCH_SIZE} AS full_rows
      FROM hx2
    )
    SELECT doc_id, CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
           CAST(sum(byte) AS DOUBLE) / {PATCH_SIZE * PATCH_SIZE} AS mean_byte
    FROM b
    WHERE r < full_rows
    GROUP BY doc_id, px, py
    """,
)
def mm_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Patch tiling over an "image" payload — the ViT-style
    preprocessing step: the byte stream rasterizes to PATCH_ROW_BYTES-
    wide rows, complete PATCH_SIZE x PATCH_SIZE tiles each reduce to a
    mean intensity (a real deployment swaps the mean for a patch
    embedding; schema and batch shape are unchanged). Vectorized numpy
    inside mapInPandas — one reshape + axis-sum per Arrow batch, no
    per-pixel Python — which is the only acceptable Python shape when
    every byte of a 100 TB corpus flows through the stage. Partial
    patches (right/bottom edges) are dropped, as tilers do. The mean
    divides an exact integer sum by the power-of-two patch area, so
    both engines produce the identical double with no rounding ladder
    needed; the DuckDB oracle replays the tiling byte-for-byte over
    hex(encode(text)) octets, so non-ASCII payloads raster identically
    on both engines (character indexing would count codepoints and
    desync)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # self-contained closure: pickled by value, runs without the package
    # installed executor-side (same rationale as decode_batches above)
    def patch_batches(
        batches: Iterator[pd.DataFrame], W: int = PATCH_ROW_BYTES, P: int = PATCH_SIZE
    ) -> Iterator[pd.DataFrame]:
        # W/P bound as default args: the closure stays pickled by value
        # AND tracks the module constants the oracle interpolates
        import numpy as np
        out_doc, out_px, out_py, out_mean = [], [], [], []
        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_rows = (len(arr) // W) // P * P
                if n_rows == 0:
                    continue
                grid = arr[: n_rows * W].astype(np.int64).reshape(n_rows // P, P, W // P, P)
                means = grid.sum(axis=(1, 3)) / float(P * P)
                for py in range(means.shape[0]):
                    for px in range(means.shape[1]):
                        out_doc.append(doc_id)
                        out_px.append(px)
                        out_py.append(py)
                        out_mean.append(means[py, px])
            yield pd.DataFrame(
                {"doc_id": out_doc, "px": out_px, "py": out_py, "mean_byte": out_mean}
            )
            out_doc, out_px, out_py, out_mean = [], [], [], []

    return d.mapInPandas(
        patch_batches, schema="doc_id long, px long, py long, mean_byte double"
    )


CUT_THRESHOLD = 10.0  # mean-intensity jump that counts as a scene cut


@register(
    "mm_video_scene_cuts",
    oracle=f"""
    WITH raw AS (
      -- hex-octet raster (the mm_image_patches rule): byte-level, so
      -- non-ASCII payloads decode identically on both engines
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ), hx2 AS (
      SELECT doc_id, i, nb,
             ascii(substring(hx, CAST(2 * i - 1 AS INT), 1)) AS h1,
             ascii(substring(hx, CAST(2 * i AS INT), 1)) AS h2
      FROM raw, LATERAL (SELECT unnest(range(1, nb + 1)) AS i) u
    ), b AS (
      SELECT doc_id, (i - 1) // {FRAME_BYTES} AS f,
             (CASE WHEN h1 BETWEEN 48 AND 57 THEN h1 - 48 ELSE h1 - 55 END) * 16
             + (CASE WHEN h2 BETWEEN 48 AND 57 THEN h2 - 48 ELSE h2 - 55 END) AS byte,
             nb // {FRAME_BYTES} AS n_frames
      FROM hx2
    ), fm AS (
      SELECT doc_id, f, CAST(sum(byte) AS DOUBLE) / {FRAME_BYTES} AS m
      FROM b WHERE f < n_frames GROUP BY doc_id, f
    ), d AS (
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             abs(m - lag(m) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
      FROM fm
    )
    SELECT doc_id, frame_idx, delta FROM d WHERE delta >= {CUT_THRESHOLD}
    """,
)
def mm_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over a "video" payload — the shot-boundary
    step video curation pipelines run before sampling keyframes (cuts
    segment the stream; mm_frame_sample's stride then lands inside
    shots): consecutive FRAME_BYTES-blocks reduce to a mean intensity,
    and a jump of >= CUT_THRESHOLD between adjacent frames is a cut
    (a real deployment swaps the byte-mean for a decoded histogram or
    embedding distance; schema, batching, and the lag-compare are
    unchanged). Vectorized numpy inside mapInPandas — reshape + axis
    mean + diff per Arrow batch, no per-frame Python, payloads never
    on the driver.

    Numerics are oracle-exact by construction: the frame sum is an
    integer, /16 is a power-of-two divide, and the difference of two
    1/16-multiples < 256 is itself exact — no rounding ladder needed.
    The DuckDB oracle replays frames over hex(encode(text)) octets
    (golden-bytes rigor, record_processor_test.go:14-85)."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # constants ride as DEFAULTS (evaluated at def time, pickled by
    # VALUE): a free reference to the module globals would pickle by
    # module reference and ModuleNotFoundError on workers that don't
    # have the package installed (the mm_decode_features rule)
    def cuts(
        batches: Iterator[pd.DataFrame],
        fb: int = FRAME_BYTES,
        thr: float = CUT_THRESHOLD,
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_delta = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n_frames = len(arr) // fb
                if n_frames < 2:
                    continue
                means = (
                    arr[: n_frames * fb]
                    .reshape(n_frames, fb)
                    .astype(np.float64)
                    .sum(axis=1)
                    / fb
                )
                delta = np.abs(np.diff(means))
                hit = np.nonzero(delta >= thr)[0]
                out_ids.extend([doc_id] * len(hit))
                out_idx.extend((hit + 1).tolist())
                out_delta.extend(delta[hit].tolist())
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "delta": out_delta}
            )

    return d.mapInPandas(cuts, schema="doc_id long, frame_idx long, delta double")


@register(
    "mm_dedup_binary",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5(text) AS content_key,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    grp AS (
      SELECT content_key,
             CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
             CAST(count(*) AS BIGINT) AS n_copies,
             CAST(sum(n_bytes) AS BIGINT) AS total_bytes
      FROM keyed GROUP BY content_key
    )
    SELECT k.doc_id, k.content_key, g.canonical_doc_id,
           g.n_copies,
           CAST(k.doc_id <> g.canonical_doc_id AS BOOLEAN) AS is_dup,
           g.total_bytes - k.n_bytes AS reclaimable_bytes
    FROM keyed k JOIN grp g ON k.content_key = g.content_key
    """,
)
def mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed dedup over opaque binary payloads — the exact
    image/audio dedup step a multimodal pipeline runs before any decode
    (two byte-identical blobs are the SAME asset no matter what the
    metadata says): hash the payload (md5 here; the 128-bit key keeps
    the birthday bound negligible at 100 TB, unlike a 64-bit key —
    the dedup_span_removal lesson), group by digest, keep min(doc_id)
    as canonical, and emit per-row the dup flag plus the bytes storage
    would reclaim. One hash shuffle on the digest — payload bytes
    never shuffle (only the 16-byte key + 8-byte size do), which is
    the whole point at blob scale; the self-join back to rows is the
    same digest-keyed exchange, co-partitioned, no second corpus scan
    of the blob column thanks to the cached keyed relation."""

    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    keyed = d.select(
        "doc_id",
        F.md5(payload).alias("content_key"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
    ).transform(pin_cache)
    grp = keyed.groupBy("content_key").agg(
        F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
        F.count("*").cast("bigint").alias("n_copies"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
    )
    return keyed.join(grp, "content_key").select(
        "doc_id",
        "content_key",
        "canonical_doc_id",
        "n_copies",
        (F.col("doc_id") != F.col("canonical_doc_id")).alias("is_dup"),
        (F.col("total_bytes") - F.col("n_bytes")).alias("reclaimable_bytes"),
    )


# Energy-threshold voice-activity detection over the fake waveform:
# the standard VAD preprocessing step an audio-training pipeline runs
# before transcription/feature extraction — find the sustained
# high-energy segments, drop the silence. Windows are the same
# complete 64-sample frames as mm_audio_windows but scored by the
# INTEGER energy sum (sum of squared bytes, exact int64 both engines —
# no FP anywhere in the segmentation), thresholded at the fixture's
# median window energy so both regimes are populated; consecutive
# active windows merge into segments via the gaps-and-islands
# row_number trick.
VAD_WIN = 64
VAD_MIN_ENERGY = 628_000  # ≈ median complete-window energy at sf0.01


@register(
    "mm_audio_vad",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             CAST((i - 1) // {VAD_WIN} AS INT) AS window_idx,
             ascii(substring(text, CAST(i AS INT), 1)) AS byte,
             length(text) AS n
      FROM documents,
           LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i) u
    ),
    w AS (
      SELECT doc_id, window_idx,
             CAST(sum(byte * byte) AS BIGINT) AS energy
      FROM b WHERE (window_idx + 1) * {VAD_WIN} <= n
      GROUP BY doc_id, window_idx
    ),
    act AS (
      SELECT doc_id, window_idx, energy,
             window_idx - row_number() OVER (PARTITION BY doc_id
                                             ORDER BY window_idx) AS grp
      FROM w WHERE energy >= {VAD_MIN_ENERGY}
    )
    SELECT doc_id,
           CAST(min(window_idx) AS BIGINT) AS seg_start,
           CAST(max(window_idx) AS BIGINT) AS seg_end,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(energy) AS BIGINT) AS energy_sum
    FROM act GROUP BY doc_id, grp
    """,
)
def mm_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments: active (energy >= {VAD_MIN_ENERGY})
    complete 64-sample windows merged into maximal runs per doc — see
    the block comment. The Spark side stays entirely JVM-side: window
    energies come from nested higher-order functions (transform over
    window indexes, aggregate over the 64 samples — NO per-character
    row explosion, unlike the oracle's unnest replay), then one
    posexplode of the per-doc energy array (rows = windows, ~n/64) and
    one doc-partitioned window for the island grouping. Scale shape:
    shuffles once on doc_id (the natural key) for the segmentation
    window; everything upstream is a projection. Fixture note: text is
    pure ASCII so character indexing == byte indexing (the
    mm_image_patches hex trick is unnecessary here; mm_audio_windows
    sets the precedent)."""
    d = load_table(spark, sf_dir, "documents")
    # Split ONCE per row and slice per window: substring(text, pos, 1)
    # is O(pos) on UTF8String, so the substring-per-sample form was
    # O(len^2) per doc — the r13 scale curve caught it superlinear
    # (112x at the 100x corpus); the char-array form is O(len) and
    # took the 100x leg from 422 s to the linear lane.
    chars = F.split("text", "")
    energies = F.expr(
        f"""
        CASE WHEN length(text) div {VAD_WIN} >= 1 THEN
          transform(
            sequence(0, CAST(length(text) div {VAD_WIN} AS INT) - 1),
            w -> aggregate(
              slice(cs, w * {VAD_WIN} + 1, {VAD_WIN}),
              CAST(0 AS BIGINT),
              (acc, c) -> acc + CAST(ascii(c) AS BIGINT) * ascii(c)))
        ELSE array() END
        """
    )
    w = (
        d.withColumn("cs", chars)
        .select("doc_id", F.posexplode(energies).alias("window_idx", "energy"))
        .filter(F.col("energy") >= VAD_MIN_ENERGY)
    )
    from pyspark.sql import Window as W

    grp = F.col("window_idx") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("window_idx")
    )
    return (
        w.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("window_idx").cast("bigint").alias("seg_start"),
            F.max("window_idx").cast("bigint").alias("seg_end"),
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum("energy").cast("bigint").alias("energy_sum"),
        )
        .drop("grp")
    )


# Perceptual hash (pHash, the DCT variant popularized by
# pHash.org / imagehash): rasterize the payload to a PH_N x PH_N
# "image", take the 2-D DCT-II, keep the 8x8 low-frequency block,
# and emit one bit per AC coefficient — 1 iff it exceeds the median
# AC coefficient — packed into a 63-bit integer. Near-duplicate
# images then dedup by Hamming distance on an 8-byte key instead of
# by pixels (the binary-side analogue of dedup_simhash). Decode is
# the module's documented STUB (payload = utf-8 bytes of text; a real
# deployment swaps in PIL decode + grayscale resize, same schema).
#
# Exactness (golden-bytes rigor): the DCT uses an INTEGER cosine
# table — round(cos(pi*(2x+1)*u/(2*PH_N)) * 2^14) — generated ONCE at
# module import and inlined into both the numpy kernel and the oracle
# SQL, so every coefficient is exact int64 (bound: 255 * 2^28 * 256
# ~ 1.8e13) and the median/bit decisions are integer comparisons —
# no FP anywhere, either engine. Scale shape: mapInPandas with one
# vectorized einsum per Arrow batch (the mm_decode_features Python
# boundary, embarrassingly parallel); the oracle replays the same
# table over the first PH_PIX codepoints (fixture text is ASCII, the
# mm_audio_windows byte==codepoint convention).
PH_N = 16  # raster side: PH_N x PH_N pixels from the first PH_PIX bytes
PH_PIX = PH_N * PH_N
PH_SCALE = 1 << 14

import math as _math  # noqa: E402

PH_COSTAB = tuple(
    int(_math.floor(_math.cos(_math.pi * (2 * x + 1) * u / (2 * PH_N)) * PH_SCALE + 0.5))
    for u in range(8)
    for x in range(PH_N)
)


@register(
    "mm_image_phash",
    oracle=f"""
    WITH px AS (
      SELECT doc_id,
             list_transform(string_split_regex(substring(text, 1, {PH_PIX}), ''),
                            c -> CAST(ascii(c) AS BIGINT)) AS p
      FROM documents WHERE length(text) >= {PH_PIX}
    ),
    ct AS (SELECT {list(PH_COSTAB)} AS t),
    uv AS (
      SELECT u.u, v.v
      FROM (SELECT unnest(generate_series(0, 7)) AS u) u,
           (SELECT unnest(generate_series(0, 7)) AS v) v
    ),
    coef AS (
      SELECT doc_id, u, v,
             CAST(list_sum(list_transform(generate_series(0, {PH_PIX - 1}), i ->
               p[i + 1] * t[u * {PH_N} + (i // {PH_N}) + 1]
                        * t[v * {PH_N} + (i % {PH_N}) + 1])) AS BIGINT) AS f
      FROM px, ct, uv
    ),
    ac AS (
      SELECT doc_id, u, v, f,
             row_number() OVER (PARTITION BY doc_id ORDER BY f) AS rn
      FROM coef WHERE NOT (u = 0 AND v = 0)
    ),
    med AS (SELECT doc_id, f AS m FROM ac WHERE rn = 32)
    SELECT ac.doc_id,
           CAST(sum(CASE WHEN ac.f > med.m
                    THEN CAST(1 AS BIGINT) << (ac.u * 8 + ac.v - 1)
                    ELSE 0 END) AS BIGINT) AS phash,
           CAST(sum(CASE WHEN ac.f > med.m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bits
    FROM ac JOIN med USING (doc_id)
    GROUP BY ac.doc_id
    """,
)
def mm_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit DCT perceptual hash per document payload — see the
    block comment for the integer-DCT construction shared verbatim
    with the oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    # self-contained closure (pickled by value; costab bound as a
    # default arg so the workers never import this module)
    def phash_batches(
        batches: Iterator[pd.DataFrame], COS=PH_COSTAB, N=PH_N, PIX=PH_PIX
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        C = np.array(COS, dtype=np.int64).reshape(8, N)
        for pdf in batches:
            ids, mats = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                if len(b) < PIX:
                    continue
                ids.append(doc_id)
                mats.append(
                    np.frombuffer(b[:PIX], dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(N, N)
                )
            if not ids:
                continue
            P = np.stack(mats)
            Fm = np.einsum("ux,nxy,vy->nuv", C, P, C)  # exact int64
            flat = Fm.reshape(len(ids), 64)
            ac = flat[:, 1:]
            med = np.sort(ac, axis=1)[:, 31]
            bits = ac > med[:, None]
            weights = (np.uint64(1) << np.arange(63, dtype=np.uint64))
            phash = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "phash": phash,
                    "n_bits": bits.sum(axis=1).astype(np.int64),
                }
            )

    return d.mapInPandas(
        phash_batches, schema="doc_id long, phash long, n_bits long"
    )


# --- payload byte entropy ----------------------------------------------------
# Shannon entropy of each payload's byte-value distribution — the
# standard cheap corruption/compressibility probe a multimodal intake
# runs before decode: ~log2(256) bits/byte means already-compressed or
# encrypted content (don't recompress, maybe don't trust the declared
# codec), very low entropy means padding/stuck frames. On the fixture
# the payload is the UTF-8 text (the module-wide convention), so
# symbols are its codepoints. Exactness: per-(doc, symbol) counts are
# exact int64; each histogram term -(c/n) ln(c/n) quantizes to the
# 1e12 lattice before the per-doc integer sum (order-independent);
# final entropy floor-quantizes 1e6. Plan: ONE symbol-explode shuffle
# keyed on doc_id (the natural key), two hash aggregates back down to
# doc rows — linear in corpus bytes, embarrassingly parallel.
@register(
    "mm_payload_entropy",
    oracle="""
    WITH sym AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE text IS NOT NULL
    ),
    h AS (
      SELECT doc_id, ascii(ch) AS byte, CAST(count(*) AS BIGINT) AS c
      FROM sym WHERE ch <> '' GROUP BY doc_id, byte
    ),
    n AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_distinct
      FROM h GROUP BY doc_id
    ),
    t AS (
      SELECT h.doc_id,
             CAST(sum(CAST(floor(-(CAST(h.c AS DOUBLE) / n.n)
                                 * ln(CAST(h.c AS DOUBLE) / n.n)
                                 * 1000000000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM h JOIN n USING (doc_id) GROUP BY h.doc_id
    )
    SELECT n.doc_id, n.n AS n_symbols, n.n_distinct,
           floor(CAST(t.sq AS DOUBLE) / 1000000000000 * 1000000 + 0.5)
             / 1000000 AS byte_entropy
    FROM n JOIN t USING (doc_id)
    """,
)
def mm_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload byte-value Shannon entropy (nats) with symbol
    counts — the pre-decode corruption/compressibility probe. See the
    block comment for the 1e12-lattice exactness and the single
    doc-keyed shuffle plan."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    sym = d.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    h = (
        sym.groupBy("doc_id", F.ascii("ch").alias("byte"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(pin_cache)
    )
    n = h.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n")
    t = (
        h.join(n.select("doc_id", "n"), "doc_id")
        .select(
            "doc_id",
            F.floor(-p * F.log(p) * 1000000000000 + F.lit(0.5))
            .cast("bigint")
            .alias("q"),
        )
        .groupBy("doc_id")
        .agg(F.sum("q").cast("bigint").alias("sq"))
    )
    return n.join(t, "doc_id").select(
        "doc_id",
        F.col("n").alias("n_symbols"),
        "n_distinct",
        (
            F.floor(F.col("sq").cast("double") / 1000000000000 * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("byte_entropy"),
    )
