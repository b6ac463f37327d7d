"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the decode step is STUBBED:
``decode_image`` raises NotImplementedError by design, and
``fake_image_features`` is a deterministic stand-in (hash-derived) so the
Spark-side plumbing — schema, batch iteration, partition sizing — is real
and tested. Swapping in PIL/torchaudio is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("feat_dim", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def decode_image(payload: bytes):  # pragma: no cover - intentional stub
    """Real decode (PIL.Image.open etc.) — unavailable in this container."""
    raise NotImplementedError(
        "image codecs not installed; use fake_image_features for plumbing tests"
    )


def fake_image_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature extractor: sha256-derived floats in
    [0,1). Same payload → same features, everywhere."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i % len(h)] / 255.0 for i in range(dim)]


def extract_features(media: DataFrame, dim: int = 8, use_stub: bool = True) -> DataFrame:
    """Batch feature extraction over binary payloads via mapInPandas —
    Arrow-batched, one Python worker per partition, no row-at-a-time serde.
    Partition count (not row width) governs parallelism, so repartition
    upstream by expected decode cost at scale."""

    # The per-batch function is defined LOCALLY (not a module-level ref) so
    # cloudpickle serializes it BY VALUE: executors then need no
    # usedcars_bigdata_spark on their PYTHONPATH. The driver harness builds
    # its own SparkSession, and local-function capture is what keeps this
    # query runnable there (module-level refs pickle by reference and
    # ModuleNotFoundError on workers launched outside the repo root).
    if use_stub:

        def fn(p: bytes, _dim: int = dim) -> list[float]:
            import hashlib as _hashlib

            h = _hashlib.sha256(p or b"").digest()
            return [h[i % len(h)] / 255.0 for i in range(_dim)]

    else:

        def fn(p: bytes, _dim: int = dim) -> list[float]:
            raise NotImplementedError(
                "image codecs not installed; use_stub=True for plumbing tests"
            )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fn(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feat_dim": dim,
                    "features": feats,
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Video frame sampling via mapInPandas: one input row → n output rows
    (frame schedule), the 1-to-N expansion shape a real video pipeline
    needs (ffmpeg keyframe extraction). The SCHEDULE math is real —
    ``n_frames = min(max_frames, duration_ms // every_ms + 1)`` from the
    duration metadata, timestamps at ``i * every_ms`` — while the decode
    is stubbed deterministically (no codecs in this container): each
    "frame" is fingerprinted as sha256(payload ':' idx) hex, so the
    expansion is exactly replayable by a SQL oracle and swapping in a
    real decoder changes one line.

    Rows with NULL duration emit one frame at t=0 (the poster-frame
    convention). Output: (media_id, frame_idx, frame_ts_ms, frame_sha)."""
    out_schema = (
        "media_id long, frame_idx int, frame_ts_ms long, frame_sha string"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            mids, idxs, tss, shas = [], [], [], []
            for mid, payload, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                n = 1
                if dur is not None and not pd.isna(dur):
                    n = min(max_frames, int(dur) // every_ms + 1)
                for i in range(max(n, 1)):
                    mids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    shas.append(
                        _hashlib.sha256(
                            bytes(payload or b"") + f":{i}".encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_ts_ms": pd.Series(tss, dtype="int64"),
                    "frame_sha": pd.Series(shas, dtype="object"),
                }
            )

    return media.select("media_id", "payload", "duration_ms").mapInPandas(
        run, out_schema
    )


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """Thumbnail/resize plumbing via mapInPandas: metadata transform is
    real (output dimensions recorded), pixel work is the deterministic
    stub sha256(payload ':WxH') — swap one line for PIL.thumbnail when
    codecs exist. Output: (media_id, width, height, thumb_sha)."""
    out_schema = "media_id long, width int, height int, thumb_sha string"
    tag = f":{width}x{height}".encode()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "thumb_sha": [
                        _hashlib.sha256(bytes(p or b"") + tag).hexdigest()
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, out_schema)


def synthesize_media_from_docs(docs: DataFrame, media_type: str = "image") -> DataFrame:
    """Build a deterministic fake media table from the documents table so the
    plumbing can run against harness data (text bytes as payload)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(media_type).alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def fake_image_pixels(payload: bytes, grid: int = 8) -> list[int]:
    """Deterministic stand-in grayscale decode: a sha256-extended byte
    stream shaped to grid*grid pixels. Same payload -> same pixels,
    everywhere — the decode contract pHash needs, minus the codec.

    The extension chain hashes the HEX STRING of the previous block
    (not its raw digest bytes): SQL engines' sha256 takes VARCHAR, so
    this keeps the whole stream replayable in the DuckDB oracle —
    pixel k of block i is byte k of unhex(hex_i), hex_{i+1} =
    sha256(hex_i)."""
    need = grid * grid
    out = b""
    hexstr = hashlib.sha256(payload or b"").hexdigest()
    while len(out) < need:
        out += bytes.fromhex(hexstr)
        hexstr = hashlib.sha256(hexstr.encode("ascii")).hexdigest()
    return list(out[:need])


def perceptual_ahash(
    media: DataFrame,
    grid: int = 8,
    decode_fn=None,
) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint per image payload:
    decode to grayscale, resize to grid x grid, set bit i iff pixel_i is
    above the image mean, pack to one 64-bit word (grid=8). Near-identical
    IMAGES — recompressed, lightly edited — land within a few Hamming
    bits, which is what makes this the image leg of the dedup stack.

    ``decode_fn(payload) -> list[int]`` is injectable: the default is the
    deterministic sha256 stand-in (codecs absent in this container — the
    stub note on decode_image), and tests inject synthetic decoders with
    CONTROLLED pixels to exercise the near-dup radius for real. The
    hashing/packing/pairing pipeline is identical either way.

    Output: (media_id, simhash) — named to drop straight into
    ext.dedup.simhash_near_pairs' chunk-index pairing."""
    if grid * grid != 64:
        raise ValueError("aHash packs exactly 64 bits: grid must be 8")

    def _default_decode(payload, _grid=grid):
        # Self-contained twin of fake_image_pixels: referencing the
        # module-level helper from the worker closure would pickle BY
        # REFERENCE and require the package on the workers' path
        # (capture-by-value convention; see streaming.stateful._make_track).
        import hashlib as _hashlib

        need = _grid * _grid
        out = b""
        hexstr = _hashlib.sha256(payload or b"").hexdigest()
        while len(out) < need:
            out += bytes.fromhex(hexstr)
            hexstr = _hashlib.sha256(hexstr.encode("ascii")).hexdigest()
        return list(out[:need])

    fn = decode_fn or _default_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                px = np.asarray(fn(payload), dtype="float64")
                if px.size != 64:
                    # a >64-pixel decoder would shift by >= 64, which
                    # wraps mod 64 on x86 (C UB) and silently folds
                    # pixel i onto bit i%64 — corrupted, platform-
                    # dependent fingerprints with no error (r9 review)
                    raise ValueError(
                        f"decode_fn must emit exactly 64 pixels "
                        f"(8x8 aHash grid): got {px.size}"
                    )
                bits = px > px.mean()
                word = np.uint64(0)
                for i, b in enumerate(bits):
                    if b:
                        word |= np.uint64(1) << np.uint64(i)
                hashes.append(np.int64(word.astype("uint64").view("int64")))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "simhash": hashes}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, simhash long"
    )


def image_near_dupes(
    media: DataFrame, max_hamming: int = 3, decode_fn=None
) -> DataFrame:
    """Image near-duplicate pairs: perceptual aHash -> the SimHash
    chunk-index pairing (complete for max_hamming < 4 by pigeonhole — see
    ext.dedup.simhash_near_pairs). One fingerprint pass over payloads,
    then all pairing work happens on 8-byte words — the cross-modality
    payoff of sharing the Hamming machinery with the text tier."""
    from .dedup import simhash_near_pairs

    # Materialize the fingerprints: the chunk index self-joins them, and
    # without a cut the Arrow decode+hash pass would execute on BOTH
    # sides of the join — the expensive stage twice over the corpus
    # (caught by the r8 scan-budget test: 2 payload scans for 1 pass).
    fps = perceptual_ahash(media, decode_fn=decode_fn).localCheckpoint(
        eager=True
    )
    return simhash_near_pairs(fps, "media_id", max_hamming=max_hamming)


def audio_frame_features(
    media: DataFrame,
    frame_len: int = 256,
    n_frames: int = 8,
    decode_fn=None,
) -> DataFrame:
    """Per-frame audio features over binary payloads: RMS energy and
    zero-crossing rate for ``n_frames`` fixed-length frames — the
    VAD/segmentation primitives an audio-curation pipeline computes
    before any model touches the waveform (silence trimming, music/speech
    routing, clipping detection). Completes the modality matrix
    next to the image (aHash/features) and video (frame sampling) legs.

    ``decode_fn(payload) -> int16 array`` is injectable; the default is
    a SELF-CONTAINED sha256-extended PCM stand-in (capture-by-value —
    the worker needs no package import), so the Spark plumbing — schema,
    mapInPandas batching, per-frame explode shape — is real and tested
    while the codec is the only stub. One Arrow pass; output is
    media × n_frames rows.

    Output: (media_id, frame_idx, rms, zcr)."""

    def _default_decode(payload, _need=frame_len * n_frames):
        # Chains sha256 over HEX STRINGS (not raw digest bytes) for the
        # same reason as fake_image_pixels: SQL engines' sha256 takes
        # VARCHAR, so the whole PCM stream replays in a recursive CTE —
        # block k's 16 little-endian int16 samples come from
        # hex_k = sha256(hex_{k-1}), hex_0 = sha256(payload).
        import hashlib as _hashlib

        out = b""
        hexstr = _hashlib.sha256(payload or b"").hexdigest()
        while len(out) < _need * 2:
            out += bytes.fromhex(hexstr)
            hexstr = _hashlib.sha256(hexstr.encode("ascii")).hexdigest()
        import numpy as _np

        return _np.frombuffer(out[: _need * 2], dtype="<i2")

    fn = decode_fn or _default_decode

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fidx, rms, zcr = [], [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                pcm = np.asarray(fn(payload), dtype=np.float64)
                need = frame_len * n_frames
                if len(pcm) < need:
                    pcm = np.pad(pcm, (0, need - len(pcm)))
                frames = pcm[:need].reshape(n_frames, frame_len)
                fr_rms = np.sqrt((frames**2).mean(axis=1))
                signs = np.sign(frames)
                crossings = (np.abs(np.diff(signs, axis=1)) > 1).sum(axis=1)
                for i in range(n_frames):
                    ids.append(media_id)
                    fidx.append(i)
                    rms.append(round(float(fr_rms[i]), 4))
                    zcr.append(round(float(crossings[i]) / (frame_len - 1), 4))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": fidx, "rms": rms, "zcr": zcr}
            )

    return media.select("media_id", "payload").mapInPandas(
        run, "media_id long, frame_idx int, rms double, zcr double"
    )


def shot_boundaries(
    frames: DataFrame, luma_threshold: int = 64
) -> DataFrame:
    """Shot-boundary detection over a sampled frame table — the standard
    frame-difference cut detector (|mean-luma(t) − mean-luma(t−1)| >
    threshold), with the Spark plumbing real and only the luma extraction
    stubbed: the per-frame "mean brightness" is the first 4 bytes of the
    frame fingerprint mod 256 (deterministic, SQL-replayable — a real
    decoder swaps one expression). One lag window per media ordered by
    frame_idx (state = 1 frame), then a count aggregate; shots = cuts+1.

    Input: sample_frames output (media_id, frame_idx, frame_sha).
    Output: (media_id, n_frames, n_cuts, n_shots)."""
    luma = (
        F.conv(F.substring("frame_sha", 1, 8), 16, 10).cast("long") % 256
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    scored = frames.select(
        "media_id", "frame_idx", luma.alias("__luma")
    ).withColumn("__prev", F.lag("__luma").over(w))
    cut = (
        F.col("__prev").isNotNull()
        & (F.abs(F.col("__luma") - F.col("__prev")) > luma_threshold)
    ).cast("int")
    return (
        scored.select("media_id", cut.alias("__cut"))
        .groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            F.sum("__cut").cast("bigint").alias("n_cuts"),
            (F.sum("__cut") + 1).cast("bigint").alias("n_shots"),
        )
    )


def vad_segments(
    frames: DataFrame, rms_col: str = "rms", threshold: float = 0.5
) -> DataFrame:
    """Energy-threshold voice-activity segmentation over a per-frame
    feature table (audio_frame_features output, or any (media_id,
    frame_idx, rms)): voiced = rms > threshold, segments = maximal runs
    of consecutive voiced frames via the gaps-and-islands trick
    (frame_idx − row_number over voiced frames is constant within a
    run). The segmentation is the certified logic; energy extraction
    stays in the decode tier. Two windows per media (one filtered), one
    aggregate; frames-per-media is bounded, so partitions are tiny.

    Output: (media_id, n_frames, n_voiced, n_segments,
    longest_segment)."""
    voiced = frames.select(
        "media_id",
        "frame_idx",
        (F.col(rms_col) > F.lit(threshold)).cast("int").alias("v"),
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    runs = (
        voiced.filter(F.col("v") == 1)
        .withColumn("__grp", F.col("frame_idx") - F.row_number().over(w))
        .groupBy("media_id", "__grp")
        .agg(F.count(F.lit(1)).alias("seg_len"))
    )
    seg = runs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.max("seg_len").alias("longest_segment"),
    )
    base = voiced.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"), F.sum("v").alias("n_voiced")
    )
    return (
        base.join(seg, "media_id", "left")
        .select(
            "media_id",
            F.col("n_frames").cast("bigint").alias("n_frames"),
            # all-NULL rms media: sum is NULL — coalesce like the
            # segment columns so the row reads 0 voiced, not NULL (r9)
            F.coalesce(F.col("n_voiced"), F.lit(0))
            .cast("bigint")
            .alias("n_voiced"),
            F.coalesce(F.col("n_segments"), F.lit(0))
            .cast("bigint")
            .alias("n_segments"),
            F.coalesce(F.col("longest_segment"), F.lit(0))
            .cast("bigint")
            .alias("longest_segment"),
        )
    )
