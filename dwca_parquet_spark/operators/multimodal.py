"""Multimodal column plumbing (north-star; SURVEY §2.G 19).

Images/audio/video travel as opaque ``binary`` columns with typed metadata
structs. The Spark-side mechanics are fully real — schema, Arrow-batched
``mapInPandas`` transforms, partition-size control — while the codec step is
stubbed (this container has no image/audio libraries): ``decode_stub``
produces deterministic fake features and raises ``NotImplementedError`` in
strict mode, exactly where a real decoder (PIL/librosa/ffmpeg) would drop in.

Batch shape: mapInPandas receives an iterator of pandas DataFrames sized by
``spark.sql.execution.arrow.maxRecordsPerBatch``; with large blobs, lower
that (or repartition by size) so a batch fits executor memory — at 100 TB of
media, partition by content-length bands before decode.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from dwca_parquet_spark.functions.hashing import HASH_MOD

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_sum", LongType()),
    ]
)


def to_binary_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Simulate a media table: utf-8 payload bytes + metadata columns.

    Real pipelines land here straight from ``spark.read.format("binaryFile")``
    (path, modificationTime, length, content) — the downstream plumbing is
    identical.
    """
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.octet_length(F.encode(F.col(text_col), "utf-8")).cast("long").alias(
            "content_length"
        ),
        F.lit("text/plain").alias("mime_type"),
    )


def extract_features(
    binary_df: DataFrame, strict: bool = False
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via mapInPandas.

    The stub computes (n_bytes, byte_sum mod HASH_MOD) — deterministic, so
    the whole binary pipeline is oracle-checkable. A real decoder replaces
    ``_features_of`` only; the Spark plumbing (schema, batching, laziness)
    stays.
    """

    def _features_of(payload: bytes) -> tuple[int, int]:
        if strict:
            raise NotImplementedError(
                "media decode requires an image/audio codec library; "
                "this container ships none (deterministic stub available "
                "with strict=False)"
            )
        total = 0
        for b in payload:
            total = (total + b) % HASH_MOD
        return len(payload), total

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_features_of(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": [f[0] for f in feats],
                    "byte_sum": [f[1] for f in feats],
                }
            )

    return binary_df.mapInPandas(batch_fn, FEATURE_SCHEMA)


def transform_payload(
    binary_df: DataFrame,
    transform: Callable[[bytes], bytes] | None = None,
) -> DataFrame:
    """Payload→payload transform (resize/frame-sample slot), mapInPandas.

    Default transform truncates to 256 bytes — the deterministic stand-in
    for a thumbnailer; swap ``transform`` for the real codec call.
    """
    fn = transform or (lambda b: b[:256])
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField(
                "payload", binary_df.schema["payload"].dataType
            ),
            StructField("n_bytes", LongType()),
        ]
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [fn(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": out,
                    "n_bytes": [len(p) for p in out],
                }
            )

    return binary_df.mapInPandas(batch_fn, schema)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_sum", LongType()),
    ]
)


def sample_frames(binary_df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling over binary payloads: each payload splits into
    ``n_frames`` contiguous equal-size chunks (frame size = ⌈len/n⌉, last
    frame takes the remainder; empty payloads yield no frames), and each
    frame reduces to its deterministic features.

    The video-pipeline shape: a real decoder would seek keyframes and emit
    (doc, frame_idx, decoded_tensor) — here the chunking IS the "decode"
    stub, so the fan-out mechanics (one input row → ≤ n output rows inside
    one Arrow batch, no shuffle, no explode materialization of the blob in
    the JVM) are real and oracle-checkable. Output is frame *features*, not
    frame bytes — at 100 TB the decoded frames stay inside the Python
    worker and only fixed-width features cross back.
    """

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, lens, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue
                size = -(-n // n_frames)  # ceil
                for i in range(n_frames):
                    start = i * size
                    if start >= n:
                        break
                    chunk = payload[start : start + size]
                    total = 0
                    for b in chunk:
                        total = (total + b) % HASH_MOD
                    ids.append(doc_id)
                    idxs.append(i)
                    lens.append(len(chunk))
                    sums.append(total)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "n_bytes": lens,
                    "byte_sum": sums,
                }
            )

    return binary_df.mapInPandas(batch_fn, FRAME_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("phash", LongType()),
    ]
)


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread a compute-bound Arrow stage across the cluster when the
    input arrives under-partitioned.

    AQE sizes shuffle partitions by BYTES, which misjudges per-row
    CPU-heavy Python stages: a 594 KB single-file scan feeding the DCT
    pHash keeps the whole corpus on ONE task (measured: 4–7 s median
    with 1.9–10.5 s swing at sf0.1, worker-reuse-dependent). An explicit
    ``repartition(n)`` is honored by AQE (user-specified numPartitions
    is never coalesced), so the stage fans out to every core: measured
    0.75 s median, stable (SCALE.md round 9). At 100 TB inputs arrive
    pre-split and this is a no-op — the guard only fires when
    partitions < defaultParallelism.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _dct_matrix(n: int):
    """Orthonormal-free DCT-II basis C[k,m] = cos(π·(m+0.5)·k/n) — the
    normalization cancels in median-relative comparisons, so it is
    omitted (fewer float ops → fewer tie hazards)."""
    import numpy as np

    k = np.arange(n, dtype=np.float64)[:, None]
    m = np.arange(n, dtype=np.float64)[None, :]
    return np.cos(np.pi * (m + 0.5) * k / n)


def phash_frames(
    binary_df: DataFrame, n_frames: int = 8, grid: int = 32, block: int = 8
) -> DataFrame:
    """(doc_id, frame_idx, phash) — a DCT perceptual hash per sampled
    frame (pHash; public knowledge — the classic DCT low-frequency
    fingerprint). Each frame's bytes are read as an 8-bit signal,
    resampled to a grid×grid raster (linear interpolation — the length
    normalization a real thumbnailer performs), 2D-DCT'd (one numpy
    matmul against the cosine basis), and the block×block low-frequency
    corner EXCLUDING DC is thresholded at its median → a 63-bit hash.

    Why this beats the exact frame hash for re-encode detection, and
    exactly when: the DCT is linear and the DC row/column carry all of
    a constant offset, so **brightness offset (b+β) and contrast
    scaling (α·b, α>0) produce the IDENTICAL hash** (offset lands only
    in the excluded DC; scaling multiplies every kept coefficient AND
    their median by α, preserving every comparison). Bit-depth
    reduction and mild resampling perturb coefficients slightly: most
    frame hashes survive, and payload-level set Jaccard (≥ threshold of
    frames matching) absorbs the few that flip. The exact byte-sum hash
    (:func:`payload_neardup_pairs`) is defeated by ALL of these — any
    byte change is a different hash.

    Same 100 TB contract as sample_frames: blobs never leave the Python
    worker; only 8-byte hashes cross back. Deterministic — pure numpy
    arithmetic, no library codecs (the real decoder slot stays
    ``decode_stub``-shaped; this operates on whatever bytes the decode
    stage produced).
    """
    return _fan_out(binary_df).mapInPandas(
        phash_batcher(n_frames, grid, block), PHASH_SCHEMA
    )


def phash_batcher(n_frames: int = 8, grid: int = 32, block: int = 8):
    """The pHash per-batch function itself (pandas in → pandas out),
    module-level so the bench harness can time the IDENTICAL math
    single-process as the row's reference yardstick (VERDICT r8 #5 —
    attribution needs an engine-free baseline for twin-less rows)."""
    import numpy as np

    C = _dct_matrix(grid)
    n_keep = block * block - 1  # DC excluded
    weights = (np.uint64(1) << np.arange(n_keep, dtype=np.uint64))

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-frame resample (variable lengths — stays a loop), then
            # ONE stacked einsum DCT + vectorized median/threshold/pack
            # across every frame in the Arrow batch: the per-frame Python
            # dispatch, not the flops, dominated the per-frame variant
            # (measured 2.6 s → see SCALE.md round-7 tier table)
            ids, idxs, rasters = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                if n == 0:
                    continue
                size = -(-n // n_frames)  # ceil — same framing as sample_frames
                sig_full = np.frombuffer(payload, dtype=np.uint8)
                for i in range(n_frames):
                    start = i * size
                    if start >= n:
                        break
                    sig = sig_full[start : start + size].astype(np.float64)
                    pos = np.linspace(0, len(sig) - 1, grid * grid)
                    rasters.append(
                        np.interp(
                            pos, np.arange(len(sig), dtype=np.float64), sig
                        ).reshape(grid, grid)
                    )
                    ids.append(doc_id)
                    idxs.append(i)
            if not rasters:
                yield pd.DataFrame(
                    {"doc_id": ids, "frame_idx": idxs, "phash": []}
                )
                continue
            R = np.stack(rasters)  # (F, grid, grid)
            # broadcast matmul ≡ per-frame C @ r @ C.T bit-for-bit
            # (einsum's optimizer picks a different contraction order —
            # measured 4× slower AND different float association)
            D = (C @ R) @ C.T
            coefs = D[:, :block, :block].reshape(len(R), -1)[:, 1:]
            med = np.median(coefs, axis=1, keepdims=True)
            bits = coefs > med
            hashes = (bits.astype(np.uint64) @ weights).astype(np.int64)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "phash": hashes}
            )

    return batch_fn


def phash_neardup_pairs(
    binary_df: DataFrame, n_frames: int = 8, threshold: float = 0.5
) -> DataFrame:
    """Perceptual payload near-dup pairs — :func:`payload_neardup_pairs`
    with the pHash frame fingerprint instead of the exact byte-sum hash,
    so re-encoded payloads (brightness/contrast/bit-depth perturbations
    that change every byte) are still found. Feeds the SAME
    modality-independent hash-set LSH machinery (band-bucket candidates,
    exact set-Jaccard verify) — only the frame fingerprint changed.

    The 63-bit phash is reduced mod HASH_MOD before entering the set
    machinery: the LSH kernel's permutation products a_j·h stay exact
    in int64 only for hashes below HASH_MOD (dedup._band_buckets_np),
    and set-equality semantics only need a deterministic
    injective-in-practice mapping (collision odds ~2^-30 per frame
    pair).
    """
    from dwca_parquet_spark.operators.dedup import dup_pairs_from_hash_sets

    frames = phash_frames(binary_df, n_frames)
    sh = (
        frames.select(
            F.col("doc_id"), (F.col("phash") % HASH_MOD).alias("_fh")
        )
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("_fh")).alias("hashes"))
    )
    return dup_pairs_from_hash_sets(sh, "doc_id", threshold=threshold)


def payload_neardup_pairs(
    binary_df: DataFrame, n_frames: int = 8, threshold: float = 0.5
) -> DataFrame:
    """Near-duplicate PAYLOAD pairs by frame-hash Jaccard — the video/image
    dedup shape: decode to frames (here the deterministic chunking stub),
    hash each frame, and treat a payload as its SET of frame hashes; two
    payloads sharing ≥ threshold of their frames are near-dups (re-encodes,
    trims, appended variants). Feeds the exact same modality-independent
    LSH pipeline as text shingles (dedup.dup_pairs_from_hash_sets), so the
    scale/shuffle story — one Arrow band-bucket build, one verify kernel
    per (band, bucket) — is inherited, not re-implemented.

    Frame hash = (byte_sum·31 + n_bytes) mod HASH_MOD over the frame
    features sample_frames already computes — the blobs never leave the
    Python worker; only 8-byte hashes enter the LSH pipeline.
    """
    from dwca_parquet_spark.operators.dedup import dup_pairs_from_hash_sets

    frames = sample_frames(binary_df, n_frames)
    fh = (F.col("byte_sum") * 31 + F.col("n_bytes")) % HASH_MOD
    sh = (
        frames.select(F.col("doc_id"), fh.alias("_fh"))
        .groupBy("doc_id")
        .agg(F.array_distinct(F.collect_list("_fh")).alias("hashes"))
    )
    return dup_pairs_from_hash_sets(sh, "doc_id", threshold=threshold)
