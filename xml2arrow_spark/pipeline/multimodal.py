"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with a
typed metadata struct; decode / feature-extract run as Arrow-batched
``mapInPandas`` (one Python roundtrip per *batch*, never per row). The
actual media decoders are STUBBED — the image/audio libraries are not in
this container — behind :func:`decode_media`, which raises
``NotImplementedError`` unless a decoder is injected; tests and the driver
queries use :func:`fake_decoder`, a deterministic pure-numpy stand-in, so the
Spark-side plumbing (schema, partitioning, UDF signature, batch shape) is
real and tested end-to-end.

Vectorization contract: the batch-level stats (n_bytes / byte_sum /
head_hash) are computed with numpy offset arithmetic over the flattened
Arrow binary buffer — zero per-row Python. Only the injected ``decoder``
call is per-item, because a real media decoder is inherently per-item.
:func:`fake_decoder` emits integer-exact features (each a single integer
expression cast to double) so the driver's DuckDB oracle can reproduce
them bit-for-bit.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "attach_binary_payload",
    "media_metadata",
    "decode_media",
    "fake_decoder",
    "extract_features",
    "sample_frames",
    "resize_media",
    "FEATURES_DDL",
    "FRAMES_DDL",
    "N_FEATURES",
]

N_FEATURES = 8
HEAD_MOD = 2147483647  # 2^31 - 1, matches the doc-fingerprint rolling hash

FEATURES_DDL = (
    "doc_id bigint, n_bytes int, byte_sum bigint, head_hash bigint, "
    + ", ".join(f"feature_{i} double" for i in range(N_FEATURES))
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of ``text_col`` as the opaque
    payload plus a typed metadata struct (what a real ingest would carry)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(payload).alias("n_bytes"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
        ),
    )


def media_metadata(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, mime, n_bytes) — metadata projection; never reads payloads
    beyond what the scan already materialized."""
    return docs.select(
        id_col,
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


def decode_media(payload: bytes, mime: str):
    """STUB: real image/audio decode (PIL/libsndfile/ffmpeg) is unavailable
    in this container. Inject a decoder into :func:`extract_features`
    instead; calling this directly is an explicit error."""
    raise NotImplementedError(
        f"media decode for {mime!r} requires image/audio libraries not "
        "present in this environment; pass decoder=fake_decoder for tests"
    )


def fake_decoder(buf: np.ndarray) -> np.ndarray:
    """Deterministic stand-in decoder: N_FEATURES integer-exact stats of the
    byte stream, cast to double. Every feature is a single integer
    expression (no float accumulation order), so the DuckDB oracle can
    reproduce the values bit-for-bit on ASCII payloads."""
    n = int(buf.size)
    if n == 0:
        return np.zeros(N_FEATURES)
    x = buf.astype(np.int64)
    s = int(x.sum())
    first, last = int(x[0]), int(x[-1])
    stride = max(n // 4, 1)
    return np.array(
        [
            float(n % 251),
            float(s % 997),
            float(x.min()),
            float(x.max()),
            float(first),
            float(last),
            float((first * 31 + last) % 509),
            float(int(x[::stride].sum()) % 997),
        ]
    )


_POW31 = (31 ** np.arange(8, dtype=np.int64)).astype(np.int64)


def _batch_stats(payloads: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (offsets, buf, lens, byte_sum, head_hash) over one batch:
    one flattened uint8 buffer + offset arithmetic, no per-row loop."""
    arr = pa.array(payloads, type=pa.large_binary())
    if arr.null_count:
        raise ValueError("null payloads are not supported; filter them first")
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + n + 1
    ]
    data_buf = arr.buffers()[2]
    buf = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.zeros(0, dtype=np.uint8)
    )
    lens = np.diff(offs)
    # per-row byte sum via one cumsum + gather (exact, reduceat-free so
    # empty rows need no special-casing)
    csum = np.zeros(buf.size + 1, dtype=np.int64)
    np.cumsum(buf, dtype=np.int64, out=csum[1:])
    byte_sum = csum[offs[1:]] - csum[offs[:-1]]
    # head hash: base-31 fold of the first <=8 bytes, gathered as an (n, 8)
    # window with a length mask
    w = np.arange(8, dtype=np.int64)[None, :]
    idx = offs[:-1, None] + w
    mask = w < lens[:, None]
    safe_idx = np.minimum(idx, max(buf.size - 1, 0))
    head = np.where(mask, buf[safe_idx] if buf.size else 0, 0).astype(np.int64)
    head_hash = (head * _POW31[None, :]).sum(axis=1) % HEAD_MOD
    return offs, buf, lens, byte_sum, head_hash


FRAMES_DDL = (
    "doc_id bigint, frame_idx int, frame_len int, frame_sum bigint, "
    "frame_bytes binary"
)


def sample_frames(
    docs: DataFrame, n_frames: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling over a binary media column: one row per
    (doc, frame_idx) with the frame's byte window + integer-exact stats.

    A real video decoder would seek keyframes; the container has none, so
    the DETERMINISTIC stand-in samples ``n_frames`` evenly spaced byte
    windows — frame j of a payload of n bytes is ``[j*n//k, (j+1)*n//k)``.
    The Spark-side plumbing is the real thing: one ``mapInPandas`` pass,
    frame boundaries and per-frame byte sums computed VECTORIZED over the
    flattened batch buffer (an (n_rows, n_frames) offset grid against one
    cumsum — no per-row stats loop); only the frame-bytes slice itself is
    per item, exactly as a real decoder would be. Stats columns
    (frame_len, frame_sum) make the output oracle-checkable without
    hashing binary cells."""
    k = int(n_frames)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xml2arrow_spark.env import task_setup

        task_setup()
        for pdf in batches:
            offs, buf, lens, _, _ = _batch_stats(pdf["payload"])
            n = len(pdf)
            csum = np.zeros(buf.size + 1, dtype=np.int64)
            np.cumsum(buf, dtype=np.int64, out=csum[1:])
            j = np.arange(k + 1, dtype=np.int64)[None, :]
            bounds = offs[:-1, None] + (lens[:, None] * j) // k  # (n, k+1)
            fsum = csum[bounds[:, 1:]] - csum[bounds[:, :-1]]  # (n, k)
            flen = (bounds[:, 1:] - bounds[:, :-1]).astype(np.int32)
            ids = pdf[id_col].to_numpy()
            out = {
                "doc_id": pd.Series(np.repeat(ids, k)),
                "frame_idx": pd.Series(np.tile(np.arange(k, dtype=np.int32), n)),
                "frame_len": pd.Series(flen.ravel()),
                "frame_sum": pd.Series(fsum.ravel()),
                "frame_bytes": pd.Series(
                    [
                        buf[bounds[i, jj] : bounds[i, jj + 1]].tobytes()
                        for i in range(n)
                        for jj in range(k)
                    ]
                ),
            }
            yield pd.DataFrame(out)

    return docs.select(id_col, "payload").mapInPandas(fn, FRAMES_DDL)


def resize_media(
    docs: DataFrame,
    out_w: int = 8,
    out_h: int = 8,
    decoder: Callable[[bytes], np.ndarray] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resize plumbing: (doc_id, resized binary of out_w*out_h bytes).

    Real image decode+resample is stubbed (no PIL in the container) —
    ``decoder`` maps payload bytes to a pixel buffer; None uses the raw
    bytes as a 1-D "image". The resample itself is deterministic
    nearest-neighbor: output cell i gathers source index ``i*n//(w*h)``
    (empty payloads yield all-zero cells), so the batch shape, schema and
    partitioning are tested end-to-end while the real decoder slot stays
    an injected dependency, like :func:`extract_features`."""
    cells = int(out_w) * int(out_h)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xml2arrow_spark.env import task_setup

        task_setup()
        for pdf in batches:
            offs, buf, lens, _, _ = _batch_stats(pdf["payload"])
            out_bytes = []
            grid = np.arange(cells, dtype=np.int64)
            for i in range(len(pdf)):
                src = buf[offs[i] : offs[i + 1]]
                if decoder is not None:
                    src = np.asarray(decoder(src.tobytes()), dtype=np.uint8).ravel()
                if src.size == 0:
                    out_bytes.append(bytes(cells))
                    continue
                idx = (grid * src.size) // cells
                out_bytes.append(src[idx].astype(np.uint8).tobytes())
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].reset_index(drop=True),
                    "resized": pd.Series(out_bytes),
                }
            )

    return docs.select(id_col, "payload").mapInPandas(fn, "doc_id bigint, resized binary")


def extract_features(
    docs: DataFrame,
    decoder: Callable[[np.ndarray], np.ndarray] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column.

    Returns (doc_id, n_bytes, byte_sum, head_hash, feature_0..7). The
    stats are numpy over the flattened batch buffer; ``decoder`` maps one
    uint8 buffer to an N_FEATURES float vector and is the ONLY per-item
    call (a real media decoder cannot be batched further). None routes to
    the stubbed :func:`decode_media` (which raises — by design)."""

    use = decoder

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from xml2arrow_spark.env import task_setup

        task_setup()
        for pdf in batches:
            offs, buf, lens, byte_sum, head_hash = _batch_stats(pdf["payload"])
            feats = np.empty((len(pdf), N_FEATURES), dtype=np.float64)
            for i in range(len(pdf)):
                seg = buf[offs[i] : offs[i + 1]]
                if use is None:
                    decode_media(seg.tobytes(), "application/octet-stream")
                feats[i] = use(seg)
            out = {
                "doc_id": pdf[id_col].reset_index(drop=True),
                "n_bytes": pd.Series(lens.astype(np.int32)),
                "byte_sum": pd.Series(byte_sum),
                "head_hash": pd.Series(head_hash),
            }
            for j in range(N_FEATURES):
                out[f"feature_{j}"] = pd.Series(feats[:, j])
            yield pd.DataFrame(out)

    return docs.select(id_col, "payload").mapInPandas(fn, FEATURES_DDL)
