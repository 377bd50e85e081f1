"""Binary payload columns: opaque ``binary`` payloads with typed
metadata, expanded via Arrow-batched mapInPandas.

Nothing here decodes media. ``sample_frames`` expands each payload into
per-frame rows whose count, timestamps and bytes are deterministic
functions of the payload, so the Spark-side plumbing (schema, batch
iteration, 1:N expansion, partitioning) is real and oracle-checked
while the frames themselves are content-derived stand-ins.

Scale notes: payloads never pass through Python row-at-a-time — they
arrive in Arrow record batches; ``spark.sql.execution.arrow.
maxRecordsPerBatch`` bounds batch memory (set it low for multi-MB
payload columns). Frame sampling repartitions first so a few huge
payloads can't serialize the job (binary payload skew).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

#: milliseconds between sampled frames
FRAME_INTERVAL_MS = 40


def wrap_binary(df: DataFrame, payload_col: str, id_col: str, source_col: str, mime: str) -> DataFrame:
    """Normalize any binary column into the canonical media row:
    ``media_id long, payload binary, meta struct<mime, source, nbytes>``."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.col(source_col).alias("source"),
            F.octet_length(F.col(payload_col)).cast("long").alias("nbytes"),
        ).alias("meta"),
    )


_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(df: DataFrame) -> DataFrame:
    """Payload → one row per sampled frame (1:N mapInPandas expansion —
    the batch-shape case the scalar ops don't cover).

    Frame count is a deterministic function of payload size
    (``2 + nbytes % 3`` — stands in for duration/interval), timestamps
    are ``frame_idx * FRAME_INTERVAL_MS``, and frame ``i``'s bytes are
    ``sha256(sha256(payload) + bytes([i]))``. The (media_id, frame_idx,
    frame_ts_ms) skeleton is therefore exactly oracle-checkable. Null
    payloads yield no frames.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, tss, frames = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                raw = bytes(p)
                digest = hashlib.sha256(raw).digest()
                for i in range(2 + len(raw) % 3):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * FRAME_INTERVAL_MS)
                    frames.append(hashlib.sha256(digest + bytes([i])).digest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_ts_ms": tss, "frame": frames}
            )

    return df.repartition(parallelism).mapInPandas(batches, _FRAME_SCHEMA)
