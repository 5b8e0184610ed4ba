"""Multimodal column handling: opaque binary payloads + typed metadata.

Media travels as a ``binary`` column with typed metadata columns beside
it. Metadata extraction runs as an Arrow-batched ``mapInPandas`` stage, so
bytes stream through Python in columnar batches (never row-at-a-time)
while the surrounding plan — partitioning, predicate pushdown on metadata,
column pruning of the heavy payload — stays native.

The per-batch decoder is a deterministic stand-in derived from the bytes,
so the distributed plumbing works on arbitrary (e.g. text-derived)
payloads and has a SQL oracle (``multimodal_metadata``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

METADATA_SCHEMA = (
    "doc_id long, payload_bytes long, header_byte long, width long, height long"
)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test harness: materialize a binary payload column from text (stands
    in for image/audio bytes; real pipelines read binary files directly via
    ``spark.read.format('binaryFile')``)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """A batch of payloads → (payload_bytes, header_byte, width, height),
    with width/height a deterministic function of the bytes."""
    lengths = payloads.map(len)
    # header as the first CHARACTER's codepoint (UTF-8 decode), not the
    # first raw byte: byte 0 of a multi-byte char is encoding-dependent
    # (0xC3 for 'é') while the codepoint (233) is what SQL engines' ascii()
    # computes — keeps the oracle engine-agnostic for non-ASCII payloads
    def _first_codepoint(b) -> int:
        s = bytes(b).decode("utf-8", errors="ignore")  # decode once per row
        return ord(s[0]) if s else 0

    first = payloads.map(_first_codepoint)
    return pd.DataFrame(
        {
            "payload_bytes": lengths.astype("int64"),
            "header_byte": first.astype("int64"),
            "width": (lengths % 640).astype("int64"),
            "height": (first.astype("int64") * 3 % 480),
        }
    )


def extract_metadata(df: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas metadata extraction over the binary payload.

    Arrow-batched; only (id, payload) reach Python — Spark prunes all other
    columns. Output is the typed metadata table."""
    pruned = df.select(id_col, "payload")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = decode_image_batch(pdf["payload"])
            meta.insert(0, "doc_id", pdf[id_col].astype("int64").to_numpy())
            yield meta

    return pruned.mapInPandas(gen, schema=METADATA_SCHEMA)
