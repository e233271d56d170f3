"""Compressed text-shard ingestion — .jsonl.{gz,bz2,xz,zst,snappy}.

The interchange format LLM corpora actually ship in (Dolma, RedPajama,
The Pile): newline-delimited JSON, one document per line, whole-file
compressed, thousands of shards. Five codecs, sniffed per shard by
magic bytes so a mixed-codec corpus reads through one call: the three
stdlib ones (zlib / bz2 / lzma), Zstandard (``functions/zstd.py``, the
format Dolma ships) and framed Snappy (``functions/snappy.py``, the
Hadoop/Kafka-ecosystem format). The last two run on the libzstd and
libsnappy that pyarrow bundles — one implementation per codec. A
corrupt or truncated shard raises ``ValueError`` whatever its codec.

Scale notes (local[32] -> 1000 executors):
  * Whole-file gzip/bz2/xz is NOT splittable — the shard is the unit
    of parallelism, exactly like the WARC segments (``sources/warc.py``)
    and WebDataset tars. A corpus of ~100k shards keeps every core of
    a 1000-executor cluster busy; ONE 100 TB file would not. That
    asymmetry is the reason these corpora ship many-sharded.
  * Decompress + line split runs in ``mapInPandas`` (Arrow-batched,
    the sanctioned decode zone); the JSON *parse* does NOT — lines
    come back as strings and ``from_json`` handles them JVM-side,
    codegen'd, so schema projection and filters stay in Tungsten.
  * Spark's native readers also handle ``.gz`` text/JSON transparently
    (Hadoop codecs) — use them when files sit on disk with the right
    extensions; this path exists for bytes already in a DataFrame
    (queue payloads, binaryFile scans, mixed codecs, no extensions).
"""

from __future__ import annotations

import bz2
import lzma
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from nyctaxidatapipeline_spark.functions.snappy import (
    frame_compress,
    frame_decompress,
)
from nyctaxidatapipeline_spark.functions.zstd import (
    zstd_compress,
    zstd_decompress,
)

__all__ = ["compress", "decompress_auto", "sniff_codec",
           "jsonl_shards", "write_jsonl_shards",
           "read_text_shards", "TEXT_SHARD_SCHEMA"]

_MAGICS = (
    (b"\x1f\x8b", "gz"),
    (b"BZh", "bz2"),
    (b"\xfd7zXZ\x00", "xz"),
    (b"\x28\xb5\x2f\xfd", "zst"),
    # framed-snappy stream identifier chunk
    (b"\xff\x06\x00\x00sNaPpY", "snappy"),
)


#: Schema of the line frame emitted by :func:`read_text_shards`
#: (``shard_id`` inherits the input column's type).
TEXT_SHARD_SCHEMA = ("shard_id {shard_id_type}, line_no int, "
                     "codec string, line string")


def sniff_codec(data: bytes) -> str:
    """Magic-byte codec sniff: ``gz``/``bz2``/``xz``/``zst``/``snappy``/
    ``none``. A LEADING zstd skippable frame (magic 0x184D2A50-5F —
    pzstd writes its seek table first in some layouts) also sniffs as
    ``zst``: the decoders skip it, so the stream is a valid zstd
    shard, and passing it through as "plain text" would silently
    corrupt the read."""
    for magic, codec in _MAGICS:
        if data[:len(magic)] == magic:
            return codec
    if (len(data) >= 4 and 0x50 <= data[0] <= 0x5F
            and data[1:4] == b"\x2a\x4d\x18"):
        return "zst"
    return "none"


def compress(data: bytes, codec: str) -> bytes:
    """Deterministic compression for fixtures/writers: ``gz`` uses the
    mtime-free zlib gzip container (same as the WARC members), ``bz2``
    and ``xz`` are stdlib one-shots (no timestamps in either format),
    ``snappy`` and ``zst`` go through pyarrow's bundled libraries at a
    fixed level. ``none`` passes through."""
    if codec == "gz":
        co = zlib.compressobj(6, zlib.DEFLATED, 16 + 15)
        return co.compress(data) + co.flush()
    if codec == "bz2":
        return bz2.compress(data)
    if codec == "xz":
        return lzma.compress(data)
    if codec == "snappy":
        return frame_compress(data)
    if codec == "zst":
        return zstd_compress(data)
    if codec == "none":
        return data
    raise ValueError(f"unknown codec {codec!r}")


def _gunzip(data: bytes) -> bytes:
    # concatenated gzip members decompress fully (explicit member walk)
    out = []
    while data:
        dob = zlib.decompressobj(16 + 15)
        out.append(dob.decompress(data))
        if not dob.eof:
            raise ValueError("truncated gzip shard")
        data = dob.unused_data
    return b"".join(out)


_DECODERS = {"gz": _gunzip, "bz2": bz2.decompress, "xz": lzma.decompress,
             "snappy": frame_decompress, "zst": zstd_decompress}


def decompress_auto(data: bytes) -> bytes:
    """Magic-byte sniff, then the matching decoder; bytes with no known
    magic pass through as plain text. A corrupt or truncated shard
    raises ``ValueError`` whatever its codec (the codec's own error is
    chained as the cause)."""
    codec = sniff_codec(data)
    if codec == "none":
        return data
    try:
        return _DECODERS[codec](data)
    except (ValueError, OSError, zlib.error, lzma.LZMAError) as e:
        raise ValueError(f"corrupt {codec} shard: {e}") from e


def read_text_shards(shards: DataFrame, content_col: str = "content",
                     shard_col: str = "shard_id",
                     encoding: str = "utf-8",
                     errors: str = "replace") -> DataFrame:
    """Explode ``(shard_id, content)`` compressed text blobs into one
    row per line (:data:`TEXT_SHARD_SCHEMA`), codec sniffed per shard.
    Feed the ``line`` column to ``F.from_json`` for JSONL corpora —
    the parse stays JVM-side by design."""
    src = shards.select(shard_col, content_col)
    schema = TEXT_SHARD_SCHEMA.format(
        shard_id_type=src.schema[shard_col].dataType.simpleString())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, blob in zip(pdf[shard_col], pdf[content_col]):
                if blob is None:
                    continue
                raw = bytes(blob)
                codec = sniff_codec(raw)
                # errors='replace' by default: one mojibake shard in a
                # 100k-shard corpus must not kill the whole read — the
                # U+FFFD markers surface in downstream quality scores
                text = decompress_auto(raw).decode(encoding, errors)
                for i, line in enumerate(text.splitlines()):
                    rows.append({"shard_id": sid, "line_no": i,
                                 "codec": codec, "line": line})
            yield pd.DataFrame(
                rows, columns=["shard_id", "line_no", "codec", "line"])

    return src.mapInPandas(gen, schema)


def jsonl_shards(df: DataFrame, id_col: str,
                 codec: str = "zst",
                 docs_per_shard: int = 10_000) -> DataFrame:
    """EXPORT side of the compressed-corpus layout: pack rows into
    deterministic ``.jsonl.<codec>`` shard blobs — ``(shard_id,
    content, n_docs, n_bytes)``, the inverse of
    :func:`read_text_shards` (roundtrip is test-pinned). Completes the
    ingest/export pair the WebDataset source already has.

    Scale shape: the JSON SERIALIZATION runs JVM-side
    (``to_json(struct(*))`` — codegen, one narrow projection over the
    corpus); Python only joins lines and compresses, one task per
    shard. Sharding is ``id DIV docs_per_shard`` — deterministic,
    order-independent, and range-contiguous so shard N's ids all
    precede shard N+1's (the layout training loaders expect). Shard
    bytes are a pure function of the data: rows sort by id inside the
    shard and every codec here is deterministic at a fixed level.
    """
    from pyspark.sql import functions as F

    if docs_per_shard < 1:
        raise ValueError(
            f"docs_per_shard must be >= 1, got {docs_per_shard!r}")
    compress(b"", codec)  # validate codec name eagerly
    cols = [c for c in df.columns]
    src = (df.select(
        F.expr(f"CAST({id_col} AS BIGINT) DIV {docs_per_shard}")
         .alias("_shard"),
        F.col(id_col).cast("long").alias("_id"),
        F.to_json(F.struct(*cols)).alias("_line")))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", ignore_index=True)
        payload = ("\n".join(pdf["_line"]) + "\n").encode("utf-8")
        blob = compress(payload, codec)
        return pd.DataFrame({"shard_id": [int(pdf["_shard"].iloc[0])],
                             "content": [blob],
                             "n_docs": [len(pdf)],
                             "n_bytes": [len(blob)]})

    return src.groupBy("_shard").applyInPandas(
        build, "shard_id long, content binary, n_docs long, n_bytes long")


def write_jsonl_shards(df: DataFrame, path: str, id_col: str,
                       codec: str = "zst",
                       docs_per_shard: int = 10_000) -> None:
    """Materialize :func:`jsonl_shards` as
    ``{path}/shard-NNNNNN.jsonl.<codec>`` files — executors write
    their shards directly, no driver collect; the exact layout
    :func:`read_text_shards`-based ingestion (and any Dolma-style
    loader) consumes."""
    import os

    os.makedirs(path, exist_ok=True)
    shards = jsonl_shards(df, id_col, codec, docs_per_shard)  # validates
    ext = {"gz": "gz", "bz2": "bz2", "xz": "xz",
           "snappy": "snappy", "zst": "zst", "none": "jsonl"}[codec]

    def dump(rows) -> None:
        for r in rows:
            name = f"shard-{r['shard_id']:06d}.jsonl.{ext}"
            with open(os.path.join(path, name), "wb") as f:
                f.write(bytes(r["content"]))

    shards.foreachPartition(dump)
