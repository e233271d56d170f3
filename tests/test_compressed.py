"""Compressed text-shard ingestion — codecs, sniffing, Spark read."""

import json

import pytest

from nyctaxidatapipeline_spark.sources.compressed import (
    compress,
    decompress_auto,
    read_text_shards,
)


@pytest.mark.parametrize("codec", ["gz", "bz2", "xz", "snappy", "zst",
                                   "none"])
def test_compress_roundtrip_and_determinism(codec):
    data = b"line one\nline two\n" * 50
    blob = compress(data, codec)
    assert blob == compress(data, codec)
    assert decompress_auto(blob) == data


def test_decompress_auto_concatenated_gzip_members():
    blob = compress(b"part a\n", "gz") + compress(b"part b\n", "gz")
    assert decompress_auto(blob) == b"part a\npart b\n"


def test_decompress_auto_plain_passthrough_and_errors():
    assert decompress_auto(b"not compressed") == b"not compressed"
    with pytest.raises(ValueError, match="truncated gzip"):
        decompress_auto(compress(b"x" * 1000, "gz")[:-4])
    with pytest.raises(ValueError, match="unknown codec"):
        compress(b"x", "zstd")


_MAGIC_LEN = {"gz": 2, "bz2": 3, "xz": 6, "zst": 4, "snappy": 10}


@pytest.mark.parametrize("codec", sorted(_MAGIC_LEN))
def test_corrupt_shard_raises_value_error(codec):
    """Every codec reports a truncated shard, or garbage after a valid
    magic, as ValueError with the codec's own error chained."""
    blob = compress(b'{"id": 1, "text": "some text"}\n' * 300, codec)
    garbage = blob[:_MAGIC_LEN[codec]] + bytes(range(256)) * 2
    for bad in (blob[:len(blob) // 2], garbage):
        with pytest.raises(ValueError, match=f"corrupt {codec} shard") as e:
            decompress_auto(bad)
        assert e.value.__cause__ is not None


def test_zst_and_snappy_roundtrip_4mib_fast():
    """A 4 MiB JSONL shard round-trips through zst and snappy within a
    generous wall bound (the native codecs take well under a second;
    a pure-Python coder would take tens of seconds)."""
    import random
    import time

    r = random.Random(7)
    lines = []
    size = 0
    while size < 4 << 20:
        line = json.dumps({"id": len(lines), "v": r.random(),
                           "text": " ".join(r.choice(
                               ["taxi", "fare", "tip", "zone", "trip"])
                               for _ in range(r.randint(5, 40)))})
        lines.append(line)
        size += len(line) + 1
    payload = ("\n".join(lines) + "\n").encode()
    t0 = time.perf_counter()
    for codec in ("zst", "snappy"):
        blob = compress(payload, codec)
        assert len(blob) < len(payload)
        assert decompress_auto(blob) == payload
    assert time.perf_counter() - t0 <= 5.0


def test_read_text_shards_mixed_codecs(spark):
    def jsonl(ids):
        return "".join(json.dumps({"id": i}) + "\n" for i in ids).encode()

    files = [(0, compress(jsonl([0, 1]), "gz")),
             (1, compress(jsonl([2]), "bz2")),
             (2, compress(jsonl([3]), "xz")),
             (3, None)]
    df = spark.createDataFrame(files, "shard_id long, content binary")
    out = (read_text_shards(df)
           .orderBy("shard_id", "line_no").collect())
    assert [(r.shard_id, r.line_no, r.codec, json.loads(r.line)["id"])
            for r in out] == [(0, 0, "gz", 0), (0, 1, "gz", 1),
                              (1, 0, "bz2", 2), (2, 0, "xz", 3)]


def test_zstd_sniffed_and_decoded():
    """zstd shards are sniffed and decoded, and garbage after the magic
    is a clean error (not a hang)."""
    from nyctaxidatapipeline_spark.sources.compressed import (
        compress,
        sniff_codec,
    )

    blob = compress(b"dolma-style shard\n" * 40, "zst")
    assert sniff_codec(blob) == "zst"
    assert decompress_auto(blob) == b"dolma-style shard\n" * 40
    garbage = b"\x28\xb5\x2f\xfd" + b"\x00" * 8
    assert sniff_codec(garbage) == "zst"
    with pytest.raises(ValueError):
        decompress_auto(garbage)


def test_read_text_shards_tolerates_mojibake(spark):
    blob = compress(b"good line\n\xff\xfe broken\n", "gz")
    df = spark.createDataFrame([(0, blob)],
                               "shard_id long, content binary")
    rows = read_text_shards(df).orderBy("line_no").collect()
    assert rows[0].line == "good line"
    assert "�" in rows[1].line  # replaced, not crashed


def test_jsonl_shards_roundtrip_all_codecs(spark):
    """Writer -> reader roundtrip for the export side: every doc
    survives with its fields, shards are range-contiguous by id, and
    shard bytes are repartition-invariant."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from nyctaxidatapipeline_spark.sources.compressed import jsonl_shards

    rows = [Row(doc_id=i, text=f"document {i}", lang="en")
            for i in range(25)]
    df = spark.createDataFrame(rows)
    for codec in ("gz", "zst", "snappy"):
        sh = jsonl_shards(df, "doc_id", codec=codec,
                          docs_per_shard=10).cache()
        got = sh.collect()
        assert sorted(r.shard_id for r in got) == [0, 1, 2]
        assert sum(r.n_docs for r in got) == 25
        back = (read_text_shards(sh)
                .select(F.from_json(
                    "line",
                    "doc_id long, text string, lang string").alias("j"))
                .select("j.*"))
        assert ({(r.doc_id, r.text, r.lang) for r in back.collect()}
                == {(i, f"document {i}", "en") for i in range(25)})
        blobs = {r.shard_id: bytes(r.content) for r in got}
        blobs2 = {r.shard_id: bytes(r.content) for r in
                  jsonl_shards(df.repartition(7), "doc_id", codec=codec,
                               docs_per_shard=10).collect()}
        assert blobs == blobs2
        sh.unpersist()


def test_write_jsonl_shards_layout(spark, tmp_path):
    import os

    from pyspark.sql import Row

    from nyctaxidatapipeline_spark.sources.compressed import (
        write_jsonl_shards,
    )

    df = spark.createDataFrame([Row(doc_id=i, text=f"t{i}")
                                for i in range(12)])
    out = str(tmp_path / "corpus")
    write_jsonl_shards(df, out, "doc_id", codec="zst", docs_per_shard=5)
    files = sorted(os.listdir(out))
    assert files == ["shard-000000.jsonl.zst", "shard-000001.jsonl.zst",
                     "shard-000002.jsonl.zst"]
    with open(os.path.join(out, files[0]), "rb") as f:
        text = decompress_auto(f.read()).decode()
    assert text.count("\n") == 5 and '"doc_id":0' in text

    import pytest
    with pytest.raises(ValueError):
        write_jsonl_shards(df, out, "doc_id", codec="lz77")
