"""JSONL source/sink — the interchange format LLM data pipelines
actually speak (one JSON object per line, newline-delimited, gzip-
splittable only per-file).

The reference's text surface is pipe-delimited .tbl and raw lines
(S1/S3, K1); a training-data engine also has to ingest and emit
JSONL corpora. Spark's native json reader handles it line-per-record
— the two decisions that matter at scale are encoded here:

- **Never infer schema.** ``spark.read.json`` without a schema runs a
  full EXTRA pass over the data to sample types (and silently unions
  drifting shapes). The reader requires an explicit schema, so the
  scan is single-pass and type drift fails loudly instead of
  widening columns to string.
- **Sink writes one object per line with stable key order** (Spark's
  writer emits struct fields in schema order), so round-trips are
  byte-stable modulo the line order of distributed writes.

Numeric caveat (documented, tested): JSON has no int/float split —
a DoubleType column round-trips exactly (Spark prints shortest-
round-trip decimals), but readers of OTHER engines may widen. Binary
columns are NOT JSONL-portable (base64 on write, string on read) —
multimodal payloads stay in parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write one JSON object per line (Spark emits one part file per
    partition; compact first if the consumer needs few files —
    sources/maintenance.py). SURVEY row X39, pinned by the tests."""
    df.write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Schema-REQUIRED JSONL scan: single pass, no inference job,
    corrupt lines fail loudly (FAILFAST) rather than becoming NULL
    rows silently. SURVEY row X39, pinned by the tests."""
    return spark.read.schema(schema).option("mode", "FAILFAST").json(path)
