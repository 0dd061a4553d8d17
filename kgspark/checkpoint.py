"""Checkpoint / lineage / idempotent resume (SURVEY.md D8, O8, O23, O30,
O40–O43).

Replaces Twine's AMQP ack/reject + writerd serialization + spindle
``state``/``triggers`` tables with Structured-Streaming-style
micro-batch checkpoints: a ``_checkpoint`` parquet table of

    (stage, part_id, input_fingerprint, row_count, triple_count,
     status, ts)

one row per (stage, part) batch.  A bucketed stage's parts are its
input buckets; a global (graph-wide) stage has the one part ``-1``.

**The resume rule** — the only one; both stage kinds use it:

* the stage reads its newest log row per part once, into a driver-side
  dict (``latest_rows``; the log holds a few rows per stage);
* it collects its input fingerprints to the driver: (xor of row hashes,
  row count) per bucket, or one pair folded over a global stage's
  inputs (``global_fingerprints``);
* a part is done only when its newest row is ``complete``, BOTH the
  fingerprint and the row count match, and the output table exists.
  Every other part is recomputed, written and logged.

Semantics: **at-least-once in, exactly-once effect out** — bucketed
writes are per-bucket dynamic-partition overwrites and global writes
whole-table overwrites, so re-processing is idempotent (same input →
same bytes).  Fingerprints are order-insensitive and
parallelism-independent.  Lineage metrics (row/triple counts per part)
land in the same table, the north_rule's per-partition lineage.
``ts`` orders the log rows — the only place ``current_timestamp`` is
allowed (determinism everywhere else).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import ParquetCatalog

CHECKPOINT_TABLE = "_checkpoint"
GLOBAL_PART = -1

# D8 — the log's fixed schema, nullability as the files have always
# carried it (reads skip parquet schema inference)
CHECKPOINT = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), True),
        T.StructField("input_fingerprint", T.LongType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("triple_count", T.LongType(), False),
        T.StructField("status", T.StringType(), False),   # complete|failed
        T.StructField("ts", T.TimestampType(), False),
    ]
)

_MASK64 = (1 << 64) - 1


def _fingerprint_aggs(row_hash: Column) -> tuple[Column, Column]:
    # bit_xor is order-insensitive and overflow-free (ANSI-safe);
    # row_count participates in the resume match too, so even-duplicate
    # cancellation cannot produce a false "complete"
    return (
        F.bit_xor(row_hash).alias("input_fingerprint"),
        F.count("*").alias("row_count"),
    )


def bucket_fingerprints(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(bucket, input_fingerprint, row_count) — order-insensitive sum of
    row hashes, identical at any parallelism level."""
    cols = cols or [c for c in df.columns if c != "bucket"]
    return df.groupBy("bucket").agg(*_fingerprint_aggs(F.xxhash64(*cols)))


def global_fingerprints(*inputs: tuple[DataFrame, list[str]]) -> list[tuple[int, int]]:
    """(input_fingerprint, row_count) of each ``(frame, columns)`` input,
    hashed like ``bucket_fingerprints`` — all inputs in one Spark job."""
    hashed = [
        df.select(F.lit(i).alias("i"), F.xxhash64(*cols).alias("h"))
        for i, (df, cols) in enumerate(inputs)
    ]
    got = {
        r["i"]: (r["input_fingerprint"], r["row_count"])
        for r in reduce(DataFrame.unionByName, hashed)
        .groupBy("i").agg(*_fingerprint_aggs(F.col("h"))).collect()
    }
    return [got.get(i, (0, 0)) for i in range(len(inputs))]


def _fold(inputs: list[tuple[int, int]]) -> tuple[int, int]:
    """Fold several inputs' (fingerprint, row count) pairs, left to right,
    into one (FNV-1a-style mix into a signed-64 value, order-sensitive):
    a global stage depends on several inputs (mentions AND embeddings
    AND base triples), and each must invalidate it when it changes."""
    fp, n = inputs[0]
    for fp2, n2 in inputs[1:]:
        acc = 0x9E3779B97F4A7C15
        for v in (fp, n, fp2, n2):
            acc = ((acc ^ (v & _MASK64)) * 0x100000001B3) & _MASK64
        fp, n = (acc - (1 << 64) if acc >= (1 << 63) else acc), n + n2
    return fp, n


def read_checkpoints(spark: SparkSession, cat: ParquetCatalog) -> DataFrame | None:
    if not cat.exists(CHECKPOINT_TABLE):
        return None
    return spark.read.schema(CHECKPOINT).parquet(cat.path(CHECKPOINT_TABLE))


def latest_rows(spark: SparkSession, cat: ParquetCatalog, stage: str) -> dict[int, Row]:
    """O30: the newest log row per part_id of ``stage``, picked on the
    driver."""
    cp = read_checkpoints(spark, cat)
    latest: dict[int, Row] = {}
    for r in [] if cp is None else cp.filter(F.col("stage") == stage).collect():
        if r["part_id"] not in latest or r["ts"] > latest[r["part_id"]]["ts"]:
            latest[r["part_id"]] = r
    return latest


def _done_parts(
    spark: SparkSession, cat: ParquetCatalog, stage: str, out_table: str
) -> dict[int, tuple[int, int]]:
    """The log side of the resume rule: {part_id: (input_fingerprint,
    row_count)} of the parts whose newest row is complete — none when
    ``out_table`` is missing."""
    if not cat.exists(out_table):
        return {}
    return {
        p: (r["input_fingerprint"], r["row_count"])
        for p, r in latest_rows(spark, cat, stage).items()
        if r["status"] == "complete"
    }


def write_checkpoint_rows(
    cat: ParquetCatalog,
    stage: str,
    fingerprints: dict[int, tuple[int, int]],
    triple_counts: dict[int, int] | None = None,
    status: str = "complete",
) -> None:
    """Append one lineage row per part.  fingerprints: part_id →
    (input_fingerprint, row_count); triple_counts: optional part_id →
    output rows."""
    counts = triple_counts or {}
    schema = T.StructType(CHECKPOINT.fields[:-1])
    rows = pd.DataFrame(
        [
            (stage, p, fp, n, counts.get(p, 0), status)
            for p, (fp, n) in sorted(fingerprints.items())
        ],
        columns=schema.fieldNames(),
    )
    # from pandas, createDataFrame takes its Arrow path (an append took
    # 0.15 s against 0.45 s from a list of tuples, local[4] on 4 vCPUs);
    # one file per append, since every stage re-reads the log
    df = SparkSession.active().createDataFrame(rows, schema).coalesce(1)
    cat.append(df.withColumn("ts", F.current_timestamp()), CHECKPOINT_TABLE)


def run_bucketed_stage(
    spark: SparkSession,
    cat: ParquetCatalog,
    stage: str,
    input_df: DataFrame,
    transform,
    out_table: str,
    count_as_triples: bool = False,
    fail_buckets: set[int] | None = None,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Execute ``transform`` over only the not-yet-done buckets of
    ``input_df`` (which must carry a ``bucket`` column), write the
    output per-bucket, checkpoint, and return the full stage output.

    ``fail_buckets`` injects a crash after processing the other buckets
    — the kill-mid-stage test hook (tests/test_checkpoint.py).
    """
    fps = {
        r["bucket"]: (r["input_fingerprint"], r["row_count"])
        for r in bucket_fingerprints(input_df).collect()
    }
    done = _done_parts(spark, cat, stage, out_table)
    pending = sorted(b for b, fp in fps.items() if done.get(b) != fp)
    todo = [b for b in pending if b not in (fail_buckets or ())]

    if todo:
        out = transform(input_df.filter(F.col("bucket").isin(todo)))
        if "bucket" not in out.columns:
            raise ValueError(f"stage {stage}: transform must keep the bucket column")
        if count_as_triples:
            # per-bucket output counts observed on the write itself, so
            # the transform runs once
            obs = Observation()
            out = out.observe(
                obs, *[F.count_if(F.col("bucket") == b).alias(str(b)) for b in todo]
            )
        cat.write_bucketed(out, out_table, partition_cols=partition_cols)
        counts = {int(b): n for b, n in obs.get.items()} if count_as_triples else None
        write_checkpoint_rows(cat, stage, {b: fps[b] for b in todo}, counts)

    if len(todo) < len(pending):
        raise RuntimeError(f"injected failure in stage {stage}")

    return cat.read(spark, out_table)


def run_global_stage(
    spark: SparkSession,
    cat: ParquetCatalog,
    stage: str,
    inputs: list[tuple[int, int]],
    compute,
    out_table: str,
) -> DataFrame:
    """Stage-granular resume for a graph-wide stage: its one part carries
    the ``global_fingerprints`` of everything ``compute`` reads, folded
    into one pair."""
    fp = _fold(inputs)
    if _done_parts(spark, cat, stage, out_table).get(GLOBAL_PART) != fp:
        cat.write(compute(), out_table)
        write_checkpoint_rows(cat, stage, {GLOBAL_PART: fp})
    return cat.read(spark, out_table)
