"""Checkpoint / lineage — the registrar analogue, upgraded to exactly-once.

Reference: Filebeat's registrar "records positions of files read"; on restart
it resumes from the recorded position (/root/reference/filebeat/main.go:31-34),
and delivery is at-least-once via batch.ACK()/RetryEvents
(/root/reference/plugin/client.go:121-124).

Here a BATCH is a resumable unit of input (an input partition/slice — e.g. an
hour of warc_ts, or a file group). Protocol:

  1. rerun guard: batch_id already in the lineage table ⇒ skip (resume).
  2. data write: dynamic partition overwrite keyed by batch_id — a crashed,
     half-written batch is fully replaced on rerun, so retries cannot
     duplicate rows (exactly-once, vs the reference's at-least-once).
  3. lineage commit: append the (batch_id, status, rows, bytes) row ONLY
     after the data write returns — the ACK (client.go:121-122).

A crash between 2 and 3 reruns the batch; the overwrite makes that safe.
On Iceberg both steps fold into one snapshot commit; the parquet sandbox
keeps them as ordered writes with the same invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # 'committed'
        T.StructField("rows_ok", T.LongType(), False),
        T.StructField("rows_failed", T.LongType(), False),
        T.StructField("byte_total", T.LongType(), False),
    ]
)


RECEIPTS_SCHEMA = T.StructType(
    [
        T.StructField("receipt_id", T.StringType(), False),
        T.StructField("sink", T.StringType(), False),
        T.StructField("logs_count", T.LongType(), True),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.IntegerType(), True),
    ]
)


def _dir(sink_root: str) -> str:
    return os.path.join(sink_root, "_lineage")


def read_lineage(spark: SparkSession, sink_root: str) -> DataFrame:
    path = _dir(sink_root)
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def committed_batches(spark: SparkSession, sink_root: str) -> set[str]:
    return {
        r.batch_id
        for r in read_lineage(spark, sink_root)
        .filter(F.col("status") == "committed")
        .select("batch_id")
        .distinct()
        .collect()
    }


def is_committed(spark: SparkSession, sink_root: str, batch_id: str) -> bool:
    return batch_id in committed_batches(spark, sink_root)


def read_receipts(spark: SparkSession, sink_root: str) -> DataFrame:
    """Read the receipts table leniently: a missing, unreadable, or corrupt
    receipts file yields an EMPTY receipts frame, never an error.

    Reference behavior pinned here: the plugin treats HTTP 200 with an
    unparseable receipt body as a successful delivery with a nil receipt
    (/root/reference/plugin/api/log_test.go:332-337 — SendLogs returns
    (nil, nil), the batch is still ACKed). Receipts are advisory delivery
    accounting; the committed data + lineage rows are the source of truth,
    so a damaged receipts file must not fail reads or block a resume."""
    path = os.path.join(sink_root, "receipts")
    try:
        # ignoreCorruptFiles drops files with damaged footers at scan time
        # (the per-file analogue of the nil-receipt lenience); the except
        # arm covers a missing/unlistable receipts dir
        return spark.read.schema(RECEIPTS_SCHEMA).option(
            "ignoreCorruptFiles", "true"
        ).parquet(path)
    except Exception:
        return spark.createDataFrame([], RECEIPTS_SCHEMA)


def commit_batch(
    spark: SparkSession,
    sink_root: str,
    batch_id: str,
    rows_ok: int,
    rows_failed: int,
    byte_total: int,
) -> None:
    """The ACK. Append-only; the 'committed' row is the high-water mark.

    The one row is built on the JVM (a one-partition ``range`` projected to
    literals), so the commit is a single write job with no Python worker."""
    values = (batch_id, "committed", rows_ok, rows_failed, byte_total)
    spark.range(0, 1, 1, 1).select(
        *[
            F.lit(v).cast(f.dataType).alias(f.name)
            for f, v in zip(LINEAGE_SCHEMA.fields, values)
        ]
    ).write.mode("append").parquet(_dir(sink_root))
