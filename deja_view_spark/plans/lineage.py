"""Per-partition lineage + idempotent resume (north_rule requirement).

Every stage records, per part of its input, one lineage row:

    (run_id, stage, part_key, input_rows, input_sha_agg, output_rows)

A build appends the rows of all its stages in one driver-side parquet
write once its outputs are written (``append_lineage``).

- ``part_key`` is the pipeline's unit of resume (the repo — the same
  key the output tables are partitioned by);
- ``input_sha_agg`` is an order-independent digest of the partition's
  input sha256 set (sum of the first 16 hex chars as unsigned ints,
  mod 2^63) — equal inputs produce equal digests regardless of row
  order or parallelism, so a resumed run can verify it is extending
  the same inputs;
- resume = source partitions ANTI JOIN lineage partitions for that
  stage (SURVEY §2.8): only missing partitions are recomputed, and
  outputs are written with dynamic partition overwrite, which makes
  re-running a completed stage a no-op (idempotence, SURVEY §1.4
  upsert semantics).
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "run_id string, stage string, part_key string, input_rows long, "
    "input_sha_agg decimal(38,0), output_rows long"
)
_ARROW_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("part_key", pa.string()),
        ("input_rows", pa.int64()),
        ("input_sha_agg", pa.decimal128(38, 0)),
        ("output_rows", pa.int64()),
    ]
)


def sha_agg_col() -> F.Column:
    """Order-independent digest of a partition's sha256 set."""
    return F.sum(
        F.conv(F.substring(F.col("sha256"), 1, 15), 16, 10).cast("decimal(38,0)")
    )


def lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "kg_lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = lineage_path(out_dir)
    try:
        return spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def completed_parts(spark: SparkSession, out_dir: str, stage: str) -> DataFrame:
    return (
        read_lineage(spark, out_dir)
        .where(F.col("stage") == stage)
        .select("part_key")
        .distinct()
    )


def append_lineage(out_dir: str, rows: list[tuple]) -> None:
    """Append lineage rows (in ``LINEAGE_SCHEMA`` order) as ONE parquet
    file written on the driver: no Spark job. The file is written under
    a hidden name (Spark's reader skips names starting with ``.``) and
    renamed into ``kg_lineage/``, so a reader sees all of the rows or
    none of them."""
    if not rows:
        return
    path = lineage_path(out_dir)
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        [dict(zip(_ARROW_SCHEMA.names, r)) for r in rows], _ARROW_SCHEMA
    )
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(table, os.path.join(path, "." + name))
    os.replace(os.path.join(path, "." + name), os.path.join(path, name))


def record_lineage_from_table(
    table: DataFrame,
    out_dir: str,
    stage: str,
    run_id: str,
    part_col: str = "repo",
) -> None:
    """Lineage for a stage whose output is 1:1 with its input and
    carries the sha256 column (embeddings): ONE aggregation over the
    table yields input_rows == output_rows and the sha digest per part,
    collected and appended by ``append_lineage``."""
    parts = (
        table.groupBy(F.col(part_col).alias("part_key"))
        .agg(F.count("*").alias("n"), sha_agg_col().alias("sha"))
        .collect()
    )
    append_lineage(
        out_dir, [(run_id, stage, r.part_key, r.n, r.sha, r.n) for r in parts]
    )
