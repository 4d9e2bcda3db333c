"""Partition-level checkpointing with per-partition lineage + metrics.

North-rule requirement: the extraction job must be *resumable from
checkpoint* with per-partition lineage and span-count/error metrics.
The reference has no analog (it is a stateless request/response
service); this is the Spark-native replacement for Structured
Streaming state, per SURVEY §4.3-4:

- The corpus is bucketed into ``n_buckets`` partitions by
  ``pmod(xxhash64(doc_id), n_buckets)`` — the same deterministic
  assignment every run.
- Buckets are processed in batches; each batch's output lands under
  ``{output}/data/part_id=N/`` (Hive-partitioned parquet — the
  Iceberg-partition stand-in available in this container) and is
  acknowledged by appending one lineage row per bucket to
  ``{output}/_lineage/``. The data publish uses dynamic partition
  overwrite, so a kill BETWEEN data write and lineage ack is safe:
  the rerun replaces the unacked bucket's partitions instead of
  appending a second copy.
- On rerun, buckets already present in the lineage manifest are
  filtered out before ``transform`` is called (once per invocation),
  so a killed job resumes where it stopped. Each batch's bucket
  predicate is a data filter on the source scan, not partition
  pruning: the source is still read once per batch.
- Each batch is one write clustered on the bucket column (one file
  per bucket); its lineage counters are observed in that write
  (``DataFrame.observe``), not read back from the files.

Lineage row: part_id, n_docs, n_spans, n_problem_docs, n_used_secondary,
n_errors, batch_wall_sec, batch — enough to audit completeness (sum of
n_docs vs source count) and locate data-quality hotspots per bucket.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans", T.LongType(), False),
        T.StructField("n_problem_docs", T.LongType(), False),
        T.StructField("n_used_secondary", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        # the BATCH's wall clock, identical on every bucket row of the
        # batch (a per-bucket split would be a guess — buckets run
        # concurrently inside one action); named to say so.
        T.StructField("batch_wall_sec", T.DoubleType(), False),
        T.StructField("batch", T.IntegerType(), False),
        # the bucketing the part_ids are defined AGAINST — resuming
        # with a different --n-buckets silently loses (larger->smaller)
        # or duplicates (smaller->larger) data, so the manifest pins it
        T.StructField("n_buckets", T.IntegerType(), False),
    ]
)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic bucket column on doc_id (same every run)."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(
    spark: SparkSession, output: str, n_buckets: int | None = None
) -> set[int]:
    from pyspark.sql.utils import AnalysisException

    try:
        manifest = spark.read.parquet(f"{output}/_lineage")
        if n_buckets is not None and "n_buckets" in manifest.columns:
            seen = {
                r["n_buckets"]
                for r in manifest.select("n_buckets").distinct().collect()
            }
            if seen and seen != {n_buckets}:
                raise ValueError(
                    f"checkpoint at {output} was written with "
                    f"n_buckets={sorted(seen)} but this run uses "
                    f"n_buckets={n_buckets}; part_ids are not "
                    "comparable across bucketings — rerun with the "
                    "original value or use a fresh output dir"
                )
        rows = manifest.select("part_id").collect()
        return {r["part_id"] for r in rows}
    except AnalysisException as e:
        # ONLY a missing manifest means "fresh run". A corrupt or
        # unreadable manifest must fail loudly — treating it as fresh
        # would reprocess every bucket AND append duplicate lineage
        # rows, double-counting the completeness audit.
        if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
            raise
        return set()


def run_with_checkpoint(
    spark: SparkSession,
    docs: DataFrame,
    transform,
    output: str,
    n_buckets: int = 16,
    buckets_per_batch: int = 4,
    max_batches: int | None = None,
) -> dict:
    """Process ``docs`` through ``transform`` bucket-batch by
    bucket-batch, checkpointing each batch.

    transform: DataFrame -> DataFrame producing the RESULT_SCHEMA
    columns (out_spans, problems, used_secondary, ...). It is called
    ONCE per invocation, on ``docs`` filtered to this invocation's
    buckets; each batch then writes ``result.filter(part_id in batch)``
    — one clustered write (one file per bucket) whose observed
    counters are the lineage metrics. ``max_batches`` caps work for
    this invocation (simulates preemption; rerun to finish).

    Returns {"processed": [...part_ids...], "skipped": [...]}.
    """
    done = completed_buckets(spark, output, n_buckets)
    todo = sorted(set(range(n_buckets)) - done)
    batches = [
        todo[i : i + buckets_per_batch]
        for i in range(0, len(todo), buckets_per_batch)
    ][:max_batches]
    if not batches:
        return {"processed": [], "skipped": sorted(done)}
    picked = [pid for batch in batches for pid in batch]
    # Filter BEFORE the transform: a cache inside it (the mega-chunk
    # table) is beyond the reach of the per-batch scan predicate, so
    # this keeps its work to the unacked buckets of this invocation.
    docs = with_bucket(docs, n_buckets).filter(F.col("part_id").isin(picked))
    result = with_bucket(transform(docs.drop("part_id")), n_buckets)
    counters = {
        "n_docs": F.lit(1),
        "n_spans": F.size("out_spans"),
        "n_problem_docs": (F.size("problems") > 0).cast("long"),
        "n_used_secondary": F.col("used_secondary").cast("long"),
        "n_errors": F.col("workflow").isNull().cast("long"),
    }

    processed: list[int] = []
    for bi, bucket_ids in enumerate(batches):
        t0 = time.time()
        observation = Observation()
        # The batch predicate reaches the parquet scan as a data filter
        # (the source is still read once per batch). Clustering on
        # part_id gives each bucket one write task, hence one file. The
        # observe sits in the write's result stage, where Spark merges
        # accumulator updates once per partition, so a retried task
        # cannot count its rows twice.
        batch = (
            result.filter(F.col("part_id").isin(bucket_ids))
            .repartition("part_id")
            .observe(
                observation,
                *[
                    F.sum(F.when(F.col("part_id") == pid, e)).alias(f"{k}_{pid}")
                    for pid in bucket_ids
                    for k, e in counters.items()
                ],
            )
        )
        # Idempotent publish (crash between data write and lineage ack):
        # dynamic partition overwrite replaces exactly the part_id
        # partitions this batch produces, so re-running an unacked
        # bucket swaps in a fresh copy instead of appending duplicates.
        # Acked buckets are never revisited (filtered out above), so
        # their partitions are never touched again.
        batch.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("part_id").parquet(f"{output}/data")
        wall = time.time() - t0

        # An all-empty batch observes null sums: ack them as zero-doc
        # rows, or the rerun loops on the same empty batch forever.
        m = observation.get
        rows = [
            (pid, *(m[f"{k}_{pid}"] or 0 for k in counters), wall, bi,
             n_buckets)
            for pid in bucket_ids
        ]
        spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(f"{output}/_lineage")
        processed.extend(bucket_ids)

    return {"processed": processed, "skipped": sorted(done)}
