"""Materialized curation pipeline: turn the raw documents table into a
training-ready corpus on disk — the batch job a training run consumes.

Outputs under ``out_dir``:
- ``curated_documents/`` — parquet, PARTITIONED BY split (train/
  validation/test): every kept document with its text, language,
  quality score, and deterministic split assignment. Partitioning by
  split means a trainer reading ``split=train`` prunes the others at
  the file level.
- ``curation_report/`` — parquet: the per-(lang, status) funnel
  accounting (same numbers as the ``curation_pipeline_summary``
  catalog query).

Everything derives from :func:`curation_labels` — the same doc-level
verdicts the hash-checked catalog query aggregates, so what lands on
disk is exactly what the driver verified.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import barrier_scope, persist_barrier
from ..sources.readers import load_table
from .catalog_ext import curation_labels, split_assignment


def run_curation_pipeline(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Run the funnel and write the curated corpus; returns output paths.

    Everything it persists (the labels below and the barriers
    curation_labels registers) is released on return, whether the
    writes succeed or raise."""
    curated_path = os.path.join(out_dir, "curated_documents")
    report_path = os.path.join(out_dir, "curation_report")
    with barrier_scope():
        # persist: the labels lineage (quality scoring + digest groupBy +
        # decontamination broadcast join) feeds BOTH writes below —
        # without this it would execute twice per pipeline run
        labels = persist_barrier(curation_labels(spark, sf_dir))
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "source", "n_chars"
        )
        kept = (
            labels.filter(F.col("status") == "kept")
            .join(docs, "doc_id")
            .withColumn("split", split_assignment())
            .select(
                "doc_id", "text", "lang", "source", "n_chars", "quality_score",
                "split",
            )
        )
        kept.write.mode("overwrite").partitionBy("split").parquet(curated_path)

        report = (
            labels.groupBy("lang", "status")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("lang", "status")
        )
        report.write.mode("overwrite").parquet(report_path)

    return {"curated_documents": curated_path, "curation_report": report_path}


def read_curated_split(spark: SparkSession, curated_path: str, split: str) -> DataFrame:
    """Read one split of the curated corpus — partition pruning keeps
    the scan to that split's files only."""
    return spark.read.parquet(curated_path).filter(F.col("split") == split)
