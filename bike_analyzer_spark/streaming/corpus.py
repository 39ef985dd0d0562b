"""Streaming corpus ingest with quality gating — the LLM-pipeline
face of SURVEY §2.9: documents land continuously (crawl shards,
upload batches), each micro-batch passes the SAME Gopher/C4 rule
gates the batch corpus queries use, and survivors append exactly-once
to the curated store.

Design:
- `drain.file_stream`: a PINNED schema, one landed file per trigger
  (a shard = a micro-batch);
- `operators.quality.rule_flags` is a stateless narrow projection, so
  the streaming gate IS the batch gate — no reimplementation to
  drift (parity tested in tests/test_streaming_corpus.py);
- the parquet sink + checkpoint give exactly-once file-level
  semantics: a restart over an already-processed shard appends
  nothing, a new shard appends only its own survivors. At 100 TB
  this is the continuous version of the batch `curate` pass, with
  state bounded at ZERO (no aggregation, no watermark needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality import rule_flags
from ..schemas import TESTDATA
from .drain import drain, file_stream


def document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Stream over landed document shards, shard by shard."""
    return file_stream(spark, TESTDATA["documents"], landing_dir)


def quality_gated(docs: DataFrame) -> DataFrame:
    """Documents that pass every rule gate, original columns only.
    Works identically on batch and streaming frames."""
    flagged = rule_flags(docs)
    return flagged.filter("keep").select(
        *[f.name for f in TESTDATA["documents"].fields]
    )


def scrubbed_and_gated(docs: DataFrame) -> DataFrame:
    """The full ingest pipeline in real order: PII scrubbing FIRST
    (redaction must see raw text; quality ratios then score what
    training will actually consume), then the rule gates over the
    scrubbed text. Still one stateless narrow projection end-to-end —
    both stages fuse into the same micro-batch scan."""
    from ..operators.scrub import scrub_flags

    scrubbed = (
        scrub_flags(docs)
        .drop("text", "n_urls", "n_emails", "n_phones")
        .withColumnRenamed("clean_text", "text")
        .select(*[f.name for f in TESTDATA["documents"].fields])
    )
    return quality_gated(scrubbed)


def run_gate_dedup_to_store(
    spark: SparkSession, gated: DataFrame, path: str, checkpoint: str
) -> None:
    """Gate + CROSS-SHARD exact dedup into a content-addressed store:
    each micro-batch's survivors merge on md5(text), smallest doc_id
    winning (keep-first — stable under re-crawls), via the same
    crash-safe staged-swap sink the stations table uses. The store IS
    the dedup state — no streaming state at all — and the rewrite
    makes micro-batch replay idempotent (an append sink would double
    rows when an uncommitted batch re-runs). At warehouse scale the same
    contract is a Delta MERGE on content_hash; the logical plan —
    shuffle both sides on a uniform hash key, keep one row per key —
    is identical."""
    from ..sources import sinks

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.withColumn(
            "content_hash", F.md5(F.encode(F.col("text"), "UTF-8"))
        ).withColumn("keep_pri", -F.col("doc_id"))
        sinks.merge_upsert(spark, b, path, ["content_hash"], "keep_pri")

    drain(gated, each_batch=_merge, checkpoint=checkpoint)


def run_gate_to_parquet(
    gated: DataFrame, path: str, checkpoint: str
) -> None:
    """Drain everything landed so far into the curated parquet store,
    exactly-once per shard via the checkpoint."""
    drain(gated, path=path, checkpoint=checkpoint)
