"""Streaming quality scoring — the serving face of the NB quality
classifier (`operators/classifier.py`): document shards land
continuously, each micro-batch is scored under the FROZEN persisted
model (the fastText-filter deployment contract: the classifier
retrains offline on a schedule; arrivals between retrains are scored
by the current model), and verdicts land exactly-once in the
scores store.

The scoring logic is `classifier.score_docs` — the SAME code path
the batch `nbq_select` corpus query uses, so batch and streaming
cannot drift (parity-tested in tests/test_qualityserve.py). State:
ZERO — the model is the store, scoring is a stateless projection +
per-doc partial agg.

Exactly-once: each batch's verdicts land under `batch_id=<id>`
through `drain.land_batches`, so a replayed, uncommitted batch
replaces its own scores; readers see batch_id as a partition column.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..operators.classifier import _index_model, score_docs
from .corpus import document_stream
from .drain import land_batches


def run_score_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    landing_dir: str,
    out_path: str,
    checkpoint: str,
) -> None:
    """Drain every landed document shard through the persisted model
    and land (doc_id, log_odds, keep_nb, keep_rule) in the scores
    store, exactly-once per shard."""
    model, params = _index_model(spark, sf_dir)
    land_batches(
        document_stream(spark, landing_dir),
        lambda batch_df, _: score_docs(batch_df, model, params),
        out_path,
        checkpoint,
    )
