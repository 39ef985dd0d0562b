"""Scale pins for the sublinear near-dup queries, by pair counts.

For queries whose whole design keeps work sublinear in the corpus,
the 10x-data step IS the scale contract. Banded LSH makes a pair a
candidate only when it agrees on every row of some band, so the
candidates per input doc must stay nearly flat as the corpus grows;
all-pairs would grow them 10x. The pin counts the candidate pairs the
engine's own band joins emit at sf0.01 and sf0.1 (500 and 5000
documents; sf0.001 has the same 500 documents as sf0.01, so that step
has no data growth to pin). Counts are deterministic for fixed data,
so host load cannot move this pin.

semdedup prunes within IVF clusters whose K grows with the corpus, so
the within-cluster pairs its self-join emits per vector (the mean
cluster size) must stay nearly flat too. The embeddings grow 4x across
the same step (500 -> 2000 vectors); a pinned K would grow the pairs
per vector 4x. semdedup_keep and semdedup_summary share that join, so
both pin the same count; cluster sizes themselves are pinned in
tests/test_semdedup.py::test_cluster_size_stays_bounded_across_sf.
"""

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.operators import dedup, semdedup
from bike_analyzer_spark.sources.catalog import load, table_rows
from tests.conftest import SF_DIR_ORACLE

SF_SMALL, SF_LARGE = SF_DIR_ORACLE, SF_DIR_ORACLE.replace("sf0.01", "sf0.1")

#: max growth of pairs per input row across the data step
#: (10.0 would be all-pairs for documents, 4.0 for embeddings)
MAX_GROWTH = 3.0


def _lsh_per_doc(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    n = dedup.lsh_candidates(dedup.minhash_signatures(docs)).count()
    return n / table_rows(sf_dir, "documents")


def _incr_per_shard_doc(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    shard_docs = docs.filter(F.col("doc_id") % dedup.INCR_NEW_MOD == 0)
    shard = dedup.band_rows(dedup.minhash_signatures(shard_docs))
    store = dedup._incr_store_index(spark, sf_dir)[0]
    n = dedup.shard_store_candidates(shard, store).count()
    return n / shard_docs.count()


def _semdedup_pairs_per_vec(spark, sf_dir):
    """Rows of semdedup's within-cluster self-join (sum of squared
    cluster sizes) per vector, from the engine's own assignment."""
    sizes = semdedup._clustered(spark, sf_dir).groupBy("centroid_id").count()
    pairs, n = sizes.agg(F.sum(F.col("count") ** 2), F.sum("count")).first()
    return pairs / n


PER_DOC = {
    "dedup_minhash_lsh": _lsh_per_doc,
    "dedup_incr_near": _incr_per_shard_doc,
    "semdedup_keep": _semdedup_pairs_per_vec,
    "semdedup_summary": _semdedup_pairs_per_vec,
}


@pytest.mark.parametrize("name", sorted(PER_DOC))
def test_ten_x_data_ratio_stays_sublinear(spark, name):
    small = PER_DOC[name](spark, SF_SMALL)
    large = PER_DOC[name](spark, SF_LARGE)
    assert small > 0, f"{name}: no pairs at {SF_SMALL}; pin is vacuous"
    growth = large / small
    assert growth <= MAX_GROWTH, (
        f"{name}: pairs per input row {small:.3f} -> {large:.3f} "
        f"(x{growth:.2f}) across the data step exceeds x{MAX_GROWTH}: "
        "pair generation is no longer bucket-bounded"
    )
