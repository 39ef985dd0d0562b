"""Blocked fuzzy matching over `documents` — the record-linkage /
entity-resolution primitive (Fellegi-Sunter style blocking + edit-
distance verify) that complements the dedup pack: MinHash/SimHash
find set-similar documents, fuzzy matching finds STRING-similar ones
(typos, small edits, near-identical boilerplate with substitutions).

Classic two-phase shape:

1. **Blocking** — candidate pairs must share a cheap key (here: the
   document's first TWO tokens; one token left blocks ~30-wide on
   the synthetic vocabulary, so every block capped out at sf0.1).
   Blocks larger than BLOCK_CAP are dropped
   entirely (both engines agree on the cap), which bounds the
   within-block quadratic fan-out no matter how skewed the corpus —
   the same df-cap discipline dedup_ngram_jaccard uses.
2. **Verify** — exact Levenshtein distance over each document's
   PREFIX_LEN-char prefix. Edit distance is integer-valued and both
   engines implement the same textbook DP, so scores are exactly
   comparable cross-engine (no float discipline needed at all).

Output is the bounded TOP_PAIRS closest pairs (distance asc, then
ids) — always non-degenerate, unlike a fixed distance threshold on a
synthetic corpus — plus a per-block audit.

Scale shape: one shuffle on the block key, quadratic work confined
within capped blocks, O(PREFIX_LEN^2) per verified pair, bounded
top-k output. No all-pairs, no UDF (Levenshtein is a JVM built-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import tokens
from ..sources.catalog import load

_TOKS = "string_split_regex(trim(text), '\\s+')"

#: verify window: edit distance runs over the first PREFIX_LEN chars
PREFIX_LEN = 64
#: blocks larger than this are dropped before pairing (skew bound)
BLOCK_CAP = 40
#: bounded result size
TOP_PAIRS = 20


def _blocked(docs: DataFrame) -> DataFrame:
    """(doc_id, blk, prefix) for docs in surviving blocks."""
    t = tokens("text")
    d = docs.select(
        "doc_id",
        F.concat_ws(" ", t[0], t[1]).alias("blk"),
        F.substring("text", 1, PREFIX_LEN).alias("prefix"),
    )
    sizes = d.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
    return d.join(
        F.broadcast(sizes.filter(F.col("n") <= BLOCK_CAP)).select("blk"),
        "blk",
    )


def fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TOP_PAIRS most string-similar same-block document pairs by
    prefix edit distance (deterministic: distance asc, a asc, b asc)."""
    b = _blocked(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    l = b.select(
        "blk", F.col("doc_id").alias("a"), F.col("prefix").alias("pa")
    )
    r = b.select(
        "blk", F.col("doc_id").alias("b"), F.col("prefix").alias("pb")
    )
    return (
        l.join(r, "blk")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.levenshtein("pa", "pb").alias("edit_dist"),
        )
        .orderBy(F.asc("edit_dist"), F.asc("a"), F.asc("b"))
        .limit(TOP_PAIRS)
    )


def fuzzy_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking audit: block-key cardinality, capped-out blocks, and
    the candidate-pair volume the cap admitted — the number that says
    whether blocking is doing its job before anyone pays the verify."""
    t = tokens("text")
    d = load(spark, sf_dir, "documents").select(
        F.concat_ws(" ", t[0], t[1]).alias("blk")
    )
    sizes = d.groupBy("blk").agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("n") > BLOCK_CAP, 1).otherwise(0)).alias(
            "n_capped"
        ),
        F.sum(
            F.when(
                F.col("n") <= BLOCK_CAP, F.col("n") * (F.col("n") - 1) / 2
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_candidate_pairs"),
        F.max("n").alias("max_block"),
    )


QUERIES = {
    "fuzzy_pairs": fuzzy_pairs,
    "fuzzy_block_stats": fuzzy_block_stats,
}

_BLOCKED_CTE = f"""
    d AS (
        SELECT doc_id,
               array_to_string(({_TOKS})[1:2], ' ') AS blk,
               substr(text, 1, {PREFIX_LEN}) AS prefix
        FROM documents
    ),
    ok AS (
        SELECT blk FROM d GROUP BY blk HAVING count(*) <= {BLOCK_CAP}
    ),
    b AS (SELECT d.* FROM d JOIN ok USING (blk))
"""

ORACLES = {
    "fuzzy_pairs": f"""
        WITH {_BLOCKED_CTE}
        SELECT l.doc_id AS a, r.doc_id AS b,
               CAST(levenshtein(l.prefix, r.prefix) AS INT) AS edit_dist
        FROM b l JOIN b r ON l.blk = r.blk AND l.doc_id < r.doc_id
        ORDER BY edit_dist ASC, a ASC, b ASC
        LIMIT {TOP_PAIRS}
    """,
    "fuzzy_block_stats": f"""
        WITH sizes AS (
            SELECT array_to_string(({_TOKS})[1:2], ' ') AS blk,
                   count(*) AS n
            FROM documents GROUP BY 1
        )
        SELECT count(*) AS n_blocks,
               CAST(sum(CASE WHEN n > {BLOCK_CAP} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_capped,
               CAST(sum(CASE WHEN n <= {BLOCK_CAP}
                             THEN n * (n - 1) / 2 ELSE 0 END)
                    AS BIGINT) AS n_candidate_pairs,
               max(n) AS max_block
        FROM sizes
    """,
}


#: match threshold: the sf-invariant bimodal gap in prefix edit
#: distance (true variants land <=8; unrelated same-block docs ~24+
#: at every testdata SF) — measured, with wide margin on both sides
MATCH_DIST = 10


def entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocking + edit-distance verify
    (this module) feeding connected components (`graph.py`) — the
    Fellegi-Sunter pipeline's resolve step. Same-block pairs within
    MATCH_DIST prefix edits become match edges; transitively linked
    documents collapse into one entity whose canonical id is the
    cluster's min doc_id (the dedup_clusters convention). Emits one
    row per multi-member entity: canonical id, member count, and the
    sorted member list (array_join CSV — deterministic).

    Scale shape: the match-edge stage inherits fuzzy_pairs' bounds
    (capped blocks, quadratic only within a block); the clustering
    inherits connected_components' O(diameter) label propagation
    with per-round checkpoints. Entity chains are short (matches are
    near-identical strings): one round at every testdata SF, and the
    loop raises rather than split an entity past its MAX_ITER bound.
    """
    from .graph import connected_components

    b = _blocked(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    l = b.select(
        "blk", F.col("doc_id").alias("a"), F.col("prefix").alias("pa")
    )
    r = b.select(
        "blk", F.col("doc_id").alias("b"), F.col("prefix").alias("pb")
    )
    edges = (
        l.join(r, "blk")
        .filter(F.col("a") < F.col("b"))
        .filter(F.levenshtein("pa", "pb") <= MATCH_DIST)
        .select("a", "b")
    )
    # converges: 1 round at every testdata SF; raises past MAX_ITER
    cc = connected_components(edges)
    return (
        cc.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.sort_array(F.collect_list("id")), ","
            ).alias("members"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("component").alias("canonical_id"),
            "n_members",
            "members",
        )
        .orderBy(F.desc("n_members"), F.asc("canonical_id"))
    )


QUERIES["entity_clusters"] = entity_clusters

ORACLES["entity_clusters"] = f"""
    WITH RECURSIVE {_BLOCKED_CTE},
    edges AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM b l JOIN b r ON l.blk = r.blk AND l.doc_id < r.doc_id
        WHERE levenshtein(l.prefix, r.prefix) <= {MATCH_DIST}
    ),
    bidir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b, a FROM edges
    ),
    reach(id, lbl) AS (
        SELECT src, src FROM bidir
        UNION
        SELECT e.dst, r.lbl
        FROM bidir e JOIN reach r ON e.src = r.id
    ),
    comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id)
    SELECT component AS canonical_id,
           count(*) AS n_members,
           array_to_string(list_sort(list(id)), ',') AS members
    FROM comp
    GROUP BY component
    HAVING count(*) >= 2
    ORDER BY n_members DESC, canonical_id ASC
"""


def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship on top of `entity_clusters`: per multi-member
    entity, elect the GOLDEN RECORD by the deterministic
    completeness rule real MDM stacks use — longest text wins,
    lowest doc_id breaks ties — and report the survivor next to the
    mass it absorbs (member count, combined text bytes, how much
    longer the survivor is than the entity median member).

    Scale shape: the same capped-block match edges and O(diameter)
    connected components as entity_clusters, then ONE join of the
    membership against the documents projection (both sides keyed
    by doc_id) and a single argmax window per component — entity
    sizes are match-bounded (near-identical strings), so the window
    partitions are tiny by construction.
    """
    from pyspark.sql import Window

    from .graph import connected_components

    b = _blocked(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=False
    )
    l = b.select(
        "blk", F.col("doc_id").alias("a"), F.col("prefix").alias("pa")
    )
    r = b.select(
        "blk", F.col("doc_id").alias("b"), F.col("prefix").alias("pb")
    )
    edges = (
        l.join(r, "blk")
        .filter(F.col("a") < F.col("b"))
        .filter(F.levenshtein("pa", "pb") <= MATCH_DIST)
        .select("a", "b")
    )
    # same edges as entity_clusters, so the same 1-round convergence
    members = connected_components(edges).join(
        load(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("id"),
            F.length("text").cast("long").alias("len"),
        ),
        "id",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("len"), F.asc("id")
    )
    return (
        members.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("id"))).alias(
                "survivor_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("len"))).alias(
                "survivor_len"
            ),
            F.sum("len").alias("total_len"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            F.col("component").alias("canonical_id"),
            "survivor_id",
            "n_members",
            "survivor_len",
            "total_len",
        )
        .orderBy(F.desc("n_members"), F.asc("canonical_id"))
    )


QUERIES["entity_golden_record"] = entity_golden_record

ORACLES["entity_golden_record"] = f"""
    WITH RECURSIVE {_BLOCKED_CTE},
    edges AS (
        SELECT l.doc_id AS a, r.doc_id AS b
        FROM b l JOIN b r ON l.blk = r.blk AND l.doc_id < r.doc_id
        WHERE levenshtein(l.prefix, r.prefix) <= {MATCH_DIST}
    ),
    bidir AS (
        SELECT a AS src, b AS dst FROM edges
        UNION ALL
        SELECT b, a FROM edges
    ),
    reach(id, lbl) AS (
        SELECT src, src FROM bidir
        UNION
        SELECT e.dst, r.lbl
        FROM bidir e JOIN reach r ON e.src = r.id
    ),
    comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
    m AS (
        SELECT comp.component, comp.id, length(d.text) AS len,
               row_number() OVER (
                   PARTITION BY comp.component
                   ORDER BY length(d.text) DESC, comp.id ASC
               ) AS rn
        FROM comp JOIN documents d ON d.doc_id = comp.id
    )
    SELECT component AS canonical_id,
           max(CASE WHEN rn = 1 THEN id END) AS survivor_id,
           count(*) AS n_members,
           CAST(max(CASE WHEN rn = 1 THEN len END) AS BIGINT)
               AS survivor_len,
           CAST(sum(len) AS BIGINT) AS total_len
    FROM m
    GROUP BY component
    HAVING count(*) >= 2
    ORDER BY n_members DESC, canonical_id ASC
"""
