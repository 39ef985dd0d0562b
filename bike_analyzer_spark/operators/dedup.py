"""Deduplication over `documents` — the LLM-data-pipeline dedup pack:
exact (hash-groupBy), MinHash-LSH banded near-dup, SimHash signatures,
and exact n-gram Jaccard verification. No all-pairs crossJoin anywhere:
candidate generation is always bucketed (LSH bands / shared grouping
keys), which is what keeps this 100-TB-viable.

Scale shapes:
- dedup_exact: one hash aggregate on md5(text). Map-side partial aggs;
  the shuffle key is the content hash, uniformly distributed — no skew.
- dedup_minhash_lsh: explode shingles (fan-out bounded by doc length),
  one groupBy(doc) computing all K minhashes in a single pass, then
  band-bucket self-join. Candidate volume is governed by band
  collisions (jaccard^r per band), never |docs|^2.
- dedup_simhash: token explode + one groupBy(doc) with 32 conditional
  sums — a single shuffle, signature assembled from bit sums.
- verification joins candidates back through shingle sets (semi-join
  shaped, proportional to candidate count x doc length).
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfns import (
    hash64,
    hash64_duck,
    shingle_exprs,
    shingles_duck,
    tokens,
)
from ..sources.catalog import load, table_rows

MINHASH_K = 16  # total hash functions
LSH_BANDS = 8  # bands of r = K/BANDS rows each
JACCARD_FLOOR = 0.05  # report candidate pairs at/above this similarity
SIMHASH_BITS = 32
# Stop-shingle document-frequency cap (round-3): a shingle appearing
# in more than this many docs is dropped BEFORE the exact-Jaccard
# self-join — an ultra-frequent shingle would otherwise fan the
# (shingle, source) join out quadratically within its bucket. 64 is
# far above this corpus's max df (7 at sf0.01, 25 at sf0.1), so the
# corpus output is unchanged; the skew bound is pinned by
# tests/test_dedup.py::test_ngram_jaccard_hot_shingle_bounded.
NGRAM_DF_CAP = 64

# K minhashes from ONE md5 per shingle + K XOR-scrambled linear
# transforms ((h XOR x_i)*a_i + b_i) mod P — 16x less hashing than
# salted md5 per function. The XOR pre-scramble is LOAD-BEARING
# (round 8): h is a 32-bit word against a 2^61 modulus, so the
# bare linear form (a_i*h + b_i) mod P is order-PRESERVING in h —
# every function's min landed on the one global-min shingle, i.e.
# the family silently collapsed to K=1 (all 16 minhashes agreed on
# pairs with exact Jaccard 0.01; measured by
# evalsuite.minhash_error_profile, whose error grid was {0 or 16}
# and nothing between). XORing a per-function 32-bit constant
# scrambles the order before the monotone transform, giving each
# function an independent argmin — the grid now spreads around 0.
# Overflow-safe in signed 64-bit: (h XOR x_i) < 2^32, a_i < 2^29.1
# -> a_i*(h XOR x_i) + b_i < 2^61.2 < 2^63. Both engines compute
# identical values: inputs are non-negative, and ^ / xor() agree on
# non-negative bigints.
MINHASH_P = (1 << 61) - 1


def _mh_abx(i: int) -> tuple[int, int, int]:
    return (
        536870923 + 2 * i,
        (2654435761 * (i + 1)) % (1 << 31),
        (2654435761 * (2 * i + 1)) % (1 << 32),
    )


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) pairs — the set-semantics base for
    both MinHash and exact Jaccard.

    Dedup happens INSIDE the row (`array_distinct` on the shingle
    array, then explode), not via `.distinct()` on the exploded
    frame: distinctness is per-document (doc_id is in the key), so
    the full-corpus exchange the old distinct paid moved zero rows
    between documents — pure waste. r13 measured 0.55 s -> 0.31 s
    for the bare frame at sf0.1 (row-identical, oracle green), and
    every consumer of the checkpointed frame saves the same exchange
    at any scale (guide §2.4: remove the shuffle outright)."""
    return docs.withColumn("toks", tokens("text")).select(
        "doc_id",
        F.explode(F.array_distinct(shingle_exprs("toks", 3))).alias("sh"),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    Returns one row per distinct content with its multiplicity — the
    keep-list (keep_id) plus how many copies it collapses (n_copies).
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.encode(F.col("text"), "UTF-8")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .orderBy("keep_id")
    )


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, shingles: DataFrame | None = None
) -> DataFrame:
    """K minhashes per doc in ONE aggregation pass: hash each distinct
    shingle once, derive the K functions as linear transforms, take K
    mins in a single groupBy. Docs with no shingles (fewer than 3
    tokens) drop out, mirroring set semantics. Pass `shingles` (a
    materialized _doc_shingles frame) when the caller also consumes
    the shingle set — otherwise the corpus explode+distinct runs once
    per consumer (measured ~40% of dedup_minhash_lsh at sf0.1)."""
    ds = (shingles if shingles is not None else _doc_shingles(docs)
          ).withColumn("h64", hash64(F.col("sh")))
    mins = []
    for i in range(k):
        a, b, x = _mh_abx(i)
        scrambled = F.col("h64").bitwiseXOR(F.lit(x))
        mins.append(
            F.min(
                (F.lit(a) * scrambled + F.lit(b)) % F.lit(MINHASH_P)
            ).alias(f"mh{i}")
        )
    return ds.groupBy("doc_id").agg(*mins)


def band_rows(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band, sig): the LSH band table — the INDEX a near-dup
    store persists (see dedup_incr_near)."""
    k = len(sigs.columns) - 1
    r = k // bands
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.encode(
                    F.concat_ws(
                        ",", *[F.col(f"mh{b * r + j}") for j in range(r)]
                    ),
                    "UTF-8",
                )
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*structs)).alias("bs")
    ).select("doc_id", "bs.band", "bs.sig")


def lsh_candidates(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """Band the signature and self-join per (band, band-signature)
    bucket: pairs agreeing on ALL rows of any band become candidates.

    The band table deliberately is NOT its own checkpoint: the
    corpus-expensive subtree (scan+explode+distinct shingles) is the
    callers' materialized `ds` frame, and deriving bands from that
    RDD per join side is one cheap vocab-sized agg — r6 checkpointed
    here too, and the extra RDD materialization cost ~25% of the
    query at sf0.1 (measured; the double-checkpoint pipeline also
    paid a second Catalyst planning pass)."""
    banded = band_rows(sigs, bands)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def _jaccard_two_sided(
    candidates: DataFrame,
    a_ds: DataFrame,
    b_ds: DataFrame,
    floor: float,
    sizes_b: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs whose two sides
    come from DIFFERENT shingle frames (e.g. a fresh shard vs a
    persisted store index): intersection via a shingle equi-join,
    union by inclusion-exclusion. Each side's set sizes come from its
    own frame — or, for the b side, from a caller-supplied
    PRECOMPUTED (doc_id, nb) frame (the store index persists one), so
    the verify stage never re-aggregates a corpus-sized shingle set
    per query."""
    sizes_a = a_ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    if sizes_b is None:
        sizes_b = b_ds.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nb")
        )
    a_sh = a_ds.select(F.col("doc_id").alias("a"), "sh")
    b_sh = b_ds.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        candidates.join(a_sh, "a")
        .join(b_sh, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes_a.withColumnRenamed("doc_id", "a"), "a")
        .join(sizes_b.withColumnRenamed("doc_id", "b"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= floor)
        .select("a", "b", "jaccard")
    )


def _jaccard_for(
    candidates: DataFrame, ds: DataFrame, floor: float
) -> DataFrame:
    """Exact shingle-set Jaccard where both sides share ONE frame.

    `ds` is consumed THREE times (set sizes + both join sides) —
    callers pass it MATERIALIZED (localCheckpoint), both to avoid
    re-exploding the corpus per consumer and to share the frame with
    their own signature pipeline (checkpointing here would copy an
    already-checkpointed frame a second time)."""
    return _jaccard_two_sided(candidates, ds, ds, floor)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    The shingle frame is materialized ONCE and shared by the signature
    pipeline and the Jaccard verify — before r7 each path re-ran the
    corpus explode+distinct independently (two full scans)."""
    docs = load(spark, sf_dir, "documents")
    ds = _doc_shingles(docs).localCheckpoint(eager=False)
    sigs = minhash_signatures(docs, shingles=ds)
    cands = lsh_candidates(sigs)
    return _jaccard_for(cands, ds, JACCARD_FLOOR).orderBy(
        F.desc("jaccard"), "a", "b"
    )


def simhash_signatures(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash: per-token portable hash; signature bit j is the sign of
    sum over tokens (with multiplicity) of +/-1 for hash-bit j."""
    tok = (
        docs.withColumn("toks", tokens("text"))
        .select("doc_id", F.explode("toks").alias("tok"))
        .withColumn("th", hash64(F.col("tok")))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright("th", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    sig = reduce(
        lambda acc, j: acc
        + F.when(F.col(f"s{j}") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
        range(bits),
        F.lit(0).cast("bigint"),
    )
    return agg.select("doc_id", sig.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash_signatures(docs).orderBy("doc_id")


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, df_cap: int = NGRAM_DF_CAP
) -> DataFrame:
    """Exact 3-gram Jaccard for within-`source` pairs (bucketed by the
    source key so candidate volume stays linear in bucket size), top-20
    most similar pairs.

    Jaccard is computed over the CAPPED shingle space: shingles with
    document frequency > df_cap are dropped before both the
    intersection join and the set sizes (consistent numerator and
    denominator), which bounds the self-join fan-out per shingle at
    df_cap^2 rows regardless of how skewed the corpus is. The df
    aggregation itself is a uniform-key groupBy — no skew."""
    docs = load(spark, sf_dir, "documents")
    # Tokenize+explode ONCE: a lazy localCheckpoint materializes the
    # exploded shingle frame on first touch and both consumers (the
    # df aggregate and the capped frame) read the materialized copy —
    # round 3 computed _doc_shingles twice (two full scans+explodes),
    # the corpus's single worst per-query regression. The df aggregate
    # keeps its skew-safe map-side-partial groupBy shape (a window
    # over sh would pile every copy of a hot shingle into one
    # partition — exactly the skew the cap exists to bound).
    # `source` rides through the explode (functionally dependent on
    # doc_id, so the distinct cardinality is unchanged) — saves the
    # docs⋈shingles join the round-3 plan paid to re-attach it.
    # Set semantics via array_distinct INSIDE the row (doc_id is in
    # the key, so the old `.distinct()` exchange moved zero rows
    # between documents — r13, same rewrite as _doc_shingles).
    ds0 = (
        docs.withColumn("toks", tokens("text"))
        .select(
            "doc_id",
            "source",
            F.explode(F.array_distinct(shingle_exprs("toks", 3))).alias(
                "sh"
            ),
        )
        .localCheckpoint(eager=False)
    )
    hot = (
        ds0.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("sh")
    )
    # the capped frame likewise feeds two consumers (intersection
    # self-join + per-doc sizes) — checkpoint it so the anti-join runs
    # once instead of per consumer
    ds = ds0.join(hot, "sh", "left_anti").localCheckpoint(eager=False)
    # Intersection-driven plan: self-join doc-shingles on (shingle,
    # source) so work scales with ACTUAL overlap, not with the
    # |bucket|^2 pair count — pairs sharing nothing never materialize.
    a_sh = ds.select(F.col("doc_id").alias("a"), "sh", "source")
    b_sh = ds.select(F.col("doc_id").alias("b"), "sh", "source")
    inter = (
        a_sh.join(b_sh, ["sh", "source"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a"
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b"
        )
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "b")
        .limit(20)
    )


#: which doc_ids play the "arriving shard" in the incremental demo
INCR_NEW_MOD = 5

#: Bloom sizing for the store-side prune: 16 bits/key x 3 probes
#: ~= 0.5% false-positive rate (false positives only cost a wasted
#: row in the exact band join — never a wrong answer)
BLOOM_BITS_PER_KEY = 16
BLOOM_HASHES = 3
#: Engage the Bloom prune only when the corpus (from table metadata)
#: is big enough for it to pay: building + broadcasting the filter
#: costs two extra driver jobs, worth it when store >> shard (the
#: real deployment shape — a daily shard against a years-deep store,
#: ratios of 10^3+), pure overhead when the demo SFs make the store a
#: mere (INCR_NEW_MOD - 1)x the shard (measured +0.7 s at sf0.1 for
#: zero net pruning benefit). The cutoff is a cost-model decision
#: from METADATA (no count job); tests force the path by lowering it.
BLOOM_MIN_DOCS = 100_000


def _bloom_prune(
    spark: SparkSession, store: DataFrame, shard: DataFrame, n_keys: int
) -> DataFrame:
    """Filter the store band index down to rows whose (band, sig) MIGHT
    appear in the arriving shard, via a real Bloom filter built over
    the shard's keys (r6 VERDICT ask #6).

    Scale shape: the admission check's cost must track SHARD size, not
    store size. The filter is m = 16 bits per shard key — orders of
    magnitude smaller than the shard itself — built DISTRIBUTED (3
    Kirsch-Mitzenmacher positions per key, bit_or per 64-bit word into
    a filter-sized sparse word table that never touches the driver).
    Each probe is then one map-side BROADCAST join of the store
    against that word table plus a bit test, filtering progressively
    after every probe — the store is pruned during its scan stage and
    never reaches the band join's exchange, and no stage collects or
    shuffles anything corpus-sized. No false negatives by construction
    (every true key sets its own bits), so results are byte-identical
    with or without the prune — the DuckDB oracle needs no Bloom twin.

    `n_keys` is an upper bound on the shard's band rows, supplied by
    the caller from table METADATA (parquet footer / metastore stats)
    so sizing the filter costs no count() job; overestimating only
    makes the filter sparser."""
    m = max(1024, BLOOM_BITS_PER_KEY * n_keys)
    m += (-m) % 64
    # pre-reduced double hashes: _h1/_h2 < m and i <= 2, so the probe
    # position math can never overflow a bigint even under ANSI mode
    h1 = F.pmod(F.xxhash64("band", "sig"), F.lit(m))
    h2 = F.pmod(F.xxhash64(F.lit("incr-bloom"), "band", "sig"), F.lit(m))
    positions = F.explode(
        F.array(
            *[
                F.pmod(F.col("_h1") + F.lit(i) * F.col("_h2"), F.lit(m))
                for i in range(BLOOM_HASHES)
            ]
        )
    ).alias("pos")
    words = (
        shard.withColumn("_h1", h1)
        .withColumn("_h2", h2)
        .select(positions)
        .select(
            F.shiftright("pos", 6).alias("word"),
            F.expr("shiftleft(1L, cast(pos & 63 as int))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .localCheckpoint(eager=False)
    )
    pruned = store.withColumn("_h1", h1).withColumn("_h2", h2)
    for i in range(BLOOM_HASHES):
        pos = F.pmod(F.col("_h1") + F.lit(i) * F.col("_h2"), F.lit(m))
        pruned = (
            pruned.withColumn(f"_p{i}", pos)
            .withColumn(f"_w{i}", F.shiftright(F.col(f"_p{i}"), 6))
            .join(
                F.broadcast(
                    words.select(
                        F.col("word").alias(f"_w{i}"),
                        F.col("bits").alias(f"_b{i}"),
                    )
                ),
                f"_w{i}",
                "left",
            )
            .filter(
                F.expr(
                    f"(shiftright(coalesce(_b{i}, 0L), "
                    f"cast(_p{i} & 63 as int)) & 1) = 1"
                )
            )
            .drop(f"_p{i}", f"_w{i}", f"_b{i}")
        )
    return pruned.drop("_h1", "_h2")


#: bump to invalidate persisted incremental-store indexes when the
#: shingle/signature/banding pipeline changes shape
#: (v2: + the per-doc set-size table, so the exact-Jaccard verify
#: reads sizes instead of re-aggregating the shingle index)
STORE_INDEX_VERSION = 3  # 3: XOR-scrambled minhash family (round 8)


def _incr_store_index(spark: SparkSession, sf_dir: str):
    """The STORE side's persisted index for the incremental admission
    check: (doc_id, band, sig) band rows AND (doc_id, sh) shingle
    rows, materialized ONCE per documents fingerprint under the
    warehouse — the same train-once discipline as the IVF/PQ/NB/OD
    caches. A real near-dup store IS this pair on disk (the band
    table for candidate generation, the shingle inverted index for
    exact verification); before this cache every query re-ran the
    full-corpus explode+distinct+minhash just to rebuild what the
    store, by definition, already has (round-7 VERDICT perf ask).

    Returns (bands, shingles) DataFrames read from parquet."""
    import json

    from ..sources.catalog import (
        PARTITIONED_CACHE_DIR,
        _fingerprint_ok,
    )

    base = os.path.join(
        PARTITIONED_CACHE_DIR.replace("events_by_date", "incr_store"),
        os.path.basename(os.path.normpath(sf_dir)),
    )
    marker = os.path.join(base, "_FINGERPRINT.json")
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    fp = {
        "size": st.st_size,
        "mtime_ns": st.st_mtime_ns,
        "params": [
            MINHASH_K,
            LSH_BANDS,
            INCR_NEW_MOD,
            STORE_INDEX_VERSION,
        ],
    }
    bands_path = os.path.join(base, "bands")
    sh_path = os.path.join(base, "shingles")
    sizes_path = os.path.join(base, "sizes")
    if not _fingerprint_ok(marker, fp):
        store_docs = load(spark, sf_dir, "documents").filter(
            ~(F.col("doc_id") % INCR_NEW_MOD == 0)
        )
        ds = _doc_shingles(store_docs).localCheckpoint(eager=False)
        ds.write.mode("overwrite").parquet(sh_path)
        ds_back = spark.read.schema("doc_id bigint, sh string").parquet(
            sh_path
        )
        band_rows(
            minhash_signatures(store_docs, shingles=ds_back)
        ).write.mode("overwrite").parquet(bands_path)
        # per-doc set sizes, so the verify stage READS them instead
        # of re-aggregating the corpus-sized shingle index per query
        ds_back.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("nb")
        ).write.mode("overwrite").parquet(sizes_path)
        with open(marker, "w") as f:
            json.dump(fp, f)
    return (
        spark.read.schema("doc_id bigint, band int, sig string").parquet(
            bands_path
        ),
        spark.read.schema("doc_id bigint, sh string").parquet(sh_path),
        spark.read.schema("doc_id bigint, nb bigint").parquet(sizes_path),
    )


def shard_store_candidates(shard: DataFrame, store: DataFrame) -> DataFrame:
    """(a, b) pairs of a shard doc and a store doc that agree on ALL
    rows of any band: the band join of two (doc_id, band, sig) tables."""
    l, r = shard.alias("l"), store.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def dedup_incr_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup — the growing-corpus admission check: an
    arriving shard (doc_id % 5 == 0) is banded against the STORE's
    persisted band index (the other docs), exact-Jaccard verified, and
    each new doc either names its best store near-dup or survives.

    At scale this is the minhash analog of the content-hash store
    (streaming.corpus.run_gate_dedup_to_store): the store keeps its
    (doc_id, band, sig) band index and (doc_id, sh) shingle index ON
    DISK (_incr_store_index), so per-query work is shard-sized —
    shard shingles + shard minhash + joins against parquet scans of
    the store artifacts. No store self-join and no store recompute
    ever runs. Once the corpus passes BLOOM_MIN_DOCS (a metadata
    cost-model gate), the store band scan is additionally
    Bloom-pruned by the shard's key set before the join (see
    _bloom_prune), so the rows reaching the exchange track shard
    size, not store size. The exact-Jaccard verify joins the shard's
    materialized shingles against the store's PERSISTED shingle
    index (round-7 VERDICT: the verify stage previously re-exploded
    the whole corpus)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INCR_NEW_MOD == 0
    shard_ds = _doc_shingles(docs.filter(is_new)).localCheckpoint(
        eager=False
    )
    shard = band_rows(
        minhash_signatures(docs.filter(is_new), shingles=shard_ds)
    )
    store, store_ds, store_sizes = _incr_store_index(spark, sf_dir)
    n_docs = table_rows(sf_dir, "documents")
    if n_docs >= BLOOM_MIN_DOCS:
        # shard band rows <= ceil(docs/INCR_NEW_MOD) * LSH_BANDS, with
        # the doc count from table metadata — no count() job
        n_keys = -(-n_docs // INCR_NEW_MOD) * LSH_BANDS
        store = _bloom_prune(spark, store, shard, n_keys)
    cands = shard_store_candidates(shard, store)
    scored = _jaccard_two_sided(
        cands, shard_ds, store_ds, JACCARD_FLOOR, sizes_b=store_sizes
    )
    w = Window.partitionBy("a").orderBy(F.desc("jaccard"), F.asc("b"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("a").alias("doc_id"), F.col("b").alias("dup_of"), "jaccard")
    )
    return (
        docs.filter(is_new)
        .select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "dup_of",
            "jaccard",
            F.col("dup_of").isNull().alias("survives"),
        )
        .orderBy("doc_id")
    )


QUERIES = {
    "dedup_incr_near": dedup_incr_near,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
}

_TOKS = "string_split_regex(trim(text), '\\s+')"
_DS = f"""
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest({shingles_duck("toks", 3)}) AS sh
            FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
        )
"""


def _minhash_cols_duck(k: int = MINHASH_K) -> str:
    cols = []
    for i in range(k):
        a, b, x = _mh_abx(i)
        cols.append(
            f"min(({a} * xor(h64, {x}) + {b}) % {MINHASH_P}) AS mh{i}"
        )
    return ",\n               ".join(cols)


def _bands_duck(k: int = MINHASH_K, bands: int = LSH_BANDS) -> str:
    """UNION ALL of one SELECT per band over the signature table."""
    r = k // bands
    selects = []
    for b in range(bands):
        cols = " || ',' || ".join(
            f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS sig FROM sigs"
        )
    return "\n            UNION ALL\n            ".join(selects)


def _simhash_duck(bits: int = SIMHASH_BITS) -> str:
    sums = ",\n               ".join(
        f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, {hash64_duck("t.tok")} AS th
            FROM (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) t
        ),
        agg AS (
            SELECT doc_id,
               {sums}
            FROM tok GROUP BY doc_id
        )
        SELECT doc_id, {sig} AS simhash
        FROM agg
        ORDER BY doc_id
    """


ORACLES = {
    "dedup_exact": """
        SELECT md5(text) AS content_hash,
               count(*) AS n_copies,
               min(doc_id) AS keep_id
        FROM documents
        GROUP BY md5(text)
        ORDER BY keep_id
    """,
    "dedup_minhash_lsh": f"""
        WITH ds AS ({_DS}),
        sigs AS (
            SELECT doc_id,
               {_minhash_cols_duck()}
            FROM (SELECT doc_id, {hash64_duck("sh")} AS h64 FROM ds)
            GROUP BY doc_id
        ),
        banded AS (
            {_bands_duck()}
        ),
        cands AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
        inter AS (
            SELECT c.a, c.b, count(*) AS inter
            FROM cands c
            JOIN ds da ON da.doc_id = c.a
            JOIN ds db ON db.doc_id = c.b AND db.sh = da.sh
            GROUP BY c.a, c.b
        )
        SELECT i.a, i.b,
               round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a
        JOIN sizes sb ON sb.doc_id = i.b
        WHERE round(i.inter / (sa.n + sb.n - i.inter), 4) >= {JACCARD_FLOOR}
        ORDER BY jaccard DESC, a, b
    """,
    "dedup_simhash": _simhash_duck(),
    "dedup_ngram_jaccard": f"""
        WITH ds0 AS ({_DS}),
        hot AS (
            SELECT sh FROM ds0 GROUP BY sh
            HAVING count(*) > {NGRAM_DF_CAP}
        ),
        ds AS (
            SELECT * FROM ds0
            WHERE sh NOT IN (SELECT sh FROM hot)
        ),
        pairs AS (
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM documents x JOIN documents y
              ON x.source = y.source AND x.doc_id < y.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
        inter AS (
            SELECT p.a, p.b, count(*) AS inter
            FROM pairs p
            JOIN ds da ON da.doc_id = p.a
            JOIN ds db ON db.doc_id = p.b AND db.sh = da.sh
            GROUP BY p.a, p.b
        )
        SELECT i.a, i.b,
               round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a
        JOIN sizes sb ON sb.doc_id = i.b
        WHERE round(i.inter / (sa.n + sb.n - i.inter), 4) >= 0.0
        ORDER BY jaccard DESC, a, b
        LIMIT 20
    """,
    "dedup_incr_near": f"""
        WITH ds AS ({_DS}),
        sigs AS (
            SELECT doc_id,
               {_minhash_cols_duck()}
            FROM (SELECT doc_id, {hash64_duck("sh")} AS h64 FROM ds)
            GROUP BY doc_id
        ),
        banded AS (
            {_bands_duck()}
        ),
        cands AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.sig = r.sig
             AND l.doc_id % {INCR_NEW_MOD} = 0
             AND r.doc_id % {INCR_NEW_MOD} <> 0
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
        inter AS (
            SELECT c.a, c.b, count(*) AS inter
            FROM cands c
            JOIN ds da ON da.doc_id = c.a
            JOIN ds db ON db.doc_id = c.b AND db.sh = da.sh
            GROUP BY c.a, c.b
        ),
        scored AS (
            SELECT i.a, i.b,
                   round(i.inter / (sa.n + sb.n - i.inter), 4) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.a
            JOIN sizes sb ON sb.doc_id = i.b
            WHERE round(i.inter / (sa.n + sb.n - i.inter), 4)
                  >= {JACCARD_FLOOR}
        ),
        best AS (
            SELECT a AS doc_id, b AS dup_of, jaccard,
                   row_number() OVER (
                       PARTITION BY a ORDER BY jaccard DESC, b
                   ) AS rn
            FROM scored
        )
        SELECT d.doc_id, best.dup_of, best.jaccard,
               best.dup_of IS NULL AS survives
        FROM documents d
        LEFT JOIN best ON best.doc_id = d.doc_id AND best.rn = 1
        WHERE d.doc_id % {INCR_NEW_MOD} = 0
        ORDER BY d.doc_id
    """,
}
