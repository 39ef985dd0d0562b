"""Pipeline evaluation harness: quality metrics ABOUT the engine's
own approximate operators, computed as first-class oracle-gated
queries.

A training-data pipeline at 100 TB runs approximations everywhere —
ANN instead of exact k-NN, MinHash estimates instead of exact
Jaccard, a weak-label classifier instead of the rules it distills —
and the operational question is always "how wrong, where". The
reference has no analog (its pipeline is exact end-to-end at toy
scale); these queries are the measurement layer a production
deployment bolts on top, and each one doubles as a second
differential gate over the operator it measures (the recall query,
for instance, replays BOTH the unrolled-Lloyd IVF twin and the
brute-force twin in DuckDB).

All three are exact-integer reports: hit counts, confusion counts,
and an integer error grid — ratios display through
`functions/exact.py` half-up forms, never a rounded double, so the
usual cross-engine discipline holds even though the subjects are
approximate.

Scale: each query's output is bounded (N_QUERIES rows / 4 confusion
cells / ≤33 error buckets), every corpus-sized stage reuses the
measured operator's own scale story (banded LSH candidates, bounded
broadcast query sets, B-row broadcast models), and the only
additions on top are grouped aggregates on those operators' outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import halfup_duck, halfup_expr, halfup_ratio_sql
from ..sources.catalog import load
from . import classifier, dedup, ivf, similarity
from .dedup import (
    MINHASH_K,
    _doc_shingles,
    lsh_candidates,
    minhash_signatures,
)
from .similarity import N_QUERIES, TOP_K


# ----------------------------------------------------- ANN recall


def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k of the IVF index against the exact brute-force
    baseline, per query. Both sides are the engine's own registered
    operators (`sim_ivf_topk`, `sim_topk_bruteforce`) — this query
    only intersects their id sets and counts, so it is exactly the
    recall a user would measure, and its DuckDB twin replays both
    operators' full oracle pipelines (unrolled Lloyd rounds
    included). The join is on (query_id, neighbor_id) over two
    ≤N_QUERIES·k frames — driver-side-trivial regardless of corpus
    size; the corpus cost is the two operators' own documented
    plans. Queries where the IVF probe list misses every true
    neighbor still report (LEFT join from the brute side's query
    universe, hits coalesced to 0)."""
    brute = similarity.sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = ivf.sim_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hits = (
        brute.join(
            approx,
            (brute.query_id == approx.query_id)
            & (brute.neighbor_id == approx.ivf_neighbor),
            "left",
        )
        .select(
            brute.query_id,
            F.when(approx.ivf_neighbor.isNotNull(), 1)
            .otherwise(0)
            .alias("hit"),
        )
        .groupBy("query_id")
        .agg(F.sum("hit").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        halfup_expr("n_hits * 100", str(TOP_K), 2).alias("recall_pct"),
    ).orderBy("query_id")


#: probe budgets for the routing-coverage curve (N_PROBE = 4 is the
#: deployed operating point; 1/2 show the cost of under-probing, 8
#: the headroom above it)
PROBE_GRID = (1, 2, 4, 8)


def ann_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-budget tuning curve: for each probe budget p, the
    ROUTING COVERAGE — the share of true top-k neighbors (exact
    brute-force baseline) whose inverted list is among the query's
    first p probes. Coverage@p is the ceiling on recall@p (a
    neighbor whose list is never probed can never be returned), and
    it is the number an ANN deployment reads to set N_PROBE: where
    the curve flattens, extra probes buy latency, not recall.

    Computed WITHOUT re-running the search per budget: one centroid
    ranking per query (the same (score desc, cid asc) order
    `topk_for` probes in) joined against each true neighbor's list
    assignment — the whole sweep is one aggregation over
    N_QUERIES x k rows, vs |grid| full searches.

    Scale shape: the brute baseline and the assignment argmax are
    the two parents' documented plans (narrow per-row folds over a
    broadcast centroid row — no corpus shuffle); everything after is
    metadata-sized (N_QUERIES x K probe ranks, N_QUERIES x k true
    pairs, a 1-row wide aggregate exploded to |grid| rows).
    """
    from .ivf import _assigned, _centroid_row, _index_centroids, _scored_cents
    from .similarity import _with_norm

    emb_n = _with_norm(load(spark, sf_dir, "embeddings"))
    cents_row = _centroid_row(_index_centroids(spark, sf_dir, emb_n))
    assign = _assigned(emb_n, cents_row).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").alias("nb_cid"),
    )
    queries = emb_n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qn"),
    )
    # full probe order per query: pos 0 = best centroid (score desc,
    # ncid desc == cid asc — the exact order topk_for slices)
    ranked = queries.crossJoin(F.broadcast(cents_row)).select(
        "query_id",
        F.posexplode(
            F.reverse(
                F.array_sort(_scored_cents(F.col("qe"), F.col("qn")))
            )
        ).alias("pos", "s"),
    ).select(
        "query_id",
        (-F.col("s.ncid")).alias("cid"),
        (F.col("pos") + 1).alias("probe_rank"),
    )
    brute = similarity.sim_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    true_ranks = brute.join(assign, "neighbor_id").join(
        ranked,
        (brute.query_id == ranked.query_id)
        & (F.col("nb_cid") == ranked.cid),
    )
    wide = true_ranks.agg(
        F.count(F.lit(1)).alias("n_true"),
        *[
            F.sum((F.col("probe_rank") <= p).cast("bigint")).alias(f"c{p}")
            for p in PROBE_GRID
        ],
    )
    structs = ", ".join(
        f"struct(CAST({p} AS BIGINT) AS n_probe, c{p} AS covered)"
        for p in PROBE_GRID
    )
    return (
        wide.select(
            F.expr(f"explode(array({structs})) AS kv"), "n_true"
        )
        .select("kv.n_probe", "kv.covered", "n_true")
        .select(
            "n_probe",
            "covered",
            "n_true",
            halfup_expr("covered * 100", "n_true", 2).alias("coverage_pct"),
        )
        .orderBy("n_probe")
    )


# ------------------------------------------- classifier calibration


def nbq_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the served NB verdict against the weak
    rule label it distilled — the calibration report for the
    quality-classifier stage. Rides the frozen persisted model
    through the same `score_docs` serving path as `nbq_select`
    (train once, serve many), then collapses the corpus to ≤4
    cells; the share column is the exact integer half-up over the
    cell counts. The total for the share rides a window over the
    ALREADY-AGGREGATED ≤4-row frame — bounded at any corpus size,
    no 1-row broadcast needed."""
    sel = classifier.nbq_select(spark, sf_dir)
    cells = sel.groupBy("keep_rule", "keep_nb").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = F.sum("n_docs").over(
        Window.partitionBy()
    )  # ≤4 rows at this point
    return (
        cells.withColumn("_total", total)
        .select(
            "keep_rule",
            "keep_nb",
            "n_docs",
            halfup_expr("n_docs * 100", "_total", 4).alias("share_pct"),
        )
        .orderBy("keep_rule", "keep_nb")
    )


# --------------------------------------------- MinHash error grid


def minhash_error_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer error grid of the MinHash Jaccard estimator over the
    LSH candidate pairs: per pair, (agreeing minhashes) −
    (exact-Jaccard sixteenths, floor), then a count per error
    bucket. Everything is integer — the estimate is an agreement
    count in [0, K], the exact side is `(K·inter) div union` on
    shingle-set counts — so the grid is bit-identical across
    engines with no rounding class at all. The corpus stages are
    the dedup pipeline's own: ONE checkpointed shingle frame feeds
    the signatures, the banded candidates, and the exact verify
    (dedup.py's single-checkpoint discipline); the grid adds two
    bounded joins of the candidate list against the K-column
    signature table."""
    docs = load(spark, sf_dir, "documents")
    ds = _doc_shingles(docs).localCheckpoint(eager=False)
    sigs = minhash_signatures(docs, shingles=ds)
    cands = lsh_candidates(sigs)

    # Explicit per-side renames, NOT DataFrame.alias: the two sides
    # share one lineage, and under alias self-joins Spark resolves
    # `rb.mh0` to the SAME attribute as `la.mh0` — every comparison
    # silently becomes true (observed: all 135 sf0.01 pairs scored
    # m=16). Distinct column names make misresolution impossible.
    sig_a = sigs.select(
        F.col("doc_id").alias("a"),
        *[F.col(f"mh{i}").alias(f"am{i}") for i in range(MINHASH_K)],
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("b"),
        *[F.col(f"mh{i}").alias(f"bm{i}") for i in range(MINHASH_K)],
    )
    # plain column addition (JVM-side, no array/lambda needed)
    agree = F.lit(0)
    for i in range(MINHASH_K):
        agree = agree + (
            F.col(f"am{i}") == F.col(f"bm{i}")
        ).cast("int")
    m = (
        cands.join(sig_a, "a")
        .join(sig_b, "b")
        .select("a", "b", agree.alias("m"))
    )
    sizes = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = ds.select(F.col("doc_id").alias("a"), "sh")
    b_sh = ds.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        cands.join(a_sh, "a")
        .join(b_sh, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    exact = (
        cands.join(inter, ["a", "b"], "left")
        .fillna({"inter": 0})
        .join(sizes.withColumnRenamed("doc_id", "a"), "a")
        .join(
            sizes.withColumnRenamed("doc_id", "b").withColumnRenamed(
                "n", "nb"
            ),
            "b",
        )
        .withColumn(
            "exact16",
            F.expr(f"({MINHASH_K} * inter) div (n + nb - inter)"),
        )
        .select("a", "b", "exact16")
    )
    return (
        m.join(exact, ["a", "b"])
        .withColumn("err_bucket", F.col("m") - F.col("exact16"))
        .groupBy("err_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("err_bucket")
    )


QUERIES = {
    "ann_recall_ivf": ann_recall_ivf,
    "ann_probe_curve": ann_probe_curve,
    "nbq_confusion": nbq_confusion,
    "minhash_error_profile": minhash_error_profile,
}

# ---- DuckDB twins -------------------------------------------------
# Each twin WRAPS the measured operator's own oracle SQL as a CTE —
# the eval query's gate therefore re-runs the operator's full
# differential pipeline plus the eval aggregation on top.

_AGREE = " + ".join(
    f"CASE WHEN l.mh{i} = r.mh{i} THEN 1 ELSE 0 END"
    for i in range(MINHASH_K)
)

_PROBE_CASES = ", ".join(
    f"CAST(sum(CASE WHEN probe_rank <= {p} THEN 1 ELSE 0 END)"
    f" AS BIGINT) AS c{p}"
    for p in PROBE_GRID
)
_PROBE_UNION = " UNION ALL ".join(
    f"SELECT CAST({p} AS BIGINT) AS n_probe, c{p} AS covered, n_true"
    f" FROM wide"
    for p in PROBE_GRID
)

ORACLES = {
    "ann_probe_curve": f"""
        WITH {ivf._CENTS_CTES},
        scored AS ({ivf._SCORED}),
        assign AS ({ivf._ASSIGN}),
        brute AS ({similarity.ORACLES["sim_topk_bruteforce"]}),
        nb AS (
            SELECT vec_id AS neighbor_id, cid AS nb_cid
            FROM assign WHERE rn = 1
        ),
        ranked AS (
            SELECT vec_id AS query_id, cid, rn AS probe_rank
            FROM assign WHERE vec_id < {N_QUERIES}
        ),
        t AS (
            SELECT b.query_id, r.probe_rank
            FROM brute b
            JOIN nb ON nb.neighbor_id = b.neighbor_id
            JOIN ranked r
              ON r.query_id = b.query_id AND r.cid = nb.nb_cid
        ),
        wide AS (
            SELECT CAST(count(*) AS BIGINT) AS n_true, {_PROBE_CASES}
            FROM t
        ),
        curve AS ({_PROBE_UNION})
        SELECT n_probe, covered, n_true,
               {halfup_duck("covered * 100", "n_true", 2)} AS coverage_pct
        FROM curve ORDER BY n_probe
    """,
    "ann_recall_ivf": f"""
        WITH brute AS ({similarity.ORACLES["sim_topk_bruteforce"]}),
        approx AS ({ivf.ORACLES["sim_ivf_topk"]}),
        hits AS (
            SELECT b.query_id,
                   CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hits
            FROM brute b
            LEFT JOIN approx a
              ON a.query_id = b.query_id
             AND a.neighbor_id = b.neighbor_id
            GROUP BY b.query_id
        )
        SELECT query_id, n_hits,
               {halfup_duck("n_hits * 100", str(TOP_K), 2)} AS recall_pct
        FROM hits
        ORDER BY query_id
    """,
    "nbq_confusion": f"""
        WITH sel AS ({classifier.ORACLES["nbq_select"]}),
        cells AS (
            SELECT keep_rule, keep_nb, count(*) AS n_docs
            FROM sel GROUP BY 1, 2
        )
        SELECT keep_rule, keep_nb, n_docs,
               {halfup_duck("n_docs * 100",
                            "CAST(sum(n_docs) OVER () AS BIGINT)", 4)}
                   AS share_pct
        FROM cells
        ORDER BY keep_rule, keep_nb
    """,
    "minhash_error_profile": f"""
        WITH ds AS ({dedup._DS}),
        sigs AS (
            SELECT doc_id,
               {dedup._minhash_cols_duck()}
            FROM (SELECT doc_id, {dedup.hash64_duck("sh")} AS h64
                  FROM ds)
            GROUP BY doc_id
        ),
        banded AS (
            {dedup._bands_duck()}
        ),
        cands AS (
            SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.sig = r.sig
             AND l.doc_id < r.doc_id
        ),
        agree AS (
            SELECT c.a, c.b, {_AGREE} AS m
            FROM cands c
            JOIN sigs l ON l.doc_id = c.a
            JOIN sigs r ON r.doc_id = c.b
        ),
        sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
        inter AS (
            SELECT c.a, c.b, count(*) AS inter
            FROM cands c
            JOIN ds da ON da.doc_id = c.a
            JOIN ds db ON db.doc_id = c.b AND db.sh = da.sh
            GROUP BY c.a, c.b
        ),
        exact AS (
            SELECT c.a, c.b,
                   ({MINHASH_K} * coalesce(i.inter, 0))
                       // (sa.n + sb.n - coalesce(i.inter, 0))
                       AS exact16
            FROM cands c
            LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
            JOIN sizes sa ON sa.doc_id = c.a
            JOIN sizes sb ON sb.doc_id = c.b
        )
        SELECT CAST(g.m - e.exact16 AS BIGINT) AS err_bucket,
               count(*) AS n_pairs
        FROM agree g
        JOIN exact e ON e.a = g.a AND e.b = g.b
        GROUP BY 1
        ORDER BY err_bucket
    """,
}


# ----------------------------------------------- NB gains table

#: score-band lattice: log-odds clamped to [GAINS_LO, GAINS_HI) nats,
#: one band per nat — bounded output regardless of corpus size
GAINS_LO, GAINS_HI = -3, 3

#: shared-text band index over the integer micro-nat margin: clamp,
#: shift positive, then truncating integer division (Spark `div`
#: truncates, DuckDB `//` floors — equal ONLY on non-negative
#: operands, hence the shift)
_BAND = (
    f"CAST((least(greatest(CAST(round(log_odds * 1000000) AS BIGINT),"
    f" {GAINS_LO * 1_000_000}), {GAINS_HI * 1_000_000 - 1})"
    f" + {-GAINS_LO * 1_000_000}) {{div}} 1000000"
    f" + {GAINS_LO} AS BIGINT)"
)


def nbq_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table of the NB quality classifier against its
    weak rule label, by descending score band: per 1-nat log-odds
    band (clamped to [GAINS_LO, GAINS_HI)), the doc count, observed
    positive rate (the reliability-diagram y-axis), cumulative
    capture of all positives down to this band (the gains curve),
    and cumulative lift over the base rate. The top band capturing
    far more than its share is what justifies score-ordered
    selection; a non-monotone pos_rate column flags miscalibration.

    VALUE-bracketed bands, not ntile deciles, by design: an exact
    equal-frequency decile needs a corpus-wide total order (a
    single-partition window — the one shape this engine bans at
    100 TB), while value bands are a map-side projection over the
    served scores plus a <=|bands|-row cumulative window (the
    nbq_confusion discipline). Rides the SAME frozen persisted
    model and `score_docs` serving path as nbq_select/nbq_confusion,
    so the gate re-proves that whole pipeline; all displayed ratios
    are exact integer half-ups, and the integer micro-nat margin is
    recovered from the served log-odds by the shared-text
    round(x * 1e6) both engines apply to identical doubles."""
    sel = classifier.nbq_select(spark, sf_dir)
    bands = (
        sel.selectExpr(
            f"{_BAND.format(div='div')} AS band_lo",
            "CAST(keep_rule AS INT) AS pos",
        )
        .groupBy("band_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_pos"),
        )
    )
    w = (
        Window.partitionBy()
        .orderBy(F.desc("band_lo"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )  # <= |bands| rows at this point
    tot = Window.partitionBy()
    return (
        bands.withColumn("cum_docs", F.sum("n_docs").over(w))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .withColumn("tot_docs", F.sum("n_docs").over(tot))
        .withColumn("tot_pos", F.sum("n_pos").over(tot))
        .selectExpr(
            "band_lo",
            "n_docs",
            "n_pos",
            _hs("100 * n_pos", "n_docs", 4) + " AS pos_rate_pct",
            _hs("100 * cum_pos", "tot_pos", 4) + " AS cum_gain_pct",
            _hs("cum_pos * tot_docs", "cum_docs * tot_pos", 4)
            + " AS cum_lift",
        )
        .orderBy(F.desc("band_lo"))
    )


def _hs(num: str, den: str, digits: int) -> str:
    return halfup_ratio_sql(num, den, digits, engine="spark")


QUERIES["nbq_gains"] = nbq_gains

ORACLES["nbq_gains"] = f"""
    WITH sel AS ({classifier.ORACLES["nbq_select"]}),
    bands AS (
        SELECT {_BAND.format(div='//')} AS band_lo,
               count(*) AS n_docs,
               CAST(sum(CAST(keep_rule AS INT)) AS BIGINT) AS n_pos
        FROM sel GROUP BY 1
    ),
    cum AS (
        SELECT *,
               CAST(sum(n_docs) OVER (ORDER BY band_lo DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
               CAST(sum(n_pos) OVER (ORDER BY band_lo DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
               CAST(sum(n_docs) OVER () AS BIGINT) AS tot_docs,
               CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
        FROM bands
    )
    SELECT band_lo, n_docs, n_pos,
           {halfup_duck("100 * n_pos", "n_docs", 4)} AS pos_rate_pct,
           {halfup_duck("100 * cum_pos", "tot_pos", 4)} AS cum_gain_pct,
           {halfup_duck("cum_pos * tot_docs", "cum_docs * tot_pos", 4)}
               AS cum_lift
    FROM cum
    ORDER BY band_lo DESC
"""


# -------------------------------------------- cluster-label agreement

#: ln micro-nat quantizer (the divergence.py discipline)
_LBL_L = "CAST(round(ln(CAST({} AS DOUBLE)) * 1000000) AS BIGINT)"

#: Shannon entropy of the within-cluster label mix from integer
#: sums: H = (n*L(n) - sum f*L(f)) / (n * 1e6) nats, one shared-text
#: IEEE expression over exact integers
_LBL_ENTROPY = (
    "(CAST(n_vectors AS DOUBLE)"
    f" * CAST({_LBL_L.format('n_vectors')} AS DOUBLE)"
    " - CAST(sfl AS DOUBLE))"
    " / (CAST(n_vectors AS DOUBLE) * CAST(1000000 AS DOUBLE))"
)


def ivf_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation of the IVF index against the
    embeddings' ground-truth labels: per centroid the vector count,
    distinct labels, majority label (ties to the smaller label id),
    half-up purity %, and the label-mix Shannon entropy — the
    purity/entropy pair every clustering eval reports, over the SAME
    persisted assignment the ANN queries serve from.

    Entropy rides the ln-of-integer micro-nat discipline
    (divergence.py): each count's ln is quantized ONCE, the per-
    cluster sum is an exact integer, and the display is one shared-
    text IEEE expression — bit-stable cross-engine.

    Scale shape: the assignment fold is ivf's documented plan (one
    corpus projection against the broadcast centroid row); this
    query adds one (centroid x label)-bounded aggregate, a bounded
    argmax window, and a centroid-sized report. Headroom: sum
    f*L(f) <= n*ln(n)*1e6 — bigint-safe through ~10^11 vectors per
    cluster."""
    emb_n = ivf._with_norm(load(spark, sf_dir, "embeddings"))
    cents_row = ivf._centroid_row(
        ivf._index_centroids(spark, sf_dir, emb_n)
    )
    asg = ivf._assigned(emb_n, cents_row).select("vec_id", "centroid_id")
    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    fl = (
        asg.join(lab, "vec_id")
        .groupBy("centroid_id", "label")
        .agg(F.count(F.lit(1)).alias("f"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("f"), F.asc("label")
    )
    maj = (
        fl.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "centroid_id",
            F.col("label").alias("majority_label"),
            F.col("f").alias("n_majority"),
        )
    )
    per = fl.groupBy("centroid_id").agg(
        F.sum("f").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_labels"),
        F.expr(f"sum(f * {_LBL_L.format('f')})").alias("sfl"),
    )
    return (
        per.join(maj, "centroid_id")
        .selectExpr(
            "centroid_id",
            "n_vectors",
            "n_labels",
            "majority_label",
            "n_majority",
            f"{halfup_ratio_sql('100 * n_majority', 'n_vectors', 2, 'spark')}"
            " AS purity_pct",
            f"{_LBL_ENTROPY} AS label_entropy_nats",
        )
        .orderBy("centroid_id")
    )


QUERIES["ivf_label_purity"] = ivf_label_purity


def _label_purity_oracle() -> str:
    from .ivf import _ASSIGN, _CENTS_CTES, _SCORED

    return f"""
        WITH {_CENTS_CTES},
        scored AS ({_SCORED}),
        assign AS ({_ASSIGN}),
        fl AS (
            SELECT a.cid AS centroid_id, e.label,
                   CAST(count(*) AS BIGINT) AS f
            FROM (SELECT vec_id, cid FROM assign WHERE rn = 1) a
            JOIN embeddings e USING (vec_id)
            GROUP BY 1, 2
        ),
        maj AS (
            SELECT centroid_id, label AS majority_label,
                   f AS n_majority
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY centroid_id
                    ORDER BY f DESC, label ASC) AS rn
                FROM fl
            ) WHERE rn = 1
        ),
        per AS (
            SELECT centroid_id,
                   CAST(sum(f) AS BIGINT) AS n_vectors,
                   CAST(count(*) AS BIGINT) AS n_labels,
                   CAST(sum(f * {_LBL_L.format('f')}) AS BIGINT) AS sfl
            FROM fl GROUP BY centroid_id
        )
        SELECT p.centroid_id, p.n_vectors, p.n_labels,
               m.majority_label, m.n_majority,
               {halfup_ratio_sql('100 * m.n_majority', 'p.n_vectors', 2, 'duck')}
                   AS purity_pct,
               {_LBL_ENTROPY} AS label_entropy_nats
        FROM per p JOIN maj m USING (centroid_id)
        ORDER BY p.centroid_id
    """


ORACLES["ivf_label_purity"] = _label_purity_oracle()


# -------------------------------------------- sketch error audit

from .scale import GRID_QS as _GRID_QS  # noqa: E402 — section-local

_Q_ROWS = ", ".join(
    f"(CAST({q} AS DOUBLE), {round(q * 1_000_000)})" for q in _GRID_QS
)


def quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the grid-histogram quantile sketch against
    the EXACT rank-based quantile (the ceil(q*n)-th smallest value,
    computed from the integer-cents value histogram — never a global
    sort): per (event_type, q) both values, the signed error, and
    whether the sketch's one-bucket-width guarantee held. This
    registers `grid_quantiles`' documented error bound as
    driver-graded evidence, the eval-harness treatment
    ann_recall_ivf gave the ANN index.

    Scale shape: the sketch side is scale_grid_quantiles' documented
    plan (1024 counters per key); the exact side is the cents-domain
    histogram + a cumulative window over DISTINCT values per type
    (the robust_outliers order-statistic idiom — state bounded by
    the value domain, not row count); the audit join is
    (|types| x |qs|)-sized."""
    from .scale import GRID_BUCKETS, GRID_HI, GRID_LO, grid_value_quantiles

    grid = grid_value_quantiles(spark, sf_dir).select(
        "event_type", "q", F.col("value").alias("grid_value")
    )
    hist = (
        load(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cum = hist.select(
        "event_type",
        "cents",
        F.expr(
            "sum(c) OVER (PARTITION BY event_type ORDER BY cents)"
        ).alias("cm"),
        F.expr("sum(c) OVER (PARTITION BY event_type)").alias("n"),
    )
    qs = spark.sql(
        f"SELECT q, qn FROM (VALUES {_Q_ROWS}) AS t(q, qn)"
    )
    exact = (
        cum.join(F.broadcast(qs))
        .where(F.expr("cm >= (n * qn + 999999) div 1000000"))
        .groupBy("event_type", "q")
        .agg(F.min("cents").alias("exact_cents"))
        .selectExpr(
            "event_type",
            "q",
            "CAST(exact_cents AS DOUBLE)"
            " / CAST(100 AS DOUBLE) AS exact_value",
        )
    )
    width = (GRID_HI - GRID_LO) / GRID_BUCKETS
    return (
        grid.join(exact, ["event_type", "q"])
        .selectExpr(
            "event_type",
            "q",
            "grid_value",
            "exact_value",
            "grid_value - exact_value AS err",
            f"abs(grid_value - exact_value)"
            f" <= CAST({width} AS DOUBLE) AS within_bound",
        )
        .orderBy("event_type", "q")
    )


QUERIES["quantile_error_audit"] = quantile_error_audit


def _quantile_audit_oracle() -> str:
    from .scale import GRID_BUCKETS, GRID_HI, GRID_LO
    from .scale import ORACLES as _scale_oracles

    width = (GRID_HI - GRID_LO) / GRID_BUCKETS
    return f"""
        WITH grid AS ({_scale_oracles["scale_grid_quantiles"]}),
        hist AS (
            SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   count(*) AS c
            FROM events GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, cents,
                   sum(c) OVER (PARTITION BY event_type
                                ORDER BY cents) AS cm,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM hist
        ),
        qs(q, qn) AS (VALUES {_Q_ROWS}),
        exact AS (
            SELECT event_type, q,
                   CAST(min(cents) AS DOUBLE)
                       / CAST(100 AS DOUBLE) AS exact_value
            FROM cum JOIN qs
              ON cm >= (n * qn + 999999) // 1000000
            GROUP BY event_type, q
        )
        SELECT g.event_type, g.q,
               g.value AS grid_value,
               e.exact_value,
               g.value - e.exact_value AS err,
               abs(g.value - e.exact_value)
                   <= CAST({width} AS DOUBLE) AS within_bound
        FROM grid g
        JOIN exact e ON e.event_type = g.event_type AND e.q = g.q
        ORDER BY g.event_type, g.q
    """


ORACLES["quantile_error_audit"] = _quantile_audit_oracle()
