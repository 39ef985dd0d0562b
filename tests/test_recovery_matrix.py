"""Kill-and-replay recovery matrix — ONE parametrized exactly-once
proof over EVERY streaming writer (the deep per-surface behavior
tests live next to each surface, and the session-window
state-recovery test keeps its own boundary-session pins in
test_streaming_recovery.py).

Protocol per surface, with deterministic micro-batch order (one file
per trigger, arrival order pinned via mtimes):

  split run : land the first half of the shards, drain (availableNow
              terminates after the last committed micro-batch — the
              strongest crash Structured Streaming recovers from),
              land the rest, RESTART from the same checkpoint and
              drain again. Per-batch writers (`PER_BATCH`) also lose
              their newest commit record before the restart: the
              crash window after the sink wrote a batch and before
              the checkpoint committed it, so that batch re-runs;
  one-shot  : land everything up front into a fresh landing dir and
              drain once with a fresh checkpoint.

The final tables must be byte-equal (sorted-row tuples over all
columns). That single assertion covers the whole recovery contract:
no committed batch replays and no replayed batch duplicates its
output, no landed shard is lost (state store + file-source log
restore), watermarks resume from the checkpoint (outer-join null
emission and window finalization happen at the same batch
positions), and batch-id-addressed stores land the same partitions —
because the restart continues batch numbering where the first run
stopped.
"""

from __future__ import annotations

import datetime as dt
import os
import pathlib
import re
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.sources import gbfs
from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import (
    annserve,
    corpus,
    driftserve,
    gapfillstream,
    hllserve,
    ingest,
    joins,
    lateaudit,
    qualityserve,
    rollupserve,
    sessions as ssn,
    stateful,
    topk,
)
from bike_analyzer_spark.streaming.drain import drain
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/rmx-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- #
# landing stagers: N single-file shards in deterministic order       #
# ---------------------------------------------------------------- #


def _stage_frames(frames, tdir):
    files = []
    for i, p in enumerate(frames):
        staging = os.path.join(tdir, f"stage{i}")
        p.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        files.append(os.path.join(staging, part))
    return files


def _stage_events(spark, tdir):
    """sf0.001 events as 4 chronological shards (full schema)."""
    ev = load(spark, SF_DIR_SMOKE, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    mid = ev.filter(
        (F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2))
    )
    mid_cut = lo + (hi - lo) / 2
    return _stage_frames(
        [
            ev.filter(F.col("ts") < F.lit(cut1)),
            mid.filter(F.col("ts") < F.lit(mid_cut)),
            mid.filter(F.col("ts") >= F.lit(mid_cut)),
            ev.filter(F.col("ts") >= F.lit(cut2)),
        ],
        tdir,
    )


def _stage_status(spark, tdir):
    """6 synthetic GBFS status snapshots, values crossing shard
    boundaries so LOCF / lag / EWMA state must survive the restart."""
    t0 = dt.datetime(2025, 9, 4, 15, 0, 0)
    bikes = {"s1": [4, 9, 2, 2, 30, 5], "s2": [7, 7, 11, 3, 3, 3]}
    frames = []
    for i in range(6):
        ss = {
            "data": {
                "stations": [
                    {"station_id": s, "num_bikes_available": v[i]}
                    for s, v in bikes.items()
                ]
            }
        }
        frames.append(
            gbfs.status_df(spark, ss, t0 + dt.timedelta(minutes=17 * i))
        )
    return _stage_frames(frames, tdir)


def _stage_documents(spark, tdir):
    docs = load(spark, SF_DIR_SMOKE, "documents")
    n = docs.count()
    cuts = [0, n // 4, n // 2, 3 * n // 4, n + 1]
    return _stage_frames(
        [
            docs.filter(
                (F.col("doc_id") >= cuts[i])
                & (F.col("doc_id") < cuts[i + 1])
            )
            for i in range(4)
        ],
        tdir,
    )


def _stage_ann_queries(spark, tdir):
    """4 request shards: scaled copies of corpus vectors, fresh ids."""
    base = (
        load(spark, SF_DIR_SMOKE, "embeddings")
        .orderBy("vec_id")
        .limit(12)
        .collect()
    )
    frames = [
        spark.createDataFrame(
            [
                (
                    10_000 + s * 3 + i,
                    [x * 1.001 for x in base[s * 3 + i].embedding],
                )
                for i in range(3)
            ],
            annserve.QUERY_SCHEMA,
        )
        for s in range(4)
    ]
    return _stage_frames(frames, tdir)


_STAGERS = {
    "events": _stage_events,
    "status": _stage_status,
    "documents": _stage_documents,
    "ann_queries": _stage_ann_queries,
}


def _land(tdir, files, idx, ldir_name):
    ldir = os.path.join(tdir, ldir_name)
    os.makedirs(ldir, exist_ok=True)
    for i in idx:
        dst = os.path.join(ldir, f"{i:02d}.parquet")
        shutil.copy(files[i], dst)
        t = time.time() - 1000 + 10 * i  # arrival order = shard order
        os.utime(dst, (t, t))
    return ldir


# ---------------------------------------------------------------- #
# the writers                                                        #
# ---------------------------------------------------------------- #


def _append_runner(stream_fn):
    """Durable writer for the transformation-style surfaces (they all
    emit in append mode)."""

    def run(spark, ldir, out, ckpt):
        drain(stream_fn(spark, ldir), path=out, checkpoint=ckpt)

    return run


SURFACES = {
    # (landing kind, run(spark, ldir, out, ckpt))
    "session_windows": (
        "events",
        lambda spark, ldir, out, ckpt: ssn.run_sessions_to_parquet(
            ssn.session_stream(joins.events_stream(spark, ldir)),
            out,
            ckpt,
        ),
    ),
    "hour_rollup": (
        "events",
        lambda spark, ldir, out, ckpt: rollupserve.run_rollup_to_parquet(
            spark, ldir, out, ckpt
        ),
    ),
    "psi_drift": (
        "events",
        lambda spark, ldir, out, ckpt: driftserve.run_drift_to_parquet(
            spark, SF_DIR_SMOKE, ldir, out, ckpt
        ),
    ),
    "hll_registers": (
        "events",
        lambda spark, ldir, out, ckpt: hllserve.run_hll_to_parquet(
            spark, ldir, out, ckpt
        ),
    ),
    "late_audit": (
        "events",
        lambda spark, ldir, out, ckpt: lateaudit.run_late_audit_to_parquet(
            spark, ldir, out, ckpt
        ),
    ),
    "heavy_hitters": (
        "events",
        _append_runner(
            lambda spark, ldir: topk.streaming_heavy_hitters(
                joins.events_stream(spark, ldir)
            )
        ),
    ),
    "stream_join_inner": (
        "events",
        _append_runner(
            lambda spark, ldir: joins.conversion_join(
                joins.events_stream(spark, ldir)
            )
        ),
    ),
    "stream_join_full_outer": (
        "events",
        _append_runner(
            lambda spark, ldir: joins.conversion_join_full_outer(
                joins.events_stream(spark, ldir)
            )
        ),
    ),
    "windowed_avg": (
        "status",
        _append_runner(
            lambda spark, ldir: ingest.windowed_avg(
                ingest.status_stream(spark, ldir)
            )
        ),
    ),
    "dedup_within_watermark": (
        "status",
        _append_runner(
            lambda spark, ldir: ingest.dedup_stream(
                ingest.status_stream(spark, ldir)
            )
        ),
    ),
    "upsert_keep_latest": (
        "status",
        lambda spark, ldir, out, ckpt: ingest.foreach_batch_upsert(
            spark, ingest.status_stream(spark, ldir), out, ckpt
        ),
    ),
    "lag_delta": (
        "status",
        _append_runner(
            lambda spark, ldir: stateful.stateful_lag_delta(
                ingest.status_stream(spark, ldir)
            )
        ),
    ),
    "ewma_anomaly": (
        "status",
        _append_runner(
            lambda spark, ldir: stateful.stateful_anomaly(
                ingest.status_stream(spark, ldir)
            )
        ),
    ),
    "locf_gapfill": (
        "status",
        _append_runner(
            lambda spark, ldir: gapfillstream.streaming_gapfill(
                ingest.status_stream(spark, ldir)
            )
        ),
    ),
    "quality_scores": (
        "documents",
        lambda spark, ldir, out, ckpt: qualityserve.run_score_to_parquet(
            spark, SF_DIR_SMOKE, ldir, out, ckpt
        ),
    ),
    "corpus_gate_append": (
        "documents",
        lambda spark, ldir, out, ckpt: corpus.run_gate_to_parquet(
            corpus.scrubbed_and_gated(corpus.document_stream(spark, ldir)),
            out,
            ckpt,
        ),
    ),
    "corpus_dedup_store": (
        "documents",
        lambda spark, ldir, out, ckpt: corpus.run_gate_dedup_to_store(
            spark,
            corpus.scrubbed_and_gated(corpus.document_stream(spark, ldir)),
            out,
            ckpt,
        ),
    ),
    "ann_topk_serve": (
        "ann_queries",
        lambda spark, ldir, out, ckpt: annserve.run_topk_to_parquet(
            spark, SF_DIR_SMOKE, ldir, out, ckpt
        ),
    ),
    "ann_index_ingest": (
        "ann_queries",
        lambda spark, ldir, out, ckpt: annserve.run_index_ingest(
            spark, SF_DIR_SMOKE, ldir, out, ckpt
        ),
    ),
}


#: the foreachBatch surfaces: at-least-once, so they must absorb a
#: re-run of their newest batch
PER_BATCH = {
    "ann_index_ingest",
    "ann_topk_serve",
    "corpus_dedup_store",
    "hll_registers",
    "hour_rollup",
    "late_audit",
    "psi_drift",
    "quality_scores",
    "upsert_keep_latest",
}


def _read_sorted(spark, out):
    # repr key: total order even when outer-join nulls make tuples
    # incomparable (None < int raises); equal multisets sort to equal
    # lists because identical rows get identical keys
    return sorted(
        map(tuple, spark.read.parquet(out).collect()), key=repr
    )


@pytest.mark.parametrize("surface", sorted(SURFACES))
def test_kill_and_replay_is_byte_equal(spark, tdir, surface):
    kind, run = SURFACES[surface]
    files = _STAGERS[kind](spark, tdir)
    half = len(files) // 2

    # split run: crash after the first half, restart, finish
    out_a = os.path.join(tdir, "out_a")
    ckpt_a = os.path.join(tdir, "ckpt_a")
    ldir_a = _land(tdir, files, range(half), "land_a")
    run(spark, ldir_a, out_a, ckpt_a)
    if surface in PER_BATCH:
        # crash window: the newest batch wrote but never committed
        commits = os.path.join(ckpt_a, "commits")
        newest = max(
            (f for f in os.listdir(commits) if f.isdigit()), key=int
        )
        for f in (newest, f".{newest}.crc"):
            pathlib.Path(commits, f).unlink(missing_ok=True)
    _land(tdir, files, range(half, len(files)), "land_a")
    run(spark, ldir_a, out_a, ckpt_a)

    # one-shot run: everything lands before the first trigger
    out_b = os.path.join(tdir, "out_b")
    ckpt_b = os.path.join(tdir, "ckpt_b")
    ldir_b = _land(tdir, files, range(len(files)), "land_b")
    run(spark, ldir_b, out_b, ckpt_b)

    got_a = _read_sorted(spark, out_a)
    got_b = _read_sorted(spark, out_b)
    assert got_a, f"{surface}: recovery run produced no rows"
    assert got_a == got_b, (
        f"{surface}: kill-and-replay table differs from one-shot "
        f"({len(got_a)} vs {len(got_b)} rows)"
    )


def test_streams_are_read_and_drained_only_in_drain_module():
    """One module owns how a stream is read, drained and landed, so a
    new surface inherits the exactly-once landing rule instead of
    copying it."""
    pkg = pathlib.Path(ssn.__file__).parents[1]
    users = {
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if re.search(r"readStream|availableNow|foreachBatch", p.read_text())
    }
    assert users == {"streaming/drain.py"}, users
