"""Checkpoint recovery for the streaming session-window query (SURVEY
§2.9): kill the replay mid-stream, restart from the same checkpoint,
and require the union of emitted outputs to be EXACTLY the batch
result — no lost sessions (state-store recovery) and no duplicates
(exactly-once across restarts).

The kill is deterministic: phase 1 lands only the first half of the
files and drains availableNow (the query then terminates — equivalent
to a crash after a clean micro-batch commit, which is the strongest
guarantee Structured Streaming makes); phase 2 lands the rest and
restarts with the same checkpoint. Sessions whose events straddle the
phase boundary can only be correct if the open-session state survived
the restart, so parity here proves real state recovery, not just
file-list dedup. A third, input-free restart must emit nothing.
"""

import datetime as dt
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from bike_analyzer_spark.operators.asof import session_window_agg
from bike_analyzer_spark.sources.catalog import load
from bike_analyzer_spark.streaming import sessions as ssn
from bike_analyzer_spark.streaming.drain import file_stream

SF_DIR = "/root/testdata/sf0.001"
SENTINEL_USER = -1


@pytest.fixture()
def tdir():
    d = f"/root/repo/.pytest_cache/recov-{uuid.uuid4().hex[:8]}"
    os.makedirs(d, exist_ok=True)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def staged(spark, tdir):
    """sf0.001 events split into 4 chronological single-file parts
    (3 real tertiles + a far-future sentinel that drags the watermark
    past every real session), staged OUTSIDE the landing dir so the
    test controls when each one 'arrives'."""
    ev = load(spark, SF_DIR, "events").select("user_id", "ts", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    cut1 = lo + (hi - lo) / 3
    cut2 = lo + 2 * (hi - lo) / 3
    parts = [
        ev.filter(F.col("ts") < F.lit(cut1)),
        ev.filter((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2))),
        ev.filter(F.col("ts") >= F.lit(cut2)),
        spark.createDataFrame(
            [(SENTINEL_USER, hi + dt.timedelta(days=10), 0.0)],
            schema=ev.schema,
        ),
    ]
    files = []
    for i, p in enumerate(parts):
        staging = os.path.join(tdir, f"stage{i}")
        p.coalesce(1).write.mode("overwrite").parquet(staging)
        part_file = next(
            f for f in os.listdir(staging) if f.endswith(".parquet")
        )
        files.append(os.path.join(staging, part_file))
    return files, ev.schema


def _land(tdir, files, idx):
    ldir = os.path.join(tdir, "landing")
    os.makedirs(ldir, exist_ok=True)
    for i in idx:
        dst = os.path.join(ldir, f"{i:02d}.parquet")
        shutil.copy(files[i], dst)
        t = time.time() - 1000 + i * 10  # replay in file order
        os.utime(dst, (t, t))
    return ldir


def _drain(spark, ldir, schema, out, ckpt):
    ssn.run_sessions_to_parquet(
        ssn.session_stream(file_stream(spark, schema, ldir)),
        out,
        ckpt,
    )
    return spark.read.parquet(out).collect()


def test_kill_and_resume_is_exactly_once(spark, tdir, staged):
    files, schema = staged
    out = os.path.join(tdir, "out")
    ckpt = os.path.join(tdir, "ckpt")

    # phase 1: only the first two tertiles exist; drain, then "crash"
    # (availableNow terminates after the last committed micro-batch)
    ldir = _land(tdir, files, [0, 1])
    rows1 = _drain(spark, ldir, schema, out, ckpt)

    # phase 2: the rest arrives; RESTART from the same checkpoint
    _land(tdir, files, [2, 3])
    rows2 = _drain(spark, ldir, schema, out, ckpt)

    got = [tuple(r) for r in rows2 if r.user_id != SENTINEL_USER]
    # exactly-once: nothing emitted twice across the restart
    assert len(got) == len(set(got))
    # phase 1's emissions are a subset that survived verbatim
    assert {tuple(r) for r in rows1} <= set(got) | {
        tuple(r) for r in rows2 if r.user_id == SENTINEL_USER
    }

    # parity: the recovered stream equals the one-shot batch over all
    # files — only possible if open-session state crossed the restart
    batch = {
        tuple(r)
        for r in session_window_agg(
            spark.read.schema(schema).parquet(ldir)
        )
        .filter(F.col("user_id") != SENTINEL_USER)
        .collect()
    }
    assert set(got) == batch

    # boundary sessions actually exist (else this test proves nothing):
    # at least one emitted session must span events from both phases
    cut_us = (
        spark.read.parquet(files[1])
        .agg(F.unix_micros(F.max("ts")))
        .first()[0]
    )
    phase1_starts = {
        (r.user_id, r.start_us) for r in rows1
    }
    spanning = [
        r
        for r in rows2
        if r.user_id != SENTINEL_USER
        and r.start_us <= cut_us
        and (r.user_id, r.start_us) not in phase1_starts
    ]
    assert spanning, "no session straddled the restart boundary"

    # phase 3: restart with no new input -> nothing new, output stable
    rows3 = _drain(spark, ldir, schema, out, ckpt)
    assert sorted(map(tuple, rows3)) == sorted(map(tuple, rows2))
