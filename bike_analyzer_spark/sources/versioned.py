"""Versioned tables — snapshot isolation + time travel over plain
parquet, the public Delta/Iceberg log idea reduced to its load-
bearing core: data files are IMMUTABLE once written, and the only
mutable thing is a tiny manifest updated with one atomic
`os.replace`.

Layout:

    table_dir/
      v00001/ ... parquet (never rewritten)
      v00002/ ...
      _MANIFEST.json    {"latest": 2, "versions": {"1": {...}, ...}}

Commit protocol: write the new snapshot under the NEXT version dir,
then atomically replace the manifest. A crash before the manifest
lands leaves an orphan directory that readers can never see (the
next commit overwrites it). Readers resolve a version from the
manifest once and then scan immutable files — so unlike the
`.staging` two-rename swap (`sinks._swap_staging`, which mutates the
live path and needs a recovery routine), a long scan can NEVER be
truncated by a concurrent commit: that's snapshot isolation, and old
snapshots stay queryable (time travel) until `vacuum` retires them.

At 100 TB the manifest would also carry per-file stats (see
`sources/skipping.py` — `build_stats` composes: point it at a
version dir) and commits would be appends of changed files rather
than full snapshots; the protocol — immutable data, atomic tiny
metadata — is the same one Delta's `_delta_log` implements.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_MANIFEST.json"


def _manifest_path(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST)


def _read_manifest(table_dir: str) -> dict:
    try:
        with open(_manifest_path(table_dir)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {"latest": 0, "versions": {}}


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v{version:05d}")


def latest_version(table_dir: str) -> int:
    """0 when the table does not exist yet."""
    return _read_manifest(table_dir)["latest"]


def commit(df: DataFrame, table_dir: str) -> int:
    """Write df as the next snapshot and publish it atomically.
    Returns the new version number. A crashed prior commit's orphan
    directory (data written, manifest never updated) is silently
    overwritten — it was never visible."""
    os.makedirs(table_dir, exist_ok=True)
    m = _read_manifest(table_dir)
    version = m["latest"] + 1
    vdir = _version_dir(table_dir, version)
    if os.path.exists(vdir):  # orphan of a crashed commit
        shutil.rmtree(vdir)
    # the row count is observed during the write, not re-read after it
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(vdir)
    m["versions"][str(version)] = {"n_rows": obs.get["n"]}
    m["latest"] = version
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(table_dir))  # the atomic publish
    return version


def read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table at `version` (default: latest). Raises KeyError for
    a version that never committed or was vacuumed."""
    m = _read_manifest(table_dir)
    v = m["latest"] if version is None else version
    if str(v) not in m["versions"]:
        raise KeyError(
            f"version {v} not available; history: {sorted(m['versions'])}"
        )
    # a rollback version aliases an older version's directory
    d = m["versions"][str(v)].get("dir", f"v{v:05d}")
    return spark.read.parquet(os.path.join(table_dir, d))


def commit_upsert(
    new: DataFrame, table_dir: str, key_cols: list[str], order_col: str
) -> int:
    """MERGE into the versioned store: union the incoming rows with
    the latest snapshot, keep the newest row per key (same newer-wins
    contract as `sinks.merge_upsert`), and publish as a NEW version —
    so unlike the in-place swap sink, every pre-merge state stays
    queryable (audit / rollback / reproducible-training-set reads)."""
    from .sinks import keep_latest

    spark = new.sparkSession
    if latest_version(table_dir) > 0:
        merged = keep_latest(
            new.unionByName(read(spark, table_dir)), key_cols, order_col
        )
    else:
        merged = keep_latest(new, key_cols, order_col)
    return commit(merged, table_dir)


def history(table_dir: str) -> list[dict]:
    """Commit history, oldest first: [{version, n_rows}, ...]."""
    m = _read_manifest(table_dir)
    return [
        {"version": int(v), **info}
        for v, info in sorted(
            m["versions"].items(), key=lambda kv: int(kv[0])
        )
    ]


def rollback(table_dir: str, to_version: int) -> int:
    """Publish an old snapshot as the NEW latest — metadata-only (no
    data copy: the new version entry points at the old version's
    immutable directory, the Delta RESTORE move). History keeps
    growing monotonically, so the bad versions stay auditable."""
    m = _read_manifest(table_dir)
    if str(to_version) not in m["versions"]:
        raise KeyError(f"version {to_version} not available")
    src = m["versions"][str(to_version)]
    version = m["latest"] + 1
    m["versions"][str(version)] = {
        "n_rows": src["n_rows"],
        # resolve through an existing alias so chains stay one hop
        "dir": src.get("dir", f"v{to_version:05d}"),
    }
    m["latest"] = version
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(table_dir))
    return version


def diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change-data-capture between two snapshots: one row per changed
    key with change ∈ {insert, delete, update}. Computed as a
    full-outer join on the keys with a row-digest comparison — one
    shuffle on the key, no row-at-a-time work; the digest is
    md5(to_json(struct(non-key columns))) with explicit nulls — an
    UNAMBIGUOUS encoding: a plain separator-joined concat collides
    ('x',NULL) with (NULL,'x') and NULL with '' because concat_ws
    SKIPS nulls, silently missing those updates (round-7 ADVICE);
    to_json delimits every field and keeps nulls distinct from
    empty strings. Incremental consumers replay `diff(latest-1, latest)`
    instead of re-reading the snapshot."""

    def digested(v: int) -> DataFrame:
        df = read(spark, table_dir, v)
        others = [c for c in df.columns if c not in key_cols]
        return df.select(
            *key_cols,
            F.md5(
                F.to_json(
                    F.struct(*[F.col(c) for c in others]),
                    {"ignoreNullFields": "false"},
                )
            ).alias("_digest"),
        )

    a = digested(v_from).withColumnRenamed("_digest", "_d_from")
    b = digested(v_to).withColumnRenamed("_digest", "_d_to")
    joined = a.join(b, key_cols, "full_outer")
    return joined.select(
        *key_cols,
        F.when(F.col("_d_from").isNull(), F.lit("insert"))
        .when(F.col("_d_to").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change"),
    ).filter(
        F.col("_d_from").isNull()
        | F.col("_d_to").isNull()
        | (F.col("_d_from") != F.col("_d_to"))
    )


def vacuum(table_dir: str, keep_last: int = 1) -> list[int]:
    """Retire all but the newest `keep_last` versions: drop them from
    the manifest FIRST (atomic — readers resolving afterwards can't
    pick a dying version), then delete their directories. Returns the
    retired version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    m = _read_manifest(table_dir)
    versions = sorted(int(v) for v in m["versions"])
    retire = versions[:-keep_last]
    if not retire:
        return []

    def _dir_of(v: int) -> str:
        return m["versions"][str(v)].get("dir", f"v{v:05d}")

    dead_dirs = {_dir_of(v) for v in retire}
    for v in retire:
        del m["versions"][str(v)]
    # a rollback alias may keep an old directory live — never delete
    # a directory a surviving version still points at
    live_dirs = {_dir_of(v) for v in (int(x) for x in m["versions"])}
    tmp = _manifest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, _manifest_path(table_dir))
    for d in dead_dirs - live_dirs:
        shutil.rmtree(os.path.join(table_dir, d), ignore_errors=True)
    return retire


def merge_into(
    source: DataFrame,
    table_dir: str,
    key_cols: list[str],
    update_set: dict[str, str] | None = None,
    delete_condition: str | None = None,
    insert: bool = True,
    insert_condition: str | None = None,
) -> int:
    """Full conditional MERGE (the Delta `MERGE INTO` statement) on
    the versioned store, publishing the result as a NEW version:

      WHEN MATCHED [AND delete_condition] THEN DELETE
      WHEN MATCHED THEN UPDATE SET update_set
      WHEN NOT MATCHED [AND insert_condition] THEN INSERT

    Clause expressions are SQL strings over `t_<col>` (target) and
    `s_<col>` (source) — e.g. `{"balance": "t_balance + s_delta"}`.
    Delete is tested before update (Delta's clause-order contract for
    one condition-bearing clause of each kind); matched rows hit by
    neither clause carry the target row through unchanged; unmatched
    target rows always survive.

    Like Delta, a source with DUPLICATE merge keys is an ERROR (two
    sources updating one target row is nondeterministic) — checked
    with one aggregate before any write.

    Scale shape: ONE full-outer join on the merge key (same shuffle
    a MERGE pays anywhere), one projection applying the clauses, one
    commit. The pre-merge snapshot stays queryable (time travel /
    rollback), which in-place MERGE implementations give up.
    """
    spark = source.sparkSession

    dup = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "MERGE source has duplicate keys on "
            f"{key_cols} — resolve (aggregate or keep-latest) first"
        )
    target = read(spark, table_dir)
    cols = target.columns
    t = target.select(
        *key_cols,
        *[
            F.col(c).alias(f"t_{c}")
            for c in cols
            if c not in key_cols
        ],
        F.lit(True).alias("_in_t"),
    )
    s = source.select(
        *key_cols,
        *[
            F.col(c).alias(f"s_{c}")
            for c in source.columns
            if c not in key_cols
        ],
        F.lit(True).alias("_in_s"),
    )
    j = t.join(s, key_cols, "full_outer")
    matched = F.col("_in_t").isNotNull() & F.col("_in_s").isNotNull()
    deleted = (
        matched & F.expr(delete_condition)
        if delete_condition
        else F.lit(False)
    )
    inserted = F.col("_in_t").isNull() & (
        F.expr(insert_condition) if insert_condition else F.lit(True)
    )
    if not insert:
        inserted = F.lit(False)
    out_cols = []
    for c in cols:
        if c in key_cols:
            out_cols.append(F.col(c))
            continue
        updated = (
            F.expr(update_set[c])
            if update_set and c in update_set
            else F.col(f"t_{c}")
        )
        out_cols.append(
            F.when(matched, updated)
            .when(F.col("_in_t").isNotNull(), F.col(f"t_{c}"))
            .otherwise(F.col(f"s_{c}"))
            .alias(c)
        )
    keep = (matched & ~deleted) | (
        F.col("_in_t").isNotNull() & F.col("_in_s").isNull()
    ) | inserted
    return commit(j.where(keep).select(*out_cols), table_dir)
