"""Corpus-wide timing CLI: per-query p50 wall time of every registered
query, each forced end to end through the `noop` sink (session start
excluded), plus one rep per query at a secondary scale factor.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR            (default /root/testdata/sf0.1)
       SPARK_GRAFT_SF_DIR_SECONDARY  (default /root/testdata/sf0.01;
                                      "" disables the secondary pass)
       SPARK_GRAFT_CPUS              (default 32)
       SPARK_GRAFT_BENCH_REPS        (default 3)

Per-query detail goes on the second-to-last stdout line and into the
untracked sidecar BENCH_DETAIL.tmp.c{SPARK_GRAFT_CPUS}.json; the LAST
line is a compact JSON summary, so a fixed-size stdout tail always
holds it whole. The benchmark of record is `python3 perfbench/run.py`.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF_DIR_SECONDARY = os.environ.get(
    "SPARK_GRAFT_SF_DIR_SECONDARY", "/root/testdata/sf0.01"
)
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _cpu_jiffies() -> "tuple[int, int] | None":
    """(steal, total) jiffies from /proc/stat, or None off-Linux.

    Steal is what loadavg cannot see: on a VM whose host runs other
    tenants hot, the hypervisor withholds vCPUs and a run that starts
    at a low loadavg can still be inflated. The summary records the
    run's steal share."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _free_leaked_blocks(spark) -> None:
    """Unpersist every lingering persistent RDD (localCheckpoint
    blocks) and cached relation.

    The operators use `localCheckpoint` for multi-consumer reuse and
    lineage truncation INSIDE one query; the blocks are only freed
    when Python GC, py4j and the JVM ContextCleaner all happen to
    run, which over a 230-query x 4-pass bench they effectively never
    do. Measured r12 (OPTIMIZATION_r12.md): by the late alphabet the
    accumulated blocks had the block manager squeezing execution
    memory hard enough that queries ran ~2x their fresh-JVM time
    (integrity_audit 3.93 s in-run vs 1.77 s fresh). Freeing between
    queries (outside every timed region) measures each query on the
    clean block manager it would see in isolation — a measurement-
    hygiene fix per the optimization guide §5 ("unpersist when
    done"), not a change to any query's timed work.

    BLOCKING on purpose: unpersist(blocking=False) only *schedules*
    block removal, and the removal work then lands inside the NEXT
    query's timed window. Measured on the sim_* alphabetical run at
    sf0.1 (3 reps each, same host, minutes apart): async cleanup
    timed sim_pq_topk at [17.9, 5.8, 3.8] s and sim_sparse_cosine at
    [9.5, 4.5, 4.8] s; blocking cleanup timed the same queries at
    [1.8, 1.2, 1.2] s and [4.1, 3.3, 2.9] s. The wait happens here,
    between reps, outside every timed region.
    """
    spark.catalog.clearCache()
    # py4j surfaces the java Map as a dict view
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _run_corpus(
    spark, qs, sf_dir: str, reps: int
) -> tuple[dict[str, float], dict[str, str]]:
    """p50-of-reps wall time per query at one scale factor."""
    # Warm the JVM + parquet footers once so per-query times measure
    # the queries, not first-touch costs.
    spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in sorted(qs.items()):
        samples: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            except Exception as e:  # one bad query must not kill the number
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                break
            finally:
                _free_leaked_blocks(spark)
        if samples:
            timings[name] = round(statistics.median(samples), 3)
    return timings, errors


def main() -> int:
    from bike_analyzer_spark.session import get_spark

    import __spark_entry__ as entry_mod

    # Provenance: a loaded machine inflates per-query numbers, so the
    # summary records the 1-min load and the steal share of the run.
    load_start = round(os.getloadavg()[0], 2)
    jiffies_start = _cpu_jiffies()

    spark = get_spark(app_name="bike-analyzer-spark-bench")
    qs = entry_mod.queries()

    timings, errors = _run_corpus(spark, qs, SF_DIR, REPS)
    detail = {
        "kind": "bench_detail",
        "sf": _sf_from_dir(SF_DIR),
        "queries": timings,
    }
    if errors:
        detail["errors"] = errors

    summary = {
        "metric": "query_corpus_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(timings),
        "n_errors": len(errors),
        "reps": REPS,
        "stat": "p50",
        "clean": load_start < 4.0,
        "loadavg_start": load_start,
    }

    if (
        SF_DIR_SECONDARY
        and os.path.isdir(SF_DIR_SECONDARY)
        and os.path.realpath(SF_DIR_SECONDARY) != os.path.realpath(SF_DIR)
    ):
        sec_timings, sec_errors = _run_corpus(spark, qs, SF_DIR_SECONDARY, 1)
        detail["secondary"] = {
            "sf": _sf_from_dir(SF_DIR_SECONDARY),
            "value": round(sum(sec_timings.values()), 3),
            "queries": sec_timings,
            "reps": 1,
        }
        if sec_errors:
            detail["secondary"]["errors"] = sec_errors
        summary["secondary_value"] = detail["secondary"]["value"]
        summary["secondary_sf"] = detail["secondary"]["sf"]

    summary["loadavg_end"] = round(os.getloadavg()[0], 2)
    jiffies_end = _cpu_jiffies()
    if jiffies_start and jiffies_end:
        dsteal = jiffies_end[0] - jiffies_start[0]
        dtotal = jiffies_end[1] - jiffies_start[1]
        if dtotal > 0:
            summary["steal_pct"] = round(100.0 * dsteal / dtotal, 2)
    # A smaller secondary SF that came out SLOWER than the primary
    # means the per-query scheduling floor rose mid-run.
    if "secondary_value" in summary and summary["sf"] > summary.get(
        "secondary_sf", summary["sf"]
    ):
        summary["floor_inverted"] = bool(
            summary["secondary_value"] > summary["value"]
        )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"BENCH_DETAIL.tmp.c{cpus}.json",
    )
    with open(sidecar, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    summary["detail_file"] = summary["detail_file_cpus"] = os.path.basename(
        sidecar
    )
    print(json.dumps(detail))
    sys.stdout.flush()

    # LAST line: compact summary only.
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
