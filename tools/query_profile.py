"""Profile registry queries from one local Spark event log.

    python tools/query_profile.py QUERY... [--sf-dir DIR] [--reps N] [--out DIR]

Each query runs once to warm up, then ``--reps`` times, through the noop
sink (every column is computed, nothing is written). Its wall splits into
build (driver-side DataFrame construction, including the eager jobs the
builder runs), plan (Catalyst, forced with ``executedPlan``) and exec (the
noop write), each reported as min and median over the reps.

Jobs, stages, tasks, input, shuffle-write and spill bytes come from the
session's event log under ``--out/eventlog`` (parsed by
``perfbench/spans.read_event_log``) as a mean per rep, for the query and per
job label: the description the package gives a job with
``session.job_label`` (``read clinical.tsv``, ``round 2``), ``""`` for a job
without one. ``explain('formatted')`` of each query's last rep goes to
``--out/<query>.txt``. Prints one JSON object keyed by query.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.append(str(ROOT / "perfbench"))

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402
from spans import read_event_log  # noqa: E402

METRICS = ("stages", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes")


def job_descriptions(path: Path) -> dict[int, str]:
    """Job id -> ``spark.job.description`` from each job's start event."""
    out = {}
    with open(path) as fh:
        for line in fh:
            event = json.loads(line)
            if event["Event"] == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                out[event["Job ID"]] = props.get("spark.job.description") or ""
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ,
                    help="parquet tables (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default="profile-out", help="event log and plans")
    args = ap.parse_args()

    log_dir = Path(args.out).resolve() / "eventlog"
    log_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    sc = spark.sparkContext
    registry = entrymod.queries()
    unknown = [q for q in args.queries if q not in registry]
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    walls: dict[str, list[tuple[float, float, float]]] = defaultdict(list)
    for name in args.queries:
        for rep in range(-1, args.reps):  # rep -1 warms up
            entrymod.reset_bench_caches(spark)
            # The group's description is the query name, so a job the
            # package labels reads "<query>:<label>".
            sc.setJobGroup(name if rep >= 0 else f"{name}:warm-up", name)
            t0 = time.perf_counter()
            df = registry[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if rep >= 0:
                walls[name].append((t1 - t0, t2 - t1, time.perf_counter() - t2))
        plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        (log_dir.parent / f"{name}.txt").write_text(plan)
    log = log_dir / sc.applicationId
    spark.stop()  # flushes the event log

    def tally() -> dict[str, float]:
        return dict.fromkeys(("jobs", *METRICS), 0.0)

    record = {}
    for name in args.queries:
        phases = zip(("build_s", "plan_s", "exec_s"), zip(*walls[name]))
        record[name] = {
            phase: {"min": round(min(w), 3), "median": round(statistics.median(w), 3)}
            for phase, w in phases
        }
        record[name].update(tally(), labels=defaultdict(tally))
    descriptions = job_descriptions(log)
    for job in read_event_log(str(log)).values():
        rec = record.get(job.group)
        if rec is None:
            continue
        label = descriptions[job.id].partition(":")[2]
        for tally_ in (rec, rec["labels"][label]):
            tally_["jobs"] += 1
            for m in METRICS:
                tally_[m] += job.metrics[m]
    for rec in record.values():
        for tally_ in (rec, *rec["labels"].values()):
            for key in ("jobs", *METRICS):
                tally_[key] = round(tally_[key] / args.reps, 3)
    print(json.dumps(record, indent=1))


if __name__ == "__main__":
    main()
