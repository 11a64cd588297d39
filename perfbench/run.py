"""Benchmark of the paper's export chain and of the open operator leads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` into
``.perfbench/`` (ignored by git) and reused for the same seed. One Spark
session per process; one client; closed loop. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it records the environment and every run.
See ``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DRIVER_MEM = "3g"

# name -> (kind, shape). Study shape: (datasets, samples, variants, MAF
# files) per dataset; operator shape: lineitem rows.
WORKLOADS = {
    "study_multi_small": ("study", (3, 400, 8000, 2)),
    "operator_scale_paths": ("operators", 40_000),
}

COMMANDS = ("clinical", "maf", "validate", "load")
WARM_CHAINS = 2
EXEC_METRICS = (
    ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("driver_s", "s"),
)


def per_layer_units() -> dict[str, str]:
    from queries import QUERIES

    units = {"session.start_s": "s"}
    units.update({f"cli.{c}_s": "s" for c in COMMANDS})
    units.update({
        "cli.jobs": "count",
        "cli.actions": "count",
        "sources.read_s": "s",
        "sources.write_s": "s",
        "sources.read_amplification": "ratio",
        "sources.bytes_written": "bytes",
        "plans.write_study_bundle_s": "s",
        "plans.write_load_stage_case_lists_s": "s",
        "operators.maf.annotate_passes": "ratio",
        "operators.maf.python_run_s": "s",
        "operators.maf.python_init_s": "s",
        "operators.maf.python_bytes": "bytes",
        "operators.validation.suite_evals": "count",
    })
    for c in COMMANDS:
        units.update({f"exec.{c}.{m}": u for m, u in EXEC_METRICS})
    for q in QUERIES:
        units.update({f"query.{q}_s": "s", f"query.{q}.jobs": "count",
                      f"query.{q}.shuffle_bytes": "bytes"})
    units["trace.overhead_s"] = "s"
    return units


END_TO_END_UNITS = {"run_s": "s", "setup_s": "s", "ok_frac": "ratio", "peak_rss_mb": "MB"}


# ---------------------------------------------------------------------------
# Environment and session
# ---------------------------------------------------------------------------


def configure_environment() -> dict:
    """Size the engine for the host's cores and keep every file the run writes
    inside the checkout. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package (mapInPandas, pandas UDFs).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    return {"cpus": cpus, "driver_memory": DRIVER_MEM}


def start_session(event_log: Path | None = None):
    from iatlas_cbioportal_export_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # A fixed-size heap (-Xms = the driver memory) keeps the resident
        # set from depending on when G1 decides to grow it.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it; the JVM takes its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak resident memory of this process's descendants (the driver JVM
    and the Python workers it forks), sampled from /proc. The sampler
    shares the driver's interpreter lock, so it samples sparingly."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        me = os.getpid()
        while not self._stop.is_set():
            parents, rss = {}, {}
            for entry in os.listdir("/proc"):
                if not entry.isdigit():
                    continue
                try:
                    with open(f"/proc/{entry}/stat") as fh:
                        stat = fh.read()
                    with open(f"/proc/{entry}/statm") as fh:
                        rss[int(entry)] = int(fh.read().split()[1]) * page
                except OSError:
                    continue
                parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
            total = sum(r for pid, r in rss.items() if _descends(pid, me, parents))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval)


def _descends(pid: int, ancestor: int, parents: dict[int, int]) -> bool:
    seen = 0
    while pid in parents and seen < 64:
        pid = parents[pid]
        if pid == ancestor:
            return True
        seen += 1
    return False


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Result:
    """Operations attempted and failed. An operation is one CLI command or
    one query; a chain whose output check fails counts one failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def add(self, attempted: int, failed: int, messages: list[str]) -> None:
        self.attempted += attempted
        self.failed += failed
        self.messages += messages


def timed_runs(run_once, seconds: float) -> list[float]:
    """Closed loop: start another run while it is expected to end nearer
    to ``seconds`` after the first one's start than stopping now would
    (the last run's wall predicts the next); at least one run. Rounding
    to the nearest end keeps the run count the same across processes
    whose walls differ by a few percent."""
    walls: list[float] = []
    start = time.perf_counter()
    while True:
        walls.append(run_once(len(walls)))
        if time.perf_counter() - start + walls[-1] / 2 > seconds:
            return walls


class StudyWorkload:
    def __init__(self, name: str, shape, seed: int, result: Result) -> None:
        import gen_study
        from study import Study

        self.result = result
        self.study = Study(str(WORK / "inputs" / f"{name}-{seed}"), seed,
                           gen_study.Shape(*shape), str(WORK / "out"), pin_key=name)
        self.chains = []
        self.traced_chains = []

    def warm_up(self, spark) -> float:
        """Chains over the first WARM_CHAINS datasets (the first has the
        scoped sample filter); timed runs continue the cycle. The second
        chain of a fresh JVM still runs up to 40% slower than later ones."""
        for dataset in self.study.datasets[:WARM_CHAINS]:
            chain = self.study.run_chain(dataset)
            self.result.add(chain.attempted, int(bool(chain.failures)), chain.failures)
        return 0.0  # no excluded checking time

    def run(self, spark, i: int, tracer=None) -> float:
        datasets = self.study.datasets
        chain = self.study.run_chain(datasets[(i + WARM_CHAINS) % len(datasets)], tracer)
        self.result.add(chain.attempted, int(bool(chain.failures)), chain.failures)
        (self.chains if tracer is None else self.traced_chains).append(chain)
        return chain.wall

    def run_parts(self) -> list[dict]:
        """Per-command walls of every timed chain."""
        return [c.walls for c in self.chains]

    def traced_runs(self) -> int:
        return len(self.study.datasets)


class OperatorWorkload:
    def __init__(self, name: str, rows: int, seed: int, result: Result) -> None:
        from queries import QUERIES, Operators

        self.result = result
        self.queries = QUERIES
        self.ops = Operators(str(WORK / "inputs" / f"{name}-{seed}"), seed, rows)
        self.pass_walls: list[dict] = []

    def warm_up(self, spark) -> float:
        """The set-up pass collects every query and checks it against its
        DuckDB oracle; the oracle's time is not set-up time."""
        failures, oracle_s = self.ops.check(spark)
        self.result.add(len(self.queries), len(failures), failures)
        return oracle_s

    def run(self, spark, i: int, tracer=None) -> float:
        walls, failures = {}, []
        for name in self.queries:
            try:
                walls[name] = self.ops.run_query(spark, name, tracer)
            except Exception as exc:  # a raising query is a failed operation
                failures.append(f"{name}: raised {type(exc).__name__}: {exc}")
        self.result.add(len(self.queries), len(failures), failures)
        if tracer is None:
            self.pass_walls.append(walls)
        return sum(walls.values())

    def run_parts(self) -> list[dict]:
        """Per-query walls of every timed pass."""
        return list(self.pass_walls)

    def traced_runs(self) -> int:
        return 1


# ---------------------------------------------------------------------------
# Per-layer metrics from a traced run
# ---------------------------------------------------------------------------


def _actions(jobs) -> int:
    """The program actions behind ``jobs``: one per root SQL execution,
    plus each job run outside SQL. Adaptive execution submits broadcast
    and query-stage jobs from its own threads as stages finish, so job
    counts move by one or two between identical runs; action counts do
    not."""
    return (len({j.execution for j in jobs if j.execution is not None})
            + sum(j.execution is None for j in jobs))


def layer_metrics(workload, tracer, jobs) -> dict[str, float]:
    import spans as tr

    spans = [s for s in tracer.spans if s.run == tracer.run]
    tops = [s for s in spans if s.name.startswith(("cli.", "query."))]
    owned = tr.attribute(jobs, tops)
    kids = tr.children_of(spans)
    out: dict[str, float] = {}

    def job_sum(span, key):
        return sum(j.metrics.get(key, 0.0) for j in owned[span.id])

    if isinstance(workload, OperatorWorkload):
        for q in tops:
            name = q.name[len("query."):]
            out[f"query.{name}_s"] = q.wall
            out[f"query.{name}.jobs"] = len(owned[q.id])
            out[f"query.{name}.shuffle_bytes"] = job_sum(q, "shuffle_write_bytes")
        return out

    study = workload.study
    chains = workload.traced_chains
    n = len(chains)
    by_cmd = {c: [s for s in tops if s.name == f"cli.{c}"] for c in COMMANDS}
    for c in COMMANDS:
        out[f"cli.{c}_s"] = statistics.median(s.wall for s in by_cmd[c])
    out["cli.jobs"] = sum(len(owned[s.id]) for s in tops) / n
    out["cli.actions"] = sum(_actions(owned[s.id]) for s in tops) / n

    below = {s.id: tr.descendants(s.id, kids) for s in tops}
    reads = [[d for d in below[s.id] if d.name == "sources.read"] for s in tops]
    out["sources.read_s"] = sum(
        tr.covered([(r.start, r.end) for r in rs], s.start, s.end) for s, rs in zip(tops, reads)
    ) / n

    def self_total(name):
        return sum(tr.self_time(s, kids.get(s.id, [])) for s in spans if s.name == name) / n

    out["sources.write_s"] = self_total("sources.write")
    scanned = sum(job_sum(s, "input_bytes") for s in tops)
    distinct = sum(
        os.path.getsize(f)
        for s in tops
        for f in set(study.input_files(s.name[len("cli."):], s.attrs["dataset"]))
        if os.path.exists(f)
    )
    out["sources.read_amplification"] = scanned / distinct if distinct else 0.0
    out["sources.bytes_written"] = sum(job_sum(s, "output_bytes") for s in tops) / n
    out["plans.write_study_bundle_s"] = self_total("plans.write_study_bundle")
    out["plans.write_load_stage_case_lists_s"] = self_total("plans.write_load_stage_case_lists")

    variants = sum(study.expected["datasets"][c.dataset]["variants"] for c in chains)
    out["operators.maf.annotate_passes"] = tracer.annotated_rows.value / variants
    maf_tops = by_cmd["maf"]
    out["operators.maf.python_run_s"] = sum(job_sum(s, "py_run") for s in maf_tops) / 1e3 / n
    out["operators.maf.python_init_s"] = sum(job_sum(s, "py_init") for s in maf_tops) / 1e3 / n
    out["operators.maf.python_bytes"] = sum(
        job_sum(s, "py_sent_bytes") + job_sum(s, "py_returned_bytes") for s in maf_tops
    ) / n

    # Actions run after the findings union is built.
    evals = 0
    for s in by_cmd["validate"]:
        unions = [d for d in below[s.id] if d.name == "operators.validation.findings_union"]
        if unions:
            built = max(u.end for u in unions)
            evals += _actions([j for j in owned[s.id] if j.submitted >= built])
    out["operators.validation.suite_evals"] = evals / n

    for c in COMMANDS:
        cmd_spans = by_cmd[c]
        for m, _unit in EXEC_METRICS:
            if m == "driver_s":
                value = sum(
                    s.wall - tr.covered([(j.submitted, j.completed) for j in owned[s.id]],
                                        s.start, s.end)
                    for s in cmd_spans
                )
            else:
                value = sum(job_sum(s, m) for s in cmd_spans)
            out[f"exec.{c}.{m}"] = value / n
    return out


# ---------------------------------------------------------------------------
# Main
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "iatlas_cbioportal_export_spark").is_dir():
        print("run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    env = configure_environment()
    kind, shape = WORKLOADS[args.workload]
    result = Result()

    t_gen = time.time()
    if kind == "study":
        workload = StudyWorkload(args.workload, shape, args.seed, result)
    else:
        workload = OperatorWorkload(args.workload, shape, args.seed, result)
    generation_s = time.time() - t_gen

    # A traced process logs events from the start, so its traced runs
    # follow the same warm-up as its untraced ones.
    log_dir = WORK / "eventlog" if args.trace else None
    if log_dir is not None:
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
    t_session = time.time()
    spark = start_session(log_dir)
    session_s = time.time() - t_session
    excluded = workload.warm_up(spark)
    setup_s = time.time() - PROCESS_START - generation_s - excluded
    sc = spark.sparkContext
    env.update({
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark": spark.version,
        "python": platform.python_version(),
    })

    with RssSampler() as rss:
        walls = timed_runs(lambda i: workload.run(spark, i), args.seconds)
    run_s = statistics.median(walls)
    record = {"env": env, "setup_s": setup_s, "generation_s": generation_s,
              "session_s": session_s, "run_walls": walls,
              "run_parts": workload.run_parts()}

    if args.trace:
        import spans as tr

        app_id = sc.applicationId
        tracer = tr.Tracer(spark)
        tracer.install()
        tracer.run = 1
        try:
            traced = [workload.run(spark, len(walls) + i, tracer)
                      for i in range(workload.traced_runs())]
        finally:
            tracer.close()
        stop_jvm(spark)
        jobs = tr.read_event_log(str(log_dir / app_id))
        layers = {name: 0.0 for name in per_layer_units()}
        layers.update(layer_metrics(workload, tracer, jobs))
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = statistics.median(traced) - run_s
        record["traced_walls"] = traced
        metrics = {k: {"value": v, "unit": u} for k, u in per_layer_units().items()
                   for v in [layers[k]]}
    else:
        stop_jvm(spark)
        ok_frac = 1.0 - result.failed / result.attempted
        values = {"run_s": run_s, "setup_s": setup_s, "ok_frac": ok_frac,
                  "peak_rss_mb": rss.peak_bytes / 2**20}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}

    shutil.rmtree(WORK / "out", ignore_errors=True)
    for message in result.messages:
        print(f"FAILED {message}", file=sys.stderr)
    record["failures"] = result.messages
    print(json.dumps(record))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
