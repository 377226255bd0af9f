#!/usr/bin/env python3
"""The repo's benchmark: the paper's pipeline, end to end and by layer.

Run from the repository root:

    python3 perfbench/run.py --workload pipeline_parquet --seed 0 --seconds 10 --trace 0

Workloads (closed loop, one client, one process on ``local[<nproc>]``):

* ``pipeline_parquet`` — ``run_pipeline(handoff="parquet")``: ICU
  mortality cohort, 48 h window, 2 h buckets (24 buckets, the wide
  densify path), every stage written and re-read as parquet.
* ``pipeline_memory`` — the same inputs and config with
  ``handoff="memory"``: boundaries pinned by ``engine.materialize``,
  leaves forced through the noop sink via ``leaf_consumer``.
* ``query_mix`` — a fixed list of registered queries (fuzzy join,
  dedup, iterative graph, sampling, text) over seeded testdata-shaped
  tables.

Every run sets up a session three times (median = ``setup_s``), writes
its inputs from ``--seed``, runs one cold pass and then a fixed number
of warm passes (``--seconds`` over a nominal pass time), and checks
every output it times. ``--trace 1`` interleaves untraced passes with a
pass under Spark's event log and reports per-layer metrics instead;
its spans are written to ``perfbench/.out/``.

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

PROC_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED_PATH = os.path.join(HERE, "expected.json")

WORKLOADS = ("pipeline_parquet", "pipeline_memory", "query_mix")
HANDOFF = {"pipeline_parquet": "parquet", "pipeline_memory": "memory"}

# Input sizes. The pipeline's input is bench._e2e_tables' shape scaled
# to N_STAYS stays (100 chart events each); the mix tables are testdata
# sf0.1 scaled by MIX_SCALE.
N_STAYS = 2_000
MIX_SCALE = 0.1
INCLUDE_HOURS = 48
BUCKET_HOURS = 2
N_BUCKETS = INCLUDE_HOURS // BUCKET_HOURS

# The query mix: one entry of bench.HEADLINE per family the pipeline
# never touches, including the heavy fuzzy join (q92) and the
# construction-heavy PageRank (q142: most of its warm wall is driver-side
# construction).
MIX = (
    "q92_edit_distance_join",  # fuzzy join
    "q34_dedup_exact",  # dedup
    "q142_pagerank",  # iterative graph
    "q96_weighted_sample",  # sampling
    "q37_lang_id",  # text (language id)
)

# Warm passes per run = round(--seconds / nominal pass time): the same
# work in every run of a given --seconds, whatever the host's speed, so
# JIT warm-up and heap growth follow the same schedule run to run.
NOMINAL_PASS_S = 5.0
N_SETUPS = 3

STAGES = ("cohort", "events", "summary", "timeseries", "vocab", "features", "tensors")
# pipeline-module names whose calls are timed as construction, by stage
CONSTRUCTORS = {
    "extract_cohort": "cohort",
    "cohort_summary": "cohort",
    "preproc_events": "events",
    "clean_events": "events",
    "generate_summary": "summary",
    "generate_timeseries": "timeseries",
    "_collect_feature_vocab": "vocab",
    "ml_feature_matrix": "features",
    "dl_tensor_frame": "tensors",
}
STAGE_METRICS = (
    "construct_s",
    "wall_s",
    "cpu_s",
    "gc_s",
    "tasks",
    "queue_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "fetch_wait_s",
    "spill_mb",
    "input_mb",
    "output_mb",
)
QUERY_METRICS = (
    "p50_ms",
    "p90_ms",
    "construct_s",
    "exec_s",
    "cpu_s",
    "gc_s",
    "jobs",
    "tasks",
    "shuffle_write_mb",
    "spill_mb",
    "core_util",
    "failed_tasks",
)
UNITS = {"_s": "s", "_mb": "MB", "_ms": "ms"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "ratio" if name.endswith(("util", "share")) else "count"


def host_sizing() -> tuple[int, str]:
    """Cores from the CPU affinity mask (what ``nproc`` reports without
    OMP_NUM_THREADS); heap a third of RAM, capped at 4 GiB — the
    library's 16g default does not fit a small host with no swap."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = min(4, max(1, kb // (3 * 1024 * 1024)))
    return cores, f"{heap_gb}g"


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Spans:
    """Spans (name, start, end, parent) in epoch milliseconds, kept in
    memory and written out once at the end of a traced run."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        rec = {"id": len(self.items), "name": name, "parent": parent, "start_ms": time.time() * 1e3}
        self.items.append(rec)
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1e3

    def named(self, prefix: str) -> list[dict]:
        return [s for s in self.items if s["name"].startswith(prefix)]


class Session:
    """The benchmark's Spark session: built through the library's own
    ``get_spark`` (so its defaults are what is measured), restartable on
    the same JVM, with the driver JVM stopped and reaped on close."""

    def __init__(self, work: str) -> None:
        self.work = work
        self.spark = None
        self.gateway = None

    def start(self, event_log: str | None = None) -> float:
        """(Re)build the session and run its first job; returns seconds."""
        from mimic_iv_data_pipeline_spark import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        self.spark = get_spark("perfbench", **conf)
        self.gateway = self.spark.sparkContext._gateway
        self.spark.range(1_000_000).selectExpr("id % 7 AS k").groupBy("k").count().count()
        return time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.gateway.proc.pid}/status") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return kb / 1024

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            self.gateway = None


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    ) / (1024 * 1024)


# --- workloads -------------------------------------------------------------


class PipelineWorkload:
    def __init__(self, name: str, seed: int, work: str) -> None:
        self.handoff = HANDOFF[name]
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "stages")
        self.schemas: dict = {}
        self.stage_mb = 0.0
        self.query_times: list[dict] = []

    def generate(self, spark) -> None:
        from inputs import write_mimic_tables

        self.schemas = write_mimic_tables(spark, self.seed, N_STAYS, self.inputs)

    def run_pass(self, spark, traced: bool = False) -> tuple[float, list[float], dict]:
        """One timed ``run_pipeline`` call; returns (wall, [wall], stage frames)."""
        from inputs import read_mimic_tables
        from mimic_iv_data_pipeline_spark.plans.pipeline import PipelineConfig, run_pipeline

        shutil.rmtree(self.out, ignore_errors=True)
        tables = read_mimic_tables(spark, self.inputs, self.schemas)
        config = PipelineConfig(include_hours=INCLUDE_HOURS, bucket_hours=BUCKET_HOURS)

        def force(df, _name):
            df.write.format("noop").mode("overwrite").save()

        t0 = time.perf_counter()
        frames = run_pipeline(
            spark,
            tables,
            self.out,
            config,
            handoff=self.handoff,
            leaf_consumer=force if self.handoff == "memory" else None,
        )
        wall = time.perf_counter() - t0
        if self.handoff == "parquet":
            self.stage_mb = dir_mb(self.out)
            # check what was written, not the lazy leaf plans
            for name in ("summary", "features", "tensors"):
                frames[name] = spark.read.parquet(os.path.join(self.out, name))
        return wall, [wall], frames

    def check(self, frames) -> tuple[dict, list[str]]:
        from checks import pipeline_invariants, stage_fingerprints

        return stage_fingerprints(frames), pipeline_invariants(frames, N_BUCKETS)


class QueryMixWorkload:
    def __init__(self, name: str, seed: int, work: str) -> None:
        self.seed = seed
        self.data = os.path.join(work, "mix")
        self.query_times: list[dict] = []

    def generate(self, spark) -> None:
        from inputs import write_mix_tables

        write_mix_tables(self.seed, MIX_SCALE, self.data)

    def run_pass(self, spark, traced: bool = False) -> tuple[float, list[float], dict]:
        """One pass over MIX; each query is built and forced by its
        fingerprint (a full read of every column of every row). Traced
        passes label each query's jobs ``query: <name>``."""
        from checks import fingerprint
        from mimic_iv_data_pipeline_spark.queries import all_queries

        registry = all_queries()
        sc = spark.sparkContext
        prints, lat = {}, []
        t_pass = time.perf_counter()
        for name in MIX:
            if traced:
                sc.setJobDescription(f"query: {name}")
            try:
                t0 = time.perf_counter()
                df = registry[name](spark, self.data)
                t1 = time.perf_counter()
                prints[name] = fingerprint(df)
                t2 = time.perf_counter()
            finally:
                sc.setJobDescription(None)
            lat.append(t2 - t0)
            self.query_times.append({"query": name, "construct_s": t1 - t0, "exec_s": t2 - t1})
        return time.perf_counter() - t_pass, lat, prints

    def check(self, prints) -> tuple[dict, list[str]]:
        return prints, []


# --- traced-run attribution ------------------------------------------------


@contextlib.contextmanager
def constructors_timed(spans: Spans, parent: int):
    """Wrap the names ``run_pipeline`` calls for each stage so every call
    records a ``construct:<stage>`` span; restores them on exit."""
    from mimic_iv_data_pipeline_spark.plans import pipeline as mod

    originals = {name: getattr(mod, name) for name in CONSTRUCTORS}

    def wrap(fn, stage):
        def timed(*args, **kwargs):
            with spans.span(f"construct:{stage}", parent):
                return fn(*args, **kwargs)

        return timed

    for name, stage in CONSTRUCTORS.items():
        setattr(mod, name, wrap(originals[name], stage))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(mod, name, fn)


def _within(ms: float, spans: list[dict]) -> dict | None:
    return next((s for s in spans if s["start_ms"] <= ms <= s["end_ms"]), None)


def pipeline_layers(logs, spans: Spans, cores: int) -> dict[str, float]:
    """Per-stage and pipeline-wide metrics from the traced passes' event
    logs, averaged per pass. Jobs carry the pipeline's own labels
    (``pipeline: <stage> ...``); an unlabelled job is charged to the
    construction span it started in (the vocab collect is one), and
    counted in ``pipeline.unlabelled_share``."""
    from eventlog import busy_ms, fold

    passes = spans.named("traced pass")
    constructs = spans.named("construct:")
    n = len(passes)
    totals = {s: {m: 0.0 for m in STAGE_METRICS} for s in STAGES}
    wide = {"exec_idle_s": 0.0, "cpu_s": 0.0, "failed_tasks": 0, "stage_retries": 0}
    unlabelled_run = all_run = 0.0
    for log in logs:

        def label(job):
            if _within(job.submit_ms, passes) is None:
                return None
            d = job.description or ""
            if d.startswith("pipeline: "):
                return d.split()[1]
            owner = _within(job.submit_ms, constructs)
            return "unlabelled:" + (owner["name"].split(":")[1] if owner else "other")

        for key, rec in fold(log, label).items():
            all_run += rec["run_s"]
            stage = key
            if key.startswith("unlabelled:"):
                unlabelled_run += rec["run_s"]
                stage = key.split(":")[1]
            wide["cpu_s"] += rec["cpu_s"]
            wide["failed_tasks"] += rec["failed_tasks"]
            wide["stage_retries"] += rec["stage_retries"]
            if stage in totals:
                for m in STAGE_METRICS:
                    if m != "construct_s":
                        totals[stage][m] += rec[m]
    tasks = [t for log in logs for t in log.tasks]
    for p in passes:
        wall_ms = p["end_ms"] - p["start_ms"]
        wide["exec_idle_s"] += (wall_ms - busy_ms(tasks, p["start_ms"], p["end_ms"])) / 1e3
    for s in constructs:
        totals[s["name"].split(":")[1]]["construct_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
    pass_wall = sum(p["end_ms"] - p["start_ms"] for p in passes) / 1e3
    out = {f"pipeline.{s}.{m}": v / n for s, rec in totals.items() for m, v in rec.items()}
    out |= {
        "pipeline.exec_idle_s": wide["exec_idle_s"] / n,
        "pipeline.core_util": wide["cpu_s"] / (pass_wall * cores),
        "pipeline.failed_tasks": wide["failed_tasks"] / n,
        "pipeline.stage_retries": wide["stage_retries"] / n,
        "pipeline.unlabelled_share": unlabelled_run / all_run if all_run else 0.0,
    }
    return out


def query_layers(logs, spans: Spans, query_times: list[dict], cores: int) -> dict[str, float]:
    """``queries.*`` per traced pass: bench-side construction and
    execution time plus the event log's sums over the queries' jobs."""
    from eventlog import fold

    passes = spans.named("traced pass")
    n = len(passes)
    tot = {m: 0.0 for m in QUERY_METRICS}
    for log in logs:

        def label(job):
            d = job.description or ""
            if _within(job.submit_ms, passes) is None or not d.startswith("query: "):
                return None
            return d

        for rec in fold(log, label).values():
            for m in ("cpu_s", "gc_s", "jobs", "tasks", "shuffle_write_mb", "spill_mb", "failed_tasks"):
                tot[m] += rec[m]
    for q in query_times:
        tot["construct_s"] += q["construct_s"]
        tot["exec_s"] += q["exec_s"]
    pass_wall = sum(p["end_ms"] - p["start_ms"] for p in passes) / 1e3
    out = {f"queries.{m}": v / n for m, v in tot.items() if m not in ("p50_ms", "p90_ms", "core_util")}
    out["queries.core_util"] = tot["cpu_s"] / (pass_wall * cores)
    return out


def job_spans(logs, spans: Spans) -> None:
    """Add one span per logged job, parented to the construction span an
    unlabelled job started in, else to its pass."""
    passes = spans.named("traced pass")
    constructs = spans.named("construct:")
    for i, log in enumerate(logs):
        for job in log.jobs.values():
            p = _within(job.submit_ms, passes)
            if p is None or job.end_ms is None:
                continue
            parent = None if job.description else _within(job.submit_ms, constructs)
            spans.items.append(
                {
                    "id": len(spans.items),
                    "name": f"job {i}.{job.job_id}: {job.description or '(unlabelled)'}",
                    "parent": (parent or p)["id"],
                    "start_ms": job.submit_ms,
                    "end_ms": job.end_ms,
                }
            )


# --- main ------------------------------------------------------------------


def per_layer_names() -> list[str]:
    names = [f"pipeline.{s}.{m}" for s in STAGES for m in STAGE_METRICS]
    names += [
        "pipeline.exec_idle_s",
        "pipeline.core_util",
        "pipeline.failed_tasks",
        "pipeline.stage_retries",
        "pipeline.unlabelled_share",
        "pipeline.stage_mb",
    ]
    names += [f"queries.{m}" for m in QUERY_METRICS]
    names += [
        "workload.pass_s",
        "workload.cold_pass_s",
        "jvm.peak_rss_mb",
        "inputs.gen_s",
        "trace.overhead_s",
    ]
    return names


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--record",
        action="store_true",
        help="write this run's fingerprints to expected.json (seed 0 only)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mimic_iv_data_pipeline_spark", "__init__.py")):
        print(f"perfbench: no mimic_iv_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.record and args.seed != 0:
        print("perfbench: --record needs --seed 0", file=sys.stderr)
        return 2

    cores, heap = host_sizing()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "local"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEMORY"] = heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    sys.path[:0] = [HERE, ROOT]

    session = Session(work)
    try:
        return run(args, session, work, cores, heap)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)


def run(args, session: Session, work: str, cores: int, heap: str) -> int:
    # set-up: the first includes interpreter start-up and JVM launch
    session.start()
    setups = [time.perf_counter() - PROC_START]
    for _ in range(N_SETUPS - 1):
        setups.append(session.start())

    wl_cls = QueryMixWorkload if args.workload == "query_mix" else PipelineWorkload
    wl = wl_cls(args.workload, args.seed, work)
    t0 = time.perf_counter()
    wl.generate(session.spark)
    gen_s = time.perf_counter() - t0
    phases = {"setup": t0 - PROC_START, "generate": gen_s}

    n_warm = max(2, round(args.seconds / NOMINAL_PASS_S))
    attempted = failed = 0
    problems: list[str] = []
    checked: dict[str, dict] = {}
    walls: dict[str, list[float]] = {"cold": [], "untraced": [], "traced": []}
    ops: list[float] = []
    traced_queries: list[dict] = []

    def one_pass(kind: str, check: bool, spans: Spans | None = None) -> None:
        nonlocal attempted, failed
        per_pass = 1 if wl_cls is PipelineWorkload else len(MIX)
        attempted += per_pass
        n_queries = len(wl.query_times)
        try:
            if spans is not None:
                with spans.span(f"traced pass {len(walls['traced'])}") as sp:
                    timed = constructors_timed(spans, sp["id"])
                    with timed if wl_cls is PipelineWorkload else contextlib.nullcontext():
                        wall, lat, out = wl.run_pass(session.spark, traced=True)
                traced_queries.extend(wl.query_times[n_queries:])
            else:
                wall, lat, out = wl.run_pass(session.spark)
        except Exception:
            traceback.print_exc()
            failed += per_pass
            problems.append(f"{kind} pass raised")
            return
        walls[kind].append(wall)
        if kind == "untraced":
            ops.extend(lat)
        if wl_cls is QueryMixWorkload or check:
            prints, bad = wl.check(out)
            checked[f"{kind}{len(walls[kind]) - 1}"] = prints
            problems.extend(bad)
            if bad:
                failed += per_pass

    t0 = time.perf_counter()
    one_pass("cold", check=False)
    phases["cold"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spans = Spans()
    if args.trace:
        # untraced, traced, untraced (so linear JIT warm-up drift cancels
        # out of trace.overhead_s), each after a fresh session on the
        # same JVM; the traced session writes the event log
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir)
        for kind in ("untraced", "traced", "untraced"):
            if kind == "traced":
                session.start(event_log=event_dir)
                one_pass(kind, check=True, spans=spans)
            else:
                session.start()
                one_pass(kind, check=False)
        peak_rss = session.peak_rss_mb()
        session.spark.stop()
        session.spark = None
    else:
        for i in range(n_warm):
            one_pass("untraced", check=i == n_warm - 1)
        peak_rss = session.peak_rss_mb()

    phases["warm"] = time.perf_counter() - t0

    # output checks: recorded fingerprints at seed 0; at other seeds every
    # checked pass of this run equal to the first one
    expected = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as fh:
            expected = json.load(fh)
    key = "pipeline" if wl_cls is PipelineWorkload else "query_mix"
    reference = next(iter(checked.values()), None)
    if args.record and reference is not None:
        expected[key] = reference
        with open(EXPECTED_PATH, "w") as fh:
            json.dump(expected, fh, indent=1, sort_keys=True)
            fh.write("\n")
    for label, prints in checked.items():
        want = expected.get(key) if args.seed == 0 else reference
        if want is not None and prints != want:
            diff = sorted(k for k in want if prints.get(k) != want[k])
            problems.append(f"{label}: fingerprints differ from {'expected.json' if args.seed == 0 else 'first checked pass'}: {diff}")
            failed += 1 if wl_cls is PipelineWorkload else len(diff)
    failed = min(failed, attempted)

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "heap": heap,
        "n_stays": N_STAYS if wl_cls is PipelineWorkload else None,
        "mix_scale": MIX_SCALE if wl_cls is QueryMixWorkload else None,
        "setup_samples_s": [round(s, 4) for s in setups],
        "inputs_gen_s": round(gen_s, 4),
        "pass_s": round(statistics.median(walls["untraced"]), 4) if walls["untraced"] else None,
        "pass_walls_s": {k: [round(w, 4) for w in v] for k, v in walls.items() if v},
        "peak_rss_mb": round(peak_rss, 1),
        "op_samples": len(ops),
        "op_p50_ms": round(quantile(ops, 0.5) * 1e3, 1) if ops else None,
        "op_p90_ms": round(quantile(ops, 0.9) * 1e3, 1) if ops else None,
        "phase_s": {k: round(v, 2) for k, v in phases.items()},
        "query_ms": {
            q: [round((t["construct_s"] + t["exec_s"]) * 1e3) for t in wl.query_times if t["query"] == q]
            for q in (MIX if wl_cls is QueryMixWorkload else ())
        },
        "problems": problems,
    }
    if not walls["untraced"] or not walls["cold"]:
        print(json.dumps(info), file=sys.stderr)
        return 1

    if args.trace:
        from eventlog import read_event_log

        logs = [read_event_log(os.path.join(event_dir, f)) for f in sorted(os.listdir(event_dir))]
        names = per_layer_names()
        values = dict.fromkeys(names, 0.0)
        if wl_cls is PipelineWorkload:
            values |= pipeline_layers(logs, spans, cores)
            values["pipeline.stage_mb"] = wl.stage_mb
        else:
            values |= query_layers(logs, spans, traced_queries, cores)
            # latency over the untraced passes: tracing must not shift it
            values["queries.p50_ms"] = quantile(ops, 0.5) * 1e3
            values["queries.p90_ms"] = quantile(ops, 0.9) * 1e3
        values["workload.pass_s"] = statistics.median(walls["untraced"])
        values["workload.cold_pass_s"] = walls["cold"][0]
        values["jvm.peak_rss_mb"] = peak_rss
        values["inputs.gen_s"] = gen_s
        values["trace.overhead_s"] = statistics.median(walls["traced"]) - statistics.median(walls["untraced"])
        job_spans(logs, spans)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"info": info, "spans": spans.items}, fh)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = {n: {"value": values[n], "unit": unit_of(n)} for n in names}
    else:
        metrics = {"setup_s": {"value": statistics.median(setups), "unit": "s"}}
    print(json.dumps(info))
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
