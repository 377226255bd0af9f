"""Tests for the benchmark's own code: the event-log fold, the seeded
generators and the output fingerprints.

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "2g")

import checks  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402

# --- event-log fold --------------------------------------------------------


def _task(stage, attempt, launch, finish, *, cpu_ms, gc=0, sw=0, sr=0, spill=0, inp=0, out=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": attempt,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor CPU Time": cpu_ms * 1_000_000,
            "Executor Run Time": finish - launch,
            "JVM GC Time": gc,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr, "Fetch Wait Time": 5 if sr else 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Disk Bytes Spilled": spill,
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out},
        },
    }


def _stage(stage, attempt, submit):
    info = {"Stage ID": stage, "Stage Attempt ID": attempt, "Submission Time": submit}
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info},
        {"Event": "SparkListenerStageCompleted", "Stage Info": info},
    ]


MB = 1024 * 1024
TINY_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    # job 0: labelled, two stages, the map stage shuffles 2 MB
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "pipeline: cohort boundary (parquet)"}},
    *_stage(0, 0, 1000),
    _task(0, 0, 1010, 1100, cpu_ms=80, sw=MB, inp=MB),
    _task(0, 0, 1020, 1200, cpu_ms=150, gc=30, sw=MB),
    *_stage(1, 0, 1200),
    _task(1, 0, 1250, 1300, cpu_ms=40, sr=2 * MB, out=3 * MB),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1300},
    # job 1: unlabelled; re-lists stage 1 (skipped) and runs stage 2, one
    # task fails and the stage is retried
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400, "Stage IDs": [1, 2],
     "Properties": {}},
    *_stage(2, 0, 1400),
    _task(2, 0, 1400, 1450, cpu_ms=10, failed=True),
    *_stage(2, 1, 1460),
    _task(2, 1, 1470, 1500, cpu_ms=20, spill=MB),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
    # job 2: same label as job 0, overlapping it in time
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1200, "Stage IDs": [3],
     "Properties": {"spark.job.description": "pipeline: cohort boundary (parquet)"}},
    *_stage(3, 0, 1200),
    _task(3, 0, 1210, 1350, cpu_ms=100),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1350},
]


def _label(job):
    d = job.description or ""
    return d.split()[1] if d.startswith("pipeline: ") else "unlabelled"


def test_fold_maps_jobs_stages_and_tasks_to_labels():
    log = eventlog.parse_lines(json.dumps(e) for e in TINY_LOG)
    recs = eventlog.fold(log, _label)
    assert set(recs) == {"cohort", "unlabelled"}
    c = recs["cohort"]
    assert c["jobs"] == 2
    assert c["tasks"] == 4
    # jobs 0 [1000, 1300) and 2 [1200, 1350) overlap: union 350 ms
    assert c["wall_s"] == pytest.approx(0.35)
    assert c["cpu_s"] == pytest.approx(0.37)
    assert c["gc_s"] == pytest.approx(0.03)
    # queue: (1010-1000) + (1020-1000) + (1250-1200) + (1210-1200)
    assert c["queue_s"] == pytest.approx(0.09)
    assert c["shuffle_write_mb"] == pytest.approx(2.0)
    assert c["shuffle_read_mb"] == pytest.approx(2.0)
    assert c["fetch_wait_s"] == pytest.approx(0.005)
    assert c["input_mb"] == pytest.approx(1.0)
    assert c["output_mb"] == pytest.approx(3.0)
    assert c["failed_tasks"] == 0 and c["stage_retries"] == 0
    u = recs["unlabelled"]
    # stage 1 belongs to job 0, so job 1 owns only stage 2's two attempts
    assert u["tasks"] == 2
    assert u["failed_tasks"] == 1
    assert u["stage_retries"] == 1
    assert u["spill_mb"] == pytest.approx(1.0)
    assert u["wall_s"] == pytest.approx(0.1)


def test_fold_drops_jobs_labelled_none_and_busy_time():
    log = eventlog.parse_lines(json.dumps(e) for e in TINY_LOG)
    recs = eventlog.fold(log, lambda job: None if job.description is None else "x")
    assert recs["x"]["jobs"] == 2
    # tasks cover [1010, 1200) [1210, 1350) [1400, 1450) [1470, 1500)
    assert eventlog.busy_ms(log.tasks, 1000, 1600) == pytest.approx(410)
    assert eventlog.busy_ms(log.tasks, 1300, 1420) == pytest.approx(70)


def test_read_event_log_file_and_rolling_dir(tmp_path):
    lines = [json.dumps(e) + "\n" for e in TINY_LOG]
    single = tmp_path / "app-1"
    single.write_text("".join(lines))
    rolling = tmp_path / "eventlog_v2_app-1"
    rolling.mkdir()
    # index order, not name order: events_10 comes after events_2
    (rolling / "events_2_app-1").write_text("".join(lines[:8]))
    (rolling / "events_10_app-1").write_text("".join(lines[8:]))
    (rolling / "appstatus_app-1").write_text("")
    a = eventlog.fold(eventlog.read_event_log(str(single)), _label)
    b = eventlog.fold(eventlog.read_event_log(str(rolling)), _label)
    assert a == b


def test_union_ms():
    assert eventlog.union_ms([]) == 0
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30


# --- Spark-backed tests ----------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from mimic_iv_data_pipeline_spark import get_spark

    return get_spark("perfbench-tests", **{"spark.ui.showConsoleProgress": "false"})


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_mimic_generator_seed0_matches_bench_e2e_tables(spark):
    import bench

    ref = bench._e2e_tables(spark, "/sf0.001")  # 1k stays, 100k events
    ours = inputs.mimic_tables(spark, 0, 1_000)
    for name in ("visits", "patients", "admissions", "events"):
        assert ours[name].schema == ref[name].schema, name
        assert _same_rows(ours[name], ref[name]), name


def test_mimic_generator_is_deterministic_per_seed(spark):
    a = inputs.mimic_tables(spark, 7, 1_000)
    b = inputs.mimic_tables(spark, 7, 1_000)
    c = inputs.mimic_tables(spark, 8, 1_000)
    for name in ("visits", "patients", "events"):
        assert _same_rows(a[name], b[name]), name
        assert not _same_rows(a[name], c[name]), name
    # the shape is the seed's invariant (patients = distinct subjects varies)
    for name in ("visits", "events"):
        assert a[name].count() == c[name].count(), name


def test_mix_generator_is_deterministic_per_seed(tmp_path):
    import pyarrow.parquet as pq

    counts = inputs.write_mix_tables(3, 0.02, str(tmp_path / "a"))
    inputs.write_mix_tables(3, 0.02, str(tmp_path / "b"))
    inputs.write_mix_tables(4, 0.02, str(tmp_path / "c"))
    assert counts == inputs.mix_sizes(0.02)
    for name in counts:
        a = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{name}.parquet")), name
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{name}.parquet")), name


def test_fingerprint_is_stable_under_repartitioning(spark):
    df = spark.range(2_000).selectExpr(
        "id",
        "id * 0.1D AS x",
        "map(id % 3, array(id / 7.0D, id / 3.0D)) AS m",
        "named_struct('a', id / 9.0D, 'b', CAST(id AS STRING)) AS s",
    )
    base = checks.fingerprint(df)
    assert base[0] == 2_000
    assert checks.fingerprint(df.repartition(7)) == base
    assert checks.fingerprint(df.repartition(3, "x").sortWithinPartitions("x")) == base
    # last-ulp drift in doubles (as a shuffle-ordered avg() gives) is rounded away
    drift = df.selectExpr("id", "x + 1e-15D AS x", "m", "s")
    assert checks.fingerprint(drift) == base
    # a real change is not
    changed = df.selectExpr("id", "IF(id = 5, x + 1, x) AS x", "m", "s")
    assert checks.fingerprint(changed) != base


def test_pipeline_twins_agree_and_hold_invariants(spark, tmp_path):
    from mimic_iv_data_pipeline_spark.plans.pipeline import PipelineConfig, run_pipeline

    inp = str(tmp_path / "in")
    schemas = inputs.write_mimic_tables(spark, 5, 1_000, inp)
    config = PipelineConfig(include_hours=48, bucket_hours=2)
    prints = {}
    for handoff in ("parquet", "memory"):
        frames = run_pipeline(
            spark,
            inputs.read_mimic_tables(spark, inp, schemas),
            str(tmp_path / handoff),
            config,
            handoff=handoff,
        )
        assert checks.pipeline_invariants(frames, 24) == []
        prints[handoff] = checks.stage_fingerprints(frames)
    assert prints["parquet"] == prints["memory"]
