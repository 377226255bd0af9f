"""End-to-end golden pipeline test (SURVEY.md §5.2): a ~300-patient
synthetic MIMIC-shaped dataset through cohort → features → cleaning →
time-series → ML assembly, asserting the printed-invariant counts the
reference relies on as real assertions."""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from mimic_iv_data_pipeline_spark.plans.cohort import cohort_summary, extract_cohort
from mimic_iv_data_pipeline_spark.plans.features import (
    clean_events,
    generate_summary,
    impute_hadm_ids,
    preproc_events,
)
from mimic_iv_data_pipeline_spark.plans.ml_assembly import (
    dl_tensor_frame,
    ml_feature_matrix,
    train_test_split_ids,
)
from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries

N_SUBJECTS = 300
BASE = datetime(2150, 1, 1)


@pytest.fixture(scope="module")
def mimic_fixture(spark):
    """Deterministic synthetic MIMIC: patients with 1-3 admissions,
    each with an ICU stay and chart/lab events; ~10% in-visit deaths,
    ~15% minors, itemids with outliers and mixed units."""
    rng = random.Random(7)
    patients, admissions, icustays, chart, labs = [], [], [], [], []
    hadm = stay = 0
    for s in range(N_SUBJECTS):
        age = rng.randint(5, 90)
        dies = rng.random() < 0.10
        dod = None
        for _v in range(rng.randint(1, 3)):
            hadm += 1
            stay += 1
            admit = BASE + timedelta(days=rng.randint(0, 300), hours=rng.randint(0, 23))
            los_days = rng.randint(1, 12)
            disch = admit + timedelta(days=los_days)
            if dies and dod is None and rng.random() < 0.5:
                dod = admit + timedelta(hours=rng.randint(1, los_days * 24 - 1))
            admissions.append(
                (s, hadm, admit, disch, None, 0, rng.choice(["Medicare", "Private", "Medicaid"]), rng.choice(["WHITE", "BLACK", "ASIAN", "OTHER"]))
            )
            icustays.append((s, hadm, stay, admit, disch, float(los_days)))
            for _e in range(rng.randint(5, 30)):
                itemid = rng.choice([220045, 220210, 220179])
                t_off = timedelta(hours=rng.uniform(-2, los_days * 24 + 4))
                value = rng.gauss(80, 10) if rng.random() > 0.02 else 9999.0
                uom = "bpm" if rng.random() > 0.03 else "BPM"
                chart.append((stay, admit + t_off, itemid, value, uom))
            for _l in range(rng.randint(1, 6)):
                labs.append(
                    (
                        s,
                        hadm if rng.random() > 0.3 else None,  # 30% missing hadm
                        50912,
                        admit + timedelta(hours=rng.uniform(0, los_days * 24)),
                        rng.gauss(1.0, 0.3),
                        "mg/dL",
                    )
                )
        patients.append((s, rng.choice(["M", "F"]), age, 2150, "2008 - 2010", dod))

    return {
        "patients": spark.createDataFrame(
            patients,
            "subject_id long, gender string, anchor_age int, anchor_year int, anchor_year_group string, dod timestamp",
        ),
        "admissions": spark.createDataFrame(
            admissions,
            "subject_id long, hadm_id long, admittime timestamp, dischtime timestamp, deathtime timestamp, hospital_expire_flag int, insurance string, ethnicity string",
        ),
        "icustays": spark.createDataFrame(
            icustays,
            "subject_id long, hadm_id long, stay_id long, intime timestamp, outtime timestamp, los double",
        ),
        "chartevents": spark.createDataFrame(
            chart,
            "stay_id long, charttime timestamp, itemid long, valuenum double, valueuom string",
        ),
        "labevents": spark.createDataFrame(
            labs,
            "subject_id long, hadm_id long, itemid long, charttime timestamp, valuenum double, valueuom string",
        ),
    }


def test_full_icu_mortality_pipeline(spark, mimic_fixture):
    fx = mimic_fixture
    # --- stage 1: cohort ---------------------------------------------------
    cohort = extract_cohort(
        fx["icustays"], fx["patients"], fx["admissions"], use_icu=True, label="mortality"
    ).cache()
    n_cohort = cohort.count()
    assert n_cohort > 0
    # adult filter really filtered: minors exist in fixture
    adults = fx["patients"].filter(F.col("anchor_age") >= 18).count()
    assert cohort.select("subject_id").distinct().count() <= adults

    summary = {r["label"]: r["n_visits"] for r in cohort_summary(cohort).collect()}
    assert summary.get(1, 0) > 0, "fixture guarantees some in-visit deaths"
    assert summary.get(0, 0) > summary.get(1, 0), "mortality is the minority label"

    # every labeled death is inside its visit window
    bad = cohort.filter(
        (F.col("label") == 1)
        & ~((F.col("dod") >= F.col("intime")) & (F.col("dod") <= F.col("outtime")))
    ).count()
    assert bad == 0

    # --- stage 2: features -------------------------------------------------
    events = preproc_events(
        fx["chartevents"], cohort, "stay_id", "charttime", "intime"
    ).cache()
    # sanity filters: all normalized times within [0, los]
    assert events.filter(F.col("event_time_from_admit") < 0).count() == 0
    assert events.filter(
        F.col("event_time_from_admit") > F.col("los_hours")
    ).count() == 0
    assert events.count() < fx["chartevents"].count()  # out-of-window dropped

    # upper percentile must sit below the outlier mass (~2% at 9999.0)
    # for the clamp to pull them down
    cleaned = clean_events(
        events, uom_cutoff=0.9, outlier_pcts=(0.05, 0.95), outlier_mode="clamp"
    ).cache()
    # UoM filter dropped the minority-unit rows; clamp removed the 9999s
    assert cleaned.filter(F.col("valueuom") == "BPM").count() == 0
    assert cleaned.agg(F.max("valuenum")).first()[0] < 9999.0

    summary_df = generate_summary(cleaned, "stay_id", "itemid", "valuenum")
    assert summary_df.count() == 3  # three itemids

    # --- labs hadm imputation ---------------------------------------------
    labs = impute_hadm_ids(fx["labevents"], fx["admissions"])
    before_null = fx["labevents"].filter(F.col("hadm_id").isNull()).count()
    after_null = labs.filter(F.col("hadm_id").isNull()).count()
    assert labs.count() == fx["labevents"].count()  # row-preserving
    assert after_null < before_null  # most in-window labs got imputed

    # --- stage 3: time series + ML boundary --------------------------------
    dense = generate_timeseries(
        cleaned.withColumnRenamed("event_time_from_admit", "t"),
        cohort,
        time_col="t",
        include_hours=24,
        bucket_hours=2,
        impute="mean",
    ).cache()
    # dense grid: every (stay, item) series has exactly 12 buckets
    per_series = dense.groupBy("stay_id", "itemid").agg(F.count(F.lit(1)).alias("n"))
    assert per_series.filter(F.col("n") != 12).count() == 0
    # cascade leaves no nulls
    assert dense.filter(F.col("value").isNull()).count() == 0

    features = ml_feature_matrix(
        dense, feature_codes=[220045, 220179, 220210], agg="mean"
    )
    assert features.count() == dense.select("stay_id").distinct().count()

    tensors = dl_tensor_frame(dense)
    row = tensors.first()
    assert all(len(v) == 12 for v in row["series"].values())

    train, test = train_test_split_ids(cohort, weights=(0.7, 0.3))
    assert train.count() + test.count() == n_cohort


def test_run_pipeline_orchestrator(spark, mimic_fixture, tmp_path):
    """The one-call pipeline writes every stage and returns consistent
    frames (the reference's mainPipeline flow end to end)."""
    import os

    from mimic_iv_data_pipeline_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    out = str(tmp_path / "pipe")
    stages = run_pipeline(
        spark,
        {
            "visits": mimic_fixture["icustays"],
            "patients": mimic_fixture["patients"],
            "admissions": mimic_fixture["admissions"],
            "events": mimic_fixture["chartevents"],
        },
        out,
        PipelineConfig(include_hours=24, bucket_hours=2, outlier_pcts=(0.05, 0.95)),
    )
    for stage in ["cohort", "events", "summary", "timeseries", "features", "tensors"]:
        assert os.path.isdir(os.path.join(out, stage)), stage
        assert spark.read.parquet(os.path.join(out, stage)).count() > 0, stage

    # stage consistency: features and tensors cover the same visits
    assert stages["features"].count() == stages["tensors"].count()
    n_buckets = 12
    row = stages["tensors"].first()
    assert all(len(v) == n_buckets for v in row["series"].values())


def test_feature_vocab_cap(spark):
    """An unbounded distinct-itemid collect is a driver-OOM risk; the cap
    must raise (pointing at feature_codes) instead of materializing."""
    from mimic_iv_data_pipeline_spark.plans.pipeline import _collect_feature_vocab

    dense = spark.range(100).select(F.col("id").alias("itemid"))
    with pytest.raises(ValueError, match="feature_codes"):
        _collect_feature_vocab(dense, cap=10)
    # under the cap: returns the full vocabulary
    small = spark.range(5).select(F.col("id").alias("itemid"))
    assert sorted(_collect_feature_vocab(small, cap=10)) == [0, 1, 2, 3, 4]


def test_run_pipeline_labels_vocab_collect(spark, mimic_fixture, tmp_path, monkeypatch):
    """The feature-vocab collect runs under a ``pipeline: vocab ...``
    job description like every boundary and leaf, so the event log
    attributes its job to a stage; the label is cleared afterwards."""
    from mimic_iv_data_pipeline_spark.plans import pipeline

    sc = spark.sparkContext
    seen = []
    original = pipeline._collect_feature_vocab

    def spy(dense, cap):
        seen.append(sc.getLocalProperty("spark.job.description"))
        return original(dense, cap=cap)

    monkeypatch.setattr(pipeline, "_collect_feature_vocab", spy)
    pipeline.run_pipeline(
        spark,
        {
            "visits": mimic_fixture["icustays"],
            "patients": mimic_fixture["patients"],
            "admissions": mimic_fixture["admissions"],
            "events": mimic_fixture["chartevents"],
        },
        str(tmp_path / "unused"),
        pipeline.PipelineConfig(include_hours=24, bucket_hours=2),
        handoff="memory",
    )
    assert len(seen) == 1 and (seen[0] or "").startswith("pipeline: vocab"), seen
    assert sc.getLocalProperty("spark.job.description") is None


def test_run_pipeline_handoff_modes_value_equal(spark, mimic_fixture, tmp_path):
    """handoff="memory" (localCheckpoint boundaries, lazy leaves) must
    produce byte-for-byte the same stage relations as the default
    parquet file handoffs — the r10-verdict seam is a PHYSICAL choice
    only (plans/pipeline.py:run_pipeline)."""
    from mimic_iv_data_pipeline_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )

    tables = {
        "visits": mimic_fixture["icustays"],
        "patients": mimic_fixture["patients"],
        "admissions": mimic_fixture["admissions"],
        "events": mimic_fixture["chartevents"],
    }
    cfg = PipelineConfig(
        include_hours=24, bucket_hours=2, outlier_pcts=(0.05, 0.95)
    )
    disk = run_pipeline(spark, tables, str(tmp_path / "pq"), cfg)
    mem = run_pipeline(spark, tables, str(tmp_path / "unused"), cfg, handoff="memory")

    import os

    assert not os.path.exists(str(tmp_path / "unused"))  # memory mode writes nothing

    def rows(df, key_cols):
        return sorted(
            (tuple(r) for r in df.collect()),
            key=lambda t: tuple((v is None, v) for v in t[: len(key_cols)]),
        )

    for stage, keys in (
        ("cohort", ["stay_id"]),
        ("events", ["stay_id", "itemid", "charttime"]),
        ("summary", ["itemid"]),
        ("timeseries", ["stay_id", "itemid", "bucket"]),
        ("features", ["stay_id"]),
    ):
        d, m = disk[stage], mem[stage]
        assert d.columns == m.columns, stage
        assert rows(d, keys) == rows(m, keys), stage
    # tensors: map-typed series column — compare as sorted dict items
    dt = {r[0]: sorted(r["series"].items()) for r in disk["tensors"].collect()}
    mt = {r[0]: sorted(r["series"].items()) for r in mem["tensors"].collect()}
    assert dt == mt
