"""Full-pipeline orchestrator: the reference's ``mainPipeline.ipynb``
flow (cohort → features → cleaning → time series → ML assembly) as one
function with Parquet stage boundaries.

The reference hands off csv.gz files between stages and re-reads them
(``feature_selection_*.py``); here each stage is a lazy DAG and the
caller chooses which boundaries to materialize — by default each stage
is written once (checkpointing the lineage, enabling stage-level
restarts) exactly where the reference wrote its files (SURVEY.md §3).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mimic_iv_data_pipeline_spark.plans.cohort import cohort_summary, extract_cohort
from mimic_iv_data_pipeline_spark.plans.features import (
    clean_events,
    generate_summary,
    preproc_events,
)
from mimic_iv_data_pipeline_spark.plans.ml_assembly import (
    dl_tensor_frame,
    ml_feature_matrix,
)
from mimic_iv_data_pipeline_spark.plans.timeseries import generate_timeseries


@dataclass
class PipelineConfig:
    """Mirrors the ipywidget knobs of ``mainPipeline.ipynb`` cells 5-25."""

    use_icu: bool = True
    label: str = "mortality"          # mortality | readmission | los
    gap_days: int = 30                 # readmission window
    los_threshold_hours: int = 72      # los task threshold
    min_age: int = 18
    include_hours: int = 24            # observation window (T2)
    bucket_hours: int = 1              # tumbling bucket size (T3)
    impute: str | None = "mean"        # None | mean | median (T6)
    uom_cutoff: float = 0.95           # A7 majority-unit cutoff
    outlier_pcts: tuple[float, float] | None = (0.02, 0.98)  # A8
    feature_codes: list = field(default_factory=list)  # allow-list; [] = all
    max_feature_vocab: int = 50_000    # cap on the pivoted feature vocabulary


def _as_nullable(schema):
    """Parquet read-back schema: files are read with every column
    nullable (Spark relaxes file-source schemas), so a writer-known
    schema must be relaxed the same way before being handed to
    ``spark.read.schema`` — otherwise the re-read would silently claim
    non-null guarantees the scan does not enforce."""
    from pyspark.sql import types as T

    def _null_type(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, _null_type(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(_null_type(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(_null_type(dt.keyType), _null_type(dt.valueType), True)
        return dt

    return _null_type(schema)


def _collect_feature_vocab(dense: DataFrame, cap: int = 50_000) -> list:
    """Distinct feature codes for the pivot, with a hard cap.

    Reads the densified stage (whose code set is EXACTLY what the
    matrix must cover — events is a superset when truncation removed
    codes); the scan is parquet-column-pruned to the single itemid
    column, so the extra pass costs one small column, not the stage.

    Spark's pivot needs an explicit value list, so a driver collect is
    unavoidable here — but it must be bounded: a pathological events
    table (free-text itemids, corrupted codes) could otherwise return
    millions of codes and OOM the driver AND produce a million-column
    pivot no engine survives. ``limit(cap + 1)`` bounds the collect
    itself; exceeding the cap is an error telling the caller to pass an
    explicit ``feature_codes`` allow-list (the reference's feature
    selection files serve the same role, feature_selection_hosp.py).
    """
    rows = dense.select("itemid").distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"feature vocabulary exceeds {cap} distinct itemids; pass an "
            f"explicit PipelineConfig.feature_codes allow-list (or raise "
            f"max_feature_vocab) — an unbounded pivot is a driver-OOM risk."
        )
    return [r["itemid"] for r in rows]


@contextmanager
def _job_label(sc, description: str):
    """Label the jobs this thread submits (descriptions are thread-local)
    so Spark's event log and UI attribute the pipeline's wall per stage.
    The second word of every label is the stage name."""
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def run_pipeline(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    out_dir: str,
    config: PipelineConfig | None = None,
    handoff: str = "parquet",
    leaf_consumer=None,
) -> dict[str, DataFrame]:
    """Execute the full flow; returns the per-stage DataFrames and
    (``handoff="parquet"``) writes each stage under ``out_dir``
    (cohort/, events/, summary/, timeseries/, features/, tensors/).

    ``handoff`` picks the stage-boundary strategy (r10 verdict item 6):

    * ``"parquet"`` (default) — write + re-read every stage, mirroring
      the reference's csv.gz file handoffs (mainPipeline.ipynb →
      feature_selection_*.py re-reads): stage-level restartability and
      an inspectable on-disk artifact per stage, at the cost of six
      serialize/deserialize round-trips.
    * ``"memory"`` — no intermediate files: multi-consumer stages
      (cohort, events, timeseries) are pinned via
      :func:`~mimic_iv_data_pipeline_spark.engine.materialize`
      (localCheckpoint here, reliable checkpoint on a cluster via the
      ``spark.graft.materialize`` conf) so each is computed exactly
      once, and leaf stages (summary, features, tensors) stay lazy for
      the caller to consume or write. Same values as the parquet mode
      (pinned by tests/test_r11_wave.py); ``out_dir`` is unused.

    ``tables`` needs: visits (icustays or admissions), patients,
    admissions, events (chart or lab shaped: id + charttime + itemid +
    valuenum + valueuom).

    ``leaf_consumer`` (memory mode only): optional ``fn(df, name)``
    submitted to the overlap pool per leaf stage, so a caller that is
    going to FORCE the leaves anyway (the bench's noop sink; a user
    writing them to their own store) gets the same §2.6 back-fill the
    parquet mode's async leaf writes already have — summary's job
    overlaps the timeseries boundary instead of serializing after it.
    All consumer futures are joined before run_pipeline returns; the
    returned leaf DataFrames are unchanged (still the lazy plans).
    """
    if handoff not in ("parquet", "memory"):
        raise ValueError(f"run_pipeline: handoff must be 'parquet' or 'memory', got {handoff!r}")
    cfg = config or PipelineConfig()
    id_col = "stay_id" if cfg.use_icu else "hadm_id"
    anchor = "intime" if cfg.use_icu else "admittime"

    # Leaf writes overlap (guide §2.6: actions are only sequential
    # because the driver calls them sequentially): summary depends only
    # on the events boundary, so its write back-fills executors while
    # the timeseries boundary computes; features and tensors (both
    # consumers of the dense boundary) overlap each other. Two in-flight
    # jobs is enough to fill stage tails without fighting for cores.
    # Same writes, same artifacts, same return values — only the
    # driver-side sequencing changes.
    from concurrent.futures import ThreadPoolExecutor

    pool: ThreadPoolExecutor | None = (
        ThreadPoolExecutor(max_workers=2)
        if handoff == "parquet" or leaf_consumer is not None
        else None
    )
    leaf_futures: list = []

    sc = spark.sparkContext

    def _boundary(df: DataFrame, name: str) -> DataFrame:
        """Multi-consumer stage boundary: parquet round-trip or an
        in-memory materialization (computed once either way)."""
        with _job_label(sc, f"pipeline: {name} boundary ({handoff})"):
            if handoff == "parquet":
                df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
                # Re-read with the schema we just wrote (nullable-
                # normalized: parquet read-back reports every file
                # column nullable) instead of re-inferring it from the
                # footer — the inference is a driver-side file-listing
                # + footer read per boundary (guide §5/§6; same move as
                # readers.py's schema catalog, but here the writer
                # already KNOWS the schema, so no catalog is needed).
                return spark.read.schema(_as_nullable(df.schema)).parquet(
                    os.path.join(out_dir, name)
                )
            from mimic_iv_data_pipeline_spark.engine import materialize

            return materialize(df)

    def _leaf(df: DataFrame, name: str) -> DataFrame:
        """Terminal stage: written in parquet mode (asynchronously — the
        futures are joined before run_pipeline returns), lazy in memory
        mode (handed to ``leaf_consumer`` on the same pool if given)."""
        if handoff == "parquet":

            def _write(d=df, n=name):
                # descriptions are thread-local: label inside the pool thread
                with _job_label(sc, f"pipeline: {n} leaf write"):
                    d.write.mode("overwrite").parquet(os.path.join(out_dir, n))

            leaf_futures.append(pool.submit(_write))
        elif leaf_consumer is not None:

            def _consume(d=df, n=name):
                with _job_label(sc, f"pipeline: {n} leaf consume"):
                    leaf_consumer(d, n)

            leaf_futures.append(pool.submit(_consume))
        return df

    # The whole body runs under try/finally (ADVICE r11): if any stage
    # after a _leaf submit raises (e.g. the feature-vocab cap), the
    # in-flight leaf writes must be joined before the exception reaches
    # the caller — otherwise caller cleanup (bench's rmtree of out_dir)
    # races the still-running writes and masks the original error with
    # confusing secondary failures. cancel_futures drops queued-but-
    # unstarted writes; shutdown(wait=True) joins the running ones.
    try:
        return _run_pipeline_body(
            spark, tables, out_dir, cfg, handoff, id_col, anchor,
            _boundary, _leaf, leaf_futures,
        )
    finally:
        if pool is not None:
            pool.shutdown(wait=True, cancel_futures=True)


def _run_pipeline_body(
    spark, tables, out_dir, cfg, handoff, id_col, anchor,
    _boundary, _leaf, leaf_futures,
) -> dict[str, DataFrame]:
    cohort = extract_cohort(
        tables["visits"],
        tables["patients"],
        tables.get("admissions"),
        use_icu=cfg.use_icu,
        label=cfg.label,
        gap_days=cfg.gap_days,
        los_threshold_hours=cfg.los_threshold_hours,
        min_age=cfg.min_age,
    )
    cohort = _boundary(cohort, "cohort")

    raw_events = tables["events"]
    if (
        not cfg.use_icu
        and "hadm_id" in raw_events.columns
        and "subject_id" in raw_events.columns
        and "admissions" in tables
    ):
        # hosp mode: labevents carry ~30% null hadm_id in real MIMIC —
        # preproc_events' inner join on the id would silently drop them.
        # The reference imputes hadm_id FIRST (labs_preprocess_util);
        # mirror that here (rows that stay null after imputation are
        # dropped by the join, exactly as the reference drops them).
        from mimic_iv_data_pipeline_spark.plans.features import impute_hadm_ids

        raw_events = impute_hadm_ids(raw_events, tables["admissions"])
    events = preproc_events(raw_events, cohort, id_col, "charttime", anchor)
    events = clean_events(
        events, uom_cutoff=cfg.uom_cutoff, outlier_pcts=cfg.outlier_pcts
    )
    if cfg.feature_codes:
        from mimic_iv_data_pipeline_spark.plans.features import features_selection

        allow = spark.createDataFrame([(c,) for c in cfg.feature_codes], "itemid long")
        events = features_selection(events, allow, "itemid")
    events = _boundary(events, "events")

    summary = _leaf(generate_summary(events, id_col, "itemid", "valuenum"), "summary")

    dense = generate_timeseries(
        events.withColumnRenamed("event_time_from_admit", "t"),
        cohort,
        id_col=id_col,
        time_col="t",
        include_hours=cfg.include_hours,
        bucket_hours=cfg.bucket_hours,
        anchor="last" if cfg.label == "readmission" else "first",
        impute=cfg.impute,
        # widen the densify/inline expansion tail to the shuffle width
        # the session was sized for — AQE would coalesce it by packed
        # BYTES and serialize the n_buckets× expansion (see the
        # operator comment; 1-task tail observed in the memory twin)
        expand_parallelism=int(
            spark.conf.get("spark.sql.shuffle.partitions", "200")
        ),
    )
    dense = _boundary(dense, "timeseries")

    codes = cfg.feature_codes
    if not codes:
        with _job_label(spark.sparkContext, "pipeline: vocab collect"):
            codes = _collect_feature_vocab(dense, cap=cfg.max_feature_vocab)
    features = _leaf(
        ml_feature_matrix(dense, id_col=id_col, feature_codes=codes, agg="mean"),
        "features",
    )

    tensors = _leaf(dl_tensor_frame(dense, id_col=id_col), "tensors")

    for f in leaf_futures:
        f.result()  # propagate the first write failure, if any

    return {
        "cohort": cohort,
        "cohort_summary": cohort_summary(cohort),
        "events": events,
        "summary": summary,
        "timeseries": dense,
        "features": features,
        "tensors": tensors,
    }
