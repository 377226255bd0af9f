"""Training-example preparation: model-based quality scoring plumbing
and deterministic masking-objective layout.

Two ops every LLM data pipeline runs between curation and tensors:

* **hashed linear scoring** — the fastText-architecture quality/domain
  classifier (Joulin et al. 2016; the CCNet / RedPajama quality-filter
  shape): hash word n-grams into a fixed bucket space, average the
  bucket weights, squash. The WEIGHTS are injectable (the trained
  model is caller territory, same seam as `operators/nlp.py`); the
  Spark-side plumbing — hashing, bucket lookup, mean, sigmoid — is
  what this operator owns, and it is one codegen projection over a
  broadcast weight array.
* **masking layout** — BERT-style iid token masking and T5-style
  fixed-length span corruption, made DETERMINISTIC by drawing each
  position's pseudo-random from a content-addressed md5 (the
  hash-split primitive): the same document always masks identically,
  across retries, repartitions, and engines — which makes the masking
  plan oracle-checkable and training-data reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mimic_iv_data_pipeline_spark.engine import materialize

from mimic_iv_data_pipeline_spark.functions.rounding import dround
from mimic_iv_data_pipeline_spark.operators.text import tokens

__all__ = [
    "hashed_linear_score",
    "mask_layout",
    "default_hash_weights",
    "target_encode_kfold",
]


def _bucket_of(s: Column, n_buckets: int) -> Column:
    """md5-prefix bucket (portability contract of the sampling family)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("feat:"), s)), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(n_buckets),
    )


def default_hash_weights(n_buckets: int) -> list[float]:
    """Deterministic stand-in weight vector in [−1, 1] derived from the
    bucket index via the same md5 trick — lets the differential oracle
    reproduce scores exactly when no trained model is supplied. Swap in
    real trained weights for production use."""
    import hashlib

    out = []
    for b in range(n_buckets):
        h = int(hashlib.md5(f"w:{b}".encode()).hexdigest()[:8], 16)
        out.append(round(h / float(1 << 31) - 1.0, 6))
    return out


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[float],
    bias: float = 0.0,
    use_bigrams: bool = True,
) -> DataFrame:
    """Score each document with a hashed bag-of-n-grams linear model:
    ``sigmoid(bias + mean_f w[bucket(f)])`` over word unigrams (and
    bigrams), fastText's inference rule.

    Output ``(id, n_features, score)``. The weight table broadcasts as
    ONE array literal inside the plan (|w| ≤ ~1M floats — the fastText
    bucket regime); feature hashing and the mean are codegen
    expressions, so scoring rides the first corpus scan for free.
    """
    n_buckets = len(weights)
    w_arr = F.array(*[F.lit(float(x)) for x in weights])
    toks = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__t")
    ).withColumn(
        "__feats",
        F.concat(
            F.col("__t"),
            F.when(
                F.lit(use_bigrams) & (F.size("__t") > 1),
                F.expr(
                    "transform(slice(__t, 1, size(__t) - 1), "
                    "(x, i) -> concat(x, ' ', element_at(__t, i + 2)))"
                ),
            ).otherwise(F.array()),
        ),
    )
    bucketed = toks.select(
        id_col, F.explode("__feats").alias("__f")
    ).filter(F.col("__f") != "").select(
        id_col, _bucket_of(F.col("__f"), n_buckets).alias("__b")
    )
    per_doc = bucketed.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_features"),
        F.avg(F.element_at(w_arr, (F.col("__b") + 1).cast("int"))).alias("__mw"),
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(bias) + F.col("__mw"))))
    return per_doc.select(id_col, "n_features", dround(score, 6).alias("score"))


def mask_layout(
    df: DataFrame,
    id_col: str,
    text_col: str,
    mask_rate: float = 0.15,
    span_len: int = 1,
) -> DataFrame:
    """Deterministic masking layout per document.

    ``span_len=1`` is BERT-style iid masking: position ``i`` masks iff
    ``u(doc, i) < mask_rate`` with ``u`` a content-addressed md5
    uniform. ``span_len=L>1`` is fixed-length span corruption
    (T5-style): position ``i`` STARTS a span iff
    ``u(doc, i) < mask_rate / L`` (keeping the expected masked
    fraction ≈ ``mask_rate``), and a position is masked iff any of the
    previous ``L−1`` positions (or itself) started one — a rows-window
    max, so overlapping spans merge naturally.

    Output ``(id, n_tokens, n_masked, mask_ratio, masked_pos_csv)`` —
    the LAYOUT (what to mask), not the corrupted text: emitting
    positions keeps the op format-agnostic (MLM labels, T5 sentinel
    insertion, and PrefixLM all consume the same layout) and the
    output scalar/CSV (driver-canonicalizer-safe). One posexplode, one
    window, one groupBy — all keyed on the doc.
    """
    p_start = mask_rate / span_len
    pos = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("__i", "__tok")
    ).filter(F.col("__tok") != "")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("mask:"),
                        F.col(id_col).cast("string"),
                        F.lit(":"),
                        F.col("__i").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    started = pos.withColumn("__s", (u < p_start).cast("int"))
    w = (
        Window.partitionBy(id_col)
        .orderBy("__i")
        .rowsBetween(-(span_len - 1), 0)
    )
    masked = started.withColumn("__m", F.max("__s").over(w))
    return masked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("__m").cast("long").alias("n_masked"),
        dround(F.sum("__m") / F.count(F.lit(1)), 6).alias("mask_ratio"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(F.col("__m") == 1, F.col("__i")))
                ),
                lambda x: x.cast("string"),
            ),
        ).alias("masked_pos_csv"),
    )


def target_encode_kfold(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    label_col: str,
    k: int = 5,
    smoothing: float = 10.0,
    salt: str = "te",
    out_col: str = "te",
    fold_col: str = "fold",
    hash_fn: str = "md5",
) -> DataFrame:
    """Leakage-safe k-fold target encoding of a categorical feature
    (public: Micci-Barreca 2001 smoothed target statistics; the
    out-of-fold scheme is the CatBoost/kaggle-standard leakage guard).

    Each row's encoding uses ONLY labels from the other k-1 folds:

        te = (s_oof(cat) + m · prior_oof) / (c_oof(cat) + m)

    where ``s_oof/c_oof`` are the label sum/count of the row's category
    EXCLUDING its own fold, and ``prior_oof`` is the global label mean
    excluding the fold. Folds are content-addressed hash-mod
    assignments (:func:`~...sampling.kfold_ids` convention) so the
    encoding is bit-stable under repartitioning, retries, and engines —
    mean-encoding with the row's own label included (the naive GROUP BY
    join) leaks the target and inflates validation scores; the
    per-fold exclusion is the fix.

    ``hash_fn`` picks the fold hash: ``'md5'`` (default) is the
    engine-neutral convention every SQL oracle can mirror;
    ``'xxhash64'`` is the production fast path — measured 20× cheaper
    per pass at 15M rows (12.3 s vs 0.6 s; PERF.md, "r5 third-wave
    probes"), same content-addressed stability, just not expressible in
    DuckDB. Same seam as ``hyperplane_signature(plane_hash=...)``.

    Scale shape: ONE (cat, fold) aggregate (≤ |cats|·k rows) plus a
    k-row fold aggregate and a 1-row global — all broadcast back onto
    the fact relation; no window over the facts, no second scan of the
    label column. ``smoothing`` must be > 0 (it is also the div-0
    guard for single-fold categories).
    """
    from mimic_iv_data_pipeline_spark.operators.sampling import _hash_long

    if k < 2:
        raise ValueError(f"target_encode_kfold: k must be >= 2, got {k}")
    if smoothing <= 0:
        raise ValueError("target_encode_kfold: smoothing must be > 0")
    if hash_fn == "md5":
        fold = F.pmod(_hash_long(F.col(key_col), f"{salt}:{k}"), F.lit(k))
    elif hash_fn == "xxhash64":
        fold = F.pmod(F.xxhash64(F.lit(f"{salt}:{k}"), F.col(key_col)), F.lit(k))
    else:
        raise ValueError(f"target_encode_kfold: unknown hash_fn={hash_fn!r}")
    base = df.withColumn(fold_col, fold.cast("long")).withColumn(
        "__y", F.col(label_col).cast("double")
    )
    # ONE pass over the facts builds the (cat, fold) joint; the
    # category totals, fold totals, and global total all re-aggregate
    # that ≤|cats|·k-row relation (margins-from-the-joint, same trick
    # as mutual_information) — without this, gf/g each rescanned the
    # facts and recomputed the md5 fold per row (measured 45 s → 23 s
    # at 15M rows; PERF.md, "r5 third-wave probes").
    cf = base.groupBy(cat_col, fold_col).agg(
        F.sum("__y").alias("__s_cf"), F.count(F.lit(1)).alias("__c_cf")
    ).transform(materialize)
    ct = cf.groupBy(cat_col).agg(
        F.sum("__s_cf").alias("__s_c"), F.sum("__c_cf").alias("__c_c")
    )
    gf = cf.groupBy(fold_col).agg(
        F.sum("__s_cf").alias("__s_f"), F.sum("__c_cf").alias("__c_f")
    )
    g = cf.agg(
        F.sum("__s_cf").alias("__s_g"), F.sum("__c_cf").alias("__c_g")
    )
    prior = (F.col("__s_g") - F.col("__s_f")) / F.nullif(
        (F.col("__c_g") - F.col("__c_f")).cast("double"), F.lit(0.0)
    )
    enc = (
        (F.col("__s_c") - F.col("__s_cf"))
        + F.lit(smoothing) * F.coalesce(prior, F.col("__s_g") / F.col("__c_g"))
    ) / ((F.col("__c_c") - F.col("__c_cf")) + F.lit(smoothing))
    # NULL-SAFE category join: a plain equi-join on the category would
    # silently DROP every NULL-category row from the output (NULL !=
    # NULL in join predicates) — the same class of bug the r5 SCD-2
    # compaction fix closed. NULL is a legitimate category level here
    # (groupBy already treats it as one); eqNullSafe keeps those rows
    # and encodes them like any other level. The fold key is never
    # null (hash of the key column), so it stays a plain condition.
    cf_a = cf.select(
        F.col(cat_col).alias("__cf_cat"),
        F.col(fold_col).alias("__cf_fold"),
        "__s_cf",
        "__c_cf",
    )
    ct_a = ct.select(F.col(cat_col).alias("__ct_cat"), "__s_c", "__c_c")
    return (
        base.join(
            F.broadcast(cf_a),
            F.col(cat_col).eqNullSafe(F.col("__cf_cat"))
            & (F.col(fold_col) == F.col("__cf_fold")),
        )
        .join(F.broadcast(ct_a), F.col(cat_col).eqNullSafe(F.col("__ct_cat")))
        .join(F.broadcast(gf), fold_col)
        .crossJoin(F.broadcast(g))
        .withColumn(out_col, enc)
        .drop("__y", "__cf_cat", "__cf_fold", "__ct_cat", "__s_cf", "__c_cf",
              "__s_c", "__c_c", "__s_f", "__c_f", "__s_g", "__c_g")
    )


def best_split(
    df: DataFrame,
    x_col: str,
    label_col: str,
) -> DataFrame:
    """Information-gain scan of every candidate binary split of a
    numeric feature against a binary label (public: the CART/C4.5
    decision-stump split criterion, Quinlan 1986) — the univariate
    feature-screening / binning primitive run before tree training or
    monotonic binning.

    For each distinct value v (candidate: left = x ≤ v, excluding the
    max, whose right side is empty):

        IG(v) = H(n⁺, n) − (nL/n)·H(nL⁺, nL) − (nR/n)·H(nR⁺, nR)

    with H the binary entropy in nats from exact integer counts —
    every double derives from the same pinned op sequence both engines
    execute, so the full gain curve hash-verifies.

    Scale shape: ONE groupBy(x) collapse of the facts (map-side
    combinable); cumulative class counts come from one ordered window
    over the |distinct x| relation (the rank_auc regime — never the
    raw rows); totals broadcast back. High-cardinality features should
    be pre-quantized upstream (bins ARE the use case).

    Returns one row per candidate:
    ``(v, n_left, pos_left, n_right, pos_right, ig)`` — unrounded.
    """
    # complete-case: NULL labels inflate n without pos; NULL x forms a
    # phantom candidate
    per = (
        df.filter(F.col(x_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(F.col(x_col).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col(label_col).cast("long")).cast("long").alias("__p"),
        )
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "v",
        F.sum("__n").over(w).cast("long").alias("n_left"),
        F.sum("__p").over(w).cast("long").alias("pos_left"),
    )
    tot = per.agg(
        F.sum("__n").cast("long").alias("__nt"),
        F.sum("__p").cast("long").alias("__pt"),
    )

    def _h(pos: Column, n: Column) -> Column:
        """Binary entropy (nats) from counts; 0·ln0 terms drop out."""
        pD, nD = pos.cast("double"), n.cast("double")
        p1 = pD / nD
        p0 = (nD - pD) / nD
        t1 = F.when(pos > 0, -p1 * F.log(p1)).otherwise(F.lit(0.0))
        t0 = F.when(n - pos > 0, -p0 * F.log(p0)).otherwise(F.lit(0.0))
        return t1 + t0

    j = cum.crossJoin(F.broadcast(tot)).filter(F.col("n_left") < F.col("__nt"))
    n_right = (F.col("__nt") - F.col("n_left")).alias("n_right")
    pos_right = (F.col("__pt") - F.col("pos_left")).alias("pos_right")
    parent = _h(F.col("__pt"), F.col("__nt"))
    left = _h(F.col("pos_left"), F.col("n_left"))
    right = _h(F.col("__pt") - F.col("pos_left"), F.col("__nt") - F.col("n_left"))
    ig = parent - (
        F.col("n_left").cast("double") / F.col("__nt").cast("double") * left
        + (F.col("__nt") - F.col("n_left")).cast("double")
        / F.col("__nt").cast("double")
        * right
    )
    return j.select("v", "n_left", "pos_left", n_right, pos_right, ig.alias("ig"))


def woe_iv(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight-of-evidence encoding with per-category information-value
    terms (public: the credit-scorecard standard, Siddiqi 2006;
    scikit-learn-contrib ``category_encoders.WOEEncoder`` semantics
    with additive smoothing):

        WoE(c) = ln( ((pos_c + s)/(pos + 2s)) / ((neg_c + s)/(neg + 2s)) )
        IV(c)  = (pos_share − neg_share) · WoE(c)

    where s is the Laplace ``smoothing`` that keeps single-class
    categories finite (the ±inf the unsmoothed textbook form produces).
    The supervised sibling of q154's target encoding — WoE is the
    monotone-odds transform scorecards require, and Σ IV(c) is the
    classic feature-strength screen (<0.02 useless, >0.5 suspicious).

    Scale shape: ONE (category) aggregate over the facts with
    conditional sums; the 1-row class totals broadcast back onto the
    |categories| relation. All doubles derive from exact longs in a
    pinned op sequence.

    NULL handling: a NULL category is its own row (GROUP BY
    semantics, like every categorical op here); a NULL label joins
    neither class (both conditional sums skip it) — complete-case per
    label, stated rather than hidden.

    Returns ``(cat, n_pos, n_neg, woe, iv_term)`` — unrounded.
    """
    s = float(smoothing)
    per = df.groupBy(F.col(cat_col).alias("cat")).agg(
        F.sum(F.col(label_col).cast("long")).cast("long").alias("n_pos"),
        F.sum(1 - F.col(label_col).cast("long")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").cast("long").alias("__pt"),
        F.sum("n_neg").cast("long").alias("__nt"),
    )
    j = per.crossJoin(F.broadcast(tot))
    ps = (F.col("n_pos").cast("double") + F.lit(s)) / (
        F.col("__pt").cast("double") + F.lit(2 * s)
    )
    ns = (F.col("n_neg").cast("double") + F.lit(s)) / (
        F.col("__nt").cast("double") + F.lit(2 * s)
    )
    woe = F.log(ps / ns)
    return j.select(
        "cat",
        "n_pos",
        "n_neg",
        woe.alias("woe"),
        ((ps - ns) * woe).alias("iv_term"),
    )


def time_decay_features(
    df: DataFrame,
    key_cols: str | list[str],
    ts_col: str,
    value_col: str,
    half_lives_days: list[float],
) -> DataFrame:
    """Exponential time-decay aggregates per key at the corpus
    snapshot time (public: the standard recency-weighted feature-store
    primitive — e.g. the half-life decayed counts of Agarwal et al.'s
    LinkedIn feature pipelines; one column per half-life):

        f_h(key) = Σ_rows value · 0.5^(Δt_days / h)

    with Δt = snapshot − event time in EXACT integer microseconds
    (epoch arithmetic, the q164 sub-second lesson) and the snapshot =
    max(ts) over the input (reproducible — no wall clock). Per-row
    terms are micro-quantized before the per-key sum, so each feature
    is an exact integer sum — order-insensitive, engine-portable
    (pow/exp2 is the same pinned double op in both engines).

    Scale shape: one 1-row snapshot aggregate broadcast back, ONE
    map-side-combinable keyed aggregate for ALL half-lives together.
    ``value_col`` must be integer-quantized. Returns
    ``(…key, n, decayed_<h> … )`` with one long micro-unit column per
    half-life.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not half_lives_days:
        raise ValueError("time_decay_features: need at least one half-life")
    snap = df.agg(F.unix_micros(F.max(ts_col)).alias("__snap_us"))
    dt_days = (
        (F.col("__snap_us") - F.unix_micros(F.col(ts_col))).cast("double")
        / F.lit(86400.0 * 1_000_000)
    )
    base = df.crossJoin(F.broadcast(snap))
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for h in half_lives_days:
        term = F.col(value_col).cast("double") * F.pow(
            F.lit(0.5), dt_days / F.lit(float(h))
        )
        name = f"decayed_{str(h).replace('.', '_')}"
        aggs.append(
            F.sum(
                F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("long")
            ).cast("long").alias(name)
        )
    return base.groupBy(*keys).agg(*aggs)
