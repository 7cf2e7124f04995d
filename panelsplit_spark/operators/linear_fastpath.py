"""Sufficient-statistics fast path for closed-form estimators.

The generic per-fold fit ships every train row of a fold into one
``applyInPandas`` task (reference semantics, application.py:54-139) —
correct, but a single task must hold a whole fold, which is the
documented skew ceiling at scale (SURVEY §4.2). For estimators whose fit
is a function of second-order moments — OLS / ridge / mean — the fold fit
collapses to ONE distributed aggregation:

    groupBy(fold_id).agg(Σw, Σwy, Σwxᵢ, Σwxᵢy, Σwxᵢxⱼ)

i.e. map-side partial aggregation over however many partitions the fold
spans (no fold-sized task anywhere), a shuffle of a few dozen doubles per
fold, and an O(d³) driver-side solve. Prediction similarly needs no
Python: per-fold coefficients travel as a tiny broadcast-joined frame, so
the whole OOF pass stays inside whole-stage codegen at any fold count.

The produced models are ordinary estimator objects (coef_/intercept_/
mean_ set), indistinguishable from pandas-path fits to downstream code.
"""

from __future__ import annotations

import threading
import weakref
from typing import Any, List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..estimators import (
    LinearRegression,
    MeanRegressor,
    Ridge,
    StandardScaler,
    clone,
)

__all__ = ["suffstats_fit", "linear_predict_frame", "sweep_scores", "logistic_irls", "glm_irls", "huber_irls"]

# Moment aggregates are a function of (data, folds, columns, null rule) —
# NOT of the estimator's hyper-parameters. A hyper-parameter search over
# the closed-form family therefore needs exactly ONE distributed
# aggregate: every candidate resolves from the cached moments with an
# O(d³) driver solve. The df is weakly keyed, so cache lifetime follows
# the data frame; the folds are keyed by CONTENT (see ``_cached_moments``);
# the lock makes concurrent candidate threads (BaseSearch n_jobs) compute
# the aggregate once and share it.
_MOMENT_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_CACHE_LOCK = threading.Lock()

#: fast path covers at most this many features (d² aggregate columns)
_MAX_FEATURES = 16


def _eligible_fit(estimator: Any) -> bool:
    return type(estimator) in (
        MeanRegressor,
        LinearRegression,
        Ridge,
        StandardScaler,
    )


def _null_rule(estimator: Any) -> str:
    """Which columns' NULLs poison this estimator's numpy fit:
    MeanRegressor only looks at y; linear models at X and y; the scaler
    only at X."""
    t = type(estimator)
    if t is MeanRegressor:
        return "y"
    if t is StandardScaler:
        return "x"
    return "xy"


def _fold_moments(
    df: DataFrame,
    cv,
    feats: List[str],
    y_col: str,
    sample_weight_col: Optional[str],
    drop_na_in_y: bool,
    null_rule: str,
) -> dict:
    """One grouped aggregate: per-fold (Σw, Σwy, Σwxᵢ, Σwxᵢy, Σwxᵢxⱼ,
    any-null flag), collected to a tiny driver dict."""
    cols = feats + [y_col]
    if sample_weight_col is not None:
        cols.append(sample_weight_col)
    assigned = cv.assign(df, roles=("train",), cols=cols)
    if drop_na_in_y:
        assigned = assigned.where(F.col(y_col).isNotNull())

    w = (
        F.col(sample_weight_col).cast("double")
        if sample_weight_col is not None
        else F.lit(1.0)
    )
    y = F.col(y_col).cast("double")
    xs = [F.col(c).cast("double") for c in feats]
    # The pandas path converts Spark NULLs to NaN, which poisons numpy
    # sums; Spark aggregates SKIP nulls, so reproduce the poisoning with
    # an explicit any-null flag per fold. MeanRegressor never looks at X,
    # so only y (and the weight) can poison it.
    null_cond = (
        y.isNull()
        if "y" in null_rule and not drop_na_in_y
        else F.lit(False)
    )
    if sample_weight_col is not None:
        null_cond = null_cond | F.col(sample_weight_col).isNull()
    if "x" in null_rule:
        for c in feats:
            null_cond = null_cond | F.col(c).isNull()
    aggs = [
        F.sum(w).alias("n"),
        F.sum(w * y).alias("sy"),
        F.max(F.when(null_cond, 1).otherwise(0)).alias("has_null"),
    ]
    for i, xi in enumerate(xs):
        aggs.append(F.sum(w * xi).alias(f"sx_{i}"))
        aggs.append(F.sum(w * xi * y).alias(f"sxy_{i}"))
        for j in range(i, len(xs)):
            aggs.append(F.sum(w * xi * xs[j]).alias(f"sxx_{i}_{j}"))
    return {
        r["fold_id"]: r
        for r in assigned.groupBy("fold_id").agg(*aggs).collect()
    }


def _cached_moments(
    df: DataFrame,
    cv,
    feats: List[str],
    y_col: str,
    sample_weight_col: Optional[str],
    drop_na_in_y: bool,
    null_rule: str,
) -> dict:
    """``_fold_moments`` through the memo. Folds are keyed by exactly
    what the fan-out join reads — per fold its train periods, test
    periods and snapshot value, in fold order. Not by the splitter
    object: ``drop_splits`` renumbers a splitter's folds in place, so an
    object key would hand the new fold 0 the moments of the dropped one.
    Not by period ranges: a range spans the splitter's own period list,
    so two splitters with equal ranges can hold different periods."""
    folds = tuple(
        (tuple(f.train_periods), tuple(f.test_periods), f.snapshot_value)
        for f in cv.spec.folds
    )
    key = (
        cv.period_col,
        cv.snapshot_col,
        folds,
        tuple(feats),
        y_col,
        sample_weight_col,
        bool(drop_na_in_y),
        null_rule,
    )
    with _CACHE_LOCK:
        per_df = _MOMENT_CACHE.setdefault(df, {})
        rows = per_df.get(key)
        if rows is None:
            rows = per_df[key] = _fold_moments(
                df, cv, feats, y_col, sample_weight_col, drop_na_in_y,
                null_rule,
            )
    return rows


def suffstats_fit(
    estimator: Any,
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: Optional[str],
    cv,
    sample_weight_col: Optional[str] = None,
    drop_na_in_y: bool = False,
) -> Optional[List[Any]]:
    """Fit one clone per fold from per-fold moment aggregates; returns
    the fitted models in fold order, or ``None`` when the estimator is
    outside the closed-form family (caller falls back to the grouped
    pandas fit)."""
    if y_col is None or not _eligible_fit(estimator):
        return None
    feats = list(feature_cols)
    if len(feats) > _MAX_FEATURES:
        return None

    rows = _cached_moments(
        df, cv, feats, y_col, sample_weight_col, drop_na_in_y,
        _null_rule(estimator),
    )
    return _solve_from_moments(estimator, rows, feats, cv.n_splits)


def _solve_from_moments(
    estimator: Any, rows: dict, feats: List[str], n_splits: int
) -> List[Any]:
    """Driver-side O(d³) per-fold solve from collected moment rows —
    shared by single fits and whole-grid candidate sweeps (which reuse
    one moments pass for every hyper-parameter)."""
    d = len(feats)
    models: List[Any] = []
    for fid in range(n_splits):
        r = rows.get(fid)
        if r is None or not r["n"]:
            raise ValueError(
                f"Fold {fid} has no training rows; cannot fit. "
                "Use drop_splits() to remove degenerate folds first."
            )
        est = clone(estimator)
        poisoned = bool(r["has_null"])
        if type(est) is StandardScaler:
            if poisoned:
                est.mean_ = np.full(d, np.nan)
                est.scale_ = np.full(d, np.nan)
                models.append(est)
                continue
            n = float(r["n"])
            mu = np.array([r[f"sx_{i}"] / n for i in range(d)])
            if est.with_std:
                var = np.array(
                    [r[f"sxx_{i}_{i}"] / n for i in range(d)]
                ) - mu**2
                s = np.sqrt(np.maximum(var, 0.0))
                s[s == 0.0] = 1.0
                est.scale_ = s
            else:
                est.scale_ = np.ones(d)
            est.mean_ = mu if est.with_mean else np.zeros(d)
            models.append(est)
            continue
        if type(est) is MeanRegressor:
            est.mean_ = (
                float("nan") if poisoned
                else float(r["sy"]) / float(r["n"])
            )
            models.append(est)
            continue
        if poisoned:
            est.intercept_ = float("nan")
            est.coef_ = np.full(d, np.nan)
            models.append(est)
            continue
        sxx = np.empty((d, d))
        for i in range(d):
            for j in range(i, d):
                sxx[i, j] = sxx[j, i] = r[f"sxx_{i}_{j}"]
        sx = np.array([r[f"sx_{i}"] for i in range(d)])
        sxy = np.array([r[f"sxy_{i}"] for i in range(d)])
        if est.fit_intercept:
            g = np.empty((d + 1, d + 1))
            g[0, 0] = r["n"]
            g[0, 1:] = g[1:, 0] = sx
            g[1:, 1:] = sxx
            rhs = np.concatenate([[r["sy"]], sxy])
        else:
            g, rhs = sxx, sxy
        if type(est) is Ridge:
            pen = est.alpha * np.eye(g.shape[0])
            if est.fit_intercept:
                pen[0, 0] = 0.0
            g = g + pen
        beta, *_ = np.linalg.lstsq(g, rhs, rcond=None)
        if est.fit_intercept:
            est.intercept_ = float(beta[0])
            est.coef_ = beta[1:]
        else:
            est.intercept_ = 0.0
            est.coef_ = beta
        models.append(est)
    return models


def linear_predict_frame(
    assigned: DataFrame,
    fitted_estimators: List[Any],
    feature_cols: Sequence[str],
    method: str,
    out_fields: Sequence[str],
    output_col: str,
) -> Optional[DataFrame]:
    """Apply closed-form models as a broadcast join against a tiny
    (fold_id, intercept, coefs) frame + one arithmetic projection —
    whole pass stays in codegen, no Python workers, no model broadcast.

    Coefficients travel as DATA (a joined frame), not as literals: the
    generated code is identical across fits, so warmed-up compiled
    classes are reused no matter what the model learned. Returns ``None``
    when any model is outside the closed-form family (caller falls back
    to the broadcast-model pandas apply)."""
    if method != "predict":
        return None
    out = _join_coefs(
        assigned, [fitted_estimators], feature_cols, by_candidate=False
    )
    if out is None:
        return None
    joined, pred = out
    return joined.select(*out_fields, pred.alias(output_col))


def _join_coefs(
    assigned: DataFrame,
    grid: List[List[Any]],
    feature_cols: Sequence[str],
    by_candidate: bool,
):
    """Broadcast-join ``assigned`` against the tiny
    ``(fold_id, __b0, __bs)`` coefficient frame of ``grid`` (per
    candidate, the fitted models in fold order) and build the linear
    prediction column over it. A grid sweep keys the frame by
    ``__cand`` as well (``by_candidate``); a single fit leaves the key
    out, as a dropped column would stay in the broadcast's scan.
    Returns ``(joined, prediction)``, or ``None`` when
    any model is unfitted, outside the closed-form family, or the grid
    mixes MeanRegressor with linear models (caller keeps the generic
    path)."""
    models = [m for ms in grid for m in ms]
    mean_only = all(type(m) is MeanRegressor for m in models)
    for m in models:
        fitted = (
            m.mean_ is not None
            if mean_only
            else type(m) in (LinearRegression, Ridge) and m.coef_ is not None
        )
        if not fitted:
            return None
    rows = []
    for ci, ms in enumerate(grid):
        for fid, m in enumerate(ms):
            row = (
                (fid, float(m.mean_), [])
                if mean_only
                else (
                    fid,
                    float(m.intercept_),
                    [float(b) for b in np.asarray(m.coef_).reshape(-1)],
                )
            )
            rows.append((ci, *row) if by_candidate else row)
    schema = "fold_id int, __b0 double, __bs array<double>"
    if by_candidate:
        schema = "__cand int, " + schema
    coefs = assigned.sparkSession.createDataFrame(rows, schema)
    pred: Column = F.col("__b0")
    if not mean_only:
        # MeanRegressor ignores X entirely (NaN features must not
        # poison it), so feature terms are added only for linear models
        for i, c in enumerate(feature_cols):
            pred = pred + F.col("__bs")[i] * F.col(c).cast("double")
    return assigned.join(F.broadcast(coefs), "fold_id"), pred


def scaler_transform_frame(
    assigned: DataFrame,
    fitted_estimators: List[Any],
    feature_cols: Sequence[str],
    out_fields: Sequence[str],
    output_col: str,
) -> Optional[DataFrame]:
    """Per-fold StandardScaler transform as a broadcast join against a
    tiny (fold_id, mean, scale) frame + one array projection — the OOF
    feature pass of a scaler pipeline step stays entirely in codegen
    (no Python workers, no pickled-model broadcast)."""
    for m in fitted_estimators:
        if type(m) is not StandardScaler or m.mean_ is None:
            return None
    spark = assigned.sparkSession
    rows = [
        (
            fid,
            [float(x) for x in np.asarray(m.mean_).reshape(-1)],
            [float(x) for x in np.asarray(m.scale_).reshape(-1)],
        )
        for fid, m in enumerate(fitted_estimators)
    ]
    coefs = spark.createDataFrame(
        rows, "fold_id int, __mu array<double>, __sc array<double>"
    )
    joined = assigned.join(F.broadcast(coefs), "fold_id")
    arr = F.array(
        *[
            (F.col(c).cast("double") - F.col("__mu")[i])
            / F.col("__sc")[i]
            for i, c in enumerate(feature_cols)
        ]
    )
    return joined.select(*out_fields, arr.alias(output_col))


def sweep_scores(
    estimators: List[Any],
    df: DataFrame,
    feature_cols: Sequence[str],
    y_col: str,
    cv,
    metrics: "dict",
    roles: Sequence[str] = ("test",),
):
    """Score an ENTIRE candidate grid of closed-form estimators in two
    Spark jobs, independent of grid size.

    1. one cached moment aggregate (shared with ``suffstats_fit``) fits
       every candidate with an O(d³) driver solve each;
    2. one pass over the fact rows joined against the tiny broadcast
       ``(candidate, fold, coefficients)`` frame computes every
       candidate × fold × metric aggregate simultaneously — map-side
       partial aggregation, a few doubles per group on the wire.

    A 1000-point grid therefore costs the same cluster work as a single
    candidate — versus 1000 fit + 1000 score jobs on the generic path
    (the reference's per-candidate joblib loop, model_selection.py:
    653-722, re-subsets and refits the data per candidate).

    ``metrics`` maps metric name → fast-path key in
    ``metrics._SQL_METRICS`` (plus ``"r2"``). Returns
    ``(models_per_candidate, scores)`` where ``scores[(ci, role, mname)]``
    is the per-fold score list, or ``None`` if anything falls outside the
    closed-form/SQL-expressible envelope (caller uses the generic path).
    """
    from .metrics import _SQL_METRICS, metric_agg_expr, r2_aggs

    if not estimators or y_col is None:
        return None
    est0 = estimators[0]
    if not _eligible_fit(est0):
        return None
    if any(type(e) is not type(est0) for e in estimators):
        return None
    feats = list(feature_cols)
    if len(feats) > _MAX_FEATURES:
        return None
    for key in metrics.values():
        if key != "r2" and key not in _SQL_METRICS:
            return None

    if type(est0) is StandardScaler:
        return None  # transformers have no predict metrics to sweep
    rows = _cached_moments(
        df, cv, feats, y_col, None, False, _null_rule(est0)
    )
    models_per_cand = [
        _solve_from_moments(e, rows, feats, cv.n_splits)
        for e in estimators
    ]

    assigned = cv.assign(df, roles=tuple(roles), cols=feats + [y_col])
    out = _join_coefs(assigned, models_per_cand, feats, by_candidate=True)
    if out is None:
        return None
    joined, pred = out
    nan = F.lit(float("nan"))
    base = joined.select(
        "__cand",
        "role",
        "fold_id",
        # NULL→NaN so Spark aggregates reproduce numpy poisoning
        F.coalesce(F.col(y_col).cast("double"), nan).alias("__y"),
        F.coalesce(pred, nan).alias("__p"),
    )
    aggs = []
    need_r2 = any(k == "r2" for k in metrics.values())
    for mname, key in metrics.items():
        if key != "r2":
            aggs.append(
                metric_agg_expr(
                    key, F.col("__y"), F.col("__p"), nan_aware=True
                ).alias(f"__m_{mname}")
            )
    if need_r2:
        aggs += r2_aggs(F.col("__y"), F.col("__p"))
    scores: dict = {}
    for r in base.groupBy("__cand", "role", "fold_id").agg(*aggs).collect():
        for mname, key in metrics.items():
            if key == "r2":
                denom = r["ss_y2"] - r["s_y"] ** 2 / r["n"]
                val = 1.0 - r["ss_res"] / denom
            else:
                val = r[f"__m_{mname}"]
            scores.setdefault(
                (r["__cand"], r["role"], mname), {}
            )[r["fold_id"]] = float(val)
    # Index by fold POSITION 0..n_splits-1, NaN-filling folds with zero
    # rows for a role — a positional list built from only the folds
    # present would silently shift later folds into the wrong
    # split{j} column (ADVICE r01).
    folded = {
        k: [v.get(f, float("nan")) for f in range(cv.n_splits)]
        for k, v in scores.items()
    }
    return models_per_cand, folded


def logistic_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Distributed single-feature logistic regression via
    Newton/IRLS — the classification sibling of the closed-form OLS
    fast path, as ONE aggregation per Newton step.

    Per step (β fixed): executors compute per-row η = β₀+β₁x,
    μ = 1/(1+e^(−η)), and quantize the five Newton terms
    (w, wx, wx², y−μ, (y−μ)x with w = μ(1−μ)) to integer nano-units;
    the grouped sum of those LONGs is exact and order-independent, and
    the driver applies the 2×2 Cramer solve
    Δ = H⁻¹·g on plain IEEE doubles. So the whole fit is ``n_iter``
    scans with map-side combine — no fold-sized task, no collect of
    anything but ten integers per step.

    Cross-engine contract: starting from β = (0,0), step 1 involves NO
    transcendentals (μ = 0.5, w = 0.25 exactly); later steps quantize
    AFTER the one exp() call per row, absorbing libm ulp differences,
    and every β is derived from the integer sums by a fixed double
    expression — the same replay-the-iteration pattern as kmeans_fit /
    stream_online_linreg. Returns one dict per iteration:
    ``{it, sw, swx, swxx, g0, g1, beta0, beta1}`` (sums = exact LONG
    nano-units; betas = post-step doubles).
    """
    return glm_irls(df, x_col, y_col, family="binomial",
                    n_iter=n_iter, scale=scale)


def glm_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    family: str = "binomial",
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Single-feature GLM via Newton/IRLS with canonical links — the
    engine behind :func:`logistic_irls`, also serving Poisson (count)
    regression. One exact-integer aggregation per Newton step (see
    logistic_irls for the full cross-engine contract); per family:

    * ``binomial``: μ = 1/(1+e^(−η)), working weight w = μ(1−μ)
    * ``poisson``:  μ = e^η,           working weight w = μ

    Both start transcendental-free from β = (0,0) (μ = ½ resp. 1
    exactly), so step 1's sums are libm-independent on every engine.
    """
    if family not in ("binomial", "poisson"):
        raise ValueError(f"glm_irls: unknown family {family!r}")
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    b0, b1 = 0.0, 0.0
    out: List[dict] = []
    for it in range(1, n_iter + 1):
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        if family == "binomial":
            mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
            w = mu * (F.lit(1.0) - mu)
        else:
            mu = F.exp(eta)
            w = mu
        r = F.col("y") - mu

        def q(c: Column) -> Column:
            return F.round(c * F.lit(scale)).cast("long")

        row = pts.agg(
            F.sum(q(w)).alias("sw"),
            F.sum(q(w * F.col("x"))).alias("swx"),
            F.sum(q(w * F.col("x") * F.col("x"))).alias("swxx"),
            F.sum(q(r)).alias("g0"),
            F.sum(q(r * F.col("x"))).alias("g1"),
        ).collect()[0]
        sw, swx, swxx = float(row["sw"]), float(row["swx"]), float(row["swxx"])
        g0, g1 = float(row["g0"]), float(row["g1"])
        det = sw * swxx - swx * swx
        if det == 0.0:
            raise RuntimeError(f"glm_irls[{family}]: singular Hessian")
        # nano-unit scales cancel in H^-1 g, so the deltas are unitful
        d0 = (swxx * g0 - swx * g1) / det
        d1 = (sw * g1 - swx * g0) / det
        b0, b1 = b0 + d0, b1 + d1
        out.append(
            {
                "it": it,
                "sw": int(row["sw"]), "swx": int(row["swx"]),
                "swxx": int(row["swxx"]),
                "g0": int(row["g0"]), "g1": int(row["g1"]),
                "beta0": b0, "beta1": b1,
            }
        )
    return out


def huber_irls(
    df: DataFrame,
    x_col: str,
    y_col: str,
    k: float,
    n_iter: int = 2,
    scale: float = 1_000_000_000.0,
) -> List[dict]:
    """Single-feature Huber robust regression via IRLS — the outlier-
    resistant line fit (Huber 1964, public method), same trace/replay
    contract as :func:`glm_irls` but with ZERO transcendentals: the
    Huber working weight w = min(1, k/|r|) is rational, so every
    iteration is libm-independent on every engine.

    Iteration 1 uses w ≡ 1 (plain OLS — the standard IRLS start);
    iterations 2+ reweight by the previous fit's residuals, with the
    r = 0 case pinned to w = 1 on both engines (a raw k/0 would hit
    engine-specific inf semantics). Per iteration ONE exact-integer
    aggregation (nano-quantized terms; the scales cancel in H⁻¹g), a
    2×2 solve in fixed-order double algebra, and a trace row the SQL
    oracle replays as chained CTEs.
    """
    pts = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    b0, b1 = 0.0, 0.0
    out: List[dict] = []
    for it in range(1, n_iter + 1):
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        r = F.col("y") - eta
        if it == 1:
            w = F.lit(1.0)
        else:
            w = F.when(F.abs(r) == F.lit(0.0), F.lit(1.0)).otherwise(
                F.least(F.lit(1.0), F.lit(float(k)) / F.abs(r))
            )

        def q(c: Column) -> Column:
            return F.round(c * F.lit(scale)).cast("long")

        row = pts.agg(
            F.sum(q(w)).alias("sw"),
            F.sum(q(w * F.col("x"))).alias("swx"),
            F.sum(q(w * F.col("x") * F.col("x"))).alias("swxx"),
            F.sum(q(w * r)).alias("g0"),
            F.sum(q(w * r * F.col("x"))).alias("g1"),
        ).collect()[0]
        sw, swx, swxx = (
            float(row["sw"]), float(row["swx"]), float(row["swxx"])
        )
        g0, g1 = float(row["g0"]), float(row["g1"])
        det = sw * swxx - swx * swx
        if det == 0.0:
            raise RuntimeError("huber_irls: singular Hessian")
        d0 = (swxx * g0 - swx * g1) / det
        d1 = (sw * g1 - swx * g0) / det
        b0, b1 = b0 + d0, b1 + d1
        out.append(
            {
                "it": it,
                "sw": int(row["sw"]), "swx": int(row["swx"]),
                "swxx": int(row["swxx"]),
                "g0": int(row["g0"]), "g1": int(row["g1"]),
                "beta0": b0, "beta1": b1,
            }
        )
    return out
