"""Seeded synthetic panels, the benchmark's own fold arithmetic, and the
numpy oracles every workload operation is checked against.

Nothing here imports ``panelsplit_spark``: fold bounds, fits and scores
are recomputed from the raw arrays, so a defect in the program's fold
layer or solvers cannot hide in its own oracle.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

#: relative tolerance for every float comparison against the oracle
RTOL = 1e-7
#: logistic fits stop on a 1e-8 Newton step, so their coefficients and
#: AUCs are compared at a looser absolute tolerance
LOGIT_ATOL = 1e-6


@dataclass
class Panel:
    """Rows sorted by ``period``; ``starts[p]`` is the first row of
    period ``p``, so a period range is one contiguous slice."""

    period: np.ndarray
    entity: np.ndarray
    X: np.ndarray
    y: np.ndarray
    shape: Dict[str, object]
    features: List[str]

    @property
    def n_periods(self) -> int:
        return int(self.period[-1]) + 1

    @property
    def starts(self) -> np.ndarray:
        return np.searchsorted(self.period, np.arange(self.n_periods + 1))

    def rows(self, lo: int, hi: int) -> slice:
        """Rows whose period lies in ``[lo, hi)``."""
        s = self.starts
        return slice(int(s[lo]), int(s[hi]))


def balanced_panel(seed: int, n_periods: int, n_entities: int,
                   n_features: int = 8, noise: float = 0.5) -> Panel:
    """Every entity observed in every period; ``y`` linear in ``X``."""
    rng = np.random.default_rng(seed)
    n = n_periods * n_entities
    period = np.repeat(np.arange(n_periods, dtype=np.int64), n_entities)
    entity = np.tile(np.arange(n_entities, dtype=np.int64), n_periods)
    X = rng.standard_normal((n, n_features))
    beta = rng.uniform(-1.0, 1.0, n_features)
    y = 0.3 + X @ beta + noise * rng.standard_normal(n)
    shape = {"kind": "balanced", "n_periods": n_periods,
             "n_entities": n_entities, "n_features": n_features,
             "rows": n}
    return Panel(period, entity, X, y, shape,
                 [f"x{i}" for i in range(n_features)])


def entering_panel(seed: int, n_periods: int, n_entities: int,
                   entry_span: int, n_features: int = 8) -> Panel:
    """Unbalanced panel: entity ``i`` enters at period
    ``i * entry_span // n_entities`` and stays, so later periods hold
    more rows. The entry schedule does not depend on the seed, so row
    counts (and the Spark work they imply) are the same for every seed.
    ``y`` is a Bernoulli draw from a logistic model."""
    rng = np.random.default_rng(seed)
    entry = (np.arange(n_entities) * entry_span) // n_entities
    active = [np.flatnonzero(entry <= p) for p in range(n_periods)]
    period = np.concatenate(
        [np.full(len(a), p, dtype=np.int64) for p, a in enumerate(active)]
    )
    entity = np.concatenate(active).astype(np.int64)
    n = len(period)
    X = rng.standard_normal((n, n_features))
    beta = rng.uniform(-0.8, 0.8, n_features)
    z = -0.2 + X @ beta
    y = (rng.random(n) < 1.0 / (1.0 + np.exp(-z))).astype(np.float64)
    shape = {"kind": "entering", "n_periods": n_periods,
             "n_entities": n_entities, "entry_span": entry_span,
             "n_features": n_features, "rows": n}
    return Panel(period, entity, X, y, shape,
                 [f"x{i}" for i in range(n_features)])


def write_panel(panel: Panel, path: str, n_files: int,
                row_group: int = 32_768) -> None:
    """Write the panel as a directory of ``n_files`` parquet files with
    small row groups, so Spark's scan splits across every core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = {"entity": panel.entity, "period": panel.period}
    for i, name in enumerate(panel.features):
        cols[name] = panel.X[:, i]
    cols["y"] = panel.y
    table = pa.table(cols)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=row_group)


# ----------------------------------------------------------------------
# fold arithmetic (expanding / rolling window over the period axis)
# ----------------------------------------------------------------------


def fold_bounds(n_periods: int, n_splits: int, test_size: int,
                max_train_size: Optional[int] = None,
                ) -> List[Tuple[int, int, int, int]]:
    """Per fold ``(train_lo, train_hi, test_lo, test_hi)`` as half-open
    ranges of period positions: the last ``n_splits`` blocks of
    ``test_size`` periods are tested, each trained on every earlier
    period, or on the last ``max_train_size`` of them."""
    out = []
    for k in range(n_splits):
        test_lo = n_periods - (n_splits - k) * test_size
        train_lo = 0 if max_train_size is None else max(
            0, test_lo - max_train_size)
        if test_lo <= train_lo:
            raise ValueError("fold without training periods")
        out.append((train_lo, test_lo, test_lo, test_lo + test_size))
    return out


def fold_rows(panel: Panel, folds) -> int:
    """Train rows plus test rows summed over ``folds``."""
    s = panel.starts
    return int(sum((s[a] - s[lo]) + (s[hi] - s[b])
                   for lo, a, b, hi in folds))


# ----------------------------------------------------------------------
# oracles
# ----------------------------------------------------------------------


def close(got: float, want: float, scale: float, rtol: float = RTOL) -> bool:
    """``got`` equals ``want`` within ``rtol`` of ``scale`` (a magnitude
    of the summed terms, so sums near zero are not over-demanding)."""
    return bool(np.isfinite(got)) and abs(got - want) <= rtol * scale + 1e-12


def _design(X: np.ndarray) -> np.ndarray:
    return np.hstack([np.ones((len(X), 1)), X])


def linear_oracle(panel: Panel, folds) -> Dict[str, np.ndarray]:
    """Per fold: OLS coefficients (intercept first, by lstsq on the raw
    train rows), test-row count, Σpred, Σ|pred|, Σpred·entity, Σ|pred|·entity,
    mse and r2."""
    out = {k: [] for k in ("beta", "n", "s", "sa", "se", "sae",
                           "mse", "r2")}
    for lo, a, b, hi in folds:
        tr, te = panel.rows(lo, a), panel.rows(b, hi)
        beta, *_ = np.linalg.lstsq(_design(panel.X[tr]), panel.y[tr],
                                   rcond=None)
        p = _design(panel.X[te]) @ beta
        yt = panel.y[te]
        ent = panel.entity[te]
        res = np.sum((yt - p) ** 2)
        out["beta"].append(beta)
        out["n"].append(len(p))
        out["s"].append(p.sum())
        out["sa"].append(np.abs(p).sum())
        out["se"].append((p * ent).sum())
        out["sae"].append((np.abs(p) * ent).sum())
        out["mse"].append(res / len(p))
        out["r2"].append(1.0 - res / np.sum((yt - yt.mean()) ** 2))
    return {k: np.asarray(v) for k, v in out.items()}


def _logit_newton(Xd: np.ndarray, y: np.ndarray, l2: float) -> np.ndarray:
    """argmin Σ log(1+e^z) − y·z + l2/2·‖β‖² by Newton's method."""
    beta = np.zeros(Xd.shape[1])
    for _ in range(100):
        p = 1.0 / (1.0 + np.exp(-(Xd @ beta)))
        grad = Xd.T @ (p - y) + l2 * beta
        hess = Xd.T @ (Xd * (p * (1.0 - p))[:, None]) + l2 * np.eye(len(beta))
        step = np.linalg.solve(hess, grad)
        beta = beta - step
        if np.abs(step).max() < 1e-12:
            break
    return beta


def auc(y: np.ndarray, score: np.ndarray) -> float:
    """Area under the ROC curve by the Mann-Whitney statistic with
    mid-ranks for ties."""
    order = np.argsort(score, kind="mergesort")
    s = score[order]
    ranks = np.empty(len(s))
    uniq, first, counts = np.unique(s, return_index=True, return_counts=True)
    mid = first + (counts + 1) / 2.0
    ranks[order] = np.repeat(mid, counts)
    pos = y > 0.5
    n_pos, n_neg = pos.sum(), (~pos).sum()
    return float((ranks[pos].sum() - n_pos * (n_pos + 1) / 2)
                 / (n_pos * n_neg))


def logistic_oracle(panel: Panel, folds, l2: float) -> Dict[str, np.ndarray]:
    """Per fold: penalised logistic coefficients (intercept first) and
    the test rows' AUC."""
    betas, aucs = [], []
    for lo, a, b, hi in folds:
        tr, te = panel.rows(lo, a), panel.rows(b, hi)
        beta = _logit_newton(_design(panel.X[tr]), panel.y[tr], l2)
        betas.append(beta)
        aucs.append(auc(panel.y[te], _design(panel.X[te]) @ beta))
    return {"beta": np.asarray(betas), "auc": np.asarray(aucs)}


def _ridge_neg_mse(Xtr, ytr, Xte, yte, alphas: Sequence[float]) -> np.ndarray:
    """−mse on the test rows of a ridge fit (intercept not penalised)
    for every alpha."""
    Xd = _design(Xtr)
    gram, rhs = Xd.T @ Xd, Xd.T @ ytr
    pen = np.eye(gram.shape[0])
    pen[0, 0] = 0.0
    Xt = _design(Xte)
    return np.array([
        -np.mean((yte - Xt @ np.linalg.solve(gram + a * pen, rhs)) ** 2)
        for a in alphas
    ])


def ridge_grid_oracle(panel: Panel, folds, alphas) -> np.ndarray:
    """Mean over folds of −mse, one entry per alpha."""
    per_fold = [
        _ridge_neg_mse(panel.X[panel.rows(lo, a)], panel.y[panel.rows(lo, a)],
                       panel.X[panel.rows(b, hi)], panel.y[panel.rows(b, hi)],
                       alphas)
        for lo, a, b, hi in folds
    ]
    return np.mean(per_fold, axis=0)


def scaled_ridge_oracle(panel: Panel, folds1, folds2, alphas) -> np.ndarray:
    """Two-step sequential CV: a standard scaler fitted per ``folds1``
    fold transforms that fold's test rows; the out-of-fold rows, indexed
    by their own sorted periods, are then split by ``folds2`` (positions
    on that axis) and ridge-scored per alpha. Returns mean −mse per
    alpha."""
    Xs, ys, ps = [], [], []
    for lo, a, b, hi in folds1:
        tr, te = panel.rows(lo, a), panel.rows(b, hi)
        mu = panel.X[tr].mean(axis=0)
        sd = panel.X[tr].std(axis=0)
        sd[sd == 0.0] = 1.0
        Xs.append((panel.X[te] - mu) / sd)
        ys.append(panel.y[te])
        ps.append(panel.period[te])
    X, y, per = np.vstack(Xs), np.concatenate(ys), np.concatenate(ps)
    axis = np.unique(per)
    pos = np.searchsorted(axis, per)
    per_fold = []
    for lo, a, b, hi in folds2:
        tr = (pos >= lo) & (pos < a)
        te = (pos >= b) & (pos < hi)
        per_fold.append(_ridge_neg_mse(X[tr], y[tr], X[te], y[te], alphas))
    return np.mean(per_fold, axis=0)
