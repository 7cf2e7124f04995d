"""The three panel-CV workloads.

Each workload builds its panel and oracle with numpy (``prepare``), runs
one operation through the public ``panelsplit_spark`` API (``op``, the
timed part) and checks the operation's output against the oracle
(``check``, untimed). Every op re-reads the parquet into a new DataFrame
and builds a new ``PanelSplit``, so caches keyed on those objects
(``linear_fastpath``'s moment memo, a pipeline's cached intermediates)
cannot turn a later op into a hit.
"""

from __future__ import annotations

from typing import Any, Dict, List

import numpy as np

import panel as pn


class Workload:
    """One workload; the rationale for each is in README.md."""

    name = ""

    def __init__(self, nproc: int) -> None:
        self.nproc = nproc

    def make_panel(self, seed: int) -> pn.Panel:
        raise NotImplementedError

    def prepare(self, panel: pn.Panel) -> None:
        """Fold arithmetic and oracle for ``panel`` (numpy only)."""
        raise NotImplementedError

    def op(self, spark, data_dir: str, sink_dir: str) -> Any:
        raise NotImplementedError

    def check(self, spark, result: Any, sink_dir: str) -> List[str]:
        """Mismatches against the oracle; empty when the op is correct."""
        raise NotImplementedError


def _load(spark, data_dir: str):
    from panelsplit_spark.sources import tables

    return tables.load_table(spark, data_dir, "panel")


def _coef(model) -> np.ndarray:
    return np.concatenate([[model.intercept_], np.ravel(model.coef_)])


def _by_fold(rows, col: str = "score") -> Dict[int, float]:
    return {int(r["fold_id"]): float(r[col]) for r in rows}


class OofLinear(Workload):
    name = "oof_linear"
    N_PERIODS, N_ENTITIES = 500, 400
    N_SPLITS, TEST_SIZE = 12, 20

    def make_panel(self, seed):
        return pn.balanced_panel(seed, self.N_PERIODS, self.N_ENTITIES)

    def prepare(self, panel):
        self.panel = panel
        self.folds = pn.fold_bounds(panel.n_periods, self.N_SPLITS,
                                    self.TEST_SIZE)
        self.fold_rows = pn.fold_rows(panel, self.folds)
        self.oracle = pn.linear_oracle(panel, self.folds)

    def op(self, spark, data_dir, sink_dir):
        import panelsplit_spark as pss
        from panelsplit_spark.sources import tables

        df = _load(spark, data_dir)
        cv = pss.PanelSplit(df, "period", n_splits=self.N_SPLITS,
                            test_size=self.TEST_SIZE)
        preds, models = pss.cross_val_fit_predict(
            pss.LinearRegression(), df, self.panel.features, "y", cv,
            keep_cols=["entity", "period", "y"])
        tables.write_sink(preds, sink_dir)
        oof = tables.read_source(spark, sink_dir)
        mse = pss.per_fold_scores(oof, "y", "prediction", "mse").collect()
        r2 = pss.per_fold_scores(oof, "y", "prediction", "r2").collect()
        return models, _by_fold(mse), _by_fold(r2)

    def check(self, spark, result, sink_dir):
        from pyspark.sql import functions as F

        models, mse, r2 = result
        o = self.oracle
        bad = []
        if len(models) != self.N_SPLITS:
            return [f"{len(models)} models for {self.N_SPLITS} folds"]
        for k, m in enumerate(models):
            b, want = _coef(m), o["beta"][k]
            if not np.allclose(b, want, rtol=pn.RTOL, atol=pn.RTOL):
                bad.append(f"fold {k} coefficients {b} != {want}")
            if not pn.close(mse.get(k, np.nan), o["mse"][k], o["mse"][k]):
                bad.append(f"fold {k} mse {mse.get(k)} != {o['mse'][k]}")
            if not pn.close(r2.get(k, np.nan), o["r2"][k], 1.0):
                bad.append(f"fold {k} r2 {r2.get(k)} != {o['r2'][k]}")
        p = F.col("prediction")
        got = {
            int(r["fold_id"]): r
            for r in spark.read.parquet(sink_dir).groupBy("fold_id").agg(
                F.count(F.lit(1)).alias("n"), F.sum(p).alias("s"),
                F.sum(p * F.col("entity")).alias("se"),
            ).collect()
        }
        for k in range(self.N_SPLITS):
            r = got.get(k)
            if r is None or r["n"] != o["n"][k]:
                bad.append(f"fold {k} OOF rows {r and r['n']} != {o['n'][k]}")
                continue
            if not pn.close(r["s"], o["s"][k], o["sa"][k]):
                bad.append(f"fold {k} Σpred {r['s']} != {o['s'][k]}")
            if not pn.close(r["se"], o["se"][k], o["sae"][k]):
                bad.append(f"fold {k} Σpred·entity {r['se']} != {o['se'][k]}")
        if len(got) != self.N_SPLITS:
            bad.append(f"OOF sink holds folds {sorted(got)}")
        return bad


class OofPython(Workload):
    name = "oof_python"
    N_PERIODS, N_ENTITIES, ENTRY_SPAN = 120, 3000, 80
    N_SPLITS, TEST_SIZE, MAX_TRAIN = 8, 5, 30
    L2 = 1e-6  # LogisticRegression's default penalty

    def make_panel(self, seed):
        return pn.entering_panel(seed, self.N_PERIODS, self.N_ENTITIES,
                                 self.ENTRY_SPAN)

    def prepare(self, panel):
        self.panel = panel
        self.folds = pn.fold_bounds(panel.n_periods, self.N_SPLITS,
                                    self.TEST_SIZE, self.MAX_TRAIN)
        self.fold_rows = pn.fold_rows(panel, self.folds)
        self.oracle = pn.logistic_oracle(panel, self.folds, self.L2)

    def op(self, spark, data_dir, sink_dir):
        import panelsplit_spark as pss
        from panelsplit_spark.operators.metrics import roc_auc_score

        df = _load(spark, data_dir)
        cv = pss.PanelSplit(df, "period", n_splits=self.N_SPLITS,
                            test_size=self.TEST_SIZE,
                            max_train_size=self.MAX_TRAIN)
        preds, models = pss.cross_val_fit_predict(
            pss.LogisticRegression(l2=self.L2), df, self.panel.features,
            "y", cv, method="predict_proba", keep_cols=["y"])
        auc = pss.per_fold_scores(preds, "y", "prediction",
                                  roc_auc_score).collect()
        return models, _by_fold(auc)

    def check(self, spark, result, sink_dir):
        models, auc = result
        o = self.oracle
        if len(models) != self.N_SPLITS:
            return [f"{len(models)} models for {self.N_SPLITS} folds"]
        bad = []
        for k, m in enumerate(models):
            b, want = _coef(m), o["beta"][k]
            if not np.allclose(b, want, rtol=0, atol=pn.LOGIT_ATOL):
                bad.append(f"fold {k} coefficients {b} != {want}")
            if not pn.close(auc.get(k, np.nan), o["auc"][k], 1.0,
                            rtol=pn.LOGIT_ATOL):
                bad.append(f"fold {k} auc {auc.get(k)} != {o['auc'][k]}")
        return bad


class SearchGrid(Workload):
    name = "search_grid"
    N_PERIODS, N_ENTITIES, N_FEATURES = 80, 500, 4
    N_SPLITS, TEST_SIZE = 6, 5
    N_SPLITS2, TEST_SIZE2 = 3, 5
    ALPHAS = [float(a) for a in np.logspace(-2, 5, 24)]
    ALPHAS2 = [1.0, 1e4]

    def make_panel(self, seed):
        return pn.balanced_panel(seed, self.N_PERIODS, self.N_ENTITIES,
                                 n_features=self.N_FEATURES, noise=4.0)

    def prepare(self, panel):
        self.panel = panel
        self.folds = pn.fold_bounds(panel.n_periods, self.N_SPLITS,
                                    self.TEST_SIZE)
        # the second step splits the first step's out-of-fold periods
        self.oof_periods = list(range(self.folds[0][2], panel.n_periods))
        self.folds2 = pn.fold_bounds(len(self.oof_periods), self.N_SPLITS2,
                                     self.TEST_SIZE2)
        off = self.oof_periods[0]
        rows2 = pn.fold_rows(panel, [tuple(x + off for x in f)
                                     for f in self.folds2])
        rows1 = pn.fold_rows(panel, self.folds)
        self.fold_rows = (len(self.ALPHAS) * rows1
                          + len(self.ALPHAS2) * (rows1 + rows2))
        self.oracle = pn.ridge_grid_oracle(panel, self.folds, self.ALPHAS)
        self.oracle2 = pn.scaled_ridge_oracle(panel, self.folds, self.folds2,
                                              self.ALPHAS2)

    def op(self, spark, data_dir, sink_dir):
        import panelsplit_spark as pss

        df = _load(spark, data_dir)
        feats = self.panel.features
        cv = pss.PanelSplit(df, "period", n_splits=self.N_SPLITS,
                            test_size=self.TEST_SIZE)
        sweep = pss.GridSearch(
            pss.SequentialCVPipeline([("ridge", pss.Ridge())], [cv], feats,
                                     "y"),
            {"ridge__alpha": self.ALPHAS},
            scoring="neg_mean_squared_error", refit=False,
        ).fit(df)
        cv2 = pss.PanelSplit(unique_periods=self.oof_periods,
                             n_splits=self.N_SPLITS2,
                             test_size=self.TEST_SIZE2)
        pipe = pss.SequentialCVPipeline(
            [("scale", pss.StandardScaler()), ("ridge", pss.Ridge())],
            [cv, cv2], feats, "y")
        seq = pss.GridSearch(
            pipe, {"ridge__alpha": self.ALPHAS2},
            scoring="neg_mean_squared_error", refit=False,
            n_jobs=min(2, self.nproc),
        ).fit(df)
        return [(s.best_params_["ridge__alpha"], s.best_score_,
                 np.asarray(s.cv_results_["mean_test_score"], float),
                 [p["ridge__alpha"] for p in s.cv_results_["params"]])
                for s in (sweep, seq)]

    def check(self, spark, result, sink_dir):
        bad = []
        for label, (best, score, means, alphas), want, grid in zip(
                ("sweep", "pipeline"), result, (self.oracle, self.oracle2),
                (self.ALPHAS, self.ALPHAS2)):
            if alphas != grid:
                bad.append(f"{label}: candidates {alphas} != {grid}")
                continue
            scale = np.abs(want)
            if not np.all(np.abs(means - want) <= pn.RTOL * scale):
                bad.append(f"{label}: mean_test_score {means} != {want}")
            k = grid.index(best)
            # ties within the tolerance may pick either candidate
            if want[k] < want.max() - pn.RTOL * abs(want.max()):
                bad.append(f"{label}: best alpha {best}, oracle "
                           f"{grid[int(np.argmax(want))]}")
            if not pn.close(score, want[k], abs(want[k])):
                bad.append(f"{label}: best score {score} != {want[k]}")
        return bad


WORKLOADS = {w.name: w for w in (OofLinear, OofPython, SearchGrid)}
