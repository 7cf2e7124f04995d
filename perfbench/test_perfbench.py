"""The benchmark's own test, on a tiny seeded panel.

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

Like a benchmark run, it writes only under ``.perfbench_work/``. It
checks that the oracle accepts a correct operation, that a corrupted
prediction is reported as a mismatch (which the run loop counts as a
failed op), and that Spark's job, stage, task and input-record counts
repeat exactly across two operations.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import panel as pn  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
from workloads import OofLinear  # noqa: E402


class TinyLinear(OofLinear):
    N_PERIODS, N_ENTITIES = 40, 25
    N_SPLITS, TEST_SIZE = 3, 4


class CorruptLinear(TinyLinear):
    """Shifts one OOF prediction after the sink is written."""

    def op(self, spark, data_dir, sink_dir):
        from pyspark.sql import functions as F

        out = super().op(spark, data_dir, sink_dir)
        p, hit = F.col("prediction"), (F.col("fold_id") == 1) & (
            F.col("entity") == 3)
        spark.read.parquet(sink_dir).withColumn(
            "prediction", F.when(hit, p + 1e-3).otherwise(p)
        ).write.parquet(sink_dir + ".bad")
        shutil.rmtree(sink_dir)
        os.rename(sink_dir + ".bad", sink_dir)
        return out


@pytest.fixture(scope="module")
def work():
    w = run.make_workdir(f"test-{os.getpid()}")
    yield w
    shutil.rmtree(w, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    s = run.start_session(work, 2)
    yield s
    run.stop_session(s)


@pytest.fixture(scope="module")
def data_dir(work):
    d = os.path.join(work, "data")
    pn.write_panel(TinyLinear(2).make_panel(7),
                   os.path.join(d, "panel.parquet"), n_files=2, row_group=64)
    return d


def _prepared(cls):
    wl = cls(2)
    wl.prepare(wl.make_panel(7))
    return wl


def test_oracle_accepts_correct_op(spark, data_dir, work):
    dt, _, bad = run.attempt(_prepared(TinyLinear), spark, data_dir,
                             os.path.join(work, "oof-ok.parquet"))
    assert dt is not None and dt > 0
    assert bad == []


def test_corrupted_prediction_fails(spark, data_dir, work):
    _, _, bad = run.attempt(_prepared(CorruptLinear), spark, data_dir,
                            os.path.join(work, "oof-bad.parquet"))
    assert any("fold 1 Σpred" in b for b in bad), bad


def test_spark_counts_repeat(spark, data_dir, work):
    from panelsplit_spark.utils import storage

    wl = _prepared(TinyLinear)
    counters = tracing.SparkCounters(spark)
    seen = []
    for _ in range(2):
        _, c, bad = run.attempt(wl, spark, data_dir,
                                os.path.join(work, "oof.parquet"), counters)
        storage.release_all_pinned(spark)
        assert bad == []
        seen.append({k: c[k] for k in ("spark.jobs", "spark.stages",
                                       "spark.tasks", "spark.input_records")})
    assert seen[0] == seen[1]
    assert seen[0]["spark.jobs"] > 0 and seen[0]["spark.input_records"] > 0
