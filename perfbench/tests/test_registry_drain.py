"""The registry workload's timed action executes the whole optimized
plan: no ``count()``, and the operators ``count()`` would prune stay."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame

from perfbench import harness, registry


Q01_AGGREGATES = ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
                  "avg_qty", "avg_price", "avg_disc", "count_order")


@pytest.fixture(scope="module")
def bench(spark):
    return registry.Registry(spark, harness.Tracer(False))


@pytest.fixture
def no_count(monkeypatch):
    def refuse(self):
        raise AssertionError("count() inside the timed action")

    monkeypatch.setattr(DataFrame, "count", refuse)


def _run(bench, op: str) -> DataFrame:
    rows = bench.run_op(op, f"t:{op}")
    df, pdf = bench._pending
    assert rows == len(pdf) > 0
    bench.check(op, f"t:{op}")
    return df


def test_drain_is_topandas_not_count(bench, no_count):
    df = _run(bench, "q01")
    # the plan behind the drained result was executed, not just analysed
    assert "AdaptiveSparkPlan isFinalPlan=true" in registry.executed_plan(df)


def test_q24_keeps_its_window(bench, no_count):
    plan = registry.executed_plan(_run(bench, "q24"))
    assert "Window" in plan.split("== Initial Plan ==")[0]


def test_q01_keeps_all_eight_aggregates(bench, no_count):
    final = registry.executed_plan(_run(bench, "q01")).split("== Initial Plan ==")[0]
    # the final HashAggregate still computes every aggregate column
    # (Catalyst shares the sums behind the averages; count() would
    # prune them all)
    top = next(line for line in final.splitlines() if "HashAggregate(" in line)
    output = re.search(r"output=\[([^\]]*)\]", top).group(1)
    assert all(f"{name}#" in output for name in Q01_AGGREGATES)
    assert "functions=[sum(" in top


def test_results_match_oracle(bench):
    bench.verify_oracles()
    assert bench.failures == []


def test_frame_digest_ignores_row_and_column_order_only():
    import pandas as pd

    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", None]})
    reordered = pdf.iloc[[2, 0, 1]][["v", "k"]].reset_index(drop=True)
    assert registry.frame_digest(reordered) == registry.frame_digest(pdf)
    assert registry.frame_digest(pdf.assign(v=["a", "b", "c"])) != registry.frame_digest(pdf)
    assert registry.frame_digest(pdf.iloc[:2]) != registry.frame_digest(pdf)
