"""Declarative data-quality checks (SURVEY.md §2.11).

The reference's ``table_validate`` (spark_check_emr.py:20-47) reads a
table, runs a scalar SQL check, and compares the result with a Python
comparison operator, raising on failure. We keep that declarative shape
but make the check list a first-class value and evaluate the checks
over one DataFrame as one aggregate: one pass per table instead of one
action per check.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One assertion: described, not executed, until run_checks."""

    name: str
    df: DataFrame
    agg: object  # a Column producing one scalar
    expected: object
    comparison: Callable[[object, object], bool] = operator.eq


def not_empty(name: str, df: DataFrame) -> Check:
    return Check(name, df, F.count(F.lit(1)), 0, operator.gt)


def no_nulls(name: str, df: DataFrame, column: str) -> Check:
    return Check(name, df, F.count(F.when(F.col(column).isNull(), 1)), 0, operator.eq)


def run_checks(checks: list[Check]) -> list[tuple[str, object, bool]]:
    """Evaluate each check; returns (name, actual, passed) in check order.
    Checks over the same DataFrame object share one ``agg``: one action
    per DataFrame, not per check. Raises ValueError listing every failure
    (mirrors spark_check_emr.py:41-47 but reports all failures at once)."""
    by_df: dict[int, list[int]] = {}
    for i, c in enumerate(checks):
        by_df.setdefault(id(c.df), []).append(i)
    actual: dict[int, object] = {}
    for idx in by_df.values():
        row = checks[idx[0]].df.agg(
            *[checks[i].agg.alias(f"v{i}") for i in idx]
        ).collect()[0]
        actual.update((i, row[f"v{i}"]) for i in idx)
    results = [
        (c.name, actual[i], bool(c.comparison(actual[i], c.expected)))
        for i, c in enumerate(checks)
    ]
    failures = [r for r in results if not r[2]]
    if failures:
        raise ValueError(f"data-quality check failures: {failures}")
    return results


def dq_counts(
    tables: dict[str, DataFrame],
    null_checks: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """The reference's check table as a *query*: one row per check with its
    observed count, unioned into a single DataFrame (drives the driver's
    oracle comparison; run_checks drives hard assertions)."""
    parts = [
        df.agg(
            F.lit(name).alias("table_name"), F.count(F.lit(1)).alias("row_cnt")
        )
        for name, df in tables.items()
    ]
    for name, (df, column) in (null_checks or {}).items():
        parts.append(
            df.agg(
                F.lit(name).alias("table_name"),
                F.count(F.when(F.col(column).isNull(), 1)).alias("row_cnt"),
            )
        )
    return reduce(DataFrame.unionAll, parts)


def referential_orphans(
    relationships: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Cross-table referential-integrity audit: for each (name, child,
    child_key, parent, parent_key) count child rows whose key has no
    parent — the DQ check a lakehouse runs after every load, as data
    (one row per relationship) rather than an assertion.

    Scale: each check projects the child to its key column BEFORE the
    left_anti join (shuffle carries keys only); parent keys are distinct
    and usually broadcastable. NULL child keys are orphans by definition
    here (left_anti keeps NULL-keyed rows — they match nothing).
    """
    outs = []
    for name, child, child_key, parent, parent_key in relationships:
        child_keys = child.select(F.col(child_key).alias("k"))
        parent_keys = parent.select(F.col(parent_key).alias("k")).distinct()
        n_child = child_keys.agg(F.count(F.lit(1)).alias("n_child"))
        n_orphans = (
            child_keys.join(parent_keys, "k", "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
        )
        outs.append(
            n_child.crossJoin(n_orphans).select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def observed_write(
    df: DataFrame,
    metrics: dict[str, object],
    action: Callable[[DataFrame], None] | None = None,
) -> dict[str, object]:
    """In-flight DQ metrics via ``df.observe``: the named aggregates are
    collected DURING the action's single pass over the data — no second
    scan, which at 100 TB is the difference between free monitoring and
    doubling the job. The reference's check pass (spark_check_emr.py)
    re-reads every table it validates; this is the Spark-native form.

    ``metrics`` maps name -> aggregate Column; ``action`` consumes the
    observed DataFrame (default: noop-format write, full evaluation).
    Returns the observed metric values."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    if action is None:
        observed.write.format("noop").mode("overwrite").save()
    else:
        action(observed)
    return obs.get

