"""Plan guard: no higher-order lambda may re-tokenize its row.

A ``split(`` inside a ``lambdafunction(...)`` body of an optimized plan
runs a regex split of the whole text once per array element: O(tokens²)
per row, evaluated interpreted (higher-order functions sit outside
whole-stage codegen). It appears when a lambda reads a ``split``-derived
array from outside its parameters and the optimizer inlines that array,
e.g. when a filter on a derived column is pushed below the projection
that materialized the array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LAMBDA = "lambdafunction"


def _balanced(plan: str, open_at: int) -> str:
    """The parenthesized text starting at ``plan[open_at] == '('``."""
    depth = 0
    for i in range(open_at, len(plan)):
        if plan[i] == "(":
            depth += 1
        elif plan[i] == ")":
            depth -= 1
            if depth == 0:
                return plan[open_at : i + 1]
    return plan[open_at:]


def lambda_resplits(df: DataFrame) -> list[str]:
    """Bodies of the lambdas in ``df``'s optimized plan that contain
    ``split(``; a lambda nested in a flagged one is listed on its own
    only if its own body holds the split too."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bodies = []
    at = plan.find(_LAMBDA + "(")
    while at != -1:
        body = _balanced(plan, at + len(_LAMBDA))
        if "split(" in body:
            bodies.append(body)
        at = plan.find(_LAMBDA + "(", at + 1)
    return bodies


def assert_no_lambda_resplit(df: DataFrame) -> None:
    bad = lambda_resplits(df)
    assert not bad, (
        f"{len(bad)} lambda(s) re-tokenize the text per element: "
        f"{[b[:200] for b in bad]}"
    )
