"""Plan shape of curate(): every signal is one native projection and the
only exchange is the fingerprint window for duplicate demotion — ONE
Exchange, ONE Window, no Python UDF node, with or without the opt-in
Gopher quality / C4 page rule sets."""

import re

import pytest

from ragflow_spark.operators.curate import curate


def _node_names(plan: str) -> list[str]:
    """Physical operator names of a formatted plan tree (root line plus
    every ``+-``/``:-`` child); expression text spanning extra lines is
    skipped."""
    lines = plan.split("\n")
    return [lines[0].split()[0]] + re.findall(
        r"^[\s:|]*[+:]- (\w+)", plan, re.M
    )


@pytest.mark.parametrize("opts", [
    {},
    {"gopher_quality": True, "c4_page_rules": True},
], ids=["defaults", "gopher_c4"])
def test_curate_one_exchange_one_window_no_udf(spark, opts):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat with the dog"), (2, "hi")],
        "doc_id long, text string",
    )
    plan = curate(df, "doc_id", "text", **opts)._jdf.queryExecution() \
        .executedPlan().toString()
    names = _node_names(plan)
    assert names.count("Exchange") == 1, plan
    assert names.count("Window") == 1, plan
    assert not [n for n in names if n.endswith("EvalPython")], plan
