"""Physical-plan inspection (SURVEY.md §4).

The engine writes no custom Catalyst rules — every operator lowers to
stock primitives (§4: "Custom Catalyst rules/strategies needed: none").
What the engine does instead is *audit* the plans Catalyst produces:
tests/test_plans.py and test_round5b_refs read the formatted physical
plan this module renders and assert the scale-relevant properties
(pushdown, pruning, join strategy, exchange count) a 100 TB deployment
needs.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    """The formatted physical plan as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()
