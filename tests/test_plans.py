"""Physical-plan checks of the flagship paths (tools/explain_plans.py):
zero-exchange narrow extraction, broadcast sides of the dedup/ANN joins,
pushed-down filters, the bucketed co-located join, AQE's skew split and
the rest — every check must hold in the shared test session. A failing
check prints its section's formatted plan."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import explain_plans  # noqa: E402


def test_all_plan_checks_pass(spark):
    assert explain_plans.run_checks(spark) == []
