"""Plan-audit guard: PLANS.json must cover every registered query and
contain zero disallowed cartesian/BNLJ nodes.

The audit itself (`python tools/plan_audit.py`) regenerates PLANS.json; this
test makes two silent-failure modes impossible: registering a new query
without auditing its plan, and an audited plan carrying an unexplained
cross product. PLANS.json is not tracked, so the `plans` fixture re-runs the
audit on the tests' session whenever the file is missing or older than
`__spark_entry__.py` (a fresh checkout, or an edited registry)."""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry
from tools.plan_audit import ALLOWED_BNLJ, ALLOWED_CROSS, audit_queries


@pytest.fixture(scope="session")
def plans(spark, sf_dir) -> dict:
    path = os.path.join(REPO, "PLANS.json")
    if (not os.path.exists(path) or os.path.getmtime(path)
            < os.path.getmtime(os.path.join(REPO, "__spark_entry__.py"))):
        out, _bad = audit_queries(spark, sf_dir, entry.queries())
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    with open(path) as fh:
        return json.load(fh)


def test_plans_cover_every_query(plans):
    missing = [k for k in entry.queries() if k not in plans]
    assert not missing, (
        f"queries with no plan-audit entry (run tools/plan_audit.py): "
        f"{missing}")


def test_no_unexplained_cross_products(plans):
    bad = []
    for name, rec in plans.items():
        cross = rec.get("cartesian", 0) + rec.get("bnlj", 0)
        if cross and name not in ALLOWED_CROSS and name not in ALLOWED_BNLJ:
            bad.append((name, cross))
    assert not bad, f"disallowed cartesian/BNLJ nodes: {bad}"


def test_allowed_lists_only_name_registered_queries():
    qs = entry.queries()
    stale = [k for k in (set(ALLOWED_CROSS) | set(ALLOWED_BNLJ))
             if k not in qs]
    assert not stale, f"allow-list names unknown queries: {stale}"
