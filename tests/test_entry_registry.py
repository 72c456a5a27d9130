"""Driver-contract registry consistency (no Spark session): every query
key has an oracle and every oracle a query, and the tooling that names
keys by string only names keys that exist."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))


def test_queries_and_oracles_share_keys():
    import __spark_entry__ as E

    assert set(E.queries()) == set(E.oracle_sql())


def test_tooling_names_only_registered_keys():
    import __spark_entry__ as E
    from bench import OPERATOR_KEYS
    from plan_audit import AUDITS

    keys = set(E.queries())
    assert set(OPERATOR_KEYS) <= keys
    # the audit adds one engine-only plan (consolidation) on its own
    assert set(AUDITS) - {"consolidate_facts"} <= keys
