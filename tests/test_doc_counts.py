"""Doc-drift gate: the query counts stated in README/ARCHITECTURE must
match the live __spark_entry__ contract (regenerate with
``python tools/update_counts.py``)."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_doc_query_counts_in_sync():
    proc = subprocess.run(
        [sys.executable, "tools/update_counts.py", "--check"],
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    assert proc.returncode == 0, (
        f"doc counts drifted from __spark_entry__ "
        f"(run tools/update_counts.py): {proc.stdout} {proc.stderr}"
    )


def test_driver_prefix_integrity():
    """The driver writes CORRECTNESS rows for the first ~50 insertion-order
    keys of queries(). Guard the hand-maintained ordering (it bit once in
    round 3, commit 85fb1e9): every prefix key must be fully value-oracled,
    and no dict key may be defined twice in the source (a duplicate key is
    a silent clobber — the later definition wins and one query vanishes)."""
    import re

    import __spark_entry__ as entrymod
    from tests.test_oracle_parity import NO_ORACLE

    q = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = list(q)
    prefix = keys[:50]
    missing = [k for k in prefix if k not in oracles]
    # DECLARED rows-only keys (no SQL form) may take prefix slots, but
    # only at the TAIL of the prefix — they get the driver's weaker
    # rows-only check without ever displacing a value-checkable slot
    # (the r05-verdict rotation discipline: x_compression's first driver
    # row). Any other oracle-less key in the prefix is the round-3/4
    # clobber bug this test exists to catch.
    assert set(missing) <= NO_ORACLE, (
        f"driver-prefix keys without value oracle: "
        f"{sorted(set(missing) - NO_ORACLE)}"
    )
    oracled_prefix = [k for k in prefix if k in oracles]
    assert prefix[: len(oracled_prefix)] == oracled_prefix, (
        "rows-only keys must sit at the END of the driver prefix"
    )

    # duplicate-key scan over the SOURCE of both dict literals (the dict
    # object can't show clobbers; the text can)
    src = open(os.path.join(ROOT, "__spark_entry__.py")).read()
    for anchor in ('"e26_sessionize_skew_safe": e26', '"b05_flagship": """'):
        assert src.count(anchor) >= 1
    entry_keys = re.findall(r'^        "([A-Za-z0-9_]+)": [A-Za-z0-9_]+,$', src, re.M)
    dup_entries = sorted({k for k in entry_keys if entry_keys.count(k) > 1})
    assert not dup_entries, f"duplicate queries() dict keys: {dup_entries}"
    oracle_keys = re.findall(r'^        "([A-Za-z0-9_]+)": f?"""', src, re.M)
    dup_oracles = sorted({k for k in oracle_keys if oracle_keys.count(k) > 1})
    assert not dup_oracles, f"duplicate oracle_sql() dict keys: {dup_oracles}"
    # and the two dicts cover each other exactly (modulo declared rows-only)
    assert set(keys) - set(oracles) == NO_ORACLE
    assert set(oracles) <= set(keys), "orphan oracle entries"
