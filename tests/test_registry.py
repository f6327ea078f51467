"""Registry integrity: the driver certifies exactly the first 50
queries() entries, and a Python dict silently swallows duplicate keys —
both failure modes have nearly shipped. Pin them here."""

import re
import subprocess
import sys

import __spark_entry__ as E
from tests.conftest import REPO


def _source_block():
    src = open(REPO / "__spark_entry__.py").read()
    start = src.index("def queries(")
    end = src.index("def oracle_sql(")
    return src[start:end]


def test_window_marker_matches_entry_50():
    block = _source_block()
    m = re.search(r"\((\w+) above is entry\s*\n?\s*#?\s*#50", block)
    assert m, "50-entry window marker comment missing"
    qs = list(E.queries())
    assert qs[49] == m.group(1), (
        f"marker says {m.group(1)!r} is entry #50 but it is {qs[49]!r} — "
        "move the marker comment to sit after the real 50th entry"
    )


def test_no_silent_duplicate_keys():
    block = _source_block()
    keys = re.findall(r'^\s+"([a-z0-9_]+)":', block, re.M)
    qs = E.queries()
    dupes = {k for k in keys if keys.count(k) > 1}
    assert not dupes, f"duplicate registry keys (dict silently drops one): {dupes}"
    assert len(keys) == len(qs)


def test_every_oracle_has_a_query():
    qs, os_ = E.queries(), E.oracle_sql()
    assert not set(os_) - set(qs)
    # round 5 closed the rows-only gap to zero (ann_lsh_topk/ann_ivf_topk
    # now output the exact top-k and assert recall engine-side); any new
    # oracle-less row must be a loud, deliberate decision
    assert set(qs) - set(os_) == set(), (
        "rows without an oracle_sql entry — every registry row needs a "
        f"DuckDB oracle: {set(qs) - set(os_)}"
    )


def test_check_correctness_rejects_unknown_query_names():
    """A misspelled row name must fail the harness, not run nothing and
    report 0 pass, 0 fail (it exits before starting Spark)."""
    name = next(iter(E.queries()))
    r = subprocess.run(
        [sys.executable, str(REPO / "tools" / "check_correctness.py"), name, "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert "no_such_query" in r.stdout and name not in r.stdout
