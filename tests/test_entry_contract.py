"""Driver-contract invariants: every oracle has a query, names are
stable identifiers, entry() exists — drift guard for __spark_entry__."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod


def test_contract_shape():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(qs) >= 74
    assert set(os_) <= set(qs), f"orphan oracles: {set(os_) - set(qs)}"
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and s.strip().upper().startswith(("SELECT", "WITH"))
               for s in os_.values())
    assert all(n.startswith("q_") and n.replace("_", "").isalnum() for n in qs)
    assert callable(entry_mod.entry)


def test_oracle_coverage_floor():
    """At least 85% of queries must stay under a value-level oracle —
    don't let rows-only entries quietly accumulate."""
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert len(os_) / len(qs) >= 0.85


def test_value_hash_properties():
    """The correctness gate's hash: row/column order insensitive,
    value sensitive, float-format stable, and dtype-sensitive across the
    pandas path (an int column and a float64 column of equal values must
    hash differently — the r1 HUGEINT lesson)."""
    import pandas as pd

    sys.path.insert(0, "/root/repo/scripts")
    from selfcheck import value_hash

    pdf = pd.DataFrame({"x": [1, 2], "s": ["a", "b"], "v": [2.5, 3.5]})
    h = value_hash(pdf)
    # row order insensitive
    assert value_hash(pdf.iloc[::-1]) == h
    # column order insensitive
    assert value_hash(pdf[["v", "s", "x"]]) == h
    # value sensitive
    assert value_hash(pd.DataFrame({"x": [1, 2], "s": ["a", "b"],
                                    "v": [2.5, 3.50001]})) != h
    # 6dp float formatting: 2.5 vs 2.5000000001 collide (by design)
    assert value_hash(pd.DataFrame({"x": [1, 2], "s": ["a", "b"],
                                    "v": [2.5000000001, 3.5]})) == h
    # dtype drift detected: ints rendered as float64 must NOT match
    assert value_hash(pd.DataFrame({"x": [1.0, 2.0], "s": ["a", "b"],
                                    "v": [2.5, 3.5]})) != h
