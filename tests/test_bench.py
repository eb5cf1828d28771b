"""The registry contract: queries() is derived from the ``q_*``
functions, every query has an oracle, and bench.py's headline set is
the registry minus its exclusions."""

import bench
import __spark_entry__ as entry


def test_headline_is_registry_minus_exclusions():
    qs = entry.queries()
    assert len(qs) == 205
    assert list(qs)[:50] == entry._GATE_WINDOW
    assert len(set(entry._GATE_WINDOW)) == len(entry._GATE_WINDOW)
    assert set(qs) == set(entry.oracle_sql())
    q_fns = [n for n in dir(entry) if n.startswith("q_")]
    assert all(qs[n[2:]] is getattr(entry, n) for n in q_fns)
    assert bench._NOT_HEADLINE <= set(qs)
    assert len(bench.headline_queries()) == 181
