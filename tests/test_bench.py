"""bench.py's headline set is derived from the registry."""

import bench
import __spark_entry__ as entry


def test_headline_is_registry_minus_exclusions():
    assert bench._NOT_HEADLINE <= set(entry.queries())
    assert len(bench.headline_queries()) == 181
