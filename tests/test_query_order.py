"""queries() yields cheapest first (__spark_entry__._MEASURED_COST).

The round driver checks queries in iteration order under a budget, so a
registry query missing from the cost table silently takes the middling
default cost and can push cheaper queries past the cutoff. Session-free:
only the registry's names and the cost table are read."""

import __spark_entry__ as E


def test_queries_cheapest_first():
    names = list(E.queries())
    cost = E._MEASURED_COST
    assert [n for n in names if n not in cost] == []     # none defaulted
    assert sorted(set(cost) - set(names)) == []          # none stale
    assert ([cost[n] for n in names[:50]]
            == sorted(cost[n] for n in names)[:50])
