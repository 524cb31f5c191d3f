"""Driver-contract regression guards for __spark_entry__.

The driver's correctness artifact records at most 50 queries() entries
(round 4 silently dropped entries 51-52), so the registry must stay at
EXACTLY 50 — a new entry has to merge into an existing one, never push
one out of the gate. These tests pin that invariant plus the pairwise
queries()/oracle_sql() contract the driver's comparator relies on.
"""

# conftest.py puts the checkout root on sys.path
import __spark_entry__ as entrymod


def test_registry_is_exactly_driver_cap():
    qs = entrymod.queries()
    assert len(qs) == 50, (
        f"queries() has {len(qs)} entries; the driver artifact caps at "
        "50 — consolidate (see q_cate_count_sum / q_text_curation for "
        "the merge pattern) instead of adding a 51st")


def test_every_query_is_oracle_gated():
    # No rows-only entries left: every query has a DuckDB twin, so the
    # driver records a full rows+schema+hash check for all 50.
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert set(oracles) == set(qs)


def test_oracles_are_nonempty_sql():
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_queries_are_distinct_callables():
    fns = list(entrymod.queries().values())
    assert all(callable(f) for f in fns)
    # a copy-paste slip mapping two names to one builder would silently
    # weaken coverage
    assert len(set(fns)) == len(fns)
