"""Registry-window guards: the driver oracle-grades only the FIRST 50
registered queries, so ordering is a contract. These tests make a silent
displacement (someone registers a new oracle-backed query ahead of the
window, or drops one of ``_GRADED``) a loud failure instead of a quietly
lost correctness row."""

from __future__ import annotations

from eligibility_etl_airflow_spark import registry

registry.load_all()

WINDOW = 50


def test_window_is_all_oracle_backed():
    names = list(registry.QUERIES)
    missing = [n for n in names[:WINDOW] if n not in registry.ORACLES]
    assert not missing, f"window slots without an oracle: {missing}"


def test_graded_tuple_is_registered_and_oracle_backed():
    graded = registry._GRADED
    assert len(graded) == WINDOW
    assert len(set(graded)) == WINDOW, "duplicate names in _GRADED"
    unknown = [n for n in graded if n not in registry.QUERIES]
    assert not unknown, f"_GRADED references unknown {unknown}"
    no_oracle = [n for n in graded if n not in registry.ORACLES]
    assert not no_oracle, f"_GRADED names without an oracle: {no_oracle}"


def test_window_matches_graded_tuple():
    window = set(list(registry.QUERIES)[:WINDOW])
    graded = set(registry._GRADED)
    assert window == graded, (
        f"window gained {sorted(window - graded)}, "
        f"lost {sorted(graded - window)}"
    )


def test_oracle_backed_precede_rows_only():
    backed = [n in registry.ORACLES for n in registry.QUERIES]
    first_rows_only = backed.index(False)
    assert all(backed[:first_rows_only]) and not any(backed[first_rows_only:])


def test_oracle_parity_covers_every_query():
    # queries outside the window keep DuckDB parity via
    # tests/test_oracle_parity.py — assert its parametrization source is
    # still ALL of QUERIES, not just the graded window
    import inspect

    from tests import test_oracle_parity

    src = inspect.getsource(test_oracle_parity)
    assert "sorted(registry.QUERIES)" in src, (
        "oracle-parity no longer parametrizes every registered query — "
        "queries outside the window would lose their local DuckDB check"
    )


def test_anchor_subset_queries_all_registered():
    """bench.py's pinned round-1 anchor subset (the same-work cross-round
    performance series) must keep resolving — a query rename would
    silently shrink anchor_subset_total and fake a speedup."""
    import bench

    assert len(bench.ANCHOR_R1_QUERIES) == 61
    missing = [q for q in bench.ANCHOR_R1_QUERIES if q not in registry.QUERIES]
    assert not missing, f"anchor queries no longer registered: {missing}"
