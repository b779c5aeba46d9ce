"""Public package surface: every name in operators.__all__ resolves, and
the sampler/packing/cumsum additions are importable from their packages
(a user discovering the library through the package surface sees them)."""


def test_operators_all_resolves():
    import cassandra_util_spark.operators as ops

    missing = [n for n in ops.__all__ if not hasattr(ops, n)]
    assert not missing, missing


def test_sampler_family_importable_from_operators():
    from cassandra_util_spark.operators import (  # noqa: F401
        bottomk_merge,
        bottomk_sample,
        bottomk_sample_grouped,
        padding_waste_report,
        sample_quantiles,
        sample_quantiles_grouped,
        weighted_bottomk_sample,
        weighted_bottomk_sample_grouped,
        weighted_bottomk_sample_logcost,
    )


def test_cumsum_importable_from_functions():
    from cassandra_util_spark.functions.cumsum import (  # noqa: F401
        distributed_cumsum,
        token_budget_cut,
    )


def test_no_unreached_definitions():
    """Every top-level definition in the package is reached by a query, a
    drain, a script or the benchmark (scripts/unreached.py), or is on the
    scan's ALLOW list with a reason; an ALLOW entry that is gone or now
    reached is stale and fails too."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "unreached.py")
    spec = importlib.util.spec_from_file_location("unreached", path)
    scan = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(scan)

    found = scan.unreached()
    names = {name for _, _, name in found}
    assert [f"{rel}:{line} {name}" for rel, line, name in found if name not in scan.ALLOW] == []
    assert sorted(set(scan.ALLOW) - names) == []
