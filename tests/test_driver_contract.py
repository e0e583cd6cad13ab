"""Driver-contract guard: __spark_entry__ must keep its shape — entry
runs on a VANILLA session (the driver builds its own, without our
session factory's configs), every oracle key has a query, and a
sample of queries runs at a different sf than the oracle gate uses."""

import importlib.util
import os


def _load_entry(repo_root):
    spec = importlib.util.spec_from_file_location(
        "__spark_entry_test__", os.path.join(repo_root, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_entry_runs_on_vanilla_session(spark, repo_root):
    mod = _load_entry(repo_root)
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_oracle_keys_subset_of_queries(repo_root):
    mod = _load_entry(repo_root)
    qs, oracles = mod.queries(), mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 80
    assert len(oracles) >= 70


def test_queries_run_at_other_sf(spark, repo_root):
    mod = _load_entry(repo_root)
    qs = mod.queries()
    for name in ["q01_pricing_summary", "dedup_exact_fingerprint", "time_spine_hourly"]:
        assert qs[name](spark, "/root/testdata/sf0.001").count() > 0


def test_query_decorator_rejects_duplicate_names():
    """A same-named re-registration by a DIFFERENT function must fail
    loudly: a silent overwrite swaps a ledgered query's implementation
    and oracle out from under the driver's CORRECTNESS history
    (round-8 near-miss — three existing names were re-registered by a
    new module with no error)."""
    import pytest

    from data_pipeline_001_spark.plans.queries import REGISTRY, query

    assert "q01_pricing_summary" in REGISTRY
    with pytest.raises(ValueError, match="duplicate query name"):
        @query("q01_pricing_summary")
        def impostor(spark, sf_dir):  # pragma: no cover
            raise AssertionError

    # same-function re-registration (module re-import) stays benign
    fn = REGISTRY["q01_pricing_summary"]
    assert query("q01_pricing_summary")(fn) is fn
