"""tools/ab.py: identity is checked before anything is timed, and the
harness prints one JSON line with N samples per side."""

import json

import pytest
from pyspark.sql import functions as F

from tools import ab

SF = "/root/testdata/sf0.001"


def q01_reordered(spark, sf_dir):
    """Same rows as q01_pricing_summary, columns reversed and rows
    shuffled — the digest must not care."""
    df = ab.resolve("q01_pricing_summary", _registry())(spark, sf_dir)
    return df.select(*reversed(df.columns)).repartition(3)


def q01_without_r(spark, sf_dir):
    df = ab.resolve("q01_pricing_summary", _registry())(spark, sf_dir)
    return df.where(F.col("l_returnflag") != "R")


def _registry():
    import __spark_entry__

    return __spark_entry__.queries()


@pytest.fixture()
def restored_conf(spark):
    """ab.main sizes the shared session for the point; put the
    per-point confs back for the tests that follow."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    saved = {k: spark.conf.get(k) for k in keys}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def test_equal_outputs_are_timed(restored_conf, capsys):
    rc = ab.main([SF, "q01_pricing_summary", f"{__name__}:q01_reordered", "2"])
    out = capsys.readouterr().out.strip().splitlines()
    assert rc == 0
    assert len(out) == 1
    res = json.loads(out[0])
    assert res["digest"]["a"] == res["digest"]["b"]
    assert res["digest"]["a"][0] > 0
    assert [len(res["samples"][s]) for s in ("a", "b")] == [2, 2]
    assert res["min"] == {s: min(res["samples"][s]) for s in ("a", "b")}


def test_differing_outputs_exit_before_timing(restored_conf, capsys):
    rc = ab.main([SF, "q01_pricing_summary", f"{__name__}:q01_without_r", "2"])
    captured = capsys.readouterr()
    assert rc == 1
    assert captured.out == ""
    assert "outputs differ" in captured.err


def test_digest_sees_a_changed_value(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(1, "x"), (2, "z")], ["k", "v"])
    assert ab.digest(a) == ab.digest(a.select("v", "k").repartition(2))
    assert ab.digest(a)[0] == ab.digest(b)[0]
    assert ab.digest(a) != ab.digest(b)
