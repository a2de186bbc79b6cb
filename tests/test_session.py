"""conf_override: scoped session-conf changes."""

import pytest

from serimi_rdf_interlinking_spark.session import conf_override


def test_conf_override_restores_and_unsets(spark):
    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.serimi.test.unset_before"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None

    with conf_override(spark, {set_key: "3", unset_key: "x"}):
        assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(unset_key) == "x"
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None

    # also on an exception
    with pytest.raises(RuntimeError):
        with conf_override(spark, {set_key: "5", unset_key: "y"}):
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
