"""``session.pinned_confs``: a conf pinned for a block is put back as it
was, also when the block raises."""

from __future__ import annotations

import pytest

from nosql_triple_store_spark.session import pinned_confs

KEY = "spark.graft.test.pinned"


class _Boom(Exception):
    pass


def test_pinned_conf_restores_old_value(spark):
    spark.conf.set(KEY, "old")
    try:
        with pinned_confs(spark, {KEY: "new"}):
            assert spark.conf.get(KEY) == "new"
        assert spark.conf.get(KEY) == "old"
        with pytest.raises(_Boom):
            with pinned_confs(spark, {KEY: "new"}):
                raise _Boom
        assert spark.conf.get(KEY) == "old"
    finally:
        spark.conf.unset(KEY)


def test_pinned_conf_unsets_key_it_did_not_have(spark):
    assert spark.conf.get(KEY, None) is None
    with pinned_confs(spark, {KEY: "new"}):
        assert spark.conf.get(KEY) == "new"
    assert spark.conf.get(KEY, None) is None
    with pytest.raises(_Boom):
        with pinned_confs(spark, {KEY: "new"}):
            raise _Boom
    assert spark.conf.get(KEY, None) is None
