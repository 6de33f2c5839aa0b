"""Runtime configuration of externally provided sessions."""

from __future__ import annotations

import re

import pytest

from sparkflow_spark.session import _RUNTIME_CONFS, ensure_runtime_configs


class _RefusingConf:
    def __init__(self, refused: str):
        self.refused = refused
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.refused:
            raise RuntimeError("Cannot modify the value of a static config")
        self.values[key] = value


class _Session:
    def __init__(self, spark, refused: str):
        self.conf = _RefusingConf(refused)
        self.sparkContext = spark.sparkContext


def test_refused_conf_warns_with_its_key_and_the_rest_still_apply(spark):
    keys = list(_RUNTIME_CONFS)
    refused = keys[1]
    session = _Session(spark, refused)
    with pytest.warns(UserWarning, match=re.escape(refused)) as caught:
        ensure_runtime_configs(session)
    assert len(caught) == 1 and "static config" in str(caught[0].message)
    assert session.conf.values == {k: v for k, v in _RUNTIME_CONFS.items() if k != refused}
