"""session.configure on a session that refuses a conf set, without Spark.

A refused set is harmless only when the session already holds the
wanted value; any other value must raise instead of silently changing
query results.
"""

from __future__ import annotations

import pytest

from ex9_big_data_gal_drimer_spark.session import RUNTIME_CONF, configure


class _RefusingConf:
    def __init__(self, values):
        self.values = values

    def set(self, key, value):
        raise PermissionError(f"cannot modify {key}")

    def get(self, key, default=None):
        return self.values.get(key, default)


class _Session:
    def __init__(self, values):
        self.conf = _RefusingConf(values)


def test_refused_set_passes_when_value_already_matches():
    session = _Session(dict(RUNTIME_CONF))
    assert configure(session) is session


def test_refused_set_raises_when_value_differs():
    values = {**RUNTIME_CONF, "spark.sql.session.timeZone": "America/New_York"}
    with pytest.raises(RuntimeError) as info:
        configure(_Session(values))
    message = str(info.value)
    assert "spark.sql.session.timeZone" in message
    assert "'UTC'" in message
    assert "'America/New_York'" in message
    assert isinstance(info.value.__cause__, PermissionError)


def test_refused_set_raises_when_conf_unset():
    with pytest.raises(RuntimeError, match="session has None"):
        configure(_Session({}))
