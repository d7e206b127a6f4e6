"""tune_session: confs that decide result values fail loud, performance
knobs stay best-effort."""

from __future__ import annotations

import pytest

from xlsx_to_database_spark import session


class _RefusingConf:
    """A session conf that refuses to change one key, as a session whose
    owner fixed that conf does."""

    def __init__(self, refused: str):
        self.refused = refused
        self.values: dict[str, str] = {}

    def set(self, key: str, value: str) -> None:
        if key == self.refused:
            raise RuntimeError(f"[CANNOT_MODIFY_CONFIG] {key}")
        self.values[key] = value


class _StubSession:
    def __init__(self, refused: str):
        self.conf = _RefusingConf(refused)


def test_value_confs_are_runtime_confs():
    assert session.VALUE_CONFS <= set(session.RUNTIME_CONFS)


@pytest.mark.parametrize("key", sorted(session.VALUE_CONFS))
def test_refused_value_conf_raises_naming_it(key):
    with pytest.raises(RuntimeError, match=key.replace(".", r"\.")):
        session.tune_session(_StubSession(key))


def test_refused_performance_conf_is_skipped():
    stub = _StubSession("spark.sql.adaptive.enabled")
    assert session.tune_session(stub) is stub
    assert set(stub.conf.values) == set(session.RUNTIME_CONFS) - {
        "spark.sql.adaptive.enabled"
    }
