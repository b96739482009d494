"""tune() memoization (r12): repeat calls must not re-pay py4j."""

import pytest

from nba_pipeline_spark import session as S


@pytest.fixture()
def spark():
    from nba_pipeline_spark.session import get_spark

    # getOrCreate returns the suite's shared session when one exists, so
    # retune()/overrides here would otherwise leak into every later test
    # (e.g. flip conftest's shuffle.partitions=4 back to 32 — ADVICE
    # r12): snapshot the keys this file perturbs and restore them.
    s = get_spark("test_session", cores=2)
    keys = set(S._RUNTIME_CONF) | {"spark.sql.shuffle.partitions"}
    saved = {}
    for k in keys:
        try:
            saved[k] = s.conf.get(k)
        except Exception:
            saved[k] = None
    yield s
    for k, v in saved.items():
        if v is not None:
            s.conf.set(k, v)
        else:  # unreadable before the test: drop whatever the test set
            s.conf.unset(k)
    # deliberately LEAVE the session memoized in _TUNED: the tests end
    # with tune()/retune() having run, so the memo is accurate, and a
    # discard here would make the next query builder's tune() re-apply
    # _RUNTIME_CONF over the values just restored


def test_tune_applies_runtime_conf(spark):
    S.retune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    # parser mode pinned: the SQL-text expression twins escape literals
    # assuming backslash-escape semantics (ADVICE r12)
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"


class _PartialConf:
    """Accepts every conf key except `refused`; a refused
    escapedStringLiterals keeps a Hive-compat driver session's value."""

    def __init__(self, refused):
        self.refused = refused
        self.vals = {"spark.sql.parser.escapedStringLiterals": "true"}

    def set(self, k, v):
        if k == self.refused:
            raise RuntimeError(f"cannot set {k}")
        self.vals[k] = v

    def get(self, k, default=None):
        return self.vals.get(k, default)


def test_failed_tune_is_not_memoized():
    # a session where every conf.set raises (stopped/misbehaving) must
    # retry on the next call instead of being recorded as tuned
    class _Conf:
        def set(self, *a):
            raise RuntimeError("stopped")

    class _Fake:
        conf = _Conf()
        __hash__ = object.__hash__

    import weakref

    class _Weakable(_Fake):
        pass

    # so must one that takes every key but a must-have one; a session
    # that refuses only a speed knob is tuned
    def partial(refused):
        s = _Weakable()
        s.conf = _PartialConf(refused)
        return s

    cases = [
        (_Weakable(), False),
        (partial("spark.sql.parser.escapedStringLiterals"), False),
        (partial("spark.sql.session.timeZone"), False),
        (partial("spark.sql.adaptive.skewJoin.enabled"), True),
    ]
    saved = S._TUNED
    S._TUNED = weakref.WeakSet()
    try:
        for s, memoized in cases:
            S.tune(s)
            assert (s in S._TUNED) == memoized, s.conf.__dict__
    finally:
        S._TUNED = saved


def test_tune_is_memoized_per_session(spark, monkeypatch):
    S.tune(spark)  # ensure memoized
    calls = []
    orig = spark.conf.set
    monkeypatch.setattr(
        spark.conf, "set", lambda *a, **k: (calls.append(a), orig(*a, **k))
    )
    S.tune(spark)
    assert calls == []  # memo hit: zero conf.set round-trips


def test_retune_reapplies_after_external_override(spark):
    S.tune(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    S.tune(spark)  # memoized: deliberately does NOT undo the override
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    S.retune(spark)  # explicit escape hatch re-applies
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
