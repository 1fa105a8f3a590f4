"""transformWithState processor logic (streaming/tws.py), driven
through the typed-state contract with in-memory fakes — the container
has no protobuf runtime, so the engine hookup is gated (verified
below) while the stateful logic itself is fully exercised: profiles
accumulate across micro-batches, per-type counts live in map state,
and the batch-presence log grows one entry per batch."""

from __future__ import annotations

import pandas as pd
import pytest

from snowflake_azure_etl_spark.streaming import tws


class FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class FakeListState:
    def __init__(self):
        self._l = []

    def exists(self):
        return bool(self._l)

    def get(self):
        return iter(self._l)

    def appendValue(self, v):
        self._l.append(v)

    def put(self, vs):
        self._l = list(vs)

    def clear(self):
        self._l = []


class FakeMapState:
    def __init__(self):
        self._m = {}

    def exists(self):
        return bool(self._m)

    def containsKey(self, k):
        return k in self._m

    def getValue(self, k):
        return self._m[k]

    def updateValue(self, k, v):
        self._m[k] = v

    def iterator(self):
        return iter(self._m.items())

    def keys(self):
        return iter(self._m)

    def values(self):
        return iter(self._m.values())

    def removeKey(self, k):
        self._m.pop(k, None)

    def clear(self):
        self._m = {}


class FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeListState())

    def getMapState(self, name, kschema, vschema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeMapState())


def _batch(rows):
    return pd.DataFrame(rows, columns=["event_type", "value"])


def _run_batches(proc, key, batches):
    outs = []
    for b in batches:
        outs.extend(proc.handleInputRows(key, iter([b]), None))
    return outs


def test_profile_accumulates_across_batches():
    proc = tws.make_user_profile_processor()
    proc.init(FakeHandle())
    b1 = _batch([("click", 1.0), ("click", 2.0), ("view", 3.0)])
    b2 = _batch([("view", 4.0), ("view", 0.5)])
    o1, o2 = _run_batches(proc, (7,), [b1, b2])
    assert o1.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "total_value": 6.0, "n_types": 2,
        "top_type": "click", "n_batches_seen": 1}
    assert o2.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 5, "total_value": 10.5, "n_types": 2,
        "top_type": "view", "n_batches_seen": 2}


def test_top_type_tie_breaks_by_name():
    proc = tws.make_user_profile_processor()
    proc.init(FakeHandle())
    (out,) = _run_batches(proc, (1,), [
        _batch([("b", 1.0), ("a", 1.0)])])
    assert out.iloc[0]["top_type"] == "a"


def test_state_variables_are_independent():
    """The three state primitives must land in three distinct named
    state variables — the transformWithState contract that lets each
    get its own TTL/eviction policy."""
    h = FakeHandle()
    proc = tws.make_user_profile_processor(ttl_ms=60000)
    proc.init(h)
    assert set(h.states) == {"totals", "by_type", "batches"}
    assert isinstance(h.states["totals"], FakeValueState)
    assert isinstance(h.states["by_type"], FakeMapState)
    assert isinstance(h.states["batches"], FakeListState)


def test_engine_hookup_gates_without_protobuf(spark):
    """In this container google.protobuf is absent, so the streaming
    wrapper must refuse upfront with the documented message instead of
    crashing the driver worker mid-query. (On a protobuf-equipped
    cluster this test self-skips and the wrapper runs.)"""
    try:
        import google.protobuf  # noqa: F401
        pytest.skip("protobuf present: the gate does not apply")
    except ImportError:
        pass
    df = spark.createDataFrame([(1, "click", 1.0)],
                               "user_id bigint, event_type string, value double")
    with pytest.raises(RuntimeError, match="protobuf"):
        tws.user_profiles(df)
