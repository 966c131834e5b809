"""Query entries of __spark_entry__.py: table-handle lifetime and the q3/q5
join plans."""

from __future__ import annotations

import gc
import os
import weakref

import __spark_entry__ as E
from conftest import SF_DIR

SF01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")


class _StandInReader:
    def __init__(self, session):
        self._session = session

    def parquet(self, path):
        return (self._session, path)  # a scan handle references its session


class _StandInSession:
    def __init__(self):
        self.read = _StandInReader(self)


def test_table_handles_die_with_their_session():
    """Memoized scan handles live on the session: once the caller drops the
    session, nothing module-level keeps it (or its handles) alive."""
    s = _StandInSession()
    assert E._t(s, SF01, "orders") is E._t(s, SF01, "orders")
    ref = weakref.ref(s)
    del s
    gc.collect()
    assert ref() is None


def test_pipeline_frames_die_with_their_session(monkeypatch):
    """The memoized pipeline and canon frames live on the session too: no
    module-level cache keeps a dropped session's frames alive."""
    import kbgen_spark.fixtures as FX
    import kbgen_spark.pipeline as P

    class _Frame:
        def __init__(self, session):
            self.triples = self  # a checkpointed frame references its session
            self._session = session

        def localCheckpoint(self, eager):
            return self

    monkeypatch.setattr(P, "run_pipeline", lambda spark, sf_dir: _Frame(spark))
    monkeypatch.setattr(FX, "build_gazetteer", lambda flat: flat[0])
    monkeypatch.setattr(P, "build_canon_map", _Frame)
    s = _StandInSession()
    assert E.pipeline_triples(s, SF01) is E.pipeline_triples(s, SF01)
    assert E.canon_components(s, SF01) is E.canon_components(s, SF01)
    ref = weakref.ref(s)
    del s
    gc.collect()
    assert ref() is None


def _plan_nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_q3_q5_broadcast_orders_and_customer_without_hints(spark):
    """With no broadcast hint on orders/customer, the initial AQE plan at
    sf0.01 has no sort-merge join and still builds both as broadcast sides
    (the size threshold decides, so a large scale factor shuffles instead)."""
    for q in (E.q3_top_revenue_orders, E.q5_region_nation_revenue):
        plan = q(spark, SF01)._jdf.queryExecution().executedPlan().initialPlan()
        assert "SortMergeJoin" not in plan.toString(), q.__name__
        built = [
            n.toString()
            for n in _plan_nodes(plan)
            if n.nodeName() == "BroadcastExchange"
        ]
        for table in ("orders", "customer"):
            assert any(f"{table}.parquet" in b for b in built), (q.__name__, table)
        assert not any("lineitem.parquet" in b for b in built), q.__name__
