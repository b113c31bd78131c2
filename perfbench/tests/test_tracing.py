import threading

from perfbench import tracing


def test_spans_nest_per_thread_and_carry_the_query():
    tr = tracing.Tracer()
    tr.query = "q"
    with tr.span("search.fit") as outer:
        with tr.span("solvers.fit_glm") as inner:
            pass
        t = threading.Thread(target=lambda: tr.span("search.fit").__enter__())
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert inner.parent == outer.id and outer.parent is None
    assert tr.spans[-1].parent is None  # other thread: no parent
    assert all(s.query == "q" for s in tr.spans)


def _span(i, name, start, end):
    return tracing.Span(i, name, start, end, None, None, 0)


def test_outermost_nests_by_time_within_a_layer():
    spans = [_span(1, "search.a", 0, 10), _span(2, "search.b", 1, 4),  # enclosed
             _span(3, "search.b", 8, 12),                             # overlaps: counted
             _span(4, "solvers.x", 2, 3), _span(5, "search.a", 20, 30)]
    assert [s.id for s in tracing.outermost(spans, "search", 0, 25)] == [1, 3, 5]
    assert [s.id for s in tracing.outermost(spans, "search", 0, 15)] == [1, 3]


def test_install_wraps_and_uninstall_restores():
    import dask_ml_spark.operators.solvers as solvers
    import dask_ml_spark.sources.io as io
    from dask_ml_spark.plans.model_selection import GridSearchCV

    before = (io.load_table, GridSearchCV.__dict__["fit"], dict(solvers.SOLVERS))
    tr = tracing.Tracer()
    tr.install()
    try:
        assert io.load_table is not before[0]
        assert GridSearchCV.__dict__["fit"] is not before[1]
        assert all(solvers.SOLVERS[k] is not f for k, f in before[2].items())
    finally:
        tr.uninstall()
    assert (io.load_table, GridSearchCV.__dict__["fit"], dict(solvers.SOLVERS)) == before
