import tracing


def _fixed_spans(tracer, spans):
    """Replace recorded times with fixed ones: (name, start, end)."""
    for s, (name, start, end) in zip(tracer.spans, spans):
        assert s.name == name
        s.start, s.end = start, end


def test_self_time_subtracts_direct_children_only():
    t = tracing.Tracer()
    t.active = True
    t.op_id = 1
    with t.span("pipeline"):
        with t.span("merge"):
            with t.span("inner"):
                pass
    _fixed_spans(t, [("pipeline", 0.0, 10.0), ("merge", 1.0, 7.0), ("inner", 2.0, 3.0)])
    own = t.self_times({1})
    assert own == {"pipeline": 4.0, "merge": 5.0, "inner": 1.0}
    assert t.durations({1})["pipeline"] == 10.0
    assert t.durations({2}) == {}


def test_nested_spans_of_one_name_count_once():
    t = tracing.Tracer()
    t.active = True
    t.op_id = 3
    with t.span("graph"):
        with t.span("graph"):
            pass
    _fixed_spans(t, [("graph", 0.0, 4.0), ("graph", 1.0, 2.0)])
    assert t.durations({3}) == {"graph": 4.0}


def test_inactive_tracer_records_nothing():
    t = tracing.Tracer()
    with t.span("x"):
        t.count("n", 1)
    assert t.spans == [] and t.counts == {}


def test_stage_cover_merges_overlapping_intervals():
    assert tracing._union_length([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (4.0, 4.0)]) == 4.0
    assert tracing._union_length([]) == 0.0
