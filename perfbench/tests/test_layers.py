import pytest

import layers
from tracing import Span


def test_per_pass_sums_per_operation_medians():
    samples = {
        "a": [{"wall_s": 1.0, "jobs": 2}, {"wall_s": 3.0, "jobs": 2}, {"wall_s": 2.0, "jobs": 2}],
        "b": [{"wall_s": 5.0, "jobs": 1}],
    }
    assert layers.per_pass(samples) == {"wall_s": 7.0, "jobs": 3}


def test_layer_self_times_group_span_names_by_layer():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "r"),
        Span(1, "pipeline.train", 1.0, 9.0, 0, "r"),
        Span(2, "ml.trainer", 2.0, 8.0, 1, "r"),
        Span(3, "sources.load_table", 1.5, 2.0, 1, "r"),
    ]
    got = layers.layer_self_times(spans)
    assert got["bench"] == pytest.approx(2.0)
    assert got["pipeline"] == pytest.approx(8.0 - 6.0 - 0.5)
    assert got["ml"] == pytest.approx(6.0)
    assert got["sources"] == pytest.approx(0.5)
    assert got["action"] == 0.0
    assert sum(got.values()) == pytest.approx(10.0)
