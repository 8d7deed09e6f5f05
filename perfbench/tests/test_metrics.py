import json
import os

import pytest

import metrics as M

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json")


def _declared():
    with open(BENCHMARK) as fh:
        return json.load(fh)


def test_declared_metrics_match_the_runner():
    spec = _declared()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == [
        (m.name, m.unit) for m in M.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (m.name, m.unit) for m in M.PER_LAYER
    ]


def test_declared_workloads_match_the_runner():
    from workloads import WORKLOADS

    assert sorted(w["name"] for w in _declared()["workloads"]) == sorted(WORKLOADS)


def test_metric_names_are_unique():
    names = [m.name for m in M.END_TO_END + M.PER_LAYER]
    assert len(names) == len(set(names))


def test_setup_metric_is_declared_lower_is_better():
    setup = [m for m in _declared()["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": setup[0]["bound"]}]
    assert setup[0]["bound"] == max(m["bound"] for m in _declared()["end_to_end"])


def test_result_line_has_exactly_the_contract_keys():
    values = {m.name: 1.5 for m in M.END_TO_END}
    out = json.loads(M.result_line(M.END_TO_END, values, attempted=4, failed=1))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is False
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
    assert set(out["metrics"]) == {m.name for m in M.END_TO_END}


def test_result_line_refuses_missing_metrics():
    with pytest.raises(KeyError):
        M.result_line(M.END_TO_END, {"setup_s": 1.0}, attempted=1, failed=0)


@pytest.mark.parametrize(
    "n, pct",
    [(5, None), (10, None), (20, 50), (40, 75), (100, 90), (200, 95), (1000, 99), (10000, 99.9)],
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    s = M.summarise(values)
    assert (s.n, s.tail_pct) == (n, pct)
    if pct is not None:
        assert sum(v > s.tail for v in values) >= 10


def test_summary_median():
    assert M.summarise([3.0, 1.0, 2.0]).median == 2.0
    with pytest.raises(ValueError):
        M.summarise([])


def test_geomean():
    assert M.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def test_records_compare_only_on_same_identity():
    a = {"workload": "olap_short", "corpus": "c1", "cpus": 4, "seed": 1}
    M.comparable(a, dict(a))
    for key, other in (("corpus", "c2"), ("cpus", 8), ("seed", 2)):
        with pytest.raises(ValueError, match=key):
            M.comparable(a, {**a, key: other})


def test_host_readings():
    assert M.peak_rss_mb(os.getpid()) > 0
    assert M.load1() >= 0


def test_unstolen_leaves_out_stolen_samples():
    quiet = {"wall_s": 1.0, "steal_s": 0.04}  # 1% of 4 CPU-seconds
    stolen = {"wall_s": 2.0, "steal_s": 0.8}  # 10% of 8 CPU-seconds
    assert M.unstolen([quiet, stolen, quiet], cpus=4, steal_max=0.02) == [quiet, quiet]
    worse = {"wall_s": 1.0, "steal_s": 0.6}  # 15%
    assert M.unstolen([worse, stolen], cpus=4, steal_max=0.02) == [stolen]
