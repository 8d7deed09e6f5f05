"""Driver-contract invariants for __spark_entry__."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import __spark_entry__ as entry_mod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_contract_wiring(spark):
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert len(qs) >= 60
    assert set(osql) <= set(qs)
    # every query is callable with (spark, sf_dir)
    import inspect

    for name, fn in qs.items():
        params = inspect.signature(fn).parameters
        assert len(params) >= 2, name


def test_rows_only_queries_are_the_documented_exceptions():
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    rows_only = set(qs) - set(osql)
    # engine-seeded, sketch-based, or iterative ops only — everything
    # else must carry an oracle
    assert rows_only == {
        "q14_approx_distinct",
        "rel_approx_quantile",
        "q26_dt_train_predict",
        "ml_rf_train_predict",
        "sim_ivf_topk",
    }


def test_driver_verified_keys_loader():
    """The auto-rotation loader counts hash-green and clean rows-only
    (err == 'no_oracle') rows, and rejects real error rows, reading
    the committed CORRECTNESS_r*.json files at the repo root."""
    from decision_tree_analytics_spark import operators as O

    ks = O._driver_verified_rounds()
    assert "q14_approx_distinct" in ks  # rows-only, err == 'no_oracle'
    assert "rel_approx_quantile" in ks  # r02 errored, r03 clean row wins


def test_driver_verified_rounds_semantics(tmp_path):
    """tmp-dir unit test with synthetic CORRECTNESS files — including
    a FUTURE round — proving a new driver drop can never red the
    suite again: error rows are excluded, no_oracle rows count, and
    the latest round wins per name."""
    import json

    from decision_tree_analytics_spark import operators as O

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "alpha": {"hash_match": True, "err": None},
        "beta": {"hash_match": None, "err": "boom: unhashable"},
        "gamma": {"hash_match": None, "err": "no_oracle"},
    }))
    (tmp_path / "CORRECTNESS_r08.json").write_text(json.dumps({
        "alpha": {"hash_match": True, "err": None},
        "beta": {"hash_match": True, "err": None},
    }))
    (tmp_path / "CORRECTNESS_rbad.json").write_text("not json")
    rounds = O._driver_verified_rounds(root=str(tmp_path))
    assert rounds == {"alpha": 8, "beta": 8, "gamma": 1}
    assert set(rounds) == {"alpha", "beta", "gamma"}
    # an empty root (bare checkout) yields an empty map
    assert O._driver_verified_rounds(root=str(tmp_path / "nowhere")) == {}


def test_all_queries_enumeration_is_fresh_then_recheck_then_stalest():
    """Never-driver-verified queries enumerate first, then
    _RECHECK_PRIORITY, then verified names ordered by last-verified
    round ascending (stalest first) — the property the driver's
    50-sample window relies on to re-check the oldest slice."""
    from decision_tree_analytics_spark import operators as O

    names = list(O.all_queries())
    rounds = O._driver_verified_rounds()
    sampled = set(rounds)
    n_fresh = sum(1 for k in names if k not in sampled)
    assert all(k not in sampled for k in names[:n_fresh])
    promoted = names[n_fresh : n_fresh + len(O._RECHECK_PRIORITY)]
    assert promoted == [k for k in O._RECHECK_PRIORITY if k in names]
    rest = names[n_fresh + len(promoted):]
    rest_rounds = [rounds.get(k, 0) for k in rest]
    assert rest_rounds == sorted(rest_rounds), "verified tail not stalest-first"


def test_modules_and_files_are_named_by_family_not_round():
    """Layout guard: operator modules and source/test files are named
    for what they hold, never for the round that added them or for a
    pending state (no ``pending``, ``_rN`` or ``roundN`` names)."""
    import os
    import re

    from decision_tree_analytics_spark import operators as O

    bad = re.compile(r"pending|_r\d+|round\d+")
    names = [m.__name__.rsplit(".", 1)[-1] for m in O.ALL_MODULES]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for top in ("decision_tree_analytics_spark", "tests"):
        for dirpath, _dirs, files in os.walk(os.path.join(repo, top)):
            names += [f for f in files if f.endswith(".py")]
    offenders = sorted(n for n in names if bad.search(n))
    assert not offenders, f"round-numbered or pending names: {offenders}"


def test_sweep_script_imports_its_own_checkout(tmp_path, monkeypatch):
    # run_sweep.py puts the checkout it sits in first on sys.path, so a
    # copy in a second checkout sweeps that checkout's code.
    import importlib.util
    import pathlib
    import shutil
    import sys

    script = pathlib.Path(".claude", "skills", "verify", "run_sweep.py")
    src = pathlib.Path(__file__).resolve().parent.parent / script
    dst = tmp_path / script
    dst.parent.mkdir(parents=True)
    shutil.copy(src, dst)
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(sys, "argv", [str(dst), "--shard", "2/3"])
    spec = importlib.util.spec_from_file_location("run_sweep_copy", dst)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert sys.path[0] == str(tmp_path)
    assert mod.SHARD == (2, 3)


@pytest.mark.parametrize(
    "module",
    [
        "ml",
        "ml.trainer",
        "pipeline",
        "operators",
        "streaming.events_stream",
        "streaming.cusum",
    ],
)
def test_module_imports_first_in_a_fresh_process(module):
    # The trainer imports operators._parts (so operators/__init__), and
    # operators imports streaming while building its ORACLES: a
    # circular import only fails in a process whose first import is
    # the wrong module, which an in-process import never is.
    done = subprocess.run(
        [sys.executable, "-c", f"import decision_tree_analytics_spark.{module}"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr[-2000:]
