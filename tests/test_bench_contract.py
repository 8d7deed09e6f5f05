"""bench.py output contract — the driver captures only the LAST
~2000 bytes of output and json.loads the captured line, so the
printed line must (a) fit that window regardless of how many bench
entries exist and (b) keep the SURVEY headline names and the totals
at its tail (VERDICT r8 item 4 / r9 item 7; the round-8 and round-9
bench records both read parsed:null before the self-truncating
emitter)."""

from __future__ import annotations

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py"
    ),
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _fake_timings(n: int) -> tuple[dict, list]:
    names = bench.HEADLINE + [f"very_long_query_name_number_{i:04d}" for i in range(n)]
    return {name: 0.123 + i * 0.01 for i, name in enumerate(names)}, names


def test_line_fits_capture_window_at_any_inventory_size():
    for n in (0, 10, 100, 500):
        timings, names = _fake_timings(n)
        line, full = bench.emit(timings, names, "0.1")
        assert len(line) <= bench.LINE_BUDGET
        payload = json.loads(line)  # the captured line must parse
        # Full record keeps EVERY entry.
        assert len(full["queries"]) == len(names)
        assert (
            payload["queries_omitted"]
            == len(names) - len(payload["queries"])
        )


def test_headline_names_and_totals_survive_truncation():
    timings, names = _fake_timings(500)
    line, full = bench.emit(timings, names, "0.1")
    payload = json.loads(line)
    # Headline names are emitted LAST (reverse run order) so they are
    # the last to be dropped — at 500 entries they must still be there.
    for h in bench.HEADLINE:
        assert h in payload["queries"]
    # Totals/counts are computed over ALL entries, not the kept subset.
    assert payload["total_s"] == round(sum(timings.values()), 2)
    assert payload["n_queries"] == len(names)
    assert payload["full_timings"] == "BENCH_FULL.json"
    # And the tail of the LINE itself ends with the totals (the part
    # a byte-truncated capture keeps).
    tail = line[-200:]
    assert '"total_s"' in tail and '"n_queries"' in tail
    # ADVICE r10: the printed line must not duplicate the total under
    # 'value' (that field lives only in BENCH_FULL.json).
    assert "value" not in payload
    assert full["value"] == full["total_s"]


def test_totals_follow_queries_in_key_order():
    timings, names = _fake_timings(5)
    line, _ = bench.emit(timings, names, "0.1")
    keys = list(json.loads(line))
    assert keys.index("total_s") > keys.index("queries")
    assert keys.index("n_queries") > keys.index("queries")


def test_load_annotation_survives_truncation():
    """VERDICT r11 item 7: the parsed line carries the box load that
    bracketed the timed passes, even at huge inventories."""
    timings, names = _fake_timings(500)
    line, full = bench.emit(timings, names, "0.1", loads=(0.134, 2.71))
    payload = json.loads(line)
    assert payload["load1_start"] == 0.13 and payload["load1_end"] == 2.71
    assert full["load1_start"] == 0.13 and full["load1_end"] == 2.71
    assert len(line) <= bench.LINE_BUDGET
    # Omitting loads keeps the legacy shape (pure-function contract).
    line2, full2 = bench.emit(timings, names, "0.1")
    assert "load1_start" not in json.loads(line2) and "load1_start" not in full2


def test_corpus_tag_rides_line_and_record():
    """The corpus-generation tag must survive line truncation at any
    inventory size (it identifies which testdata generation the totals
    were measured on — cross-generation totals are not comparable),
    and corpus_tag() itself must be deterministic 12-hex derived from
    the parquet footers."""
    import json
    import os

    timings = {f"q{i:03d}": 1.0 for i in range(300)}
    names = list(timings)
    line, full = bench.emit(
        timings, names, "0.1", loads=(0.1, 2.0), corpus="abc123def456"
    )
    parsed = json.loads(line)
    assert parsed["corpus"] == "abc123def456"
    assert full["corpus"] == "abc123def456"
    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    t1, t2 = bench.corpus_tag(sf_dir), bench.corpus_tag(sf_dir)
    assert t1 == t2 and len(t1) == 12
    assert all(c in "0123456789abcdef" for c in t1)
