"""CDC and snapshot-maintenance operators (cdc.py): MERGE semantics on a
hand-built fixture, pandas replays of the compaction, skipping and
overlap planners, vacuum invariants, and hypothesis locks on the
sweep-line and vacuum accounting formulas both engines run."""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from decision_tree_analytics_spark.operators.cdc import (
    CLUSTER_DAYS,
    N_HASH_FILES,
    VACUUM_GENS,
    VACUUM_KEEP,
    merge_changes,
    snap_overlap_depth,
    snap_skipping_audit,
    snap_vacuum_plan,
)
from decision_tree_analytics_spark.sources.tables import load_table
from tests.oracle_harness import md5_bucket


def test_merge_all_four_outcomes(spark):
    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "TWO", "U"),   # update
            (3, None, "D"),    # delete existing
            (4, "FOUR", "U"),  # insert
            (5, None, "D"),    # delete of a missing key: no-op
        ],
        "k long, v string, op string",
    )
    got = {
        r.k: (r.v, r.source) for r in merge_changes(base, changes, "k").collect()
    }
    assert got == {
        1: ("one", "base"),
        2: ("TWO", "applied"),
        4: ("FOUR", "applied"),
    }


def test_merge_plan_is_single_join_no_cartesian(spark, sf_dir):
    from decision_tree_analytics_spark.operators.cdc import cdc_merge_upsert
    from decision_tree_analytics_spark.plans.inspect import simple_plan

    plan = simple_plan(cdc_merge_upsert(spark, sf_dir))
    assert plan.count("Join") == 1  # the merge IS one full-outer join
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------------
# snap_compaction_plan
# ------------------------------------------------------------------


def test_compaction_plan_replays_in_pandas(spark, sf_dir):
    from decision_tree_analytics_spark.operators.cdc import (
        COMPACT_TARGET_BYTES,
        snap_compaction_plan,
    )

    out = snap_compaction_plan(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev["ts"] // 1000 // 86400000000
    files = (
        ev.assign(b=ev.props.map(lambda p: len(str(p)) + 32))
        .groupby(["event_type", "day"])
        .agg(n_rows=("b", "size"), bytes=("b", "sum"))
        .reset_index()
        .sort_values(["event_type", "day"])
    )
    for et, grp in files.groupby("event_type"):
        cum = 0
        for r in grp.itertuples():
            want_bin = cum // COMPACT_TARGET_BYTES
            cum += r.bytes
            got = out[(out.event_type == et) & (out.day == r.day)].iloc[0]
            assert got.bin_id == want_bin
            assert got.n_rows == r.n_rows and got.bytes == r.bytes
    # bin stats are internally consistent
    for (_, _), grp in out.groupby(["event_type", "bin_id"]):
        assert (grp.n_files_in_bin == len(grp)).all()
        assert (grp.bin_bytes == grp.bytes.sum()).all()


# ------------------------------------------------------------------
# shared manifest replay
# ------------------------------------------------------------------


def _manifest_replay(spark, sf_dir) -> pd.DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).toPandas()
    days = (
        o["o_orderdate"].astype("datetime64[us]")
        - pd.Timestamp("1970-01-01")
    ).dt.days
    rows = []
    for layout, fid in (
        ("clustered", days // CLUSTER_DAYS),
        ("hashed", o["o_orderkey"].map(lambda k: md5_bucket(k, N_HASH_FILES))),
    ):
        g = pd.DataFrame({"file_id": fid, "day": days}).groupby("file_id")
        m = g["day"].agg(["min", "max", "size"]).reset_index()
        m.insert(0, "layout", layout)
        rows.append(m)
    return pd.concat(rows, ignore_index=True).rename(
        columns={"min": "min_day", "max": "max_day", "size": "n_rows"}
    )


# ------------------------------------------------------------------
# snap_skipping_audit
# ------------------------------------------------------------------


def test_skipping_audit_layout_contrast(spark, sf_dir):
    pdf = snap_skipping_audit(spark, sf_dir).toPandas()
    clu = pdf[pdf["layout"] == "clustered"].set_index("probe_bucket")
    hsh = pdf[pdf["layout"] == "hashed"].set_index("probe_bucket")
    assert len(clu) == len(hsh) > 0
    # Clustered files ARE the probe buckets: every probe overlaps
    # exactly one file, so it skips all the others and scans exactly
    # that bucket's rows.
    assert (clu["n_files_skipped"] == clu["n_files"] - 1).all()
    total = load_table(spark, sf_dir, "orders").count()
    assert int(clu["rows_scanned"].sum()) == total
    # Zone maps on a hash layout are never better than on the
    # clustered one, and strictly worse in aggregate.
    joined = clu.join(hsh, lsuffix="_c", rsuffix="_h")
    assert (joined["skip_ppm_c"] >= joined["skip_ppm_h"]).all()
    assert int(clu["n_files_skipped"].sum()) > int(hsh["n_files_skipped"].sum())


def test_skipping_audit_replay(spark, sf_dir):
    pdf = snap_skipping_audit(spark, sf_dir).toPandas()
    man = _manifest_replay(spark, sf_dir)
    probes = sorted(
        man.loc[man["layout"] == "clustered", "file_id"].unique()
    )
    exp = []
    for layout, m in man.groupby("layout"):
        for p in probes:
            lo, hi = p * CLUSTER_DAYS, (p + 1) * CLUSTER_DAYS
            skip = (m["max_day"] < lo) | (m["min_day"] >= hi)
            exp.append(
                (
                    layout,
                    p,
                    len(m),
                    int(skip.sum()),
                    int(skip.sum()) * 1_000_000 // len(m),
                    int(m.loc[~skip, "n_rows"].sum()),
                )
            )
    exp_df = pd.DataFrame(
        exp,
        columns=[
            "layout",
            "probe_bucket",
            "n_files",
            "n_files_skipped",
            "skip_ppm",
            "rows_scanned",
        ],
    )
    key = ["layout", "probe_bucket"]
    got = pdf.sort_values(key).reset_index(drop=True)[exp_df.columns]
    want = exp_df.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype("int64", errors="ignore"), want.astype(got.dtypes.to_dict())
    )


# ------------------------------------------------------------------
# snap_overlap_depth
# ------------------------------------------------------------------


def test_overlap_depth_replay_and_contrast(spark, sf_dir):
    pdf = snap_overlap_depth(spark, sf_dir).toPandas()
    man = _manifest_replay(spark, sf_dir)
    # Python sweep-line replay.
    exp = []
    for layout, m in man.groupby("layout"):
        deltas: dict[int, list[int]] = {}
        for _, r in m.iterrows():
            deltas.setdefault(int(r["min_day"]), [0, 0])[0] += 1
            deltas.setdefault(int(r["max_day"]) + 1, [0, 0])[1] += 1
        depth = 0
        for day in sorted(deltas):
            opens, closes = deltas[day]
            depth += opens - closes
            exp.append((layout, day, opens, closes, depth))
    exp_df = pd.DataFrame(
        exp, columns=["layout", "day", "n_opens", "n_closes", "depth"]
    )
    key = ["layout", "day"]
    got = pdf.sort_values(key).reset_index(drop=True)[exp_df.columns]
    want = exp_df.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))
    # Contrast: a date-clustered layout has depth <= 1 everywhere
    # (files are disjoint day windows); the hash layout's peak depth
    # is its entire file count (every file spans the range).
    clu = pdf[pdf["layout"] == "clustered"]
    hsh = pdf[pdf["layout"] == "hashed"]
    assert int(clu["depth"].max()) == 1
    n_hash_files = int(
        man.loc[man["layout"] == "hashed", "file_id"].nunique()
    )
    assert int(hsh["depth"].max()) >= (n_hash_files + 1) // 2
    # Sweep conservation: every opened file closes.
    for m in (clu, hsh):
        assert int(m["n_opens"].sum()) == int(m["n_closes"].sum())
        assert int(m.sort_values("day")["depth"].iloc[-1]) == 0


intervals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.integers(min_value=0, max_value=10_000),
    ).map(lambda p: (min(p), max(p))),
    min_size=1,
    max_size=60,
)


def _sweep_depths(ivs: list[tuple[int, int]]) -> dict[int, int]:
    """Replica of snap_overlap_depth's boundary rollup + running sum."""
    deltas: dict[int, int] = {}
    for lo, hi in ivs:
        deltas[lo] = deltas.get(lo, 0) + 1
        deltas[hi + 1] = deltas.get(hi + 1, 0) - 1
    depth, out = 0, {}
    for day in sorted(deltas):
        depth += deltas[day]
        out[day] = depth
    return out


@given(intervals)
@settings(max_examples=200, deadline=None)
def test_sweep_line_equals_brute_force_overlap(ivs):
    depths = _sweep_depths(ivs)
    days = sorted(depths)
    for day, depth in depths.items():
        brute = sum(1 for lo, hi in ivs if lo <= day <= hi)
        assert depth == brute
    # Conservation: depth never negative, returns to zero after the
    # last boundary.
    assert all(d >= 0 for d in depths.values())
    assert depths[days[-1]] == 0


def test_vacuum_plan_invariants(spark, sf_dir):
    pdf = (
        snap_vacuum_plan(spark, sf_dir)
        .toPandas()
        .sort_values("gen")
        .reset_index(drop=True)
    )
    assert list(pdf.gen) == list(range(VACUUM_GENS))
    # Retention policy: exactly the last VACUUM_KEEP generations are
    # live; nothing they reference may be reclaimed.
    assert (pdf.vacuumable == (pdf.gen < VACUUM_GENS - VACUUM_KEEP)).all()
    live = pdf[pdf.vacuumable == 0]
    assert (
        pdf.cum_bytes_reclaimed.iloc[-1]
        == pdf[pdf.vacuumable == 1].bytes_last_ref.sum()
    )
    # A live generation's expiry bytes never enter the reclaim total.
    assert (
        pdf.cum_bytes_reclaimed.diff().fillna(pdf.cum_bytes_reclaimed.iloc[0])[
            live.index
        ]
        == 0
    ).all()
    # Conservation: every file has exactly one last reference.
    from decision_tree_analytics_spark.operators.cdc import (
        _order_layout_manifest,
    )

    n_files = (
        _order_layout_manifest(spark, sf_dir)
        .filter(F.col("layout") == "clustered")
        .count()
    )
    assert pdf.n_files_last_ref.sum() == n_files
    # cum is monotone non-decreasing.
    assert (pdf.cum_bytes_reclaimed.diff().dropna() >= 0).all()


# ---- snap_vacuum_plan accounting -------------------------------------


def _vacuum_rows(files: list[tuple[int, int, int]]) -> list[dict]:
    """Replica of the planner over (bytes, born, extra) file tuples."""
    spans = [
        (bytes_, born, min(born + extra + 1, VACUUM_GENS - 1))
        for bytes_, born, extra in files
    ]
    live_floor = VACUUM_GENS - VACUUM_KEEP
    rows = []
    cum = 0
    for gen in range(VACUUM_GENS):
        referenced = [
            (b, lo, hi) for b, lo, hi in spans if lo <= gen <= hi
        ]
        last = [(b, lo, hi) for b, lo, hi in spans if hi == gen]
        vac = 1 if gen < live_floor else 0
        if vac:
            cum += sum(b for b, _, _ in last)
        rows.append(
            {
                "gen": gen,
                "n_files_referenced": len(referenced),
                "bytes_last_ref": sum(b for b, _, _ in last),
                "n_files_last_ref": len(last),
                "vacuumable": vac,
                "cum_bytes_reclaimed": cum,
            }
        )
    return rows


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),  # bytes
            st.integers(min_value=0, max_value=3),  # born
            st.integers(min_value=0, max_value=2),  # extra
        ),
        min_size=1,
        max_size=200,
    )
)
def test_vacuum_accounting_invariants(files):
    rows = _vacuum_rows(files)
    # Conservation: every file has exactly one last reference.
    assert sum(r["n_files_last_ref"] for r in rows) == len(files)
    # Nothing referenced by a live snapshot is ever reclaimed: the
    # reclaim total equals the bytes of files whose whole span ended
    # before the live floor.
    live_floor = VACUUM_GENS - VACUUM_KEEP
    expect = sum(
        b
        for b, born, extra in files
        if min(born + extra + 1, VACUUM_GENS - 1) < live_floor
    )
    assert rows[-1]["cum_bytes_reclaimed"] == expect
    # Monotone, and flat across the live tail.
    cums = [r["cum_bytes_reclaimed"] for r in rows]
    assert all(a <= b for a, b in zip(cums, cums[1:]))
    assert cums[live_floor - 1] == cums[-1]
    # A generation's footprint always includes the files whose last
    # reference it is.
    for r in rows:
        assert r["n_files_referenced"] >= r["n_files_last_ref"]
