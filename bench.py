"""Headline benchmark — one JSON line for the driver.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ``{"metric": ..., "unit": "sec", "queries": {name: sec},
"sf": ..., "total_s": ..., "n_queries": ...}`` (the full per-entry
inventory also lands in BENCH_FULL.json; the printed line
self-truncates from the front to fit the driver's 2000-byte tail
capture, so the tail keys always survive).  ``$SPARK_GRAFT_CPUS``
defaults to the cores the process may run on.

Each query is fully materialized via a count-style reduction
(``df.write`` would measure the sink; ``collect`` would measure
driver transfer) — we time plan + execution to completion.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def corpus_tag(sf_dir: str) -> str:
    """Content identity of the benchmarked corpus generation,
    truncated to 12 hex.  The testdata is regenerated between rounds
    (observed mid-r14: dedup_minhash_lsh_pairs moved 1.1 s -> 1.4 s
    warm purely from new document contents), so a bench record must
    self-identify its generation — totals from different corpus tags
    are NOT comparable and must not be read as regressions.  One
    shared definition with scale_probe's derived-corpus stamps
    (sources/tables.py corpus_generation_tag)."""
    from decision_tree_analytics_spark.sources.tables import (
        corpus_generation_tag,
    )

    return corpus_generation_tag(sf_dir)[:12]

# Headline set: the BASELINE.md M5 contract (agg, join, window-dedup,
# top-k) plus one representative of each extension family.
HEADLINE = [
    "q11_hash_agg",
    "q06_inner_join",
    "q16_window_keep_first",
    "q19_topk",
    "q23_math_fns",
    "q24_exact_dedup",
]


def main() -> None:
    # External-load snapshot BEFORE any engine work: once the warmup
    # passes run, loadavg mostly reflects the bench itself (measured
    # 0.07 -> 3.3 across warmup on an otherwise idle box), which says
    # nothing about noisy neighbors.  load1_end (after the passes)
    # deliberately includes self-load; the START number is the one to
    # read for cross-round floor comparability.
    load_start = os.getloadavg()[0]
    from decision_tree_analytics_spark import operators
    from decision_tree_analytics_spark.session import get_spark

    spark = get_spark(app_name="dta-spark-bench")
    queries = operators.all_queries()
    names = [n for n in HEADLINE if n in queries]
    # Optional extras declared by modules (e.g. ML/dedup heavies).
    names += [n for n in getattr(operators, "BENCH_EXTRAS", []) if n in queries and n not in names]

    # Warm the JVM + parquet footer caches once (excluded from timing):
    # one pass over every input table, so no timed query pays the
    # one-off footer read / FS metadata cost for a table it happens to
    # touch first — a session constant, not a per-query cost at scale.
    from decision_tree_analytics_spark.sources.tables import (
        BASE_TABLES,
        load_table,
    )

    for t in BASE_TABLES:
        load_table(spark, SF_DIR, t).count()
    queries[names[0]](spark, SF_DIR).count()
    # Warm the Python/Arrow lane too: the first pandas-UDF query in a
    # session otherwise pays the one-off worker-pool spawn (~2-3 s on
    # local[32]) — a session constant, not a per-query cost at scale.
    import pandas as pd  # noqa: F401

    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # Best-of-two passes per query: the first pass additionally warms
    # JIT/codegen paths a query is first to touch (MLlib tree jobs,
    # Arrow lanes), and the min filters one-off noisy-neighbor spikes
    # on the shared host — we record steady-state engine throughput,
    # which is what extrapolates to a long-running cluster job.
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t0 = time.perf_counter()
            queries[name](spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # VERDICT r11 item 7: cross-round floor comparisons need the box
    # load on the record, not archaeology — annotate the parsed line
    # with the 1-min load average at timing start and end.
    line, full = emit(
        timings,
        names,
        sf,
        loads=(load_start, os.getloadavg()[0]),
        corpus=corpus_tag(SF_DIR),
    )
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
        "w",
    ) as fh:
        json.dump(full, fh, indent=1)
    print(line)
    spark.stop()


# The driver's artifact capture keeps only the LAST ~2000 bytes of
# output and then tries json.loads on the captured line (the round-8
# and round-9 bench records both read parsed:null because the
# full-inventory line outgrew that window).  Two-part emission:
#   * the COMPLETE per-entry timings go to BENCH_FULL.json next to
#     this script (committed — rounds are diffed there);
#   * the printed line carries the queries dict in REVERSE run order
#     (headline names last) and SELF-TRUNCATES to fit the capture
#     window, dropping entries from the FRONT, so the SURVEY headline
#     names, total_s and n_queries always survive AND the captured
#     line parses as JSON.
LINE_BUDGET = 1900


def emit(
    timings: dict, names: list, sf, loads=None, corpus=None
) -> tuple[str, dict]:
    """Build (printed line, full record) — pure, unit-testable.

    ``loads`` = (load1_start, load1_end) box load averages bracketing
    the timed passes; they ride BOTH the full record and the printed
    line's tail so cross-round floor comparisons carry their own
    load context (VERDICT r11 item 7).  ``corpus`` = corpus_tag() of
    the benchmarked data generation — totals across different tags
    are not comparable (the testdata rotates between rounds)."""
    ordered = {n: round(timings[n], 2) for n in reversed(names)}
    total = round(sum(timings.values()), 2)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if str(sf).replace(".", "").isdigit() else sf,
        "queries": ordered,
        "total_s": total,
        "n_queries": len(names),
    }
    if loads is not None:
        full["load1_start"] = round(loads[0], 2)
        full["load1_end"] = round(loads[1], 2)
    if corpus is not None:
        full["corpus"] = corpus
    payload = dict(full)
    # ADVICE r10: 'value' duplicates 'total_s' — keep it only in
    # BENCH_FULL.json and spend the ~25 line bytes on query entries
    # (the tests lock 'total_s'/'n_queries' as the surviving pair).
    del payload["value"]
    payload["full_timings"] = "BENCH_FULL.json"
    while True:
        payload["queries_omitted"] = len(names) - len(payload["queries"])
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= LINE_BUDGET or not payload["queries"]:
            break
        q = dict(payload["queries"])
        q.pop(next(iter(q)))  # least-important first (reversed order)
        payload["queries"] = q
    return line, full


if __name__ == "__main__":
    main()
