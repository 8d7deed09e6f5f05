"""Closed-loop benchmark of the decision-tree analytics engine.

    python3 perfbench/run.py --workload olap_short --seed 1 --seconds 15 --trace 0

Run from the repository root.  One driver process starts the engine's
session on ``local[<cores>]`` and issues one workload's operations one
after another, each only after the previous one finished, with no
other client threads.  Every operation ends in an action that
materialises all of its output columns and checks them (workloads.py,
digest.py).

Phases of a run:

1. corpus: copy the committed tables (``perfbench/data``) under
   ``perfbench/.work`` with their rows in a seed-chosen order
   (corpus.py); not part of any metric.
2. set-up: start the session, warm the tables the workload reads, and
   run WARMUP_PASSES passes over its operations, in declared order so
   the model exists before it is scored.  ``setup_s`` is the time from
   process start to the first timed operation, less the corpus phase
   and less computing the oracle digests (once per corpus).
3. measurement: ``round(--seconds / PASS_S)`` whole passes (at least
   one) over the operations in a seed-chosen order, so a run measures
   for about ``--seconds`` on a 4-core host.  The work measured is
   fixed rather than the time, so fast and slow runs take their medians
   over the same passes.  Each operation's median leaves out the
   samples taken while the hypervisor stole more than STEAL_MAX of the
   machine's CPU time (metrics.unstolen); one more pass is run when an
   operation has fewer than two samples left.  ``wall_s`` is the sum
   over operations of each one's median seconds, the time of one pass;
   ``geomean_query_s`` their geometric mean.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (layers.py);
the untraced passes give the tracing overhead.  The last stdout line is
a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.  Each run also writes a self-describing record (and, when
traced, its spans) under ``perfbench/.work/records``; compare.py
compares two records.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import asdict  # noqa: E402
from decimal import Decimal  # noqa: E402

import metrics as M  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "decision_tree_analytics_spark"
# Driver heap: what a 4-core, 15 GB host can hold next to its
# neighbours (the engine's own default asks for 16g).
DRIVER_MEMORY = "4g"
# Nominal seconds of one warm pass of either workload on a 4-core host:
# a run measures round(--seconds / PASS_S) passes.
PASS_S = 5.0
# Untimed passes before the first timed operation.  The first pass of a
# fresh JVM runs at about half speed and the next ones still speed up
# while the JIT compiles.
WARMUP_PASSES = 3
# A sample taken while the hypervisor ran something else for more than
# this share of the machine's CPU time is left out of the medians.
STEAL_MAX = 0.02


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(cpus: int) -> None:
    """Point the engine and Spark at the checkout: core count, pinned
    driver memory, and every scratch directory under .work."""
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # Executor memory peaks (for cache.peak_bytes) are sampled on
        # this interval in every run, traced or not.
        "spark.executor.metrics.pollingInterval": "100ms",
    }
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def source_revision() -> dict:
    """Git revision when the checkout is a repository, plus a digest of
    the engine's sources that identifies the code either way."""
    try:
        rev = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        git_rev = rev.stdout.strip() if rev.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        git_rev = None
    h = hashlib.md5()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return {"git_rev": git_rev, "source_digest": h.hexdigest()[:12]}


def oracle_digests(spark, names: list[str]) -> dict:
    """Expected digest of each oracled query on the committed tables,
    from DuckDB.  Cached under .work by corpus, oracle text and digest code,
    so a checkout computes each one once."""
    import corpus
    import digest

    from decision_tree_analytics_spark.operators import all_oracles

    oracles = all_oracles()
    with open(digest.__file__, "rb") as fh:
        digest_code = hashlib.md5(fh.read()).hexdigest()
    path = os.path.join(WORK, f"oracle-{corpus.tag()}.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    con = None
    out = {}
    for name in names:
        key = hashlib.md5((digest_code + oracles[name]).encode()).hexdigest()
        entry = cache.get(name)
        if entry is None or entry["key"] != key:
            if con is None:
                import duckdb

                con = duckdb.connect()
                for t in corpus.TABLES:
                    parquet = os.path.join(corpus.DATA, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{parquet}')")
            odf = spark.createDataFrame(con.execute(oracles[name]).arrow())
            d = digest.read_digest(odf, digest.digest_action(odf).collect()[0])
            entry = {"key": key, "rows": d.rows, "hash_sum": str(d.hash_sum),
                     "columns": list(d.columns)}
            cache[name] = entry
        out[name] = digest.Digest(entry["rows"], Decimal(entry["hash_sum"]), tuple(entry["columns"]))
    if con is not None:
        con.close()
        with open(path, "w") as fh:
            json.dump(cache, fh, indent=1)
    return out


class Runner:
    """Issues a workload's operations in a closed loop and keeps their
    samples: op name -> list of readings, untraced and traced apart."""

    def __init__(self, workload, ctx, probe, seed: int, cpus: int) -> None:
        self.workload = workload
        self.ctx = ctx
        self.probe = probe
        self.order = random.Random(seed)
        self.cpus = cpus
        self.attempted = 0
        self.failures: list[str] = []
        self.untraced: dict[str, list[dict]] = {}
        self.traced: dict[str, list[dict]] = {}

    def run_op(self, op, traced: bool) -> dict | None:
        ctx, tracer = self.ctx, self.ctx.tracer
        self.attempted += 1
        group = f"perfbench-{self.attempted}-{op.name}"
        ctx.spark.sparkContext.setJobGroup(group, op.name)
        op.prepare(ctx)
        tracer.enabled = traced
        tracer.run_id = group
        first_span = len(tracer.spans)
        self.probe.start(traced)
        counting = self.probe.counter.measuring() if traced else contextlib.nullcontext()
        steal0 = M.steal_seconds()
        t0 = time.perf_counter()
        try:
            with tracer.span("op"), counting:
                error, action = op.run(ctx)
        except Exception as e:  # noqa: BLE001 - an operation that raises counts as failed
            error, action = f"{type(e).__name__}: {e}", None
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        steal = M.steal_seconds() - steal0
        tracer.enabled = False
        if error is not None:
            self.failures.append(f"{op.name}: {error}")
            print(f"check failed: {op.name}: {error}", file=sys.stderr)
            return None
        sample = {"wall_s": wall, "steal_s": steal}
        if traced:
            sample.update(self.probe.read(op.name, group, wall, action, tracer.spans[first_span:]))
        return sample

    def one_pass(self, traced=False, shuffle=True) -> None:
        ops = list(self.workload.ops)
        if shuffle:
            self.order.shuffle(ops)
        for op in ops:
            sample = self.run_op(op, traced)
            if sample is not None:
                (self.traced if traced else self.untraced).setdefault(op.name, []).append(sample)

    def measure(self, passes: int, trace: bool) -> None:
        """``passes`` untraced passes, each followed by a traced one when
        tracing, and one more untraced pass when an operation has fewer
        than two samples taken with at most STEAL_MAX stolen."""
        for _ in range(passes):
            self.one_pass()
            if trace:
                self.one_pass(traced=True)
        if any(len(M.unstolen(v, self.cpus, STEAL_MAX)) < 2 for v in self.untraced.values()):
            self.one_pass()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv) -> int:
    sys.path.insert(0, ROOT)
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"cannot import the engine package {PACKAGE!r} from {ROOT}: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv)

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import corpus
    import layers
    import tracing
    import workloads as W

    cpus = len(os.sched_getaffinity(0))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "corpus": corpus.tag(),
        "driver_memory": DRIVER_MEMORY, "load1_start": M.load1(),
        "steal_s_start": M.steal_seconds(), **source_revision(),
    }
    workload = W.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    configure_environment(cpus)

    t = time.perf_counter()
    corpus_dir = corpus.materialise(WORK, args.seed)
    label = pq.read_table(os.path.join(corpus_dir, "lineitem.parquet"), columns=[W.LABEL])[W.LABEL]
    file_bytes = {
        name: os.path.getsize(os.path.join(corpus_dir, f"{name}.parquet")) for name in corpus.TABLES
    }
    record["corpus_s"] = time.perf_counter() - t

    from decision_tree_analytics_spark.operators import all_queries
    from decision_tree_analytics_spark.session import get_spark
    from decision_tree_analytics_spark.sources.tables import load_table

    tracer = tracing.Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench")
    probe = layers.Probe(spark, tracer, cpus, file_bytes)
    if args.trace:
        probe.install()
    try:
        with tracer.span("sources.warm"):
            for name in workload.tables:
                load_table(spark, corpus_dir, name).count()
        setup_spans = list(tracer.spans)

        t = time.perf_counter()
        expected = oracle_digests(
            spark, [op.name for op in workload.ops if isinstance(op, W.OracledQuery)]
        )
        record["oracle_s"] = time.perf_counter() - t

        ctx = W.Context(
            spark=spark, corpus_dir=corpus_dir, model_dir=os.path.join(WORK, "models"),
            tracer=tracer, queries=all_queries(), expected=expected,
            lineitem_rows=len(label), label_sum=pc.sum(label).as_py(),
        )
        runner = Runner(workload, ctx, probe, args.seed, cpus)
        record["warmup_pass_s"] = []
        for _ in range(WARMUP_PASSES):
            t = time.perf_counter()
            runner.one_pass(shuffle=False)  # declared order: train before score
            record["warmup_pass_s"].append(time.perf_counter() - t)
        runner.untraced.clear()
        setup_s = time.perf_counter() - T_START - record["corpus_s"] - record["oracle_s"]

        t = time.perf_counter()
        record["passes"] = max(1, round(args.seconds / PASS_S))
        runner.measure(record["passes"], bool(args.trace))
        record["measure_s"] = time.perf_counter() - t
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = sum(M.peak_rss_mb(p) or 0.0 for p in (os.getpid(), jvm and jvm.pid) if p)
        cache_peak = tracing.peak_storage_bytes(spark) if args.trace else 0
    finally:
        probe.uninstall()
        stop_session(spark)

    missing = [op.name for op in workload.ops if op.name not in runner.untraced]
    if args.trace:
        missing += [op.name for op in workload.ops if op.name not in runner.traced]
    if missing:
        print(f"no passing sample of {missing}; failures: {runner.failures}", file=sys.stderr)
        return 1
    seconds = {
        name: [s["wall_s"] for s in M.unstolen(v, cpus, STEAL_MAX)]
        for name, v in runner.untraced.items()
    }
    medians = {name: statistics.median(v) for name, v in seconds.items()}
    values = {
        "setup_s": setup_s,
        "wall_s": sum(medians.values()),
        "geomean_query_s": M.geomean(list(medians.values())),
    }
    record.update({
        "load1_end": M.load1(), "steal_s_end": M.steal_seconds(),
        "attempted": runner.attempted, "failed": len(runner.failures),
        "failures": runner.failures, "end_to_end": values, "peak_rss_mb": peak_rss,
        "samples": runner.untraced,
        "timings": {name: asdict(M.summarise(v)) for name, v in seconds.items()},
        "query_s": asdict(M.summarise([x for v in seconds.values() for x in v])),
    })
    declared, out = M.END_TO_END, values
    if args.trace:
        out = layers.per_layer(
            runner.traced, setup_spans, medians, ctx.lineitem_rows,
            os.path.join(ctx.model_dir, W.MODEL_SET), cache_peak,
        )
        out["process.peak_rss_mb"] = peak_rss
        record["per_layer"] = out
        declared = M.PER_LAYER

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    stem = os.path.join(WORK, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        tracer.dump(stem + "-spans.json")
    for name, s in record["timings"].items():
        print(f"{name}: median {s['median']:.4f} s, n={s['n']}")
    q = record["query_s"]
    tail = f", p{q['tail_pct']:g} {q['tail']:.4f} s" if q["tail_pct"] is not None else ""
    print(f"all operations: median {q['median']:.4f} s{tail}, n={q['n']}")
    print(M.result_line(declared, out, runner.attempted, len(runner.failures)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
