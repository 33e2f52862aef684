"""Benchmark of record: one workload, one seed, one process.

    python3 perfbench/run.py --workload season_rebuild --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Builds a local[nproc] Spark session
through ``get_spark``, sets the workload up (generate, land, warm up),
then runs ops in a closed loop for ``--seconds`` (and at least two
ops) and checks the outputs. Human-readable lines go to stdout first; the last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Everything the run writes stays under
``.perfbench_run/`` in the working directory; traces are kept in
``.perfbench_run/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
MIN_OPS = 2


def _env(work: str) -> None:
    """Pin every scratch location the JVM, Spark and Python use inside
    the run's work dir, and the core count to the visible cores."""
    for d in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp "
                             "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })


def _peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _stop(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — any failure to exit: kill
        gw.proc.kill()
        gw.proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the package in the checkout
    sys.path.insert(0, ROOT)
    import formula1_data_pipeline_spark  # noqa: F401,E402

    work = os.path.join(RUN_DIR, f"w-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from pyspark import SparkContext

    from formula1_data_pipeline_spark.session import get_spark

    tracer = spans.Tracer(bool(args.trace))
    extra = None
    if args.trace:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": f"file://{work}/events",
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
    with tracer.span("session.get_spark"):
        spark = get_spark(extra_conf=extra)
    try:
        tracer.sc = spark.sparkContext
        cores = spark.sparkContext.defaultParallelism
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.perf_counter() - T_START

        before = [spans.storage_counters(p) for p in wl.tables()]
        op_ms, failed, rss = [], 0, 0.0
        pids = [os.getpid(), SparkContext._gateway.proc.pid]
        deadline = time.perf_counter() + args.seconds
        # a fixed minimum keeps every run's median over the same op
        # positions, and peak RSS is read at that fixed point, so
        # neither depends on how many ops a run happened to fit
        while time.perf_counter() < deadline or len(op_ms) < MIN_OPS:
            tracer.op = len(op_ms)
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    ok = wl.op()
            except Exception:  # noqa: BLE001 — an op failure is counted
                traceback.print_exc()
                ok = False
            op_ms.append((time.perf_counter() - t0) * 1000.0)
            failed += not ok
            if len(op_ms) == MIN_OPS:
                rss = _peak_rss_mb(pids)
        tracer.op = None

        errors = wl.check()
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        failed += bool(errors)
        after = [spans.storage_counters(p) for p in wl.tables()]
    except Exception:  # noqa: BLE001 — reported as a failed run
        traceback.print_exc()
        return 1
    finally:
        _stop(spark)

    n_ops = len(op_ms)
    op_p50 = spans.median(op_ms)
    live_bytes = sum(a["live_bytes"] for a in after)
    stored_ratio = live_bytes / wl.input_bytes()
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (op_p50, "ms"),
        "items_per_s": (wl.items_per_op / (op_p50 / 1000.0), "1/s"),
    }
    # ---- human-readable report (every line before the last) ----
    print(f"workload={wl.name} seed={args.seed} ops={n_ops} "
          f"cores={cores} failed={failed} errors={errors}")
    print("sizes " + json.dumps(wl.sizes(), sort_keys=True))
    for k, (v, u) in e2e.items():
        print(f"{k} = {v:.4f} {u}")
    print(f"op_p90_ms = {spans.p90(op_ms):.1f} ms (n={n_ops}); ops ms: "
          + " ".join(f"{x:.0f}" for x in op_ms))
    print(f"peak_rss_mb = {rss:.1f} MB (Python + driver JVM VmHWM after "
          f"timed op {MIN_OPS})")
    print(f"stored_bytes_per_input_byte = {stored_ratio:.4f} "
          f"(live bytes {live_bytes})")
    for line in wl.report(op_ms):
        print(line)
    print("storage " + json.dumps(
        dict(zip((os.path.relpath(p, work) for p in wl.tables()), after)),
        sort_keys=True))

    if args.trace:
        metrics = _per_layer(tracer, wl, work, cores, n_ops, before, after,
                             stored_ratio, op_ms, setup_s, rss)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    # n_ops timed ops plus the final output check
    print(json.dumps({"correct": failed == 0, "attempted": n_ops + 1,
                      "failed": failed, "metrics": metrics}))
    return 0


# per-layer metric name -> (span name, unit, scale of seconds)
SPAN_TIMES = {
    "openf1.records_to_raw_df_ms": ("openf1.records_to_raw_df", "ms", 1e3),
    "sinks.replace_by_key_ms": ("sinks.replace_by_key", "ms", 1e3),
    "txn.read_table_ms": ("txn.read_table", "ms", 1e3),
    "registry.run_s": ("registry.run", "s", 1.0),
    "assertions.report_s": ("assertions.report", "s", 1.0),
    "dedup.exact_groups_s": ("dedup.exact_groups", "s", 1.0),
    "dedup.minhash_lsh_s": ("dedup.minhash_lsh", "s", 1.0),
    "cluster.neardup_s": ("cluster.neardup", "s", 1.0),
}
ENGINE = {"jobs": "count", "tasks": "count", "task_cpu_s": "s",
          "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
          "driver_gap_ms": "ms", "core_busy_ratio": "ratio"}


def _per_layer(tracer, wl, work, cores, n_ops, before, after,
               stored_ratio, op_ms, setup_s, rss) -> dict:
    """Per-op means of each layer's self time and counters over the
    timed ops, plus Spark engine counters of the op spans read back
    from the event log."""
    ops = max(n_ops, 1)
    m: dict[str, dict] = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    gs = tracer.of("session.get_spark", op_only=False)
    put("session.get_spark_s", gs[0].dur if gs else 0.0, "s")
    put("session.peak_rss_mb", rss, "MB")
    for metric, (span, unit, scale) in SPAN_TIMES.items():
        put(metric, sum(tracer.self_time(s) for s in tracer.of(span))
            * scale / ops, unit)
    conv = tracer.of("openf1.records_to_raw_df")
    put("openf1.rows", sum(s.counts["rows"] for s in conv) / ops, "count")

    def delta(k):
        return sum(a[k] - b[k] for a, b in zip(after, before)) / ops

    put("txn.commits", delta("versions"), "count")
    put("txn.files_written", delta("data_files"), "count")
    put("txn.bytes_written", delta("data_bytes"), "bytes")
    put("txn.live_segments", sum(a["live_segments"] for a in after),
        "count")
    reads = [s for s in tracer.of("txn.read_table") if "segments" in s.counts]
    put("txn.read_files",
        sum(s.counts["files"] for s in reads) / len(reads) if reads else 0.0,
        "count")
    put("txn.prune_kept_ratio",
        sum(s.counts["kept"] for s in reads)
        / max(1, sum(s.counts["segments"] for s in reads)) if reads else 0.0,
        "ratio")
    put("txn.stored_bytes_per_input_byte", stored_ratio, "ratio")
    rep = tracer.of("assertions.report")
    put("assertions.checks",
        sum(s.counts["checks"] for s in rep) / ops, "count")
    lsh = tracer.of("dedup.minhash_lsh")
    cand = sum(s.counts["candidates"] for s in lsh)
    put("dedup.lsh_candidates", cand / ops, "count")
    put("dedup.lsh_useful_ratio",
        sum(s.counts["useful"] for s in lsh) / cand if cand else 0.0,
        "ratio")

    log = spans.find_event_log(os.path.join(work, "events"))
    jobs = spans.read_event_log(log) if log else []
    owned = spans.attribute_jobs(tracer, jobs)
    reg_jobs = sum(len(spans.subtree_jobs(tracer, owned, s.sid))
                   for s in tracer.of("registry.run"))
    put("registry.jobs", reg_jobs / ops, "count")
    totals = {k: 0.0 for k in ENGINE}
    for s in tracer.of("op"):
        em = spans.engine_metrics(
            s, spans.subtree_jobs(tracer, owned, s.sid), cores)
        for k in ENGINE:
            totals[k] += em[k]
    for k, unit in ENGINE.items():
        put(f"spark.{k}", totals[k] / ops, unit)
    put("trace.op_p50_ms", spans.median(op_ms), "ms")
    put("trace.setup_s", setup_s, "s")

    os.makedirs(os.path.join(RUN_DIR, "traces"), exist_ok=True)
    out = os.path.join(RUN_DIR, "traces",
                       f"{wl.name}-{os.getpid()}.json")
    spans.write_trace(out, tracer, owned, cores)
    print(f"trace written to {os.path.relpath(out, ROOT)}")
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
