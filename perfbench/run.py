"""Same-host benchmark of the point-in-time (PIT) core of timefence_spark.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload build_wide --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench -q        # the benchmark's own self-tests

It imports the library from the checkout, opens the session a caller
without one gets (``timefence_spark.get_spark()``: local[*], 32 shuffle
partitions, AQE, default driver memory), generates its inputs from
``--seed`` (``gen.py``) and drives the public API as a closed loop with one
client: one call in flight, no threads of its own. Each timed call's output
is checked after the loop (``workloads.py``, ``oracle.py``); a call that
raises or fails its check counts in ``failed``.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s``: process start to the end of the warm-up rounds, without input
  generation. It holds ``get_spark()`` and the JVM/JIT ramp.
* ``cycle_s``: one round of the workload's cycle, as the sum over its
  variants of each variant's median wall (``build_s.p50`` on build_wide).
* ``rows_per_s``: output label rows over the summed wall of the timed calls.
* ``peak_rss_mb``: VmHWM of the driver JVM plus ru_maxrss of Python, read at
  the end of the run.

Per-layer metrics (``--trace 1``) come from a run that traces every call of
its loop (``sparkstat.py``) and then probes each layer once
(``probe_layers``).

Output on stdout: a metric table; a JSON record with the host fingerprint,
CPU steal, ops_failed_frac and per-kind medians (build_s.p50,
audit_rebuild_s.p50, ...); and as the last line ``{"correct", "attempted",
"failed", "metrics"}``. The exit code is 0 only when that line is printed.
Inputs, outputs and temp files of Python, the JVM, Spark and DuckDB stay
under ``perfbench/.work``. ``--shape tiny`` shrinks every input.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (labels, features) per workload; features have 2x the label rows each.
SHAPES = {
    "full": {"build_wide": (60_000, 5), "build_small": (10_000, 3), "audit_read": (50_000, 4)},
    "tiny": {"build_wide": (2_000, 3), "build_small": (2_000, 3), "audit_read": (2_000, 2)},
}
WARMUP_STEPS = 4
MIN_STEPS = 4
ENGINE_OPS = ("build", "audit_rebuild", "audit_temporal", "diff", "explain")

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES["full"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--shape", choices=sorted(SHAPES), default="full")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every temp file of Python, the JVM, Spark and DuckDB under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Read by every JVM, the Spark launcher's too. PerfDisableSharedMem: no
    # hsperfdata file under the system temp directory.
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    )


def import_library():
    """The library from this checkout, never an installed copy."""
    sys.path.insert(0, ROOT)
    import timefence_spark as tf

    if not os.path.abspath(tf.__file__).startswith(os.path.join(ROOT, "timefence_spark")):
        raise ImportError(f"timefence_spark resolved outside the checkout: {tf.__file__}")
    return tf


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it, and its value."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # 0-based rank with exactly 10 samples above it
    return 100.0 * (k + 1) / n, sorted(xs)[k]


def summarize(ops, n_steps, setup_s, rss_mb) -> tuple[dict, dict]:
    """End-to-end metrics (the gated set) and the per-kind detail."""
    by_kind: dict[str, list[float]] = {}
    by_variant: dict[str, list[float]] = {}
    for op in ops:
        if not op.error:
            by_kind.setdefault(op.kind, []).append(op.wall_s)
            by_variant.setdefault(op.variant, []).append(op.wall_s)
    wall = sum(op.wall_s for op in ops if not op.error)
    rows = sum(op.rows for op in ops if not op.error)
    metrics = {
        "setup_s": setup_s,
        # One round of the workload: the sum of each variant's median wall.
        "cycle_s": sum(median(v) for v in by_variant.values()),
        "rows_per_s": rows / wall if wall > 0 else 0.0,
        "peak_rss_mb": rss_mb,
    }
    detail = {f"{k}_s.p50": median(v) for k, v in by_kind.items()}
    detail.update({f"{k}_s.n": len(v) for k, v in by_kind.items()})
    if "build" in by_kind:
        detail["build_rows_per_s"] = metrics["rows_per_s"]
        t = tail(by_kind["build"])
        detail["build_s.tail"], detail["build_s.tail_pct"] = (t[1], t[0]) if t else (None, None)
    detail["variant_s.p50"] = {k: median(v) for k, v in by_variant.items()}
    detail["variant_s.all"] = {k: [round(x, 3) for x in v] for k, v in by_variant.items()}
    detail["steps"] = n_steps
    return metrics, detail


def run(args) -> dict:
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(HERE, ".work", "inputs")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    isolate(work)
    tf = import_library()

    import gen
    import host
    import sparkstat
    import workloads

    cpu0 = host.cpu_times()
    spark = tf.get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    cores = spark.sparkContext.defaultParallelism
    try:
        t_gen = time.perf_counter()
        n, k = SHAPES[args.shape][args.workload]
        data = gen.generate(cache, n, k, args.seed)
        tracer = sparkstat.StatusStore(spark) if args.trace else None
        ctx = workloads.Context(tf, spark, work, data, args.seed, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        coverage = wl.coverage() if hasattr(wl, "coverage") else None
        if coverage and not all(0 < c < n for cs in coverage.values() for c in cs):
            raise RuntimeError(f"inputs do not cover the variants: {coverage}")
        gen_s = time.perf_counter() - t_gen

        wl.setup()
        steps = wl.steps()
        # Untimed whole rounds of the cycle, at least WARMUP_STEPS steps:
        # session start plus the JVM/JIT and codegen ramp a one-shot user
        # pays. A build_wide build is still ramping on its second and third call.
        warm_up(steps)
        setup_s = time.perf_counter() - T_START - gen_s

        # Closed loop over whole rounds of the cycle until --seconds have
        # passed, and at least MIN_STEPS steps: every variant gets the same
        # number of samples, and a one-step cycle gets at least four.
        ops = []
        min_steps = max(len(steps), MIN_STEPS)
        t_loop = time.perf_counter()
        i = 0
        while i < min_steps or i % len(steps) or time.perf_counter() - t_loop < args.seconds:
            ops += steps[i % len(steps)](bool(args.trace))
            i += 1
        loop_s = time.perf_counter() - t_loop

        layers, probe_ops = probe_layers(ctx, wl, ops) if args.trace else ({}, [])
        rss_mb = host.peak_rss_mb(jvm_pid)
        fp = host.fingerprint(spark)
        failures = []
        for op in ops + probe_ops:
            if op.error is None:
                problem = op.check()
                if problem:
                    op.error = problem
                    print(f"[perfbench] {op.kind}/{op.variant}: {problem}", file=sys.stderr)
            if op.error:
                failures.append(f"{op.kind}/{op.variant}")
        steal = host.steal_frac(cpu0, host.cpu_times())
        metrics, detail = summarize(ops, i, setup_s, rss_mb)
        detail.update(
            {"gen_s": gen_s, "loop_s": loop_s, "steal_frac": steal, "ops_failed_frac":
             len(failures) / len(ops + probe_ops), "cores": cores, "coverage": coverage}
        )
        if args.trace:
            layers["control.steal_frac"] = steal
            # The status-store reads happen outside each call's timed
            # interval, so what tracing adds to a run is their own wall.
            layers["trace.overhead_frac"] = sum(sp.overhead_s for sp in ctx.spans) / sum(
                sp.wall_s for sp in ctx.spans
            )
            layers.update(engine_metrics(ctx.spans, cores))
            # Attribution checks: job time outside its call's span, and the
            # traced calls that ran no Spark job or stage.
            detail["trace_outside_s"] = max(sp.outside_s() for sp in ctx.spans)
            detail["trace_jobless"] = sorted(
                {f"{op.kind}/{op.variant}" for op in ops + probe_ops
                 if op.span and not (op.span.jobs and op.span.stages)}
            )
        return {
            "attempted": len(ops + probe_ops),
            "failures": failures,
            "metrics": metrics,
            "detail": detail,
            "layers": layers,
            "fingerprint": fp,
        }
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def warm_up(steps) -> None:
    rounds = -(-WARMUP_STEPS // len(steps))
    for _ in range(rounds):
        for step in steps:
            for op in step(False):
                if op.error:
                    raise RuntimeError(f"warm-up failed: {op.error}")


def engine_metrics(spans, cores: int) -> dict[str, float]:
    """Per-call mean of every engine field, for each public operation."""
    from sparkstat import ENGINE_FIELDS

    out = {}
    for op in ENGINE_OPS:
        rows = [s.engine(cores) for s in spans if s.op == op]
        for f in ENGINE_FIELDS:
            out[f"engine.{op}.{f}"] = (
                sum(r[f] for r in rows) / len(rows) if rows else 0.0
            )
    return out


def probe_layers(ctx, wl, ops) -> tuple[dict[str, float], list]:
    """Traced run only: one call per layer, on this workload's inputs, plus
    one call of each public operation the workload's cycle does not make.
    Returns the layer metrics and the probed library calls, which are
    checked and counted like the loop's."""
    import oracle
    import pyarrow.parquet as pq
    import sparkstat
    import workloads
    from timefence_spark import plans
    from timefence_spark.sources import readers

    tf, spark, data = ctx.tf, ctx.spark, ctx.data
    out: dict[str, float] = {}
    spans: list = []

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # readers: load every input table, forced by a full noop scan.
    spec = wl.main_spec()
    with sparkstat.OpTrace(ctx.tracer, spans, "readers"):
        dfs = [readers.load_labels_df(spark, ctx.labels)]
        dfs += [readers.load_source_df(spark, f.source) for f in spec.features]
        for df in dfs:
            noop(df)
    r = spans[-1]
    out["readers.load_s"] = r.wall_s
    out["readers.rows"] = sum(
        pq.read_metadata(str(p)).num_rows
        for p in [data.labels, *(f.source.path for f in spec.features)]
    )
    out["readers.input_mb"] = r.engine(1)["input_mb"]

    # asof: the public standalone join of the labels with feature 0.
    labels_df, feat_df = dfs[0], dfs[1]
    joined = tf.asof_join(
        labels_df, feat_df, on="user_id", left_time="label_time", right_time="updated_at",
        value_cols=["val_0"], lookback=workloads.LOOKBACK_S,
    )
    with sparkstat.OpTrace(ctx.tracer, spans, "asof"):
        noop(joined)
    a = spans[-1]
    eng = a.engine(1)
    out["asof.asof_join_s"] = a.wall_s
    out["asof.task_s"] = eng["task_s"]
    out["asof.shuffle_read_mb"] = eng["shuffle_read_mb"]
    out["asof.spill_mb"] = eng["spill_mb"]
    out["asof.rows_per_s"] = (data.n_labels * 3) / a.wall_s

    t0 = time.perf_counter()
    plans.physical_summary(joined)
    out["plans.physical_summary_s"] = time.perf_counter() - t0

    # store: a build on a fresh Store, then its cache-hit repeat.
    store_dir = os.path.join(ctx.work, "probe_store")
    out_path = ctx.out_path("probe_store")
    fresh = ctx.build(spec, True, out_path, store_dir, kind="store_build")
    hit = ctx.build(spec, True, out_path, store_dir, kind="store_build")
    hit.variant = "store_hit"
    store_ops = [fresh, hit]
    hits = sum(
        op.result is not None
        and all(f.get("cached") for f in op.result.stats.feature_stats.values())
        for op in store_ops
    )
    out["store.cached_build_s"] = hit.wall_s
    out["store.build_cache_hit_frac"] = hits / len(store_ops)
    t0 = time.perf_counter()
    for p in [data.labels, *(f.source.path for f in spec.features)]:
        tf.Store.content_hash(p)
    out["store.content_hash_s"] = time.perf_counter() - t0

    # Public operations the cycle lacks, once each, traced.
    missing = [k for k in ENGINE_OPS if k not in wl.ops_kinds]
    extra_ops = []
    if "build" in missing:
        extra_ops.append(ctx.build(spec, True))
    audit_kinds = [k for k in missing if k != "build"]
    if audit_kinds:
        a_set = workloads.prepare_audit(ctx, spec, fresh.output)
        extra_ops += workloads.audit_ops(ctx, a_set, True, audit_kinds)

    t0 = time.perf_counter()
    oracle.expected_hash(ctx.con, data.labels, spec.specs, workloads.LOOKBACK_S)
    out["control.duckdb_asof_s"] = time.perf_counter() - t0
    return out, [*store_ops, *extra_ops]


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    res = run(args)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    for name, m in metrics.items():
        print(f"{name:45s} {m['value']:14.6g} {m['unit']}")
    for name, v in res["detail"].items():
        print(f"  {name:43s} {v}")
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "shape": args.shape,
        "fingerprint": res["fingerprint"],
        "detail": res["detail"],
        "failures": res["failures"],
    }
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": not res["failures"],
                "attempted": res["attempted"],
                "failed": len(res["failures"]),
                "metrics": metrics,
            }
        )
    )
    return 0


def unit_of(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf == "rows_per_s":
        return "1/s"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_frac"):
        return "frac"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
