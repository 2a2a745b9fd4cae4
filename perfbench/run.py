#!/usr/bin/env python3
"""Benchmark of the pandas_redshift_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  One process builds a local
Spark session capped at the machine's cores (``SPARK_GRAFT_CPUS``,
default ``nproc``), generates the workload's inputs from ``--seed``,
sets up (session builds, view registration, untimed warm-up rounds
of every operation kind), then drives one closed-loop client for ``--seconds``
and checks every result.  All scratch state lives in a per-run
directory under ``.perfbench_tmp/`` that is removed on exit.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it describes the run (machine state,
failed ratio, where the spans went).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import machine  # noqa: E402

#: session builds per run; ``setup_s`` uses their median
SETUP_REPS = 3


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="read the corpus from this directory instead of generating it")
    ap.add_argument("--spans-out", help="span file of a traced run (default under .perfbench_out/)")
    args = ap.parse_args(argv)

    before = machine.state()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(before["nproc"]))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # every JVM of the run (the spark-submit launcher and Spark's
    # driver) keeps its temp files in the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    try:
        sys.path.insert(0, ROOT)
        try:
            import pandas_redshift_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: pandas_redshift_spark not importable from {ROOT}: {exc}", file=sys.stderr)
            return 2
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        info, result = run(WORKLOADS[args.workload], args, tmp)
    finally:
        machine.stop_jvm()
        machine.cleanup_stream_stage(args.sf_dir or os.path.join(tmp, "data"))
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(tmp))
    after = machine.state()
    info["machine"] = {"before": before, "after": after, "steal_share": machine.steal_share(before, after)}
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


def run(workload, args, tmp: str) -> tuple[dict, dict]:
    from pandas_redshift_spark import session

    sf_dir = args.sf_dir or os.path.join(tmp, "data")
    warehouse = os.path.join(tmp, "warehouse")
    confs = {
        "spark.sql.warehouse.dir": warehouse,
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
        # the whole heap from the start, a fixed young generation and a
        # fixed marking threshold, so peak RSS does not follow the
        # JVM's adaptive heap-growth decisions from run to run
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Xmn512m -XX:-G1UseAdaptiveIHOP",
    }
    tracer = None
    if args.trace:
        import tracing

        os.makedirs(os.path.join(tmp, "eventlog"))
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
        tracer = tracing.Tracer()

    t_prep = time.perf_counter()
    workload.prepare(args.seed, sf_dir, tmp, generate=not args.sf_dir)
    prepare_s = time.perf_counter() - t_prep

    from workloads import Ctx

    ctx = Ctx(None, args.seed, sf_dir, warehouse, tracer)
    setup_cpu = machine.cpu_counters()
    builds, registers = [], []
    spark = None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with ctx.span("session.build_session"):
            spark = session.build_session("perfbench", extra_confs=confs)
        t1 = time.perf_counter()
        with ctx.span("session.register_views"):
            session.Tables(spark, sf_dir).register_views(workload.tables)
        builds.append(t1 - t0)
        registers.append(time.perf_counter() - t1)
    ctx.spark = spark
    if tracer is not None:
        tracing.install(tracer, spark)
        listener = tracing.StreamStats()
        spark.streams.addListener(listener)

    warm_failed = 0
    t0 = time.perf_counter()
    workload.start(ctx)
    for i, kind in enumerate(workload.kinds * workload.warmup_rounds):
        try:
            warm_failed += not workload.run(ctx, kind, -1 - i).ok
        except Exception as exc:  # noqa: BLE001 - reported as a failed op
            print(f"perfbench: warm-up {kind} failed: {exc!r}", file=sys.stderr)
            warm_failed += 1
    warm_s = time.perf_counter() - t0
    setup_share = machine.unstolen_share(setup_cpu, machine.cpu_counters())
    setup_s = statistics.median(b + r for b, r in zip(builds, registers)) + warm_s

    # -- measured window ------------------------------------------------
    if tracer is not None:
        tracing.drain_listener_bus(spark)
        listener.active = True
    memo0 = dict(session.MEMO_HITS)
    results, ran, traced, shares, errors = [], [], [], [], 0
    epoch0 = time.time() * 1000
    start = time.perf_counter()
    index = rnd = 0
    round_s = 0.0
    # whole rounds only, so every kind runs equally often in a window;
    # a round starts only if it should end less than half a round past
    # the window, so a window lasts about --seconds.  A traced run
    # traces every other round
    while time.perf_counter() - start + round_s / 2 < args.seconds:
        t_round = time.perf_counter()
        for kind in workload.kinds:
            if tracer is not None:
                tracer.enabled = rnd % 2 == 0
                tracer.op_id = f"op-{index}"
            try:
                cpu0 = machine.cpu_counters()
                with ctx.span("op", kind=kind):
                    res = workload.run(ctx, kind, index)
                shares.append(machine.unstolen_share(cpu0, machine.cpu_counters()))
                results.append(res)
                ran.append(kind)
                traced.append(tracer is not None and tracer.enabled)
            except Exception as exc:  # noqa: BLE001 - reported as a failed op
                print(f"perfbench: {kind} failed: {exc!r}", file=sys.stderr)
                errors += 1
            index += 1
        rnd += 1
        round_s = time.perf_counter() - t_round
    wall = time.perf_counter() - start
    epoch1 = time.time() * 1000
    memo = {k: v - memo0.get(k, 0) for k, v in session.MEMO_HITS.items()}
    if tracer is not None:
        tracer.enabled = False
        tracing.drain_listener_bus(spark)
        listener.active = False
        tracer.restore()
    rss = machine.peak_rss_mb()
    app_id = spark.sparkContext.applicationId
    cores = spark.sparkContext.defaultParallelism
    spark.stop()

    attempted = len(results) + errors + len(workload.kinds) * workload.warmup_rounds
    failed = errors + warm_failed + sum(not r.ok for r in results)
    # operation times net of the CPU time the hypervisor took while they
    # ran (see perfbench/README.md, "Machine noise")
    net = [dataclasses.replace(r, latency_s=machine.net_of_steal(r.latency_s, u),
                               extract_s=machine.net_of_steal(r.extract_s, u))
           for r, u in zip(results, shares)]
    lat = [r.latency_s for r in net]
    p90 = _p90(lat)
    med_lat = _kind_medians(net, ran, "latency_s")
    raw = _end_to_end(results, ran, setup_s, rss)
    if args.trace:
        metrics = _per_layer(tracer, listener, net, ran, traced, memo, builds, registers,
                             tracing.exec_metrics(os.path.join(tmp, "eventlog"), app_id, epoch0, epoch1),
                             wall, cores)
        spans_out = args.spans_out or os.path.join(
            ROOT, ".perfbench_out", f"spans_{workload.name}_{args.seed}.jsonl")
        os.makedirs(os.path.dirname(spans_out), exist_ok=True)
        tracer.dump(spans_out)
    else:
        metrics = _end_to_end(net, ran, machine.net_of_steal(setup_s, setup_share), rss)
        spans_out = None
    info = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "ops": len(results), "failed_ratio": failed / attempted, "window_s": wall,
        "prepare_s": prepare_s, "builds_s": builds, "registers_s": registers, "warmup_s": warm_s,
        "peak_rss_mb": rss,
        "samples_beyond_p90": sum(x > p90 for x in lat), "spans": spans_out,
        "kind_p50_s": dict(sorted(med_lat.items())),
        "kind_rows": dict(sorted(_kind_medians(results, ran, "rows_extracted").items())),
        "unstolen_share": {"setup": setup_share, "ops_median": statistics.median(shares) if shares else 1.0},
        "as_measured": {k: v for k, (v, _) in raw.items()},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return info, result


def _end_to_end(results: list, ran: list[str], setup_s: float, rss: dict[str, float]) -> dict:
    lat = [r.latency_s for r in results]
    med_lat = _kind_medians(results, ran, "latency_s")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(med_lat) / sum(med_lat.values()) if lat else 0.0, "1/s"),
        "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "latency_p90_s": (_p90(lat), "s"),
        "extract_rows_per_s": (
            sum(_kind_medians(results, ran, "rows_extracted").values())
            / max(sum(_kind_medians(results, ran, "extract_s").values()), 1e-9),
            "rows/s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
    }


def _kind_medians(results: list, ran: list[str], attr: str) -> dict[str, float]:
    """Median of ``attr`` over the window's operations of each kind."""
    by_kind: dict[str, list] = {}
    for r, kind in zip(results, ran):
        by_kind.setdefault(kind, []).append(getattr(r, attr))
    return {k: statistics.median(v) for k, v in by_kind.items()}


def _p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _per_layer(tracer, listener, results, ran, traced, memo, builds, registers, exe, wall, cores) -> dict:
    """Per-layer metrics.  Span-derived times are seconds per traced
    operation; memo, exec and streaming figures are per operation of
    the whole window."""
    spans = [s for s in tracer.spans if s["op"].startswith("op-")]
    by_id = {s["id"]: s for s in spans}
    n_ops = max(len(results), 1)
    n_traced = max(sum(traced), 1)

    def total(name, parent=None, key=None, kind=""):
        out = 0.0
        for s in spans:
            if s["name"] != name or not s.get("kind", "").startswith(kind):
                continue
            if parent is not None and by_id.get(s["parent"], {}).get("name") != parent:
                continue
            out += s[key] if key else s["end"] - s["start"]
        return out

    def count(name):
        return sum(s["name"] == name for s in spans)

    def ops_per_s(on: bool) -> float:
        """``ops_per_s`` as the untraced run computes it, over the
        traced (``on``) or untraced rounds."""
        med = _kind_medians([r for r, t in zip(results, traced) if t == on],
                            [k for k, t in zip(ran, traced) if t == on], "latency_s")
        return len(med) / sum(med.values()) if med else 0.0

    ops_t, ops_u = ops_per_s(True), ops_per_s(False)
    loaded = sum(r.rows_loaded for r, t in zip(results, traced) if t)
    write_s = total("bridge.write_table", "op")
    stream = listener.totals
    drain = total("operators.fn", "op", kind="streaming_")
    m = {
        "session.build_s": (statistics.median(builds), "s"),
        "session.register_views_s": (statistics.median(registers), "s"),
        **{f"session.memo_hits.{f}": (memo.get(f, 0) / n_ops, "count/op")
           for f in ("table", "frame", "persist", "stream_schema")},
        "operators.build_s": (total("operators.fn", "op") / n_traced, "s/op"),
        "operators.collect_s": (total("operators.collect", "op") / n_traced, "s/op"),
        "operators.result_rows": (sum(r.rows_extracted for r in results if not r.rows_loaded) / n_ops, "rows/op"),
        **{f"exec.{k}": (v / n_ops, _exec_unit(k)) for k, v in exe.items()},
        "exec.busy_ratio": (exe["task_run_s"] / (wall * cores), "ratio"),
        "bridge.write_table_s": (write_s / n_traced, "s/op"),
        "bridge.read_sql_s": (total("bridge.read_sql", "op") / n_traced, "s/op"),
        "bridge.exec_sql_s": (total("bridge.exec_sql", "op") / n_traced, "s/op"),
        "bridge.arrow_ingest_s": (total("spark.createDataFrame", "bridge.write_table") / n_traced, "s/op"),
        "bridge.save_s": (total("spark.saveAsTable", "bridge.write_table") / n_traced, "s/op"),
        "bridge.to_pandas_s": (total("spark.toPandas", "bridge.read_sql") / n_traced, "s/op"),
        "bridge.rows_loaded": (sum(r.rows_loaded for r in results) / n_ops, "rows/op"),
        "bridge.rows_extracted": (sum(r.rows_extracted for r in results if r.rows_loaded) / n_ops, "rows/op"),
        "bridge.bytes_loaded": (sum(r.bytes_loaded for r in results) / n_ops, "bytes/op"),
        "bridge.load_rows_per_s": (loaded / write_s if write_s else 0.0, "rows/s"),
        "schema.validate_s": (total("schema.validate_column_names") / n_traced, "s/op"),
        "schema.validate_calls": (count("schema.validate_column_names") / n_traced, "count/op"),
        "schema.infer_types_s": (total("schema.get_column_data_types") / n_traced, "s/op"),
        "layout.apply_s": (total("layout.apply_layout") / n_traced, "s/op"),
        "layout.eager_jobs": (total("layout.apply_layout", key="jobs") / n_traced, "count/op"),
        "streaming.drain_s": (drain / n_traced, "s/op"),
        **{f"streaming.{k}": (v / n_ops, "s/op" if k.endswith("_s") else "count/op")
           for k, v in stream.items()},
        "streaming.startup_s": (max(drain / n_traced - stream["trigger_s"] / n_ops, 0.0), "s/op"),
        "trace.ops_per_s_traced": (ops_t, "1/s"),
        "trace.ops_per_s_untraced": (ops_u, "1/s"),
        "trace.span_overhead_ops_per_s": (ops_t - ops_u if ops_t and ops_u else 0.0, "1/s"),
        "trace.spans_per_op": (len(spans) / n_traced, "count/op"),
    }
    return m


def _exec_unit(k: str) -> str:
    if k.endswith("_s"):
        return "s/op"
    return "bytes/op" if k.endswith("_bytes") else "count/op"


if __name__ == "__main__":
    sys.exit(main())
