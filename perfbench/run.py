"""Repository benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload estate_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The program under test is imported from
the parent directory of this file. Each run generates its inputs from
``--seed`` under ``.perfbench/work-<pid>`` (removed at exit), starts a
Spark session at local[nproc], warms up once, runs the workload's
operation for ``--seconds``, and checks every output without the
engine. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A traced
run first repeats the untraced run (for the tracing overhead), then
restarts the session with an uncompressed Spark event log and runs a
fixed number of operations under one job group per call. A full report
(samples, spans, provenance, per-layer table) goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "projet_big_data_boutin_danre_spark"

def _source_digest() -> str:
    """Commit of the checkout when it is a git repository, else a digest
    of the program's sources (benchmark checkouts carry no .git)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(p):
                return open(p).read().strip()
        else:
            return ref
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return "src-sha256:" + h.hexdigest()[:16]


def _start_spark(nproc: int, work: str, event_log: str | None):
    from projet_big_data_boutin_danre_spark.session import get_spark

    # keep the JVM's temp files (and no hsperfdata file) inside the checkout
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     # Spark 4.1 defaults to zstd; zstandard is not installed
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{nproc}]",
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _start_time(pid: int) -> str | None:
    """Start time of a live process, or None once it has ended (a zombie
    has ended too). Two processes with one pid differ in start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _stop_spark() -> None:
    """Stop the Spark context, the JVM and the JVM's Python workers, and
    wait until each has ended. pyspark leaves the JVM to exit when it
    reads end-of-file on its stdin, which happens only after this
    process has exited; the JVM would outlive the run."""
    from pyspark import SparkContext
    from tracing import process_tree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    me = os.getpid()
    procs = {pid: _start_time(pid) for pid in process_tree(me) if pid != me}
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None

    def alive() -> list[int]:
        return [p for p, t in procs.items() if t is not None and _start_time(p) == t]

    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while alive():
        time.sleep(0.05)


def _loop(wl, tracer, seconds: float | None, n_ops: int | None):
    """Run the workload's operation until ``seconds`` have passed or
    ``n_ops`` were attempted. A failed operation is counted, its time
    stays in the latency sample, and the run goes on."""
    first_span = len(tracer.spans)
    attempted = failed = items = 0
    problems: list[str] = []
    t0 = time.perf_counter()
    while (n_ops is None and time.perf_counter() - t0 < seconds) or (
            n_ops is not None and attempted < n_ops):
        attempted += 1
        try:
            n, bad = wl.step(tracer, attempted - 1)
        except Exception as e:  # the run reports the failure and goes on
            failed += 1
            problems.append(f"op {attempted - 1}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            continue
        items += n
        if bad:
            failed += 1
            problems.extend(bad)
    spans = tracer.spans[first_span:]
    top = [s for s in spans if s.parent is None]
    return {"attempted": attempted, "failed": failed, "items": items, "problems": problems,
            "latencies_s": [s.end - s.start for s in top if s.name == wl.op_name],
            "cpu_s": [s.cpu_s for s in top if s.name == wl.op_name],
            "child_latencies_s": [s.end - s.start for s in spans
                                  if s.parent is not None and s.name.startswith(wl.child)],
            "busy_s": sum(s.end - s.start for s in top),
            "busy_cpu_s": sum(s.cpu_s for s in top)}


def _finish(wl, tracer, res: dict) -> None:
    """Post-loop output checks. Each problem they find is one failed
    operation (for estate_queries, one query whose rows differ)."""
    bad = wl.finish(tracer)
    res["problems"] += bad
    res["failed"] = min(res["attempted"], res["failed"] + len(bad))


def _host_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the host took from this machine in between:
    host contention that slows a run without any change in the code."""
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else 0.0


def _median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1e3 if xs else 0.0


def _percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def _samples(lat: list[float], child: list[float]) -> dict:
    """Latency samples in ms; p90 of operations and of their child calls
    (single queries of a session, the batch of an ingest), each with its
    sample count."""
    return {"op": len(lat), "op_p90_ms": _percentile(lat, 0.9) * 1e3,
            "latencies_ms": [x * 1e3 for x in lat],
            "child": len(child), "child_p50_ms": _percentile(child, 0.5) * 1e3,
            "child_p90_ms": _percentile(child, 0.9) * 1e3}


def run(args) -> dict:
    import workloads
    from tracing import RssSampler, Tracer

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # get_spark's default driver heap (8g) is sized for a dedicated host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        with RssSampler() as rss:
            t = time.perf_counter()
            spark = wl.spark = _start_spark(nproc, work, None)
            session_s = time.perf_counter() - t
            tracer = Tracer()
            t = time.perf_counter()
            wl.warm_up(tracer)
            check_s = wl.check_s
            warmup_s = time.perf_counter() - t - check_s
            # input generation and the set-up output checks are not set-up
            setup_s = time.perf_counter() - T_START - gen_s - check_s
            meter_s = tracer.cpu.reading_cpu_s()
            cpu0 = _host_ticks()
            res = _loop(wl, tracer, args.seconds, None)
            peak_a = rss.peak_mb  # the program's memory, not the checker's
            steal = _steal_share(cpu0, _host_ticks())
            _finish(wl, tracer, res)
            lake_ratio = wl.lake_bytes() / wl.input_bytes
            traced = None
            if args.trace:
                spark.stop()
                log_dir = os.path.join(work, "eventlog")
                spark = wl.spark = _start_spark(nproc, work, log_dir)
                traced = _traced_phase(wl, spark, log_dir)
        lat, cpu = res["latencies_s"], res["cpu_s"]
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "attempted": res["attempted"] + (traced["attempted"] if traced else 0),
            "failed": res["failed"] + (traced["failed"] if traced else 0),
            "problems": res["problems"] + (traced["problems"] if traced else []),
            "end_to_end": {
                "setup_s": setup_s,
                "op_cpu_ms": _median_ms(cpu),
                "items_per_cpu_s": res["items"] / res["busy_cpu_s"] if res["busy_cpu_s"] else 0.0,
                "lake_bytes_per_input_byte": lake_ratio,
            },
            "wall": {"op_p50_ms": _median_ms(lat),
                     "items_per_s": res["items"] / res["busy_s"] if res["busy_s"] else 0.0},
            "peak_rss_mb": peak_a,
            "samples": dict(_samples(lat, res["child_latencies_s"]),
                            op_cpu_ms=[x * 1e3 for x in cpu]),
            "item": wl.item, "op_name": wl.op_name, "child": wl.child_label,
            "setup": {"session_s": session_s, "warmup_s": warmup_s, "generate_s": gen_s,
                      "check_s": check_s},
            # the CPU meter's own share of op_cpu_ms: two readings per operation
            "meter": {"reading_cpu_ms": meter_s * 1e3,
                      "share_of_op_cpu": 2 * meter_s / statistics.median(cpu) if cpu else 0.0},
        }
        if traced:
            layer = traced["layer"]
            layer["setup.session_s"] = session_s
            layer["setup.warmup_s"] = warmup_s
            layer["process.peak_rss_mb"] = peak_a
            layer["wall.op_p50_ms"] = report["wall"]["op_p50_ms"]
            layer["wall.items_per_s"] = report["wall"]["items_per_s"]
            # the same operations (same inputs, same history) untraced
            k = len(traced["cpu_s"])
            layer["trace.overhead_op_cpu_ms"] = (
                _median_ms(traced["cpu_s"]) - _median_ms(cpu[:k]))
            report["per_layer"] = layer
            report["spans"] = traced["spans"]
            report["crosscheck"] = traced["crosscheck"]
        report["provenance"] = dict(_provenance(nproc), loop_steal_share=steal)
        return report
    finally:
        _stop_spark()
        shutil.rmtree(work, ignore_errors=True)


def _traced_phase(wl, spark, log_dir: str) -> dict:
    """Warm the new session, then run a fixed number of operations with
    one job group per call; fold the event log."""
    import metrics
    from tracing import Tracer, event_log_files, fold_event_log, tracker_counts

    tracer = Tracer(spark)
    wl.rebind(tracer)
    res = _loop(wl, tracer, None, wl.TRACED_OPS)
    _finish(wl, tracer, res)
    bad = wl.trace_extra(tracer)
    res["attempted"] += 1
    res["failed"] += bool(bad)
    res["problems"] += bad
    checks = {s.group: tracker_counts(spark, s.group) for s in tracer.spans if s.group}
    spark.stop()
    counters = fold_event_log(event_log_files(log_dir))
    mismatches = []
    for g, tc in checks.items():
        ec = counters.get(g, {})
        for k in ("jobs", "stages", "tasks"):
            if tc[k] != ec.get(k, 0):
                mismatches.append({"group": g, "counter": k, "tracker": tc[k],
                                   "event_log": ec.get(k, 0)})
    layer = {name: 0 for name in metrics.PER_LAYER}
    layer.update(metrics.fold_layers(tracer.spans, counters))
    layer.update(wl.layer)
    for t in metrics.QUERY_TYPES:
        ss = [s for s in tracer.spans if s.name == f"q.{t}"]
        if ss:
            layer[f"q.{t}.p50_ms"] = layer.pop(f"q.{t}.s") * 1e3
            read = sum(counters.get(s.group, {}).get("input_rows", 0) for s in ss)
            returned = sum(wl.returned.get(s.iteration, 0) for s in ss)
            layer[f"q.{t}.rows_read_per_row_returned"] = read / returned if returned else 0.0
    layer["trace.crosscheck_mismatches"] = len(mismatches)
    layer = {k: layer[k] for k in metrics.PER_LAYER}
    return {"attempted": res["attempted"], "failed": res["failed"],
            "problems": res["problems"], "layer": layer,
            "cpu_s": res["cpu_s"],
            "spans": [dict(s.__dict__, self_s=tracer.self_time(s)) for s in tracer.spans],
            "crosscheck": {"groups": len(checks), "mismatches": mismatches}}


def _provenance(nproc: int) -> dict:
    import tempfile

    import pyspark

    sys.path.insert(0, ROOT)
    import bench

    tempfile.tempdir = None  # pick up TMPDIR: the probe file stays in the checkout
    return {"nproc": nproc, "spark": pyspark.__version__, "commit": _source_digest(),
            "env_canary": bench.env_canary_probe(size_mb=8)}


def _print_report(rep: dict, trace: bool) -> None:
    import metrics

    print(f"workload {rep['workload']}  seed {rep['seed']}  operation {rep['op_name']}  "
          f"samples {rep['samples']['op']}")
    print(f"checks: {'pass' if not rep['problems'] else 'FAIL'}  attempted {rep['attempted']}  "
          f"failed {rep['failed']}  error_rate {rep['failed'] / max(rep['attempted'], 1):.4f}")
    for p in rep["problems"][:20]:
        print(f"  check failed: {p}")
    for name, value in rep["end_to_end"].items():
        unit = metrics.END_TO_END[name][0]
        print(f"  {name:<28} {value:>14.4f} {unit:<8} n={rep['samples']['op']}")
    print(f"  {'peak_rss_mb':<28} {rep['peak_rss_mb']:>14.4f} MB       (informational: "
          "driver, JVM and Python workers)")
    sm = rep["samples"]
    print(f"  {'op_p50_ms':<28} {rep['wall']['op_p50_ms']:>14.4f} ms       n={sm['op']} "
          "(informational: wall time)")
    print(f"  {'op_p90_ms':<28} {sm['op_p90_ms']:>14.4f} ms       n={sm['op']} "
          "(informational: wall time)")
    print(f"  {'items_per_s':<28} {rep['wall']['items_per_s']:>14.4f} items/s  n={sm['op']} "
          "(informational: wall time)")
    if sm["child"]:
        for q in ("p50", "p90"):
            print(f"  {rep['child'] + '_' + q + '_ms':<28} {sm['child_' + q + '_ms']:>14.4f} ms"
                  f"       n={sm['child']} (informational: wall time)")
    print(f"cpu meter: {rep['meter']['reading_cpu_ms']:.2f} ms per reading, "
          f"{rep['meter']['share_of_op_cpu']:.4f} of op_cpu_ms")
    print(f"provenance: {json.dumps(rep['provenance'])}")
    if trace:
        print("per-layer (traced run; metric, value, unit, should move):")
        for name, value in rep["per_layer"].items():
            unit, _, moves = metrics.PER_LAYER[name]
            print(f"  {name:<44} {value:>14.4f} {unit:<6} -> {moves}")
        print(f"crosscheck: {rep['crosscheck']['groups']} job groups, "
              f"{len(rep['crosscheck']['mismatches'])} mismatches")


def result_line(rep: dict, trace: bool) -> dict:
    """The last stdout line: end-to-end metrics untraced, per-layer
    metrics traced, each with its unit."""
    import metrics

    if trace:
        chosen = {k: (v, metrics.PER_LAYER[k][0]) for k, v in rep["per_layer"].items()}
    else:
        chosen = {k: (v, metrics.END_TO_END[k][0]) for k, v in rep["end_to_end"].items()}
    return {
        "correct": not rep["problems"], "attempted": rep["attempted"], "failed": rep["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to {HERE}; run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    rep = run(args)
    out_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(rep, f, indent=1)
    _print_report(rep, bool(args.trace))
    print(json.dumps(result_line(rep, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
