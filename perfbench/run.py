"""KG-construction benchmark: one command, one seed, one workload per run.

    python3 perfbench/run.py --workload build_sameas --seed 1 --seconds 1 --trace 0

Run from the repository root. The benchmark generates its inputs from the
seed, sizes a local Spark session to the host and creates it (`setup_s`:
from process start to the first timed operation, input generation and
the copy of a cached base state excluded), runs closed-loop operations
until `--seconds` of operation time have been measured (at least one; the
first runs in a JVM that has done nothing but the set-up, like a
spark-submit job), checks every output, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1` the
per-layer ones, from spans around each layer call and Spark's status-store
counters. A human-readable report goes to stderr and a full record (spans
included) to perfbench/.results/. Exits non-zero when an output check
fails, and with code 2 when the program cannot be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "job_s": "s",
    "triples_per_s": "1/s",
    "write_amp": "ratio",
    "setup_s": "s",
}
LAYER_SPECIFIC = (
    "parse.triples", "parse.error_file_share", "transforms.namespaces",
    "cc.sameas_edges", "cc.remapped_share",
    "materialize.nodes", "materialize.edges", "materialize.props", "materialize.bytes_written",
    "shacl.focus_nodes", "shacl.violations", "export.bytes_out",
    "checkpoint.skip_share", "checkpoint.bytes_written",
    "incremental.bucket_rewrite_share", "incremental.bytes_written", "incremental.state_bytes",
)
RUN_LEVEL = ("trace.op_s", "trace.glue_s", "jvm.peak_rss_mb")


def per_layer_names() -> list:
    import spans

    return [f"{layer}.{m}" for layer in spans.LAYERS for m in spans.GENERIC] + list(
        LAYER_SPECIFIC + RUN_LEVEL)


def per_layer_unit(name: str) -> str:
    m = name.split(".", 1)[1]
    if name == "jvm.peak_rss_mb":
        return "MB"
    if m.endswith("_s"):
        return "s"
    if "bytes" in m:
        return "bytes"
    if m.endswith("share"):
        return "ratio"
    return "count"


def host_session_env(work: str) -> dict:
    """Size the local session to the host: every core this process may
    use, and a driver heap of a quarter of RAM capped at 4 GiB (the
    engine's own defaults are local[32] and -Xmx48g). Spark's scratch
    space and every temporary file stay inside `work`."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_mb = int(fh.readline().split()[1]) // 1024
    heap_mb = min(4096, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "TMPDIR": tmp,
        # Python workers import the program from this checkout too
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    return {"cpus": cpus, "ram_mb": mem_mb, "driver_mem": f"{heap_mb}m"}


def tail(values: list):
    """Highest percentile with at least ten samples beyond it, or None."""
    n = len(values)
    if n < 11:
        return None
    r = n - 10
    return {"pct": round(100.0 * r / n, 1), "value": sorted(values)[r - 1], "samples": n}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: duplicate one edges part file after each operation")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import neosemantics_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"perfbench: cannot import the program from {ROOT}: {e}")
        return 2
    import gen
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        host = host_session_env(work)
        tracer = spans.Tracer(bool(args.trace))
        wl = WORKLOADS[args.workload](args.seed, work, tracer)
        try:
            t0 = time.perf_counter()
            wl.prepare(os.path.join(work, "gen"))
            gen_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            base = wl.restore_base() if hasattr(wl, "restore_base") else None
            base_s = time.perf_counter() - t0
            report = measure(args, wl, tracer, gen_s, base_s)
            if base:
                report["lines"].insert(1, f"  base state: {base}, {base_s:.2f} s (outside setup_s)")
        finally:
            stop_spark()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.update(host=host, input_digest=gen.digest(wl.input_rows()))
    result = report["result"]
    lines = [f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
             f"input={report['input_digest']} host: {host['cpus']} cpus, "
             f"{host['ram_mb']} MB RAM, driver heap {host['driver_mem']}"]
    lines += report["lines"]
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(HERE, ".results", name), "w") as fh:
        json.dump({**report, "lines": lines, "spans": tracer.spans}, fh, indent=1, default=str)
    for line in lines:
        log(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def run_op(args, wl, tracer, i: int) -> dict:
    """Operation `i`: timed, then (untimed) checked, byte-counted and, when
    tracing, attributed to layers."""
    import spans

    prefixes = wl.written_prefixes() if hasattr(wl, "written_prefixes") else None
    before = spans.tree_files(wl.root) if prefixes else {}
    first_span = len(tracer.spans)
    tracer.run_id = f"op{i}"
    rec, entry = None, {"op": tracer.run_id, "fails": []}
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            rec = wl.op(i)
    except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
        entry["fails"].append(traceback.format_exc(limit=4))
    entry["latency_s"] = time.perf_counter() - t0
    if rec is None:
        return entry
    t0 = time.perf_counter()
    try:
        if args.corrupt:
            corrupt_output(rec)
        entry["fails"] += wl.check_op(rec)
        entry["got"] = rec.get("got")
        entry["triples"] = rec["triples"]
        entry["src_bytes"] = wl.src_bytes
        if prefixes:
            after = spans.tree_files(wl.root)
            written = {k: spans.bytes_written(before, after, p) for k, p in prefixes.items()}
            written["checkpoint"] -= written["incremental"]  # the store lives inside it
            entry["bytes_written"] = sum(written.values())
            entry["layer_bytes"] = written
        else:
            entry["bytes_written"] = wl.bytes_written(rec)
        if tracer.enabled:
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            tracer.collect_counters(first_span)
            entry["layers"] = spans.layer_totals(tracer, first_span, cores)
            entry["counts"] = wl.layer_counts(rec)
            if prefixes:
                entry["counts"]["checkpoint.bytes_written"] = written["checkpoint"]
            entry["glue_s"] = tracer.self_times(tracer.spans[first_span:])[first_span]
        wl.cleanup_op(rec)
    except Exception:  # noqa: BLE001
        entry["fails"].append(traceback.format_exc(limit=4))
    entry["check_s"] = time.perf_counter() - t0
    return entry


def measure(args, wl, tracer, gen_s: float, base_s: float) -> dict:
    from pyspark import SparkContext

    import spans

    wl.ensure_session()
    setup_s = time.perf_counter() - T_PROCESS - gen_s - base_s
    ops = []
    while sum(e["latency_s"] for e in ops) < args.seconds:
        wl.next_input()
        wl.ensure_session()  # untimed: a job entry point may have stopped it
        ops.append(run_op(args, wl, tracer, len(ops)))
    t0 = time.perf_counter()
    try:
        ops[-1]["fails"] += wl.finish()
    except Exception:  # noqa: BLE001
        ops[-1]["fails"].append(traceback.format_exc(limit=4))
    finish_s = time.perf_counter() - t0
    peak = spans.peak_rss_mb(SparkContext._gateway.proc.pid)

    attempted = len(ops)
    failed = sum(1 for e in ops if e["fails"])
    lats = [e["latency_s"] for e in ops]
    e2e = {
        "job_s": statistics.median(lats),
        "triples_per_s": statistics.median(e.get("triples", 0) / e["latency_s"] for e in ops),
        "write_amp": statistics.median(
            e.get("bytes_written", 0) / max(1, e.get("src_bytes", 1)) for e in ops),
        "setup_s": setup_s,
    }
    if tracer.enabled:
        run_level = {"trace.op_s": e2e["job_s"], "jvm.peak_rss_mb": peak}
        metrics = {}
        for name in per_layer_names():
            layer, m = name.split(".", 1)
            if name in run_level:
                v = run_level[name]
            elif name == "trace.glue_s":
                v = statistics.median(e.get("glue_s", 0.0) for e in ops)
            elif m in spans.GENERIC:
                v = statistics.median(e.get("layers", {}).get(layer, {}).get(m, 0) for e in ops)
            else:
                v = statistics.median(e.get("counts", {}).get(name, 0) for e in ops)
            metrics[name] = {"value": v, "unit": per_layer_unit(name)}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    t = tail(lats)
    lines = [
        f"  input generation {gen_s:.2f} s (outside setup_s); set-up {setup_s:.2f} s",
        f"  {len(ops)} timed operations: " + ", ".join(f"{e['latency_s']:.3f}" for e in ops) + " s",
        f"  job_s tail: p{t['pct']} = {t['value']:.3f} s over {t['samples']} operations" if t
        else f"  job_s tail: omitted ({len(lats)} operations; needs at least 11)",
        f"  failed_share: {failed}/{attempted} operations",
        "  untimed checks: " + ", ".join(f"{e['check_s']:.2f}" for e in ops if "check_s" in e)
        + f" s per operation, {finish_s:.2f} s at the end",
        f"  peak_rss_mb: {peak:.0f} MB (driver JVM + Python workers)",
    ]
    lines += [f"  {k} = {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    for e in ops:
        lines += [f"  FAILED {e['op']}: {f.strip()}" for f in e["fails"]]
    return {"workload": wl.name, "seed": args.seed, "trace": args.trace, "gen_s": gen_s,
            "setup_s": setup_s, "ops": ops, "end_to_end": e2e,
            "peak_rss_mb": peak, "tail": t, "result": result, "lines": lines}


def corrupt_output(rec: dict) -> None:
    """Self-test hook: duplicate one non-empty part file of the written
    edges table, whose row count every workload checks."""
    import glob

    import pyarrow.parquet as pq

    for f in sorted(glob.glob(f"{rec['out']}/edges/**/part-*.parquet", recursive=True)):
        if pq.ParquetFile(f).metadata.num_rows:
            shutil.copy(f, f.replace("part-", "part-corrupt-"))
            return


def stop_spark() -> None:
    """Stop the active session, then the gateway JVM, and wait for it to
    exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM may already be gone
                pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
