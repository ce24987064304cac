"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py            # everything, ~15 minutes
    python3 perfbench/selftest.py --quick    # generator and isolation only

1. The same seed gives the same input digest; another seed another one.
2. Every workload in BENCHMARK.json runs, passes its checks, and prints
   exactly the end-to-end metrics of BENCHMARK.json (`--trace 0`) or the
   per-layer ones (`--trace 1`), with their units.
3. Traced spans nest inside their parents, every self time is >= 0, and
   the layer spans plus the glue between them add up to the traced
   operation. The tracing overhead (traced `trace.op_s` minus untraced
   `job_s`, same seed) is printed.
4. Per-layer `.jobs` and `.tasks` counts repeat exactly across two traced
   runs of the same seed.
5. A corrupted output (`--corrupt`) fails the checks: `correct` is false,
   `failed` >= 1, the exit code is 1.
6. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
7. On small inputs, an untraced operation (the program's entry points)
   and a traced one (layer by layer) write identical tables.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        check.failed += 1


check.failed = 0


def run(workload: str, seed: int, trace: int, *extra, cwd: str = ROOT, env=None):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900, env=env,
    )
    out = p.stdout.strip().splitlines()
    result = json.loads(out[-1]) if out else None
    return p.returncode, result


def spans_of(workload: str, seed: int) -> list:
    with open(os.path.join(HERE, ".results", f"{workload}-seed{seed}-trace1.json")) as fh:
        return json.load(fh)["spans"]


def test_digests() -> None:
    def delta_digest(seed):
        s = gen.DeltaStream(seed, 100)
        return gen.digest(s.base.rows + [r for _ in range(3) for r in s.next_batch().rows])

    for name, make in (("build_sameas", lambda s: gen.digest(gen.build_sameas(s, 3000).rows)),
                       ("delta_stream", delta_digest),
                       ("mixed_export", lambda s: gen.digest(gen.mixed_export(s).rows))):
        check(make(7) == make(7), f"{name}: same seed, same input digest")
        check(make(7) != make(8), f"{name}: other seed, other input digest")


def test_isolated() -> None:
    iso = os.path.join(HERE, ".work", "isolated")
    shutil.rmtree(iso, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(iso, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), iso)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code, result = run("build_sameas", 1, 0, cwd=iso, env=env)
    shutil.rmtree(iso, ignore_errors=True)
    check(code != 0 and result is None, "without the program: non-zero exit, no result")


def test_workloads() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in (w["name"] for w in bench["workloads"]):
        code, res = run(w, 3, 0)
        check(code == 0 and res["correct"] and res["failed"] == 0, f"{w}: untraced run correct")
        job_s = res["metrics"]["job_s"]["value"]
        check({k: v["unit"] for k, v in res["metrics"].items()} == e2e,
              f"{w}: end-to-end metric names and units match BENCHMARK.json")
        counts, jobs = [], []
        for _ in range(2):
            code, res = run(w, 3, 1)
            check(code == 0 and res["correct"], f"{w}: traced run correct")
            check({k: v["unit"] for k, v in res["metrics"].items()} == layer,
                  f"{w}: per-layer metric names and units match BENCHMARK.json")
            counts.append({k: v["value"] for k, v in res["metrics"].items()
                           if k.endswith((".jobs", ".tasks"))})
            spans = spans_of(w, 3)
            jobs.append([(s["name"], [(n, t) for _, n, t in s.get("job_list", [])]) for s in spans])
            by_id = {s["id"]: s for s in spans}
            nested = all(
                by_id[s["parent"]]["start"] <= s["start"] <= s["end"] <= by_id[s["parent"]]["end"]
                for s in spans if s["parent"] is not None)
            check(nested, f"{w}: spans nest inside their parents")
            child = {}
            for s in spans:
                if s["parent"] is not None:
                    child[s["parent"]] = child.get(s["parent"], 0) + s["end"] - s["start"]
            check(all(s["end"] - s["start"] - child.get(s["id"], 0) >= 0 for s in spans),
                  f"{w}: every self time >= 0")
            m = {k: v["value"] for k, v in res["metrics"].items()}
            layers = sum(v for k, v in m.items() if k.endswith(".wall_s"))
            check(abs(layers + m["trace.glue_s"] - m["trace.op_s"]) < 0.05,
                  f"{w}: layer spans + glue = traced operation ({layers:.2f} + "
                  f"{m['trace.glue_s']:.3f} s)")
            print(f"     {w}: tracing overhead {m['trace.op_s'] - job_s:+.2f} s "
                  f"(traced {m['trace.op_s']:.2f} s, untraced {job_s:.2f} s)")
        differ = {k: (v, counts[1][k]) for k, v in counts[0].items() if counts[1][k] != v}
        check(not differ, f"{w}: per-layer .jobs and .tasks repeat exactly {differ or ''}")
        for (name, a), (_, b) in zip(*jobs):
            a, b = Counter(map(tuple, a)), Counter(map(tuple, b))
            if a != b:  # which jobs differ: (call site, tasks) only in one run
                print(f"     {name}: first run only {list((a - b).elements())}, "
                      f"second run only {list((b - a).elements())}")
        code, res = run(w, 3, 0, "--corrupt")
        check(code == 1 and res is not None and not res["correct"] and res["failed"] >= 1,
              f"{w}: a corrupted output fails the checks and raises failed_share")


def test_paths_agree() -> None:
    sys.path.insert(0, ROOT)
    import run
    import spans
    import workloads as W

    work = os.path.join(HERE, ".work", "paths")
    shutil.rmtree(work, ignore_errors=True)
    env = dict(os.environ)
    run.host_session_env(work)
    try:
        for cls, size, tables in ((W.BuildSameAs, {"n_mentions": 1500},
                                   ("nodes", "edges", "node_props", "violations", "nt")),
                                  (W.DeltaStream, {"n_base_files": 100},
                                   ("nodes", "edges", "node_props", "violations"))):
            outs = []
            for traced in (False, True):
                wl = cls(5, os.path.join(work, f"{cls.name}-{traced}"), spans.Tracer(traced))
                wl.__dict__.update(size)
                wl.prepare(os.path.join(wl.work, "gen"))
                if cls is W.DeltaStream:
                    W.build_base(wl)
                wl.next_input()
                wl.ensure_session()
                with wl.tracer.span("op"):
                    rec = wl.op(0)
                check(not wl.check_op(rec), f"{cls.name}: {'traced' if traced else 'untraced'} "
                      "operation passes its checks on small inputs")
                outs.append(rec["out"])
            spark = wl.ensure_session()
            read = {"nt": spark.read.text}
            differ = {t: W.rows_differ(*(read.get(t, spark.read.parquet)(f"{o}/{t}")
                                         for o in outs)) for t in tables}
            check(not any(differ.values()),
                  f"{cls.name}: untraced and traced operations write identical tables {differ}")
    finally:
        run.stop_spark()
        os.environ.clear()
        os.environ.update(env)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    test_digests()
    test_isolated()
    if "--quick" not in sys.argv:
        test_paths_agree()
        test_workloads()
    print(f"{check.failed} failed")
    sys.exit(1 if check.failed else 0)
