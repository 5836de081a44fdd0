#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload taxi_medallion --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. builds the engine's session (``setup_s``: process start → session
   built → first job done);
2. generates the workload's inputs from ``--seed`` (cached per seed
   under ``.perfbench/inputs``), outside every timed window;
3. runs timed passes, each in a fresh scratch root, until ``--seconds``
   of pass time have elapsed (at least one pass), checking every
   pass's outputs against numpy/pandas references after its timer
   stops. The first timed pass is the first pass in the JVM, as a
   batch job submitted on its own runs. There is no warm-up pass: at
   these sizes it costs about as much as the timed pass, and a run of
   each workload has to stay under 45 s;
4. prints a table of all end-to-end metrics with units, then — as the
   last line — one JSON object ``{correct, attempted, failed,
   metrics}``.

``--trace 1`` runs one traced pass instead, in the state the untraced
runs time (first in the JVM). Its spans give the per-layer metrics of
``layers.py``, and the tracer's own bookkeeping time is the tracing
overhead: traced ``pass_s`` − untraced ``pass_s``, with the untraced
time taken as the traced one less that bookkeeping. The spans are
written to ``.perfbench/traces/``. Load comes from this one process's
Spark driver at ``local[nproc]``; no client threads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (Linux /proc clock ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench")

#: end-to-end metric → unit (BENCHMARK.json lists all but fail_share,
#: which is the JSON line's failed ÷ attempted: it reads 0 on a
#: correct build, and a metric that can be 0 has no relative bound)
E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "read_p50_s": "s",
    "read_tail_s": "s",
    "recall": "ratio",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
    "fail_share": "ratio",
}


def launcher_env() -> dict:
    """Environment the engine reads at session build, sized to the host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    # a sixth of RAM, 1–16 GiB: the engine's 16g default exceeds
    # small hosts, and the machine is shared
    mem_g = max(1, min(16, mem_kb // (6 * 1024 * 1024)))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{mem_g}g"}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) at the highest percentile
    with at least ten samples beyond it; the maximum when there are
    fewer than eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def fail_share(ops_attempted: int, ops_failed: int, checks: dict) -> float:
    """Failed operations and failed output checks ÷ both attempted."""
    bad = sum(not ok for ok in checks.values())
    return (ops_failed + bad) / (ops_attempted + len(checks))


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the Spark driver JVM."""
    def hwm(pid) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (hwm("self") + hwm(jvm_pid)) / 1024.0


def versions(spark) -> dict:
    import numpy
    import pyspark

    return {
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "cores": len(os.sched_getaffinity(0)),
    }


class Run:
    def __init__(self, args):
        self.args = args
        self.root = os.path.join(WORK, f"run-{os.getpid()}")
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0

    def start_session(self):
        from lab3_lakehouse_spark.session import build_session

        tmp = os.path.join(self.root, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # initial heap = max heap, every page touched at start: how much
        # of the heap a run touches depends on when its collections
        # fall, which moved peak RSS by up to a quarter between runs.
        # Peak RSS then measures what grows outside the fixed heap
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        return build_session(
            app_name=f"perfbench-{self.args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.enabled": "false",
                "spark.driver.extraJavaOptions":
                    f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )

    def one_pass(self, spark, tracer, wl, inputs, reads, ref, i: int):
        import workloads

        root = os.path.join(self.root, f"pass{i}")
        tracer.new_run()
        n_spans = len(tracer.spans)
        self_s = tracer.self_s
        t0 = time.perf_counter()
        with tracer.span(f"pass.{inputs.workload}", job_group=False):
            res = wl["pass"](spark, tracer, inputs, root, reads)
        wall = time.perf_counter() - t0
        top = [s for s in tracer.spans[n_spans:] if s.parent == f"pass.{inputs.workload}"]
        rec = {
            "pass_s": wall,
            "write_s": res.write_s,
            "reads": [r[2] for r in res.reads],
            "bytes": workloads.dir_bytes(root),
            "coverage": sum(s.wall_s for s in top) / wall,
            "tracer_s": tracer.self_s - self_s,
            "spans": tracer.spans[n_spans:],
            "res": res,
        }
        self.attempted += res.attempted
        self.failed += res.failed
        checks = wl["check"](spark, res, inputs, ref, full=i == 0)
        for name, ok in checks.items():
            self.checks[f"pass{i}.{name}"] = bool(ok)
        rec["recall"] = wl["recall"](res, inputs)
        shutil.rmtree(root, ignore_errors=True)
        return rec


def span_walls(rec: dict) -> dict:
    """Seconds per span name in one pass, rounded for printing."""
    out: dict[str, float] = {}
    for sp in rec["spans"]:
        out[sp.name] = out.get(sp.name, 0.0) + sp.wall_s
    return {k: round(v, 2) for k, v in out.items()}


def layer_metrics(rec: dict) -> dict:
    """Per-layer values of one traced pass (see layers.py)."""
    import layers

    sums: dict[str, float] = {}
    for sp in rec["spans"]:
        for f, v in list(sp.fields.items()) + [("wall_s", sp.wall_s)]:
            key = f"{sp.name}.{f}"
            if f == "task_skew":
                sums[key] = max(sums.get(key, 0.0), v)
            else:
                sums[key] = sums.get(key, 0.0) + v
    out = {}
    for span, (fields, _, _) in layers.CALLS.items():
        for f in fields:
            out[f"{span}.{f}"] = sums.get(f"{span}.{f}", 0.0)
    res = rec["res"].out
    calls = [sp for sp in rec["spans"] if "jobs" in sp.fields]
    out["quality.reject_share"] = (
        res["n_rejected"] / res["n_input"] if res.get("n_input") else 0.0
    )
    out["stores.append_rows.bytes"] = float(res.get("codes_bytes", 0))
    shares = list(res.get("rows_read_share", {}).values()) or [0.0]
    out["stores.pruned_read.rows_read_share"] = statistics.mean(shares)
    out["dedup.candidate_yield"] = (
        res["verified"] / res["candidates"] if res.get("candidates") else 0.0
    )
    out["dedup.connected_components.rounds"] = float(res.get("cc_rounds", 0))
    for f in ("gc_s", "spill_bytes", "shuffle_read_bytes"):
        out[f"pass.{f}"] = sum(sp.fields.get(f, 0.0) for sp in calls)
    out["trace.span_coverage"] = rec["coverage"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(REPO, "lab3_lakehouse_spark"))
            and os.path.isfile(os.path.join(REPO, "examples", "reference_pipeline.py"))):
        print("perfbench: run from a checkout holding the engine sources", file=sys.stderr)
        return 2
    env = launcher_env()
    run = Run(args)
    os.makedirs(run.root, exist_ok=True)
    os.environ.update(env)
    # keep Spark's scratch files and both JVMs' perf data inside the run root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.root, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run.root, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [REPO, HERE]

    import gen
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]
    spark = None
    try:
        t_session = time.perf_counter()
        spark = run.start_session()
        session_s = time.perf_counter() - t_session
        spark.range(1000).count()
        setup_s = _process_age_s()

        from tracing import Tracer

        t_gen = time.perf_counter()
        inputs = gen.cached(os.path.join(WORK, "inputs"), args.workload, args.seed, 1.0)
        ref = wl["reference"](inputs)
        reads = wl["reads"](inputs, args.seed)
        t_timed = time.perf_counter()

        tracer = Tracer(spark, enabled=bool(args.trace))
        timed: list[dict] = []
        elapsed = 0.0
        while not timed or (elapsed < args.seconds and not args.trace):
            rec = run.one_pass(spark, tracer, wl, inputs, reads, ref, len(timed))
            timed.append(rec)
            elapsed += rec["pass_s"]

        attempted = run.attempted + len(run.checks)
        failed = run.failed + sum(not ok for ok in run.checks.values())
        rss = peak_rss_mb(spark)
        info = {"env": env, "console_progress": False, "warmup_pass": False,
                "scratch_cleaned": True, "session_build_s": session_s,
                "inputs_s": t_timed - t_gen,
                "timed_window_s": time.perf_counter() - t_timed,
                **versions(spark), "passes": len(timed), "traced": bool(args.trace)}

        reads_all = [x for r in timed for x in r["reads"]]
        t_val, t_pct, t_beyond = tail(reads_all)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(r["pass_s"] for r in timed),
            "rows_per_s": statistics.median(
                inputs.truth["rows"] / r["write_s"] for r in timed),
            "read_p50_s": statistics.median(reads_all),
            "read_tail_s": t_val,
            "recall": statistics.median(
                r["recall"] for r in timed if r["recall"] is not None),
            "write_amp": statistics.median(
                r["bytes"] / inputs.truth["input_bytes"] for r in timed),
            "peak_rss_mb": rss,
            "fail_share": fail_share(run.attempted, run.failed, run.checks),
        }
        print(f"# perfbench {args.workload} seed={args.seed} info={json.dumps(info)}")
        print(f"# read_tail_s is p{t_pct:.1f} of {len(reads_all)} reads "
              f"({t_beyond} beyond); rows = {inputs.truth['rows']} {wl['write_unit']}")
        for k, v in e2e.items():
            print(f"# {k:<12} {v:>14.6g} {E2E_UNITS[k]}")
        print("# per pass: " + json.dumps([
            {"pass_s": round(r["pass_s"], 3), "write_s": round(r["write_s"], 3),
             "read_p50_s": round(statistics.median(r["reads"]), 4)}
            for r in timed]))
        print(f"# pass0 seconds by span: {json.dumps(span_walls(timed[0]))}")
        for k in ("recall", "rows_read_share"):
            if k in timed[0]["res"].out:
                print(f"# {k} by n_probe: {timed[0]['res'].out[k]}")
        for name, ok in run.checks.items():
            if not ok:
                print(f"# FAILED check {name}")

        if args.trace:
            rec = timed[0]
            layer = layer_metrics(rec)
            layer["session.build_session.wall_s"] = session_s
            layer["trace.overhead_s"] = rec["tracer_s"]
            print(f"# traced pass_s {rec['pass_s']:.3f} s, of which tracing "
                  f"{rec['tracer_s']:.3f} s: untraced pass_s "
                  f"{rec['pass_s'] - rec['tracer_s']:.3f} s")
            import layers

            units = {m["name"]: m["unit"] for m in layers.metrics()}
            metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.dump(os.path.join(
                tdir, f"{args.workload}-s{args.seed}-{os.getpid()}.json"))
            for k, v in metrics.items():
                print(f"# {k:<48} {v['value']:>14.6g} {v['unit']}")
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items() if k != "fail_share"}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run.root, ignore_errors=True)


def stop(spark) -> None:
    """Stop the session and wait for the Spark driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
