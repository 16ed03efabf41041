#!/usr/bin/env python3
"""Benchmark runner: one workload, one process, ``local[<nproc>]``.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 20 --trace 0

Run it from the repository root (paths resolve from this file).  A run

1. starts the session (``pydriosm_spark.session.get_spark``), generates
   the workload's inputs from ``--seed`` and runs every operation once,
   checking its full output against an independent reference: this is
   the warm-up, and a mismatch or exception counts as a failed
   operation.  Known defects that the checks find outside the
   operations (``Workload.notes``) are printed, not counted;
2. runs closed-loop passes (every operation once, in order, each to a
   sink) for ``--seconds``, and at least ``MIN_PASSES`` of them;
3. prints a readable summary, then one JSON line: with ``--trace 0`` the
   end-to-end metrics, with ``--trace 1`` the per-layer metrics.

``--trace 1`` turns on the Spark event log (uncompressed) from this side
only, runs untraced and traced passes (at least two of each) and
writes the spans and per-layer figures to ``perfbench/out/``.  Everything
else the run writes lives under ``.perfbench_tmp/`` at the repository
root and is removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: untraced passes a run measures at the least, whatever ``--seconds`` says.
#: ``--seconds 20`` gives ``geo_join`` three or four (about 4.5 s each on a
#: 4-core VM); ``iterative_ingest`` (about 10 s) gets two, as a third
#: would take its runs from about 70 s to 80 s, too close to what 48 runs
#: of the two workloads may take together (3,420 s)
MIN_PASSES = 2

UNITS = {"setup_s": "s", "pass_s": "s", "input_rows_per_s": "1/s", "peak_python_rss_mib": "MiB"}
OP_METRICS = ("wall_s", "jobs", "driver_gap_s", "shuffle_write_mib", "spill_mib", "python_mib")
WORKLOAD_METRICS = (
    "gc_s",
    "python_worker_peak_rss_mib",
    "jvm_peak_rss_mib",
    "session_start_s",
    "input_gen_s",
    "warmup_s",
    "trace_overhead_s",
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _unit(name: str) -> str:
    if name.endswith("_mib"):
        return "MiB"
    if name.endswith("_s"):
        return "s"
    return "count"


def _require_checkout() -> None:
    need = ("pydriosm_spark/__init__.py", "tests/pbf_encode_util.py", "tests/oracle_util.py")
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not in a repository checkout, missing {', '.join(missing)}", file=sys.stderr)
        sys.exit(2)


def _environment(work: str) -> None:
    """Make the package importable by Python workers from any cwd and keep
    Spark's and Python's scratch space inside the run directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # the JVM that builds the spark-submit command writes no hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.dont_write_bytecode = True
    tempfile.tempdir = None


def _stop(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the JVM it launched and every process under
    it, and wait for all of them."""
    import spans as tr
    from pyspark import SparkContext

    children = tr.process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    for pid in children:
        while tr.alive(pid) and time.time() < deadline:
            time.sleep(0.05)


def run(args, work: str) -> dict:
    import spans as tr
    import workloads as W
    from pydriosm_spark.session import get_spark

    mem = tr.MemorySampler()
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    ncpu = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark = get_spark(parallelism=ncpu, app_name=f"perfbench_{args.workload}", extra_conf=conf)
    session_s = time.time() - t0
    tracer = tr.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}", job_groups=bool(args.trace))
    tracer.add("session", t0, t0 + session_s)
    attempted = failed = 0
    failures: list[str] = []
    try:
        with tracer.span("input_gen") as rec:
            wl = W.build(args.workload, spark, os.path.join(work, "inputs"), args.seed)
        input_gen_s = rec["end"] - rec["start"]

        # warm-up: every operation once, checked against its reference
        check_s: dict[str, float] = {}
        wl.reset()
        with tracer.span("warmup") as warm:
            for op in wl.ops:
                attempted += 1
                rec = {}
                try:
                    with tracer.span(op.name, layers=op.layers, check=True) as rec:
                        op.check()
                except Exception as e:  # a wrong or failing operation is a result, not a crash
                    failed += 1
                    failures.append(f"{op.name} check: {type(e).__name__}: {str(e)[:300]}")
                check_s[op.name] = rec["end"] - rec["start"]
            with tracer.span("oracle", check=True):
                for name, err in wl.finish_checks().items():
                    failed += 1
                    failures.append(f"{name} check: {err}")
        warmup_s = warm["end"] - warm["start"]
        # memory peaks count from here: the checks' collected rows and
        # reference decodes belong to the benchmark, not to the program
        gc.collect()
        mem.reset()

        # timed closed loop: no pass starts that would end after --seconds,
        # unless fewer than MIN_PASSES have run.  A traced run runs
        # untraced and traced passes in the order U T T U (repeated), at
        # least four, so that warming over the passes cancels out of the
        # tracing overhead
        passes: list[dict] = []
        traced_samples: dict[str, list[float]] = {op.name: [] for op in wl.ops}
        n_pass = 0
        last = 0.0
        t_end = time.perf_counter() + args.seconds

        def more() -> bool:
            least = 4 if args.trace else MIN_PASSES
            return n_pass < least or time.perf_counter() + last <= t_end

        while more():
            wl.reset()
            traced = bool(args.trace) and n_pass % 4 in (1, 2)
            tracer.recording = traced
            rec: dict = {"wall": {}, "cpu": {}}
            steal0, t0 = tr.steal_s(), time.perf_counter()
            with tracer.span("pass", pass_no=n_pass):
                for op in wl.ops:
                    attempted += 1
                    try:
                        cpu0 = tr.tree_cpu_s(os.getpid())
                        with tracer.span(op.name, layers=op.layers, pass_no=n_pass):
                            rec["wall"][op.name] = W.timed(op.run)
                        rec["cpu"][op.name] = tr.tree_cpu_s(os.getpid()) - cpu0
                    except Exception as e:
                        failed += 1
                        failures.append(f"{op.name} pass {n_pass}: {type(e).__name__}: {str(e)[:300]}")
                    mem.sample()
            last = time.perf_counter() - t0
            # share of the box's CPU time the hypervisor took during the pass
            rec["steal"] = (tr.steal_s() - steal0) / (last * os.cpu_count())
            if traced:
                for k, v in rec["wall"].items():
                    traced_samples[k].append(v)
            else:
                passes.append(rec)
            n_pass += 1
        tracer.recording = True
        samples = {op.name: [p["wall"][op.name] for p in passes if op.name in p["wall"]] for op in wl.ops}
        cpu_samples = {op.name: [p["cpu"][op.name] for p in passes if op.name in p["cpu"]] for op in wl.ops}
    finally:
        _stop(spark)

    setup_s = session_s + input_gen_s + warmup_s
    pass_s = sum(_median(v) for v in samples.values())
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": ncpu,
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "passes": n_pass,
        "steal_share_per_pass": [p["steal"] for p in passes],
        "samples_per_op": {k: len(v) for k, v in samples.items()},
        "op_median_s": {k: _median(v) for k, v in samples.items()},
        "check_s": check_s,
        "setup_parts_s": {"session_start": session_s, "input_gen": input_gen_s, "warmup": warmup_s},
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "known_defects": wl.notes,
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "input_rows_per_s": wl.input_rows / pass_s,
            "peak_python_rss_mib": mem.python_kib / 1024.0,
        },
        "jvm_peak_rss_mib": mem.jvm_kib / 1024.0,
        "pass_cpu_s": sum(_median(v) for v in cpu_samples.values()),
    }
    if args.trace:
        per_layer = {
            "gc_s": 0.0,
            "python_worker_peak_rss_mib": mem.worker_kib / 1024.0,
            "jvm_peak_rss_mib": mem.jvm_kib / 1024.0,
            "session_start_s": session_s,
            "input_gen_s": input_gen_s,
            "warmup_s": warmup_s,
            "trace_overhead_s": sum(_median(v) for v in traced_samples.values()) - pass_s,
        }
        result.update(_per_layer(args.workload, tracer, log_dir, per_layer))
    return result


def _per_layer(workload: str, tracer, log_dir: str, mine: dict) -> dict:
    """Per-operation counters of the traced passes, from the event log,
    plus this workload's own figures; the other workload's names read 0."""
    import spans as tr
    import workloads as W

    jobs, stages = tr.parse_event_log(log_dir)
    per_span = tr.attribute(tracer.spans, jobs, stages)
    for s in tracer.spans:
        s.update({k: v for k, v in per_span.get(s["id"], {}).items() if k != "wall_s"})
    op_spans = [s for s in tracer.spans if "pass_no" in s and s["name"] != "pass"]
    layer: dict[str, float] = {}
    for op in W.ALL_OPS:
        recs = [per_span[s["id"]] for s in op_spans if s["name"] == op]
        for key in OP_METRICS:
            layer[f"{op}.{key}"] = _median([r[key] for r in recs])
    gc_per_pass: dict[int, float] = {}
    for s in op_spans:
        gc_per_pass[s["pass_no"]] = gc_per_pass.get(s["pass_no"], 0.0) + per_span[s["id"]]["gc_s"]
    mine["gc_s"] = _median(list(gc_per_pass.values()))
    for name in W.WORKLOADS:
        for key in WORKLOAD_METRICS:
            layer[f"{name}.{key}"] = mine[key] if name == workload else 0.0
    return {"per_layer": layer, "spans": tracer.spans}


def main() -> None:
    ap = argparse.ArgumentParser(description="spark-geotile benchmark runner")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    _require_checkout()
    for p in (os.path.join(ROOT, "tests"), HERE, ROOT):
        sys.path.insert(0, p)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=tmp_root)
    try:
        _environment(work)
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    e2e = res["end_to_end"]
    print(
        f"{args.workload} seed={args.seed} local[{res['cpus']}] input_rows={res['input_rows']} "
        f"input_bytes={res['input_bytes']} passes={res['passes']} samples_per_op={res['samples_per_op']}"
    )
    print(f"error_rate {res['failed'] / res['attempted']:.4f} ({res['failed']}/{res['attempted']} operations)")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    for n in res["known_defects"]:
        print(f"KNOWN DEFECT outside the timed operations, not counted as failed: {n}")
        print(f"perfbench: known defect: {n}", file=sys.stderr)
    for k, v in e2e.items():
        print(f"{k} {v:.4f} {UNITS[k]}")
    print("op_median_s " + " ".join(f"{k}={v:.3f}" for k, v in res["op_median_s"].items()))
    print("setup_parts_s " + " ".join(f"{k}={v:.3f}" for k, v in res["setup_parts_s"].items()))
    print("check_s " + " ".join(f"{k}={v:.3f}" for k, v in res["check_s"].items()))
    steal = " ".join(f"{x:.3f}" for x in res["steal_share_per_pass"])
    print(f"share of the box's CPU stolen by the hypervisor in each untraced pass: {steal}")
    print(f"pass_cpu_s {res['pass_cpu_s']:.3f}; jvm_peak_rss_mib {res['jvm_peak_rss_mib']:.1f}")
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        path = os.path.join(HERE, "out", f"trace_{args.workload}_seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(res, f, indent=1)
        overhead = res["per_layer"][f"{args.workload}.trace_overhead_s"]
        print(f"tracing overhead {overhead:+.4f} s per pass (traced minus untraced); spans and figures in {os.path.relpath(path, ROOT)}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
