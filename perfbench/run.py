"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 20 --trace 0

Run from the repository root. One client, one Spark session, a closed
loop: the job is run again only after the previous run returned. The
session is set up, the inputs are made from --seed, warm-up reps run,
and then the job is timed rep after rep while the next rep is expected
to end within --seconds, and at least the workload's minimum number of
reps (one untraced and one traced, at least, in a traced run).
Every rep's output is checked; a rep that raises or answers wrongly is
counted as failed.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced reps and prints the per-layer metrics, with the gap between
the two medians as the tracing overhead. The last line of stdout is the
result as one JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import procstat
import spans

T_START = time.perf_counter()

WORKLOAD_NAMES = ("kg_build", "web_curate")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    p.add_argument("--cores", type=int, default=2, help="k of local[k], at most nproc")
    p.add_argument("--shuffle-partitions", type=int, default=2)
    p.add_argument("--driver-memory", default="2g")
    return p.parse_args(argv)


def start_session(args, scratch: str):
    root = os.getcwd()
    # Python workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = scratch
    from ontoemma_spark.session import get_spark

    cores = min(args.cores, len(os.sched_getaffinity(0)))
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            # a fixed-size heap, so that peak RSS does not follow the
            # run-to-run variation in when G1 grows the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{args.driver_memory} -Djava.io.tmpdir={scratch} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    children = procstat.descendants()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    left = procstat.wait_gone(children, 30)
    if left:
        raise RuntimeError(f"processes still alive after stop: {left}")


def timed_rep(wl, tracer=None) -> tuple[dict, dict | None]:
    steal0, cpu0, t0 = procstat.steal_s(), procstat.tree_cpu_s(), time.perf_counter()
    if tracer is None:
        result, extra = wl.run(), None
        wall = time.perf_counter() - t0
    else:
        # the root span: the traced rep's probes after it are not timed
        result, extra = wl.run_traced(tracer)
        wall = next(s["end"] - s["start"] for s in tracer.spans
                    if s["rep"] == tracer.rep and s["name"] == "all")
    rec = {
        "traced": tracer is not None,
        "wall_s": wall,
        "cpu_s": procstat.tree_cpu_s() - cpu0,
        "steal_s": procstat.steal_s() - steal0,
    }
    rec.update(wl.check(result))
    return rec, extra


def run(args) -> dict:
    from workloads import ALIGN_LAYERS, CURATE_LAYERS, GATE_CAPS, KG_LAYERS, WORKLOADS

    root = os.getcwd()
    scratch = os.path.join(root, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(scratch)
    spark = None
    try:
        spark = start_session(args, scratch)
        t_session = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, os.path.join(scratch, "data"))
        t_inputs = time.perf_counter()
        ref = None
        for _ in range(wl.warmup_reps):
            rec, _ = timed_rep(wl)
            ref = rec["digest"]
            print("warmup", json.dumps(rec), flush=True)
        setup_s = time.perf_counter() - T_START
        print("setup", json.dumps({
            "session_s": t_session - T_START, "inputs_s": t_inputs - t_session,
            "warmup_s": T_START + setup_s - t_inputs,
        }), flush=True)

        tracer = spans.Tracer(spark.sparkContext) if args.trace else None
        reps, extras, t_loop = [], [], time.perf_counter()
        while True:
            traced = bool(args.trace) and len(reps) % 2 == 1
            try:
                if traced:
                    tracer.rep += 1
                rec, extra = timed_rep(wl, tracer if traced else None)
                ref = ref or rec["digest"]
                rec["ok"] = rec["f1"] >= wl.min_f1 and rec["digest"] == ref
            except Exception:
                traceback.print_exc()
                rec, extra = {"traced": traced, "ok": False}, None
            if traced and extra is not None:
                extra["table"] = tracer.layer_table(tracer.rep)
                extras.append(extra)
            reps.append(rec)
            print("rep", json.dumps(rec), flush=True)
            # start another rep only if it is expected to end in the window
            elapsed = time.perf_counter() - t_loop
            fits = elapsed + rec.get("wall_s", 0.0) <= args.seconds
            if not fits and len(reps) >= max(wl.min_timed_reps, 2 if args.trace else 1):
                break
        peak_rss = procstat.peak_rss_mb()
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:  # another run's scratch is still there
            pass

    failed = sum(not r["ok"] for r in reps)
    # metrics come from every rep that returned, right or wrong
    done = [r for r in reps if "wall_s" in r]
    if not done or (args.trace and not extras):
        raise RuntimeError("no rep of the timed loop completed")
    out = {"correct": failed == 0, "attempted": len(reps), "failed": failed, "metrics": {}}
    m = out["metrics"]

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    def med(key, rs):
        return statistics.median(r[key] for r in rs)

    untraced = [r for r in done if not r["traced"]]
    if not args.trace:
        job_s = med("wall_s", untraced)
        put("setup_s", setup_s, "s")
        put("job_s", job_s, "s")
        put("rows_per_s", wl.n_rows / job_s, "rows/s")
        put("cpu_s", med("cpu_s", untraced), "s")
        put("peak_rss_mb", peak_rss, "MB")
        put("output_f1", med("f1", untraced), "ratio")
        return out

    traced_reps = [r for r in done if r["traced"]]
    tables = [e["table"] for e in extras]
    for layer in KG_LAYERS + ALIGN_LAYERS + CURATE_LAYERS:
        rows = [t.get(layer) for t in tables]
        for key, unit in (("self_s", "s"), ("jobs", "count"),
                          ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes")):
            put(f"{layer}.{key}", statistics.median(r[key] if r else 0 for r in rows), unit)
        put(f"{layer}.rows_out",
            statistics.median(e["rows"].get(layer, 0) for e in extras), "rows")
    for key in ("block.useful_ratio", "string_equiv.hit_ratio", "resolve.dup_ratio"):
        put(key, statistics.median(e["ratios"].get(key, 0.0) for e in extras), "ratio")
    for key, cap in GATE_CAPS.items():
        sizes = [e["gates"][key] for e in extras if key in e["gates"]]
        put(key, statistics.median(sizes) if sizes else 0, "count")
        if sizes:
            side = "below" if max(sizes) <= cap else "ABOVE"
            print(f"gate {key}: measured {max(sizes)}, cap {cap}: {side} the cap")
    put("all.jobs", statistics.median(sum(r["jobs"] for r in t.values()) for t in tables), "count")
    put("all.gc_s", statistics.median(sum(r["gc_s"] for r in t.values()) for t in tables), "s")
    put("host.steal_s", med("steal_s", traced_reps), "s")
    put("ckpt_bytes_per_input_byte", med("ckpt_bytes", done) / wl.input_bytes, "ratio")
    put("trace.untraced_job_s", med("wall_s", untraced), "s")
    put("trace.traced_job_s", med("wall_s", traced_reps), "s")
    put("trace.overhead_s", med("wall_s", traced_reps) - med("wall_s", untraced), "s")

    print_layer_table(args.workload, ["all"] + KG_LAYERS + ALIGN_LAYERS + CURATE_LAYERS, tables, m)
    os.makedirs(os.path.join(root, ".perfbench_out"), exist_ok=True)
    tracer.dump(
        os.path.join(root, ".perfbench_out", f"trace_{args.workload}_seed{args.seed}.json"),
        {"reps": reps, "layers": extras, "metrics": m},
    )
    return out


def print_layer_table(workload: str, layers: list[str], tables: list[dict], m: dict) -> None:
    print(f"layer table ({workload}, median over {len(tables)} traced reps)")
    print(f"{'layer':<14}{'self_s':>9}{'jobs':>6}{'exec_cpu_s':>12}{'shuffle_B':>12}{'rows_out':>10}")
    names = [n for n in layers if any(n in t for t in tables)]
    total = 0.0
    for n in names:
        if n == "all":
            self_s = statistics.median(t.get("all", {}).get("self_s", 0.0) for t in tables)
            print(f"{'(unattributed)':<14}{self_s:>9.3f}")
        else:
            self_s = m[f"{n}.self_s"]["value"]
            print(f"{n:<14}{self_s:>9.3f}{m[f'{n}.jobs']['value']:>6.0f}"
                  f"{m[f'{n}.executor_cpu_s']['value']:>12.3f}"
                  f"{m[f'{n}.shuffle_bytes']['value']:>12.0f}{m[f'{n}.rows_out']['value']:>10.0f}")
        total += self_s
    u, t = m["trace.untraced_job_s"]["value"], m["trace.traced_job_s"]["value"]
    print(f"sum of self times {total:.3f} s; traced job_s {t:.3f} s; "
          f"untraced job_s {u:.3f} s; tracing overhead {t - u:.3f} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, os.getcwd())  # the program, from the checkout root
    out = run(args)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
