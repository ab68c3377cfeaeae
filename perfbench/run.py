"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 \
        --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones. ``--queries a,b`` (query_mix only) runs
just those queries traced and prints each one's layer split.

Everything the run writes goes under ``.perfbench/`` in the working
directory: inputs, Spark's scratch space, checkpoints and the spans of a
traced run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
ENGINE = ("__spark_entry__.py", "flink_descriptive_stats_spark")


def process_start() -> float:
    """This process's start time, epoch seconds (from /proc)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh
                     if ln.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def java_pids() -> list[int]:
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        out.append(int(pid))
            except OSError:
                pass
    return out


def source_stamp() -> str:
    """``git rev-parse HEAD`` when the tree is a git checkout, else a hash
    of the engine's source files."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, check=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for base, dirs, files in os.walk(os.path.join(ROOT, ENGINE[1])):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(base, f), "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, ENGINE[0]), "rb") as fh:
        h.update(fh.read())
    return "tree-" + h.hexdigest()[:16]


def configure(work: str, cores: int) -> None:
    """Environment for the Spark JVM and its Python workers: the engine on
    the workers' path, every scratch directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f'--driver-java-options "-Djava.io.tmpdir={tmp} '
                f'-Dderby.system.home={tmp}"')
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse(argv):
    from perfbench.workloads import RUNNERS
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--queries", default=None,
                    help="query_mix: comma-separated queries to run traced")
    args = ap.parse_args(argv)
    if args.queries and args.workload != "query_mix":
        ap.error("--queries applies to --workload query_mix")
    return args


def layer_table(ops) -> str:
    lines = [f"{'query':40s} {'wall_s':>7s} {'build':>7s} {'catalyst':>8s}"
             f" {'jobs':>7s} {'tail':>7s}"]
    for o in ops:
        if o.traced and o.layers:
            L = o.layers
            lines.append(f"{o.name:40s} {o.wall:7.3f} {L['build']:7.3f} "
                         f"{L['catalyst']:8.3f} {L['jobs']:7.3f} "
                         f"{L['tail']:7.3f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    t_start = process_start()
    sys.path.insert(0, ROOT)
    missing = [p for p in ENGINE if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    args = parse(argv)
    from perfbench import workloads as W
    from perfbench.trace import Tracer, cpu_ticks, install, steal_ratio
    ticks0 = cpu_ticks()
    only = args.queries.split(",") if args.queries else None
    traced = bool(args.trace or only)
    cores = os.cpu_count() or 1
    stamp = {"source": source_stamp(), "nproc": cores,
             "loadavg": list(os.getloadavg()),
             "foreign_jvms": len(java_pids()),
             "workload": args.workload, "seed": args.seed,
             "seconds": args.seconds, "trace": int(traced)}
    work = os.path.join(ROOT, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure(work, cores)

    tracer = Tracer()
    if traced:
        install(tracer)          # before __spark_entry__ binds load_table
    if only:
        import __spark_entry__ as entry
        bad = [q for q in only
               if q not in entry.GATED_50 and q not in W.QUERY_MIX]
        if bad:
            print(f"perfbench: not in GATED_50 or the mix: {bad}",
                  file=sys.stderr)
            return 2
    from flink_descriptive_stats_spark.session import get_spark
    t = time.time()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    session_s = time.time() - t
    try:
        h = W.Harness(spark, tracer, seed=args.seed, seconds=args.seconds,
                      traced=traced, work=work)
        res = W.Result()
        kw = {"only": only} if only else {}
        steps = W.RUNNERS[args.workload](h, res, **kw)
        next(steps)                          # set-up done
        setup_s = time.time() - t_start
        t_timed = time.time()
        for _ in steps:
            pass
        # after set-up, outside the passes: reference jobs, GCs, the gate
        stamp["untimed_s"] = round(time.time() - t_timed
                                   - sum(p.wall for p in res.passes), 3)
    finally:
        stop_spark(spark)

    stamp["cpu_steal_ratio"] = round(steal_ratio(ticks0, cpu_ticks()), 4)
    e2e = W.end_to_end(res, False if traced else None)
    stamp["ops"] = e2e.pop("ops")
    stamp["record"] = dict(W.WORKLOADS[args.workload], inputs=res.inputs)
    stamp["ref_s"] = [round(r, 4) for r in res.ref_s]
    stamp["slowdown"] = [round(res.slowdown(i), 4)
                         for i in range(len(res.passes))]
    stamp["session_s"] = round(session_s, 3)
    stamp["warmup_s"] = [round(w, 3) for w in res.warmup]
    stamp["pass_wall_s"] = [round(p.wall, 3) for p in res.passes]
    stamp["live_heap_mb"] = [round(m, 1) for m in res.live_heap_mb]
    stamp["op_s"] = [(o.name, o.pass_no, round(o.wall, 3)) for o in res.ops]
    values = {"setup_s": setup_s,
              "jvm_live_heap_mb": min(res.live_heap_mb[:W.TIMED_PASSES]),
              **e2e}
    metrics = {k: (values[k], u) for k, u in W.END_TO_END.items()}
    print("stamp " + json.dumps(stamp), file=sys.stderr)
    for p in res.problems:
        print(f"WRONG {p}", file=sys.stderr)
    if traced:
        vals = dict(res.layer, **{"session.start_s": session_s})
        if args.workload == "query_mix":
            vals.update(W.batch_layer_metrics(res))
        vals["trace.overhead_ratio"] = W.overhead_ratio(res)
        tracer.dump(os.path.join(
            work, f"spans-{args.workload}-{args.seed}.jsonl"))
        print("end-to-end (untraced passes) " + json.dumps(values),
              file=sys.stderr)
        if only:
            print(layer_table(res.ops))
        metrics = {k: (vals.get(k, 0.0), u) for k, u in W.PER_LAYER.items()}
    out = {"correct": res.failed == 0, "attempted": res.attempted,
           "failed": res.failed,
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
