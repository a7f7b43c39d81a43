"""Repository benchmark: extraction throughput, resume and the ROADMAP
query set on Spark ``local[N]``, end to end and layer by layer.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 --trace 0

Workloads: ``flagship`` (q_extract_spans; its traced run also runs
the batch job with a resume) and ``queries`` (six operator queries);
see ``perfbench/README.md``.  With ``--trace 0`` the last
stdout line carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics.  Each run also writes a detail file (host facts,
every timed iteration, and with tracing the span file) under
``perfbench/results/``.  A run whose outputs disagree with the
independent expectation reports ``"correct": false``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# explicit and below host RAM: the session default (24g) lets G1 grow
# the heap with whatever memory the host has free
DRIVER_MEM = "4g"
END_TO_END = {"wall_s": "s", "setup_s": "s"}

def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("flagship", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_program() -> None:
    """Fail before any work when the program is not beside us."""
    import accountant_pdf_extract_spark.plans.job  # noqa: F401
    import bench._util  # noqa: F401
    import duckdb  # noqa: F401
    import tests.oracle  # noqa: F401


def _session(cpus: int, work: str, trace: bool):
    from accountant_pdf_extract_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        evdir = os.path.join(work, "evlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{cpus}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit,
    also when a run interrupted inside a call left py4j unusable."""
    import subprocess

    from perfbench import probes

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    except Exception as exc:  # the JVM is ended below all the same
        print(f"perfbench: Spark did not stop cleanly: {exc!r}",
              file=sys.stderr)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.reap_children()


def _terminate(*_) -> None:
    # a second signal must not cut the clean-up short
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    sys.exit(128 + signal.SIGTERM)


def _trace_offline(wl, work: str, layers: dict, facts: dict,
                   stem: str) -> None:
    """After Spark stopped: the event log, then the workload's own
    offline part (the in-process replay)."""
    from perfbench import probes

    groups = probes.event_log_groups(os.path.join(work, "evlog"))
    facts["event_log_groups"] = {
        g: {k: v for k, v in d.items() if k != "stages"}
        for g, d in groups.items()
    }
    wl.trace_offline(groups, layers, facts, stem)


def main(argv=None) -> int:
    args = _args(argv)
    try:
        _check_program()
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, _terminate)
    from bench._util import repin

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    repin(cpus)

    from perfbench import probes, workloads

    probes.adopt_orphans()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    })
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "{}-{}-s{}-t{}".format(
        time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()), args.workload,
        args.seed, args.trace))
    facts = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)), "local_cores": cpus,
        "spark_driver_mem": DRIVER_MEM,
    }
    spark = None
    try:
        ticks = probes.cpu_ticks()
        t0 = time.perf_counter()
        spark = _session(cpus, work, bool(args.trace))
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, cpus)
        prepare_s = workloads.timed_wall(wl.prepare)
        facts.update(session_s=session_s, prepare_s=prepare_s)
        facts["cold_first_pass_s"] = workloads.timed_wall(wl.warm)
        layers: dict = {}
        if args.trace:
            # the traced passes replace the timed iterations
            correct = wl.check()
            correct = wl.trace_spark(layers) and correct
            _stop(spark)
            spark = None
            _trace_offline(wl, work, layers, facts, stem)
        else:
            wall = wl.measure(args.seconds)
            correct = wl.check()
        facts["run_steal_share"] = probes.steal_share(ticks, probes.cpu_ticks())
    finally:
        if spark is not None:
            _stop(spark)
        probes.reap_children()
        shutil.rmtree(work, ignore_errors=True)

    facts.update(wl.facts, attempted=wl.attempted, failed=wl.failed,
                 correct=correct)
    layers["run.failed_frac"] = wl.failed / max(wl.attempted, 1)
    if args.trace:
        facts["per_layer"] = layers
        metrics = {k: {"value": float(layers.get(k, 0)), "unit": u}
                   for k, u in workloads.PER_LAYER.items()}
    else:
        facts["end_to_end"] = end_to_end = {
            "wall_s": wall,
            "setup_s": session_s + prepare_s,
        }
        metrics = {k: {"value": end_to_end[k], "unit": u}
                   for k, u in END_TO_END.items()}
    with open(f"{stem}.json", "w") as f:
        json.dump(facts, f, indent=1, default=str)
    print(json.dumps({"correct": bool(correct), "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
