"""sparkdedup benchmark: seeded workloads, one driver process each.

    python3 perfbench/run.py --workload batch-planted --seed 1 \
        --seconds 10 --trace 0

``--trace 0`` times the end-to-end job with tracing off and prints the
end-to-end metrics; ``--trace 1`` runs the traced per-layer pass
(``layers.py``) and prints the per-layer metrics. Either way the last
stdout line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it records the host and every repeat.
Workloads and sizes are explained in ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: one fixed shuffle width for every host, so plans do not change with
#: the core count
SHUFFLE_PARTITIONS = 8
#: a run that is not done by then kills its Spark process tree and exits
#: non-zero; a run must end within 180 s
DEADLINE_S = 170


def e2e_metrics(wl, reps: list, setup_s: float) -> dict:
    med = statistics.median
    job_s = med(r.job_s for r in reps)
    values = {
        "setup_s": (setup_s, "s"),
        "job_s": (job_s, "s"),
        "files_per_s": (wl.n_files / job_s, "files/s"),
        "epoch_p50_s": (med(med(r.epochs_s) for r in reps), "s"),
        "epoch_max_s": (med(max(r.epochs_s) for r in reps), "s"),
        "write_amp": (med(r.write_bytes for r in reps) / wl.input_bytes,
                      "ratio"),
        "planted_recall": (med(r.quality["planted_recall"] for r in reps),
                           "ratio"),
        "singleton_kept": (med(1 - r.quality["spurious_rate"]
                               for r in reps), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def host_facts(spark, nproc: int) -> dict:
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024,
            "spark_driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "shuffle_partitions": SHUFFLE_PARTITIONS}


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    let the Python workers import ``sparkdedup`` from the checkout
    whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # measure the engine as shipped: no env overrides of its defaults
    for key in [k for k in os.environ if k.startswith("SPARKDEDUP_")]:
        del os.environ[key]


def session(work: str, nproc: int, trace: bool = False):
    from sparkdedup.session import get_spark
    conf = {}
    if trace:
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(work, "events")}
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return get_spark(app_name="perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop_spark(spark, jvm_pid: int | None) -> None:
    """Stop Spark, then end the JVM and wait until it and every Python
    worker it forked have exited."""
    import measure
    from pyspark import SparkContext
    tree = measure.process_tree(jvm_pid) if jvm_pid else []
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        tree.append(gateway.proc.pid)
        try:
            gateway.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    measure.wait_gone(tree)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sparkdedup  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    spec = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    isolate(work)
    spark, jvm_pid = None, None
    done = threading.Event()

    def watchdog():
        if not done.wait(DEADLINE_S - (time.monotonic() - T_START)):
            print(f"perfbench: no result after {DEADLINE_S} s",
                  file=sys.stderr, flush=True)
            if jvm_pid is not None:
                import measure
                measure.kill_tree(jvm_pid)
            shutil.rmtree(work, ignore_errors=True)
            os._exit(3)
    threading.Thread(target=watchdog, daemon=True).start()

    try:
        t0 = time.monotonic()
        spark = session(work, nproc)
        session_s = time.monotonic() - t0
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        facts = host_facts(spark, nproc)
        cls = (workloads.Stream if spec["kind"] == "stream"
               else workloads.Batch)
        wl = cls(spark, spec, args.seed, work)
        if args.trace:
            import layers

            def restart():
                nonlocal spark
                spark.stop()
                spark = session(work, nproc, trace=True)
                return spark
            metrics, reps, extra = layers.run(
                wl, session_s, jvm_pid, os.path.join(work, "events"),
                restart)
        else:
            wl.prepare()
            setup_s = time.monotonic() - T_START
            metrics, reps = timed(wl, args, setup_s)
            extra = {}
    finally:
        if spark is not None:
            stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
        done.set()
    failed = sum(1 for r in reps if r.failures)
    facts.update(workload=args.workload, seed=args.seed,
                 input_files=wl.n_files, input_bytes=wl.input_bytes,
                 session_s=session_s, inputs_s=wl.inputs_s,
                 warmup_s=wl.warmup_s,
                 job_s=[round(r.job_s, 4) for r in reps],
                 epochs_s=[[round(e, 4) for e in r.epochs_s] for r in reps],
                 failures=[f for r in reps for f in r.failures], **extra)
    print(json.dumps({"host": facts}))
    print(json.dumps({"correct": failed == 0, "attempted": len(reps),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def timed(wl, args, setup_s: float):
    """Repeat the job until ``--seconds`` have passed (at least once);
    report medians over the repeats."""
    reps: list[workloads.Rep] = []
    t0 = time.monotonic()
    while not reps or time.monotonic() - t0 < args.seconds:
        reps.append(wl.rep(len(reps)))
    return e2e_metrics(wl, reps, setup_s), reps


if __name__ == "__main__":
    sys.exit(main())
