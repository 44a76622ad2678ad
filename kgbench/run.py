#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 kgbench/run.py --workload kg_flagship --seed 1 --seconds 8 \
        --trace 0

Run from the repository root. The program runs at local[nproc] in this
one process, with the driver heap fitted to the host. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs one untraced and one
traced pass with the event log on and prints the per-layer ledger. The
last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import box, gen, stats  # noqa: E402

T_START = box.process_start_epoch()
SETUP_REPS = 3
WORK = os.path.join(ROOT, ".kgbench_work")

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
             "cpu_s": "s", "peak_rss_mb": "MB"}


def _session_conf(heap: int, work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _set_env(work: str, heap: int) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # wins over spark.local.dir when the caller's environment sets it
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import promptner_spark (and kgbench's counting
    # backend) from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _gc_s(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _become_subreaper() -> None:
    """Have orphaned descendants (Python workers whose JVM exited)
    reparented to this process, so that ``_shutdown`` can reap them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap(deadline: float) -> bool:
    """Reap exited children until none is left (True) or the deadline."""
    while time.time() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            time.sleep(0.05)
    return False


def _shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    pids = box.tree_pids(os.getpid())[1:]
    try:
        spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    finally:
        for sig, wait_s in ((signal.SIGTERM, 20.0), (signal.SIGKILL, 10.0)):
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            if _reap(time.time() + wait_s):
                break


class Run:
    """Operation counts of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, fn):
        """One operation: counts in attempted, and in failed when it
        raises or its check reports a problem."""
        self.attempted += 1
        try:
            bad = fn()
        except Exception as exc:  # noqa: BLE001 - report, keep measuring
            traceback.print_exc()
            bad = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if bad:
            self.failed += 1
            self.problems.extend(bad)


def main(argv: list[str] | None = None) -> int:
    try:
        import promptner_spark  # noqa: F401
        from tools import compare_oracle  # noqa: F401
    except ImportError as exc:
        print(f"kgbench: program not found next to the benchmark: {exc}",
              file=sys.stderr)
        return 2
    from kgbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _become_subreaper()
    heap = box.heap_mb()
    _set_env(work, heap)
    try:
        return _run(args, WORKLOADS[args.workload], work, heap)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl_cls, work: str, heap: int) -> int:
    from promptner_spark.session import build_session

    from kgbench import eventlog
    from kgbench.ledger import PER_LAYER, per_layer

    cores = os.cpu_count() or 1
    conf = _session_conf(heap, work, bool(args.trace))

    def session():
        return build_session(cores=cores, app_name=f"kgbench-{wl_cls.name}",
                             extra_conf=conf)

    spark = session()
    launch_s = time.time() - T_START
    run = Run()
    try:
        # Set-up, repeated: a fresh SparkContext in the running JVM and
        # freshly generated inputs. The copies must be byte-identical.
        reps, dirs = [], []
        for i in range(SETUP_REPS):
            t0 = time.time()
            spark.stop()
            spark = session()
            dirs.append(gen.write_sf_dir(os.path.join(work, f"input{i}"),
                                         wl_cls.n_docs, args.seed))
            reps.append(time.time() - t0)
        run.op(lambda: [] if all(filecmp.cmp(
            os.path.join(dirs[0], "documents.parquet"),
            os.path.join(d, "documents.parquet"), shallow=False)
            for d in dirs[1:]) else ["generated inputs differ across copies"])
        wl = wl_cls(spark, dirs[-1], work)
        t0 = time.time()
        handle = wl.warmup()
        warmup_s = time.time() - t0
        run.op(lambda: wl.check_warmup(handle))
        setup_s = launch_s + stats.median(reps) + warmup_s
        if args.trace:
            state = _traced(run, wl, spark)
        else:
            timed = _timed(run, wl, args.seconds)
            timed["setup_s"] = setup_s
        t0 = time.time()
        run.op(wl.final_checks)
        notes = {"jdk": spark._jvm.java.lang.System.getProperty(
                     "java.version"),
                 "launch_s": round(launch_s, 3),
                 "setup_rep_s": round(stats.median(reps), 3),
                 "warmup_s": round(warmup_s, 3),
                 "final_checks_s": round(time.time() - t0, 3)}
        if args.trace:
            app_id = spark.sparkContext.applicationId
            _shutdown(spark)
            spark = None
            log = eventlog.find_log(os.path.join(work, "eventlog"), app_id)
            values, groups = per_layer(state["tracer"], state["root"],
                                       eventlog.read_jobs(log), cores,
                                       state["extra"])
            metrics = {k: (v, PER_LAYER[k]) for k, v in values.items()}
        else:
            metrics = {k: (timed[k], u) for k, u in E2E_UNITS.items()}
            groups = []
            notes["passes"] = timed["passes"]
    finally:
        if spark is not None:
            _shutdown(spark)
    _report(args, wl_cls, heap, cores, run, metrics, groups, notes)
    return 0


def _timed(run: Run, wl, seconds: float) -> dict[str, float]:
    rss = box.PeakRss().start()
    walls, cpus = [], []
    t_end = time.time() + seconds

    def one():
        cpu0 = box.tree_usage(os.getpid())[0]
        t0 = time.time()
        h = wl.run()
        walls.append(time.time() - t0)
        cpus.append(box.tree_usage(os.getpid())[0] - cpu0)
        return wl.finish(h)

    while time.time() < t_end:
        run.op(one)
    peak_rss_mb = rss.stop()
    if not walls:
        raise RuntimeError("no pass completed")
    wall = stats.median(walls)
    return {"wall_s": wall, "docs_per_s": wl.docs_per_pass / wall,
            "cpu_s": stats.median(cpus), "peak_rss_mb": peak_rss_mb,
            "passes": [round(w, 3) for w in walls]}


def _traced(run: Run, wl, spark) -> dict:
    """An untraced pass, the traced pass, and another untraced pass; the
    untraced wall is the mean of the two around the traced one."""
    from kgbench.ledger import census
    from kgbench.trace import BOUNDARY, Tracer

    untraced: list[float] = []

    def plain():
        t0 = time.time()
        h = wl.run()
        untraced.append(time.time() - t0)
        return wl.finish(h)

    tracer = Tracer(spark)
    extra: dict[str, float] = {}
    state = {"tracer": tracer, "extra": extra}

    def traced():
        wl.install(tracer)
        try:
            gc0 = _gc_s(spark)
            with tracer.span("pass") as root:
                h = wl.run()
            state["root"] = root
            extra["jvm.gc_s"] = _gc_s(spark) - gc0
            extra.update(wl.backend_metrics())

            def cen(handle):
                extra.update(census(tracer))
                if hasattr(wl, "written_mb"):
                    extra.update(wl.written_mb(handle[0]))

            return wl.finish(h, census=cen)
        finally:
            tracer.unwrap()

    run.op(plain)
    run.op(traced)
    run.op(plain)
    if "root" not in state:
        raise RuntimeError("the traced pass did not complete")
    root = state["root"]
    base = sum(untraced) / len(untraced) if untraced else 0.0
    extra["trace.untraced_wall_s"] = base
    extra["trace.traced_wall_s"] = root.dur
    extra["trace.overhead_s"] = root.dur - base
    resumes = [s for s in tracer.subtree(root) if s.name == "resume"]
    extra["plans.checkpoint.resume_rerun_stages"] = sum(
        1 for r in resumes for s in tracer.subtree(r) if s.kind == BOUNDARY)
    return state


def _report(args, wl_cls, heap, cores, run: Run, metrics, groups,
            notes: dict) -> None:
    facts = box.host_facts(ROOT)
    facts.update({"workload": wl_cls.name, "seed": args.seed,
                  "docs": wl_cls.n_docs, "replicate": wl_cls.replicate,
                  "master": f"local[{cores}]", "driver_heap_mb": heap,
                  "xms_mb": heap, **notes})
    print("# host " + json.dumps(facts, sort_keys=True))
    if groups:
        print(f"# {'fused group':<58} {'credit':<22} {'jobs':>4} "
              f"{'wall_s':>7} {'task_s':>7} {'shuffle_mb':>10} "
              f"{'records_in':>10} {'gc_s':>6} {'spill_mb':>8}")
        for g in sorted(groups, key=lambda g: -g["wall_s"]):
            print(f"# {g['group'][:58]:<58} {g['credit'][:22]:<22} "
                  f"{g['jobs']:>4} {g['wall_s']:>7.3f} {g['task_s']:>7.3f} "
                  f"{g['shuffle_mb']:>10.3f} {g['records_in']:>10} "
                  f"{g['gc_s']:>6.3f} {g['spill_mb']:>8.3f}")
    for k, (v, u) in metrics.items():
        print(f"# {k:<48} {v:>14.6g} {u}")
    share = run.failed / run.attempted
    print(f"# {'fail_share':<48} {share:>14.6g} ratio")
    for p in run.problems:
        print(f"# problem: {p}")
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    sys.exit(main())
