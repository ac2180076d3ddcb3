"""Dedup benchmark entry point.

    python3 perfbench/run.py --workload dupdense_web --seed 1 --seconds 10 --trace 0

Run from the repository root. One process, one Spark session on
local[<cores>], a closed loop: after an untimed warm-up, one pipeline job
(or one stream) in flight at a time, repeated until the next one would
exceed `--seconds` of job time (at least one job).
Every job's assignments are checked against the golden labels.

--trace 0 prints the end-to-end metrics (tracing off). --trace 1 runs an
untraced and then a traced job with the Spark event log on, prints the
per-layer metrics, and writes the spans to
.perfbench/spans/<workload>-seed<seed>.jsonl.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Exit code 0 only when every job passed its correctness check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# stop starting jobs once this much of the process's time is gone, so a
# run ends within three minutes
DEADLINE_S = 150.0
SETUP_REPEATS = 3
DRIVER_HEAP = "2g"
SHM_PREFIX = "perfbench-"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def sweep_dead(root: str, prefix: str) -> None:
    """Remove the `<prefix><pid>-<ms>` dirs below `root` whose process is
    gone: what killed runs left behind."""
    if not os.path.isdir(root):
        return
    for name in os.listdir(root):
        pid = name[len(prefix):].split("-")[0]
        if name.startswith(prefix) and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def ckpt_root(work: str, tag: str) -> str:
    """This run's own root for the program's ephemeral checkpoints.

    By default the program puts them on tmpfs (/dev/shm), uncompressed, and
    that default is what the benchmark times: a per-run dir below /dev/shm,
    so `StageCheckpointer` keeps its tmpfs codec, removed at exit.
    Without a writable /dev/shm, a dir inside the run's own dir."""
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return os.path.join(work, "ckpt")
    sweep_dead(shm, SHM_PREFIX)
    return os.path.join(shm, SHM_PREFIX + tag)


def prepare_env(work: str, ckpt: str, n_cores: int) -> None:
    """Process environment for the Spark JVM and its Python workers, set
    before the session starts: every scratch path inside this run's dirs."""
    for d in (ckpt, os.path.join(work, "local"), os.path.join(work, "tmp")):
        os.makedirs(d, exist_ok=True)
    # pandas UDF workers import fuzzycat_spark: put the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["FUZZYCAT_CKPT_DIR"] = ckpt
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # get_spark defaults the driver heap to 32g, above this box's RAM; the
    # corpora need far less, and a 2g cap kept the JVM's footprint and the
    # job times steadier than 4g did
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP


def start_spark(work: str, n_cores: int, event_log: bool):
    from fuzzycat_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=n_cores, shuffle_partitions=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the whole process tree
    (JVM, Python daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    tree = descendant_pids(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        time.sleep(0.1)


def run(args) -> int:
    t_proc = time.perf_counter()
    from perfbench import metrics as M
    from perfbench.check import check_assignments
    from perfbench.trace import RssSampler, Stopwatch, Tracer, attribute_event_log, tree_cpu_s
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    import fuzzycat_spark  # noqa: F401  (fail fast outside a checkout)

    wl = WORKLOADS[args.workload]
    n_cores = cores()
    base = os.path.join(ROOT, ".perfbench")
    tag = f"{os.getpid()}-{int(time.time() * 1000)}"
    sweep_dead(base, "run-")
    work = os.path.join(base, f"run-{tag}")
    ckpt = ckpt_root(work, tag)
    prepare_env(work, ckpt, n_cores)
    traced_mode = bool(args.trace)
    spark = None
    rss = RssSampler() if traced_mode else None
    try:
        # ---- set-up: session, corpus (median of SETUP_REPEATS), warm-up
        clock = Stopwatch()
        spark = start_spark(work, n_cores, event_log=traced_mode)
        session_s = clock.adjusted()
        tracer = Tracer(spark.sparkContext if traced_mode else None)
        ctx = Ctx(spark, work, args.seed, n_cores, tracer)
        root = os.path.join(work, "input")
        gen = []
        for _ in range(SETUP_REPEATS):
            clock = Stopwatch()
            n_docs = wl.write_input(ctx, root, small=args.tiny)
            gen.append(clock.adjusted())
        labels = wl.labels(root)
        clock = Stopwatch()
        wl.warm(ctx, root)
        warm_s = clock.adjusted()
        setup_s = session_s + M.median(gen) + warm_s
        log(f"{wl.name} seed={args.seed} docs={n_docs} session={session_s:.2f}s "
            f"gen={[round(g, 2) for g in gen]}s warm={warm_s:.2f}s")

        # ---- closed loop; trace mode alternates untraced and traced jobs
        if rss is not None:
            rss.start()
        jobs, traced_jobs, checks = [], [], []
        attempted = failed = 0
        spent = 0.0
        # trace mode: at least one untraced and one traced job
        min_jobs = 2 if traced_mode else 1
        while True:
            elapsed = time.perf_counter() - t_proc
            est = max([j.raw_wall_s for j in jobs + traced_jobs], default=0.0)
            if attempted >= min_jobs and (spent + est > args.seconds
                                          or elapsed + 1.2 * est > DEADLINE_S):
                break
            traced = traced_mode and attempted % 2 == 1
            attempted += 1
            tj = time.perf_counter()
            cpu0 = tree_cpu_s(os.getpid())
            try:
                job = wl.job(ctx, root, traced=traced)
                job.cpu_s = tree_cpu_s(os.getpid()) - cpu0
                assign = job.assign
                if args.corrupt:
                    assign = assign.assign(cluster_id=assign["cluster_id"].iloc[0])
                chk = check_assignments(assign, labels)
            except Exception:
                failed += 1
                log("job failed:\n" + traceback.format_exc())
                continue
            finally:
                spent += time.perf_counter() - tj
            log(f"job {attempted} traced={int(traced)} wall={job.wall_s:.2f}s raw={job.raw_wall_s:.2f}s "
                f"with-check={time.perf_counter() - tj:.2f}s "
                f"steal={job.steal:.3f} cpu={job.cpu_s:.2f}s "
                f"units={[round(u, 2) for u in job.units_s]} recall={chk.recall:.4f} "
                f"precision={chk.precision:.4f} {'; '.join(chk.problems)}")
            if not chk.ok:
                failed += 1
                continue
            checks.append(chk)
            (traced_jobs if traced else jobs).append(job)
        if rss is not None:
            rss.stop()

        ok = failed == 0 and bool(jobs) and (bool(traced_jobs) or not traced_mode)
        if not ok:
            log(f"correctness failed: {failed} of {attempted} jobs failed")
        if not jobs or (traced_mode and not traced_jobs):
            print(json.dumps({"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}))
            return 1
        if not traced_mode:
            values = M.end_to_end(setup_s, n_docs, jobs, checks)
            table = M.END_TO_END
        else:
            stop_spark(spark)  # flushes and closes the event log
            spark = None
            log_dir = os.path.join(work, "eventlog")
            for name in os.listdir(log_dir):
                attribute_event_log(os.path.join(log_dir, name), tracer.spans)
            per_job, extras = [], []
            for job in traced_jobs:
                m, extra = M.per_job_layers(tracer.of_trace(job.trace), job, n_docs, n_cores)
                per_job.append(m)
                extras.append(extra)
            values = M.median_of(per_job)
            values["sources.gen_s"] = M.median(gen)
            values["sources.rows"] = n_docs
            values["memory.peak_rss_mb"] = rss.peak / 2**20
            values["trace.overhead_s"] = (M.median([j.wall_s for j in traced_jobs])
                                          - M.median([j.wall_s for j in jobs]))
            table = M.PER_LAYER
            log("workload spans: " + json.dumps(M.median_of(extras)))
            tracer.write(os.path.join(base, "spans", f"{wl.name}-seed{args.seed}.jsonl"))
        print(json.dumps({
            "correct": ok,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": table[k][0]} for k in table},
        }))
        return 0 if ok else 1
    finally:
        if rss is not None:
            rss.stop()
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        log(f"teardown {time.perf_counter() - t_stop:.2f}s")
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        log(f"total {time.perf_counter() - t_proc:.2f}s")


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its dirs (`finally`)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # for perfbench/smoke.py: the warm-up-sized corpus, and a corrupted
    # assignment that the correctness check must reject
    p.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    p.add_argument("--corrupt", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
