"""Link-graph benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload {ingest,analytics} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``; the
package runs on ``local[<usable cores>]`` in this one process; every
repetition's output is checked against a single-process oracle. The last
stdout line is one JSON object ``{correct, attempted, failed, metrics}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes lives under ``.perfbench/`` in the
repository root; scratch data, shuffle files and temp files are removed at
exit, the oracle cache and the span files are kept. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# input size: pages for ingest, edges for analytics
SIZES = {"ingest": 5_000, "analytics": 40_000}
SETUP_REPEATS = 3  # input generations per run; setup_s takes their median
DRIVER_MEM = "1g"
DEADLINE_S = 150  # cancel running Spark jobs past this, so the run ends < 180 s

SITES = (
    "extract", "edges",
    "prepared.weighted_edges", "prepared.dangling_flagged", "prepared.symmetrized",
    "pagerank", "components", "label_propagation", "triangles",
    "pagerank.first", "pagerank.resumed",
)
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "failed_tasks": "count",
                 "executor_run_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B"}
END_TO_END = {"setup_s": "s", "job_s": "s", "pagerank_edges_per_s": "edges/s",
              "resume_s": "s", "peak_rss_mb": "MB"}
LAYER_COUNTS = {
    "extract.pages": "count", "extract.links": "count", "extract.malformed_pages": "count",
    "edges.rows_out": "count", "edges.keep_ratio": "ratio",
    "pagerank.supersteps": "count", "pagerank.jobs_per_superstep": "jobs/superstep",
    "pagerank.shuffle_write_bytes_per_superstep": "B/superstep",
    "pagerank.wall_s_per_superstep": "s/superstep",
    "components.supersteps": "count", "components.jobs_per_superstep": "jobs/superstep",
    "label_propagation.jobs_per_superstep": "jobs/superstep",
    "triangles.count": "count",
    "checkpoint.saves": "count", "checkpoint.bytes_written": "B",
    "checkpoint.latest.wall_s": "s",
    "session.get_spark_s": "s", "datagen.input_s": "s", "session.local_dir_mb": "MB",
    "trace.overhead_s": "s",
}
PER_LAYER = {
    **{f"{site}.{c}": u for site in SITES for c, u in COUNTER_UNITS.items()},
    **LAYER_COUNTS,
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def walls_text(rep) -> str:
    return " ".join(f"{k}={v:.2f}" for k, v in rep.walls.items())


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    grandchild orphaned by its parent (a Python worker daemon the JVM
    leaves behind) is re-parented here and reap_children() can end it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def child_pids() -> list[int]:
    pids = []
    for task in os.listdir("/proc/self/task"):
        with open(f"/proc/self/task/{task}/children", encoding="ascii") as fh:
            pids += [int(p) for p in fh.read().split()]
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Wait for every remaining child to end: TERM at once, KILL after
    ``grace_s``; return only when none is left."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap the ones that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        pids = child_pids()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """One benchmark invocation: owns the session, its dirs and the tallies."""

    def __init__(self):
        base = os.path.join(ROOT, ".perfbench")
        self.cache = os.path.join(base, "cache")
        self.spans_dir = os.path.join(base, "spans")
        self.scratch = os.path.join(base, f"run-{os.getpid()}")
        self.local_dir = os.path.join(self.scratch, "spark-local")
        self.tmp = os.path.join(self.scratch, "tmp")
        for d in (self.cache, self.spans_dir, self.local_dir, self.tmp):
            os.makedirs(d, exist_ok=True)
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.jvm_proc = None

    # -- session -----------------------------------------------------------
    def start_session(self):
        # the session factory reads these; TMPDIR also keeps the package zip
        # and pyspark's handshake files inside the run dir
        os.environ.update({
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": self.local_dir,
            "TMPDIR": self.tmp,
            "PYSPARK_PYTHON": sys.executable,
        })
        import tempfile

        tempfile.tempdir = None
        from citation_graph_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{usable_cores()}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the SQL tab's plan graphs are never read here; keeping
                # 1000 of them grew the heap through a run
                "spark.sql.ui.retainedExecutions": "20",
                "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
                # C1 only: a run lives about a minute, too short for C2 to
                # settle; its background compiles made repetitions drift
                # down through the window and vary 20%+ between runs
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            },
        )
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        return time.perf_counter() - t0

    def release_blocks(self):
        """Drop every persisted RDD, the algorithms' last localCheckpoint
        states included, so no cached block crosses repetitions."""
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def stop_session(self):
        """Stop the session and wait for the driver JVM, even when a signal
        broke the gateway connection mid-call."""
        try:
            if self.spark is not None:
                gateway = self.spark.sparkContext._gateway
                try:
                    self.spark.stop()
                finally:
                    self.spark = None
                    gateway.shutdown()
        finally:
            if self.jvm_proc is not None:
                self.jvm_proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    self.jvm_proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.jvm_proc.kill()
                    self.jvm_proc.wait()
            shutil.rmtree(self.scratch, ignore_errors=True)

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)

    # -- oracle cache ------------------------------------------------------
    def oracle(self, wl, inp):
        import numpy as np

        path = os.path.join(self.cache, f"{wl.name}-seed{inp.seed}-n{inp.size}.npz")
        if os.path.exists(path):
            with np.load(path) as z:
                return {k: (z[k].item() if z[k].ndim == 0 else z[k]) for k in z.files}
        # in a child process, so its memory stays out of peak_rss_mb; a
        # plain subprocess (not multiprocessing, whose resource tracker
        # outlives the run) that run() kills and waits for on any exit
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-m", "perfbench.workloads", path + ".tmp.npz", wl.name,
             inp.path, str(inp.seed), str(inp.size), str(inp.n_edges)],
            cwd=ROOT, stdout=sys.stderr, check=True,
        )
        os.replace(path + ".tmp.npz", path)
        log(f"oracle computed in {time.perf_counter() - t0:.1f}s")
        return self.oracle(wl, inp)

    # -- repetitions -------------------------------------------------------
    def attempt(self, fn, want, check):
        """Run one repetition; a raise, a failed check or a start past the
        deadline counts as failed."""
        from perfbench.workloads import CheckFailed

        self.attempted += 1
        if time.perf_counter() - T_START > DEADLINE_S:
            log("deadline passed, repetition skipped")
            self.failed += 1
            return None
        try:
            rep = fn()
            check(rep, want)
            return rep
        except CheckFailed as exc:
            log(f"CHECK FAILED: {exc}")
        except Exception:
            log("repetition raised:\n" + traceback.format_exc())
        finally:
            self.release_blocks()
        self.failed += 1
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import citation_graph_spark

    if not os.path.abspath(citation_graph_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"citation_graph_spark not found in {ROOT}")
    # a terminated run still stops its session and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()

    from perfbench.trace import Sites, write_spans
    from perfbench.workloads import WORKLOADS, Ctx, dir_bytes

    wl = WORKLOADS[args.workload]
    size = SIZES[args.workload]
    run = Run()
    deadline = threading.Timer(
        DEADLINE_S, lambda: run.spark and run.spark.sparkContext.cancelAllJobs()
    )
    deadline.daemon = True
    metrics: dict[str, float] = {}
    try:
        get_spark_s = run.start_session()
        deadline.start()
        session_ready = time.perf_counter() - T_START
        data = os.path.join(run.scratch, "data")
        gens = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inp = wl.generate(run.spark, args.seed, size, os.path.join(data, "input"))
            gens.append(time.perf_counter() - t0)
        datagen_s = statistics.median(gens)
        log(f"session {get_spark_s:.1f}s, inputs {['%.2f' % g for g in gens]}")

        untraced = Ctx(run.spark, Sites(run.spark, traced=False), os.path.join(run.scratch, "work"))
        t0 = time.perf_counter()
        rep = wl.repetition(untraced, inp, warm=True)
        if args.workload == "ingest":
            wl.resume(untraced, rep.out["edges_dir"], supersteps=None)
        run.release_blocks()
        warm_s = time.perf_counter() - t0
        setup_s = session_ready + datagen_s + warm_s
        log(f"warm-up {warm_s:.1f}s, setup_s {setup_s:.1f}")

        want = run.oracle(wl, inp)
        n_edges = len(want["edges"]) if args.workload == "ingest" else inp.n_edges

        # timed window, tracing off: at least min_reps repetitions
        reps = []
        window_end = time.perf_counter() + args.seconds
        for i in itertools.count(1):
            rep = run.attempt(lambda: wl.repetition(untraced, inp, warm=False), want, wl.check)
            if rep is not None:
                reps.append(rep)
                log(f"repetition job_s {rep.job_s:.3f} " + walls_text(rep))
            if i >= wl.min_reps and time.perf_counter() >= window_end:
                break
        if reps and not args.trace:
            north = reps
            if args.workload == "ingest":
                north = []
                for _ in range(wl.resume_reps):
                    step = run.attempt(
                        lambda: wl.resume(untraced, reps[-1].out["edges_dir"], want["pr_iters"]),
                        want, wl.check,
                    )
                    if step is not None:
                        north.append(step)
                        log(f"resume step {walls_text(step)}")
            if north:
                e2e = [wl.e2e(r, n_edges) for r in north]
                metrics = {
                    "setup_s": setup_s,
                    "job_s": statistics.median(r.job_s for r in reps),
                    **{k: statistics.median(e[k] for e in e2e) for k in e2e[0]},
                    "peak_rss_mb": run.peak_rss_mb(),
                }
        elif reps:
            sites = Sites(run.spark, traced=True)
            traced = Ctx(run.spark, sites, untraced.work)
            with sites.run(f"{args.workload}-seed{args.seed}"):
                rep = run.attempt(lambda: wl.repetition(traced, inp, warm=False), want, wl.check)
                if rep is not None and args.workload == "ingest":
                    tail = run.attempt(
                        lambda: wl.resume(traced, rep.out["edges_dir"], want["pr_iters"]),
                        want, wl.check,
                    )
                    rep.counts.update(tail.counts if tail else {})
            if rep is not None:
                metrics = layer_metrics(sites.counters, rep.counts)
                metrics.update({
                    "trace.overhead_s": rep.job_s - statistics.median(r.job_s for r in reps),
                    "session.get_spark_s": get_spark_s,
                    "datagen.input_s": datagen_s,
                    "session.local_dir_mb": dir_bytes(run.local_dir) / 1e6,
                })
            write_spans(
                os.path.join(run.spans_dir, f"{args.workload}-seed{args.seed}.jsonl"), sites.spans
            )
    finally:
        deadline.cancel()
        try:
            run.stop_session()
        finally:
            reap_children()

    units = END_TO_END if not args.trace else PER_LAYER
    correct = run.failed == 0 and len(metrics) == len(units)
    result = {
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
    print(json.dumps(result))
    return 0


def layer_metrics(counters: dict, counts: dict) -> dict[str, float]:
    """Per-layer metrics of one traced repetition. Sites this workload does
    not call read 0."""
    out = {f"{site}.{c}": counters.get(site, {}).get(c, 0) for site in SITES
           for c in COUNTER_UNITS}
    out.update({k: counts.get(k, 0) for k in LAYER_COUNTS})

    def total(sites: tuple[str, ...], counter: str) -> float:
        return sum(counters.get(s, {}).get(counter, 0) for s in sites)

    steps = counts.get("pagerank.supersteps")
    if steps:
        pr = ("pagerank", "pagerank.first", "pagerank.resumed")
        out["pagerank.jobs_per_superstep"] = total(pr, "jobs") / steps
        out["pagerank.shuffle_write_bytes_per_superstep"] = (
            total(pr, "shuffle_write_bytes") / steps
        )
        out["pagerank.wall_s_per_superstep"] = total(pr, "wall_s") / steps
    for algo in ("components", "label_propagation"):
        steps = counts.get(f"{algo}.supersteps")
        if steps:
            out[f"{algo}.jobs_per_superstep"] = total((algo,), "jobs") / steps
    if counts.get("extract.links"):
        out["edges.keep_ratio"] = counts["edges.rows_out"] / counts["extract.links"]
    return out


if __name__ == "__main__":
    sys.exit(main())
