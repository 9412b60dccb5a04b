"""Crawl-frontier drain benchmark: one run of one workload, one JSON line.

    python3 perfbench/run.py --workload drain_fresh --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run is one process on local[N], N the
CPUs this process may use, with a fresh catalog root and temp directory under
``.perfbench_tmp/`` that are removed at exit. The load is closed-loop with a
single client: epochs run back to back. ``--seed`` is ``CrawlConfig.seed``,
so it picks the seed URLs, the payloads and the fetch outcomes.

``--seconds`` bounds the timed drain: whole epochs run until that much time
has passed (at least the workload's minimum). Outputs are then checked,
outside every timer, against the sequential ``OracleCrawl`` run on the same
inputs: crawl order with seq and per-epoch stats for each epoch, the
requeue count, and the final seen set and store keys with first/last epoch.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log and the wrappers in ``trace_layers.py`` and prints the per-layer
metrics instead, after a human-readable per-layer table. The last stdout
line is always ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Sizes are chosen so one run, set-up included, stays near a minute on four
# cores: a drain epoch costs ~10 s there almost regardless of batch size.
WORKLOADS = {
    # discovery-heavy: big batch, full expansion, append-only store; the
    # decode UDF and link expansion with the seen probe do most of the work
    "drain_fresh": {
        "cfg": {"n_seed_urls": 8_000, "n_hosts": 500, "n_payload": 1_000,
                "batch_size": 1_500, "bucket_count": 32, "salt_buckets": 8},
        "min_epochs": 1,
        "requeue_after": None,
    },
    # small-state recrawl: after epoch 0 the whole seed list is requeued, so
    # later epochs serve stored seeds from the store (cache-aside) and
    # merge_upsert rewrites existing store rows; per-epoch fixed cost rules
    "drain_refresh": {
        "cfg": {"n_seed_urls": 2_000, "n_hosts": 100, "n_payload": 500,
                "batch_size": 300, "bucket_count": 8, "salt_buckets": 8},
        "min_epochs": 2,
        "requeue_after": 0,
    },
}

# program tuning knobs pinned to their defaults so every run measures the
# same configuration whatever the caller's environment holds
PINNED_ENV = (
    "SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTS", "SPARK_GRAFT_SCHEDULER",
    "SPARK_GRAFT_LOCALITY_WAIT", "SPARK_GRAFT_NO_WARM", "SPARK_GRAFT_ARROW_BATCH",
    "SPARK_GRAFT_PACK_ROWS", "CRAWL_PROFILE",
)
STAT_KEYS = ("fetched", "cached", "stored", "discovered", "dead")


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process, the JVM and its Python workers.

    Processes younger than a second are skipped: a child the JVM spawns
    shares the JVM's address space until it execs, and would count the whole
    JVM a second time. (Proportional set sizes would avoid that too, but
    reading them walks the JVM's page tables for ~30 ms per sample.)
    """

    PERIOD_S = 0.25

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def rss(self) -> int:
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    started = int(f.read().rsplit(")", 1)[1].split()[19]) / self._tick
                if uptime - started < 1.0:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.PERIOD_S):
            self.peak = max(self.peak, self.rss())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def cpu_jiffies() -> list[int]:
    """Host-wide CPU counters from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def seed_rows(cfg) -> list[tuple]:
    import numpy as np

    from newscrawler_spark import datagen

    pdf = datagen.gen_seeds_pdf(np.arange(cfg.n_seed_urls), cfg.seed, cfg.n_hosts)
    return [
        (str(u), float(p), t.to_pydatetime(), str(c), str(lg))
        for u, p, t, c, lg in pdf.itertuples(index=False)
    ]


def run_oracle(cfg, n_epochs: int, requeue_after: int | None):
    """The sequential oracle over the drain's inputs and schedule."""
    from newscrawler_spark.oracle import OracleCrawl

    rows = seed_rows(cfg)
    orc = OracleCrawl(cfg)
    orc.bootstrap(rows)
    stats, n_requeued = [], None
    for e in range(n_epochs):
        stats.append(orc.run_epoch(e))
        if e == requeue_after:
            n_requeued = orc.requeue(rows)
    return stats, n_requeued, orc.res


def engine_state(spark, eng) -> tuple[list, set, dict]:
    """Crawl order with seq, seen set, and store keys with first/last epoch."""
    order = sorted(
        (r["epoch"], r["seq"], r["url_hash"]) for r in eng.crawl_order_with_seq().collect()
    )
    seen = {r["url_hash"] for r in eng.seen.read(spark).select("url_hash").collect()}
    store = {
        r["url_hash"]: (r["first_epoch"], r["last_epoch"])
        for r in eng.store.read(spark).select("url_hash", "first_epoch", "last_epoch").collect()
    }
    return order, seen, store


def compare(stats, n_requeued, state, oracle) -> tuple[int, int]:
    """(attempted, failed): each epoch and the requeue is one operation."""
    order, seen, store = state
    o_stats, o_requeued, res = oracle
    failed = []
    attempted = len(stats) + (n_requeued is not None)
    for st, ost in zip(stats, o_stats):
        e = st["epoch"]
        mine = [o for o in order if o[0] == e]
        theirs = sorted(o for o in res.order if o[0] == e)
        if mine != theirs or any(st[k] != ost[k] for k in STAT_KEYS):
            failed.append(f"epoch {e}: order or stats differ from the oracle")
    if n_requeued != o_requeued:
        failed.append(f"requeue: {n_requeued} inserted, the oracle {o_requeued}")
    o_store = {k: (v["first_epoch"], v["last_epoch"]) for k, v in res.store.items()}
    wrong = [name for name, a, b in (("seen set", seen, res.seen),
                                      ("store keys with first/last epoch", store, o_store))
             if a != b]
    if wrong:
        # a final-state divergence cannot be pinned to one operation
        failed = [f"final {' and '.join(wrong)} differ from the oracle"] * attempted
    for msg in failed:
        print(f"MISMATCH {msg}", file=sys.stderr)
    return attempted, len(failed)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def reap_children() -> None:
    """Kill and wait for whatever this run left behind; normally nothing,
    since stop_spark has already ended the JVM and its Python workers."""
    left = descendants(os.getpid())
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in left) and time.time() < deadline:
        time.sleep(0.05)


def run(args, work: str, t_proc: float, sampler: RssSampler) -> dict:
    sys.path.insert(0, ROOT)
    from newscrawler_spark import datagen, session
    from newscrawler_spark.engine.crawl import CrawlConfig, CrawlEngine

    spec = WORKLOADS[args.workload]
    cpu0 = cpu_jiffies()
    tracer = None
    if args.trace:
        from trace_layers import Tracer

        tracer = Tracer()
        tracer.install()
    windows: list[tuple[str, float, float]] = []

    def timed(layer, fn):
        t0 = time.time()
        out = fn()
        windows.append((layer, t0, time.time()))
        return out

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
    }
    if tracer:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = len(os.sched_getaffinity(0))
    spark = timed(
        "session.get_spark",
        lambda: session.get_spark(app_name="perfbench", cores=cores, extra_conf=conf),
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        timed("session.warm_engine", lambda: session.warm_engine(spark))
        cfg = CrawlConfig(seed=args.seed, **spec["cfg"])
        eng = CrawlEngine(spark, os.path.join(work, "catalog"), cfg)
        timed("datagen.payload_cache", lambda: eng.payload_df().count())
        # the seed list is input data: materialize it once, before the clock
        seeds = datagen.gen_seeds_spark(spark, cfg.n_seed_urls, cfg.seed, cfg.n_hosts).cache()
        timed("datagen.seeds", seeds.count)

        t_boot = time.time()
        setup_s = t_boot - t_proc
        timed("crawl.bootstrap", lambda: eng.bootstrap(seeds))
        bootstrap_s = time.time() - t_boot

        stats, walls, n_requeued = [], [], None
        t0 = time.time()
        while len(stats) < spec["min_epochs"] or time.time() - t0 < args.seconds:
            te = time.time()
            st = eng.run_epoch(len(stats))
            walls.append(time.time() - te)
            stats.append(st)
            if st["epoch"] == spec["requeue_after"]:
                n_requeued = timed("crawl.requeue", lambda: eng.requeue(seeds))
            if st["done"]:
                break
        # the last epoch's deferred bloom job is committed work: settle it
        # inside the drain clock, as a finite drain must
        timed("crawl.settle", eng._await_bloom)
        drain_s = time.time() - t0
        peak_rss = sampler.peak
        cpu = [b - a for a, b in zip(cpu0, cpu_jiffies())]
        disk = dir_bytes(os.path.join(work, "catalog"))
        # the oracle runs on a thread while the engine's tables are collected
        # and the JVM stops: this thread mostly waits on the JVM meanwhile
        pool = ThreadPoolExecutor(max_workers=1)
        oracle = pool.submit(run_oracle, cfg, len(stats), spec["requeue_after"])
        pool.shutdown(wait=False)
        state = timed("bench.check", lambda: engine_state(spark, eng))
    finally:
        stop_spark(spark)
        if tracer:
            tracer.uninstall()
    attempted, failed = compare(stats, n_requeued, state, oracle.result())
    fetched = sum(s["fetched"] for s in stats)
    e2e = {
        "setup_s": (setup_s, "s"),
        "bootstrap_s": (bootstrap_s, "s"),
        "drain_urls_per_s": (fetched / drain_s, "1/s"),
        "epoch_s_p50": (statistics.median(walls), "s"),
        "disk_bytes_per_url": (disk / len(state[1]), "B"),
    }
    inputs = {"workload": args.workload, "seed": args.seed, "epochs": len(stats),
              "fetched": fetched, "requeued": n_requeued, "cores": cores, **spec["cfg"]}
    print("inputs " + json.dumps(inputs))
    print("windows " + json.dumps({n: round(b - a, 3) for n, a, b in windows}))
    # CPU time the hypervisor gave to other guests while this run measured:
    # the main source of run-to-run spread on a shared host
    print("host " + json.dumps({"cpu_steal_frac": round(cpu[7] / max(sum(cpu), 1), 4)}))
    # the JVM's heap grows by its own heuristics, so peak memory moves by ~30%
    # between runs: too much for a bound, so it is reported, not bounded
    print("memory " + json.dumps({"peak_rss_mib": round(peak_rss / 2**20, 1)}))
    correct = failed == 0
    if tracer:
        from trace_layers import per_layer_metrics

        problems, metrics = per_layer_metrics(
            tracer, os.path.join(work, "eventlog"), windows, stats, disk, e2e
        )
        metrics["mem.peak_rss_mib"] = (peak_rss / 2**20, "MiB")
        for p in problems:
            print(f"TRACE SELF-CHECK FAILED: {p}", file=sys.stderr)
        correct = correct and not problems
    else:
        metrics = e2e
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_proc = process_start_time()
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    for k in PINNED_ENV:
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    sampler = RssSampler()
    sampler.start()
    try:
        result = run(args, work, t_proc, sampler)
    finally:
        sampler.stop()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
