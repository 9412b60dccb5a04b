"""Outside-in tracing for the drain benchmark.

Nothing here edits the program. Spans come from wrappers installed around
the public entry points of ``engine.crawl``, ``engine.seenfilter`` and
``tablelib`` (plus the two engine calls that bound a phase: ``fetch_batch``
and the epoch thread's wait on the deferred bloom job). Spark jobs, tasks and
the Python-UDF SQL metrics come from an uncompressed Spark event log that the
benchmark turns on through ``get_spark(extra_conf=...)``. Spans stay in memory
and are folded with the event log after the session stops.

Attribution: a job launched under one of the program's scheduler pools
(``commit-<table>``, ``bloom-maintain``) belongs to that pool's layer; every
other job belongs to the window its submission time falls in (an epoch phase,
bootstrap, requeue, or one of the benchmark's own set-up and check windows).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict

PHASES = ("select", "fetch", "bloom_wait", "expand", "commit_tail", "compact")
# the engine runs each table's epoch commit under a ``commit-<table>`` pool
COMMIT_TABLES = ("store", "frontier", "tombstone", "seen", "host", "order", "log", "pending")
POOL_KEY = "spark.scheduler.pool"
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
}
_JOB = (("jobs", "count"), ("tasks", "count"), ("exec_run_s", "s"),
        ("exec_cpu_s", "s"), ("shuffle_write_bytes", "B"))
# job metrics per phase; the epoch thread launches no job while it waits on
# the bloom job or on the commit pools (their jobs are tablelib.* layers), and
# compact launches jobs only when a table needs compacting
PHASE_JOB_METRICS = {
    "select": _JOB, "fetch": _JOB, "bloom_wait": (), "expand": _JOB,
    "commit_tail": (), "compact": (("jobs", "count"),),
}
# layers whose jobs run Python UDFs: the decode UDF in fetch and the pandas
# bloom scatter in bootstrap and the deferred maintenance
UDF_LAYERS = ("crawl.fetch", "crawl.bootstrap", "seenfilter.maintain")
JOB_FIELDS = (
    "jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes",
    "bytes_written", *PY_METRICS.values(),
)


class Tracer:
    """Collects wrapper spans as (name, thread id, start, end) tuples."""

    def __init__(self):
        self.spans: list[tuple[str, int, float, float]] = []
        self._open_pool: dict[int, tuple[str, float]] = {}
        self._undo: list[tuple[object, str, object]] = []

    def _wrap(self, cls, attr: str, name) -> None:
        orig = getattr(cls, attr)
        spans = self.spans

        @functools.wraps(orig)
        def wrapper(obj, *a, **kw):
            t0 = time.time()
            try:
                return orig(obj, *a, **kw)
            finally:
                label = name(obj) if callable(name) else name
                spans.append((label, threading.get_ident(), t0, time.time()))

        self._undo.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def install(self) -> None:
        from pyspark import SparkContext

        from newscrawler_spark import tablelib
        from newscrawler_spark.engine import crawl, seenfilter

        eng = crawl.CrawlEngine
        for attr, name in (
            ("bootstrap", "crawl.bootstrap"),
            ("run_epoch", "crawl.epoch"),
            ("requeue", "crawl.requeue"),
            ("fetch_batch", "crawl.fetch_batch"),
            ("_await_bloom", "crawl.await_bloom"),
        ):
            self._wrap(eng, attr, name)
        for attr in ("split_new", "add_keys", "rebuild_buckets"):
            self._wrap(seenfilter.SeenBloom, attr, f"seenfilter.{attr}")
        self._wrap(tablelib.SnapshotTable, "merge_delta", lambda t: f"merge_delta.{t.name}")
        self._wrap(tablelib.SnapshotTable, "compact", "tablelib.compact")
        self._wrap(tablelib.Catalog, "checkpoint", "tablelib.checkpoint")

        # the engine brackets every commit task and the deferred bloom job
        # with a scheduler-pool property; its set/unset pair is the task span
        orig = SparkContext.setLocalProperty
        tracer = self

        @functools.wraps(orig)
        def set_local_property(sc, key, value):
            if key == POOL_KEY:
                tid, now = threading.get_ident(), time.time()
                if value is not None:
                    tracer._open_pool[tid] = (value, now)
                elif tid in tracer._open_pool:
                    pool, t0 = tracer._open_pool.pop(tid)
                    tracer.spans.append((f"pool.{pool}", tid, t0, now))
            return orig(sc, key, value)

        self._undo.append((SparkContext, "setLocalProperty", orig))
        SparkContext.setLocalProperty = set_local_property

    def uninstall(self) -> None:
        while self._undo:
            cls, attr, orig = self._undo.pop()
            setattr(cls, attr, orig)

    def named(self, name: str) -> list[tuple[str, int, float, float]]:
        return [s for s in self.spans if s[0] == name]


def read_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed event log, each with its task totals."""
    wanted = ("SparkListenerJobStart", "SparkListenerTaskEnd")
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    stage_tot: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            head = line[10:40]
            if not head.startswith(wanted):
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "t": ev["Submission Time"] / 1000.0,
                    "pool": (ev.get("Properties") or {}).get(POOL_KEY),
                }
                for sid in ev["Stage IDs"]:
                    stage_jobs[sid].append(jid)
                continue
            tot = stage_tot[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            tot["tasks"] += 1
            tot["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            tot["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            tot["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in ev["Task Info"].get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key:
                    v = float(acc.get("Update") or 0)
                    tot[key] += v / 1e3 if key.endswith("_s") else v
    out = {jid: dict(j, **{k: 0.0 for k in JOB_FIELDS}) for jid, j in jobs.items()}
    for j in out.values():
        j["jobs"] = 1
    for sid, tot in stage_tot.items():
        # a stage listed by several jobs ran its tasks under the newest one
        owners = sorted(stage_jobs.get(sid, ()))
        if not owners:
            continue
        j = out[owners[-1]]
        for k, v in tot.items():
            j[k] += v
    return sorted(out.values(), key=lambda j: j["id"])


def epoch_phases(tracer: Tracer) -> list[dict]:
    """Split every run_epoch span into the six phase windows.

    Boundaries are the wrapped calls, in order: fetch_batch (select ends),
    the epoch thread's bloom wait (fetch ends, bloom_wait spans it), the
    frontier merge_delta (expand ends; it runs on a commit thread) and the
    last checkpoint (commit_tail ends). A missing or out-of-order boundary
    leaves the epoch without phases, which the self-check reports.
    """
    out = []
    for _, tid, e0, e1 in tracer.named("crawl.epoch"):
        inside = [s for s in tracer.spans if e0 <= s[2] and s[3] <= e1]
        on_thread = [s for s in inside if s[1] == tid]
        fetch = [s for s in on_thread if s[0] == "crawl.fetch_batch"]
        wait = [s for s in on_thread if s[0] == "crawl.await_bloom"]
        merge = [s for s in inside if s[0] == "merge_delta.frontier"]
        ckpt = [s for s in on_thread if s[0] == "tablelib.checkpoint"]
        rec = {"t0": e0, "t1": e1, "phases": None}
        if fetch and wait and merge and ckpt:
            cuts = [e0, fetch[0][2], wait[0][2], wait[0][3], merge[0][2], ckpt[-1][3], e1]
            if cuts == sorted(cuts):
                rec["phases"] = {
                    p: (cuts[i], cuts[i + 1]) for i, p in enumerate(PHASES)
                }
        out.append(rec)
    return out


def attribute(jobs: list[dict], epochs: list[dict], windows: list[tuple[str, float, float]]):
    """Give every job exactly one layer; unplaced jobs get ``unattributed``."""
    spans = [(f"crawl.{p}", a, b) for e in epochs if e["phases"] for p, (a, b) in e["phases"].items()]
    spans += windows
    for j in jobs:
        pool = j["pool"] or ""
        if pool.startswith("commit-"):
            j["layer"] = f"tablelib.{pool.removeprefix('commit-')}"
        elif pool == "bloom-maintain":
            j["layer"] = "seenfilter.maintain"
        else:
            # submission times are whole milliseconds
            hits = [name for name, a, b in spans if a - 0.001 <= j["t"] <= b]
            j["layer"] = hits[0] if hits else "unattributed"
    return jobs


def layer_totals(jobs: list[dict]) -> dict[str, dict[str, float]]:
    tot: dict[str, dict[str, float]] = defaultdict(lambda: {k: 0.0 for k in JOB_FIELDS})
    for j in jobs:
        for k in JOB_FIELDS:
            tot[j["layer"]][k] += j[k]
    return tot


def self_check(jobs: list[dict], epochs: list[dict]) -> list[str]:
    """Problems with the attribution; an empty list means it holds."""
    problems = []
    lost = [j["id"] for j in jobs if j["layer"] == "unattributed"]
    if lost:
        problems.append(f"{len(lost)} job(s) outside every layer: {lost[:10]}")
    for i, e in enumerate(epochs):
        wall = e["t1"] - e["t0"]
        covered = sum(b - a for a, b in (e["phases"] or {}).values())
        if wall > 0 and covered / wall < 0.95:
            problems.append(f"epoch {i}: phases cover {covered / wall:.1%} of its wall")
    return problems


def _event_log(directory: str) -> str:
    files = [f for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {files}")
    return os.path.join(directory, files[0])


def per_layer_metrics(tracer, eventlog_dir, windows, stats, disk_bytes, e2e):
    """(self-check problems, {metric: (value, unit)}); prints the layer table."""
    epochs = epoch_phases(tracer)
    jobs = attribute(read_event_log(_event_log(eventlog_dir)), epochs, windows)
    problems = self_check(jobs, epochs)
    tot = layer_totals(jobs)
    wall = {name: t1 - t0 for name, t0, t1 in windows}

    def span_s(name):
        return sum(t1 - t0 for _, _, t0, t1 in tracer.named(name))

    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (wall["session.get_spark"], "s"),
        "session.warm_engine_s": (wall["session.warm_engine"], "s"),
        "datagen.payload_cache_s": (wall["datagen.payload_cache"], "s"),
        "datagen.seeds_s": (wall["datagen.seeds"], "s"),
        "crawl.bootstrap.wall_s": (wall["crawl.bootstrap"], "s"),
        "crawl.bootstrap.jobs": (tot["crawl.bootstrap"]["jobs"], "count"),
        "crawl.bootstrap.exec_run_s": (tot["crawl.bootstrap"]["exec_run_s"], "s"),
    }
    walls = phase_walls(epochs)
    for p in PHASES:
        m[f"crawl.{p}.wall_s"] = (walls[f"crawl.{p}"], "s")
        for k, unit in PHASE_JOB_METRICS[p]:
            m[f"crawl.{p}.{k}"] = (tot[f"crawl.{p}"][k], unit)
    epoch_layers = [f"crawl.{p}" for p in PHASES] + ["seenfilter.maintain"] + [
        f"tablelib.{t}" for t in COMMIT_TABLES
    ]
    fetched = sum(s["fetched"] for s in stats)
    m["crawl.epoch_jobs"] = (sum(tot[x]["jobs"] for x in epoch_layers) / len(stats), "count")
    m["crawl.cache_hit_frac"] = (sum(s["cached"] for s in stats) / max(fetched, 1), "ratio")
    m["crawl.requeue.jobs"] = (tot["crawl.requeue"]["jobs"], "count")
    for layer in UDF_LAYERS:
        for k in PY_METRICS.values():
            m[f"udf.{layer.split('.', 1)[1]}.{k}"] = (tot[layer][k], "s" if k.endswith("_s") else "B")
    m.update({
        "seenfilter.split_new.calls": (len(tracer.named("seenfilter.split_new")), "count"),
        "seenfilter.add_keys.wall_s": (span_s("seenfilter.add_keys"), "s"),
        "seenfilter.rebuild_buckets.wall_s": (span_s("seenfilter.rebuild_buckets"), "s"),
        "seenfilter.maintain.jobs": (tot["seenfilter.maintain"]["jobs"], "count"),
        "seenfilter.maintain.exec_run_s": (tot["seenfilter.maintain"]["exec_run_s"], "s"),
    })
    for t in COMMIT_TABLES:
        m[f"tablelib.{t}.commit_s"] = (span_s(f"pool.commit-{t}"), "s")
        m[f"tablelib.{t}.jobs"] = (tot[f"tablelib.{t}"]["jobs"], "count")
        if t != "pending":  # no pending jobs run unless something was requeued
            m[f"tablelib.{t}.exec_run_s"] = (tot[f"tablelib.{t}"]["exec_run_s"], "s")
        m[f"tablelib.{t}.bytes_written"] = (tot[f"tablelib.{t}"]["bytes_written"], "B")
    drain_written = sum(
        v["bytes_written"] for k, v in tot.items()
        if k in epoch_layers or k in ("crawl.bootstrap", "crawl.requeue")
    )
    m.update({
        "tablelib.driver_commit_s": (sum(s["driver_commit_s"] for s in stats), "s"),
        "tablelib.compact.count": (len(tracer.named("tablelib.compact")), "count"),
        "tablelib.checkpoint_s": (span_s("tablelib.checkpoint"), "s"),
        "tablelib.write_amp": (drain_written / max(disk_bytes, 1), "ratio"),
        "e2e.drain_urls_per_s": e2e["drain_urls_per_s"],
        "e2e.epoch_s_p50": e2e["epoch_s_p50"],
    })
    print_table(tot, walls)
    return problems, m


def phase_walls(epochs: list[dict]) -> dict[str, float]:
    walls = {f"crawl.{p}": 0.0 for p in PHASES}
    for e in epochs:
        for p, (a, b) in (e["phases"] or {}).items():
            walls[f"crawl.{p}"] += b - a
    return walls


def print_table(tot, walls) -> None:
    cols = ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes",
            "bytes_written", "python_run_s")
    print(f"{'layer':<22}{'wall_s':>9}" + "".join(f"{c[:12]:>14}" for c in cols))
    for layer in sorted(tot):
        w = f"{walls[layer]:9.2f}" if layer in walls else f"{'':9}"
        print(f"{layer:<22}{w}" + "".join(f"{tot[layer][c]:14.2f}" for c in cols))
    print(f"jobs total {sum(t['jobs'] for t in tot.values()):.0f}")
