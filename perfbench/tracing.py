"""Measurement from outside the package: spans and counters around calls
into each layer's public functions, Spark's own job/stage counters from
the status store, and /proc readings of the process tree.

Layer functions are wrapped at EVERY binding: a module that did
``from tile_etl_spark.io import load`` holds its own reference, so
wrapping only ``io.load`` would miss its calls."""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import threading
import time

from py4j.protocol import Py4JError

from stats import self_times


class Tracer:
    """Spans (name, start, end, parent, run id) and counters, kept in
    memory. ``enabled`` gates recording: wrappers stay installed but
    call straight through while it is off."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._stack: list[int] = [0]
        self.wrapped_bindings = 0

    def add(self, key: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[key] = self.counters.get(key, 0) + n

    def peak(self, key: str, v: float) -> None:
        if self.enabled:
            self.counters[key] = max(self.counters.get(key, 0), v)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1], "name": name,
               "run": self.run_id, "start": time.time(), "end": None}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def add_span(self, name: str, start: float, end: float,
                 parent: int) -> None:
        self.spans.append({"id": next(self._ids), "parent": parent,
                           "name": name, "run": self.run_id,
                           "start": start, "end": end})

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)


# --- wrapping package functions at every binding ----------------------

def rebind(orig, wrapper) -> int:
    """Replace every module-level binding of ``orig`` in the loaded
    ``tile_etl_spark`` modules with ``wrapper``; returns the count."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if not (name == "tile_etl_spark" or name.startswith("tile_etl_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap the io, cache and sources layer functions; returns how many
    bindings each layer's wrappers replaced."""
    from tile_etl_spark import cache, io
    from tile_etl_spark.sources import files

    state = {"in_load": 0, "scanned": False, "in_scan_path": 0}
    bound = {"io": 0, "cache": 0, "sources": 0}

    def wrap(layer, mod, attr, make):
        orig = getattr(mod, attr)
        bound[layer] += rebind(orig, make(orig))

    def w_load(orig):
        def load(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            state["in_load"] += 1
            outer = state["in_load"] == 1
            if outer:
                state["scanned"] = False
            try:
                return orig(*a, **k)
            finally:
                state["in_load"] -= 1
                if outer:
                    tracer.add("io.load_calls")
                    if not state["scanned"]:
                        tracer.add("io.load_memo_hits")
        return load

    def w_scan_path(orig):
        def _scan_path(*a, **k):
            state["scanned"] = True
            state["in_scan_path"] += 1
            try:
                return orig(*a, **k)
            finally:
                state["in_scan_path"] -= 1
        return _scan_path

    def w_count(key):
        def make(orig):
            def counted(*a, **k):
                tracer.add(key)
                return orig(*a, **k)
            return counted
        return make

    def w_dim(orig):
        def cached_dim_view(*a, **k):
            before = len(io.DIM_CACHE_BUILDS)
            try:
                return orig(*a, **k)
            finally:
                for b in io.DIM_CACHE_BUILDS[before:]:
                    tracer.add("io.dim_cache_builds")
                    tracer.add("io.dim_cache_build_s", b.get("sec", 0.0))
        return cached_dim_view

    def w_publish(orig):
        def publish_parquet(df, dest, *a, **k):
            out = orig(df, dest, *a, **k)
            layer = ("io.relayout" if state["in_scan_path"]
                     else "sources.artifact")
            tracer.add(f"{layer}_builds")
            tracer.add(f"{layer}_write_mb", _dir_bytes(dest) / 1e6)
            return out
        return publish_parquet

    def w_lookup(orig):
        def lookup(*a, **k):
            hit = orig(*a, **k)
            tracer.add("cache.lookups")
            if hit is not None:
                tracer.add("cache.lookup_hits")
            return hit
        return lookup

    def w_release(orig):
        def release(*a, **k):
            before = len(cache._CACHED)
            try:
                return orig(*a, **k)
            finally:
                tracer.add("cache.releases",
                           max(0, before - len(cache._CACHED)))
        return release

    wrap("io", io, "_scan_path", w_scan_path)
    wrap("io", io, "load", w_load)
    wrap("io", io, "table_view", w_count("io.table_view_calls"))
    wrap("io", io, "cached_dim_view", w_dim)
    wrap("cache", cache, "persist_scoped", w_count("cache.persists"))
    wrap("cache", cache, "lookup", w_lookup)
    for attr in ("scope", "release_tag", "release_cached"):
        wrap("cache", cache, attr, w_release)
    wrap("sources", files, "publish_parquet", w_publish)
    tracer.wrapped_bindings = sum(bound.values())
    return bound


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


# --- Spark status store ------------------------------------------------

def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_jobs(spark, group: str) -> list[dict]:
    """Jobs of one job group with their stages' task metrics, read from
    the application status store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(int(jid))
        start = _opt_time(job.submissionTime())
        end = _opt_time(job.completionTime())
        stages = []
        ids = job.stageIds()
        for i in range(ids.length()):
            try:
                st = store.lastStageAttempt(int(ids.apply(i)))
            except Py4JError:  # a stage that never ran has no attempt
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            stages.append({
                "tasks": st.numTasks(),
                "run_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "input_b": st.inputBytes(),
                "shuffle_w_b": st.shuffleWriteBytes(),
                "shuffle_r_b": st.shuffleReadBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            })
        out.append({"id": int(jid), "start": start, "end": end,
                    "stages": stages})
    return out


def storage_mb(spark) -> float:
    """Bytes held by persisted RDDs/DataFrames (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# --- /proc readings of the process tree --------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def tree_rss_mb(pids) -> float:
    total = 0
    for p in pids:
        for line in _read(f"/proc/{p}/status").splitlines():
            if line.startswith("VmRSS:"):
                total += int(line.split()[1])
                break
    return total / 1024.0


def tree_cpu(pids) -> dict[str, float]:
    """CPU seconds of the JVM and of the Python workers below it
    (including reaped workers, through cutime/cstime)."""
    jvm = py = 0.0
    for p in pids:
        stat = _read(f"/proc/{p}/stat")
        if not stat or p == os.getpid():
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        f = stat[stat.rindex(")") + 2:].split()
        own = (int(f[11]) + int(f[12])) / _TICK
        reaped = (int(f[13]) + int(f[14])) / _TICK
        if comm == "java":
            jvm += own
        elif comm.startswith("python"):
            py += own + reaped
    return {"jvm": jvm, "python": py}


def tree_write_mb(pids) -> float:
    total = 0
    for p in pids:
        for line in _read(f"/proc/{p}/io").splitlines():
            if line.startswith("write_bytes:"):
                total += int(line.split()[1])
                break
    return total / 1e6


class RssSampler:
    """Background sampler of the process tree's summed RSS: the tree is
    re-listed once a second, its members' RSS read every period."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - listed >= 1.0:
                pids, listed = tree(), now
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
