#!/usr/bin/env python3
"""The repository's benchmark: one command, two seeded workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (the reasons are recorded in
BENCHMARK.json):

- ``pipeline_sf0.1``: the QIDS below on the generated sf0.1 tables,
  as passes in one session, each qid once per pass in seeded order.
- ``tile_upload``: a seeded exploded tile cache flows through a
  binaryFile scan, the package's path and key codecs and
  ``tiles.http_store.objectstore_sink_http`` into an in-process
  ``LocalObjectStore`` with scripted transient and permanent faults.

One ``local[N]`` session (N: ``cores``) from ``session.get_spark``
with the package's default posture. ``setup_s`` runs from the first
``get_spark`` call to inputs ready. The first pass (or upload) of the
fresh session is ``cold_pass_s``; after the check pass and WARMUP_PASSES
more passes (query workload only), warm passes run until ``--seconds``
have elapsed and give ``pass_s`` and the per-query percentiles.
``tiles_per_s`` is objects acknowledged per second of upload wall, from
the warm uploads of ``tile_upload`` and the warm ``sink_objectstore`` runs
of a pipeline pass.
Outputs are checked outside the timed region: every qid against its
DuckDB twin with ``tests/_compare.assert_query_matches_oracle`` on the full
result, in an untimed pass right after the cold one, and every upload
against the store's exactly-once record.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the per-layer metrics of a traced run. Its warm passes
alternate untraced and traced, so the run also measures its own tracing
overhead. Per-layer counts and times are per traced warm pass, apart
from the build-once layers (session start, re-layout, dim cache, source
artifacts), which are taken over set-up plus the cold pass. The spans are
written to ``.bench_build/perfbench/spans-<workload>-<seed>.json``. The
line before the result records the host context: cores, load, CPU steal,
CPU model, package hash.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("pipeline_sf0.1", "tile_upload")

# The headline qids one run can afford: a run has a minute or so, set-up
# and checks included, while all 24 bench.HEADLINE qids take ~55 s cold
# at sf0.1 on 4 cores before the first warm pass. One or more per family,
# chosen so that every traced layer has work. Their number is odd: the
# pooled median of the warm walls then falls inside the middle qid's
# walls, not in the gap between two qids: with six qids, the quartiles
# of ten runs' p50 lay 0.20 of their median apart.
QIDS = (
    "sink_objectstore",   # tiles: grid persist (cache) + local-FS sink
    "q_tile_stats",       # tiles: tile-manifest persist (cache)
    "q_join_inner",       # operators: exchange + join, io dim cache
    "q_agg_group",        # operators: table_view, lineitem re-layout
    "q_udaf_grouped",     # functions: io.load, applyInPandas boundary
    "q_dedup_exact",      # llm: documents hashing, fan-out re-layout
    "q_sim_cosine_topk",  # llm: plan memo, probe collect + broadcast
)
SINK_QID = "sink_objectstore"  # its acknowledged objects give tiles_per_s

# Untimed passes between the check pass and the measured window. The JVM
# is still compiling after the cold pass: on 3 cores of a 4-core host the
# warm passes of one session ran 5.4, 4.5, 3.4, 3.2, 3.0, 3.0, 2.8, 2.9,
# 2.8 s, so a window that starts on that curve gives a median that moves
# with how many passes the window holds. The check pass, which builds and
# collects every qid, is the first of three passes before the window.
WARMUP_PASSES = 2

QUERY_BUDGET_S = 60.0   # watchdog: a query past this is cancelled
END_TO_END = ("setup_s", "cold_pass_s", "pass_s", "query_p50_s",
              "query_p90_s", "tiles_per_s")
# Build-once layers: reported over set-up plus the cold pass, where their
# work happens; every other per-layer count or time is per traced pass.
COLD_LAYER = ("io.relayout_builds", "io.relayout_write_mb",
              "io.dim_cache_builds", "io.dim_cache_build_s",
              "sources.artifact_builds", "sources.artifact_write_mb")
PER_PASS = ("io.load_calls", "io.table_view_calls", "cache.persists",
            "cache.lookups", "cache.releases", "tiles.put_requests",
            "tiles.put_retries", "tiles.dead_letters", "tiles.put_tasks",
            "tiles.uploaded_mb")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores(workload: str) -> int:
    """local[N] width. The tile upload takes every usable core: its PUT
    tasks mostly wait on the object store, and on a 4-core host local[4]
    uploaded faster and steadier than local[3] (4 seeds, runs interleaved:
    4.6 s vs 5.5 s an upload, relative SD 0.06 vs 0.13). The pipeline
    leaves one core to the Python driver and workers and the JVM's JIT and
    GC threads: at local[4] its sink_objectstore runs fell into a slow mode
    (1.2-1.3 s against 0.5-0.9 s at local[3]) and its ten-seed spreads
    doubled."""
    n = len(os.sched_getaffinity(0))
    return n if workload == "tile_upload" else max(1, n - 1)


def isolate_env(run_dir: str, n: int) -> None:
    """Per-run environment: package defaults only, pinned cores, private
    artifact and Spark scratch dirs, the package on the workers' path."""
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_AQE",
              "SPARK_GRAFT_HINT_GATE_BYTES", "SPARK_MASTER", "MASTER",
              "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_ART_DIR"] = os.path.join(run_dir, "art")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    for d in ("art", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def host_context(n: int) -> dict:
    """Recorded with every result instead of gating on it. The checkout
    is not a git repository, so the package is identified by a hash of
    its sources."""
    import pyspark

    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tile_etl_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(root, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return {
        "nproc": os.cpu_count(),
        "cores_used": n,
        "load_per_core": round(os.getloadavg()[0] / (os.cpu_count() or 1), 3),
        "cpu_model": model,
        "pyspark": pyspark.__version__,
        "package_sha256": h.hexdigest()[:16],
    }


class Bench:
    def __init__(self, args, run_dir: str, n: int, tracer) -> None:
        self.args = args
        self.run_dir = run_dir
        self.n = n
        self.tracer = tracer
        self.work = os.path.join(ROOT, ".bench_build", "perfbench")
        self.rng = random.Random(args.seed)
        self.out = stats.Outcomes()
        self.spark = None
        self.session_s = 0.0
        self.groups = 0
        self.context = host_context(n)
        self.rss = tracing.RssSampler()
        # a traced run alternates untraced and traced warm passes
        # (U T U ...), so its overhead estimate cancels a linear warm-up
        # drift; it needs three passes for that
        self.min_passes = 3 if args.trace else 2
        self.cold: dict = {"counters": {}, "self": {}, "spans": []}
        self.begin_phase()

    def begin_phase(self) -> None:
        """Start a fresh set of per-layer records: tracer counters and
        spans, per-family times, Spark jobs and process-tree readings."""
        self.tracer.counters = {}
        self.tracer.spans = []
        self.family_build: list[tuple[str, float]] = []
        self.family_action: list[tuple[str, float]] = []
        self.job_records: list[dict] = []
        self.action_wall = 0.0
        self.traced_passes = 0
        self.host = {"boundary.python_worker_cpu_s": 0.0,
                     "boundary.jvm_cpu_s": 0.0, "host.write_mb": 0.0}

    def end_cold(self) -> None:
        """Keep the records of set-up and the cold pass apart; the warm
        traced passes start from fresh ones. Tracing pauses."""
        self.cold = {"counters": dict(self.tracer.counters),
                     "self": self.tracer.self_times(),
                     "spans": self.tracer.spans}
        self.begin_phase()
        self.tracer.enabled = False

    @contextlib.contextmanager
    def warm_pass(self, traced: bool):
        """Bracket one warm pass. A traced pass is counted, records spans
        and counters, and has the process tree's CPU and disk writes read
        around it."""
        self.tracer.enabled = traced
        if traced:
            pids = tracing.tree()
            cpu0, w0 = tracing.tree_cpu(pids), tracing.tree_write_mb(pids)
        try:
            yield
        finally:
            self.tracer.enabled = False
        if traced:
            pids = tracing.tree()
            cpu1 = tracing.tree_cpu(pids)
            self.host["boundary.python_worker_cpu_s"] += (cpu1["python"]
                                                          - cpu0["python"])
            self.host["boundary.jvm_cpu_s"] += cpu1["jvm"] - cpu0["jvm"]
            self.host["host.write_mb"] += tracing.tree_write_mb(pids) - w0
            self.traced_passes += 1

    # -- setup -----------------------------------------------------------

    def prepare_inputs(self) -> None:
        self.sf_dir = os.path.join(self.work, "base")
        data.ensure_base(self.sf_dir)
        if self.args.workload == "tile_upload":
            inv = data.ensure_inventory(self.spark, self.work)
            self.plan = data.tile_plan(inv, self.args.seed)
            self.cache_root = os.path.join(self.run_dir, "tiles")
            data.write_tile_cache(self.cache_root, self.plan)

    def setup(self) -> float:
        """Session start plus input generation or verification, timed
        from the first get_spark call to inputs ready."""
        from tile_etl_spark.session import get_spark

        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            self.spark = get_spark(cpus=self.n)
            self.session_s = time.perf_counter() - t0
            self.spark.sparkContext.setLogLevel("ERROR")
            self.prepare_inputs()
            return time.perf_counter() - t0

    # -- one query -------------------------------------------------------

    def _watchdog(self):
        fired = threading.Event()

        def cancel():
            fired.set()
            self.spark.sparkContext.cancelAllJobs()

        timer = threading.Timer(QUERY_BUDGET_S, cancel)
        timer.daemon = True
        timer.start()
        return timer, fired

    def run_query(self, name, module, build, action):
        """Build then act, timed separately; returns (wall, result) or
        (None, None) after a counted failure."""
        tr = self.tracer
        group = None
        if tr.enabled:
            self.groups += 1
            group = f"{tr.run_id}-{self.groups}"
            self.spark.sparkContext.setJobGroup(group, name)
        timer, fired = self._watchdog()
        try:
            with tr.span("query") as q:
                with tr.span("build") as b:
                    t0 = time.perf_counter()
                    df = build()
                    t1 = time.perf_counter()
                with tr.span("action") as a:
                    result = action(df)
                    t2 = time.perf_counter()
        except Exception as ex:  # a failed query is counted, not fatal
            self.out.fail(f"{name}: {type(ex).__name__}: {ex}")
            return None, None
        finally:
            timer.cancel()
        if fired.is_set():
            self.out.fail(f"{name}: cancelled after {QUERY_BUDGET_S}s")
            return None, None
        self.out.ok()
        if tr.enabled:
            self.family_build.append((module, t1 - t0))
            self.family_action.append((module, t2 - t1))
            self.action_wall += t2 - t1
            self.record_jobs(group, q, b, a)
            tr.peak("cache.storage_mb", tracing.storage_mb(self.spark))
        return t2 - t0, result

    def record_jobs(self, group, q, b, a) -> None:
        for job in tracing.spark_jobs(self.spark, group):
            if job["start"] is None or job["end"] is None:
                continue
            parent = q["id"]
            for s in (b, a):
                if s["start"] <= job["start"] <= s["end"]:
                    parent = s["id"]
            self.tracer.add_span("job", job["start"], job["end"], parent)
            self.job_records.append(job)

    # -- query workloads -------------------------------------------------

    def query_pass(self, walls, per_qid, sink):
        """One pass over QIDS in seeded order; appends each query's wall
        and, for SINK_QID, (wall, acknowledged objects) to ``sink``."""
        from tile_etl_spark import registry

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def acknowledged(df):
            return sum(r["n"] for r in df.collect() if r["status"] == "ok")

        order = list(QIDS)
        self.rng.shuffle(order)
        with self.tracer.span("pass"):
            t0 = time.perf_counter()
            for qid in order:
                fn = registry.QUERIES[qid]
                wall, n_ok = self.run_query(
                    qid, fn.__module__,
                    lambda fn=fn: fn(self.spark, self.sf_dir),
                    acknowledged if qid == SINK_QID else noop,
                )
                if wall is not None:
                    walls.append(wall)
                    per_qid.setdefault(qid, []).append(wall)
                    if qid == SINK_QID:
                        sink.append((wall, n_ok))
            return time.perf_counter() - t0

    def duck_connect(self):
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {self.n}")
        con.execute("SET enable_progress_bar = false")
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        return con

    def check_queries(self) -> int:
        """Every qid's full result against its DuckDB twin; returns the
        twin's count of objects SINK_QID acknowledges."""
        from tests._compare import assert_query_matches_oracle
        from tile_etl_spark import registry

        duck = self.duck_connect()
        try:
            for qid in QIDS:
                try:
                    assert_query_matches_oracle(
                        registry.QUERIES[qid], registry.ORACLES[qid],
                        self.spark, duck, self.sf_dir, qid)
                except Exception as ex:
                    self.out.fail(f"{qid} oracle: {type(ex).__name__}: {ex}")
                    continue
                self.out.ok()
            want = duck.execute(
                f"SELECT coalesce(sum(n), 0) FROM ({registry.ORACLES[SINK_QID]})"
                " AS t WHERE status = 'ok'"
            ).fetchone()[0]
        finally:
            duck.close()
        return want

    def check_sink(self, sink, want: int) -> None:
        """Every SINK_QID run's acknowledged count against the twin's."""
        for _wall, n_ok in sink:
            if n_ok != want:
                self.out.fail(f"{SINK_QID}: a timed run acknowledged {n_ok}"
                              f" objects, its twin {want}")

    def run_queries(self, metrics: dict) -> None:
        walls: list[float] = []
        per_qid: dict[str, list[float]] = {}
        sink: list[tuple[float, int]] = []
        cold: dict[str, list[float]] = {}
        self.rss.start()
        metrics["cold_pass_s"] = self.query_pass([], cold, sink)
        self.end_cold()
        self.context["cold_qid_s"] = {q: round(v[0], 3)
                                      for q, v in cold.items()}
        # correctness, outside the timed region
        t_check = time.perf_counter()
        want = self.check_queries()
        self.context["check_s"] = round(time.perf_counter() - t_check, 2)
        self.context["warmup_pass_s"] = [
            round(self.query_pass([], {}, sink), 3)
            for _ in range(WARMUP_PASSES)
        ]
        warm_sink = len(sink)
        warm, traced, untraced = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i < self.min_passes or time.perf_counter() < t_end:
            on = self.args.trace == 1 and i % 2 == 1
            with self.warm_pass(on):
                wall = self.query_pass(walls, per_qid, sink)
            (traced if on else untraced).append(wall)
            warm.append(wall)
            i += 1
        self.rss.stop()
        metrics["pass_s"] = statistics.median(untraced)
        if traced:
            metrics["trace.overhead_s"] = (statistics.median(traced)
                                           - statistics.median(untraced))
        metrics["query_p50_s"], metrics["query_p90_s"] = stats.p50_p90(walls)
        if len(sink) > warm_sink:
            metrics["tiles_per_s"] = statistics.median(
                n_ok / wall for wall, n_ok in sink[warm_sink:])
        self.context["warm_pass_s"] = [round(w, 3) for w in warm]
        self.context["warm_qid_s"] = {
            q: round(statistics.median(v), 3) for q, v in per_qid.items()}
        self.context["query_samples"] = len(walls)
        self.context["query_beyond_p90"] = stats.beyond_p90(walls)
        self.check_sink(sink, want)

    # -- tile upload -----------------------------------------------------

    def upload(self):
        """One upload into a fresh store armed with the seeded faults.
        Returns (wall, store, status rows)."""
        from pyspark.sql import functions as F

        from tile_etl_spark.tiles.grid import object_key_col, parse_src_path
        from tile_etl_spark.tiles.http_store import (
            LocalObjectStore,
            objectstore_sink_http,
        )

        store = LocalObjectStore()
        store.faults = {k: list(v) for k, v in self.plan["faults"].items()}
        store.start()

        def build():
            files = (
                self.spark.read.format("binaryFile")
                .option("pathGlobFilter", "*.jpg")
                .option("recursiveFileLookup", "true")
                .load(self.cache_root)
            )
            src = F.regexp_extract(
                "path", r"(L\d{2}/R[0-9a-f]{8}/C[0-9a-f]{8}\.jpg)$", 1
            )
            lvl, row, col = parse_src_path(src)
            tiles = files.select(
                lvl.alias("level"), row.alias("row"), col.alias("col"),
                "content",
            ).withColumn("object_key", object_key_col())
            return objectstore_sink_http(tiles, store.endpoint)

        def action(df):
            return df.select("object_key", "status").collect()

        try:
            wall, rows = self.run_query(
                "tile_upload", "tile_etl_spark.tiles.http_store",
                build, action,
            )
        finally:
            store.stop()
        return wall, store, rows

    def count_upload(self, store, rows, jobs_before: int) -> None:
        """The object store's own counts of one traced upload."""
        tr = self.tracer
        req = sum(store.attempts.values())
        tr.add("tiles.put_requests", req)
        tr.add("tiles.put_retries", req - len(store.attempts))
        tr.add("tiles.put_stored", sum(store.stores.values()))
        tr.add("tiles.dead_letters",
               sum(1 for r in rows if r["status"] == "err"))
        tr.add("tiles.uploaded_mb", sum(
            len(b) for b, _meta in store.objects.values()) / 1e6)
        tr.add("tiles.put_tasks", sum(
            s["tasks"] for j in self.job_records[jobs_before:]
            for s in j["stages"]))

    def verify_upload(self, store, rows) -> int:
        """Exactly-once check of one upload; returns acknowledged count.
        Each tile that breaks a rule counts as one failure."""
        present = self.plan["present"]
        permanent = self.plan["permanent"]
        expect = {key: (path, n) for path, key, n in present}
        status: dict[str, list[str]] = {}
        for r in rows:
            status.setdefault(r["object_key"], []).append(r["status"])
        for key, (path, n) in expect.items():
            got = status.get(key, [])
            want = "err" if key in permanent else "ok"
            if got != [want]:
                self.out.fail(f"{key}: statuses {got}, expected [{want}]")
            elif want == "ok" and (
                store.stores.get(key) != 1
                or store.objects[key][0] != data.tile_bytes(path, n)
            ):
                self.out.fail(f"{key}: stored {store.stores.get(key)}x "
                              "or bytes differ")
            else:
                self.out.ok()
        for key in sorted((set(status) | set(store.objects)) - set(expect)):
            self.out.fail(f"unexpected object {key}")
        return sum(1 for r in rows if r["status"] == "ok")

    def run_uploads(self, metrics: dict) -> None:
        tr = self.tracer
        self.rss.start()
        with tr.span("pass"):
            cold, store, rows = self.upload()
        if rows is not None:
            self.count_upload(store, rows, 0)
            self.verify_upload(store, rows)
        self.end_cold()
        if cold is not None:
            metrics["cold_pass_s"] = cold
        walls, rates, traced, untraced = [], [], [], []
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while i < self.min_passes or time.perf_counter() < t_end:
            on = self.args.trace == 1 and i % 2 == 1
            jobs_before = len(self.job_records)
            with self.warm_pass(on):
                with tr.span("pass"):
                    wall, store, rows = self.upload()
                if rows is not None:
                    self.count_upload(store, rows, jobs_before)
            i += 1
            if rows is None:
                continue
            n_ok = self.verify_upload(store, rows)
            walls.append(wall)
            rates.append(n_ok / wall)
            (traced if on else untraced).append(wall)
        self.rss.stop()
        if untraced:
            metrics["pass_s"] = statistics.median(untraced)
            if traced:
                metrics["trace.overhead_s"] = (statistics.median(traced)
                                               - statistics.median(untraced))
        if len(walls) > 1:
            metrics["query_p50_s"], metrics["query_p90_s"] = (
                stats.p50_p90(walls))
            metrics["tiles_per_s"] = statistics.median(rates)
        self.context["warm_pass_s"] = [round(w, 3) for w in walls]
        self.context["tiles"] = len(self.plan["present"])

    # -- per-layer summary -----------------------------------------------

    def layer_metrics(self) -> dict:
        """Per traced warm pass, except COLD_LAYER and session start
        (over set-up plus the cold pass) and the peaks and ratios."""
        c = self.tracer.counters
        k = max(1, self.traced_passes)
        out = {name: v / k for name, v in self.host.items()}
        out["session.start_s"] = self.session_s
        for name in COLD_LAYER:
            out[name] = self.cold["counters"].get(name, 0)
        for name in PER_PASS:
            out[name] = c.get(name, 0) / k
        calls = c.get("io.load_calls", 0)
        out["io.load_memo_hit_ratio"] = (
            c.get("io.load_memo_hits", 0) / calls if calls else 0.0)
        look = c.get("cache.lookups", 0)
        out["cache.lookup_hit_ratio"] = (
            c.get("cache.lookup_hits", 0) / look if look else 0.0)
        out["cache.storage_mb"] = c.get("cache.storage_mb", 0.0)
        req = c.get("tiles.put_requests", 0)
        out["tiles.put_success_ratio"] = (
            c.get("tiles.put_stored", 0) / req if req else 0.0)
        for fam, v in stats.family_sums(self.family_build).items():
            out[f"{fam}.build_s"] = v / k
        for fam, v in stats.family_sums(self.family_action).items():
            out[f"{fam}.action_s"] = v / k
        stages = [s for j in self.job_records for s in j["stages"]]
        out["spark.jobs"] = len(self.job_records) / k
        out["spark.stages"] = len(stages) / k
        out["spark.tasks"] = sum(s["tasks"] for s in stages) / k
        run_s = sum(s["run_s"] for s in stages)
        out["spark.executor_run_s"] = run_s / k
        out["spark.executor_cpu_s"] = sum(s["cpu_s"] for s in stages) / k
        out["spark.gc_s"] = sum(s["gc_s"] for s in stages) / k
        for key, field in (("spark.input_mb", "input_b"),
                           ("spark.shuffle_write_mb", "shuffle_w_b"),
                           ("spark.shuffle_read_mb", "shuffle_r_b"),
                           ("spark.spill_mb", "spill_b")):
            out[key] = sum(s[field] for s in stages) / 1e6 / k
        out["spark.slot_utilization"] = (
            run_s / (self.action_wall * self.n) if self.action_wall else 0.0)
        warm_self = self.tracer.self_times()
        for name in ("pass", "query", "build", "action", "job"):
            out[f"self.{name}_s"] = warm_self.get(name, 0.0) / k
        out["self.setup_s"] = self.cold["self"].get("setup", 0.0)
        out["trace.wrapped_bindings"] = self.tracer.wrapped_bindings
        out["peak_rss_mb"] = self.rss.peak_mb
        out["error_rate"] = self.out.error_rate
        return out

    def write_spans(self) -> None:
        """The run's spans, set-up and cold pass apart from the warm
        traced passes, for offline inspection."""
        path = os.path.join(self.work, f"spans-{self.tracer.run_id}.json")
        with open(path, "w") as f:
            json.dump({"cold": self.cold["spans"],
                       "warm": self.tracer.spans}, f)


def main(argv=None) -> int:
    args = parse_args(argv)
    # The benchmark measures the package of the checkout it sits in;
    # without it there is nothing to run.
    for need in ("tile_etl_spark/__init__.py", "tests/_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}",
                  file=sys.stderr)
            return 2
    n = cores(args.workload)
    run_dir = os.path.join(ROOT, ".bench_build", "perfbench",
                           f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_env(run_dir, n)

    from tile_etl_spark import registry

    registry.load_all()
    tracer = tracing.Tracer(run_id=f"{args.workload}-{args.seed}")
    bench = Bench(args, run_dir, n, tracer)
    if args.trace:
        bench.context["wrapped_bindings"] = tracing.install(tracer)
        tracer.enabled = True
    metrics: dict = {}
    cpu_stat0 = _cpu_stat()
    try:
        with tracer.span("run"):
            metrics["setup_s"] = bench.setup()
            if args.workload == "tile_upload":
                bench.run_uploads(metrics)
            else:
                bench.run_queries(metrics)
        if args.trace:
            result = bench.layer_metrics()
            result["trace.overhead_s"] = metrics.get("trace.overhead_s", 0.0)
            bench.write_spans()
            units = "per_layer"
        else:
            result = {k: metrics[k] for k in END_TO_END if k in metrics}
            units = "end_to_end"
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    cpu_stat1 = _cpu_stat()
    busy = [b - a for a, b in zip(cpu_stat0, cpu_stat1)]
    # share of the host's CPU time taken by other guests while we ran
    bench.context["steal_share"] = round(busy[7] / max(1, sum(busy)), 4)
    bench.context["load_per_core_end"] = round(
        os.getloadavg()[0] / (os.cpu_count() or 1), 3)
    bench.context["traced_passes"] = bench.traced_passes
    bench.context["peak_rss_mb"] = round(bench.rss.peak_mb, 1)
    spec = load_spec()
    unit_of = {m["name"]: m["unit"] for m in spec[units]}
    missing = [k for k in unit_of if k not in result]
    for k in missing:
        bench.out.fail(f"metric {k} not measured")
    bench.context["failures"] = bench.out.reasons
    print(json.dumps({"context": bench.context}))
    print(json.dumps({
        "correct": bench.out.failed == 0,
        "attempted": bench.out.attempted,
        "failed": bench.out.failed,
        "metrics": {
            k: {"value": float(result[k]), "unit": unit_of[k]}
            for k in unit_of if k in result
        },
    }))
    return 0


def _cpu_stat() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    JVM (and the Python workers under it) exits once its stdin closes."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.exit(main())
