"""Benchmark of the INPE fire-hotspot engine, driven through the
package's public entry points.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 25 --trace 0

Run it from the repository root. One run, in a fresh process:

1. setup: start the Spark session while every input is generated from
   the seed (Brazil-shaped dims, INPE-like daily CSVs, dashboard
   traces, corpus documents), then load the dims through the package's
   dim loader, three times;
2. ``backfill``: ``pipeline.run_range`` over the landed days into an
   empty warehouse, with the validation report. It is the process's
   first Spark work, as in a batch job started for the batch.
   ``dashboard``: a closed loop of one client per core, each sending
   its next ``api.handle_request`` only after the reply, for
   ``--seconds``, over the served warehouse (below);
3. in the traced run only: after the backfill, the newest day landed
   again and a new day landed with ``pipeline.run_day``; after the
   dashboard, its opening panel set answered cold (a fresh
   ``api.ApiContext``) and ``corpus_pipeline.run_corpus_pipeline`` with
   the default stack.

The served warehouse is the same for every run of a checkout: 30 days
landed with ``run_range`` from a fixed seed, built once by a child
process on the first ``dashboard`` run (and again when a source file
of the package or the benchmark changes), outside any timed phase. The
seed varies the dashboard traces.

Every phase's outputs are checked (verify.py); failures count toward
the error rate. The last line of standard output is one JSON object:
with ``--trace 0`` it holds the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate, traced run (tracing.py,
layers.py). Both write their full results under
``perfbench/results/``; the traced run adds its spans, the self time
of each layer and the tracing overhead against the untraced run of
the same workload and seed.
"""

from __future__ import annotations

import argparse
import datetime as dt
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("backfill", "dashboard")

BASE_DAY = dt.date(2024, 8, 1)
BACKFILL_DAYS, BACKFILL_ROWS = 4, 10000
DAILY_ROWS = 10000  # the new day the traced backfill run lands
# the served warehouse: a month of days, so that every window of the
# package's default 30 days has data, from a seed of its own
SERVED_SEED, SERVED_DAYS, SERVED_ROWS = 0, 30, 2000
# share of dashboard requests that repeat one of the client's earlier
# requests: keeps the serving cache's hit ratio near 30%, away from the
# 50% at which the median request flips between hits and misses
REPEAT_SHARE = 0.3
# the cold panel set is timed twice and the faster counts: interference
# from other tenants of a shared machine only ever slows one down, and
# the first also pays for compiling its plan shapes
FIRST_PAINTS = 2
CORPUS_DOCS = 1000
DIM_LOADS = 3  # setup repeats the dim load; its median counts
TRACE_PER_CLIENT = 500
CHECK_SAMPLE = 24  # dashboard responses recomputed with DuckDB
CHECK_WITHIN = 8  # drawn from each client's first requests, which every run reaches
MIN_REQUESTS = 20

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    END_TO_END = {m["name"]: m["unit"] for m in json.load(_fh)["end_to_end"]}
# printed with the end-to-end metrics, reported as per-layer metrics
UNBOUNDED = {"request_p90_ms": "ms", "peak_rss_mb": "MB", "first_paint_s": "s", "replay_s": "s",
             "daily_ingest_s": "s"}


def _prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside the run's
    work directory, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep a file under /tmp
    os.environ["JDK_JAVA_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JDK_JAVA_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                    "-XX:-UsePerfData") if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]


def _start_spark(work: str, traced: bool = False):
    from inpe_queimadas_etl_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if traced:  # keep every job readable from the status tracker
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# -- the served warehouse ----------------------------------------------


def _served_days() -> list[dt.date]:
    return [BASE_DAY + dt.timedelta(days=k) for k in range(SERVED_DAYS)]


def _source_key() -> str:
    """Digest of every Python source of the package and the benchmark:
    the served warehouse is rebuilt when any of them changes."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "inpe_queimadas_etl_spark"), HERE):
        for dirpath, dirs, names in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d not in (".work", "results", "__pycache__"))
            for n in sorted(names):
                if n.endswith(".py"):
                    p = os.path.join(dirpath, n)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def served_warehouse() -> tuple[str, float]:
    """The served warehouse's root, built by a child process if this
    checkout has none for the current sources; and the build's wall
    time (0 when it existed)."""
    os.makedirs(WORK, exist_ok=True)
    root = os.path.join(WORK, f"served-{_source_key()}")
    with open(os.path.join(WORK, "served.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(root):
            return root, 0.0
        tmp = f"{root}.tmp{os.getpid()}"
        t0 = time.perf_counter()
        try:
            subprocess.run([sys.executable, os.path.abspath(__file__), "--build-served", tmp],
                           check=True, timeout=600, stdout=sys.stderr)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.rename(tmp, root)
        for n in os.listdir(WORK):  # warehouses of earlier sources
            if n.startswith("served-") and os.path.join(WORK, n) != root:
                shutil.rmtree(os.path.join(WORK, n), ignore_errors=True)
        return root, time.perf_counter() - t0


def build_served(dest: str) -> None:
    """Land SERVED_DAYS generated days into ``dest/warehouse`` with
    ``run_range`` and check the result."""
    work = dest + ".work"
    _prepare_env(work)
    import gen
    from inpe_queimadas_etl_spark import cli, pipeline
    from verify import Checks, check_warehouse

    spark = _start_spark(work)
    try:
        geo = gen.make_geometry(SERVED_SEED, os.path.join(work, "dims"))
        files = [gen.make_day_csv(geo, d, SERVED_ROWS, SERVED_SEED, os.path.join(work, "landing"))
                 for d in _served_days()]
        dims = cli.load_dims(spark, os.path.join(work, "dims"))
        wh = pipeline.Warehouse(os.path.join(dest, "warehouse"))
        out = pipeline.run_range(spark, wh, [(f.day, f.path) for f in files], dims)
        c = Checks()
        valid = sum(f.valid_unique for f in files)
        c.expect(out[0]["rows_new"] == valid, f"served rows_new {out[0]['rows_new']} != {valid}")
        check_warehouse(c, wh.root, valid, sum(f.attributable for f in files), "served")
        if c.failed:
            raise SystemExit(f"served warehouse failed its checks: {c.failed}")
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


# -- one run -----------------------------------------------------------


class Cycle:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.run_id = f"{workload}-seed{seed}-trace{int(trace)}"
        from tracing import Tracer
        from verify import Checks

        self.tracer = Tracer(self.run_id) if trace else None
        self.checks = Checks()
        self.metrics: dict[str, float] = {}
        self.extra: dict[str, float] = {}
        self.phases: dict[str, float] = {}
        self.info: dict = {"workload": workload, "seed": seed}
        self.requests: list[dict] = []
        self.manifest: dict | None = None
        self.docs_per_s = 0.0

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw) if self.tracer else nullcontext()

    def release(self) -> None:
        # forced DataFrames must not outlive the operation that made
        # them: a later plan equal to a cached one (a replayed day)
        # would read the stale cached rows
        if self.tracer:
            self.tracer.release()

    def phase(self, name: str, fn) -> None:
        t0 = time.perf_counter()
        with self.span(f"phase.{name}"):
            fn()
        self.phases[name] = time.perf_counter() - t0
        print(f"# {self.run_id} {name}: {self.phases[name]:.2f}s", file=sys.stderr, flush=True)

    # -- phases --------------------------------------------------------

    def generate(self) -> None:
        """Every input of the run: the backfill's from the seed; the
        dashboard's geometry and days are the served warehouse's, its
        traces from the seed."""
        import gen

        land = os.path.join(self.work, "landing")
        if self.workload == "backfill":
            self.geo = geo = gen.make_geometry(self.seed, os.path.join(self.work, "dims"))
            days = [BASE_DAY + dt.timedelta(days=k) for k in range(BACKFILL_DAYS)]
            self.backfill_files = [gen.make_day_csv(geo, d, BACKFILL_ROWS, self.seed, land)
                                   for d in days]
            if self.tracer:  # the new day the traced run lands
                self.daily_file = gen.make_day_csv(geo, days[-1] + dt.timedelta(days=1),
                                                   DAILY_ROWS, self.seed, land)
            return
        self.geo = geo = gen.make_geometry(SERVED_SEED, os.path.join(self.work, "dims"))
        days = _served_days()
        # the newest served day's file, for the first paint's check
        self.newest = gen.make_day_csv(geo, days[-1], SERVED_ROWS, SERVED_SEED, land)
        weight: dict[str, float] = {}
        for u, w in zip(geo.uf, geo.fire_weight):
            weight[u] = weight.get(u, 0.0) + float(w)
        self.all_ufs = sorted(weight)
        self.ufs_hot = sorted(weight, key=weight.get, reverse=True)
        self.traces = gen.make_traces(geo, days, self.ufs_hot, self.n_clients, TRACE_PER_CLIENT,
                                      REPEAT_SHARE, self.seed)
        # one request of each plan shape the dashboard uses, with and
        # without a UF filter
        paint = gen.first_paint(days[-1])
        window = paint[0][1]
        self.warmup = paint + [(route, {**params, "uf": self.ufs_hot[0]}) for route, params in paint[:5]]
        self.warmup += [
            ("/api/top", {**window, "group": "mun", "limit": "10"}),
            ("/api/top", {**window, "group": "bioma", "limit": "10", "uf": self.ufs_hot[0]}),
            ("/api/choropleth/mun", {**window, "uf": self.ufs_hot[0]}),
            ("/api/geo", {**window, "entity": "ti", "key": geo.ti_ids[0]}),
        ]
        if self.tracer:
            self.corpus_dir = os.path.join(self.work, "corpus_in")
            self.corpus_docs = gen.write_corpus(CORPUS_DOCS, self.seed, self.corpus_dir)

    def setup(self) -> None:
        from inpe_queimadas_etl_spark import cli, pipeline

        if self.tracer:
            import layers

            layers.instrument(self.tracer)
        self.n_clients = int(os.environ["SPARK_GRAFT_CPUS"])
        # inputs are generated while the JVM starts, as a deployment's
        # inputs exist before its process does
        t0 = time.perf_counter()
        failure: list[BaseException] = []

        def generate():
            try:
                self.generate()
            except BaseException as exc:  # re-raised in the main thread
                failure.append(exc)

        gen_thread = threading.Thread(target=generate)
        gen_thread.start()
        self.spark = _start_spark(self.work, bool(self.tracer))
        if self.tracer:
            self.tracer.spark = self.spark
        session_s = time.perf_counter() - t0
        gen_thread.join()
        if failure:
            raise failure[0]
        start_s = time.perf_counter() - t0

        loads = []
        for _ in range(DIM_LOADS):
            t0 = time.perf_counter()
            self.dims = cli.load_dims(self.spark, os.path.join(self.work, "dims"))
            loads.append(time.perf_counter() - t0)
        self.metrics["setup_s"] = start_s + statistics.median(loads)
        self.info["setup"] = {"session_s": session_s, "session_and_inputs_s": start_s,
                              "dim_loads_s": loads, "municipalities": len(self.geo.cd_mun),
                              "clients": self.n_clients}
        if self.workload == "dashboard":
            self.wh = pipeline.Warehouse(os.path.join(self.served, "warehouse"))

    def backfill(self) -> None:
        """The process's first Spark work after setup: one batch of
        landed days into an empty warehouse."""
        from inpe_queimadas_etl_spark import pipeline
        from verify import check_warehouse

        self.wh = pipeline.Warehouse(os.path.join(self.work, "warehouse"))
        files = self.backfill_files
        t0 = time.perf_counter()
        out = pipeline.run_range(self.spark, self.wh, [(f.day, f.path) for f in files], self.dims)
        wall = time.perf_counter() - t0
        self.release()
        rows = sum(f.rows for f in files)
        self.metrics["latency_ms"] = wall * 1e3
        self.metrics["throughput_per_s"] = rows / wall
        self.valid = sum(f.valid_unique for f in files)
        self.attributable = sum(f.attributable for f in files)
        c = self.checks
        c.expect(out[0]["rows_new"] == self.valid, f"backfill rows_new {out[0]['rows_new']} != {self.valid}")
        with open(out[0]["report_json"]) as fh:
            report = json.load(fh)
        c.expect(report["ok"], f"backfill validation report not ok: {report['check_results']}")
        self.counts = check_warehouse(c, self.wh.root, self.valid, self.attributable, "backfill")
        self.info["backfill"] = {"days": len(files), "csv_rows": rows, "valid_unique": self.valid,
                                 "wall_s": wall}

    def api_context(self):
        """A fresh serving context (empty caches) over the published tables."""
        from inpe_queimadas_etl_spark.api import ApiContext

        return ApiContext(
            spark=self.spark,
            fact=self.wh.read(self.spark, "mv_focos_day_dim"),
            all_ufs=self.dims["uf_area"].select("uf"),
            enriched=self.wh.read(self.spark, "enriched_focos"),
            feats={"mun": self.dims["municipios"], "uc": self.dims["ucs"], "ti": self.dims["tis"]},
        )

    def first_paint(self) -> None:
        """The dashboard's opening panels over the newest day, cold, on a
        fresh context over the published tables."""
        import gen
        from inpe_queimadas_etl_spark.api import handle_request

        c = self.checks
        f = self.newest
        day = f.day
        panels = gen.first_paint(day)
        # rows dated on the newest day: its file's own minus its spillover
        want = f.valid_unique - f.spillover_valid
        walls = []
        for _ in range(FIRST_PAINTS):
            t0 = time.perf_counter()
            ctx = self.api_context()
            bodies = {}
            for route, params in panels:
                with self.span("api.first_paint", route=route):
                    status, bodies[route] = handle_request(ctx, route, params)
                c.expect(status == 200, f"first paint {route}: {status} {bodies[route]}")
            walls.append(time.perf_counter() - t0)
            self.release()
            got = {i["bucket"]: i["n_focos"] for i in bodies["/api/timeseries/total"]["items"]}
            c.expect(got.get(str(day)) == want, f"first paint of {day}: {got.get(str(day))} != {want}")
            c.expect(bodies["/api/points"].get("returned", 0) > 0, f"first paint of {day}: no points")
        self.extra["first_paint_s"] = min(walls)
        self.info["first_paint_s"] = walls

    def replay(self) -> None:
        """The newest backfilled day landed again: adds nothing."""
        from inpe_queimadas_etl_spark import pipeline
        from verify import warehouse_counts

        c = self.checks
        f = self.backfill_files[-1]
        t0 = time.perf_counter()
        out = pipeline.run_day(self.spark, self.wh, f.path, f.day, self.dims)
        self.extra["replay_s"] = time.perf_counter() - t0
        self.release()
        c.expect(out["rows_new"] == 0, f"replay of {f.day} added {out['rows_new']} rows")
        after = warehouse_counts(self.wh.root)
        c.expect(after == self.counts, f"replay changed table counts: {self.counts} -> {after}")

    def daily(self) -> None:
        """A new day landed on the backfilled warehouse."""
        from inpe_queimadas_etl_spark import pipeline
        from verify import check_warehouse

        f = self.daily_file
        t0 = time.perf_counter()
        out = pipeline.run_day(self.spark, self.wh, f.path, f.day, self.dims)
        self.extra["daily_ingest_s"] = time.perf_counter() - t0
        self.release()
        c = self.checks
        c.expect(out["rows_new"] == f.valid_unique, f"day {f.day} rows_new {out['rows_new']} != {f.valid_unique}")
        check_warehouse(c, self.wh.root, self.valid + f.valid_unique,
                        self.attributable + f.attributable, "daily")
        self.info["daily"] = {"csv_rows": f.rows, "ingest_s": self.extra["daily_ingest_s"]}

    def dashboard(self) -> None:
        import numpy as np
        from inpe_queimadas_etl_spark.api import handle_request
        from verify import check_responses

        # compile every plan shape first, one thread each, on a
        # throwaway context so the measured one starts with empty caches
        t_warm = time.perf_counter()
        warm = self.api_context()
        warmers = [threading.Thread(target=handle_request, args=(warm, route, params))
                   for route, params in self.warmup]
        for th in warmers:
            th.start()
        for th in warmers:
            th.join()
        ctx = self.api_context()
        rng = np.random.default_rng([self.seed, 4])
        sampled = {(int(k), int(i)) for k, i in zip(rng.integers(0, self.n_clients, CHECK_SAMPLE),
                                                     rng.integers(0, CHECK_WITHIN, CHECK_SAMPLE))}
        kept: list[tuple[str, dict, dict]] = []
        errors: list[str] = []
        records = self.requests

        def client(k: int) -> None:
            try:
                for i, (route, params) in enumerate(self.traces[k]):
                    if time.perf_counter() >= deadline:
                        break
                    t0 = time.perf_counter()
                    with self.span("api.request", trace_id=f"{self.run_id}-req-{k}-{i}", route=route):
                        status, body = handle_request(ctx, route, params)
                    end = time.perf_counter()
                    records.append({"route": route.removeprefix("/api/").replace("/", "_"),
                                    "status": status, "ms": (end - t0) * 1e3, "end": end})
                    if status == 200 and (k, i) in sampled:
                        kept.append((route, params, body))
            except Exception as exc:  # a client that dies fails the run's checks
                errors.append(f"client {k}: {type(exc).__name__}: {exc}")

        threads = [threading.Thread(target=client, args=(k,)) for k in range(self.n_clients)]
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=self.seconds + 60)
        wall = time.perf_counter() - t0
        self.release()
        t_checks = time.perf_counter()
        c = self.checks
        for e in errors:
            c.expect(False, e)
        c.expect(not any(th.is_alive() for th in threads), "dashboard client still running")
        for r in records:
            c.expect(r["status"] == 200, f"dashboard {r['route']}: status {r['status']}")
        lat = [r["ms"] for r in records]
        c.expect(len(lat) >= MIN_REQUESTS, f"dashboard answered only {len(lat)} requests")
        self.metrics["latency_ms"] = statistics.median(lat)
        self.extra["request_p90_ms"] = _pct(lat, 0.90)
        # completions inside the window, over the time they took: the
        # requests still in flight at its end would stretch it by a
        # varying fraction of a request
        done = [r["end"] for r in records if r["end"] <= deadline]
        self.metrics["throughput_per_s"] = len(done) / (max(done) - t0) if done else 0.0

        check_responses(c, str(self.wh.root), kept, self.all_ufs)
        last = _served_days()[-1]
        status, body = handle_request(ctx, "/api/validate",
                                      {"from": str(last - dt.timedelta(days=29)),
                                       "to": str(last + dt.timedelta(days=1))})
        c.expect(status == 200 and body.get("ok") is True, f"/api/validate: {status} {body}")
        general = ctx.cache.general
        routes = sorted({r["route"] for r in records})
        self.info["dashboard"] = {
            "clients": self.n_clients, "requests": len(lat), "wall_s": wall,
            "warm_up_s": t0 - t_warm, "checks_s": time.perf_counter() - t_checks,
            "checked_responses": len(kept),
            "general_cache_hit_ratio": general.hits / max(general.hits + general.misses, 1),
            "route_p50_ms": {rt: statistics.median(r["ms"] for r in records if r["route"] == rt)
                             for rt in routes},
            "route_count": {rt: sum(r["route"] == rt for r in records) for rt in routes},
        }

    def corpus(self) -> None:
        from inpe_queimadas_etl_spark.corpus_pipeline import run_corpus_pipeline
        from verify import corpus_digest

        # twice: the export must repeat exactly, and the second, warm
        # run is the one timed and traced
        digests = []
        for k in range(2):
            out_dir = os.path.join(self.work, f"corpus_out{k}")
            t0 = time.perf_counter()
            with self.tracer.muted() if k == 0 else nullcontext():
                manifest = run_corpus_pipeline(self.spark, self.corpus_dir, out_dir)
            wall = time.perf_counter() - t0
            self.release()
            digests.append(corpus_digest(out_dir))
        self.manifest = manifest
        self.docs_per_s = self.corpus_docs / wall
        c = self.checks
        kept = sum(s["docs"] for s in manifest["splits"].values())
        c.expect(manifest["input_docs"] == self.corpus_docs,
                 f"corpus input_docs {manifest['input_docs']} != {self.corpus_docs}")
        c.expect(kept == manifest["curation"].get("kept", 0) - manifest["repetition_dropped"],
                 f"corpus kept {kept} != curation kept minus repetition drops")
        c.expect(0 < kept <= self.corpus_docs, f"corpus kept {kept} of {self.corpus_docs}")
        c.expect(digests[0] == digests[1], f"corpus export differs between two runs: {digests}")
        self.info["corpus"] = {"docs": self.corpus_docs, "kept": kept, "wall_s": wall, "digests": digests}

    def peak_rss(self) -> None:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            hwm = next(line for line in fh if line.startswith("VmHWM:"))
        self.extra["peak_rss_mb"] = int(hwm.split()[1]) / 1024

    def run(self) -> None:
        if self.workload == "dashboard":
            # outside every timed phase; a child process, so that this
            # run's JVM is as cold as every other run's
            self.served, build_s = served_warehouse()
            self.info["served_build_s"] = build_s
        with self.span("run", trace_id=self.run_id):
            self.phase("setup", self.setup)
            if self.workload == "backfill":
                self.phase("backfill", self.backfill)
                if self.tracer:
                    self.phase("replay", self.replay)
                    self.phase("daily", self.daily)
            else:
                self.phase("dashboard", self.dashboard)
                if self.tracer:
                    self.phase("first_paint", self.first_paint)
                    self.phase("corpus", self.corpus)
        self.peak_rss()


def _overhead(cycle: Cycle, results_dir: str) -> dict:
    """Traced phase times against the untraced run of the same
    workload (same seed when there is one)."""
    names = [f"{cycle.workload}-seed{cycle.seed}-trace0.json"] + sorted(
        (n for n in os.listdir(results_dir)
         if n.startswith(f"{cycle.workload}-seed") and n.endswith("-trace0.json")),
        key=lambda n: os.path.getmtime(os.path.join(results_dir, n)), reverse=True)
    for n in names:
        p = os.path.join(results_dir, n)
        if os.path.exists(p):
            with open(p) as fh:
                base = json.load(fh)["phases_s"]
            both = [k for k in cycle.phases if k in base]
            out = {k: {"traced_s": cycle.phases[k], "untraced_s": base[k],
                       "overhead_share": cycle.phases[k] / base[k] - 1} for k in both}
            t, u = sum(cycle.phases[k] for k in both), sum(base[k] for k in both)
            out["total"] = {"traced_s": t, "untraced_s": u, "overhead_share": t / u - 1}
            return {"against": n, "phases": out}
    return {"against": None, "phases": {}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-served", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.build_served:
        build_served(args.build_served)
        return 0
    if None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(HERE, "results")
    os.makedirs(results_dir, exist_ok=True)
    _prepare_env(work)

    cycle = Cycle(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        cycle.run()
        if cycle.tracer:
            import layers

            per_layer = layers.layer_metrics(cycle.tracer, cycle.requests, cycle.manifest,
                                             cycle.docs_per_s, cycle.extra)
    finally:
        spark = getattr(cycle, "spark", None)
        if cycle.tracer:
            cycle.tracer.restore()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    c = cycle.checks
    failed = len(c.failed)
    for what in c.failed:
        print(f"# check failed: {what}", file=sys.stderr)
    assert set(cycle.metrics) == set(END_TO_END), set(cycle.metrics) ^ set(END_TO_END)
    record = {
        "run": cycle.run_id,
        "phases_s": cycle.phases,
        "end_to_end": {k: {"value": cycle.metrics[k], "unit": u} for k, u in END_TO_END.items()},
        "unbounded": {k: {"value": cycle.extra[k], "unit": u} for k, u in UNBOUNDED.items()
                      if k in cycle.extra},
        "error_rate": failed / max(c.attempted, 1),
        "attempted": c.attempted,
        "failed": failed,
        "failures": c.failed,
        "info": cycle.info,
    }
    if cycle.tracer:
        import layers

        record["per_layer"] = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()}
        record["tracing_overhead"] = _overhead(cycle, results_dir)
        with open(os.path.join(results_dir, f"{cycle.run_id}.spans.json"), "w") as fh:
            json.dump(cycle.tracer.to_json(), fh, default=str)
        metrics = record["per_layer"]
    else:
        metrics = record["end_to_end"]
    with open(os.path.join(results_dir, f"{cycle.run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for k, m in {**record["end_to_end"], **record["unbounded"]}.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"error_rate = {record['error_rate']:.6g} share ({failed} of {c.attempted})")
    if cycle.tracer:
        for k, v in record["tracing_overhead"]["phases"].items():
            print(f"tracing_overhead.{k} = {v['overhead_share']:.4g} share")
    print(json.dumps({"correct": failed == 0, "attempted": c.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
