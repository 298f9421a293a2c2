"""The benchmark's workloads: ``search`` and ``batch``.

Every workload has the same shape:

1. ``SETUPS`` set-ups, each one a session (re)start plus everything that
   must exist before the first timed operation;
2. a fixed warm-up after the last set-up; ``setup_s`` is the median
   set-up plus the warm-up;
3. a closed loop with one client for ``seconds`` seconds;
4. output checks of the warm-up and loop results (untimed).

Operation latencies are kept per kind of operation (requests with and
without a point on ``search``, one kind per query on ``batch``). With tracing on, operations
alternate traced / untraced, so the same run gives the per-layer numbers
and the tracing overhead.
"""

from __future__ import annotations

import os
import random
import statistics
import subprocess
import time
from dataclasses import dataclass, field

from .checks import DuckOracle, SearchOracle
from .datagen import write_tables
from .tracing import SparkProbe, Tracer

SETUPS = 3

# Search fixture: rows in the layers store, embedding width, and the
# request vocabulary (drawn Zipf-skewed, s = 1.1)
SEARCH_ROWS = 2000
SEARCH_DIM = 64
VOCAB = [
    "flood zoning", "soil survey", "census boundary", "transit roads",
    "water sewer", "parcel district", "wetland hydrology", "school police",
    "broadband utility", "county parks", "federal trail", "fire bridges",
]
# One block of ten requests carries exactly this mix, shuffled: three
# with a point, five with a type filter, skip 0/5/20 four/three/three times
BLOCK_POINTS = 3
BLOCK_FILTERS = 5
BLOCK_SKIPS = [0, 0, 0, 0, 5, 5, 5, 20, 20, 20]
TYPES = ["Feature Layer", "Table", "Raster Layer", "Map Service"]
# warm-up requests after the last set-up, one block: a new session is
# warm after 1-3 requests, and the JIT takes its steepest step in the
# first ten or so
WARMUP_REQUESTS = 10

# Batch workload: queries and the scale factor of the tables they read
PIPELINE = ["graph_bfs_levels", "pq_adc_topk", "spatial_point_filter"]
ANALYTICS = ["q1_pricing_summary", "window_rank_orders_per_customer"]
PIPELINE_SF, ANALYTICS_SF = 0.01, 0.1


@dataclass
class Run:
    """Everything one run measured; ``run.py`` turns it into metrics."""

    setups: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    # successful untraced / traced operation latencies in s, by kind
    ops: dict[str, list[float]] = field(default_factory=dict)
    traced_ops: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    context: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def timed(self, kind: str, seconds: float, traced: bool) -> None:
        (self.traced_ops if traced else self.ops).setdefault(kind, []).append(seconds)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)


class Session:
    """The resident SparkSession, as ``session.get_spark`` configures it."""

    def __init__(self):
        self.spark = None

    def restart(self):
        from govgis_nov2023_slim_spatial_server_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM PySpark launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def per_query_metrics() -> dict[str, str]:
    """Name -> unit of the per-query per-layer metrics."""
    kinds = {"catalog.query_s": "s", "catalog.build_jobs": "count", "session.tasks": "count"}
    return {f"{kind}.{q}": unit for q in PIPELINE + ANALYTICS for kind, unit in kinds.items()}


# ---------------------------------------------------------------- search


@dataclass
class Request:
    text: str
    type_filter: list[str] | None
    point: tuple[float, float] | None
    skip: int
    limit: int


def write_raw_layers(rows: list[tuple], path: str) -> int:
    """The fixture rows as one GeoParquet-shaped file (WKB geometry, no
    bbox); returns its size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    table = pa.table({
        "id": pa.array(cols[0], pa.string()),
        "name": pa.array(cols[1], pa.string()),
        "type": pa.array(cols[2], pa.string()),
        "description": pa.array(cols[3], pa.string()),
        "url": pa.array(cols[4], pa.string()),
        "metadata_text": pa.array(cols[5], pa.string()),
        "embeddings": pa.array(cols[6], pa.list_(pa.float32())),
        "geom_wkb": pa.array(cols[7], pa.binary()),
    })
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "layers.parquet")
    pq.write_table(table, out)
    return os.path.getsize(out)


def make_requests(seed: int, n: int, rects: list[tuple]) -> list[Request]:
    """Seeded request stream, built in blocks of ten with a fixed mix.
    Points fall inside a random fixture rectangle, so they hit."""
    rnd = random.Random(seed)
    zipf = [1.0 / (k + 1) ** 1.1 for k in range(len(VOCAB))]
    out: list[Request] = []
    while len(out) < n:
        points = [i < BLOCK_POINTS for i in range(10)]
        filters = [i < BLOCK_FILTERS for i in range(10)]
        skips = list(BLOCK_SKIPS)
        for col in (points, filters, skips):
            rnd.shuffle(col)
        for has_point, has_filter, skip in zip(points, filters, skips):
            tf = None
            if has_filter:
                tf = [rnd.choice([t, t.lower(), t.upper()])
                      for t in rnd.sample(TYPES, rnd.randint(1, 2))]
            pt = None
            if has_point:
                x0, y0, x1, y1 = rnd.choice(rects)
                pt = (rnd.uniform(x0, x1), rnd.uniform(y0, y1))
            out.append(Request(rnd.choices(VOCAB, zipf)[0], tf, pt, skip, rnd.randint(1, 10)))
    return out[:n]


class TracedEmbedder:
    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer, self.dim = inner, tracer, inner.dim

    def embed_query(self, text: str) -> list[float]:
        with self.tracer.span("fixtures.embed"):
            return self.inner.embed_query(text)


def _install_search_spans(tracer: Tracer):
    """Wrap the api layer's reference to the plan builder so one traced
    request also yields plans and collect spans. Returns the undo."""
    from govgis_nov2023_slim_spatial_server_spark.api import search as api_search

    original = api_search.build_search_plan

    def build(*args, **kwargs):
        with tracer.span("plans.build"):
            plan = original(*args, **kwargs)
        collect = plan.collect

        def traced_collect():
            with tracer.span("session.collect"):
                return collect()

        plan.collect = traced_collect
        return plan

    api_search.build_search_plan = build
    return lambda: setattr(api_search, "build_search_plan", original)


def run_search(session: Session, work: str, seed: int, seconds: float, trace: bool) -> Run:
    from govgis_nov2023_slim_spatial_server_spark.api.models import (
        Point, SemanticSearchRequest)
    from govgis_nov2023_slim_spatial_server_spark.api.search import SearchService
    from govgis_nov2023_slim_spatial_server_spark.fixtures.embedder import FakeEmbedder
    from govgis_nov2023_slim_spatial_server_spark.fixtures.layers import make_layer_rows
    from govgis_nov2023_slim_spatial_server_spark.sources.ingest import (
        ingest_layers, load_layers, write_layers)

    run = Run()
    tracer = Tracer(False)  # switched on per traced request in the loop
    # the raw GeoParquet input: benchmark input, like the batch tables
    rows = make_layer_rows(SEARCH_ROWS, seed, SEARCH_DIM)
    raw = os.path.join(work, "raw")
    raw_bytes = write_raw_layers(rows, raw)
    embedder = FakeEmbedder(dim=SEARCH_DIM, seed=seed)
    oracle = SearchOracle(rows)
    rects = [r[8] for r in rows if r[8] is not None]
    stream = make_requests(seed, 1000, rects)  # more than a 60 s loop sends
    warm = make_requests(seed + 1_000_003, WARMUP_REQUESTS, rects)
    service = None

    def call(req: Request):
        api_req = SemanticSearchRequest(
            request_string=req.text, type_filter=req.type_filter,
            input_point=Point(longitude=req.point[0], latitude=req.point[1]) if req.point else None,
            skip=req.skip, limit=req.limit)
        t = time.perf_counter()
        resp = service.search(api_req)
        return time.perf_counter() - t, resp

    src = {"ingest_s": [], "write_s": [], "files_written": [], "bytes_written": []}
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = session.restart()
        store = os.path.join(work, f"store{i}")
        t1 = time.perf_counter()
        df = ingest_layers(spark, raw)
        t_ingest = time.perf_counter()
        write_layers(df, store)
        t2 = time.perf_counter()
        service = SearchService(load_layers(spark, store),
                                TracedEmbedder(embedder, tracer) if trace else embedder)
        run.setups.append(time.perf_counter() - t0)
        src["ingest_s"].append(t_ingest - t1)
        src["write_s"].append(t2 - t_ingest)
        parts = [f for f in os.listdir(store) if f.endswith(".parquet")]
        src["files_written"].append(len(parts))
        src["bytes_written"].append(sum(os.path.getsize(os.path.join(store, f)) for f in parts))
    run.layers["sources"] = {k: statistics.median(v) for k, v in src.items()}
    run.layers["sources"]["raw_bytes"] = raw_bytes
    t0 = time.perf_counter()
    warmed = [(req, call(req)[1]) for req in warm]
    run.warmup_s = time.perf_counter() - t0
    run.context.update(setups_s=run.setups, warmup_s=run.warmup_s)
    probe = SparkProbe(spark) if trace else None
    undo = _install_search_spans(tracer) if trace else None

    per_req = []
    timed = []  # (request, latency, traced, response)
    t_loop = time.perf_counter()
    for i, req in enumerate(stream):
        traced = trace and i % 2 == 0
        tracer.enabled = traced
        tracer.op = i
        if traced:
            # the counters are read after the span closes, outside dt
            with probe.group(f"search {i}") as counters:
                with tracer.span("api.search", point=req.point is not None):
                    dt, resp = call(req)
            per_req.append((counters, len(resp.layers or [])))
        else:
            dt, resp = call(req)
        timed.append((req, dt, traced, resp))
        # stop on a block boundary, so every run measures the same mix
        if (i + 1) % 10 == 0 and time.perf_counter() - t_loop >= seconds:
            break
    tracer.enabled = False
    if undo:
        undo()

    def check(req: Request, resp) -> bool:
        run.attempted += 1
        if resp.error is not None:
            run.fail(f"in-band error: {resp.error[:200]}")
            return False
        got = [layer.id for layer in resp.layers]
        want = oracle.expected_ids(embedder.embed_query(req.text), req.type_filter,
                                   req.point, req.skip, req.limit)
        if got != want:
            run.fail(f"wrong result for {req}: {got} != {want}")
            return False
        return True

    for req, resp in warmed:
        check(req, resp)
    for req, dt, traced, resp in timed:
        if check(req, resp):  # a failed request is not timed as a fast success
            run.timed("point" if req.point else "no_point", dt, traced)
    if trace:
        run.layers.update(_search_layers(tracer, per_req, probe.cores))
        run.layers["spans"] = tracer.to_json()
    run.context.update(fixture_rows=SEARCH_ROWS, store_rows=len(oracle.ids),
                       warmup_requests=len(warm), requests=len(timed))
    return run


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _search_layers(tracer: Tracer, per_req: list[tuple[dict, int]], cores: int) -> dict:
    search = tracer.durations("api.search")
    embed = tracer.durations("fixtures.embed")
    build = tracer.durations("plans.build")
    collect = tracer.durations("session.collect")
    # hydrate = api.search self time: what is left after its child spans
    hydrate = [s - e - b - c for s, e, b, c in zip(search, embed, build, collect)]
    counters = [c for c, _ in per_req]
    results = sum(n for _, n in per_req)
    out = {
        "api.search_ms": 1e3 * _median(search),
        "api.point_p50_ms": 1e3 * _median(tracer.durations("api.search", point=True)),
        "api.nopoint_p50_ms": 1e3 * _median(tracer.durations("api.search", point=False)),
        "api.hydrate_ms": 1e3 * _median(hydrate),
        "fixtures.embed_ms": 1e3 * _median(embed),
        "plans.build_ms": 1e3 * _median(build),
        "session.collect_ms": 1e3 * _median(collect),
        "session.action_s": _mean(collect),
        "sources.scan_rows_per_result": sum(c["scan_rows"] for c in counters) / max(1, results),
        "sources.files_read": _mean([c["files_read"] for c in counters]),
    }
    out.update(_session_layers(counters, search, cores))
    return out


_SESSION = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
_FUNCTIONS = ("python_rows", "python_bytes", "python_s")


def _session_layers(counters: list[dict], walls: list[float], cores: int) -> dict:
    """Mean per operation of the Spark counters."""
    out = {f"session.{k}": _mean([c[k] for c in counters]) for k in _SESSION}
    out["session.idle_core_s"] = _mean(
        [cores * w - c["executor_run_s"] for c, w in zip(counters, walls)])
    out.update({f"functions.{k}": _mean([c[k] for c in counters]) for k in _FUNCTIONS})
    return out


# ----------------------------------------------------------------- batch


def run_batch(session: Session, work: str, seed: int, seconds: float, trace: bool) -> Run:
    from govgis_nov2023_slim_spatial_server_spark.catalog import ORACLES, QUERIES
    from govgis_nov2023_slim_spatial_server_spark.catalog.spatial_mm import _spatial_layers

    queries = PIPELINE + ANALYTICS
    run = Run()
    sf_dirs = {sf: os.path.join(work, f"sf{sf}") for sf in (PIPELINE_SF, ANALYTICS_SF)}
    run.context["input_bytes"] = sum(write_tables(d, sf, seed) for sf, d in sf_dirs.items())
    where = {q: sf_dirs[PIPELINE_SF if q in PIPELINE else ANALYTICS_SF] for q in queries}
    rnd = random.Random(seed)
    collected: list[tuple[str, list[str], list[tuple]]] = []

    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = session.restart()
        # the one materialized store these queries read (spatial_point_filter)
        _spatial_layers(spark, sf_dirs[PIPELINE_SF])
        run.setups.append(time.perf_counter() - t0)

    # warm-up: one pass that collects every query for the output check;
    # it takes the largest step down the JIT warm-up curve (the second
    # pass is ~40 % faster than the first, later ones 2-5 % each) and warms
    # the session's Python workers and any store a query builds lazily
    t0 = time.perf_counter()
    order = list(queries)
    rnd.shuffle(order)
    for q in order:
        try:
            df = QUERIES[q](spark, where[q])
            collected.append((q, df.columns, [tuple(r) for r in df.collect()]))
        except Exception as e:  # a failing query is a counted failure
            run.attempted += 1
            run.fail(f"{q}: {type(e).__name__}: {e}"[:300])
    run.warmup_s = time.perf_counter() - t0
    run.context.update(setups_s=run.setups, warmup_s=run.warmup_s)

    # every collected result against its DuckDB oracle (or, without one, a
    # non-empty result); every timed count() must match the collected rows
    oracles = {d: DuckOracle(d) for d in sf_dirs.values()}
    expected_rows: dict[str, int] = {}
    for q, cols, rows in collected:
        run.attempted += 1
        expected_rows[q] = len(rows)
        why = oracles[where[q]].mismatch(ORACLES[q], cols, rows) if q in ORACLES else (
            None if rows else "no rows")
        if why:
            run.fail(f"{q}: {why}")
    for o in oracles.values():
        o.close()

    tracer = Tracer(trace)
    probe = SparkProbe(spark) if trace else None
    per_pass: list[dict[str, dict]] = []
    # traced runs go untraced, traced, traced, untraced, ...: the pattern is
    # symmetric in time, so warm-up drift cancels in the tracing overhead
    min_passes = 4 if trace else 2
    t_loop = time.perf_counter()
    p = 0
    while p < min_passes or time.perf_counter() - t_loop < seconds:
        order = list(queries)
        rnd.shuffle(order)
        traced = trace and p % 4 in (1, 2)
        tracer.enabled = traced
        stats: dict[str, dict] = {}
        for q in order:
            tracer.op += 1
            run.attempted += 1
            try:
                if traced:
                    stats[q] = _traced_query(probe, tracer, QUERIES[q], spark, where[q], q)
                    n, dt = stats[q]["rows"], stats[q]["query_s"]
                else:
                    t = time.perf_counter()
                    n = QUERIES[q](spark, where[q]).count()
                    dt = time.perf_counter() - t
            except Exception as e:
                run.fail(f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            if n != expected_rows.get(q):
                run.fail(f"{q}: count {n} != collected {expected_rows.get(q)}")
                continue
            run.timed(q, dt, traced)
        if traced:
            per_pass.append(stats)
        p += 1
    if trace:
        run.layers.update(_batch_layers(per_pass, probe.cores, queries))
        run.layers["spans"] = tracer.to_json()
    # a pass as the sum of its queries' median latencies, whole and by group
    med = {q: statistics.median(v) for q, v in run.ops.items()}
    run.context.update(
        sf={"pipeline": PIPELINE_SF, "analytics": ANALYTICS_SF}, queries=queries, passes=p,
        query_p50_s=med, shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"),
        pass_s={"all": sum(med.values()),
                "pipeline": sum(v for q, v in med.items() if q in PIPELINE),
                "analytics": sum(v for q, v in med.items() if q in ANALYTICS)})
    return run


def _traced_query(probe: SparkProbe, tracer: Tracer, fn, spark, sf_dir: str, q: str) -> dict:
    # the counters are read after each span closes, so the spans hold no
    # counter reads; query_s, the sum of the spans, is the traced latency
    with probe.group(f"build {q}") as build:
        with tracer.span("catalog.build", query=q) as s_build:
            df = fn(spark, sf_dir)
    with probe.group(f"action {q}") as action:
        with tracer.span("session.action", query=q) as s_action:
            n = df.count()
    return {"rows": n, "build": build, "action": action,
            "query_s": s_build.seconds + s_action.seconds,
            "build_s": s_build.seconds, "action_s": s_action.seconds}


_REPEATING = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")


def count_mismatches(per_pass: list[dict[str, dict]]) -> int:
    """Queries whose job, stage, task or shuffle-byte counts (build and
    action) differ between traced passes; the design expects 0."""
    bad = 0
    for q in per_pass[0] if per_pass else []:
        sigs = {
            tuple(st[q][part][k] for part in ("build", "action") for k in _REPEATING)
            for st in per_pass if q in st
        }
        bad += len(sigs) > 1
    return bad


def _batch_layers(per_pass, cores, queries) -> dict:
    """Per pass sums, mean or median over traced passes; per query medians."""

    def pass_median(f) -> float:
        return _median([sum(f(s) for s in st.values()) for st in per_pass])

    out = {
        "catalog.build_s": pass_median(lambda s: s["build_s"]),
        "catalog.build_jobs": pass_median(lambda s: s["build"]["jobs"]),
        "session.action_s": pass_median(lambda s: s["action_s"]),
        "session.count_mismatches": count_mismatches(per_pass),
    }
    totals = [
        {k: sum(s[part][k] for s in st.values() for part in ("build", "action"))
         for k in _SESSION + _FUNCTIONS}
        for st in per_pass
    ]
    walls = [sum(s["query_s"] for s in st.values()) for st in per_pass]
    out.update(_session_layers(totals, walls, cores))
    for q in queries:
        runs = [st[q] for st in per_pass if q in st]
        out[f"catalog.query_s.{q}"] = _median([s["query_s"] for s in runs])
        out[f"catalog.build_jobs.{q}"] = _median([s["build"]["jobs"] for s in runs])
        out[f"session.tasks.{q}"] = _median(
            [s["build"]["tasks"] + s["action"]["tasks"] for s in runs])
    return out
