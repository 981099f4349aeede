"""The benchmark workloads: ``etl-routes`` and ``analytics-mix``.

Each workload function receives a :class:`Run`, generates its inputs,
sets itself up (the time that counts as ``setup_s``), then repeats its
batch unit until the measurement window closes, validating every
operation outside the timed region. It returns an :class:`Outcome` with
the raw timings; ``run.py`` turns those into metrics.

- ``etl-routes``: one batch unit is the routes pipeline of the source
  system — process the GeoJSON corpus, load it into an empty route table,
  append an overlapping second batch — followed by a burst of app
  interactions (2 closed-loop clients) served from the table just built.
- ``analytics-mix``: one batch unit is a pass over a fixed mix of registry
  operators, each written to the noop sink.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import oracle
import routegen
import tablegen
from tracer import Tracer, inclusive, self_time

# WGS84 bounding box of Great Britain (lon/lat degrees)
GB_BBOX = (-8.65, 49.86, 1.77, 60.86)
SERVE_LIMIT = 1000

# Input sizes and load shape. Small on purpose: every run must fit the
# benchmark's time budget, and at these sizes per-job and per-plan
# overhead — what an app user waits on — dominates (see README.md).
ROUTES = 2_000          # routes in the generated corpus
CLIENTS = 2             # closed-loop app clients
INTERACTIONS = 4        # interactions per client after each load
SCALE_FACTOR = 0.01     # analytics tables (sf=1 is 6M lineitems)
MIN_PASSES = 3          # analytics passes per run, however fast the machine

# Registry operators of the analytics mix: joins and top-k (tpch-q3), windows
# (sessionize), operators/dedup.py (dedup-near-minhash), functions/vectors.py
# (simsearch-topk), the reprojection pandas_udf (geo-reproject),
# operators/multimodal.py (multimodal-cols) and the availableNow streaming
# path (stream-tumbling-agg).
ANALYTICS_MIX = [
    "tpch-q3", "sessionize", "dedup-near-minhash", "simsearch-topk",
    "geo-reproject", "multimodal-cols", "stream-tumbling-agg",
]


@dataclass
class Outcome:
    batch_ms: list[float]                 # untraced batch units
    batch_s: float                        # typical batch unit (the batch_s metric)
    ops_ms: dict[str, list[float]]        # untraced operation latencies by kind
    queries_ms: list[float]               # untraced query / interaction latencies
    queries_per_s: float
    warmup_s: float
    traced_ms: list[float] = field(default_factory=list)  # traced batch units
    roots: list[dict] = field(default_factory=list)       # root spans of traced work
    report: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


class Run:
    """State shared by a workload run: session, tracer, counts, deadline."""

    def __init__(self, args, work: str, start_session):
        self.args = args
        self.work = work
        self._start_session = start_session
        self.spark = None
        self.tracer: Tracer | None = None
        self.session_start_s = float("nan")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.deadline = math.inf
        self._lock = threading.Lock()

    def start_session(self) -> None:
        """Start Spark (inputs are generated before, so they are not timed)."""
        t = time.perf_counter()
        self.spark = self._start_session()
        self.session_start_s = time.perf_counter() - t
        if self.args.trace:
            self.tracer = Tracer(self.spark)
            instrument_program(self.tracer)

    def open_window(self) -> None:
        self.deadline = time.perf_counter() + self.args.seconds

    def more(self, untraced: int, traced: int, least: int = 1) -> bool:
        """Keep going while the window is open. Past it, finish the minimum:
        ``least`` untraced units, and in a traced run untraced-traced-
        untraced, so the traced unit's overhead is taken against units on
        both sides."""
        now = time.perf_counter()
        if now > self.deadline + 120 or self.failed > 10:
            return False
        if now < self.deadline or untraced < least:
            return True
        return self.tracer is not None and (traced < 1 or untraced < 2)

    def record(self, what: str, problems: list[str]) -> None:
        """Count one operation; ``problems`` lists its validation failures."""
        with self._lock:
            self.attempted += 1
            if problems:
                self.failed += 1
                self.problems.extend(f"{what}: {p}" for p in problems[:3])

    def traced_turn(self, k: int) -> bool:
        """In a traced run the second unit is traced, the others are not."""
        return self.tracer is not None and k == 1


# module -> layer name of the spans around its public functions
TRACED_MODULES = {
    "transit_scrape_spark.session": "session",
    "transit_scrape_spark.sources.geojson": "sources",
    "transit_scrape_spark.sources.tables": "sources",
    "transit_scrape_spark.sources.sinks": "sinks",
    "transit_scrape_spark.functions.geo": "functions",
    "transit_scrape_spark.functions.vectors": "functions",
    "transit_scrape_spark.pipelines.process_routes": "pipelines",
    "transit_scrape_spark.pipelines.load_routes": "pipelines",
    "transit_scrape_spark.serve": "serve",
    "transit_scrape_spark.operators.dedup": "operators",
    "transit_scrape_spark.operators.ranking": "operators",
    "transit_scrape_spark.operators.multimodal": "operators",
    "transit_scrape_spark.queries.streaming": "streaming",
}


def instrument_program(tracer: Tracer) -> None:
    import importlib

    from transit_scrape_spark.queries.registry import registry

    registry()  # import every query module so their copies get wrapped too
    for name, layer in TRACED_MODULES.items():
        tracer.instrument(layer, importlib.import_module(name))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksums and markers."""
    files = size = 0
    for name in os.listdir(path):
        if name.startswith((".", "_")):
            continue
        files += 1
        size += os.path.getsize(os.path.join(path, name))
    return files, size


def _plan(df) -> float:
    """Seconds to the executed physical plan; the action reuses it."""
    t = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    return time.perf_counter() - t


def spark_per_unit(spans: list[dict], roots: list[dict], n: int) -> dict[str, float]:
    """Status-store counters of the traced units, per unit of work."""
    n = max(n, 1)

    def tot(key: str) -> float:
        return sum(inclusive(r, spans, key) for r in roots) / n

    return {
        "spark.executor_cpu_s": tot("executor_cpu_s"),
        "spark.executor_run_s": tot("executor_run_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.spill_bytes": tot("spill_memory_bytes") + tot("spill_disk_bytes"),
        "spark.failed_tasks": tot("failed_tasks"),
        "spark.tasks": tot("tasks"),
        "spark.jobs": tot("jobs"),
        "spark.shuffle_bytes": tot("shuffle_read_bytes") + tot("shuffle_write_bytes"),
        "spark.input_bytes": tot("input_bytes"),
    }


def _named(spans: list[dict], root: dict, name: str) -> list[dict]:
    """Descendants of ``root`` called ``name``."""
    ids = {root["id"]}
    out = []
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["parent"] in ids:
            ids.add(s["id"])
            if s["name"] == name:
                out.append(s)
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


# --------------------------------------------------------------------------
# etl-routes
# --------------------------------------------------------------------------

def _data_files(path: str) -> list[str]:
    return sorted(os.path.join(path, n) for n in os.listdir(path)
                  if not n.startswith((".", "_")))


def _check_sink(out_dir: str, corpus: routegen.Corpus) -> list[str]:
    """Row count, planar lengths and reprojected bbox of the GeoJSON sink,
    read back without Spark."""
    problems = []
    seen = set()
    lon0, lat0, lon1, lat1 = GB_BBOX
    for path in _data_files(out_dir):
        with open(path) as fh:
            for line in fh:
                feat = json.loads(line)
                rid = feat["properties"]["route_id"]
                got = feat["properties"].get("route_length_m")
                want = corpus.lengths.get(rid)
                if want is None or rid in seen:
                    problems.append(f"unexpected or repeated route {rid}")
                elif got is None or abs(got - want) > 1e-6:
                    problems.append(f"{rid} length {got} != {want}")
                seen.add(rid)
                xy = np.asarray(feat["geometry"]["coordinates"], dtype=float).reshape(-1, 2)
                if not (len(xy) and lon0 <= xy[:, 0].min() and xy[:, 0].max() <= lon1
                        and lat0 <= xy[:, 1].min() and xy[:, 1].max() <= lat1):
                    problems.append(f"{rid} reprojected outside Great Britain")
    if len(seen) != len(corpus.lengths):
        problems.append(f"sink has {len(seen)} routes, generator wrote {len(corpus.lengths)}")
    return problems


def _check_table(table: str, want_ids: set[str]) -> list[str]:
    ids = pq.read_table(_data_files(table), columns=["route_id"]).column(0).to_pylist()
    problems = []
    if len(ids) != len(want_ids):
        problems.append(f"table has {len(ids)} rows, expected {len(want_ids)}")
    if set(ids) != want_ids:
        problems.append(f"table keys differ from expected ({len(set(ids) ^ want_ids)} keys)")
    return problems


def _validate_etl(run, corpus, out_dir, table, n1, n2) -> None:
    run.record("process", _check_sink(out_dir, corpus))
    batch1 = set(corpus.lengths)
    run.record("load", ([f"load returned {n1}, wrote {len(batch1)} routes"]
                        if n1 != len(batch1) else []))
    new = set(corpus.batch2_new_ids)
    problems = [] if n2 == len(new) else [f"reload appended {n2}, expected {len(new)} new keys"]
    run.record("reload", problems + _check_table(table, batch1 | new))


def _etl(run: Run, corpus: routegen.Corpus, cycle_dir: str) -> dict[str, float]:
    """process -> fresh load -> overlapping reload, as the program runs them."""
    from transit_scrape_spark.pipelines import load_routes, process_routes

    out_dir, table = os.path.join(cycle_dir, "out"), os.path.join(cycle_dir, "table")
    t0 = time.perf_counter()
    process_routes.run(run.spark, corpus.batch1_glob, out_dir, "geojson")
    t1 = time.perf_counter()
    n1 = load_routes.load(run.spark, corpus.batch1_glob, table)
    t2 = time.perf_counter()
    n2 = load_routes.load(run.spark, corpus.batch2_glob, table)
    t3 = time.perf_counter()
    _validate_etl(run, corpus, out_dir, table, n1, n2)
    return {"process": t1 - t0, "load": t2 - t1, "reload": t3 - t2}


def _etl_traced(run: Run, corpus: routegen.Corpus, cycle_dir: str, k: int) -> dict:
    """The same work with every layer's input staged to parquet, so each
    span covers one layer: scan, length/WKT, reproject, process, sink, load."""
    from pyspark.sql import functions as F

    from transit_scrape_spark.functions import geo
    from transit_scrape_spark.pipelines import load_routes, process_routes
    from transit_scrape_spark.sources import geojson, sinks

    spark, tr = run.spark, run.tracer
    stage = os.path.join(cycle_dir, "stage")
    out_dir, table = os.path.join(cycle_dir, "out"), os.path.join(cycle_dir, "table")
    with tr.span("etl.cycle", trace=f"cycle-{k}") as root:
        with tr.span("etl.scan"):
            feats = geojson.read_geojson_features(spark, corpus.batch1_glob)
            feats.write.parquet(f"{stage}/feats")
        staged = spark.read.parquet(f"{stage}/feats")
        with tr.span("etl.length_wkt"):
            staged.select(geo.linestring_length(F.col("coordinates")),
                          geo.linestring_to_wkt(F.col("coordinates"))
                          ).write.format("noop").mode("overwrite").save()
        with tr.span("etl.reproject"):
            rep = geo.reproject_bng_to_wgs84_udf()
            staged.select(F.posexplode("coordinates").alias("pos", "v")).select(
                rep(F.col("v")[0], F.col("v")[1])).write.format("noop").mode("overwrite").save()
        with tr.span("etl.process"):
            process_routes.process_route_features(staged).write.parquet(f"{stage}/processed")
        with tr.span("etl.sink"):
            sinks.write_geojson(spark.read.parquet(f"{stage}/processed"), out_dir)
        with tr.span("etl.load"):
            n1 = load_routes.load(spark, corpus.batch1_glob, table)
        root["load_files"], root["load_bytes"] = _dir_stats(table)
        with tr.span("etl.reload"):
            n2 = load_routes.load(spark, corpus.batch2_glob, table)
    tr.attach_counters([s for s in list(tr.spans) if s["trace"] == root["trace"]])
    _validate_etl(run, corpus, out_dir, table, n1, n2)
    root["sink_files"], root["sink_bytes"] = _dir_stats(out_dir)
    root["appended"] = n2
    return root


def _etl_layers(spans: list[dict], corpus: routegen.Corpus, roots: list[dict]) -> dict:
    def per(name: str, fn) -> float:
        return median([fn(s, r) for r in roots for s in _named(spans, r, name)])

    def dur(s, r):
        return _dur(s)

    def own(key):
        return lambda s, r: s.get("counters", {}).get(key, 0.0)

    def inc(*keys):
        return lambda s, r: sum(inclusive(s, spans, k) for k in keys)

    shuffle = inc("shuffle_read_bytes", "shuffle_write_bytes")
    reproject_s = per("etl.reproject", dur)
    return {
        "sources.geojson_call_s": per("sources.read_geojson_features", dur),
        "sources.geojson_scan_s": per("etl.scan", lambda s, r: self_time(s, spans)),
        "sources.features_read": per("etl.scan", own("output_records")),
        "sources.input_bytes": per("etl.scan", own("input_bytes")),
        "functions.length_wkt_s": per("etl.length_wkt", dur),
        "functions.reproject_s": reproject_s,
        "functions.reproject_vertices_per_s": corpus.vertices / reproject_s,
        "pipelines.process_s": per("etl.process", dur),
        "pipelines.process_shuffle_bytes": per("etl.process", shuffle),
        "pipelines.process_tasks": per("etl.process", inc("tasks")),
        "sinks.write_geojson_s": per("sinks.write_geojson", dur),
        "sinks.bytes_written": median([r["sink_bytes"] for r in roots]),
        "sinks.files_written": median([r["sink_files"] for r in roots]),
        "pipelines.load_s": per("etl.load", dur),
        "pipelines.reload_s": per("etl.reload", dur),
        "pipelines.load_shuffle_bytes": per("etl.load", shuffle),
        # rows appended over rows the reload read (scan + key lookups)
        "pipelines.reload_useful_ratio": per(
            "etl.reload", lambda s, r: r["appended"] / max(inclusive(s, spans, "input_records"), 1)),
        "pipelines.load_files_written": median([r["load_files"] for r in roots]),
        "pipelines.load_bytes_written": median([r["load_bytes"] for r in roots]),
    }


# -- the app's interactions, served from the table the cycle just built ----

def _authority_sampler(seed: int, client: int, authorities: list[str]):
    """Zipf-like authority choice with ~10% 'All' (None)."""
    rng = np.random.default_rng([seed, client])
    w = 1.0 / np.arange(1, len(authorities) + 1) ** 1.1
    w /= w.sum()

    def draw():
        if rng.random() < 0.1:
            return None
        return authorities[int(rng.choice(len(authorities), p=w))]

    return draw


def _expected_serve(corpus: routegen.Corpus) -> dict:
    by_la = corpus.authority_ids()
    return {
        "authorities": sorted(la for la in by_la if la is not None),
        "ids": {**by_la, None: sorted(corpus.authority)},
    }


def _check_interaction(expect, authority, auths, rows, center) -> list[str]:
    """Counts are min(authority count, limit), ordered by route_id."""
    problems = []
    if auths != expect["authorities"]:
        problems.append(f"{len(auths)} authorities, expected {len(expect['authorities'])}")
    want = expect["ids"][authority][:SERVE_LIMIT]
    got = [r["route_id"] for r in rows]
    if got != want:
        problems.append(f"{authority}: {len(got)} routes (want {len(want)}), "
                        "order or keys differ")
    if rows:
        env = [r["envelope"] for r in rows]
        cx = (min(e["minx"] for e in env) + max(e["maxx"] for e in env)) / 2.0
        cy = (min(e["miny"] for e in env) + max(e["maxy"] for e in env)) / 2.0
        if abs(center[0] - cx) > 1e-6 or abs(center[1] - cy) > 1e-6:
            problems.append(f"map centre {center} != {(cx, cy)}")
    return problems


def _interaction(run: Run, table: str, authority, expect) -> float:
    """get_local_authorities -> load_cycling_routes -> prepare_map_rows +
    map_center, as the app issues them; returns the latency in seconds."""
    from pyspark.sql import functions as F

    from transit_scrape_spark import serve
    from transit_scrape_spark.functions.geo import wkt_to_linestring

    t0 = time.perf_counter()
    routes = run.spark.read.parquet(table)
    auths = [r[0] for r in serve.get_local_authorities(routes).collect()]
    sel = serve.load_cycling_routes(routes, authority, limit=SERVE_LIMIT)
    rows_df = serve.prepare_map_rows(
        sel.withColumn("coordinates", wkt_to_linestring(F.col("geometry_wkt"))))
    rows = rows_df.collect()
    center = serve.map_center(rows_df)
    dt = time.perf_counter() - t0
    run.record("interaction", _check_interaction(expect, authority, auths, rows, center))
    return dt


def _interaction_traced(run: Run, table: str, authority, expect, trace: str) -> dict:
    """The same interaction, one span per app step; the route query is
    also collected on its own so ``serve.load_routes`` has a span."""
    from pyspark.sql import functions as F

    from transit_scrape_spark import serve
    from transit_scrape_spark.functions.geo import wkt_to_linestring

    spark, tr = run.spark, run.tracer
    plan = 0.0
    with tr.span("app.interaction", trace=trace) as root:
        routes = spark.read.parquet(table)
        with tr.span("app.authorities"):
            df = serve.get_local_authorities(routes)
            plan += _plan(df)
            auths = [r[0] for r in df.collect()]
        with tr.span("app.load_routes"):
            sel = serve.load_cycling_routes(routes, authority, limit=SERVE_LIMIT)
            plan += _plan(sel)
            sel.collect()
        with tr.span("app.map_rows"):
            rows_df = serve.prepare_map_rows(
                sel.withColumn("coordinates", wkt_to_linestring(F.col("geometry_wkt"))))
            plan += _plan(rows_df)
            rows = rows_df.collect()
        with tr.span("app.map_center"):
            center = serve.map_center(rows_df)
    tr.attach_counters([s for s in list(tr.spans) if s["trace"] == trace])
    root["plan_s"] = plan
    root["rows_returned"] = len(auths) + len(rows) + 1
    run.record("interaction", _check_interaction(expect, authority, auths, rows, center))
    return root


def _serve_burst(run: Run, table: str, expect, draws, traced: bool, k: int):
    """Each client issues ``INTERACTIONS`` interactions back to back
    (closed loop: a user waits for the page). Returns the latencies in
    seconds, or the root spans when traced."""
    results: list = []
    errors: list[BaseException] = []
    lock = threading.Lock()

    def client(idx: int) -> None:
        try:
            for j in range(INTERACTIONS):
                authority = draws[idx]()
                if traced:
                    r = _interaction_traced(run, table, authority, expect, f"c{k}-{idx}-{j}")
                else:
                    r = _interaction(run, table, authority, expect)
                with lock:
                    results.append(r)
        except BaseException as e:  # surfaced in the calling thread
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(len(draws))]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    return results


def _serve_layers(spans: list[dict], roots: list[dict]) -> dict[str, float]:
    def per_ms(name: str) -> float:
        return 1e3 * median([_dur(s) for r in roots for s in _named(spans, r, name)])

    return {
        "serve.authorities_ms": per_ms("app.authorities"),
        "serve.load_routes_ms": per_ms("app.load_routes"),
        "serve.map_rows_ms": per_ms("app.map_rows"),
        "serve.map_center_ms": per_ms("app.map_center"),
        "serve.plan_ms": 1e3 * median([r["plan_s"] for r in roots]),
        "serve.jobs_per_interaction": median([inclusive(r, spans, "jobs") for r in roots]),
        "serve.tasks_per_interaction": median([inclusive(r, spans, "tasks") for r in roots]),
        "serve.rows_scanned_per_row_returned": median(
            [inclusive(r, spans, "input_records") / r["rows_returned"] for r in roots]),
    }


def tail_percentile(xs: list[float]) -> tuple[float, str]:
    """The highest percentile with at least 10 samples beyond it, named by
    that percentile (p95 needs 200 samples, p90 100, p50 20)."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return float(np.percentile(xs, p)), f"serve.p{p}_ms"
    return (max(xs) if xs else float("nan")), "serve.max_ms"


def etl_routes(run: Run) -> Outcome:
    args = run.args
    corpus = routegen.generate(os.path.join(run.work, "corpus"), args.seed, n_routes=ROUTES)
    expect = _expected_serve(corpus)
    draws = [_authority_sampler(args.seed, i, expect["authorities"])
             for i in range(CLIENTS)]
    run.start_session()

    # warm-up: the whole cycle once, which pays the first-execution costs
    # (Python workers, plan code generation, class loading)
    t = time.perf_counter()
    warm_dir = os.path.join(run.work, "warm")
    _etl(run, corpus, warm_dir)
    for authority in (expect["authorities"][0], None):
        _interaction(run, os.path.join(warm_dir, "table"), authority, expect)
    shutil.rmtree(warm_dir, ignore_errors=True)
    warmup_s = time.perf_counter() - t

    steps: dict[str, list[float]] = {"process": [], "load": [], "reload": []}
    batch, queries, traced, roots, cycles = [], [], [], [], []
    run.open_window()
    k = 0
    while run.more(len(batch), len(cycles)):
        cycle_dir = os.path.join(run.work, f"cycle-{k}")
        table = os.path.join(cycle_dir, "table")
        if run.traced_turn(k):
            root = _etl_traced(run, corpus, cycle_dir, k)
            cycles.append(root)
            traced.append(_dur(root) * 1e3)
            spans = _serve_burst(run, table, expect, draws, True, k)
            roots.extend([root, *spans])
        else:
            st = _etl(run, corpus, cycle_dir)
            for name, v in st.items():
                steps[name].append(v * 1e3)
            batch.append(sum(st.values()) * 1e3)
            lat = _serve_burst(run, table, expect, draws, False, k)
            queries.extend(x * 1e3 for x in lat)
            print(f"perfbench: cycle {k}: " + ", ".join(f"{n} {v:.3f}s" for n, v in st.items())
                  + f", interactions {sorted(round(x, 3) for x in lat)}", file=sys.stderr)
        shutil.rmtree(cycle_dir, ignore_errors=True)
        k += 1

    # closed loop without think time: throughput = clients / mean latency
    out = Outcome(batch, median(batch) / 1e3, {**steps, "interaction": queries}, queries,
                  1e3 * CLIENTS * len(queries) / sum(queries), warmup_s,
                  traced_ms=traced, roots=roots)
    tail, tail_name = tail_percentile(queries)
    out.report = {
        "etl.process_s": median(steps["process"]) / 1e3,
        "etl.load_s": median(steps["load"]) / 1e3,
        "etl.reload_s": median(steps["reload"]) / 1e3,
        "serve.p50_ms": median(queries),
        tail_name: tail,
        "serve.interactions_per_s": out.queries_per_s,
        "input_mib": corpus.batch1_bytes / 2 ** 20,
        "routes": len(corpus.lengths),
        "vertices": corpus.vertices,
        "files": corpus.n_files,
    }
    if cycles:
        spans = list(run.tracer.spans)
        out.layers = {**_etl_layers(spans, corpus, cycles),
                      **_serve_layers(spans, [r for r in roots if r not in cycles])}
    return out


# --------------------------------------------------------------------------
# analytics-mix
# --------------------------------------------------------------------------

def analytics_mix(run: Run) -> Outcome:
    from transit_scrape_spark.queries.registry import registry
    from transit_scrape_spark.session import release_caches

    args = run.args
    table_dir = os.path.join(run.work, "tables")
    rows = tablegen.generate(table_dir, args.seed, SCALE_FACTOR)
    specs = registry()
    con = oracle.connect(table_dir)
    run.start_session()
    spark = run.spark

    def noop(op: str) -> None:
        specs[op].fn(spark, table_dir).write.format("noop").mode("overwrite").save()

    # warm-up: a pass collecting every op and checking it against its
    # oracle (the oracle's own time is not counted)
    warmup_s = 0.0
    for op in ANALYTICS_MIX:
        t = time.perf_counter()
        df = specs[op].fn(spark, table_dir)
        cols, got = df.columns, df.collect()
        release_caches(spark)
        warmup_s += time.perf_counter() - t
        why = oracle.mismatch(got, cols, con, specs[op].oracle)
        run.record(op, [why] if why else [])
    con.close()

    per_op: dict[str, list[float]] = {op: [] for op in ANALYTICS_MIX}
    units, traced, roots = [], [], []
    run.open_window()
    k = 0
    while run.more(len(units), len(traced), MIN_PASSES):
        took = {}
        for op in ANALYTICS_MIX:
            if run.traced_turn(k):
                with run.tracer.span(f"queries.{op}", trace=f"pass{k}-{op}") as root:
                    noop(op)
                run.tracer.attach_counters(
                    [s for s in run.tracer.spans if s["trace"] == root["trace"]])
                roots.append(root)
                dt = _dur(root)
            else:
                t = time.perf_counter()
                noop(op)
                dt = time.perf_counter() - t
                per_op[op].append(dt * 1e3)
            release_caches(spark)
            run.record(op, [])
            took[op] = dt
        (traced if run.traced_turn(k) else units).append(sum(took.values()) * 1e3)
        print(f"perfbench: pass {k}: {sum(took.values()):.3f}s, "
              + ", ".join(f"{op} {dt:.3f}s" for op, dt in took.items()), file=sys.stderr)
        k += 1

    # the typical pass, op by op: the sum of each op's median over the
    # passes, so a burst of load from elsewhere on a shared host is
    # outvoted even when it slows one op in each of several passes
    typical = {op: median(v) for op, v in per_op.items()}
    mix_s = sum(typical.values()) / 1e3
    queries = [x for v in per_op.values() for x in v]
    out = Outcome(units, mix_s, per_op, queries, len(typical) / mix_s, warmup_s,
                  traced_ms=traced, roots=roots)
    out.report = {
        "analytics.mix_s": mix_s,
        "analytics.geomean_op_s": geomean(list(typical.values())) / 1e3,
        **{f"rows.{t}": n for t, n in rows.items() if t in ("lineitem", "events", "documents")},
    }
    if roots:
        spans = list(run.tracer.spans)
        for op in ANALYTICS_MIX:
            mine = [r for r in roots if r["name"] == f"queries.{op}"]
            out.layers[f"queries.{op}.s"] = median([_dur(r) for r in mine])
            out.layers[f"queries.{op}.shuffle_bytes"] = median(
                [inclusive(r, spans, "shuffle_read_bytes")
                 + inclusive(r, spans, "shuffle_write_bytes") for r in mine])
            out.layers[f"queries.{op}.tasks"] = median(
                [inclusive(r, spans, "tasks") for r in mine])
    return out


WORKLOADS = {
    "etl-routes": etl_routes,
    "analytics-mix": analytics_mix,
}
