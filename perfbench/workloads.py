"""The two workloads. Each does a fixed amount of work that depends only
on (workload, seed, seconds), times every client operation, checks the
outputs outside the timed region, and returns a ``Result``."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from data_ingestion_system_spark.plans.cache import CacheBackend

from perfbench import stats
from perfbench.fixture import TABLES, write_tables
from perfbench.ingestgen import PROJECT, Model, Traffic
from perfbench.trace import Tracer, find_event_log, parse_event_log

# The queries workload runs both sets in one fixed order, light first.
# Light: queries from families outside the heavy ones, about 7 s cold on
# a 4-core host.
LIGHT = (
    "agg_unpivot_orders", "agg_funnel", "agg_group_percentiles",
    "join_anti", "join_full_outer", "search_app_action",
    "window_topk_per_group", "ingest_expectations", "cdc_merge_upsert",
)
# Heavy: one query from each heavy family but graph_ (all three graph
# queries cost 5-9 s each, more than the run budget allows), chosen among
# those whose DuckDB oracle answers in about a second; about 9 s cold.
HEAVY = (
    "dedup_contamination", "sim_kcenter_coreset", "text_tfidf_topk",
    "multimodal_features", "emb_norm_stats",
)
# untimed warm-up query (part of set-up): JIT, file footers
WARMUP = "search_app"
# nominal seconds of one pass / round; --seconds buys whole ones
PASS_SECONDS = 20
ROUND_SECONDS = 5


@dataclass
class Result:
    ops_ms: list[float] = field(default_factory=list)
    cpu_ms: list[float] = field(default_factory=list)
    jit_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    warmup_s: float = 0.0
    extra: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.failures.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@contextmanager
def _group(sc, name: str, on: bool):
    """Tag the Spark jobs started inside the block with job group
    ``name`` (when tracing), restoring the enclosing group after."""
    if not on:
        yield
        return
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)


# ---------------------------------------------------------------- queries

@dataclass
class Oracle:
    """DuckDB over the fixture's parquet files."""

    sf_dir: str
    threads: int

    def __post_init__(self):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {self.threads}")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{self.sf_dir}/{t}.parquet'")

    def digest(self, sql: str) -> tuple[int, str]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return stats.digest(cols, cur.fetchall())


def build_fixture(work: str, seed: int) -> str:
    path = os.path.join(work, "sf0.1")
    write_tables(path, seed)
    return path


def _warm_up(spark, fns, sf_dir: str) -> float:
    """Untimed first use, so the first timed query does not pay it for the
    others: one query (JVM warm-up) and every Python worker importing the
    engine's query modules."""

    def load_engine(batches):
        from data_ingestion_system_spark import registry

        registry.queries()
        yield from batches

    t0 = time.perf_counter()
    _noop(fns[WARMUP](spark, sf_dir))
    n = spark.sparkContext.defaultParallelism
    _noop(spark.range(0, n, numPartitions=n)
          .mapInPandas(load_engine, "id long"))
    return time.perf_counter() - t0


def run_queries(h, seconds: int, tracer: Tracer, sf_dir: str) -> Result:
    """Closed loop, one client: each query is built, then executed through
    the ``noop`` sink; whole passes only. The seed makes the data."""
    from data_ingestion_system_spark import registry

    spark = h.spark
    sc = spark.sparkContext
    fns, oracles = registry.queries(), registry.oracle_sql()
    order = LIGHT + HEAVY
    passes = max(1, round(seconds / PASS_SECONDS))
    on, jvm = tracer.enabled, h.jvm_pid()
    with _group(sc, "warmup:setup", on):
        res = Result(warmup_s=_warm_up(spark, fns, sf_dir))
    build_s, exec_s, warm_s, per_query = {}, {}, 0.0, {}
    oracle = Oracle(sf_dir, h.cpus)
    for p in range(passes):
        for q in order:
            gid = f"{q}#{p}"
            spark.catalog.clearCache()
            res.attempted += 1
            try:
                with tracer.span("query", rid=gid):
                    c0, j0 = stats.tree_cpu_s(jvm)
                    t0 = time.perf_counter()
                    with tracer.span("operators.build"), \
                            _group(sc, f"{gid}:build", on):
                        df = fns[q](spark, sf_dir)
                    t1 = time.perf_counter()
                    with tracer.span("operators.exec"), \
                            _group(sc, f"{gid}:exec", on):
                        _noop(df)
                    t2 = time.perf_counter()
                    c2, j2 = stats.tree_cpu_s(jvm)
                if on:
                    with _group(sc, f"{gid}:warm", on):
                        _noop(df)
                    warm_s += time.perf_counter() - t2
            except Exception as ex:  # a failing query is counted, not fatal
                res.fail(f"{q}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            build_s[gid] = t1 - t0
            exec_s[gid] = t2 - t1
            res.ops_ms.append((t2 - t0) * 1e3)
            res.cpu_ms.append((c2 - c0) * 1e3)
            res.jit_ms.append((j2 - j0) * 1e3)
            per_query.setdefault(q, []).append(round(t2 - t0, 3))
            if p == 0:
                with _group(sc, f"{gid}:check", on):
                    _check_query(q, df, oracles.get(q), oracle, res)
    secs = [x / 1e3 for x in res.ops_ms]
    res.extra = {
        "queries": len(secs),
        "query_total_s": sum(secs),
        "query_p50_s": stats.median(secs),
        "query_p90_s": stats.tail(secs, 90),
        "per_query_s": per_query,
    }
    b, e = sum(build_s.values()), sum(exec_s.values())
    res.layers = {
        "operators.build_s": b,
        "operators.exec_s": e,
        "operators.build_share": b / max(1e-9, b + e),
        "operators.exec_warm_s": warm_s,
    }
    for cls, names in (("light", LIGHT), ("heavy", HEAVY)):
        gids = [g for g in build_s if g.split("#")[0] in names]
        cb = sum(build_s[g] for g in gids)
        ce = sum(exec_s[g] for g in gids)
        res.layers[f"{cls}.build_share"] = cb / max(1e-9, cb + ce)
    return res


def _check_query(q, df, sql, oracle, res: Result) -> None:
    """Row count and order-insensitive value digest against the DuckDB
    oracle (every query of the workload declares one)."""
    if sql is None:
        res.fail(f"{q}: no oracle declared")
        return
    try:
        got = stats.digest(df.columns, df.collect())
        want = oracle.digest(sql)
    except Exception as ex:
        res.fail(f"{q}: check raised {type(ex).__name__}: {str(ex)[:200]}")
        return
    if got != want:
        res.fail(f"{q}: rows/digest {got} != expected {want}")


def operator_layers(h, res: Result) -> None:
    """Stop the traced session and fill the operators.* job, stage, task,
    CPU, shuffle and spill numbers from its event log. Jobs of the
    ``build`` groups are build-time jobs; every other job but warm-up,
    re-execution and checks (streams included) is execution."""
    app_id = h.spark.sparkContext.applicationId
    h.spark.stop()
    h.spark = None
    build: dict[str, float] = {}
    exe: dict[str, float] = {}
    for g, v in parse_event_log(find_event_log(h.event_dir, app_id)).items():
        phase = g.rsplit(":", 1)[-1] if ":" in g else "exec"
        if phase in ("setup", "warm", "check"):
            continue
        acc = build if phase == "build" else exe
        for k, x in v.items():
            acc[k] = acc.get(k, 0) + x
    wall = res.layers["operators.build_s"] + res.layers["operators.exec_s"]
    cpu = build.get("cpu_s", 0.0) + exe.get("cpu_s", 0.0)
    res.layers.update({
        "operators.build_jobs": build.get("jobs", 0),
        "operators.stages": exe.get("stages", 0),
        "operators.tasks": exe.get("tasks", 0),
        "operators.single_task_stage_share":
            exe.get("single_task_stages", 0) / max(1, exe.get("stages", 0)),
        "operators.task_cpu_s": cpu,
        "operators.cpu_per_wall": cpu / max(1e-9, wall * h.cpus),
        "operators.shuffle_write_mb":
            build.get("shuffle_write_mb", 0.0) + exe.get("shuffle_write_mb", 0.0),
        "operators.spill_mb":
            build.get("spill_mb", 0.0) + exe.get("spill_mb", 0.0),
    })


# ----------------------------------------------------------------- ingest

class TimedBackend(CacheBackend):
    """Benchmark-owned ``CacheBackend`` wrapper: forwards to the engine's
    default backend and records whether the last probe hit."""

    def __init__(self, inner: CacheBackend):
        self.inner = inner
        self.last_hit = False

    def get(self, key):
        value = self.inner.get(key)
        self.last_hit = value is not None
        return value

    def set(self, key, value, ttl_seconds):
        self.inner.set(key, value, ttl_seconds)

    def clear(self):
        self.inner.clear()


@dataclass
class IngestDirs:
    root: str

    def __getattr__(self, name: str) -> str:
        return os.path.join(self.root, name)


def _land(files: list[list[str]], staging: str, landing: str,
          tag: str) -> None:
    """Write each file beside the landing dir, then rename it in, so the
    stream never lists a half-written file."""
    for i, lines in enumerate(files):
        tmp = os.path.join(staging, f"{tag}-{i}.json")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(landing, f"{tag}-{i}.json"))


@dataclass
class Ingest:
    """The write-beside-read path: two ingest streams feeding bronze, and
    the result cache they invalidate."""

    h: object
    d: IngestDirs
    streams: tuple = ()
    backend: TimedBackend | None = None
    cache: object = None

    def start(self) -> float:
        """Start both streams; returns the seconds it took."""
        from data_ingestion_system_spark.plans.cache import (
            InMemoryLRUBackend,
            ResultCache,
        )
        from data_ingestion_system_spark.streaming.pipeline import (
            start_ingest_stream,
        )

        d = self.d
        for sub in ("landing_req", "landing_resp", "staging"):
            os.makedirs(getattr(d, sub), exist_ok=True)
        self.backend = TimedBackend(InMemoryLRUBackend())
        self.cache = ResultCache(backend=self.backend)
        t0 = time.perf_counter()
        self.streams = (
            start_ingest_stream(self.h.spark, d.landing_req, d.bronze_req,
                                d.quar_req, d.ckpt_req, kind="request",
                                available_now=False, result_cache=self.cache),
            start_ingest_stream(self.h.spark, d.landing_resp, d.bronze_resp,
                                d.quar_resp, d.ckpt_resp, kind="response",
                                available_now=False, result_cache=self.cache),
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        for q in self.streams:
            q.stop()
        self.streams = ()


def run_ingest(ing: Ingest, seed: int, seconds: int,
               tracer: Tracer) -> Result:
    """Closed-loop rounds: land one round of files, drain both streams,
    then serve the round's searches through the cached service. Round 0
    is the untimed warm-up."""
    from data_ingestion_system_spark.operators.search import search
    from data_ingestion_system_spark.plans.cache import CachedSearchService
    from data_ingestion_system_spark.streaming.pipeline import silver_view

    spark, d = ing.h.spark, ing.d
    sc, on, jvm = spark.sparkContext, tracer.enabled, ing.h.jvm_pid()
    traffic, model = Traffic(seed), Model()
    n_rounds = max(3, round(seconds / ROUND_SECONDS))
    silver_ms, build_ms, built = [], [], []

    def search_fn(filters):
        t0 = time.perf_counter()
        with tracer.span("silver.build"), _group(sc, "search:build", on):
            silver = silver_view(spark, d.bronze_req, d.bronze_resp)
        t1 = time.perf_counter()
        with tracer.span("search.build"), _group(sc, "search:build", on):
            out = search(silver, filters, project=PROJECT,
                         order_col="timestamp", tiebreak_col="transaction_id")
        silver_ms.append((t1 - t0) * 1e3)
        build_ms.append((time.perf_counter() - t1) * 1e3)
        built.append(out)
        return out

    svc = CachedSearchService(search_fn, ing.cache)
    q_req, q_resp = ing.streams
    res = Result()
    fresh_s, hit_ms, miss_ms, exec_ms = [], [], [], []
    landed, warm_s = 0, 0.0
    for i in range(n_rounds + 1):
        rnd = traffic.next_round()
        c0, j0 = stats.tree_cpu_s(jvm)
        t0 = time.perf_counter()
        with tracer.span("round", rid=f"round{rnd.index}"):
            with tracer.span("land"):
                _land(rnd.request_files, d.staging, d.landing_req,
                      f"r{rnd.index:05d}")
                _land(rnd.response_files, d.staging, d.landing_resp,
                      f"p{rnd.index:05d}")
            t_written = time.perf_counter()
            with tracer.span("stream.drain"):
                q_req.processAllAvailable()
                q_resp.processAllAvailable()
            t_fresh = time.perf_counter()
            answers = []
            for filters in rnd.searches:
                n_built = len(silver_ms)
                ts = time.perf_counter()
                with tracer.span("search.request"), \
                        _group(sc, "search:exec", on):
                    rows = svc.search(filters)
                lat = (time.perf_counter() - ts) * 1e3
                answers.append((filters, rows, lat, ing.backend.last_hit))
                if len(silver_ms) > n_built:
                    exec_ms.append(lat - silver_ms[-1] - build_ms[-1])
        t_end = time.perf_counter()
        c_end, j_end = stats.tree_cpu_s(jvm)
        if on:
            with _group(sc, "search:warm", on):
                for df in built:
                    df.collect()
            warm_s += time.perf_counter() - t_end
        built.clear()
        model.land(rnd)
        lines = sum(map(len, rnd.request_files + rnd.response_files))
        res.attempted += lines + len(answers)
        if i == 0:
            res.warmup_s = t_end - t0
            for warm_up_samples in (silver_ms, build_ms, exec_ms):
                warm_up_samples.clear()
            warm_s = 0.0
        else:
            res.ops_ms.append((t_end - t0) * 1e3)
            res.cpu_ms.append((c_end - c0) * 1e3)
            res.jit_ms.append((j_end - j0) * 1e3)
            fresh_s.append(t_fresh - t_written)
            landed += lines
            for _, _, lat, hit in answers:
                (hit_ms if hit else miss_ms).append(lat)
        for filters, rows, _, _ in answers:
            if [tuple(r) for r in rows] != model.search(filters):
                res.fail(f"round {rnd.index}: stale or wrong answer "
                         f"for {filters}")
    with _group(sc, "ingest:check", on):
        _check_ingest(spark, d, model, rnd.searches, res)
    searches = hit_ms + miss_ms
    res.extra = {
        "rounds": n_rounds, "searches": len(searches),
        "search_p50_ms": stats.median(searches),
        "search_p95_ms": stats.tail(searches, 95),
        "freshness_p50_s": stats.median(fresh_s),
        "freshness_p90_s": stats.tail(fresh_s, 90),
        "ingest_records_per_s": landed / max(1e-9, sum(fresh_s)),
        "injected_bad": model.bad_requests + model.bad_responses,
        "mix": traffic.mix.__dict__,
    }
    # build: silver_view + search() calls; exec: the searches' collects
    # and the streams' drains
    b = sum(silver_ms + build_ms) / 1e3
    e = sum(exec_ms) / 1e3 + sum(fresh_s)
    res.layers = {
        "operators.build_s": b,
        "operators.exec_s": e,
        "operators.build_share": b / max(1e-9, b + e),
        "operators.exec_warm_s": warm_s,
        "cache.hit_ratio": len(hit_ms) / max(1, len(searches)),
        "cache.hit_ms": stats.median(hit_ms),
        "cache.miss_ms": stats.median(miss_ms),
        "silver.build_ms": stats.median(silver_ms),
        "search.exec_ms": stats.median(exec_ms),
        **stream_layers(ing.streams),
        **bronze_layers(d),
    }
    return res


def stream_layers(streams) -> dict:
    """Micro-batch counts and timings from ``recentProgress``."""
    batches, add_ms, overhead_ms = 0, [], []
    for q in streams:
        for p in q.recentProgress:
            if not p.numInputRows:
                continue
            dur = p.durationMs
            batches += 1
            add_ms.append(dur.get("addBatch", 0))
            overhead_ms.append(dur.get("triggerExecution", 0)
                               - dur.get("addBatch", 0))
    return {"stream.batches": batches,
            "stream.add_batch_ms": stats.median(add_ms),
            "stream.trigger_overhead_ms": stats.median(overhead_ms)}


def _files(root: str, suffix: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(root) for f in fs
            if f.endswith(suffix) and not f.startswith(".")]


def _count_lines(paths: list[str]) -> int:
    n = 0
    for path in paths:
        with open(path, "rb") as f:
            n += sum(1 for line in f if line.strip())
    return n


def bronze_layers(d: IngestDirs) -> dict:
    files = _files(d.bronze_req, ".parquet") + _files(d.bronze_resp,
                                                       ".parquet")
    return {"bronze.files": len(files),
            "bronze.mb": sum(map(os.path.getsize, files)) / 2**20,
            "ingest.quarantined": _count_lines(
                _files(d.quar_req, ".json") + _files(d.quar_resp, ".json"))}


def _check_ingest(spark, d: IngestDirs, model: Model, last_searches,
                  res: Result) -> None:
    """Record accounting in bronze and quarantine, and an uncached
    recomputation of the final round's searches over the final bronze."""
    from data_ingestion_system_spark.operators.search import search
    from data_ingestion_system_spark.streaming.pipeline import silver_view

    for bronze, deliveries in ((d.bronze_req, model.request_deliveries),
                               (d.bronze_resp, model.response_deliveries)):
        want: dict[str, int] = {}
        for (txn, _ts), n in deliveries.items():
            want[txn] = want.get(txn, 0) + n
        got = {r[0]: r[1] for r in spark.read.parquet(bronze)
               .groupBy("transaction_id").count().collect()}
        wrong = sum(abs(got.get(k, 0) - want.get(k, 0))
                    for k in set(got) | set(want))
        if wrong:
            res.fail(f"{os.path.basename(bronze)}: {wrong} records landed "
                     "a wrong number of times", wrong)
    for quar, want_bad in ((d.quar_req, model.bad_requests),
                           (d.quar_resp, model.bad_responses)):
        got_bad = _count_lines(_files(quar, ".json"))
        if got_bad != want_bad:
            res.fail(f"{os.path.basename(quar)}: {got_bad} quarantined, "
                     f"{want_bad} injected", abs(got_bad - want_bad))
    silver = silver_view(spark, d.bronze_req, d.bronze_resp)
    for filters in {repr(sorted(f.items())): f for f in last_searches}.values():
        rows = search(silver, filters, project=PROJECT, order_col="timestamp",
                      tiebreak_col="transaction_id").collect()
        if [tuple(r) for r in rows] != model.search(filters):
            res.fail(f"uncached recomputation differs for {filters}")
