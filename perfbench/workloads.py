"""The two workloads. Each returns a `Run`: its timed operations, its
set-up intervals and, in a traced run, the per-layer readout.

Every workload drives the engine only through its public entry points:
the `@register` query registry (`spark_fn(spark, data_dir).collect()`, the
`__spark_entry__` path) or the JSON serving door (`I2SServer` / `I2SClient`).
Oracle work runs after the timed region, never inside it or inside set-up.
"""

from __future__ import annotations

import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import tracing as tr

# Query -> scale factor of its input tables. The operators run at sf0.01,
# where one call already takes 1-3 s (at sf0.1 two passes would not fit a run).
OLAP = ("tpch_q1", "tpch_q5", "tpch_q6", "tpcds_q42", "tpcds_q98")
PIPELINE = ("dedup_minhash_lsh", "embedding_kmeans", "events_sessionize")
SCALE = {**{q: 0.1 for q in OLAP}, **{q: 0.01 for q in PIPELINE}}
SERVE_SCALE = 0.1
SCALES = {"olap_pipeline": sorted(set(SCALE.values())), "serve_mixed": [SERVE_SCALE]}

# Per-layer metrics: every traced run reports all of them. A layer the
# workload never calls reads 0; the detail line lists the zeros.
PER_LAYER = (
    "session.get_spark_s", "session.table_calls", "session.table_s",
    "session.register_tables_s", "session.release_persisted_s",
    "queries.build_s", "queries.build_jobs",
    "spark.collect_s", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.executor_utilization",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    *(f"pipeline.{q}.{m}" for q in PIPELINE for m in ("wall_s", "jobs")),
    "dialect.translate_ms", "engine.sql_read_s", "engine.sql_write_s",
    "server.execute_rpc_s", "server.fetch_rpc_s", "server.fetch_rpcs",
    "server.query_elapsed_s", "server.protocol_s",
    "admission.admitted", "admission.queued_total", "admission.wait_s",
    "trace.self_s", "trace.latency_geomean_s",
)


@dataclass
class Op:
    """One operation: a registry query call or a serving-door statement."""

    name: str  # query name, or template/statement kind on the serving door
    start: float
    latency: float
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    check_key: tuple | None = None  # (scale factor, query name or SQL) for the oracle
    kind: str = "read"  # serving door: read / write / refresh / readback
    lane: int = 0  # the closed-loop caller that issued it
    session: int = 0  # serving door: the caller's session it ran in
    wrong: str | None = None  # set by the oracle check
    build: float = 0.0
    server_elapsed: float | None = None
    stats: dict = field(default_factory=dict)  # traced: Spark accounting


@dataclass
class Run:
    setup: dict  # named set-up intervals, seconds
    warmup: list  # Op
    timed: list  # Op
    wall: float  # timed region, seconds
    sessions: list = field(default_factory=list)  # serving door: (lane, session, wall)
    extra: dict = field(default_factory=dict)  # workload-specific readouts
    layers: dict = field(default_factory=dict)  # traced: per-layer metrics


class Ctx:
    def __init__(self, spark, data_dirs, run_dir, seed, seconds, tracer):
        self.spark, self.data_dirs, self.run_dir = spark, data_dirs, run_dir
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.rng = random.Random(seed)
        self.cores = spark.sparkContext.defaultParallelism


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# -- registry workload (olap_pipeline) ----------------------------------------------

def _registry_op(ctx: Ctx, query, op_id: int) -> Op:
    from impalatogo_spark.session import release_persisted

    sc, tracer = ctx.spark.sparkContext, ctx.tracer
    group = f"perfbench-{op_id}"
    if tracer:
        tracer.set_op(op_id)
        sc.setJobGroup(group, query.name)
    op = Op(query.name, time.perf_counter(), 0.0, check_key=(SCALE[query.name], query.name))
    try:
        df = query.spark_fn(ctx.spark, ctx.data_dirs[SCALE[query.name]])
        t_build, wall_build = time.perf_counter(), time.time() * 1000
        op.rows = df.collect()
        op.latency = time.perf_counter() - op.start
        op.build = t_build - op.start
        op.columns = list(df.columns)
    except Exception as e:  # counted in error_rate, never fatal
        op.latency = time.perf_counter() - op.start
        op.error, df = f"{type(e).__name__}: {str(e)[:200]}", None
    release_persisted()  # between operations, inside the timed region
    if tracer:
        sc.setJobGroup(None, None)
        tracer.set_op(None)
        tr.wait_for_listeners(sc)
        ids = tr.job_ids_for_group(sc, group)
        op.stats = tr.job_stats(sc, ids)
        if df is not None:
            op.stats["build_jobs"] = tr.submitted_before(sc, ids, wall_build)
            op.stats.update(tr.catalyst_ms(df))
    return op


def _registry(ctx: Ctx, names) -> Run:
    from impalatogo_spark.queries import all_queries

    reg = all_queries()
    queries = [reg[n] for n in names]
    op_id = 0

    def one_pass():
        nonlocal op_id
        out = []
        for q in ctx.rng.sample(queries, len(queries)):
            op_id += 1
            out.append(_registry_op(ctx, q, op_id))
        return out

    t = time.perf_counter()
    warmup = one_pass()
    setup = {"warmup_s": time.perf_counter() - t}
    # Whole passes, so every run times the same set of queries; stop when
    # another pass would overshoot the budget by more than half a pass.
    timed, t0 = [], time.perf_counter()
    while True:
        timed += one_pass()
        elapsed = time.perf_counter() - t0
        passes = len(timed) // len(queries)
        if elapsed + 0.5 * elapsed / passes >= ctx.seconds:
            break
    run = Run(setup, warmup, timed, time.perf_counter() - t0)
    if ctx.tracer:
        run.layers = _registry_layers(ctx, run, t0)
    return run


def _registry_layers(ctx: Ctx, run: Run, t0: float) -> dict:
    tracer, ops = ctx.tracer, run.timed
    t1 = t0 + run.wall
    n = len(ops)
    st = {k: sum(o.stats.get(k, 0) for o in ops) for k in (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
        "gc_ms", "shuffle_write_bytes", "build_jobs", "analysis",
        "optimization", "planning")}
    tables = tracer.select("session.table", t0, t1)
    out = {
        "session.table_calls": len(tables) / n,
        "session.table_s": sum(s.end - s.start for s in tables) / n,
        "session.register_tables_s": mean(
            s.end - s.start for s in tracer.select("session.register_tables", t0, t1)),
        "session.release_persisted_s": mean(
            s.end - s.start for s in tracer.select("session.release_persisted", t0, t1)),
        "queries.build_s": mean(o.build for o in ops),
        "queries.build_jobs": st["build_jobs"] / n,
        "spark.collect_s": mean(o.latency - o.build for o in ops),
        "spark.executor_utilization": st["executor_run_ms"] / (
            1000 * sum(o.latency for o in ops) * ctx.cores),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "shuffle_write_bytes"):
        out[f"spark.{k}"] = st[k] / n
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.{k}_ms"] = st[k] / n
    for q in PIPELINE:
        mine = [o for o in ops if o.name == q]
        if mine:
            out[f"pipeline.{q}.wall_s"] = mean(o.latency for o in mine)
            out[f"pipeline.{q}.jobs"] = mean(o.stats.get("jobs", 0) for o in mine)
    return out


def olap_pipeline(ctx: Ctx) -> Run:
    return _registry(ctx, OLAP + PIPELINE)


# -- serve_mixed ------------------------------------------------------------------

CLIENTS = 2  # four, with the handler threads and local[4] executors, oversubscribed 4 cores
WARMUP_SESSIONS = 3  # per client; session time keeps falling over the first few
FETCH_ROWS = 100  # client fetch batch; the top-k template spans 3 batches

READ_TEMPLATES = {
    "q1_pricing": (
        "SELECT l_returnflag, l_linestatus, count(*) AS n, "
        "round(sum(l_quantity), 2) AS qty, round(sum(l_extendedprice), 2) AS base, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS disc, "
        "round(avg(l_discount), 4) AS avg_disc FROM lineitem "
        "WHERE l_shipdate <= CAST('{day}' AS TIMESTAMP) "
        "GROUP BY l_returnflag, l_linestatus"),
    "q6_revenue": (
        "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue FROM lineitem "
        "WHERE l_shipdate >= CAST('{year}-01-01' AS TIMESTAMP) "
        "AND l_shipdate < CAST('{next_year}-01-01' AS TIMESTAMP) "
        "AND l_discount BETWEEN {disc_lo} AND {disc_hi} AND l_quantity < {qty}"),
    "order_lookup": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
        "FROM orders WHERE o_orderkey = {key}"),
    "segment_revenue": (
        "SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE c_nationkey = {nation} GROUP BY c_mktsegment"),
    "events_topk": (
        "SELECT user_id, count(*) AS n, round(sum(value), 2) AS total FROM events "
        "WHERE event_type = '{etype}' GROUP BY user_id "
        "ORDER BY n DESC, user_id LIMIT 250"),
}
WRITE_PRED = ("o_orderdate >= CAST('{lo}' AS TIMESTAMP) "
              "AND o_orderdate < CAST('{hi}' AS TIMESTAMP)")


def _read_params(rng: random.Random, template: str) -> dict:
    if template == "q1_pricing":
        return {"day": f"1998-{rng.randint(6, 12):02d}-01"}
    if template == "q6_revenue":
        year, disc = rng.randint(1995, 2000), rng.randint(2, 9) / 100
        return {"year": year, "next_year": year + 1, "disc_lo": round(disc - 0.01, 2),
                "disc_hi": round(disc + 0.01, 2), "qty": rng.randint(24, 25)}
    if template == "order_lookup":
        return {"key": rng.randrange(150_000)}
    if template == "segment_revenue":
        return {"nation": rng.randrange(25)}
    return {"etype": rng.choice(["click", "error", "purchase", "signup", "view"])}


def _write_group(rng: random.Random, table: str):
    """INSERT OVERWRITE one partition, REFRESH, read the partition back."""
    slot, year, month = rng.randrange(4), rng.randint(1995, 2000), rng.randint(1, 11)
    pred = WRITE_PRED.format(lo=f"{year}-{month:02d}-01", hi=f"{year}-{month + 1:02d}-01")
    return [
        ("write", f"INSERT OVERWRITE TABLE {table} PARTITION (p={slot}) "
                  f"SELECT o_orderkey, o_totalprice FROM orders WHERE {pred}", None),
        ("refresh", f"REFRESH {table}", None),
        ("readback", f"SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total "
                     f"FROM {table} WHERE p = {slot}",
         f"SELECT count(*) AS n, round(sum(o_totalprice), 2) AS total FROM orders WHERE {pred}"),
    ]


class _Client:
    def __init__(self, ctx: Ctx, k: int, host: str, port: int):
        self.ctx, self.k, self.addr = ctx, k, (host, port)
        self.rng = random.Random(ctx.seed * 1000 + k)
        self.table = f"perfbench_w{k}"
        self.ops: list[Op] = []
        self.opens: list[float] = []
        self.sessions: list[float] = []  # wall time of each session
        self.fatal: str | None = None

    def _statement(self, client, kind, name, sql, oracle_sql=None):
        op = Op(name, time.perf_counter(), 0.0, kind=kind, lane=self.k,
                session=len(self.sessions),
                check_key=((SERVE_SCALE, oracle_sql or sql)
                           if kind in ("read", "readback") else None))
        try:
            resp = client.execute(sql, fetch=FETCH_ROWS)
            op.rows = client.fetch_all(resp, max_rows=FETCH_ROWS)
            op.latency = time.perf_counter() - op.start
            op.columns = list(resp.get("columns") or [])
            op.server_elapsed = resp.get("elapsed")
        except Exception as e:
            op.latency = time.perf_counter() - op.start
            op.error = f"{type(e).__name__}: {str(e)[:200]}"
        self.ops.append(op)

    def _session(self, statements) -> None:
        from impalatogo_spark.server import I2SClient

        t_session = time.perf_counter()
        client = I2SClient(*self.addr)
        try:
            t = time.perf_counter()
            client.open_session()
            self.opens.append(time.perf_counter() - t)
            for kind, name, sql, oracle_sql in statements:
                self._statement(client, kind, name, sql, oracle_sql)
            client.call(op="close_session", session=client.session)
        finally:
            client.close()
        self.sessions.append(time.perf_counter() - t_session)

    def _draw_session(self):
        """Every read template once and one write group, in seeded order
        with seeded parameters: the statement mix is the same for all seeds."""
        slots = sorted(READ_TEMPLATES) + ["write"]
        out = []
        for t in self.rng.sample(slots, len(slots)):
            if t == "write":
                out += [(kind, kind, sql, o) for kind, sql, o in _write_group(self.rng, self.table)]
            else:
                out.append(("read", t, READ_TEMPLATES[t].format(**_read_params(self.rng, t)), None))
        return out

    def warmup(self) -> None:
        """Create the client's table, then run WARMUP_SESSIONS sessions."""
        create = (f"CREATE TABLE {self.table} (o_orderkey BIGINT, o_totalprice DOUBLE) "
                  f"PARTITIONED BY (p INT) STORED AS PARQUET "
                  f"LOCATION '{os.path.join(self.ctx.run_dir, self.table)}'")
        try:
            self._session([("other", "create", create, None)] + self._draw_session())
            for _ in range(WARMUP_SESSIONS - 1):
                self._session(self._draw_session())
        except Exception as e:
            self.fatal = f"{type(e).__name__}: {e}"

    def loop(self, deadline: float) -> None:
        """Whole sessions until the deadline: every timed session has the
        same statement mix, whatever the seed or the machine's speed."""
        try:
            while time.perf_counter() < deadline:
                self._session(self._draw_session())
        except Exception as e:
            self.fatal = f"{type(e).__name__}: {e}"


def _in_threads(clients, method, *args) -> None:
    threads = [threading.Thread(target=getattr(c, method), args=args) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def serve_mixed(ctx: Ctx) -> Run:
    from impalatogo_spark.server import I2SServer

    sc = ctx.spark.sparkContext
    t = time.perf_counter()
    srv = I2SServer(ctx.spark, sf_dir=ctx.data_dirs[SERVE_SCALE])
    host, port = srv.start()
    setup = {"server_start_s": time.perf_counter() - t}
    try:
        clients = [_Client(ctx, k, host, port) for k in range(CLIENTS)]
        t = time.perf_counter()
        _in_threads(clients, "warmup")
        setup["warmup_s"] = time.perf_counter() - t
        warm_ops = [o for c in clients for o in c.ops]
        for c in clients:
            c.ops, c.opens, c.sessions = [], [], []
        adm0 = srv.admission.stats().get("default", {})
        jobs0 = set(tr.all_job_ids(sc)) if ctx.tracer else set()
        t0 = time.perf_counter()
        if not any(c.fatal for c in clients):
            _in_threads(clients, "loop", t0 + ctx.seconds)
        wall = time.perf_counter() - t0
        adm1 = srv.admission.stats().get("default", {})
    finally:
        srv.stop()
    fatal = [c.fatal for c in clients if c.fatal]
    run = Run(setup, warm_ops, [o for c in clients for o in c.ops], wall,
              sessions=[(c.k, i, w) for c in clients for i, w in enumerate(c.sessions)])
    run.extra = {"opens": [x for c in clients for x in c.opens], "fatal": fatal}
    if ctx.tracer:
        tr.wait_for_listeners(sc)
        stats = tr.job_stats(sc, sorted(set(tr.all_job_ids(sc)) - jobs0))
        run.layers = _serve_layers(ctx, run, t0, stats, adm0, adm1)
    return run


def _serve_layers(ctx: Ctx, run: Run, t0: float, stats: dict, adm0: dict, adm1: dict) -> dict:
    tracer, ops = ctx.tracer, run.timed
    t1 = t0 + run.wall
    n = len(ops) or 1
    reads = [o for o in ops if o.kind in ("read", "readback") and not o.error]

    def span_mean(name, kind=None, scale=1.0):
        return mean((s.end - s.start) * scale for s in tracer.select(name, t0, t1, kind))

    tables = tracer.select("session.table", t0, t1)
    rpcs = tracer.select("server.rpc", t0, t1, "fetch")
    phases = [tr.catalyst_ms(df) for start, df in tracer.frames if t0 <= start <= t1]
    elapsed = [o for o in reads if o.server_elapsed is not None]
    out = {
        "session.table_calls": len(tables) / n,
        "session.table_s": sum(s.end - s.start for s in tables) / n,
        "session.register_tables_s": span_mean("session.register_tables"),
        "session.release_persisted_s": span_mean("session.release_persisted"),
        "spark.executor_utilization": stats["executor_run_ms"] / (1000 * run.wall * ctx.cores),
        "dialect.translate_ms": span_mean("dialect.translate", scale=1000.0),
        "engine.sql_read_s": span_mean("engine.sql", "read"),
        "engine.sql_write_s": span_mean("engine.sql", "write"),
        "server.execute_rpc_s": span_mean("server.rpc", "execute"),
        "server.fetch_rpc_s": mean(s.end - s.start for s in rpcs),
        "server.fetch_rpcs": len(rpcs) / (len(reads) or 1),
        "server.query_elapsed_s": mean(o.server_elapsed for o in elapsed),
        "server.protocol_s": mean(o.latency - o.server_elapsed for o in elapsed),
        "admission.admitted": adm1.get("admitted", 0) - adm0.get("admitted", 0),
        "admission.queued_total": adm1.get("queued_total", 0) - adm0.get("queued_total", 0),
        "admission.wait_s": span_mean("admission.admit"),
    }
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "shuffle_write_bytes"):
        out[f"spark.{k}"] = stats[k] / n
    for k in ("analysis", "optimization", "planning"):
        out[f"spark.{k}_ms"] = mean(p[k] for p in phases)
    return out


WORKLOADS = {"olap_pipeline": olap_pipeline, "serve_mixed": serve_mixed}


def oracle_keys(ops) -> set:
    return {o.check_key for o in ops if o.check_key is not None and not o.error}


def latencies(ops, kinds=("read",)) -> list[float]:
    return [o.latency for o in ops if o.kind in kinds and not o.error]


def median_or_zero(xs) -> float:
    return statistics.median(xs) if xs else 0.0
