"""The three workloads. Each drives the system only through public
calls — ``MemoryEngine.open/add/search/get_all/save``,
``explain_ingest()`` and the query registry — and returns a
:class:`Result` holding its end-to-end metrics, per-layer metrics,
per-op failures and details.

All three run one client in a closed loop: the next call is issued
only after the previous one returned.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field
from typing import Any

import streams
from probe import HostBracket, Jvm, SparkOps, Spans

#: fixed clock for every engine: 2025-10-27T00:00:00Z, after the
#: fixtures' last created_at, so recency and expiry never depend on
#: the day the benchmark runs
NOW_MS = 1_761_523_200_000
#: setup repetitions per run; setup_s reports their median
SETUP_REPEATS = 3
#: ops per second of --seconds, sized from the per-op costs measured at
#: the seed (README.md); the amount of work is fixed by --seconds, not
#: by the clock, so a faster program does the same work in less time
RECALL_SEARCHES_PER_S = 0.9
CONVERSE_TURNS_PER_S = 0.1
#: recall's warm-up spec: anchored and diverse
WARM_SPEC = "bob/graph/past/k5/mmr/0"
#: converse saves the store every SAVE_EVERY turns and after its last
SAVE_EVERY = 8


@dataclass
class Result:
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    detail: dict[str, Any] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failures.append(what)


@dataclass
class Context:
    work: str
    seed: int
    seconds: int
    trace: bool
    store_dir: str
    data_dir: str | None = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it
    (p50 at the least), by linear interpolation; returns (value, pct)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0
    pct = max(50, math.floor(100 * (1 - 10 / n)))
    s = sorted(xs)
    pos = pct / 100 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo), pct


def id_digest(ids: list[int]) -> str:
    return hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest()[:16]


class TimedEmbedder:
    """Wraps the deterministic ``HashEmbedder`` so the benchmark can
    tell how much of an op is spent in its own mock."""

    def __init__(self) -> None:
        from grafeo_memory_spark.protocols import HashEmbedder

        self._inner = HashEmbedder()
        self.seconds = 0.0

    @property
    def dimensions(self) -> int:
        return self._inner.dimensions

    def embed(self, texts: list[str]) -> list[list[float]]:
        t = time.perf_counter()
        try:
            return self._inner.embed(texts)
        finally:
            self.seconds += time.perf_counter() - t


class ScriptedPolicy:
    """Extractor + reconciler for ``converse``: replays the turn script.
    The turn's UPDATE and DELETE decisions target the best
    reconcile-probe candidates (highest score, lowest id), one each;
    a change left without a candidate is not made."""

    def __init__(self) -> None:
        self.turn: streams.Turn | None = None
        #: (action, target id) of the changes the last reconcile made
        self.applied: list[tuple[str, int]] = []
        self.seconds = 0.0

    def extract(self, text: str, prompt: str | None = None) -> dict:
        t = time.perf_counter()
        out = dict(self.turn.extraction)
        self.seconds += time.perf_counter() - t
        return out

    def reconcile(self, facts, candidates, prompt: str | None = None) -> dict:
        t = time.perf_counter()
        decisions = [dict(action="ADD", text=f) for f in facts]
        ranked = []
        for c in sorted(candidates, key=lambda c: (-c["score"], c["id"])):
            if int(c["id"]) not in ranked:
                ranked.append(int(c["id"]))
        self.applied = list(zip(self.turn.changes, ranked))
        for action, target in self.applied:
            if action == "UPDATE":
                decisions[0] = dict(
                    action="UPDATE", text=facts[0], target_memory_id=target
                )
            else:
                decisions.insert(0, dict(action="DELETE", target_memory_id=target))
        self.seconds += time.perf_counter() - t
        return {"decisions": decisions}


# ------------------------------------------------------------ checks
def check_search(rows, *, k: int, user_id: str, include_expired: bool,
                 order: str | None) -> list[str]:
    """Structural checks every search result must pass. ``order`` is
    "score", "chrono" or None (MMR returns selection order)."""
    bad = []
    ids = [r["memory_id"] for r in rows]
    if len(rows) > k:
        bad.append(f"{len(rows)} rows > k={k}")
    if len(set(ids)) != len(ids):
        bad.append("duplicate memory_id")
    if any(r["user_id"] != user_id for r in rows):
        bad.append("row outside user scope")
    if not include_expired and any(r["expired_at"] is not None for r in rows):
        bad.append("expired row without an include-expired query")
    if order == "chrono":
        keys = [(r["created_at"], r["memory_id"]) for r in rows]
    else:
        keys = [(-r["score"], r["memory_id"]) for r in rows]
    if order is not None and keys != sorted(keys):
        bad.append("results out of order")
    return bad


def search_expectations(query: str, diverse: bool = False) -> tuple[bool, str | None]:
    """(include_expired, order) the engine must honour for this query
    text, from the public temporal classifier."""
    from grafeo_memory_spark.functions.temporal import classify_temporal

    h = classify_temporal(query)
    if diverse:
        return h.include_expired, None
    return h.include_expired, "chrono" if h.sort_chronologically else "score"


# ------------------------------------------------------------ common
class Harness:
    """Session, setup timing, run conditions and trace plumbing shared
    by the workloads."""

    def __init__(self, ctx: Context) -> None:
        from grafeo_memory_spark.session import get_spark

        self.ctx = ctx
        self.result = Result()
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
            extra_conf={
                "spark.driver.memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = time.perf_counter() - t
        self.jvm = Jvm(self.spark)
        self.ops = SparkOps(self.spark) if ctx.trace else None
        self.spans = Spans(ctx.trace)
        self.host = HostBracket()
        self.layer_samples: dict[str, list[float]] = {}
        self.search_cpu: list[float] = []
        self.result.layers["session.start_s"] = self.session_start_s

    def sample(self, name: str, value: float) -> None:
        self.layer_samples.setdefault(name, []).append(value)

    def group(self, kind: str):
        """A job group around one op in traced runs, else a no-op."""
        if self.ops is None:
            return contextlib.nullcontext({})
        return self.ops.group(kind)

    def record_group(self, prefix: str, stats: dict, names: tuple[str, ...]) -> None:
        for n in names:
            if n in stats:
                self.sample(f"{prefix}.{n}", stats[n])

    def begin_measure(self) -> None:
        self.gc0 = self.jvm.gc_s()
        self.threads0 = self.jvm.thread_cpu_s()
        self.cpu0 = self.jvm.cpu_s()
        self.host.start()

    def end_measure(self) -> None:
        host = self.host.stop()
        r = self.result
        r.layers["host.steal_pct"] = host["steal_pct"]
        r.layers["host.iowait_pct"] = host["iowait_pct"]
        r.layers["jvm.gc_s"] = self.jvm.gc_s() - self.gc0
        threads = self.jvm.thread_cpu_s()
        r.detail["jvm_thread_cpu_s"] = dict(sorted(
            ((k, v - self.threads0.get(k, 0.0)) for k, v in threads.items()),
            key=lambda kv: -kv[1])[:12])
        r.detail["peak_rss_mb"] = self.jvm.peak_rss_mb()
        r.metrics["peak_rss_mb"] = sum(r.detail["peak_rss_mb"].values())
        for name, xs in self.layer_samples.items():
            r.layers[name] = median(xs)
        conf = self.spark.sparkContext.getConf()
        r.detail["spark_conf"] = {
            k: v for k, v in conf.getAll()
            if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))
        }
        r.detail["spans"] = self.spans.spans

    def open_engine(self, embedder, **kw):
        from grafeo_memory_spark.manager import MemoryEngine

        return MemoryEngine.open(
            self.spark, self.ctx.store_dir, embedder=embedder,
            now_fn=lambda: NOW_MS, instrument=self.ctx.trace, **kw,
        )

    def setup_engines(self, make_engine, warm) -> Any:
        """Open the store ``SETUP_REPEATS`` times, each followed by a
        warm-up call; setup_s is session start plus the median repeat.
        Returns the last engine."""
        times, opens, eng = [], [], None
        for _ in range(SETUP_REPEATS):
            if eng is not None:
                eng.close()
            t = time.perf_counter()
            eng = make_engine()
            t_open = time.perf_counter()
            warm(eng)
            times.append(time.perf_counter() - t)
            opens.append(t_open - t)
        self.result.metrics["setup_s"] = self.session_start_s + median(times)
        self.result.layers["store.open_s"] = median(opens)
        self.result.detail["setup_repeats_s"] = times
        return eng


#: explain_ingest() steps that belong to another layer than the manager
INGEST_STEP = {"execute_decisions": "lifecycle.execute_decisions_s"}
SEARCH_LAYER = ("jobs", "tasks", "executor_cpu_s", "driver_only_s", "slot_utilization")
ADD_LAYER = SEARCH_LAYER + ("shuffle_mb",)


def timed_search(h: Harness, eng, op: int, *, query: str, user_id: str, k: int,
                 anchors=None, diverse: bool = False):
    """One ``search()`` + ``collect()``; returns (rows, seconds)."""
    with h.spans.span("search", op=op), h.group("search") as st:
        c0 = h.jvm.cpu_s()
        t0 = time.perf_counter()
        with h.spans.span("search.plan", op=op):
            df = eng.search(query, user_id=user_id, k=k,
                            anchor_entity_names=anchors, diverse=diverse)
        t1 = time.perf_counter()
        with h.spans.span("search.collect", op=op):
            rows = df.collect()
        t2 = time.perf_counter()
        h.search_cpu.append(h.jvm.cpu_s() - c0)
    h.sample("search.plan_s", t1 - t0)
    h.sample("search.collect_s", t2 - t1)
    h.record_group("search", st, SEARCH_LAYER)
    return rows, t2 - t0


def search_metrics(h: Harness, times: list[float]) -> None:
    m = h.result.metrics
    m["search_p50_s"] = median(times)
    m["search_tail_s"], pct = tail(times)
    h.result.detail["search_tail_pct"] = pct
    h.result.detail["search_samples"] = len(times)
    # CPU per search as total / count: per-op CPU is bimodal (PySpark
    # worker and background JVM work lands in some ops and not others),
    # so its median jumps between the modes from run to run
    m["search_cpu_s"] = sum(h.search_cpu) / len(h.search_cpu) if h.search_cpu else 0.0
    h.result.detail["search_cpu_per_op_s"] = h.search_cpu


def store_partitions(h: Harness, eng) -> None:
    h.sample("store.memories_partitions_series",
             eng.store.memories.rdd.getNumPartitions())
    h.sample("store.edges_partitions_series",
             eng.store.edges.rdd.getNumPartitions())


def finish_partitions(h: Harness) -> None:
    """Last value and least-squares slope per turn of the partition
    counts read after each turn (traced runs only)."""
    for table in ("memories", "edges"):
        ys = h.layer_samples.pop(f"store.{table}_partitions_series", [])
        if not ys:
            continue
        h.result.layers[f"store.{table}_partitions"] = float(ys[-1])
        n = len(ys)
        xm, ym = (n - 1) / 2, sum(ys) / n
        den = sum((x - xm) ** 2 for x in range(n)) or 1.0
        h.result.layers[f"store.{table}_partitions_slope"] = (
            sum((x - xm) * (y - ym) for x, y in enumerate(ys)) / den
        )


# ------------------------------------------------------------ recall
def run_recall(ctx: Context, pool_file: str | None = None) -> Result:
    pool = {s["id"]: s for s in streams.load_pool(pool_file)}
    per_unit = len(streams.USERS) * len(streams.USER_SLOTS) + len(streams.MMR_SLOTS)
    unit = max(1, round(ctx.seconds * RECALL_SEARCHES_PER_S / per_unit))
    stream = streams.recall_stream(list(pool.values()), ctx.seed, unit)
    h = Harness(ctx)
    r = h.result
    emb = TimedEmbedder()
    # the warm-up search takes the graph branch and MMR too, so no timed
    # op pays their first-use code generation
    warm = pool[WARM_SPEC]
    eng = h.setup_engines(
        lambda: h.open_engine(emb),
        lambda e: e.search(warm["query"], user_id=warm["user_id"], k=warm["k"],
                           anchor_entity_names=warm["anchors"],
                           diverse=True).collect(),
    )
    emb.seconds = 0.0
    if ctx.trace:
        store_partitions(h, eng)
        finish_partitions(h)
    h.begin_measure()
    get_all_times: list[float] = []
    op_times: list[tuple[str, float]] = []
    t_session = time.perf_counter()
    for op, spec in enumerate(stream):
        r.attempted += 1
        e0 = emb.seconds
        try:
            if spec["op"] == "search":
                rows, dt = timed_search(
                    h, eng, op, query=spec["query"], user_id=spec["user_id"],
                    k=spec["k"], anchors=spec["anchors"], diverse=spec["diverse"],
                )
                op_times.append((spec["id"], dt))
                inc, order = search_expectations(spec["query"], spec["diverse"])
                bad = check_search(rows, k=spec["k"], user_id=spec["user_id"],
                                   include_expired=inc, order=order)
            else:
                with h.spans.span("get_all", op=op), h.group("get_all"):
                    t0 = time.perf_counter()
                    rows = eng.get_all(user_id=spec["user_id"],
                                       limit=spec["limit"]).collect()
                    get_all_times.append(time.perf_counter() - t0)
                bad = check_get_all(rows, spec)
            digest = id_digest([row["memory_id" if spec["op"] == "search" else "id"]
                                for row in rows])
            if digest != spec["digest"]:
                bad.append(f"digest {digest} != expected {spec['digest']}")
        except Exception as exc:  # an op that raises is a failed op
            bad = [f"{type(exc).__name__}: {str(exc)[:200]}"]
        h.sample("protocols.embed_s", emb.seconds - e0)
        if bad:
            r.fail(f"{spec['id']}: {'; '.join(bad)}")
    r.metrics["session_s"] = time.perf_counter() - t_session
    r.metrics["session_cpu_s"] = h.jvm.cpu_s() - h.cpu0
    search_metrics(h, [t for _, t in op_times])
    r.detail["get_all_p50_s"] = median(get_all_times)
    r.detail["search_s"] = op_times
    h.end_measure()
    eng.close()
    return r


def check_get_all(rows, spec) -> list[str]:
    bad = []
    if len(rows) != spec["limit"]:
        bad.append(f"{len(rows)} rows != limit {spec['limit']}")
    if any(row["user_id"] != spec["user_id"] or row["expired_at"] is not None
           for row in rows):
        bad.append("row outside scope or expired")
    keys = [(row["created_at"], row["id"]) for row in rows]
    if keys != sorted(keys):
        bad.append("get_all out of created_at order")
    return bad


# ---------------------------------------------------------- converse
def run_converse(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    turns = streams.converse_script(
        ctx.seed, max(2, round(ctx.seconds * CONVERSE_TURNS_PER_S))
    )
    h = Harness(ctx)
    r = h.result
    emb = TimedEmbedder()
    policy = ScriptedPolicy()
    eng = h.setup_engines(
        lambda: h.open_engine(emb, extractor=policy, reconciler=policy),
        lambda e: e.search("default likes coffee piano", user_id="default",
                           k=10).collect(),
    )
    live = {
        row["user_id"]: row["count"]
        for row in eng.store.memories.where(F.col("expired_at").isNull())
        .groupBy("user_id").count().collect()
    }
    emb.seconds = policy.seconds = 0.0
    h.begin_measure()
    add_times, search_times, save_times = [], [], []
    saves = 0
    op = 0
    changes = []
    for turn in turns:
        policy.turn, policy.applied = turn, []
        op += 1
        r.attempted += 1
        e0, p0 = emb.seconds, policy.seconds
        new_id = None
        try:
            with h.spans.span("add", op=op) as sp, h.group("add") as st:
                t0 = time.perf_counter()
                res = eng.add(turn.facts[0], user_id=turn.user_id,
                              session_id=turn.session_id)
                add_times.append(time.perf_counter() - t0)
            h.record_group("add", st, ADD_LAYER)
            if ctx.trace:
                steps = eng.explain_ingest()
                h.spans.add_steps(sp, steps)
                for step in steps:
                    h.sample(INGEST_STEP.get(step["name"], f"manager.add.{step['name']}_s"),
                             step["duration_ms"] / 1e3)
            bad, new_id = check_add(res, policy, turn)
            changes.append(policy.applied)
            live[turn.user_id] = live.get(turn.user_id, 0) + (
                len(res.added_ids) + len(res.updated_ids) - len(res.expired_ids)
            )
        except Exception as exc:
            bad = [f"add raised {type(exc).__name__}: {str(exc)[:200]}"]
        h.sample("protocols.embed_s", emb.seconds - e0)
        h.sample("protocols.policy_s", policy.seconds - p0)
        if bad:
            r.fail(f"turn {turn.index} add: {'; '.join(bad)}")

        op += 1
        r.attempted += 1
        query = turn.facts[0]
        try:
            rows, dt = timed_search(h, eng, op, query=query, user_id=turn.user_id,
                                    k=turn.k)
            search_times.append(dt)
            inc, order = search_expectations(query)
            bad = check_search(rows, k=turn.k, user_id=turn.user_id,
                               include_expired=inc, order=order)
            ids = [row["memory_id"] for row in rows]
            if new_id is not None and new_id not in ids:
                bad.append(f"new memory {new_id} not found by its own text")
            for action, target in policy.applied:
                if target in ids:
                    bad.append(f"{action} target {target} still served")
        except Exception as exc:
            bad = [f"search raised {type(exc).__name__}: {str(exc)[:200]}"]
        if bad:
            r.fail(f"turn {turn.index} search: {'; '.join(bad)}")
        if ctx.trace:
            store_partitions(h, eng)

        if (turn.index + 1) % SAVE_EVERY == 0 or turn is turns[-1]:
            op += 1
            r.attempted += 1
            saves += 1
            target = os.path.join(ctx.work, f"save-{saves}")
            try:
                with h.spans.span("save", op=op), h.group("save"):
                    t0 = time.perf_counter()
                    eng.save(target)
                    save_times.append(time.perf_counter() - t0)
                h.sample("store.save_s", save_times[-1])
            except Exception as exc:
                r.fail(f"save {saves}: {type(exc).__name__}: {str(exc)[:200]}")
            # the engine now reads from ``target``; older snapshots are free
            shutil.rmtree(os.path.join(ctx.work, f"save-{saves - 1}"),
                          ignore_errors=True)
    r.metrics["session_s"] = sum(add_times) + sum(search_times) + sum(save_times)
    r.metrics["session_cpu_s"] = h.jvm.cpu_s() - h.cpu0
    search_metrics(h, search_times)
    r.detail["add_p50_s"] = median(add_times)
    r.detail["add_tail_s"], r.detail["add_tail_pct"] = tail(add_times)
    r.detail["add_s"] = add_times
    r.detail["search_s"] = search_times
    r.detail["save_s"] = save_times
    r.detail["turns"] = len(turns)
    r.detail["changes"] = changes
    # end state: every user's live count moved exactly by the turns
    r.attempted += 1
    got = {
        row["user_id"]: row["count"]
        for row in eng.store.memories.where(F.col("expired_at").isNull())
        .groupBy("user_id").count().collect()
    }
    if got != live:
        r.fail(f"live counts {got} != expected {live}")
    if ctx.trace:
        finish_partitions(h)
    h.end_measure()
    eng.close()
    return r


def check_add(res, policy: ScriptedPolicy, turn: streams.Turn):
    """The add's result must match the decisions the policy returned;
    returns (problems, id of the memory holding the first new fact)."""
    bad = []
    want_updated = sum(action == "UPDATE" for action, _ in policy.applied)
    want_added = len(turn.facts) - want_updated
    if len(res.added_ids) != want_added or len(res.updated_ids) != want_updated:
        bad.append(f"added {len(res.added_ids)}/{want_added}, "
                   f"updated {len(res.updated_ids)}/{want_updated}")
    targets = sorted(target for _, target in policy.applied)
    if sorted(res.expired_ids) != targets:
        bad.append(f"expired {res.expired_ids} != {targets}")
    ids = res.updated_ids + res.added_ids
    return bad, (ids[0] if ids else None)


# --------------------------------------------------------- analytics
FAMILIES = {
    "graph_s": ("algo_q", "graph_q"),
    "corpus_s": ("corpus_q", "pipeline_ops_q"),
    "retrieval_s": ("vector_q", "search_q", "pipeline_q", "scoring_q"),
    "relational_s": ("relational_q",),
}
QUERY_LAYER = ("jobs", "tasks", "executor_cpu_s", "shuffle_mb", "spill_mb")


def registry() -> dict[str, Any]:
    import __spark_entry__ as entry
    from grafeo_memory_spark.queries import BENCH_EXTRAS

    queries = dict(entry.queries())
    queries.update(BENCH_EXTRAS)
    return queries


def observed(df):
    """Row count and an order-free digest over the rounded values,
    gathered by a ``pyspark.sql.Observation`` inside the timed action."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def rounded(name: str, dt):
        c = F.col(f"`{name}`")
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            return F.round(c, 4)
        if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(c, lambda x: F.round(x, 4))
        return c

    cols = [rounded(f.name, f.dataType) for f in df.schema.fields]
    obs = Observation()
    return df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*cols)).alias("digest"),
    ), obs


def run_analytics(ctx: Context, expected: dict[str, dict],
                  only: list[str] | None = None) -> Result:
    queries = registry()
    if only:
        queries = {q: queries[q] for q in only}
    h = Harness(ctx)
    r = h.result
    spark = h.spark
    # warm-up, as bench.py: JVM, parquet footers and the cosine codegen
    from grafeo_memory_spark.functions.vector import cosine_similarity

    def warm() -> None:
        for t in ("region", "embeddings", "documents", "lineitem", "orders", "events"):
            spark.read.parquet(os.path.join(ctx.data_dir, f"{t}.parquet")) \
                .write.format("noop").mode("overwrite").save()
        spark.read.parquet(os.path.join(ctx.data_dir, "embeddings.parquet")) \
            .limit(1000).select(cosine_similarity("embedding", "embedding")) \
            .write.format("noop").mode("overwrite").save()

    times = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        warm()
        times.append(time.perf_counter() - t)
    r.metrics["setup_s"] = h.session_start_s + median(times)
    r.detail["setup_repeats_s"] = times

    order = sorted(queries)
    random.Random(ctx.seed).shuffle(order)
    h.begin_measure()
    per_query: dict[str, dict] = {}
    for op, name in enumerate(order):
        fn = queries[name]
        module = fn.__module__.rsplit(".", 1)[-1]
        r.attempted += 1
        try:
            with h.spans.span(f"queries.{module}", op=op, query=name), \
                    h.group(name) as st:
                t0 = time.perf_counter()
                df, obs = observed(fn(spark, ctx.data_dir))
                t1 = time.perf_counter()
                action_wall = time.time()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            got = obs.get
            per_query[name] = dict(module=module, build_s=t1 - t0, action_s=t2 - t1,
                                   rows=got["rows"], digest=str(got["digest"]))
            if st:
                per_query[name].update({n: st[n] for n in QUERY_LAYER})
                per_query[name]["jobs_build"] = sum(
                    1 for s in st["job_starts"] if s < action_wall
                )
            want = expected.get(name)
            bad = []
            if want is None:
                bad.append("no expected record")
            else:
                if got["rows"] != want["rows"]:
                    bad.append(f"rows {got['rows']} != {want['rows']}")
                if want.get("digest") is not None and str(got["digest"]) != want["digest"]:
                    bad.append(f"digest {got['digest']} != {want['digest']}")
            if bad:
                r.fail(f"{name}: {'; '.join(bad)}")
        except Exception as exc:
            r.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
    total = {q: v["build_s"] + v["action_s"] for q, v in per_query.items()}
    r.metrics["sweep_s"] = sum(total.values())
    for metric, modules in FAMILIES.items():
        r.metrics[metric] = sum(
            t for q, t in total.items() if per_query[q]["module"] in modules
        )
    if ctx.trace:
        for module in sorted({v["module"] for v in per_query.values()}):
            rows = [v for v in per_query.values() if v["module"] == module]
            for key in ("build_s", "action_s", "jobs_build") + QUERY_LAYER:
                r.layers[f"queries.{module}.{key}"] = sum(v[key] for v in rows)
    r.detail["queries"] = per_query
    h.end_measure()
    return r

