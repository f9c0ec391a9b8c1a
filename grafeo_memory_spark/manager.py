"""MemoryEngine — the MemoryManager-shaped facade (SURVEY.md §7 phase 6;
reference `manager.py` public API: add / search / get_all / update /
delete / delete_all / history / stats / summarize / explain).

The LLM boundary follows the reference's own proven pattern
(`tests/mock_llm.py:46-63`): extraction, reconciliation and re-ranking
are pluggable protocols (protocols.py) with deterministic defaults, so
the whole pipeline is reproducible and unit-testable. Everything else is
DataFrame plans over the append-only Store.

Write serialization (T7/T8, reference `manager.py:283-284` per-user
asyncio lock): every mutating facade method takes the engine's
reentrant write lock, so overlapping calls — threads, or gathered
coroutines via AsyncMemoryEngine — apply in some serial order with no
data loss. The reference locks per user because its storage is
row-level; this engine swaps one immutable Store reference per write,
so the lock is engine-global. A multi-writer deployment would
partition ingest by user_id upstream (foreachBatch per key), which
preserves the same per-user ordering.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from typing import Any, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from grafeo_memory_spark.functions.scoring import ScoreConfig
from grafeo_memory_spark.functions.temporal import (
    classify_temporal,
    normalize_messages,
    parse_date_ms,
)
from grafeo_memory_spark.functions.vector import knn_multi_probe
from grafeo_memory_spark.lifecycle import (
    Decision,
    ExecResult,
    current_view,
    execute_decisions,
    hard_delete,
    memory_history,
    consolidate,
)
from grafeo_memory_spark.operators.filters import compile_filters, scope_filter
from grafeo_memory_spark.plans.search_pipeline import SearchRequest, search_pipeline
from grafeo_memory_spark.protocols import (
    EmbeddingClient,
    Extractor,
    HashEmbedder,
    Reconciler,
    Reranker,
    RunUsage,
    ScriptedReconciler,
    normalize_entity_name,
)
from grafeo_memory_spark.tracing import SpanRecorder, trace_operation
from grafeo_memory_spark.store import (
    EDGE_SCHEMA,
    ENTITY_SCHEMA,
    EPISODE_SCHEMA,
    Store,
    empty_store,
    load_store,
    local_frame,
)


def _call_with_optional_prompt(fn, *args, prompt):
    """Invoke a policy callable, passing ``prompt=`` only when its
    signature can take it — the P5 default prompts (`prompts.py`) must
    not break a prompt-unaware extractor/reconciler (positional-only
    `extract(text)` implementations keep working; a policy with
    ``**kwargs`` or a ``prompt`` parameter receives the template)."""
    import inspect

    introspectable = True
    try:
        params = inspect.signature(fn).parameters
        accepts = "prompt" in params or any(
            p.kind is inspect.Parameter.VAR_KEYWORD for p in params.values()
        )
    except (TypeError, ValueError):  # builtins / C callables: just try
        introspectable = False
        accepts = True
    if not accepts:
        return fn(*args)
    if introspectable:
        # signature says prompt-aware: a TypeError from the call is the
        # callable's own bug — re-raising beats silently invoking a
        # side-effecting extractor (e.g. a billed LLM call) twice
        # (ADVICE r8)
        return fn(*args, prompt=prompt)
    try:
        return fn(*args, prompt=prompt)
    except TypeError:
        # un-introspectable callable that turned out prompt-unaware:
        # retry bare rather than letting the caller's blanket except
        # silently turn every add() into an empty extraction
        return fn(*args)


def _locked(fn):
    """Serialize a mutating facade method on the engine's write lock
    (T7/T8; reference `manager.py:283-284`). Reentrant so locked
    methods can call each other (e.g. delete_all → delete)."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._write_lock:
            return fn(self, *args, **kwargs)

    return wrapper


def _collects_usage(fn):
    """Scope a per-operation RunUsage collector around a facade method
    (reference `_make_usage_collector` + AddResult.usage): every
    `_fire_usage` during the call accumulates into it, the collector is
    cleared even on error, and the result carries the total."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        op_usage = self._op_usage = RunUsage()
        try:
            res = fn(self, *args, **kwargs)
        finally:
            self._op_usage = None
        if isinstance(res, ExecResult):
            res.usage.incr(op_usage)
        return res

    return wrapper


class _PassthroughExtractor:
    """Default P4: the whole message is one fact, no entities/relations
    (the reference's infer=False raw-add path, `manager.py:226-248`)."""

    def extract(self, text: str, prompt: str | None = None) -> dict[str, Any]:
        return {"facts": [text], "entities": [], "relations": []}


class MemoryEngine:
    def __init__(
        self,
        spark: SparkSession,
        *,
        store: Store | None = None,
        embedder: EmbeddingClient | None = None,
        extractor: Extractor | None = None,
        reconciler: Reconciler | None = None,
        config: ScoreConfig | None = None,
        reranker: Reranker | None = None,
        describer=None,
        relation_reconciler=None,
        usage_callback=None,
        custom_fact_prompt: str | None = None,
        custom_update_prompt: str | None = None,
        custom_procedural_prompt: str | None = None,
        reconcile_threshold: float = 0.3,
        enable_graph_algorithms: bool = False,
        enable_episodes: bool = False,
        instrument: bool = False,
        now_fn=None,
    ):
        self.spark = spark
        self.store = store or empty_store(spark)
        self.embedder = embedder or HashEmbedder()
        self.extractor = extractor or _PassthroughExtractor()
        self.reconciler = reconciler or ScriptedReconciler()
        self.config = config or ScoreConfig()
        self.reranker = reranker
        #: P-vision policy (reference `vision.py:24-66`): image URLs →
        #: text descriptions merged into the ingest text. None disables
        #: the vision path (reference enable_vision=False default).
        self.describer = describer
        #: optional policy deciding which existing RELATION triples a
        #: new relation batch contradicts (reference
        #: `reconciliation/relations.py:26-62`): callable
        #: (new_relations, existing_rows) -> list of triples to delete
        self.relation_reconciler = relation_reconciler
        #: P6 usage callback: (operation: str, usage: RunUsage) -> None
        self.usage_callback = usage_callback
        #: P5 custom prompts (reference `types.py:65-67`): the fact /
        #: procedural prompt is selected per add() by memory type
        #: (reference `manager.py:251-253`); the update prompt rides the
        #: reconciliation call. Only passed to the policy when set, so
        #: prompt-unaware extractors/reconcilers keep working.
        self.custom_fact_prompt = custom_fact_prompt
        self.custom_update_prompt = custom_update_prompt
        self.custom_procedural_prompt = custom_procedural_prompt
        self.reconcile_threshold = reconcile_threshold
        self._write_lock = threading.RLock()
        #: per-operation RunUsage collector, live only inside add()
        self._op_usage: RunUsage | None = None
        self._now_fn = now_fn or (lambda: int(time.time() * 1000))
        self._last_stages: list[str] = []
        #: opt-in tracing (reference `types.py:88` instrument flag +
        #: `_tracing.py` spans): when True, every add() records one span
        #: per ingest stage into a SpanRecorder (and mirrors to OTel if
        #: importable); explain_ingest() reads the latest trace. False =
        #: zero overhead, the reference's default.
        self.tracer = SpanRecorder() if instrument else None
        self.enable_graph_algorithms = enable_graph_algorithms
        #: episodic provenance recording is opt-in (reference
        #: `types.py:103` enable_episodes=False): every add() also
        #: writes an Episode node + PRODUCED/MENTIONS edges when on
        self.enable_episodes = enable_episodes
        #: G4 dirty flag (reference `manager.py:247,323-324`): set on
        #: every write, cleared when metrics are recomputed lazily
        self._graph_dirty = True
        maxes = [
            df.agg(F.max(col)).collect()[0][0]
            for df, col in (
                (self.store.memories, "id"),
                (self.store.entities, "id"),
                (self.store.episodes, "id"),
            )
        ]
        self._next_node_id = max([m for m in maxes if m is not None] or [0]) + 1
        emax = self.store.edges.agg(F.max("edge_id")).collect()[0][0]
        self._next_edge_id = (emax or 0) + 1

    @classmethod
    def open(cls, spark: SparkSession, path: str, **kw) -> "MemoryEngine":
        """S1 — open a persisted store directory."""
        return cls(spark, store=load_store(spark, path), **kw)

    @classmethod
    def yolo(cls, spark: SparkSession, **kw) -> "MemoryEngine":
        """Every optional feature on (reference `MemoryConfig.yolo`,
        `types.py:148-171`): graph-metric boosts, episodic provenance,
        ingest tracing, and — when no usage_callback is supplied — a
        stderr usage logger."""
        import sys

        defaults: dict[str, Any] = dict(
            enable_graph_algorithms=True,
            enable_episodes=True,
            instrument=True,
        )
        defaults.update(kw)
        if "usage_callback" not in defaults:

            def _stderr_usage(operation: str, usage: RunUsage) -> None:
                print(f"[usage] {operation}: {usage}", file=sys.stderr)

            defaults["usage_callback"] = _stderr_usage
        return cls(spark, **defaults)

    def close(self) -> None:
        """Release the engine handle (reference `manager.close`). The
        Spark session is caller-owned and deliberately NOT stopped —
        matching the reference's rule that an externally injected db
        is never closed by the manager (`tests/test_db_injection.py`).
        Unpersists any cached frames this engine pinned."""
        for df in (self.store.memories, self.store.edges):
            try:
                df.unpersist()
            except Exception:
                pass

    def __enter__(self) -> "MemoryEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _fire_usage(self, operation: str, usage: "RunUsage") -> None:
        """Fire the P6 usage callback, swallowing callback errors — a
        broken accounting hook must never fail the operation itself
        (reference `_make_usage_collector`, `manager.py:177-192`).
        Also folds the usage into the in-flight operation's collector
        so results can carry aggregated usage (reference
        AddResult.usage, `types.py:330-337`)."""
        if self._op_usage is not None:
            self._op_usage.incr(usage)
        if self.usage_callback is None:
            return
        try:
            self.usage_callback(operation, usage)
        except Exception:
            pass

    def _make_usage_collector(self):
        """Name-for-name twin of the reference's collector accessor
        (`manager.py:177-193`): returns ``(collector, total)`` where
        calling ``collector(operation, usage)`` accumulates into
        ``total`` and fires the P6 usage callback with errors swallowed
        — the same contract `_fire_usage` applies to the engine's own
        operations, exposed for callers that meter external work."""
        from grafeo_memory_spark.protocols import RunUsage

        total = RunUsage()
        cb = self.usage_callback

        def collector(operation: str, usage: "RunUsage") -> None:
            total.incr(usage)
            if cb is None:
                return
            try:
                cb(operation, usage)
            except Exception:
                pass

        return collector, total

    def _span(self, name: str, **attributes):
        """One ingest-stage span (no-op context manager when
        ``instrument`` is off, reference `_tracing.py` contract)."""
        return trace_operation(
            name,
            enabled=self.tracer is not None,
            recorder=self.tracer,
            attributes=attributes or None,
        )

    # ------------------------------------------------------------ add
    @_locked
    @_collects_usage
    def add(
        self,
        messages,
        *,
        user_id: str = "default",
        session_id: str | None = None,
        run_id: str | None = None,
        agent_id: str | None = None,
        graph_name: str | None = None,
        metadata: dict | None = None,
        memory_type: str | None = None,
        infer: bool = True,
    ) -> ExecResult:
        """Ingest (reference `_add`, `manager.py:197-326`): normalize →
        extract (policy) → embed batch → multi-probe candidate search →
        reconcile (policy) → execute decisions → entity/relation graph →
        session chain + episode provenance."""
        now = self._now_fn()
        if self.tracer is not None:
            self.tracer.begin()
        with self._span("normalize"):
            text, actor_id, images = normalize_messages(messages)
        # vision slot (reference `manager.py:218-224`): describe each
        # image via the policy, append "[Image: ...]" lines to the text
        # BEFORE extraction, falling back per image on policy failure
        if images and self.describer is not None:
            with self._span("vision_describe", images=len(images)):
                try:
                    descs = self.describer.describe(images)
                    self._fire_usage(
                        "describe_image", RunUsage(calls=len(images))
                    )
                except Exception:
                    descs = ["[image: undescribed]"] * len(images)
            image_text = "\n".join(f"[Image: {d}]" for d in descs if d)
            if image_text:
                text = f"{text}\n{image_text}" if text else image_text
        scope = dict(
            session_id=session_id, run_id=run_id, agent_id=agent_id,
            graph_name=graph_name, actor_id=actor_id,
            role="user" if actor_id else None,
        )
        # P5 prompt selection by memory type (reference manager.py:251-253);
        # unset knobs fall back to the paraphrased default templates
        # (`prompts.py`, VERDICT r6 item 7) so a real LLM extractor gets
        # a working system prompt out of the box.
        from grafeo_memory_spark import prompts as _prompts

        custom = (
            self.custom_procedural_prompt
            if memory_type == "procedural"
            else self.custom_fact_prompt
        )
        prompt = (
            custom
            if custom is not None
            else _prompts.default_extraction_prompt(memory_type)
        )
        with self._span("extract", infer=infer) as sp:
            if not infer:
                ext = {"facts": [text], "entities": [], "relations": []}
            else:
                # extraction is policy: a failing extractor yields an
                # empty extraction (the add becomes a no-op) rather than
                # raising (reference `extraction/facts.py:47-51`)
                try:
                    ext = _call_with_optional_prompt(
                        self.extractor.extract, text, prompt=prompt
                    )
                    self._fire_usage("extract", RunUsage(calls=1))
                except Exception:
                    ext = {"facts": [], "entities": [], "relations": []}
            facts = [f for f in ext.get("facts", []) if f]
            if sp is not None:
                sp.attributes["facts"] = len(facts)
        if not facts:
            return ExecResult()
        with self._span("embed", facts=len(facts)):
            vecs = self.embedder.embed(facts)

        # V4 reconciliation probe over the current store (k=10/probe)
        candidates: list[dict[str, Any]] = []
        with self._span("reconcile_probe") as sp:
            live = current_view(self.store.memories).where(
                scope_filter(user_id=user_id, graph_name=graph_name)
            )
            if live.take(1) and infer:
                probes = local_frame(
                    self.spark,
                    [(i, v) for i, v in enumerate(vecs)],
                    "probe_id long, qv array<float>",
                )
                cand_df = knn_multi_probe(
                    live, probes, k=10, threshold=self.reconcile_threshold,
                    id_col="id",
                ).join(
                    self.store.memories.select("id", "text"), "id"
                )
                candidates = [
                    {"id": r["id"], "text": r["text"], "score": r["score"]}
                    for r in cand_df.collect()
                ]
            if sp is not None:
                sp.attributes["candidates"] = len(candidates)

        if infer:
            with self._span("reconcile", candidates=len(candidates)):
                try:
                    rec = _call_with_optional_prompt(
                        self.reconciler.reconcile,
                        facts,
                        candidates,
                        prompt=(
                            self.custom_update_prompt
                            if self.custom_update_prompt is not None
                            else _prompts.RECONCILIATION_SYSTEM
                        ),
                    )
                    self._fire_usage("reconcile", RunUsage(calls=1))
                except Exception:
                    # policy failure falls back to ADD-everything rather
                    # than losing the facts (reference
                    # `reconciliation/memories.py:98-104`)
                    rec = {
                        "decisions": [
                            {"action": "ADD", "text": f} for f in facts
                        ]
                    }
            decisions = [
                Decision(
                    action=d.get("action", "ADD"),
                    text=d.get("text"),
                    target_memory_id=d.get("target_memory_id"),
                    # policies emit dates as ISO strings (reference
                    # temporal annotation, `extraction/temporal.py`);
                    # parse here so the store always holds epoch ms
                    valid_at=parse_date_ms(d.get("valid_at")),
                    invalid_at=parse_date_ms(d.get("invalid_at")),
                    metadata=json.dumps(metadata) if metadata else None,
                    memory_type=d.get("memory_type", memory_type),
                    importance=d.get("importance"),
                )
                for d in rec.get("decisions", [])
            ]
        else:
            decisions = [
                Decision(
                    "ADD", f,
                    metadata=json.dumps(metadata) if metadata else None,
                    memory_type=memory_type,
                )
                for f in facts
            ]

        with self._span("execute_decisions", decisions=len(decisions)):
            self.store, res, self._next_node_id, self._next_edge_id = (
                execute_decisions(
                    self.store, decisions, self.embedder,
                    user_id=user_id, now_ms=now,
                    next_node_id=self._next_node_id,
                    next_edge_id=self._next_edge_id,
                    scope=scope,
                )
            )
        new_ids = res.added_ids + res.updated_ids
        mentioned_ids: list[int] = []
        if ext.get("entities"):
            with self._span("store_graph", entities=len(ext["entities"])):
                mentioned_ids = self._store_graph(
                    new_ids, ext["entities"], ext.get("relations", []),
                    user_id=user_id, graph_name=graph_name,
                )
        # Episodes and the LEADS_TO memory chain are mutually exclusive
        # (reference `manager.py:240-245`): with episodes on, session
        # continuity lives on NEXT_EPISODE edges and no LEADS_TO edges
        # are written; only with episodes off does the memory-level
        # session chain apply.
        if self.enable_episodes:
            with self._span("episode"):
                self._add_episode(
                    text, user_id, session_id, run_id, now, new_ids,
                    mentioned_ids,
                )
        elif (run_id or session_id) and new_ids:
            with self._span("session_chain"):
                self._link_session_chain(
                    new_ids, user_id, run_id or session_id, now,
                    graph_name=graph_name,
                )
        self._graph_dirty = True
        return res

    def _store_graph(
        self,
        memory_ids: Sequence[int],
        entities: Sequence[dict],
        relations: Sequence[dict],
        *,
        user_id: str,
        graph_name: str | None,
    ) -> list[int]:
        """J6 find-or-create entities + HAS_ENTITY/RELATION edges
        (reference `_store_graph` `manager.py:1646-1683`,
        `_find_or_create_entity` 1685-1710). Returns the touched entity
        ids so the episode writer can attach MENTIONS provenance."""
        names = {normalize_entity_name(e["name"]): e for e in entities}
        if not names:
            return []
        # J6 find-or-create match scope (reference
        # `_find_or_create_entity`, `manager.py:1685-1697`): (name,
        # user_id) — plus graph_name when one is set, so the same entity
        # name in two graphs gets two nodes
        match = (F.lower(F.col("name")).isin(list(names))) & (
            F.col("user_id") == user_id
        )
        if graph_name is not None:
            match = match & (F.col("graph_name") == graph_name)
        existing = {
            r["name"]: r["id"]
            for r in self.store.entities.where(match)
            .select(F.lower(F.col("name")).alias("name"), "id")
            .collect()
        }
        ent_rows = []
        ids: dict[str, int] = dict(existing)
        for name, e in names.items():
            if name in ids:
                continue
            eid = self._next_node_id
            self._next_node_id += 1
            ids[name] = eid
            ent_rows.append(
                dict(id=eid, name=name,
                     entity_type=e.get("entity_type", "concept"),
                     user_id=user_id, graph_name=graph_name)
            )
        edge_rows = []
        for mid in memory_ids:
            for eid in ids.values():
                edge_rows.append(
                    dict(edge_id=self._next_edge_id, src=mid, dst=eid,
                         edge_type="HAS_ENTITY", relation_type=None,
                         sequence=None)
                )
                self._next_edge_id += 1
        # J7/J8 — relation contradiction pass (reference
        # `reconciliation/relations.py:26-62` via `_store_graph`
        # `manager.py:1671-1678`): show the policy the existing outgoing
        # relations of the touched entities; delete what it contradicts
        if relations and self.relation_reconciler and ids:
            from grafeo_memory_spark.lifecycle import (
                delete_relations,
                get_existing_relations,
            )

            # the policy sees rows keyed exactly as the reference's
            # (`manager.py:1712-1751` → reconciliation/relations.py):
            # source / target / relation_type / edge_id — so a policy
            # written for the reference drops in unchanged
            existing = [
                {
                    "edge_id": r["edge_id"],
                    "source": r["source_name"],
                    "target": r["target_name"],
                    "relation_type": r["relation_type"],
                }
                for r in get_existing_relations(
                    self.store, list(ids.values())
                ).collect()
            ]
            # no existing relations → nothing to contradict, and the
            # policy (an LLM call) is NOT invoked (reference
            # `reconciliation/relations.py:36-38` early return); a
            # failing policy yields no deletions rather than failing
            # the add (reference `relations.py:56-62` error → [])
            if existing:
                try:
                    to_delete = self.relation_reconciler(
                        list(relations), existing
                    )
                except Exception:
                    to_delete = []
                self._fire_usage("relation_reconcile", RunUsage(calls=1))
                if to_delete:
                    self.store = delete_relations(self.store, to_delete)
        for r in relations:
            s = ids.get(normalize_entity_name(r.get("source", "")))
            t = ids.get(normalize_entity_name(r.get("target", "")))
            if s is None or t is None:
                continue
            edge_rows.append(
                dict(edge_id=self._next_edge_id, src=s, dst=t,
                     edge_type="RELATION",
                     relation_type=r.get("relation_type"), sequence=None)
            )
            self._next_edge_id += 1
        st = self.store
        if ent_rows:
            st = st.with_(
                entities=st.entities.unionByName(
                    local_frame(self.spark, ent_rows, ENTITY_SCHEMA)
                )
            )
        if edge_rows:
            st = st.with_(
                edges=st.edges.unionByName(
                    local_frame(self.spark, edge_rows, EDGE_SCHEMA)
                )
            )
        self.store = st
        return sorted(ids.values())

    def _link_session_chain(
        self, new_ids: Sequence[int], user_id: str, run_key: str, now: int,
        graph_name: str | None = None,
    ) -> None:
        """J13/T1 — LEADS_TO from the session's latest prior memory
        (reference `_link_session_chain`, `manager.py:1182-1223`). The
        predecessor probe is graph-scoped when a graph_name is given
        (reference `manager.py:1199-1200`): the same run_id in two
        graphs builds two independent chains."""
        pred = (
            (F.col("user_id") == user_id)
            & (
                (F.col("run_id") == run_key)
                | (F.col("session_id") == run_key)
            )
            & ~F.col("id").isin(list(new_ids))
        )
        if graph_name is not None:
            pred = pred & (F.col("graph_name") == graph_name)
        prior = (
            current_view(self.store.memories)
            .where(pred)
            .orderBy(F.col("created_at").desc(), F.col("id").desc())
            .limit(1)
            .collect()
        )
        seq_start = 1
        chain = ([prior[0]["id"]] if prior else []) + sorted(new_ids)
        edge_rows = []
        for a, b in zip(chain, chain[1:]):
            edge_rows.append(
                dict(edge_id=self._next_edge_id, src=a, dst=b,
                     edge_type="LEADS_TO", relation_type=None,
                     sequence=seq_start)
            )
            self._next_edge_id += 1
            seq_start += 1
        if edge_rows:
            self.store = self.store.with_(
                edges=self.store.edges.unionByName(
                    local_frame(self.spark, edge_rows, EDGE_SCHEMA)
                )
            )

    def _add_episode(
        self, content, user_id, session_id, run_id, now, produced_ids,
        mentioned_ids=(),
    ) -> None:
        """Episode provenance + NEXT_EPISODE chain (reference
        `_create_episode` `manager.py:1227-1307`): PRODUCED edges to the
        memories it yielded, MENTIONS edges to the extracted entities."""
        eid = self._next_node_id
        self._next_node_id += 1
        ep = local_frame(
            self.spark,
            [
                dict(id=eid, content=content, source="message",
                     user_id=user_id, session_id=session_id, run_id=run_id,
                     created_at=now)
            ],
            EPISODE_SCHEMA,
        )
        edge_rows = [
            dict(edge_id=0, src=eid, dst=m,
                 edge_type="PRODUCED", relation_type=None, sequence=None)
            for m in produced_ids
        ] + [
            dict(edge_id=0, src=eid, dst=e,
                 edge_type="MENTIONS", relation_type=None, sequence=None)
            for e in mentioned_ids
        ]
        for r in edge_rows:
            r["edge_id"] = self._next_edge_id
            self._next_edge_id += 1
        # predecessor keyed on run_id-or-session_id, matching episodes
        # by THEIR run_id-or-session_id (reference `_link_episode_chain`
        # `manager.py:1163-1180`: node_run = run_id or session_id)
        run_key = run_id or session_id
        if run_key:
            prev = (
                self.store.episodes.where(
                    (F.col("user_id") == user_id)
                    & (
                        F.coalesce(F.col("run_id"), F.col("session_id"))
                        == run_key
                    )
                )
                .orderBy(F.col("created_at").desc(), F.col("id").desc())
                .limit(1)
                .collect()
            )
            if prev:
                edge_rows.append(
                    dict(edge_id=self._next_edge_id, src=prev[0]["id"],
                         dst=eid, edge_type="NEXT_EPISODE",
                         relation_type=None, sequence=None)
                )
                self._next_edge_id += 1
        st = self.store.with_(episodes=self.store.episodes.unionByName(ep))
        if edge_rows:
            st = st.with_(
                edges=st.edges.unionByName(
                    local_frame(self.spark, edge_rows, EDGE_SCHEMA)
                )
            )
        self.store = st

    # --------------------------------------------------------- search
    def search(
        self,
        query: str | None = None,
        *,
        query_vec: Sequence[float] | None = None,
        anchor_entity_names: Sequence[str] | None = None,
        k: int = 10,
        update_access_stats: bool = False,
        diverse: bool = False,
        **kw,
    ) -> DataFrame:
        """Retrieval (reference `_search` `manager.py:522-792`): X1
        temporal hints from the query text flip include_expired /
        chronological sort / candidate widening; then the composed
        pipeline plan (plans/search_pipeline.py)."""
        if query_vec is None:
            if query is None:
                raise ValueError("need query text or query_vec")
            query_vec = self.embedder.embed([query])[0]
        elif len(query_vec) != self.embedder.dimensions:
            # reference surfaces dimension mismatches as errors rather
            # than silently zip-truncating the cosine fold
            raise ValueError(
                f"query_vec has {len(query_vec)} dims, store embeddings "
                f"have {self.embedder.dimensions}"
            )
        if self.enable_graph_algorithms and self._graph_dirty:
            self.refresh_metrics()
        req_kw: dict[str, Any] = dict(kw)
        if query is not None:
            hints = classify_temporal(query)
            # the reference ORs the past-state hint into the caller's
            # flag (manager.py:553-560): "where did I previously live"
            # searches expired rows even when include_expired=False was
            # passed explicitly. Other hints stay caller-wins.
            req_kw["include_expired"] = (
                kw.get("include_expired", False) or hints.include_expired
            )
            req_kw.setdefault("sort_chronologically", hints.sort_chronologically)
            req_kw.setdefault("expand_limit", hints.expand_limit)
            if hints.point_in_time_hint is not None:
                req_kw.setdefault("point_in_time", hints.point_in_time_hint)
        # R9 — LLM re-rank (reference `reranker.py:50-124`, applied at
        # `manager.py:758-764`): widen candidates, score driver-side
        # (a top-2k list — policy calls are per-result, inherently
        # driver work), cut back to k. Falls back to the original order
        # on policy failure, like the reference.
        fetch_k = k * 2 if self.reranker else k
        if diverse:
            # V3 — MMR needs a candidate pool to diversify over
            # (reference fetch_k = 4k, `search/vector.py:194-291`)
            fetch_k = max(fetch_k, k * 4)
        req = SearchRequest(
            query_vec=query_vec, k=fetch_k,
            anchor_entity_names=anchor_entity_names,
            now_ms=self._now_fn(), config=self.config, **req_kw,
        )
        df, self._last_stages = search_pipeline(self.store, req)
        if diverse:
            df = self._mmr_diversify(df, query_vec, k)
        if self.reranker:
            rows = [r.asDict() for r in df.collect()]
            try:
                reranked = self.reranker.rerank(query or "", rows, k)
                self._fire_usage("rerank", RunUsage(calls=1))
            except Exception:
                reranked = rows[:k]
            self._last_stages.insert(self._last_stages.index("final"), "rerank")
            if not reranked:
                return df.limit(0)
            df = local_frame(self.spark, reranked, df.schema)
        if update_access_stats:
            # reference semantics (`scoring.py:115-121`): serving a
            # result counts as an access. Materialize the ≤k rows once,
            # write the stats back, return the materialized frame so
            # the caller doesn't re-run the pipeline against the
            # now-mutated store.
            rows = df.collect()
            self.record_access([r["memory_id"] for r in rows])
            df = local_frame(self.spark, rows, df.schema)
        return df

    def _mmr_diversify(self, df: DataFrame, query_vec, k: int) -> DataFrame:
        """V3 — diverse search (reference `diverse_search`,
        `search/vector.py:194-291`): greedy MMR over the ≤4k pipeline
        candidates. The distributed part already reduced the store to
        this pool; the selection loop is inherently sequential driver
        work over ~40 rows, the same split the reference engine uses.
        The returned score is the MMR score, in selection order; the
        selected rows re-enter the plan as a local relation
        (``store.local_frame``)."""
        from grafeo_memory_spark.functions.vector import mmr_select

        rows = [r.asDict() for r in df.collect()]
        if not rows:
            return df
        ids = [r["memory_id"] for r in rows]
        embs = {
            r["id"]: list(r["embedding"])
            for r in self.store.memories.where(F.col("id").isin(ids))
            .select("id", "embedding")
            .collect()
        }
        qv = list(query_vec)

        def _cos(a, b):
            import math as _m

            dp = sum(x * y for x, y in zip(a, b))
            na = _m.sqrt(sum(x * x for x in a))
            nb = _m.sqrt(sum(x * x for x in b))
            return 0.0 if na == 0 or nb == 0 else dp / (na * nb)

        cands = [
            (r["memory_id"], _cos(qv, embs.get(r["memory_id"], [])),
             embs.get(r["memory_id"], []))
            for r in rows
        ]
        sel = mmr_select(cands, qv, k=k, lambda_mult=self.config.mmr_lambda)
        by_id = {r["memory_id"]: r for r in rows}
        out = []
        for mid, score in sel:
            d = dict(by_id[mid])
            d["score"] = float(score)
            out.append(d)
        self._last_stages.insert(
            self._last_stages.index("final"), "mmr_diversify"
        )
        return local_frame(self.spark, out, df.schema)

    @_locked
    def record_access(
        self, memory_ids: Sequence[int], *, now_ms: int | None = None
    ) -> None:
        """A6 — bump access_count and stamp last_accessed for the given
        memories (reference `apply_importance_scoring` write-back,
        `scoring.py:115-121`). The id list is the ≤k search results, so
        the rewrite is a literal IN-list over one column — no shuffle."""
        if not memory_ids:
            return
        now = now_ms if now_ms is not None else self._now_fn()
        ids = [int(i) for i in memory_ids]
        hit = F.col("id").isin(ids)
        mem = self.store.memories.withColumn(
            "access_count",
            F.when(hit, F.coalesce(F.col("access_count"), F.lit(0)) + 1)
            .otherwise(F.col("access_count")),
        ).withColumn(
            "last_accessed",
            F.when(hit, F.lit(now)).otherwise(F.col("last_accessed")),
        )
        self.store = self.store.with_(memories=mem)

    def search_grouped(
        self, query: str | None = None, **kw
    ) -> dict[str, list[dict[str, Any]]]:
        """Session-grouped search (reference ``search(grouped=True)``,
        `manager.py:1571-1583,2175`): the top-k results bucketed by
        session_id ('default' for none), chronological within each
        group. Grouping the ≤k final rows is inherently driver work —
        the distributed part is the search itself."""
        rows = [r.asDict() for r in self.search(query, **kw).collect()]
        groups: dict[str, list[dict[str, Any]]] = {}
        for r in rows:
            groups.setdefault(r.get("session_id") or "default", []).append(r)
        for sid in groups:
            groups[sid].sort(key=lambda r: r.get("created_at") or 0)
        return groups

    def explain(self) -> list[str]:
        """Stage trace of the most recent search (reference
        `manager.py:794-834`)."""
        return list(self._last_stages)

    def explain_ingest(self) -> list[dict[str, Any]]:
        """Span + timing trace of the most recent add() — one step dict
        per ingest stage (normalize / vision_describe / extract / embed /
        reconcile_probe / reconcile / execute_decisions / store_graph /
        session_chain / episode), the ingest-side analogue of explain()
        (reference `_tracing.py` spans; VERDICT r3 item 8). Requires
        ``instrument=True``; raises otherwise, matching the reference's
        opt-in contract."""
        if self.tracer is None:
            raise RuntimeError(
                "instrumentation disabled — construct the engine with "
                "instrument=True"
            )
        return self.tracer.steps()

    @_locked
    def refresh_metrics(self, **kw) -> None:
        """G1-G4 — recompute and cache graph metrics on the memories
        table (reference lazy recompute at `manager.py:1585-1644`)."""
        from grafeo_memory_spark.graph.metrics import apply_metrics, compute_metrics

        self.store = apply_metrics(self.store, compute_metrics(self.store, **kw))
        self._graph_dirty = False

    # ---------------------------------------------------- maintenance
    def get_all(
        self, *, user_id: str | None = None, filters: dict | None = None,
        include_expired: bool = False, limit: int | None = None,
    ) -> DataFrame:
        df = current_view(self.store.memories, include_expired)
        if user_id is not None:
            df = df.where(F.col("user_id") == user_id)
        if filters:
            df = df.where(compile_filters(filters))
        df = df.orderBy(F.col("created_at").asc(), F.col("id").asc())
        return df.limit(limit) if limit else df

    @_locked
    def update(self, memory_id: int, text: str, *, user_id: str = "default") -> ExecResult:
        """Direct in-place text update on the SAME node id (reference
        public `_update`, `manager.py:836-855` + `_update_memory`
        1093-1112): re-embed, stamp updated_at, append an UPDATE
        history row under the same id — `history(id)` reads
        ADD + UPDATE (reference `tests/test_manager.py`
        test_update_records_history). Distinct from the reconciler's
        UPDATE *decision*, which soft-expires + SUPERSEDES + inherits
        (`lifecycle.py` UPDATE branch) — the reference keeps the same
        split between the two paths."""
        mid = int(memory_id)
        now = self._now_fn()
        old = self.store.memories.where(F.col("id") == mid).select("text").take(1)
        if not old:
            raise ValueError(f"unknown memory id {memory_id}")
        old_text = old[0]["text"]
        vec = F.array(
            *[F.lit(float(x)) for x in self.embedder.embed([text])[0]]
        ).cast("array<float>")
        hit = F.col("id") == mid
        self.store = self.store.with_(
            memories=self.store.memories
            .withColumn("text", F.when(hit, F.lit(text)).otherwise(F.col("text")))
            .withColumn("updated_at", F.when(hit, F.lit(now)).otherwise(F.col("updated_at")))
            .withColumn("embedding", F.when(hit, vec).otherwise(F.col("embedding"))),
            history=self.store.history.unionByName(
                local_frame(
                    self.spark,
                    [dict(memory_id=mid, event="UPDATE", old_text=old_text,
                          new_text=text, timestamp=now, actor_id=None,
                          role=None)],
                    self.store.history.schema,
                )
            ),
        )
        self._graph_dirty = True
        return ExecResult(updated_ids=[mid])

    @_locked
    def delete(self, memory_id: int, *, hard: bool = False) -> bool:
        """Soft delete via the executor; hard delete = S8 anti-join
        (reference public `delete()` `manager.py:2192-2198`). Returns
        True when a memory was actually removed, False for a missing or
        already-deleted id — the reference's repeat-delete contract
        (`tests/test_manager.py` delete twice → False)."""
        try:
            mid = int(memory_id)
        except (TypeError, ValueError):
            return False
        if hard:
            exists = bool(
                self.store.memories.where(F.col("id") == mid).take(1)
            )
            if not exists:
                return False
            self.store = hard_delete(self.store, [mid])
            self._graph_dirty = True
            return True
        live = bool(
            current_view(self.store.memories)
            .where(F.col("id") == mid)
            .take(1)
        )
        if not live:
            return False
        self._graph_dirty = True
        self.store, _, self._next_node_id, self._next_edge_id = (
            execute_decisions(
                self.store,
                [Decision("DELETE", target_memory_id=mid)],
                self.embedder, user_id="default", now_ms=self._now_fn(),
                next_node_id=self._next_node_id,
                next_edge_id=self._next_edge_id,
            )
        )
        return True

    def save(self, path: str) -> None:
        """Persist the store to a directory (S1 write half — reopen with
        :meth:`open`). The reference's db_path close/flush analogue.

        After the write, the engine re-points its Store at the saved
        snapshot: save_store swaps the parquet directories, so any
        previously loaded-from-``path`` lineage would reference replaced
        files; reloading also truncates the union-of-unions lineage a
        long add() session accumulates."""
        from grafeo_memory_spark.store import load_store, save_store

        save_store(self.store, path)
        self.store = load_store(self.spark, path)

    @_locked
    def delete_all(self, *, user_id: str) -> int:
        """A7 — bulk delete with count (reference `manager.py:2200-2207`)."""
        victims = [
            r["id"]
            for r in self.store.memories.where(F.col("user_id") == user_id)
            .select("id").collect()
        ]
        self.store = hard_delete(self.store, victims)
        self._graph_dirty = True
        return len(victims)

    def history(self, memory_id: int) -> DataFrame:
        return memory_history(self.store, memory_id)

    def stats(self, *, graph_name: str | None = None) -> dict[str, Any]:
        """S11 — store stats (reference `_stats_impl`,
        `manager.py:1926-2014`). ``graph_name`` scopes memories,
        entities, and relations to one graph, as the reference's
        config-level graph_name does; episodes stay global (the
        reference counts episode nodes unscoped)."""
        mem = current_view(self.store.memories)
        ent = self.store.entities
        if graph_name is not None:
            mem = mem.where(F.col("graph_name") == graph_name)
            ent = ent.where(F.col("graph_name") == graph_name)
        by_type = {
            r["memory_type"]: r["n"]
            for r in mem.groupBy(
                F.coalesce(F.col("memory_type"), F.lit("semantic")).alias(
                    "memory_type"
                )
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
        rel = self.store.edges.where(F.col("edge_type") == "RELATION")
        if graph_name is not None:
            # relations whose source entity belongs to the graph
            # (reference scopes via the source node's graph_name)
            rel = rel.join(
                ent.select(F.col("id").alias("src")), "src", "left_semi"
            )
        return {
            "memories_by_type": by_type,
            "total_memories": sum(by_type.values()),
            "entities": ent.count(),
            "episodes": self.store.episodes.count(),
            "relations": rel.count(),
            "communities": self.store.communities.count(),
            # reference MemoryStats.db_info (`types.py:267`): engine
            # introspection, deliberately without a total node count
            # (reference test_stats_db_info_has_no_total_node_count)
            "db_info": {
                "engine": "pyspark",
                "version": self.spark.version,
            },
        }

    @_locked
    def summarize(
        self, *, user_id: str, summarize_batch=None, preserve_recent: int = 5,
        batch_size: int = 20, topology_protect_threshold: float | None = None,
    ) -> list[int]:
        """Consolidation (reference `manager.py:1835-1915`)."""
        summarize_batch = summarize_batch or (
            lambda texts: "summary: " + "; ".join(t[:40] for t in texts)
        )
        self.store, sids, self._next_node_id, self._next_edge_id = consolidate(
            self.store, summarize_batch, self.embedder,
            user_id=user_id, now_ms=self._now_fn(),
            next_node_id=self._next_node_id,
            next_edge_id=self._next_edge_id,
            preserve_recent=preserve_recent, batch_size=batch_size,
            topology_protect_threshold=topology_protect_threshold,
        )
        return sids

    # ------------------------------------------------- facade: batch add
    @_locked
    def add_batch(
        self, messages_list: Sequence, *, infer: bool = True, **kw
    ) -> ExecResult:
        """Batch ingest (reference `add_batch`, `manager.py:2113-2140`):
        infer=False batch-embeds every text in ONE embed call before the
        per-message pipeline; infer=True runs each message through the
        full pipeline sequentially (the reference does the same — the
        reconciliation of message N must see the memories of N-1)."""
        agg = ExecResult()
        if not infer:
            texts = [normalize_messages(m)[0] for m in messages_list]
            cache = dict(zip(texts, self.embedder.embed(texts)))
            real = self.embedder

            class _Cached:
                dimensions = real.dimensions

                def embed(self, batch):
                    return [
                        cache[t] if t in cache else real.embed([t])[0]
                        for t in batch
                    ]

            self.embedder = _Cached()
            try:
                for m in messages_list:
                    agg.merge(self.add(m, infer=False, **kw))
            finally:
                self.embedder = real
            return agg
        for m in messages_list:
            agg.merge(self.add(m, infer=True, **kw))
        return agg

    # ---------------------------------------------- facade: temporal/graph
    @_locked
    def set_importance(self, memory_id: int, importance: float) -> bool:
        """Set the base importance score (reference `_set_importance_impl`,
        `manager.py:2016-2029`): range-checked, False for unknown ids."""
        if not 0.0 <= importance <= 1.0:
            raise ValueError("importance must be between 0.0 and 1.0")
        if not self.store.memories.where(F.col("id") == memory_id).take(1):
            return False
        self.store = self.store.with_(
            memories=self.store.memories.withColumn(
                "importance",
                F.when(F.col("id") == memory_id, F.lit(float(importance)))
                .otherwise(F.col("importance")),
            )
        )
        return True

    def temporal_chain(
        self,
        memory_id: int,
        *,
        user_id: str | None = None,
        graph_name: str | None = None,
        direction: str = "forward",
        max_depth: int = 5,
    ) -> DataFrame:
        """J10 — follow LEADS_TO edges from a memory (reference
        `temporal_chain`, `manager.py:1475-1569 / 2236-2249`): the
        reached memories (start excluded), optionally scoped to a user
        and graph_name, ordered by created_at.

        Output: (memory_id, text, created_at, session_id).
        """
        from grafeo_memory_spark.operators.traversals import expand_chain

        seed = local_frame(self.spark, [(int(memory_id),)], "node_id long")
        parts = []
        if direction in ("forward", "both"):
            parts.append(
                expand_chain(self.store.edges, seed, "LEADS_TO", max_depth,
                             "forward")
            )
        if direction in ("backward", "both"):
            parts.append(
                expand_chain(self.store.edges, seed, "LEADS_TO", max_depth,
                             "backward")
            )
        if not parts:
            raise ValueError(f"unknown direction {direction!r}")
        reached = parts[0]
        for p in parts[1:]:
            reached = reached.unionByName(p)
        mem = current_view(self.store.memories, include_expired=True)
        if user_id is not None:
            mem = mem.where(F.col("user_id") == user_id)
        if graph_name is not None:
            mem = mem.where(F.col("graph_name") == graph_name)
        return (
            reached.select(F.col("node_id").alias("memory_id")).distinct()
            .join(mem.withColumnRenamed("id", "memory_id"), "memory_id")
            .select("memory_id", "text", "created_at", "session_id")
            .orderBy("created_at", "memory_id")
        )

    def episode_chain(
        self, episode_id: int, *, direction: str = "forward",
        max_depth: int = 10,
    ) -> DataFrame:
        """J11 — follow NEXT_EPISODE edges for session replay (reference
        `_episode_chain_impl`, `manager.py:1407-1473`): backward
        predecessors first (farthest → nearest), then forward successors
        — the reference's `reversed(backward) + forward` order, encoded
        as a signed position column.

        Output: episode columns + ``position`` (− = predecessor).
        """
        from grafeo_memory_spark.operators.traversals import expand_chain

        seed = local_frame(self.spark, [(int(episode_id),)], "node_id long")
        parts = []
        if direction in ("backward", "both"):
            parts.append(
                expand_chain(self.store.edges, seed, "NEXT_EPISODE",
                             max_depth, "backward")
                .select("node_id", (-F.col("depth")).alias("position"))
            )
        if direction in ("forward", "both"):
            parts.append(
                expand_chain(self.store.edges, seed, "NEXT_EPISODE",
                             max_depth, "forward")
                .select("node_id", F.col("depth").alias("position"))
            )
        if not parts:
            raise ValueError(f"unknown direction {direction!r}")
        reached = parts[0]
        for p in parts[1:]:
            reached = reached.unionByName(p)
        return (
            reached.withColumnRenamed("node_id", "episode_id")
            .join(
                self.store.episodes.withColumnRenamed("id", "episode_id"),
                "episode_id",
            )
            .select(
                "episode_id", "content", "source", "user_id", "session_id",
                "run_id", "created_at", "position",
            )
            .orderBy("position")
        )

    def get_episodes(
        self, *, user_id: str = "default", session_id: str | None = None,
        limit: int = 50,
    ) -> DataFrame:
        """Episode listing (reference `_get_episodes_impl`,
        `manager.py:1309-1367`): episodes of a user (optionally one
        session) with their produced-memory ids and mentioned-entity
        names, oldest first, limited.

        Output: episode columns + ``produced_memories`` (sorted id
        array) + ``mentioned_entities`` (sorted name array).
        """
        eps = self.store.episodes.where(F.col("user_id") == user_id)
        if session_id is not None:
            eps = eps.where(F.col("session_id") == session_id)
        eps = eps.withColumnRenamed("id", "episode_id")
        produced = (
            self.store.edges.where(F.col("edge_type") == "PRODUCED")
            .groupBy(F.col("src").alias("episode_id"))
            .agg(F.sort_array(F.collect_list("dst")).alias("produced_memories"))
        )
        mentions = (
            self.store.edges.where(F.col("edge_type") == "MENTIONS")
            .select(F.col("src").alias("episode_id"),
                    F.col("dst").alias("entity_id"))
            .join(
                self.store.entities.select(
                    F.col("id").alias("entity_id"), "name"
                ),
                "entity_id",
            )
            .groupBy("episode_id")
            .agg(F.sort_array(F.collect_list("name")).alias("mentioned_entities"))
        )
        return (
            eps.join(produced, "episode_id", "left")
            .join(mentions, "episode_id", "left")
            .withColumn(
                "produced_memories",
                F.coalesce("produced_memories",
                           F.array().cast("array<long>")),
            )
            .withColumn(
                "mentioned_entities",
                F.coalesce("mentioned_entities",
                           F.array().cast("array<string>")),
            )
            .orderBy(F.col("created_at").asc(), F.col("episode_id").asc())
            .limit(limit)
        )

    def get_provenance(self, memory_id: int) -> DataFrame:
        """J12 — the episodes that PRODUCED a memory (reference
        `_get_provenance_impl`, `manager.py:1369-1405`)."""
        eps = (
            self.store.edges.where(
                (F.col("edge_type") == "PRODUCED")
                & (F.col("dst") == memory_id)
            )
            .select(F.col("src").alias("episode_id"))
            .join(
                self.store.episodes.withColumnRenamed("id", "episode_id"),
                "episode_id",
            )
        )
        return eps.orderBy("created_at", "episode_id")

    # ----------------------------------------------- facade: communities
    def detect_communities(
        self, *, user_id: str = "default", algorithm: str = "louvain",
        summarizer=None, max_iter: int = 20,
    ) -> list[dict]:
        """G3 + J15 — detect entity communities over the RELATION graph
        and materialize them as Community nodes + HAS_MEMBER edges
        (reference `manager.py` louvain → `communities.py:32-200`).
        ``algorithm``: 'louvain' (modularity-greedy) or 'lpa'."""
        from grafeo_memory_spark.communities import materialize_communities
        from grafeo_memory_spark.graph.algorithms import (
            label_propagation,
            louvain,
        )

        rel = self.store.edges.where(F.col("edge_type") == "RELATION")
        if algorithm == "lpa":
            parts = label_propagation(rel, max_iter=max_iter)
        else:
            parts = louvain(rel, max_iter=max_iter)
        self.store, infos, self._next_node_id, self._next_edge_id = (
            materialize_communities(
                self.store, parts, user_id=user_id, now_ms=self._now_fn(),
                next_node_id=self._next_node_id,
                next_edge_id=self._next_edge_id,
                summarizer=summarizer, usage_callback=self._fire_usage,
            )
        )
        return infos

    def get_communities(self, *, user_id: str = "default") -> DataFrame:
        """Read the materialized communities (reference
        `get_communities`, `communities.py:203-230`)."""
        from grafeo_memory_spark.communities import get_communities

        return get_communities(self.store, user_id)

    def get_community_context(
        self, entity_names: list[str], *, user_id: str = "default"
    ) -> DataFrame:
        """Communities containing any of the given entities — the
        search-time context enrichment (reference
        `get_community_context`, `communities.py:241-280`)."""
        from grafeo_memory_spark.communities import get_community_context

        return get_community_context(self.store, entity_names, user_id)
