"""Mutation / lifecycle executor (SURVEY.md §2.14) — the reference's
`_execute_decisions` (`manager.py:854-1035`) re-expressed as append-only
DataFrame transformations over a :class:`~grafeo_memory_spark.store.Store`.

Design (SURVEY §2.12 T3): nothing is mutated in place. "Expiring" a
memory rewrites the memories DataFrame through a broadcast join with a
tiny updates table; new versions are unioned on. Driver-built rows (new
versions, history, edges, the updates table) enter plans as JVM local
relations (``store.local_frame``), so no later action over the store
runs Python workers over them. The history DataFrame *is* the change
log (`history.py:39-139` legacy mode — in Spark the event-log design
gives engine-CDC and legacy semantics at once). At real
scale the same operations map 1:1 onto MERGE INTO on a lakehouse table
format; the logical plan here is the portable part.

Decision semantics (reference `manager.py:854-1035`):
- ADD → new memory + ADD history
- UPDATE w/o target → downgraded ADD (`manager.py:910-943`)
- UPDATE → expire old (``expired_at=now``, bi-temporal ``invalid_at`` =
  new fact's ``valid_at`` or now) → new node → SUPERSEDES edge →
  inherit old HAS_ENTITY edges → UPDATE history (945-1000)
- DELETE w/o target → NONE; DELETE → soft-expire + history (1002-1027)
- NONE → skip
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from grafeo_memory_spark.protocols import EmbeddingClient, RunUsage
from grafeo_memory_spark.store import (
    EDGE_SCHEMA,
    HISTORY_SCHEMA,
    MEMORY_SCHEMA,
    Store,
    local_frame,
)

ADD, UPDATE, DELETE, NONE = "ADD", "UPDATE", "DELETE", "NONE"


@dataclass
class Decision:
    """One reconciliation decision (reference `schemas.py:56-67`)."""

    action: str
    text: str | None = None
    target_memory_id: int | None = None
    valid_at: int | None = None
    invalid_at: int | None = None
    metadata: str | None = None
    memory_type: str | None = None
    importance: float | None = None


@dataclass
class ExecResult:
    """What happened, mirroring the reference's AddResult events."""

    added_ids: list[int] = field(default_factory=list)
    updated_ids: list[int] = field(default_factory=list)  # new ids
    expired_ids: list[int] = field(default_factory=list)
    skipped: int = 0
    #: aggregated policy-call usage for the operation that produced
    #: this result (reference AddResult.usage, `types.py:330-337`)
    usage: RunUsage = field(default_factory=RunUsage)

    def merge(self, other: "ExecResult") -> None:
        """Fold another result in (the reference's add_batch event
        aggregation, `manager.py:2349-2369`)."""
        self.added_ids += other.added_ids
        self.updated_ids += other.updated_ids
        self.expired_ids += other.expired_ids
        self.skipped += other.skipped
        self.usage.incr(other.usage)


def current_view(memories: DataFrame, include_expired: bool = False) -> DataFrame:
    """The SCD-2 'current state' view: ``expired_at IS NULL`` (F3)."""
    if include_expired:
        return memories
    return memories.where(F.col("expired_at").isNull())


def _memory_row(
    mid: int,
    text: str,
    embedding: list[float],
    now_ms: int,
    user_id: str,
    d: Decision,
    scope: dict[str, Any],
) -> dict[str, Any]:
    row = {f.name: None for f in MEMORY_SCHEMA.fields}
    row.update(
        id=mid,
        text=text,
        user_id=user_id,
        memory_type=d.memory_type,
        created_at=now_ms,
        updated_at=now_ms,
        learned_at=now_ms,
        metadata=d.metadata,
        importance=d.importance,
        access_count=0,
        valid_at=d.valid_at,
        invalid_at=d.invalid_at,
        embedding=embedding,
    )
    row.update({k: v for k, v in scope.items() if k in row})
    return row


def normalize_decisions(decisions: Sequence[Decision]) -> list[Decision]:
    """Reference validation (`reconciliation/memories.py:33-52`): the
    action string parses case-insensitively and an unknown action
    downgrades to NONE; UPDATE without target downgrades to ADD; DELETE
    without target to NONE. Policy output is untrusted — validation
    never raises, it degrades."""
    out = []
    for d in decisions:
        action = (d.action or "").upper()
        if action not in (ADD, UPDATE, DELETE, NONE):
            action = NONE
        if action != d.action:
            d = Decision(action, d.text, d.target_memory_id, d.valid_at,
                         d.invalid_at, d.metadata, d.memory_type,
                         d.importance)
        if d.action == UPDATE and d.target_memory_id is None:
            d = Decision(ADD, d.text, None, d.valid_at, d.invalid_at,
                         d.metadata, d.memory_type, d.importance)
        elif d.action == DELETE and d.target_memory_id is None:
            d = Decision(NONE)
        out.append(d)
    return out


def execute_decisions(
    store: Store,
    decisions: Sequence[Decision],
    embedder: EmbeddingClient,
    *,
    user_id: str,
    now_ms: int,
    next_node_id: int,
    next_edge_id: int,
    scope: dict[str, Any] | None = None,
) -> tuple[Store, ExecResult, int, int]:
    """Apply a decision batch; returns (new store, result, next ids).

    All per-decision work is driver-side (a decision batch is a handful
    of rows — the reference processes them in a Python loop too); the
    only cluster-side ops are the broadcast-join expiry rewrite and the
    inherited-edge copy, both O(|table|) single-pass.
    """
    spark = store.memories.sparkSession
    scope = scope or {}
    res = ExecResult()
    decisions = normalize_decisions(decisions)

    new_rows: list[dict[str, Any]] = []
    history_rows: list[dict[str, Any]] = []
    edge_rows: list[dict[str, Any]] = []
    # (old_id, invalid_at_value) pairs to expire
    expire: list[tuple[int, int | None]] = []
    # (new_id, old_id) pairs needing HAS_ENTITY inheritance
    inherit: list[tuple[int, int]] = []

    texts = [d.text for d in decisions if d.action in (ADD, UPDATE) and d.text]
    vecs = iter(embedder.embed(texts)) if texts else iter([])

    old_text = {}
    targets = [
        d.target_memory_id for d in decisions
        if d.action in (UPDATE, DELETE) and d.target_memory_id is not None
    ]
    if targets:
        old_text = {
            r["id"]: r["text"]
            for r in store.memories.where(F.col("id").isin(targets))
            .select("id", "text").collect()
        }

    def _hist(mid: int, event: str, old: str | None, new: str | None) -> None:
        history_rows.append(
            dict(memory_id=mid, event=event, old_text=old, new_text=new,
                 timestamp=now_ms, actor_id=scope.get("actor_id"),
                 role=scope.get("role"))
        )

    for d in decisions:
        if d.action == NONE or (d.action in (ADD, UPDATE) and not d.text):
            res.skipped += 1
            continue
        if d.action == ADD:
            mid = next_node_id
            next_node_id += 1
            new_rows.append(
                _memory_row(mid, d.text, next(vecs), now_ms, user_id, d, scope)
            )
            _hist(mid, ADD, None, d.text)
            res.added_ids.append(mid)
        elif d.action == UPDATE:
            old_id = d.target_memory_id
            mid = next_node_id
            next_node_id += 1
            new_rows.append(
                _memory_row(mid, d.text, next(vecs), now_ms, user_id, d, scope)
            )
            # bi-temporal: old version invalid from the new fact's
            # valid_at, else from now (reference manager.py:947-949)
            expire.append((old_id, d.valid_at or now_ms))
            edge_rows.append(
                dict(edge_id=next_edge_id, src=mid, dst=old_id,
                     edge_type="SUPERSEDES", relation_type=None, sequence=None)
            )
            next_edge_id += 1
            inherit.append((mid, old_id))
            # history rides the NEW memory id (reference manager.py:978
            # records UPDATE under new_memory_id with the old text), so
            # engine.history(new_id) shows the supersede event.
            _hist(mid, UPDATE, old_text.get(old_id), d.text)
            res.updated_ids.append(mid)
            res.expired_ids.append(old_id)
        elif d.action == DELETE:
            old_id = d.target_memory_id
            expire.append((old_id, now_ms))
            _hist(old_id, DELETE, old_text.get(old_id), None)
            res.expired_ids.append(old_id)

    memories = store.memories
    edges = store.edges

    if expire:
        # A batch may target the same id twice (e.g. an LLM reconciler
        # emitting UPDATE+DELETE for one memory). The reference applies
        # them sequentially and idempotently (set_node_property); keep
        # the LAST write per id so the left join below stays 1:1 and the
        # store's id-uniqueness invariant holds.
        last_per_id: dict[int, int | None] = {}
        for i, inv in expire:
            last_per_id[i] = inv
        upd = local_frame(
            spark,
            [(i, now_ms, inv) for i, inv in last_per_id.items()],
            "id long, _new_expired long, _new_invalid long",
        )
        memories = (
            memories.join(F.broadcast(upd), "id", "left")
            .withColumn("expired_at", F.coalesce("_new_expired", "expired_at"))
            .withColumn("invalid_at", F.coalesce("invalid_at", "_new_invalid"))
            .drop("_new_expired", "_new_invalid")
        )

    if inherit:
        # copy old HAS_ENTITY edges onto the new node (reference
        # `_inherit_entity_edges`, manager.py:1153-1180)
        pairs = local_frame(spark, inherit, "new_id long, src long")
        inherited = (
            store.edges.where(F.col("edge_type") == "HAS_ENTITY")
            .join(F.broadcast(pairs), "src")
            .select(
                F.col("new_id").alias("src"),
                "dst",
                "edge_type",
                "relation_type",
                "sequence",
            )
        )
        # fresh edge ids after the driver-known watermark, assigned
        # WITHOUT a global window (which would funnel all rows through
        # one task): hash-bucket on the deterministic (src, dst) key,
        # count per bucket (this is also the n_inh action), then
        # row_number within each bucket + a broadcast per-bucket offset.
        # Deterministic under recomputation (bucket = pmod(hash), not
        # spark_partition_id) and parallel across _ID_BUCKETS tasks.
        _ID_BUCKETS = 32
        bucketed = inherited.withColumn(
            "_b", F.pmod(F.hash("src", "dst"), F.lit(_ID_BUCKETS))
        )
        counts = {
            r["_b"]: r["n"]
            for r in bucketed.groupBy("_b").agg(F.count("*").alias("n")).collect()
        }
        n_inh = sum(counts.values())
        offs, acc = [], 0
        for b in sorted(counts):
            offs.append((b, acc))
            acc += counts[b]
        off_df = local_frame(spark, offs, "_b int, _off long")
        inherited = (
            bucketed.join(F.broadcast(off_df), "_b")
            .withColumn(
                "edge_id",
                F.lit(next_edge_id)
                + F.col("_off")
                + F.row_number().over(
                    Window.partitionBy("_b").orderBy("src", "dst")
                )
                - 1,
            )
            .select([f.name for f in EDGE_SCHEMA.fields])
        )
        next_edge_id += n_inh
        edges = edges.unionByName(inherited)

    if new_rows:
        memories = memories.unionByName(
            local_frame(spark, new_rows, MEMORY_SCHEMA)
        )
    if edge_rows:
        edges = edges.unionByName(local_frame(spark, edge_rows, EDGE_SCHEMA))
    history = store.history
    if history_rows:
        history = history.unionByName(
            local_frame(spark, history_rows, HISTORY_SCHEMA)
        )

    return (
        store.with_(memories=memories, edges=edges, history=history),
        res,
        next_node_id,
        next_edge_id,
    )


def hard_delete(store: Store, memory_ids: Sequence[int]) -> Store:
    """S8 — public `delete()` (reference `manager.py:2192-2198`):
    anti-join rewrite of memories + dangling-edge cleanup."""
    spark = store.memories.sparkSession
    ids = local_frame(spark, [(int(i),) for i in memory_ids], "id long")
    memories = store.memories.join(F.broadcast(ids), "id", "left_anti")
    edges = (
        store.edges.join(
            F.broadcast(ids.withColumnRenamed("id", "src")), "src", "left_anti"
        ).join(
            F.broadcast(ids.withColumnRenamed("id", "dst")), "dst", "left_anti"
        )
    ).select([f.name for f in EDGE_SCHEMA.fields])
    return store.with_(memories=memories, edges=edges)


def get_existing_relations(store: Store, entity_ids: Sequence[int]) -> DataFrame:
    """J7 — outgoing RELATION edges of a batch of entities, deduped by
    edge id, hydrated with endpoint names (reference
    `_get_existing_relations`, `manager.py:1712-1751`): the input the
    relation-reconciliation policy sees."""
    spark = store.edges.sparkSession
    ids = local_frame(spark, [(int(i),) for i in entity_ids], "src long")
    names = store.entities.select("id", "name")
    return (
        store.edges.where(F.col("edge_type") == "RELATION")
        .join(F.broadcast(ids), "src", "left_semi")
        .dropDuplicates(["edge_id"])
        .join(
            names.select(F.col("id").alias("src"), F.col("name").alias("source_name")),
            "src",
        )
        .join(
            names.select(F.col("id").alias("dst"), F.col("name").alias("target_name")),
            "dst",
        )
        .select("edge_id", "src", "dst", "source_name", "relation_type", "target_name")
    )


def delete_relations(store: Store, triples: Sequence[dict]) -> Store:
    """J8 — delete RELATION edges matching (source, target,
    relation_type) name triples (reference `_delete_relations`,
    `manager.py:1753-1767`): resolve names → ids, anti-join the edges
    table on the triple key."""
    if not triples:
        return store
    spark = store.edges.sparkSession
    tdf = local_frame(
        spark,
        [
            (t.get("source"), t.get("target"), t.get("relation_type"))
            for t in triples
        ],
        "source_name string, target_name string, relation_type string",
    )
    names = store.entities.select("id", "name")
    victims = (
        tdf.join(
            names.select(F.col("name").alias("source_name"), F.col("id").alias("src")),
            "source_name",
        )
        .join(
            names.select(F.col("name").alias("target_name"), F.col("id").alias("dst")),
            "target_name",
        )
        .select("src", "dst", "relation_type")
    )
    rel = store.edges.where(F.col("edge_type") == "RELATION")
    keep_rel = rel.join(
        F.broadcast(victims), ["src", "dst", "relation_type"], "left_anti"
    )
    other = store.edges.where(F.col("edge_type") != "RELATION")
    return store.with_(edges=other.unionByName(keep_rel))


def memory_history(store: Store, memory_id: int) -> DataFrame:
    """History read: events for one memory ordered ASC by timestamp
    (reference `history.py:105-110`, W3)."""
    return (
        store.history.where(F.col("memory_id") == memory_id)
        .orderBy(F.col("timestamp").asc())
    )


def consolidate(
    store: Store,
    summarize_batch,
    embedder: EmbeddingClient,
    *,
    user_id: str,
    now_ms: int,
    next_node_id: int,
    next_edge_id: int,
    preserve_recent: int = 5,
    batch_size: int = 10,
    topology_protect_threshold: float | None = None,
) -> tuple[Store, list[int], int, int]:
    """`summarize()` consolidation (reference `manager.py:1835-1915`):
    oldest-first minus the newest ``preserve_recent`` (W4), optional
    topology protection (skip well-connected memories, R4 ≥ threshold),
    LLM summaries per batch (policy callable ``summarize_batch(texts)
    -> str``), summary nodes with ``source='summarize'``, DERIVED_FROM
    edges, hard-delete of originals + DELETE history.
    """
    from grafeo_memory_spark.functions.scoring import topology_score
    from grafeo_memory_spark.operators.traversals import topology_aggregate
    from grafeo_memory_spark.operators.windows import drop_newest

    spark = store.memories.sparkSession
    user_mem = current_view(store.memories).where(F.col("user_id") == user_id)
    cand = drop_newest(user_mem, preserve_recent, "created_at", tiebreak="id")
    if topology_protect_threshold is not None:
        topo = topology_aggregate(store.memories, store.edges).select(
            F.col("memory_id").alias("id"),
            topology_score("entity_count", "shared_ratio").alias("_topo"),
        )
        cand = (
            cand.join(topo, "id", "left")
            .where(
                F.coalesce(F.col("_topo"), F.lit(0.0))
                < F.lit(topology_protect_threshold)
            )
            .drop("_topo")
        )

    rows = cand.select("id", "text").orderBy("created_at", "id").collect()
    if not rows:
        return store, [], next_node_id, next_edge_id

    new_rows, edge_rows, hist_rows, summary_ids = [], [], [], []
    victims: list[int] = []
    for i in range(0, len(rows), batch_size):
        batch = rows[i : i + batch_size]
        try:
            summary = summarize_batch([r["text"] for r in batch])
        except Exception:
            # LLM failure skips this batch; its originals are preserved
            # (reference tests/test_manager.py:923-940)
            continue
        sid = next_node_id
        next_node_id += 1
        d = Decision(ADD, summary)
        row = _memory_row(
            sid, summary, embedder.embed([summary])[0], now_ms, user_id, d, {}
        )
        row["source"] = "summarize"
        new_rows.append(row)
        summary_ids.append(sid)
        hist_rows.append(
            dict(memory_id=sid, event=ADD, old_text=None, new_text=summary,
                 timestamp=now_ms, actor_id=None, role=None)
        )
        for r in batch:
            edge_rows.append(
                dict(edge_id=next_edge_id, src=sid, dst=r["id"],
                     edge_type="DERIVED_FROM", relation_type=None,
                     sequence=None)
            )
            next_edge_id += 1
            hist_rows.append(
                dict(memory_id=r["id"], event=DELETE, old_text=r["text"],
                     new_text=None, timestamp=now_ms, actor_id=None, role=None)
            )
            victims.append(r["id"])

    if not new_rows:
        return store, [], next_node_id, next_edge_id

    # hard-delete originals FIRST, then attach the DERIVED_FROM lineage
    # edges — otherwise the dangling-edge cleanup would cascade-delete
    # the lineage we just recorded. The edges intentionally point at
    # tombstoned ids: with the DELETE history rows they are the full
    # provenance of each summary.
    out = store.with_(
        memories=store.memories.unionByName(
            local_frame(spark, new_rows, MEMORY_SCHEMA)
        ),
        history=store.history.unionByName(
            local_frame(spark, hist_rows, HISTORY_SCHEMA)
        ),
    )
    out = hard_delete(out, victims)
    out = out.with_(
        edges=out.edges.unionByName(local_frame(spark, edge_rows, EDGE_SCHEMA))
    )
    return out, summary_ids, next_node_id, next_edge_id
