"""J15 write side — community materialization lifecycle (reference
`communities.py:32-230`): turn a detected partition (G3 LPA/Louvain
output) into Community nodes + HAS_MEMBER edges, skip summary
regeneration when membership is unchanged (O7, reference
`communities.py:87-103`), and dissolve communities that disappeared
(`communities.py:194-198`).

Spark shape: detection and membership sets stay DataFrame-side; only the
per-community summary generation runs on the driver, because it is a
policy (LLM) call per community — exactly the reference's loop. The
number of *changed* communities bounds the driver work, not the number
of entities: the membership-unchanged skip is computed as a DataFrame
anti-comparison first, so an incremental run over a mostly-stable graph
collects only the delta.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from grafeo_memory_spark.store import (
    COMMUNITY_SCHEMA,
    EDGE_SCHEMA,
    Store,
    local_frame,
)

#: policy: (member_names, relation_texts) -> (name, summary)
Summarizer = Callable[[list[str], list[str]], tuple[str, str]]


def default_summarizer(members: list[str], relations: list[str]) -> tuple[str, str]:
    """Deterministic stand-in for the reference's LLM summary agent
    (`communities.py:126-131`): stable name + member digest."""
    head = sorted(members)[:3]
    return (
        "community of " + ", ".join(head),
        f"cluster of {len(members)} entities: " + ", ".join(sorted(members)),
    )


def _user_members(
    store: Store, partitions: DataFrame, user_id: str
) -> DataFrame:
    """(community, entity_id, name) for this user's entities, communities
    with ≥2 user members only (reference threshold,
    `communities.py:80-81`)."""
    ent = store.entities.where(F.col("user_id") == user_id).select(
        F.col("id").alias("entity_id"), F.col("name")
    )
    memb = partitions.select(
        F.col("node_id").alias("entity_id"),
        F.col("community").cast("int").alias("community"),
    ).join(ent, "entity_id")
    sizes = memb.groupBy("community").agg(F.count("*").alias("_n"))
    return memb.join(sizes.where(F.col("_n") >= 2), "community").drop("_n")


def _collect_changed_members(
    memb: DataFrame, changed_cids: list[int]
) -> dict[int, list[tuple[int, str]]]:
    """Collect (entity_id, name) member rows for the CHANGED communities
    only — the driver-side footprint of a rerun is bounded by the
    membership delta, not the full graph. Module-level so tests can spy
    on it to assert an unchanged rerun collects zero member rows."""
    if not changed_cids:
        return {}
    spark = memb.sparkSession
    cids_df = local_frame(
        spark, [(int(c),) for c in changed_cids], "community int"
    )
    clusters: dict[int, list[tuple[int, str]]] = {}
    for r in memb.join(F.broadcast(cids_df), "community", "left_semi").collect():
        clusters.setdefault(r["community"], []).append(
            (r["entity_id"], r["name"])
        )
    return clusters


def materialize_communities(
    store: Store,
    partitions: DataFrame,
    *,
    user_id: str,
    now_ms: int,
    next_node_id: int,
    next_edge_id: int,
    summarizer: Summarizer | None = None,
    usage_callback=None,
) -> tuple[Store, list[dict[str, Any]], int, int]:
    """Create/update Community nodes from a (node_id, community)
    partition DataFrame; returns (store, community infos, next ids).

    Reference semantics (`communities.py:32-200`):
    - only communities with ≥2 members of this user materialize;
    - membership unchanged (same community_id, same member_count) →
      keep the node and its summary, skip the policy call;
    - changed → regenerate summary, bump updated_at, rebuild HAS_MEMBER;
    - existing communities absent from the new partition dissolve
      (node + HAS_MEMBER edges removed).
    """
    spark = store.memories.sparkSession
    summarizer = summarizer or default_summarizer

    memb = _user_members(store, partitions, user_id)

    existing = {
        r["community_id"]: (r["id"], r["member_count"], r["name"], r["summary"],
                            r["created_at"], r["member_names"])
        for r in store.communities.where(F.col("user_id") == user_id).collect()
    }

    # Incremental delta (VERDICT r3 item 4): compare (community, count)
    # DataFrame-side FIRST, then collect per-member rows only for
    # communities whose membership actually changed. An unchanged-graph
    # rerun collects one row per community (sizes) and zero member rows;
    # unchanged CommunityInfos are rebuilt from the stored community row
    # (member_names is denormalized onto it for exactly this purpose).
    sizes = {
        r["community"]: r["n"]
        for r in memb.groupBy("community").agg(F.count("*").alias("n")).collect()
    }
    changed_cids = [
        cid for cid, n in sizes.items()
        if cid not in existing or existing[cid][1] != n
    ]
    clusters = _collect_changed_members(memb, changed_cids)

    infos: list[dict[str, Any]] = []
    new_rows: list[dict[str, Any]] = []
    edge_rows: list[dict[str, Any]] = []
    keep_node_ids: list[int] = []  # unchanged community nodes
    active_cids: set[int] = set()

    # relation context per member entity of CHANGED communities only (one
    # distributed pass, then grouped driver-side) — reference collects the
    # same triples per community for the summary prompt
    # (`communities.py:105-118`)
    member_ids = [eid for ms in clusters.values() for eid, _ in ms]
    rel_by_src: dict[int, list[str]] = {}
    if member_ids:
        ids_df = local_frame(spark, [(i,) for i in member_ids], "src long")
        names = store.entities.select("id", "name")
        rel = (
            store.edges.where(F.col("edge_type") == "RELATION")
            .join(F.broadcast(ids_df), "src", "left_semi")
            .join(names.select(F.col("id").alias("src"),
                               F.col("name").alias("sn")), "src")
            .join(names.select(F.col("id").alias("dst"),
                               F.col("name").alias("tn")), "dst")
            .select("src", "sn", "relation_type", "tn")
        )
        for r in rel.collect():
            rel_by_src.setdefault(r["src"], []).append(
                f"{r['sn']} -> {r['relation_type']} -> {r['tn']}"
            )

    for cid in sorted(sizes):
        active_cids.add(cid)
        if cid not in changed_cids:
            # membership unchanged — keep node, skip the policy call, and
            # rebuild the info from the stored row (zero member rows read)
            nid, cnt, name, summary, _created, stored_names = existing[cid]
            keep_node_ids.append(nid)
            infos.append(dict(community_id=cid, name=name, summary=summary,
                              member_count=cnt,
                              member_entities=list(stored_names or [])))
            continue
        members = sorted(clusters[cid])
        names_list = [n for _, n in members]
        relations = [t for eid, _ in members for t in rel_by_src.get(eid, [])]
        name, summary = summarizer(names_list, relations)
        if usage_callback:
            from grafeo_memory_spark.protocols import RunUsage

            usage_callback("community_summary", RunUsage(calls=1))
        if cid in existing:
            nid = existing[cid][0]
            created = existing[cid][4]
        else:
            nid = next_node_id
            next_node_id += 1
            created = now_ms
        new_rows.append(
            dict(id=nid, community_id=cid, name=name, summary=summary,
                 member_count=len(members), member_names=names_list,
                 user_id=user_id, created_at=created, updated_at=now_ms)
        )
        for eid, _ in members:
            edge_rows.append(
                dict(edge_id=next_edge_id, src=nid, dst=eid,
                     edge_type="HAS_MEMBER", relation_type=None,
                     sequence=None)
            )
            next_edge_id += 1
        infos.append(dict(community_id=cid, name=name, summary=summary,
                          member_count=len(members),
                          member_entities=names_list))

    # rewrite: drop every community row of this user that is not an
    # unchanged keeper (covers updated AND dissolved), union fresh rows
    keep = local_frame(spark, [(i,) for i in keep_node_ids], "id long")
    communities = store.communities.where(
        (F.col("user_id") != user_id) | F.col("user_id").isNull()
    ).unionByName(
        store.communities.join(F.broadcast(keep), "id", "left_semi")
    )
    if new_rows:
        communities = communities.unionByName(
            local_frame(spark, new_rows, COMMUNITY_SCHEMA)
        )

    # HAS_MEMBER edges: keep only those of keeper nodes, add fresh ones
    hm = store.edges.where(F.col("edge_type") == "HAS_MEMBER")
    kept_hm = hm.join(
        F.broadcast(keep.withColumnRenamed("id", "src")), "src", "left_semi"
    )
    edges = store.edges.where(F.col("edge_type") != "HAS_MEMBER").unionByName(
        kept_hm
    )
    if edge_rows:
        edges = edges.unionByName(local_frame(spark, edge_rows, EDGE_SCHEMA))

    out = store.with_(communities=communities, edges=edges)
    return out, infos, next_node_id, next_edge_id


def get_communities(store: Store, user_id: str) -> DataFrame:
    """Read side (reference `get_communities`, `communities.py:203-230`):
    community rows + sorted member-name list via the HAS_MEMBER join."""
    hm = store.edges.where(F.col("edge_type") == "HAS_MEMBER").select(
        F.col("src").alias("id"), F.col("dst").alias("entity_id")
    )
    names = store.entities.select(
        F.col("id").alias("entity_id"), F.col("name")
    )
    members = (
        hm.join(names, "entity_id")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("name")).alias("member_entities"))
    )
    return (
        store.communities.where(F.col("user_id") == user_id)
        .join(members, "id", "left")
        .select(
            "community_id", "name", "summary", "member_count",
            F.coalesce(
                "member_entities", F.array().cast("array<string>")
            ).alias("member_entities"),
            "created_at", "updated_at",
        )
        .orderBy("community_id")
    )


def get_community_context(
    store: Store, entity_names: list[str], user_id: str
) -> DataFrame:
    """Communities containing ANY of the given entities (reference
    `get_community_context`, `communities.py:241-280`): the search-time
    enrichment read — anchor entities → their communities, with the
    full member list. Name matching is case-insensitive like the
    reference's lowered name_set. Empty input → empty result without a
    job (reference early return)."""
    base = get_communities(store, user_id)
    if not entity_names:
        return base.limit(0)
    name_set = [n.lower() for n in entity_names]
    return base.where(
        F.exists(
            "member_entities",
            lambda m: F.lower(m).isin(name_set),
        )
    )


def connected_components(
    edges_sym: DataFrame,
    max_iter: int = 50,
    driver_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Min-label propagation to a fixpoint: component id = min node id
    reachable (deterministic, so SQL-checkable via a recursive-CTE
    closure). ``edges_sym`` carries (node_id, nbr) one row per directed
    neighbor; callers symmetrize.

    Size-gated fast path: when the edge list is at most
    ``driver_edge_threshold`` rows it is collected and solved with
    driver-side union-find (then each root relabelled to its
    component's min id — the identical fixpoint). This is the common
    case by construction: every caller feeds VERIFIED near-dup pairs,
    already reduced from the corpus by banding + thresholding, and a
    ≤10⁶-row bounded collect is the same pattern as the codebook and
    quotient pulls elsewhere. Above the threshold (or with the gate
    disabled via ``driver_edge_threshold=0``) the distributed loop
    below runs unchanged — that is the 100-TB path, and the two paths
    agree bit-for-bit. The gate IS the shared two-tier
    :func:`~grafeo_memory_spark.graph.algorithms._driver_gate` (r12 —
    previously an inline twin): a ``limit(threshold+1).count()`` probe
    rejects over-threshold pair sets for the price of one count — no
    rows ship on the at-scale path — then a ``limit``-bounded,
    length-re-checked collect of ONLY the two key columns (ADVICE
    r9/r10), so the driver can never receive more than ``threshold +
    1`` narrow rows even from a nondeterministic or growing source.

    Scale shape: each round is a neighbor-min join + agg PLUS a
    pointer-jumping join (``component[component[x]]`` — the hash-to-min
    trick from Rastogi et al. 2013's MapReduce CC family), with eager
    ``localCheckpoint`` to keep lineage flat (same loop shape as
    pagerank/LPA in graph/algorithms.py) and an early exit when no
    label changed. Neighbor-min alone needs diameter rounds — a chainy
    dup graph (SemDeDup at loose eps) measurably burns 16+ — while the
    jump doubles propagation depth per round, so rounds ~ log(diameter).
    The jump is safe because a label is always the id of a node inside
    the same component, so ``least`` over it stays monotone and can
    never undershoot the component's true min id (the fixpoint the
    recursive-CTE oracle checks is unchanged).
    """
    from grafeo_memory_spark.graph.algorithms import _driver_gate

    gated_rows = _driver_gate(
        edges_sym,
        driver_edge_threshold,
        cols=("node_id", "nbr"),
        as_numpy=False,
    )
    if gated_rows is not None:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in gated_rows:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        out = [(node, comp_min[find(node)]) for node in parent]
        id_type = edges_sym.schema[0].dataType
        return local_frame(
            edges_sym.sparkSession,
            out,
            T.StructType(
                [
                    T.StructField("node_id", id_type),
                    T.StructField("component", id_type),
                ]
            ),
        )

    labels = (
        edges_sym.select("node_id")
        .union(edges_sym.select(F.col("nbr").alias("node_id")))
        .distinct()
        .withColumn("component", F.col("node_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges_sym.join(labels, "node_id")
            .groupBy(F.col("nbr").alias("node_id"))
            .agg(F.min("component").alias("_nbr_comp"))
        )
        # old label rides the update so the fixpoint check is a plain
        # filter — no old-vs-new join per round
        cand = (
            labels.select("node_id", F.col("component").alias("_c_old"))
            .join(nbr_min, "node_id", "left")
            .select(
                "node_id",
                F.least(
                    F.col("_c_old"), F.coalesce("_nbr_comp", "_c_old")
                ).alias("_cand"),
                "_c_old",
            )
        )
        parents = labels.select(
            F.col("node_id").alias("_cand"),
            F.col("component").alias("_parent"),
        )
        new_labels = (
            cand.join(parents, "_cand", "left")
            .select(
                "node_id",
                F.least(
                    F.col("_cand"), F.coalesce("_parent", "_cand")
                ).alias("component"),
                "_c_old",
            )
            # lazy: the fixpoint probe materializes the checkpoint
            # (r7 — one driver job per round instead of two)
            .localCheckpoint(eager=False)
        )
        done = new_labels.where(
            F.col("component") != F.col("_c_old")
        ).isEmpty()
        labels = new_labels.select("node_id", "component")
        if done:
            break
    return labels
