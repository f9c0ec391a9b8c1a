"""Seeded operation streams for the benchmark workloads.

Pure Python: nothing here touches Spark, so a stream can be printed,
tested and compared without a session. The program under test only
ever sees the generated inputs (query texts, scripted extractor and
reconciler outputs), never the seed.

- ``recall`` draws from a fixed *pool* of search and ``get_all`` specs
  (``recall_pool.json``), so every spec carries an expected result
  digest that holds for any run seed. Every run fills the same slots,
  so each seed sees the same mix of user scope, branch, hints and
  ``k``; the seed picks each slot's variant and the order.
- ``converse`` scripts a session of add→search turns from the seed.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

USERS = ("default", "alice", "bob", "carol")
NOUNS = (
    "coffee", "piano", "garden", "rocket", "ledger", "harbor", "violin",
    "summit", "lantern", "orchid", "compass", "quarry", "bridge", "cipher",
    "meadow", "anchor", "turbine", "archive", "beacon", "canyon",
)
VERBS = ("likes", "studies", "visited", "manages", "builds", "reviews")
RELATIONS = ("works_at", "lives_in", "knows", "part_of", "likes")
ENTITY_TYPES = ("person", "organization", "location", "concept")

#: query prefixes per temporal class; each trips one ``classify_temporal``
#: hint family (none / include-expired / chronological+widen / all three)
TEMPORAL = {
    "plain": ("", "tell me about", "what about"),
    "past": ("what did {u} used to", "previously", "in the past"),
    "sequence": ("when did {u}", "timeline of", "what happened first with"),
    "duration": ("how long has {u}", "since when has {u}", "how much time"),
}

POOL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recall_pool.json")
#: fixed seed of the recall pool itself (the run seed never changes it)
POOL_SEED = 20261016
#: each slot's pool holds this many variants (query words, anchor names)
VARIANTS = 6
#: a recall run's search slots per user: (branch, temporal class, k).
#: Plain vector searches are the majority, so the median search is one
#: on every seed instead of a draw between the branch clusters (about
#: 0.6 s vs 1.3 s; MMR about 2 s); graph and MMR cost shows in totals.
USER_SLOTS = (
    ("vector", "plain", 10),
    ("vector", "past", 5),
    ("vector", "sequence", 20),
    ("graph", "duration", 10),
)
#: MMR (``diverse=True``) slots: (user, branch, temporal class, k)
MMR_SLOTS = (("alice", "vector", "plain", 10), ("bob", "graph", "past", 5))


def _query_text(rng: random.Random, user: str, temporal: str) -> str:
    text = rng.choice(TEMPORAL[temporal]).format(u=user)
    if user not in text:
        text = f"{text} {user}".strip()
    return f"{text} {rng.choice(VERBS)} {rng.choice(NOUNS)} {rng.choice(NOUNS)}"


def build_pool(entity_names_by_user: dict[str, list[str]]) -> list[dict]:
    """The recall pool: ``VARIANTS`` specs per slot. A slot fixes what
    a search's cost depends on (user scope, graph branch, temporal
    hints, ``k``, MMR, number of anchors); its variants differ in query
    words and anchor entities. Two ``get_all`` slots per user (limit 20
    and 200) have one spec each. ``entity_names_by_user`` lists each
    user's entity names in the opened store."""
    rng = random.Random(POOL_SEED)
    slots = [
        (user, branch, temporal, k, False, 1 + i % 3)
        for i, user in enumerate(USERS)
        for branch, temporal, k in USER_SLOTS
    ] + [(user, branch, temporal, k, True, 2) for user, branch, temporal, k in MMR_SLOTS]
    specs: list[dict] = []
    for user, branch, temporal, k, diverse, n_anchors in slots:
        slot = f"{user}/{branch}/{temporal}/k{k}" + ("/mmr" if diverse else "")
        names = sorted(entity_names_by_user[user])
        for v in range(VARIANTS):
            specs.append(dict(
                id=f"{slot}/{v}", op="search", slot=slot, user_id=user,
                query=_query_text(rng, user, temporal), temporal=temporal, k=k,
                diverse=diverse,
                anchors=rng.sample(names, n_anchors) if branch == "graph" else None,
            ))
    for user in USERS:
        for limit in (20, 200):
            specs.append(dict(id=f"{user}/get_all/{limit}", op="get_all",
                              slot=f"{user}/get_all", user_id=user, limit=limit))
    return specs


def load_pool(path: str | None = None) -> list[dict]:
    with open(path or POOL_FILE) as f:
        return json.load(f)["specs"]


def recall_stream(pool: list[dict], seed: int, unit: int) -> list[dict]:
    """``unit`` variants of every search slot and one ``get_all`` per
    user, shuffled. Every seed runs the same slots, so the cost mix is
    the same; the seed picks the variants and the order. Same seed →
    same stream."""
    rng = random.Random(seed)
    slots: dict[str, list[dict]] = {}
    for spec in pool:
        slots.setdefault(spec["slot"], []).append(spec)
    ops: list[dict] = []
    for name in sorted(slots):
        n = 1 if name.endswith("/get_all") else unit
        ops.extend(rng.sample(slots[name], n))
    rng.shuffle(ops)
    return ops


@dataclass
class Turn:
    """One scripted converse turn: the add's extractor output, the
    reconciler's planned changes, and the follow-up search."""

    index: int
    user_id: str
    session_id: str
    facts: list[str]
    entities: list[dict]
    relations: list[dict]
    #: UPDATE / DELETE decisions, each against its own reconcile-probe
    #: candidate; every fact not updated is ADDed
    changes: tuple[str, ...]
    k: int
    extraction: dict = field(init=False)

    def __post_init__(self) -> None:
        self.extraction = dict(
            facts=list(self.facts), entities=list(self.entities),
            relations=list(self.relations),
        )


#: per-turn shape, cycled by turn index so every seed gets the same
#: cost structure: (facts, entities, relations, changes). The first two
#: turns already cover 1 and 3 facts, entities, 0 and 2 relations, ADD,
#: UPDATE and DELETE, so a short run exercises every decision kind.
TURN_SHAPES = (
    (3, 3, 2, ()),
    (1, 1, 0, ("UPDATE", "DELETE")),
    (2, 2, 1, ()),
    (1, 2, 1, ("DELETE",)),
    (2, 3, 2, ()),
    (1, 1, 0, ("UPDATE",)),
)


def converse_script(seed: int, turns: int) -> list[Turn]:
    """A seeded session. Each user in turn plays one pass of
    ``TURN_SHAPES`` in its own ``session_id``, so its LEADS_TO chain
    grows from the second turn on: 1–3 facts, 1–3 entities and 0–2
    relations per add, 8 ADD, 2 UPDATE and 2 DELETE decisions per pass.
    The seed picks the texts and names."""
    rng = random.Random(seed)
    script = []
    for i in range(turns):
        user = USERS[i // len(TURN_SHAPES) % len(USERS)]
        n_facts, n_ents, n_rels, changes = TURN_SHAPES[i % len(TURN_SHAPES)]
        facts = [
            f"{user} {rng.choice(VERBS)} {rng.choice(NOUNS)} {rng.choice(NOUNS)} "
            f"turn {seed}-{i}-{j}"
            for j in range(n_facts)
        ]
        names = [
            f"{a}_{b}_s{seed}"
            for a, b in zip(rng.sample(NOUNS, n_ents), rng.sample(NOUNS, n_ents))
        ]
        entities = [
            dict(name=n, entity_type=rng.choice(ENTITY_TYPES)) for n in names
        ]
        relations = [
            dict(source=a, target=b, relation_type=rng.choice(RELATIONS))
            for a, b in (rng.sample(names, 2) for _ in range(n_rels))
        ]
        script.append(Turn(
            index=i, user_id=user, session_id=f"bench-{seed}-{user}",
            facts=facts, entities=entities, relations=relations,
            changes=changes, k=rng.choice((5, 10)),
        ))
    return script
