#!/usr/bin/env python3
"""Regenerate the benchmark's expected outputs.

    python3 perfbench/record_expected.py recall      # -> recall_pool.json
    python3 perfbench/record_expected.py analytics   # -> analytics_expected.json

``recall`` builds the fixed search pool from the sf0.1 store's entities
and records each spec's result-id digest. ``analytics`` runs every
registry query twice at the sf0.001 driver tables and records its row
count and value digest; a digest that differs between the two runs is
stored as null, so only the row count is checked for that query.

Run this only when the engine's intended results change; a benchmark
run compares against these files and counts every mismatch as a
failed op.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _context(work: str):
    import workloads
    from run import STORE

    return workloads.Context(work=work, seed=0, seconds=1, trace=False,
                             store_dir=os.path.join(ROOT, STORE))


def record_recall(work: str) -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    import streams
    import workloads

    ctx = _context(work)
    ents = pq.read_table(os.path.join(ctx.store_dir, "entities.parquet"),
                         columns=["id", "name", "user_id"])
    edges = pq.read_table(os.path.join(ctx.store_dir, "edges.parquet"),
                          columns=["dst", "edge_type"])
    linked = pc.unique(
        edges.filter(pc.equal(edges["edge_type"], "HAS_ENTITY"))["dst"]
    )
    ents = ents.filter(pc.is_in(ents["id"], value_set=linked)).to_pylist()
    by_user: dict[str, list[str]] = {u: [] for u in streams.USERS}
    for e in ents:
        by_user[e["user_id"]].append(e["name"])
    pool = streams.build_pool(by_user)

    h = workloads.Harness(ctx)
    eng = h.open_engine(workloads.TimedEmbedder())
    for spec in pool:
        if spec["op"] == "search":
            rows = eng.search(spec["query"], user_id=spec["user_id"], k=spec["k"],
                              anchor_entity_names=spec["anchors"],
                              diverse=spec["diverse"]).collect()
            ids = [r["memory_id"] for r in rows]
        else:
            rows = eng.get_all(user_id=spec["user_id"], limit=spec["limit"]).collect()
            ids = [r["id"] for r in rows]
        spec["rows"] = len(ids)
        spec["digest"] = workloads.id_digest(ids)
        print(spec["id"], spec["rows"], spec["digest"], flush=True)
    with open(streams.POOL_FILE, "w") as f:
        json.dump({"store": "fixtures/sf0.1", "now_ms": workloads.NOW_MS,
                   "specs": pool}, f, indent=1)
        f.write("\n")


def record_analytics(work: str) -> None:
    import workloads
    from grafeo_memory_spark.sources.tables import DEFAULT_SF_DIR
    from run import ANALYTICS_EXPECTED

    data_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")
    h = workloads.Harness(_context(work))
    out = {}
    for name, fn in sorted(workloads.registry().items()):
        seen = []
        for _ in range(2):
            df, obs = workloads.observed(fn(h.spark, data_dir))
            df.write.format("noop").mode("overwrite").save()
            seen.append((obs.get["rows"], str(obs.get["digest"])))
        (rows, d1), (rows2, d2) = seen
        if rows != rows2:
            raise SystemExit(f"{name}: row count not stable ({rows} vs {rows2})")
        out[name] = {"rows": rows, "digest": d1 if d1 == d2 else None}
        print(name, out[name], flush=True)
    with open(ANALYTICS_EXPECTED, "w") as f:
        json.dump({"data": "sf0.001", "queries": out}, f, indent=1)
        f.write("\n")


def main() -> None:
    if len(sys.argv) != 2 or sys.argv[1] not in ("recall", "analytics"):
        raise SystemExit(__doc__)
    sys.path[:0] = [ROOT, HERE]
    from run import scratch

    with scratch("record") as work:
        (record_recall if sys.argv[1] == "recall" else record_analytics)(work)


if __name__ == "__main__":
    main()
