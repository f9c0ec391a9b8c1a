"""Driver-built rows enter plans as JVM local relations
(`store.local_frame`). After an ingest session over a loaded store, no
store table's plan scans a Python RDD (`Scan ExistingRDD`), so later
searches and saves run no Python workers over the appended rows. The
helper rejects the rows `createDataFrame`'s `verifySchema` rejects in
list input: a NULL in a non-nullable field and a wrong-typed value."""

from __future__ import annotations

from pathlib import Path

import pytest

from grafeo_memory_spark.manager import MemoryEngine
from grafeo_memory_spark.protocols import ScriptedExtractor, ScriptedReconciler
from grafeo_memory_spark.store import local_frame

FIXTURE = Path(__file__).resolve().parent.parent / "fixtures" / "sf0.001"
USER = "local_frames_user"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ingest_leaves_no_python_rdd_scans(spark):
    ext = ScriptedExtractor(outputs=[
        {"facts": ["kai plays the cello", "kai lives in oslo",
                   "kai drinks green tea"],
         "entities": [{"name": "kai", "entity_type": "person"},
                      {"name": "oslo", "entity_type": "place"}],
         "relations": [{"source": "kai", "target": "oslo",
                        "relation_type": "lives_in"}]},
        {"facts": ["kai plays the viola"],
         "entities": [{"name": "kai", "entity_type": "person"}],
         "relations": []},
    ])
    rec = ScriptedReconciler()  # first add: ADD every fact
    eng = MemoryEngine.open(
        spark, str(FIXTURE), extractor=ext, reconciler=rec,
        enable_episodes=True, now_fn=lambda: 1_761_523_200_000,
    )
    first = eng.add("kai, cello, oslo, tea", user_id=USER, session_id="s1")
    assert len(first.added_ids) == 3
    cello, oslo, _tea = first.added_ids
    rec.outputs.append({"decisions": [
        {"action": "UPDATE", "text": "kai plays the viola",
         "target_memory_id": cello},
        {"action": "DELETE", "target_memory_id": oslo},
    ]})
    second = eng.add("kai switched to viola", user_id=USER, session_id="s1")
    assert len(second.updated_ids) == 1
    assert sorted(second.expired_ids) == sorted([cello, oslo])

    for name in ("memories", "edges", "entities", "history", "episodes"):
        assert "ExistingRDD" not in _plan(getattr(eng.store, name)), name

    hits = eng.search("kai plays the viola", user_id=USER, k=5).collect()
    ids = [r["memory_id"] for r in hits]
    assert second.updated_ids[0] in ids
    assert cello not in ids and oslo not in ids


def test_local_frame_checks_rows(spark):
    schema = "id long not null, qv array<float>"
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [(None, [0.5])], schema)
    with pytest.raises(ValueError, match="int64"):
        local_frame(spark, [("x", [0.5])], schema)
    df = local_frame(spark, [dict(id=1, extra="ignored")], schema)
    assert "LocalTableScan" in _plan(df)
    assert [tuple(r) for r in df.collect()] == [(1, None)]
