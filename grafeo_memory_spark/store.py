"""The memory-graph store: fixed schemas + load/save/empty constructors
(SURVEY.md §1.4 Spark mapping of the reference's property graph).

The reference keeps a dynamic property dict per node
(`protocol.py:17-27`); here each label is a typed DataFrame with the
reference's write-site conventions (`manager.py:1037-1091`) as explicit
columns — `metadata` stays a JSON string for byte-compatibility with the
reference's own storage choice (`manager.py:1066`). All timestamps are
epoch-millisecond LongType (reference convention, `manager.py:211`).

Scale notes: `save_store` partitions `memories` by `user_id` — the
Spark analog of the reference's property indexes on user_id/graph_name
(`manager.py:129-133`); per-user queries then prune partitions at the
file level. Edges are written bucketed-ready (sorted by src) so a real
deployment can bucket both sides of traversal joins.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, replace
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

EMBEDDING_DIMS = 16  # fixture/test dimensionality; configurable per store

MEMORY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("memory_type", T.StringType(), True),
        T.StructField("created_at", T.LongType(), True),
        T.StructField("updated_at", T.LongType(), True),
        T.StructField("learned_at", T.LongType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("agent_id", T.StringType(), True),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("graph_name", T.StringType(), True),
        T.StructField("actor_id", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("importance", T.DoubleType(), True),
        T.StructField("access_count", T.LongType(), True),
        T.StructField("last_accessed", T.LongType(), True),
        T.StructField("expired_at", T.LongType(), True),
        T.StructField("valid_at", T.LongType(), True),
        T.StructField("invalid_at", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("_pagerank", T.DoubleType(), True),
        T.StructField("_betweenness", T.DoubleType(), True),
        T.StructField("_community", T.IntegerType(), True),
    ]
)

ENTITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("graph_name", T.StringType(), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("edge_id", T.LongType(), False),
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("edge_type", T.StringType(), False),
        T.StructField("relation_type", T.StringType(), True),
        T.StructField("sequence", T.IntegerType(), True),
    ]
)

EPISODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("content", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("session_id", T.StringType(), True),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("created_at", T.LongType(), True),
    ]
)

#: Community node rows (J15 write side, reference `communities.py`;
#: FIXTURES.md §B communities table)
COMMUNITY_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("community_id", T.IntegerType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("summary", T.StringType(), True),
        T.StructField("member_count", T.IntegerType(), True),
        # member names denormalized onto the community node so an
        # unchanged-membership rerun can build its CommunityInfo from the
        # per-community row alone, without re-collecting per-member rows
        # (communities.py incremental path; VERDICT r3 item 4)
        T.StructField("member_names", T.ArrayType(T.StringType()), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("created_at", T.LongType(), True),
        T.StructField("updated_at", T.LongType(), True),
    ]
)

HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("memory_id", T.LongType(), False),
        T.StructField("event", T.StringType(), False),
        T.StructField("old_text", T.StringType(), True),
        T.StructField("new_text", T.StringType(), True),
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("actor_id", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
    ]
)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-built rows, planned as a JVM local
    relation (``LocalTableScan``). ``spark.createDataFrame(<list>)``
    plans a Python RDD instead (``Scan ExistingRDD``), and the
    append-only Store unions such frames into its tables, so every
    later action would re-run Python workers over every appended row.

    ``rows`` are dicts (extra keys ignored, missing keys NULL) or
    tuples in schema order; ``schema`` is a StructType or DDL string.
    A NULL in a non-nullable field or a value of the wrong type raises.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    records = [
        r if isinstance(r, dict) else dict(zip(schema.names, r)) for r in rows
    ]
    table = pa.Table.from_pylist(records, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)


TABLE_SCHEMAS = {
    "memories": MEMORY_SCHEMA,
    "entities": ENTITY_SCHEMA,
    "edges": EDGE_SCHEMA,
    "episodes": EPISODE_SCHEMA,
    "history": HISTORY_SCHEMA,
    "communities": COMMUNITY_SCHEMA,
}


@dataclass(frozen=True)
class Store:
    """Immutable handle on the memory-graph DataFrames. Mutations
    (lifecycle.py) return a new Store — append-only semantics, matching
    the reference's soft-expiry design (SURVEY §2.12 T3).

    ``communities`` defaults to an empty frame (built lazily off the
    memories session) so pre-existing five-table constructions keep
    working; it holds the J15 materialized Community nodes.
    """

    memories: DataFrame
    entities: DataFrame
    edges: DataFrame
    episodes: DataFrame
    history: DataFrame
    communities: DataFrame | None = None

    def __post_init__(self) -> None:
        if self.communities is None:
            object.__setattr__(
                self,
                "communities",
                local_frame(self.memories.sparkSession, [], COMMUNITY_SCHEMA),
            )

    def with_(self, **tables: DataFrame) -> "Store":
        return replace(self, **tables)


def empty_store(spark: SparkSession) -> Store:
    return Store(
        **{
            name: local_frame(spark, [], schema)
            for name, schema in TABLE_SCHEMAS.items()
        }
    )


#: defaults for columns that older snapshots may lack (reference
#: backward-compat: memories without importance props read as 1.0 / 0,
#: tests/test_manager.py:1131-1146; missing memory_type is NULL ≡
#: semantic, F6).
_COMPAT_DEFAULTS = {"importance": 1.0, "access_count": 0}


def _reconcile(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Evolve an older-version table to the current schema: add any
    missing column with its compat default (NULL otherwise), cast to
    the canonical type, project in schema order. Pure metadata — adds
    no shuffle and keeps parquet column pruning intact."""
    have = {f.name for f in df.schema.fields}
    cols = []
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType))
        else:
            default = F.lit(_COMPAT_DEFAULTS.get(field.name))
            cols.append(default.cast(field.dataType).alias(field.name))
    return df.select(*cols)


def load_store(spark: SparkSession, path: str) -> Store:
    tables = {}
    for name, schema in TABLE_SCHEMAS.items():
        p = os.path.join(path, f"{name}.parquet")
        if os.path.exists(p):
            tables[name] = _reconcile(spark.read.parquet(p), schema)
        else:
            # stores saved before the communities table existed
            tables[name] = local_frame(spark, [], schema)
    return Store(**tables)


def save_store(store: Store, path: str) -> None:
    """Persist; memories partitioned by user_id (partition pruning for
    F1 scope filters), edges sorted by (edge_type, src) for scan
    locality on traversal joins.

    Writes go to a sibling staging directory first, then swap into
    place per table. A Store loaded from ``path`` holds *lazy* readers
    over those same parquet files, so an in-place overwrite would
    delete the files mid-scan (FAILED_READ_FILE) — the open-mutate-save
    session lifecycle requires snapshot-then-swap. Same pattern scales
    to object stores: write a new snapshot prefix, flip the pointer.
    """
    staging = path.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging, exist_ok=True)
    store.memories.write.mode("overwrite").partitionBy("user_id").parquet(
        os.path.join(staging, "memories.parquet")
    )
    store.edges.sortWithinPartitions("edge_type", "src").write.mode(
        "overwrite"
    ).parquet(os.path.join(staging, "edges.parquet"))
    for name in ("entities", "episodes", "history", "communities"):
        getattr(store, name).write.mode("overwrite").parquet(
            os.path.join(staging, f"{name}.parquet")
        )
    os.makedirs(path, exist_ok=True)
    for name in TABLE_SCHEMAS:
        dst = os.path.join(path, f"{name}.parquet")
        shutil.rmtree(dst, ignore_errors=True)
        os.replace(os.path.join(staging, f"{name}.parquet"), dst)
    shutil.rmtree(staging, ignore_errors=True)


def save_edges_bucketed(
    store: Store, table_name: str, n_buckets: int = 64, path: str | None = None
) -> None:
    """The co-located traversal-join layout (SURVEY §1.4 scale note):
    persist `edges` hash-bucketed AND sorted by ``src``. Two tables
    bucketed the same way join WITHOUT exchanging the big side — each
    traversal hop (J1/J2/J10/J11) becomes a zero-shuffle sort-merge
    join per bucket pair, the difference between one network pass and
    none at 100 TB. Requires a catalog table (bucket metadata lives
    there, not in parquet), hence saveAsTable instead of a bare path.

    Reads come back via ``spark.table(table_name)``; Spark applies the
    bucket spec automatically when both join sides share it and
    ``spark.sql.sources.bucketing.enabled`` is on (default).
    """
    w = (
        store.edges.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "src")
        .sortBy("src")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table_name)
