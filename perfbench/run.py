#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload recall --seed 1 --seconds 15 --trace 0

Workloads (README.md): ``recall`` (read-only searches over the sf0.1
memory store), ``converse`` (add→search turns with periodic saves) and
``analytics`` (the 54-query registry sweep). With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics from job groups, ``explain_ingest()``
spans and the status store. The line before it is the full record:
run conditions, per-op failures and every layer number, including
those of layers only one workload exercises. ``--record PATH`` also
writes that record, with the spans, to a JSON file; a traced run given
``--untraced PATH``, the record of an untraced run at the same workload
and seed, also reports the tracing overhead.

The last line is one JSON object:
``{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
from collections.abc import Iterator

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STORE = os.path.join("fixtures", "sf0.1")
WORK = ".bench_work"
ANALYTICS_EXPECTED = os.path.join(HERE, "analytics_expected.json")

def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("utilization", "_slope")):
        return "ratio"
    return "count"


def _units(*names: str) -> dict[str, str]:
    return {n: _unit(n) for n in names}


#: The end-to-end and per-layer sets of recall and converse are the ones
#: BENCHMARK.json lists: every listed workload reports each of them.
END_TO_END = _units("setup_s", "session_cpu_s")
PER_LAYER = _units(
    "session.start_s", "store.open_s", "store.memories_partitions",
    "store.edges_partitions", "search.plan_s", "search.collect_s", "search.jobs",
    "search.tasks", "search.executor_cpu_s", "search.driver_only_s",
    "search.slot_utilization", "protocols.embed_s", "host.steal_pct",
    "host.iowait_pct", "jvm.gc_s",
)
ANALYTICS_END_TO_END = _units(
    "setup_s", "sweep_s", "graph_s", "corpus_s", "retrieval_s", "relational_s",
    "peak_rss_mb",
)
ANALYTICS_PER_LAYER = _units(
    "session.start_s", "host.steal_pct", "host.iowait_pct", "jvm.gc_s",
    *(f"queries.{m}.{key}"
      for m in ("vector_q", "algo_q", "graph_q", "corpus_q", "pipeline_ops_q",
                "pipeline_q", "relational_q", "scoring_q", "search_q")
      for key in ("build_s", "action_s", "jobs_build", "jobs", "tasks",
                  "executor_cpu_s", "shuffle_mb", "spill_mb")),
)


def git_commit(root: str) -> str | None:
    """HEAD's commit from ``.git`` files (no subprocess); None outside a
    git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        return None
    return None


def stop_jvm() -> None:
    """Stop Spark and wait until the JVM that PySpark launched exits."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=120)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("recall", "converse", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--store", default=STORE,
                    help="memory store for recall/converse, relative to the repo root")
    ap.add_argument("--data-dir",
                    help="driver tables for analytics (default: the sf0.001 "
                         "sibling of $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--expected",
                    help="expected outputs: the recall spec pool with result "
                         "digests (default: perfbench/recall_pool.json), or the "
                         "analytics row counts and digests (default: "
                         "perfbench/analytics_expected.json)")
    ap.add_argument("--queries", help="analytics: comma-separated registry "
                                      "names to run instead of all of them")
    ap.add_argument("--record", help="also write the full record, with spans, here")
    ap.add_argument("--untraced",
                    help="traced runs: the --record file of an untraced run at "
                         "the same workload and seed; the record then gives "
                         "the tracing overhead")
    return ap.parse_args(argv)


def tracing_overhead(end_to_end: dict, untraced: dict) -> dict:
    """Traced minus untraced value of every end-to-end metric both
    records hold, with the difference as a share of the untraced value."""
    out = {}
    for k, v in end_to_end.items():
        base = untraced["end_to_end"].get(k)
        if base is None:
            continue
        diff = v["value"] - base["value"]
        out[k] = {"value": diff, "unit": v["unit"],
                  "share": diff / base["value"] if base["value"] else None}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    store_dir = os.path.join(ROOT, args.store)
    if not os.path.isdir(os.path.join(ROOT, "grafeo_memory_spark")) or (
        args.workload != "analytics" and not os.path.isdir(store_dir)
    ):
        print("perfbench: the engine package or the memory store is missing "
              f"under {ROOT}", file=sys.stderr)
        return 2

    untraced = None
    if args.untraced:
        with open(args.untraced) as f:
            untraced = json.load(f)
        if not args.trace or (untraced.get("workload"), untraced.get("seed"),
                              untraced.get("trace")) != (args.workload, args.seed, 0):
            print("perfbench: --untraced takes, on a traced run, the record of "
                  "an untraced run at the same workload and seed", file=sys.stderr)
            return 2

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    sys.path[:0] = [ROOT, HERE]
    with scratch("run") as work:
        return _run(args, store_dir, work, untraced)


@contextlib.contextmanager
def scratch(tag: str) -> Iterator[str]:
    """Scratch dir and environment for a process that starts Spark. On
    exit, stops Spark, waits for its JVM and removes the scratch dir."""
    work = os.path.join(ROOT, WORK, f"{tag}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every temp file of this process and its JVMs stays inside the
    # checkout; -XX:-UsePerfData drops HotSpot's file in the system tmp
    os.environ["TMPDIR"] = work
    # Spark prefers this variable to spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    try:
        yield work
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, WORK))
        except OSError:
            pass  # another run still uses it


def _run(args, store_dir: str, work: str, untraced: dict | None) -> int:
    import probe
    import workloads

    data_dir = None
    guarded = {"fixtures": os.path.join(ROOT, "fixtures")}
    if args.workload == "analytics":
        from grafeo_memory_spark.sources.tables import DEFAULT_SF_DIR

        data_dir = os.path.abspath(args.data_dir or os.path.join(
            os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001"))
        guarded["data"] = data_dir
    before = {k: probe.tree_digest(p) for k, p in guarded.items()}

    ctx = workloads.Context(
        work=work, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), store_dir=store_dir, data_dir=data_dir,
    )
    if args.workload == "recall":
        res = workloads.run_recall(ctx, args.expected)
    elif args.workload == "converse":
        res = workloads.run_converse(ctx)
    else:
        with open(args.expected or ANALYTICS_EXPECTED) as f:
            expected = json.load(f)["queries"]
        only = args.queries.split(",") if args.queries else None
        res = workloads.run_analytics(ctx, expected, only)
        res.detail["data_dir"] = data_dir

    after = {k: probe.tree_digest(p) for k, p in guarded.items()}
    if after != before:
        res.fail(f"inputs changed during the run: {before} -> {after}")
    failed = len(res.failures)
    analytics = args.workload == "analytics"
    e2e = ANALYTICS_END_TO_END if analytics else END_TO_END
    layers = ANALYTICS_PER_LAYER if analytics else PER_LAYER
    wanted = layers if args.trace else e2e
    values = res.layers if args.trace else res.metrics
    if args.queries:  # only the modules of the chosen queries report layers
        wanted = {k: u for k, u in wanted.items()
                  if not k.startswith("queries.") or k in values}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "conditions": {
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "git_commit": git_commit(ROOT),
            "inputs": before,
            "inputs_unchanged": after == before,
            **{k: res.layers.get(k) for k in ("host.steal_pct", "host.iowait_pct")},
            "peak_rss_mb": res.detail.pop("peak_rss_mb", None),
        },
        "end_to_end": {k: {"value": v, "unit": _unit(k)}
                       for k, v in res.metrics.items()},
        "per_layer": {k: {"value": v, "unit": _unit(k)}
                      for k, v in sorted(res.layers.items())} if args.trace else {},
        "attempted": res.attempted,
        "failed": failed,
        "ops_failed_ratio": failed / max(1, res.attempted),
        "failures": res.failures,
        "detail": {k: v for k, v in res.detail.items() if k != "spans"},
    }
    if untraced is not None:
        record["tracing_overhead"] = tracing_overhead(record["end_to_end"], untraced)
    print(json.dumps({"record": record}, default=str))
    if args.record:
        with open(args.record, "w") as f:
            json.dump({**record, "spans": res.detail.get("spans", [])}, f,
                      default=str, indent=1)
    missing = [k for k in wanted if k not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, res.attempted),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
