"""Layer-boundary spans for the traced run.

``install(tracer)`` wraps a fixed set of the library's public entry points
so that each call records a span named after its layer. It runs only in
the traced run; the untraced run calls the library unwrapped. Calls made
inside the library reach the wrappers too, because the library looks
these names up on their modules and classes at call time.
"""

from __future__ import annotations

import functools

from spans import Tracer


def _wrap(owner, attr: str, span_name: str, tracer: Tracer, rounds=None) -> None:
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name):
            out = fn(*args, **kwargs)
        if rounds is not None:
            tracer.count(f"{span_name}_rounds", rounds(out, args, kwargs))
        tracer.count(f"{span_name}_calls")
        return out

    setattr(owner, attr, wrapper)


def install(tracer: Tracer, spark) -> None:
    from graph_db_spark import pregel
    from graph_db_spark.graph import GraphSession, GraphSnapshot
    from graph_db_spark.storage import EventLogStorage

    # graph: commit path (a remote FINISH lands here) and the BFS stats walk
    _wrap(GraphSession, "commit", "graph.commit", tracer)
    _wrap(GraphSnapshot, "get_stats", "graph.get_stats", tracer)
    # storage: WAL append (runs on the single WAL worker), checkpoint, load
    _wrap(EventLogStorage, "persist_events", "storage.wal_flush", tracer)
    _wrap(EventLogStorage, "checkpoint", "storage.checkpoint", tracer)
    _wrap(EventLogStorage, "load", "storage.load", tracer)
    # pregel: each algorithm's driver loop; rounds from its return value
    # where it reports them, else from its fixed iteration argument
    _wrap(pregel, "pagerank", "pregel.pagerank", tracer,
          rounds=lambda out, a, kw: kw.get("n_iters", 10))
    _wrap(pregel, "shortest_paths", "pregel.sssp", tracer,
          rounds=lambda out, a, kw: kw.get("max_iters", 0))
    _wrap(pregel, "connected_components_star", "pregel.cc_star", tracer,
          rounds=lambda out, a, kw: out[1])
    _wrap(pregel, "kcore", "pregel.kcore", tracer,
          rounds=lambda out, a, kw: out[1])

    # every localCheckpoint materialization, on the session's concrete
    # DataFrame class (Spark 4 splits it from the pyspark.sql.DataFrame API)
    DataFrame = type(spark.range(0))
    fn = DataFrame.localCheckpoint

    @functools.wraps(fn)
    def local_checkpoint(self, *args, **kwargs):
        with tracer.span("spark.localCheckpoint"):
            return fn(self, *args, **kwargs)

    DataFrame.localCheckpoint = local_checkpoint
