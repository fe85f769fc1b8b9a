"""The workloads: one single-threaded closed-loop client each.

A workload has a warm-up pass (checked, part of set-up), then timed
passes over its operation list.  ``run_pass`` returns one ``OpResult``
per operation; with a ``Trace`` it also runs every op under its own
job group and records spans, stage metrics and streaming progress.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import toolmix
import tracing

INGEST_OPS = [
    "stream_simsearch_index",
    "stream_curation_pipeline",
    "ext_simsearch_index_upsert",
    "ext_simsearch_index_compact",
    "ext_simsearch_index_query",
]


def _digest(canonical) -> str:
    return hashlib.sha256(repr(canonical).encode()).hexdigest()


@dataclass
class Trace:
    spark: object
    tracer: tracing.Tracer = field(default_factory=tracing.Tracer)
    stream: tracing.StreamRecorder = field(default_factory=tracing.StreamRecorder)

    def __post_init__(self):
        self.groups = tracing.JobGroups(self.spark)
        self.spark.streams.addListener(self.stream)


@dataclass
class OpResult:
    op: str
    seconds: float
    gc_s: float = 0.0  # JVM collection time while the op ran
    failed: str | None = None  # exception class when the op raised
    error: str | None = None  # why the output is wrong, when it is
    layers: dict = field(default_factory=dict)


class ToolServe:
    """MCP ``tools/call`` messages through ``api.serve.handle_rpc``."""

    name = "tool_serve"

    def __init__(self, seed: int, sf_dir: str = "", memo_dir: str = ""):
        self.warm, self.sequence = toolmix.request_sequence(seed)

    def warm_up(self, spark) -> list[OpResult]:
        return self.run_pass(spark, requests=self.warm)

    def verify(self, spark, results: list[OpResult]) -> list[str]:
        return []  # every response is checked as it arrives

    def run_pass(
        self, spark, trace: Trace | None = None, tag: str = "", requests=None
    ) -> list[OpResult]:
        from weather_data_ingestion_service_spark.api import serve, wrappers

        restore = None
        if trace is not None:
            # spans around the layers' public functions, patched from here
            restore = (dict(serve._TOOLS), wrappers.geocode)
            serve._TOOLS.update({
                name: trace.tracer.wrap("api.build", fn) for name, fn in serve._TOOLS.items()
            })
            wrappers.geocode = trace.tracer.wrap("api.geocode", wrappers.geocode)
        try:
            return [self._request(spark, message, expect, trace, tag)
                    for message, expect in requests or self.sequence]
        finally:
            if restore is not None:
                serve._TOOLS.clear()
                serve._TOOLS.update(restore[0])
                wrappers.geocode = restore[1]

    def _request(self, spark, message, expect, trace, tag) -> OpResult:
        from weather_data_ingestion_service_spark.api.serve import handle_rpc

        op = f"req{message['id']}"
        line = json.dumps(message)
        group = f"perfbench{tag}-{op}"
        gc0 = tracing.gc_seconds(spark)
        t0 = time.perf_counter()
        try:
            if trace is None:
                response = json.loads(json.dumps(handle_rpc(spark, json.loads(line))))
            else:
                with trace.groups.group(group), trace.tracer.span("api.request", op=group):
                    response = json.loads(json.dumps(handle_rpc(spark, json.loads(line))))
        except Exception as exc:  # the request would have killed a stdio server
            result = OpResult(op, time.perf_counter() - t0, failed=type(exc).__name__)
        else:
            result = OpResult(op, time.perf_counter() - t0, gc_s=tracing.gc_seconds(spark) - gc0)
            result.error = toolmix.check_response(message, response, expect)
        if trace is not None:
            result.layers = trace.groups.metrics(group)
        return result


class IndexIngest:
    """Sequential ingest cycles: noop-sink writes of fixed registry ids."""

    name = "index_ingest"
    ops = INGEST_OPS

    def __init__(self, seed: int, sf_dir: str, memo_dir: str):
        import __spark_entry__

        self.sf_dir = sf_dir
        self.memo_dir = memo_dir
        self.queries = __spark_entry__.queries()
        self.oracle = __spark_entry__.oracle_sql()
        self._collected: dict[str, tuple] = {}

    def warm_up(self, spark) -> list[OpResult]:
        """First pass: each op's result is collected for the oracle check."""
        out = []
        for op in self.ops:
            t0 = time.perf_counter()
            df = self.queries[op](spark, self.sf_dir)
            self._collected[op] = (df.columns, [tuple(r) for r in df.collect()])
            out.append(OpResult(op, time.perf_counter() - t0))
        return out

    def verify(self, spark, results: list[OpResult]) -> list[str]:
        """Compare each op's set-up result with its DuckDB ``oracle_sql()`` twin.

        DuckDB's answers are kept in ``memo_dir``, keyed by the oracle SQL,
        the canonicalising code and the input files, so later runs in the
        same checkout compare against them without re-running DuckDB.
        """
        import oracle_utils

        con = None
        errors = []
        for op, (cols, rows) in self._collected.items():
            sql = self.oracle[op]
            memo = os.path.join(self.memo_dir, self._oracle_key(sql, oracle_utils.__file__))
            if os.path.isfile(memo):
                with open(memo) as f:
                    expected = f.read()
            else:
                con = con or oracle_utils.duckdb_connection(self.sf_dir)
                cur = con.execute(sql)
                expected = _digest(oracle_utils.canonical_rows(
                    [c[0] for c in cur.description], cur.fetchall()))
                os.makedirs(self.memo_dir, exist_ok=True)
                with open(memo + ".part", "w") as f:
                    f.write(expected)
                os.replace(memo + ".part", memo)
            if _digest(oracle_utils.canonical_rows(cols, rows)) != expected:
                errors.append(f"{op}: result differs from its oracle")
        if con is not None:
            con.close()
        self._collected.clear()
        return errors

    def _oracle_key(self, sql: str, canon_source: str) -> str:
        h = hashlib.sha256(sql.encode())
        with open(canon_source, "rb") as f:
            h.update(f.read())
        for name in sorted(os.listdir(self.sf_dir)):
            st = os.stat(os.path.join(self.sf_dir, name))
            h.update(f"{name} {st.st_size} {st.st_mtime_ns}".encode())
        return h.hexdigest()

    def run_pass(self, spark, trace: Trace | None = None, tag: str = "") -> list[OpResult]:
        return [self._op(spark, op, trace, tag) for op in self.ops]

    def _op(self, spark, op, trace, tag) -> OpResult:
        # every op starts from an empty cache and a collected heap, so
        # garbage left by the op before it is not billed to this one
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        gc0 = tracing.gc_seconds(spark)
        if trace is None:
            t0 = time.perf_counter()
            self.queries[op](spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return OpResult(op, time.perf_counter() - t0, gc_s=tracing.gc_seconds(spark) - gc0)
        group = f"perfbench{tag}-{op}"
        n_progress = len(trace.stream.progress)
        before = tracing.scratch_files(spark)
        tr = trace.tracer
        with trace.groups.group(group), tr.span("registry.op", op=group) as whole:
            with tr.span("registry.build") as build:
                df = self.queries[op](spark, self.sf_dir)
            with tr.span("registry.exec") as exe:
                df.write.format("noop").mode("overwrite").save()
        result = OpResult(op, whole["end"] - whole["start"], gc_s=tracing.gc_seconds(spark) - gc0)
        layers = trace.groups.metrics(group)
        after = tracing.scratch_files(spark)
        progress = trace.stream.progress[n_progress:]
        layers.update(
            build_s=build["end"] - build["start"],
            exec_s=exe["end"] - exe["start"],
            stream_batches=len(progress),
            stream_input_rows=sum(p["input_rows"] for p in progress),
            stream_add_batch_ms=sum(p["duration_ms"].get("addBatch", 0) for p in progress),
            stream_wal_commit_ms=sum(p["duration_ms"].get("walCommit", 0) for p in progress),
            bytes_written=sum(size for key, size in after.items() if key not in before),
        )
        result.layers = layers
        return result


WORKLOADS = {w.name: w for w in (ToolServe, IndexIngest)}
