"""The traced run: per-layer time and counts, measured from outside the
package.

Three instruments: a ``StreamingQueryListener`` registered through
``spark.streams.addListener`` (trigger time, rows and state of each hop and
of the sink query), a picklable timing wrapper around the sink executor,
and ``noop`` probe reads of the NATS source (fetch) and of the parsed
envelope stream (parse). Then a call with nothing new on the warm
deployment and one on a fresh deployment give the per-call fixed cost and
the cold start, and the query-layer probe times the registry entries that
read only ``orders``, cold and warm. Spans stay in memory until the run
ends; the sink's cross the worker-process boundary through one file.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

HOPS = ("resolve", "rekey", "entity")
#: hop of a query, from the directory its parquet sink writes
_SINK_DIRS = {"resolved": "resolve", "rekeyed": "rekey", "changes": "entity"}

#: registry entries that read only ``orders``, by staging domain
QUERY_PROBE = {
    "zeebe": (
        "zeebe_transfers", "zeebe_transaction_requests", "zeebe_batches",
        "zeebe_variables", "zeebe_tasks", "zeebe_routing",
        "transfers_range_filter", "transfer_detail_join", "transfer_detail_rows",
        "instance_lookup", "businesskey_lookup", "tenant_lookup",
    ),
    "stream": (
        "zeebe_transfers_streaming", "zeebe_transaction_requests_streaming",
        "zeebe_batches_streaming", "zeebe_variables_streaming",
        "zeebe_tasks_streaming",
    ),
}


def hop_of(progress: dict) -> str:
    desc = progress.get("sink", {}).get("description", "")
    if "ForeachBatchSink" in desc:
        return "sink"
    name = os.path.basename(desc.rstrip("]").rstrip("/"))
    return _SINK_DIRS.get(name, "other")


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Listener(StreamingQueryListener):
    """Keeps each query run's start time and progress events in memory."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.started: dict[str, float] = {}
        self.terminated: set[str] = set()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.runId))

    def take(self, timeout: float = 30.0) -> tuple[dict[str, float], list[dict]]:
        """Wait until every started run's termination has arrived (the
        listener bus delivers after the queries end), then return and
        forget what was recorded."""
        end = time.monotonic() + timeout
        while True:
            with self._lock:
                if set(self.started) <= self.terminated:
                    started, progress = self.started, self.progress
                    self.started, self.progress, self.terminated = {}, [], set()
                    return started, progress
            if time.monotonic() > end:
                raise TimeoutError("streaming listener events did not arrive")
            time.sleep(0.05)


class TimedExecutor:
    """Picklable sink executor wrapper: times each call of ``inner`` and
    appends one span line ``[url, start, end, rows, ok]`` to ``path``.
    It runs in Spark's Python workers, so its spans reach the benchmark
    through that file."""

    def __init__(self, inner, path: str) -> None:
        self.inner = inner
        self.path = path

    def __call__(self, url: str, statements: list) -> None:
        t0 = time.time()
        ok = False
        try:
            self.inner(url, statements)
            ok = True
        finally:
            rows = sum(len(r) for _, r in statements)
            with open(self.path, "a") as f:
                f.write(json.dumps([url, t0, time.time(), rows, ok]) + "\n")


def overlap_seconds(spans: list[tuple[float, float]]) -> float:
    """Time during which at least two of the spans run at once."""
    edges = sorted([(s, 1) for s, _ in spans] + [(e, -1) for _, e in spans])
    total, active, last = 0.0, 0, 0.0
    for t, d in edges:
        if active >= 2:
            total += t - last
        active += d
        last = t
    return total


def peak_rss_mb() -> float:
    """Peak resident memory of this process plus that of the Spark JVM."""
    import resource

    from pyspark import SparkContext

    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def _noop_probe(df, checkpoint: str) -> tuple[float, int]:
    """Drain ``df`` into the ``noop`` sink; (trigger seconds, rows)."""
    q = (
        df.writeStream.format("noop")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    return (
        sum(p.durationMs.get("triggerExecution", 0) for p in progress) / 1000,
        sum(p.numInputRows for p in progress),
    )


def query_probe(spark, corpus, work: str) -> dict:
    """Plan and execution time of the ``QUERY_PROBE`` entries over the
    corpus's ``orders``, cold from an empty stage cache and then warm;
    each entry's answer is checked against its DuckDB oracle afterwards."""
    import duckdb

    from bench import materialize
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES
    from tools.check_oracles import compare_query

    sf = os.path.join(work, "sf_orders")
    os.makedirs(sf)
    path = os.path.join(sf, "orders.parquet")
    corpus.con.execute(f"COPY orders TO '{path}' (FORMAT PARQUET)")
    times: dict[str, dict[str, tuple[float, float]]] = {"cold": {}, "warm": {}}
    for phase in times:
        for domain, names in QUERY_PROBE.items():
            for name in names:
                t0 = time.perf_counter()
                df = QUERIES[name][0](spark, sf)
                df._jdf.queryExecution().executedPlan()
                t1 = time.perf_counter()
                materialize(df)
                times[phase][name] = (t1 - t0, time.perf_counter() - t1)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    mismatched = [n for ns in QUERY_PROBE.values() for n in ns
                  if not compare_query(spark, con, n, sf)[0]]
    con.close()
    out = {
        f"plans.{domain}.build_s": sum(sum(times["cold"][n]) - sum(times["warm"][n]) for n in names)
        for domain, names in QUERY_PROBE.items()
    }
    out["plans.plan_s"] = sum(p for p, _ in times["warm"].values())
    out["plans.exec_s"] = sum(e for _, e in times["warm"].values())
    out["plans.mismatched"] = len(mismatched)
    return out


class Tracer:
    """Runs the traced iteration for a ``run.Bench`` and turns what the
    instruments saw into per-layer metrics."""

    def __init__(self, bench) -> None:
        self.bench = bench
        self.listener = Listener()
        bench.spark.streams.addListener(self.listener)
        self.spans_path = os.path.join(bench.work, "sink_spans.jsonl")

    def run(self, corpus, expected, prefix_expected, probe_corpus) -> None:
        from ph_ee_nats_importer_rdbms_spark.sinks.dbapi import SqliteExecutor
        from ph_ee_nats_importer_rdbms_spark.streaming.pipeline import read_raw_nats_stream

        bench, spark = self.bench, self.bench.spark
        executor = TimedExecutor(SqliteExecutor(), self.spans_path)
        dep = bench.cycle(corpus, expected, prefix_expected, executor=executor, keep=True)
        try:
            self.calls = list(bench.ops)
            self.latencies = list(bench.latencies)
            self.started, self.progress = self.listener.take()
            opts = dep.broker.nats_options()
            probes = os.path.join(bench.work, "probes")
            # each probe twice, keeping the second: the first read of a
            # kind pays one-time costs that are not the layer's
            for i in range(2):
                self.fetch_s, self.source_rows = _noop_probe(
                    spark.readStream.format("nats").options(**opts).load(),
                    os.path.join(probes, f"fetch{i}"),
                )
                read_s, _ = _noop_probe(
                    read_raw_nats_stream(spark, **opts), os.path.join(probes, f"parse{i}")
                )
            self.parse_s = read_s - self.fetch_s
            self.call_fixed_s = bench.operation(dep, 0)["wall"]
        finally:
            dep.close()
        fresh = bench.deployment()
        try:
            self.cold_start_s = bench.operation(fresh, 0)["wall"]
        finally:
            fresh.close()
        self.listener.take()
        spark.streams.removeListener(self.listener)
        self.plans = query_probe(spark, probe_corpus, bench.work)

    def metrics(self) -> dict[str, tuple[float, str]]:
        prog = sorted(self.progress, key=lambda p: p["timestamp"])
        by_hop = {h: [p for p in prog if hop_of(p) == h] for h in (*HOPS, "sink")}
        busy = {h: sum(p["durationMs"].get("triggerExecution", 0) for p in ps) / 1000
                for h, ps in by_hop.items()}
        rows_in = {h: sum(p["numInputRows"] for p in ps) for h, ps in by_hop.items()}
        run_hop = {p["runId"]: hop_of(p) for p in prog}

        # a hop's span in a call runs from its query's start to the next
        # query's start (the first from the call's start): what is not
        # trigger time in it is the hop's per-call overhead
        span = dict.fromkeys(HOPS, 0.0)
        for op in self.calls:
            starts = sorted((ts, run_hop.get(r)) for r, ts in self.started.items()
                            if op["t0"] <= ts <= op["t1"])
            ends = [ts for ts, _ in starts[1:]] + [op["t1"]]
            for i, ((ts, hop), end) in enumerate(zip(starts, ends)):
                if hop in span:
                    span[hop] += end - (op["t0"] if i == 0 else ts)
        m: dict[str, tuple[float, str]] = {}
        nxt = {"resolve": "rekey", "rekey": "entity", "entity": "sink"}
        for h in HOPS:
            last = by_hop[h][-1]["stateOperators"][0] if by_hop[h] else {}
            m[f"streaming.{h}.busy_s"] = (busy[h], "s")
            m[f"streaming.{h}.rows_in"] = (rows_in[h], "count")
            m[f"streaming.{h}.rows_out"] = (rows_in[nxt[h]], "count")
            m[f"streaming.{h}.batches"] = (sum(1 for p in by_hop[h] if p["numInputRows"]), "count")
            m[f"streaming.{h}.overhead_s"] = (span[h] - busy[h], "s")
            m[f"streaming.{h}.state_rows"] = (last.get("numRowsTotal", 0), "count")
            m[f"streaming.{h}.state_bytes"] = (last.get("memoryUsedBytes", 0), "bytes")
        m["streaming.call_fixed_s"] = (self.call_fixed_s, "s")
        m["streaming.cold_start_s"] = (self.cold_start_s, "s")
        m["sources.fetch_s"] = (self.fetch_s, "s")
        m["sources.rows"] = (self.source_rows, "count")
        m["operators.parse_s"] = (self.parse_s, "s")

        spans = []
        try:
            with open(self.spans_path) as f:
                spans = [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            pass
        m["sinks.busy_s"] = (busy["sink"], "s")
        m["sinks.exec_s"] = (sum(e - s for _, s, e, _, _ in spans), "s")
        m["sinks.calls"] = (len(spans), "count")
        m["sinks.rows"] = (sum(r for *_, r, _ in spans), "count")
        m["sinks.errors"] = (sum(1 for *_, ok in spans if not ok), "count")
        m["sinks.tenant_overlap_s"] = (
            sum(overlap_seconds([(s, e) for u, s, e, _, _ in spans if u == url])
                for url in {u for u, *_ in spans}),
            "s",
        )
        for k, v in self.plans.items():
            m[k] = (v, "count" if k == "plans.mismatched" else "s")

        wall = sum(op["wall"] for op in self.calls)
        self.layer_terms = {
            "fetch": self.fetch_s,
            "parse": self.parse_s,
            "resolve": busy["resolve"] - self.fetch_s - self.parse_s,
            "rekey": busy["rekey"],
            "entity": busy["entity"],
            "sink": busy["sink"],
            "call_fixed": self.call_fixed_s * len(self.calls),
            "traced_wall": wall,
        }
        terms = sum(v for k, v in self.layer_terms.items() if k != "traced_wall")
        m["trace.layer_sum_ratio"] = (terms / wall, "ratio")
        ok = [op for op in self.calls if not op["failed"]]
        if ok:
            m["trace.import_env_per_s"] = (
                statistics.median(op["envelopes"] / op["wall"] for op in ok), "env/s")
            m["trace.commit_latency_p50_s"] = (float(np.percentile(self.latencies, 50)), "s")
        return m
