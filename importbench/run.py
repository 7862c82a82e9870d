"""Importer benchmark: seeded Zeebe envelopes published to a NATS JetStream
double in its own process, drained by ``streaming.pipeline.run_deployment``
into one sqlite file per tenant, gated on the converged tenant tables.

    python3 importbench/run.py --workload import_bulk --seed 1 --seconds 5 --trace 0

The load is a closed loop: this process publishes a wave over one
connection, calls ``run_deployment`` and waits for it to return before it
publishes the next. Set-up (session start and one untimed warm-up
deployment) ends at the first timed publish. With ``--trace 0`` the last
stdout line carries the end-to-end metrics; with ``--trace 1`` one
iteration runs with a streaming listener, a timing wrapper around the sink
executor and probe reads, and the line carries the per-layer metrics. JSON
lines before it stamp the result (source hash, cores, heap, seed, trace
mode, corpus counts), give the prefix diagnostic on ``import_waves``, the
layer-sum terms of a traced run, and what the gate found when it fails.

Workloads are defined in ``corpus.WORKLOADS``. ``import_linked`` runs the
same way; BENCHMARK.json leaves it out to bound the benchmark's total run
time, as set-up alone takes most of a run. ``--cores 1`` gives the
single-thread baseline.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_ROOT = os.path.dirname(_HERE)
sys.path.insert(0, _ROOT)

HEAP = "2g"


def process_start_age() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def source_hash() -> str:
    """Digest of the code under test and of this benchmark."""
    h = hashlib.sha256()
    for top in ("ph_ee_nats_importer_rdbms_spark", "importbench", "tests"):
        for d, dirs, files in sorted(os.walk(os.path.join(_ROOT, top))):
            dirs.sort()
            for n in sorted(files):
                if n.endswith(".py") and (top != "tests" or n == "nats_mini_server.py"):
                    p = os.path.join(d, n)
                    h.update(os.path.relpath(p, _ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


class Deployment:
    """One importer deployment: a broker process, a checkpoint directory
    and one bootstrapped sqlite file per tenant."""

    def __init__(self, spark, root: str, executor) -> None:
        from importbench.broker import Broker
        from importbench.corpus import TENANTS
        from ph_ee_nats_importer_rdbms_spark.sinks import dbapi, jdbc

        self.spark, self.root = spark, root
        os.makedirs(os.path.join(root, "db"))
        self.conns = {t: os.path.join(root, "db", f"{t}.db") for t in TENANTS}
        ddl = dbapi.SqliteExecutor()
        for url in self.conns.values():
            jdbc.bootstrap_ddl(url, ddl, dialect="sqlite")
        self.resolve = jdbc.tenant_url_resolver(self.conns)
        self.executor = executor
        self.broker = Broker()

    def call(self) -> dict:
        """One ``run_deployment`` call: its wall time, start and end (epoch
        seconds), and the error it raised, if any."""
        from ph_ee_nats_importer_rdbms_spark.streaming.pipeline import run_deployment

        t0, p0 = time.time(), time.perf_counter()
        err = None
        try:
            run_deployment(
                self.spark,
                os.path.join(self.root, "work"),
                self.resolve,
                self.executor,
                nats_options=self.broker.nats_options(),
                dialect="sqlite",
            )
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            err = repr(e)
        return {"wall": time.perf_counter() - p0, "t0": t0, "t1": time.time(), "error": err}

    def committed_seq(self) -> int:
        """The stream sequence the ingest hop has committed (0 if none)."""
        ckpt = os.path.join(self.root, "work", "ckpt_resolved")
        try:
            batch = max(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
        except (FileNotFoundError, ValueError):
            return 0
        with open(os.path.join(ckpt, "offsets", str(batch))) as f:
            return int(json.loads(f.read().strip().splitlines()[-1])["seq"])

    def backlog(self) -> int:
        return self.broker.last_seq() - self.committed_seq()

    def tables(self) -> dict:
        from importbench.gate import read_tables

        return read_tables(self.conns)

    def close(self) -> None:
        self.broker.close()
        shutil.rmtree(self.root, ignore_errors=True)


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.spark = None
        self.n_deploy = 0
        self.ops: list[dict] = []
        self.latencies: list[float] = []
        self.gates: list[dict] = []
        self.prefix: list[dict] = []
        self.last_tables = None

    # -- set-up --------------------------------------------------------------

    def start_session(self):
        from ph_ee_nats_importer_rdbms_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        self.spark = build_session(
            app_name="importbench",
            master=f"local[{self.args.cores}]",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.local.dir": os.path.join(self.work, "local"),
            },
        )
        return self.spark

    def deployment(self, executor=None) -> Deployment:
        from ph_ee_nats_importer_rdbms_spark.sinks.dbapi import SqliteExecutor

        self.n_deploy += 1
        root = os.path.join(self.work, f"deploy{self.n_deploy}")
        return Deployment(self.spark, root, executor or SqliteExecutor())

    def warmup(self, corpus) -> None:
        dep = self.deployment()
        try:
            dep.broker.publish(corpus.envelopes)
            err = dep.call()["error"]
            if err is not None:
                raise RuntimeError(f"warm-up deployment failed: {err}")
        finally:
            dep.close()

    # -- measured work ---------------------------------------------------------

    def operation(self, dep: Deployment, envelopes: int) -> dict:
        """One ``run_deployment`` call, counted: it fails if it raises or
        leaves a backlog (broker ``last_seq`` above the committed offset)."""
        op = dep.call()
        op["envelopes"] = envelopes
        op["backlog"] = dep.backlog() if op["error"] is None else None
        op["failed"] = op["error"] is not None or op["backlog"] != 0
        self.ops.append(op)
        return op

    def cycle(self, corpus, expected, prefix_expected, executor=None, keep=False):
        """One deployment draining the whole corpus, one call per wave;
        gates the converged tables. Returns the deployment if ``keep``."""
        from importbench.gate import diff

        dep = self.deployment(executor)
        try:
            lo = 0
            for i, hi in enumerate(corpus.waves):
                stamps = dep.broker.publish(corpus.envelopes[lo:hi])
                op = self.operation(dep, hi - lo)
                done = time.perf_counter()
                if op["failed"]:
                    self.gates.append({"deployment": "failed before convergence"})
                    return dep if keep else None
                self.latencies.extend(done - s for s in stamps)
                if prefix_expected is not None and hi < len(corpus.envelopes):
                    self.prefix.append({"wave": i + 1, "envelopes": hi,
                                        "diff": diff(dep.tables(), prefix_expected[i])})
                lo = hi
            self.last_tables = dep.tables()
            self.gates.append(diff(self.last_tables, expected))
            if keep:
                return dep
        finally:
            if not keep:
                dep.close()
        return None


def _environment(work: str, cores: int) -> None:
    """Keep every file Spark, its JVM and its Python workers write inside
    ``work``, and make the package importable from the workers."""
    for d in ("tmp", "local", "stage_cache"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_STAGE_CACHE_DIR": os.path.join(work, "stage_cache"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONWARNINGS": "ignore",
        }
    )


def _stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for both; the JVM's
    ``pyspark.daemon`` workers exit with it. The session gets 30 s: on
    SIGTERM a streaming query may still hold it."""
    if spark is None:
        return
    import threading

    from pyspark import SparkContext

    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(timeout=30)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.poll() is None:
            proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _reap_children() -> None:
    """Stop any process this one started and that is still running (a
    worker the JVM left behind), children before parents."""
    me = os.getpid()
    parents = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    mine, frontier = [], [me]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        mine.extend(kids)
        frontier.extend(kids)
    for pid in reversed(mine):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in mine:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def _sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args(argv)

    from importbench.corpus import WORKLOADS  # fails here without the package

    if args.workload not in WORKLOADS or args.workload == "warmup":
        ap.error(f"unknown workload {args.workload!r}")
    signal.signal(signal.SIGTERM, _sigterm)
    work = os.path.join(_ROOT, ".importbench", f"run-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(args, work)
    try:
        _environment(work, args.cores)
        result = _run(bench)
    finally:
        try:
            _stop_spark(bench.spark)
        finally:
            _reap_children()
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    for line in result:
        print(json.dumps(line), flush=True)
    return 0


def _run(bench: Bench) -> list[dict]:
    from importbench import gate, layers
    from importbench.corpus import Corpus

    args = bench.args
    t = time.perf_counter()
    corpus = Corpus(args.workload, args.seed)
    warm = Corpus("warmup", args.seed)
    expected = corpus.expected()
    prefix_expected = (
        [corpus.expected(upto=hi) for hi in corpus.waves[:-1]]
        if len(corpus.waves) > 1 else None
    )
    n = len(corpus.envelopes)
    drop = (corpus.waves[-2] if len(corpus.waves) > 1 else n // 2, n)
    dropped_wave = corpus.expected(drop=drop)
    corpus_s = time.perf_counter() - t

    t = time.perf_counter()
    bench.start_session()
    session_s = time.perf_counter() - t
    t = time.perf_counter()
    bench.warmup(warm)
    warmup_s = time.perf_counter() - t
    tracer = layers.Tracer(bench) if args.trace else None
    setup_s = process_start_age() - corpus_s

    # whole deployment cycles, a next one only if it still fits in
    # --seconds: the first always runs, so a run measures at least one
    deadline = time.perf_counter() + args.seconds
    if tracer is None:
        while True:
            t = time.perf_counter()
            bench.cycle(corpus, expected, prefix_expected)
            now = time.perf_counter()
            if now + (now - t) > deadline:
                break
    else:
        tracer.run(corpus, expected, prefix_expected, probe_corpus=warm)

    # self-checks: the gate must reject a corrupted tenant row and a
    # deployment that lost a wave
    self_check = {
        "corrupt_row_rejected": bench.last_tables is not None
        and bool(gate.diff(gate.corrupted(bench.last_tables), expected)),
        "dropped_wave_rejected": bool(gate.diff(dropped_wave, expected)),
    }
    converged = bool(bench.gates) and all(g == {} for g in bench.gates)
    ok_ops = [o for o in bench.ops if not o["failed"]]
    failed = len(bench.ops) - len(ok_ops)
    correct = converged and all(self_check.values()) and failed == 0

    props = corpus.properties()
    stamp = {
        "source_hash": source_hash(),
        "workload": args.workload,
        "cores": args.cores,
        "heap": HEAP,
        "seed": args.seed,
        "trace": args.trace,
        **props,
    }
    lines: list[dict] = [{"stamp": stamp}]
    if prefix_expected is not None:
        lines.append({"prefix_diagnostic": bench.prefix})
    if not converged or not all(self_check.values()) or failed:
        lines.append({"gate": bench.gates, "self_check": self_check,
                      "failed_ops": [o for o in bench.ops if o["failed"]]})

    if tracer is None:
        metrics = {
            "import_env_per_s": (statistics.median(o["envelopes"] / o["wall"] for o in ok_ops), "env/s"),
            "commit_latency_p50_s": (percentile(bench.latencies, 50), "s"),
            "commit_latency_p99_s": (percentile(bench.latencies, 99), "s"),
            "setup_s": (setup_s, "s"),
        } if ok_ops else {}
    else:
        metrics = tracer.metrics()
        lines.append({"trace_layer_sum": tracer.layer_terms})
        metrics.update(
            {
                "setup.session_s": (session_s, "s"),
                "setup.warmup_s": (warmup_s, "s"),
                "bench.corpus_s": (corpus_s, "s"),
                "process.peak_rss_mb": (layers.peak_rss_mb(), "MB"),
                **{k: (v, "count" if k.endswith(("envelopes", "instances")) else "ratio")
                   for k, v in props.items()},
            }
        )
    corpus.close()
    warm.close()
    lines.append(
        {
            "correct": correct,
            "attempted": len(bench.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
    return lines


if __name__ == "__main__":
    sys.exit(main())
