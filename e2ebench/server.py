"""Server process of the end-to-end benchmark.

``run.py`` starts one of these per run and talks to it over stdin and
stdout, one JSON object per line (replies are prefixed with ``@e2e``
so stray output from the JVM cannot be mistaken for one).

Viewer workloads: the process materialises the generated recording
with ``ingest.materialize_samples``, reads it back through
``ingest.read_samples`` and serves it over the program's WebSocket
transport, wired as ``serving.launcher.build_engine`` wires a server
(including ``tables.ensure_package_shipped``). It caches nothing.

Ingest workload: the process lands a backlog of
``INGEST_SEGMENTS_SCHEMA`` parquet files and, on ``measure``, drains it
through the streaming ingest path while the streaming min/max
downsample runs beside it, as often as the time allows.

On ``analytics`` (traced ingest runs only) the ingest process also
writes a generated documents and embeddings corpus, runs each batch
query once and reports a digest of its result (the warm-up, and what
the load generator checks against the query's SQL oracle), then traces
passes of the queries, each forced with the noop sink.

Commands: ``sentinel``, ``memory``; viewer ``trace_on``, ``stats``,
``trace_off``; ingest ``measure``, ``analytics``. The server runs until
its input ends or it is killed.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from layers import jvm_heap_peak_mb  # noqa: E402
from recording import RATE_HZ, make_backlog, make_recording  # noqa: E402
from sizes import SIZES  # noqa: E402
from spans import Tracer  # noqa: E402

from pennsieve_streaming_spark import ingest as INGEST  # noqa: E402
from pennsieve_streaming_spark import tables as TBL  # noqa: E402
from pennsieve_streaming_spark.serving.launcher import Engine  # noqa: E402
from pennsieve_streaming_spark.serving.ws import WebSocketTimeSeriesServer  # noqa: E402
from pennsieve_streaming_spark.session import get_spark  # noqa: E402
from pennsieve_streaming_spark.streaming import downsample as SDS  # noqa: E402
from pennsieve_streaming_spark.streaming import ingest as SING  # noqa: E402

WINDOW_US = 1_000_000  # streaming min/max window


def reply(obj: dict) -> None:
    sys.stdout.write("@e2e " + json.dumps(obj) + "\n")
    sys.stdout.flush()


def start_spark(workdir: str):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        "e2ebench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # the traced run reads every job and stage of the run back
            # from the status store; keep them all
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def sentinel_s(spark) -> float:
    """``bench.py``'s load-sentinel kernel, a fixed scan+hash-agg over a
    deterministic range, timed once (``bench.py`` takes the best of
    three after a warm-up; one keeps the run short)."""
    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr(
        "sum(id * (id % 7)) AS s", "count(1) AS n"
    ).collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# viewer workloads
# --------------------------------------------------------------------------

def write_recording(rec, path: str) -> None:
    """The recording as one long-format (channel, ts, value) parquet."""
    n = len(rec.ts)
    idx = np.repeat(np.arange(len(rec.channels), dtype=np.int32), n)
    table = pa.table({
        "channel": pa.DictionaryArray.from_arrays(idx, pa.array(rec.channels)),
        "ts": np.tile(rec.ts, len(rec.channels)),
        "value": rec.values.reshape(-1),
    })
    pq.write_table(table, path)


def land_recording(size, seed: int, root: str) -> tuple[list[str], str]:
    """Generate the recording and write it under ``root``; returns its
    channels and the parquet path."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rec = make_recording(seed, size.duration_s, size.n_gaps)
    raw = os.path.join(root, "recording.parquet")
    write_recording(rec, raw)
    return rec.channels, raw


def viewer_setup(spark, channels: list[str], raw: str) -> Engine:
    """Materialise the landed recording; bind an engine to the
    materialised layout."""
    layout = os.path.join(os.path.dirname(raw), "samples")
    INGEST.materialize_samples(spark.read.parquet(raw), layout)
    samples = INGEST.read_samples(spark, layout)
    TBL.ensure_package_shipped(spark)
    rates = {ch: RATE_HZ for ch in channels}
    return Engine(spark=spark, samples=samples, rates=rates, context=None)


async def serve_viewer(spark, engine: Engine, setup: dict) -> None:
    ws = WebSocketTimeSeriesServer(engine.session_factory)
    t0 = time.perf_counter()
    port = await ws.start("127.0.0.1")
    setup["serve_s"] = time.perf_counter() - t0
    reply({"event": "ready", "port": port, "setup": setup})
    tracer = probe = None
    loop = asyncio.get_running_loop()
    lines: asyncio.Queue[str] = asyncio.Queue()

    def read_stdin() -> None:
        for line in sys.stdin:
            loop.call_soon_threadsafe(lines.put_nowait, line)
        loop.call_soon_threadsafe(lines.put_nowait, None)  # end of input: stop serving

    threading.Thread(target=read_stdin, daemon=True).start()
    while (line := await lines.get()) is not None:
        cmd = json.loads(line)
        if cmd["cmd"] == "sentinel":
            reply({"sentinel_s": await asyncio.to_thread(sentinel_s, spark)})
        elif cmd["cmd"] == "memory":
            reply({"jvm_heap_peak_mb": jvm_heap_peak_mb(spark)})
        elif cmd["cmd"] == "trace_on":
            from layers import ViewerProbe

            tracer = Tracer()
            probe = ViewerProbe(tracer, spark, type(engine.samples))
            probe.install()
            reply({"ok": True})
        elif cmd["cmd"] == "trace_off":
            tracer.unpatch()
            reply({"ok": True})
        elif cmd["cmd"] == "stats":
            metrics = await asyncio.to_thread(probe.metrics)
            tracer.dump("spans.json")  # the work directory is the cwd
            reply({"per_layer": metrics, "spans": len(tracer.spans)})
    await ws.stop()


# --------------------------------------------------------------------------
# ingest workload
# --------------------------------------------------------------------------

def land_backlog(backlog, landing: str) -> int:
    """Write one parquet file per backlog file, with ascending mtimes so
    the file source replays them in event-time order. Returns bytes."""
    os.makedirs(landing)
    total = 0
    for i, rows in enumerate(backlog.files):
        table = pa.table({
            "channel": pa.array([r[0] for r in rows], pa.string()),
            "start_ts": pa.array([r[1] for r in rows], pa.int64()),
            "sample_period": pa.array([r[2] for r in rows], pa.float64()),
            "data": pa.array([r[3] for r in rows], pa.list_(pa.float64())),
        })
        path = os.path.join(landing, f"seg_{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))
        total += os.path.getsize(path)
    return total


class IngestLane:
    def __init__(self, spark, size, seed: int, root: str):
        self.spark, self.size, self.root = spark, size, root
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.backlog = make_backlog(
            seed, size.ingest_files, size.ingest_channels,
            size.seg_samples, size.segs_per_file,
        )
        self.landing = os.path.join(root, "landing")
        self.landing_bytes = land_backlog(self.backlog, self.landing)
        self.n_samples = sum(len(r[3]) for f in self.backlog.files for r in f)
        self.rounds = 0
        self.expected = None  # the oracle's answer, computed at the first check

    def drain(self, landing: str, tracer: Tracer | None) -> dict:
        """One availableNow drain of ``landing`` into fresh sinks; returns
        the wall time and both queries' progress reports."""
        self.rounds += 1
        out = os.path.join(self.root, f"round{self.rounds}")
        close = tracer.open("ingest.round", trace=f"round{self.rounds}") if tracer else None
        t0 = time.perf_counter()
        segs = SING.read_ingest_stream(self.spark, landing)
        q_ingest = SING.write_samples_stream(
            SING.explode_segments_to_samples(segs),
            os.path.join(out, "samples"), os.path.join(out, "ckpt_samples"),
        )
        minmax = SDS.stream_minmax_downsample(
            SING.explode_segments_to_samples(SING.read_ingest_stream(self.spark, landing)),
            WINDOW_US,
        )
        q_minmax = (
            minmax.writeStream.format("parquet")
            .option("path", os.path.join(out, "minmax"))
            .option("checkpointLocation", os.path.join(out, "ckpt_minmax"))
            .trigger(availableNow=True)
            .start()
        )
        q_ingest.processAllAvailable()
        q_ingest.stop()
        q_minmax.awaitTermination()
        wall = time.perf_counter() - t0
        if close:
            close()
        return {
            "dir": out,
            "wall_s": wall,
            "ingest": [json.loads(p.json) for p in q_ingest.recentProgress],
            "minmax": [json.loads(p.json) for p in q_minmax.recentProgress],
        }

    def warm_up(self) -> None:
        warm = os.path.join(self.root, "warm_landing")
        os.makedirs(warm)
        for name in sorted(os.listdir(self.landing))[: self.size.warm_files]:
            shutil.copy2(os.path.join(self.landing, name), warm)
        self.drain(warm, None)

    def measure(self, seconds: float, traced: bool) -> dict:
        from layers import check_ingest_round, ingest_layer_metrics

        tracer = None
        if traced:
            from layers import instrument_ingest

            tracer = Tracer()
            instrument_ingest(tracer)
        rounds = []
        t_end = time.perf_counter() + seconds
        while not rounds or time.perf_counter() < t_end:
            rounds.append(self.drain(self.landing, tracer))
        if tracer:
            tracer.unpatch()
        t0 = time.perf_counter()
        if self.expected is None:
            self.expected = self.backlog.expected(WINDOW_US)
        checks = [check_ingest_round(self.spark, self.expected, r["dir"]) for r in rounds]
        verify_s = time.perf_counter() - t0
        result = {
            "rounds": len(rounds),
            "verify_s": verify_s,
            "samples": self.n_samples * len(rounds),
            "wall_s": sum(r["wall_s"] for r in rounds),
            # the first micro-batch of every round also pays query start-up
            "trigger_ms": [p["durationMs"]["triggerExecution"]
                           for r in rounds for p in r["ingest"][1:] if p["numInputRows"]],
            "add_batch_ms": [p["durationMs"]["addBatch"]
                             for r in rounds for p in r["ingest"][1:] if p["numInputRows"]],
            "attempted": sum(c[0] for c in checks),
            "failed": sum(c[1] for c in checks),
            "mismatches": [m for c in checks for m in c[2]][:10],
        }
        if tracer:
            result["per_layer"] = ingest_layer_metrics(
                tracer, rounds, self.landing_bytes
            )
            tracer.dump("spans.json")  # the work directory is the cwd
        return result


# --------------------------------------------------------------------------
# batch analytics, traced beside the ingest lane
# --------------------------------------------------------------------------

def drop_leftover_state(spark) -> None:
    """As ``bench.py`` does between queries: clear the SQL cache and
    unpersist leftover persistent RDDs, so every query computes from
    its parquet inputs."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def traced_analytics(spark, size, seed: int, root: str, seconds: float) -> dict:
    """Write the generated corpus; run every query once, collecting its
    result (the warm-up, and the digests the load generator checks
    against the SQL oracle); then trace passes of the queries, each
    forced with the noop sink, until ``seconds`` have passed."""
    import __spark_entry__

    from layers import analytics_layer_metrics, instrument_llm

    t0 = time.perf_counter()
    docs = os.path.join(root, "corpus")
    corpus.write_corpus(seed, size.n_docs, size.n_embs, docs)
    queries = __spark_entry__.queries()
    digests = {}
    for q in corpus.QUERIES:
        drop_leftover_state(spark)
        df = queries[q](spark, docs)
        digests[q] = corpus.digest(df.columns, df.collect())
    setup_s = time.perf_counter() - t0

    tracer = Tracer()
    instrument_llm(tracer)
    sc = spark.sparkContext
    groups = {q: f"e2ebench-{q}" for q in corpus.QUERIES}
    times = {q: [] for q in corpus.QUERIES}
    passes, errors, failed = [], [], dict.fromkeys(corpus.QUERIES, 0)
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        close_pass = tracer.open("analytics.pass", trace=len(passes) + 1)
        took = {}
        for q in corpus.QUERIES:
            drop_leftover_state(spark)
            sc.setJobGroup(groups[q], q)
            close = tracer.open("analytics.query")
            t1 = time.perf_counter()
            try:
                queries[q](spark, docs).write.mode("overwrite").format("noop").save()
                took[q] = time.perf_counter() - t1
                times[q].append(took[q])
            except Exception as e:  # noqa: BLE001 - counted as a failed execution
                failed[q] += 1
                errors.append(f"{q}: {e}"[:300])
            close(query=q)
        close_pass()
        passes.append(took)
    tracer.unpatch()
    layers = analytics_layer_metrics(spark, tracer, corpus.QUERIES, groups, times)
    pass_s = [sum(p.values()) for p in passes if len(p) == len(corpus.QUERIES)]
    layers["analytics.pass_s"] = statistics.median(pass_s) if pass_s else 0.0
    tracer.dump("spans_analytics.json")  # the work directory is the cwd
    return {"setup_s": setup_s, "digests": digests, "per_layer": layers,
            "executions": len(passes), "failed": failed, "errors": errors[:5]}


def serve_ingest(spark, lane: IngestLane, setup: dict, size, seed: int, workdir: str) -> None:
    reply({"event": "ready", "setup": setup})
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "sentinel":
            reply({"sentinel_s": sentinel_s(spark)})
        elif cmd["cmd"] == "memory":
            reply({"jvm_heap_peak_mb": jvm_heap_peak_mb(spark)})
        elif cmd["cmd"] == "measure":
            reply(lane.measure(cmd["seconds"], cmd["trace"]))
        elif cmd["cmd"] == "analytics":
            reply(traced_analytics(spark, size, seed, os.path.join(workdir, "analytics"),
                                   cmd["seconds"]))


# --------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    args = ap.parse_args()
    size = SIZES[args.size]

    t0 = time.perf_counter()
    workdir = os.getcwd()  # run.py starts the server in the run's work directory
    viewer = args.workload in ("pan_zoom", "clinical_review")
    if viewer:  # the recording is generated and written while Spark starts
        pool = ThreadPoolExecutor(1)
        landing = pool.submit(land_recording, size, args.seed, os.path.join(workdir, "rec"))
    spark = start_spark(workdir)
    spark.range(1).collect()
    setup = {"spark_s": time.perf_counter() - t0, "master": spark.sparkContext.master}
    t1 = time.perf_counter()
    if viewer:
        engine = viewer_setup(spark, *landing.result())
        pool.shutdown()
        setup["data_s"] = time.perf_counter() - t1
        asyncio.run(serve_viewer(spark, engine, setup))
    else:
        lane = IngestLane(spark, size, args.seed, os.path.join(workdir, "ingest"))
        setup["data_s"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        lane.warm_up()
        setup["warm_s"] = time.perf_counter() - t1
        serve_ingest(spark, lane, setup, size, args.seed, workdir)
    spark.stop()


if __name__ == "__main__":
    main()
