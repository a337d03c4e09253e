"""Per-layer probes: spans and counts taken around the calls into the
program's modules, from outside the program, plus the ingest lane's
correctness check.

Viewer layers (one span tree per page, rooted at the transport's
execution of the request):

  transport.page      serving.transport.Connection._execute
  session.admission   serving.session.QuerySession.check_admission
  session.collect     serving.transport.Connection._run_collect
  session.run         serving.session.QuerySession.run (plan build)
  router.plan         plans.router.plan_pixel_query
  window/downsample/montage/filter.plan
                      operators.window.window_query,
                      operators.downsample.downsample_minmax_time,
                      operators.montage.montage_two_channels,
                      dsp.filtering.apply_filter
  spark.consume       DataFrame.toLocalIterator, one per channel
  transport.encode/serialize/frame
                      serving.protobuf.data_message_to_protobuf,
                      TimeSeriesMessage.to_bytes, serving.ws.encode_frame

Analytics layers (one span tree per pass of the batch queries):

  analytics.pass / analytics.query
                      one pass, and one query of it forced with the noop sink
  llm.dedup, llm.text, llm.similarity
                      every public function of llm.dedup, llm.text and
                      llm.similarity (plan building, plus whatever work
                      the function does eagerly)

Spark job, stage and task counts come from the status tracker, by the
sessions' (or the queries') job groups; rows examined by the scans are
the stages' input records in the status store.
"""

from __future__ import annotations

import inspect
import itertools
import os
import statistics
import time
from collections import defaultdict, deque

from py4j.protocol import Py4JError

from pennsieve_streaming_spark.dsp import filtering as FILTERING
from pennsieve_streaming_spark.llm import dedup as DEDUP
from pennsieve_streaming_spark.llm import similarity as SIMILARITY
from pennsieve_streaming_spark.llm import text as TEXT
from pennsieve_streaming_spark.operators import downsample as DOWNSAMPLE
from pennsieve_streaming_spark.operators import montage as MONTAGE
from pennsieve_streaming_spark.operators import window as WINDOW
from pennsieve_streaming_spark.plans import router as ROUTER
from pennsieve_streaming_spark.serving import protobuf as PROTOBUF
from pennsieve_streaming_spark.serving import session as SESSION
from pennsieve_streaming_spark.serving import transport as TRANSPORT
from pennsieve_streaming_spark.serving import ws as WS
from pennsieve_streaming_spark.streaming import downsample as SDS
from pennsieve_streaming_spark.streaming import ingest as SING

ENCODE_SPANS = ("transport.encode", "transport.serialize", "transport.frame")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def spark_counts(spark, groups) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks run, input records) of every job the given
    job groups ran. Stages skipped because their output was reused do
    not count."""
    sc = spark.sparkContext
    jvm_sc = sc._jsc.sc()
    try:  # the status store is fed by the listener bus; let it catch up
        jvm_sc.listenerBus().waitUntilEmpty()
    except Py4JError:
        time.sleep(1.0)
    tracker = sc.statusTracker()
    store = jvm_sc.statusStore()
    jobs = stages = tasks = records = 0
    for group in groups:
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                stage = tracker.getStageInfo(stage_id)
                if stage is None or stage.numCompletedTasks == 0:
                    continue
                stages += 1
                tasks += stage.numCompletedTasks
                records += store.lastStageAttempt(stage_id).inputRecords()
    return jobs, stages, tasks, records


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak used size of the driver JVM's heap memory pools
    since it started."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        pool.getPeakUsage().getUsed()
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().name() == "HEAP" and pool.getPeakUsage() is not None
    ) / 2**20


class ViewerProbe:
    def __init__(self, tracer, spark, dataframe_cls):
        self.tracer = tracer
        self.spark = spark
        self.dataframe_cls = dataframe_cls
        self.page_ids = itertools.count(1)
        self.pages: dict[int, dict] = {}
        self.groups: set[str] = set()
        self.channel_kinds: dict[int, tuple[object, str, tuple[str, ...]]] = {}

    def install(self) -> None:
        t, probe = self.tracer, self
        Conn, Sess = TRANSPORT.Connection, SESSION.QuerySession

        handle_raw = Conn.handle_raw

        async def traced_handle_raw(conn, raw):
            if '"virtualChannels"' in raw:
                conn.__dict__.setdefault("_e2e_arrivals", deque()).append(time.perf_counter())
            return await handle_raw(conn, raw)

        execute = Conn._execute

        async def traced_execute(conn, req, epoch):
            page = next(probe.page_ids)
            arrivals = conn.__dict__.get("_e2e_arrivals")
            now = time.perf_counter()
            probe.pages[page] = {
                "buffer_wait_s": now - arrivals.popleft() if arrivals else 0.0,
                "bytes": 0, "msgs": 0, "rows": 0, "paths": set(),
            }
            probe.groups.add(conn.session.job_group)
            close = t.open("transport.page", trace=page)
            try:
                return await execute(conn, req, epoch)
            finally:
                close()

        run = Sess.run

        def traced_run(sess, req):
            close = t.open("session.run")
            try:
                out = run(sess, req)
            finally:
                close()
            for name, df in out.items():
                kinds = tuple(
                    k for k, has in (
                        ("montage", "<->" in name),
                        ("filter", name in sess.state.filters),
                    ) if has
                ) or ("plain",)
                # hold the frame so its id is not reused before it is consumed
                probe.channel_kinds[id(df)] = (df, name, kinds)
            return out

        plan = ROUTER.plan_pixel_query

        def traced_plan(*args, **kwargs):
            close = t.open("router.plan")
            try:
                result = plan(*args, **kwargs)
            finally:
                close()
            page = probe.pages.get(t.current_trace())
            if page is not None:
                page["paths"].add(result.path)
            return result

        to_local = self.dataframe_cls.toLocalIterator

        def traced_to_local(df, *args, **kwargs):
            _, name, kinds = probe.channel_kinds.pop(id(df), (None, None, ()))
            close = t.open("spark.consume")
            n = 0
            try:
                for row in to_local(df, *args, **kwargs):
                    n += 1
                    yield row
            finally:
                close(channel=name, kinds=list(kinds), rows=n)
                page = probe.pages.get(t.current_trace())
                if page is not None:
                    page["rows"] += n

        encode_frame = WS.encode_frame

        def traced_frame(payload, *args, **kwargs):
            close = t.open("transport.frame")
            try:
                frame = encode_frame(payload, *args, **kwargs)
            finally:
                close()
            page = probe.pages.get(t.current_trace())
            if page is not None:
                page["bytes"] += len(frame)
                page["msgs"] += 1
            return frame

        t.patch(Conn, "handle_raw", traced_handle_raw)
        t.patch(Conn, "_execute", traced_execute)
        t.patch(Sess, "run", traced_run)
        t.patch(ROUTER, "plan_pixel_query", traced_plan)
        t.patch(self.dataframe_cls, "toLocalIterator", traced_to_local)
        t.patch(WS, "encode_frame", traced_frame)
        t.wrap_function(Conn, "_run_collect", "session.collect")
        t.wrap_function(Sess, "check_admission", "session.admission")
        t.wrap_function(WINDOW, "window_query", "window.plan")
        t.wrap_function(DOWNSAMPLE, "downsample_minmax_time", "downsample.plan")
        t.wrap_function(MONTAGE, "montage_two_channels", "montage.plan")
        t.wrap_function(FILTERING, "apply_filter", "filter.plan")
        t.wrap_function(PROTOBUF, "data_message_to_protobuf", "transport.encode")
        t.wrap_function(PROTOBUF.TimeSeriesMessage, "to_bytes", "transport.serialize")

    def metrics(self) -> dict[str, float]:
        t = self.tracer
        by_trace = defaultdict(list)
        for s in t.spans:
            by_trace[s["trace"]].append(s)
        pages, run_ms, collect_ms, encode_ms = [], [], [], []
        for pid, page in self.pages.items():
            spans = by_trace.get(pid)
            if not spans:
                continue
            dur = lambda names: 1e3 * sum(  # noqa: E731
                s["end"] - s["start"] for s in spans if s["name"] in names
            )
            pages.append(page)
            run_ms.append(dur(("session.run",)))
            collect_ms.append(dur(("session.collect",)) - dur(("session.run",)))
            encode_ms.append(dur(ENCODE_SPANS))
        consume = defaultdict(list)
        for s in t.spans:
            if s["name"] == "spark.consume":
                for kind in s["kinds"]:
                    consume[kind].append(1e3 * (s["end"] - s["start"]))
        jobs, stages, tasks, records = spark_counts(self.spark, self.groups)
        rows_out = sum(p["rows"] for p in pages)
        n = max(1, len(pages))
        out = {
            "transport.buffer_wait_ms": 1e3 * _median(p["buffer_wait_s"] for p in pages),
            "transport.encode_ms": _median(encode_ms),
            "transport.bytes_per_page": sum(p["bytes"] for p in pages) / n,
            "transport.msgs_per_page": sum(p["msgs"] for p in pages) / n,
            "session.run_ms": _median(run_ms),
            "session.collect_ms": _median(collect_ms),
            "session.spark_jobs_per_page": jobs / n,
            "session.spark_stages_per_page": stages / n,
            "session.spark_tasks_per_page": tasks / n,
            "scan.rows_per_row_out": records / rows_out if rows_out else 0.0,
            "montage.channel_ms": _median(consume["montage"]),
            "filter.channel_ms": _median(consume["filter"]),
            "plain.channel_ms": _median(consume["plain"]),
        }
        for path in ("raw", "direct", "rollup"):
            out[f"router.path_{path}"] = sum(path in p["paths"] for p in pages)
        return out


# --------------------------------------------------------------------------
# batch analytics lane
# --------------------------------------------------------------------------

LLM_MODULES = {"llm.dedup": DEDUP, "llm.text": TEXT, "llm.similarity": SIMILARITY}


def instrument_llm(tracer) -> None:
    """A span named after its module around every public function of
    the llm modules the analytics queries reach."""
    for name, mod in LLM_MODULES.items():
        for attr, fn in list(vars(mod).items()):
            if (not attr.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__):
                tracer.wrap_function(mod, attr, name)


def analytics_layer_metrics(spark, tracer, queries: list[str], groups: dict[str, str],
                            times: dict[str, list[float]]) -> dict[str, float]:
    """Per query: median seconds, and Spark jobs and stages per
    execution; per llm module: median time per pass spent in its
    functions, counting only calls not made from another function of
    the same module."""
    out = {}
    for q in queries:
        jobs, stages, _, _ = spark_counts(spark, [groups[q]])
        n = max(1, len(times[q]))
        out[f"analytics.{q}_s"] = _median(times[q])
        out[f"analytics.{q}.spark_jobs"] = jobs / n
        out[f"analytics.{q}.spark_stages"] = stages / n
    by_id = {s["id"]: s for s in tracer.spans}
    per_pass = defaultdict(lambda: defaultdict(float))
    for s in tracer.spans:
        if s["name"] in LLM_MODULES and by_id.get(s["parent"], {}).get("name") != s["name"]:
            per_pass[s["name"]][s["trace"]] += 1e3 * (s["end"] - s["start"])
    passes = {s["trace"] for s in tracer.spans if s["name"] == "analytics.pass"}
    for name in LLM_MODULES:
        out[f"{name}_ms"] = _median(per_pass[name].get(p, 0.0) for p in passes)
    return out


# --------------------------------------------------------------------------
# ingest lane
# --------------------------------------------------------------------------

def instrument_ingest(tracer) -> None:
    """Plan-building spans around the streaming entry points; the
    micro-batches themselves are spans rebuilt from the queries'
    progress reports (``ingest_layer_metrics``)."""
    for fn in ("read_ingest_stream", "explode_segments_to_samples", "write_samples_stream"):
        tracer.wrap_function(SING, fn, f"ingest.{fn}")
    tracer.wrap_function(SDS, "stream_minmax_downsample", "rollup.stream_minmax_downsample")


# order in which a micro-batch spends the phases its progress reports
_BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")


def _progress_spans(tracer, name: str, trace: str, progress: list[dict]) -> None:
    """One span per micro-batch, from its reported start and trigger
    time, with the phases it reports laid end to end inside it (the
    report gives their durations, not their starts). Times are moved
    onto the perf_counter clock of the other spans."""
    from datetime import datetime

    offset = time.time() - time.perf_counter()
    for p in progress:
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - offset
        bid = tracer.record(f"{name}.batch", start, start + d.get("triggerExecution", 0) / 1e3,
                            trace=trace, batch=p["batchId"], rows=p["numInputRows"])
        at = start
        for phase in _BATCH_PHASES:
            if phase in d:
                tracer.record(f"{name}.{phase}", at, at + d[phase] / 1e3,
                              parent=bid, trace=trace, batch=p["batchId"])
                at += d[phase] / 1e3


def ingest_layer_metrics(tracer, rounds: list[dict], landing_bytes: int) -> dict[str, float]:
    batches = [p for r in rounds for p in r["ingest"] if p["numInputRows"]]
    for i, r in enumerate(rounds):
        _progress_spans(tracer, "ingest", f"round{i + 1}", r["ingest"])
        _progress_spans(tracer, "rollup", f"round{i + 1}", r["minmax"])
    written = 0
    for r in rounds:
        for root, dirs, files in os.walk(os.path.join(r["dir"], "samples")):
            dirs[:] = [d for d in dirs if d != "_spark_metadata"]
            written += sum(os.path.getsize(os.path.join(root, f))
                           for f in files if f.endswith(".parquet"))
    state = [op for r in rounds for p in r["minmax"] for op in p.get("stateOperators", [])]
    return {
        "ingest.add_batch_ms": _median(p["durationMs"].get("addBatch", 0) for p in batches),
        "ingest.wal_commit_ms": _median(p["durationMs"].get("walCommit", 0) for p in batches),
        "ingest.query_planning_ms": _median(
            p["durationMs"].get("queryPlanning", 0) for p in batches),
        "ingest.rows_per_batch": _median(p["numInputRows"] for p in batches),
        "ingest.bytes_written_per_input_byte": written / (landing_bytes * len(rounds)),
        "rollup.state_rows": max((op["numRowsTotal"] for op in state), default=0),
        "rollup.state_bytes": max((op["memoryUsedBytes"] for op in state), default=0),
    }


def check_ingest_round(spark, expected: dict[str, dict], out_dir: str) -> tuple[int, int, list]:
    """Compare one drained round with the oracle's ``Backlog.expected``:
    the committed samples per channel (count, distinct timestamps, sum,
    min, max) and the streaming min/max on every closed window.
    Returns (checks, failures, mismatch descriptions)."""
    from pyspark.sql import functions as F

    checks = failures = 0
    bad = []
    got = {
        r["channel"]: r
        for r in spark.read.parquet(os.path.join(out_dir, "samples"))
        .groupBy("channel")
        .agg(F.count("*").alias("n"), F.countDistinct("ts").alias("nts"),
             F.sum("value").alias("s"), F.min("value").alias("lo"),
             F.max("value").alias("hi"))
        .collect()
    }
    have = defaultdict(set)
    for r in spark.read.parquet(os.path.join(out_dir, "minmax")).collect():
        have[r["channel"]].add((r["win_start"], r["min_val"], r["max_val"], r["n"]))
    for name, want in expected.items():
        r = got.get(name)
        checks += 2
        if not (
            r is not None and r["n"] == want["n"] and r["nts"] == want["n"]
            and r["lo"] == want["min"] and r["hi"] == want["max"]
            and abs(r["s"] - want["sum"]) <= 1e-9 * want["abs"]
        ):
            failures += 1
            bad.append({"round": os.path.basename(out_dir), "channel": name,
                        "table": r and r.asDict()})
        if have.get(name, set()) != want["windows"]:
            failures += 1
            bad.append({"round": os.path.basename(out_dir), "channel": name,
                        "minmax": f"{len(have.get(name, ()))} rows, want {len(want['windows'])}"})
    return checks, failures, bad
