#!/usr/bin/env python3
"""End-to-end benchmark of the viewer, ingest and batch analytics lanes.

    python3 e2ebench/run.py --workload pan_zoom --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Workloads (see BENCHMARK.json and
e2ebench/README.md for why each exists):

  pan_zoom         2 closed-loop WebSocket viewers panning 16 channels
  clinical_review  2 viewers paging a bipolar montage with a bandpass
  ingest           streaming ingest drain + streaming min/max downsample;
                   traced runs add passes of the batch queries that reach
                   the llm modules

The server (or, for ingest, the Spark work) runs in its own process
(``server.py``); this process generates the load, times it, checks
every answer against an oracle (numpy in ``recording.py``; for the
batch queries their SQL oracle in DuckDB) and prints one JSON object as
its last line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures
three times as long (untraced, traced, untraced) and prints the
per-layer metrics of the traced part, plus the tracing overhead. The
metric names and units are those of ``BENCHMARK.json``. Spans go to
``.e2ebench_out/``, and every run appends its record (seed, nproc,
Spark master, load sentinel, memory) to ``.e2ebench_out/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import asyncio
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import queue
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import corpus  # noqa: E402
from recording import BIPOLAR_ANT_POS, Bandpass, close_enough, expected_page, make_recording  # noqa: E402
from sizes import SIZES  # noqa: E402
from wsclient import OP_BINARY, OP_CLOSE, OP_TEXT, WsClient, decode_message  # noqa: E402

WORKLOADS = ("pan_zoom", "clinical_review", "ingest")

CLIENTS = 2
FIRST_PAGE = (4, 9)  # where each viewer joins its pan_zoom page sequence
# Pages each client fetches however long they take: a pan_zoom client's
# first two pages are a resampled page and a zoom into or out of it, so
# a slow run times the same mix of page kinds as a fast one.
MIN_PAGES = {"pan_zoom": 2, "clinical_review": 1}
WARM_CHANNELS = 1
SCREEN_US = 30_000_000
SCREEN_PX = 1500
PAGE_TIMEOUT_S = 60.0
RUN_LIMIT_S = 170.0
BANDPASS = {"order": 4, "low_hz": 1.0, "high_hz": 70.0}


# --------------------------------------------------------------------------
# server process
# --------------------------------------------------------------------------

class Server:
    """The server process, spoken to in JSON lines."""

    def __init__(self, workload: str, seed: int, size: str, workdir: str):
        os.makedirs(workdir)
        env = dict(os.environ)
        cpus = str(len(os.sched_getaffinity(0)))
        env.update({
            "SPARK_GRAFT_CPUS": cpus,
            "TMPDIR": os.path.join(workdir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "PYTHONDONTWRITEBYTECODE": "1",
            # also for the short-lived launcher JVM spark-submit starts:
            # no performance-data files and no temp files outside the run
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={workdir}/tmp",
        })
        os.makedirs(env["TMPDIR"])
        self.log_path = os.path.join(workdir, "server.log")
        self.log = open(self.log_path, "w")
        self.launched = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workload", workload,
             "--seed", str(seed), "--size", size],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=workdir, env=env, text=True, start_new_session=True,
        )
        self.replies: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@e2e "):
                self.replies.put(json.loads(line[5:]))
        self.replies.put(None)

    def wait_reply(self, timeout: float) -> dict:
        try:
            msg = self.replies.get(timeout=timeout)
        except queue.Empty:
            msg = None
        if msg is None:
            self.log.flush()
            with open(self.log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"server gave no reply; log tail:\n{tail}")
        return msg

    def request(self, cmd: dict, timeout: float = 120.0) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.wait_reply(timeout)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the server process and every process
        under it (the JVM and its Python workers)."""
        total_kb, todo = 0, [self.proc.pid]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total_kb / 1024.0

    def stop(self) -> None:
        """Kill the server and every process under it, and wait until
        each has ended. Killing the server's process group is not enough:
        PySpark's Python worker daemon moves itself and its workers into a
        group of their own. As a child subreaper (``main``) this process
        inherits whatever the kills orphan, so it can reap every one.
        Nothing of the server's state outlives the run, so there is
        nothing to shut down gracefully."""
        kill_descendants()
        self.proc.wait()
        self.log.close()


def become_subreaper() -> None:
    """Make orphaned descendants children of this process (Linux
    PR_SET_CHILD_SUBREAPER), so none is left running or unreaped."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants(root: int) -> list[int]:
    """Every process below ``root``, zombies included, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def kill_descendants() -> None:
    """Kill every process below this one and reap each, until none is
    left (or a minute has passed)."""
    deadline = time.monotonic() + 60.0
    while True:
        pids = descendants(os.getpid())
        if not pids or time.monotonic() > deadline:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        reap_children()
        time.sleep(0.05)


def reap_children() -> None:
    """Reap every child that has ended, without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# --------------------------------------------------------------------------
# viewer load
# --------------------------------------------------------------------------

@dataclass
class Page:
    kind: str
    start: int
    end: int
    pixel: int
    channels: list[str]


@dataclass
class PageResult:
    page: Page
    sent: float
    first: float | None = None
    done: float | None = None
    segments: list = field(default_factory=list)
    error: str | None = None


def pan_zoom_pages(rec, seed: int, client: int):
    """Sequential pan by half a screen over 16 channels; every 5th page
    zooms in to the middle 5 s of the screen last shown (raw samples),
    every 10th zooms out to the 10 min around it. Every page overlaps
    the one before it.

    The viewers join their sequences at fixed different points (page 4
    and page 9), so even a short run sees every kind of page, and every
    run sees the same mix whatever the seed."""
    rng = np.random.default_rng([seed, client])
    chans = sorted(rng.choice(rec.channels, 16, replace=False).tolist())
    span = rec.end_us - rec.start_us
    pos = rec.start_us + int(rng.integers(0, (span - SCREEN_US) // 1000)) * 1000
    k = FIRST_PAGE[client % len(FIRST_PAGE)] - 1
    shown = False  # whether the screen at ``pos`` has been shown yet
    while True:
        k += 1
        centre = pos + SCREEN_US // 2
        if k % 10 == 0:
            lo = min(max(rec.start_us, centre - 300_000_000), rec.end_us - 600_000_000)
            yield Page("zoom_out", lo, lo + 600_000_000, 600_000_000 // SCREEN_PX, chans)
        elif k % 5 == 0:
            yield Page("raw", centre - 2_500_000, centre + 2_500_000, 5_000_000 // SCREEN_PX, chans)
        else:
            if shown:
                pos += SCREEN_US // 2
                if pos + SCREEN_US > rec.end_us:
                    pos = rec.start_us
            shown = True
            yield Page("resampled", pos, pos + SCREEN_US, SCREEN_US // SCREEN_PX, chans)


def clinical_pages(rec, seed: int, client: int):
    """Seeded random 30 s windows of the 18 bipolar montage channels."""
    rng = np.random.default_rng([seed, client, 1])
    chans = [f"{a}<->{b}" for a, b in BIPOLAR_ANT_POS]
    span = rec.end_us - rec.start_us
    while True:
        lo = rec.start_us + int(rng.integers(0, (span - SCREEN_US) // 1000)) * 1000
        yield Page("montage", lo, lo + SCREEN_US, SCREEN_US // SCREEN_PX, chans)


def session_setup(workload: str) -> list[dict]:
    if workload != "clinical_review":
        return []
    chans = [f"{a}<->{b}" for a, b in BIPOLAR_ANT_POS]
    centre = (BANDPASS["low_hz"] + BANDPASS["high_hz"]) / 2
    width = BANDPASS["high_hz"] - BANDPASS["low_hz"]
    return [
        {"montage": "BIPOLAR_ANT_POS"},
        {"filter": "bandpass", "filterParameters": [BANDPASS["order"], centre, width],
         "channels": chans},
    ]


async def open_session(port: int, workload: str) -> WsClient:
    ws = await WsClient.connect(port, "package=bench&format=binary")
    for msg in session_setup(workload):
        await ws.send_json(msg)
        answer = await ws.recv_json()
        if "error" in answer:
            raise RuntimeError(f"session set-up refused: {answer}")
    return ws


async def fetch(ws: WsClient, page: Page) -> PageResult:
    res = PageResult(page, time.perf_counter())
    await ws.send_json({
        "session": "bench",
        "virtualChannels": [{"id": f"{c}_id", "name": c} for c in page.channels],
        "startTime": page.start, "endTime": page.end, "pixelWidth": page.pixel,
    })
    try:
        async with asyncio.timeout(PAGE_TIMEOUT_S):
            while True:
                op, payload = await ws.recv()
                if op == OP_BINARY:
                    seg = decode_message(payload)
                    if res.first is None:
                        res.first = time.perf_counter()
                    res.segments.append(seg)
                    if len(res.segments) >= seg.total_responses:
                        break
                elif op == OP_TEXT:
                    msg = json.loads(payload)
                    if "error" in msg:
                        res.error = json.dumps(msg)[:300]
                        break
                elif op == OP_CLOSE:
                    res.error = "connection closed"
                    break
    except TimeoutError:
        res.error = "timeout"
    res.done = time.perf_counter()
    return res


async def drive(port: int, workload: str, generators, seconds: float):
    """Closed loop: each client sends its next page when the previous
    one has fully arrived, until ``seconds`` have passed and it has
    fetched at least ``MIN_PAGES[workload]`` pages. Returns the start
    time and every client's results."""
    sessions = [await open_session(port, workload) for _ in generators]
    start = time.perf_counter()
    deadline = start + seconds

    async def client(ws, pages) -> list[PageResult]:
        results = []
        while len(results) < MIN_PAGES[workload] or time.perf_counter() < deadline:
            results.append(await fetch(ws, next(pages)))
            if results[-1].error:  # the session state is unknown after an error
                break
        return results

    per_client = await asyncio.gather(*(client(ws, g) for ws, g in zip(sessions, generators)))
    for ws in sessions:
        await ws.close()
    return start, list(per_client)


def check_page(rec, res: PageResult, bandpass) -> str | None:
    """None when every channel message equals the oracle's."""
    if res.error:
        return res.error
    page = res.page
    got = {s.channel: s for s in res.segments}
    if sorted(got) != sorted(page.channels) or len(res.segments) != len(page.channels):
        return f"channels {sorted(got)} != {sorted(page.channels)}"
    want = expected_page(rec, page.channels, page.start, page.end, page.pixel, bandpass)
    for name in page.channels:
        g, w = got[name], want[name]
        if len(w.data) == 0 and len(g.data) == 0:
            continue
        if (g.start_ts, g.is_min_max) != (w.start_ts, w.is_min_max) or not close_enough(
            g.data, w.data, bandpass is not None
        ):
            return (f"{page.kind} page [{page.start},{page.end}) {name}: start "
                    f"{g.start_ts}/{w.start_ts}, {len(g.data)}/{len(w.data)} values")
    return None


def page_stats(phases: list[tuple[float, list[list[PageResult]]]]) -> dict:
    """Page statistics over measurement phases, each a start time and
    every client's results. Throughput sums each client's pages over the
    time to its own last page, so a run ending mid-page does not count
    the idle tail of the other client."""
    rate = 0.0
    for start, clients in phases:
        for res in clients:
            done = [r for r in res if not r.error]
            if done:
                rate += len(done) / (done[-1].done - start) / len(phases)
    ok = [r for _, clients in phases for res in clients for r in res if not r.error]
    page_ms = [1e3 * (r.done - r.sent) for r in ok]
    first_ms = [1e3 * (r.first - r.sent) for r in ok]
    return {
        "pages": len(ok),
        "throughput_per_s": rate,
        "latency_ms_p50": statistics.median(page_ms) if ok else 0.0,
        "first_result_ms_p50": statistics.median(first_ms) if ok else 0.0,
        "page_ms_p90": (statistics.quantiles(page_ms, n=10)[-1] if len(ok) >= 100 else None),
        "page_ms": [(r.page.kind, round(1e3 * (r.done - r.sent))) for r in ok],
    }


def run_viewer(server: Server, args, size, record: dict) -> tuple[dict, dict]:
    ready = server.wait_reply(RUN_LIMIT_S)
    ready["setup"]["ready_wall_s"] = time.perf_counter() - server.launched
    port = ready["port"]
    rec = make_recording(args.seed, size.duration_s, size.n_gaps)
    bandpass = Bandpass(**BANDPASS) if args.workload == "clinical_review" else None
    make_pages = pan_zoom_pages if args.workload == "pan_zoom" else clinical_pages

    async def warm_up() -> None:
        """One small page of every kind on a session of its own, so the
        first timed pages do not pay for planning and compiling each
        kind's code paths for the first time."""
        ws = await open_session(port, args.workload)
        kinds: dict[str, Page] = {}
        for page in make_pages(rec, args.seed, CLIENTS):
            kinds.setdefault(page.kind, page)
            if len(kinds) == (3 if args.workload == "pan_zoom" else 1):
                break
        for page in kinds.values():
            page.channels = page.channels[:WARM_CHANNELS]
            res = await fetch(ws, page)
            if res.error:
                raise RuntimeError(f"warm-up page failed: {res.error}")
        await ws.close()

    t0 = time.perf_counter()
    asyncio.run(warm_up())
    record["setup"] = dict(ready["setup"], client_warm_s=time.perf_counter() - t0)
    record["sentinel_s"] = server.request({"cmd": "sentinel"})["sentinel_s"]

    def phase(seconds: float):
        generators = [make_pages(rec, args.seed, c) for c in range(CLIENTS)]
        return asyncio.run(drive(port, args.workload, generators, seconds))

    if args.trace:
        # the same pages three times: untraced, traced, untraced. The
        # server is still warming up, and most of that drift falls in the
        # first phase, so the overhead compares the traced phase with the
        # untraced one after it (which, being warmer, overstates it)
        before = phase(args.seconds)
        server.request({"cmd": "trace_on"})
        traced = phase(args.seconds)
        layers = server.request({"cmd": "stats"})["per_layer"]
        server.request({"cmd": "trace_off"})
        after = phase(args.seconds)
        layers["trace.overhead_pct"] = overhead_pct(
            page_stats([traced])["latency_ms_p50"], page_stats([after])["latency_ms_p50"]
        )
        phases = [before, traced, after]
    else:
        phases = [phase(args.seconds)]
        layers = {}
    stats = page_stats(phases)
    record_memory(server, record)
    results = [r for _, clients in phases for res in clients for r in res]

    t0 = time.perf_counter()
    failures = [e for e in (check_page(rec, r, bandpass) for r in results) if e]
    record["verify_s"] = time.perf_counter() - t0
    record.update(stats, attempted=len(results), failed=len(failures),
                  mismatches=failures[:5])
    return stats, layers


def record_memory(server: Server, record: dict) -> None:
    record["peak_rss_mb"] = server.peak_rss_mb()
    record["jvm_heap_peak_mb"] = server.request({"cmd": "memory"})["jvm_heap_peak_mb"]


def run_ingest(server: Server, args, size, record: dict) -> tuple[dict, dict]:
    ready = server.wait_reply(RUN_LIMIT_S)
    ready["setup"]["ready_wall_s"] = time.perf_counter() - server.launched
    record["setup"] = ready["setup"]
    record["sentinel_s"] = server.request({"cmd": "sentinel"})["sentinel_s"]

    def measure(traced: bool) -> dict:
        return server.request({"cmd": "measure", "seconds": args.seconds, "trace": traced})

    if args.trace:
        # as for the viewers: untraced, traced, untraced
        parts = [measure(traced) for traced in (False, True, False)]
        layers = parts[1].pop("per_layer")
        layers["trace.overhead_pct"] = overhead_pct(
            statistics.median(parts[1]["trigger_ms"]), statistics.median(parts[2]["trigger_ms"])
        )
    else:
        parts, layers = [measure(False)], {}
    record_memory(server, record)
    trigger_ms = [x for p in parts for x in p["trigger_ms"]]
    add_ms = [x for p in parts for x in p["add_batch_ms"]]
    stats = {
        "rounds": sum(p["rounds"] for p in parts),
        "throughput_per_s": sum(p["samples"] for p in parts) / sum(p["wall_s"] for p in parts),
        "latency_ms_p50": statistics.median(trigger_ms),
        "first_result_ms_p50": statistics.median(add_ms),
        "batches": len(trigger_ms),
    }
    record.update(stats, attempted=sum(p["attempted"] for p in parts),
                  failed=sum(p["failed"] for p in parts),
                  mismatches=[m for p in parts for m in p["mismatches"]][:5])
    if args.trace:
        layers.update(run_analytics(server, args, size, record))
    return stats, layers


def oracle_digests(seed: int, size) -> dict[str, tuple[int, str]]:
    """Digest of every analytics query's result as its SQL oracle
    (``oracle_sql()`` of the query entry module) computes it in DuckDB
    on the same generated corpus."""
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    con.register("documents", corpus.make_documents(seed, size.n_docs))
    con.register("embeddings", corpus.make_embeddings(seed, size.n_embs))
    out = {}
    for q in corpus.QUERIES:
        res = con.execute(sql[q])
        out[q] = corpus.digest([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def run_analytics(server: Server, args, size, record: dict) -> dict:
    """The traced batch analytics passes of a traced ingest run; returns
    their per-layer metrics and counts every query execution, and every
    failure, in the run's record. The result check runs once, outside
    the timed passes, on the warm-up results: a query whose result
    differs from its oracle fails every one of its timed executions."""
    an = server.request({"cmd": "analytics", "seconds": args.seconds}, timeout=RUN_LIMIT_S)
    t0 = time.perf_counter()
    want = oracle_digests(args.seed, size)
    wrong = {q for q in corpus.QUERIES if tuple(an["digests"][q]) != want[q]}
    record["analytics"] = {
        "setup_s": an["setup_s"], "verify_s": time.perf_counter() - t0,
        "passes": an["executions"],
        "mismatches": [f"{q}: rows/digest {an['digests'][q]} != oracle {want[q]}"
                       for q in sorted(wrong)] + an["errors"],
    }
    record["attempted"] += an["executions"] * len(corpus.QUERIES)
    record["failed"] += sum(an["executions"] if q in wrong else an["failed"][q]
                            for q in corpus.QUERIES)
    return an["per_layer"]


def overhead_pct(traced_ms: float, untraced_ms: float) -> float:
    return 100.0 * (traced_ms - untraced_ms) / untraced_ms


def setup_seconds(record: dict) -> float:
    """Launch to ready, plus the viewer warm-up."""
    s = record["setup"]
    return s["ready_wall_s"] + s.get("client_warm_s", 0.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full", choices=sorted(SIZES),
                    help="input size; 'tiny' is for the self-test only")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pennsieve_streaming_spark")):
        print("e2ebench: no pennsieve_streaming_spark package beside e2ebench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    size = SIZES[args.size]
    out_dir = os.path.join(os.getcwd(), ".e2ebench_out")
    workdir = os.path.join(os.getcwd(), ".e2ebench_work",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size,
        "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
    }
    become_subreaper()
    # a terminated run still stops the server, through ``finally`` below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    server = Server(args.workload, args.seed, args.size, workdir)
    watchdog = threading.Timer(RUN_LIMIT_S, lambda: (server.stop(), os._exit(3)))
    watchdog.daemon = True
    watchdog.start()
    try:
        runner = run_ingest if args.workload == "ingest" else run_viewer
        stats, layers = runner(server, args, size, record)
    finally:
        server.stop()
        watchdog.cancel()
        for name in ("spans.json", "spans_analytics.json"):
            if os.path.exists(os.path.join(workdir, name)):
                shutil.move(os.path.join(workdir, name),
                            os.path.join(out_dir, f"{name[:-5]}-{args.workload}-{args.seed}.json"))
        shutil.rmtree(workdir, ignore_errors=True)
    return report(args, record, stats, layers, out_dir)


def report(args, record, stats, layers, out_dir) -> int:
    record["spark_master"] = record["setup"]["master"]
    record["failed_frac"] = record["failed"] / max(1, record["attempted"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        # every lane reports its own layers; those of the other lanes read 0
        layers["memory.peak_rss_mb"] = record["peak_rss_mb"]
        layers["memory.jvm_heap_peak_mb"] = record["jvm_heap_peak_mb"]
        unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
        if unknown:
            raise KeyError(f"layers missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = dict(stats, setup_s=setup_seconds(record))
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    record["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"run": record}))
    print(json.dumps({
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
