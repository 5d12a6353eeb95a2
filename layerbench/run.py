"""Layer-attributed benchmark: remote-write ingest, PromQL dashboard beside
writes, and the headline batch set.

    python3 layerbench/run.py --workload {ingest,dashboard} \\
        --seed N --seconds S --trace {0,1}

This process is the load generator and the checker. It launches the
system under test (``layerbench/sut.py``) as a separate process tree,
drives it, checks every output, and prints the metrics as one JSON object
on the last line of stdout: the end-to-end metrics with ``--trace 0``, the
per-layer metrics (spans around every layer) with ``--trace 1``. The line
before it is a ``detail:`` object that names the numbers the way each
workload knows them (``ack_p50_ms``, ``query_tail_ms``, ``batch_warm_s``,
...). ``layerbench/README.md`` defines the workloads and metrics.
"""

from __future__ import annotations

import argparse
import http.client
import inspect
import json
import os
import queue
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Open-loop writers send one body every *_BODY_INTERVAL_S seconds (bodies
# alternate between senders), starting on the relay's trigger grid, so
# every run sees the same spread of arrival phases within a trigger.
# The measured open loop is whole rounds of the body templates (every
# template once per round), so every run offers the same body-size mix;
# 6 bodies/s (≈ 3,700 samples/s) keeps each 4 s relay trigger busy for
# about a third of the interval, so the median ack is clear of trigger
# contention (acks take ~2x longer while a trigger runs). INGEST_WARMUP
# bodies come first, unmeasured.
INGEST_BODY_INTERVAL_S = 1 / 6
INGEST_WARMUP = 24  # one trigger interval
INGEST_OPEN_SHARE = 2 / 3  # of --seconds, rounded down to whole rounds
CLOSED_POOL_RATE = 20000  # samples/s of bodies pre-built for the closed loop
DASHBOARD_BODY_INTERVAL_S = 0.5  # 2 bodies/s ≈ 1,250 samples/s beside the queries
# Dashboard: one measured cycle of the query set per DASHBOARD_CYCLE_S of
# --seconds, rounded (at least one). A cycle took 8-16 s on the 4-vCPU box
# this was tuned on; the count is fixed in advance, not timed, so that every
# run's tail is the same rank.
DASHBOARD_CYCLE_S = 12.0
SENDERS = 2  # Prometheus shards (ingest) / Grafana panels (dashboard)
# spark.driver.memory: the data is small, and with a 3g heap the JVM's
# resident size wandered by ±25% between identical runs
SUT_DRIVER_MEM = "1g"
SUT_READY_TIMEOUT_S = 150
DELIVERY_TIMEOUT_S = 60

E2E_UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "latency_tail_ms": "ms",
             "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def tail(xs) -> float:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest value (the maximum when there are fewer than 11)."""
    s = sorted(xs)
    return s[-11] if len(s) >= 11 else s[-1]


def tail_pct(n: int) -> float:
    return round(100.0 * (n - 10) / n, 1) if n >= 11 else 100.0


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------ the SUT


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants, except a JVM's child that has
    not exec'd yet: the JVM starts commands (Hadoop's local file system
    runs shell commands on the checkpoint files) with ``posix_spawn``, whose
    child shares the JVM's memory until it execs, so its proportional set
    size would count every JVM page a second time."""
    children = _children_map()
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        exe = _exe(p)
        todo.extend(c for c in children.get(p, ())
                    if not (exe and exe.endswith("/java") and _exe(c) == exe))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it, so a tree's sum counts every page once
    (forked Python workers share most of their pages; a JVM child between
    fork and exec shares all of them)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _kind(pid: int, driver: int) -> str:
    if pid == driver:
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return "other"
    return "jvm" if comm == "java" else "workers" if comm.startswith("python") else comm


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    return True
            except OSError:
                pass
    return False


class Sut:
    """The system under test as a process tree (Python driver, JVM, Python
    workers) in its own session, so that it can be stopped as a whole."""

    def __init__(self, args, work: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ)
        env.update(
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM=SUT_DRIVER_MEM,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONUNBUFFERED="1",
        )
        cmd = [sys.executable, "-m", "layerbench.sut", "--workload", args.workload,
               "--work", work, "--sf-dir", args.sf_dir, "--seed", str(args.seed)]
        if args.trace:
            cmd.append("--trace")
        self.work = work
        self.log = open(os.path.join(work, "sut.log"), "w")
        self.lines: queue.Queue = queue.Queue()
        self.peak_rss_mb = 0.0  # peak total RSS of the tree, sampled every 0.5 s
        self.peak_by_kind: dict[str, float] = {}
        self.t_launch = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=self.log,
            stdin=subprocess.PIPE, text=True, start_new_session=True)
        self._done = threading.Event()
        self._threads = [threading.Thread(target=self._read, daemon=True),
                         threading.Thread(target=self._sample_rss, daemon=True)]
        for t in self._threads:
            t.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def _sample_rss(self) -> None:
        while not self._done.wait(0.5):
            self.sample_rss()

    def sample_rss(self) -> None:
        """Resident memory of the live process tree; keeps the largest."""
        by_kind: dict[str, float] = {}
        for pid in _tree(self.proc.pid):
            k = _kind(pid, self.proc.pid)
            by_kind[k] = by_kind.get(k, 0.0) + _pss_kb(pid) / 1024.0
        total = sum(by_kind.values())
        if total > self.peak_rss_mb:
            self.peak_rss_mb = total
            self.peak_by_kind = by_kind

    def wait_line(self, pattern: str, timeout: float) -> re.Match:
        deadline = time.time() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.01, deadline - time.time()))
            except queue.Empty:
                raise RuntimeError(f"no {pattern!r} from the SUT in {timeout} s") from None
            if line is None:
                raise RuntimeError(f"SUT exited before {pattern!r}")
            m = re.search(pattern, line)
            if m:
                return m

    def command(self, cmd: str) -> None:
        try:
            self.proc.stdin.write(cmd + "\n")
            self.proc.stdin.flush()
        except (BrokenPipeError, ValueError):  # exited, or stdin closed
            pass

    def stop(self, timeout: float = 90) -> int:
        """Ask the SUT to stop the relay (then ``cli.main`` stops the
        server) and wait."""
        self.sample_rss()
        if self.proc.poll() is None:
            self.command("STOP")
        return self.wait(timeout)

    def wait(self, timeout: float) -> int:
        """Wait for the SUT's Python process, then kill and reap whatever is
        left of its process group."""
        try:
            rc = self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            rc = None
        self._done.set()
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and _group_alive(self.proc.pid):
            time.sleep(0.1)
        for t in self._threads:
            t.join(5)
        self.log.close()
        return rc

    def report(self) -> dict:
        with open(os.path.join(self.work, "report.json")) as f:
            return json.load(f)


# ------------------------------------------------------------ writers


def http_request(port: int, method: str, path: str, body: bytes | None,
                 rid: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        headers = {"X-Bench-Request-Id": rid}
        if body is not None:
            headers.update({"Content-Type": "application/x-protobuf",
                            "Content-Encoding": "snappy"})
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Sender:
    """One Prometheus shard: posts bodies, logs (body, due, sent, acked, status)."""

    def __init__(self) -> None:
        self.port = 0
        self.log: list[tuple[int, float, float, float, int]] = []

    def post(self, body, due: float) -> None:
        sent = time.time()
        try:
            status, _ = http_request(self.port, "POST", "/receive", body.wire, f"w{body.index}")
        except OSError:
            status = -1
        self.log.append((body.index, due, sent, time.time(), status))

    def open_loop(self, schedule: list, t0: float, stop: threading.Event) -> None:
        """Send each body at its due time, whether or not the last one is
        back — late sends count their wait in the latency."""
        for due_rel, body in schedule:
            if stop.is_set():
                return
            delay = t0 + due_rel - time.time()
            if delay > 0 and stop.wait(delay):
                return
            self.post(body, t0 + due_rel)

    def closed_loop(self, pool: queue.Queue, until: float) -> None:
        while time.time() < until:
            try:
                body = pool.get_nowait()
            except queue.Empty:
                return
            self.post(body, time.time())


class Writes:
    """Seeded bodies, their senders, and the delivery check."""

    def __init__(self, seed: int, interval_s: float, n_senders: int, open_ids: list[int],
                 closed_s: float = 0.0):
        from layerbench.gen import BodyFactory
        from prometheus_remote_kinesis_spark.sources.prompb import snappy_decompress

        self.factory = BodyFactory(seed, snappy_decompress)
        self.bodies = {0: self.factory.make(0)}  # body 0 is the warm-up
        self.schedules: list[list] = [[] for _ in range(n_senders)]
        for i, k in enumerate(open_ids):
            body = self.bodies[k] = self.factory.make(k)
            self.schedules[i % n_senders].append((i * interval_s, body))
        k = max(open_ids) + 1
        self.offered_per_s = statistics.fmean(
            len(self.bodies[k].samples) for k in open_ids) / interval_s
        self.pool: queue.Queue = queue.Queue()
        budget = CLOSED_POOL_RATE * closed_s
        while budget > 0:
            body = self.bodies[k] = self.factory.make(k)
            self.pool.put(body)
            budget -= len(body.samples)
            k += 1
        self.senders = [Sender() for _ in range(n_senders)]
        self.stop = threading.Event()

    def warm_up(self, port: int, sink: str) -> None:
        for s in self.senders:
            s.port = port
        self.senders[0].post(self.bodies[0], time.time())
        if self.senders[0].log[-1][4] != 200:
            raise RuntimeError("warm-up body refused")
        wait_delivered(sink, len(self.bodies[0].samples), SUT_READY_TIMEOUT_S)

    def open_threads(self, t0: float) -> list[threading.Thread]:
        return [threading.Thread(target=s.open_loop, args=(sch, t0, self.stop))
                for s, sch in zip(self.senders, self.schedules)]

    def log(self) -> list[tuple]:
        return [e for s in self.senders for e in s.log]

    def samples(self, entries) -> int:
        return sum(len(self.bodies[e[0]].samples) for e in entries)

    def acked(self) -> list[tuple]:
        return [e for e in self.log() if e[4] == 200]

    def check(self, sink: str) -> dict:
        """Check every delivered record; per-body delivery times."""
        from layerbench.check import check_records, selftest_records
        from layerbench.gen import BODY_STRIDE_MS, T0_MS

        entries, puts = read_sink(sink)
        series_of = {frozenset(lbl.items()): sid
                     for sid, (lbl, _) in enumerate(self.factory.universe)}
        expected = {(sid, ts): v for e in self.acked()
                    for sid, ts, v in self.bodies[e[0]].samples}
        delivered = [(key, rec) for key, rec, _ in entries]
        problems = check_records(expected, delivered, series_of)
        problems += selftest_records(expected, delivered, series_of)
        delivered_at: dict[int, float] = {}
        for _, rec, mtime in entries:
            b = (rec["time"] - T0_MS) // BODY_STRIDE_MS
            delivered_at[b] = max(delivered_at.get(b, 0.0), mtime)
        return {"problems": problems, "puts": puts, "delivered_at": delivered_at,
                "put_times": sorted((m, n) for m, n, _ in puts)}


def read_sink(sink_dir: str) -> tuple[list, list]:
    """Every delivered entry ``(key, record, put time)`` and every put call
    ``(put time, entries, bytes)``. ``FilePutRecords`` writes one
    ``key<TAB>json`` file per put call, on the executors; the file's mtime
    is when the call finished."""
    entries, puts = [], []
    for name in os.listdir(sink_dir):
        path = os.path.join(sink_dir, name)
        with open(path, "rb") as f:
            data = f.read()
        mtime = os.stat(path).st_mtime
        lines = data.splitlines()
        for line in lines:
            key, _, js = line.partition(b"\t")
            entries.append((key.decode(), json.loads(js), mtime))
        puts.append((mtime, len(lines), len(data)))
    return entries, puts


def count_sink_lines(sink_dir: str) -> int:
    n = 0
    for name in os.listdir(sink_dir):
        with open(os.path.join(sink_dir, name), "rb") as f:
            n += f.read().count(b"\n")
    return n


def wait_delivered(sink_dir: str, n: int, timeout: float) -> None:
    deadline = time.time() + timeout
    while (got := count_sink_lines(sink_dir)) < n:
        if time.time() > deadline:
            raise RuntimeError(f"{got} of {n} acked samples delivered after {timeout} s")
        time.sleep(0.05)


def write_stats(w: Writes, chk: dict, measured) -> dict:
    """Ack and delivery latency of the acked bodies ``measured(log entry)``
    selects."""
    open_acked = [e for e in w.acked() if measured(e)]
    late = [max(0.0, e[2] - e[1]) * 1000 for e in open_acked]
    return {
        "ack_ms": [(e[3] - e[1]) * 1000 for e in open_acked],
        "deliver_ms": [(chk["delivered_at"][e[0]] - e[1]) * 1000 for e in open_acked],
        "lateness_p50_ms": p50(late),
        "lateness_max_ms": max(late, default=0.0),
    }


def put_failures(log_path: str) -> int:
    """Entries the sink gave up on: ``sinks.foreach_batch_writer`` logs
    "<n> entries permanently failed after retries" from the executors'
    Python workers, whose stderr lands in the SUT's log."""
    pat = re.compile(r"(\d+) entries permanently failed after retries")
    with open(log_path, errors="replace") as f:
        return sum(int(m.group(1)) for m in pat.finditer(f.read()))


def backlog_max(w: Writes, put_times: list, t_from: float, t_to: float) -> int:
    """Acked minus delivered samples, sampled once a second."""
    acks = sorted((e[3], len(w.bodies[e[0]].samples)) for e in w.acked())
    worst, t = 0, t_from
    while t <= t_to:
        a = sum(n for at, n in acks if at <= t)
        d = sum(n for at, n in put_times if at <= t)
        worst = max(worst, a - d)
        t += 1.0
    return worst


# ------------------------------------------------------------ oracles


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def frame_rows(pdf) -> tuple[list[str], list[tuple]]:
    """A pandas frame as (columns, rows) — how both engines' batch answers
    are compared, as ``tools/verify_local.py --pandas`` does (NULL is NaN
    on both sides)."""
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False)]


def dashboard_queries() -> list[dict]:
    """Registered PQ/PQR queries whose query function is a plain
    ``compile_promql(_range)(spark, sf_dir, <X>_QUERY[, step_ms=, span_ms=])``."""
    from prometheus_remote_kinesis_spark import promql
    from prometheus_remote_kinesis_spark.registry import all_queries

    pat = re.compile(r"return compile_promql(_range)?\(\s*spark,\s*sf_dir,\s*(PQR?\d+_QUERY)"
                     r"\s*(?:,\s*step_ms=([\d_]+),\s*span_ms=([\d_]+),?\s*)?\)\s*$")
    out = []
    for name, q in all_queries().items():
        if q.family != "PQ" or q.oracle is None:
            continue
        m = pat.search(inspect.getsource(q.fn))
        if not m or bool(m.group(1)) != bool(m.group(3)):
            continue
        out.append({"name": name, "text": getattr(promql, m.group(2)), "oracle": q.oracle,
                    "range": bool(m.group(1)),
                    "step_ms": int(m.group(3).replace("_", "")) if m.group(3) else None,
                    "span_ms": int(m.group(4).replace("_", "")) if m.group(4) else None})
    return out


# ------------------------------------------------------------ workloads


def run_ingest(args, work: str) -> dict:
    """A closed loop on two senders (Prometheus shards), then the open loop
    on the same two: one unmeasured trigger interval of bodies, then the
    measured whole rounds of templates. The closed loop comes first so
    that its backlog is relayed before the measured bodies arrive."""
    from layerbench.gen import N_TEMPLATES
    from layerbench.sut import TRIGGER_S

    trigger_s = TRIGGER_S["ingest"]
    n = N_TEMPLATES
    rounds = max(1, int(args.seconds * INGEST_OPEN_SHARE / (n * INGEST_BODY_INTERVAL_S)))
    closed_s = args.seconds - rounds * n * INGEST_BODY_INTERVAL_S
    closed_s = max(trigger_s, trigger_s * round(closed_s / trigger_s))  # whole triggers
    measured = range(n, n * (1 + rounds))  # template rounds 1..rounds; body 0 is in round 0
    warm = range(measured.stop, measured.stop + INGEST_WARMUP)
    open_ids = [*warm, *measured]
    w = Writes(args.seed, INGEST_BODY_INTERVAL_S, SENDERS, open_ids, closed_s)
    sut = Sut(args, work)
    sink = os.path.join(work, "sink")
    try:
        port = int(sut.wait_line(r"listening on http://[^:]+:(\d+)/", SUT_READY_TIMEOUT_S)[1])
        w.warm_up(port, sink)
        t_ready = time.time()
        t_c0 = on_trigger_grid(t_ready, trigger_s)
        time.sleep(max(0.0, t_c0 - time.time()))
        run_threads([threading.Thread(target=s.closed_loop, args=(w.pool, t_c0 + closed_s))
                     for s in w.senders])
        closed = [e for e in w.log() if e[0] > max(open_ids)]
        closed_rate = per_second_median(w, closed, t_c0, t_c0 + closed_s)
        run_threads(w.open_threads(t_c0 + closed_s))  # on the trigger grid too
        wait_delivered(sink, w.samples(w.acked()), DELIVERY_TIMEOUT_S)
        t_end = time.time()
        rc = sut.stop()
        if rc != 0:
            raise RuntimeError(f"SUT exited with {rc}")
        report = sut.report()
    finally:
        sut.stop(10)
    chk = w.check(sink)
    chk["put_failed"] = put_failures(os.path.join(work, "sut.log"))
    st = write_stats(w, chk, lambda e: e[0] in measured)
    log = w.log()
    detail = {
        "ack_p50_ms": p50(st["ack_ms"]), "ack_tail_ms": tail(st["ack_ms"]),
        "ack_tail_pct": tail_pct(len(st["ack_ms"])),
        "deliver_p50_ms": p50(st["deliver_ms"]), "deliver_tail_ms": tail(st["deliver_ms"]),
        "ingest_samples_per_s": closed_rate,
        "open_bodies": len(st["ack_ms"]), "open_samples_offered_per_s": w.offered_per_s,
        "closed_bodies": len(closed),
        "lateness_p50_ms": st["lateness_p50_ms"], "lateness_max_ms": st["lateness_max_ms"],
        "rss_mb_at_peak": sut.peak_by_kind,
    }
    return {
        "problems": chk["problems"],
        "attempted": len(log), "failed": len(log) - len(w.acked()),
        "e2e": {
            "setup_s": t_ready - sut.t_launch,
            "latency_p50_ms": detail["deliver_p50_ms"],
            "latency_tail_ms": detail["deliver_tail_ms"],
            "throughput_per_s": closed_rate,
            "peak_rss_mb": sut.peak_rss_mb,
        },
        "detail": detail,
        "report": report,
        "layers": lambda: write_layers(report, w, chk, t_ready, t_end),
    }


def per_second_median(w: Writes, log: list, t_from: float, t_to: float) -> float:
    """Samples acked per second: the median over the whole seconds of
    [t_from, t_to), so one stalled second does not move it."""
    per_s = [0] * int(t_to - t_from)
    for e in log:
        i = int(e[3] - t_from)
        if e[4] == 200 and 0 <= i < len(per_s):
            per_s[i] += len(w.bodies[e[0]].samples)
    if not any(per_s):
        raise RuntimeError("no closed-loop request was acked")
    return statistics.median(per_s)


def on_trigger_grid(t: float, interval: float) -> float:
    """The first relay trigger time (Spark aligns processing-time triggers
    to multiples of the interval) at least 0.2 s after ``t``, plus 50 ms."""
    return (int((t + 0.2) / interval) + 1) * interval + 0.05


def run_threads(threads: list[threading.Thread]) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class Queries:
    """Closed-loop PromQL clients: SENDERS clients share one queue of
    seeded permutations of the query set. The first cycle warms the plans
    up and is not measured; then ``cycles`` whole cycles are measured, so
    every run measures every query equally often and the tail is always
    the same rank. Answers are checked after the run, so the checker takes
    no CPU from the measured phase."""

    def __init__(self, seed: int, con, cycles: int):
        self.queries = dashboard_queries()
        (self.t_max_ms,) = con.execute(
            "SELECT max(epoch_us(ts)) // 1000 FROM events").fetchone()
        for q in self.queries:
            q["cols"], q["rows"] = oracle_rows(con, q["oracle"])
        self.rng = random.Random(seed)
        self.log: list[tuple[str, int, float, float, int]] = []  # name, cycle, sent, done, status
        self.answers: list[tuple[dict, int, bytes]] = []
        self.lock = threading.Lock()
        self.next = 0
        self.order: list[int] = []
        self.t_measure = 0.0  # when the first measured query was taken
        self.cycles = cycles  # measured cycles

    def path(self, q: dict) -> str:
        if not q["range"]:
            return "/api/v1/query?" + urllib.parse.urlencode({"query": q["text"]})
        end = self.t_max_ms
        return "/api/v1/query_range?" + urllib.parse.urlencode({
            "query": q["text"], "start": repr((end - q["span_ms"]) / 1000),
            "end": repr(end / 1000), "step": repr(q["step_ms"] / 1000)})

    def ask(self, port: int, i: int, rid: str, cycle: int = -1) -> None:
        q = self.queries[i]
        t0 = time.time()
        try:
            status, body = http_request(port, "GET", self.path(q), None, rid)
        except OSError as e:
            status, body = -1, str(e).encode()
        t1 = time.time()
        with self.lock:
            self.log.append((q["name"], cycle, t0, t1, status))
            self.answers.append((q, status, body))

    def check(self) -> list[str]:
        """Every answer against its oracle; the checker must also flag
        corruptions of the first non-empty answer."""
        from layerbench.check import check_rows, selftest_rows

        problems, tested = [], False
        for q, status, body in self.answers:
            if status != 200:
                problems.append(f"{q['name']}: HTTP {status} {body[:200]!r}")
                continue
            cols, rows = response_rows(json.loads(body)["data"])
            o_cols, o_rows = q["cols"], as_api_rows(q["cols"], q["rows"])
            if not rows:  # an empty answer names no columns
                cols = o_cols
            problems += [f"{q['name']}: {p}" for p in check_rows(cols, rows, o_cols, o_rows)]
            if rows and not tested:
                problems += selftest_rows(cols, rows, o_cols, o_rows)
                tested = True
        return problems

    def take(self, warm_only: bool) -> tuple[int, int] | None:
        with self.lock:
            n = len(self.queries)
            if warm_only and self.next >= n:
                return None
            if self.next == n:
                self.t_measure = time.time()
            if self.next == n * (1 + self.cycles):
                return None
            if self.next % n == 0:
                perm = list(range(n))
                self.rng.shuffle(perm)
                self.order += perm
            idx = self.next
            self.next += 1
            return self.order[idx], idx // n

    def client(self, port: int, c: int, warm_only: bool = False) -> None:
        while (job := self.take(warm_only)) is not None:
            self.ask(port, job[0], f"q{c}-{len(self.log)}", job[1])


def as_api_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Oracle rows with labels rendered the way the API handlers render
    them (``str`` of the Spark value)."""
    return [tuple(v if c in ("value", "t_ms") else str(v) for c, v in zip(cols, r))
            for r in rows]


def response_rows(data: dict) -> tuple[list[str], list[tuple]]:
    """An API response as (columns, rows) in the registered query's shape:
    labels as strings, ``t_ms`` for range points, ``value`` as a float."""
    rows, cols = [], None
    for s in data["result"]:
        labels = sorted(s["metric"])
        if data["resultType"] == "vector":
            c = labels + ["value"]
            pts = [(None, s["value"][1])]
        else:
            c = ["t_ms"] + labels + ["value"]
            pts = [(int(round(t * 1000)), v) for t, v in s["values"]]
        cols = cols or c
        for t_ms, v in pts:
            row = [s["metric"][k] for k in labels] + [float(v)]
            rows.append(tuple(row if t_ms is None else [t_ms] + row))
    return cols or [], rows


def run_dashboard(args, work: str) -> dict:
    """Two closed-loop PromQL clients beside a low-rate open-loop writer.
    A traced run then also runs the batch set in the same SUT, for its
    per-layer numbers."""
    from prometheus_remote_kinesis_spark.registry import all_queries

    from layerbench.sut import TRIGGER_S
    from tools.verify_local import duck_connection

    con = duck_connection(args.sf_dir)
    qs = Queries(args.seed, con, max(1, round(args.seconds / DASHBOARD_CYCLE_S)))
    batch = {n: q for n, q in all_queries().items() if q.bench} if args.trace else {}
    oracles = {n: frame_rows(con.execute(q.oracle).df()) for n, q in batch.items() if q.oracle}
    con.close()
    w = Writes(args.seed, DASHBOARD_BODY_INTERVAL_S, 1,
               list(range(1, int(4 * args.seconds / DASHBOARD_BODY_INTERVAL_S))))
    sut = Sut(args, work)
    sink = os.path.join(work, "sink")
    try:
        port = int(sut.wait_line(r"listening on http://[^:]+:(\d+)/", SUT_READY_TIMEOUT_S)[1])
        w.warm_up(port, sink)
        qs.ask(port, 0, "warm-up")  # the first registered query; JVM warm-up
        t_ready = time.time()
        t_w = on_trigger_grid(t_ready, TRIGGER_S["dashboard"])
        writer = w.open_threads(t_w)
        for t in writer:
            t.start()
        time.sleep(max(0.0, t_w - time.time()))
        # a third client helps only with the warm-up cycle (the writer is
        # the fourth thread: at most nproc in all)
        run_threads([threading.Thread(target=qs.client, args=(port, c, c == SENDERS))
                     for c in range(SENDERS + 1)])
        t_q1 = time.time()
        w.stop.set()
        for t in writer:
            t.join()
        wait_delivered(sink, w.samples(w.acked()), DELIVERY_TIMEOUT_S)
        t_end = time.time()
        sut.sample_rss()
        peak_rss_mb = sut.peak_rss_mb
        if batch:
            sut.command("BATCH")
            sut.wait_line(r"^BATCH DONE$", 150)
        rc = sut.stop()
        if rc != 0:
            raise RuntimeError(f"SUT exited with {rc}")
        report = sut.report()
    finally:
        sut.stop(10)
    chk = w.check(sink)
    chk["put_failed"] = put_failures(os.path.join(work, "sut.log"))
    t0 = qs.t_measure
    st = write_stats(w, chk, lambda e: e[0] and t0 <= e[1] < t_q1)
    timed = [e for e in qs.log if e[1] >= 1]
    lat = [(e[3] - e[2]) * 1000 for e in timed]
    wlog = w.log()
    detail = {
        "query_p50_ms": p50(lat), "query_tail_ms": tail(lat),
        "query_tail_pct": tail_pct(len(lat)),
        "queries_per_s": len(timed) / (t_q1 - t0), "queries": len(timed),
        "measured_cycles": len(timed) / len(qs.queries),
        "distinct_queries": len(qs.queries),
        "ack_p50_ms": p50(st["ack_ms"]), "deliver_p50_ms": p50(st["deliver_ms"]),
        "write_bodies": len(st["ack_ms"]), "write_samples_offered_per_s": w.offered_per_s,
        "lateness_p50_ms": st["lateness_p50_ms"],
        "rss_mb_at_peak": sut.peak_by_kind,
    }
    problems = chk["problems"] + qs.check()
    if batch:
        problems += batch_check(work, batch, oracles)
        b = report["batch"]
        detail["batch_fresh_s"] = sum(b["build_s"].values()) + sum(b["fresh_s"].values())
        detail["batch_warm_s"] = sum(statistics.median(v) for v in b["warm_s"].values())
    return {
        "problems": problems,
        "attempted": len(wlog) + len(qs.log),
        "failed": len(wlog) - len(w.acked()) + sum(e[4] != 200 for e in qs.log),
        "e2e": {
            "setup_s": t_ready - sut.t_launch,
            "latency_p50_ms": detail["query_p50_ms"],
            "latency_tail_ms": detail["query_tail_ms"],
            "throughput_per_s": detail["queries_per_s"],
            "peak_rss_mb": peak_rss_mb,
        },
        "detail": detail,
        "report": report,
        "layers": lambda: {**write_layers(report, w, chk, t_ready, t_end),
                           **query_layers(report),
                           **(batch_layers(report["batch"]) if batch else {})},
    }


def batch_check(work: str, qs: dict, oracles: dict) -> list[str]:
    """Every query's fresh result against its oracle, its warm result
    against the fresh one; ``l2_minhash_lsh_pairs`` (no oracle) must be
    non-empty."""
    import pandas as pd

    from layerbench.check import check_rows, selftest_rows

    problems, tested = [], False
    for name in sorted(qs):
        fresh, warm = (pd.read_pickle(os.path.join(work, "results", f"{name}.{k}.pkl"))
                       for k in ("fresh", "warm"))
        if not same_frame(fresh, warm):
            problems.append(f"{name}: warm result differs from the fresh one")
        cols, rows = frame_rows(fresh)
        if name not in oracles:
            if not rows:
                problems.append(f"{name}: empty result")
            continue
        o_cols, o_rows = oracles[name]
        problems += [f"{name}: {p}" for p in check_rows(cols, rows, o_cols, o_rows)]
        if not tested and rows:
            problems += selftest_rows(cols, rows, o_cols, o_rows)
            tested = True
    return problems


def same_frame(a, b) -> bool:
    """Equal up to row order, floats bit for bit (NaN equals NaN)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    try:
        a, b = (f.sort_values(list(f.columns)).reset_index(drop=True) for f in (a, b))
    except TypeError:  # unorderable cells: fall back to the row checker
        from layerbench.check import check_rows

        return not check_rows(*frame_rows(a), *frame_rows(b))
    return a.equals(b)


# ------------------------------------------------------------ per-layer


PHASES = ("addBatch", "getBatch", "latestOffset", "walCommit", "commitOffsets")


def _spans(report: dict) -> tuple[list[dict], dict]:
    spans = report.get("spans", [])
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return spans, kids


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def write_layers(report: dict, w: Writes, chk: dict, t_from: float, t_to: float) -> dict:
    spans, kids = _spans(report)
    by = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    samples = sum(s["samples"] for s in by("prompb.parse")) or 1
    snappy = by("prompb.snappy")
    posts = by("server.do_POST")
    self_ms = [(_dur(p) - sum(_dur(c) for c in kids.get(p["id"], ()))) * 1000 for p in posts]
    codes = [c["code"] for p in posts for c in kids.get(p["id"], ())
             if c["name"] == "server.send_response"]
    prog = [p for p in report.get("progress", []) if p.get("numInputRows", 0) > 0]
    puts = chk["puts"]
    writes = by("sinks.write")
    out = {
        "prompb.snappy_us_per_sample": sum(map(_dur, snappy)) * 1e6 / samples,
        "prompb.parse_us_per_sample": sum(map(_dur, by("prompb.parse"))) * 1e6 / samples,
        "prompb.snappy_ratio": sum(s["raw"] for s in snappy) / max(1, sum(s["wire"] for s in snappy)),
        "server.flatten_us_per_sample": sum(map(_dur, by("server.flatten"))) * 1e6 / samples,
        "server.spool_us_per_sample": sum(map(_dur, by("server.spool"))) * 1e6 / samples,
        "server.self_ms_per_request": statistics.fmean(self_ms) if self_ms else 0.0,
        "server.requests": len(posts),
        "server.non200": sum(c != 200 for c in codes),
        "relay.triggers": len(prog),
        "relay.rows_per_trigger": statistics.fmean(p["numInputRows"] for p in prog) if prog else 0.0,
        "relay.trigger_ms_p50": p50([p["durationMs"]["triggerExecution"] for p in prog]),
        "relay.backlog_samples_max": backlog_max(w, chk["put_times"], t_from, t_to),
        "sinks.write_ms_per_batch": statistics.fmean(map(_dur, writes)) * 1000 if writes else 0.0,
        "sinks.puts": len(puts),
        "sinks.entries_per_put": statistics.fmean(n for _, n, _ in puts) if puts else 0.0,
        "sinks.bytes_per_put": statistics.fmean(b for _, _, b in puts) if puts else 0.0,
        "sinks.put_failed_entries": chk["put_failed"],
    }
    for ph in PHASES:
        out[f"relay.{ph}_ms_p50"] = p50([p["durationMs"].get(ph, 0) for p in prog])
    return out


def query_layers(report: dict) -> dict:
    """PromQL phases of the HTTP requests (spans carrying a request id)."""
    spans, kids = _spans(report)
    spans = [s for s in spans if s["rid"] is not None]
    compiles = [s for s in spans if s["name"] == "promql.compile"]
    parse_ms, compile_ms = [], []
    for c in compiles:
        p = sum(_dur(k) for k in kids.get(c["id"], ()) if k["name"] == "promql.parse")
        parse_ms.append(p * 1000)
        compile_ms.append((_dur(c) - p) * 1000)
    footer = sum(s["name"] == "promql.max_ts_ms" for s in spans)
    handlers = [s for s in spans if s["name"] == "promql.handler"]
    exec_ms = [(_dur(h) - sum(_dur(k) for k in kids.get(h["id"], ())
                              if k["name"] == "promql.compile")) * 1000 for h in handlers]
    gets = {s["id"] for s in spans if s["name"] == "server.do_GET"}
    encode_ms = [_dur(s) * 1000 for s in spans
                 if s["name"] == "server.encode" and s["parent"] in gets]
    return {
        "promql.parse_ms_p50": p50(parse_ms),
        "promql.compile_ms_p50": p50(compile_ms),
        "promql.footer_reads_per_query": footer / len(compiles) if compiles else 0.0,
        "promql.execute_ms_p50": p50(exec_ms),
        "promql.encode_ms_p50": p50(encode_ms),
        "promql.rows_per_query": statistics.fmean(h["rows"] for h in handlers) if handlers else 0.0,
    }


def batch_layers(b: dict) -> dict:
    out = {}
    for n in b["build_s"]:
        out[f"batch.{n}.build_ms"] = b["build_s"][n] * 1000
        out[f"batch.{n}.exec_fresh_ms"] = b["fresh_s"][n] * 1000
        out[f"batch.{n}.exec_warm_ms"] = statistics.median(b["warm_s"][n]) * 1000
    return out


def layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def common_layers(report: dict, e2e: dict, load1: float) -> dict:
    spark = [s for s in report.get("spans", []) if s["name"] == "session.get_spark"]
    return {
        "session.get_spark_s": _dur(spark[0]) if spark else 0.0,
        **{f"traced.{k}": v for k, v in e2e.items()},
        "box.loadavg_1m": load1,
        "box.calibration_s": report.get("calibration", {}).get("calibration_s", 0.0),
    }


# ------------------------------------------------------------ main


def preflight() -> str:
    """Exit non-zero, printing no result, unless the system's sources and
    the query tables are present; returns the query tables' directory."""
    if not os.path.isdir(os.path.join(ROOT, "prometheus_remote_kinesis_spark")):
        raise SystemExit("layerbench: system sources not found next to the benchmark")
    sys.path.insert(0, ROOT)
    before = list(sys.path)
    import tools.verify_local  # noqa: F401  (it prepends a path of its own)

    sys.path[:] = before
    from prometheus_remote_kinesis_spark.session import DEFAULT_SF_DIR

    if not os.path.isfile(os.path.join(DEFAULT_SF_DIR, "events.parquet")):
        raise SystemExit(f"layerbench: query tables not found in {DEFAULT_SF_DIR}")
    return DEFAULT_SF_DIR


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.sf_dir = preflight()
    # a SIGTERM unwinds like an error, so the SUT's process group is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load1 = os.getloadavg()[0]
    base = os.path.join(ROOT, ".benchwork")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    run = {"ingest": run_ingest, "dashboard": run_dashboard}[args.workload]
    try:
        res = run(args, work)
    finally:
        if os.path.exists(os.path.join(work, "sut.log")):
            shutil.copy(os.path.join(work, "sut.log"), os.path.join(base, f"last-{args.workload}.log"))
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        # layers a workload never reaches report 0
        measured = {**res["layers"](), **common_layers(res["report"], res["e2e"], load1)}
        metrics = {n: {"value": measured.get(n, 0), "unit": u}
                   for n, u in layer_units().items()}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in E2E_UNITS.items()}
    res["detail"]["problems"] = res["problems"][:20]
    res["detail"]["box_loadavg_1m"] = load1
    print("detail: " + json.dumps(res["detail"]))
    print(json.dumps({"correct": not res["problems"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
