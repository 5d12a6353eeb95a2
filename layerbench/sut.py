"""The system under test, one process per benchmark run.

``python3 -m layerbench.sut --workload W --work DIR --sf-dir TABLES --seed N [--trace]``

- ``ingest`` / ``dashboard``: runs ``cli.main`` exactly as a deployment
  would (Spark session, ``RemoteWriteServer``, ``relay()`` with the file
  sink standing in for Kinesis; ``dashboard`` adds ``--query-tables``).
  It prints ``cli.main``'s ``listening on ...`` line and relays until a
  ``STOP`` line arrives on stdin; a watcher thread then stops the
  streaming query, ``cli.main`` returns from ``awaitTermination`` and stops
  the server. (``cli.main``'s own SIGTERM handler cannot be used: it calls
  ``query.stop()`` on the main thread while that thread is blocked in the
  Py4J ``awaitTermination`` call, and Py4J fails with a reentrant read.)

A ``BATCH`` line on stdin (sent after the dashboard phase of a traced
run) makes one caller build the ``bench=True`` registry queries, run each
once on its fresh plan, then re-execute the plans ``WARM_PASSES`` times
(``bench.py``'s warm method); results go to ``DIR/results`` for the
checker, timings into the report, and ``BATCH DONE`` is printed.

On exit the process writes ``DIR/report.json``: the relay's
``recentProgress``, the batch timings, and with ``--trace`` the spans and
the box-load probe.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import threading
import time

from layerbench.trace import REQUEST_ID_HEADER, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARM_PASSES = 3
# the relay's --write-interval. Beside the dashboard queries it is 2 s:
# a trigger slows the queries it overlaps for most of a second, and with
# triggers every 4 s about one query in four was hit, so which queries
# they hit decided the latency tail from run to run; every 2 s they hit
# nearly every query alike.
TRIGGER_S = {"ingest": 4.0, "dashboard": 2.0}


def _request_id(args) -> str | None:
    return args[0].headers.get(REQUEST_ID_HEADER)


def install_tracing(tracer: Tracer) -> None:
    """Wrap each layer's public entry points where their callers look them up."""
    from prometheus_remote_kinesis_spark import promql, server, session
    from prometheus_remote_kinesis_spark.streaming import pipeline

    H = server._Handler
    tracer.patch(H, "do_POST", "server.do_POST", request_id_of=_request_id)
    tracer.patch(H, "do_GET", "server.do_GET", request_id_of=_request_id)
    tracer.patch(H, "send_response", "server.send_response",
                 attrs_of=lambda a, r: {"code": a[1]})
    tracer.patch(H, "_json", "server.encode")
    tracer.patch(server, "snappy_decompress", "prompb.snappy",
                 attrs_of=lambda a, r: {"wire": len(a[0]), "raw": len(r)})
    tracer.patch(server, "parse_write_request", "prompb.parse",
                 attrs_of=lambda a, r: {"samples": sum(len(t["samples"]) for t in r)})
    tracer.patch(server, "flatten_timeseries", "server.flatten",
                 attrs_of=lambda a, r: {"samples": len(r)})
    tracer.patch(server.RemoteWriteServer, "spool", "server.spool",
                 attrs_of=lambda a, r: {"samples": len(a[1])})
    tracer.patch(session, "get_spark", "session.get_spark")
    tracer.patch(promql, "parse", "promql.parse")
    tracer.patch(promql, "max_ts_ms", "promql.max_ts_ms")
    tracer.patch(promql, "compile_promql", "promql.compile")
    tracer.patch(promql, "compile_promql_range", "promql.compile")

    def traced_factory(factory, name, rows_of):
        def make(*args, **kwargs):
            return tracer.span(name, factory(*args, **kwargs),
                               attrs_of=lambda a, r: {"rows": rows_of(r)})
        return make

    promql.make_promql_http_handler = traced_factory(
        promql.make_promql_http_handler, "promql.handler", lambda r: len(r[1]))
    promql.make_promql_range_http_handler = traced_factory(
        promql.make_promql_range_http_handler, "promql.handler",
        lambda r: sum(len(pts) for _, pts in r))

    real_writer = pipeline.foreach_batch_writer

    def foreach_batch_writer(*args, **kwargs):
        return tracer.span("sinks.write", real_writer(*args, **kwargs))

    pipeline.foreach_batch_writer = foreach_batch_writer


def capture_relay(sink: list) -> None:
    """Keep the StreamingQuery ``cli.main`` starts, for its progress log."""
    from prometheus_remote_kinesis_spark.streaming import pipeline

    real_relay = pipeline.relay

    def relay(*args, **kwargs):
        q = real_relay(*args, **kwargs)
        sink.append(q)
        return q

    pipeline.relay = relay


def commands(args, queries: list, report: dict) -> None:
    """Serve ``BATCH`` and ``STOP`` lines from stdin."""
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "BATCH":
            report["batch"] = run_batch(args.sf_dir, args.seed, args.work)
            print("BATCH DONE", flush=True)
        elif cmd == "STOP" and queries:
            queries[0].stop()
            return


def serve(args) -> dict:
    from prometheus_remote_kinesis_spark import cli

    work = args.work
    queries: list = []
    report: dict = {}
    capture_relay(queries)
    threading.Thread(target=commands, args=(args, queries, report), daemon=True).start()
    argv = [
        "--stream-name", "layerbench",
        "--listen-addr", "127.0.0.1:0",
        "--write-interval", f"{TRIGGER_S[args.workload]:g} seconds",
        "--spool-dir", os.path.join(work, "spool"),
        "--checkpoint-dir", os.path.join(work, "ckpt"),
        "--sink-dir", os.path.join(work, "sink"),
    ]
    if args.workload == "dashboard":
        argv += ["--query-tables", args.sf_dir]
    os.makedirs(os.path.join(work, "sink"), exist_ok=True)
    cli.main(argv)
    report["progress"] = [json.loads(p.json) for p in queries[0].recentProgress] if queries else []
    return report


def run_batch(sf_dir: str, seed: int, work: str) -> dict:
    from prometheus_remote_kinesis_spark.registry import bench_queries
    from prometheus_remote_kinesis_spark.session import get_spark

    spark = get_spark("layerbench")
    fns = bench_queries()
    names = sorted(fns)
    random.Random(seed).shuffle(names)
    plans, build_s = {}, {}
    for name in names:
        t0 = time.perf_counter()
        plans[name] = fns[name](spark, sf_dir)
        build_s[name] = time.perf_counter() - t0
    results = os.path.join(work, "results")
    os.makedirs(results)
    fresh_s: dict[str, float] = {}
    for name in names:  # first execution of each plan: no stage reuse
        t0 = time.perf_counter()
        pdf = plans[name].toPandas()
        fresh_s[name] = time.perf_counter() - t0
        pdf.to_pickle(os.path.join(results, f"{name}.fresh.pkl"))
    warm_s: dict[str, list[float]] = {n: [] for n in names}
    for p in range(WARM_PASSES):  # the fresh pass was the warm-up
        for name in names:
            t0 = time.perf_counter()
            pdf = plans[name].toPandas()
            warm_s[name].append(time.perf_counter() - t0)
            if p == WARM_PASSES - 1:
                pdf.to_pickle(os.path.join(results, f"{name}.warm.pkl"))
    return {"build_s": build_s, "fresh_s": fresh_s, "warm_s": warm_s}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "dashboard"))
    ap.add_argument("--work", required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_tracing(tracer)
    report = serve(args)
    if tracer is not None:
        report["spans"] = tracer.dump()
        sys.path.insert(0, ROOT)
        from bench import calibrate
        from prometheus_remote_kinesis_spark.session import get_spark

        report["calibration"] = calibrate(get_spark("layerbench"))
    with open(os.path.join(args.work, "report.json"), "w") as f:
        json.dump(report, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
