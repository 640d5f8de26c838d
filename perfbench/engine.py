"""The engine process of a benchmark run.

Both workloads run sparkdon in a process of its own, so its JVM and its
memory are the engine's alone: the load generator (``run.py``), which
holds the oracle, is another process.  This process sets up the graph
and the endpoint, publishes the endpoint with ``SparqlProtocolServer`` on
``endpoint_rw``, prints a ``ready`` line and then answers commands, one
JSON object per line on stdin and one JSON reply per line on stdout:

- ``{"cmd": "run", "prefix": p, "seconds": s, "min_ops": m, "ops": [[op, ...], ...]}``
  — ``lookup`` only: closed-loop clients in this process call
  ``LocalEndpoint.select``/``ask`` over the op lists, one list per
  client; the reply holds every op's record with its answer;
- ``{"cmd": "trace", "on": b}`` — start or stop recording spans;
- ``{"cmd": "stop"}`` — stop serving, reply with memory, span and
  parse-cache figures, and exit.

Started by ``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
import spans as tracing  # noqa: E402
import workloads as wl  # noqa: E402

OP_HEADER = "X-Perfbench-Op"


def reply(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def lookup_call(ep, op):
    """The in-process client's call for a read op: ``select``/``ask`` with
    the op's parameters as gastrodon ``?_x`` bindings."""
    from sparkdon.terms import IRI

    kind, name, params = op
    bindings = {k: IRI(v) if v.startswith("urn:") else v for k, v in params.items()}
    if kind == "ask":
        return lambda: (bool(ep.ask(wl.LOOKUP[name], bindings=bindings)), 1, 0)

    def select():
        pdf = ep.select(wl.LOOKUP[name], bindings=bindings)
        return wl.canonical(pdf.itertuples(index=False, name=None)), len(pdf), 0
    return select


def trace_protocol(tracer: tracing.Tracer) -> None:
    """Span the protocol handler, under the op id the client sends."""
    from sparkdon.protocol import SparqlProtocolServer

    handle = SparqlProtocolServer._handle

    def traced_handle(self, h, params, method="POST"):
        with tracer.op(h.headers.get(OP_HEADER)), tracer.span("protocol"):
            return handle(self, h, params, method)

    SparqlProtocolServer._handle = traced_handle


def endpoint_times(tracer: tracing.Tracer) -> dict[str, float]:
    """op id -> time spent in the endpoint (the protocol span's direct
    children: ``select_raw`` + ``toPandas``, ``ask`` or ``update``)."""
    proto = {s["id"] for s in tracer.spans if s["name"] == "protocol"}
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s["parent"] in proto and s["op"] is not None:
            out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("lookup", "endpoint_rw"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--nt", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    work = Path(args.work)

    spark, spark_s = common.start_spark(work)
    from sparkdon import io, session
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.session import LocalEndpoint

    tracer = tracing.Tracer(spark.sparkContext)
    if args.trace:
        tracing.instrument(tracer)
        if args.workload == "endpoint_rw":
            trace_protocol(tracer)
    tracer.enabled = bool(args.trace)  # the io spans of set-up

    # set-up, timed: ingest (N-Triples -> persisted store -> opened
    # store), the endpoint and, on endpoint_rw, the server
    store = work / "store"
    t0 = time.perf_counter()
    io.write_triple_store(io.read_ntriples(spark, args.nt), str(store))
    ep = LocalEndpoint(spark, io.read_triple_store(spark, str(store)), prefixes=wl.PREFIXES)
    srv = SparqlProtocolServer(ep).start() if args.workload == "endpoint_rw" else None
    setup_s = time.perf_counter() - t0
    tracer.enabled = False
    reply({"event": "ready", "url": srv.url if srv else None, "setup_s": setup_s,
           "spark_start_s": spark_s})

    def one_op(op, op_id):
        with tracer.op(op_id):
            return common.timed(op, op_id, lookup_call(ep, op))

    parse = {"hits": 0, "misses": 0}
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "run":
            records, elapsed = common.run_clients(cmd["ops"], one_op, cmd["seconds"],
                                                  cmd["prefix"], cmd["min_ops"])
            reply({"records": records, "elapsed": elapsed})
        elif cmd["cmd"] == "trace":
            if cmd["on"] != tracer.enabled:  # count hits and misses while tracing
                info = session._parse_query_cached.cache_info()
                sign = -1 if cmd["on"] else 1
                parse["hits"] += sign * info.hits
                parse["misses"] += sign * info.misses
                tracer.enabled = cmd["on"]
            reply({"event": "trace", "on": tracer.enabled})
        elif cmd["cmd"] == "stop":
            break
    if srv is not None:
        srv.stop()
    tracer.count_jobs()
    tracer.self_times()
    reply({"event": "done", "peak_rss_mb": common.peak_rss_mb(spark),
           "store_bytes": common.dir_bytes(store), "parse_cache": parse,
           "layers": tracer.per_op(), "endpoint_s": endpoint_times(tracer),
           "io": [{"name": s["name"], "s": s["end"] - s["start"]}
                  for s in tracer.spans if s["name"].startswith("io.")]})
    common.stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
