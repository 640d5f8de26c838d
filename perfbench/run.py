"""sparkdon benchmark: one workload run, one JSON result line.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md):

- ``lookup``      — in-process clients call ``LocalEndpoint.select``/``ask``
  with ``?_x`` substitution over five selective templates;
- ``endpoint_rw`` — ``SparqlProtocolServer`` serving HTTP clients that mix
  lookup reads with ``INSERT DATA``/``DELETE DATA``.

The engine runs in a child process (``engine.py``) with its own JVM;
this process generates the ops, holds the DuckDB oracle and checks every
answer.  A wrong answer or an error counts as a failed op.  ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` measures the window in
thirds, untraced, traced and untraced, and prints the per-layer metrics.
The last stdout line is the result object; the line before it is a
report with sample counts and host diagnostics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import statistics
import subprocess
import sys
import time
import urllib.parse
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import gen  # noqa: E402
from engine import OP_HEADER  # noqa: E402
import workloads as wl  # noqa: E402

#: reader clients per workload (endpoint_rw adds one writer).  Compile is
#: Python work under one interpreter lock, so on four cores two lookup
#: clients complete about as many ops per second as four (2.0 against
#: 2.1) at about half the latency: more clients add only queueing
READERS = {"lookup": 2, "endpoint_rw": 2}
#: ops handed to each client per phase, more than a phase completes
PHASE_OPS = 400
#: a window runs past ``--seconds`` until it holds this many ops, so a
#: slow host still gives enough reads for a tail with ten beyond it (a
#: traced run's thirds hold a third as many each)
MIN_OPS = 40
#: (op id prefix, share of the window, traced) per phase
PHASES = {0: [("m-", 1.0, False)],
          1: [("u-", 1 / 3, False), ("m-", 1 / 3, True), ("v-", 1 / 3, False)]}

END_TO_END = {
    "setup_s": "s", "throughput_ops_s": "1/s", "read_p50_s": "s",
    "read_tail_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "algebra.parse_s": "s", "algebra.parse_cache_hit_ratio": "ratio",
    "compile.compile_s": "s", "compile.jobs_per_op": "count",
    "paths.closure_s": "s", "paths.jobs_per_op": "count",
    "session.exec_s": "s", "session.exec_jobs_per_op": "count",
    "session.exec_tasks_per_op": "count",
    "session.decode_s": "s", "session.result_rows_per_op": "count",
    "session.update_s": "s", "session.update_jobs_per_op": "count",
    "session.update_tasks_per_op": "count",
    "protocol.overhead_s": "s", "protocol.response_bytes_per_op": "B",
    "io.ntriples_read_s": "s", "io.store_write_s": "s",
    "io.ingest_triples_per_s": "1/s", "io.store_bytes_per_triple": "B",
    "read.compile_share": "ratio", "read.paths_share": "ratio",
    "read.exec_share": "ratio", "read.decode_share": "ratio",
    "write.update_share": "ratio", "write.p50_s": "s",
    "trace.overhead_s": "s",
}

#: endpoint_rw's warm-up writes: one insert and one delete, each with its
#: read-your-writes check
WARM_TAG = [("urn:g:customer:0", "warm")]
WARM_WRITES = [("insert", "tag", WARM_TAG), ("ryw", "tag", {"triples": WARM_TAG, "present": True}),
               ("delete", "tag", WARM_TAG), ("ryw", "tag", {"triples": WARM_TAG, "present": False})]


class Engine:
    """The engine child process (``engine.py``) and its JSON-line commands."""

    def __init__(self, workload: str, work: Path, nt: Path, trace: int):
        cmd = [sys.executable, str(HERE / "engine.py"), "--workload", workload,
               "--work", str(work), "--nt", str(nt), "--trace", str(trace)]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     text=True)

    def recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"engine process exited (code {self.proc.wait(timeout=60)})")
        return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def close(self) -> None:
        """Wait for the process to exit after ``stop``; kill it if it is
        still running after an error."""
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def http_call(url: str, op, op_id: str):
    """The HTTP client's call for an op: a SPARQL protocol query (asking
    for ``sparql-results+json``) or update."""
    kind, name, params = op
    headers = {OP_HEADER: op_id}
    if kind in ("insert", "delete"):
        verb = "INSERT" if kind == "insert" else "DELETE"
        form = {"update": f"{verb} DATA {{ {wl.data_block(params)} }}"}
    else:
        text = (wl.ryw_ask(params["triples"]) if kind == "ryw"
                else wl.substitute(wl.LOOKUP[name], params))
        form = {"query": wl.PROLOGUE + text}
        headers["Accept"] = "application/sparql-results+json"

    def call():
        req = urllib.request.Request(url, data=urllib.parse.urlencode(form).encode(),
                                     headers=headers, method="POST")
        with urllib.request.urlopen(req, timeout=120) as resp:
            body = resp.read()
        if kind in ("insert", "delete"):
            return None, 0, len(body)
        doc = json.loads(body)
        if "boolean" in doc:
            return bool(doc["boolean"]), 1, len(body)
        names = doc["head"]["vars"]
        rows = [[json_cell(b.get(n)) for n in names] for b in doc["results"]["bindings"]]
        return wl.canonical(rows), len(rows), len(body)
    return call


NUMERIC = tuple("http://www.w3.org/2001/XMLSchema#" + t
                for t in ("double", "float", "decimal", "integer", "int", "long"))


def json_cell(term: dict | None):
    if term is None:
        return None
    if term.get("datatype") in NUMERIC:
        return float(term["value"])
    return term["value"]


def check(records: list[dict], oracle: wl.Oracle) -> None:
    """Set ``ok`` on every record: an op fails when it raised or its
    answer differs from the oracle's (a write is checked by the
    read-your-writes ASK that follows it)."""
    for r in records:
        if r["error"] is not None:
            r["ok"] = False
            print(f"op {r['id']} {r['name']} failed: {r['error']}", file=sys.stderr)
        elif r["kind"] == "write":
            r["ok"] = True
        else:
            r["ok"] = wl.same_answer(r["answer"], oracle.expected(r["op"]))
            if not r["ok"]:
                print(f"op {r['id']} {r['name']} wrong answer", file=sys.stderr)


def run_workload(args, engine: Engine, oracle: wl.Oracle) -> dict:
    """Warm-up (part of set-up), then the measured phases; every record
    checked."""
    ready = engine.recv()
    n = READERS[args.workload]
    ops_per_client = PHASE_OPS * len(PHASES[args.trace])
    if args.workload == "lookup":
        names = tuple(wl.LOOKUP)
        clients = [wl.lookup_ops(args.seed * n + i, ops_per_client, common.CUSTOMERS, names, i)
                   for i in range(n)]
        warm_writes = None

        def execute(op_lists, seconds, prefix, min_ops=0):
            out = engine.call(cmd="run", ops=op_lists, seconds=seconds, prefix=prefix,
                              min_ops=min_ops)
            return out["records"], out["elapsed"]
    else:
        # one writer: the endpoint's update is a read-modify-write of its
        # graph reference with no lock, so concurrent writers lose updates
        # (race_probe.py)
        names = wl.RW_READS
        clients = [wl.writer_ops(args.seed, ops_per_client, common.CUSTOMERS)]
        clients += [wl.lookup_ops(args.seed * n + i, ops_per_client, common.CUSTOMERS, names, i)
                    for i in range(n)]
        warm_writes = WARM_WRITES

        def execute(op_lists, seconds, prefix, min_ops=0):
            return common.run_clients(
                op_lists, lambda op, op_id: common.timed(op, op_id, http_call(ready["url"], op, op_id)),
                seconds, prefix, min_ops)

    # warm-up, inside setup_s: one pass of every read template spread over
    # the readers (Spark's generated code and the JIT's are shared by all
    # client threads), and the warm-up writes
    reads = wl.lookup_ops(-1 - args.seed, len(names), common.CUSTOMERS, names)
    warm_lists = [reads[i::n] for i in range(n)]
    if warm_writes:
        warm_lists.insert(0, warm_writes)
    t0 = time.perf_counter()
    warm, _ = execute(warm_lists, 600, "w-")
    warm_s = time.perf_counter() - t0

    cursor = [0] * len(clients)
    phases, tracing_on = {}, False
    before = common.cpu_times()
    for prefix, share, traced in PHASES[args.trace]:
        if traced != tracing_on:
            engine.call(cmd="trace", on=traced)
            tracing_on = traced
        lists = [ops[c:c + PHASE_OPS] for ops, c in zip(clients, cursor)]
        records, elapsed = execute(lists, args.seconds * share, prefix, math.ceil(MIN_OPS * share))
        for r in records:
            cursor[r["client"]] += 1
        phases[prefix] = (records, elapsed)
    host = common.host_diagnostics(before, common.cpu_times())
    done = engine.call(cmd="stop")
    engine.close()

    records, elapsed = phases["m-"]
    untraced = [r for p in ("u-", "v-") if p in phases for r in phases[p][0]]
    check(records + untraced + warm, oracle)
    return {"records": records, "elapsed": elapsed, "untraced": untraced, "warm": warm,
            "setup_s": ready["setup_s"] + warm_s, "set_up_s": ready["setup_s"],
            "warm_s": warm_s, "spark_start_s": ready["spark_start_s"], "round": names,
            "host": host, **{k: done[k] for k in ("peak_rss_mb", "store_bytes", "layers",
                                                  "endpoint_s", "io", "parse_cache")}}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def whole_rounds(records: list[dict], names) -> list[dict]:
    """Each client's reads of the round-robin templates ``names``, cut to
    whole rounds, so every template carries the same weight in the
    latency statistics whatever op the window happened to end on."""
    by_client: dict[int, list[dict]] = {}
    for r in records:
        if r["name"] in names:
            by_client.setdefault(r["client"], []).append(r)
    k = len(names)
    return [r for rs in by_client.values() for r in rs[:len(rs) - len(rs) % k]]


def by_template(records: list[dict], names) -> dict[str, list[float]] | None:
    """template -> latencies of its reads; None when a template has none."""
    by: dict[str, list[float]] = {}
    for r in records:
        if r["name"] in names:
            by.setdefault(r["name"], []).append(r["latency"])
    return by if len(by) == len(names) else None


def template_p50(by: dict[str, list[float]]) -> float:
    """The geometric mean of the templates' median latencies.

    The templates' latencies differ by up to ten times, so the median of
    the pooled reads sits on the edge between two templates' latencies
    and moves with how many reads of each the window held; this weighs
    every template the same."""
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by.values()))


def template_tail(by: dict[str, list[float]]) -> float | None:
    """``template_p50`` times the highest percentile, with at least ten
    samples beyond it, of every read's latency over its own template's
    median; None when there are too few reads for a tail distinct from
    the median."""
    slowdown = sorted(x / statistics.median(v) for v in by.values() for x in v)
    k = common.tail_rank(len(slowdown))
    return None if k is None else template_p50(by) * slowdown[k]


def end_to_end(run: dict) -> tuple[dict, dict]:
    recs = run["records"]
    rounds = whole_rounds(recs, run["round"])
    reads = common.latency_stats([r["latency"] for r in rounds])
    by = by_template(rounds, run["round"])
    reads["template_p50"] = template_p50(by) if by else None
    reads["template_tail"] = template_tail(by) if by else None
    writes = common.latency_stats([r["latency"] for r in recs if r["kind"] == "write"])
    metrics = {
        "setup_s": run["setup_s"],
        "throughput_ops_s": len(recs) / run["elapsed"],
        "read_p50_s": reads["template_p50"],
        "read_tail_s": reads["template_tail"],
        "peak_rss_mb": run["peak_rss_mb"],
    }
    return metrics, {"reads": reads, "writes": writes}


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def per_layer(run: dict, n_triples: int) -> dict:
    layers, recs = run["layers"], run["records"]
    reads = [r for r in recs if r["kind"] == "read"]
    writes = [r for r in recs if r["kind"] == "write"]

    def layer(rs, name, field="self"):
        return [layers[r["id"]][name][field] for r in rs
                if name in layers.get(r["id"], {})]

    def mean(values):
        values = list(values)
        return sum(values) / len(values) if values else 0.0

    def share(rs, names):
        total = sum(r["latency"] for r in rs)
        part = sum(sum(layer(rs, n)) for n in names)
        return part / total if total else 0.0

    med = median_or_zero
    pc = run["parse_cache"]
    io = {}
    for s in run["io"]:
        io.setdefault(s["name"], []).append(s["s"])
    ingest = sum(sum(io.get(n, [])) for n in
                 ("io.ntriples_read", "io.store_write", "io.store_read"))
    proto = [r["latency"] - run["endpoint_s"][r["id"]] for r in recs
             if r["id"] in run["endpoint_s"]]
    # the traced third against the two untraced thirds around it, so
    # warming up during the window does not count as tracing cost
    traced, untraced = (by_template(rs, run["round"]) for rs in (recs, run["untraced"]))
    return {
        "algebra.parse_s": med(layer(reads, "algebra.parse")),
        "algebra.parse_cache_hit_ratio": pc["hits"] / max(pc["hits"] + pc["misses"], 1),
        "compile.compile_s": med(layer(reads, "compile")),
        "compile.jobs_per_op": mean(layer(reads, "compile", "jobs")),
        "paths.closure_s": med(layer(reads, "paths")),
        "paths.jobs_per_op": mean(layer(reads, "paths", "jobs")),
        "session.exec_s": med(layer(reads, "session.exec")),
        "session.exec_jobs_per_op": mean(layer(reads, "session.exec", "jobs")),
        "session.exec_tasks_per_op": mean(layer(reads, "session.exec", "tasks")),
        "session.decode_s": med(layer(reads, "session.select")),
        "session.result_rows_per_op": mean(r["rows"] for r in reads),
        "session.update_s": med(layer(writes, "session.update")),
        "session.update_jobs_per_op": mean(layer(writes, "session.update", "jobs")),
        "session.update_tasks_per_op": mean(layer(writes, "session.update", "tasks")),
        "protocol.overhead_s": med(proto),
        "protocol.response_bytes_per_op": mean(r["bytes"] for r in reads),
        "io.ntriples_read_s": med(io.get("io.ntriples_read", [])),
        "io.store_write_s": med(io.get("io.store_write", [])),
        "io.ingest_triples_per_s": n_triples / ingest if ingest else 0.0,
        "io.store_bytes_per_triple": run["store_bytes"] / n_triples,
        "read.compile_share": share(reads, ["compile"]),
        "read.paths_share": share(reads, ["paths"]),
        "read.exec_share": share(reads, ["session.exec"]),
        "read.decode_share": share(reads, ["session.select"]),
        "write.update_share": share(writes, ["session.update"]),
        "write.p50_s": med(r["latency"] for r in writes),
        "trace.overhead_s": (template_p50(traced) - template_p50(untraced)
                             if traced and untraced else None),
    }


def templates(records: list[dict]) -> dict[str, list]:
    """template -> latencies of its ops, in completion order (a diagnostic)."""
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r["name"] if r["kind"] == "read" else "write", []).append(
            round(r["latency"], 4))
    return dict(sorted(by.items()))


def tally(ops: list[dict]) -> tuple[int, int]:
    """(attempted, failed) over checked records."""
    return len(ops), sum(not r["ok"] for r in ops)


WORKLOADS = ("lookup", "endpoint_rw")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    missing = [m for m in ("pyspark", "sparkdon") if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: cannot import {missing}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2

    cache = ROOT / ".perfbench_cache"
    work = cache / f"run-{os.getpid()}"
    nt, digest, n_triples = gen.graph_file(cache, common.CUSTOMERS)
    oracle = wl.Oracle(gen.make_tables(common.CUSTOMERS))
    engine = Engine(args.workload, work, nt, args.trace)
    try:
        run = run_workload(args, engine, oracle)
    finally:
        if engine.proc.poll() is None:
            engine.proc.kill()
            engine.proc.wait()
        common.remove(work)

    attempted, failed = tally(run["records"] + run["warm"] + run["untraced"])
    e2e, lat = end_to_end(run)
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "readers": READERS[args.workload], "graph_triples": n_triples,
        "graph_sha256": digest, "set_up_s": run["set_up_s"], "warm_s": run["warm_s"],
        "spark_start_s": run["spark_start_s"], "host": run["host"],
        "reads": lat["reads"], "writes": lat["writes"], "templates": templates(run["records"]),
        "ops": len(run["records"]), "elapsed_s": run["elapsed"],
    }
    if args.trace:
        values, units = per_layer(run, n_triples), PER_LAYER
        report["trace_phases"] = "untraced, traced, untraced thirds"
    else:
        values, units = e2e, END_TO_END
    print(json.dumps({"report": report}))
    missing = [k for k, v in values.items() if v is None]
    if missing:
        print(f"perfbench: too few samples for {missing}; no result", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
