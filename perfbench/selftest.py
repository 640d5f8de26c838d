"""Self-tests of the benchmark itself (no Spark needed, a few seconds):

1. the same seed gives the same op sequences and the same input bytes;
2. a corrupted expected answer makes the error ratio positive;
3. the metric names and units the benchmark emits are exactly those
   ``BENCHMARK.json`` declares.

    python3 perfbench/selftest.py

Exits 0 when every check passes and 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

SMALL = 60  # customers: enough for every template, fast to build

FAILURES: list[str] = []


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        FAILURES.append(what)


def test_determinism() -> None:
    for seed in (1, 7):
        check(wl.lookup_ops(seed, 50, SMALL) == wl.lookup_ops(seed, 50, SMALL),
              f"lookup ops repeat for seed {seed}")
        check(wl.writer_ops(seed, 50, SMALL) == wl.writer_ops(seed, 50, SMALL),
              f"endpoint_rw writer ops repeat for seed {seed}")
    check(wl.lookup_ops(1, 50, SMALL) != wl.lookup_ops(2, 50, SMALL),
          "different seeds give different lookup ops")
    names = [op[1] for op in wl.lookup_ops(3, 10 * len(wl.LOOKUP), SMALL)]
    check(all(names.count(n) == 10 for n in wl.LOOKUP),
          "round-robin gives equal counts per template")

    def digest() -> str:
        text = "\n".join(gen.ntriples_lines(gen.make_tables(SMALL))) + "\n"
        return hashlib.sha256(text.encode()).hexdigest()
    check(digest() == digest(), "the same scale gives the same N-Triples bytes")


def answered(truth: wl.Oracle, ops) -> list[dict]:
    """Records of ``ops`` answered as a correct engine would answer them
    (taken from a second oracle), passed through JSON as the engine
    process sends them."""
    recs = [common.timed(op, f"t-{i}", lambda op=op: (truth.expected(op), 1, 0))
            for i, op in enumerate(ops)]
    return json.loads(json.dumps(recs))


def test_corruption() -> None:
    tables = gen.make_tables(SMALL)
    truth, oracle = wl.Oracle(tables), wl.Oracle(tables)
    ops = wl.lookup_ops(5, 20, SMALL)
    recs = answered(truth, ops)
    run.check(recs, oracle)
    attempted, failed = run.tally(recs)
    check(attempted == 20 and failed == 0, "correct answers count as no failures")

    key = wl._key(next(op for op in ops if op[1] == "attrs")[2]["c"])
    name, bal, seg = oracle.attrs[key][0]
    oracle.attrs[key] = [(name, bal + 0.01, seg)]
    recs = answered(truth, ops)
    run.check(recs, oracle)
    attempted, failed = run.tally(recs)
    check(failed / attempted > 0, f"a corrupted expected answer fails ops ({failed}/{attempted})")

    def boom():
        raise RuntimeError("engine error")
    recs = [common.timed(ops[0], "t-x", boom)]
    run.check(recs, truth)
    check(not recs[0]["ok"], "an op that raises counts as failed")


def synthetic_run() -> dict:
    read = {"kind": "read", "latency": 0.5, "rows": 1, "bytes": 100, "ok": True}
    names = list(wl.LOOKUP)
    records = [dict(read, id=f"m-{i}", client=i % 2, name=names[i // 2 % len(names)],
                    latency=0.4 + i / 100) for i in range(44)]
    records.append({"id": "m-w", "kind": "write", "name": "tag", "client": 2,
                    "latency": 1.0, "rows": 0, "bytes": 0, "ok": True})
    layers = {r["id"]: {"compile": {"self": 0.2, "jobs": 1, "tasks": 0, "n": 1}}
              for r in records}
    return {"records": records, "untraced": [dict(r, latency=r["latency"] - 0.1) for r in records],
            "elapsed": 20.0, "setup_s": 9.0, "peak_rss_mb": 900.0,
            "layers": layers, "endpoint_s": {}, "store_bytes": 1000,
            "io": [{"name": "io.store_write", "s": 2.0}],
            "parse_cache": {"hits": 1, "misses": 3}, "round": tuple(wl.LOOKUP)}


def test_metric_names() -> None:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    check(declared == run.END_TO_END, "end-to-end names and units match BENCHMARK.json")
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(declared == run.PER_LAYER, "per-layer names and units match BENCHMARK.json")
    check({w["name"] for w in spec["workloads"]} == set(run.WORKLOADS),
          "workload names match BENCHMARK.json")
    sample = synthetic_run()
    e2e, _ = run.end_to_end(sample)
    check(set(e2e) == set(run.END_TO_END) and None not in e2e.values(),
          "end_to_end() emits every declared metric")
    layers = run.per_layer(sample, 1000)
    check(set(layers) == set(run.PER_LAYER) and None not in layers.values(),
          "per_layer() emits every declared metric")
    check(common.tail_rank(20) is None and common.tail_rank(40) == 29,
          "the tail has ten samples beyond it and is never the median")
    kept = run.whole_rounds(sample["records"], sample["round"])
    check(len(kept) == 40 and all(
        sum(r["name"] == n for r in kept) == 8 for n in wl.LOOKUP),
        "latency statistics use whole rounds: equal counts per template")


def main() -> int:
    test_determinism()
    test_corruption()
    test_metric_names()
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
