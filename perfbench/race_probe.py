"""Probe: do two concurrent ``LocalEndpoint.update`` calls keep both writes?

``update`` reads ``self.graph``, builds the new snapshot and assigns it
back with no lock, so two overlapping writers can each start from the
same snapshot and the later assignment drops the other's triples.  The
``endpoint_rw`` workload therefore lets its writers take turns; this
probe measures what happens when they do not.

    python3 perfbench/race_probe.py

Prints one JSON line: rounds run and writes lost.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import common  # noqa: E402

ROUNDS = 4


def main() -> int:
    work = HERE.parent / ".perfbench_cache" / f"probe-{os.getpid()}"
    try:
        spark, _ = common.start_spark(work)
        from sparkdon.session import inline

        ep = inline("<urn:g:a> <urn:p:n> 1 .", spark)
        lost = 0
        for r in range(ROUNDS):
            barrier = threading.Barrier(2)

            def write(i: int, r: int = r) -> None:
                barrier.wait()
                ep.update(f'INSERT DATA {{ <urn:g:w{i}> <urn:p:round> "{r}" }}')

            threads = [threading.Thread(target=write, args=(i,)) for i in range(2)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
            lost += sum(not ep.ask(f'ASK {{ <urn:g:w{i}> <urn:p:round> "{r}" }}')
                        for i in range(2))
        print(json.dumps({"rounds": ROUNDS, "writes": 2 * ROUNDS,
                          "lost_writes": lost}))
        common.stop_spark(spark)
    finally:
        common.remove(work)
    return 0


if __name__ == "__main__":
    sys.exit(main())
