"""Query templates, seeded op sequences and the DuckDB oracle.

Nothing here imports sparkdon: the expected answers come from the
generated tables (``gen.make_tables``) through DuckDB, so a change to the
engine cannot change what counts as correct.

An op is a tuple ``(kind, template, params)``:

- ``("select", name, {"c": iri})`` / ``("ask", name, {...})`` — reads;
- ``("insert", "tag", triples)`` / ``("delete", "tag", triples)`` —
  writes of ``urn:p:tag`` triples, each followed by the writer's
  read-your-writes ASK (``("ryw", "tag", {"triples": ..., "present": b})``).
"""

from __future__ import annotations

import math
import numbers
import random

import numpy as np
import pandas as pd

from gen import ORDERS_PER_CUSTOMER

PREFIXES = {"p": "urn:p:", "c": "urn:c:"}
PROLOGUE = "PREFIX p: <urn:p:>\nPREFIX c: <urn:c:>\n"

#: selective templates (gastrodon ``?_x`` substitution); the anchored
#: path template is the only one with a property path
LOOKUP = {
    "attrs": "SELECT ?name ?bal ?seg WHERE { ?_c p:c_name ?name ; "
             "p:c_acctbal ?bal ; p:c_mktsegment ?seg }",
    "orders": "SELECT ?o ?price WHERE { ?o p:o_custkey ?_c ; p:o_totalprice ?price }",
    "geo": "SELECT ?nname ?rname WHERE { ?_c p:c_nationkey ?n . ?n p:n_name ?nname ; "
           "p:n_regionkey ?r . ?r p:r_name ?rname }",
    "status": "ASK { ?_o p:o_orderstatus ?_st }",
    "path": "SELECT ?r WHERE { ?_c p:locatedIn+ ?r }",
}

#: endpoint_rw's reads: the SELECT lookups without the anchored path,
#: which the lookup workload measures (on the write-checkpointed graph a
#: path op takes about 5 s and would leave too few reads per run for a
#: tail); ASK runs as the writer's read-your-writes check.  An odd number
#: of templates puts the median inside one template's latencies rather
#: than on the edge between two
RW_READS = ("attrs", "orders", "geo")

TAG = "urn:p:tag"


def substitute(template: str, params: dict) -> str:
    """Client-side ``?_x`` substitution for HTTP clients (the in-process
    client hands ``params`` to the endpoint instead)."""
    out = template
    for k, v in params.items():
        out = out.replace(f"?_{k}", f"<{v}>" if v.startswith("urn:") else f'"{v}"')
    return out


def lookup_op(rng: random.Random, name: str, customers: int) -> tuple:
    if name == "status":
        o = f"urn:g:orders:{rng.randrange(customers * ORDERS_PER_CUSTOMER)}"
        return ("ask", name, {"o": o, "st": rng.choice("FOP")})
    return ("select", name, {"c": f"urn:g:customer:{rng.randrange(customers)}"})


def lookup_ops(seed: int, n: int, customers: int,
               names: tuple[str, ...] = tuple(LOOKUP), start: int = 0) -> list[tuple]:
    """``n`` reads in a fixed round-robin over the templates ``names``,
    beginning at ``names[start]``; the subjects come from ``seed``.
    Clients begin at different templates, so at any moment they run
    different templates rather than all the slow one at once."""
    rng = random.Random(seed)
    return [lookup_op(rng, names[(start + i) % len(names)], customers) for i in range(n)]


def writer_ops(seed: int, n: int, customers: int) -> list[tuple]:
    """The ``endpoint_rw`` writer's op list: an insert or delete of three
    ``urn:p:tag`` triples, each followed by its read-your-writes ASK.  A
    delete removes the oldest live insert, so the graph size stays flat."""
    rng = random.Random(seed)
    live: list[list[tuple]] = []
    ops: list[tuple] = []
    for i in range(n):
        if len(live) >= 2:
            triples = live.pop(0)
            ops.append(("delete", "tag", triples))
            ops.append(("ryw", "tag", {"triples": triples, "present": False}))
        else:
            triples = [(f"urn:g:customer:{rng.randrange(customers)}", f"t{seed}-{i}-{j}")
                       for j in range(3)]
            live.append(triples)
            ops.append(("insert", "tag", triples))
            ops.append(("ryw", "tag", {"triples": triples, "present": True}))
    return ops


def data_block(triples) -> str:
    return " ".join(f'<{s}> <{TAG}> "{v}" .' for s, v in triples)


def ryw_ask(triples) -> str:
    return "ASK { " + data_block(triples) + " }"


# ---------------------------------------------------------------------------
# oracle
# ---------------------------------------------------------------------------


class Oracle:
    """Expected answers from the generated tables, through DuckDB."""

    def __init__(self, tables: dict[str, pd.DataFrame]):
        import duckdb

        self.db = duckdb.connect()
        for name, df in tables.items():
            self.db.register(name, df)
        q = self.db.execute
        self.attrs = {k: [(n, b, s)] for k, n, b, s in q(
            "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer").fetchall()}
        self.orders: dict[int, list] = {}
        for ck, ok, price in q("SELECT o_custkey, o_orderkey, o_totalprice FROM orders").fetchall():
            self.orders.setdefault(ck, []).append((f"urn:g:orders:{ok}", price))
        self.geo = {k: [(n, r)] for k, n, r in q(
            "SELECT c_custkey, n_name, r_name FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey").fetchall()}
        self.path = {k: [(f"urn:g:nation:{n}",), (f"urn:g:region:{r}",)] for k, n, r in q(
            "SELECT c_custkey, n_nationkey, n_regionkey FROM customer "
            "JOIN nation ON c_nationkey = n_nationkey").fetchall()}
        self.status = dict(q("SELECT o_orderkey, o_orderstatus FROM orders").fetchall())

    def expected(self, op: tuple):
        """Canonical expected answer of a read op (see :func:`canonical`)."""
        kind, name, params = op
        if kind == "ryw":
            return params["present"]
        if name == "status":
            return self.status[_key(params["o"])] == params["st"]
        key = _key(params["c"])
        table = {"attrs": self.attrs, "orders": self.orders, "geo": self.geo,
                 "path": self.path}[name]
        return canonical(table.get(key, []))


def _key(iri: str) -> int:
    return int(iri.rsplit(":", 1)[1])


def cell(v):
    """Comparable form of one answer cell: numbers as floats, IRIs in
    full, every other value as its string."""
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, numbers.Real):
        return float(v)
    if hasattr(v, "to_uri"):  # a prefix-shortened IRI from select()
        return str(v.to_uri())
    return str(v)


def canonical(rows) -> list[tuple]:
    """Order-insensitive form of a row list."""
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def same_answer(got, want) -> bool:
    if isinstance(want, bool):
        return got is want
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float):
                if not isinstance(a, float) or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True
