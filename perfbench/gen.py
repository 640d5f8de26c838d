"""Deterministic benchmark graph, built without sparkdon.

The tables mirror the TPC-H driver tables the engine is exercised on
(region, nation, customer, supplier, orders) with the same column names
and value ranges, and the triples follow the engine's relational mapping:

- row IRI ``urn:g:<table>:<key>``, class ``urn:c:<table>``;
- one ``urn:p:<column>`` triple per non-key column (foreign keys link
  row IRIs; money is ``xsd:double``, dates ``xsd:dateTime``);
- ``urn:p:locatedIn`` edges customer -> nation -> region.

As in TPC-H, orders reference only customers whose key is not a multiple
of three, so a third of the customers have no orders.

The tables are generated with numpy from a fixed seed, so the graph is
the same for every run; the N-Triples file is cached under
``.perfbench_cache/`` by a hash of this file and the scale, and its
content hash is checked on every use.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np
import pandas as pd

GRAPH_SEED = 20161
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_NATIONS = 25
ORDERS_PER_CUSTOMER = 10


def make_tables(customers: int) -> dict[str, pd.DataFrame]:
    """The five driver tables at ``customers`` customers (sf0.1 = 15000)."""
    rng = np.random.default_rng(GRAPH_SEED)
    suppliers = max(customers // 15, 1)
    n_orders = customers * ORDERS_PER_CUSTOMER
    region = pd.DataFrame({"r_regionkey": np.arange(5), "r_name": REGIONS})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(N_NATIONS),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": np.arange(N_NATIONS) % 5,
    })
    ck = np.arange(customers)
    customer = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, N_NATIONS, customers),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, customers)],
    })
    sk = np.arange(suppliers)
    supplier = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, N_NATIONS, suppliers),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, suppliers), 2),
    })
    buyers = ck[ck % 3 != 0]
    day0 = np.datetime64("1995-01-01")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders),
        "o_custkey": buyers[rng.integers(0, len(buyers), n_orders)],
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(850.0, 555000.0, n_orders), 2),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        "o_orderdate": day0 + rng.integers(0, 2404, n_orders).astype("timedelta64[D]"),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "orders": orders}


def _iri(table: str, keys) -> pd.Series:
    return f"<urn:g:{table}:" + pd.Series(keys).astype(str).reset_index(drop=True) + ">"


def _lit(values, dt: str | None = None) -> pd.Series:
    lex = '"' + pd.Series(values).astype(str).reset_index(drop=True) + '"'
    return lex if dt is None else lex + f"^^<{XSD}{dt}>"


def _lines(subj: pd.Series, pred: str, obj) -> list[str]:
    return (subj + f" <{pred}> " + obj + " .").tolist()


def ntriples_lines(tables: dict[str, pd.DataFrame]) -> list[str]:
    """Every triple of the graph as an N-Triples line (lexical forms are
    Python's: ``repr`` of a double, ISO dates)."""
    out: list[str] = []
    t = tables

    def typed(table, keys):
        s = _iri(table, keys)
        out.extend(_lines(s, RDF_TYPE, f"<urn:c:{table}>"))
        return s

    s = typed("region", t["region"].r_regionkey)
    out += _lines(s, "urn:p:r_name", _lit(t["region"].r_name))
    s = typed("nation", t["nation"].n_nationkey)
    out += _lines(s, "urn:p:n_name", _lit(t["nation"].n_name))
    out += _lines(s, "urn:p:n_regionkey", _iri("region", t["nation"].n_regionkey))
    c = t["customer"]
    s = typed("customer", c.c_custkey)
    out += _lines(s, "urn:p:c_name", _lit(c.c_name))
    out += _lines(s, "urn:p:c_nationkey", _iri("nation", c.c_nationkey))
    out += _lines(s, "urn:p:c_acctbal", _lit([repr(float(v)) for v in c.c_acctbal], "double"))
    out += _lines(s, "urn:p:c_mktsegment", _lit(c.c_mktsegment))
    sp = t["supplier"]
    s = typed("supplier", sp.s_suppkey)
    out += _lines(s, "urn:p:s_name", _lit(sp.s_name))
    out += _lines(s, "urn:p:s_nationkey", _iri("nation", sp.s_nationkey))
    out += _lines(s, "urn:p:s_acctbal", _lit([repr(float(v)) for v in sp.s_acctbal], "double"))
    o = t["orders"]
    s = typed("orders", o.o_orderkey)
    out += _lines(s, "urn:p:o_custkey", _iri("customer", o.o_custkey))
    out += _lines(s, "urn:p:o_orderstatus", _lit(o.o_orderstatus))
    out += _lines(s, "urn:p:o_totalprice", _lit([repr(float(v)) for v in o.o_totalprice], "double"))
    out += _lines(s, "urn:p:o_orderpriority", _lit(o.o_orderpriority))
    dates = pd.to_datetime(o.o_orderdate).dt.strftime("%Y-%m-%dT%H:%M:%S")
    out += _lines(s, "urn:p:o_orderdate", _lit(dates, "dateTime"))
    out += _lines(_iri("customer", c.c_custkey), "urn:p:locatedIn",
                  _iri("nation", c.c_nationkey))
    out += _lines(_iri("nation", t["nation"].n_nationkey), "urn:p:locatedIn",
                  _iri("region", t["nation"].n_regionkey))
    return out


def sha256_file(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def graph_file(cache_dir: Path, customers: int) -> tuple[Path, str, int]:
    """(path, sha256, triple count) of the cached N-Triples file, written
    on first use.  The cache key covers this file's source and the scale;
    a cached file whose bytes no longer match its recorded hash is
    rebuilt."""
    key = hashlib.sha256(Path(__file__).read_bytes() + f"|{customers}".encode())
    d = cache_dir / f"graph-{key.hexdigest()[:16]}"
    nt, meta = d / "graph.nt", d / "graph.sha256"
    if nt.exists() and meta.exists():
        digest, count = meta.read_text().split()
        if sha256_file(nt) == digest:
            return nt, digest, int(count)
    d.mkdir(parents=True, exist_ok=True)
    lines = ntriples_lines(make_tables(customers))
    tmp = d / f"graph.nt.tmp{os.getpid()}"
    tmp.write_text("\n".join(lines) + "\n")
    tmp.replace(nt)
    digest = sha256_file(nt)
    meta.write_text(f"{digest} {len(lines)}\n")
    return nt, digest, len(lines)
