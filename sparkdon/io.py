"""Sources and sinks (SURVEY.md §2.1).

S1  N-Triples scan   — ``read_ntriples``: ``spark.read.text`` + JVM-side
    regex decode (splittable, predicate-pushdown-friendly once persisted
    to parquet).  N-Triples is line-delimited, so Spark parallelizes the
    scan for free; gzip is handled natively (single-task per .gz file).
    Reference: ``g.parse(gzip.open(...), format="nt")`` —
    DBpedia_Schema_Queries.ipynb#cell4.
S2  Turtle inline    — ``parse_turtle`` (driver-side, pure Python; inline
    graphs are tiny by construction).  Reference: ``inline()``,
    gastrodon/__init__.py:848-857.
S4  Turtle sink      — ``ttl_string`` for bounded graphs (reference
    ``ttl()``, gastrodon/__init__.py:811-819) and ``write_ntriples`` for
    scale (distributed text write).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdon.algebra import Parser
from sparkdon.errors import SparkdonError
from sparkdon.terms import (
    KIND_BNODE, KIND_IRI, KIND_LIT, QUAD_SCHEMA, TRIPLE_SCHEMA, BNode, IRI,
    Literal, XSD, local_frame,
)

# ---------------------------------------------------------------------------
# N-Triples (S1)
# ---------------------------------------------------------------------------

# one capturing regex for a full N-Triples line (subject | predicate | object)
_NT_LINE = (
    r"^\s*"
    r"(?:<([^>]*)>|(_:\S+))\s+"      # 1 iri-subject | 2 bnode-subject
    r"<([^>]*)>\s+"                   # 3 predicate
    r"(?:<([^>]*)>"                   # 4 iri-object
    r"|(_:\S+)"                       # 5 bnode-object
    r"|\"((?:[^\"\\]|\\.)*)\""        # 6 literal lexical
    r"(?:\^\^<([^>]*)>|@([A-Za-z0-9-]+))?"  # 7 datatype | 8 lang
    r")\s*\.\s*$"
)


def _unescape_col(col):
    """Undo N-Triples string escapes JVM-side.

    Fast path: N-Triples escape sequences (\\" \\\\ \\n \\t \\r \\uXXXX
    \\b \\f) are a subset of JSON string escapes, so the JVM JSON parser
    decodes them exactly — including \\uXXXX — with zero Python involved.
    Fallback (invalid-as-JSON input, e.g. a stray \\'): a sentinel-based
    regexp chain covering the common single-char escapes.
    """
    json_decoded = F.from_json(
        F.concat(F.lit('["'), col, F.lit('"]')), "array<string>"
    )[0]
    sentinel = "\x00"
    c = F.regexp_replace(col, r"\\\\", sentinel)
    for esc, rep in ((r"\\n", "\n"), (r"\\t", "\t"), (r"\\r", "\r"), (r"\\\"", '"')):
        c = F.regexp_replace(c, esc, rep)
    fallback = F.regexp_replace(c, sentinel, r"\\")
    return F.coalesce(json_decoded, fallback)


def read_ntriples(spark: SparkSession, path: str, strict: bool = False) -> DataFrame:
    """Parse an N-Triples file (possibly .gz) into a triple DataFrame.

    Entirely JVM-side (regexp extraction inside whole-stage codegen) — no
    Python in the row path, so it scales with the cluster.

    Malformed lines are dropped by default (the right behavior for dirty
    web-scale dumps); ``strict=True`` raises if any line fails to parse.
    """
    lines = spark.read.text(path)
    content = lines.filter(~F.col("value").rlike(r"^\s*(#.*)?$"))  # blank/comment
    if strict:
        bad = content.filter(~F.col("value").rlike(_NT_LINE))
        sample = [r["value"] for r in bad.limit(3).collect()]
        if sample:
            raise SparkdonError(
                f"malformed N-Triples line(s), e.g. {sample[0][:120]!r}")
    parsed = content.select(
        *[F.regexp_extract("value", _NT_LINE, i).alias(f"g{i}") for i in range(1, 9)],
        F.col("value"),
    ).filter(
        # a failed match extracts '' for every group; the predicate group
        # is non-empty on every well-formed line, so this drops garbage
        F.col("g3") != ""
    )
    return parsed.select(
        F.when(F.col("g2") != "", F.lit(KIND_BNODE)).otherwise(F.lit(KIND_IRI)).alias("s_kind"),
        F.when(F.col("g2") != "", F.expr("substring(g2, 3)")).otherwise(F.col("g1")).alias("s"),
        F.col("g3").alias("p"),
        F.when(F.col("g4") != "", F.lit(KIND_IRI))
        .when(F.col("g5") != "", F.lit(KIND_BNODE))
        .otherwise(F.lit(KIND_LIT)).alias("o_kind"),
        F.when(F.col("g4") != "", F.col("g4"))
        .when(F.col("g5") != "", F.expr("substring(g5, 3)"))
        .otherwise(_unescape_col(F.col("g6"))).alias("o"),
        F.when(F.col("g7") != "", F.col("g7")).alias("o_dt"),
        F.when(F.col("g8") != "", F.col("g8")).alias("o_lang"),
    ).dropDuplicates()  # graph set semantics (RDFContainers#cell15-16)


#: N-Quads: the N-Triples line with an optional graph-label IRI before
#: the dot (group 9).  Blank-node graph labels are not modeled (the quad
#: store's ``g`` column is an IRI string); such lines drop (or raise
#: under strict) like any other unparseable line.
_NQ_LINE = _NT_LINE.replace(r")\s*\.\s*$", r")(?:\s+<([^>]*)>)?\s*\.\s*$")


def read_nquads(spark: SparkSession, path: str, strict: bool = False) -> DataFrame:
    """Parse an N-Quads file into a quad DataFrame (triple columns +
    nullable ``g``; null = default-graph statement).  Same JVM-side
    splittable scan as :func:`read_ntriples` — N-Quads is the
    line-delimited named-graph interchange format, so a 1000-executor
    cluster parallelizes the parse for free.

    Split into an endpoint with ``g IS NULL`` → default graph and the
    rest → named store (:func:`sparkdon.session.from_nquads` does
    exactly that)."""
    lines = spark.read.text(path)
    content = lines.filter(~F.col("value").rlike(r"^\s*(#.*)?$"))
    if strict:
        bad = content.filter(~F.col("value").rlike(_NQ_LINE))
        sample = [r["value"] for r in bad.limit(3).collect()]
        if sample:
            raise SparkdonError(
                f"malformed N-Quads line(s), e.g. {sample[0][:120]!r}")
    parsed = content.select(
        *[F.regexp_extract("value", _NQ_LINE, i).alias(f"g{i}") for i in range(1, 10)],
    ).filter(F.col("g3") != "")
    return parsed.select(
        F.when(F.col("g2") != "", F.lit(KIND_BNODE)).otherwise(F.lit(KIND_IRI)).alias("s_kind"),
        F.when(F.col("g2") != "", F.expr("substring(g2, 3)")).otherwise(F.col("g1")).alias("s"),
        F.col("g3").alias("p"),
        F.when(F.col("g4") != "", F.lit(KIND_IRI))
        .when(F.col("g5") != "", F.lit(KIND_BNODE))
        .otherwise(F.lit(KIND_LIT)).alias("o_kind"),
        F.when(F.col("g4") != "", F.col("g4"))
        .when(F.col("g5") != "", F.expr("substring(g5, 3)"))
        .otherwise(_unescape_col(F.col("g6"))).alias("o"),
        F.when(F.col("g7") != "", F.col("g7")).alias("o_dt"),
        F.when(F.col("g8") != "", F.col("g8")).alias("o_lang"),
        F.when(F.col("g9") != "", F.col("g9")).alias("g"),
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# Turtle (S2) — driver-side parser built on the SPARQL tokenizer
# ---------------------------------------------------------------------------


class TurtleParser(Parser):
    """Turtle subset parser: @prefix/@base + PREFIX/BASE, predicate-object
    lists (";" / ","), ``a``, anonymous bnodes ``[...]``, typed/lang
    literals, numbers, and RDF collections ``( ... )`` (desugared to
    rdf:first/rdf:rest chains)."""

    def parse_document(self) -> list[tuple]:
        triples: list = []
        while True:
            t = self.peek()
            if t.kind == "EOF":
                break
            if t.kind == "LANGTAG" and t.text in ("@prefix", "@base"):
                self.next()
                if t.text == "@prefix":
                    pn = self.next()
                    iri = self.next()
                    self.prefixes[pn.text[:-1]] = iri.text[1:-1]
                else:
                    self.base = self.next().text[1:-1]
                self.expect(".")
                continue
            if self.at_keyword("PREFIX", "BASE"):
                self.parse_prologue()
                continue
            subject = self.parse_term_or_bnode_props(triples)
            self.parse_property_list(subject, triples)
            if self.peek().kind == "EOF":
                break
            self.expect(".")
        rows = []
        for tp in triples:
            rows.append(_encode_triple(tp.s, tp.p, tp.o))
        return rows


def _encode_triple(s, p, o) -> tuple:
    if isinstance(s, IRI):
        s_kind, s_lex = KIND_IRI, str(s)
    elif isinstance(s, BNode):
        s_kind, s_lex = KIND_BNODE, str(s)
    else:
        raise SparkdonError(f"invalid subject {s!r}")
    if not isinstance(p, IRI):
        raise SparkdonError(f"invalid predicate {p!r}")
    if isinstance(o, IRI):
        return (s_kind, s_lex, str(p), KIND_IRI, str(o), None, None)
    if isinstance(o, BNode):
        return (s_kind, s_lex, str(p), KIND_BNODE, str(o), None, None)
    if isinstance(o, Literal):
        return (s_kind, s_lex, str(p), KIND_LIT, o.lex, o.datatype, o.lang)
    raise SparkdonError(f"invalid object {o!r}")


def parse_turtle(text: str, prefixes: dict | None = None,
                 base: str | None = None) -> list[tuple]:
    return TurtleParser(text, prefixes, base).parse_document()


class TriGParser(TurtleParser):
    """TriG subset parser: Turtle statements (default graph) interleaved
    with ``[GRAPH] <g> { turtle-statements }`` named-graph blocks.
    Graph labels are IRIs/prefixed names (blank-node graph labels are a
    TriG corner the quad store's string ``g`` column does not model).

    Returns ``(triple_rows, quad_rows)`` — encoded tuples for
    :func:`triples_df` / :func:`quads_df`."""

    def parse_quads_document(self) -> tuple[list[tuple], list[tuple]]:
        triples: list = []
        quads: list = []  # (graph_iri_str, TriplePattern)
        while True:
            t = self.peek()
            if t.kind == "EOF":
                break
            if t.kind == "LANGTAG" and t.text in ("@prefix", "@base"):
                self.next()
                if t.text == "@prefix":
                    pn = self.next()
                    iri = self.next()
                    self.prefixes[pn.text[:-1]] = iri.text[1:-1]
                else:
                    self.base = self.next().text[1:-1]
                self.expect(".")
                continue
            if self.at_keyword("PREFIX", "BASE"):
                self.parse_prologue()
                continue
            is_block = (self.at_keyword("GRAPH")
                        or (t.kind in ("IRIREF", "PNAME")
                            and self.peek(1).text == "{"))
            if is_block:
                if self.at_keyword("GRAPH"):
                    self.next()
                g = self.parse_iri()
                self.expect("{")
                block: list = []
                while self.peek().text != "}":
                    subject = self.parse_term_or_bnode_props(block)
                    self.parse_property_list(subject, block)
                    if not self.accept("."):
                        break
                self.expect("}")
                self.accept(".")
                quads.extend((str(g), tp) for tp in block)
                continue
            subject = self.parse_term_or_bnode_props(triples)
            self.parse_property_list(subject, triples)
            if self.peek().kind == "EOF":
                break
            self.expect(".")
        return (
            [_encode_triple(tp.s, tp.p, tp.o) for tp in triples],
            [_encode_triple(tp.s, tp.p, tp.o) + (g,) for g, tp in quads],
        )


def parse_trig(text: str, prefixes: dict | None = None) -> tuple[list, list]:
    """TriG text → ``(triple_rows, quad_rows)`` (default graph, named)."""
    return TriGParser(text, prefixes).parse_quads_document()


#: A driver-built store of at least this many rows is held checkpointed,
#: as every written snapshot is, instead of as a ``LocalRelation``: the
#: analyzer and optimizer walk a ``LocalRelation``'s rows in rule after
#: rule of every query over it.  On a 4-core host a checkpointed store
#: answered a four-pattern BGP in 0.48 s against 0.52 s at 11k triples,
#: 0.63 s against 1.41 s at 101k and 0.66 s against 3.3 s at 251k;
#: at 3.5k triples the two were even.
STORE_CHECKPOINT_ROWS = 10_000


def _store(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    rows = list(dict.fromkeys(rows))
    df = local_frame(spark, rows, schema)
    if len(rows) >= STORE_CHECKPOINT_ROWS:
        return df.localCheckpoint(eager=True)
    return df


def triples_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Materialize triple rows as a DataFrame with graph set semantics:
    the rows (tuples of str/None) are deduplicated on the driver, so
    the frame is already a set and no query over it pays a distinct
    aggregate.  A :data:`STORE_CHECKPOINT_ROWS`-row or larger frame is
    checkpointed once; a smaller one stays a ``LocalRelation``."""
    return _store(spark, rows, TRIPLE_SCHEMA)


def quads_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Materialize (triple + graph IRI) rows as a named-graph store, a
    set like :func:`triples_df`."""
    return _store(spark, rows, QUAD_SCHEMA)


# ---------------------------------------------------------------------------
# persistent triple store (physical layout — SURVEY.md §4.3)
# ---------------------------------------------------------------------------


def write_triple_store(triples: DataFrame, path: str,
                       partition_by_predicate: bool = True) -> None:
    """Persist a triple DataFrame as the engine's canonical store layout.

    ``partitionBy("p")`` is S2RDF-style vertical partitioning: the
    property-census workloads (and most BGPs) filter on a constant
    predicate, so each triple pattern prunes to one partition directory —
    at 100 TB a ``?s :p ?o`` pattern reads only :p's files, not the graph.
    Within each partition, rows are sorted by subject so min/max row-group
    stats prune subject-constant lookups too.  Spark escapes IRI
    characters in partition directory names automatically.
    """
    df = triples.repartition("p").sortWithinPartitions("s")
    writer = df.write.mode("overwrite")
    if partition_by_predicate:
        writer = writer.partitionBy("p")
    writer.parquet(path)


def read_triple_store(spark: SparkSession, path: str) -> DataFrame:
    """Open a persisted triple store; constant-predicate filters become
    partition pruning (verify with .explain → PartitionFilters)."""
    df = spark.read.parquet(path)
    # partitionBy turns p into a partition column at the end; restore order
    return df.select("s_kind", "s", "p", "o_kind", "o", "o_dt", "o_lang")


# ---------------------------------------------------------------------------
# sinks (S4)
# ---------------------------------------------------------------------------


def _nt_escape(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")


def _term_nt(kind: str, lex: str, dt: str | None = None, lang: str | None = None) -> str:
    if kind == KIND_IRI:
        return f"<{lex}>"
    if kind == KIND_BNODE:
        return f"_:{lex}"
    out = f'"{_nt_escape(lex)}"'
    if lang:
        return f"{out}@{lang}"
    if dt and dt != XSD + "string":
        return f"{out}^^<{dt}>"
    return out


def ttl_string(triples: DataFrame, prefixes: dict[str, str] | None = None,
               limit: int = 100_000) -> str:
    """Serialize a bounded triple DataFrame to Turtle text (reference
    ``ttl()`` prints to stdout; we return the string).  Driver-side by
    design — use :func:`write_ntriples` for unbounded graphs."""
    rows = triples.limit(limit + 1).collect()
    if len(rows) > limit:
        raise SparkdonError(
            f"graph exceeds ttl() bound of {limit} triples; use write_ntriples")
    prefixes = dict(prefixes or {})
    by_ns = sorted(prefixes.items(), key=lambda kv: -len(kv[1]))

    def short(kind, lex, dt=None, lang=None):
        if kind == KIND_IRI:
            for pfx, ns in by_ns:
                if lex.startswith(ns):
                    local = lex[len(ns):]
                    if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9.-]*|", local):
                        return f"{pfx}:{local}"
            return f"<{lex}>"
        return _term_nt(kind, lex, dt, lang)

    lines = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    if lines:
        lines.append("")
    for r in sorted(rows, key=lambda r: (r["s_kind"], r["s"], r["p"], r["o"])):
        s = short(r["s_kind"], r["s"])
        p = short(KIND_IRI, r["p"])
        o = short(r["o_kind"], r["o"], r["o_dt"], r["o_lang"])
        lines.append(f"{s} {p} {o} .")
    return "\n".join(lines) + "\n"


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Distributed N-Triples writer: format each row JVM-side, write text."""
    triples.select(_nt_line_col().alias("value")).write.mode("overwrite").text(path)


def write_nquads(quads: DataFrame, path: str) -> None:
    """Distributed N-Quads writer: rows with a non-null ``g`` get the
    graph label; null-``g`` (default graph) rows serialize as plain
    triple lines, so the output round-trips through
    :func:`read_nquads`."""
    line = F.concat_ws(
        " ",
        _nt_line_col(terminator=False),
        F.when(F.col("g").isNotNull(),
               F.concat(F.lit("<"), F.col("g"), F.lit(">"))),
        F.lit("."),
    )
    quads.select(line.alias("value")).write.mode("overwrite").text(path)


def _nt_line_col(terminator: bool = True):
    """The N-Triples serialization of a triple row as a JVM-side Column."""

    def esc(col):
        c = F.regexp_replace(col, r"\\", r"\\\\")
        c = F.regexp_replace(c, "\"", "\\\\\"")
        c = F.regexp_replace(c, "\n", r"\\n")
        c = F.regexp_replace(c, "\t", r"\\t")
        return F.regexp_replace(c, "\r", r"\\r")

    def term(kind, lex, dt=None, lang=None):
        iri = F.concat(F.lit("<"), lex, F.lit(">"))
        bnode = F.concat(F.lit("_:"), lex)
        lit = F.concat(F.lit('"'), esc(lex), F.lit('"'))
        if dt is not None:
            lit = F.concat(
                lit,
                F.when(lang.isNotNull(), F.concat(F.lit("@"), lang))
                .when(dt.isNotNull(), F.concat(F.lit("^^<"), dt, F.lit(">")))
                .otherwise(F.lit("")),
            )
        return (
            F.when(kind == KIND_IRI, iri).when(kind == KIND_BNODE, bnode).otherwise(lit)
        )

    parts = [
        term(F.col("s_kind"), F.col("s")),
        F.concat(F.lit("<"), F.col("p"), F.lit(">")),
        term(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang")),
    ]
    if terminator:
        parts.append(F.lit("."))
    return F.concat_ws(" ", *parts)


def nt_string(triples: DataFrame, limit: int = 100_000) -> str:
    """Serialize a bounded triple DataFrame to N-Triples text (sorted for
    determinism).  Driver-side by design — the protocol server's graph
    result delivery; use :func:`write_ntriples` for unbounded graphs."""
    rows = triples.limit(limit + 1).collect()
    if len(rows) > limit:
        raise SparkdonError(
            f"graph exceeds serialization bound of {limit} triples; "
            "use write_ntriples")
    lines = [
        f"{_term_nt(r['s_kind'], r['s'])} <{r['p']}> "
        f"{_term_nt(r['o_kind'], r['o'], r['o_dt'], r['o_lang'])} ."
        for r in sorted(rows, key=lambda r: (r["s_kind"], r["s"], r["p"],
                                             r["o_kind"], r["o"],
                                             r["o_dt"] or "", r["o_lang"] or ""))
    ]
    return "\n".join(lines) + ("\n" if lines else "")
