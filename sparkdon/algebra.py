"""SPARQL text → algebra IR.

The reference delegates parsing to rdflib's ``parseQuery``
(gastrodon/__init__.py:905-911) and execution to rdflib's evaluator; we
parse the SPARQL 1.1 subset its corpus exercises (SURVEY.md §2) with a
hand-rolled recursive-descent parser — rdflib is not available in this
environment, and the subset is small and stable.

Supported surface (each cited to its exerciser in SURVEY.md §2):
SELECT [DISTINCT] with expressions/aliases, WHERE with BGPs, FILTER
(comparisons, && || !, IN, EXISTS/NOT EXISTS, function calls), OPTIONAL,
MINUS, UNION, BIND, VALUES, subqueries, property paths (``p1/p2``,
``^p``, ``p*``, ``p+``, ``p1|p2``), GROUP BY, ORDER BY ASC/DESC, LIMIT,
OFFSET, CONSTRUCT, ASK (trivial), DESCRIBE, SERVICE [SILENT] federation,
and updates INSERT/DELETE [DATA] ... WHERE, DELETE WHERE, and
CLEAR [SILENT] DEFAULT|ALL.

The IR is deliberately tiny (dataclasses below); the Spark compiler
(:mod:`sparkdon.compile`) walks it directly.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from sparkdon.errors import SparqlSyntaxError
from sparkdon.terms import RDF, XSD, IRI, BNode, Literal

# ---------------------------------------------------------------------------
# IR node types
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Var:
    name: str

    def __str__(self):
        return "?" + self.name


# term in a pattern position: Var | IRI | BNode | Literal | Path


@dataclass(frozen=True)
class Path:
    """Property-path expression in predicate position (SURVEY.md §2.8)."""

    op: str  # 'seq' | 'alt' | 'inv' | 'star' | 'plus' | 'opt' | 'link' | 'nps'
    parts: tuple  # links are (iri,), seq/alt are (p1, p2, ...), unary are (p,);
    # 'nps' (negated property set) is (forward_iris, inverse_iris)


@dataclass(frozen=True)
class TriplePattern:
    s: object
    p: object  # IRI | Var | Path
    o: object


@dataclass
class Filter:
    expr: "Expr"


@dataclass
class Bind:
    expr: "Expr"
    var: Var


@dataclass
class ValuesClause:
    variables: list
    rows: list  # list of tuples of (term or None for UNDEF)


@dataclass
class OptionalGroup:
    group: "GroupPattern"


@dataclass
class MinusGroup:
    group: "GroupPattern"


@dataclass
class UnionGroup:
    branches: list  # list[GroupPattern]


@dataclass
class SubSelect:
    query: "SelectQuery"


@dataclass
class ServiceGroup:
    """SPARQL 1.1 federation: ``SERVICE [SILENT] <endpoint> { ... }``.

    ``raw`` is the verbatim ``{ ... }`` source text — shipped to the
    remote endpoint unmodified (wrapped in ``SELECT * WHERE``), so the
    remote evaluates exactly what the author wrote.  ``group`` is the
    locally-parsed copy, used only for variable analysis (join planning,
    ``use_ids`` exclusion).  ``prefixes`` snapshots the prologue in scope
    at the SERVICE site so qnames inside ``raw`` resolve remotely."""

    endpoint: IRI
    group: "GroupPattern"
    raw: str
    prefixes: dict
    silent: bool = False


@dataclass
class GraphGroup:
    """SPARQL 1.1 ``GRAPH VarOrIri { ... }`` — evaluate the inner group
    against one named graph (IRI constant) or against every named graph
    with the variable bound to the graph name (§13.3)."""

    term: object  # Var | IRI
    group: "GroupPattern"


@dataclass
class GroupPattern:
    """A `{ ... }` group: ordered elements (patterns and operators)."""

    elements: list = field(default_factory=list)


# --- expressions -----------------------------------------------------------


@dataclass
class Expr:
    pass


@dataclass
class TermExpr(Expr):
    term: object  # Var | IRI | Literal


@dataclass
class OpExpr(Expr):
    op: str  # '||' '&&' '=' '!=' '<' '>' '<=' '>=' '+' '-' '*' '/' '!' 'neg'
    args: list


@dataclass
class InExpr(Expr):
    value: Expr
    options: list
    negated: bool = False


@dataclass
class FuncExpr(Expr):
    name: str  # upper-cased builtin name or datatype IRI for casts
    args: list
    distinct: bool = False


@dataclass
class ExistsExpr(Expr):
    group: GroupPattern
    negated: bool = False


@dataclass
class AggExpr(Expr):
    name: str  # COUNT SUM AVG MIN MAX SAMPLE GROUP_CONCAT
    arg: Expr | None  # None = COUNT(*)
    distinct: bool = False
    separator: str | None = None  # GROUP_CONCAT(...; SEPARATOR="...")


# --- queries ---------------------------------------------------------------


@dataclass
class SelectQuery:
    projections: list  # list[(Expr|Var, alias Var|None)]; [] = SELECT *
    where: GroupPattern = None
    distinct: bool = False
    group_by: list = field(default_factory=list)  # list[Expr]
    having: list = field(default_factory=list)
    order_by: list = field(default_factory=list)  # list[(Expr, 'asc'|'desc')]
    limit: int | None = None
    offset: int | None = None
    #: SPARQL 1.1 §13.2 dataset clause: ``(from_iris, from_named_iris)``
    #: tuples, or None when the query has no FROM/FROM NAMED (store
    #: dataset applies)
    dataset: tuple | None = None


@dataclass
class ConstructQuery:
    template: list  # list[TriplePattern]
    where: GroupPattern = None
    limit: int | None = None
    dataset: tuple | None = None


@dataclass
class AskQuery:
    where: GroupPattern = None
    dataset: tuple | None = None


@dataclass
class DescribeQuery:
    """``DESCRIBE <iri>|?var ... [WHERE { ... }]`` — resources is a list
    of IRI constants and Var references, or the string ``"*"`` for
    DESCRIBE * (every variable the WHERE clause binds)."""

    resources: list | str
    where: GroupPattern | None = None
    dataset: tuple | None = None


@dataclass
class UpdateRequest:
    delete_template: list | None
    insert_template: list | None
    where: GroupPattern | None
    #: "DEFAULT" | "NAMED" | "ALL" | "GRAPH" for CLEAR requests (GRAPH
    #: carries the target in ``clear_graph``); None for template updates
    clear: str | None = None
    clear_graph: IRI | None = None
    #: CLEAR SILENT …: suppress the absent-graph failure (§3.2.3)
    silent: bool = False
    #: ground quads from ``GRAPH <g> { ... }`` blocks inside INSERT DATA /
    #: DELETE DATA: list of (IRI, TriplePattern)
    insert_quads: list | None = None
    delete_quads: list | None = None
    #: ``WITH <g>`` (§3.1.3): the named graph the templates modify AND the
    #: WHERE clause's default graph (unless USING overrides the matching)
    with_graph: IRI | None = None
    #: ``USING`` / ``USING NAMED`` clauses: same shape as a query's
    #: FROM/FROM NAMED dataset — ``(using_iris, using_named_iris)``
    using: tuple | None = None
    #: graph management (§3.2.2/3.2.5-7): "DROP" | "CREATE" | "ADD" |
    #: "COPY" | "MOVE"; src/dst are IRIs or None for DEFAULT (DROP also
    #: reuses clear/clear_graph via the shared CLEAR target parse)
    manage: str | None = None
    mg_src: IRI | None = None
    mg_dst: IRI | None = None


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

#: SPARQL 1.1 grammar character classes (§19.8): PN_CHARS_BASE,
#: PN_CHARS_U and PN_CHARS, as regex class bodies
_PN_CHARS_BASE = ("A-Za-z\u00C0-\u00D6\u00D8-\u00F6\u00F8-\u02FF\u0370-\u037D"
                  "\u037F-\u1FFF\u200C-\u200D\u2070-\u218F\u2C00-\u2FEF"
                  "\u3001-\uD7FF\uF900-\uFDCF\uFDF0-\uFFFD\U00010000-\U000EFFFF")
_PN_CHARS_U = _PN_CHARS_BASE + "_"
_PN_CHARS = _PN_CHARS_U + "\\-0-9\u00B7\u0300-\u036F\u203F-\u2040"
#: PN_PREFIX, PN_LOCAL (PLX is a %HH escape or a backslash escape) and
#: VARNAME
_PN_PREFIX = f"[{_PN_CHARS_BASE}](?:[{_PN_CHARS}.]*[{_PN_CHARS}])?"
_PLX = r"%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%]"
_PN_LOCAL = (f"(?:[{_PN_CHARS_U}:0-9]|{_PLX})"
             f"(?:(?:[{_PN_CHARS}.:]|{_PLX})*(?:[{_PN_CHARS}:]|{_PLX}))?")
_VARNAME = f"[{_PN_CHARS_U}0-9][{_PN_CHARS_U}0-9\u00B7\u0300-\u036F\u203F-\u2040]*"

TOKEN_RE = re.compile(
    rf"""
      (?P<WS>\s+|\#[^\n]*)
    | (?P<IRIREF><[^<>\"{{}}|^`\\\s]*>)
    | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
    | (?P<LANGTAG>@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)
    | (?P<DTSEP>\^\^)
    | (?P<VAR>[?$]{_VARNAME})
    | (?P<NUM>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<BNODE>_:[{_PN_CHARS_U}0-9](?:[{_PN_CHARS}.]*[{_PN_CHARS}])?)
    | (?P<PNAME>(?:{_PN_PREFIX})?:(?:{_PN_LOCAL})?)
    | (?P<KEYWORD>[A-Za-z_][A-Za-z_0-9]*)
    | (?P<OP>\|\||&&|!=|<=|>=|\^|\*|\+|/|\||!|=|<|>|-|\?)
    | (?P<PUNCT>[{{}}().,;\[\]])
    """,
    re.VERBOSE,
)


@dataclass
class Token:
    kind: str
    text: str
    pos: int


def tokenize(text: str) -> list[Token]:
    out = []
    i = 0
    n = len(text)
    while i < n:
        m = TOKEN_RE.match(text, i)
        if not m:
            raise SparqlSyntaxError(text, i, f"unexpected character {text[i]!r}")
        kind = m.lastgroup
        if kind != "WS":
            out.append(Token(kind, m.group(), i))
        i = m.end()
    out.append(Token("EOF", "", n))
    return out


STRING_ESCAPES = {
    "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}


def unescape_string(raw: str) -> str:
    body = raw[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt == "u" and i + 5 < len(body):
                out.append(chr(int(body[i + 2 : i + 6], 16)))
                i += 6
                continue
            if nxt == "U" and i + 9 < len(body):
                out.append(chr(int(body[i + 2 : i + 10], 16)))
                i += 10
                continue
            out.append(STRING_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


BUILTIN_FUNCS = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "RAND", "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE",
    "LCASE", "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS", "STRBEFORE",
    "STRAFTER", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
    "TIMEZONE", "TZ", "NOW", "UUID", "STRUUID", "MD5", "SHA1", "SHA256",
    "SHA384", "SHA512",
    "COALESCE", "IF", "STRLANG", "STRDT", "SAMETERM", "ISIRI", "ISURI",
    "ISBLANK", "ISLITERAL", "ISNUMERIC", "REGEX", "SUBSTR", "REPLACE",
}

AGG_FUNCS = {"COUNT", "SUM", "AVG", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT"}


class Parser:
    """Recursive-descent SPARQL parser over the token stream."""

    def __init__(self, text: str, prefixes: dict[str, str] | None = None,
                 base: str | None = None):
        self.text = text
        self.tokens = tokenize(text)
        self.i = 0
        self.prefixes = dict(prefixes or {})
        self.base = base
        self._bnode_counter = 0

    # --- token helpers ---
    def peek(self, k: int = 0) -> Token:
        return self.tokens[min(self.i + k, len(self.tokens) - 1)]

    def next(self) -> Token:
        t = self.tokens[self.i]
        self.i += 1
        return t

    def at_keyword(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "KEYWORD" and t.text.upper() in words

    def expect_keyword(self, word: str) -> Token:
        t = self.next()
        if t.kind != "KEYWORD" or t.text.upper() != word:
            raise SparqlSyntaxError(self.text, t.pos, f"expected {word}, got {t.text!r}")
        return t

    def expect(self, text: str) -> Token:
        t = self.next()
        if t.text != text:
            raise SparqlSyntaxError(self.text, t.pos, f"expected {text!r}, got {t.text!r}")
        return t

    def accept(self, text: str) -> bool:
        if self.peek().text == text:
            self.i += 1
            return True
        return False

    def fresh_bnode(self) -> BNode:
        self._bnode_counter += 1
        return BNode(f"pb{self._bnode_counter}")

    # --- prologue ---
    def parse_prologue(self):
        while True:
            if self.at_keyword("PREFIX"):
                self.next()
                pn = self.next()
                if pn.kind != "PNAME" or not pn.text.endswith(":"):
                    raise SparqlSyntaxError(self.text, pn.pos, "expected prefix name")
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError(self.text, iri.pos, "expected IRI")
                self.prefixes[pn.text[:-1]] = iri.text[1:-1]
            elif self.at_keyword("BASE"):
                self.next()
                iri = self.next()
                if iri.kind != "IRIREF":
                    raise SparqlSyntaxError(self.text, iri.pos, "expected IRI")
                self.base = iri.text[1:-1]
            else:
                return

    # --- entry points ---
    def parse_query(self):
        self.parse_prologue()
        if self.at_keyword("SELECT"):
            q = self.parse_select()
        elif self.at_keyword("CONSTRUCT"):
            q = self.parse_construct()
        elif self.at_keyword("ASK"):
            self.next()
            ds = self.parse_dataset_clauses()
            if self.at_keyword("WHERE"):
                self.next()
            q = AskQuery(where=self.parse_group(), dataset=ds)
        elif self.at_keyword("DESCRIBE"):
            q = self.parse_describe()
        else:
            t = self.peek()
            raise SparqlSyntaxError(
                self.text, t.pos,
                f"expected SELECT/CONSTRUCT/ASK/DESCRIBE, got {t.text!r}")
        t = self.peek()
        if t.kind != "EOF":
            raise SparqlSyntaxError(self.text, t.pos, f"trailing input {t.text!r}")
        return q

    def parse_update(self) -> list[UpdateRequest]:
        """An update request: one or more operations separated by ``;``
        (SPARQL 1.1 Update §3 — operations apply in sequence)."""
        self.parse_prologue()
        ops = [self._parse_update_op()]
        while self.accept(";"):
            if self.peek().kind == "EOF":  # trailing ';' is legal
                break
            # each operation may carry its own prologue per the grammar
            self.parse_prologue()
            ops.append(self._parse_update_op())
        t = self.peek()
        if t.kind != "EOF":
            raise SparqlSyntaxError(self.text, t.pos, f"trailing input {t.text!r}")
        return ops

    def _reject_bnodes(self, triples, pos: int, where: str) -> None:
        """SPARQL 1.1 Update forbids blank nodes in delete positions
        (§3.1.2 DELETE DATA, §3.1.3 DELETE templates, §3.1.3.2
        DELETE WHERE) — a bnode can never match-by-name, so accepting
        one silently deletes nothing."""
        for tr in triples:
            if any(isinstance(x, BNode) for x in (tr.s, tr.p, tr.o)):
                raise SparqlSyntaxError(
                    self.text, pos,
                    f"blank nodes are not allowed in {where}")

    def _parse_graph_or_default(self):
        """GraphOrDefault (§19.8 rule 46): ``DEFAULT`` or ``[GRAPH] iri``;
        None encodes the default graph."""
        if self.at_keyword("DEFAULT"):
            self.next()
            return None
        if self.at_keyword("GRAPH"):
            self.next()
        return self.parse_iri()

    def parse_quad_data(self) -> tuple[list, list | None]:
        """QuadData (SPARQL 1.1 Update §19.8): ``{ triples (GRAPH <g> {
        triples })* triples … }`` — returns ``(default_graph_triples,
        [(graph_iri, triple), …] or None)``; everything ground."""
        self.expect("{")
        tpl: list = []
        quads: list = []
        while True:
            t = self.peek()
            if t.text == "}":
                self.next()
                break
            if self.at_keyword("GRAPH"):
                self.next()
                g = self.parse_iri()
                self.expect("{")
                inner = self.parse_triples_block(allow_vars=False)
                self.expect("}")
                quads.extend((g, tr) for tr in inner)
                self.accept(".")
                continue
            block = self.parse_triples_block(allow_vars=False,
                                             stop_at_keywords=True)
            if not block:
                raise SparqlSyntaxError(
                    self.text, t.pos, f"unexpected {t.text!r} in quad data")
            tpl.extend(block)
        return tpl, (quads or None)

    def _parse_update_op(self) -> UpdateRequest:
        delete_t = insert_t = None
        with_graph = None
        if self.at_keyword("WITH"):
            # §3.1.3 Modify: WITH names the graph the operation modifies
            # and matches against; only the template-update form takes it
            self.next()
            with_graph = self.parse_iri()
            if not (self.at_keyword("INSERT") or self.at_keyword("DELETE")):
                # grammar rule 41: WITH belongs to the Modify form only —
                # silently dropping it before CLEAR/DROP/LOAD/ADD/… would
                # run the operation unscoped
                t = self.peek()
                raise SparqlSyntaxError(
                    self.text, t.pos,
                    "WITH applies only to INSERT/DELETE template updates, "
                    f"not {t.text!r}")
        if self.at_keyword("CLEAR") or self.at_keyword("DROP"):
            # §3.2.2 DROP: on a store that does not record empty graphs
            # (ours — a named graph exists iff it has quads) DROP and
            # CLEAR coincide; both share the target grammar
            self.next()
            silent = False
            if self.at_keyword("SILENT"):
                self.next()
                silent = True
            for tgt in ("DEFAULT", "ALL", "NAMED"):
                if self.at_keyword(tgt):
                    self.next()
                    return UpdateRequest(None, None, None, clear=tgt,
                                         silent=silent)
            t = self.peek()
            if self.at_keyword("GRAPH"):
                self.next()
                return UpdateRequest(None, None, None, clear="GRAPH",
                                     clear_graph=self.parse_iri(),
                                     silent=silent)
            # SILENT (SPARQL 1.1 Update §3.2.3) suppresses failure on an
            # unrecognized target — consume nothing and no-op
            if silent:
                return UpdateRequest(None, None, None)
            raise SparqlSyntaxError(
                self.text, t.pos,
                "CLEAR supports DEFAULT, NAMED, ALL, or GRAPH <iri> "
                f"(got {t.text!r}; add SILENT for a no-op)")
        if self.at_keyword("LOAD"):
            # §3.1.4: LOAD [SILENT] <docIRI> [INTO GRAPH <g>]
            self.next()
            silent = False
            if self.at_keyword("SILENT"):
                self.next()
                silent = True
            doc = self.parse_iri()
            dst = None
            if self.at_keyword("INTO"):
                self.next()
                self.expect_keyword("GRAPH")
                dst = self.parse_iri()
            return UpdateRequest(None, None, None, manage="LOAD",
                                 mg_src=doc, mg_dst=dst, silent=silent)
        if self.at_keyword("CREATE"):
            # §3.2.1: we do not record empty graphs, so CREATE is the
            # spec-sanctioned no-op (SILENT accepted and irrelevant)
            self.next()
            if self.at_keyword("SILENT"):
                self.next()
            self.expect_keyword("GRAPH")
            self.parse_iri()
            return UpdateRequest(None, None, None)
        for op in ("ADD", "COPY", "MOVE"):
            if self.at_keyword(op):
                self.next()
                silent = False
                if self.at_keyword("SILENT"):
                    self.next()
                    silent = True
                src_g = self._parse_graph_or_default()
                self.expect_keyword("TO")
                dst_g = self._parse_graph_or_default()
                return UpdateRequest(None, None, None, manage=op,
                                     mg_src=src_g, mg_dst=dst_g,
                                     silent=silent)
        if self.at_keyword("INSERT"):
            self.next()
            if self.at_keyword("DATA"):
                self.next()
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        self.text, self.peek().pos,
                        "WITH applies to template updates, not INSERT DATA "
                        "(use GRAPH <g> { ... } blocks)")
                tpl, quads = self.parse_quad_data()
                return UpdateRequest(None, tpl, None, insert_quads=quads)
            self.expect("{")
            insert_t = self.parse_triples_block()
            self.expect("}")
        elif self.at_keyword("DELETE"):
            self.next()
            if self.at_keyword("DATA"):
                self.next()
                pos = self.peek().pos
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        self.text, pos,
                        "WITH applies to template updates, not DELETE DATA "
                        "(use GRAPH <g> { ... } blocks)")
                tpl, quads = self.parse_quad_data()
                # §3.1.2: blank nodes are not permitted in DELETE DATA
                # (they are fine in INSERT DATA, where they mint nodes)
                self._reject_bnodes(tpl + [q[1] for q in (quads or [])],
                                    pos, "DELETE DATA")
                return UpdateRequest(tpl, None, None, delete_quads=quads)
            if self.at_keyword("WHERE"):
                # DELETE WHERE { P }: the quad pattern is both the
                # delete template and the WHERE clause (SPARQL 1.1
                # Update §3.1.3.2) — parse the same braces twice, once
                # as a template, once as a group
                self.next()
                save = self.i
                self.expect("{")
                brace_pos = self.peek().pos
                tpl = self.parse_triples_block()
                self.expect("}")
                # SPARQL 1.1 Update §3.1.3.2: the QuadPattern of
                # DELETE WHERE must not contain blank nodes
                self._reject_bnodes(tpl, brace_pos, "DELETE WHERE")
                self.i = save
                where = self.parse_group()
                # grammar rule 40: DELETE WHERE takes no WITH
                if with_graph is not None:
                    raise SparqlSyntaxError(
                        self.text, brace_pos,
                        "WITH is not allowed on DELETE WHERE; use "
                        "WITH ... DELETE { P } WHERE { P }")
                return UpdateRequest(tpl, None, where)
            self.expect("{")
            pos = self.peek().pos
            delete_t = self.parse_triples_block()
            self.expect("}")
            # §3.1.3: the DELETE template must not contain blank nodes
            self._reject_bnodes(delete_t, pos, "a DELETE template")
            if self.at_keyword("INSERT"):
                self.next()
                self.expect("{")
                insert_t = self.parse_triples_block()
                self.expect("}")
        else:
            t = self.peek()
            raise SparqlSyntaxError(self.text, t.pos, f"expected INSERT/DELETE, got {t.text!r}")
        using_d: list = []
        using_n: list = []
        while self.at_keyword("USING"):
            # §3.1.5.2: USING/USING NAMED build the WHERE clause's
            # dataset exactly like FROM/FROM NAMED, overriding WITH for
            # the matching (the templates still target the WITH graph)
            self.next()
            if self.at_keyword("NAMED"):
                self.next()
                using_n.append(self.parse_iri())
            else:
                using_d.append(self.parse_iri())
        using = ((tuple(using_d), tuple(using_n))
                 if (using_d or using_n) else None)
        where = None
        if self.at_keyword("WHERE"):
            self.next()
            where = self.parse_group()
        return UpdateRequest(delete_t, insert_t, where,
                             with_graph=with_graph, using=using)

    # --- SELECT ---
    def parse_select(self) -> SelectQuery:
        self.expect_keyword("SELECT")
        q = SelectQuery(projections=[])
        if self.at_keyword("DISTINCT"):
            self.next()
            q.distinct = True
        elif self.at_keyword("REDUCED"):
            self.next()
        if self.accept("*"):
            pass
        else:
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    q.projections.append((Var(t.text[1:]), None))
                elif t.text == "(":
                    self.next()
                    e = self.parse_expr()
                    self.expect_keyword("AS")
                    v = self.next()
                    if v.kind != "VAR":
                        raise SparqlSyntaxError(self.text, v.pos, "expected variable after AS")
                    self.expect(")")
                    q.projections.append((e, Var(v.text[1:])))
                else:
                    break
            if not q.projections:
                raise SparqlSyntaxError(self.text, self.peek().pos, "empty SELECT list")
        q.dataset = self.parse_dataset_clauses()
        if self.at_keyword("WHERE"):
            self.next()
        q.where = self.parse_group()
        # solution modifiers
        if self.at_keyword("GROUP"):
            self.next()
            self.expect_keyword("BY")
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    q.group_by.append(TermExpr(Var(t.text[1:])))
                elif t.text == "(":
                    self.next()
                    e = self.parse_expr()
                    if self.at_keyword("AS"):
                        self.next()
                        v = self.next()
                        self.expect(")")
                        q.group_by.append((e, Var(v.text[1:])))
                    else:
                        self.expect(")")
                        q.group_by.append(e)
                elif t.kind in ("KEYWORD", "PNAME", "IRIREF") and (
                    t.text.upper() in BUILTIN_FUNCS or t.kind in ("PNAME", "IRIREF")
                ):
                    q.group_by.append(self.parse_primary_expr())
                else:
                    break
        if self.at_keyword("HAVING"):
            self.next()
            while self.peek().text == "(":
                q.having.append(self.parse_bracketted_expr())
        if self.at_keyword("ORDER"):
            self.next()
            self.expect_keyword("BY")
            while True:
                t = self.peek()
                if self.at_keyword("ASC", "DESC"):
                    direction = self.next().text.lower()
                    e = self.parse_bracketted_expr()
                    q.order_by.append((e, direction))
                elif t.kind == "VAR":
                    self.next()
                    q.order_by.append((TermExpr(Var(t.text[1:])), "asc"))
                elif t.text == "(":
                    q.order_by.append((self.parse_bracketted_expr(), "asc"))
                elif t.kind in ("KEYWORD",) and (
                        t.text.upper() in BUILTIN_FUNCS
                        # grammar: OrderCondition ::= … | Constraint,
                        # and Constraint's BuiltInCall includes
                        # ExistsFunc/NotExistsFunc (r16)
                        or t.text.upper() in ("EXISTS", "NOT")):
                    q.order_by.append((self.parse_primary_expr(), "asc"))
                else:
                    break
        # LIMIT/OFFSET in either order
        for _ in range(2):
            if self.at_keyword("LIMIT"):
                self.next()
                q.limit = int(self.next().text)
            elif self.at_keyword("OFFSET"):
                self.next()
                q.offset = int(self.next().text)
        return q

    def parse_dataset_clauses(self) -> tuple | None:
        """``FROM <g>`` / ``FROM NAMED <g>`` clauses (SPARQL 1.1 §13.2).

        Returns ``(from_iris, from_named_iris)`` as tuples of IRI, or
        None when absent.  Per the spec, the presence of ANY clause
        replaces the store's dataset: the default graph is the merge of
        the FROM graphs (empty if only FROM NAMED appears) and the named
        set is exactly the FROM NAMED list (empty if only FROM appears).
        """
        dflt: list = []
        named: list = []
        seen = False
        while self.at_keyword("FROM"):
            self.next()
            seen = True
            if self.at_keyword("NAMED"):
                self.next()
                named.append(self.parse_iri())
            else:
                dflt.append(self.parse_iri())
        return (tuple(dflt), tuple(named)) if seen else None

    def parse_construct(self) -> ConstructQuery:
        self.expect_keyword("CONSTRUCT")
        self.expect("{")
        template = self.parse_triples_block()
        self.expect("}")
        dataset = self.parse_dataset_clauses()
        self.expect_keyword("WHERE")
        where = self.parse_group()
        limit = None
        if self.at_keyword("LIMIT"):
            self.next()
            limit = int(self.next().text)
        return ConstructQuery(template=template, where=where, limit=limit,
                              dataset=dataset)

    def parse_describe(self) -> DescribeQuery:
        self.expect_keyword("DESCRIBE")
        resources: list | str
        if self.peek().text == "*":
            self.next()
            resources = "*"
        else:
            resources = []
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    resources.append(Var(t.text[1:]))
                elif t.kind in ("IRIREF", "PNAME"):
                    resources.append(self.parse_iri())
                else:
                    break
            if not resources:
                raise SparqlSyntaxError(
                    self.text, self.peek().pos,
                    "DESCRIBE needs at least one IRI or variable (or *)")
        dataset = self.parse_dataset_clauses()
        where = None
        if self.at_keyword("WHERE"):
            self.next()
            where = self.parse_group()
        elif self.peek().text == "{":
            where = self.parse_group()
        return DescribeQuery(resources=resources, where=where, dataset=dataset)

    def parse_bracketted_expr(self) -> Expr:
        if self.peek().text == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        return self.parse_primary_expr()

    # --- group graph pattern ---
    def parse_group(self) -> GroupPattern:
        self.expect("{")
        g = GroupPattern()
        # grammar: GroupGraphPattern ::= '{' (SubSelect | GroupGraphPatternSub) '}'
        # — a *bare* subselect directly behind the brace (common as a
        # SERVICE body) is legal, not just the nested '{ { SELECT ... } }'
        t0 = self.peek()
        if t0.kind == "KEYWORD" and t0.text.upper() == "SELECT":
            sub = self.parse_select()
            self.expect("}")
            g.elements.append(SubSelect(sub))
            return g
        while True:
            t = self.peek()
            if t.text == "}":
                self.next()
                return g
            if t.text == "{":
                # either a sub-group (possibly UNION chain) or a subselect
                if self.peek(1).kind == "KEYWORD" and self.peek(1).text.upper() == "SELECT":
                    self.next()
                    sub = self.parse_select()
                    self.expect("}")
                    g.elements.append(SubSelect(sub))
                else:
                    first = self.parse_group()
                    branches = [first]
                    while self.at_keyword("UNION"):
                        self.next()
                        branches.append(self.parse_group())
                    if len(branches) == 1:
                        g.elements.extend(first.elements)
                    else:
                        g.elements.append(UnionGroup(branches))
                self.accept(".")
            elif self.at_keyword("FILTER"):
                self.next()
                if self.at_keyword("EXISTS"):
                    self.next()
                    g.elements.append(Filter(ExistsExpr(self.parse_group())))
                elif self.at_keyword("NOT"):
                    self.next()
                    self.expect_keyword("EXISTS")
                    g.elements.append(Filter(ExistsExpr(self.parse_group(), negated=True)))
                else:
                    g.elements.append(Filter(self.parse_bracketted_expr()))
                self.accept(".")
            elif self.at_keyword("OPTIONAL"):
                self.next()
                g.elements.append(OptionalGroup(self.parse_group()))
                self.accept(".")
            elif self.at_keyword("GRAPH"):
                self.next()
                gt = self.peek()
                if gt.kind == "VAR":
                    self.next()
                    term = Var(gt.text[1:])
                else:
                    term = self.parse_iri()
                g.elements.append(GraphGroup(term, self.parse_group()))
                self.accept(".")
            elif self.at_keyword("MINUS"):
                self.next()
                g.elements.append(MinusGroup(self.parse_group()))
                self.accept(".")
            elif self.at_keyword("BIND"):
                self.next()
                self.expect("(")
                e = self.parse_expr()
                self.expect_keyword("AS")
                v = self.next()
                self.expect(")")
                g.elements.append(Bind(e, Var(v.text[1:])))
                self.accept(".")
            elif self.at_keyword("VALUES"):
                self.next()
                g.elements.append(self.parse_values())
                self.accept(".")
            elif self.at_keyword("SERVICE"):
                self.next()
                silent = False
                if self.at_keyword("SILENT"):
                    self.next()
                    silent = True
                ep = self.peek()
                if ep.kind == "VAR":
                    raise SparqlSyntaxError(
                        self.text, ep.pos,
                        "SERVICE with a variable endpoint is not supported")
                endpoint = self.parse_iri()
                open_tok = self.peek()
                inner = self.parse_group()
                close_tok = self.tokens[self.i - 1]
                raw = self.text[open_tok.pos:close_tok.pos + 1]
                g.elements.append(ServiceGroup(
                    endpoint, inner, raw, dict(self.prefixes), silent))
                self.accept(".")
            else:
                triples = self.parse_triples_block(stop_at_keywords=True)
                if not triples:
                    raise SparqlSyntaxError(self.text, t.pos, f"unexpected {t.text!r} in group")
                g.elements.extend(triples)

    def parse_values(self) -> ValuesClause:
        variables = []
        rows = []
        if self.peek().text == "(":
            self.next()
            while self.peek().kind == "VAR":
                variables.append(Var(self.next().text[1:]))
            self.expect(")")
            self.expect("{")
            while self.peek().text == "(":
                self.next()
                row = []
                while self.peek().text != ")":
                    row.append(self.parse_values_term())
                self.next()
                rows.append(tuple(row))
            self.expect("}")
        else:
            v = self.next()
            variables.append(Var(v.text[1:]))
            self.expect("{")
            while self.peek().text != "}":
                rows.append((self.parse_values_term(),))
            self.next()
        return ValuesClause(variables, rows)

    def parse_values_term(self):
        t = self.peek()
        if t.kind == "KEYWORD" and t.text.upper() == "UNDEF":
            self.next()
            return None
        return self.parse_term()

    # --- triples ---
    def parse_triples_block(self, allow_vars: bool = True,
                            stop_at_keywords: bool = False) -> list[TriplePattern]:
        out: list[TriplePattern] = []
        while True:
            t = self.peek()
            if t.text in ("}",) or t.kind == "EOF":
                return out
            if stop_at_keywords and t.kind == "KEYWORD" and t.text.upper() in (
                "FILTER", "OPTIONAL", "MINUS", "BIND", "VALUES", "UNION",
                "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "SERVICE",
                "GRAPH",
            ):
                return out
            if t.text == "{":
                return out
            subject = self.parse_term_or_bnode_props(out)
            self.parse_property_list(subject, out)
            if not self.accept("."):
                return out

    def parse_term_or_bnode_props(self, out: list) -> object:
        if self.peek().text == "[":
            self.next()
            node = self.fresh_bnode()
            if self.peek().text != "]":
                self.parse_property_list(node, out)
            self.expect("]")
            return node
        if self.peek().text == "(":
            return self.parse_collection(out)
        return self.parse_term()

    def parse_collection(self, out: list):
        """RDF collection ``( o1 o2 ... )`` desugared to the
        rdf:first/rdf:rest chain (Turtle §2.8 / SPARQL §4.2.4); ``()``
        is rdf:nil."""
        self.expect("(")
        items = []
        while self.peek().text != ")":
            if self.peek().kind == "EOF":
                raise SparqlSyntaxError(self.text, self.peek().pos,
                                        "unterminated collection")
            items.append(self.parse_object(out))
        self.next()  # ')'
        nil = IRI(RDF + "nil")
        if not items:
            return nil
        first, rest = IRI(RDF + "first"), IRI(RDF + "rest")
        nodes = [self.fresh_bnode() for _ in items]
        for i, (node, item) in enumerate(zip(nodes, items)):
            out.append(TriplePattern(node, first, item))
            out.append(TriplePattern(
                node, rest, nodes[i + 1] if i + 1 < len(nodes) else nil))
        return nodes[0]

    def parse_property_list(self, subject, out: list):
        while True:
            t = self.peek()
            if t.text in (".", "}", "]", ";") or t.kind == "EOF":
                if t.text == ";":
                    self.next()
                    continue
                return
            pred = self.parse_path()
            while True:
                obj = self.parse_object(out)
                out.append(TriplePattern(subject, pred, obj))
                if not self.accept(","):
                    break
            if self.accept(";"):
                continue
            return

    def parse_object(self, out: list):
        if self.peek().text == "[":
            self.next()
            node = self.fresh_bnode()
            if self.peek().text != "]":
                self.parse_property_list(node, out)
            self.expect("]")
            return node
        if self.peek().text == "(":
            return self.parse_collection(out)
        return self.parse_term()

    # --- property paths (predicate position) ---
    def parse_path(self):
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return Var(t.text[1:])
        if t.kind == "KEYWORD" and t.text == "a":
            self.next()
            base = Path("link", (IRI(RDF + "type"),))
        else:
            base = self.parse_path_alt()
        # a bare single link collapses to its IRI
        return self.simplify_path(base)

    @staticmethod
    def simplify_path(p):
        if isinstance(p, Path) and p.op == "link":
            return p.parts[0]
        return p

    def parse_path_alt(self) -> Path:
        left = self.parse_path_seq()
        while self.peek().text == "|":
            self.next()
            right = self.parse_path_seq()
            left = Path("alt", (left, right))
        return left

    def parse_path_seq(self) -> Path:
        left = self.parse_path_elt()
        while self.peek().text == "/":
            self.next()
            right = self.parse_path_elt()
            left = Path("seq", (left, right))
        return left

    def parse_path_elt(self) -> Path:
        inverse = False
        if self.peek().text == "^":
            self.next()
            inverse = True
        t = self.peek()
        if t.text == "!":
            # PathNegatedPropertySet: !iri, !a, !^iri, or !(i1|^i2|...)
            self.next()
            fwd: list = []
            inv: list = []

            def one_in_set():
                to_inv = False
                if self.peek().text == "^":
                    self.next()
                    to_inv = True
                tt = self.peek()
                if tt.kind == "KEYWORD" and tt.text == "a":
                    self.next()
                    iri = IRI(RDF + "type")
                elif tt.kind in ("IRIREF", "PNAME"):
                    iri = self.parse_iri()
                else:
                    raise SparqlSyntaxError(
                        self.text, tt.pos,
                        f"expected IRI in negated property set, got {tt.text!r}")
                (inv if to_inv else fwd).append(iri)

            if self.peek().text == "(":
                self.next()
                if self.peek().text != ")":
                    one_in_set()
                    while self.peek().text == "|":
                        self.next()
                        one_in_set()
                self.expect(")")
            else:
                one_in_set()
            p = Path("nps", (tuple(fwd), tuple(inv)))
        elif t.text == "(":
            self.next()
            p = self.parse_path_alt()
            self.expect(")")
        elif t.kind == "KEYWORD" and t.text == "a":
            self.next()
            p = Path("link", (IRI(RDF + "type"),))
        elif t.kind in ("IRIREF", "PNAME"):
            p = Path("link", (self.parse_iri(),))
        else:
            raise SparqlSyntaxError(self.text, t.pos, f"expected path element, got {t.text!r}")
        if inverse:
            p = Path("inv", (p,))
        mod = self.peek().text
        if mod in ("*", "+"):
            self.next()
            p = Path("star" if mod == "*" else "plus", (p,))
        elif mod == "?" and self.peek().kind == "OP":
            self.next()
            p = Path("opt", (p,))
        return p

    # --- terms ---
    def parse_iri(self) -> IRI:
        t = self.next()
        if t.kind == "IRIREF":
            iri = t.text[1:-1]
            if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
                # RFC 3986 resolution (SPARQL §4.1.1 / Turtle §6.3 both
                # defer to it; rdflib does the same) — NOT plain concat:
                # BASE <http://e/a/b> + <x> is http://e/a/x, and a
                # fragment-bearing base drops its fragment
                from urllib.parse import urljoin

                return IRI(urljoin(self.base, iri))
            return IRI(iri)
        if t.kind == "PNAME":
            pfx, _, local = t.text.partition(":")
            if pfx not in self.prefixes:
                raise SparqlSyntaxError(self.text, t.pos, f"unknown prefix {pfx!r}")
            # PN_LOCAL_ESC: a backslash-escaped character stands for itself
            return IRI(self.prefixes[pfx] + re.sub(r"\\(.)", r"\1", local))
        raise SparqlSyntaxError(self.text, t.pos, f"expected IRI, got {t.text!r}")

    def parse_term(self):
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return Var(t.text[1:])
        if t.kind in ("IRIREF", "PNAME"):
            return self.parse_iri()
        if t.kind == "BNODE":
            self.next()
            return BNode(t.text[2:])
        if t.kind == "STRING":
            self.next()
            lex = unescape_string(t.text)
            nxt = self.peek()
            if nxt.kind == "LANGTAG":
                self.next()
                return Literal(lex, lang=nxt.text[1:])
            if nxt.kind == "DTSEP":
                self.next()
                return Literal(lex, datatype=str(self.parse_iri()))
            return Literal(lex)
        if t.kind == "NUM":
            self.next()
            if re.fullmatch(r"[+-]?\d+", t.text):
                return Literal(t.text, datatype=XSD + "integer")
            if "e" in t.text.lower():
                return Literal(t.text, datatype=XSD + "double")
            return Literal(t.text, datatype=XSD + "decimal")
        if t.kind == "KEYWORD":
            up = t.text.upper()
            if up == "TRUE":
                self.next()
                return Literal("true", datatype=XSD + "boolean")
            if up == "FALSE":
                self.next()
                return Literal("false", datatype=XSD + "boolean")
            if t.text == "a":
                self.next()
                return IRI(RDF + "type")
        raise SparqlSyntaxError(self.text, t.pos, f"expected term, got {t.text!r}")

    # --- expressions ---
    def parse_expr(self) -> Expr:
        return self.parse_or()

    def parse_or(self) -> Expr:
        left = self.parse_and()
        while self.peek().text == "||":
            self.next()
            left = OpExpr("||", [left, self.parse_and()])
        return left

    def parse_and(self) -> Expr:
        left = self.parse_relational()
        while self.peek().text == "&&":
            self.next()
            left = OpExpr("&&", [left, self.parse_relational()])
        return left

    def parse_relational(self) -> Expr:
        left = self.parse_additive()
        t = self.peek()
        if t.text in ("=", "!=", "<", ">", "<=", ">="):
            self.next()
            return OpExpr(t.text, [left, self.parse_additive()])
        if t.kind == "KEYWORD" and t.text.upper() == "IN":
            self.next()
            return InExpr(left, self.parse_expr_list())
        if t.kind == "KEYWORD" and t.text.upper() == "NOT":
            self.next()
            self.expect_keyword("IN")
            return InExpr(left, self.parse_expr_list(), negated=True)
        return left

    def parse_expr_list(self) -> list:
        self.expect("(")
        out = []
        if self.peek().text != ")":
            out.append(self.parse_expr())
            while self.accept(","):
                out.append(self.parse_expr())
        self.expect(")")
        return out

    def parse_additive(self) -> Expr:
        left = self.parse_multiplicative()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            left = OpExpr(op, [left, self.parse_multiplicative()])
        return left

    def parse_multiplicative(self) -> Expr:
        left = self.parse_unary()
        while self.peek().text in ("*", "/"):
            op = self.next().text
            left = OpExpr(op, [left, self.parse_unary()])
        return left

    def parse_unary(self) -> Expr:
        t = self.peek()
        if t.text == "!":
            self.next()
            return OpExpr("!", [self.parse_unary()])
        if t.text == "-":
            self.next()
            return OpExpr("neg", [self.parse_unary()])
        if t.text == "+":
            self.next()
            return self.parse_unary()
        return self.parse_primary_expr()

    def parse_primary_expr(self) -> Expr:
        t = self.peek()
        if t.text == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        if t.kind == "VAR":
            self.next()
            return TermExpr(Var(t.text[1:]))
        if t.kind == "KEYWORD":
            up = t.text.upper()
            if up in AGG_FUNCS:
                self.next()
                self.expect("(")
                distinct = False
                if self.at_keyword("DISTINCT"):
                    self.next()
                    distinct = True
                if self.accept("*"):
                    arg = None
                else:
                    arg = self.parse_expr()
                separator = None
                if self.accept(";"):  # GROUP_CONCAT(?x; SEPARATOR=", ")
                    self.expect_keyword("SEPARATOR")
                    self.expect("=")
                    st = self.next()
                    if st.kind != "STRING":
                        raise SparqlSyntaxError(
                            self.text, st.pos, "SEPARATOR expects a string literal")
                    separator = unescape_string(st.text)
                self.expect(")")
                return AggExpr(up, arg, distinct, separator)
            if up in ("EXISTS", "NOT"):
                negated = False
                if up == "NOT":
                    self.next()
                    self.expect_keyword("EXISTS")
                    negated = True
                else:
                    self.next()
                return ExistsExpr(self.parse_group(), negated=negated)
            if up in BUILTIN_FUNCS:
                self.next()
                args = self.parse_expr_list()
                return FuncExpr(up, args)
            if up in ("TRUE", "FALSE"):
                return TermExpr(self.parse_term())
        if t.kind in ("IRIREF", "PNAME"):
            # datatype-cast function call like xsd:integer(?x), or a plain IRI
            iri = self.parse_iri()
            if self.peek().text == "(":
                args = self.parse_expr_list()
                return FuncExpr(str(iri), args)
            return TermExpr(iri)
        if t.kind in ("STRING", "NUM", "BNODE"):
            return TermExpr(self.parse_term())
        raise SparqlSyntaxError(self.text, t.pos, f"expected expression, got {t.text!r}")


def parse_query(text: str, prefixes: dict[str, str] | None = None, base: str | None = None):
    return Parser(text, prefixes, base).parse_query()


def parse_update(text: str, prefixes: dict[str, str] | None = None, base: str | None = None):
    return Parser(text, prefixes, base).parse_update()
