"""SPARQL text front-end: parse a SPARQL-subset string and compile it to
one Spark SQL statement over the quads DataFrame.

The reference's primary query entry point is SPARQL text over HTTP
(SparqlService.scala:38-74, 100-158 — RDF4J parses and evaluates; updates
route through Updater.scala). This module is the Spark analogue of that
front door for the §2.3 contract:

    SELECT [DISTINCT] ?v… | (AGG(?v) AS ?alias)…
    WHERE { triples · GRAPH ?g {…} · OPTIONAL {…} · {…} UNION {…} ·
            { SELECT … } nested subqueries · BIND(expr AS ?v) ·
            VALUES ?v {…} / VALUES (?a ?b) {(…)…} · MINUS {…} ·
            FILTER(expr) · FILTER [NOT] EXISTS {…} }
            with ';'/','/'a' sugar and property paths: sequences p1/p2
            (desugared to chained patterns), alternation p1|p2, inverse ^p,
            closures p* / p+ / p? (`*` is reflexive over the store's term
            universe, RDF4J ZeroLengthPath parity), grouped-sequence
            closures (p1/p2)*, and negated property sets !p / !(p1|^p2)
    GROUP BY ?v… · HAVING (…) · ORDER BY [ASC|DESC](?v | AGG(?v)) ·
    LIMIT n · OFFSET n
    ASK {…}
    CONSTRUCT { template } WHERE {…}       → quads DataFrame
    DESCRIBE <iri>… | DESCRIBE ?v… WHERE {…}
    INSERT DATA {…} · DELETE DATA {…} ·    → Diff for update/updater
    DELETE WHERE {…} ·
    [DELETE {tmpl}] [INSERT {tmpl}] WHERE {…}  (GRAPH blocks supported)

No rdflib in the runtime, so the parser is a small hand-written
recursive-descent over a regex token stream. The compiler turns a request
into the text of ONE Spark SQL statement, analysed by one ``spark.sql``
call; Catalyst plans the joins (the reference delegates the same job to
RDF4J's optimizer). The store (and any distributed closure result) is a
temp view for that call only, and every constant of the query text
travels as a named parameter, never as SQL text. Each solution variable
``v`` is a column, with hidden ``v__type/__datatype/__lang`` columns
carrying its term kind. Property-path closures are evaluated before the
text is built: an edge relation of at most ``LOCAL_CLOSURE_MAX_ROWS`` rows
is collected and closed on the driver, and the result (at most as many
rows) is inlined as a table; a larger one goes through the distributed
operators of operators/closure.py. The statement text is the EXPLAIN view of a request (``explain_sparql``).
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame

from ..operators.closure import (
    LOCAL_CLOSURE_MAX_ROWS,
    connected_components_star,
    reach_local,
    reachable_nodes,
    transitive_closure,
)
from ..rdf.model import QUAD_COLUMNS, local_relation

BUILTIN_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "schema": "http://schema.org/",
    "personal": "urn:personal:",
}

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>\s]*>)
  | (?P<VAR>\?\w+)
  | (?P<STRING>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
  | (?P<NUMBER>-?\d+(?:\.\d+)?)
  | (?P<PNAME>\w[\w.-]*:[\w.-]*)
  | (?P<KW>(?i:PREFIX|SELECT|ASK|CONSTRUCT|DESCRIBE|INSERT|DELETE|DATA|DISTINCT
       |WHERE|GRAPH|OPTIONAL|UNION|FILTER|GROUP_CONCAT|GROUP|ORDER|BY|ASC|DESC
       |LIMIT|OFFSET|HAVING|SEPARATOR
       |AS|IN|NOT|COUNT|SUM|MIN|MAX|AVG|SAMPLE|BIND|VALUES|MINUS|EXISTS|UNDEF)\b)
  | (?P<A>\ba\b)
  | (?P<IDENT>\w+)
  | (?P<OP>&&|\|\||!=|<=|>=|[{}().;,*/=<>!|+^?-])
    """,
    re.VERBOSE,
)


def _unescape(string_token: str) -> str:
    """The value of a quoted STRING token: quotes stripped, ``\\x`` → ``x``."""
    return re.sub(r"\\(.)", r"\1", string_token[1:-1])


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SyntaxError(f"SPARQL: cannot tokenize at {text[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        val = m.group()
        tokens.append(("KW", val.upper()) if kind in ("KW", "A") and kind != "A" else (kind, val))
        if kind == "A":
            tokens[-1] = ("A", "a")
    return tokens


# --- AST ----------------------------------------------------------------------

Term = tuple  # ("var", name) | ("iri", value) | ("lit", value) | ("num", float)


@dataclass
class Triple:
    s: Term
    p: Term  # plus ("path", ast) for star/plus/alternation property paths
    o: Term
    g: Term | None = None


@dataclass
class Optional_:
    group: "Group"


@dataclass
class Union_:
    left: "Group"
    right: "Group"


@dataclass
class Filter_:
    expr: tuple


@dataclass
class Bind_:
    expr: tuple  # value-expression AST
    var: str


@dataclass
class Values_:
    vars: list[str]
    rows: list[list]  # data terms / None for UNDEF, one list per row


@dataclass
class Minus_:
    group: "Group"


@dataclass
class Exists_:
    group: "Group"
    positive: bool  # FILTER EXISTS vs FILTER NOT EXISTS


@dataclass
class SubSelect:
    query: "SelectQuery"


@dataclass
class Group:
    elements: list = field(default_factory=list)


@dataclass
class SelectQuery:
    projections: list  # ("var", name) | ("agg", fn, distinct, arg, alias)
    group: Group
    distinct: bool = False
    group_by: list[str] = field(default_factory=list)
    # (spec, asc) — spec is a var name or an ("agg", fn, distinct, arg) tuple
    order_by: list[tuple] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
    ask: bool = False
    # (spec, op, value) — spec is ("agg", fn, distinct, arg) or ("var", name)
    having: list[tuple] = field(default_factory=list)


class _Parser:
    def __init__(self, text: str):
        self.toks = _tokenize(text)
        self.i = 0
        self.prefixes = dict(BUILTIN_PREFIXES)
        self.fresh = 0

    # -- token helpers
    def peek(self, k: int = 0):
        return self.toks[self.i + k] if self.i + k < len(self.toks) else ("EOF", "")

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def accept(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            self.i += 1
            return True
        return False

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise SyntaxError(f"SPARQL: expected {val or kind}, got {v!r}")
        return v

    # -- prologue & terms
    def parse_prologue(self) -> None:
        while self.accept("KW", "PREFIX"):
            pname = self.expect("PNAME")
            iri = self.expect("IRIREF")
            self.prefixes[pname[:-1]] = iri[1:-1]

    def expand(self, pname: str) -> str:
        pre, _, local = pname.partition(":")
        if pre not in self.prefixes:
            raise SyntaxError(f"SPARQL: unknown prefix {pre!r}")
        return self.prefixes[pre] + local

    def parse_term(self) -> Term:
        kind, val = self.next()
        if kind == "VAR":
            return ("var", val[1:])
        if kind == "IRIREF":
            return ("iri", val[1:-1])
        if kind == "PNAME":
            return ("iri", self.expand(val))
        if kind == "STRING":
            return ("lit", _unescape(val))
        if kind == "NUMBER":
            return ("num", float(val) if "." in val else int(val))
        if kind == "A":
            return ("iri", BUILTIN_PREFIXES["rdf"] + "type")
        if kind == "IDENT" and val.lower() in ("true", "false"):
            return ("lit", val.lower())
        raise SyntaxError(f"SPARQL: unexpected term {val!r}")

    def _fresh_var(self) -> Term:
        self.fresh += 1
        return ("var", f"__path{self.fresh}")

    # -- group graph pattern
    def parse_group(self) -> Group:
        self.expect("OP", "{")
        group = Group()
        while not self.accept("OP", "}"):
            if self.accept("KW", "OPTIONAL"):
                group.elements.append(Optional_(self.parse_group()))
            elif self.accept("KW", "MINUS"):
                group.elements.append(Minus_(self.parse_group()))
            elif self.accept("KW", "FILTER"):
                if self.accept("KW", "EXISTS"):
                    group.elements.append(Exists_(self.parse_group(), True))
                elif self.peek() == ("KW", "NOT") and self.peek(1) == ("KW", "EXISTS"):
                    self.next()
                    self.next()
                    group.elements.append(Exists_(self.parse_group(), False))
                elif (
                    self.peek()[0] == "IDENT"
                    and self.peek()[1].upper() in self._BUILTINS
                    and self.peek(1) == ("OP", "(")
                ):
                    # FILTER regex(?n, "x") — bare builtin-call constraint
                    group.elements.append(Filter_(self.parse_expr()))
                else:
                    self.expect("OP", "(")
                    if self.accept("KW", "EXISTS"):
                        inner = Exists_(self.parse_group(), True)
                        self.expect("OP", ")")
                        group.elements.append(inner)
                    elif self.peek() == ("KW", "NOT") and self.peek(1) == ("KW", "EXISTS"):
                        self.next()
                        self.next()
                        inner = Exists_(self.parse_group(), False)
                        self.expect("OP", ")")
                        group.elements.append(inner)
                    else:
                        group.elements.append(Filter_(self.parse_expr()))
                        self.expect("OP", ")")
            elif self.accept("KW", "BIND"):
                self.expect("OP", "(")
                expr = self.parse_value_expr()
                self.expect("KW", "AS")
                var = self.expect("VAR")[1:]
                self.expect("OP", ")")
                group.elements.append(Bind_(expr, var))
            elif self.accept("KW", "VALUES"):
                group.elements.append(self._parse_values())
            elif self.accept("KW", "GRAPH"):
                g = self.parse_term()
                inner = self.parse_group()
                for el in inner.elements:
                    if isinstance(el, Triple) and el.g is None:
                        el.g = g
                group.elements.extend(inner.elements)
            elif self.peek() == ("OP", "{") and self.peek(1) == ("KW", "SELECT"):
                # nested subquery (PrimaryFacetEnricher.scala:20-27 shape)
                self.next()
                group.elements.append(SubSelect(self.parse_select_body()))
                self.expect("OP", "}")
            elif self.peek() == ("OP", "{"):
                sub = self.parse_group()
                while self.accept("KW", "UNION"):
                    sub = Group([Union_(sub, self.parse_group())])
                group.elements.extend(sub.elements if isinstance(sub, Group) else [sub])
            else:
                group.elements.extend(self.parse_triples_block())
            self.accept("OP", ".")
        return group

    def _parse_values(self) -> Values_:
        """VALUES ?v { t… } | VALUES (?a ?b …) { (t…)… } with UNDEF."""

        def data_term():
            if self.accept("KW", "UNDEF"):
                return None
            term = self.parse_term()
            if term[0] == "var":
                raise SyntaxError("SPARQL: variables are not allowed in VALUES data")
            return term

        if self.peek()[0] == "VAR":
            var = self.next()[1][1:]
            self.expect("OP", "{")
            rows = []
            while not self.accept("OP", "}"):
                rows.append([data_term()])
            return Values_([var], rows)
        self.expect("OP", "(")
        vars_: list[str] = []
        while self.peek()[0] == "VAR":
            vars_.append(self.next()[1][1:])
        self.expect("OP", ")")
        self.expect("OP", "{")
        rows = []
        while not self.accept("OP", "}"):
            self.expect("OP", "(")
            row = []
            while not self.accept("OP", ")"):
                row.append(data_term())
            if len(row) != len(vars_):
                raise SyntaxError("SPARQL: VALUES row arity mismatch")
            rows.append(row)
        return Values_(vars_, rows)

    def parse_triples_block(self) -> list[Triple]:
        triples: list[Triple] = []
        subject = self.parse_term()
        while True:
            path = self.parse_path_expr()
            obj_terms = [self.parse_term()]
            while self.accept("OP", ","):
                obj_terms.append(self.parse_term())
            for obj in obj_terms:
                self._desugar_path(subject, path, obj, triples)
            if not self.accept("OP", ";"):
                break
            if self.peek() in (("OP", "."), ("OP", "}")):
                break
        return triples

    # -- property paths: alternation over sequences of (possibly closed,
    # possibly inverted) atoms
    def parse_path_expr(self):
        """path := seq ('|' seq)* — returns ("pred", term) | ("seq", [..]) |
        ("alt", [..]) | ("inv", sub) | ("star"|"plus"|"opt", sub)."""
        alts = [self._parse_path_seq()]
        while self.accept("OP", "|"):
            alts.append(self._parse_path_seq())
        return alts[0] if len(alts) == 1 else ("alt", alts)

    def _parse_path_seq(self):
        steps = [self._parse_path_atom()]
        while self.accept("OP", "/"):
            steps.append(self._parse_path_atom())
        return steps[0] if len(steps) == 1 else ("seq", steps)

    def _parse_path_atom(self):
        if self.accept("OP", "^"):
            return ("inv", self._parse_path_atom())
        if self.accept("OP", "!"):
            p = ("neg", self._parse_neg_set())
        elif self.accept("OP", "("):
            p = self.parse_path_expr()
            self.expect("OP", ")")
        else:
            p = ("pred", self.parse_term())
        if self.accept("OP", "*"):
            return ("star", p)
        if self.accept("OP", "+"):
            return ("plus", p)
        if self.accept("OP", "?"):
            return ("opt", p)
        return p

    def _parse_neg_set(self) -> list[tuple[str, bool]]:
        """'!' PathNegatedPropertySet (SPARQL 1.1 §9.1): a single, possibly
        ^-inverted IRI or a parenthesized '|' set of them → [(iri, inverted)]."""

        def one() -> tuple[str, bool]:
            inv = self.accept("OP", "^")
            t = self.parse_term()
            if t[0] != "iri":
                raise SyntaxError("SPARQL: negated property sets contain only IRIs")
            return (t[1], inv)

        if self.accept("OP", "("):
            atoms = [one()]
            while self.accept("OP", "|"):
                atoms.append(one())
            self.expect("OP", ")")
            return atoms
        return [one()]

    def _desugar_path(self, subject, path, obj, out: list[Triple]) -> None:
        """Sequences chain through fresh variables; an inverse swaps the
        endpoints; star/plus/opt/alt/neg survive as ("path", ast) predicates
        for the compiler's closure/union/edge-relation handling."""
        kind = path[0]
        if kind == "pred":
            out.append(Triple(subject, path[1], obj))
        elif kind == "inv":
            self._desugar_path(obj, path[1], subject, out)
        elif kind == "seq":
            cur = subject
            steps = path[1]
            for i, step in enumerate(steps):
                nxt = obj if i == len(steps) - 1 else self._fresh_var()
                self._desugar_path(cur, step, nxt, out)
                cur = nxt
        else:  # star / plus / opt / alt / neg
            out.append(Triple(subject, ("path", path), obj))

    # -- expressions (FILTER)
    def parse_expr(self):
        left = self.parse_and()
        while self.accept("OP", "||"):
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_cmp()
        while self.accept("OP", "&&"):
            left = ("and", left, self.parse_cmp())
        return left

    # SPARQL builtin functions accepted in FILTER / BIND expressions
    _BUILTINS = {
        "BOUND", "REGEX", "CONTAINS", "STRSTARTS", "STRENDS", "STR",
        "LANG", "DATATYPE", "LCASE", "UCASE", "STRLEN",
        "SUBSTR", "REPLACE", "STRBEFORE", "STRAFTER", "CONCAT",
        "ABS", "ROUND", "CEIL", "FLOOR", "IF", "COALESCE",
    }

    def parse_primary(self):
        """A term or a builtin-function call (args are primaries too)."""
        k, v = self.peek()
        if k == "IDENT" and v.upper() in self._BUILTINS and self.peek(1) == ("OP", "("):
            name = v.upper()
            self.next()
            self.expect("OP", "(")
            args: list = []

            def parse_arg():
                if name == "IF" and not args:
                    # IF's condition is a full boolean expression (IF(?x > 3, …))
                    return self.parse_expr()
                if name in ("ABS", "ROUND", "CEIL", "FLOOR"):
                    # numeric builtins accept arithmetic (FLOOR(?age / 2))
                    return self.parse_value_expr()
                return self.parse_primary()

            if self.peek() != ("OP", ")"):
                args.append(parse_arg())
                while self.accept("OP", ","):
                    args.append(parse_arg())
            self.expect("OP", ")")
            return ("builtin", name, args)
        return self.parse_term()

    def parse_cmp(self):
        if self.accept("OP", "("):
            inner = self.parse_expr()
            self.expect("OP", ")")
            return inner
        if self.accept("OP", "!"):
            return ("not", self.parse_cmp())
        left = self.parse_primary()
        if self.accept("KW", "NOT"):
            self.expect("KW", "IN")
            return ("not", ("in", left, self._parse_in_list()))
        if self.accept("KW", "IN"):
            return ("in", left, self._parse_in_list())
        k, v = self.peek()
        if k == "OP" and v in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return (v, left, self.parse_primary())
        if left[0] == "builtin":
            return ("truthy", left)  # boolean-valued builtin used standalone
        return ("bound", left)

    def _parse_in_list(self):
        self.expect("OP", "(")
        items = [self.parse_term()]
        while self.accept("OP", ","):
            items.append(self.parse_term())
        self.expect("OP", ")")
        return items

    # -- value expressions (BIND): terms, arithmetic, registered functions
    def parse_value_expr(self):
        left = self._parse_value_mul()
        while True:
            if self.accept("OP", "+"):
                left = ("+", left, self._parse_value_mul())
            elif self.accept("OP", "-"):
                left = ("-", left, self._parse_value_mul())
            elif self.peek()[0] == "NUMBER" and self.peek()[1].startswith("-"):
                # the tokenizer folds the sign into the literal: `?x -3`
                # arrives as VAR NUMBER(-3); treat as addition of a negative
                left = ("+", left, ("term", self.parse_term()))
            else:
                return left

    def _parse_value_mul(self):
        left = self._parse_value_atom()
        while True:
            if self.accept("OP", "*"):
                left = ("*", left, self._parse_value_atom())
            elif self.accept("OP", "/"):
                left = ("/", left, self._parse_value_atom())
            else:
                return left

    def _parse_value_atom(self):
        if self.accept("OP", "("):
            inner = self.parse_value_expr()
            self.expect("OP", ")")
            return inner
        k, v = self.peek()
        if k == "IDENT" and v.upper() in self._BUILTINS and self.peek(1) == ("OP", "("):
            return self.parse_primary()
        if self.peek()[0] in ("PNAME", "IRIREF") and self.peek(1) == ("OP", "("):
            fn_iri = self.parse_term()[1]
            self.expect("OP", "(")
            args = []
            if self.peek() != ("OP", ")"):
                args.append(self.parse_value_expr())
                while self.accept("OP", ","):
                    args.append(self.parse_value_expr())
            self.expect("OP", ")")
            return ("call", fn_iri, args)
        return ("term", self.parse_term())

    # -- CONSTRUCT / UPDATE
    def parse_construct(self) -> tuple[list[Triple], "SelectQuery"]:
        self.parse_prologue()
        self.expect("KW", "CONSTRUCT")
        if self.peek() == ("KW", "WHERE"):
            # SPARQL 1.1 `CONSTRUCT WHERE { … }` shorthand: the pattern is
            # the template (triple patterns only, per spec)
            self.next()
            group = self.parse_group()
            template = [el for el in group.elements if isinstance(el, Triple)]
            if len(template) != len(group.elements):
                raise SyntaxError(
                    "SPARQL: CONSTRUCT WHERE shorthand allows only triple patterns"
                )
            q = SelectQuery(projections=[("star", "*")], group=group)
        else:
            template = self._parse_template_block()
            self.accept("KW", "WHERE")
            q = SelectQuery(projections=[("star", "*")], group=self.parse_group())
        if self.accept("KW", "LIMIT"):
            q.limit = int(self.expect("NUMBER"))
        if self.peek()[0] != "EOF":
            raise SyntaxError(f"SPARQL: trailing tokens at {self.peek()[1]!r}")
        return template, q

    def _parse_template_block(self) -> list[Triple]:
        """{ triples with optional GRAPH scoping } — no OPTIONAL/UNION/FILTER."""
        self.expect("OP", "{")
        triples: list[Triple] = []
        while not self.accept("OP", "}"):
            if self.accept("KW", "GRAPH"):
                g = self.parse_term()
                inner = self._parse_template_block()
                for t in inner:
                    if t.g is None:
                        t.g = g
                triples.extend(inner)
            else:
                triples.extend(self.parse_triples_block())
            self.accept("OP", ".")
        return triples

    def parse_update(self) -> list[tuple[str, object]]:
        """INSERT DATA / DELETE DATA / DELETE WHERE / modify-form operations
        (';'-chained). Returns [(op, payload)]:
        ('insert_data'|'delete_data', [Triple]) with ground triples,
        ('delete_where', Group), or
        ('modify', (delete_template | None, insert_template | None, Group))
        for [DELETE {tmpl}] [INSERT {tmpl}] WHERE {pattern}."""
        self.parse_prologue()
        ops: list[tuple[str, object]] = []
        while self.peek()[0] != "EOF":
            if self.accept("KW", "INSERT"):
                if self.accept("KW", "DATA"):
                    ops.append(("insert_data", self._parse_template_block()))
                else:
                    ins = self._parse_template_block()
                    self.expect("KW", "WHERE")
                    ops.append(("modify", (None, ins, self.parse_group())))
            elif self.accept("KW", "DELETE"):
                if self.accept("KW", "DATA"):
                    ops.append(("delete_data", self._parse_template_block()))
                elif self.peek() == ("OP", "{"):
                    dele = self._parse_template_block()
                    ins = None
                    if self.accept("KW", "INSERT"):
                        ins = self._parse_template_block()
                    self.expect("KW", "WHERE")
                    ops.append(("modify", (dele, ins, self.parse_group())))
                else:
                    self.expect("KW", "WHERE")
                    ops.append(("delete_where", self.parse_group()))
            else:
                raise SyntaxError(f"SPARQL UPDATE: unexpected {self.peek()[1]!r}")
            self.accept("OP", ";")
        return ops

    def parse_describe(self) -> tuple[list[Term], Group | None]:
        """DESCRIBE <iri>… | DESCRIBE ?v… [WHERE {…}] — returns the resource
        terms and the optional WHERE group."""
        self.parse_prologue()
        self.expect("KW", "DESCRIBE")
        terms: list[Term] = []
        while True:
            k, v = self.peek()
            if k == "VAR":
                self.next()
                terms.append(("var", v[1:]))
            elif k in ("IRIREF", "PNAME"):
                terms.append(self.parse_term())
            else:
                break
        if not terms:
            raise SyntaxError("SPARQL: DESCRIBE needs at least one resource")
        group = None
        if self.accept("KW", "WHERE"):
            group = self.parse_group()
        if self.peek()[0] != "EOF":
            raise SyntaxError(f"SPARQL: trailing tokens at {self.peek()[1]!r}")
        return terms, group

    # -- query
    def parse_query(self) -> SelectQuery:
        self.parse_prologue()
        if self.accept("KW", "ASK"):
            return SelectQuery(projections=[], group=self.parse_group(), ask=True)
        q = self.parse_select_body()
        if self.peek()[0] != "EOF":
            raise SyntaxError(f"SPARQL: trailing tokens at {self.peek()[1]!r}")
        return q

    def _parse_order_agg(self):
        """COUNT/SUM/… ( [DISTINCT] ?v | * ) inside ORDER BY ASC()/DESC()."""
        fn = self.expect("KW")
        if fn not in ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE"):
            raise SyntaxError(f"SPARQL: unsupported aggregate {fn}")
        self.expect("OP", "(")
        distinct = self.accept("KW", "DISTINCT")
        arg = "*" if self.accept("OP", "*") else self.expect("VAR")[1:]
        self.expect("OP", ")")
        return ("agg", fn, distinct, arg)

    def parse_select_body(self) -> SelectQuery:
        """SELECT …  WHERE {…} [GROUP/ORDER/LIMIT/OFFSET] — shared by the
        top-level query and `{ SELECT … }` subqueries (which stop at '}')."""
        self.expect("KW", "SELECT")
        q = SelectQuery(projections=[], group=Group())
        q.distinct = self.accept("KW", "DISTINCT")
        while True:
            k, v = self.peek()
            if k == "VAR":
                self.next()
                q.projections.append(("var", v[1:]))
            elif (k, v) == ("OP", "("):
                self.next()
                nk, _ = self.peek()
                if nk in ("PNAME", "IRIREF"):
                    # registered scalar function call, e.g.
                    # (personal:durationInMillis(?start, ?end) AS ?ms) —
                    # the FunctionRegistry surface
                    # (RepositoryFactory.scala:248-251)
                    fn_iri = self.parse_term()[1]
                    self.expect("OP", "(")
                    args = [self.expect("VAR")[1:]]
                    while self.accept("OP", ","):
                        args.append(self.expect("VAR")[1:])
                    self.expect("OP", ")")
                    self.expect("KW", "AS")
                    alias = self.expect("VAR")[1:]
                    self.expect("OP", ")")
                    q.projections.append(("fn", fn_iri, args, alias))
                    continue
                fn = self.expect("KW")
                if fn not in ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT"):
                    raise SyntaxError(f"SPARQL: unsupported function {fn}")
                self.expect("OP", "(")
                distinct = self.accept("KW", "DISTINCT")
                arg = "*" if self.accept("OP", "*") else self.expect("VAR")[1:]
                if fn == "GROUP_CONCAT":
                    sep = " "  # spec default
                    if self.accept("OP", ";"):
                        self.expect("KW", "SEPARATOR")
                        self.expect("OP", "=")
                        # SEPARATOR="\"" is one quote char
                        sep = _unescape(self.expect("STRING"))
                    fn = ("GROUP_CONCAT", sep)
                self.expect("OP", ")")
                self.expect("KW", "AS")
                alias = self.expect("VAR")[1:]
                self.expect("OP", ")")
                q.projections.append(("agg", fn, distinct, arg, alias))
            elif (k, v) == ("OP", "*"):
                self.next()
                q.projections.append(("star", "*"))
            else:
                break
        self.accept("KW", "WHERE")
        q.group = self.parse_group()
        if self.accept("KW", "GROUP"):
            self.expect("KW", "BY")
            while self.peek()[0] == "VAR":
                q.group_by.append(self.next()[1][1:])
        if self.accept("KW", "HAVING"):
            # HAVING (COUNT(?x) > 2) (?g != "a") … — one parenthesized
            # constraint per group, aggregate or grouped-var comparisons
            while self.accept("OP", "("):
                if self.peek()[0] == "KW":
                    spec = self._parse_order_agg()
                else:
                    spec = ("var", self.expect("VAR")[1:])
                k, op = self.next()
                if k != "OP" or op not in ("=", "!=", "<", "<=", ">", ">="):
                    raise SyntaxError(f"SPARQL: unsupported HAVING operator {op!r}")
                vk, vv = self.next()
                if vk == "NUMBER":
                    val: float | str = float(vv)
                elif vk == "STRING":
                    val = _unescape(vv)
                else:
                    raise SyntaxError("SPARQL: HAVING compares against a literal")
                self.expect("OP", ")")
                q.having.append((spec, op, val))
        if self.accept("KW", "ORDER"):
            self.expect("KW", "BY")
            while True:
                k, v = self.peek()
                if (k, v) == ("KW", "ASC") or (k, v) == ("KW", "DESC"):
                    self.next()
                    self.expect("OP", "(")
                    if self.peek()[0] == "KW":
                        # ORDER BY DESC(COUNT(?p)) — aggregate sort key
                        # (PrimaryFacetEnricher.scala:20-27)
                        spec = self._parse_order_agg()
                    else:
                        spec = self.expect("VAR")[1:]
                    self.expect("OP", ")")
                    q.order_by.append((spec, v == "ASC"))
                elif k == "VAR":
                    self.next()
                    q.order_by.append((v[1:], True))
                elif k == "KW" and v in ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE"):
                    q.order_by.append((self._parse_order_agg(), True))
                else:
                    break
        if self.accept("KW", "LIMIT"):
            q.limit = int(self.expect("NUMBER"))
        if self.accept("KW", "OFFSET"):
            q.offset = int(self.expect("NUMBER"))
        return q


def query_form(text: str) -> str:
    """select|ask|construct|describe|update — the dispatch the reference
    does via RDF4J's parsed query class (SparqlService.scala:100-158)."""
    p = _Parser(text)
    p.parse_prologue()
    kind, val = p.peek()
    if kind == "KW":
        v = val.upper()
        if v in ("SELECT", "ASK", "CONSTRUCT", "DESCRIBE"):
            return v.lower()
        if v in ("INSERT", "DELETE"):
            return "update"
    raise SyntaxError(f"SPARQL: cannot dispatch query starting at {val!r}")


# --- compiler: AST → one Spark SQL statement ----------------------------------

_XSD = "http://www.w3.org/2001/XMLSchema#"
_POSITIONS = ("subject", "predicate", "object_value", "graph")
# suffixes of the hidden term-kind columns a solution variable ``v`` carries
# (``v__type``, ``v__datatype``, ``v__lang``); api.service drops them by suffix
HIDDEN_SUFFIXES = ("__type", "__datatype", "__lang")
_NULL = "CAST(NULL AS STRING)"
_UNIT = "TRUE AS __unit"  # the one column of a relation that binds no variable


def _sql_str(value: str) -> str:
    """A compiler-made constant (XSD IRIs, kind names) as a SQL literal.
    Query-text constants never go through here: they are parameters."""
    assert re.fullmatch(r"[\w:/#.-]*", value), value
    return f"'{value}'"


def _xsd_of_type(col: str) -> str:
    """The XSD datatype of a computed column, from its SQL type."""
    i, d, s = (_sql_str(_XSD + t) for t in ("integer", "double", "string"))
    return f"CASE typeof({col}) WHEN 'bigint' THEN {i} WHEN 'int' THEN {i} WHEN 'double' THEN {d} WHEN 'float' THEN {d} ELSE {s} END"


def _q(name: str) -> str:
    return f"`{name}`"


def _list(cols: list[str]) -> str:
    return ", ".join(cols) or _UNIT


def _lexical(term: Term) -> str:
    kind, val = term
    return str(val) if kind == "num" else val


def _term_kinds(term: Term) -> tuple:
    """(type, datatype, lang) of a constant term of the query text."""
    kind, val = term
    if kind == "iri":
        return ("iri", None, None)
    if kind == "num":
        return ("literal", _XSD + ("integer" if isinstance(val, int) else "double"), None)
    return ("literal", _XSD + "string", None)


def _kinds(alias: str, var: str) -> tuple[str, str, str]:
    return tuple(f"{alias}.{_q(var + s)}" for s in HIDDEN_SUFFIXES)


def _position_kinds(alias: str, pos: str) -> tuple[str, str, str]:
    """Term kind of a quad position: objects carry theirs, subjects are
    IRIs or blank nodes, predicates and graphs IRIs."""
    if pos == "object_value":
        return (f"{alias}.object_type", f"{alias}.object_datatype", f"{alias}.object_lang")
    if pos == "subject":
        return (f"CASE WHEN startswith({alias}.subject, '_:') THEN 'bnode' ELSE 'iri' END", _NULL, _NULL)
    return ("'iri'", _NULL, _NULL)


def _agree(a: tuple, b: tuple) -> str:
    """Kind check of one variable bound on both sides of a join. A NULL
    type means the kind is unknown (a UNION branch that does not bind the
    variable) and must not veto a match; otherwise the whole (type,
    datatype, lang) trio agrees null-safely. Kept in the ON clause, so for
    OPTIONAL a kind mismatch is a non-match, not a dropped row."""
    trio = " AND ".join(f"{x} <=> {y}" for x, y in zip(a, b))
    return f"({a[0]} IS NULL OR {b[0]} IS NULL OR ({trio}))"


def _kind_struct(kinds: tuple) -> str:
    t, d, lang = kinds
    return f"named_struct('t', {t}, 'd', {d}, 'l', {lang})"


def _kind_order(kinds: tuple) -> tuple:
    """Sort key of a (t, d, l) kind: NULL first, like Spark's struct order."""
    return tuple((x is not None, x or "") for x in kinds)


@dataclass
class _Rel:
    """A solution relation: the SQL text of a query whose columns are
    ``vars`` plus the hidden ``__type/__datatype/__lang`` columns of the
    variables in ``kinds`` (a variable outside ``kinds`` has no known term
    kind: an aggregate or a registered function's output)."""

    sql: str
    vars: list[str]
    kinds: set[str]


def _path_atoms(ast) -> list[tuple[str, bool]] | None:
    """Flatten a pred/inv/alt tree into (iri, inverted) atoms, or None when
    the tree contains grouped sequences, closures or negated sets."""
    kind = ast[0]
    if kind == "pred":
        if ast[1][0] != "iri":
            raise SyntaxError("SPARQL: property-path predicates must be IRIs")
        return [(ast[1][1], False)]
    if kind == "inv":
        sub = _path_atoms(ast[1])
        return None if sub is None else [(iri, not inv) for iri, inv in sub]
    if kind == "alt":
        out = []
        for sub in ast[1]:
            flat = _path_atoms(sub)
            if flat is None:
                return None
            out.extend(flat)
        return out
    return None


class _Compiler:
    """Builds the SQL text of one request. Constants become named
    parameters (``:c0``…, one per distinct value); input DataFrames (the
    store, distributed closure results) are named ``{store}``, ``{input1}``…
    in the text and held until the last statement is analysed.
    ``statements`` records every statement analysed, with its parameters,
    for EXPLAIN."""

    def __init__(self, quads: DataFrame, bindings: dict[str, str] | None = None):
        self.spark = quads.sparkSession
        self.inputs: dict[str, DataFrame] = {"store": quads}
        self.store = "{store}"
        self.bindings = bindings or {}
        self.args: dict[str, object] = {}
        self._names: dict[tuple, str] = {}
        self.statements: list[str] = []

    def const(self, value) -> str:
        key = (type(value), value)
        if key not in self._names:
            self._names[key] = f"c{len(self._names)}"
            self.args[self._names[key]] = value
        return ":" + self._names[key]

    def input(self, df: DataFrame) -> str:
        """Name ``df`` as an input of this request's statements; the
        compiler keeps it alive until the last of them is analysed."""
        name = f"input{len(self.inputs)}"
        self.inputs[name] = df
        return "{" + name + "}"

    def run(self, text: str) -> DataFrame:
        """Analyse one statement with one ``spark.sql`` call. The inputs it
        names are temp views for that call only (the analysed plan keeps
        them); the text holds no braces but those names, since constants
        are parameters."""
        used = set(re.findall(r":(c\d+)", text))
        args = {k: v for k, v in self.args.items() if k in used}
        self.statements.append(
            text + "".join(f"\n-- :{k} = {json.dumps(v, ensure_ascii=False)}" for k, v in args.items())
        )
        views = {k: f"sparql_{uuid.uuid4().hex}" for k in self.inputs if "{" + k + "}" in text}
        for k, name in views.items():
            self.inputs[k].createOrReplaceTempView(name)
        try:
            return self.spark.sql(text.format(**views), args=args or None)
        finally:
            # the session catalog's own drop: Catalog.dropTempView (and so
            # spark.sql's DataFrame arguments) also uncaches every cached
            # plan equal to the view's, such as a pinned store
            catalog = self.spark._jsparkSession.sessionState().catalog()
            for name in views.values():
                catalog.dropTempView(name)

    def compile_group(self, group: Group | None, finish: Callable[[_Rel | None], str] | None = None) -> DataFrame:
        """Compile ``group`` to one Spark SQL statement and analyse it:
        ``finish`` turns the group's solution relation into the request's
        statement (projection and modifiers, templates, a DESCRIBE scan).
        Closures are evaluated while the text is built, so this covers
        text generation, closure work and the ``spark.sql`` analysis."""
        rel = None if group is None else self._group(group)
        return self.run(finish(rel) if finish else rel.sql)

    def _table(self, cols: list[str], rows: list) -> str:
        """Driver-side rows as an inline table: ONE JSON parameter, so the
        text stays short whatever the row count."""
        schema = ",".join(f"{_q(c)}:string" for c in cols)
        data = self.const(json.dumps([dict(zip(cols, r)) for r in rows]))
        return f"SELECT inline(from_json({data}, 'array<struct<{schema}>>'))"

    # -- group graph patterns

    def _group(self, group: Group) -> _Rel:
        """Sequential (left-to-right) group evaluation. FILTERs — including
        FILTER [NOT] EXISTS — apply to the WHOLE group's solutions per SPARQL
        filter scoping, regardless of where they appear in the text; VALUES
        written before any pattern is deferred to the first merge so UNDEF
        keeps its wildcard-join semantics. MINUS is positional (SPARQL
        algebra folds it left-to-right; a leading MINUS subtracts from the
        unit table, which removes nothing). Adjacent triple patterns form
        one BGP."""
        result: _Rel | None = None
        filters: list[tuple] = []
        exists: list[Exists_] = []
        pending: list[_Rel] = []
        plain: list[Triple] = []

        def merge(rel: _Rel) -> None:
            nonlocal result
            result = rel if result is None else self._join(result, rel)
            while pending:
                result = self._join(result, pending.pop(0), undef=True)

        def flush_plain() -> None:
            if plain:
                merge(self._bgp(plain))
                plain.clear()

        for el in group.elements:
            if isinstance(el, Triple) and not (isinstance(el.p, tuple) and el.p[0] == "path"):
                plain.append(el)
                continue
            if isinstance(el, Filter_):
                filters.append(el.expr)
                continue
            if isinstance(el, Exists_):
                exists.append(el)
                continue
            flush_plain()
            if isinstance(el, Triple):
                merge(self._path_rel(el))
            elif isinstance(el, Union_):
                merge(self._union(self._group(el.left), self._group(el.right)))
            elif isinstance(el, SubSelect):
                merge(self._select(el.query))
            elif isinstance(el, Values_):
                values = self._values(el)
                if result is None:
                    pending.append(values)
                else:
                    result = self._join(result, values, undef=True)
            elif isinstance(el, Optional_):
                if result is None:
                    raise SyntaxError("SPARQL: OPTIONAL needs preceding patterns")
                result = self._join(result, self._group(el.group), how="LEFT")
            elif isinstance(el, Minus_):
                if result is not None:
                    result = self._minus(result, self._group(el.group))
            elif isinstance(el, Bind_):
                if result is None:
                    raise SyntaxError("SPARQL: BIND needs preceding patterns")
                result = self._bind(result, el)
        flush_plain()

        if result is None and pending:
            result = pending.pop(0)
            while pending:
                result = self._join(result, pending.pop(0), undef=True)
        if result is None:
            raise SyntaxError("SPARQL: empty group pattern")
        for ex in exists:
            result = self._exists(result, self._group(ex.group), ex.positive)
        if filters:
            where = " AND ".join(self._expr(e, result) for e in filters)
            result = _Rel(f"SELECT * FROM ({result.sql}) f WHERE {where}", result.vars, result.kinds)
        return result

    def _bgp(self, triples: list[Triple]) -> _Rel:
        """Adjacent triple patterns as ONE flat join over the store:
        each pattern is an alias, constants filter its columns, and a
        variable bound again must equal its first binding (and agree on
        its term kind when either side is an object position)."""
        first: dict[str, tuple[str, str]] = {}  # variable -> (alias, position)
        joins: list[tuple[str, list[str]]] = []
        for i, t in enumerate(triples):
            a, conds = f"q{i}", []
            for pos, term in zip(_POSITIONS, (t.s, t.p, t.o, t.g)):
                if term is None:
                    continue
                if term[0] != "var":
                    conds.append(f"{a}.{pos} = {self.const(_lexical(term))}")
                elif term[1] in first:
                    fa, fpos = first[term[1]]
                    conds.append(f"{a}.{pos} = {fa}.{fpos}")
                    if "object_value" in (pos, fpos):
                        conds.append(_agree(_position_kinds(a, pos), _position_kinds(fa, fpos)))
                else:
                    first[term[1]] = (a, pos)
            joins.append((f"{self.store} {a}", conds))
        cols = []
        for v, (a, pos) in first.items():
            cols.append(f"{a}.{pos} AS {_q(v)}")
            cols += [f"{k} AS {_q(v + s)}" for k, s in zip(_position_kinds(a, pos), HIDDEN_SUFFIXES)]
        sql = f"SELECT {_list(cols)} FROM {joins[0][0]}"
        sql += "".join(f" JOIN {t} ON {' AND '.join(c) or 'TRUE'}" for t, c in joins[1:])
        if joins[0][1]:
            sql += " WHERE " + " AND ".join(joins[0][1])
        return _Rel(sql, list(first), set(first))

    def _join(self, left: _Rel, right: _Rel, how: str = "INNER", undef: bool = False) -> _Rel:
        """Join two solution relations on their shared variables. Hidden
        kind columns are never join keys (``__datatype``/``__lang`` are NULL
        for IRIs and NULL = NULL is not true); they are checked by
        ``_agree`` in the ON clause and merged with COALESCE. ``undef``: the
        right side is VALUES data, where an UNDEF (NULL) cell is a wildcard
        for that row's variable, not an equality constraint."""
        shared = [v for v in left.vars if v in right.vars]
        cond = [
            f"(r.{_q(v)} IS NULL OR l.{_q(v)} = r.{_q(v)})" if undef else f"l.{_q(v)} = r.{_q(v)}"
            for v in shared
        ]
        cond += [_agree(_kinds("l", v), _kinds("r", v)) for v in shared if v in left.kinds and v in right.kinds]
        names = left.vars + [v for v in right.vars if v not in shared]
        cols = [f"{'l' if v in left.vars else 'r'}.{_q(v)}" for v in names]
        for v in names:
            for s, lk, rk in zip(HIDDEN_SUFFIXES, _kinds("l", v), _kinds("r", v)):
                if v in left.kinds and v in right.kinds:
                    cols.append(f"COALESCE({lk}, {rk}) AS {_q(v + s)}")
                elif v in left.kinds or v in right.kinds:
                    cols.append(lk if v in left.kinds else rk)
        sql = (
            f"SELECT {_list(cols)} FROM ({left.sql}) l {how} JOIN ({right.sql}) r "
            f"ON {' AND '.join(cond) or 'TRUE'}"
        )
        return _Rel(sql, names, left.kinds | right.kinds)

    def _union(self, a: _Rel, b: _Rel) -> _Rel:
        """UNION ALL, aligning columns by name and null-filling the
        variables (and kinds) a branch does not bind."""
        names = a.vars + [v for v in b.vars if v not in a.vars]
        kinds = [v for v in names if v in a.kinds | b.kinds]

        def side(rel: _Rel) -> str:
            cols = [_q(v) if v in rel.vars else f"NULL AS {_q(v)}" for v in names]
            for v in kinds:
                cols += [_q(v + s) if v in rel.kinds else f"NULL AS {_q(v + s)}" for s in HIDDEN_SUFFIXES]
            return f"SELECT {_list(cols)} FROM ({rel.sql}) u"

        return _Rel(f"{side(a)} UNION ALL {side(b)}", names, set(kinds))

    def _values(self, el: Values_) -> _Rel:
        """Inline VALUES data; each cell carries its term's kind (UNDEF:
        every column NULL)."""
        cols = [v + s for v in el.vars for s in ("",) + HIDDEN_SUFFIXES]
        rows = [
            [x for t in row for x in ((None,) * 4 if t is None else (_lexical(t), *_term_kinds(t)))]
            for row in el.rows
        ]
        return _Rel(self._table(cols, rows), list(el.vars), set(el.vars))

    def _minus(self, left: _Rel, minus: _Rel) -> _Rel:
        """SPARQL MINUS with per-solution compatibility semantics: remove a
        left solution when some MINUS solution agrees on every variable
        bound in BOTH and the two share at least one bound variable
        (SPARQL 1.1 §8.3 / RDF4J parity). With one shared variable that is
        a plain equi anti-join; with more, a theta anti-join (an unbound
        shared variable is compatible with anything)."""
        shared = [v for v in left.vars if v in minus.vars]
        if not shared:
            return left  # disjoint domains: MINUS removes nothing
        if len(shared) == 1:
            cond = f"l.{_q(shared[0])} = r.{_q(shared[0])}"
        else:
            compat = " AND ".join(
                f"(l.{_q(v)} IS NULL OR r.{_q(v)} IS NULL OR l.{_q(v)} = r.{_q(v)})" for v in shared
            )
            overlap = " OR ".join(f"(l.{_q(v)} IS NOT NULL AND r.{_q(v)} IS NOT NULL)" for v in shared)
            cond = f"{compat} AND ({overlap})"
        keys = ", ".join(map(_q, shared))
        sql = (
            f"SELECT l.* FROM ({left.sql}) l LEFT ANTI JOIN "
            f"(SELECT DISTINCT {keys} FROM ({minus.sql}) m) r ON {cond}"
        )
        return _Rel(sql, left.vars, left.kinds)

    def _exists(self, left: _Rel, sub: _Rel, positive: bool) -> _Rel:
        """FILTER [NOT] EXISTS: a semi (anti) join on the shared variables,
        or an uncorrelated EXISTS test when there are none."""
        shared = [v for v in left.vars if v in sub.vars]
        if not shared:
            neg = "" if positive else "NOT "
            sql = f"SELECT * FROM ({left.sql}) l WHERE {neg}EXISTS (SELECT 1 FROM ({sub.sql}) e)"
        else:
            cond = " AND ".join(f"l.{_q(v)} = r.{_q(v)}" for v in shared)
            keys = ", ".join(map(_q, shared))
            sql = (
                f"SELECT l.* FROM ({left.sql}) l {'LEFT SEMI' if positive else 'LEFT ANTI'} JOIN "
                f"(SELECT DISTINCT {keys} FROM ({sub.sql}) e) r ON {cond}"
            )
        return _Rel(sql, left.vars, left.kinds)

    def _bind(self, rel: _Rel, el: Bind_) -> _Rel:
        """BIND(expr AS ?v): a bare variable copies its term kind; any other
        expression is a literal typed from its SQL result type."""
        v = el.var
        if v in rel.vars:
            raise SyntaxError(f"SPARQL: BIND re-binds ?{v}")
        value = f"{self._value(el.expr, rel)} AS {_q(v)}"
        if el.expr[0] == "term" and el.expr[1][0] == "var":
            src = el.expr[1][1]
            if src not in rel.kinds:
                return _Rel(f"SELECT l.*, {value} FROM ({rel.sql}) l", rel.vars + [v], rel.kinds)
            copies = ", ".join(f"l.{_q(src + s)} AS {_q(v + s)}" for s in HIDDEN_SUFFIXES)
            return _Rel(f"SELECT l.*, {value}, {copies} FROM ({rel.sql}) l", rel.vars + [v], rel.kinds | {v})
        kinds = (
            f"'literal' AS {_q(v + '__type')}, {_xsd_of_type('b.' + _q(v))} AS "
            f"{_q(v + '__datatype')}, {_NULL} AS {_q(v + '__lang')}"
        )
        sql = f"SELECT b.*, {kinds} FROM (SELECT l.*, {value} FROM ({rel.sql}) l) b"
        return _Rel(sql, rel.vars + [v], rel.kinds | {v})

    # -- property paths (star / plus / opt / alternation / inverse / negation)
    # A path relation has columns (src, dst, sk, dk): the two endpoint
    # values and their term kinds as (t, d, l) structs, taken from the quad
    # positions the endpoints were read from.

    def _path_rel(self, t: Triple) -> _Rel:
        """star/plus/opt closures, alternation, and negated property sets.
        FLAT alternation is a union of single-predicate patterns. Everything
        else — closures, grouped sequences like ``(p1/p2)*``, negated sets —
        is a path relation — the single-source closure when an endpoint is
        bound, the general edge relation otherwise — whose variable
        endpoints keep the term kinds carried in it. No trailing DISTINCT: the closure forms
        (*/+/?) already emit distinct pairs, and every other form
        (seq/alt/inv/NPS) is multiset-valued per SPARQL 1.1."""
        ast = t.p[1]
        flat = _path_atoms(ast)
        if ast[0] == "alt" and flat is not None:
            return reduce(self._union, [
                self._bgp([Triple(t.o, ("iri", iri), t.s, t.g) if inv else Triple(t.s, ("iri", iri), t.o, t.g)])
                for iri, inv in flat
            ])
        scope = self.store
        if t.g is not None:
            if t.g[0] != "iri":
                raise SyntaxError("SPARQL: property-path closure inside GRAPH ?var is not supported")
            scope = f"(SELECT * FROM {self.store} WHERE graph = {self.const(t.g[1])})"
        conds, cols, names = [], [], []
        for term, end in ((t.s, "src"), (t.o, "dst")):
            if term[0] != "var":
                conds.append(f"e.{end} = {self.const(_lexical(term))}")
            elif term[1] in names:
                conds.append("e.src = e.dst")
            else:
                names.append(term[1])
                cols.append(f"e.{end} AS {_q(term[1])}")
                cols += [f"e.{end[0]}k.{k} AS {_q(term[1] + s)}" for k, s in zip("tdl", HIDDEN_SUFFIXES)]
        pairs = self._bound_closure_rel(scope, ast, t) or self._edges(scope, ast)
        sql = f"SELECT {_list(cols)} FROM ({pairs}) e"
        if conds:
            sql += " WHERE " + " AND ".join(conds)
        return _Rel(sql, names, set(names))

    def _bound_closure_rel(self, scope: str, ast, t: Triple) -> str | None:
        """Single-source form of a TOP-LEVEL ``p*``/``p+`` with a CONSTANT
        endpoint (the PrimaryFacetEnricher.scala:20-27 shape,
        ``?facet sameAs* <start>``): reachability from the bound node only,
        never the all-pairs closure filtered afterwards. The endpoint is a
        syntactic constant or a pre-bound variable (RDF4J setBinding
        parity). Returns None when the form does not apply."""
        if ast[0] not in ("star", "plus"):
            return None

        def resolve(term) -> Term | None:
            if term[0] != "var":
                return term
            return None if term[1] not in self.bindings else ("iri", self.bindings[term[1]])

        s, o = resolve(t.s), resolve(t.o)
        if s is None and o is None:
            return None
        return self._closure(scope, ast, start=s if s is not None else o, reverse=s is None)

    def _atoms(self, scope: str, atoms: list[tuple[str, bool]], negate: bool = False) -> str:
        """Edges of an atom set, inverted atoms flipped; with ``negate``,
        of every predicate OUTSIDE the set (SPARQL 1.1 §9.1: forward
        members exclude forward edges, ^-members reversed ones)."""
        op = "NOT IN" if negate else "IN"
        subject = ("subject", _kind_struct(_position_kinds("s", "subject")))
        obj = ("object_value", _kind_struct(_position_kinds("s", "object_value")))
        parts = []
        for inverted, ((a, ak), (b, bk)) in ((False, (subject, obj)), (True, (obj, subject))):
            iris = [iri for iri, inv in atoms if inv is inverted]
            if iris:
                preds = ", ".join(self.const(i) for i in iris)
                parts.append(
                    f"SELECT s.{a} AS src, s.{b} AS dst, {ak} AS sk, {bk} AS dk "
                    f"FROM {scope} s WHERE s.predicate {op} ({preds})"
                )
        return " UNION ALL ".join(parts)

    def _reflexive(self, scope: str) -> str:
        """Zero-length pairs of every term of the scope, subjects and
        objects of any kind (RDF4J ZeroLengthPath), with their kinds."""
        subject = _kind_struct(_position_kinds("s", "subject"))
        obj = _kind_struct(_position_kinds("s", "object_value"))
        return (
            f"SELECT s.subject AS src, s.subject AS dst, {subject} AS sk, {subject} AS dk FROM {scope} s "
            f"UNION SELECT s.object_value, s.object_value, {obj}, {obj} FROM {scope} s"
        )

    def _edges(self, scope: str, ast) -> str:
        """Path relation of an ARBITRARY path AST — grouped sequences
        compose by an equi-join on the midpoint, alternations union (a
        multiset: a pair reachable through two branches is two solutions),
        nested closures are evaluated by ``_closure``, and negated property
        sets scan with predicate NOT IN."""
        flat = _path_atoms(ast)
        if flat is not None:
            return self._atoms(scope, flat)
        kind = ast[0]
        if kind == "inv":
            return f"SELECT dst AS src, src AS dst, dk AS sk, sk AS dk FROM ({self._edges(scope, ast[1])}) e"
        if kind == "alt":
            return " UNION ALL ".join(f"SELECT src, dst, sk, dk FROM ({self._edges(scope, a)}) e" for a in ast[1])
        if kind == "seq":
            out = self._edges(scope, ast[1][0])
            for step in ast[1][1:]:
                out = (
                    f"SELECT a.src, b.dst, a.sk, b.dk FROM ({out}) a "
                    f"JOIN ({self._edges(scope, step)}) b ON a.dst = b.src"
                )
            return out
        if kind == "neg":
            return self._atoms(scope, ast[1], negate=True)
        if kind in ("star", "plus"):
            return self._closure(scope, ast)
        if kind == "opt":
            return f"SELECT src, dst, sk, dk FROM ({self._edges(scope, ast[1])}) e UNION {self._reflexive(scope)}"
        raise SyntaxError(f"SPARQL: unsupported property-path node {kind!r}")

    def _closure(self, scope: str, ast, start: Term | None = None, reverse: bool = False) -> str:
        """Path relation of ``p+`` / ``p*``, evaluated now. The edge
        relation is collected once, up to LOCAL_CLOSURE_MAX_ROWS + 1 rows;
        if it fits, the closure runs on the driver and its pairs are
        inlined. Above the cap — of edge rows, or of the rows the driver
        route would inline — it runs distributed and is read as a named
        input: ``reachable_nodes`` from a bound ``start`` (``reverse``: the
        bound node is the object), ``connected_components_star`` for a
        symmetric ``(p|^p)`` step set, ``transitive_closure`` otherwise.
        ``p*`` adds the zero-length pairs of the scope's terms (only
        ``start``'s, when bound)."""
        kind, inner = ast
        edges = self._edges(scope, inner)
        if reverse:
            edges = f"SELECT dst AS src, src AS dst, dk AS sk, sk AS dk FROM ({edges}) e"
        flat = _path_atoms(inner)
        fwd = {iri for iri, inv in flat or () if not inv}
        symmetric = start is None and bool(fwd) and fwd == {iri for iri, inv in flat if inv}
        node = None if start is None else _lexical(start)
        rows = self.run(f"SELECT * FROM ({edges}) e LIMIT {LOCAL_CLOSURE_MAX_ROWS + 1}").collect()
        closed = None
        if len(rows) <= LOCAL_CLOSURE_MAX_ROWS:
            closed = self._local_closure(rows, node, symmetric, kind == "star")
        local = closed is not None
        if local:
            pairs, seen = closed
        else:
            pairs, seen = self._distributed_closure(self.run(edges), edges, node, symmetric), False
        if kind == "star" and start is None:
            pairs = f"SELECT src, dst, sk, dk FROM ({pairs}) p UNION {self._reflexive(scope)}"
        elif kind == "star" and not seen:
            # the start's zero-length pair, if it is a term of the scope (a
            # distributed reach may hold it already: the UNION dedups)
            k = _kind_struct(tuple(_NULL if x is None else _sql_str(x) for x in _term_kinds(start)))
            c = self.const(node)
            pairs += (
                f" {'UNION ALL' if local else 'UNION'} SELECT {c}, {c}, {k}, {k} WHERE EXISTS "
                f"(SELECT 1 FROM {scope} s WHERE s.subject = {c} OR s.object_value = {c})"
            )
        if reverse:
            pairs = f"SELECT dst AS src, src AS dst, dk AS sk, sk AS dk FROM ({pairs}) p"
        return pairs

    def _local_closure(self, rows, start: str | None, symmetric: bool, star: bool) -> tuple[str, bool] | None:
        """The closure of collected edge rows, inlined. A node's kind is the
        least (t, d, l) it has among the edges. Returns the path relation
        and whether it already holds ``start``'s zero-length pair, or None
        when the all-pairs reachability of an unbound, non-symmetric
        closure exceeds LOCAL_CLOSURE_MAX_ROWS pairs (the other routes
        inline at most one row per node)."""
        adj: dict[str, set[str]] = {}
        kinds: dict[str, tuple] = {}
        for r in rows:
            if r.src is None or r.dst is None:
                continue
            adj.setdefault(r.src, set()).add(r.dst)
            for n, k in ((r.src, r.sk), (r.dst, r.dk)):
                k = (None,) * 3 if k is None else tuple(k)
                if n not in kinds or _kind_order(k) < _kind_order(kinds[n]):
                    kinds[n] = k
        cols = ["src", "dst", "st", "sd", "sl", "dt", "dd", "dl"]
        structs = "named_struct('t', st, 'd', sd, 'l', sl) AS sk, named_struct('t', dt, 'd', dd, 'l', dl) AS dk"
        if symmetric:
            # undirected connectivity: (node, component) rows and one
            # same-component join instead of the component² pair list
            comp: dict[str, str] = {}
            for n in sorted(adj):
                if n not in comp:
                    comp.update(dict.fromkeys(reach_local(adj, n), n))
            t = self._table(["node", "comp", "t", "d", "l"], [(n, c, *kinds[n]) for n, c in sorted(comp.items())])
            sql = (
                f"SELECT a.node AS src, b.node AS dst, named_struct('t', a.t, 'd', a.d, 'l', a.l) AS sk, "
                f"named_struct('t', b.t, 'd', b.d, 'l', b.l) AS dk FROM ({t}) a JOIN ({t}) b ON a.comp = b.comp"
            )
            return sql, False
        if start is not None:
            reached = reach_local(adj, start)
            if star and start in kinds:
                reached.add(start)  # a term of an edge is a term of the scope
            pairs = [(start, n) for n in sorted(reached)]
        else:
            pairs = []
            for s in sorted(adj):
                pairs += [(s, d) for d in sorted(reach_local(adj, s))]
                if len(pairs) > LOCAL_CLOSURE_MAX_ROWS:
                    return None
        t = self._table(cols, [(s, d, *kinds.get(s, (None,) * 3), *kinds[d]) for s, d in pairs])
        return f"SELECT src, dst, {structs} FROM ({t}) t", star and start in kinds

    def _distributed_closure(self, edges_df: DataFrame, edges: str, start: str | None, symmetric: bool) -> str:
        if start is not None:
            reach = self.input(reachable_nodes(edges_df, start, "src", "dst"))
            pairs = f"SELECT {self.const(start)} AS src, node AS dst FROM {reach}"
        elif symmetric:
            comp = self.input(connected_components_star(edges_df, "src", "dst"))
            pairs = f"SELECT a.node AS src, b.node AS dst FROM {comp} a JOIN {comp} b ON a.component = b.component"
        else:
            closed = self.input(transitive_closure(edges_df))
            pairs = f"SELECT DISTINCT e.src, c.dst FROM ({edges}) e JOIN {closed} c ON e.dst = c.src"
        kinds = self._term_kind_lookup(edges)
        return (
            f"SELECT p.src, p.dst, ks.k AS sk, kd.k AS dk FROM ({pairs}) p "
            f"LEFT JOIN ({kinds}) ks ON ks.node = p.src LEFT JOIN ({kinds}) kd ON kd.node = p.dst"
        )

    def _term_kind_lookup(self, edges: str) -> str:
        """One deterministic kind struct ``k`` per endpoint VALUE of an edge
        relation — the least (t, d, l) it has among the edges, as on the
        driver route; one row per value, so the left joins of a
        distributed closure never multiply its pairs."""
        return (
            f"SELECT node, min(k) AS k FROM (SELECT src AS node, sk AS k FROM ({edges}) e "
            f"UNION ALL SELECT dst, dk FROM ({edges}) e) u GROUP BY node"
        )

    # -- expressions (FILTER, BIND, HAVING)

    def _col(self, rel: _Rel, var: str) -> str:
        """A variable's column; a variable the relation never binds is
        unbound (NULL), not an error."""
        return _q(var) if var in rel.vars else "NULL"

    def _expr(self, expr: tuple, rel: _Rel) -> str:
        op = expr[0]
        if op in ("or", "and"):
            return f"({self._expr(expr[1], rel)} {op.upper()} {self._expr(expr[2], rel)})"
        if op == "not":
            return f"(NOT {self._expr(expr[1], rel)})"
        if op == "bound":
            return f"({self._operand(expr[1], rel)} IS NOT NULL)"
        if op == "truthy":
            return self._builtin(expr[1], rel)
        if op == "in":
            _, left, items = expr
            numeric = any(i[0] == "num" for i in items)
            listed = ", ".join(self.const(i[1]) for i in items)
            return f"({self._operand(left, rel, numeric)} IN ({listed}))"
        _, left, right = expr
        a = self._operand(left, rel, right[0] == "num")
        b = self._operand(right, rel, left[0] == "num")
        return f"({a} {op} {b})"

    def _operand(self, term, rel: _Rel, numeric: bool = False) -> str:
        """A comparison side: a variable compared with a number is read as
        a double (a non-numeric lexical form becomes NULL: a type error,
        which fails the filter)."""
        if term[0] == "builtin":
            return self._builtin(term, rel)
        kind, val = term
        if kind == "var":
            col = self._col(rel, val)
            return f"try_cast({col} AS DOUBLE)" if numeric else col
        return self.const(val)

    def _value(self, expr: tuple, rel: _Rel) -> str:
        kind = expr[0]
        if kind == "builtin":
            return self._builtin(expr, rel)
        if kind == "term":
            tkind, val = expr[1]
            return self._col(rel, val) if tkind == "var" else self.const(val)
        if kind == "call":
            builder = SPARQL_FUNCTIONS.get(expr[1])
            if builder is None:
                raise SyntaxError(f"SPARQL: unknown function <{expr[1]}>")
            return builder(*[self._value(a, rel) for a in expr[2]])
        a, b = (f"try_cast({self._value(x, rel)} AS DOUBLE)" for x in expr[1:])
        return f"try_divide({a}, {b})" if kind == "/" else f"({a} {kind} {b})"

    def _builtin(self, expr: tuple, rel: _Rel) -> str:
        """SPARQL builtin calls (the subset RDF4J users hit first). LANG /
        DATATYPE read the hidden kind columns; a variable without them
        gets the plain-literal defaults ("" / xsd:string)."""
        _, fn, args = expr

        def arg(i: int) -> str:
            a = args[i]
            if a[0] in ("term", "call", "+", "-", "*", "/"):
                return self._value(a, rel)  # value-expression argument
            return self._operand(a, rel)

        def num(i: int) -> str:
            return f"try_cast({arg(i)} AS DOUBLE)"

        def hidden(suffix: str, default: str) -> str:
            t = args[0]
            if t[0] == "var" and t[1] in rel.kinds:
                return f"COALESCE({_q(t[1] + suffix)}, {default})"
            return default

        if fn == "BOUND":
            return f"({arg(0)} IS NOT NULL)"
        if fn == "STR":
            return f"CAST({arg(0)} AS STRING)"  # columns hold the lexical form
        if fn == "REGEX":
            pattern = arg(1)
            if len(args) > 2 and args[2][0] == "lit" and "i" in args[2][1]:
                pattern = f"concat('(?i)', {pattern})"
            return f"regexp_like({arg(0)}, {pattern})"
        if fn in ("CONTAINS", "STRSTARTS", "STRENDS"):
            name = {"CONTAINS": "contains", "STRSTARTS": "startswith", "STRENDS": "endswith"}[fn]
            return f"{name}({arg(0)}, {arg(1)})"
        if fn == "LANG":
            return hidden("__lang", "''")
        if fn == "DATATYPE":
            return hidden("__datatype", _sql_str(_XSD + "string"))
        if fn in ("LCASE", "UCASE", "STRLEN"):
            name = {"LCASE": "lower", "UCASE": "upper", "STRLEN": "length"}[fn]
            return f"{name}({arg(0)})"
        if fn == "SUBSTR":
            # SPARQL is 1-indexed like SQL substring; length optional
            length = f"CAST({arg(2)} AS INT)" if len(args) > 2 else "2147483647"
            return f"substring({arg(0)}, CAST({arg(1)} AS INT), {length})"
        if fn == "REPLACE":
            return f"regexp_replace({arg(0)}, {arg(1)}, {arg(2)})"
        if fn in ("STRBEFORE", "STRAFTER"):
            # empty string when the needle is absent (SPARQL 17.4.3.17)
            s, n = arg(0), arg(1)
            pos = f"instr({s}, {n})"
            part = (
                f"substring({s}, 1, {pos} - 1)" if fn == "STRBEFORE"
                else f"substring({s}, {pos} + length({n}), 2147483647)"
            )
            return f"CASE WHEN {pos} > 0 THEN {part} ELSE '' END"
        if fn == "CONCAT":
            return "concat(" + ", ".join(f"CAST({arg(i)} AS STRING)" for i in range(len(args))) + ")"
        if fn == "ABS":
            return f"abs({num(0)})"
        if fn == "ROUND":
            # fn:round (XPath/SPARQL 17.4.4.6) rounds ties toward +inf:
            # round(-2.5) = -2. Computed on the exact fractional part —
            # floor(x + 0.5) would misround doubles one ulp below 0.5
            # (0.49999999999999994 + 0.5 rounds to 1.0 in IEEE double).
            x = num(0)
            return f"CAST(CASE WHEN {x} - floor({x}) >= 0.5 THEN ceil({x}) ELSE floor({x}) END AS DOUBLE)"
        if fn in ("CEIL", "FLOOR"):
            return f"CAST({fn.lower()}({num(0)}) AS DOUBLE)"
        if fn == "IF":
            return f"CASE WHEN {self._expr(args[0], rel)} THEN {arg(1)} ELSE {arg(2)} END"
        if fn == "COALESCE":
            return "coalesce(" + ", ".join(arg(i) for i in range(len(args))) + ")"
        raise SyntaxError(f"SPARQL: unsupported builtin {fn}")

    def _agg(self, fn, distinct: bool, arg: str, rel: _Rel) -> str:
        if isinstance(fn, tuple):  # ("GROUP_CONCAT", separator)
            # SPARQL leaves GROUP_CONCAT order undefined; sorting the
            # collected values makes the result deterministic
            coll = "collect_set" if distinct else "collect_list"
            return f"array_join(array_sort({coll}(CAST({self._col(rel, arg)} AS STRING))), {self.const(fn[1])})"
        if fn == "COUNT" and arg == "*":
            return "count(1)"
        col = self._col(rel, arg)
        d = "DISTINCT " if distinct else ""
        if fn == "COUNT":
            return f"count({d}{col})"
        if fn in ("SUM", "AVG"):
            x = f"try_cast({col} AS DOUBLE)"
            if fn == "AVG" and distinct:
                # no avg(DISTINCT) in every dialect; the identity is exact
                return f"try_divide(sum(DISTINCT {x}), count(DISTINCT {x}))"
            return f"{fn.lower()}({d}{x})"
        # MIN/MAX/SAMPLE: DISTINCT is a semantic no-op
        return {"MIN": "min", "MAX": "max", "SAMPLE": "first"}[fn] + f"({col})"

    # -- SELECT (top level and nested)

    def _bound(self, rel: _Rel) -> _Rel:
        """Pre-bound variables (RDF4J ``setBinding`` parity — the
        reference's enrichers parameterize prepared queries this way, e.g.
        PrimaryFacetEnricher.scala:103-108) as equality filters."""
        conds = [f"{_q(v)} = {self.const(val)}" for v, val in self.bindings.items() if v in rel.vars]
        if not conds:
            return rel
        return _Rel(f"SELECT * FROM ({rel.sql}) b WHERE {' AND '.join(conds)}", rel.vars, rel.kinds)

    def _select(self, q: SelectQuery, keep_term_types: bool = True, where: _Rel | None = None) -> _Rel:
        """A parsed SELECT (top level or nested) over its group's solutions
        (``where``, when already compiled). GROUP BY keys keep their hidden
        kind columns; ``keep_term_types`` projects the kind columns of the
        selected variables that have them."""
        rel = self._bound(where if where is not None else self._group(q.group))
        has_agg = any(p[0] == "agg" for p in q.projections)
        fns = [p for p in q.projections if p[0] == "fn"]
        if fns and (has_agg or q.group_by):
            # an fn alias is not a group key: a SyntaxError keeps it a 400
            raise SyntaxError("SPARQL: function-call projections cannot mix with GROUP BY or aggregates")
        if fns:
            cols = []
            for _, fn_iri, args, alias in fns:
                builder = SPARQL_FUNCTIONS.get(fn_iri)
                if builder is None:
                    raise SyntaxError(f"SPARQL: unknown function <{fn_iri}>")
                cols.append(f"{builder(*[self._col(rel, a) for a in args])} AS {_q(alias)}")
            rel = _Rel(f"SELECT l.*, {', '.join(cols)} FROM ({rel.sql}) l", rel.vars + [p[3] for p in fns], rel.kinds)
        if q.having and not (has_agg or q.group_by):
            raise SyntaxError("SPARQL: HAVING needs GROUP BY or aggregates")
        # ORDER BY aggregate sort keys become hidden __ord columns (the
        # reference's primary-facet query sorts by an unprojected COUNT)
        order_aggs = {i: spec for i, (spec, _) in enumerate(q.order_by) if not isinstance(spec, str)}
        if has_agg or q.group_by:
            keys = q.group_by or [p[1] for p in q.projections if p[0] == "var"]
            key_cols = [self._col(rel, k) for k in keys]
            key_cols += [_q(k + s) for k in keys if k in rel.kinds for s in HIDDEN_SUFFIXES]
            aggs = [f"{self._agg(p[1], p[2], p[3], rel)} AS {_q(p[4])}" for p in q.projections if p[0] == "agg"]
            aggs += [f"{self._agg(*spec[1:], rel)} AS __ord{i}" for i, spec in order_aggs.items()]
            aggs += [f"{self._agg(*spec[1:], rel)} AS __hav{j}" for j, (spec, _, _) in enumerate(q.having) if spec[0] == "agg"]
            keyed = [f"{c} AS {_q(k)}" for c, k in zip(key_cols, keys)] + key_cols[len(keys):]
            if aggs:
                sql = f"SELECT {_list(keyed + aggs)} FROM ({rel.sql}) g"
                if keys:
                    sql += " GROUP BY " + ", ".join(key_cols)
            else:
                sql = f"SELECT DISTINCT {_list(keyed)} FROM ({rel.sql}) g"
            names = [p[1] if p[0] == "var" else p[4] for p in q.projections]
            kinds = {n for n in names if n in keys and n in rel.kinds}
            grouped = _Rel(sql, keys + [p[4] for p in q.projections if p[0] == "agg"], kinds)
            having = [
                f"{'__hav' + str(j) if spec[0] == 'agg' else self._col(grouped, spec[1])} {op} {self.const(val)}"
                for j, (spec, op, val) in enumerate(q.having)
            ]
            if having:
                sql = f"SELECT * FROM ({sql}) h WHERE {' AND '.join(having)}"
            rel = _Rel(sql, grouped.vars, kinds)
        else:
            if order_aggs:
                raise SyntaxError("SPARQL: aggregate ORDER BY needs GROUP BY or aggregates")
            if any(p[0] == "star" for p in q.projections):
                names = list(rel.vars)
            else:
                names = [p[3] if p[0] == "fn" else p[1] for p in q.projections]
        kinds = {n for n in names if n in rel.kinds} if keep_term_types else set()
        hidden = [_q(n + s) for n in names if n in kinds for s in HIDDEN_SUFFIXES]
        cols = [self._col(rel, n) + f" AS {_q(n)}" for n in names] + hidden
        hidden_ord = [f"__ord{i}" for i in order_aggs]
        sql = f"SELECT {'DISTINCT ' if q.distinct else ''}{_list(cols + hidden_ord)} FROM ({rel.sql}) s"
        if q.order_by:
            sql += " ORDER BY " + ", ".join(
                (self._col(rel, spec) if isinstance(spec, str) else f"__ord{i}") + (" ASC" if asc else " DESC")
                for i, (spec, asc) in enumerate(q.order_by)
            )
        if q.limit is not None:
            sql += f" LIMIT {int(q.limit)}"
        if q.offset:
            sql += f" OFFSET {int(q.offset)}"
        if hidden_ord:
            sql = f"SELECT {_list([_q(n) for n in names] + hidden)} FROM ({sql}) o"
        return _Rel(sql, names, kinds)

    # -- templates (CONSTRUCT, update)

    def _instantiate(
        self, rel: _Rel, template: list[Triple], default_graph: str | None = None,
        tags: list[bool] | None = None,
    ) -> str:
        """Solutions × template → distinct quads (QUAD_COLUMNS order), one
        pass over the solutions. A template triple whose subject, predicate
        or object is unbound in a solution is skipped (SPARQL 1.1 §16.2).
        ``tags`` (one per template triple) adds the ``__added`` column of an
        update diff."""

        def node(term: Term) -> str:
            kind, val = term
            return f"CAST({self._col(rel, val)} AS STRING)" if kind == "var" else self.const(_lexical(term))

        def obj(term: Term) -> tuple[str, str, str, str]:
            kind, val = term
            if kind == "var":
                if val in rel.kinds:  # an exact term kind
                    t, d, lang = (_q(val + s) for s in HIDDEN_SUFFIXES)
                    return node(term), f"COALESCE({t}, 'iri')", d, lang
                return node(term), "'iri'", _NULL, _NULL  # bound in s/p/g position
            t, d, lang = (_NULL if k is None else _sql_str(k) for k in _term_kinds(term))
            return node(term), t, d, lang

        graph = _NULL if default_graph is None else self.const(default_graph)
        rows = []
        for i, t in enumerate(template):
            if isinstance(t.p, tuple) and t.p[0] == "path":
                raise SyntaxError("SPARQL: property paths are not allowed in templates")
            fields = dict(zip(QUAD_COLUMNS, (node(t.s), node(t.p), *obj(t.o), graph if t.g is None else node(t.g))))
            if tags is not None:
                fields["__added"] = "TRUE" if tags[i] else "FALSE"
            rows.append("named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")")
        return (
            f"SELECT DISTINCT * FROM (SELECT inline(array({', '.join(rows)})) FROM ({rel.sql}) t) c "
            "WHERE subject IS NOT NULL AND predicate IS NOT NULL AND object_value IS NOT NULL"
        )


def _fn_duration_millis(start: str, end: str) -> str:
    return f"CAST((unix_micros(to_timestamp({end})) - unix_micros(to_timestamp({start}))) / 1000 AS BIGINT)"


def _fn_duration(start: str, end: str) -> str:
    """end − start as an ISO-8601 dayTimeDuration (PnDTnHnMn.nnnS), the SQL
    form of functions/temporal.py's ``iso_duration``."""
    us = f"(unix_micros(to_timestamp({end})) - unix_micros(to_timestamp({start})))"
    a = f"abs({us})"

    def part(unit: int, mod: int | None, suffix: str) -> str:
        n = f"floor({a} / {unit})" + (f" % {mod}" if mod else "")
        return f"CASE WHEN {n} > 0 THEN concat(CAST({n} AS STRING), '{suffix}') ELSE '' END"

    body = (
        f"concat('P', {part(86_400_000_000, None, 'D')}, 'T', {part(3_600_000_000, 24, 'H')}, "
        f"{part(60_000_000, 60, 'M')}, CAST(({a} % 60000000) / 1000000.0D AS STRING), 'S')"
    )
    return f"CASE WHEN {us} < 0 THEN concat('-', {body}) ELSE {body} END"


# the reference's SPARQL FunctionRegistry (RepositoryFactory.scala:248-251):
# custom functions callable from query text, keyed by IRI; each builds the
# SQL expression of its call from its arguments' SQL
SPARQL_FUNCTIONS: dict[str, Callable[..., str]] = {
    "urn:personal:duration": _fn_duration,
    "urn:personal:durationInMillis": _fn_duration_millis,
}


# --- requests -----------------------------------------------------------------
# one builder per request form: it compiles through ``compile_group`` and
# returns the analysed statement; the public functions run it,
# ``explain_sparql`` only reads the compiler's statements


def _select_df(c: _Compiler, q: SelectQuery, keep_term_types: bool) -> DataFrame:
    return c.compile_group(q.group, lambda rel: c._select(q, keep_term_types, rel).sql)


def _ask_df(c: _Compiler, q: SelectQuery) -> DataFrame:
    return c.compile_group(q.group, lambda rel: f"SELECT 1 AS hit FROM ({c._bound(rel).sql}) a LIMIT 1")


def _construct_df(c: _Compiler, template: list[Triple], q: SelectQuery, default_graph: str) -> DataFrame:
    def finish(rel: _Rel) -> str:
        if q.limit is not None:
            rel = _Rel(f"SELECT * FROM ({rel.sql}) s LIMIT {int(q.limit)}", rel.vars, rel.kinds)
        return c._instantiate(rel, template, default_graph)

    return c.compile_group(q.group, finish)


def _describe_df(c: _Compiler, terms: list[Term], group: Group | None) -> DataFrame:
    """RDF4J (the reference's evaluator) describes a resource by its
    subject-position statements; the resource set is the explicit IRIs
    plus every binding of the DESCRIBE variables in the WHERE solutions —
    a semi-join on the store side, no collect of resource lists."""
    iris = [val for kind, val in terms if kind == "iri"]
    var_names = [val for kind, val in terms if kind == "var"]
    if var_names and group is None:
        raise SyntaxError("SPARQL: DESCRIBE ?var needs a WHERE clause")

    def finish(rel: _Rel | None) -> str:
        conds = []
        if iris:
            conds.append(f"q.subject IN ({', '.join(c.const(i) for i in iris)})")
        if var_names:
            resources = " UNION ".join(f"SELECT {c._col(rel, v)} FROM ({rel.sql}) w" for v in var_names)
            conds.append(f"q.subject IN ({resources})")
        return f"SELECT DISTINCT {', '.join(QUAD_COLUMNS)} FROM {c.store} q WHERE {' OR '.join(conds)}"

    return c.compile_group(group if var_names else None, finish)


def _update_parts(c: _Compiler, ops: list[tuple[str, object]]):
    """(added ground rows, removed ground rows, tagged pattern frames) of an
    update: each pattern operation is one statement whose rows carry
    ``__added``."""

    def ground_rows(triples: list[Triple]):
        rows = []
        for t in triples:
            if any(x is not None and x[0] == "var" for x in (t.s, t.p, t.o, t.g)):
                raise SyntaxError("SPARQL UPDATE: DATA blocks must be ground")
            rows.append((t.s[1], t.p[1], _lexical(t.o), *_term_kinds(t.o), None if t.g is None else t.g[1]))
        return rows

    added, removed, frames = [], [], []
    for op, payload in ops:
        if op == "insert_data":
            added += ground_rows(payload)
        elif op == "delete_data":
            removed += ground_rows(payload)
        else:
            if op == "modify":
                # [DELETE {tmpl}] [INSERT {tmpl}] WHERE {pattern}: one
                # solution relation instantiates both templates
                del_tmpl, ins_tmpl, group = payload
                del_tmpl, ins_tmpl = del_tmpl or [], ins_tmpl or []
            else:  # delete_where: the pattern is its own template
                group, ins_tmpl = payload, []
                del_tmpl = [el for el in group.elements if isinstance(el, Triple)]
            tags = [False] * len(del_tmpl) + [True] * len(ins_tmpl)
            frames.append(c.compile_group(group, lambda rel: c._instantiate(rel, del_tmpl + ins_tmpl, None, tags)))
    return added, removed, frames


def sparql_select(
    quads: DataFrame,
    text: str,
    bindings: dict[str, str] | None = None,
    keep_term_types: bool = False,
) -> DataFrame:
    """Compile a SPARQL SELECT string over a quads DataFrame.

    ``keep_term_types``: carry the hidden ``<var>__type/__datatype/__lang``
    columns of the projected variables that have them, so a result
    serializer can emit exact term kinds (a variable without them is an
    aggregate, typed from its column type)."""
    q = _Parser(text).parse_query()
    if q.ask:
        raise ValueError("use sparql_ask for ASK queries")
    return _select_df(_Compiler(quads, bindings), q, keep_term_types)


def sparql_ask(quads: DataFrame, text: str, bindings: dict[str, str] | None = None) -> bool:
    """SPARQL ASK: limit-1 probe, not a count (reference ASK shape)."""
    q = _Parser(text).parse_query()
    if not q.ask:
        raise ValueError("not an ASK query")
    return len(_ask_df(_Compiler(quads, bindings), q).take(1)) > 0


def sparql_describe(quads: DataFrame, text: str) -> DataFrame:
    """SPARQL DESCRIBE → the described resources' outgoing statements."""
    return _describe_df(_Compiler(quads), *_Parser(text).parse_describe())


def sparql_construct(
    quads: DataFrame, text: str, default_graph: str = "urn:graph:construct"
) -> DataFrame:
    """SPARQL CONSTRUCT → quads DataFrame. Object term kinds come from the
    hidden kind columns, not guessed from lexical shape."""
    template, q = _Parser(text).parse_construct()
    return _construct_df(_Compiler(quads), template, q, default_graph)


def sparql_update_diff(quads: DataFrame, text: str):
    """SPARQL UPDATE text → Diff of quad rows for update/updater.apply_update
    (the reference routes RDF4J-parsed updates through Updater.scala).

    INSERT DATA / DELETE DATA take ground triples (graphless rows keep a
    NULL graph — apply_update routes adds to the subject's dominant graph
    and expands graphless removals to every matching statement).
    DELETE WHERE deletes every store quad matching the pattern."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    from ..rdf.store import Diff

    # ground rows become one driver-local relation per side (no Spark job
    # to read them back); pattern matches are statements over the store
    added_rows, removed_rows, frames = _update_parts(_Compiler(quads), _Parser(text).parse_update())
    schema = StructType([StructField(col, StringType()) for col in QUAD_COLUMNS])

    def side(rows, added: bool) -> DataFrame:
        parts = [f.filter(F.col("__added") == added).drop("__added") for f in frames]
        return reduce(DataFrame.unionByName, parts, local_relation(quads.sparkSession, rows, schema))

    return Diff(added=side(added_rows, True), removed=side(removed_rows, False))


def explain_sparql(quads: DataFrame, text: str, bindings: dict[str, str] | None = None) -> str:
    """EXPLAIN: the Spark SQL statements a request compiles to, each with
    its named parameters, without running them. Property-path closures
    are evaluated all the same, since their result is part of the
    statement: under the cap that is one edge collect, above it the
    distributed closure runs, as costly as for the request itself."""
    c = _Compiler(quads, bindings)
    form = query_form(text)
    p = _Parser(text)
    if form in ("select", "ask"):
        q = p.parse_query()
        _ask_df(c, q) if q.ask else _select_df(c, q, keep_term_types=True)
    elif form == "construct":
        _construct_df(c, *p.parse_construct(), "urn:graph:construct")
    elif form == "describe":
        _describe_df(c, *p.parse_describe())
    else:
        _update_parts(c, p.parse_update())
    return "\n\n".join(c.statements) or "-- no statement: the update is ground data only"
