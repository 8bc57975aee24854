"""SPARQL text front-end: parse a SPARQL-subset string and compile it onto
the quads DataFrame through the BGP pattern compiler.

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
            closures p* / p+ / p? (via operators/closure.py; `*` is
            reflexive over the store's term universe, RDF4J ZeroLengthPath
            parity), grouped-sequence closures (p1/p2)*, and negated
            property sets !p / !(p1|^p2)
    GROUP BY ?v… · ORDER BY [ASC|DESC](?v | AGG(?v)) · LIMIT n · OFFSET n
    ASK {…}
    CONSTRUCT { template } WHERE {…}       → quads DataFrame
    INSERT DATA {…} · DELETE DATA {…} ·    → Diff for update/updater
    DELETE WHERE {…} ·
    [DELETE {tmpl}] [INSERT {tmpl}] WHERE {…}  (GRAPH blocks supported)

No rdflib in the runtime, so the parser is a small hand-written
recursive-descent over a regex token stream. Compilation is entirely
declarative DataFrame operations — Catalyst plans the joins (the reference
delegates the same job to RDF4J's optimizer).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.closure import transitive_closure
from ..rdf.model import V
from .patterns import BGP, HIDDEN_SUFFIXES, join_on_shared

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
    rows: list[list]  # lexical strings / None for UNDEF, one list per row


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
            return ("lit", re.sub(r"\\(.)", r"\1", val[1:-1]))
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
            kind, val = self.parse_term()
            if kind == "var":
                raise SyntaxError("SPARQL: variables are not allowed in VALUES data")
            return str(val) if kind == "num" else val

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
                        # unescape like every other STRING consumer
                        # (parse_term): SEPARATOR="\"" is one quote char
                        sep = re.sub(r"\\(.)", r"\1", self.expect("STRING")[1:-1])
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
                    val = vv[1:-1]
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


# --- compiler -----------------------------------------------------------------


def _bgp_term(term: Term):
    kind, val = term
    if kind == "var":
        return V(val)
    if kind == "num":
        return str(val)
    return val  # iri / lit → compare against the lexical column


_BASE_HIDDEN = HIDDEN_SUFFIXES


def _base_cols(cols) -> list[str]:
    return [c for c in cols if not c.endswith(_BASE_HIDDEN)]


class _Compiler:
    def __init__(
        self,
        quads: DataFrame,
        track_types: bool = False,
        bindings: dict[str, str] | None = None,
    ):
        self.quads = quads
        self.bgp = BGP(quads, track_types=track_types)
        self.track_types = track_types
        self.bindings = bindings

    def compile_group(self, group: Group) -> DataFrame:
        """Sequential (left-to-right) group evaluation. FILTERs — including
        FILTER [NOT] EXISTS — apply to the WHOLE group's solutions per SPARQL
        filter scoping, regardless of where they appear in the text; VALUES
        written before any pattern is deferred to the first merge so UNDEF
        keeps its wildcard-join semantics. MINUS is positional (SPARQL
        algebra folds it left-to-right; a leading MINUS subtracts from the
        unit table, which removes nothing)."""
        result: DataFrame | None = None
        filters: list[tuple] = []
        exists: list[Exists_] = []
        pending_values: list[DataFrame] = []
        plain: list[tuple] = []

        def merge(df: DataFrame, how: str = "inner") -> None:
            nonlocal result
            result = df if result is None else join_on_shared(result, df, how=how)
            while pending_values:
                result = self._join_values(result, pending_values.pop(0))

        def flush_plain() -> None:
            if plain:
                merge(self.bgp.compile(list(plain)))
                plain.clear()

        for el in group.elements:
            if isinstance(el, Triple):
                if isinstance(el.p, tuple) and el.p[0] == "path":
                    flush_plain()
                    merge(self._path_df(el))
                else:
                    pat = tuple(
                        _bgp_term(t) for t in ((el.s, el.p, el.o, el.g) if el.g else (el.s, el.p, el.o))
                    )
                    plain.append(pat)
            elif isinstance(el, Union_):
                flush_plain()
                merge(BGP.union(self.compile_group(el.left), self.compile_group(el.right)))
            elif isinstance(el, SubSelect):
                flush_plain()
                merge(
                    _run_select(
                        self.quads, el.query, bindings=self.bindings,
                        keep_term_types=self.track_types,
                    )
                )
            elif isinstance(el, Values_):
                flush_plain()
                vdf = self._values_df(el)
                if result is None:
                    pending_values.append(vdf)
                else:
                    result = self._join_values(result, vdf)
            elif isinstance(el, Optional_):
                flush_plain()
                if result is None:
                    raise SyntaxError("SPARQL: OPTIONAL shares no variables with base")
                result = join_on_shared(result, self.compile_group(el.group), how="left")
            elif isinstance(el, Minus_):
                flush_plain()
                if result is not None:
                    result = self._apply_minus(result, el.group)
            elif isinstance(el, Exists_):
                exists.append(el)
            elif isinstance(el, Bind_):
                flush_plain()
                if result is None:
                    raise SyntaxError("SPARQL: BIND needs preceding patterns")
                result = self._apply_bind(result, el)
            elif isinstance(el, Filter_):
                filters.append(el.expr)
        flush_plain()

        if result is None and pending_values:
            result = pending_values.pop(0)
            while pending_values:
                result = self._join_values(result, pending_values.pop(0))
        if result is None:
            raise SyntaxError("SPARQL: empty group pattern")
        for ex in exists:
            result = self._apply_exists(result, ex.group, ex.positive)
        for expr in filters:
            result = result.filter(self._expr_col(expr, result))
        return result

    # -- property paths (star / plus / opt / alternation / inverse)

    def _path_atoms(self, ast) -> list[tuple[str, bool]] | None:
        """Flatten a pred/inv/alt tree into (iri, inverted) atoms, or None
        when the tree contains grouped sequences / nested closures /
        negated sets (those go through the recursive `_edges_ast`)."""
        kind = ast[0]
        if kind == "pred":
            if ast[1][0] != "iri":
                raise SyntaxError("SPARQL: property-path predicates must be IRIs")
            return [(ast[1][1], False)]
        if kind == "inv":
            sub = self._path_atoms(ast[1])
            return None if sub is None else [(iri, not inv) for iri, inv in sub]
        if kind == "alt":
            out = []
            for sub in ast[1]:
                flat = self._path_atoms(sub)
                if flat is None:
                    return None
                out.extend(flat)
            return out
        return None

    def _path_edges(self, scoped: DataFrame, atoms: list[tuple[str, bool]]) -> DataFrame:
        """(src, dst) edge relation of an atom set; inverted atoms flip."""
        fwd = [iri for iri, inv in atoms if not inv]
        bwd = [iri for iri, inv in atoms if inv]
        parts = []
        if fwd:
            parts.append(
                scoped.filter(F.col("predicate").isin(fwd)).select(
                    F.col("subject").alias("src"), F.col("object_value").alias("dst")
                )
            )
        if bwd:
            parts.append(
                scoped.filter(F.col("predicate").isin(bwd)).select(
                    F.col("object_value").alias("src"), F.col("subject").alias("dst")
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _reflexive_universe(self, scoped: DataFrame) -> DataFrame:
        """Zero-length paths hold for EVERY term — subjects and objects of
        any kind, literals included (RDF4J ZeroLengthPath parity)."""
        universe = (
            scoped.select(F.col("subject").alias("node"))
            .unionByName(scoped.select(F.col("object_value").alias("node")))
            .dropDuplicates()
        )
        return universe.select(F.col("node").alias("src"), F.col("node").alias("dst"))

    def _edges_ast(self, scoped: DataFrame, ast) -> DataFrame:
        """(src, dst) edge relation of an ARBITRARY path AST — grouped
        sequences compose by equi-join on the midpoint, alternations union,
        nested closures recurse through transitive_closure, and negated
        property sets scan with predicate NOT IN (SPARQL 1.1 §9.1: forward
        members exclude forward edges, ^-members exclude reversed edges).
        Flat pred/inv/alt trees short-circuit to the single predicate-set
        scan so the common case stays one filtered pass over the quads."""
        flat = self._path_atoms(ast)
        if flat is not None:
            return self._path_edges(scoped, flat)
        kind = ast[0]
        if kind == "inv":
            e = self._edges_ast(scoped, ast[1])
            return e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        if kind == "alt":
            # SPARQL 1.1 §18.4: alternation is multiset UNION — a pair
            # reachable through two branches yields two solutions. Only
            # the closure forms (*/+/?) are distinct (ALP); deduping here
            # would make p1|p2 and !(…) disagree on cardinality.
            parts = [self._edges_ast(scoped, sub) for sub in ast[1]]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if kind == "seq":
            # sequence is a join — multiplicity through distinct midpoints
            # is preserved (multiset semantics), so no dedup
            out = self._edges_ast(scoped, ast[1][0])
            for step in ast[1][1:]:
                nxt = self._edges_ast(scoped, step).withColumnRenamed("src", "mid")
                out = (
                    out.withColumnRenamed("dst", "mid")
                    .join(nxt, "mid")
                    .select("src", "dst")
                )
            return out
        if kind == "neg":
            fwd = [iri for iri, inv in ast[1] if not inv]
            bwd = [iri for iri, inv in ast[1] if inv]
            parts = []
            if fwd:
                parts.append(
                    scoped.filter(~F.col("predicate").isin(fwd)).select(
                        F.col("subject").alias("src"), F.col("object_value").alias("dst")
                    )
                )
            if bwd:
                parts.append(
                    scoped.filter(~F.col("predicate").isin(bwd)).select(
                        F.col("object_value").alias("src"), F.col("subject").alias("dst")
                    )
                )
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        if kind == "star":
            # SYMMETRIC closure rewrite: `(p|^p)*`-shaped paths (forward
            # and inverse over the same predicate set) are undirected
            # connectivity — same-component pairs. Compile through
            # connected components (linear state, O(log² n) rounds) and
            # ONE final same-component join instead of iterating the
            # O(component²) pair relation through every closure round;
            # endpoint filters then prune the join sides before the pairs
            # ever materialize. Identical output to the pair closure
            # (components ⋈ components = reachability pairs of a
            # symmetric relation; pytest pins them against each other).
            flat_inner = self._path_atoms(ast[1])
            if flat_inner is not None:
                fwd = {iri for iri, inv in flat_inner if not inv}
                bwd = {iri for iri, inv in flat_inner if inv}
                if fwd and fwd == bwd:
                    from ..operators.closure import connected_components_star

                    comp = connected_components_star(
                        self._path_edges(scoped, flat_inner), "src", "dst"
                    )
                    pairs = (
                        comp.select(F.col("node").alias("src"), "component")
                        .join(
                            comp.select(
                                F.col("node").alias("dst"), "component"
                            ),
                            "component",
                        )
                        .select("src", "dst")
                    )
                    return pairs.unionByName(
                        self._reflexive_universe(scoped)
                    ).dropDuplicates()
            return (
                transitive_closure(self._edges_ast(scoped, ast[1]))
                .unionByName(self._reflexive_universe(scoped))
                .dropDuplicates()
            )
        if kind == "plus":
            edges = self._edges_ast(scoped, ast[1])
            hop = transitive_closure(edges).withColumnRenamed("src", "mid")
            return (
                edges.withColumnRenamed("dst", "mid")
                .join(hop, "mid")
                .select("src", "dst")
                .dropDuplicates()
            )
        if kind == "opt":
            return (
                self._edges_ast(scoped, ast[1])
                .unionByName(self._reflexive_universe(scoped))
                .dropDuplicates()
            )
        raise SyntaxError(f"SPARQL: unsupported property-path node {kind!r}")

    def _path_df(self, t: Triple) -> DataFrame:
        """star/plus/opt closures, alternation, and negated property sets.
        `p*` is reflexive over the store's term universe (RDF4J
        ZeroLengthPath parity: a term with no `p` edge still reaches
        itself); `p+` is edges ∘ closure; `p?` is edges ∪ the reflexive
        universe; `!set` is a predicate-NOT-IN scan. FLAT alternation
        compiles to a union of single-predicate patterns so hidden
        term-kind columns survive under track_types; everything else —
        grouped sequences like `(p1/p2)*`, nested closures, negated sets —
        goes through the recursive edge-relation builder (`_edges_ast`),
        and under track_types the var-bound endpoints get their hidden
        term-kind columns back from a per-VALUE kind lookup over the
        scoped store (kinds are intrinsic to the term, not the path —
        a `!ex:p` object that is a literal must serialize as a literal,
        not the old always-iri fallback). The one ambiguity the
        string-encoded term model can't resolve post-hoc: the same string
        appearing under two kinds (literal "x" and IRI x) — the lookup
        picks the lexicographically smallest (type, datatype, lang)
        deterministically."""
        ast = t.p[1]
        kind = ast[0]
        if kind == "alt" and (flat := self._path_atoms(ast)) is not None:
            parts = []
            for iri, inv in flat:
                s, o = (t.o, t.s) if inv else (t.s, t.o)
                pat = (s, ("iri", iri), o, *((t.g,) if t.g else ()))
                parts.append(self.bgp.compile([tuple(_bgp_term(x) for x in pat)]))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p, allowMissingColumns=True)
            return out
        # closures / grouped paths / negated sets over an edge relation;
        # GRAPH scoping restricts both the edge set and the zero-length
        # universe (the flat-alt branch above scopes through the pattern)
        scoped = self.quads
        if t.g is not None:
            if t.g[0] != "iri":
                raise SyntaxError(
                    "SPARQL: property-path closure inside GRAPH ?var is not supported"
                )
            scoped = scoped.filter(F.col("graph") == t.g[1])
        rel = self._bound_closure_rel(scoped, ast, t)
        if rel is None:
            rel = self._edges_ast(scoped, ast)
        out_cols = []
        for term, col in ((t.s, "src"), (t.o, "dst")):
            kind2, val = term
            if kind2 == "var":
                out_cols.append(F.col(col).alias(val))
            else:
                rel = rel.filter(F.col(col) == (str(val) if kind2 == "num" else val))
        # no trailing dedup: closure forms (*/+/?) already emit distinct
        # pairs, and every other form (seq/alt/inv/NPS) is multiset-valued
        # per SPARQL 1.1 — deduping would undercount e.g.
        # COUNT(*) over { ?s !ex:p ?o } when two non-excluded predicates
        # connect the same (s, o)
        out = rel.select(*out_cols) if out_cols else rel
        if self.track_types:
            lookup = self._term_kind_lookup(scoped)
            seen: set[str] = set()
            for term in (t.s, t.o):
                if term[0] != "var" or term[1] in seen:
                    continue
                seen.add(term[1])
                name = term[1]
                lk = lookup.select(
                    F.col("__node"),
                    F.col("__t").alias(f"{name}__type"),
                    F.col("__d").alias(f"{name}__datatype"),
                    F.col("__l").alias(f"{name}__lang"),
                )
                out = out.join(lk, out[name] == lk["__node"], "left").drop("__node")
        return out

    def _bound_closure_rel(self, scoped: DataFrame, ast, t: Triple):
        """Single-source shortcut for TOP-LEVEL ``p*``/``p+`` patterns with
        a CONSTANT endpoint (the PrimaryFacetEnricher.scala:20-27 shape,
        ``?facet sameAs* <start>``): reachability is computed by frontier
        BFS from the bound node (operators/closure.py reachable_nodes —
        work proportional to the reached subgraph) instead of
        materializing the all-pairs closure and filtering one endpoint
        afterwards, which transitive_closure's checkpointed loop would
        force at O(component²). Returns the (src, dst) pair relation
        restricted to the bound endpoint — or None when the shortcut does
        not apply (both endpoints variable, or a non-closure path kind).
        ``p*``'s zero-length solution (the bound node reaching itself) is
        added iff the node is in the scoped term universe, exactly
        matching the general branch's reflexive-universe union."""
        kind = ast[0]
        if kind not in ("star", "plus"):
            return None

        def resolve(term) -> str | None:
            # a syntactic constant, or a pre-bound variable (RDF4J
            # setBinding parity — _apply_bindings' trailing equality
            # filter stays a no-op pass over the restricted relation)
            k, v = term
            if k == "var":
                return (self.bindings or {}).get(v)
            return str(v) if k == "num" else v

        s_const = resolve(t.s)
        o_const = resolve(t.o)
        if s_const is None and o_const is None:
            return None
        from ..operators.closure import reachable_nodes

        edges = self._edges_ast(scoped, ast[1])
        if s_const is not None:
            const = s_const
            reach = reachable_nodes(edges, const, "src", "dst")
            pairs = reach.select(
                F.lit(const).alias("src"), F.col("node").alias("dst")
            )
            zero_col = "src"
        else:
            const = o_const
            rev = edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            reach = reachable_nodes(rev, const, "src", "dst")
            pairs = reach.select(
                F.col("node").alias("src"), F.lit(const).alias("dst")
            )
            zero_col = "dst"
        if kind == "star":
            zero = self._reflexive_universe(scoped).filter(
                F.col(zero_col) == const
            )
            pairs = pairs.unionByName(zero)
        return pairs.dropDuplicates()

    def _term_kind_lookup(self, scoped: DataFrame) -> DataFrame:
        """One deterministic (type, datatype, lang) per term VALUE in the
        scoped store — subjects contribute iri/bnode, objects their literal
        metadata; ties across kinds resolve to the lexicographic minimum
        (one row per value, so the left join in _path_df never multiplies
        solutions). Only built under track_types, one aggregate per path
        triple."""
        subj = scoped.select(
            F.col("subject").alias("__node"),
            F.when(F.col("subject").startswith("_:"), F.lit("bnode"))
            .otherwise(F.lit("iri"))
            .alias("__t"),
            F.lit(None).cast("string").alias("__d"),
            F.lit(None).cast("string").alias("__l"),
        )
        obj = scoped.select(
            F.col("object_value").alias("__node"),
            F.col("object_type").alias("__t"),
            F.col("object_datatype").alias("__d"),
            F.col("object_lang").alias("__l"),
        )
        return (
            subj.unionByName(obj)
            .groupBy("__node")
            .agg(F.min(F.struct("__t", "__d", "__l")).alias("__k"))
            .select(
                "__node",
                F.col("__k.__t").alias("__t"),
                F.col("__k.__d").alias("__d"),
                F.col("__k.__l").alias("__l"),
            )
        )

    # -- VALUES / MINUS / EXISTS / BIND

    def _values_df(self, el: Values_) -> DataFrame:
        ddl = ", ".join(f"`{v}` string" for v in el.vars)
        return self.quads.sparkSession.createDataFrame(
            [tuple(row) for row in el.rows], ddl
        )

    def _join_values(self, result: DataFrame, vdf: DataFrame) -> DataFrame:
        """Join inline VALUES data: an UNDEF cell (NULL) is a wildcard for
        that row's variable, not an equality constraint — a plain equi-join
        would silently drop every UNDEF row (NULL never equi-matches)."""
        shared = [c for c in vdf.columns if c in result.columns]
        if not shared:
            return result.crossJoin(vdf)
        vdf2 = vdf
        for c in shared:
            vdf2 = vdf2.withColumnRenamed(c, c + "__val")
        cond = F.lit(True)
        for c in shared:
            cond = cond & (F.col(c + "__val").isNull() | (F.col(c + "__val") == F.col(c)))
        joined = result.join(vdf2, on=cond, how="inner")
        for c in shared:
            joined = joined.drop(c + "__val")
        return joined

    def _apply_minus(self, result: DataFrame, group: Group) -> DataFrame:
        """SPARQL MINUS with per-solution compatibility semantics: remove a
        left solution when some MINUS solution agrees on every variable
        bound in BOTH and the two share at least one bound variable
        (SPARQL 1.1 §8.3 / RDF4J parity). An unbound shared variable is
        compatible with anything, so a plain equi anti-join (NULL never
        matches) would keep solutions RDF4J removes. The all-bound ×
        all-bound case — the overwhelmingly common one — stays a shuffled
        equi anti-join; only rows with NULL shared vars on either side go
        through the theta anti-join, and those slices are typically empty
        (Catalyst plans them as broadcast nested-loop over ~0 rows)."""
        mdf = self.compile_group(group)
        shared = sorted(set(_base_cols(result.columns)) & set(_base_cols(mdf.columns)))
        if not shared:
            # disjoint domains: MINUS removes nothing (SPARQL semantics)
            return result
        m = mdf.select(*shared).dropDuplicates()

        def any_null(cols):
            pred = F.lit(False)
            for c in cols:
                pred = pred | F.col(c).isNull()
            return pred

        m_bound = m.filter(~any_null(shared))
        m_part = m.filter(any_null(shared))
        l_bound = result.filter(~any_null(shared))
        l_part = result.filter(any_null(shared))

        def theta_anti(left: DataFrame, minus: DataFrame) -> DataFrame:
            minus2 = minus
            for c in shared:
                minus2 = minus2.withColumnRenamed(c, c + "__m")
            compat, overlap = F.lit(True), F.lit(False)
            for c in shared:
                l_c, m_c = F.col(c), F.col(c + "__m")
                compat = compat & (l_c.isNull() | m_c.isNull() | (l_c == m_c))
                overlap = overlap | (l_c.isNotNull() & m_c.isNotNull())
            return left.join(minus2, on=compat & overlap, how="left_anti")

        out = theta_anti(l_bound.join(m_bound, on=shared, how="left_anti"), m_part)
        return out.unionByName(theta_anti(l_part, m))

    def _apply_exists(self, result: DataFrame, group: Group, positive: bool) -> DataFrame:
        edf = self.compile_group(group)
        shared = sorted(set(_base_cols(result.columns)) & set(_base_cols(edf.columns)))
        if not shared:
            non_empty = len(edf.take(1)) > 0
            keep = non_empty if positive else not non_empty
            return result if keep else result.limit(0)
        how = "left_semi" if positive else "left_anti"
        return result.join(edf.select(*shared).dropDuplicates(), on=shared, how=how)

    def _apply_bind(self, result: DataFrame, el: Bind_) -> DataFrame:
        if el.var in result.columns:
            raise SyntaxError(f"SPARQL: BIND re-binds ?{el.var}")
        result = result.withColumn(el.var, self._value_col(el.expr, result))
        if not self.track_types:
            return result
        # carry term-kind metadata so serializers/templates emit the right kind
        if el.expr[0] == "term" and el.expr[1][0] == "var":
            src = el.expr[1][1]
            if f"{src}__type" in result.columns:
                for sfx in _BASE_HIDDEN:
                    result = result.withColumn(f"{el.var}{sfx}", F.col(f"{src}{sfx}"))
                return result
            return result  # var bound in s/p/g position → IRI fallback applies
        dt = dict(result.dtypes)[el.var]
        xsd = {"bigint": "integer", "int": "integer", "double": "double", "float": "double"}.get(
            dt, "string"
        )
        result = result.withColumn(f"{el.var}__type", F.lit("literal"))
        result = result.withColumn(f"{el.var}__datatype", F.lit(_XSD + xsd))
        result = result.withColumn(f"{el.var}__lang", F.lit(None).cast("string"))
        return result

    def _value_col(self, expr: tuple, df: DataFrame) -> Column:
        kind = expr[0]
        if kind == "builtin":
            return self._builtin_col(expr, df)
        if kind == "term":
            tkind, val = expr[1]
            if tkind == "var":
                return F.col(val)
            return F.lit(val)
        if kind == "call":
            builder = SPARQL_FUNCTIONS.get(expr[1])
            if builder is None:
                raise SyntaxError(f"SPARQL: unknown function <{expr[1]}>")
            return builder(*[self._value_col(a, df) for a in expr[2]])
        a, b = self._value_col(expr[1], df), self._value_col(expr[2], df)
        a, b = a.cast("double"), b.cast("double")
        return {"+": a + b, "-": a - b, "*": a * b, "/": a / b}[kind]

    def _expr_col(self, expr: tuple, df: DataFrame) -> Column:
        op = expr[0]
        if op == "or":
            return self._expr_col(expr[1], df) | self._expr_col(expr[2], df)
        if op == "and":
            return self._expr_col(expr[1], df) & self._expr_col(expr[2], df)
        if op == "not":
            return ~self._expr_col(expr[1], df)
        if op == "bound":
            return self._operand(expr[1], df=df).isNotNull()
        if op == "truthy":
            return self._builtin_col(expr[1], df)
        if op == "in":
            _, left, items = expr
            return self._operand(left, df=df).isin(*[i[1] for i in items])
        _, left, right = expr
        lc = self._operand(left, right, df=df)
        rc = self._operand(right, left, df=df)
        return {
            "=": lc == rc, "!=": lc != rc,
            "<": lc < rc, "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]

    def _operand(self, term: Term, other: Term | None = None, df: DataFrame | None = None) -> Column:
        if term[0] == "builtin":
            return self._builtin_col(term, df)
        kind, val = term
        if kind == "var":
            col = F.col(val)
            # numeric comparison: lexical column cast to double
            if other is not None and other[0] == "num":
                col = col.cast("double")
            return col
        if kind == "num":
            return F.lit(val)
        return F.lit(val)

    def _builtin_col(self, expr: tuple, df: DataFrame | None) -> Column:
        """SPARQL builtin calls (the subset RDF4J users hit first). LANG /
        DATATYPE read the hidden term-kind columns when track_types carried
        them; otherwise plain-literal defaults apply ("" / xsd:string)."""
        _, fn, args = expr

        def arg(i):
            a = args[i]
            if a[0] in ("term", "call", "+", "-", "*", "/"):
                return self._value_col(a, df)  # value-expression argument
            return self._operand(a, df=df)

        def hidden(i, suffix, default):
            t = args[i]
            if t[0] == "var" and df is not None and f"{t[1]}{suffix}" in df.columns:
                return F.coalesce(F.col(f"{t[1]}{suffix}"), F.lit(default))
            return F.lit(default)

        if fn == "BOUND":
            return arg(0).isNotNull()
        if fn == "STR":
            return arg(0).cast("string")  # columns hold the lexical form
        if fn == "REGEX":
            pattern = arg(1)
            if len(args) > 2 and args[2][0] == "lit" and "i" in args[2][1]:
                pattern = F.concat(F.lit("(?i)"), arg(1))
            return F.regexp_like(arg(0), pattern)
        if fn == "CONTAINS":
            return arg(0).contains(arg(1))
        if fn == "STRSTARTS":
            return arg(0).startswith(arg(1))
        if fn == "STRENDS":
            return arg(0).endswith(arg(1))
        if fn == "LANG":
            return hidden(0, "__lang", "")
        if fn == "DATATYPE":
            return hidden(0, "__datatype", _XSD + "string")
        if fn == "LCASE":
            return F.lower(arg(0))
        if fn == "UCASE":
            return F.upper(arg(0))
        if fn == "STRLEN":
            return F.length(arg(0))
        if fn == "SUBSTR":
            # SPARQL is 1-indexed like F.substring; length optional
            length = arg(2).cast("int") if len(args) > 2 else F.lit(2147483647)
            return F.substring(arg(0), arg(1).cast("int"), length)
        if fn == "REPLACE":
            return F.regexp_replace(arg(0), arg(1), arg(2))
        if fn == "STRBEFORE":
            # empty string when the needle is absent (SPARQL 17.4.3.17)
            pos = F.instr(arg(0), arg(1))
            return F.when(pos > 0, F.substring(arg(0), F.lit(1), pos - 1)).otherwise(F.lit(""))
        if fn == "STRAFTER":
            pos = F.instr(arg(0), arg(1))
            return F.when(
                pos > 0, F.substring(arg(0), pos + F.length(arg(1)), F.lit(2147483647))
            ).otherwise(F.lit(""))
        if fn == "CONCAT":
            return F.concat(*[arg(i).cast("string") for i in range(len(args))])
        if fn == "ABS":
            return F.abs(arg(0).cast("double"))
        if fn == "ROUND":
            # fn:round (XPath/SPARQL 17.4.4.6) rounds ties toward +inf:
            # round(-2.5) = -2. Computed on the exact fractional part —
            # floor(x + 0.5) would misround doubles one ulp below 0.5
            # (0.49999999999999994 + 0.5 rounds to 1.0 in IEEE double).
            x = arg(0).cast("double")
            return (
                F.when(x - F.floor(x) >= 0.5, F.ceil(x)).otherwise(F.floor(x))
            ).cast("double")
        if fn == "CEIL":
            return F.ceil(arg(0).cast("double")).cast("double")
        if fn == "FLOOR":
            return F.floor(arg(0).cast("double")).cast("double")
        if fn == "IF":
            return F.when(self._expr_col(args[0], df), arg(1)).otherwise(arg(2))
        if fn == "COALESCE":
            return F.coalesce(*[arg(i) for i in range(len(args))])
        raise SyntaxError(f"SPARQL: unsupported builtin {fn}")


_AGGS = {
    "COUNT": F.count,
    "SUM": F.sum,
    "MIN": F.min,
    "MAX": F.max,
    "AVG": F.avg,
    "SAMPLE": F.first,
}


def _fn_duration(start: Column, end: Column) -> Column:
    from ..functions.temporal import iso_duration

    return iso_duration(F.to_timestamp(start), F.to_timestamp(end))


def _fn_duration_millis(start: Column, end: Column) -> Column:
    from ..functions.temporal import duration_millis

    return duration_millis(F.to_timestamp(start), F.to_timestamp(end))


# the reference's SPARQL FunctionRegistry (RepositoryFactory.scala:248-251):
# custom functions callable from query text, keyed by IRI
SPARQL_FUNCTIONS: dict[str, Callable[..., Column]] = {
    "urn:personal:duration": _fn_duration,
    "urn:personal:durationInMillis": _fn_duration_millis,
}


def _apply_bindings(df: DataFrame, bindings: dict[str, str] | None) -> DataFrame:
    """Pre-bound variables (RDF4J ``setBinding`` parity — the reference's
    enrichers parameterize prepared queries this way, e.g.
    PrimaryFacetEnricher.scala:103-108). Equality filters on the solution
    relation; Catalyst pushes them into the pattern scans."""
    if not bindings:
        return df
    for var, value in bindings.items():
        if var in df.columns:
            df = df.filter(F.col(var) == value)
    return df


def _agg_col(fn: str | tuple, distinct: bool, arg: str) -> Column:
    if isinstance(fn, tuple):  # ("GROUP_CONCAT", separator)
        # SPARQL leaves GROUP_CONCAT order undefined; we sort the collected
        # values so the result is deterministic on any cluster (the same
        # discipline as every other operator here).
        coll = F.collect_set(F.col(arg).cast("string")) if distinct else F.collect_list(
            F.col(arg).cast("string")
        )
        return F.array_join(F.array_sort(coll), fn[1])
    if fn == "COUNT" and arg == "*":
        return F.count(F.lit(1))
    c = F.col(arg)
    if fn == "SUM":
        d = c.cast("double")
        return F.sum_distinct(d) if distinct else F.sum(d)
    if fn == "AVG":
        # AVG(DISTINCT) = SUM(DISTINCT)/COUNT(DISTINCT) — Spark has no
        # avg_distinct builtin, but the identity is exact
        d = c.cast("double")
        return (
            F.sum_distinct(d) / F.count_distinct(d) if distinct else F.avg(d)
        )
    if distinct and fn == "COUNT":
        return F.count_distinct(c)
    # MIN/MAX/SAMPLE: DISTINCT is a semantic no-op (same extremum / any value)
    return _AGGS[fn](c)


_HAVING_OPS: dict[str, Callable[[Column, object], Column]] = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _run_select(
    quads: DataFrame,
    q: SelectQuery,
    bindings: dict[str, str] | None = None,
    keep_term_types: bool = False,
) -> DataFrame:
    """Compile a parsed SELECT (top-level or nested subquery) to a DataFrame."""
    df = _apply_bindings(
        _Compiler(quads, track_types=keep_term_types, bindings=bindings).compile_group(
            q.group
        ),
        bindings,
    )

    has_agg = any(p[0] == "agg" for p in q.projections)
    fn_projections = [p for p in q.projections if p[0] == "fn"]
    if fn_projections and (has_agg or q.group_by):
        # explicit parse-time rejection: the grouped branch below projects
        # p[4] of agg tuples, which a 4-element fn tuple doesn't have, and
        # an fn alias is not a group key — surfacing that as SyntaxError
        # keeps it a 400, not an internal error
        raise SyntaxError("SPARQL: function-call projections cannot mix with GROUP BY or aggregates")
    for _, fn_iri, args, alias in fn_projections:
        builder = SPARQL_FUNCTIONS.get(fn_iri)
        if builder is None:
            raise SyntaxError(f"SPARQL: unknown function <{fn_iri}>")
        df = df.withColumn(alias, builder(*[F.col(a) for a in args]))

    # ORDER BY aggregate sort keys become hidden agg columns (the reference's
    # primary-facet query sorts grouped rows by an unprojected COUNT)
    order_cols: list[Column] = []
    hidden_order_aggs: list[Column] = []
    for i, (spec, asc) in enumerate(q.order_by):
        if isinstance(spec, str):
            order_cols.append(F.asc(spec) if asc else F.desc(spec))
        else:
            alias = f"__ord{i}"
            _, fn, distinct, arg = spec
            hidden_order_aggs.append(_agg_col(fn, distinct, arg).alias(alias))
            order_cols.append(F.asc(alias) if asc else F.desc(alias))

    if q.having and not (has_agg or q.group_by):
        raise SyntaxError("SPARQL: HAVING needs GROUP BY or aggregates")
    if has_agg or q.group_by:
        hidden_having = [
            _agg_col(spec[1], spec[2], spec[3]).alias(f"__hav{j}")
            for j, (spec, _, _) in enumerate(q.having)
            if spec[0] == "agg"
        ]
        aggs = [
            _agg_col(p[1], p[2], p[3]).alias(p[4]) for p in q.projections if p[0] == "agg"
        ] + hidden_order_aggs + hidden_having
        keys = q.group_by or [p[1] for p in q.projections if p[0] == "var"]
        if aggs:
            df = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        else:
            df = df.select(*keys).dropDuplicates()
        for j, (spec, op, val) in enumerate(q.having):
            col = F.col(f"__hav{j}") if spec[0] == "agg" else F.col(spec[1])
            df = df.filter(_HAVING_OPS[op](col, val))
        names = [p[1] if p[0] == "var" else p[4] for p in q.projections]
        df = df.select(*names, *[F.col(f"__ord{i}") for i, (s, _) in enumerate(q.order_by) if not isinstance(s, str)])
    else:
        if hidden_order_aggs:
            raise SyntaxError("SPARQL: aggregate ORDER BY needs GROUP BY or aggregates")
        if not any(p[0] == "star" for p in q.projections):
            names = [p[3] if p[0] == "fn" else p[1] for p in q.projections]
            cols = list(names)
            if keep_term_types:
                cols += [
                    f"{n}{suffix}"
                    for n in names
                    for suffix in ("__type", "__datatype", "__lang")
                    if f"{n}{suffix}" in df.columns
                ]
            df = df.select(*cols)
    if q.distinct:
        df = df.dropDuplicates()
    if order_cols:
        df = df.orderBy(*order_cols)
    if hidden_order_aggs:
        df = df.drop(*[f"__ord{i}" for i, (s, _) in enumerate(q.order_by) if not isinstance(s, str)])
    if q.offset:
        df = df.offset(q.offset)
    if q.limit is not None:
        df = df.limit(q.limit)
    return df


def sparql_select(
    quads: DataFrame,
    text: str,
    bindings: dict[str, str] | None = None,
    keep_term_types: bool = False,
) -> DataFrame:
    """Compile and run a SPARQL SELECT string over a quads DataFrame.

    ``keep_term_types``: for non-aggregate projections, carry the hidden
    ``<var>__type/__datatype/__lang`` columns of object-bound variables so
    a result serializer can emit exact term kinds (a var with no hidden
    columns was bound in subject/predicate/graph position — an IRI)."""
    q = _Parser(text).parse_query()
    if q.ask:
        raise ValueError("use sparql_ask for ASK queries")
    return _run_select(quads, q, bindings=bindings, keep_term_types=keep_term_types)


def sparql_ask(quads: DataFrame, text: str, bindings: dict[str, str] | None = None) -> bool:
    """SPARQL ASK: limit-1 probe, not a count (reference ASK shape)."""
    q = _Parser(text).parse_query()
    if not q.ask:
        raise ValueError("not an ASK query")
    df = _apply_bindings(_Compiler(quads).compile_group(q.group), bindings)
    return len(df.limit(1).take(1)) > 0


def sparql_describe(quads: DataFrame, text: str) -> DataFrame:
    """SPARQL DESCRIBE → the described resources' outgoing statements.

    RDF4J (the reference's evaluator) describes a resource by its
    subject-position statements; the resource set is either the explicit
    IRIs or every binding of the DESCRIBE variables in the WHERE solutions.
    The store side stays a semi-join — no collect of resource lists."""
    terms, group = _Parser(text).parse_describe()
    iris = [val for kind, val in terms if kind == "iri"]
    var_names = [val for kind, val in terms if kind == "var"]
    if var_names and group is None:
        raise SyntaxError("SPARQL: DESCRIBE ?var needs a WHERE clause")
    parts = []
    if iris:
        parts.append(quads.filter(F.col("subject").isin(iris)))
    if var_names:
        sols = _Compiler(quads).compile_group(group)
        resources = None
        for v in var_names:
            sel = sols.select(F.col(v).alias("__resource")).dropDuplicates()
            resources = sel if resources is None else resources.unionByName(sel)
        parts.append(
            quads.join(
                resources.dropDuplicates(),
                quads["subject"] == F.col("__resource"),
                "left_semi",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


# --- CONSTRUCT / UPDATE -------------------------------------------------------

_XSD = "http://www.w3.org/2001/XMLSchema#"


def _null_s() -> Column:
    return F.lit(None).cast("string")


def _template_obj_cols(term: Term, df: DataFrame):
    """(value, type, datatype, lang) columns for a template OBJECT term."""
    kind, val = term
    if kind == "var":
        tcol = f"{val}__type"
        if tcol in df.columns:  # bound in object position: exact term kind
            return (
                F.col(val),
                F.coalesce(F.col(tcol), F.lit("iri")),
                F.col(f"{val}__datatype"),
                F.col(f"{val}__lang"),
            )
        # bound in subject/predicate/graph position → an IRI or bnode
        return (F.col(val), F.lit("iri"), _null_s(), _null_s())
    if kind == "iri":
        return (F.lit(val), F.lit("iri"), _null_s(), _null_s())
    if kind == "num":
        dtype = _XSD + ("integer" if isinstance(val, int) else "double")
        return (F.lit(str(val)), F.lit("literal"), F.lit(dtype), _null_s())
    return (F.lit(val), F.lit("literal"), F.lit(_XSD + "string"), _null_s())


def _template_node_col(term: Term) -> Column:
    kind, val = term
    return F.col(val) if kind == "var" else F.lit(val)


def _instantiate(template: list[Triple], df: DataFrame, default_graph: str | None) -> DataFrame:
    """Solutions × template → quads DataFrame (QUAD_COLUMNS order)."""
    parts = []
    g_default = F.lit(default_graph) if default_graph is not None else _null_s()
    for t in template:
        if isinstance(t.p, tuple) and t.p[0] == "path":
            raise SyntaxError("SPARQL: property paths are not allowed in templates")
        value, otype, dtype, lang = _template_obj_cols(t.o, df)
        parts.append(
            df.select(
                _template_node_col(t.s).alias("subject"),
                _template_node_col(t.p).alias("predicate"),
                value.alias("object_value"),
                otype.alias("object_type"),
                dtype.alias("object_datatype"),
                lang.alias("object_lang"),
                (_template_node_col(t.g) if t.g is not None else g_default).alias("graph"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def sparql_construct(
    quads: DataFrame, text: str, default_graph: str = "urn:graph:construct"
) -> DataFrame:
    """SPARQL CONSTRUCT → quads DataFrame. Object term kinds are carried
    through the BGP (hidden type columns), not guessed from lexical shape."""
    template, q = _Parser(text).parse_construct()
    df = _Compiler(quads, track_types=True).compile_group(q.group)
    if q.limit is not None:
        df = df.limit(q.limit)
    return _instantiate(template, df, default_graph)


def sparql_update_diff(quads: DataFrame, text: str):
    """SPARQL UPDATE text → Diff of quad rows for update/updater.apply_update
    (the reference routes RDF4J-parsed updates through Updater.scala).

    INSERT DATA / DELETE DATA take ground triples (graphless rows keep a
    NULL graph — apply_update routes adds to the subject's dominant graph
    and expands graphless removals to every matching statement).
    DELETE WHERE deletes every store quad matching the pattern."""
    from functools import reduce

    from pyspark.sql.types import StringType, StructField, StructType

    from ..rdf.model import QUAD_COLUMNS, local_relation
    from ..rdf.store import Diff

    def ground_rows(triples: list[Triple]):
        rows = []
        for t in triples:
            for term, pos in ((t.s, "s"), (t.p, "p")):
                if term[0] == "var":
                    raise SyntaxError("SPARQL UPDATE: DATA blocks must be ground")
            if t.o[0] == "var" or (t.g is not None and t.g[0] == "var"):
                raise SyntaxError("SPARQL UPDATE: DATA blocks must be ground")
            okind, oval = t.o
            if okind == "iri":
                obj = (oval, "iri", None, None)
            elif okind == "num":
                obj = (
                    str(oval),
                    "literal",
                    _XSD + ("integer" if isinstance(oval, int) else "double"),
                    None,
                )
            else:
                obj = (oval, "literal", _XSD + "string", None)
            rows.append((t.s[1], t.p[1], *obj, t.g[1] if t.g is not None else None))
        return rows

    # ground rows become one driver-local relation per side (no Spark job
    # to read them back); pattern matches stay DataFrames over the store
    added_rows, removed_rows = [], []
    added_frames, removed_frames = [], []
    for op, payload in _Parser(text).parse_update():
        if op == "insert_data":
            added_rows += ground_rows(payload)
        elif op == "delete_data":
            removed_rows += ground_rows(payload)
        elif op == "modify":
            # [DELETE {tmpl}] [INSERT {tmpl}] WHERE {pattern}: one solution
            # relation instantiates both templates
            del_tmpl, ins_tmpl, group = payload
            df = _Compiler(quads, track_types=True).compile_group(group)
            if del_tmpl:
                removed_frames.append(_instantiate(del_tmpl, df, None))
            if ins_tmpl:
                added_frames.append(_instantiate(ins_tmpl, df, None))
        else:  # delete_where: instantiate the pattern itself from matches
            group: Group = payload
            df = _Compiler(quads, track_types=True).compile_group(group)
            removed_frames.append(
                _instantiate([el for el in group.elements if isinstance(el, Triple)], df, None)
            )

    schema = StructType([StructField(c, StringType()) for c in QUAD_COLUMNS])

    def relation(rows, frames):
        ground = local_relation(quads.sparkSession, rows, schema)
        return reduce(DataFrame.unionByName, frames, ground)

    added, removed = relation(added_rows, added_frames), relation(removed_rows, removed_frames)
    return Diff(added=added, removed=removed)
