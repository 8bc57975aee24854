"""The SPARQL group algebra against a pure-Python reference model.

The model evaluates BGP, OPTIONAL, UNION, MINUS, VALUES (with UNDEF) and
FILTER (=, !=, BOUND) over lists of dicts under multiset semantics; a
missing key is an unbound variable. Random stores of at most 30 quads and
random group patterns are compiled by ``sparql_select`` and compared with
the model as multisets of projected rows.

The model follows the engine where it departs from SPARQL 1.1 on purpose:
an inner or OPTIONAL join matches two solutions only when every shared
variable is bound on both sides and equal (an equi-join never matches an
unbound value), and a run of adjacent triple patterns is one BGP, joined
before any VALUES that waits for the first pattern. MINUS uses SPARQL's
compatibility rule: an unbound shared variable agrees with anything, and
the two solutions must share at least one bound variable.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from thymeflow_back_spark.plans.sparql import sparql_select
from thymeflow_back_spark.rdf.model import make_quads

XSD_S = "http://www.w3.org/2001/XMLSchema#string"
IRIS = ["urn:s0", "urn:s1", "urn:s2"]
PREDS = ["urn:p0", "urn:p1"]
LITS = ["a", "b"]  # never equal to an IRI, so a value names one term
VARS = ["x", "y", "z"]


# --- the model ---------------------------------------------------------------


def _matches(a: dict, b: dict, shared) -> bool:
    return all(v in a and v in b and a[v] == b[v] for v in shared)


def _join(left, right, outer=False):
    (lv, lrows), (rv, rrows) = left, right
    shared = lv & rv
    out = []
    for a in lrows:
        hits = [{**a, **b} for b in rrows if _matches(a, b, shared)]
        out += hits or ([a] if outer else [])
    return lv | rv, out


def _join_values(result, values):
    (rv, rrows), (vv, vrows) = result, values
    shared = rv & vv
    out = [
        {**b, **a}
        for a in rrows
        for b in vrows
        if all(v not in b or (v in a and a[v] == b[v]) for v in shared)
    ]
    return rv | vv, out


def _minus(left, right):
    (lv, lrows), (mv, mrows) = left, right
    shared = lv & mv

    def removed(a):
        for b in mrows:
            both = [v for v in shared if v in a and v in b]
            if both and all(a[v] == b[v] for v in both):
                return True
        return False

    return lv, [a for a in lrows if not removed(a)]


def _triple(t, store):
    rows = []
    for quad in store:
        row: dict = {}
        for (kind, val), value in zip(t, quad[:3]):
            if kind != "var":
                ok = val == value
            else:
                ok = row.setdefault(val, value) == value
            if not ok:
                break
        else:
            rows.append(row)
    return {val for kind, val in t if kind == "var"}, rows


def _holds(f, row) -> bool:
    op, a, b = f
    if op == "bound":
        return a in row
    if op == "!bound":
        return a not in row
    right = b[1] if b[0] != "var" else row.get(b[1])
    if a not in row or right is None:
        return False
    return (row[a] == right) is (op == "=")


def evaluate(group, store):
    result, pending, bgp, filters = None, [], [], []

    def merge(rel):
        nonlocal result
        result = rel if result is None else _join(result, rel)
        while pending:
            result = _join_values(result, pending.pop(0))

    def flush():
        if bgp:
            rel = _triple(bgp[0], store)
            for t in bgp[1:]:
                rel = _join(rel, _triple(t, store))
            merge(rel)
            bgp.clear()

    for kind, body in group:
        if kind == "triple":
            bgp.append(body)
            continue
        flush()
        if kind == "union":
            merge((lambda a, b: (a[0] | b[0], a[1] + b[1]))(
                evaluate(body[0], store), evaluate(body[1], store)))
        elif kind == "optional":
            result = _join(result, evaluate(body, store), outer=True)
        elif kind == "minus":
            result = _minus(result, evaluate(body, store))
        elif kind == "values":
            names, rows = body
            rel = (set(names), [{n: v for n, v in zip(names, r) if v is not None} for r in rows])
            if result is None:
                pending.append(rel)
            else:
                result = _join_values(result, rel)
        elif kind == "filter":
            filters.append(body)
    flush()
    if result is None:
        result = pending.pop(0)
        while pending:
            result = _join_values(result, pending.pop(0))
    names, rows = result
    return names, [r for r in rows if all(_holds(f, r) for f in filters)]


# --- random stores and patterns, as model terms and as SPARQL text -----------


def _sparql_term(term) -> str:
    kind, val = term
    return {"var": f"?{val}", "iri": f"<{val}>", "lit": f'"{val}"'}[kind]


def _text(group) -> str:
    parts = []
    for kind, body in group:
        if kind == "triple":
            parts.append(" ".join(map(_sparql_term, body)) + " .")
        elif kind == "union":
            parts.append(f"{{ {_text(body[0])} }} UNION {{ {_text(body[1])} }}")
        elif kind in ("optional", "minus"):
            parts.append(f"{kind.upper()} {{ {_text(body)} }}")
        elif kind == "values":
            names, rows = body
            cells = lambda r: " ".join("UNDEF" if v is None else _sparql_term(_const(v)) for v in r)
            parts.append(f"VALUES ({' '.join('?' + n for n in names)}) {{ "
                         + " ".join(f"({cells(r)})" for r in rows) + " }")
        else:
            op, a, b = body
            if op in ("bound", "!bound"):
                parts.append(f"FILTER({'!' if op[0] == '!' else ''}BOUND(?{a}))")
            else:
                parts.append(f"FILTER(?{a} {op} {_sparql_term(b)})")
    return " ".join(parts)


def _const(value: str):
    return ("iri" if value.startswith("urn:") else "lit", value)


_var = st.sampled_from(VARS).map(lambda v: ("var", v))
_value = st.sampled_from(IRIS + LITS)
_triples = st.tuples(
    st.one_of(_var, st.sampled_from(IRIS).map(lambda v: ("iri", v))),
    st.one_of(st.sampled_from(PREDS).map(lambda v: ("iri", v)), _var),
    st.one_of(_var, _value.map(_const)),
)


def _vars(group) -> set:
    out = set()
    for kind, body in group:
        if kind == "triple":
            out |= {v for k, v in body if k == "var"}
        elif kind == "union":
            out |= _vars(body[0]) | _vars(body[1])
        elif kind == "optional":
            out |= _vars(body)
        elif kind == "values":
            out |= set(body[0])
    return out


@st.composite
def groups(draw, depth: int = 0):
    group = [("triple", draw(_triples))]
    for _ in range(draw(st.integers(0, 3))):
        kinds = ["triple", "values", "filter"] + (["optional", "union", "minus"] if depth < 2 else [])
        kind = draw(st.sampled_from(kinds))
        scope = sorted(_vars(group))
        if kind == "triple":
            group.append(("triple", draw(_triples)))
        elif kind == "values":
            names = draw(st.lists(st.sampled_from(VARS), min_size=1, max_size=2, unique=True))
            cell = st.one_of(st.none(), _value)
            rows = draw(st.lists(st.lists(cell, min_size=len(names), max_size=len(names)),
                                 min_size=1, max_size=3))
            group.insert(draw(st.integers(0, len(group))), ("values", (names, rows)))
        elif kind == "filter" and scope:
            var = draw(st.sampled_from(scope))
            op = draw(st.sampled_from(["=", "!=", "bound", "!bound"]))
            other = draw(st.one_of(_value.map(_const), st.sampled_from(scope).map(lambda v: ("var", v))))
            group.append(("filter", (op, var, other)))
        elif kind == "union":
            group.append(("union", (draw(groups(depth + 1)), draw(groups(depth + 1)))))
        elif kind in ("optional", "minus"):
            inner = draw(groups(depth + 1))
            if kind == "optional" and scope:
                # OPTIONAL shares a variable with what precedes it
                i = next(j for j, (k, _) in enumerate(inner) if k == "triple")
                s, p, o = inner[i][1]
                inner[i] = ("triple", (("var", draw(st.sampled_from(scope))), p, o))
            if kind == "minus" or scope:
                group.append((kind, inner))
    return group


_quads = st.lists(
    st.tuples(st.sampled_from(IRIS), st.sampled_from(PREDS), _value, st.sampled_from(["urn:g0", "urn:g1"])),
    max_size=30,
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(store=_quads, group=groups())
def test_group_algebra_matches_reference_model(spark, store, group):
    names, rows = evaluate(group, store)
    projected = sorted(names)
    assume(projected)
    quads = make_quads(spark, [
        (s, p, o, "iri", None, None, g) if o.startswith("urn:") else (s, p, o, "literal", XSD_S, None, g)
        for s, p, o, g in store
    ])
    text = f"SELECT {' '.join('?' + v for v in projected)} WHERE {{ {_text(group)} }}"
    got = Counter(tuple(r[v] for v in projected) for r in sparql_select(quads, text).collect())
    want = Counter(tuple(row.get(v) for v in projected) for row in rows)
    assert got == want, text
