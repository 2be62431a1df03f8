"""Differential testing of the SPARQL engine.

Random small graphs × random BGP+FILTER queries, evaluated two ways:
the Spark engine (``sparql_select``) vs an independent naive
solution-set evaluator written directly from SPARQL 1.1 §18.3's
definitions (pattern matching by full-term unification). Any
divergence in the result MULTISET is a bug in one of them — the naive
evaluator shares no code with the engine, so agreement pins the BGP
join/term semantics the way the reference's Jena results would.
"""

from __future__ import annotations

import itertools
from collections import Counter

import pytest

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYP = True
except ImportError:  # pragma: no cover
    HAVE_HYP = False

from r2rml_parser_spark.plans.sparql import sparql_select

COLS = "subj subj_kind pred obj obj_kind lang dtype".split()
EX = "http://ex.org/"

# term = (value, kind, lang, dtype) — lang/dtype normalized to ''
SUBJECTS = [(EX + f"s{i}", "iri", "", "") for i in range(4)] + [
    (f"b{i}", "bnode", "", "") for i in range(2)
]
PREDS = [EX + f"p{i}" for i in range(3)]
OBJECTS = (
    SUBJECTS[:3]
    + [
        ("alpha", "literal", "", ""),
        ("alpha", "literal", "en", ""),
        ("5", "literal", "", "http://www.w3.org/2001/XMLSchema#integer"),
        ("5", "literal", "", ""),
        (EX + "s0", "literal", "", ""),  # literal spoofing an IRI
    ]
)

if HAVE_HYP:
    triple_st = st.tuples(
        st.sampled_from(SUBJECTS), st.sampled_from(PREDS), st.sampled_from(OBJECTS)
    )
    graph_st = st.lists(triple_st, min_size=1, max_size=12, unique=True)
    VARS = ["a", "b", "c"]
    s_term_st = st.one_of(
        st.sampled_from([("var", v) for v in VARS]),
        st.sampled_from([("const", t) for t in SUBJECTS]),
    )
    p_term_st = st.one_of(
        st.sampled_from([("var", v) for v in VARS]),
        st.sampled_from([("const", (p, "iri", "", "")) for p in PREDS]),
    )
    o_term_st = st.one_of(
        st.sampled_from([("var", v) for v in VARS]),
        st.sampled_from([("const", t) for t in OBJECTS]),
    )
    pattern_st = st.tuples(s_term_st, p_term_st, o_term_st)
    query_st = st.lists(pattern_st, min_size=1, max_size=3)


def term_sparql(t):
    val, kind, lang, dtype = t
    if kind == "iri":
        return f"<{val}>"
    if kind == "bnode":
        # query syntax has no stable bnode ref; use a variable-free
        # query only via subjects — skip by mapping to a fresh IRI is
        # wrong, so bnode constants never appear in queries (filtered
        # in term strategies: SUBJECTS includes bnodes — handle here)
        return None
    esc = val.replace("\\", "\\\\").replace('"', '\\"')
    if lang:
        return f'"{esc}"@{lang}'
    if dtype:
        return f'"{esc}"^^<{dtype}>'
    return f'"{esc}"'


def naive_eval(graph, patterns):
    """All solution mappings for the BGP, full-term unification."""
    sols = [dict()]
    for s, p, o in patterns:
        nxt = []
        for binding in sols:
            for subj, pred, obj in graph:
                b = dict(binding)
                ok = True
                for term, actual in ((s, subj), (p, (pred, "iri", "", "")), (o, obj)):
                    mode, v = term
                    if mode == "const":
                        if v != actual:
                            ok = False
                            break
                    else:
                        if v in b and b[v] != actual:
                            ok = False
                            break
                        b[v] = actual
                if ok:
                    nxt.append(b)
        sols = nxt
    return sols


def used_vars(patterns):
    return sorted({v for pat in patterns for mode, v in pat if mode == "var"})


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=12, deadline=None)
@given(graph=graph_st, patterns=query_st)
def test_bgp_differential(spark, graph, patterns):
    # reject queries that would need bnode constants in syntax
    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    vars_ = used_vars(patterns)
    if not vars_:
        return  # SELECT needs at least one variable
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {' '.join(parts)} }}"
    got = Counter(tuple(r[v] for v in vars_) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] for v in vars_) for b in naive_eval(graph, patterns)
    )
    assert got == want, f"query {q!r} diverged"


if HAVE_HYP:
    # =/!= constants: exclude the numeric-TYPED term (it pins SPARQL's
    # numeric value equality, which the naive term-equality evaluator
    # deliberately does not model)
    FILTER_CONSTS = [t for t in OBJECTS if not t[3]]
    filter_st = st.tuples(
        st.sampled_from(VARS), st.sampled_from(["=", "!="]),
        st.sampled_from(FILTER_CONSTS),
    )


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=12, deadline=None)
@given(graph=graph_st, patterns=query_st, flt=filter_st if HAVE_HYP else st.none())
def test_bgp_filter_differential(spark, graph, patterns, flt):
    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    vars_ = used_vars(patterns)
    fvar, fop, fconst = flt
    if fvar not in vars_:
        return  # FILTER on an unbound var is (correctly) rejected
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    q = (
        f"SELECT {' '.join('?' + v for v in vars_)} WHERE "
        f"{{ {' '.join(parts)} FILTER (?{fvar} {fop} {term_sparql(fconst)}) }}"
    )
    got = Counter(tuple(r[v] for v in vars_) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] for v in vars_)
        for b in naive_eval(graph, patterns)
        if (b[fvar] == fconst) == (fop == "=")
    )
    assert got == want, f"query {q!r} diverged"


def naive_union_join(graph, req_patterns, branch_a, branch_b):
    """Join(BGP(req), Union(BGP(a), BGP(b))) per SPARQL 1.1 §18.5:
    solution mappings with DIFFERENT domains; μ1 ~ μ2 iff they agree on
    dom(μ1) ∩ dom(μ2); merge = μ1 ∪ μ2. Bag semantics throughout."""
    left = naive_eval(graph, req_patterns) if req_patterns else [dict()]
    right = naive_eval(graph, branch_a) + naive_eval(graph, branch_b)
    out = []
    for m1 in left:
        for m2 in right:
            if all(m1[v] == m2[v] for v in m1.keys() & m2.keys()):
                out.append({**m1, **m2})
    return out


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(
    graph=graph_st,
    req=st.lists(pattern_st, min_size=0, max_size=2) if HAVE_HYP else st.none(),
    br_a=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
    br_b=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
)
def test_union_mixed_vars_differential(spark, graph, req, br_a, br_b):
    # mixed-variable UNION + unbound-compatible join vs the naive §18.5
    # evaluator: branches may bind different variable sets, and the
    # required patterns join the union with compatibility semantics
    for pats in (req, br_a, br_b):
        for pat in pats:
            for mode, v in pat:
                if mode == "const" and v[1] == "bnode":
                    return
    all_vars = sorted(set(used_vars(req)) | set(used_vars(br_a)) | set(used_vars(br_b)))
    if not all_vars:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))

    def fmt_pats(pats):
        parts = []
        for s, p, o in pats:
            def fmt(term):
                mode, v = term
                return f"?{v}" if mode == "var" else term_sparql(v)
            parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
        return " ".join(parts)

    q = (
        f"SELECT {' '.join('?' + v for v in all_vars)} WHERE {{ "
        f"{fmt_pats(req)} "
        f"{{ {fmt_pats(br_a)} }} UNION {{ {fmt_pats(br_b)} }} }}"
    )
    got = Counter(tuple(r[v] for v in all_vars) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in all_vars)
        for b in naive_union_join(graph, req, br_a, br_b)
    )
    assert got == want, f"query {q!r} diverged"


def naive_alt_eval(graph, patterns):
    """naive_eval extended with ("alt", [p1, p2, ...]) predicate terms:
    the pattern matches when the triple's predicate is ANY alternative
    (exact bag semantics for pairwise-distinct IRIs — each triple
    matches exactly one branch of the §18.4 alternation union)."""
    sols = [dict()]
    for s, p, o in patterns:
        nxt = []
        for binding in sols:
            for subj, pred, obj in graph:
                if p[0] == "alt":
                    if pred not in p[1]:
                        continue
                    terms = ((s, subj), (o, obj))
                else:
                    terms = ((s, subj), (p, (pred, "iri", "", "")), (o, obj))
                b = dict(binding)
                ok = True
                for term, actual in terms:
                    mode, v = term
                    if mode == "const":
                        if v != actual:
                            ok = False
                            break
                    else:
                        if v in b and b[v] != actual:
                            ok = False
                            break
                        b[v] = actual
                if ok:
                    nxt.append(b)
        sols = nxt
    return sols


if HAVE_HYP:
    alt_preds_st = st.lists(
        st.sampled_from(PREDS), min_size=2, max_size=3, unique=True
    )


def _fmt_alt_pattern(s, preds, o):
    def fmt(term):
        mode, v = term
        return f"?{v}" if mode == "var" else term_sparql(v)

    alt = "|".join(f"<{p}>" for p in preds)
    return f"{fmt(s)} ({alt}) {fmt(o)} ."


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=12, deadline=None)
@given(
    graph=graph_st,
    patterns=query_st,
    alt_s=s_term_st if HAVE_HYP else st.none(),
    alt_preds=alt_preds_st if HAVE_HYP else st.none(),
    alt_o=o_term_st if HAVE_HYP else st.none(),
)
def test_alternation_predset_differential(spark, graph, patterns, alt_s, alt_preds, alt_o):
    # one (p1|p2[|p3]) pattern joined with 1-3 plain patterns: the
    # engine's pred-IN collapse vs the naive §18.4 branch union
    all_pats = patterns + [(alt_s, ("alt", alt_preds), alt_o)]
    for pat in all_pats:
        for mode, v in pat:
            if mode == "const" and isinstance(v, tuple) and v[1] == "bnode":
                return
    vars_ = sorted(
        {v for pat in all_pats for mode, v in pat if mode == "var" and mode != "alt"}
        - {None}
    )
    vars_ = [v for v in vars_ if isinstance(v, str) and len(v) == 1]
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    parts.append(_fmt_alt_pattern(alt_s, alt_preds, alt_o))
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {' '.join(parts)} }}"
    got = Counter(tuple(r[v] for v in vars_) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] for v in vars_) for b in naive_alt_eval(graph, all_pats)
    )
    assert got == want, f"query {q!r} diverged"


def naive_left_join(req_sols, opt_sols):
    """SPARQL LeftJoin(A, B): μ1 extended by every compatible μ2, else
    μ1 alone (§18.5; compatibility = agreement on shared vars)."""
    out = []
    for m1 in req_sols:
        merged = []
        for m2 in opt_sols:
            if all(m1[k] == v for k, v in m2.items() if k in m1):
                mm = dict(m2)
                mm.update(m1)
                merged.append(mm)
        out.extend(merged if merged else [m1])
    return out


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=12, deadline=None)
@given(
    graph=graph_st,
    patterns=query_st,
    alt_preds=alt_preds_st if HAVE_HYP else st.none(),
    alt_o=o_term_st if HAVE_HYP else st.none(),
)
def test_alternation_in_optional_differential(spark, graph, patterns, alt_preds, alt_o):
    # OPTIONAL { ?shared (p1|p2) o }: engine left join over the predset
    # scan vs naive §18.5 LeftJoin over the naive branch union
    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    if alt_o[0] == "const" and alt_o[1][1] == "bnode":
        return
    req_vars = used_vars(patterns)
    if not req_vars:
        return
    shared = req_vars[0]
    if alt_o == ("var", shared):
        return  # degenerate: both endpoints the same var
    opt_pat = (("var", shared), ("alt", alt_preds), alt_o)
    opt_vars = [v for mode, v in (opt_pat[0], opt_pat[2]) if mode == "var"]
    vars_ = sorted(set(req_vars) | set(opt_vars))
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    q = (
        f"SELECT {' '.join('?' + v for v in vars_)} WHERE "
        f"{{ {' '.join(parts)} OPTIONAL {{ {_fmt_alt_pattern(opt_pat[0], alt_preds, alt_o)} }} }}"
    )
    got = Counter(tuple(r[v] for v in vars_) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in naive_left_join(
            naive_eval(graph, patterns), naive_alt_eval(graph, [opt_pat])
        )
    )
    assert got == want, f"query {q!r} diverged"


# -- full property-path differential (r4) ------------------------------
#
# Random path ASTs over the full grammar — predicates, negated sets,
# inverse, sequence, alternation, and + * ? closures on any element —
# evaluated by the engine between two variable endpoints vs an
# independent evaluator written directly from SPARQL 1.1 §18.4:
# bag semantics for seq (multiplicity = intermediate paths) and alt
# (concat), SET semantics for closures, zero-length identity over
# every graph node for * and ?.

def _graph_nodes(graph):
    return {s for s, _, _ in graph} | {o for _, _, o in graph}


def naive_path_pairs(graph, ast):
    k = ast[0]
    if k == "pred":
        return [(s, o) for s, p, o in graph if p == ast[1]]
    if k == "negset":
        return [(s, o) for s, p, o in graph if p not in ast[1]]
    if k == "inv":
        return [(o, s) for s, o in naive_path_pairs(graph, ast[1])]
    if k == "seq":
        e1 = naive_path_pairs(graph, ast[1])
        e2 = naive_path_pairs(graph, ast[2])
        return [(a, b) for a, m in e1 for m2, b in e2 if m == m2]
    if k == "alt":
        return naive_path_pairs(graph, ast[1]) + naive_path_pairs(graph, ast[2])
    assert k == "closure"
    base = set(naive_path_pairs(graph, ast[1]))
    mod = ast[2]
    if mod == "?":
        return sorted(base | {(n, n) for n in _graph_nodes(graph)})
    closure = set(base)
    while True:
        new = {
            (a, d) for (a, b) in closure for (c, d) in closure if b == c
        } - closure
        if not new:
            break
        closure |= new
    if mod == "*":
        closure |= {(n, n) for n in _graph_nodes(graph)}
    return sorted(closure)


def render_path(ast):
    k = ast[0]
    if k == "pred":
        return f"<{ast[1]}>"
    if k == "negset":
        return "!(" + "|".join(f"<{i}>" for i in ast[1]) + ")"
    if k == "inv":
        return "^(" + render_path(ast[1]) + ")"
    if k == "seq":
        return f"({render_path(ast[1])})/({render_path(ast[2])})"
    if k == "alt":
        return f"({render_path(ast[1])})|({render_path(ast[2])})"
    assert k == "closure"
    return "(" + render_path(ast[1]) + ")" + ast[2]


if HAVE_HYP:
    _path_base_st = st.one_of(
        st.sampled_from([("pred", p) for p in PREDS]),
        st.builds(
            lambda iris: ("negset", tuple(sorted(set(iris)))),
            st.lists(st.sampled_from(PREDS), min_size=1, max_size=2),
        ),
    )
    path_ast_st = st.recursive(
        _path_base_st,
        lambda children: st.one_of(
            st.builds(lambda e: ("inv", e), children),
            st.builds(lambda a, b: ("seq", a, b), children, children),
            st.builds(lambda a, b: ("alt", a, b), children, children),
            st.builds(
                lambda e, m: ("closure", e, m),
                children,
                st.sampled_from(["+", "*", "?"]),
            ),
        ),
        max_leaves=3,
    )


def alp_zero_length(ast):
    """How many zero-length solutions a path evaluated FROM a term that
    is not a graph node yields (§18.4 ALP: a constant endpoint of
    ``*``/``?`` pairs with itself; sequences chain through it,
    alternatives add up; a step or ``+`` needs an edge at the term)."""
    k = ast[0]
    if k in ("pred", "negset"):
        return 0
    if k == "inv":
        return alp_zero_length(ast[1])
    if k == "seq":
        return alp_zero_length(ast[1]) * alp_zero_length(ast[2])
    if k == "alt":
        return alp_zero_length(ast[1]) + alp_zero_length(ast[2])
    return 0 if ast[2] == "+" else 1


ABSENT_IRI = (EX + "nowhere", "iri", "", "")

if HAVE_HYP:
    # path endpoints: both variables, or one of them a constant term —
    # a graph node or a term the graph does not contain
    _s_const_st = st.sampled_from([t for t in SUBJECTS if t[1] == "iri"] + [ABSENT_IRI])
    _o_const_st = st.sampled_from(
        [t for t in OBJECTS if t[1] != "bnode"]
        + [ABSENT_IRI, ("omega", "literal", "", "")]
    )
    path_ends_st = st.one_of(
        st.just((None, None)),
        st.tuples(_s_const_st, st.none()),
        st.tuples(st.none(), _o_const_st),
    )


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(
    graph=graph_st,
    ast=path_ast_st if HAVE_HYP else st.none(),
    ends=path_ends_st if HAVE_HYP else st.none(),
)
def test_full_path_grammar_differential(spark, graph, ast, ends):
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    s_end, o_end = ends
    subj = "?a" if s_end is None else term_sparql(s_end)
    obj = "?b" if o_end is None else term_sparql(o_end)
    proj = " ".join(v for v in (subj, obj) if v.startswith("?"))
    q = f"SELECT {proj} WHERE {{ {subj} {render_path(ast)} {obj} }}"
    got = Counter(tuple(r) for r in sparql_select(g, q).collect())
    pairs = naive_path_pairs(graph, ast)
    const = s_end or o_end
    if const is not None and const not in _graph_nodes(graph):
        pairs = pairs + [(const, const)] * alp_zero_length(ast)
    want = Counter(
        tuple(t[0] for t, end in ((s, s_end), (o, o_end)) if end is None)
        for s, o in pairs
        if s_end in (None, s) and o_end in (None, o)
    )
    assert got == want, f"query {q!r} diverged"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=8, deadline=None)
@given(graph=graph_st, ast=path_ast_st if HAVE_HYP else st.none())
def test_full_path_in_optional_differential(spark, graph, ast):
    # OPTIONAL { ?a <full-path> ?b } — alternation distributed into
    # UNION branches (or predset/sequence fast paths, whichever the
    # shape takes) vs naive §18.5 LeftJoin over the §18.4 path pairs
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    req = [(("var", "a"), ("const", (PREDS[0], "iri", "", "")), ("var", "c"))]
    q = (
        "SELECT ?a ?b ?c WHERE { "
        f"?a <{PREDS[0]}> ?c . OPTIONAL {{ ?a {render_path(ast)} ?b }} }}"
    )
    req_sols = naive_eval(graph, req)
    opt_sols = [
        {"a": s, "b": o} for s, o in naive_path_pairs(graph, ast)
    ]
    got = Counter(
        (r.a, r.b, r.c) for r in sparql_select(g, q).collect()
    )
    want = Counter(
        (b["a"][0], b["b"][0] if "b" in b else None, b["c"][0])
        for b in naive_left_join(req_sols, opt_sols)
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Parenthesized-arithmetic differential: random expression TREES over
# +, -, * (exact in decimal — division precision is unit-tested
# separately), rendered with explicit parentheses around every binary
# node, engine-evaluated through BIND and compared against direct
# integer evaluation of the same AST. Agreement pins the §19.8
# bracketted-primary ladder: the string Spark parses has the same
# shape hypothesis generated, so any associativity/precedence/paren
# bug in the parser shows up as a value divergence.
if HAVE_HYP:
    arith_leaf_st = st.one_of(
        st.just(("var",)),
        st.tuples(st.just("const"), st.integers(min_value=-3, max_value=9)),
    )
    arith_expr_st = st.recursive(
        arith_leaf_st,
        lambda children: st.tuples(
            st.sampled_from(["+", "-", "*"]), children, children
        ),
        max_leaves=8,
    )


def render_arith(ast) -> str:
    if ast == ("var",):
        return "?n"
    if ast[0] == "const":
        return str(ast[1])
    op, a, b = ast
    return f"({render_arith(a)} {op} {render_arith(b)})"


def eval_arith(ast, n: int) -> int:
    if ast == ("var",):
        return n
    if ast[0] == "const":
        return ast[1]
    op, a, b = ast
    av, bv = eval_arith(a, n), eval_arith(b, n)
    return av + bv if op == "+" else av - bv if op == "-" else av * bv


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=15, deadline=None)
@given(ast=arith_expr_st if HAVE_HYP else st.none())
def test_parenthesized_arith_differential(spark, ast):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    ages = [9, 10, 11]
    rows = [
        (EX + f"s{i}", "iri", EX + "age", str(v), "literal", None, XSD_INT)
        for i, v in enumerate(ages)
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = (
        "PREFIX ex: <http://ex.org/> SELECT ?s ?d WHERE "
        f"{{ ?s ex:age ?n . BIND({render_arith(ast)} AS ?d) }}"
    )
    got = {(r.s, r.d) for r in sparql_select(g, q).collect()}
    want = {
        (EX + f"s{i}", str(eval_arith(ast, v))) for i, v in enumerate(ages)
    }
    assert got == want, f"query {q!r} diverged"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(graph=graph_st, patterns=query_st)
def test_aggregate_differential(spark, graph, patterns):
    """GROUP BY + COUNT/SUM/COUNT DISTINCT vs a direct §18.5
    evaluation over the naive solution multiset: group by the FULL
    term of ?a, COUNT counts bound ?b, SUM folds decimal-castable
    lexicals and is UNBOUND for any group holding a bound uncastable
    value (§18.5.1.5 strict error propagation, the W3C agg-err
    behavior; unbound values are skipped), COUNT(DISTINCT) dedups
    full terms."""
    from decimal import Decimal, InvalidOperation

    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    vars_ = used_vars(patterns)
    if "a" not in vars_ or "b" not in vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    q = (
        "SELECT ?a (COUNT(?b) AS ?cnt) (SUM(?b) AS ?tot) "
        "(COUNT(DISTINCT ?b) AS ?nd) "
        f"WHERE {{ {' '.join(parts)} }} GROUP BY ?a"
    )
    got = Counter(
        (r.a, r.cnt, None if r.tot is None else float(r.tot), r.nd)
        for r in sparql_select(g, q).collect()
    )
    groups: dict[tuple, list] = {}
    for b in naive_eval(graph, patterns):
        groups.setdefault(b["a"], []).append(b.get("b"))
    want: Counter = Counter()
    for key, bs in groups.items():
        bound = [t for t in bs if t is not None]
        tot = None
        for t in bound:
            try:
                v = Decimal(t[0])
            except InvalidOperation:
                tot = None  # bound uncastable errors the whole group
                break
            tot = v if tot is None else tot + v
        want[(
            key[0],
            len(bound),
            None if tot is None else float(tot),
            len(set(bound)),
        )] += 1
    assert got == want, f"query {q!r} diverged"


if HAVE_HYP:
    VALUES_CELLS = [None] + [t for t in OBJECTS if t[1] != "bnode"]
    values_rows_st = st.lists(
        st.tuples(st.sampled_from(VALUES_CELLS), st.sampled_from(VALUES_CELLS)),
        min_size=1,
        max_size=3,
    )


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(graph=graph_st, patterns=query_st, vrows=values_rows_st if HAVE_HYP else st.none())
def test_values_undef_differential(spark, graph, patterns, vrows):
    """VALUES (?a ?b) { ... } with UNDEF cells vs direct §18.5 Join
    compatibility over the naive solution multiset: an UNDEF cell is
    compatible with anything and the solution keeps its own binding;
    a bound cell must equal the solution's FULL term."""
    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    vars_ = used_vars(patterns)
    if "a" not in vars_ or "b" not in vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")

    def cell_sparql(c):
        return "UNDEF" if c is None else term_sparql(c)

    vblock = " ".join(
        f"({cell_sparql(ca)} {cell_sparql(cb)})" for ca, cb in vrows
    )
    q = (
        "SELECT ?a ?b WHERE { "
        + " ".join(parts)
        + f" VALUES (?a ?b) {{ {vblock} }} }}"
    )
    got = Counter((r.a, r.b) for r in sparql_select(g, q).collect())
    want: Counter = Counter()
    for b in naive_eval(graph, patterns):
        for ca, cb in vrows:
            ok = True
            for var, cell in (("a", ca), ("b", cb)):
                if cell is not None and b[var] != cell:
                    ok = False
                    break
            if ok:
                want[(b["a"][0], b["b"][0])] += 1
    assert got == want, f"query {q!r} diverged"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(graph=graph_st, patterns=query_st)
def test_subquery_postagg_differential(spark, graph, patterns):
    """(late r4) §18.2.4.4 post-aggregation SELECT expression INSIDE a
    { SELECT } subquery vs direct evaluation over the naive solution
    multiset: group by the FULL term of ?a, the expression
    SUM(?b) * 2 - COUNT(?b) extends each group (SUM folds
    decimal-castable literal lexicals and errors the whole group on a
    bound uncastable value, matching the engine's strict §18.5.1.5
    aggregate semantics), and the derived alias
    plus the aggregate alias project through the outer query."""
    from decimal import Decimal, InvalidOperation

    for pat in patterns:
        for mode, v in pat:
            if mode == "const" and v[1] == "bnode":
                return
    vars_ = used_vars(patterns)
    if "a" not in vars_ or "b" not in vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    parts = []
    for s, p, o in patterns:
        def fmt(term):
            mode, v = term
            return f"?{v}" if mode == "var" else term_sparql(v)
        parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
    q = (
        "SELECT ?a ?x ?cnt WHERE { "
        "{ SELECT ?a (SUM(?b) * 2 - COUNT(?b) AS ?x) (COUNT(?b) AS ?cnt) "
        f"WHERE {{ {' '.join(parts)} }} GROUP BY ?a }} }}"
    )
    got = Counter(
        (r.a, None if r.x is None else float(r.x), r.cnt)
        for r in sparql_select(g, q).collect()
    )
    groups: dict[tuple, list] = {}
    for b in naive_eval(graph, patterns):
        groups.setdefault(b["a"], []).append(b.get("b"))
    want: Counter = Counter()
    for key, bs in groups.items():
        bound = [t for t in bs if t is not None]
        tot = None
        for t in bound:
            try:
                v = Decimal(t[0])
            except InvalidOperation:
                tot = None  # bound uncastable errors the whole group
                break
            tot = v if tot is None else tot + v
        x = None if tot is None else float(tot * 2 - len(bound))
        want[(key[0], x, len(bound))] += 1
    assert got == want, f"query {q!r} diverged"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=10, deadline=None)
@given(
    graph=graph_st,
    br_a=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
    br_b=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
    br_c=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
    br_d=st.lists(pattern_st, min_size=1, max_size=2) if HAVE_HYP else st.none(),
)
def test_two_sided_compat_join_differential(spark, graph, br_a, br_b, br_c, br_d):
    """(late r4) TWO mixed-variable UNIONs joined: a shared variable
    may be unbound on BOTH sides, exercising the two-sided
    compatible-join decomposition vs the naive §18.5 evaluator (μ1 ~ μ2
    iff they agree on dom(μ1) ∩ dom(μ2); merge keeps whichever side is
    bound, neither-bound stays unbound). Queries exceeding the
    decomposition's mask-bit cap are rejected by the engine — skipped
    here, the cap has its own unit coverage."""
    for pats in (br_a, br_b, br_c, br_d):
        for pat in pats:
            for mode, v in pat:
                if mode == "const" and v[1] == "bnode":
                    return
    all_vars = sorted(
        set(used_vars(br_a)) | set(used_vars(br_b))
        | set(used_vars(br_c)) | set(used_vars(br_d))
    )
    if not all_vars:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))

    def fmt_pats(pats):
        parts = []
        for s, p, o in pats:
            def fmt(term):
                mode, v = term
                return f"?{v}" if mode == "var" else term_sparql(v)
            parts.append(f"{fmt(s)} {fmt(p)} {fmt(o)} .")
        return " ".join(parts)

    q = (
        f"SELECT {' '.join('?' + v for v in all_vars)} WHERE {{ "
        f"{{ {fmt_pats(br_a)} }} UNION {{ {fmt_pats(br_b)} }} "
        f"{{ {fmt_pats(br_c)} }} UNION {{ {fmt_pats(br_d)} }} }}"
    )
    try:
        res = sparql_select(g, q).collect()
    except Exception as exc:  # cap or guard rejection — not a divergence
        from r2rml_parser_spark.plans.sparql import SparqlError as SE

        assert isinstance(exc, SE), exc
        return
    got = Counter(tuple(r[v] for v in all_vars) for r in res)
    left = naive_eval(graph, br_a) + naive_eval(graph, br_b)
    right = naive_eval(graph, br_c) + naive_eval(graph, br_d)
    merged = []
    for m1 in left:
        for m2 in right:
            if all(m1[v] == m2[v] for v in m1.keys() & m2.keys()):
                merged.append({**m1, **m2})
    want = Counter(
        tuple(b[v][0] if v in b else None for v in all_vars) for b in merged
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Textual timeline differential (full r4): random element SEQUENCES —
# patterns, OPTIONAL, MINUS, BIND, UNION, VALUES interleaved in textual
# order — evaluated by the engine vs a naive fold of SPARQL 1.1 §18.2's
# group translation (Join / LeftJoin / Minus / Extend applied at each
# element's own position). The engine may REJECT a sequence (SparqlError
# is a safe outcome, asserted nowhere below); any sequence it ACCEPTS
# must match the naive multiset exactly — this is the guard against the
# silent-reordering bugs the timeline walk exists to prevent.
# ---------------------------------------------------------------------------


def _naive_compatible(m1, m2):
    return all(m2.get(k, v) == v for k, v in m1.items() if k in m2)


def _naive_join(left, right):
    return [
        {**m1, **m2}
        for m1 in left
        for m2 in right
        if _naive_compatible(m1, m2)
    ]


def _naive_leftjoin(left, right):
    out = []
    for m1 in left:
        matches = [{**m1, **m2} for m2 in right if _naive_compatible(m1, m2)]
        out.extend(matches if matches else [m1])
    return out


def _naive_minus(left, right):
    return [
        m1
        for m1 in left
        if not any(
            _naive_compatible(m1, m2) and set(m1) & set(m2) for m2 in right
        )
    ]


def _naive_group(graph, payload):
    """A group payload: one triple pattern, or (nested groups) an
    element sequence folded recursively."""
    if isinstance(payload, list):
        return naive_timeline_eval(graph, payload)
    return naive_eval(graph, [payload])


def naive_timeline_eval(graph, elements):
    """Fold the element sequence per §18.2: G := Join/LeftJoin/Minus/
    Extend(G, element) in TEXTUAL order, each OPTIONAL/MINUS/UNION
    group evaluated on its own first (bottom-up). BIND models the
    engine's documented STR leniency (lexical form of any bound term;
    unbound source → target unbound, row kept)."""
    sols = [dict()]
    for kind, payload in elements:
        if kind == "pattern":
            sols = _naive_join(sols, naive_eval(graph, [payload]))
        elif kind == "optional":
            sols = _naive_leftjoin(sols, _naive_group(graph, payload))
        elif kind == "minus":
            sols = _naive_minus(sols, _naive_group(graph, payload))
        elif kind == "union":
            a, b = payload
            sols = _naive_join(
                sols, _naive_group(graph, a) + _naive_group(graph, b)
            )
        elif kind == "bind":
            src, tgt = payload
            sols = [
                {**m, tgt: (m[src][0], "literal", "", "")} if src in m else m
                for m in sols
            ]
        else:
            assert kind == "values"
            var, consts = payload
            rows = [{} if c is None else {var: c} for c in consts]
            sols = _naive_join(sols, rows)
    return sols


def _render_group(payload):
    """The inside of a group's braces: one pattern or a sequence."""
    if isinstance(payload, list):
        return " ".join(_render_element(k, p) for k, p in payload)
    return _render_element("pattern", payload)


def _render_element(kind, payload):
    def fmt(term):
        mode, v = term
        return f"?{v}" if mode == "var" else term_sparql(v)

    if kind == "pattern":
        s, p, o = payload
        return f"{fmt(s)} {fmt(p)} {fmt(o)} ."
    if kind == "optional":
        return f"OPTIONAL {{ {_render_group(payload)} }}"
    if kind == "minus":
        return f"MINUS {{ {_render_group(payload)} }}"
    if kind == "union":
        a, b = payload
        return f"{{ {_render_group(a)} }} UNION {{ {_render_group(b)} }}"
    if kind == "bind":
        src, tgt = payload
        return f"BIND(STR(?{src}) AS ?{tgt})"
    assert kind == "values"
    var, consts = payload
    cells = " ".join("UNDEF" if c is None else term_sparql(c) for c in consts)
    return f"VALUES ?{var} {{ {cells} }}"


if HAVE_HYP:
    _nonb_s = st.sampled_from(
        [("var", v) for v in VARS]
        + [("const", t) for t in SUBJECTS if t[1] != "bnode"]
    )
    _el_pattern = st.tuples(_nonb_s, p_term_st, o_term_st).filter(
        lambda pat: not any(
            m == "const" and v[1] == "bnode" for m, v in pat
        )
    )
    _el_st = st.one_of(
        st.tuples(st.just("pattern"), _el_pattern),
        st.tuples(st.just("optional"), _el_pattern),
        st.tuples(st.just("minus"), _el_pattern),
        st.tuples(st.just("union"), st.tuples(_el_pattern, _el_pattern)),
        st.tuples(
            st.just("bind"),
            st.tuples(st.sampled_from(VARS), st.sampled_from(["t1", "t2"])),
        ),
        st.tuples(
            st.just("values"),
            st.tuples(
                st.sampled_from(VARS),
                st.lists(
                    st.one_of(
                        st.none(),
                        st.sampled_from(
                            [t for t in OBJECTS if t[1] != "bnode"]
                        ),
                    ),
                    min_size=1,
                    max_size=2,
                ),
            ),
        ),
    )
    timeline_st = st.lists(_el_st, min_size=1, max_size=3)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=60, deadline=None)
@given(graph=graph_st, first=_el_pattern if HAVE_HYP else st.none(),
       rest=timeline_st if HAVE_HYP else st.none())
def test_textual_timeline_differential(spark, graph, first, rest):
    from r2rml_parser_spark.plans.sparql import SparqlError

    elements = [("pattern", first)] + rest
    # distinct BIND targets (engine requires fresh variables)
    tgts = [p[1] for k, p in elements if k == "bind"]
    if len(tgts) != len(set(tgts)):
        return
    # every variable ever mentioned (projection set)
    vars_ = sorted(
        {
            v
            for k, p in elements
            for v in (
                [t[1] for t in p if t[0] == "var"]
                if k in ("pattern", "optional", "minus")
                else [t[1] for pat in p for t in pat if t[0] == "var"]
                if k == "union"
                else list(p[:2])
                if k == "bind"
                else [p[0]]
            )
        }
    )
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = " ".join(_render_element(k, p) for k, p in elements)
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in naive_timeline_eval(graph, elements)
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Nested groups: OPTIONAL, MINUS and UNION-branch payloads are element
# sequences themselves (depth ≤ 2), so every braced group carries the
# full group grammar — MINUS/UNION/VALUES inside OPTIONAL, patterns
# after a nested OPTIONAL — and the naive fold recurses over them.
# Sequences of patterns, OPTIONAL, MINUS, UNION and VALUES must all be
# ACCEPTED (each group starts with a pattern, so every OPTIONAL/MINUS
# has a required part; two variables keep every compatible join under
# the engine's mask-bit cap) and match the naive multiset.
# ---------------------------------------------------------------------------

if HAVE_HYP:
    _VARS2 = ["a", "b"]
    _pat2 = st.tuples(
        st.sampled_from(
            [("var", v) for v in _VARS2]
            + [("const", t) for t in SUBJECTS if t[1] != "bnode"]
        ),
        st.sampled_from(
            [("var", v) for v in _VARS2]
            + [("const", (p, "iri", "", "")) for p in PREDS]
        ),
        st.sampled_from(
            [("var", v) for v in _VARS2]
            + [("const", t) for t in OBJECTS if t[1] != "bnode"]
        ),
    )
    _values2 = st.tuples(
        st.just("values"),
        st.tuples(
            st.sampled_from(_VARS2),
            st.lists(
                st.one_of(
                    st.none(),
                    st.sampled_from([t for t in OBJECTS if t[1] != "bnode"]),
                ),
                min_size=1,
                max_size=2,
            ),
        ),
    )

    def _seq_st(el_st):
        return st.tuples(_pat2, st.lists(el_st, max_size=2)).map(
            lambda t: [("pattern", t[0])] + t[1]
        )

    _flat_seq = _seq_st(st.one_of(
        st.tuples(st.just("pattern"), _pat2),
        st.tuples(st.just("optional"), _pat2),
        st.tuples(st.just("minus"), _pat2),
        st.tuples(st.just("union"), st.tuples(_pat2, _pat2)),
        _values2,
    ))
    nested_timeline_st = _seq_st(st.one_of(
        st.tuples(st.just("pattern"), _pat2),
        st.tuples(st.just("optional"), _flat_seq),
        st.tuples(st.just("minus"), _flat_seq),
        st.tuples(st.just("union"), st.tuples(_flat_seq, _flat_seq)),
        _values2,
    ))


def _timeline_vars(elements):
    """The variables a sequence can bind (MINUS binds nothing)."""
    out = set()
    for kind, payload in elements:
        if kind == "minus":
            continue
        if kind == "values":
            out.add(payload[0])
            continue
        groups = list(payload) if kind == "union" else [payload]
        for g in groups:
            if isinstance(g, list):
                out |= _timeline_vars(g)
            else:
                out |= {v for mode, v in g if mode == "var"}
    return out


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=25, deadline=None)
@given(graph=graph_st, elements=nested_timeline_st if HAVE_HYP else st.none())
def test_nested_group_differential(spark, graph, elements):
    vars_ = sorted(_timeline_vars(elements))
    if not vars_:
        return  # nothing to project
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    q = (
        f"SELECT {' '.join('?' + v for v in vars_)} "
        f"WHERE {{ {_render_group(elements)} }}"
    )
    got = Counter(tuple(r[v] for v in vars_) for r in sparql_select(g, q).collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in naive_timeline_eval(graph, elements)
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Nested-OPTIONAL groups (late r4): { outer OPTIONAL { g OPT{n1} [OPT{n2}] } }
# vs the naive §18.2 translation — the group relation is
# LeftJoin(LeftJoin(BGP(g), BGP(n1)), BGP(n2)) and LeftJoins the outer
# relation, with §18.5 unbound-is-compatible semantics at every level
# (the naive fold treats an unbound variable as absent from dom(μ), so
# disjoint-domain cross products and nullable-key merges come free).
# The engine may REJECT a shape (nested-side-nullable join keys — the
# two-sided compatible LEFT join); any sequence it ACCEPTS must match
# the naive multiset exactly.
# ---------------------------------------------------------------------------

if HAVE_HYP:
    _nvars = ["a", "b", "c", "d"]
    _ng_s = st.sampled_from(
        [("var", v) for v in _nvars]
        + [("const", t) for t in SUBJECTS if t[1] != "bnode"]
    )
    _ng_p = st.sampled_from(
        [("var", v) for v in _nvars]
        + [("const", (p, "iri", "", "")) for p in PREDS]
    )
    _ng_o = st.sampled_from(
        [("var", v) for v in _nvars]
        + [("const", t) for t in OBJECTS if t[1] != "bnode"]
    )
    _ng_pat = st.tuples(_ng_s, _ng_p, _ng_o)


def _fmt_plain_pattern(pat):
    def fmt(term):
        mode, v = term
        return f"?{v}" if mode == "var" else term_sparql(v)

    s, p, o = pat
    return f"{fmt(s)} {fmt(p)} {fmt(o)}"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=50, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    gbase=_ng_pat if HAVE_HYP else st.none(),
    nested=st.lists(_ng_pat, min_size=1, max_size=2) if HAVE_HYP else st.none(),
)
def test_nested_optional_group_differential(spark, graph, outer, gbase, nested):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {
            v
            for pat in [outer, gbase] + nested
            for mode, v in pat
            if mode == "var"
        }
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = (
        f"{_fmt_plain_pattern(outer)} . OPTIONAL {{ "
        + _fmt_plain_pattern(gbase)
        + " "
        + " ".join(f"OPTIONAL {{ {_fmt_plain_pattern(n)} }}" for n in nested)
        + " }"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    group = naive_eval(graph, [gbase])
    for n in nested:
        group = _naive_leftjoin(group, naive_eval(graph, [n]))
    want_sols = _naive_leftjoin(naive_eval(graph, [outer]), group)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# OPTIONAL inside a UNION branch (late r4, formerly rejected):
# { outer . { a OPTIONAL { ao } } UNION { b } } vs the naive §18.2
# translation — Join(outer, Union(LeftJoin(a, ao), b)) with §18.5
# compatibility (branch-OPTIONAL vars are nullable through the union).
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=40, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    abase=_ng_pat if HAVE_HYP else st.none(),
    aopt=_ng_pat if HAVE_HYP else st.none(),
    bbase=_ng_pat if HAVE_HYP else st.none(),
)
def test_optional_in_union_branch_differential(
    spark, graph, outer, abase, aopt, bbase
):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {
            v
            for pat in [outer, abase, aopt, bbase]
            for mode, v in pat
            if mode == "var"
        }
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = (
        f"{_fmt_plain_pattern(outer)} . "
        f"{{ {_fmt_plain_pattern(abase)} OPTIONAL {{ {_fmt_plain_pattern(aopt)} }} }} "
        f"UNION {{ {_fmt_plain_pattern(bbase)} }}"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    branch_a = _naive_leftjoin(naive_eval(graph, [abase]), naive_eval(graph, [aopt]))
    union = branch_a + naive_eval(graph, [bbase])
    want_sols = _naive_join(naive_eval(graph, [outer]), union)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Two-sided compatible LEFT join (late r4): { outer OPTIONAL { p1 }
# OPTIONAL { g OPTIONAL { n1 OPTIONAL { n2 } } } } — join keys may be
# nullable on the OUTER side (the first flat OPTIONAL) and on the GROUP
# side (its depth-2 nested OPTIONAL chain) at once. Naive §18.2 fold:
# LeftJoin(LeftJoin(LeftJoin(outer, p1), LeftJoin(g, LeftJoin(n1, n2))))
# with unbound-is-compatible semantics throughout.
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=40, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    p1=_ng_pat if HAVE_HYP else st.none(),
    gbase=_ng_pat if HAVE_HYP else st.none(),
    n1=_ng_pat if HAVE_HYP else st.none(),
    n2=_ng_pat if HAVE_HYP else st.none(),
)
def test_two_sided_leftjoin_differential(spark, graph, outer, p1, gbase, n1, n2):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {
            v
            for pat in [outer, p1, gbase, n1, n2]
            for mode, v in pat
            if mode == "var"
        }
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = (
        f"{_fmt_plain_pattern(outer)} . "
        f"OPTIONAL {{ {_fmt_plain_pattern(p1)} }} "
        f"OPTIONAL {{ {_fmt_plain_pattern(gbase)} "
        f"OPTIONAL {{ {_fmt_plain_pattern(n1)} "
        f"OPTIONAL {{ {_fmt_plain_pattern(n2)} }} }} }}"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    inner = _naive_leftjoin(naive_eval(graph, [n1]), naive_eval(graph, [n2]))
    group = _naive_leftjoin(naive_eval(graph, [gbase]), inner)
    sols = _naive_leftjoin(naive_eval(graph, [outer]), naive_eval(graph, [p1]))
    want_sols = _naive_leftjoin(sols, group)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# OPTIONAL inside EXISTS probes and MINUS groups (late r4):
# { outer OPTIONAL { p1 } FILTER [NOT] EXISTS { e1 OPTIONAL { e2 } } }
# and { outer OPTIONAL { p1 } MINUS { m1 OPTIONAL { m2 } } } vs naive
# §18.6 / §8.3 folds over the probe/group relation LeftJoin(e1, e2).
# ---------------------------------------------------------------------------


def _naive_exists_keep(sols, probe, positive):
    out = []
    for m1 in sols:
        hit = any(_naive_compatible(m1, m2) for m2 in probe)
        if hit == positive:
            out.append(m1)
    return out


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=30, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    p1=_ng_pat if HAVE_HYP else st.none(),
    e1=_ng_pat if HAVE_HYP else st.none(),
    e2=_ng_pat if HAVE_HYP else st.none(),
    positive=st.booleans() if HAVE_HYP else st.none(),
    minus=st.booleans() if HAVE_HYP else st.none(),
)
def test_exists_minus_optional_probe_differential(
    spark, graph, outer, p1, e1, e2, positive, minus
):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {v for pat in [outer, p1] for mode, v in pat if mode == "var"}
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    probe_body = (
        f"{_fmt_plain_pattern(e1)} OPTIONAL {{ {_fmt_plain_pattern(e2)} }}"
    )
    if minus:
        tail = f"MINUS {{ {probe_body} }}"
    else:
        kw = "EXISTS" if positive else "NOT EXISTS"
        tail = f"FILTER {kw} {{ {probe_body} }}"
    body = (
        f"{_fmt_plain_pattern(outer)} . "
        f"OPTIONAL {{ {_fmt_plain_pattern(p1)} }} {tail}"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    probe = _naive_leftjoin(naive_eval(graph, [e1]), naive_eval(graph, [e2]))
    sols = _naive_leftjoin(naive_eval(graph, [outer]), naive_eval(graph, [p1]))
    if minus:
        want_sols = _naive_minus(sols, probe)
    else:
        want_sols = _naive_exists_keep(sols, probe, positive)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Effective-boolean-value / boolean-value differential (§17.2.2 +
# §17.2, late r4): random boolean expression TREES over comparisons,
# bare-value EBV leaves (?n and (?n - c)), and !/&&/|| connectives,
# evaluated by the engine BOTH as a FILTER (error -> row dropped) and
# as a BIND value (true/false xsd:boolean, error -> unbound), against
# a direct Kleene three-valued Python evaluation of the same AST.
# The value set includes an INVALID xsd:integer lexical, which pins
# the spec's asymmetry: EBV of the invalid literal is FALSE, while a
# comparison or arithmetic over it is an ERROR.
if HAVE_HYP:
    bool_leaf_st = st.one_of(
        st.just(("ebv",)),
        st.tuples(st.just("ebv_arith"), st.integers(min_value=0, max_value=9)),
        st.tuples(
            st.just("cmp"),
            st.sampled_from(["<", "<=", ">", ">=", "=", "!="]),
            st.integers(min_value=-2, max_value=9),
        ),
    )
    bool_expr_st = st.recursive(
        bool_leaf_st,
        lambda ch: st.one_of(
            st.tuples(st.just("not"), ch),
            st.tuples(st.sampled_from(["&&", "||"]), ch, ch),
        ),
        max_leaves=6,
    )


def render_bool(ast) -> str:
    if ast == ("ebv",):
        return "?n"
    if ast[0] == "ebv_arith":
        return f"(?n - {ast[1]})"
    if ast[0] == "cmp":
        return f"(?n {ast[1]} {ast[2]})"
    if ast[0] == "not":
        return f"(!{render_bool(ast[1])})"
    op, a, b = ast
    return f"({render_bool(a)} {op} {render_bool(b)})"


def eval_bool(ast, lexical: str):
    """Three-valued: True / False / None (= SPARQL error)."""
    try:
        n = int(lexical)
    except ValueError:
        n = None
    if ast == ("ebv",):
        # EBV of a numeric-typed literal: invalid lexical -> FALSE
        return n != 0 if n is not None else False
    if ast[0] == "ebv_arith":
        # arithmetic first (error on invalid), then EBV of the result
        return None if n is None else (n - ast[1]) != 0
    if ast[0] == "cmp":
        if n is None:
            return None
        _, op, c = ast
        return {
            "<": n < c, "<=": n <= c, ">": n > c,
            ">=": n >= c, "=": n == c, "!=": n != c,
        }[op]
    if ast[0] == "not":
        x = eval_bool(ast[1], lexical)
        return None if x is None else not x
    op, a, b = ast
    av, bv = eval_bool(a, lexical), eval_bool(b, lexical)
    if op == "&&":
        if av is False or bv is False:
            return False
        if av is None or bv is None:
            return None
        return True
    if av is True or bv is True:
        return True
    if av is None or bv is None:
        return None
    return False


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=20, deadline=None)
@given(ast=bool_expr_st if HAVE_HYP else st.none())
def test_boolean_expression_differential(spark, ast):
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
    values = ["0", "7", "9", "zz"]  # zz: invalid integer lexical
    rows = [
        (EX + f"s{i}", "iri", EX + "age", v, "literal", None, XSD_INT)
        for i, v in enumerate(values)
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    expr = render_bool(ast)
    # as a FILTER: keep iff True (error -> dropped)
    # the SPARQL grammar requires a BrackettedExpression after FILTER
    qf = (
        "PREFIX ex: <http://ex.org/> SELECT ?s WHERE "
        f"{{ ?s ex:age ?n . FILTER ({expr}) }}"
    )
    got_f = sorted(r.s for r in sparql_select(g, qf).collect())
    want_f = sorted(
        EX + f"s{i}" for i, v in enumerate(values)
        if eval_bool(ast, v) is True
    )
    assert got_f == want_f, f"FILTER query {qf!r} diverged"
    # as a BIND value: true/false term, error -> unbound (row kept).
    # Only for BOOLEAN-topped ASTs — a bare ?n / (?n - c) as a BIND
    # value is a TERM COPY / derived numeric in SPARQL, not an EBV
    # coercion (EBV applies in boolean contexts only).
    if ast[0] in ("not", "&&", "||", "cmp"):
        qb = (
            "PREFIX ex: <http://ex.org/> SELECT ?s ?b WHERE "
            f"{{ ?s ex:age ?n . BIND({expr} AS ?b) }}"
        )
        got_b = {(r.s, r.b) for r in sparql_select(g, qb).collect()}
        tv = {True: "true", False: "false", None: None}
        want_b = {
            (EX + f"s{i}", tv[eval_bool(ast, v)]) for i, v in enumerate(values)
        }
        assert got_b == want_b, f"BIND query {qb!r} diverged"


# ---------------------------------------------------------------------------
# BIND(EXISTS { probe } AS ?k) differential (late r4): random required
# BGPs × random probe BGPs over the shared variable pool, engine flags
# vs direct §18.6 substitution over the naive evaluator's solutions —
# a probe variable the required part binds correlates, one it does not
# bind stays probe-local. Covers both outcomes of the flag join and
# random degrees of correlation (0, 1, or 2 shared variables).


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=12, deadline=None)
@given(graph=graph_st, patterns=query_st, probe=query_st)
def test_bind_exists_differential(spark, graph, patterns, probe):
    for pats in (patterns, probe):
        for pat in pats:
            for mode, v in pat:
                if mode == "const" and v[1] == "bnode":
                    return
    vars_ = used_vars(patterns)
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))

    def fmt(term):
        mode, v = term
        return f"?{v}" if mode == "var" else term_sparql(v)

    req = " ".join(f"{fmt(s)} {fmt(p)} {fmt(o)} ." for s, p, o in patterns)
    prb = " ".join(f"{fmt(s)} {fmt(p)} {fmt(o)} ." for s, p, o in probe)
    q = (
        f"SELECT {' '.join('?' + v for v in vars_)} ?kk WHERE "
        f"{{ {req} BIND(EXISTS {{ {prb} }} AS ?kk) }}"
    )
    got = Counter(
        tuple(r[v] for v in vars_) + (r.kk,)
        for r in sparql_select(g, q).collect()
    )
    want = Counter()
    for b in naive_eval(graph, patterns):
        # §18.6: substitute dom(μ) into the probe — a probe variable
        # bound by μ becomes a constant, the rest stay variables
        substituted = [
            tuple(
                ("const", b[v]) if mode == "var" and v in b else (mode, v)
                for mode, v in pat
            )
            for pat in probe
        ]
        k = "true" if naive_eval(graph, substituted) else "false"
        want[tuple(b[v][0] for v in vars_) + (k,)] += 1
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# Cross-group filter × two-sided compatible LEFT join (late r4
# session 2 — the last formerly-rejected LeftJoin form): random
# { outer OPTIONAL { p1 } OPTIONAL { gbase OPTIONAL { n1 }
#   FILTER (STR(?fa) != STR(?fb)) } }
# vs a naive LeftJoin(A, G, F) fold where F evaluates over the MERGED
# solution with error-as-false (an unbound reference fails F, keeping
# μ1 — the Diff half). The random variable pool makes the filter
# group-local, cross-group, outer-only, or unbound by chance, and the
# group's own nested OPTIONAL makes shared keys two-sided-nullable.


def _naive_leftjoin_f(left, right, f):
    out = []
    for m1 in left:
        matches = [
            {**m1, **m2}
            for m2 in right
            if _naive_compatible(m1, m2) and f({**m1, **m2})
        ]
        out.extend(matches if matches else [m1])
    return out


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=30, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    p1=_ng_pat if HAVE_HYP else st.none(),
    gbase=_ng_pat if HAVE_HYP else st.none(),
    n1=_ng_pat if HAVE_HYP else st.none(),
    fa=st.sampled_from(VARS) if HAVE_HYP else st.none(),
    fb=st.sampled_from(VARS) if HAVE_HYP else st.none(),
)
def test_two_sided_leftjoin_filter_differential(
    spark, graph, outer, p1, gbase, n1, fa, fb
):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {v for pat in [outer, p1, gbase, n1] for mode, v in pat if mode == "var"}
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = (
        f"{_fmt_plain_pattern(outer)} . "
        f"OPTIONAL {{ {_fmt_plain_pattern(p1)} }} "
        f"OPTIONAL {{ {_fmt_plain_pattern(gbase)} "
        f"OPTIONAL {{ {_fmt_plain_pattern(n1)} }} "
        f"FILTER (STR(?{fa}) != STR(?{fb})) }}"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug

    def f(m):
        if fa not in m or fb not in m:
            return False  # STR of unbound → error → false
        return m[fa][0] != m[fb][0]

    group = _naive_leftjoin(naive_eval(graph, [gbase]), naive_eval(graph, [n1]))
    sols = _naive_leftjoin(naive_eval(graph, [outer]), naive_eval(graph, [p1]))
    want_sols = _naive_leftjoin_f(sols, group, f)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_) for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# EXISTS inside GROUP-local BINDs (late r4 session 2): random
# { outer OPTIONAL { g1 . BIND(EXISTS { e1 } AS ?kk) } } vs a naive
# fold — Extend the group's solutions with the §18.6-substituted
# existence flag, then LeftJoin. Probe variables the group binds
# correlate; the rest are probe-local.


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=20, deadline=None)
@given(
    graph=graph_st,
    outer=_ng_pat if HAVE_HYP else st.none(),
    g1=_ng_pat if HAVE_HYP else st.none(),
    e1=_ng_pat if HAVE_HYP else st.none(),
)
def test_group_bind_exists_differential(spark, graph, outer, g1, e1):
    from r2rml_parser_spark.plans.sparql import SparqlError

    vars_ = sorted(
        {v for pat in [outer, g1] for mode, v in pat if mode == "var"}
    )
    if not vars_:
        return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    body = (
        f"{_fmt_plain_pattern(outer)} . "
        f"OPTIONAL {{ {_fmt_plain_pattern(g1)} "
        f"BIND(EXISTS {{ {_fmt_plain_pattern(e1)} }} AS ?kk) }}"
    )
    q = f"SELECT {' '.join('?' + v for v in vars_)} ?kk WHERE {{ {body} }}"
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    gsols = []
    for b in naive_eval(graph, [g1]):
        substituted = [tuple(
            ("const", b[v]) if mode == "var" and v in b else (mode, v)
            for mode, v in e1
        )]
        k = "true" if naive_eval(graph, substituted) else "false"
        gsols.append({**b, "kk": (k, "literal", "", "")})
    want_sols = _naive_leftjoin(naive_eval(graph, [outer]), gsols)
    got = Counter(
        tuple(r[v] for v in vars_) + (r.kk,) for r in out.collect()
    )
    want = Counter(
        tuple(b[v][0] if v in b else None for v in vars_)
        + (b["kk"][0] if "kk" in b else None,)
        for b in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# §18.2 filter scoping (r5): out-of-scope filter references are UNBOUND
# where the filter evaluates — UNION branches see nothing outside the
# branch, a nested OPTIONAL's filter sees its own group + the immediate
# left side only — differentially pinned against a naive evaluator that
# implements the scoping directly.

_FILTER_FORMS = ["bound", "notbound", "eqalpha"]


def _fmt_scoped_filter(form, var):
    if form == "bound":
        return f"bound(?{var})"
    if form == "notbound":
        return f"!bound(?{var})"
    return f'STR(?{var}) = "alpha"'


def _naive_filter_ok(m, form, var):
    # unbound var: bound() false, !bound() true, value test error→false
    if form == "bound":
        return var in m
    if form == "notbound":
        return var not in m
    return var in m and m[var][0] == "alpha"


if HAVE_HYP:
    _scope_var_union = st.sampled_from(["a", "b", "z"])
    _scope_var_nested = st.sampled_from(["a", "b", "c", "z"])
    _filter_form_st = st.sampled_from(_FILTER_FORMS)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=40, deadline=None)
@given(
    graph=graph_st,
    form=_filter_form_st if HAVE_HYP else st.none(),
    fvar=_scope_var_union if HAVE_HYP else st.none(),
)
def test_union_branch_filter_scoping_differential(spark, graph, form, fvar):
    """Branch filter referencing ?a (outer-bound → unbound in the
    branch), ?b (branch-local) or ?z (bound nowhere): engine vs the
    naive per-branch evaluation."""
    from r2rml_parser_spark.plans.sparql import SparqlError

    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    P = [EX + f"p{i}" for i in range(3)]
    cond = _fmt_scoped_filter(form, fvar)
    q = (
        "SELECT ?s ?a ?b ?c WHERE { "
        f"?s <{P[0]}> ?a . "
        f"{{ ?s <{P[1]}> ?b . FILTER({cond}) }} UNION {{ ?s <{P[2]}> ?c }} }}"
    )
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return  # rejection is always safe; mis-evaluation is the bug
    svar = ("var", "s")
    outer = naive_eval(graph, [(svar, ("const", (P[0], "iri", "", "")), ("var", "a"))])
    b1 = [
        m
        for m in naive_eval(
            graph, [(svar, ("const", (P[1], "iri", "", "")), ("var", "b"))]
        )
        if _naive_filter_ok(m, form, fvar)  # branch scope: only s/b bound
    ]
    b2 = naive_eval(graph, [(svar, ("const", (P[2], "iri", "", "")), ("var", "c"))])
    want_sols = _naive_join(outer, b1 + b2)
    vars_ = ["s", "a", "b", "c"]
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(m[v][0] if v in m else None for v in vars_) for m in want_sols
    )
    assert got == want, f"query {q!r} diverged"


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=40, deadline=None)
@given(
    graph=graph_st,
    form=_filter_form_st if HAVE_HYP else st.none(),
    fvar=_scope_var_nested if HAVE_HYP else st.none(),
)
def test_nested_optional_filter_scoping_differential(spark, graph, form, fvar):
    """Inner-OPTIONAL filter referencing ?c (local), ?b (immediate
    left side → LeftJoin condition), ?a (TWO levels up → unbound at the
    inner LeftJoin, formerly rejected) or ?z (bound nowhere)."""
    from r2rml_parser_spark.plans.sparql import SparqlError

    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None)
        for s, p, o in graph
    ]
    g = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in COLS))
    P = [EX + f"p{i}" for i in range(3)]
    cond = _fmt_scoped_filter(form, fvar)
    q = (
        "SELECT ?s ?a ?b ?c WHERE { "
        f"?s <{P[0]}> ?a . "
        f"OPTIONAL {{ ?s <{P[1]}> ?b . "
        f"OPTIONAL {{ ?s <{P[2]}> ?c . FILTER({cond}) }} }} }}"
    )
    try:
        out = sparql_select(g, q)
    except SparqlError:
        return
    svar = ("var", "s")
    outer = naive_eval(graph, [(svar, ("const", (P[0], "iri", "", "")), ("var", "a"))])
    bsols = naive_eval(graph, [(svar, ("const", (P[1], "iri", "", "")), ("var", "b"))])
    csols = naive_eval(graph, [(svar, ("const", (P[2], "iri", "", "")), ("var", "c"))])
    # inner LeftJoin(B, C, F): F sees the merged μ of ITS join — ?a is
    # out of scope there no matter what the top level binds
    inner = []
    for m1 in bsols:
        matches = [
            {**m1, **m2}
            for m2 in csols
            if _naive_compatible(m1, m2)
            and _naive_filter_ok({**m1, **m2}, form, fvar)
        ]
        inner.extend(matches if matches else [m1])
    want_sols = _naive_leftjoin(outer, inner)
    vars_ = ["s", "a", "b", "c"]
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(m[v][0] if v in m else None for v in vars_) for m in want_sols
    )
    assert got == want, f"query {q!r} diverged"


# ---------------------------------------------------------------------------
# GRAPH / RDF dataset semantics (r5): random quad datasets × GRAPH
# queries vs a naive §13.3 evaluator (default-graph split + per-graph
# evaluation with the graph variable bound).

if HAVE_HYP:
    GRAPHS = [None, EX + "g0", EX + "g1", EX + "g2"]
    quad_st = st.tuples(
        st.sampled_from(SUBJECTS[:4]),
        st.sampled_from(PREDS),
        st.sampled_from(OBJECTS[:6]),
        st.sampled_from(GRAPHS),
    )
    dataset_st = st.lists(quad_st, min_size=1, max_size=14, unique=True)


@pytest.mark.skipif(not HAVE_HYP, reason="hypothesis not installed")
@settings(max_examples=30, deadline=None)
@given(
    dataset=dataset_st if HAVE_HYP else st.none(),
    patterns=query_st,
    inner=pattern_st if HAVE_HYP else st.none(),
)
def test_graph_dataset_differential(spark, dataset, patterns, inner):
    """SELECT over { BGP . GRAPH ?g { pat } }: the outer BGP sees only
    default-graph quads, the GRAPH block each named graph with ?g
    bound, joined on shared variables — vs the naive evaluation."""
    # bnode constants have no stable query syntax — skip those examples
    for pat in [*patterns, inner]:
        for mode, v in pat:
            if mode == "const" and term_sparql(v) is None:
                return
    rows = [
        (s[0], s[1], p, o[0], o[1], o[2] or None, o[3] or None, g)
        for s, p, o, g in dataset
    ]
    cols = COLS + ["graph"]
    gdf = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    body = " . ".join(_fmt_plain_pattern(p) for p in patterns)
    q = (
        "SELECT * WHERE { "
        + body
        + " . GRAPH ?gv { "
        + _fmt_plain_pattern(inner)
        + " } }"
    )
    vars_ = sorted(set(used_vars(patterns)) | set(used_vars([inner])) | {"gv"})
    out = sparql_select(gdf, q)
    default_graph = [(s, p, o) for s, p, o, g in dataset if g is None]
    outer_sols = naive_eval(default_graph, patterns)
    inner_sols = []
    for gname in sorted({g for *_t, g in dataset if g is not None}):
        gtrips = [(s, p, o) for s, p, o, g in dataset if g == gname]
        for m in naive_eval(gtrips, [inner]):
            mm = dict(m)
            gterm = (gname, "iri", "", "")
            if "gv" in mm and mm["gv"] != gterm:
                continue  # ?gv also used inside the pattern: must match
            mm["gv"] = gterm
            inner_sols.append(mm)
    want_sols = _naive_join(outer_sols, inner_sols)
    got = Counter(tuple(r[v] for v in vars_) for r in out.collect())
    want = Counter(
        tuple(m[v][0] if v in m else None for v in vars_) for m in want_sols
    )
    assert got == want, f"query {q!r} diverged"
