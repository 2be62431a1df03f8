"""Minimal Turtle / N-Triples parser for R2RML mapping documents.

Driver-side only — mapping documents are a few KB of RDF; the reference
reads them with Jena (Parser.java:692-699). rdflib is not available in
this environment, so this module implements the Turtle subset that R2RML
documents (and the W3C RDB2RDF corpus) actually use:

  @prefix / @base, IRIs (relative resolved against base), prefixed names,
  the `a` keyword, plain/lang-tagged/typed literals, short and long
  (triple-quoted) strings, anonymous nested blank nodes `[ ... ]`,
  predicate lists `;`, object lists `,`, integers/decimals/booleans,
  comments, and \\u escapes.

Not supported (not used by the corpus): collections `( ... )`, named
blank nodes in subject position chains, RDF-star.
"""

from __future__ import annotations

import itertools
import re

from r2rml_parser_spark.rdf.terms import BNode, IRI, Literal, Term, Triple, unescape_literal

_TOKEN_RE = re.compile(
    r"""
      (?P<longstr>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\")
    | (?P<longsq>'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<str>\"(?:[^"\\\n]|\\.)*\")
    | (?P<sqstr>'(?:[^'\\\n]|\\.)*')
    | (?P<iri><[^<>\s]*>)
    | (?P<comment>\#[^\n]*)
    | (?P<punct>\^\^|[;,.\[\]()])
    | (?P<at>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<pname>[A-Za-z_][\w.-]*)?:(?P<local>[\w%.~:#/-]*[\w%~#/-]|[\w%~#/-])?
    | (?P<num>[+-]?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<kw>[A-Za-z_][\w-]*)
""",
    re.VERBOSE,
)


class TurtleParseError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    i, n = 0, len(text)
    while i < n:
        if text[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise TurtleParseError(f"unexpected character at offset {i}: {text[i:i+30]!r}")
        kind = m.lastgroup
        if kind != "comment":
            # prefixed names match via pname/local groups; normalize kind
            if m.group("str") or m.group("longstr") or m.group("sqstr") or m.group("longsq"):
                tokens.append(("string", m.group(0)))
            elif m.group("iri"):
                tokens.append(("iri", m.group(0)))
            elif m.group("punct"):
                tokens.append(("punct", m.group(0)))
            elif m.group("at"):
                tokens.append(("at", m.group(0)))
            elif m.group("num"):
                tokens.append(("num", m.group(0)))
            elif m.group("kw"):
                # could be a bare keyword (a, true, false, PREFIX) or the
                # prefix part of a pname if followed by ':'
                if m.end() < n and text[m.end()] == ":":
                    m2 = _TOKEN_RE.match(text, m.end())  # the ':local' part
                    tokens.append(("pname", m.group(0) + (m2.group(0) if m2 else ":")))
                    i = m2.end() if m2 else m.end() + 1
                    continue
                tokens.append(("kw", m.group(0)))
            else:
                tokens.append(("pname", m.group(0)))
        i = m.end()
    return tokens


def _resolve(base: str, ref: str) -> str:
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", ref):
        return ref
    if not base:
        return ref
    if ref.startswith("#"):
        return base.split("#")[0] + ref
    if ref.startswith("/"):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", base)
        return (m.group(1) if m else base.rstrip("/")) + ref
    return base.rsplit("/", 1)[0] + "/" + ref if "/" in base.split("://")[-1] else base + ref


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[Triple] = []
        self._bn = itertools.count()

    def _peek(self) -> tuple[str, str] | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def _next(self) -> tuple[str, str]:
        t = self._peek()
        if t is None:
            raise TurtleParseError("unexpected end of input")
        self.pos += 1
        return t

    def _expect(self, value: str) -> None:
        kind, v = self._next()
        if v != value:
            raise TurtleParseError(f"expected {value!r}, got {v!r}")

    def parse(self) -> list[Triple]:
        while self._peek() is not None:
            kind, v = self._peek()
            if kind == "at" or (kind == "kw" and v.upper() in ("PREFIX", "BASE")):
                self._directive()
            else:
                self._triples_block()
        return self.triples

    def _directive(self) -> None:
        kind, v = self._next()
        word = v.lstrip("@").upper()
        if word == "PREFIX":
            kind, pname = self._next()
            if not pname.endswith(":"):
                raise TurtleParseError(f"bad prefix declaration: {pname!r}")
            kind, iri = self._next()
            self.prefixes[pname[:-1]] = iri[1:-1]
        elif word == "BASE":
            kind, iri = self._next()
            self.base = iri[1:-1]
        else:
            raise TurtleParseError(f"unknown directive {v!r}")
        if self._peek() and self._peek()[1] == ".":
            self._next()

    def _triples_block(self) -> None:
        subj = self._term(position="subject")
        self._predicate_object_list(subj)
        self._expect(".")

    def _predicate_object_list(self, subj: Term) -> None:
        while True:
            pred = self._term(position="predicate")
            while True:
                obj = self._term(position="object")
                self.triples.append((subj, pred, obj))
                nxt = self._peek()
                if nxt and nxt[1] == ",":
                    self._next()
                    continue
                break
            nxt = self._peek()
            if nxt and nxt[1] == ";":
                self._next()
                # tolerate trailing ';' before '.' or ']'
                nxt = self._peek()
                if nxt and nxt[1] in (".", "]", ";"):
                    while self._peek() and self._peek()[1] == ";":
                        self._next()
                    return
                continue
            return

    def _term(self, position: str) -> Term:
        kind, v = self._next()
        if kind == "iri":
            return IRI(_resolve(self.base, unescape_literal(v[1:-1])))
        if kind == "pname":
            prefix, _, local = v.partition(":")
            if prefix == "_":
                # labeled blank node (Turtle BLANK_NODE_LABEL) — used by
                # the engine's own dump sink, not by mapping documents
                if position == "predicate":
                    raise TurtleParseError("a blank node cannot be a predicate")
                return BNode(local)
            if prefix not in self.prefixes:
                raise TurtleParseError(f"undeclared prefix {prefix!r} in {v!r}")
            return IRI(self.prefixes[prefix] + local)
        if kind == "kw":
            if v == "a" and position == "predicate":
                return IRI("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            if v in ("true", "false"):
                return Literal(v, datatype="http://www.w3.org/2001/XMLSchema#boolean")
            raise TurtleParseError(f"unexpected keyword {v!r} as {position}")
        if kind == "string":
            raw = v[3:-3] if (v.startswith('"""') or v.startswith("'''")) else v[1:-1]
            lexical = unescape_literal(raw)
            nxt = self._peek()
            if nxt and nxt[0] == "at":
                self._next()
                return Literal(lexical, lang=nxt[1][1:])
            if nxt and nxt[1] == "^^":
                self._next()
                dt = self._term(position="object")
                if not isinstance(dt, IRI):
                    raise TurtleParseError("datatype must be an IRI")
                return Literal(lexical, datatype=dt.value)
            return Literal(lexical)
        if kind == "num":
            if "." in v or "e" in v or "E" in v:
                dt = "http://www.w3.org/2001/XMLSchema#decimal"
            else:
                dt = "http://www.w3.org/2001/XMLSchema#integer"
            return Literal(v, datatype=dt)
        if v == "[":
            node = BNode(f"b{next(self._bn)}")
            nxt = self._peek()
            if nxt and nxt[1] == "]":
                self._next()
                return node
            self._predicate_object_list(node)
            self._expect("]")
            return node
        raise TurtleParseError(f"unexpected token {v!r} as {position}")


def parse_turtle(text: str) -> tuple[list[Triple], dict[str, str], str]:
    """Parse a Turtle document → (triples, prefix map, base IRI)."""
    p = _Parser(_tokenize(text))
    triples = p.parse()
    return triples, p.prefixes, p.base


_NT_LINE = re.compile(
    r"^\s*(?P<s><[^>]*>|_:\S+)\s+"
    r"(?P<p><[^>]*>)\s+"
    r'(?P<o><[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?)'
    r"\s*(?:<[^>]*>\s*)?\.\s*$"  # optional graph label (N-Quads) ignored
)


def _nt_term(tok: str) -> Term:
    if tok.startswith("<"):
        return IRI(unescape_literal(tok[1:-1]))
    if tok.startswith("_:"):
        return BNode(tok[2:])
    m = re.match(r'^"((?:[^"\\]|\\.)*)"(?:@([\w-]+)|\^\^<([^>]*)>)?$', tok)
    if not m:
        raise TurtleParseError(f"bad N-Triples term: {tok!r}")
    return Literal(unescape_literal(m.group(1)), lang=m.group(2), datatype=m.group(3))


def parse_ntriples(text: str) -> list[Triple]:
    """Parse N-Triples / triple-only N-Quads text (golden ``mapped*.nq``)."""
    out: list[Triple] = []
    for line in text.splitlines():
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        m = _NT_LINE.match(line)
        if not m:
            raise TurtleParseError(f"bad N-Triples line: {line!r}")
        out.append((_nt_term(m.group("s")), _nt_term(m.group("p")), _nt_term(m.group("o"))))
    return out


_NQ_LINE = re.compile(
    r"^\s*(?P<s><[^>]*>|_:\S+)\s+"
    r"(?P<p><[^>]*>)\s+"
    r'(?P<o><[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?)'
    r"\s*(?:(?P<g><[^>]*>|_:\S+)\s*)?\.\s*$"
)


def parse_nquads(text: str) -> list[tuple]:
    """Parse W3C N-Quads → list of (s, p, o, graph-or-None) — the graph
    label CAPTURED this time (``parse_ntriples`` drops it), an IRI or a
    blank node as the N-Quads grammar allows; a plain triple line is a
    default-graph quad (r5, the read half of ``sinks/nquads.py``'s round
    trip)."""
    out: list[tuple] = []
    for line in text.splitlines():
        if not line.strip() or line.lstrip().startswith("#"):
            continue
        m = _NQ_LINE.match(line)
        if not m:
            raise TurtleParseError(f"bad N-Quads line: {line!r}")
        g = m.group("g")
        out.append((
            _nt_term(m.group("s")), _nt_term(m.group("p")),
            _nt_term(m.group("o")),
            _nt_term(g) if g else None,
        ))
    return out
