"""Turtle-family RDF parser: Turtle, TriG, N-Triples, N-Quads, *-star.

A from-scratch recursive-descent parser (no rdflib in this environment).
Grammar follows W3C Turtle/TriG 1.1 + RDF-star quoted triples. N-Triples
and N-Quads are proper subsets, so one parser covers five of the eight
formats the reference accepts
(/root/reference/src/main/java/n10s/CommonProcedures.java:45-48).

This runs ONLY inside Arrow-batched pandas UDFs (mapInPandas) — one call
parses one document string and yields Statement tuples. It is the per-
document "Rio parser" analogue of the reference's format-dispatch source
(CommonProcedures.java:125-134), re-expressed for a columnar engine.
"""

from __future__ import annotations

import re
from typing import List, Optional

from .terms import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD,
    XSD_STRING,
    BNode,
    IRI,
    Literal,
    QuotedTriple,
    Statement,
    Term,
)


class RDFParseError(ValueError):
    pass


_ESCAPES = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}

# local-name escapes (PN_LOCAL_ESC)
_PN_LOCAL_ESC = set("_~.-!$&'()*+,;=/?#@%")

_NUM_RE = re.compile(r"[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?")

_WS = " \t\r\n"


def _resolve_iri(base: Optional[str], ref: str) -> str:
    """Minimal RFC3986-ish relative reference resolution."""
    if not ref:
        return base or ref
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", ref):
        return ref
    if base is None:
        return ref
    if ref.startswith("#"):
        return re.sub(r"#.*$", "", base) + ref
    if ref.startswith("//"):
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*:)", base)
        return (m.group(1) if m else "") + ref
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)(/.*)?$", base)
    if m:
        authority, path = m.group(1), m.group(2) or "/"
    else:
        m2 = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*:)(.*)$", base)
        authority, path = (m2.group(1), m2.group(2)) if m2 else ("", base)
    if ref.startswith("/"):
        merged = ref
    else:
        merged = path.rsplit("/", 1)[0] + "/" + ref
    # dot-segment removal
    out: List[str] = []
    for seg in merged.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
        else:
            out.append(seg)
    norm = "/".join(out)
    if not norm.startswith("/") and authority.endswith("//"):
        norm = "/" + norm
    return authority + norm


class TurtleParser:
    """One instance per document; bnode labels are parser-scoped, matching
    the reference's parser-scoped bnode ids (RDFToLPGStatementProcessor.java:399)."""

    def __init__(self, text: str, base: Optional[str] = None):
        self.text = text
        self.n = len(text)
        self.i = 0
        self.base = base
        self.prefixes: dict = {}
        self._anon = 0
        self.statements: List[Statement] = []
        self._graph: Optional[str] = None  # current TriG graph context

    # ------------------------------------------------------------ lexing
    def _skip_ws(self) -> None:
        t, n = self.text, self.n
        i = self.i
        while i < n:
            c = t[i]
            if c in _WS:
                i += 1
            elif c == "#":
                j = t.find("\n", i)
                i = n if j < 0 else j + 1
            else:
                break
        self.i = i

    def _peek(self) -> str:
        return self.text[self.i] if self.i < self.n else ""

    def _startswith(self, s: str) -> bool:
        return self.text.startswith(s, self.i)

    def _error(self, msg: str) -> RDFParseError:
        line = self.text.count("\n", 0, self.i) + 1
        ctx = self.text[self.i : self.i + 24].replace("\n", "\\n")
        return RDFParseError(f"{msg} at line {line} near '{ctx}'")

    def _expect(self, s: str) -> None:
        if not self._startswith(s):
            raise self._error(f"expected '{s}'")
        self.i += len(s)

    def _unescape(self, s: str, allow_echar: bool = True) -> str:
        if "\\" not in s:
            return s
        out: List[str] = []
        i, n = 0, len(s)
        while i < n:
            c = s[i]
            if c == "\\" and i + 1 < n:
                nxt = s[i + 1]
                if nxt == "u" and i + 6 <= n:
                    out.append(chr(int(s[i + 2 : i + 6], 16)))
                    i += 6
                    continue
                if nxt == "U" and i + 10 <= n:
                    out.append(chr(int(s[i + 2 : i + 10], 16)))
                    i += 10
                    continue
                if allow_echar and nxt in _ESCAPES:
                    out.append(_ESCAPES[nxt])
                    i += 2
                    continue
                out.append(nxt)
                i += 2
                continue
            out.append(c)
            i += 1
        return "".join(out)

    def _read_iriref(self) -> IRI:
        # assumes at '<'
        j = self.i + 1
        t = self.text
        buf: List[str] = []
        while j < self.n:
            c = t[j]
            if c == ">":
                break
            if c == "\\":
                nxt = t[j + 1] if j + 1 < self.n else ""
                if nxt == "u":
                    buf.append(chr(int(t[j + 2 : j + 6], 16)))
                    j += 6
                    continue
                if nxt == "U":
                    buf.append(chr(int(t[j + 2 : j + 10], 16)))
                    j += 10
                    continue
                buf.append(nxt)
                j += 2
                continue
            buf.append(c)
            j += 1
        if j >= self.n:
            raise self._error("unterminated IRIREF")
        self.i = j + 1
        return IRI(_resolve_iri(self.base, "".join(buf)))

    def _read_string(self) -> str:
        t = self.text
        q = t[self.i]
        if self._startswith(q * 3):
            end = t.find(q * 3, self.i + 3)
            # a long string may end with an extra quote char before the fence
            while end >= 0 and end + 3 < self.n and t[end + 3] == q:
                end += 1
            if end < 0:
                raise self._error("unterminated long string")
            raw = t[self.i + 3 : end]
            self.i = end + 3
            return self._unescape(raw)
        j = self.i + 1
        buf: List[str] = []
        while j < self.n:
            c = t[j]
            if c == "\\":
                buf.append(c)
                buf.append(t[j + 1] if j + 1 < self.n else "")
                j += 2
                continue
            if c == q:
                self.i = j + 1
                return self._unescape("".join(buf))
            if c == "\n":
                raise self._error("newline in short string")
            buf.append(c)
            j += 1
        raise self._error("unterminated string")

    _PNAME_STOP = set(' \t\r\n<>"{}|^`()[];,')

    def _read_pname_or_keyword(self) -> str:
        t = self.text
        j = self.i
        buf: List[str] = []
        while j < self.n:
            c = t[j]
            if c == "\\" and j + 1 < self.n and t[j + 1] in _PN_LOCAL_ESC:
                buf.append(t[j + 1])
                j += 2
                continue
            if c == "%" and j + 2 < self.n:
                buf.append(c)
                j += 1
                continue
            if c in self._PNAME_STOP:
                break
            buf.append(c)
            j += 1
        # trailing '.' is statement terminator, not part of the name
        while buf and buf[-1] == "." and not (len(buf) >= 2 and buf[-2] == "\\"):
            buf.pop()
            j -= 1
        self.i = j
        return "".join(buf)

    # ------------------------------------------------------------ terms
    def _new_bnode(self) -> BNode:
        self._anon += 1
        return BNode(f"genid{self._anon}")

    def _expand_pname(self, pname: str) -> IRI:
        if ":" not in pname:
            raise self._error(f"not a prefixed name: {pname}")
        pfx, local = pname.split(":", 1)
        if pfx not in self.prefixes:
            raise self._error(f"undefined prefix '{pfx}:'")
        return IRI(self.prefixes[pfx] + local)

    def _read_term(self, as_predicate: bool = False) -> Term:
        self._skip_ws()
        c = self._peek()
        if not c:
            raise self._error("unexpected EOF reading term")
        if c == "<":
            if self._startswith("<<"):
                return self._read_quoted_triple()
            return self._read_iriref()
        if c == "_" and self.text.startswith("_:", self.i):
            self.i += 2
            label = self._read_pname_or_keyword()
            return BNode(label)
        if c == "[":
            self.i += 1
            self._skip_ws()
            node = self._new_bnode()
            if self._peek() == "]":
                self.i += 1
                return node
            self._predicate_object_list(node)
            self._skip_ws()
            self._expect("]")
            return node
        if c == "(":
            return self._read_collection()
        if c in "\"'":
            return self._read_literal()
        if c.isdigit() or c in "+-" or (c == "." and self.i + 1 < self.n and self.text[self.i + 1].isdigit()):
            return self._read_numeric()
        word = self._read_pname_or_keyword()
        if not word:
            raise self._error("empty term")
        if as_predicate and word == "a":
            return IRI(RDF_TYPE)
        if word in ("true", "false"):
            return Literal(word, XSD + "boolean")
        return self._expand_pname(word)

    def _read_quoted_triple(self) -> QuotedTriple:
        self._expect("<<")
        s = self._read_term()
        p = self._read_term(as_predicate=True)
        o = self._read_term()
        self._skip_ws()
        self._expect(">>")
        return QuotedTriple(s, p, o)

    def _read_literal(self) -> Literal:
        lex = self._read_string()
        if self._startswith("@"):
            self.i += 1
            m = re.match(r"[a-zA-Z]+(?:-[a-zA-Z0-9]+)*", self.text[self.i :])
            if not m:
                raise self._error("bad language tag")
            self.i += m.end()
            return Literal(lex, "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", m.group(0))
        if self._startswith("^^"):
            self.i += 2
            self._skip_ws()
            if self._peek() == "<":
                dt = self._read_iriref()
            else:
                dt = self._expand_pname(self._read_pname_or_keyword())
            return Literal(lex, dt.value)
        return Literal(lex, XSD_STRING)

    def _read_numeric(self) -> Literal:
        m = _NUM_RE.match(self.text, self.i)
        if not m:
            raise self._error("bad numeric literal")
        lex = m.group(0)
        self.i = m.end()
        if "e" in lex or "E" in lex:
            dt = XSD + "double"
        elif "." in lex:
            dt = XSD + "decimal"
        else:
            dt = XSD + "integer"
        return Literal(lex, dt)

    def _read_collection(self) -> Term:
        self._expect("(")
        items: List[Term] = []
        while True:
            self._skip_ws()
            if self._peek() == ")":
                self.i += 1
                break
            items.append(self._read_term())
        if not items:
            return IRI(RDF_NIL)
        head = self._new_bnode()
        cur = head
        for k, item in enumerate(items):
            self._emit(cur, IRI(RDF_FIRST), item)
            nxt: Term = IRI(RDF_NIL) if k == len(items) - 1 else self._new_bnode()
            self._emit(cur, IRI(RDF_REST), nxt)
            cur = nxt
        return head

    # ------------------------------------------------------------ grammar
    def _emit(self, s: Term, p: Term, o: Term) -> None:
        if isinstance(o, QuotedTriple) and not isinstance(s, QuotedTriple):
            # reference ignores triple-as-object (RDFToLPGStatementProcessor.java:449-450)
            # but we still record it so downstream can count/inspect.
            pass
        self.statements.append(Statement(s, p, o, self._graph))

    def _predicate_object_list(self, subject: Term) -> None:
        while True:
            self._skip_ws()
            if self._peek() in (";", ""):
                # empty ; repetition
                if self._peek() == ";":
                    self.i += 1
                    self._skip_ws()
                    if self._peek() in (".", "]", "}", ""):
                        return
                    continue
                return
            p = self._read_term(as_predicate=True)
            while True:
                o = self._read_term()
                self._emit(subject, p, o)
                self._skip_ws()
                # RDF-star annotation syntax {| ... |}
                if self._startswith("{|"):
                    self.i += 2
                    qt = QuotedTriple(subject, p, o)
                    self._predicate_object_list(qt)
                    self._skip_ws()
                    self._expect("|}")
                    self._skip_ws()
                if self._peek() == ",":
                    self.i += 1
                    continue
                break
            if self._peek() == ";":
                self.i += 1
                self._skip_ws()
                if self._peek() in (".", "]", "}", ""):
                    return
                continue
            return

    def _directive(self) -> bool:
        self._skip_ws()
        if self._startswith("@prefix") or self._startswith("@PREFIX"):
            self.i += 7
            self._parse_prefix_decl()
            self._skip_ws()
            self._expect(".")
            return True
        if self._startswith("@base") or self._startswith("@BASE"):
            self.i += 5
            self._skip_ws()
            self.base = self._read_iriref().value
            self._skip_ws()
            self._expect(".")
            return True
        # SPARQL-style PREFIX/BASE (case-insensitive, no dot)
        m = re.match(r"(?i)PREFIX\b", self.text[self.i : self.i + 7])
        if m:
            self.i += 6
            self._parse_prefix_decl()
            return True
        m = re.match(r"(?i)BASE\b", self.text[self.i : self.i + 5])
        if m:
            self.i += 4
            self._skip_ws()
            self.base = self._read_iriref().value
            return True
        return False

    def _parse_prefix_decl(self) -> None:
        self._skip_ws()
        j = self.text.find(":", self.i)
        if j < 0:
            raise self._error("bad @prefix")
        pfx = self.text[self.i : j].strip()
        self.i = j + 1
        self._skip_ws()
        ns = self._read_iriref().value
        self.prefixes[pfx] = ns

    def _triples_block(self) -> None:
        self._skip_ws()
        c = self._peek()
        if c == "[":
            # blankNodePropertyList as subject
            self.i += 1
            node = self._new_bnode()
            self._skip_ws()
            if self._peek() != "]":
                self._predicate_object_list(node)
                self._skip_ws()
            self._expect("]")
            self._skip_ws()
            if self._peek() not in (".", "}", ""):
                self._predicate_object_list(node)
        else:
            subject = self._read_term()
            self._predicate_object_list(subject)
        self._skip_ws()
        if self._peek() == ".":
            self.i += 1

    def _graph_block(self, graph_iri: Optional[str]) -> None:
        prev = self._graph
        self._graph = graph_iri
        self._expect("{")
        while True:
            self._skip_ws()
            if self._peek() == "}":
                self.i += 1
                break
            if not self._peek():
                raise self._error("unterminated graph block")
            self._triples_block()
        self._graph = prev

    def parse(self) -> List[Statement]:
        while True:
            self._skip_ws()
            if self.i >= self.n:
                break
            if self._directive():
                continue
            # TriG: GRAPH <iri> { ... } | <iri> { ... } | { ... }
            if self._peek() == "{":
                self._graph_block(None)
                continue
            m = re.match(r"(?i)GRAPH\b", self.text[self.i : self.i + 6])
            if m:
                self.i += 5
                self._skip_ws()
                if self._peek() == "<":
                    g = self._read_iriref().value
                else:
                    word = self._read_pname_or_keyword()
                    g = self._expand_pname(word).value
                self._skip_ws()
                self._graph_block(g)
                continue
            save = self.i
            # try "<iri-or-pname> {" graph form
            try:
                if self._peek() == "<" and not self._startswith("<<"):
                    g_term = self._read_iriref()
                    self._skip_ws()
                    if self._peek() == "{":
                        self._graph_block(g_term.value)
                        continue
                    self.i = save
                elif self._peek() not in "[(\"'0123456789+-_" and self._peek():
                    word_save = self.i
                    word = self._read_pname_or_keyword()
                    self._skip_ws()
                    if word and ":" in word and self._peek() == "{":
                        self._graph_block(self._expand_pname(word).value)
                        continue
                    self.i = word_save
            except RDFParseError:
                self.i = save
            self._triples_block()
        return self.statements


def parse_turtle(text: str, base: Optional[str] = None) -> List[Statement]:
    return TurtleParser(text, base).parse()


# ---------------------------------------------------------------- fast path
_NT_LINE = re.compile(
    r"""^[ \t]*
        (?P<s><[^>]*>|_:\S+)[ \t]+
        (?P<p><[^>]*>)[ \t]+
        (?P<o><[^>]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[a-zA-Z]+(?:-[a-zA-Z0-9]+)*)?)
        (?:[ \t]+(?P<g><[^>]*>))?
        [ \t]*\.[ \t]*$""",
    re.VERBOSE,
)


def parse_ntriples_line(line: str) -> Optional[Statement]:
    """Regex fast path for one N-Triples / N-Quads line (vectorizable)."""
    line = line.strip()
    if not line or line.startswith("#"):
        return None
    m = _NT_LINE.match(line)
    if m is None:
        # exotic lines (quoted triples etc.): the full term grammar, plus
        # the N-Quads graph slot that Turtle statements lack
        return _parse_nquad_star_line(line)
    u = TurtleParser("")  # for _unescape only

    def term(tok: str) -> Term:
        if tok.startswith("<"):
            return IRI(u._unescape(tok[1:-1], allow_echar=False))
        if tok.startswith("_:"):
            return BNode(tok[2:])
        # literal
        body = tok
        lang = None
        dt = XSD_STRING
        if body.endswith(">") and "^^<" in body:
            body, dtpart = body.rsplit("^^<", 1)
            dt = u._unescape(dtpart[:-1], allow_echar=False)
        elif not body.endswith('"'):
            body, langpart = body.rsplit("@", 1)
            lang = langpart
            dt = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
        return Literal(u._unescape(body[1:-1]), dt, lang)

    g = m.group("g")
    return Statement(term(m.group("s")), term(m.group("p")), term(m.group("o")), g[1:-1] if g else None)


def _parse_nquad_star_line(line: str) -> Statement:
    p = TurtleParser(line)
    s = p._read_term()
    pred = p._read_term(as_predicate=True)
    o = p._read_term()
    p._skip_ws()
    g = p._read_iriref().value if p._peek() == "<" else None
    p._skip_ws()
    p._expect(".")
    p._skip_ws()
    if p.i < p.n:
        raise p._error("trailing content after statement")
    return Statement(s, pred, o, g)


def parse_ntriples(text: str) -> List[Statement]:
    out: List[Statement] = []
    for line in text.split("\n"):
        st = parse_ntriples_line(line)
        if st is not None:
            out.append(st)
    return out
