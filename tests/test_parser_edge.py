"""Parser edge cases + property-based round-trip (pure Python, no Spark).

Mirrors reference coverage: escapes, long strings, numeric forms, base
resolution, comments, empty docs, bad input recovery
(RDFProceduresTest.java datatype/format cases, SURVEY.md §5)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neosemantics_spark.rdf.terms import IRI, Literal
from neosemantics_spark.rdf.turtle import RDFParseError, parse_ntriples, parse_turtle


def test_escapes_roundtrip():
    ttl = r'''@prefix ex: <http://e/> .
ex:a ex:p "tab\there \"quoted\" back\\slash é \U0001F600" .
'''
    (st,) = parse_turtle(ttl)
    assert st.o.lexical == 'tab\there "quoted" back\\slash é \U0001F600'


def test_iri_escapes():
    stmts = parse_turtle('<http://e/a\\u0020b> <http://e/p> <http://e/c> .')
    assert stmts[0].s.value == "http://e/a b"


def test_base_resolution():
    ttl = """@base <http://example.org/dir/page> .
<#frag> <rel> <../up> .
<//other.org/x> <rel2> </abs> .
"""
    s = parse_turtle(ttl)
    assert s[0].s.value == "http://example.org/dir/page#frag"
    assert s[0].p.value == "http://example.org/dir/rel"
    assert s[0].o.value == "http://example.org/up"
    assert s[1].s.value == "http://other.org/x"
    assert s[1].o.value == "http://example.org/abs"


def test_numeric_forms():
    s = parse_turtle("@prefix e: <http://e/> . e:a e:p 42, -7, 3.14, -0.5, 1e3, 2.5E-2, true, false .")
    dts = [x.o.datatype.rsplit("#", 1)[-1] for x in s]
    assert dts == ["integer", "integer", "decimal", "decimal", "double", "double", "boolean", "boolean"]


def test_empty_and_comments():
    assert parse_turtle("# just a comment\n\n") == []
    assert parse_ntriples("# c\n\n") == []
    s = parse_turtle("@prefix e: <http://e/> . # trailing\ne:a e:p e:b . # end\n")
    assert len(s) == 1


def test_semicolon_variants():
    s = parse_turtle("@prefix e: <http://e/> . e:a e:p e:b ; ; e:q e:c ; .")
    assert len(s) == 2


def test_nquads_star_line_keeps_graph():
    """The N-Triples exporter writes an RDF-star annotation in a named
    graph as `<< s p o >> p o g .`; the line must parse with its graph."""
    from neosemantics_spark.rdf.terms import QuotedTriple

    text = (
        '<< <http://a> <http://p> <http://b> >> <http://q> "x" <http://g> .\n'
        '<< <http://a> <http://p> <http://b> >> <http://q> "y" .\n'
    )
    named, default = parse_ntriples(text)
    assert named.s == QuotedTriple(IRI("http://a"), IRI("http://p"), IRI("http://b"))
    assert named.o.lexical == "x" and named.g == "http://g"
    assert default.o.lexical == "y" and default.g is None
    with pytest.raises(RDFParseError):
        parse_ntriples('<< <http://a> <http://p> <http://b> >> <http://q> "x" <http://g> <http://h> .')


def test_undefined_prefix_raises():
    with pytest.raises(RDFParseError):
        parse_turtle("ex:a ex:p ex:b .")


def test_unterminated_iri_raises():
    with pytest.raises(RDFParseError):
        parse_turtle("<http://unterminated ...")


def test_pname_local_escapes():
    s = parse_turtle(r"@prefix e: <http://e/> . e:a\.b e:p e:ok .")
    assert s[0].s.value == "http://e/a.b"


def test_nested_bnode_property_lists():
    s = parse_turtle(
        "@prefix e: <http://e/> . e:a e:p [ e:q [ e:r \"deep\" ] ; e:s 1 ] ."
    )
    assert len(s) == 4
    literals = [x.o.lexical for x in s if isinstance(x.o, Literal)]
    assert sorted(literals) == ["1", "deep"]


def test_trig_default_and_named_mix():
    s = parse_turtle(
        """@prefix e: <http://e/> .
e:x e:p e:y .
e:g { e:a e:p 1 . e:b e:p 2 . }
GRAPH <http://e/h> { e:c e:p 3 . }
e:z e:q e:w .
"""
    )
    graphs = [x.g for x in s]
    assert graphs == [None, "http://e/g", "http://e/g", "http://e/h", None]


_SAFE_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)


@settings(max_examples=150, deadline=None)
@given(_SAFE_TEXT)
def test_literal_roundtrip_property(text):
    """Any unicode literal survives serialize→parse (N-Triples escape path)."""
    lit = Literal(text)
    line = f"<http://e/s> <http://e/p> {lit.n3()} ."
    stmts = parse_ntriples(line)
    assert len(stmts) == 1
    assert stmts[0].o.lexical == text


@settings(max_examples=80, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 50), st.integers(0, 20)), min_size=1, max_size=20))
def test_ntriples_multiline_roundtrip(pairs):
    lines = [
        f"<http://e/s{a}> <http://e/p{b}> \"v{a}_{b}\" ." for a, b in pairs
    ]
    stmts = parse_ntriples("\n".join(lines))
    assert len(stmts) == len(pairs)
    for (a, b), s in zip(pairs, stmts):
        assert s.s == IRI(f"http://e/s{a}") and s.o.lexical == f"v{a}_{b}"


def test_rdfxml_collection_and_li():
    from neosemantics_spark.rdf.rdfxml import parse_rdfxml
    from neosemantics_spark.rdf.terms import RDF

    xml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://e/">
  <rdf:Description rdf:about="http://e/s">
    <ex:items rdf:parseType="Collection">
      <rdf:Description rdf:about="http://e/i1"/>
      <rdf:Description rdf:about="http://e/i2"/>
    </ex:items>
    <ex:bag><rdf:Description rdf:nodeID="b"><rdf:li>one</rdf:li><rdf:li>two</rdf:li></rdf:Description></ex:bag>
    <ex:res rdf:parseType="Resource"><ex:inner>v</ex:inner></ex:res>
  </rdf:Description>
</rdf:RDF>"""
    stmts = parse_rdfxml(xml)
    firsts = [s for s in stmts if s.p.value == RDF + "first"]
    assert {f.o.value for f in firsts} == {"http://e/i1", "http://e/i2"}
    rests = [s for s in stmts if s.p.value == RDF + "rest"]
    assert any(r.o.value == RDF + "nil" for r in rests)
    lis = sorted(s.p.value for s in stmts if "_" in s.p.value.rsplit("#", 1)[-1])
    assert lis == [RDF + "_1", RDF + "_2"]
    inner = [s for s in stmts if s.p.value == "http://e/inner"]
    assert inner and inner[0].o.lexical == "v"


def test_jsonld_graph_and_list():
    from neosemantics_spark.rdf.jsonld import parse_jsonld
    from neosemantics_spark.rdf.terms import RDF

    doc = """{
      "@context": {"p": "http://e/p", "lst": {"@id": "http://e/lst"}},
      "@graph": [
        {"@id": "http://e/a", "p": {"@value": "5", "@type": "http://www.w3.org/2001/XMLSchema#integer"}},
        {"@id": "http://e/b", "lst": {"@list": ["x", "y"]}}
      ]
    }"""
    stmts = parse_jsonld(doc)
    typed = [s for s in stmts if s.p.value == "http://e/p"]
    assert typed[0].o.datatype.endswith("integer") and typed[0].o.lexical == "5"
    firsts = [s.o.lexical for s in stmts if s.p.value == RDF + "first"]
    assert firsts == ["x", "y"]


def test_jsonld_named_graph_context():
    from neosemantics_spark.rdf.jsonld import parse_jsonld

    doc = """{
      "@context": {"p": "http://e/p"},
      "@id": "http://e/g1",
      "@graph": [{"@id": "http://e/a", "p": "v"}]
    }"""
    stmts = parse_jsonld(doc)
    assert stmts[0].g == "http://e/g1"
