"""Seeded input generator for the benchmark.

Deliberately independent of `neosemantics_spark` (no `sources/datagen.py`):
a change to the program cannot change the load it is measured on. Every
corpus is a list of `src_files` rows (repo, path, commit, lang, content)
plus the closed-form expectations the output checks compare against.

The same seed gives the same rows; `digest()` fingerprints them.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

V = "http://bench.example.org/voc#"
E = "http://bench.example.org/e/"
I = "http://bench.example.org/i/"
D = "http://bench.example.org/d/"
G = "http://bench.example.org/g/"
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
REPO = "bench/kg"

TTL_PREFIXES = (
    f"@prefix v: <{V}> .\n@prefix e: <{E}> .\n@prefix d: <{D}> .\n"
    "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
    f"@prefix xsd: <{XSD}> .\n\n"
)

# one shape document for both validating workloads: every entity needs an
# integer rank and a name of at least three characters
SHAPES = f"""@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix v: <{V}> .
@prefix xsd: <{XSD}> .
v:EntityShape a sh:NodeShape ; sh:targetClass v:Entity ;
  sh:property [ sh:path v:rank ; sh:datatype xsd:integer ; sh:minCount 1 ] ;
  sh:property [ sh:path v:name ; sh:minLength 3 ] .
"""


@dataclass
class Corpus:
    rows: list  # src_files rows as dicts
    expect: dict = field(default_factory=dict)
    canonical: frozenset = frozenset()  # IRIs that name a sameAs clique's node

    @property
    def content_bytes(self) -> int:
        return sum(len(r["content"].encode()) for r in self.rows)


def digest(rows: list) -> str:
    h = hashlib.sha256()
    for r in rows:
        for k in ("repo", "path", "commit", "lang", "content"):
            h.update((r[k] or "").encode())
            h.update(b"\0")
    return h.hexdigest()[:16]


def _row(path: str, commit: str, lang: str, content: str) -> dict:
    return {"repo": REPO, "path": path, "commit": commit, "lang": lang, "content": content}


def _skewed_sizes(rng: random.Random, total: int, n: int, s: float = 0.9) -> list:
    """Split `total` items over `n` files with Zipf-like skew (a few big
    files, a long tail of small ones); every file gets at least one."""
    w = [1.0 / (i + 1) ** s for i in range(n)]
    rng.shuffle(w)
    tw = sum(w)
    sizes = [1 + int((total - n) * x / tw) for x in w]
    for i in range(total - sum(sizes)):
        sizes[i % n] += 1
    return sizes


def _lit_nt(v: str) -> str:
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n") + '"'


# ------------------------------------------------------------ build_sameas
def build_sameas(seed: int, n_mentions: int, n_files: int = 0) -> Corpus:
    """Turtle-heavy corpus with skewed owl:sameAs cliques: three hub
    cliques (star-linked, about 1% of the mentions each) plus many chains
    of 2–5, in `n_files` files (default: 20 mentions per file on average).
    Every count the pipeline produces has a closed form here."""
    n_files = n_files or max(1, n_mentions // 20)
    rng = random.Random(f"build_sameas:{seed}:{n_mentions}")
    ids = list(range(n_mentions))
    rng.shuffle(ids)
    cliques: list = []
    pos = 0
    for _ in range(3):  # hub cliques
        k = rng.randint(n_mentions // 120, n_mentions // 60)
        cliques.append(ids[pos : pos + k])
        pos += k
    small_budget = int(n_mentions * rng.uniform(0.12, 0.14))
    end_small = pos + small_budget
    while pos < end_small:
        k = rng.choice((2, 2, 2, 3, 3, 4, 5))
        cliques.append(ids[pos : pos + k])
        pos += k
    singletons = ids[pos:]
    comps = [sorted(c) for c in cliques] + [[s] for s in singletons]

    def iri(m: int) -> str:
        return f"{E}{m:08d}"

    # per-mention statements, owned by exactly one file
    stmts: dict = {m: [] for m in range(n_mentions)}
    sameas = 0
    for c in cliques:
        if len(c) >= 50:  # hub: star from a random member
            hub = rng.choice(c)
            links = [(hub, m) for m in c if m != hub]
        else:  # small: chain in random order
            order = list(c)
            rng.shuffle(order)
            links = list(zip(order, order[1:]))
        for a, b in links:
            stmts[a].append(("sameas", b))
        sameas += len(links)
    viol_share = rng.uniform(0.03, 0.06)
    missing_rank = short_name = 0
    singleton_set = set(singletons)
    for m in range(n_mentions):
        bad = m in singleton_set and rng.random() < viol_share
        kind = rng.choice(("rank", "name")) if bad else None
        name = "ab" if kind == "name" else f"Entity {m} {rng.choice(('alpha', 'beta', 'gamma'))}"
        stmts[m].append(("name", name))
        if kind != "rank":
            stmts[m].append(("rank", rng.randint(1, 10_000)))
        missing_rank += kind == "rank"
        short_name += kind == "name"
    # entity-level knows edges: distinct (component, component) pairs, each
    # emitted from one mention of the source to one mention of the target
    n_comps = len(comps)
    n_edges = 0
    for ci, c in enumerate(comps):
        deg = rng.choice((0, 1, 1, 2, 2, 3, 4))
        targets = set()
        while len(targets) < deg:
            t = rng.randrange(n_comps)
            if t != ci:
                targets.add(t)
        for t in sorted(targets):
            stmts[rng.choice(c)].append(("knows", rng.choice(comps[t])))
        n_edges += deg
    # files: mentions shuffled into Zipf-sized files, 85% Turtle
    order = list(range(n_mentions))
    rng.shuffle(order)
    rows = []
    n_triples = 0
    sizes = _skewed_sizes(rng, n_mentions, n_files)
    # N-Triples files, picked at random, up to 15% of the mentions: the
    # format mix (and so the corpus size) is the same for every seed
    nt_files, budget = set(), 0.15 * n_mentions
    for fi in rng.sample(range(n_files), n_files):
        if sizes[fi] <= budget:
            nt_files.add(fi)
            budget -= sizes[fi]
    pos = 0
    for fi, size in enumerate(sizes):
        members = order[pos : pos + size]
        pos += size
        as_ttl = fi not in nt_files
        parts = [TTL_PREFIXES] if as_ttl else []
        for m in members:
            n_triples += 1 + len(stmts[m])
            if as_ttl:
                po = ["a v:Entity"]
                for kind, val in stmts[m]:
                    if kind == "sameas":
                        po.append(f"owl:sameAs e:{val:08d}")
                    elif kind == "knows":
                        po.append(f"v:knows e:{val:08d}")
                    elif kind == "name":
                        po.append(f"v:name {_lit_nt(val)}")
                    else:
                        po.append(f"v:rank {val}")
                parts.append(f"e:{m:08d} " + " ;\n    ".join(po) + " .\n")
            else:
                s = f"<{iri(m)}>"
                parts.append(f"{s} <{RDF_TYPE}> <{V}Entity> .\n")
                for kind, val in stmts[m]:
                    if kind == "sameas":
                        parts.append(f"{s} <{OWL_SAMEAS}> <{iri(val)}> .\n")
                    elif kind == "knows":
                        parts.append(f"{s} <{V}knows> <{iri(val)}> .\n")
                    elif kind == "name":
                        parts.append(f"{s} <{V}name> {_lit_nt(val)} .\n")
                    else:
                        parts.append(f'{s} <{V}rank> "{val}"^^<{XSD}integer> .\n')
        ext, lang = (".ttl", "Turtle") if as_ttl else (".nt", "N-Triples")
        rows.append(_row(f"src/f{fi:05d}{ext}", "c000000", lang, "".join(parts)))
    # malformed files: ghost entities behind a syntax error (quarantined)
    n_bad = max(1, int(n_files * rng.uniform(0.005, 0.015)))
    for bi in range(n_bad):
        body = TTL_PREFIXES + f'<{E}ghost{bi}> a v:Entity ; v:name "unterminated .\n'
        rows.append(_row(f"src/bad{bi:04d}.ttl", "c000000", "Turtle", body))
    rng.shuffle(rows)
    return Corpus(
        rows,
        {
            "triples": n_triples,
            "parse_errors": n_bad,
            "nodes": n_comps,
            "edges": n_edges,
            "props": 2 * n_comps - missing_rank,
            "violations": missing_rank + short_name,
            "sameas_edges": sameas,
            "canonical_uris": sum(len(c) for c in cliques),
            "components": len(cliques),
            "focus_nodes": n_comps,
            "mentions": n_mentions,
            # exported triples: one type label per node, one value per
            # property (OVERWRITE), one triple per edge
            "nt_lines": n_comps + (2 * n_comps - missing_rank) + n_edges,
            # the node of a clique is named after its least IRI
            "clique_nodes": len(cliques),
        },
        frozenset(iri(min(c)) for c in cliques),
    )


# ------------------------------------------------------------ mixed_export
_WORDS = ("graph", "node", "edge", "quad", "star", "literal", "shape", "delta")


def mixed_export(seed: int, n_items: int = 9_000, n_files: int = 600) -> Corpus:
    """Five non-Turtle serializations carrying typed literals (dateTime,
    date, decimal), language tags, multi-valued properties, named graphs
    and RDF-star annotations. Items are file-local, named-graph-scoped in
    the quad formats, and never blank nodes (so an export re-parses to the
    identical term set)."""
    rng = random.Random(f"mixed_export:{seed}:{n_items}")
    fmts = ["N-Triples", "N-Quads", "JSON-LD", "RDF/XML", "TriG-star"]
    sizes = _skewed_sizes(rng, n_items, n_files, s=0.7)
    rows = []
    next_id = 0
    for fi, size in enumerate(sizes):
        fmt = fmts[fi % len(fmts)] if rng.random() < 0.9 else rng.choice(fmts)
        items = []
        for _ in range(size):
            iid = next_id
            next_id += 1
            w = rng.choice(_WORDS)
            titles = [(f"{w} title {iid}", "en"), (f"{w} Titel {iid}", rng.choice(("de", "de-AT")))]
            if rng.random() < 0.1:
                titles.append((f'a "quoted"\n{w} {iid}', "en-GB"))
            tags = sorted({rng.choice(_WORDS) for _ in range(rng.randint(1, 4))})
            items.append(
                {
                    "iri": f"{I}{iid:07d}",
                    "titles": titles,
                    "tags": tags,
                    "price": f"{rng.randint(1, 99_999) / 100:.2f}",
                    "born": f"{rng.randint(1950, 2020)}-{rng.randint(1, 12):02d}-"
                    f"{rng.randint(1, 28):02d}",
                    "updated": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
                    f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z",
                    "count": rng.randint(0, 500),
                    "related": sorted(
                        {f"{I}{rng.randrange(max(1, iid)):07d}" for _ in range(rng.randint(0, 2))}
                    ),
                }
            )
        graph = f"{G}{fi % 7}" if fmt in ("N-Quads", "TriG-star") else None
        content = _SERIALIZERS[fmt](items, graph, rng)
        ext = {"N-Triples": ".nt", "N-Quads": ".nq", "JSON-LD": ".jsonld", "RDF/XML": ".rdf",
               "TriG-star": ".trigs"}[fmt]
        rows.append(_row(f"mix/f{fi:05d}{ext}", "c000000", fmt, content))
    rng.shuffle(rows)
    return Corpus(rows, {"items": n_items})


def _item_nt(it: dict, graph) -> list:
    g = f" <{graph}>" if graph else ""
    s = f"<{it['iri']}>"
    out = [f"{s} <{RDF_TYPE}> <{V}Item>{g} ."]
    for t, lang in it["titles"]:
        out.append(f"{s} <{V}title> {_lit_nt(t)}@{lang}{g} .")
    for tag in it["tags"]:
        out.append(f"{s} <{V}tag> {_lit_nt(tag)}{g} .")
    out.append(f'{s} <{V}price> "{it["price"]}"^^<{XSD}decimal>{g} .')
    out.append(f'{s} <{V}born> "{it["born"]}"^^<{XSD}date>{g} .')
    out.append(f'{s} <{V}updated> "{it["updated"]}"^^<{XSD}dateTime>{g} .')
    out.append(f'{s} <{V}count> "{it["count"]}"^^<{XSD}integer>{g} .')
    for r in it["related"]:
        out.append(f"{s} <{V}related> <{r}>{g} .")
    return out


def _ser_nt(items, graph, rng) -> str:
    return "\n".join(line for it in items for line in _item_nt(it, graph)) + "\n"


def _ser_jsonld(items, graph, rng) -> str:
    nodes = []
    for it in items:
        n = {
            "@id": it["iri"],
            "@type": "v:Item",
            "v:title": [{"@value": t, "@language": lang} for t, lang in it["titles"]],
            "v:tag": list(it["tags"]),
            "v:price": {"@value": it["price"], "@type": "xsd:decimal"},
            "v:born": {"@value": it["born"], "@type": "xsd:date"},
            "v:updated": {"@value": it["updated"], "@type": "xsd:dateTime"},
            "v:count": {"@value": str(it["count"]), "@type": "xsd:integer"},
        }
        if it["related"]:
            n["v:related"] = [{"@id": r} for r in it["related"]]
        nodes.append(n)
    return json.dumps({"@context": {"v": V, "xsd": XSD}, "@graph": nodes}, indent=1)


def _xml_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")


def _ser_rdfxml(items, graph, rng) -> str:
    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:v="{V}">',
    ]
    for it in items:
        out.append(f'  <v:Item rdf:about="{it["iri"]}">')
        for t, lang in it["titles"]:
            out.append(f'    <v:title xml:lang="{lang}">{_xml_text(t)}</v:title>')
        for tag in it["tags"]:
            out.append(f"    <v:tag>{_xml_text(tag)}</v:tag>")
        for p, dt in (("price", "decimal"), ("born", "date"), ("updated", "dateTime"),
                      ("count", "integer")):
            out.append(f'    <v:{p} rdf:datatype="{XSD}{dt}">{it[p]}</v:{p}>')
        for r in it["related"]:
            out.append(f'    <v:related rdf:resource="{r}"/>')
        out.append("  </v:Item>")
    out.append("</rdf:RDF>")
    return "\n".join(out) + "\n"


def _ser_trig_star(items, graph, rng) -> str:
    out = [f"@prefix v: <{V}> .", f"@prefix xsd: <{XSD}> .", f"<{graph}> {{"]
    for it in items:
        s = f"<{it['iri']}>"
        po = ["a v:Item"]
        po += [f"v:title {_lit_nt(t)}@{lang}" for t, lang in it["titles"]]
        po += [f"v:tag {_lit_nt(tag)}" for tag in it["tags"]]
        po.append(f'v:price "{it["price"]}"^^xsd:decimal')
        po.append(f'v:born "{it["born"]}"^^xsd:date')
        po.append(f'v:updated "{it["updated"]}"^^xsd:dateTime')
        po.append(f"v:count {it['count']}")
        po += [f"v:related <{r}>" for r in it["related"]]
        out.append(f"  {s} " + " ;\n    ".join(po) + " .")
        for r in it["related"]:  # RDF-star annotation on the asserted edge
            out.append(
                f'  << {s} v:related <{r}> >> v:since "{rng.randint(1990, 2024)}"^^xsd:integer ;'
                f' v:source "{rng.choice(_WORDS)}" .'
            )
    out.append("}")
    return "\n".join(out) + "\n"


_SERIALIZERS = {
    "N-Triples": lambda items, graph, rng: _ser_nt(items, None, rng),
    "N-Quads": _ser_nt,
    "JSON-LD": _ser_jsonld,
    "RDF/XML": _ser_rdfxml,
    "TriG-star": _ser_trig_star,
}


# ------------------------------------------------------------ delta_stream
class DeltaStream:
    """A fixed base corpus plus an unbounded, seeded sequence of ~1% deltas
    of new, modified and resubmitted-unchanged files. The base does not
    depend on the seed, so its built state can be reused across runs.

    Entities are owned by one file path and named after it; a modified
    file keeps its path and gets a larger commit id, so arrival order
    equals the canonical (repo, path, commit, stmt_idx) order and the
    incremental store must equal a from-scratch import of every row. The
    generator tracks each entity's latest name and whether it ever had a
    rank, which gives every batch's delta-violation count in closed form."""

    def __init__(self, seed: int, n_base_files: int, delta_share: float = 0.01):
        self.rng = random.Random(f"delta_stream:base:{n_base_files}")
        self.delta_share = delta_share
        self.files: dict = {}  # path -> {"ents": [entity statements]}
        self.name: dict = {}  # entity iri -> latest name
        self.has_rank: dict = {}  # entity iri -> ever had a rank
        self.entities: list = []  # every entity iri, arrival order
        self.edges: set = set()  # every (entity, knows target) ever submitted
        self.batch = 0
        sizes = _skewed_sizes(self.rng, n_base_files * 8, n_base_files, s=0.8)
        self.base = Corpus([self._new_file(size) for size in sizes])
        self.base.expect = self._graph_counts()
        self.rng = random.Random(f"delta_stream:{seed}")

    # ---- file content
    def _entity_stmts(self, iri: str, fresh: bool) -> dict:
        rng = self.rng
        bad = rng.random() < 0.04
        name = "ab" if bad and rng.random() < 0.5 else f"Entity {iri[-9:]} {rng.choice(_WORDS)}"
        if fresh:
            with_rank = not (bad and name != "ab")
        else:  # a modification can add a missing rank, never remove one
            with_rank = self.has_rank[iri] or rng.random() < 0.7
        knows = [rng.choice(self.entities)] if self.entities else []
        rank = rng.randint(1, 999) if with_rank else None
        return {"iri": iri, "name": name, "rank": rank, "knows": knows}

    def _render(self, ents: list) -> str:
        """Turtle with full IRIs: content bytes track the entity count."""
        parts = []
        for e in ents:
            po = [f"<{RDF_TYPE}> <{V}Entity>", f"<{V}name> {_lit_nt(e['name'])}"]
            if e["rank"] is not None:
                po.append(f"<{V}rank> {e['rank']}")
            po += [f"<{V}knows> <{k}>" for k in e["knows"]]
            parts.append(f"<{e['iri']}> " + " ;\n    ".join(po) + " .\n")
        return "".join(parts)

    def _apply(self, ents: list) -> None:
        for e in ents:
            if e["iri"] not in self.name:
                self.entities.append(e["iri"])
                self.has_rank[e["iri"]] = False
            self.name[e["iri"]] = e["name"]
            self.has_rank[e["iri"]] |= e["rank"] is not None
            self.edges.update((e["iri"], k) for k in e["knows"])

    def _commit(self) -> str:
        return f"c{self.batch:06d}"

    def _new_file(self, size: int) -> dict:
        fid = len(self.files)
        path = f"stream/b{self.batch:04d}/f{fid:06d}.ttl"
        ents = [self._entity_stmts(f"{D}{fid:06d}-{k:03d}", True) for k in range(size)]
        self.files[path] = {"ents": ents}
        self._apply(ents)
        return _row(path, self._commit(), "Turtle", self._render(ents))

    def _modified_file(self, path: str) -> dict:
        ents = [self._entity_stmts(e["iri"], False) for e in self.files[path]["ents"]]
        self.files[path]["ents"] = ents
        self._apply(ents)
        return _row(path, self._commit(), "Turtle", self._render(ents))

    def _touched_file(self, path: str) -> dict:
        return _row(path, self._commit(), "Turtle", self._render(self.files[path]["ents"]))

    # ---- expectations
    def _violations(self, delta_rows: list) -> int:
        """Violations among the nodes a delta touches: subjects plus
        resource objects of its triples, judged on the merged state."""
        touched = set()
        for r in delta_rows:
            for e in self.files[r["path"]]["ents"]:
                touched.add(e["iri"])
                touched.update(e["knows"])
        return sum((len(self.name[u]) < 3) + (not self.has_rank[u]) for u in touched)

    def _graph_counts(self) -> dict:
        """Closed-form size of the merged graph: one node per entity (every
        knows target is an entity), one edge per distinct knows pair ever
        submitted, a name per entity plus a rank per entity that ever had
        one."""
        return {"nodes": len(self.entities), "edges": len(self.edges),
                "props": len(self.entities) + sum(self.has_rank.values())}

    def next_batch(self) -> Corpus:
        """The next delta: ~1% of the current entities, in a seeded mix of
        new, modified and resubmitted-unchanged (new commit, same content)
        files. The mix varies; the delta's entity count does not, so every
        batch carries the same amount of new content."""
        self.batch += 1
        rng = self.rng
        target = max(8, round(len(self.entities) * self.delta_share))
        share_mod = rng.uniform(0.2, 0.35)
        share_touch = rng.uniform(0.1, 0.2)
        by_size = sorted(self.files, key=lambda p: (len(self.files[p]["ents"]), p))
        small = by_size[: len(by_size) // 2]  # old files small enough to fit a delta
        picked, budget = [], {"mod": target * share_mod, "touch": target * share_touch}
        rows = []
        for kind in ("mod", "touch"):
            while budget[kind] >= 1:
                p = rng.choice(small)
                if p in picked:
                    continue
                picked.append(p)
                budget[kind] -= len(self.files[p]["ents"])
                rows.append(self._modified_file(p) if kind == "mod" else self._touched_file(p))
        n_old = len(rows)
        left = target - sum(len(self.files[p]["ents"]) for p in picked)
        while left > 0:
            size = min(left, rng.randint(2, 12))
            rows.append(self._new_file(size))
            left -= size
        # type, name, rank if any, knows
        triples = sum(2 + (e["rank"] is not None) + len(e["knows"])
                      for r in rows for e in self.files[r["path"]]["ents"])
        return Corpus(rows, {"delta_violations": self._violations(rows), "triples": triples,
                             **self._graph_counts()})
