"""Incremental graph-table maintenance (IncrementalGraphStore).

Mirrors the reference's incremental fixtures
(/root/reference/src/test/resources/incremental/step{1,2,3}.ttl, exercised
by RDFProceduresTest: ARRAY-mode values accumulate across imports,
OVERWRITE re-imports replace — DirectStatementLoader.java:60-129
find-or-create + merge) and pins the store's own stronger invariant:
merge-of-batches is column-for-column EQUAL to a from-scratch
materialize of the union.
"""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neosemantics_spark.config import ARRAY, KEEP, LABELS_AND_NODES, SHORTEN, GraphConfig
from neosemantics_spark.operators.incremental import (
    IncrementalGraphStore,
    extend_prefix_map,
)
from neosemantics_spark.operators.materialize import materialize, transform_triples
from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
from neosemantics_spark.sources.datagen import fixture_corpus
from neosemantics_spark.sources.parse import extract_triples


def _src(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def _step(spark, content, commit):
    """One reference-style incremental step batch (same path each time —
    a re-import of the same logical document, like the step ttls)."""
    return _src(
        spark,
        [
            {
                "repo": "org/inc",
                "path": "data/step.ttl",
                "commit": commit,
                "lang": "Turtle",
                "content": "@prefix voc: <http://example.org/vocab/> .\n"
                "@prefix ind: <http://example.org/ind/> .\n" + content,
            }
        ],
    )


STEP1 = 'ind:218 a voc:Thing .\nind:218 voc:prop "one" .\n'
STEP2 = 'ind:218 a voc:Thing .\nind:218 voc:prop "two" .\n'
STEP3 = (
    "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    'ind:218 a voc:Thing .\nind:218 voc:prop "230"^^xsd:integer .\n'
)


def _norm_cell(v):
    import numpy as np

    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float):
        return round(v, 9)
    return v


def _norm(df):
    pdf = df.toPandas()
    cols = sorted(pdf.columns)
    rows = [
        tuple(_norm_cell(r[c]) for c in cols) for _, r in pdf.iterrows()
    ]
    return cols, sorted(rows, key=repr)


def assert_tables_equal(a, b):
    for name in ("nodes", "edges", "node_props"):
        ca, ra = _norm(getattr(a, name))
        cb, rb = _norm(getattr(b, name))
        assert ca == cb, f"{name} columns differ: {ca} vs {cb}"
        assert ra == rb, f"{name} rows differ"


def test_step_fixtures_overwrite_arrival(spark, tmp_path):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    store = IncrementalGraphStore(spark, str(tmp_path / "s1"), cfg, order="arrival")
    for i, step in enumerate([STEP1, STEP2, STEP3]):
        t = transform_triples(extract_triples(_step(spark, step, "c%d" % i)), cfg)
        store.merge_batch(t, f"step{i + 1}")
    assert store.version() == 3
    assert [b["batch_id"] for b in store.batches()] == ["step1", "step2", "step3"]
    tables = store.tables()
    nodes = tables.nodes.toPandas()
    row = nodes[nodes.uri == "http://example.org/ind/218"].iloc[0]
    # OVERWRITE + arrival order: the re-import replaces (step3 wins)
    assert row["props"]["http://example.org/vocab/prop"] == "230"
    assert list(row["labels"]) == ["http://example.org/vocab/Thing"]
    np = tables.node_props.toPandas()
    pr = np[np.prop == "http://example.org/vocab/prop"].iloc[0]
    assert pr["datatype"] == "http://www.w3.org/2001/XMLSchema#integer"


def test_step_fixtures_array_accumulates(spark, tmp_path):
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    store = IncrementalGraphStore(spark, str(tmp_path / "s2"), cfg, order="arrival")
    for i, step in enumerate([STEP1, STEP2, STEP3]):
        t = transform_triples(extract_triples(_step(spark, step, "c%d" % i)), cfg)
        store.merge_batch(t)
    p = store.tables().nodes.toPandas()
    row = p[p.uri == "http://example.org/ind/218"].iloc[0]
    # ARRAY mode: re-imports accumulate in arrival order (reference
    # incremental step semantics)
    assert row["props"]["http://example.org/vocab/prop"] == '["one","two","230"]'


@pytest.mark.parametrize(
    "cfg",
    [
        GraphConfig(handle_vocab_uris=KEEP),
        GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY),
        GraphConfig(
            handle_vocab_uris=KEEP,
            handle_multival=ARRAY,
            strict_data_type_check=True,
            handle_rdf_types=LABELS_AND_NODES,
        ),
        GraphConfig(
            handle_vocab_uris=KEEP,
            handle_multival=ARRAY,
            multival_prop_list=["http://example.org/tag"],
        ),
    ],
    ids=["overwrite", "array", "strict-nodes", "array-proplist"],
)
def test_merge_of_batches_equals_union(spark, tmp_path, cfg):
    """The headline invariant: canonical-order incremental merge is
    bit-identical to materialize over the full corpus — across star rows,
    quads, bnodes, every vocab fixture."""
    corpus = fixture_corpus(spark)
    b0 = corpus.filter(F.crc32("path") % 2 == 0)
    b1 = corpus.filter(F.crc32("path") % 2 == 1)
    assert b0.count() > 0 and b1.count() > 0
    root = str(tmp_path / "eq")
    store = IncrementalGraphStore(spark, root, cfg, order="canonical")
    for b in (b0, b1):
        store.merge_batch(transform_triples(extract_triples(b), cfg))
    expected = materialize(transform_triples(extract_triples(corpus), cfg), cfg)
    assert_tables_equal(store.tables(), expected)


def test_merge_equals_union_shorten_with_stable_prefixes(spark, tmp_path):
    """SHORTEN across batches: extend_prefix_map keeps prefixes stable, and
    feeding the final map to a from-scratch run reproduces the store."""
    cfg = GraphConfig(handle_vocab_uris=SHORTEN)
    corpus = fixture_corpus(spark)
    b0 = corpus.filter(F.crc32("path") % 2 == 0)
    b1 = corpus.filter(F.crc32("path") % 2 == 1)
    store = IncrementalGraphStore(spark, str(tmp_path / "sh"), cfg)
    ns = {}
    for b in (b0, b1):
        raw = extract_triples(b)
        ns = extend_prefix_map(ns, collect_namespaces(raw))
        store.merge_batch(transform_triples(raw, cfg, ns))
    expected = materialize(
        transform_triples(extract_triples(corpus), cfg, ns), cfg
    )
    assert_tables_equal(store.tables(), expected)


def test_extend_prefix_map_never_reassigns():
    m1 = extend_prefix_map({}, ["http://b.org/", "http://a.org/"])
    assert m1 == {"http://a.org/": "ns0", "http://b.org/": "ns1"}
    m2 = extend_prefix_map(m1, ["http://c.org/", "http://a.org/"])
    assert m2["http://a.org/"] == "ns0" and m2["http://b.org/"] == "ns1"
    assert m2["http://c.org/"] == "ns2"
    # seeded with standard prefixes (build_prefix_map style) — still stable
    seeded = extend_prefix_map({"http://x.org/": "custom"}, ["http://y.org/"])
    assert seeded["http://x.org/"] == "custom"
    assert seeded["http://y.org/"] == "ns0"


def test_crash_leftover_vdir_is_harmless(spark, tmp_path):
    """A crashed merge leaves a v=<n+1> dir without a HEAD bump; the retry
    overwrites it and state stays consistent."""
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    root = str(tmp_path / "crash")
    store = IncrementalGraphStore(spark, root, cfg, order="arrival")
    t1 = transform_triples(extract_triples(_step(spark, STEP1, "c0")), cfg)
    store.merge_batch(t1, "step1")
    # simulate: v=2 partially written, no HEAD update
    os.makedirs(os.path.join(root, "v=000002", "prop_state"), exist_ok=True)
    with open(os.path.join(root, "v=000002", "prop_state", "junk"), "w") as fh:
        fh.write("partial")
    assert store.version() == 1
    t2 = transform_triples(extract_triples(_step(spark, STEP2, "c1")), cfg)
    store.merge_batch(t2, "step2-retry")
    assert store.version() == 2
    p = store.tables().nodes.toPandas()
    row = p[p.uri == "http://example.org/ind/218"].iloc[0]
    assert row["props"]["http://example.org/vocab/prop"] == "two"


def test_gc_keeps_current_and_previous(spark, tmp_path):
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    root = str(tmp_path / "gc")
    store = IncrementalGraphStore(spark, root, cfg, order="arrival")
    for i, step in enumerate([STEP1, STEP2, STEP3]):
        t = transform_triples(extract_triples(_step(spark, step, "c%d" % i)), cfg)
        store.merge_batch(t)
    vdirs = sorted(d for d in os.listdir(root) if d.startswith("v="))
    assert vdirs == ["v=000002", "v=000003"]


def test_config_fingerprint_guard(spark, tmp_path):
    root = str(tmp_path / "fp")
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    store = IncrementalGraphStore(spark, root, cfg)
    t = transform_triples(extract_triples(_step(spark, STEP1, "c0")), cfg)
    store.merge_batch(t)
    with pytest.raises(ValueError, match="fingerprint"):
        IncrementalGraphStore(
            spark, root, GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
        )
    # same config reopens fine and sees the state
    again = IncrementalGraphStore(spark, root, cfg)
    assert again.version() == 1


def test_remote_scheme_root_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="URI scheme"):
        IncrementalGraphStore(spark, "hdfs://nn/state", GraphConfig())
    s = IncrementalGraphStore(spark, f"file://{tmp_path}/ok", GraphConfig())
    assert s.root == f"{tmp_path}/ok"


def test_empty_store_tables_raises(spark, tmp_path):
    store = IncrementalGraphStore(spark, str(tmp_path / "empty"), GraphConfig())
    with pytest.raises(ValueError, match="empty"):
        store.tables()


@pytest.mark.parametrize(
    "cfg",
    [
        GraphConfig(handle_vocab_uris=KEEP),
        GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY),
    ],
    ids=["overwrite", "array"],
)
def test_tables_canonicalized_equals_full_recompute(spark, tmp_path, cfg):
    """VERDICT r5 item 6: incremental merges + the sameAs reconcile
    refresh must equal the full-recompute entity-linked pipeline
    (transform → canonicalize_triples → materialize) column-for-column.
    The fixture corpus carries a TRANSITIVE sameAs chain
    (a.org/e1 → b.org/e9 → c.org/e5, data/sameas.nt) plus literal props
    on two clique members, so the CC closure, prop re-aggregation under
    the canonical uri, and sameAs-row dropping are all exercised."""
    from neosemantics_spark.operators.cc import canonical_map, canonicalize_triples

    corpus = fixture_corpus(spark)
    b0 = corpus.filter(F.crc32("path") % 2 == 0)
    b1 = corpus.filter(F.crc32("path") % 2 == 1)
    root = str(tmp_path / "canon")
    store = IncrementalGraphStore(spark, root, cfg, order="canonical")
    for b in (b0, b1):
        store.merge_batch(transform_triples(extract_triples(b), cfg))
    got = store.tables_canonicalized()

    t = transform_triples(extract_triples(corpus), cfg)
    t = canonicalize_triples(t, canonical_map(t))
    expected = materialize(t, cfg)
    assert_tables_equal(got, expected)
    # the clique collapsed: canonical member survives, others are gone
    uris = {r["uri"] for r in got.nodes.select("uri").collect()}
    assert "http://a.org/e1" in uris
    assert "http://b.org/e9" not in uris and "http://c.org/e5" not in uris
    # the NON-canonical view is untouched by the refresh (view, not rewrite)
    plain = {r["uri"] for r in store.tables().nodes.select("uri").collect()}
    assert {"http://a.org/e1", "http://b.org/e9", "http://c.org/e5"} <= plain


def _subjects_batch(spark, subjects, value, commit):
    body = "".join(
        f'ind:{s} a voc:Thing .\nind:{s} voc:prop "{value}{s}" .\n'
        for s in subjects
    )
    return _step(spark, body, commit)


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The delta-proportional contract: a second batch touching one
    subject leaves every other bucket's version pointer at v1 — only the
    touched bucket is rewritten into v2."""
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    root = str(tmp_path / "buck")
    store = IncrementalGraphStore(
        spark, root, cfg, order="arrival", n_buckets=8
    )
    t1 = transform_triples(
        extract_triples(_subjects_batch(spark, range(40), "a", "c0")), cfg
    )
    store.merge_batch(t1, "wide")
    m1 = store._read_manifest()
    assert set(m1["buckets"]["prop_state"].values()) == {1}
    n_buckets_v1 = len(m1["buckets"]["prop_state"])
    assert n_buckets_v1 > 1  # 40 subjects spread over several buckets

    t2 = transform_triples(
        extract_triples(_subjects_batch(spark, [7], "b", "c1")), cfg
    )
    store.merge_batch(t2, "narrow")
    m2 = store._read_manifest()
    pointers = m2["buckets"]["prop_state"]
    moved = [b for b, v in pointers.items() if v == 2]
    assert len(moved) == 1  # exactly the bucket subject ind:7 hashes to
    assert len(pointers) == n_buckets_v1  # no bucket lost
    # state content is still the full merged graph
    nodes = store.tables().nodes.toPandas()
    assert len(nodes[nodes.uri.str.startswith("http://example.org/ind/")]) == 40
    row = nodes[nodes.uri == "http://example.org/ind/7"].iloc[0]
    assert row["props"]["http://example.org/vocab/prop"] == "b7"
    row9 = nodes[nodes.uri == "http://example.org/ind/9"].iloc[0]
    assert row9["props"]["http://example.org/vocab/prop"] == "a9"
    # untouched buckets still live in the v1 directory on disk
    assert os.path.isdir(os.path.join(root, "v=000001", "prop_state"))


def test_bucketed_compaction_bounds_live_versions(spark, tmp_path):
    """With max_live_versions=2, a third merge (which would leave
    pointers across 3 version dirs) compacts everything into one."""
    cfg = GraphConfig(handle_vocab_uris=KEEP)
    root = str(tmp_path / "compact")
    store = IncrementalGraphStore(
        spark, root, cfg, order="arrival", n_buckets=8, max_live_versions=2
    )
    # three batches on disjoint subject ranges → disjoint-ish buckets
    for i, rng in enumerate((range(0, 12), range(12, 24), range(24, 36))):
        t = transform_triples(
            extract_triples(_subjects_batch(spark, rng, "v", f"c{i}")), cfg
        )
        store.merge_batch(t)
    m = store._read_manifest()
    for table in ("prop_state", "label_state", "uri_state"):
        assert set(m["buckets"][table].values()) == {3}, table
    nodes = store.tables().nodes.toPandas()
    assert len(nodes[nodes.uri.str.startswith("http://example.org/ind/")]) == 36
    # v1/v2 are still on disk right after compaction (the PREVIOUS
    # manifest references them — rollback support); one more merge makes
    # them unreachable and GC removes them
    t = transform_triples(
        extract_triples(_subjects_batch(spark, [40], "v", "c3")), cfg
    )
    store.merge_batch(t)
    vdirs = sorted(d for d in os.listdir(root) if d.startswith("v="))
    assert "v=000001" not in vdirs and "v=000002" not in vdirs
    assert store.tables().nodes.count() >= 37
