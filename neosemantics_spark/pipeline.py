"""End-to-end import pipeline facade — the `n10s.rdf.import.*` analogue.

read src_files → parse (mapInPandas) → transforms (T1–T10) →
canonicalization (J3) → materialize nodes/edges (A1–A5).

Lifecycle mirror of the reference's import chain
(/root/reference/src/main/java/n10s/rdf/RDFProcedures.java:58-99 →
DirectStatementLoader), re-staged for Spark: each stage boundary below is
at most one shuffle; the parse stage is narrow (SURVEY.md §3.1).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import GraphConfig
from .operators.cc import canonical_map, canonicalize_triples
from .operators.materialize import GraphTables, materialize, transform_triples
from .operators.prefixes import build_prefix_map, collect_namespaces
from .sources.parse import extract_triples


@dataclass
class ImportResult:
    """n10s ImportResults analogue (rdf/RDFProcedures.java:383-418)."""

    tables: GraphTables
    triples: DataFrame  # transformed triples (post T1–T10, pre-materialize)
    namespaces: Dict[str, str]  # namespace -> prefix
    triples_parsed: int
    triples_loaded: int
    parse_errors: int
    config_hash: str = ""  # fingerprint of (cfg, mapping) — lineage record


def import_rdf(
    src_files: DataFrame,
    cfg: Optional[GraphConfig] = None,
    link_entities: bool = True,
    mapping: Optional[Dict[str, str]] = None,
) -> ImportResult:
    cfg = cfg or GraphConfig()
    # never abort: a malformed file is quarantined (its rows carry
    # parse_error) and counted in parse_errors, whatever cfg.abort_on_error
    raw = extract_triples(src_files, abort_on_error=False)
    # the parse is the expensive Python stage — materialize it once,
    # every downstream branch (props/labels/edges/CC) reuses it
    raw = raw.cache()
    triples_parsed = raw.count()
    parse_errors = raw.filter(F.col("parse_error").isNotNull()).count()

    ns_to_prefix = {}
    if cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT"):
        ns_to_prefix = build_prefix_map(collect_namespaces(raw))

    t = transform_triples(raw, cfg, ns_to_prefix, mapping)
    if link_entities:
        comp = canonical_map(t)
        t = canonicalize_triples(t, comp)
    t = t.cache()
    tables = materialize(t, cfg, cache_intermediate=True)
    loaded = t.count()  # transform_triples already drops quarantined rows
    from .checkpoint import config_fingerprint

    return ImportResult(
        tables=tables,
        triples=t,
        namespaces={v: k for k, v in ns_to_prefix.items()},
        triples_parsed=triples_parsed,
        triples_loaded=loaded,
        parse_errors=parse_errors,
        config_hash=config_fingerprint(cfg, mapping),
    )
