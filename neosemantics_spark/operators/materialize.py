"""Graph materialization: triples DF → nodes / edges / node_props tables.

Batch re-expression of the reference's accumulate-then-flush loader
(/root/reference/src/main/java/n10s/rdf/load/DirectStatementLoader.java):
the per-batch upsert machinery (LRU node cache, find-or-create, commitSize
partial transactions) collapses into grouped aggregations. This module is
the one definition of those aggregates (A1–A5), in three steps:

  partial_states  triples → six partial-aggregate tables (per-prop
                  last value / value list, label sets, distinct edges,
                  raw-rel map, RDF-star edge props, node set)
  merge_states    re-aggregate a union of partials (algebraic merge)
  derive_tables   partials → nodes / edges / node_props

`materialize` is derive(partial(all triples)); the incremental store
(incremental.py) persists the partials and folds each batch in with
`merge_states`, so both builds give the same tables by construction.

Determinism: OVERWRITE last-wins / ARRAY order use the canonical total
order (repo, path, commit, stmt_idx) — the reference relies on statement
arrival order (RDFToLPGStatementProcessor.java:346-368), which a
distributed engine must pin explicitly (SURVEY.md §4.3).

Scale notes:
- label aggregation is keyed by subject, so the rdf:type hot predicate
  does NOT create a hot key (keys are subjects, well-distributed).
- edges are repartitioned by (rel, salt-bucket of src) before writes —
  explicit skew handling for hot predicates per the north rule; AQE skew
  join remains the backstop.
"""

from __future__ import annotations

from typing import Dict, NamedTuple, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ARRAY, LABELS, LABELS_AND_NODES, NODES, GraphConfig
from ..rdf.terms import OWL_SAMEAS, RDF_TYPE
from .prefixes import shorten_expr
from .transforms import (
    filter_language,
    filter_predicates,
    iri_transform_expr,
    literal_value_expr,
    split_star_rows,
    with_typed_values,
)

def _ord():
    """Canonical statement order key. A single packed string instead of a
    (repo, path, commit, stmt_idx) struct: the aggregation buffers below
    hold one of these per collected value, and three long strings + a long
    per value made the per-task aggregation state spill at high thread
    counts (execution memory is divided per task)."""
    return F.concat_ws(
        "|", "repo", "path", "commit", F.lpad(F.col("stmt_idx").cast("string"), 10, "0")
    )


class GraphTables(NamedTuple):
    nodes: DataFrame       # uri, graph, labels array<string>, props map<string,string>
    edges: DataFrame       # src, rel, dst, graph, props map<string,string>
    node_props: DataFrame  # long form: uri, graph, prop, values array<string>, value_type
    mapped_count: int | None = None


def transform_triples(
    triples: DataFrame,
    cfg: GraphConfig,
    ns_to_prefix: Optional[Dict[str, str]] = None,
    mapping: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Apply T1–T6 to a raw triples DF → columns ready for materialize:
    subject, pred_t (transformed predicate), object (raw), value (canonical
    literal string), typed value cols, label_t (transformed object when
    rdf:type), dst (object as node uri)."""
    if cfg.handle_vocab_uris == "SHORTEN_STRICT":
        from .prefixes import validate_namespaces

        validate_namespaces(triples, ns_to_prefix or {})
    t = filter_predicates(triples, cfg)
    t = filter_language(t, cfg)
    t = t.filter(F.col("parse_error").isNull())
    # NOTE: no statement-level pre-dedup here (A4). The materialize
    # aggregations subsume it — per-prop values go through an order-
    # preserving array_distinct / max_by, labels through collect_set and
    # edges through dropDuplicates — so paying a full extra shuffle of the
    # whole triples table up front would buy nothing. `dedup_statements`
    # stays available for callers that need a deduped statement stream.
    t = with_typed_values(t)
    is_type = (F.col("predicate") == RDF_TYPE) & ~F.col("is_literal")
    t = t.withColumn(
        "pred_t", iri_transform_expr(F.col("predicate"), cfg, ns_to_prefix, "prop", mapping)
    )
    t = t.withColumn(
        "rel_t", iri_transform_expr(F.col("predicate"), cfg, ns_to_prefix, "rel", mapping)
    )
    t = t.withColumn(
        "label_t",
        F.when(
            is_type, iri_transform_expr(F.col("object"), cfg, ns_to_prefix, "label", mapping)
        ),
    )
    t = t.withColumn("value", literal_value_expr(cfg))
    if cfg.keep_custom_data_types and cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT"):
        # re-suffix with shortened datatype: value^^pfx__local
        from .transforms import _KNOWN_TYPES

        is_custom = F.col("datatype").isNotNull() & ~F.col("datatype").isin(list(_KNOWN_TYPES))
        if cfg.custom_data_type_prop_list:
            is_custom = is_custom & F.col("predicate").isin(cfg.custom_data_type_prop_list)
        t = t.withColumn(
            "value",
            F.when(
                is_custom & F.col("is_literal"),
                F.concat(
                    F.col("object"), F.lit("^^"), shorten_expr(F.col("datatype"), ns_to_prefix or {})
                ),
            ).otherwise(F.col("value")),
        )
    return t


def _need_arrays(cfg: GraphConfig) -> bool:
    """ARRAY / strict semantics need the full ordered value list; the
    collect_list buffer is the expensive part of the per-prop state, so
    OVERWRITE builds never carry it."""
    return cfg.handle_multival == ARRAY or cfg.strict_data_type_check


def partial_states(triples_t: DataFrame, cfg: GraphConfig, ord_col: Column) -> dict:
    """Transformed triples → the six partial-aggregate tables, keyed
    prop_state, label_state, edge_state, rel_raw_state, star_state and
    uri_state. Every aggregate is algebraic with a single-row
    fixpoint, so `merge_states` over a union of partials equals the
    partial of the union — a full build and an incremental build share
    this one definition. `ord_col` is the statement order key (`_ord()`,
    or an arrival-prefixed variant); it must be unique per statement.
    Node identity is (uri, graph) when quads are present
    (RDFQuadToLPGStatementProcessor.java:54-57,99-113)."""
    t = triples_t.withColumn("gkey", F.coalesce(F.col("graph"), F.lit("")))
    regular, star = split_star_rows(t)
    is_type = (F.col("predicate") == RDF_TYPE) & ~F.col("is_literal")

    # ---------------- properties: groupBy (subject, gkey, predicate) [A1/A3]
    # the order key is projected ONCE per row (`_o`) and the last-written
    # row is one struct-max buffer: `o` is unique per statement, so the
    # comparison never consults the payload fields. Type conflicts are
    # min != max of value_type (count_distinct would plan an Expand).
    lit_rows = regular.filter(F.col("is_literal")).withColumn("_o", ord_col)
    aggs = [
        F.max(
            F.struct(
                F.col("_o").alias("o"),
                F.col("value").alias("v"),
                F.col("value_type").alias("t"),
                F.col("datatype").alias("dt"),
                F.col("lang").alias("lg"),
            )
        ).alias("last"),
        F.min("value_type").alias("vt_min"),
        F.max("value_type").alias("vt_max"),
        F.min("graph").alias("g_min"),
        F.min("predicate").alias("pred_raw_min"),
    ]
    if _need_arrays(cfg):
        aggs.append(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_o").alias("o"), F.col("value").alias("v"), F.col("value_type").alias("t")
                    )
                )
            ).alias("sorted")
        )
    prop = lit_rows.groupBy("subject", "gkey", "pred_t").agg(*aggs)

    # ---------------- labels [A2/T9]; lazy: only LABELS modes read it
    type_rows = regular.filter(is_type)
    label = type_rows.groupBy("subject", "gkey").agg(
        F.array_sort(F.collect_set("label_t")).alias("labels")
    )

    # ---------------- edges [A4/A5/J2/T10]
    obj_rows = regular.filter(~F.col("is_literal") & ~is_type)
    if cfg.handle_rdf_types in (NODES, LABELS_AND_NODES):
        obj_rows = obj_rows.unionByName(type_rows.select(*obj_rows.columns))
    edge = obj_rows.select(
        F.col("subject").alias("src"),
        F.col("rel_t").alias("rel"),
        F.col("object").alias("dst"),
        "graph",
        "gkey",
    ).dropDuplicates(["src", "rel", "dst", "gkey"])
    # RDF-star rel props: sspo identifies the edge by raw IRIs; rel_raw
    # maps it to the transformed rel (T10, RDFToLPGStatementProcessor.java:406-424)
    rel_raw = obj_rows.select(
        F.col("subject").alias("src"),
        F.col("predicate").alias("_raw_rel"),
        F.col("rel_t").alias("rel"),
        F.col("object").alias("dst"),
    ).dropDuplicates(["src", "_raw_rel", "dst"])
    star_p = (
        star.select(
            F.col("sspo")[0].alias("src"),
            F.col("sspo")[1].alias("_raw_rel"),
            F.col("sspo")[2].alias("dst"),
            F.col("pred_t").alias("prop"),
            F.struct(ord_col.alias("o"), F.col("value").alias("v")).alias("_ov"),
        )
        .groupBy("src", "_raw_rel", "dst", "prop")
        .agg(F.max("_ov").alias("last"))
    )

    # ---------------- nodes: subjects ∪ non-literal objects [J1/J2].
    # has_real marks provenance from a non-owl:sameAs statement: the
    # canonical refresh (`IncrementalGraphStore.tables_canonicalized`)
    # drops uris whose ONLY provenance is sameAs rows, because the
    # full-recompute pipeline drops those statements
    # (cc.canonicalize_triples drop_sameas) before materializing
    real = (F.col("predicate") != OWL_SAMEAS).alias("has_real")
    uri = (
        regular.select(F.col("subject").alias("uri"), "gkey", "graph", real)
        .unionByName(obj_rows.select(F.col("object").alias("uri"), "gkey", "graph", real))
        .groupBy("uri", "gkey")
        .agg(F.min("graph").alias("g_min"), F.max("has_real").alias("has_real"))
    )
    return {
        "prop_state": prop,
        "label_state": label,
        "edge_state": edge,
        "rel_raw_state": rel_raw,
        "star_state": star_p,
        "uri_state": uri,
    }


def merge_states(table: str, rows: DataFrame, cfg: GraphConfig) -> DataFrame:
    """Re-run one state table's aggregation over any set of its rows —
    the merge of a union of partials, or of a remapped state. Every
    aggregate is algebraic with a single-row fixpoint, so this is also
    an identity on groups whose rows did not change."""
    if table == "prop_state":
        aggs = [
            F.max("last").alias("last"),
            F.min("vt_min").alias("vt_min"),
            F.max("vt_max").alias("vt_max"),
            F.min("g_min").alias("g_min"),
            F.min("pred_raw_min").alias("pred_raw_min"),
        ]
        if _need_arrays(cfg):
            # merge of sorted runs == sort of the union: the order key is
            # unique per statement, so flatten+sort is exactly the
            # from-scratch collect_list+sort
            aggs.append(F.array_sort(F.flatten(F.collect_list("sorted"))).alias("sorted"))
        return rows.groupBy("subject", "gkey", "pred_t").agg(*aggs)
    if table == "label_state":
        return rows.groupBy("subject", "gkey").agg(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("labels")))).alias("labels")
        )
    if table == "edge_state":
        return rows.dropDuplicates(["src", "rel", "dst", "gkey"])
    if table == "rel_raw_state":
        return rows.dropDuplicates(["src", "_raw_rel", "dst"])
    if table == "star_state":
        return rows.groupBy("src", "_raw_rel", "dst", "prop").agg(F.max("last").alias("last"))
    if table == "uri_state":
        return rows.groupBy("uri", "gkey").agg(
            F.min("g_min").alias("g_min"), F.max("has_real").alias("has_real")
        )
    raise ValueError(f"unknown state table {table!r}")


def derive_tables(states: dict, cfg: GraphConfig) -> GraphTables:
    """The six state tables → GraphTables (nodes, edges, node_props)."""
    last_v = F.array(F.col("last.v"))
    if _need_arrays(cfg):
        # A3 heterogeneous-type resolution (DirectStatementLoader.java:161-211):
        # strict ⇒ discard values whose type conflicts with the first-stored
        # value's type; non-strict ⇒ array keeps everything as strings (our
        # canonical `value` is already the lexical string form).
        kept = F.col("sorted")
        if cfg.strict_data_type_check:
            first_t = F.element_at(F.col("sorted"), 1)["t"]
            kept = F.filter(kept, lambda x: x["t"] == first_t)
        all_values = F.array_distinct(F.transform(kept, lambda x: x["v"]))
    else:
        all_values = last_v
    if cfg.handle_multival == ARRAY:
        if cfg.multival_prop_list:
            # multivalPropList holds full predicate IRIs
            # (RDFToLPGStatementProcessor.java:350-368)
            values = F.when(
                F.col("pred_raw_min").isin(cfg.multival_prop_list), all_values
            ).otherwise(last_v)
        else:
            values = all_values
    else:  # OVERWRITE: last value wins (RDFToLPGStatementProcessor.java:346-349)
        values = last_v
    node_props = states["prop_state"].select(
        F.col("subject").alias("uri"),
        "gkey",
        F.col("g_min").alias("graph"),
        F.col("pred_t").alias("prop"),
        F.col("pred_raw_min").alias("prop_raw"),
        values.alias("values"),
        F.col("last.t").alias("value_type"),
        F.col("last.dt").alias("datatype"),
        F.col("last.lg").alias("lang"),
        F.when(F.col("vt_min") != F.col("vt_max"), 2).otherwise(1).alias("n_types"),
    )

    props_map = node_props.groupBy("uri", "gkey").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("prop").alias("key"),
                        F.when(F.size("values") == 1, F.col("values")[0])
                        .otherwise(F.to_json("values"))
                        .alias("value"),
                    )
                )
            )
        ).alias("props")
    )
    nodes = states["uri_state"].select("uri", "gkey", F.col("g_min").alias("graph")).join(
        props_map, ["uri", "gkey"], "left"
    )
    if cfg.handle_rdf_types in (LABELS, LABELS_AND_NODES):
        nodes = nodes.join(
            states["label_state"].select(F.col("subject").alias("uri"), "gkey", "labels"),
            ["uri", "gkey"],
            "left",
        )
    else:
        nodes = nodes.withColumn("labels", F.lit(None).cast("array<string>"))
    nodes = nodes.select(
        "uri",
        "graph",
        F.coalesce("labels", F.array()).alias("labels"),
        F.coalesce("props", F.expr("cast(map() as map<string,string>)")).alias("props"),
    )

    star_props = states["star_state"].groupBy("src", "_raw_rel", "dst").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("prop", F.col("last.v").alias("value"))))
        ).alias("props")
    )
    # star_props is usually tiny relative to edges; AQE picks the build side
    star_mapped = star_props.join(
        states["rel_raw_state"], ["src", "_raw_rel", "dst"], "inner"
    ).select("src", "rel", "dst", "props")
    edges = states["edge_state"].join(star_mapped, ["src", "rel", "dst"], "left").select(
        "src", "rel", "dst", "graph", "props"
    )
    node_props = node_props.select(
        "uri", "graph", "prop", "prop_raw", "values", "value_type", "datatype", "lang", "n_types"
    )
    return GraphTables(nodes=nodes, edges=edges, node_props=node_props)


def materialize(
    triples_t: DataFrame, cfg: GraphConfig, cache_intermediate: bool = False
) -> GraphTables:
    """Transformed triples (`transform_triples` output) → GraphTables:
    the partial aggregates of the whole input, finalized."""
    states = partial_states(triples_t, cfg, _ord())
    if cache_intermediate:
        # the per-prop aggregation feeds BOTH the node_props output and
        # the nodes props-map (and any SHACL/export fan-out) — persist it
        # once so the consumers don't recompute it
        states["prop_state"] = states["prop_state"].persist()
    return derive_tables(states, cfg)


def write_edges_partitioned(
    edges: DataFrame, out_path: str, cfg: GraphConfig, n_buckets: int | None = None
) -> None:
    """Edges sink: partitioned by rel with explicit skew-aware salting —
    hot predicates (rdf:type, rdfs:label dominate real RDF) are spread over
    `hot_predicate_salt` buckets so no single task writes a whole predicate
    (SURVEY.md §4.2; north_rule 'skew handled explicitly')."""
    nb = n_buckets or cfg.hot_predicate_salt
    (
        edges.withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(nb)))
        .repartition("rel", "bucket")
        .write.mode("overwrite")
        .partitionBy("rel")
        .parquet(out_path)
    )


def write_node_props_partitioned(
    node_props: DataFrame, out_path: str, cfg: GraphConfig, n_buckets: int | None = None
) -> None:
    """Long-form property sink, partitioned by prop with the same
    skew-aware salting as the edge writer (a hot property — rdfs:label,
    schema:name — dominates real RDF exactly like a hot predicate).
    Every per-property consumer — SHACL property checks
    (`props.filter(prop == X)`, validation/shacl.py:_prop_vals), spo
    exports, delta validation — then reads a partition-pruned scan
    instead of the full table: this is the storage-level half of the
    delta-validation win (the semi-join removes the aggregations;
    partition pruning removes the scan)."""
    nb = n_buckets or cfg.hot_predicate_salt
    (
        node_props.withColumn("bucket", F.pmod(F.xxhash64("uri"), F.lit(nb)))
        .repartition("prop", "bucket")
        .write.mode("overwrite")
        .partitionBy("prop")
        .parquet(out_path)
    )
