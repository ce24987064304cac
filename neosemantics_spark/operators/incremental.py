"""Incremental graph-table maintenance — the MERGE-equivalent of the
reference's steady-state import loop.

The reference's DirectStatementLoader (DirectStatementLoader.java:60-129)
upserts every incoming batch into the live store: find-or-create node,
merge property arrays, last-write-wins scalars (its incremental fixtures
`src/test/resources/incremental/step{1,2,3}.ttl` pin exactly this:
ARRAY-mode values accumulate across imports, OVERWRITE-mode re-imports
replace). `ImportCheckpoint` already parses only each run's delta, but
the materialize step still re-aggregated EVERY checkpointed run's
triples — O(total corpus) per batch, which at 100 TB steady state is the
wrong loop.

This module owns bucketed STORAGE of the materialize aggregation's
partial state — materialized-view maintenance, Spark-first. The
aggregates themselves live in materialize.py (`partial_states`,
`merge_states`, `derive_tables`, shared with the full build); a batch
merge is partial(batch) → merge with the touched state buckets →
rewrite those buckets, and `tables()` is derive(state):

- every aggregate is algebraic (a struct-max led by a content-derived
  canonical order key, min/max, sorted value lists, label sets,
  edge-row distinct), so `merge(state, partial(batch)) ==
  partial(union)` EXACTLY — incremental output is bit-identical to a
  from-scratch import of the union, a property the reference's
  arrival-order store does not have (re-import order changes its
  OVERWRITE results; canonical order makes ours deterministic).
  `order='arrival'` reproduces the reference's temporal last-wins
  instead (the batch sequence number is prefixed to the order key).
- the state tables are HASH-BUCKETED by their entity key (subject /
  src / uri — `pmod(xxhash64(key), n_buckets)`), one parquet
  directory per bucket, and the manifest records a per-bucket version
  pointer. A batch merge reads and rewrites ONLY the buckets its delta
  touches: per-batch shuffle and write are O(|delta| + touched_buckets
  × bucket_size), NOT O(|state|) — the parquet stand-in for a
  co-partitioned Iceberg MERGE INTO. Sizing rule at scale: pick
  n_buckets ≈ |state| / target_bucket_rows so bucket size stays
  bounded as the graph grows; a delta touching k entities then costs
  ≤ k bounded-size bucket rewrites regardless of total state
  (BASELINE.md round-6 has the flat-merge measurement). Untouched
  buckets keep their old version pointer, so live data spans several
  v=<n> directories; when more than `max_live_versions` are
  referenced, the next merge compacts everything into one (amortized
  LSM-style). Commit protocol is unchanged: commits/MANIFEST-<n> +
  atomic HEAD rename — crash anywhere leaves HEAD on a complete older
  snapshot whose buckets are all still on disk (GC keeps every version
  referenced by the current AND previous manifest).

Scope boundary (documented, not silent): entity linking
(`canonicalize_triples`, the owl:sameAs connected-components fusion) is
corpus-global — a new sameAs edge can merge two nodes that were
distinct in every earlier batch, which invalidates per-node state. The
incremental store therefore takes ALREADY-TRANSFORMED, NON-canonicalized
triples (the reference's loader has no sameAs fusion either); pipelines
that need sameAs fusion run `kg_sameas_cc` over the derived tables or
use the full-recompute path. Similarly, SHORTEN-mode prefix assignment
must be stable across batches: pass the store a persistent namespace
map (the reference's `_NsPrefDef` contract — prefixes are never
re-assigned; see `extend_prefix_map`).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import GraphConfig
from ..rdf.terms import OWL_SAMEAS
from .materialize import GraphTables, _ord, derive_tables, merge_states, partial_states

# the entity column each state table is hash-bucketed on: the leading
# column of its group key, so co-bucketing holds for every aggregation
# and one delta entity touches at most one bucket per table
_BUCKET_KEY = {
    "prop_state": "subject",
    "label_state": "subject",
    "edge_state": "src",
    "rel_raw_state": "src",
    "star_state": "src",
    "uri_state": "uri",
}


def _cfg_fingerprint(cfg: GraphConfig, order: str, n_buckets: int) -> str:
    import hashlib
    from dataclasses import asdict

    payload = {
        "cfg": asdict(cfg),
        "order": order,
        "n_buckets": n_buckets,
        # bumped when the persisted state-table schemas change (2: bucketed
        # layout + uri_state.has_real; 3: prop_state/star_state `last` is
        # one struct led by the order key, no separate last_ord/last_o) —
        # old roots refuse loudly instead of failing mid-merge
        "state_schema": 3,
    }
    return hashlib.sha256(
        json.dumps(payload, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


class IncrementalGraphStore:
    """Persistent partial-aggregate state for nodes/edges/node_props,
    upserted one batch at a time; `tables()` derives the same
    GraphTables `materialize` would produce from the union of every
    merged batch (pytest + the `kg_incremental*` driver oracles pin the
    equality)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        cfg: Optional[GraphConfig] = None,
        order: str = "canonical",
        n_buckets: int = 16,
        max_live_versions: int = 8,
    ):
        # same driver-local commit protocol as CurationCheckpoint: a
        # remote-scheme root would silently lose the manifest
        m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):", root)
        if m:
            if m.group(1) != "file":
                raise ValueError(
                    f"IncrementalGraphStore root {root!r} uses URI scheme "
                    f"{m.group(1)!r}; the snapshot-commit protocol is "
                    "driver-local — use a local path or a mount point."
                )
            root = re.sub(r"^file:(//)?", "", root) or "/"
        if order not in ("canonical", "arrival"):
            raise ValueError(f"order must be 'canonical' or 'arrival', got {order!r}")
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.spark = spark
        self.root = root
        self.cfg = cfg or GraphConfig()
        self.order = order
        self.n_buckets = n_buckets
        self.max_live_versions = max(1, max_live_versions)
        self.p_commits = os.path.join(root, "commits")
        self.p_meta = os.path.join(root, "meta.json")
        fp = _cfg_fingerprint(self.cfg, order, n_buckets)
        if os.path.exists(self.p_meta):
            with open(self.p_meta) as fh:
                meta = json.load(fh)
            if meta["fingerprint"] != fp:
                raise ValueError(
                    "IncrementalGraphStore config mismatch: this state was "
                    f"built with fingerprint {meta['fingerprint']}, caller "
                    f"passed {fp}. Aggregation state is config-specific "
                    "(OVERWRITE state has no value lists an ARRAY run "
                    "needs, and the bucket layout is n_buckets-specific) — "
                    "use a fresh root for a new config."
                )
        self.fingerprint = fp

    # ------------------------------------------------------------ manifest
    def _read_manifest(self) -> dict:
        head = os.path.join(self.p_commits, "HEAD")
        try:
            with open(head) as fh:
                name = fh.read().strip()
            with open(os.path.join(self.p_commits, name)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return {"version": 0, "batches": []}

    def version(self) -> int:
        return self._read_manifest()["version"]

    def batches(self) -> list:
        return list(self._read_manifest()["batches"])

    def _vdir(self, version: int, table: str) -> str:
        return os.path.join(self.root, f"v={version:06d}", table)

    def _bucket_col(self, table: str):
        return F.pmod(
            F.xxhash64(F.col(_BUCKET_KEY[table])), F.lit(self.n_buckets)
        ).cast("int")

    def _read_buckets(
        self, table: str, bucket_map: dict, buckets: Optional[set]
    ) -> Optional[DataFrame]:
        """Assemble (a subset of) one state table from its per-bucket
        version pointers: buckets sharing a version are read in one call
        against that version's partitioned directory (explicit bucket=
        sub-paths — directory-level pruning, no filter needed), then
        unioned. `buckets=None` reads the whole table. Returns None when
        nothing is selected; the `bucket` partition column is dropped."""
        from collections import defaultdict

        by_ver: dict = defaultdict(list)
        for b_str, v in bucket_map.items():
            b = int(b_str)
            if buckets is None or b in buckets:
                by_ver[v].append(b)
        parts = []
        for v, bs in sorted(by_ver.items()):
            base = self._vdir(v, table)
            paths = [os.path.join(base, f"bucket={b}") for b in sorted(bs)]
            parts.append(
                self.spark.read.option("basePath", base).parquet(*paths)
            )
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df.drop("bucket")

    def _empty_table(self, table: str, manifest: dict) -> DataFrame:
        from pyspark.sql.types import StructType

        schema_json = manifest.get("schemas", {}).get(table)
        if schema_json is None:
            raise ValueError(
                f"state table {table} has no rows and no recorded schema"
            )
        return self.spark.createDataFrame(
            [], StructType.fromJson(json.loads(schema_json))
        )

    def _state(self, table: str) -> Optional[DataFrame]:
        m = self._read_manifest()
        if m["version"] == 0:
            return None
        df = self._read_buckets(table, m.get("buckets", {}).get(table, {}), None)
        return self._empty_table(table, m) if df is None else df

    def _publish(
        self,
        new_version: int,
        batch_id: str,
        n_rows: dict,
        buckets: dict,
        counts: dict,
        schemas: dict,
    ) -> None:
        os.makedirs(self.p_commits, exist_ok=True)
        if not os.path.exists(self.p_meta):
            with open(self.p_meta, "w") as fh:
                json.dump({"fingerprint": self.fingerprint}, fh)
        m = self._read_manifest()
        manifest = {
            "version": new_version,
            "batches": m["batches"] + [{"batch_id": batch_id, **n_rows}],
            "buckets": buckets,
            "counts": counts,
            "schemas": schemas,
        }
        name = f"MANIFEST-{new_version:06d}.json"
        with open(os.path.join(self.p_commits, name), "w") as fh:
            json.dump(manifest, fh)
        tmp = os.path.join(self.p_commits, ".HEAD.tmp")
        with open(tmp, "w") as fh:
            fh.write(name)
        os.rename(tmp, os.path.join(self.p_commits, "HEAD"))
        # GC: keep every version directory referenced by the NEW manifest
        # (live buckets may point at several versions) plus everything the
        # PREVIOUS manifest referenced (manual rollback = point HEAD back
        # one manifest); anything else is unreachable
        keep = {new_version, new_version - 1}
        for mf in (manifest, m):
            for tmap in mf.get("buckets", {}).values():
                keep.update(tmap.values())
        keep_names = {f"v={v:06d}" for v in keep}
        for name_ in os.listdir(self.root):
            if name_.startswith("v=") and name_ not in keep_names:
                shutil.rmtree(os.path.join(self.root, name_), ignore_errors=True)

    # ------------------------------------------------------------ order
    def _ord_col(self, version: int):
        """Canonical (content-derived) or arrival (batch-seq-prefixed)
        statement order. Canonical makes merge-of-batches == aggregate-
        of-union; arrival reproduces the reference's temporal
        last-write-wins (RDFToLPGStatementProcessor.java:346-349)."""
        o = _ord()
        if self.order == "arrival":
            o = F.concat(F.lpad(F.lit(version), 8, "0"), F.lit("|"), o)
        return o

    # ----------------------------------------------------------------- API
    def merge_batch(self, triples_t: DataFrame, batch_id: Optional[str] = None) -> dict:
        """Fold one batch of `transform_triples` output into the state.
        Returns per-table total row counts. Crash-safe: all rewritten
        buckets land in a NEW v=<n+1> directory before the single HEAD
        rename; a retry of a crashed merge re-reads the still-HEAD old
        pointers and overwrites the orphaned directory.

        Delta-proportional: per table, only the buckets the delta's
        entity keys hash into are read, re-aggregated with the batch
        partial, and rewritten — untouched buckets keep their existing
        version pointer and are not read, shuffled, or copied. The
        re-aggregation is an identity on groups the delta didn't touch
        (every merge function is algebraic with a single-row fixpoint),
        so touched-bucket rewrite == per-group upsert. When the live
        pointer set spans more than `max_live_versions` version
        directories, this merge compacts: every bucket is rewritten into
        v=<n+1> and old versions become unreachable."""
        manifest = self._read_manifest()
        cur = manifest["version"]
        new_v = cur + 1
        partials = partial_states(triples_t, self.cfg, self._ord_col(new_v))
        bucket_map = {
            t: dict(m) for t, m in manifest.get("buckets", {}).items()
        }
        count_map = {t: dict(m) for t, m in manifest.get("counts", {}).items()}
        schemas = dict(manifest.get("schemas", {}))
        live_versions = {
            v for tmap in bucket_map.values() for v in tmap.values()
        }
        compacting = len(live_versions) >= self.max_live_versions
        counts = {}
        for table, part in partials.items():
            schemas[table] = part.schema.json()
            part = part.withColumn("bucket", self._bucket_col(table))
            # delta-scale: materialize once — the partial feeds both the
            # touched-bucket probe and the merge input
            part = part.localCheckpoint(eager=True)
            tmap = bucket_map.setdefault(table, {})
            cmap = count_map.setdefault(table, {})
            delta_buckets = {
                r["bucket"] for r in part.select("bucket").distinct().collect()
            }
            if compacting:
                touched = delta_buckets | {int(b) for b in tmap}
            else:
                touched = delta_buckets
            if not touched:
                counts[table] = sum(cmap.values())
                continue
            old = self._read_buckets(table, tmap, touched)
            part = part.drop("bucket")
            merged = (
                part if old is None else merge_states(table, old.unionByName(part), self.cfg)
            )
            out = self._vdir(new_v, table)
            (
                merged.withColumn("bucket", self._bucket_col(table))
                .repartition(F.col("bucket"))
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(out)
            )
            written = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(out)
                if d.startswith("bucket=")
            )
            if written:
                per_bucket = {
                    r["bucket"]: r["n"]
                    for r in self.spark.read.option("basePath", out)
                    .parquet(*[os.path.join(out, f"bucket={b}") for b in written])
                    .groupBy("bucket")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
            else:
                per_bucket = {}
            if compacting:
                tmap.clear()
                cmap.clear()
            for b in written:
                tmap[str(b)] = new_v
                cmap[str(b)] = per_bucket.get(b, 0)
            counts[table] = sum(cmap.values())
        self._publish(
            new_v,
            batch_id or f"batch-{new_v:06d}",
            counts,
            bucket_map,
            count_map,
            schemas,
        )
        return counts

    def tables(self) -> GraphTables:
        """GraphTables derived from the current state — column-for-column
        the `materialize` output over the union of merged batches."""
        if self.version() == 0:
            raise ValueError("IncrementalGraphStore is empty — merge a batch first")
        return derive_tables({t: self._state(t) for t in _BUCKET_KEY}, self.cfg)

    def canonical_remap(self) -> DataFrame:
        """(uri, component) over the owl:sameAs cliques recorded in the
        store — the periodic entity-linking reconcile (VERDICT r5 item
        6). sameAs fusion is corpus-global (a new edge can merge nodes
        distinct in every earlier batch — the documented reason the
        per-batch merge excludes it), so the refresh runs the engine's
        skew-hardened CC over the STORE's derived sameAs edge list
        (rel_raw_state keeps the raw predicate exactly so this filter is
        precise), never over corpus history. Reference semantics:
        CommonProcedures.java:41-43 uri uniqueness."""
        from .cc import connected_components

        if self.version() == 0:
            raise ValueError("IncrementalGraphStore is empty — merge a batch first")
        edges = (
            self._state("rel_raw_state")
            .filter(F.col("_raw_rel") == OWL_SAMEAS)
            .select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
            .distinct()
        )
        return connected_components(edges)

    def tables_canonicalized(
        self, comp: Optional[DataFrame] = None, broadcast_limit: int = 100_000
    ) -> GraphTables:
        """GraphTables with owl:sameAs entity linking applied as a
        VIEW-level remap + algebraic re-aggregation over the state — NOT
        a state rewrite: the store stays canonical-free (append-only
        merges keep working), and this derivation equals
        `materialize(canonicalize_triples(transform(union)))`
        column-for-column (pinned by test_incremental +
        the `kg_sameas_refresh` driver oracle). Why the equality holds:
        every state aggregate is algebraic, so re-aggregating remapped
        partial-aggregate rows with the same merge functions IS
        aggregating the remapped row set.

        Parity details mirrored from `cc.canonicalize_triples`:
        - sameAs statements themselves are dropped (edge/rel_raw rows
          identified via rel_raw_state's raw predicate; uris whose only
          provenance was a sameAs row are dropped via the has_real
          flag). Caveat (documented, matching the full pipeline's own
          ambiguity): a DIFFERENT raw predicate transforming to the same
          rel name between the same endpoints would be dropped with it.
        - RDF-star rows are NOT remapped (canonicalize_triples leaves
          sspo untouched), so star props on remapped edges drop out of
          the join exactly as they do in the full pipeline.
        """
        if comp is None:
            comp = self.canonical_remap()
        comp = comp.localCheckpoint(eager=True)
        small = comp.limit(broadcast_limit + 1).count() <= broadcast_limit
        cmap = F.broadcast(comp) if small else comp

        def remap(df: DataFrame, cols: list) -> DataFrame:
            for c in cols:
                df = (
                    df.join(
                        cmap.select(
                            F.col("uri").alias(c), F.col("component").alias(f"_c_{c}")
                        ),
                        c,
                        "left",
                    )
                    .withColumn(c, F.coalesce(f"_c_{c}", c))
                    .drop(f"_c_{c}")
                )
            return df

        cfg = self.cfg
        rel_raw0 = self._state("rel_raw_state")
        sameas_keys = rel_raw0.filter(F.col("_raw_rel") == OWL_SAMEAS).select(
            "src", "rel", "dst"
        )
        edge0 = self._state("edge_state").join(sameas_keys, ["src", "rel", "dst"], "left_anti")
        states = {
            "prop_state": merge_states(
                "prop_state", remap(self._state("prop_state"), ["subject"]), cfg
            ),
            "label_state": merge_states(
                "label_state", remap(self._state("label_state"), ["subject"]), cfg
            ),
            "edge_state": merge_states("edge_state", remap(edge0, ["src", "dst"]), cfg),
            "rel_raw_state": merge_states(
                "rel_raw_state",
                remap(rel_raw0.filter(F.col("_raw_rel") != OWL_SAMEAS), ["src", "dst"]),
                cfg,
            ),
            "star_state": self._state("star_state"),
            "uri_state": merge_states(
                "uri_state", remap(self._state("uri_state"), ["uri"]), cfg
            ).filter(F.col("has_real")),
        }
        return derive_tables(states, cfg)


def extend_prefix_map(existing: dict, namespaces: list) -> dict:
    """The reference's `_NsPrefDef` contract (NsPrefixOperations: prefixes
    persist, new namespaces get fresh ns<N> entries, existing ones are
    NEVER re-assigned): extend `existing` {namespace: prefix} with any
    new namespaces in deterministic sorted order. Feed the result to
    `transform_triples` on every batch so SHORTEN-mode incremental
    imports stay prefix-stable."""
    out = dict(existing)
    used = set(out.values())
    n = 0
    for ns in sorted(set(namespaces) - set(out)):
        while f"ns{n}" in used:
            n += 1
        out[ns] = f"ns{n}"
        used.add(f"ns{n}")
    return out
