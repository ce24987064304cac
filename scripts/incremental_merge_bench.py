"""Flat-merge measurement for the bucketed IncrementalGraphStore
(VERDICT r5 item 1 'done' criterion; BASELINE.md round-6 section).

The claim under test: with hash-bucketed state tables and per-bucket
version pointers, the per-batch merge cost is proportional to the DELTA
(touched buckets x bounded bucket size), not to the TOTAL state — so a
small batch merged into a 10x larger graph costs roughly the same,
where the pre-bucketing layout (v5: union + re-aggregate + rewrite the
WHOLE state every batch) grows linearly with state size.

Protocol (one Spark session, local[CPUS]):
  1. Build two stores by bulk-merging synthetic triples over N_small and
     N_big subjects (10x apart), with n_buckets sized for ~constant
     rows-per-bucket at each scale (the documented sizing rule
     n_buckets ~ |state| / target_bucket_rows).
  2. Merge the SAME small delta (touching DELTA_SUBJECTS existing
     subjects) into each store; report wall time.
  3. For contrast, merge the same delta through a store configured with
     n_buckets=1 — every batch rewrites the whole state, reproducing the
     pre-bucketing cost curve.

Timing is min-of-REPS on distinct (but identically built) state roots:
each merge advances the store, so every rep gets its own fresh root.

Usage: python scripts/incremental_merge_bench.py [cpus]  (default 16)
Emits one JSON line.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

CPUS = int(sys.argv[1]) if len(sys.argv) > 1 else 16
N_SMALL = 50_000
N_BIG = 500_000
# the delta must touch FEW buckets for the delta-proportional regime to
# show: 8 entities → ≤8 touched buckets of 32 (50k state) / 320 (500k
# state), ~6.2k prop rows read either way. A delta with more distinct
# entities than n_buckets degrades to a full-state rewrite — that is the
# documented sizing rule (n_buckets ~ |state| / target_bucket_rows, so
# bucket size, and hence per-touched-entity cost, stays bounded).
DELTA_SUBJECTS = 8
PROPS_PER_SUBJECT = 4
TARGET_BUCKET_ROWS = 6_250  # prop_state rows per bucket at either scale
REPS = 3


def synth_triples(spark, subjects, tag):
    """transform_triples-shaped rows, built directly as a DataFrame (the
    parse stage is not under test): PROPS_PER_SUBJECT literal props + one
    rdf:type + one edge per subject."""
    from pyspark.sql import functions as F

    from neosemantics_spark.rdf.terms import RDF_TYPE

    base = spark.range(subjects.start, subjects.stop).select(
        F.concat(F.lit("http://example.org/ind/"), F.col("id")).alias("subject"),
        F.col("id"),
    )
    rows = []
    for p in range(PROPS_PER_SUBJECT):
        rows.append(
            base.select(
                "subject",
                F.lit(f"http://example.org/vocab/p{p}").alias("predicate"),
                F.concat(F.lit(f"{tag}-v{p}-"), F.col("id")).alias("value"),
                F.lit(True).alias("is_literal"),
                F.lit("string").alias("value_type"),
                F.lit(None).cast("string").alias("datatype"),
                F.lit(None).cast("string").alias("lang"),
            )
        )
    rows.append(
        base.select(
            "subject",
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit("http://example.org/vocab/Thing").alias("value"),
            F.lit(False).alias("is_literal"),
            F.lit("uri").alias("value_type"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    rows.append(
        base.select(
            "subject",
            F.lit("http://example.org/vocab/rel").alias("predicate"),
            F.concat(
                F.lit("http://example.org/ind/"),
                (F.col("id") + 1) % subjects.stop,
            ).alias("value"),
            F.lit(False).alias("is_literal"),
            F.lit("uri").alias("value_type"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    df = rows[0]
    for r in rows[1:]:
        df = df.unionByName(r)
    # the columns transform_triples emits that partial_states + _ord consume
    return df.select(
        "subject",
        "predicate",
        F.col("value").alias("object"),
        "value",
        "is_literal",
        "value_type",
        "datatype",
        "lang",
        F.lit(None).cast("string").alias("graph"),
        F.col("predicate").alias("pred_t"),
        F.col("value").alias("label_t"),
        F.col("predicate").alias("rel_t"),
        F.lit(None).cast("array<string>").alias("sspo"),
        F.lit("org/bench").alias("repo"),
        F.lit(f"data/{tag}.ttl").alias("path"),
        F.lit(tag).alias("commit"),
        F.monotonically_increasing_id().alias("stmt_idx"),
    )


def build_store(spark, root, n_subjects, n_buckets):
    from neosemantics_spark.config import KEEP, GraphConfig
    from neosemantics_spark.operators.incremental import IncrementalGraphStore

    cfg = GraphConfig(handle_vocab_uris=KEEP)
    store = IncrementalGraphStore(
        spark, root, cfg, order="arrival", n_buckets=n_buckets
    )
    store.merge_batch(synth_triples(spark, range(n_subjects), "base"), "base")
    return store


def time_delta_merge(spark, store):
    delta = synth_triples(spark, range(DELTA_SUBJECTS), "upd")
    delta = delta.localCheckpoint(eager=True)  # delta build cost excluded
    t0 = time.time()
    store.merge_batch(delta, f"delta-{time.time_ns()}")
    return time.time() - t0


def main():
    from neosemantics_spark.session import get_spark

    spark = get_spark(cpus=CPUS)
    out = {"cpus": CPUS, "delta_subjects": DELTA_SUBJECTS, "reps": REPS}
    cases = [
        ("bucketed_50k", N_SMALL, max(2, N_SMALL * PROPS_PER_SUBJECT // TARGET_BUCKET_ROWS)),
        ("bucketed_500k", N_BIG, max(2, N_BIG * PROPS_PER_SUBJECT // TARGET_BUCKET_ROWS)),
        ("fullrewrite_50k", N_SMALL, 1),
        ("fullrewrite_500k", N_BIG, 1),
    ]
    for name, n, nb in cases:
        times = []
        for rep in range(REPS):
            root = f"/tmp/inc_bench_{name}_{rep}"
            shutil.rmtree(root, ignore_errors=True)
            store = build_store(spark, root, n, nb)
            times.append(round(time_delta_merge(spark, store), 2))
            shutil.rmtree(root, ignore_errors=True)
        out[name] = {"n_subjects": n, "n_buckets": nb, "merge_s": min(times),
                     "all_reps_s": times}
        print(f"# {name}: {out[name]}", file=sys.stderr)
    b_small = out["bucketed_50k"]["merge_s"]
    b_big = out["bucketed_500k"]["merge_s"]
    f_small = out["fullrewrite_50k"]["merge_s"]
    f_big = out["fullrewrite_500k"]["merge_s"]
    out["bucketed_growth_10x_state"] = round(b_big / b_small, 2)
    out["fullrewrite_growth_10x_state"] = round(f_big / f_small, 2)
    out["speedup_at_500k"] = round(f_big / b_big, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
