"""The workloads.

With tracing off, an operation calls the program's own entry points:
`pipeline.import_rdf` followed by the table writes, SHACL validation and
export for a build, and `jobs/import_job.py`'s `main` for a delta batch.
With tracing on, it calls each layer's public functions in the order
those entry points call them, with a span around every layer call, so
time and Spark counters can be attributed to layers. The self-test checks
that both paths write identical tables.

A workload exposes:
    prepare(gen_dir)  input generation (untimed, reported apart)
    input_rows()      every src_files row the run submitted (for its digest)
    restore_base()    (delta stream only) copy in the cached base state
    ensure_session()  a live Spark session, created if there is none
    next_input()      the next operation's input (untimed)
    op(i)             one timed operation; returns its record
    check_op(rec)     failed output checks of one operation (untimed)
    layer_counts(rec) layer-specific per-layer metrics (untimed, traced runs)
    finish()          failed end-of-run checks (untimed)
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
IMPORT_JOB = os.path.join(ROOT, "jobs", "import_job.py")
SRC_SCHEMA = pa.schema([(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content")])


def write_src(rows: list, path: str, part: int = 0) -> None:
    """Write src_files rows as one part file of a parquet table directory."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=SRC_SCHEMA)
    pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"), row_group_size=256)


def _parquet_rows(path: str) -> int:
    """Rows of a written parquet table, from its file footers."""
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _text_lines(path: str) -> list:
    """Lines of a written text table, in part-file order."""
    lines = []
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                lines += fh.read().splitlines()
    return lines


def _n_err(raw) -> int:
    from pyspark.sql import functions as F

    return raw.filter(F.col("parse_error").isNotNull()).count()


def _json_rows(df):
    """Every row as one canonical JSON string (maps as sorted entry lists)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.array_sort(F.map_entries(F.col(f.name))).alias(f.name)
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    return df.select(F.to_json(F.struct(*cols)).alias("row"))


def rows_differ(a, b) -> int:
    """Rows in one table and not the other, as multisets (0 = equal)."""
    a, b = _json_rows(a), _json_rows(b)
    return a.exceptAll(b).count() + b.exceptAll(a).count()


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, tracer: tr.Tracer):
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.src_bytes = 0  # source content bytes one operation reads

    def ensure_session(self):
        """The live session; a new one (`get_spark`) when there is none,
        e.g. after an `import_job` run, which stops its session on exit."""
        from pyspark import SparkContext

        if self.spark is None or SparkContext._active_spark_context is None:
            from neosemantics_spark.session import get_spark

            self.spark = get_spark(f"perfbench-{self.name}")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.tracer.spark = self.spark
        return self.spark

    def span(self, name: str):
        return self.tracer.span(name)

    def force_tables(self, tables):
        if not self.tracer.enabled:
            return tables
        nodes, edges, props = self.tracer.force(tables.nodes, tables.edges, tables.node_props)
        return tables._replace(nodes=nodes, edges=edges, node_props=props)

    def next_input(self) -> None:
        pass

    def finish(self) -> list:
        return []


# ====================================================================
class _Build(Workload):
    """A one-shot library build over a fixed input, then table writes, a
    full SHACL validate (when the workload asks) and export to N-Triples,
    Turtle and JSON-LD. Subclasses fix the corpus, config and checks."""

    out_tables = False  # write the nodes/edges/node_props tables
    validate = False  # full SHACL validation of the built graph

    def prepare(self, gen_dir: str) -> None:
        self.corpus = self.make_corpus()
        self.input = os.path.join(gen_dir, "src")
        write_src(self.corpus.rows, self.input)
        self.src_bytes = self.corpus.content_bytes

    def input_rows(self) -> list:
        return self.corpus.rows

    def op(self, i) -> dict:
        from neosemantics_spark.operators.export import (
            graph_to_triples,
            to_jsonld_lines,
            to_ntriples_lines,
            to_turtle_lines,
        )
        from neosemantics_spark.operators.materialize import (
            write_edges_partitioned,
            write_node_props_partitioned,
        )

        rec = {"out": os.path.join(self.work, "out", f"op{i}")}
        tables, ns = (self._import_layers if self.tracer.enabled else self._import_rdf)(rec)
        cfg, out = self.cfg(), rec["out"]
        if self.out_tables:
            with self.span("materialize"):
                tables.nodes.write.mode("overwrite").parquet(f"{out}/nodes")
                write_edges_partitioned(tables.edges, f"{out}/edges", cfg)
                write_node_props_partitioned(tables.node_props, f"{out}/node_props", cfg)
        if self.validate:
            from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

            with self.span("shacl"):
                v = ShaclValidator(tables, _iri_map(ns)).validate(compile_shapes(gen.SHAPES))
                v.write.mode("overwrite").parquet(f"{out}/violations")
        p2n = {v: k for k, v in ns.items()}
        with self.span("export"):
            trip = graph_to_triples(tables, cfg, p2n)
            to_ntriples_lines(trip).write.mode("overwrite").text(f"{out}/nt")
            to_turtle_lines(trip, p2n).write.mode("overwrite").text(f"{out}/ttl")
            to_jsonld_lines(trip).write.mode("overwrite").text(f"{out}/jsonld")
        rec.update(tables=tables, p2n=p2n, namespaces=len(ns))
        return rec

    def _import_rdf(self, rec: dict):
        """The program's library entry point."""
        from neosemantics_spark.pipeline import import_rdf

        res = import_rdf(self.spark.read.parquet(self.input), self.cfg(),
                         link_entities=self.link)
        rec.update(n_err=res.parse_errors, triples=res.triples_parsed - res.parse_errors)
        return res.tables, {v: k for k, v in res.namespaces.items()}

    def _import_layers(self, rec: dict):
        """`import_rdf`, layer by layer, each layer forced inside its span."""
        from neosemantics_spark.operators.materialize import materialize, transform_triples
        from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
        from neosemantics_spark.sources.parse import extract_triples

        spark, cfg = self.spark, self.cfg()
        with self.span("parse"):
            raw = extract_triples(spark.read.parquet(self.input)).cache()
            n_raw = raw.count()
            rec["n_err"] = _n_err(raw)
            rec["triples"] = n_raw - rec["n_err"]
        with self.span("transforms"):
            ns = {}
            if cfg.handle_vocab_uris in ("SHORTEN", "SHORTEN_STRICT"):
                ns = build_prefix_map(collect_namespaces(raw))
            t = self.tracer.force(transform_triples(raw, cfg, ns))
        if self.link:
            from neosemantics_spark.operators.cc import canonical_map, canonicalize_triples

            with self.span("cc"):
                comp = canonical_map(t)
                t = canonicalize_triples(t, comp).cache()
                t.count()  # import_rdf's triples_loaded
            rec.update(raw=raw, comp=comp)
        with self.span("materialize"):
            tables = self.force_tables(materialize(t, cfg, cache_intermediate=True))
        return tables, ns

    def check_export(self, rec: dict) -> list:
        """Re-parsing the N-Triples export gives exactly the triples
        `graph_to_triples` emits (P = R = 1 through metrics.triple_pr)."""
        from neosemantics_spark.metrics import triple_pr
        from neosemantics_spark.operators.export import graph_to_triples
        from neosemantics_spark.sources.parse import extract_triples
        from pyspark.sql import functions as F

        lines = _text_lines(f"{rec['out']}/nt")
        n_docs = 8
        docs = self.spark.createDataFrame(
            [("reparse", f"nt/{k}", "c0", "N-Quads", "\n".join(lines[k::n_docs]))
             for k in range(n_docs)],
            "repo string, path string, commit string, lang string, content string",
        )
        reparsed = extract_triples(docs).cache()
        n_bad = _n_err(reparsed)
        expected = graph_to_triples(self.written_tables(rec), self.cfg(), rec["p2n"])
        pr = triple_pr(reparsed.filter(F.col("parse_error").isNull()), expected)
        rec["got"].update(precision=pr.precision, recall=pr.recall)
        if n_bad or pr.precision != 1.0 or pr.recall != 1.0 or pr.n_expected == 0:
            return [f"export re-parse: P={pr.precision} R={pr.recall} (matched {pr.n_matched}, "
                    f"re-parsed {pr.n_predicted}, exported {pr.n_expected}), "
                    f"{n_bad} of {n_docs} re-parsed documents failed"]
        return []

    def written_tables(self, rec: dict):
        """The graph the export started from: the tables as written, when
        the workload writes them (re-deriving them would repeat the build)."""
        if not self.out_tables:
            return rec["tables"]
        read = self.spark.read.parquet
        out = rec["out"]
        return rec["tables"]._replace(nodes=read(f"{out}/nodes"), edges=read(f"{out}/edges"),
                                      node_props=read(f"{out}/node_props"))

    def export_bytes(self, rec: dict) -> int:
        return sum(tr.tree_bytes(f"{rec['out']}/{d}") for d in ("nt", "ttl", "jsonld"))

    def bytes_written(self, rec: dict) -> int:
        return tr.tree_bytes(rec["out"])

    def cleanup_op(self, rec: dict) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(rec["out"], ignore_errors=True)


def _iri_map(ns: dict):
    """Shape IRIs to stored form (import_job's mapping): vocabulary is
    stored transformed, node URIs stay full."""
    from neosemantics_spark.config import PREFIX_SEPARATOR

    if not ns:
        return None
    by_len = sorted(ns.items(), key=lambda kv: -len(kv[0]))

    def iri_map(iri: str) -> str:
        for nsp, pref in by_len:
            if iri.startswith(nsp):
                return pref + PREFIX_SEPARATOR + iri[len(nsp):]
        return iri

    return iri_map


class BuildSameAs(_Build):
    """The paper's headline path: a one-shot library build (KEEP vocabulary,
    OVERWRITE, owl:sameAs entity linking on) over a Turtle-heavy corpus with
    skewed sameAs cliques, table writes, a full SHACL validate, and export."""

    name = "build_sameas"
    link = True
    out_tables = True
    validate = True
    n_mentions = 24_000

    def make_corpus(self):
        return gen.build_sameas(self.seed, self.n_mentions)

    def cfg(self):
        from neosemantics_spark.config import KEEP, GraphConfig

        return GraphConfig(handle_vocab_uris=KEEP)

    def check_op(self, rec: dict) -> list:
        """Node, edge, property, violation, parse and exported-line counts
        equal the generator's closed-form expectation, and every sameAs
        clique became one node named after its least IRI. Traced runs also
        compare the canonical map and re-parse the export (`check_export`)."""
        out, x = rec["out"], self.corpus.expect
        uris = pq.read_table(f"{out}/nodes", columns=["uri"]).column("uri").to_pylist()
        got = {
            "triples": rec["triples"],
            "parse_errors": rec["n_err"],
            "nodes": len(uris),
            "clique_nodes": sum(u in self.corpus.canonical for u in uris),
            "edges": _parquet_rows(f"{out}/edges"),
            "props": _parquet_rows(f"{out}/node_props"),
            "violations": _parquet_rows(f"{out}/violations"),
            "nt_lines": len(_text_lines(f"{out}/nt")),
        }
        if self.tracer.enabled:
            got.update(canonical_uris=rec["comp"].count(),
                       components=rec["comp"].select("component").distinct().count())
        rec["got"] = got
        fails = [f"{k}: got {v}, expected {x[k]}" for k, v in got.items() if v != x[k]]
        return fails + (self.check_export(rec) if self.tracer.enabled else [])

    def layer_counts(self, rec: dict) -> dict:
        from neosemantics_spark.operators.cc import sameas_edges
        from pyspark.sql import functions as F

        got, out, comp = rec["got"], rec["out"], rec["comp"]
        remapped = comp.filter(F.col("uri") != F.col("component")).count()
        return {
            "parse.triples": rec["triples"],
            "parse.error_file_share": rec["n_err"] / len(self.corpus.rows),
            "cc.sameas_edges": sameas_edges(rec["raw"]).count(),
            "cc.remapped_share": remapped / self.corpus.expect["mentions"],
            "materialize.nodes": got["nodes"],
            "materialize.edges": got["edges"],
            "materialize.props": got["props"],
            "materialize.bytes_written": sum(
                tr.tree_bytes(f"{out}/{d}") for d in ("nodes", "edges", "node_props")),
            "shacl.focus_nodes": self.corpus.expect["focus_nodes"],
            "shacl.violations": got["violations"],
            "export.bytes_out": self.export_bytes(rec),
        }


class MixedExport(_Build):
    """import_rdf build (SHORTEN, ARRAY, keep_lang_tag, no linking) over five
    non-Turtle formats with typed literals, language tags, multi-valued
    properties, named graphs and RDF-star annotations, then export. Not in
    BENCHMARK.json: see perfbench/README.md."""

    name = "mixed_export"
    link = False

    def make_corpus(self):
        return gen.mixed_export(self.seed)

    def cfg(self):
        from neosemantics_spark.config import ARRAY, SHORTEN, GraphConfig

        return GraphConfig(handle_vocab_uris=SHORTEN, handle_multival=ARRAY, keep_lang_tag=True)

    def check_op(self, rec: dict) -> list:
        rec["got"] = {"parse_errors": rec["n_err"]}
        fails = [f"parse_errors: got {rec['n_err']}, expected 0"] if rec["n_err"] else []
        return fails + self.check_export(rec)

    def layer_counts(self, rec: dict) -> dict:
        tables = rec["tables"]
        return {
            "parse.triples": rec["triples"],
            "parse.error_file_share": rec["n_err"] / len(self.corpus.rows),
            "transforms.namespaces": rec["namespaces"],
            "materialize.nodes": tables.nodes.count(),
            "materialize.edges": tables.edges.count(),
            "materialize.props": tables.node_props.count(),
            "export.bytes_out": self.export_bytes(rec),
        }


# ====================================================================
def _load_import_job():
    """jobs/import_job.py as a module (it is a script, not a package member)."""
    spec = importlib.util.spec_from_file_location("import_job", IMPORT_JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class DeltaStream(Workload):
    """`import_job.py --incremental --no-entity-linking --shapes`, batch
    after batch. Each batch re-submits the whole growing src_files table
    (base + every delta so far, one part file each) carrying a ~1% delta.
    The base state the batches extend is built once per checkout and
    program version, in its own process, and copied into each run."""

    name = "delta_stream"
    n_base_files = 8_000

    def prepare(self, gen_dir: str) -> None:
        self.stream = gen.DeltaStream(self.seed, self.n_base_files)
        self.src = os.path.join(gen_dir, "src")
        write_src(self.stream.base.rows, self.src)
        self.deltas: list = []  # Corpus per batch
        self.shapes_file = os.path.join(gen_dir, "shapes.ttl")
        with open(self.shapes_file, "w") as fh:
            fh.write(gen.SHAPES)
        self.root = os.path.join(self.work, "state")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.output = os.path.join(self.root, "out")

    def input_rows(self) -> list:
        """The base and every delta this run submitted."""
        return self.stream.base.rows + [r for c in self.deltas for r in c.rows]

    def restore_base(self) -> str:
        """Copy the base state (checkpoint, store, output tables of the
        first import_job run over the base files) into this run, building
        it first if no earlier run of this program version has."""
        cache = os.path.join(HERE, ".cache", f"delta-base-{self.n_base_files}-{_source_key()}")
        note = "restored from perfbench/.cache"
        if not os.path.isdir(cache):
            t0 = time.perf_counter()
            subprocess.run([sys.executable, os.path.abspath(__file__), "build-base", cache,
                            str(self.n_base_files)], check=True, stdout=subprocess.DEVNULL)
            note = f"built in {time.perf_counter() - t0:.1f} s, cached for later runs"
        shutil.copytree(cache, self.root)
        return note

    def cfg(self):
        from neosemantics_spark.config import GraphConfig

        return GraphConfig()  # import_job defaults: SHORTEN, OVERWRITE

    def next_input(self) -> None:
        corpus = self.stream.next_batch()
        self.deltas.append(corpus)
        write_src(corpus.rows, self.src, part=len(self.deltas))
        self.src_bytes = corpus.content_bytes

    def op(self, i) -> dict:
        rec = self._batch_layers() if self.tracer.enabled else self._import_job()
        rec["expect"] = self.deltas[-1].expect
        return rec

    def _import_job(self, shapes: bool = True) -> dict:
        """The program's job entry point, as spark-submit runs it; it stops
        the session when done."""
        argv = ["import_job.py", "--input", self.src, "--output", self.output,
                "--checkpoint", self.ckpt, "--incremental", "--no-entity-linking"]
        if shapes:
            argv += ["--shapes", self.shapes_file]
        saved, sys.argv = sys.argv, argv
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                _load_import_job().main()
        finally:
            sys.argv = saved
        summary = json.loads(out.getvalue().strip().splitlines()[-1])
        return {"out": self.output, "run_id": summary["run_id"], "summary": summary}

    def _batch_layers(self) -> dict:
        """`import_job.main` with --incremental --no-entity-linking --shapes,
        layer by layer, each layer forced inside its span. The session
        stays up for the traced run's counters and per-layer counts."""
        from neosemantics_spark.checkpoint import ImportCheckpoint
        from neosemantics_spark.config import STANDARD_PREFIXES
        from neosemantics_spark.operators.incremental import (
            IncrementalGraphStore,
            extend_prefix_map,
        )
        from neosemantics_spark.operators.materialize import (
            transform_triples,
            write_edges_partitioned,
            write_node_props_partitioned,
        )
        from neosemantics_spark.operators.prefixes import collect_namespaces
        from neosemantics_spark.validation.shacl import ShaclValidator, touched_nodes
        from neosemantics_spark.validation.store import ShapesStore
        from pyspark.sql import functions as F

        spark, cfg, out = self.spark, self.cfg(), self.output
        with self.span("checkpoint"):
            cp = ImportCheckpoint(spark, self.ckpt)
            res = cp.run(spark.read.parquet(self.src), cfg=cfg)
            delta = self.tracer.force(res.triples.filter(F.col("parse_error").isNull()).cache())
        ns_path = os.path.join(self.ckpt, "ns_prefixes.json")
        with self.span("transforms"):
            if os.path.exists(ns_path):
                with open(ns_path) as fh:
                    ns = json.load(fh)
            else:
                ns = {v: k for k, v in STANDARD_PREFIXES.items()}
            ns = extend_prefix_map(ns, collect_namespaces(delta))
            tmp = ns_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(ns, fh, sort_keys=True)
            os.replace(tmp, ns_path)
            tt = self.tracer.force(transform_triples(delta, cfg, ns))
        with self.span("incremental"):
            store = IncrementalGraphStore(spark, os.path.join(self.ckpt, "graph_state"), cfg,
                                          order="arrival")
            store.merge_batch(tt, batch_id=res.run_id)
            tables = self.force_tables(store.tables())
        with self.span("materialize"):
            tables.nodes.write.mode("overwrite").parquet(f"{out}/nodes")
            write_edges_partitioned(tables.edges, f"{out}/edges", cfg)
            write_node_props_partitioned(tables.node_props, f"{out}/node_props", cfg)
        with self.span("shacl"):
            shapes_store = ShapesStore(spark, self.ckpt)
            with open(self.shapes_file) as fh:
                shapes_store.import_shapes(fh.read())
            focus = touched_nodes(cp, res.run_id)
            violations = ShaclValidator(tables, _iri_map(ns)).validate_delta(
                shapes_store.compiled(), focus)
            vdir = f"{out}/violations/run_id={res.run_id}"
            violations.write.mode("overwrite").parquet(vdir)
            n_viol = spark.read.parquet(vdir).count()
        with self.span("incremental"):  # import_job's summary counts
            tables.nodes.count()
            tables.edges.count()
        return {"out": out, "run_id": res.run_id, "res": res, "store": store, "focus": focus,
                "n_viol": n_viol, "namespaces": len(ns)}

    def check_op(self, rec: dict) -> list:
        """The written tables have the generator's node, edge and property
        counts; the batch's parsed triples (checkpoint metrics) and its
        delta-violation count are the generator's."""
        out, x, run_id = self.output, rec["expect"], rec["run_id"]
        metrics = pq.read_table(os.path.join(self.ckpt, "metrics")).to_pylist()
        rec["triples"] = sum(m["triples"] for m in metrics if m["run_id"] == run_id)
        got = {"nodes": _parquet_rows(f"{out}/nodes"), "edges": _parquet_rows(f"{out}/edges"),
               "props": _parquet_rows(f"{out}/node_props"), "triples": rec["triples"],
               "delta_violations": _parquet_rows(f"{out}/violations/run_id={run_id}")}
        rec["got"] = got
        return [f"{k}: got {v}, expected {x[k]}" for k, v in got.items() if v != x[k]]

    def layer_counts(self, rec: dict) -> dict:
        res, store = rec["res"], rec["store"]
        m = store._read_manifest()
        live = [v for tmap in m["buckets"].values() for v in tmap.values()]
        cur = m["version"]
        return {
            "transforms.namespaces": rec["namespaces"],
            "materialize.nodes": rec["got"]["nodes"],
            "materialize.edges": rec["got"]["edges"],
            "shacl.focus_nodes": rec["focus"].count(),
            "shacl.violations": rec["n_viol"],
            "checkpoint.skip_share": res.skipped_files / (res.new_files + res.skipped_files),
            "incremental.bucket_rewrite_share": sum(v == cur for v in live) / max(1, len(live)),
            "incremental.bytes_written": tr.tree_bytes(os.path.join(store.root, f"v={cur:06d}")),
            "incremental.state_bytes": sum(
                tr.tree_bytes(os.path.join(store.root, f"v={v:06d}")) for v in set(live)),
        }

    def written_prefixes(self) -> dict:
        """Where each layer writes, for the per-batch on-disk byte counts."""
        return {"checkpoint": os.path.join(self.ckpt, ""),
                "incremental": os.path.join(self.ckpt, "graph_state", ""),
                "materialize": os.path.join(self.output, "")}

    def cleanup_op(self, rec: dict) -> None:
        if self.tracer.enabled:
            self.spark.catalog.clearCache()

    def finish(self) -> list:
        """Traced runs: after the last batch, the store-derived tables
        equal a from-scratch import of every row submitted so far. At the
        benchmark's state size this costs about as much as the batch, so
        the untraced runs, which are gated on time, leave it out."""
        if not self.tracer.enabled:
            return []
        return self.compare_scratch()

    def compare_scratch(self) -> list:
        from neosemantics_spark.operators.incremental import IncrementalGraphStore
        from neosemantics_spark.operators.materialize import materialize, transform_triples
        from neosemantics_spark.sources.parse import extract_triples
        from pyspark.sql import functions as F

        spark, cfg = self.ensure_session(), self.cfg()
        with open(os.path.join(self.ckpt, "ns_prefixes.json")) as fh:
            ns = json.load(fh)
        raw = extract_triples(spark.read.parquet(self.src)).filter(F.col("parse_error").isNull())
        raw = raw.cache()  # feeds all three tables
        scratch = materialize(transform_triples(raw, cfg, ns), cfg, cache_intermediate=True)
        store = IncrementalGraphStore(spark, os.path.join(self.ckpt, "graph_state"), cfg,
                                      order="arrival").tables()
        fails = []
        for name in ("nodes", "edges", "node_props"):
            diff = rows_differ(getattr(store, name), getattr(scratch, name))
            if diff:
                fails.append(f"final {name}: {diff} rows differ between the store and "
                             "a from-scratch import")
        spark.catalog.clearCache()
        return fails


def _source_key() -> str:
    """Digest of the program (package and import job) and of the benchmark
    code that builds the delta stream's base state: a change to either
    rebuilds it."""
    h = hashlib.sha256()
    files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(ROOT, "neosemantics_spark"))
             for f in fs if f.endswith(".py")]
    for path in sorted(files) + [IMPORT_JOB, os.path.join(HERE, "gen.py"),
                                 os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build_base(wl: DeltaStream) -> None:
    """The first import_job run over the base files, without --shapes (the
    batches after it import the shapes and validate their deltas), checked
    against the generator's counts."""
    wl.ensure_session()
    wl._import_job(shapes=False)
    out, x = wl.output, wl.stream.base.expect
    got = {"nodes": _parquet_rows(f"{out}/nodes"), "edges": _parquet_rows(f"{out}/edges"),
           "props": _parquet_rows(f"{out}/node_props")}
    if got != x:
        raise RuntimeError(f"delta_stream base state: got {got}, expected {x}")


def _build_base_cached(cache: str, n_base_files: int) -> None:
    """`build_base` into `cache`, as its own process, so its JVM never
    serves a measured batch."""
    from run import stop_spark

    tmp = f"{cache}.tmp{os.getpid()}"
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    wl = DeltaStream(0, tmp, tr.Tracer(False))
    wl.n_base_files = n_base_files
    try:
        wl.prepare(os.path.join(tmp, "gen"))
        build_base(wl)
    finally:
        stop_spark()
    try:
        os.replace(wl.root, cache)
    except OSError:  # another run cached the same state first
        if not os.path.isdir(cache):
            raise
    shutil.rmtree(tmp, ignore_errors=True)


WORKLOADS = {w.name: w for w in (BuildSameAs, DeltaStream, MixedExport)}


if __name__ == "__main__" and sys.argv[1:2] == ["build-base"]:
    _build_base_cached(sys.argv[2], int(sys.argv[3]))
