"""The benchmark's workloads: what one operation is, untraced and traced.

Untraced operations call the engine exactly as a user does. Traced
operations replay the same public calls with a barrier after each layer
(``localCheckpoint(eager=True)`` or an action) inside a span, so each
layer's wall time and Spark counters are its own.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from dataclasses import dataclass

from .tracing import OP_SPAN, Tracer


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "kg" | "neardup"
    n_base: int
    replicas: int
    distinct_share: float


WORKLOADS = {w.name: w for w in (
    Workload(
        "kg_fresh_crawl",
        "first crawl: run_pipeline over 2,400 docs with ~45% of English "
        "sentences distinct, so the model runs on about every other sentence "
        "and every KG layer works",
        "kg", n_base=600, replicas=4, distinct_share=0.5),
    Workload(
        "corpus_neardup",
        "near-dup/curation suite (LSH, incremental LSH, edit verify, substring "
        "spans, LSH degrees, bigram LM) on 3,000 docs, each with a near-copy; "
        "the model and IcebergLite idle",
        "neardup", n_base=1500, replicas=2, distinct_share=1.0),
)}

#: (span, registered query) of one corpus_neardup suite pass
NEARDUP_SUITE = (
    ("dedup.minhash_lsh", "dedup_minhash_lsh"),
    ("dedup.minhash_incremental", "dedup_minhash_incremental"),
    ("dedup.edit_verify", "dedup_edit_verify"),
    ("dedup.substring_spans", "dedup_substring_spans"),
    ("graph.degrees_lsh", "graph_degrees_lsh"),
    ("textstats.bigram_logprob", "text_bigram_logprob"),
)


def registry_queries() -> tuple[dict, dict]:
    """(queries, DuckDB oracles), registered and staged."""
    from joint_entity_and_relation_extraction_spark.plans import registry as R

    return ({**R.all_queries(), **getattr(R, "PENDING_QUERIES", {})},
            {**R.all_oracles(), **getattr(R, "PENDING_ORACLE", {})})


# --- KG ---------------------------------------------------------------------

def kg_op(spark, corpus_dir: str, out_root: str, run_id: str):
    """One full ``run_pipeline`` into ``out_root`` (empty), plus reading
    back the triple table."""
    from joint_entity_and_relation_extraction_spark.plans.pipeline import run_pipeline

    res = run_pipeline(spark, corpus_dir, out_root, run_id=run_id)
    return res["triples"].toPandas()


def kg_traced_op(spark, corpus_dir: str, out_root: str, run_id: str,
                 tr: Tracer) -> tuple[object, dict, int]:
    """``run_pipeline``'s stage sequence (resume off, lang en) with a
    barrier and a span per layer. Returns (triples, counts, op span id)."""
    from pyspark.sql import functions as F

    from joint_entity_and_relation_extraction_spark.operators import canonicalize as C
    from joint_entity_and_relation_extraction_spark.operators import extract as X
    from joint_entity_and_relation_extraction_spark.operators import linking as L
    from joint_entity_and_relation_extraction_spark.operators.lineage import lineage_rows
    from joint_entity_and_relation_extraction_spark.operators.webpages import web_pages
    from joint_entity_and_relation_extraction_spark.sources import iceberglite as il

    t_ext, t_tri, t_lin = (f"{out_root}/{t}" for t in ("extracted", "triples", "lineage"))
    n: dict[str, int] = {}
    with tr.span(OP_SPAN) as op:
        with tr.span("webpages"):
            wp = web_pages(spark, corpus_dir).localCheckpoint(eager=True)
            n["webpages.pages"] = wp.count()
        with tr.span("extract.text") as s_ext:
            ext_new = X.extract_text(wp).localCheckpoint(eager=True)
        with tr.span("iceberglite.write"):
            il.overwrite_partitions(ext_new, t_ext, ["lang"])
        with tr.span("iceberglite.read"):
            ext = il.read(spark, t_ext).localCheckpoint(eager=True)
        with tr.span("iceberglite.write"):
            ms = int((s_ext["end"] - s_ext["start"]) * 1000)
            il.append(lineage_rows(ext, run_id, "extract", F.col("lang"), ms),
                      t_lin, ["stage"])
        with tr.span("extract.text"):
            sents = X.split_sentences(X.lang_filter(ext, "en")).persist()
            n["extract.sentences"] = sents.count()
        with tr.span("extract.infer_distinct"):
            infd = X.infer_distinct(sents)
            n["extract.distinct_sentences"] = infd.count()
        with tr.span("extract.join_back"):
            triples_raw = X.triples_raw(X.infer(sents, inferred_distinct=infd)
                                        ).localCheckpoint(eager=True)
            n["extract.triples_raw"] = triples_raw.count()
        with tr.span("linking.alias"):
            aliases = L.alias_dict(spark, corpus_dir)
        with tr.span("linking.resolve"):
            raw_surfaces = X.mention_surfaces(infd).localCheckpoint(eager=True)
            surfaces = (raw_surfaces
                        .select(L.normalize_col(F.col("surface")).alias("alias_norm"))
                        .distinct().localCheckpoint(eager=True))
            n["linking.surfaces"] = surfaces.count()
            resolution = L.resolve_surfaces(surfaces, aliases).persist()
            edges = L.resolution_edges(resolution).localCheckpoint(eager=True)
            n["linking.edges"] = edges.count()
        with tr.span("canonicalize.cc"):
            labels = C.connected_components(edges).localCheckpoint(eager=True)
            n["canonicalize.cc_nodes"] = labels.count()
        with tr.span("canonicalize.canon"):
            canon_map = C.surface_canon_map(resolution, labels)
            canon = C.canonical_triples_by_surface(triples_raw, canon_map,
                                                   raw_surfaces=raw_surfaces)
            triples = (
                canon.join(ext.select("url", "warc_ts"), "url")
                .groupBy("subj", "pred", "obj")
                .agg(F.min("subj_norm").alias("subj_name"),
                     F.min("obj_norm").alias("obj_name"),
                     F.count("*").alias("evidence_count"),
                     F.countDistinct("url").alias("n_sources"),
                     F.min("warc_ts").alias("first_seen"),
                     F.array_sort(F.collect_set("url")).alias("sources"))
            ).localCheckpoint(eager=True)
            n["canonicalize.triples"] = triples.count()
        with tr.span("iceberglite.write") as s_w:
            il.overwrite_partitions(
                triples.repartition(F.col("pred"), F.pmod(F.hash("subj"), F.lit(8))),
                t_tri, ["pred"])
        with tr.span("iceberglite.read"):
            out = il.read(spark, t_tri)
        with tr.span("iceberglite.write"):
            ms = int((s_w["end"] - s_w["start"]) * 1000)
            il.append(lineage_rows(out, run_id, "materialize", F.col("pred"), ms),
                      t_lin, ["stage"])
        with tr.span("iceberglite.read"):
            pdf = out.toPandas()
    sents.unpersist()
    resolution.unpersist()
    n["iceberglite.files"], n["iceberglite.bytes"] = _parquet_files(out_root)
    return pdf, n, op["id"]


def _parquet_files(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


# --- corpus_neardup ---------------------------------------------------------

def neardup_op(spark, corpus_dir: str, queries: dict,
               tr: Tracer | None = None) -> dict:
    """One suite pass: every query collected to the driver."""
    out = {}
    for span, name in NEARDUP_SUITE:
        with tr.span(span) if tr else nullcontext():
            out[name] = queries[name](spark, corpus_dir).toPandas()
    return out


def lsh_candidates(spark, corpus_dir: str, n: int) -> int:
    """Distinct (d1 < d2) doc pairs sharing a MinHash band key, from the
    public ``band_index``: the work LSH verification attempts."""
    from pyspark.sql import functions as F

    from joint_entity_and_relation_extraction_spark.operators import dedup as DD
    from joint_entity_and_relation_extraction_spark.sources.io import read_docs

    b = DD.band_index(read_docs(spark, corpus_dir), n=n)
    x, y = b.alias("x"), b.alias("y")
    return (x.join(y, (F.col("x.band") == F.col("y.band"))
                   & (F.col("x.key") == F.col("y.key"))
                   & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select("x.doc_id", "y.doc_id").distinct().count())


def warm_worker(batches):
    """``mapInPandas`` body of the session warm-up: each Python worker
    imports the model and materializes its weights."""
    from joint_entity_and_relation_extraction_spark.functions import model as M

    M.weights()
    yield from batches
