"""The workloads: how each one calls the program and checks its output,
and the layer probes of a traced run.

Why these two (each loads different layers; see BENCHMARK.json):

* ``mixed`` - the datagen span distribution through ``pipeline.extract``;
  stage B+C tokenize/translate codegen carries it, stage A barely shows.
* ``curate`` - ``jobs/run_curation.main``: MinHash pairs, connected
  components and the quality gate, driver-coordinated rounds.

A traced run of either workload probes every layer: the pipeline layers
and ``jobs/run_extract.main`` (buckets, quarantine, a half-warm OCR
cache: the resume, catalog and quarantine layers) on the seed's ``mixed``
corpus, and the dedup, graph and text layers on its ``curate`` corpus.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen

# docs per corpus: sized so one benchmark process, set-up included, takes
# 50-70 s on a 4-core host. A warm curate run costs ~9 s there whatever
# its size between 100 and 500 docs: its Spark jobs, not its docs, set it.
SIZES = {"mixed": 2000, "curate": 500}
# docs per corpus of a workload that a traced run of another one only
# probes: smaller, so that a traced run ends well within 180 s
PROBE_SIZE = 500
# the traced run_extract probe runs over RESUME_PARTS of the corpus's input
# files in RESUME_BUCKETS buckets: each bucket costs ~6 s of driver-bound
# work on the 4-core host, and a traced run must end within 180 s
RESUME_BUCKETS = 2
RESUME_PARTS = 2


def isolate(spark) -> None:
    """Drop every cached plan and memo so a run cannot reuse the last."""
    from ocr_translation_spark.functions import _lsh_common

    spark.catalog.clearCache()
    _lsh_common.invalidate_all()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probe(tr, name: str, fn) -> float:
    """Seconds one traced probe call took."""
    with tr.span("probe." + name) as s:
        fn()
    return s["end"] - s["start"]


class Workload:
    """One corpus; ``call`` is the timed job, the rest runs untimed."""

    name = ""
    # least timed runs per process: about 20 s of warm runs on a 4-core
    # host, so that with set-up one process takes under a minute
    timed_runs = 3

    def __init__(self, corpus_dir: str, expected: dict):
        self.corpus = corpus_dir
        self.expected = expected
        self.n_docs = expected["n_docs"]

    def inputs(self, run_dir: str) -> str:
        """A fresh input path for one run (hard links into the corpus)."""
        inp = os.path.join(run_dir, "in")
        gen.link_tree(self.corpus, inp)
        return inp

    def call(self, spark, inp: str, out: str, tr) -> None:
        raise NotImplementedError

    def check(self, out: str) -> int:
        """Number of wrong docs in the output of one run."""
        raise NotImplementedError


class Mixed(Workload):
    name = "mixed"
    timed_runs = 5

    def __init__(self, corpus_dir, expected):
        super().__init__(corpus_dir, expected)
        self.golden_table = check.golden_table(expected["golden"])

    def call(self, spark, inp, out, tr):
        from ocr_translation_spark.pipeline import extract

        with tr.span("spark.read.parquet"):
            docs = spark.read.parquet(os.path.join(inp, "documents"))
            media = spark.read.parquet(os.path.join(inp, "media"))
        with tr.span("pipeline.extract"):
            res = extract(spark, docs, media)
        with tr.span("sink.write_parquet"):
            res.result.write.mode("overwrite").parquet(out)

    def check(self, out):
        return check.wrong_docs_in(out, self.expected["golden"], self.golden_table)


class Curate(Workload):
    name = "curate"

    def call(self, spark, inp, out, tr):
        from jobs.run_curation import main

        argv = [
            "--input", os.path.join(inp, "documents"), "--output", out,
            "--per-source-cap", str(self.expected["cap"]),
        ]
        with tr.span("jobs.run_curation.main"), contextlib.redirect_stdout(sys.stderr):
            if main(argv) != 0:
                raise RuntimeError("run_curation.main failed")

    def check(self, out):
        got = pq.read_table(out, columns=["doc_id"]).column("doc_id").to_pylist()
        return check.wrong_survivors(got, self.expected["expected"])


def resume_probe(spark, tr, inp: str, expected: dict) -> tuple[dict, int, int]:
    """Drive ``jobs/run_extract.main`` over part of the corpus plus its
    invalid docs, with quarantine and a fresh copy of the half-seeded OCR
    cache. Returns the resume/catalog/quarantine metrics, the docs
    attempted and the wrong-doc count (output spans against golden,
    quarantine rows against the injected set)."""
    from jobs.run_extract import main
    from ocr_translation_spark.operators.quarantine import validate_documents
    from ocr_translation_spark.sources.catalog import Catalog

    isolate(spark)
    run_dir = os.path.join(os.path.dirname(inp), "resume")
    docs_dir = os.path.join(run_dir, "documents")
    os.makedirs(docs_dir)
    parts = sorted(os.listdir(os.path.join(inp, "documents")))[:RESUME_PARTS]
    for f in parts:
        os.link(os.path.join(inp, "documents", f), os.path.join(docs_dir, f))
    os.link(
        os.path.join(inp, "invalid", "part-00000.parquet"),
        os.path.join(docs_dir, "part-invalid.parquet"),
    )
    ids = pq.read_table([os.path.join(docs_dir, f) for f in parts], columns=["doc_id"])
    golden = {d: expected["golden"][d] for d in ids.column("doc_id").to_pylist()}
    cache = os.path.join(run_dir, "cache")
    shutil.copytree(os.path.join(inp, "ocr_cache"), cache)
    out, state, quar = (os.path.join(run_dir, d) for d in ("out", "state", "quarantine"))
    argv = [
        "--input", docs_dir, "--media", os.path.join(inp, "media"),
        "--output", out, "--state", state, "--buckets", str(RESUME_BUCKETS),
        "--ocr-cache", cache, "--quarantine", quar,
    ]
    m = {}
    with tr.span("probe.jobs.run_extract.main") as s, contextlib.redirect_stdout(sys.stderr):
        if main(argv) != 0:
            raise RuntimeError("run_extract.main failed")
    wall = s["end"] - s["start"]
    wrong = check.wrong_docs(check.read_spans(out), golden)
    wrong += check.wrong_quarantine(check.read_quarantine(quar), expected["quarantine"])

    lineage = os.path.join(state, "lineage")
    work_s = [w / 1e3 for w in pq.read_table(lineage).column("wall_ms").to_pylist()]
    commits = sorted(
        os.stat(os.path.join(lineage, f)).st_mtime
        for f in os.listdir(lineage)
        if f.startswith("part-")
    )
    gaps = [b - a for a, b in zip([s["start_wall"]] + commits, commits)]
    m["resume.bucket_work_s_p50"] = statistics.median(work_s)
    m["resume.driver_overhead_s"] = wall - sum(work_s)
    m["resume.commit_interval_s"] = statistics.median(gaps)
    m["catalog.cache_batches"] = len(Catalog._batch_ids(os.path.join(cache, "ocr_cache")))

    raw = spark.read.parquet(docs_dir)
    with tr.span("probe.quarantine.validate_documents") as s:
        valid, bad = validate_documents(raw)
        _noop(valid)
        m["quarantine.rows"] = bad.count()
    m["quarantine.validate_s"] = s["end"] - s["start"]

    cat = Catalog(spark, os.path.join(run_dir, "probe_cache"))
    shutil.copytree(os.path.join(inp, "ocr_cache"), cat.root)
    m["catalog.load_cache_s"] = _probe(
        tr, "catalog.load_cache", lambda: _noop(cat.load_cache("ocr_cache", "h"))
    )
    grown = spark.read.parquet(os.path.join(cache, "ocr_cache")).filter("batch > 0").drop("batch")
    m["catalog.merge_cache_s"] = _probe(
        tr, "catalog.merge_cache", lambda: cat.merge_cache(grown, "ocr_cache", "h")
    )
    return m, len(golden) + len(expected["quarantine"]), wrong


def span_layer_probes(spark, tr, inp: str) -> dict:
    """One probe per pipeline layer, each forced through the noop sink on
    the workload's own input; stage A reads the half-seeded OCR cache."""
    from ocr_translation_spark.operators.partitioning import (
        media_weight,
        salted_repartition,
    )
    from ocr_translation_spark.operators.stage_a_ocr import ocr_distinct_media
    from ocr_translation_spark.operators.stage_b_boiler import (
        py_tokens_strict,
        strip_boilerplate,
    )
    from ocr_translation_spark.operators.stage_c_translate import translate_spans
    from ocr_translation_spark.pipeline import extract
    from ocr_translation_spark.sources.catalog import Catalog

    isolate(spark)
    docs = spark.read.parquet(os.path.join(inp, "documents"))
    media = spark.read.parquet(os.path.join(inp, "media"))
    m = {}
    sink = os.path.join(os.path.dirname(inp), "probe_sink")
    sinks = {
        "noop": lambda: _noop(extract(spark, docs, media).result),
        "parquet": lambda: extract(spark, docs, media).result.write.mode(
            "overwrite"
        ).parquet(sink),
    }
    sinks["noop"]()  # untraced: a traced curate run has not run extract yet
    t = {kind: _probe(tr, f"pipeline.extract_{kind}", fn) for kind, fn in sinks.items()}
    m["pipeline.extract_s"] = t["noop"]
    m["pipeline.sink_write_s"] = t["parquet"] - t["noop"]
    m["pipeline.text_path_s"] = _probe(
        tr, "pipeline.extract_text_only", lambda: _noop(extract(spark, docs, None).result)
    )

    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rep = salted_repartition(
        docs.withColumn("_w", media_weight("spans")), nparts,
        key_col="doc_id", weight_col="_w", single_row_keys=True,
    )
    m["partitioning.salted_repartition_s"] = _probe(
        tr, "partitioning.salted_repartition", lambda: _noop(rep)
    )
    per_part = [
        r["n"]
        for r in rep.groupBy(F.spark_partition_id())
        .agg(F.sum(F.size("spans")).alias("n"))
        .collect()
    ]
    m["partitioning.max_over_mean_spans"] = max(per_part) / (sum(per_part) / nparts)

    refs = docs.select(
        F.explode(
            F.filter("spans", lambda s: (s["kind"] == "media") & s["media_ref"].isNotNull())
        ).alias("s")
    ).select(F.col("s.media_ref").alias("media_ref"))
    needed = media.join(refs.distinct(), "media_ref", "left_semi")
    cache = Catalog(spark, os.path.join(inp, "ocr_cache")).load_cache("ocr_cache", "h")
    results, computed = ocr_distinct_media(needed, ocr_cache_df=cache)
    m["stage_a.ocr_distinct_media_s"] = _probe(
        tr, "stage_a.ocr_distinct_media", lambda: _noop(results)
    )
    n_computed = computed.count()
    n_payloads = needed.select(F.sha2("media_bytes", 256)).distinct().count()
    n_occ = refs.count()
    m["stage_a.payloads_computed"] = n_computed
    m["stage_a.dedup_ratio"] = n_payloads / n_occ
    m["stage_a.cache_hit_ratio"] = 1 - n_computed / n_payloads

    m["stage_b.strip_boilerplate_s"] = _probe(
        tr, "stage_b.strip_boilerplate", lambda: _noop(strip_boilerplate(docs))
    )
    n_in = docs.agg(F.sum(F.size("spans"))).collect()[0][0]
    n_kept = strip_boilerplate(docs).agg(F.sum(F.size("spans"))).collect()[0][0]
    m["stage_b.keep_ratio"] = n_kept / n_in

    m["stage_c.translate_spans_s"] = _probe(
        tr, "stage_c.translate_spans", lambda: _noop(translate_spans(docs))
    )
    tokens = F.aggregate(
        F.transform("spans", lambda s: F.coalesce(F.size(py_tokens_strict(s["text"])), F.lit(0))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    m["stage_c.tokens"] = docs.agg(F.sum(tokens)).collect()[0][0]
    return m


def curate_probes(spark, tr, inp: str) -> dict:
    """The dedup, graph and text layers on a curate corpus."""
    from ocr_translation_spark.functions.dedup import minhash_near_dup_pairs
    from ocr_translation_spark.functions.graph import dedup_clusters
    from ocr_translation_spark.functions.text import add_quality

    isolate(spark)
    docs = spark.read.parquet(os.path.join(inp, "documents"))
    m = {}
    with tr.span("probe.dedup.minhash_near_dup_pairs") as s:
        pairs = minhash_near_dup_pairs(docs, jaccard_threshold=0.5)
        m["dedup.pairs"] = pairs.count()
    m["dedup.minhash_pairs_s"] = s["end"] - s["start"]
    with tr.span("probe.graph.dedup_clusters") as s:
        _noop(dedup_clusters(pairs, docs))
    m["graph.dedup_clusters_s"] = s["end"] - s["start"]
    m["graph.jobs"] = s["engine"]["jobs"]
    m["text.add_quality_s"] = _probe(tr, "text.add_quality", lambda: _noop(add_quality(docs)))
    return m


def layer_probes(spark, tr, mixed_inp: str, mixed_expected: dict, curate_inp: str):
    """Every layer's probes. Returns (per-layer metrics, docs attempted,
    docs wrong); only ``run_extract.main`` output is checked."""
    m = span_layer_probes(spark, tr, mixed_inp)
    r, attempted, wrong = resume_probe(spark, tr, mixed_inp, mixed_expected)
    m.update(r)
    m.update(curate_probes(spark, tr, curate_inp))
    return m, attempted, wrong


WORKLOADS = {w.name: w for w in (Mixed, Curate)}
