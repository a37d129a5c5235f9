"""Tests for partitioning, dedup_cache, catalog, translate parity,
and the streaming wrapper."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_translation_spark import datagen as G
from ocr_translation_spark import semantics as S
from ocr_translation_spark.operators.dedup_cache import dedup_compute_with_cache
from ocr_translation_spark.operators.partitioning import (
    media_weight,
    salted_repartition,
)
from ocr_translation_spark.operators.stage_c_translate import (
    translate_series,
    translate_text_col,
)
from ocr_translation_spark.sources.catalog import Catalog
from tests.conftest import load_fixture


def test_salted_repartition_spreads_heavy_keys(spark):
    # 1000 rows of one hot key with heavy weight + 1000 unique light keys
    hot = spark.range(1000).select(
        F.lit("hot").alias("doc_id"), F.lit(4096).alias("w")
    )
    light = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("doc_id"), F.lit(1).alias("w")
    )
    df = hot.unionByName(light)
    unsalted = df.repartition(8, F.xxhash64("doc_id"))
    n_unsalted = (
        unsalted.groupBy(F.spark_partition_id().alias("p"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    salted = salted_repartition(df, 8, weight_col="w", salt_buckets=8)
    n_salted = (
        salted.groupBy(F.spark_partition_id().alias("p"))
        .count().agg(F.max("count")).collect()[0][0]
    )
    # hot key concentrated ~1000+ rows unsalted; salted splits across buckets
    assert n_unsalted >= 1000
    assert n_salted < n_unsalted


def test_media_weight(spark, fixture_dir):
    docs = load_fixture(spark, fixture_dir, "documents")
    row = docs.filter(F.col("doc_id") == G.EDGE_MEDIA_ONLY).select(
        media_weight("spans").alias("w")
    ).collect()[0]
    assert row["w"] == 2


def test_dedup_cache_computes_once_per_distinct(spark):
    calls = spark.sparkContext.accumulator(0)

    def fn(series):
        calls.add(len(series))
        return series.map(lambda s: s.upper())

    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), ("a",), ("b",)], "payload string"
    )
    out, new_cache = dedup_compute_with_cache(df, "payload", fn)
    rows = out.collect()
    assert {(r["payload"], r["result"]) for r in rows} == {
        ("a", "A"), ("b", "B"),
    }
    assert len(rows) == 5
    assert calls.value == 2  # one compute per distinct payload

    # warm cache run computes nothing
    cache = new_cache.cache()
    cache.count()
    calls2 = spark.sparkContext.accumulator(0)

    def fn2(series):
        calls2.add(len(series))
        return series.map(lambda s: s.upper())

    out2, _ = dedup_compute_with_cache(df, "payload", fn2, cache_df=cache)
    out2.collect()
    assert calls2.value == 0


def test_catalog_merge_idempotent(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    df1 = spark.createDataFrame([("h1", "r1"), ("h2", "r2")], "h string, v string")
    cat.merge_by_key(df1, "cache", "h")
    # second merge with an overlapping key: existing row wins
    df2 = spark.createDataFrame([("h2", "CHANGED"), ("h3", "r3")], "h string, v string")
    cat.merge_by_key(df2, "cache", "h")
    got = {r["h"]: r["v"] for r in cat.load("cache").collect()}
    assert got == {"h1": "r1", "h2": "r2", "h3": "r3"}


def test_translate_native_equals_pandas(spark):
    texts = [
        "the fast spark", "", None, "UNKNOWN words HERE",
        "The  Fast   batch", "a of in on with",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    native = [
        r["out"]
        for r in df.select(translate_text_col(F.col("text")).alias("out")).collect()
    ]
    pandas_side = list(translate_series(texts))
    assert native == pandas_side
    # and both equal the golden function
    for t, n in zip(texts, native):
        if t is not None:
            assert n == S.translate_text(t)


def test_stream_extract_availablenow(spark, fixture_dir, tmp_path):
    from ocr_translation_spark.pipeline import extract
    from ocr_translation_spark.streaming import stream_extract

    docs = load_fixture(spark, fixture_dir, "documents")
    media = load_fixture(spark, fixture_dir, "media")
    in_dir = str(tmp_path / "in")
    docs.write.parquet(in_dir)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_extract(spark, in_dir, out_dir, ckpt, media=media)
    q.awaitTermination(300)

    batch = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in extract(spark, docs, media).result.collect()
    }
    streamed = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"]) for s in r["spans"]]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch

    # restart with same checkpoint: no new data -> no duplicate output
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, media=media)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == len(batch)


def test_asof_backward_edges(spark):
    """Backward as-of: inclusive ties, no-prior -> NULL, per-key
    isolation, carried value columns."""
    from ocr_translation_spark.functions.timeseries import asof_backward

    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 20, "p2"), ("u1", 5, "p0"),
         ("u2", 10, "q1")],
        "user string, t int, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.5), ("u1", 18, 2.5), ("u3", 1, 9.9)],
        "user string, t int, v double",
    )
    out = {
        r["pid"]: (r["t_asof"], r["v_asof"])
        for r in asof_backward(
            left, right, "user", "t", value_cols=["v"]
        ).collect()
    }
    assert out["p1"] == (10, 1.5)   # tie at t=10 is INCLUSIVE
    assert out["p2"] == (18, 2.5)   # latest at-or-before 20
    assert out["p0"] == (None, None)  # nothing precedes t=5
    assert out["q1"] == (None, None)  # u3's rows never leak to u2


def test_run_extract_cli_with_cache(spark, fixture_dir, tmp_path):
    """spark-submit-shaped CLI smoke: quarantine + growing cache +
    resume state wiring through jobs/run_extract.py main()."""
    import json
    import sys

    from jobs.run_extract import main

    out = str(tmp_path / "out")
    argv = [
        "--input", f"{fixture_dir}/documents.parquet",
        "--media", f"{fixture_dir}/media.parquet",
        "--output", out,
        "--state", str(tmp_path / "state"),
        "--buckets", "2",
        "--ocr-cache", str(tmp_path / "cache"),
        "--quarantine", str(tmp_path / "quar"),
    ]
    assert main(argv) == 0
    import os
    assert os.path.exists(os.path.join(str(tmp_path / "cache"), "ocr_cache"))
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # second run: fully resumed (no pending buckets), output unchanged
    assert main(argv) == 0
    assert spark.read.parquet(out).count() == n1


def test_asof_backward_matches_brute_force(spark):
    """Property check: the union-tag as-of equals the quadratic
    definition (latest right at-or-before, per key) on deterministic
    pseudo-random data with planted ties and empty keys."""
    from ocr_translation_spark.datagen import stable_int
    from ocr_translation_spark.functions.timeseries import asof_backward

    lrows = [
        (f"u{stable_int('lk', i) % 7}", stable_int("lt", i) % 100, f"L{i}")
        for i in range(120)
    ]
    rrows = list(
        {
            (f"u{stable_int('rk', i) % 5}", stable_int("rt", i) % 100): (
                float(i),
            )
            for i in range(60)
        }.items()
    )
    rrows = [(k, t, v[0]) for (k, t), v in rrows]
    left = spark.createDataFrame(lrows, "k string, t int, lid string")
    right = spark.createDataFrame(rrows, "k string, t int, v double")

    got = {
        r["lid"]: (r["t_asof"], r["v_asof"])
        for r in asof_backward(left, right, "k", "t", ["v"]).collect()
    }
    rmap: dict[str, list[tuple[int, float]]] = {}
    for k, t, v in rrows:
        rmap.setdefault(k, []).append((t, v))
    for k, t, lid in lrows:
        prior = [(rt, rv) for rt, rv in rmap.get(k, []) if rt <= t]
        expect = max(prior) if prior else (None, None)
        assert got[lid] == expect, (lid, got[lid], expect)


def test_stage_b_and_c_whitespace_parity_with_golden(spark):
    """Tab/NBSP whitespace must behave exactly like the golden spec's
    str.strip()/str.split(): whitespace-only spans drop, leading tabs
    don't dilute the boiler score, interior unicode whitespace splits
    for translation (review finding, reproduced pre-fix)."""
    from pyspark.sql import functions as F

    from ocr_translation_spark import semantics as S
    from ocr_translation_spark.operators.stage_b_boiler import (
        keep_span_predicate,
    )
    from ocr_translation_spark.operators.stage_c_translate import (
        translate_text_col,
    )

    texts = [
        "\t",                      # whitespace-only: golden drops
        "\n\n",
        " ",                  # NBSP: python strip() removes it
        "\tclick here x",          # leading tab: golden 2/3 boiler
        "the fast cat",       # interior NBSP splits in golden
        " normal words here ",
        "",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: (r["keep"], r["xlate"])
        for r in df.select(
            "i",
            keep_span_predicate(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col("text").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("keep"),
            translate_text_col(F.col("text")).alias("xlate"),
        ).collect()
    }
    for i, t in rows:
        assert got[i][0] == S.keep_span("text", t), (i, repr(t))
        assert got[i][1] == S.translate_text(t), (i, repr(t))


def test_span_sort_is_stable_like_golden(spark):
    """Duplicate offsets (legal input) must keep input order — the
    golden spec sorts with Python's STABLE sorted(key=offset)."""
    from ocr_translation_spark.pipeline import extract

    spans = [
        {"kind": "text", "text": "zebra words here", "media_ref": None,
         "offset": 5},
        {"kind": "text", "text": "apple words here", "media_ref": None,
         "offset": 5},
        {"kind": "text", "text": "middle words here", "media_ref": None,
         "offset": 1},
    ]
    docs = spark.createDataFrame(
        [("d1", spans)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    got = [
        (s["kind"], s["text"], s["media_ref"])
        for s in extract(spark, docs, None).result.collect()[0]["spans"]
    ]
    from ocr_translation_spark import semantics as S

    exp = [
        (s["kind"], s["text"], s["media_ref"])
        for s in S.extract_doc(spans, {})
    ]
    assert got == exp  # middle, zebra, apple — input order on ties


def test_dedup_cache_null_and_empty_payload_distinct(spark):
    """NULL and empty payloads must not conflate into one cache key
    (review finding: both hashed to sha2(b''))."""
    from ocr_translation_spark.operators.dedup_cache import (
        dedup_compute_with_cache,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x")], "i long, p string"
    )
    out, new_cache = dedup_compute_with_cache(
        df,
        "p",
        lambda s: s.map(lambda p: "<null>" if p is None else f"v[{p}]"),
        result_col="r",
    )
    got = {r["i"]: r["r"] for r in out.collect()}
    assert got == {1: "<null>", 2: "v[]", 3: "v[x]"}
    assert new_cache.count() == 3  # three distinct keys


def test_translate_cache_empty_lang_suffix(spark):
    """lang='' must not slice the whole payload away (p[:-0] trap)."""
    from ocr_translation_spark.operators.stage_c_translate import (
        translate_texts_with_cache,
    )

    df = spark.createDataFrame([("the fast cat",)], "text string")
    out, _ = translate_texts_with_cache(df, lang="")
    from ocr_translation_spark import semantics as S

    assert out.collect()[0]["translated"] == S.translate_text(
        "the fast cat"
    )


def test_resume_rejects_changed_bucket_count(spark, tmp_path):
    """Lineage bucket ids are only meaningful under the n_buckets that
    wrote them; a resume with a different count must refuse loudly."""
    import pytest as _pytest

    from ocr_translation_spark.operators.resume import ResumableRun

    docs = spark.createDataFrame(
        [("d1", [])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out, st = str(tmp_path / "out"), str(tmp_path / "state")
    ResumableRun(spark, out, st, n_buckets=4).run(docs, None)
    with _pytest.raises(ValueError, match="n_buckets"):
        ResumableRun(spark, out, st, n_buckets=8).run(docs, None)


def test_ingest_media_dir_duplicate_files_one_row(spark, tmp_path):
    """Byte-identical files share a content-address ref; the ingest
    must emit ONE row per ref (two rows abort extract() with
    DUPLICATED_MAP_KEY — review finding, reproduced pre-fix)."""
    from ocr_translation_spark.sources.binary_media import ingest_media_dir

    import os as _os

    d = tmp_path / "media"
    _os.makedirs(d)
    payload = b"SYNTHIMGsame-bytes"
    for name in ("a.png", "copy_of_a.png", "other.png"):
        with open(d / name, "wb") as f:
            f.write(payload if "a" in name else b"SYNTHIMGdifferent")
    media = ingest_media_dir(spark, str(d))
    rows = media.collect()
    refs = [r["media_ref"] for r in rows]
    assert len(refs) == len(set(refs)) == 2  # 2 distinct payloads
    kinds = {r["media_ref"]: r["media_kind"] for r in rows}
    assert all(k == "png" for k in kinds.values())


def test_py_ws_class_matches_python_isspace(spark):
    """PY_WS_CLASS must match EXACTLY the code points Python's
    str.isspace()/split()/strip() treat as whitespace — no more (ZWSP,
    word-joiner, BOM are NOT python whitespace), no fewer."""
    from pyspark.sql import functions as F

    from ocr_translation_spark.operators.stage_b_boiler import PY_WS_CLASS

    ws = [chr(i) for i in range(0x10000) if chr(i).isspace()]
    nonws = ["a", "0", ".", "​", "⁠", "﻿", "᠎"]
    rows = [(c,) for c in ws + nonws]
    df = spark.createDataFrame(rows, "c string")
    got = df.select(
        "c", F.col("c").rlike(f"^{PY_WS_CLASS}$").alias("m")
    ).collect()
    for r in got:
        assert r["m"] == r["c"].isspace(), hex(ord(r["c"]))


def _curation_corpus():
    """(doc_id, text, source) rows with planted near-dup groups and junk.

    Every doc draws its words from its own letter-only vocabulary, so
    docs only near-dup within a planted group (one token dropped or
    swapped: shingle Jaccard > 0.9). Groups {1,2,3} and {10,11} have
    clean text; group {40,41} is junk (mean token length 16), as are
    30 (3 tokens) and 31 (punctuation soup); 20-23 are clean
    singletons. Token counts set the per-source cap order."""

    def words(doc, n, width=5):
        out = []
        for i in range(n):
            k = doc * 1000 + i
            w = ""
            while len(w) < width:
                w += chr(97 + k % 26)
                k //= 26
            out.append(w)
        return out

    a = words(1, 40)
    b = words(10, 30)
    c = words(40, 35, width=16)
    return [
        (1, " ".join(a), "s0"),
        (2, " ".join(a[:-1]), "s0"),
        (3, " ".join(a[:-1] + words(3, 1)), "s0"),
        (10, " ".join(b), "s1"),
        (11, " ".join(b[:-1]), "s1"),
        (20, " ".join(words(20, 35)), "s0"),
        (21, " ".join(words(21, 25)), "s0"),
        (22, " ".join(words(22, 15)), "s0"),
        (23, " ".join(words(23, 20)), "s1"),
        (30, " ".join(words(30, 3)), "s0"),
        (31, " ".join(w[:2] + "?!;:" for w in words(31, 10)), "s1"),
        (40, " ".join(c), "s1"),
        (41, " ".join(c[:-1]), "s1"),
    ]


def test_run_curation_cli(spark, tmp_path):
    """spark-submit-shaped CLI on a planted corpus: every report field
    is exact on the default and the --no-quality path, the output is
    exactly the expected survivors, and the job leaves no persisted
    RDD behind."""
    from jobs.run_curation import main

    spark.createDataFrame(
        _curation_corpus(), "doc_id long, text string, source string"
    ).write.parquet(str(tmp_path / "docs"))

    def run(name, *flags):
        out, rep = str(tmp_path / name), str(tmp_path / (name + "_rep"))
        assert main([
            "--input", str(tmp_path / "docs"), "--output", out,
            "--report", rep, "--per-source-cap", "2", *flags,
        ]) == 0
        ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        return spark.read.parquet(rep).collect()[0].asDict(), ids

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # survivors 1, 10, 20-23, 30, 31, 40; quality drops 30, 31, 40;
    # cap 2 keeps s0's 1 (40 tokens) and 20 (35), s1's 10 and 23
    report, ids = run("curated")
    assert report == {
        "n_input": 13,
        "n_after_neardup_cc": 9,
        "n_dropped_neardup": 4,
        "n_after_quality": 6,
        "n_dropped_quality": 3,
        "n_output": 4,
        "n_dropped_source_cap": 2,
    }
    assert ids == {1, 10, 20, 23}

    # the first call built the (session-scoped, by design) memoized
    # near-dup pairs and clusters; a repeat on the same input reuses
    # them, so whatever else it persisted must be released on return
    before = persisted()
    # junk survives: s1's cap now keeps 40 (35 tokens) over 23 (20)
    report, ids = run("curated_nq", "--no-quality")
    assert report == {
        "n_input": 13,
        "n_after_neardup_cc": 9,
        "n_dropped_neardup": 4,
        "n_after_quality": 9,
        "n_dropped_quality": 0,
        "n_output": 4,
        "n_dropped_source_cap": 5,
    }
    assert ids == {1, 10, 20, 40}
    assert persisted() <= before
    before = persisted()
    assert run("curated_again")[1] == {1, 10, 20, 23}
    assert persisted() <= before
