"""Seeded input generators, golden outputs and the on-disk corpus cache.

Every corpus is a pure function of (workload, seed, size): ``corpus()``
builds it once, writes the inputs as parquet part files plus the
expectations (``expected.pkl``) under ``<cache>/<workload>-s<seed>-n<size>``
and later calls with the same key only read the directory back.

Goldens come from the single-document spec, ``semantics.extract_doc``;
the ``curate`` expectation comes from the planted cluster / junk / source
structure, never from running the job.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import pickle
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ocr_translation_spark import datagen as D
from ocr_translation_spark import semantics as S

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)
N_FILES = 8  # input splits: two per core on the 4-core reference host

# --------------------------------------------------------------------------
# parquet helpers
# --------------------------------------------------------------------------


def _write_parts(path: str, table: pa.Table, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    k = max(1, min(n_files, table.num_rows))
    chunk = -(-table.num_rows // k)
    for i in range(k):
        pq.write_table(
            table.slice(i * chunk, chunk),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def _docs_table(docs: list[tuple[str | None, list[dict]]]) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.string()),
            "spans": pa.array(
                [
                    [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
                    for _, spans in docs
                ],
                SPAN_TYPE,
            ),
        }
    )


def _media_table(rows: list[tuple[str, bytes, str]]) -> pa.Table:
    return pa.table(
        {
            "media_ref": pa.array([r for r, _, _ in rows], pa.string()),
            "media_bytes": pa.array([b for _, b, _ in rows], pa.binary()),
            "media_kind": pa.array([k for _, _, k in rows], pa.string()),
        }
    )


# --------------------------------------------------------------------------
# mixed: the datagen distribution over seed-prefixed doc_ids, plus the
# inputs of the resumable-job probe: ~1% invalid docs and an OCR cache
# seeded with half of the payloads
# --------------------------------------------------------------------------


HEAVY_SHARE = 1 / 97  # datagen's share of media-heavy docs (50-200 media spans)


def _mixed(prefix: str, n: int) -> tuple[list, dict, list]:
    """Docs, goldens and media rows of ``n`` mixed docs; a golden is the
    doc's span sequence as (kind, text, media_ref, offset) tuples.

    Media-heavy docs are drawn to their expected count: left to chance,
    their number alone moves a corpus's media load by ~20% between seeds.
    """
    n_heavy = round(n * HEAVY_SHARE)
    docs, heavy, i = [], 0, 0
    with multiprocessing.Pool(min(4, len(os.sched_getaffinity(0)))) as pool:
        while len(docs) < n:
            ids = [f"{prefix}-{k:07d}" for k in range(i, i + n - len(docs) + 64)]
            i += len(ids)
            for d, spans in zip(ids, pool.map(D.spans_for, ids, chunksize=64)):
                is_heavy = sum(s["kind"] == S.KIND_MEDIA for s in spans) >= 50
                full = heavy >= n_heavy if is_heavy else len(docs) - heavy >= n - n_heavy
                if full or len(docs) == n:
                    continue
                heavy += is_heavy
                docs.append((d, spans))
    media = D.gen_media_table(D.collect_media_refs(docs))
    golden = {
        d: tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans)
        for d, spans in D.golden_extracted(docs, media).items()
    }
    return docs, golden, media


def golden_for(prefix: str, n: int) -> dict[str, tuple]:
    """Goldens of ``n`` mixed docs, for the checker self-test."""
    return _mixed(prefix, n)[1]


INVALID_REASONS = ("null_doc_id", "unknown_span_kind", "media_span_without_ref")


def _break(doc_id: str, spans: list[dict], reason: str) -> tuple[str | None, list[dict]]:
    spans = [dict(s) for s in spans]
    if reason == "null_doc_id":
        return None, spans
    if reason == "unknown_span_kind":
        spans.append({"kind": "video", "text": "x", "media_ref": None, "offset": len(spans)})
        return doc_id, spans
    spans.append({"kind": S.KIND_MEDIA, "text": None, "media_ref": None, "offset": len(spans)})
    return doc_id, spans


def _build_mixed(out: str, seed: int, n: int) -> dict:
    prefix = f"s{seed}"
    docs, golden, media_rows = _mixed(prefix, n)
    _write_parts(os.path.join(out, "documents"), _docs_table(docs))
    _write_parts(os.path.join(out, "media"), _media_table(media_rows))

    bad = [
        _break(f"{prefix}-bad-{i:05d}", D.spans_for(f"{prefix}-bad-{i:05d}"),
               INVALID_REASONS[i % len(INVALID_REASONS)])
        for i in range(max(len(INVALID_REASONS), n // 100))
    ]
    _write_parts(os.path.join(out, "invalid"), _docs_table(bad), n_files=1)
    cached = [
        (hashlib.sha256(b).hexdigest(), S.ocr_text(b))
        for r, b, _ in media_rows
        if D.stable_int("cache", seed, r) % 2 == 0
    ]
    _write_parts(
        os.path.join(out, "ocr_cache", "ocr_cache", "batch=0"),
        pa.table(
            {
                "h": pa.array([h for h, _ in cached], pa.string()),
                "ocr_text": pa.array([t for _, t in cached], pa.string()),
            }
        ),
        n_files=1,
    )
    return {
        "golden": golden,
        "quarantine": [
            (d, INVALID_REASONS[i % len(INVALID_REASONS)], len(sp))
            for i, (d, sp) in enumerate(bad)
        ],
        "n_docs": n,
    }


# --------------------------------------------------------------------------
# curate: flat docs with planted near-dup clusters, junk and 16 sources
# --------------------------------------------------------------------------

# The curate mix is assumed, not taken from real curation traffic: no
# sample of it exists in the repository. The shares below (near-dup
# cluster share, mean cluster size 3.5, junk share, Zipf-like source
# weights, a cap of 0.6 x the largest source) are chosen so that every
# stage of the job drops something; retune them from a real sample.
N_SOURCES = 16
CLUSTER_FRAC = 0.3  # share of docs that belong to a near-dup cluster
JUNK_FRAC = 0.05


def _vocab(rng: random.Random, n: int = 6000) -> list[str]:
    syl = ["ka", "to", "mi", "re", "su", "no", "la", "vi", "de", "po",
           "an", "el", "ur", "is", "ob", "fe", "gu", "ha", "jo", "qe"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _junk(rng: random.Random, vocab: list[str], i: int) -> str:
    """Text the quality gate rejects: too short, punctuation soup, or
    over-long tokens. Each is unique: a duplicate pair would switch on
    the job's exact-duplicate path for some seeds and not others."""
    kind = i % 3
    if kind == 0:
        return f"{rng.choice(vocab)} {i:x}"
    if kind == 1:
        return " ".join(
            rng.choice(vocab) + "!?.,;" * rng.randint(1, 3) for _ in range(8)
        )
    return " ".join(
        "".join(rng.choice(vocab) for _ in range(6)) for _ in range(rng.randint(6, 10))
    )


def _build_curate(out: str, seed: int, n: int) -> dict:
    rng = random.Random(f"curate/{seed}")
    vocab = _vocab(rng)
    # skewed source sizes so the cap binds on some sources and not others
    src_w = [1.0 / (k + 1) ** 0.7 for k in range(N_SOURCES)]
    rows = []  # (doc_id, text, source, cluster, junk)
    i, cluster = 0, 0
    while len(rows) < n:
        r = rng.random()
        source = rng.choices(range(N_SOURCES), weights=src_w)[0]
        if r < CLUSTER_FRAC / 3.5:  # mean cluster size 3.5
            base = [rng.choice(vocab) for _ in range(rng.randint(90, 160))]
            members = []
            for _ in range(rng.randint(2, 5)):
                toks = list(base)
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
                members.append(" ".join(toks))
            for text in members:
                rows.append((i, text, source, cluster, False))
                i += 1
            cluster += 1
        elif r < CLUSTER_FRAC / 3.5 + JUNK_FRAC:
            rows.append((i, _junk(rng, vocab, i), source, -1, True))
            i += 1
        else:
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(20, 160)))
            rows.append((i, text, source, -1, False))
            i += 1
    # ids are shuffled so a cluster's survivor (min id) is not always
    # its first-generated member
    ids = list(range(len(rows)))
    rng.shuffle(ids)
    rows = [(ids[k],) + row[1:] for k, row in enumerate(rows)]

    survivors = {}
    for doc_id, text, source, cl, junk in rows:
        key = ("c", cl) if cl >= 0 else ("d", doc_id)
        if key not in survivors or doc_id < survivors[key][0]:
            survivors[key] = (doc_id, text, source, junk)
    kept = [(d, len(t.split()), s) for d, t, s, junk in survivors.values() if not junk]
    per_source = {}
    for d, ntok, s in kept:
        per_source.setdefault(s, []).append((-ntok, d))
    cap = max(1, int(0.6 * sorted(len(v) for v in per_source.values())[-1]))
    expected = set()
    for lst in per_source.values():
        expected.update(d for _, d in sorted(lst)[:cap])

    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([f"src{r[2]:02d}" for r in rows], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    _write_parts(os.path.join(out, "documents"), table)
    return {"expected": expected, "cap": cap, "n_docs": len(rows)}


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------

BUILDERS = {
    "mixed": _build_mixed,
    "curate": _build_curate,
}


def corpus(cache_root: str, workload: str, seed: int, size: int) -> tuple[str, dict]:
    """(corpus dir, expectations) for the key, building it on first use."""
    path = os.path.join(cache_root, f"{workload}-s{seed}-n{size}")
    meta = os.path.join(path, "expected.pkl")
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = BUILDERS[workload](tmp, seed, size)
        with open(os.path.join(tmp, "expected.pkl"), "wb") as f:
            pickle.dump(info, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(meta, "rb") as f:
        return path, pickle.load(f)


def link_tree(src: str, dst: str) -> None:
    """Hard-link every file of ``src`` under ``dst``: a fresh input path
    for one run that costs no copy."""
    for root, _, files in os.walk(src):
        rel = os.path.relpath(root, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for name in files:
            os.link(os.path.join(root, name), os.path.join(dst, rel, name))


if __name__ == "__main__":
    import sys

    name, seed, size, root = sys.argv[1:]
    corpus(root, name, int(seed), int(size))
