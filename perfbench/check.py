"""Correctness checks, run after every run outside the timed window.

A document is wrong when its span sequence differs from the golden one on
(kind, text, media_ref, order), when it is missing, or when it is extra
(unknown id, or written more than once).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from gen import SPAN_TYPE


def read_spans(out_dir: str) -> list[tuple[str, tuple]]:
    """[(doc_id, ((kind, text, media_ref, offset), ...)), ...] as written."""
    return _rows(pq.read_table(out_dir, columns=["doc_id", "spans"]))


def _rows(t: pa.Table) -> list[tuple[str, tuple]]:
    return [
        (
            d,
            tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans),
        )
        for d, spans in zip(t.column("doc_id").to_pylist(), t.column("spans").to_pylist())
    ]


def wrong_docs(rows: list[tuple[str, tuple]], golden: dict[str, tuple]) -> int:
    seen: set[str] = set()
    wrong = 0
    for d, spans in rows:
        if d in seen or d not in golden or golden[d] != spans:
            wrong += 1  # duplicate, extra, or differing span sequence
        seen.add(d)
    return wrong + sum(1 for d in golden if d not in seen)  # missing


def golden_table(golden: dict[str, tuple]) -> pa.Table:
    """The goldens as the (doc_id, spans) table a right output sorts to."""
    ids = sorted(golden)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.string()),
            "spans": pa.array([list(golden[d]) for d in ids], SPAN_TYPE),
        }
    )


def wrong_docs_in(out_dir: str, golden: dict[str, tuple], table: pa.Table) -> int:
    """``wrong_docs`` of a written output. An output that sorts to the
    golden table is settled in Arrow; any other goes through the per-doc
    count, which takes about a second per 2000 docs."""
    t = pq.read_table(out_dir, columns=["doc_id", "spans"])
    try:
        if t.cast(table.schema).sort_by("doc_id").equals(table):
            return 0
    except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
        pass  # a schema the golden table does not have: count per doc
    return wrong_docs(_rows(t), golden)


def wrong_quarantine(rows: list[tuple], expected: list[tuple]) -> int:
    """Docs quarantined wrongly: multiset difference on (doc_id, reason,
    span count) against the injected set, both directions."""
    got, want = Counter(rows), Counter(expected)
    return sum(((got - want) + (want - got)).values())


def read_quarantine(path: str) -> list[tuple]:
    """[(doc_id, reason, span count), ...] of a quarantine output."""
    t = pq.read_table(path, columns=["doc_id", "reason", "spans"])
    return [
        (d, r, len(s))
        for d, r, s in zip(
            t.column("doc_id").to_pylist(),
            t.column("reason").to_pylist(),
            t.column("spans").to_pylist(),
        )
    ]


def wrong_survivors(got_ids: list[int], expected: set[int]) -> int:
    got = Counter(got_ids)
    dup = sum(n - 1 for n in got.values())
    return dup + len(set(got) ^ expected)


def self_test(tmp_root: str) -> None:
    """Plant a span swap, a span drop, a missing doc and an extra doc in
    an otherwise golden output; the checker must count exactly those,
    in memory and in an output written as parquet under ``tmp_root``."""
    from gen import golden_for

    golden = golden_for("selftest", 40)
    multi = [d for d, s in golden.items() if len(s) >= 2 and s[0] != s[1]]
    if len(multi) < 3:
        raise RuntimeError("self-test needs three docs with two distinct spans")
    swap, drop, gone = multi[:3]
    rows = []
    for d, spans in golden.items():
        if d == swap:
            spans = (spans[1], spans[0]) + spans[2:]
        elif d == drop:
            spans = spans[:-1]
        elif d == gone:
            continue
        rows.append((d, spans))
    rows.append(("__extra__", ()))
    if wrong_docs(rows, golden) != 4:
        raise RuntimeError("span checker missed a planted swap/drop/missing/extra doc")
    if wrong_docs(list(golden.items()), golden) != 0:
        raise RuntimeError("span checker flags a golden output")
    table = golden_table(golden)
    tmp = tempfile.mkdtemp(dir=tmp_root)
    try:
        for name, rows, want in (("planted", rows, 4), ("golden", golden.items(), 0)):
            out = os.path.join(tmp, name)
            os.makedirs(out)
            t = pa.table(
                {
                    "doc_id": pa.array([d for d, _ in rows], pa.string()),
                    "spans": pa.array([list(s) for _, s in rows], SPAN_TYPE),
                }
            )
            pq.write_table(t, os.path.join(out, "part-00000.parquet"))
            if wrong_docs_in(out, golden, table) != want:
                raise RuntimeError(f"span checker miscounts a written {name} output")
    finally:
        shutil.rmtree(tmp)
    exp = {1, 2, 3}
    if wrong_survivors([1, 2, 4, 4], exp) != 3 or wrong_survivors([3, 2, 1], exp):
        raise RuntimeError("survivor checker miscounts")
