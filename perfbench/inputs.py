"""Seeded benchmark inputs, generated outside the program under test.

Corpora come from ``ocr_project_spark.sources.generate`` and are written
as multi-file, multi-row-group parquet into a cache directory keyed by
(workload corpus, seed, size).  The oracle's expected output is computed
once with ``ocr_project_spark.oracle`` and cached beside the corpus as
one digest per document, so a run compares its output without re-running
the oracle.  The program under test only ever receives the paths.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

# Generator processes for a regular corpus (one per core of the 4-core
# benchmark host).  They are plain child processes of this module run as
# a script, each waited for: a multiprocessing pool would also start a
# resource-tracker process that outlives the benchmark by a moment.
GEN_PROCS = 4
# Rows per parquet row group: small enough that every file splits into
# several scan tasks, large enough that row-group overhead stays small.
ROW_GROUP_DOCS = 512


def doc_digest(doc_id, spans, ok, reason) -> str:
    """Digest of one output document: its sequence of (kind, text,
    media_ref, order) tuples and its status.  Both sides of the match
    check use it."""
    payload = json.dumps(
        [doc_id, [list(s) for s in spans], bool(ok), reason],
        ensure_ascii=False,
        separators=(",", ":"),
    )
    return hashlib.sha1(payload.encode("utf-8")).hexdigest()


def expected_digests(docs: list[dict], cands: list[dict]) -> dict[str, str]:
    """doc_id -> digest of the oracle's output for that document."""
    from ocr_project_spark import oracle

    spans = oracle.extract_corpus(docs, cands)
    out = {}
    for d in docs:
        ok, reason = oracle.doc_status(d)
        seq = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans[d["doc_id"]]
        ]
        out[d["doc_id"]] = doc_digest(d["doc_id"], seq, ok, reason)
    return out


def _rewrite(root: str, part: int, doc_path: str, cand_path: str, doc_rows: int,
             prefix: str = "") -> tuple[int, int, dict[str, str]]:
    """Re-write a corpus the program's generator wrote as part ``part`` of
    the cached corpus: small row groups (``doc_rows`` documents), doc ids
    prefixed with ``prefix``.  Returns its doc and span counts and the
    oracle digests."""
    tables = []
    for src, sub, rows in ((doc_path, "docs", doc_rows), (cand_path, "cands", ROW_GROUP_DOCS * 4)):
        tbl = pq.read_table(src)
        if prefix:
            ids = pc.binary_join_element_wise(prefix, tbl.column("doc_id"), "")
            tbl = tbl.set_column(tbl.schema.get_field_index("doc_id"), "doc_id", ids)
        pq.write_table(
            tbl, os.path.join(root, sub, f"part-{part:02d}.parquet"), row_group_size=rows
        )
        tables.append(tbl)
    docs, cands = (t.to_pylist() for t in tables)
    return len(docs), sum(len(d["spans"]) for d in docs), expected_digests(docs, cands)


def _regular_part(root: str, part: int, n_docs: int, base_seed: int
                  ) -> tuple[int, int, dict[str, str]]:
    """Generate, write and oracle one part of a regular corpus.

    Every part is an independent ``write_corpus_parquet`` call whose base
    seed is offset by the part's first document index, so each document
    keeps its own seed; doc ids get a part prefix to stay unique."""
    from ocr_project_spark.sources.generate import write_corpus_parquet

    raw = os.path.join(root, f"raw-{part:02d}")
    doc_path, cand_path = write_corpus_parquet(raw, n_docs=n_docs, base_seed=base_seed)
    out = _rewrite(root, part, doc_path, cand_path, ROW_GROUP_DOCS, prefix=f"p{part:02d}-")
    shutil.rmtree(raw)
    return out


def _run_parts(jobs: list[tuple]) -> list[list]:
    """Run ``_regular_part(*job)`` for every job, each in a child process
    running this file, at most ``GEN_PROCS`` at once.  Every child is
    waited for, and killed first if the build is abandoned."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (os.getcwd(), env.get("PYTHONPATH")) if p)
    pending, running, results = list(jobs), [], {}
    try:
        while pending or running:
            while pending and len(running) < GEN_PROCS:
                job = pending.pop(0)
                out = os.path.join(job[0], f"part-{job[1]:02d}.json")
                cmd = [sys.executable, os.path.abspath(__file__), json.dumps(job), out]
                running.append((subprocess.Popen(cmd, env=env), job, out))
            proc, job, out = running.pop(0)
            if proc.wait() != 0:
                raise RuntimeError(f"corpus part {job[1]} failed (exit {proc.returncode})")
            with open(out, encoding="utf-8") as f:
                results[job[1]] = json.load(f)
            os.remove(out)
    finally:
        for proc, _, _ in running:
            proc.kill()
            proc.wait()
    return [results[job[1]] for job in jobs]


def _build_regular(root: str, seed: int, n_docs: int, parts: int) -> dict:
    per_part = -(-n_docs // parts)
    jobs = []
    for part in range(parts):
        n = min(per_part, n_docs - part * per_part)
        jobs.append((root, part, n, seed * 1_000_003 + part * per_part))
    results = _run_parts(jobs)
    expected = {}
    for _, _, dig in results:
        expected.update(dig)
    return {
        "docs": sum(r[0] for r in results),
        "spans": sum(r[1] for r in results),
        "expected": expected,
    }


def _build_skewed(root: str, seed: int, mega_spans: int, n_regular: int) -> dict:
    """One mega-doc plus regular docs via ``write_mega_corpus_parquet``,
    re-written with small row groups so the regular docs scan wide."""
    from ocr_project_spark.sources.generate import write_mega_corpus_parquet

    raw = os.path.join(root, "raw")
    doc_path, cand_path = write_mega_corpus_parquet(
        raw, mega_span_count=mega_spans, n_regular=n_regular, base_seed=seed
    )
    n_docs, n_spans, expected = _rewrite(root, 0, doc_path, cand_path, ROW_GROUP_DOCS // 4)
    shutil.rmtree(raw)
    return {"docs": n_docs, "spans": n_spans, "expected": expected}


def prepare(cache_root: str, corpus: str, seed: int, size: dict) -> dict:
    """Return the manifest of a cached corpus, building it on a miss.

    The manifest holds the docs/candidates directories, doc and span
    counts and the oracle digests.  A partially written entry (no
    manifest) is rebuilt from scratch."""
    key = f"{corpus}-s{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    root = os.path.join(cache_root, key)
    manifest_path = os.path.join(root, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "docs"))
    os.makedirs(os.path.join(root, "cands"))
    if corpus == "regular":
        info = _build_regular(root, seed, size["docs"], size["parts"])
    elif corpus == "skewed":
        info = _build_skewed(root, seed, size["mega"], size["docs"])
    else:
        raise ValueError(f"unknown corpus {corpus!r}")
    info.update(
        key=key,
        docs_path=os.path.join(root, "docs"),
        cands_path=os.path.join(root, "cands"),
    )
    tmp = manifest_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(info, f)
    os.replace(tmp, manifest_path)
    return info


if __name__ == "__main__":
    # child of ``_run_parts``: one part, its result as JSON to argv[2]
    result = _regular_part(*json.loads(sys.argv[1]))
    with open(sys.argv[2], "w", encoding="utf-8") as f:
        json.dump(result, f)
