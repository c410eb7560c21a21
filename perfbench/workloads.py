"""The benchmark workloads: one timed unit of work ("rep") per workload,
plus the check of a rep's output against the oracle digests.

Both drive public calls of ``ocr_project_spark`` on the cached
corpus paths; nothing here reimplements engine logic.  Why each
workload was chosen is recorded in ``BENCHMARK.json``; both run the
same regular corpus.
"""

from __future__ import annotations

from inputs import doc_digest

# Corpus sizes.  A regular rep takes 1.5-2 s on 4 cores once warm.  The
# skewed corpus (one mega-doc) feeds the traced ladder's chunking and
# commit layers.  At this size extract_chunked ran 4.3-4.9 s against
# 4.6-5.2 s for plain extract (4 cores, warm), so chunking just pays off.
REGULAR_SIZE = {"docs": 8000, "parts": 8}
SKEWED_SIZE = {"mega": 150_000, "docs": 500}
# extract_chunked width for the skewed corpus: ~10 chunks of the
# mega-doc, so its assembly spreads over all 4 cores.
CHUNK_WIDTH = 16384
# checkpoint.run shape: two bucket batches, so every rep commits twice
# and rescans the unbucketed input once per batch.
CHECKPOINT = {"n_buckets": 4, "bucket_batch_size": 2}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_inputs(spark, manifest):
    return (
        spark.read.parquet(manifest["docs_path"]),
        spark.read.parquet(manifest["cands_path"]),
    )


def plan(name: str):
    """The workload's public call, ``f(docs, cands) -> DataFrame``; one
    rep executes its result to the ``noop`` sink."""
    if name == "regular":
        from ocr_project_spark.operators.extract import extract

        return extract
    if name == "python_kernel":
        from ocr_project_spark.operators.extract_pandas import extract_pandas_engine

        return extract_pandas_engine
    raise ValueError(f"unknown workload {name!r}")


def match_rate(table, expected: dict[str, str]) -> tuple[float, int]:
    """Share of documents whose output equals the oracle's, and the
    number of output spans.  Missing, extra or duplicated documents count
    as mismatches.  Columns are read flat: per-row Python dicts of the
    nested spans would cost more than the rest of the check."""
    import pyarrow.compute as pc

    spans = table.column("spans")
    lengths = pc.fill_null(pc.list_value_length(spans), 0).to_pylist()
    flat = pc.list_flatten(spans)
    seq = list(zip(*(
        pc.struct_field(flat, f).to_pylist() for f in ("kind", "text", "media_ref", "order")
    )))
    status = table.column("status")
    oks = pc.struct_field(status, "ok").to_pylist()
    reasons = pc.struct_field(status, "reason").to_pylist()
    counts: dict[str, int] = {}
    digests: dict[str, str] = {}
    pos = 0
    for d, n, ok, reason in zip(table.column("doc_id").to_pylist(), lengths, oks, reasons):
        counts[d] = counts.get(d, 0) + 1
        digests[d] = doc_digest(d, seq[pos : pos + n], ok, reason)
        pos += n
    matched = sum(
        1 for d, dig in digests.items() if counts[d] == 1 and expected.get(d) == dig
    )
    return matched / max(len(expected), table.num_rows, 1), len(seq)
