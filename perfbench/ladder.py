"""The traced run: per-layer numbers from a ladder of public calls.

Each call runs in its own Spark job group, timed from outside, with its
stage metrics read from the status store after every rep.  A layer's
``self_s`` (and its other additive numbers: executor CPU, shuffle
write, spill, tasks) is the difference between calls that include it
and calls that do not, following this table:

    layer                          call (minus)
    sources.scan                   read docs + candidates -> noop
    operators.extract.status       docs + doc_status_expr()
    functions.fuse.fuse            fuse_media_candidates(cands)
    operators.extract.assemble     extract(docs) - status
    operators.extract.join         extract(docs, cands) - extract(docs) - fuse
    operators.extract_arrow.kernel extract_pandas_engine(docs) - status
    plans.partitioning.chunk       chunk_documents(docs, W)        [skewed corpus]
    operators.extract.chunked      extract_chunked(docs, cands, W) [skewed corpus]
    plans.checkpoint.commit        checkpoint.run - chunked        [skewed corpus]
    plans.writer.write             ParquetDirWriter.overwrite_partitions of a
                                   precomputed output              [skewed corpus]

``task_skew`` (longest over median task time) is the named call's own.
The first six rows run on the workload's corpus, the last four on the
skewed corpus (one mega-doc), so every traced run reports every layer.

Other per-layer numbers:

* ``operators.extract.keep_ratio``: output spans / input spans.
* ``plans.partitioning.chunks`` and ``chunk_fill`` (mean spans per chunk
  / W) of ``chunk_documents`` on the skewed corpus.
* ``plans.checkpoint.scan_amplification``: rows read by all tasks of one
  ``checkpoint.run`` (every bucket batch rescans the unbucketed input,
  plus the commit read-backs) / rows of one scan of docs + candidates.
  Rows, because Spark's input byte count misses parquet column reads.
* ``plans.writer.output_mb``: bytes the writer step left on disk.
* ``*_mspans_per_s``: the Arrow and pandas density classifiers called
  directly on the corpus's text array, without Spark.
* ``python_worker_cpu_s``: CPU of the JVM's descendant processes per
  workload rep.
* ``session.start_s`` / ``session.warmup_s``: the two parts of setup_s.
* ``trace_overhead``: traced / untraced workload rep (median of each).
* ``scaling_eff``: docs_per_s of ``extract(docs, cands)`` on local[4]
  over 4x the same on local[1] (a new SparkContext in the same JVM).
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import pyarrow.parquet as pq

import inputs
import workloads
from measure import STATE, WARMUP_REPS, Reps, check_output, log, result
from trace import Tracer

# One traced rep per ladder call after one untimed rep, so that a traced
# run stays well inside 180 s even when the host runs 1.5x slower.
LADDER_REPS = 1
FULL_REPS = 2
KERNEL_SECONDS = 0.5

# per-step numbers; every layer reports each as "<layer>.<field>"
STEP_FIELDS = ("self_s", "cpu_s", "shuffle_write_mb", "spill_mb", "tasks", "task_skew")
# layer -> (call, calls subtracted)
STEPS = {
    "sources.scan": ("scan", ()),
    "operators.extract.status": ("status", ()),
    "functions.fuse.fuse": ("fuse", ()),
    "operators.extract.assemble": ("extract_docs", ("status",)),
    "operators.extract.join": ("extract_full", ("extract_docs", "fuse")),
    "operators.extract_arrow.kernel": ("arrow_docs", ("status",)),
    "plans.partitioning.chunk": ("chunk", ()),
    "operators.extract.chunked": ("chunked", ()),
    "plans.checkpoint.commit": ("checkpoint", ("chunked",)),
    "plans.writer.write": ("writer", ()),
}


class Ladder:
    def __init__(self, session, tracer: Tracer):
        self.session = session
        self.tracer = tracer
        self.calls: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0

    def count(self, r: Reps) -> Reps:
        self.attempted += r.attempted
        self.failed += r.failed
        return r

    def measure(self, name: str, fn) -> dict:
        """One untimed rep, then ``LADDER_REPS`` traced reps; medians per field.
        Every call's first execution compiles its own generated code."""
        with self.tracer.span(f"call.{name}"):
            self.count(Reps().run(self.session, fn, f"{name}-warm", n=1))
            r = self.count(
                Reps().run(self.session, fn, name, n=LADDER_REPS, tracer=self.tracer)
            )
        if not r.wall:
            raise RuntimeError(f"ladder call {name} failed every rep")
        g = r.stages
        rec = {
            "self_s": statistics.median(r.wall),
            "cpu_s": statistics.median(m.cpu_s for m in g),
            "shuffle_write_mb": statistics.median(m.shuffle_write_mb for m in g),
            "spill_mb": statistics.median(m.spill_mb for m in g),
            "tasks": statistics.median(m.tasks for m in g),
            "task_skew": statistics.median(m.task_skew for m in g),
            "input_rows": statistics.median(m.input_rows for m in g),
            "reps": r,
        }
        self.calls[name] = rec
        log(
            f"ladder {name}: wall {[round(w, 3) for w in r.wall]} "
            + " ".join(f"{k}={v:.3f}" for k, v in rec.items() if k != "reps")
        )
        return rec

    def step_metrics(self) -> dict[str, float]:
        out = {}
        for layer, (call, minus) in STEPS.items():
            rec = self.calls[call]
            for field in STEP_FIELDS:
                v = rec[field]
                if field != "task_skew":
                    v -= sum(self.calls[m][field] for m in minus)
                out[f"{layer}.{field}"] = v
        return out


def _kernel_rate(fn, arg, n_spans: int) -> float:
    """Mspans/s of one classifier kernel over the corpus text array
    (median rep over about ``KERNEL_SECONDS``)."""
    times = []
    t_end = time.monotonic() + KERNEL_SECONDS
    while time.monotonic() < t_end or len(times) < 3:
        t0 = time.perf_counter()
        fn(arg)
        times.append(time.perf_counter() - t0)
    return n_spans / statistics.median(times) / 1e6


def kernel_throughput(manifest) -> tuple[float, float]:
    import pyarrow.compute as pc

    from ocr_project_spark.functions.engine_udfs import density_classifier
    from ocr_project_spark.operators.extract_arrow import density_content_mask

    spans = pq.read_table(manifest["docs_path"], columns=["spans"]).column("spans")
    text = pc.struct_field(pc.list_flatten(spans), "text").combine_chunks()
    n = len(text)
    arrow = _kernel_rate(density_content_mask, text, n)
    pandas = _kernel_rate(density_classifier, text.to_pandas(), n)
    return arrow, pandas


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


def traced(args, manifest, session, df, work: str) -> dict:
    from ocr_project_spark.functions.fuse import fuse_media_candidates
    from ocr_project_spark.operators.extract import (
        doc_status_expr,
        extract,
        extract_chunked,
    )
    from ocr_project_spark.operators.extract_pandas import extract_pandas_engine
    from ocr_project_spark.plans import checkpoint
    from ocr_project_spark.plans.partitioning import chunk_documents
    from ocr_project_spark.plans.writer import ParquetDirWriter

    spark = session.spark
    tracer = Tracer()
    ladder = Ladder(session, tracer)
    noop = workloads.noop
    W = workloads.CHUNK_WIDTH
    count = ladder.count
    metrics: dict[str, float] = {}

    def rep(i: int) -> None:
        noop(df)

    with tracer.span("run", workload=args.workload, seed=args.seed):
        with tracer.span("setup"):
            warm = count(Reps().run(session, rep, "warmup", n=WARMUP_REPS))
        metrics["session.start_s"] = session.start_s
        metrics["session.warmup_s"] = sum(warm.wall)

        # untraced and traced reps alternate, so the drift of rep times
        # after warm-up does not land on one side of the ratio
        plain, full = Reps(), Reps()
        with tracer.span("workload"):
            for k in range(FULL_REPS):
                plain.run(session, rep, f"untraced{k}", n=1)
                full.run(session, rep, f"traced{k}", n=1, tracer=tracer)
        count(plain)
        count(full)
        metrics["trace_overhead"] = (
            statistics.median(full.traced_wall) / statistics.median(plain.wall)
        )
        metrics["python_worker_cpu_s"] = statistics.median(full.worker_cpu)
        with tracer.span("check"):
            rate, out_spans = check_output(df.toArrow(), manifest)
        metrics["operators.extract.keep_ratio"] = out_spans / manifest["spans"]

        D, C = workloads.read_inputs(spark, manifest)
        with tracer.span("ladder", corpus=manifest["key"]):
            ladder.measure("scan", lambda i: (noop(D), noop(C)))
            ladder.measure("status", lambda i: noop(D.withColumn("status", doc_status_expr())))
            ladder.measure("fuse", lambda i: noop(fuse_media_candidates(C)))
            ladder.measure("extract_docs", lambda i: noop(extract(D)))
            ladder.measure("extract_full", lambda i: noop(extract(D, C)))
            ladder.measure("arrow_docs", lambda i: noop(extract_pandas_engine(D)))

        with tracer.span("kernels"):
            arrow_rate, pandas_rate = kernel_throughput(manifest)
        metrics["operators.extract_arrow.mask_mspans_per_s"] = arrow_rate
        metrics["functions.engine_udfs.density_mspans_per_s"] = pandas_rate

        with tracer.span("inputs.skewed"):
            skew = inputs.prepare(
                os.path.join(STATE, "cache"), "skewed", args.seed, workloads.SKEWED_SIZE
            )
        S, SC = workloads.read_inputs(spark, skew)
        # every execution writes a fresh directory
        outs = (os.path.join(work, "ladder-out", str(k)) for k in itertools.count())
        ck_out = wr_out = ""

        def run_checkpoint(i: int) -> None:
            nonlocal ck_out
            ck_out = next(outs)
            checkpoint.run(
                spark, S, ck_out, f"rep-{i}", candidates=SC,
                chunk_mega_docs=W, **workloads.CHECKPOINT,
            )

        with tracer.span("ladder", corpus=skew["key"]):
            skew_scan = ladder.measure("skew_scan", lambda i: (noop(S), noop(SC)))
            ladder.measure("chunk", lambda i: noop(chunk_documents(S, W)))
            ladder.measure("chunked", lambda i: noop(extract_chunked(S, SC, W)))
            ck = ladder.measure("checkpoint", run_checkpoint)
            committed = spark.read.parquet(
                os.path.join(ck_out, checkpoint.OUTPUT_TABLE)
            )

            def write(i: int) -> None:
                nonlocal wr_out
                wr_out = next(outs)
                ParquetDirWriter(wr_out).overwrite_partitions(
                    committed, checkpoint.OUTPUT_TABLE, "bucket"
                )

            ladder.measure("writer", write)
        with tracer.span("check.skewed"):
            skew_rate, _ = check_output(
                pq.read_table(os.path.join(ck_out, checkpoint.OUTPUT_TABLE)), skew
            )
        n_chunks = chunk_documents(S, W).count()
        metrics["plans.partitioning.chunks"] = n_chunks
        metrics["plans.partitioning.chunk_fill"] = skew["spans"] / n_chunks / W
        metrics["plans.checkpoint.scan_amplification"] = (
            ck["input_rows"] / skew_scan["input_rows"]
        )
        metrics["plans.writer.output_mb"] = _dir_mb(wr_out)
        metrics.update(ladder.step_metrics())

        # scaling: the same extract(docs, cands) call on one core
        local4 = ladder.calls["extract_full"]["self_s"]
        with tracer.span("scaling.local1"):
            session.restart("local[1]")
            D1, C1 = workloads.read_inputs(session.spark, manifest)
            one = ladder.measure("extract_full_local1", lambda i: noop(extract(D1, C1)))
        # docs_per_s[local4] / (4 * docs_per_s[local1]) = t1 / (4 * t4)
        metrics["scaling_eff"] = one["self_s"] / (4 * local4)

    tracer.write(
        os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}-{tracer.run_id}.json")
    )
    log(f"stage source {session.metrics.source}; spans {len(tracer.spans)}")
    return result(
        "per_layer", metrics, rate == 1.0 and skew_rate == 1.0,
        ladder.attempted, ladder.failed,
    )
