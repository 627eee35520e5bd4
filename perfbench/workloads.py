"""The benchmark's workloads: what each one generates, runs, times and checks.

Every workload is a closed loop with one client: the driver issues the
next operation only after the previous one returned, and runs a fixed
operation list once (single-shot, in the fresh process of one benchmark
run). Operations reach the program only through its public entry points:
``__spark_entry__.queries()`` and ``oracle_sql()``, ``operators.*`` and
``sources.*``.

Each ``run_*`` function returns a :class:`Result`. Checks run after the
timed operations; an operation that raised or failed its check is counted
in ``failed`` and the run goes on.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

# (query, the layer module that owns its work)
HEADLINE = [
    ("tokenlist_fold", "operators.tokenlist"),
    ("tokenlist_corpus", "operators.tokenlist"),
    ("page_freq", "operators.tokenlist"),
    ("pricing_summary", "relational"),
    ("nation_revenue", "relational"),
    ("top_parts_per_brand", "relational"),
    ("asof_purchase_view", "operators.asof"),
    ("sessionize", "operators.windows"),
    ("ffill_views", "operators.windows"),
    ("seq_pit_features", "operators.features"),
    ("seq_asof_features", "operators.asof"),
    ("dedup_exact", "operators.dedup"),
    ("minhash_lsh", "operators.dedup"),
    ("simhash", "operators.dedup"),
    ("ann_cosine_topk", "operators.similarity"),
    ("quality", "operators.text"),
    ("embedding_near_dup", "operators.similarity"),
    ("chunked_tokenlist", "operators.chunking"),
    ("tf_idf", "operators.text"),
    ("training_pipeline", "operators.pipeline"),
    ("pack_sequences", "operators.packing"),
    ("tokenize_hash", "operators.text"),
    ("repetition", "operators.text"),
    ("range_join", "operators.ranges"),
    ("dup_spans", "operators.dedup"),
    ("semantic_dedup", "operators.similarity"),
    ("dup_span_removal", "operators.dedup"),
    ("nb_classify", "operators.classify"),
    ("char_entropy", "operators.text"),
    ("asof_nearest", "operators.asof"),
    ("distinct_sampled", "operators.stats"),
    ("temporal_split", "operators.packing"),
]

# table sizes per workload and scale; "tiny" is the self-test scale
INPUTS = {
    "headline": {
        "full": {"documents": {"n": 500}, "events": {"n": 10_000},
                 "embeddings": {"n": 500}, "tpch": {"sf": 0.01}},
        "tiny": {"documents": {"n": 120}, "events": {"n": 1_500},
                 "embeddings": {"n": 120}, "tpch": {"sf": 0.001}},
    },
    "ingest_clean": {
        "full": {"documents": {"n": 3_200}},
        "tiny": {"documents": {"n": 600}},
    },
}
INGEST_BATCHES = {"full": 4, "tiny": 3}


@dataclass
class Result:
    """What one workload run measured: the wall and the CPU seconds of
    every timed operation."""

    op_s: list[float] = field(default_factory=list)
    op_cpu_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: list[str] = field(default_factory=list)
    store_bytes_per_doc: float = 0.0

    def fail(self, op: str, err: BaseException | str) -> None:
        why = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.failed.append(f"{op}: {why[:300]}")


@dataclass
class Context:
    spark: object
    queries: dict  # __spark_entry__.queries()
    data_dir: str
    work_dir: str
    tables: dict  # table name -> row count
    tracer: object  # tracing.Tracer
    oracle: object  # checks.Oracle
    cpu: object  # () -> CPU seconds of the driver process tree (run.cpu_clock)
    scale: str
    perturb: str | None = None  # self-test: corrupt this op's result


def _input_rows(ctx: Context, df) -> int:
    """Rows of the generated tables a DataFrame's plan reads."""
    names = {os.path.basename(os.path.dirname(f)).removesuffix(".parquet")
             for f in df.inputFiles()}
    return sum(ctx.tables.get(n, 0) for n in names)


def _check(ctx: Context, res: Result, name: str, pdf) -> None:
    if ctx.perturb == name and len(pdf):
        pdf = pdf.iloc[1:]
    problems = ctx.oracle.compare(name, pdf)
    if problems:
        res.fail(name, "; ".join(problems))


def run_headline(ctx: Context) -> Result:
    """The ROADMAP headline queries, single-shot, always in the same order
    (the seed changes only the data: a shuffled order moves which queries
    pay the JVM's warm-up, and with it the per-query latencies). An
    operation is the builder call plus an action that collects the complete
    result to the driver; the oracle check reads that result afterwards,
    so no query runs twice."""
    res = Result()
    outputs = {}
    for name, owner in HEADLINE:
        res.attempted += 1
        try:
            t0, c0 = time.perf_counter(), ctx.cpu()
            with ctx.tracer.span("entry.build", op=name):
                df = ctx.queries[name](ctx.spark, ctx.data_dir)
            with ctx.tracer.span("action", op=name, owner=owner) as attrs:
                outputs[name] = df.toPandas()
            res.op_s.append(time.perf_counter() - t0)
            res.op_cpu_s.append(ctx.cpu() - c0)
            if ctx.tracer.enabled:
                attrs["input_rows"] = _input_rows(ctx, df)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            res.fail(name, e)
    for name, pdf in outputs.items():
        _check(ctx, res, name, pdf)
    return res


def run_ingest_clean(ctx: Context) -> Result:
    """Ascending-doc_id batches through ``ingest_clean_batch`` against
    fresh digest and signature stores. Id-ordered incremental ingest equals
    the one-shot funnel, so the output must match
    ``oracle_sql()["incremental_clean"]`` over the whole generated corpus."""
    from pyspark.sql import functions as F

    from htrc_feature_reader_spark.operators.pipeline import CleanConfig, ingest_clean_batch
    from tracing import dir_bytes

    res = Result()
    root = os.path.join(ctx.work_dir, "ingest")
    dig, sig, out = (os.path.join(root, k) for k in ("digest", "signature", "out"))
    shutil.rmtree(root, ignore_errors=True)
    n_docs = ctx.tables["documents"]
    n_batches = INGEST_BATCHES[ctx.scale]
    step = -(-n_docs // n_batches)
    docs = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))
    # the config of the oracle-checked incremental_clean query
    cfg = CleanConfig(stop_shingle_frac=1.0, near_dup_threshold=0.25)
    for k in range(n_batches):
        res.attempted += 1
        batch = docs.filter((F.col("doc_id") >= k * step) & (F.col("doc_id") < (k + 1) * step))
        try:
            t0, c0 = time.perf_counter(), ctx.cpu()
            with ctx.tracer.span("ingest.batch", op=f"batch{k}",
                                 owner="operators.pipeline") as attrs:
                ingest_clean_batch(batch, dig, sig, cfg, out_path=out)
            res.op_s.append(time.perf_counter() - t0)
            res.op_cpu_s.append(ctx.cpu() - c0)
            attrs["input_rows"] = min(step, n_docs - k * step)
        except Exception as e:  # noqa: BLE001
            res.fail(f"batch{k}", e)

    res.attempted += 1
    try:
        pdf = ctx.spark.read.parquet(out).select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("ws_tokens").cast("long").alias("ws_tokens"),
            F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        ).toPandas()
        _check(ctx, res, "incremental_clean", pdf)
        res.store_bytes_per_doc = (dir_bytes(dig) + dir_bytes(sig)) / max(len(pdf), 1)
    except Exception as e:  # noqa: BLE001
        res.fail("incremental_clean", e)
    return res


RUNNERS = {
    "headline": run_headline,
    "ingest_clean": run_ingest_clean,
}
