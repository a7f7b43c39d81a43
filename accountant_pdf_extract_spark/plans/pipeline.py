"""The extraction plan (SURVEY.md §3): declared with the DataFrame API
so Catalyst owns pushdown/pruning/physical strategy; exactly ONE
shuffle in the whole job — the spec-mandated salted repartition on
``hash(doc_id)`` (``BASELINE.json:6,14``) that defeats giant-PDF skew
by spreading docs uniformly over fine-grained tasks (AQE coalesces the
tail).  Everything downstream is map-only: the fused Arrow kernel, then
the sink.  At 100 TB this shape means: parquet/Iceberg scan with column
pruning → one exchange → embarrassingly parallel extraction.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from accountant_pdf_extract_spark.operators.kernel import extract_batches
from accountant_pdf_extract_spark.schema import (
    FLAT_FIELDS_SCHEMA,
    assert_input_schema,
)

SALT_COL = "_salt_bucket"


def salt(df: DataFrame, buckets: int = 1024) -> DataFrame:
    """J5: deterministic salt bucket from the doc id hash.

    If the input already carries a physical ``_salt_bucket`` column
    (written by ``plans.job.write_bucketed_input`` — i.e. the table is
    partitioned by bucket on disk), it is trusted as-is: filters on it
    then prune PARTITIONS at the scan instead of running post-scan.
    Caller contract: the stored bucket must have been computed with the
    same formula and bucket count."""
    if SALT_COL in df.columns:
        return df
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets)).cast("int")
    )


def _with_drop_metric(spark, kernel_fn, acc=None):
    """Wrap an Arrow kernel so per-doc extraction failures increment a
    driver-readable accumulator (surfaced as ``dropped_docs_acc`` on
    the result DataFrame and recorded in commit-log lineage) in
    addition to the executor-stdout line — silent data loss is not
    acceptable at 10^12 docs.

    Accumulator caveat (inherent to updates inside transformations):
    counts are AT-LEAST-ONCE — task retries / speculative duplicates
    re-increment, so treat the value as an upper bound / alarm signal,
    not an exact ledger.  The exact ground truth is the commit-log
    n_docs-vs-input delta per bucket.

    ``acc`` lets long-lived callers (streaming foreachBatch) reuse ONE
    accumulator across calls — each extract() otherwise registers a
    fresh entry in the driver's global accumulator registry, which is
    never released (unbounded growth on a continuous stream)."""
    dropped = acc if acc is not None else spark.sparkContext.accumulator(0)

    def run(batches):
        def note(doc_id, exc):
            dropped.add(1)
            print(f"extract_doc failed for {doc_id!r}: {exc!r}", flush=True)

        yield from kernel_fn(batches, on_drop=note)

    return run, dropped


class PresaltedSource(NamedTuple):
    """Attached as ``presalted_source`` to the frame that
    ``sources.synth.interleaved_from_documents(..., salt_buckets=S)``
    returns: the narrow rows already salted and exchange-partitioned
    on the future doc_id, the Arrow generator that turns them into
    that frame's rows, and S."""

    pre: DataFrame
    generate: Callable
    salt_buckets: int


def _run_kernel(df, kernel_fn, out_schema, salt_buckets, num_partitions,
                drop_acc, presalted=False):
    """The shared assert → salt → repartition → Arrow-kernel pipeline
    (single-sourced so the clamp/accumulator wiring can never fork
    between the span and fields paths).

    ``presalted=True`` on a generator's own result (it carries a
    ``PresaltedSource``: the salt was applied upstream of the
    generator on the narrow pre-payload rows — guide §8: shuffle the
    lightweight proxy, not the heavy bytes) runs generator and kernel
    in ONE ``mapInArrow`` over those rows, so the job keeps exactly
    one salted shuffle, before the payload exists; one Python worker
    per task, and the generated payload never crosses into the JVM
    and back.  The bucket count is known there, so a mismatch raises.
    Any other input (derived frames included) takes the default
    salt → repartition path, where ``salt`` keeps a carried
    ``_salt_bucket``.  ``cache()`` / ``persist()`` return the same
    object and so keep ``presalted_source``: the fused path then
    recomputes the generation from the narrow rows instead of reading
    the cached ones."""
    assert_input_schema(df.select("doc_id", "spans"))
    spark = df.sparkSession
    run, dropped = _with_drop_metric(spark, kernel_fn, acc=drop_acc)
    src = getattr(df, "presalted_source", None) if presalted else None
    if src is not None:
        if src.salt_buckets != salt_buckets:
            raise ValueError(
                f"presalted input was salted into {src.salt_buckets} "
                f"buckets, extraction asked for {salt_buckets}"
            )
        gen = src.generate  # bind: the closure must not capture a DataFrame

        def fused(batches):
            return run(gen(batches))

        rows, fn = src.pre, fused
    else:
        np = _effective_partitions(spark, num_partitions, salt_buckets)
        salted = salt(df, salt_buckets).repartition(np, SALT_COL)
        rows, fn = salted.select("doc_id", "spans"), run
    return rows.mapInArrow(fn, schema=out_schema), dropped


def extract(
    df: DataFrame,
    salt_buckets: int = 1024,
    num_partitions: int | None = None,
    keep_salt: bool = False,
    drop_acc=None,
    presalted: bool = False,
) -> DataFrame:
    """Interleaved input table → flattened output spans + fields.

    One row per output span: (doc_id, kind, text, media_ref, order,
    invoice_id, invoice_date, due_date, currency, total, amounts,
    account_codes).  ``drop_acc``: optional shared accumulator for the
    dropped-doc metric (streaming callers pass one per stream).

    The returned DataFrame carries ``dropped_docs_acc`` as a plain
    attribute — DERIVED DataFrames do not inherit it, so callers that
    transform the result must keep their own reference (or pass
    ``drop_acc``) to read the metric.
    """
    out, dropped = _run_kernel(
        df, extract_batches, FLAT_FIELDS_SCHEMA, salt_buckets,
        num_partitions, drop_acc, presalted=presalted,
    )
    if keep_salt:
        # same formula via salt() — the bucketing expression must never
        # fork between the input path and the output column
        out = salt(out, salt_buckets)
    out.dropped_docs_acc = dropped
    return out


def _effective_partitions(
    spark, num_partitions: int | None, salt_buckets: int
) -> int:
    """The repartition KEY is the salt bucket, so partitions beyond
    ``salt_buckets`` can only sit empty (there are at most that many
    distinct keys) — clamp, and get more parallelism by raising
    ``salt_buckets`` instead.

    The exchange hash-maps bucket VALUES to partitions, so at
    np ≈ salt_buckets collisions leave ~1/e of partitions empty and
    pile 3-5 buckets into single tasks (the giant-PDF straggler the
    salt exists to prevent).  The DEFAULT therefore caps np at
    salt_buckets // 4 — ≥4 expected buckets per task bounds the
    collision skew near 2x whp.  An EXPLICIT num_partitions is
    honored up to salt_buckets (callers pinning small test plans)."""
    if num_partitions is not None:
        return min(num_partitions, salt_buckets)
    np = spark.sparkContext.defaultParallelism * 4
    return max(1, min(np, salt_buckets // 4))


def extract_fields_table(
    df: DataFrame,
    salt_buckets: int = 1024,
    num_partitions: int | None = None,
    drop_acc=None,
    presalted: bool = False,
) -> DataFrame:
    """Fields-only extraction: one row per document (doc_id +
    accounting fields), same salted single-shuffle plan, but the
    kernel never materializes the span-text Arrow columns — the cheap
    path when only structured fields are wanted.

    Equivalence with ``fields_view(extract(df))`` (pinned by
    ``tests/test_corpus_pipeline.py``) holds for every document that
    emits at least one span.  A document whose spans all normalize to
    NOTHING (e.g. one whitespace-only text span) appears HERE with
    null fields but has no rows at all in the flat span output — the
    fields table is per-document, the flat table is per-span, and a
    zero-span doc has no row to carry fields on.  Pinned by
    ``test_zero_span_doc_fields_vs_flat``."""
    from accountant_pdf_extract_spark.operators.kernel import (
        extract_fields_batches,
    )
    from accountant_pdf_extract_spark.schema import DOC_FIELDS_SCHEMA

    # no keep_salt: this is a per-document side table, not the
    # bucket-partitioned sink path — nothing downstream keys on it
    out, dropped = _run_kernel(
        df, extract_fields_batches, DOC_FIELDS_SCHEMA, salt_buckets,
        num_partitions, drop_acc, presalted=presalted,
    )
    out.dropped_docs_acc = dropped
    return out


def spans_view(flat: DataFrame) -> DataFrame:
    """Span-sequence view: (doc_id, kind, text, media_ref, order) — the
    fixture-comparable projection (``BASELINE.json:15``)."""
    return flat.select("doc_id", "kind", "text", "media_ref", "order")


def fields_view(flat: DataFrame) -> DataFrame:
    """Doc-level accounting fields with ZERO shuffle: the kernel puts
    each doc's fields on its order==0 span row.  (doc_view's groupBy
    is only needed when the nested spans array itself is wanted.)"""
    return flat.where(F.col("order") == 0).select(
        "doc_id",
        "invoice_id",
        "invoice_date",
        "due_date",
        "currency",
        "total",
        "amounts",
        "account_codes",
    )


def doc_view(flat: DataFrame) -> DataFrame:
    """Re-nest the flat output to one row per doc with the ordered
    spans array + fields struct (X2 collect, SURVEY.md §2.3)."""
    return flat.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("order", "kind", "text", "media_ref"))
            ),
            # re-project into the pinned span struct order
            # (kind, text, media_ref, order) — schema.SPAN_OUT_STRUCT
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans"),
        F.first("invoice_id", ignorenulls=True).alias("invoice_id"),
        F.first("invoice_date", ignorenulls=True).alias("invoice_date"),
        F.first("due_date", ignorenulls=True).alias("due_date"),
        F.first("currency", ignorenulls=True).alias("currency"),
        F.first("total", ignorenulls=True).alias("total"),
        F.first("amounts", ignorenulls=True).alias("amounts"),
        F.first("account_codes", ignorenulls=True).alias("account_codes"),
    )
