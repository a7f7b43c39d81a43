"""The composed curation pipeline: dedup keeps one representative per
content, the quality gate drops junk, survivors keep ordered text."""

from __future__ import annotations

from accountant_pdf_extract_spark.plans.corpus_pipeline import curate, doc_text
from accountant_pdf_extract_spark.plans.pipeline import extract
from accountant_pdf_extract_spark.schema import INPUT_SCHEMA


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        [
            (
                did,
                [
                    {"kind": "text", "text": t, "media_ref": "", "offset": i}
                    for i, t in enumerate(texts)
                ],
            )
            for did, texts in rows
        ],
        INPUT_SCHEMA,
    )


def test_dedup_keeps_min_and_quality_filters(spark):
    rows = [
        ("a-1", ["the ledger is in the balance today and it is fine"]),
        ("a-2", ["the ledger is in the balance today and it is fine"]),  # dup
        ("b-1", ["!!!"]),  # junk → quality gate
        ("c-1", ["a completely different entry in the journal is here now"]),
    ]
    out = curate(_mkdocs(spark, rows), salt_buckets=8, num_partitions=4).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == ["a-1", "c-1"]
    for r in out:
        assert r["quality_score"] >= 0.3
        assert r["n_tokens"] >= 5


def test_doc_text_preserves_order(spark):
    rows = [("d-1", ["first line", "second line", "third line"])]
    flat = extract(_mkdocs(spark, rows), salt_buckets=4, num_partitions=2)
    txt = doc_text(flat).first()["text"]
    assert txt == "first line\nsecond line\nthird line"


def test_fields_only_kernel_equals_fields_view(spark):
    """extract_fields_table must produce exactly fields_view(extract())
    — same docs, same field values — while never building span rows."""
    from accountant_pdf_extract_spark.plans.pipeline import (
        extract,
        extract_fields_table,
        fields_view,
    )
    from accountant_pdf_extract_spark.sources.synth import synth_interleaved

    inp = synth_interleaved(spark, 120, seed=21, partitions=4)
    via_flat = fields_view(extract(inp, salt_buckets=8, num_partitions=4))
    via_fields = extract_fields_table(inp, salt_buckets=8, num_partitions=4)
    assert via_fields.columns == via_flat.columns
    a = sorted(map(tuple, via_flat.collect()))
    b = sorted(map(tuple, via_fields.collect()))
    assert a == b and len(a) == 120


def test_zero_span_doc_fields_vs_flat(spark):
    """Documented divergence pinned: a doc whose spans all normalize
    to nothing has ONE null-fields row in the fields table but ZERO
    rows in the flat span output (fields ride on span rows)."""
    from accountant_pdf_extract_spark.plans.pipeline import (
        extract,
        extract_fields_table,
        fields_view,
    )
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    inp = spark.createDataFrame(
        [
            ("empty", [{"kind": "text", "text": "   ", "media_ref": "", "offset": 0}]),
            ("real", [{"kind": "text", "text": "invoice body", "media_ref": "", "offset": 0}]),
        ],
        INPUT_SCHEMA,
    )
    flat = extract(inp, salt_buckets=4, num_partitions=2)
    ft = extract_fields_table(inp, salt_buckets=4, num_partitions=2)
    assert sorted(r["doc_id"] for r in ft.select("doc_id").collect()) == [
        "empty", "real"
    ]
    assert sorted(
        r["doc_id"] for r in fields_view(flat).select("doc_id").collect()
    ) == ["real"]
    assert flat.where("doc_id = 'empty'").count() == 0


def _map_and_exchange_nodes(df) -> tuple[int, int]:
    """(MapInArrow, Exchange) node counts in the plan ``df`` ran with
    (AQE's final plan: call after an action on ``df``)."""
    plan = df._jdf.queryExecution().executedPlan().executedPlan().toString()
    nodes = [line.lstrip(" +-:*()0123456789") for line in plan.splitlines()]
    return (
        sum(n.startswith("MapInArrow") for n in nodes),
        sum(n.startswith("Exchange") for n in nodes),
    )


def test_presalted_generation_equals_default_path(spark):
    """r6 optimization pin: pre-salting the synth source (salt computed
    on the FUTURE doc_id, repartition before generation, extract with
    presalted=True skipping its own exchange) yields byte-identical
    span sequences to the default salt-after-generation path, and the
    presalted frame really carries the pipeline's salt column with the
    pipeline's own formula.

    Straight from the generator, both kernels fuse with it: one
    MapInArrow and one Exchange, output equal to the default path on
    the unsalted frame, the drop accumulator wired, and a bucket
    count other than the generator's refused."""
    import pytest
    from pyspark.sql import functions as F

    from accountant_pdf_extract_spark.plans.pipeline import (
        SALT_COL,
        extract,
        extract_fields_table,
        spans_view,
    )
    from accountant_pdf_extract_spark.sources.synth import (
        interleaved_from_documents,
    )

    sf = "/root/testdata/sf0.001"
    old = interleaved_from_documents(spark, sf, seed=42)
    new = interleaved_from_documents(
        spark, sf, seed=42, salt_buckets=16, num_partitions=4
    )
    assert SALT_COL in new.columns
    # the carried bucket must equal the pipeline formula on the
    # generated doc_id — recompute independently and compare
    recheck = new.withColumn(
        "_expect", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16)).cast("int")
    )
    assert recheck.where(F.col(SALT_COL) != F.col("_expect")).count() == 0
    a = spans_view(extract(old, salt_buckets=16, num_partitions=4)).orderBy(
        "doc_id", "order"
    ).collect()
    b = spans_view(
        extract(new, salt_buckets=16, num_partitions=4, presalted=True)
    ).orderBy("doc_id", "order").collect()
    assert a == b and len(a) > 0

    for kernel, view in (
        (extract, spans_view),
        (extract_fields_table, lambda d: d),
    ):
        fused = kernel(new, salt_buckets=16, num_partitions=4, presalted=True)
        out = view(fused)
        got = sorted(out.collect(), key=str)
        assert _map_and_exchange_nodes(out) == (1, 1)
        assert fused.dropped_docs_acc.value == 0
        default = view(kernel(old, salt_buckets=16, num_partitions=4))
        assert got == sorted(default.collect(), key=str) and len(got) > 0
        with pytest.raises(ValueError, match="salted into 16 buckets"):
            kernel(new, salt_buckets=32, num_partitions=4, presalted=True)


def test_workers_see_stat_checked_zip_invalidation(spark):
    """Every Python task runs with the package's stat-checked
    ``zipimporter.invalidate_caches``: cloudpickle resolves the engine
    function the UDF references, importing the package, before the
    UDF body's first line runs."""
    import sys

    import pyarrow as pa

    from accountant_pdf_extract_spark.operators.kernel import extract_batches

    def report(batches):
        import zipimport

        seen = zipimport.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"seen": [seen] * b.num_rows,
                 "engine": [extract_batches.__module__] * b.num_rows}
            )

    out = (
        spark.range(0, 64, numPartitions=8)
        .mapInArrow(report, "seen string, engine string")
        .collect()
    )
    expect = ("accountant_pdf_extract_spark" if sys.version_info < (3, 13)
              else "zipimport")
    assert len(out) == 64
    assert {(r["seen"], r["engine"]) for r in out} == {
        (expect, "accountant_pdf_extract_spark.operators.kernel")
    }
