"""In-process replay of a workload's documents, with layer spans.

The replay runs the same calls a Spark Python worker makes —
``sources.synth.build_doc`` for generation, then
``operators.kernel.extract_batches`` over Arrow batches of
``session.ARROW_BATCH_ROWS`` documents — in this one process.  For the
traced replay, the layer functions are wrapped (module attributes are
swapped for the duration of the replay and restored after; no program
file changes).  Each call records a span: name, start, end, parent
span and document sequence number.  Self time is a span's duration
minus its children's.
"""

from __future__ import annotations

import gzip
import statistics
import time
from collections import Counter

import pyarrow as pa

from accountant_pdf_extract_spark.functions import pdfcrypt
from accountant_pdf_extract_spark.operators import doccore, kernel, layout, pdfparse
from accountant_pdf_extract_spark.session import ARROW_BATCH_ROWS
from accountant_pdf_extract_spark.sources import synth

# (module, attribute, span name, group).  Spans of one group nest
# (rotated_lines calls cluster_lines; forms re-enter the tokenizer), so
# a group's total counts only its outermost spans.
_WRAPS = (
    (synth, "build_doc", "synth.build_doc", "synth"),
    (synth, "build_pdf", "pdfwriter.build_pdf", "pdfwriter"),
    (kernel, "extract_doc", "doccore.extract_doc", "doccore"),
    (doccore, "parse_pdf_full", "pdfparse.parse_pdf_full", "pdfparse"),
    (pdfparse, "_parse_content", "pdfparse._parse_content", "tokenizer"),
    (pdfparse, "_decode_stream", "pdfparse._decode_stream", "stream_decode"),
    (pdfparse, "_encryption_key", "pdfparse._encryption_key", "key"),
    (pdfcrypt, "rc4", "pdfcrypt.rc4", "crypt"),
    (pdfcrypt, "aes_decrypt_value", "pdfcrypt.aes_decrypt_value", "crypt"),
    (doccore, "pdf_to_items", "layout.pdf_to_items", "layout"),
    (layout, "reading_order", "layout.reading_order", "order"),
    (layout, "cluster_lines", "layout.cluster_lines", "cluster"),
    (layout, "rotated_lines", "layout.rotated_lines", "cluster"),
    (layout, "strip_boilerplate", "layout.strip_boilerplate", "boilerplate"),
    (doccore, "strip_html", "htmlstrip.strip_html", "htmlstrip"),
    (doccore, "extract_fields", "fields.extract_fields", "fields"),
)


class Tracer:
    def __init__(self) -> None:
        self.names: list[str] = []
        self.t0: list[int] = []
        self.t1: list[int] = []
        self.parent: list[int] = []
        self.doc: list[int] = []
        self.outer: list[bool] = []
        self.stack: list[int] = []
        self.depth: Counter = Counter()
        self.doc_seq = -1
        self.counts: Counter = Counter()

    def open(self, name: str, group: str) -> int:
        i = len(self.t0)
        self.names.append(name)
        self.parent.append(self.stack[-1] if self.stack else -1)
        self.doc.append(self.doc_seq)
        self.outer.append(self.depth[group] == 0)
        self.depth[group] += 1
        self.stack.append(i)
        self.t1.append(0)
        self.t0.append(time.perf_counter_ns())
        return i

    def close(self, i: int, group: str) -> None:
        self.t1[i] = time.perf_counter_ns()
        self.stack.pop()
        self.depth[group] -= 1

    def wrap(self, fn, name: str, group: str):
        tracer = self
        count = _COUNTERS.get(name)
        new_doc = name in ("synth.build_doc", "doccore.extract_doc")

        def traced(*args, **kwargs):
            if new_doc:
                tracer.doc_seq += 1
            i = tracer.open(name, group)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(i, group)
            if count is not None:
                count(tracer.counts, args, result)
            return result

        return traced

    def summary(self) -> dict:
        """Per span name: outermost total ns and self ns; plus the
        per-document extract_doc durations."""
        n = len(self.t0)
        dur = [self.t1[i] - self.t0[i] for i in range(n)]
        child = [0] * n
        for i in range(n):
            p = self.parent[i]
            if p >= 0:
                child[p] += dur[i]
        by: dict[str, dict] = {}
        for i in range(n):
            s = by.setdefault(self.names[i], {"total": 0, "self": 0})
            s["self"] += dur[i] - child[i]
            if self.outer[i]:
                s["total"] += dur[i]
        per_doc = [
            dur[i] for i in range(n) if self.names[i] == "doccore.extract_doc"
        ]
        return {"by_name": by, "doc_ns": per_doc}

    def write(self, path: str) -> None:
        with gzip.open(path, "wt") as f:
            f.write("name,start_ns,end_ns,parent,doc\n")
            for i in range(len(self.t0)):
                f.write(
                    f"{self.names[i]},{self.t0[i]},{self.t1[i]},"
                    f"{self.parent[i]},{self.doc[i]}\n"
                )


def _count_pdf(c, args, pages):
    c["pdf_bytes_in"] += len(args[0])
    c["pages"] += len(pages[0])


def _count_boiler(c, args, kept):
    c["boiler_in"] += len(args[0])
    c["boiler_out"] += len(kept)


def _count_fields(c, args, fields):
    c["fields_docs"] += 1
    c["invoice_id_hits"] += fields.get("invoice_id") is not None


_COUNTERS = {
    "pdfwriter.build_pdf": lambda c, a, r: c.update(pdf_bytes_gen=len(r)),
    "pdfparse.parse_pdf_full": _count_pdf,
    "pdfparse._decode_stream": lambda c, a, r: c.update(inflated_bytes=len(r)),
    "layout.strip_boilerplate": _count_boiler,
    "fields.extract_fields": _count_fields,
}


def _arrow(rows) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array(
                [
                    [{"kind": k, "text": t, "media_ref": m, "offset": o}
                     for k, t, m, o in r[1]]
                    for r in rows
                ],
                synth.ARROW_INPUT.field("spans").type,
            ),
        ],
        schema=synth.ARROW_INPUT,
    )


def replay(docs, tracer: Tracer | None = None) -> dict:
    """Generate ``docs`` (``inputs.documents`` rows) and extract them
    in-process.  Returns walls in seconds and output row count."""
    from perfbench.inputs import SYNTH_SEED

    saved = []
    if tracer is not None:
        for mod, attr, name, group in _WRAPS:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, tracer.wrap(fn, name, group))
    try:
        t0 = time.perf_counter()
        batches = []
        for lo in range(0, len(docs), ARROW_BATCH_ROWS):
            rows = []
            for key, text, _lang, _src in docs[lo:lo + ARROW_BATCH_ROWS]:
                vocab = (text or "").split() or synth.DEFAULT_WORDS
                rows.append(
                    (f"doc-{key:08d}", synth.build_doc(key, SYNTH_SEED, vocab))
                )
            if tracer is not None:
                i = tracer.open("replay.arrow_in", "arrow_in")
            batches.append(_arrow(rows))
            if tracer is not None:
                tracer.close(i, "arrow_in")
        t1 = time.perf_counter()
        out_rows = 0
        for batch in batches:
            if tracer is not None:
                i = tracer.open("kernel.extract_batches", "kernel")
            for out in kernel.extract_batches(iter([batch])):
                out_rows += out.num_rows
            if tracer is not None:
                tracer.close(i, "kernel")
        t2 = time.perf_counter()
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
    return {"gen_s": t1 - t0, "extract_s": t2 - t1, "rows": out_rows}


def layer_metrics(summary: dict, counts: Counter, n_docs: int,
                  out_rows: int) -> dict[str, float]:
    by = summary["by_name"]

    def tot_ms(*names):
        return sum(by.get(n, {}).get("total", 0) for n in names) / 1e6

    def self_ms(name):
        return by.get(name, {}).get("self", 0) / 1e6

    doc_ns = sorted(summary["doc_ns"]) or [0]
    p99 = doc_ns[min(len(doc_ns) - 1, int(0.99 * len(doc_ns)))]
    nd = max(n_docs, 1)
    boiler_in = counts["boiler_in"]
    return {
        "synth.gen_ms_per_doc": tot_ms("synth.build_doc") / nd,
        "pdfwriter.build_ms_per_doc": tot_ms("pdfwriter.build_pdf") / nd,
        "synth.pdf_bytes_per_doc": counts["pdf_bytes_gen"] / nd,
        "kernel.self_ms": self_ms("kernel.extract_batches"),
        "kernel.rows_out_per_doc": out_rows / nd,
        "doccore.doc_ms_p50": statistics.median(doc_ns) / 1e6,
        "doccore.doc_ms_p99": p99 / 1e6,
        "doccore.self_ms": self_ms("doccore.extract_doc"),
        "pdfparse.parse_ms": tot_ms("pdfparse.parse_pdf_full"),
        "pdfparse.tokenizer_ms": tot_ms("pdfparse._parse_content"),
        "pdfparse.stream_decode_ms": tot_ms("pdfparse._decode_stream"),
        "pdfparse.key_ms": tot_ms("pdfparse._encryption_key"),
        "crypt.ms": tot_ms("pdfcrypt.rc4", "pdfcrypt.aes_decrypt_value"),
        "pdfparse.bytes_in": counts["pdf_bytes_in"],
        "pdfparse.inflated_bytes": counts["inflated_bytes"],
        "pdfparse.pages": counts["pages"],
        "layout.ms": tot_ms("layout.pdf_to_items"),
        "layout.cluster_ms": tot_ms("layout.cluster_lines", "layout.rotated_lines"),
        "layout.order_ms": self_ms("layout.reading_order"),
        "layout.boilerplate_ms": tot_ms("layout.strip_boilerplate"),
        "layout.boilerplate_drop_frac": (
            1 - counts["boiler_out"] / boiler_in if boiler_in else 0.0
        ),
        "htmlstrip.ms": tot_ms("htmlstrip.strip_html"),
        "fields.ms": tot_ms("fields.extract_fields"),
        "fields.invoice_id_hit_frac": (
            counts["invoice_id_hits"] / counts["fields_docs"]
            if counts["fields_docs"] else 0.0
        ),
    }
