"""Deterministic benchmark inputs and the output fingerprint.

The tables copy the shape of the driver's sf0.1 tables, as measured
from them (row counts, key ranges and cardinalities, distributions;
see ``perfbench/README.md``, "Inputs").  ``--seed`` draws every table.

Documents: doc_id 0..4,999; 10-99 words (uniform) from a 30-word
vocabulary; 250 near-duplicates (another doc's text + " dup").  A
doc's base text is one of ``VARIANTS`` fixed texts for its doc_id and
the seed picks which, so the oracle fingerprint of a generated
document (``oracle_cache``) is reused across seeds instead of being
recomputed for all 5,000 documents in every run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUT_SEED = 20261017
N_DOCS = 5000  # the sf0.1 documents table
VARIANTS = 4  # base texts per doc_id
N_DUPS = 250
SYNTH_SEED = 42  # the seed q_extract_spans passes to the generator

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _base_texts(variant: int) -> list[str]:
    rng = np.random.default_rng([INPUT_SEED, variant])
    lens = rng.integers(10, 100, N_DOCS)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    ends = np.cumsum(lens).tolist()
    return [
        " ".join(VOCAB[w] for w in words[e - n:e].tolist())
        for e, n in zip(ends, lens.tolist())
    ]


def documents(seed: int) -> list[tuple[int, str, str, str]]:
    """The seed's (doc_id, text, lang, source) rows, ordered by doc_id."""
    rng = np.random.default_rng([INPUT_SEED, seed])
    pick = rng.integers(0, VARIANTS, N_DOCS).tolist()
    bases = [_base_texts(v) for v in range(VARIANTS)]
    texts = [bases[v][i] for i, v in enumerate(pick)]
    targets = rng.choice(N_DOCS, N_DUPS, replace=False).tolist()
    sources = rng.integers(1, N_DOCS, N_DUPS).tolist()
    for t, s in zip(targets, sources):
        texts[t] = texts[(t + s) % N_DOCS] + " dup"
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P).tolist()
    return [
        (i, texts[i], LANGS[langs[i]], f"src{i % 20}") for i in range(N_DOCS)
    ]


def write_documents(docs, path: str) -> None:
    """``documents.parquet`` in the driver's schema."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
            "lang": pa.array([d[2] for d in docs], pa.string()),
            "source": pa.array([d[3] for d in docs], pa.string()),
            "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "documents.parquet"))


def _pick(rng, values: list[str], n: int):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def write_query_tables(seed: int, docs, path: str) -> dict[str, int]:
    """orders / lineitem / events at sf0.1 (the columns the query
    workload reads plus the small ones beside them, in the driver's
    types) and the documents.  Returns row counts per table."""
    rng = np.random.default_rng([INPUT_SEED, seed, 1])
    write_documents(docs, path)
    n_orders, n_items, n_events = 150_000, 600_000, 100_000
    d0 = np.datetime64("1995-01-01")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 15_000, n_orders)),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], n_orders),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000, 500_000, n_orders), 2)
            ),
            "o_orderdate": pa.array(
                (d0 + rng.integers(0, 2405, n_orders).astype("timedelta64[D]"))
                .astype("datetime64[us]")
            ),
            "o_orderpriority": _pick(
                rng,
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n_orders,
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_items)),
            "l_linenumber": pa.array(
                rng.integers(1, 8, n_items).astype(np.int32)
            ),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_items).astype(np.float64)
            ),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900, 105_000, n_items), 2)
            ),
        }
    )
    start = dt.datetime(2024, 1, 1).timestamp() * 1e6
    ts = np.sort(rng.uniform(0, 30 * 86400e6, n_events)) + start
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts.astype("int64"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n_events)),
            "event_type": _pick(
                rng, ["view", "click", "signup", "error", "purchase"], n_events
            ),
            "value": pa.array(
                np.round(rng.exponential(50.0, n_events), 2)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )
    for name, table in (
        ("orders", orders), ("lineitem", lineitem), ("events", events)
    ):
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return {
        "orders": n_orders, "lineitem": n_items, "events": n_events,
        "documents": len(docs),
    }


# ------------------------------------------------------------ fingerprint
#
# One output row is (doc_id, kind, text, media_ref, order).  Its hash is
# the first 60 bits of SHA-256 over the fields joined by U+001F, with
# the text length inserted so no separator inside a text can alias two
# rows.  The set fingerprint is (row count, sum of row hashes) — order
# insensitive and additive per document.  ``spark_row_hash`` computes
# the same value inside Spark.

SEP = "\x1f"


def row_hash(doc_id: str, kind: str, text: str, ref: str, order: int) -> int:
    key = SEP.join((doc_id, kind, str(len(text)), text, ref, str(order)))
    digest = hashlib.sha256(key.encode("utf-8", "surrogatepass")).hexdigest()
    return int(digest[:15], 16)


def spark_fingerprint(df) -> tuple[int, int]:
    """(rows, sum of row hashes) of a (doc_id, kind, text, media_ref,
    order) frame, computed by Spark."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        SEP,
        F.col("doc_id"),
        F.col("kind"),
        F.length("text").cast("string"),
        F.col("text"),
        F.col("media_ref"),
        F.col("order").cast("string"),
    )
    h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast(
        "decimal(38,0)"
    )
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")).collect()[0]
    return int(row["n"]), int(row["s"] or 0)
