"""The benchmark workloads (``flagship``, ``queries``) and the batch
job that runs inside the flagship's traced run.

Each workload has a set-up (inputs prepared outside the clock), a
warm-up, a timed iteration that goes from input to complete result,
an output check against an independent expectation, and a traced
variant that adds per-layer numbers.  They call only public entry
points of the program.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from collections import Counter
from decimal import Decimal

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.driver_queries import oracle_sql, queries
from accountant_pdf_extract_spark.plans.job import (
    read_bucketed_input,
    run_job,
    write_bucketed_input,
)
from accountant_pdf_extract_spark.plans.pipeline import (
    SALT_COL,
    extract,
    salt,
    spans_view,
)
from accountant_pdf_extract_spark.sources.commit_log import CommitLog
from accountant_pdf_extract_spark.sources.synth import interleaved_from_documents
from perfbench import inputs, layertrace, oracle_cache, probes

# the q_extract_spans plan constants
FLAG_BUCKETS, FLAG_PARTS = 256, 32
# the job: 64 buckets, 4 buckets per task
JOB_BUCKETS, JOB_PARTS = 64, 16
# at least this many timed iterations: flagship passes, query rounds
MIN_ITERATIONS = 3
QUERIES = ("q_asof", "q_rownum", "q_join_smj", "q_linefreq", "q_bm25",
           "q_dedup_jaccard")

# Every per-layer metric and its unit.  A traced run prints all of
# them; a layer the workload does not run reads 0.
PER_LAYER = {
    "synth.gen_ms_per_doc": "ms", "pdfwriter.build_ms_per_doc": "ms",
    "synth.pdf_bytes_per_doc": "bytes",
    "plan.scan_s": "s", "plan.exchange_s": "s", "plan.generate_s": "s",
    "plan.kernel_s": "s", "plan.sink_s": "s",
    "exchange.shuffle_bytes": "bytes", "tasks.count": "count",
    "tasks.skew": "ratio", "pyworker.cpu_s": "s", "jvm.cpu_s": "s",
    "pyworker.cpu_over_replay": "ratio", "pyworker.peak_rss_mb": "MB",
    "spark.peak_rss_mb": "MB",
    "kernel.self_ms": "ms", "kernel.rows_out_per_doc": "count",
    "doccore.doc_ms_p50": "ms", "doccore.doc_ms_p99": "ms",
    "doccore.self_ms": "ms",
    "pdfparse.parse_ms": "ms", "pdfparse.tokenizer_ms": "ms",
    "pdfparse.stream_decode_ms": "ms", "pdfparse.key_ms": "ms",
    "crypt.ms": "ms", "pdfparse.bytes_in": "bytes",
    "pdfparse.inflated_bytes": "bytes", "pdfparse.pages": "count",
    "layout.ms": "ms", "layout.cluster_ms": "ms", "layout.order_ms": "ms",
    "layout.boilerplate_ms": "ms", "layout.boilerplate_drop_frac": "ratio",
    "htmlstrip.ms": "ms", "fields.ms": "ms",
    "fields.invoice_id_hit_frac": "ratio",
    "job.wall_s": "s", "job.shuffle_bytes": "bytes", "job.tasks_skew": "ratio",
    "commit_log.commit_ms": "ms", "job.output_bytes": "bytes",
    "resume.wall_s": "s", "resume.bytes_read_frac": "ratio",
    "resume.buckets_redone": "count",
    **{
        f"{q}.{m}": u
        for q in QUERIES
        for m, u in (("wall_s", "s"), ("exchanges", "count"),
                     ("sort_aggregates", "count"), ("shuffle_bytes", "bytes"))
    },
    "run.docs_per_s": "docs/s", "run.failed_frac": "ratio",
    "replay.wall_s": "s", "trace.overhead_frac": "ratio",
    "trace.self_sum_frac": "ratio",
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def timed_wall(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    """Shared run shape.  Subclasses fill in ``prepare`` (set-up),
    ``warm`` (the cold first pass), ``iterate`` (one timed iteration
    of the default ``measure``) or ``measure`` itself, ``check``
    (outputs against the expectation) and, for the traced run,
    ``trace_spark`` (Spark passes, returns whether their outputs were
    right) and ``trace_offline`` (after Spark stopped: event log,
    in-process replay)."""

    name = ""

    def __init__(self, spark, work: str, seed: int, workers: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.workers = workers
        self.docs = inputs.documents(seed)
        self.attempted = 0
        self.failed = 0
        self.facts: dict = {}

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def measure(self, seconds: float) -> float:
        """Whole iterations until ``seconds`` have passed, and at
        least MIN_ITERATIONS; returns the median iteration wall, which
        the first iteration after the cold pass, sometimes still slow
        while the JIT compiles, does not set.  Each iteration's
        ``/proc/stat`` steal share is kept beside its wall."""
        walls, steal = [], []
        start = time.perf_counter()
        while (len(walls) < MIN_ITERATIONS
               or time.perf_counter() - start < seconds):
            ticks = probes.cpu_ticks()
            walls.append(timed_wall(self.iterate))
            steal.append(probes.steal_share(ticks, probes.cpu_ticks()))
        self.facts.update(iteration_walls_s=walls, iteration_steal_share=steal)
        return statistics.median(walls)


# ------------------------------------------------------------ flagship


class Flagship(Workload):
    """q_extract_spans at sf0.1: generation on the clock, presalted,
    kernel, noop sink."""

    name = "flagship"

    def prepare(self) -> None:
        self.in_dir = self.dir("docs")
        inputs.write_documents(self.docs, self.in_dir)

    def _generated(self):
        return interleaved_from_documents(
            self.spark, self.in_dir, seed=inputs.SYNTH_SEED,
            salt_buckets=FLAG_BUCKETS, num_partitions=FLAG_PARTS,
        )

    def plan(self):
        flat = extract(self._generated(), salt_buckets=FLAG_BUCKETS,
                       num_partitions=FLAG_PARTS, presalted=True)
        return flat, spans_view(flat)

    def _count(self, flat) -> None:
        self.attempted += len(self.docs)
        self.failed += flat.dropped_docs_acc.value

    def warm(self) -> None:
        """The cold pass, which doubles as the output check's pass;
        the oracle pool works on the other cores beside it."""
        def cold():
            flat, out = self.plan()
            self.got = inputs.spark_fingerprint(out)
            self._count(flat)

        def timed_cold():
            self.facts["cold_pass_s"] = timed_wall(cold)

        rows, total, fresh = oracle_cache.expected(
            self.docs, self.workers, beside=timed_cold
        )
        self.expected = (rows, total)
        self.facts["oracle_docs_computed"] = fresh

    def iterate(self) -> None:
        flat, out = self.plan()
        noop(out)
        self._count(flat)

    def check(self) -> bool:
        self.facts["rows_out"] = self.got[0]
        return self.got == self.expected

    def _prefixes(self):
        def scan():
            return self.spark.read.parquet(f"{self.in_dir}/documents.parquet")

        def exchange():
            # the narrow pre-payload rows the generator is salted on
            pre = scan().select(
                F.format_string("doc-%08d", F.col("doc_id")).alias("doc_id"),
                "text",
            )
            return salt(pre, FLAG_BUCKETS).repartition(FLAG_PARTS, SALT_COL)

        return {
            "scan": lambda: noop(scan()),
            "exchange": lambda: noop(exchange()),
            "generate": lambda: noop(self._generated()),
            "kernel": lambda: noop(self.plan()[0]),
        }

    def trace_spark(self, layers: dict) -> bool:
        group(self.spark, "traced")
        cpu0 = probes.cpu_seconds()
        with probes.RssSampler() as rss:
            # the complete plan: also the last noop-sink prefix
            layers["plan.sink_s"] = timed_wall(self.iterate)
        cpu1 = probes.cpu_seconds()
        layers["run.docs_per_s"] = len(self.docs) / layers["plan.sink_s"]
        layers["jvm.cpu_s"] = cpu1[0] - cpu0[0]
        layers["pyworker.cpu_s"] = cpu1[1] - cpu0[1]
        layers["pyworker.peak_rss_mb"] = rss.worker_peak / 2**20
        layers["spark.peak_rss_mb"] = rss.tree_peak / 2**20
        for name, run in self._prefixes().items():
            group(self.spark, f"prefix.{name}")
            layers[f"plan.{name}_s"] = timed_wall(run)
        job = JobResume(self)
        ok = job.run(layers)
        self.facts["job"] = job.facts
        return ok

    def trace_offline(self, groups: dict, layers: dict, facts: dict,
                      stem: str) -> None:
        traced = groups.get("traced", {})
        layers["tasks.count"] = traced.get("tasks", 0)
        layers["tasks.skew"] = probes.task_skew(traced)
        layers["exchange.shuffle_bytes"] = traced.get("shuffle_bytes", 0)
        full = groups.get("full", {})
        layers["job.shuffle_bytes"] = full.get("shuffle_bytes", 0)
        layers["job.tasks_skew"] = probes.task_skew(full)
        full_in = full.get("input_bytes", 0)
        layers["resume.bytes_read_frac"] = (
            groups.get("resume", {}).get("input_bytes", 0) / full_in
            if full_in else 0.0
        )
        layertrace.replay(self.docs[:100])  # warm caches before either replay
        plain = layertrace.replay(self.docs)
        tracer = layertrace.Tracer()
        replayed = layertrace.replay(self.docs, tracer)
        summary = tracer.summary()
        layers.update(layertrace.layer_metrics(
            summary, tracer.counts, len(self.docs), replayed["rows"]
        ))
        plain_wall = plain["gen_s"] + plain["extract_s"]
        traced_wall = replayed["gen_s"] + replayed["extract_s"]
        # the Spark pass makes the same calls: generate, then extract
        layers["pyworker.cpu_over_replay"] = layers["pyworker.cpu_s"] / plain_wall
        layers["replay.wall_s"] = plain_wall
        # overhead: min of three alternating untraced/traced replays of
        # 1,000 docs, so host noise between two single replays (larger
        # than the overhead here) does not decide the sign
        ab = {False: [], True: []}
        for _ in range(3):
            for traced in (False, True):
                r = layertrace.replay(
                    self.docs[:1000], layertrace.Tracer() if traced else None
                )
                ab[traced].append(r["gen_s"] + r["extract_s"])
        layers["trace.overhead_frac"] = min(ab[True]) / min(ab[False]) - 1
        facts["trace_overhead_ab_s"] = ab
        self_ns = sum(v["self"] for v in summary["by_name"].values())
        layers["trace.self_sum_frac"] = self_ns / 1e9 / traced_wall
        facts["replay"] = {"plain": plain, "traced": replayed,
                           "spans": len(tracer.t0)}
        facts["layer_self_ms"] = {
            k: v["self"] / 1e6 for k, v in summary["by_name"].items()
        }
        tracer.write(f"{stem}-spans.csv.gz")


# ------------------------------------------------------------ job + resume


class JobResume:
    """The batch job over the flagship's documents, run in the
    flagship's traced run: bucketed input written with
    ``write_bucketed_input`` (64 buckets), a full ``run_job``, half
    the commits lost the way ``bench/resume.py`` loses them, then the
    resumed ``run_job``.  Its payload crosses the salted exchange."""

    def __init__(self, flagship: Flagship) -> None:
        self.fl = flagship
        self.spark = flagship.spark
        self.facts: dict = {}

    def _job(self, src, out: str, log: str, job_id: str) -> dict:
        res = run_job(
            self.spark, src, out, log, salt_buckets=JOB_BUCKETS,
            num_partitions=JOB_PARTS, job_id=job_id,
            trust_input_bucketing=True,
        )
        # per-doc drops, as the job recorded them in its commit lineage
        self.fl.failed += sum(
            int(s["lineage"].get("dropped_docs", 0))
            for s in CommitLog(log).snapshots()
            if s.get("snapshot_id") == res["snapshot_id"]
        )
        return res

    def _lose_half(self, log_path: str, done: list[int]) -> None:
        """Drop every snapshot, then re-commit the upper half of the
        buckets: a crash that lost the lower half's commits."""
        log = CommitLog(log_path)
        log.drop_snapshots({s["snapshot_id"] for s in log.snapshots()})
        kept = [
            {"partition_id": b, "input_fingerprint": "kept", "n_docs": 0,
             "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}
            for b in done[len(done) // 2:]
        ]
        log.commit(self.spark, kept,
                   {"job_id": "partial", "salt_buckets": str(JOB_BUCKETS)})

    def run(self, layers: dict) -> bool:
        fl = self.fl
        in_path = fl.dir("bucketed")
        # generation salted on the job's buckets: one file per bucket,
        # as in a compacted input table
        group(self.spark, "job.prepare")
        self.facts["prepare_s"] = timed_wall(lambda: write_bucketed_input(
            interleaved_from_documents(
                self.spark, fl.in_dir, seed=inputs.SYNTH_SEED,
                salt_buckets=JOB_BUCKETS, num_partitions=JOB_PARTS,
            ),
            in_path, salt_buckets=JOB_BUCKETS,
        ))
        src = read_bucketed_input(self.spark, in_path, JOB_BUCKETS)
        # a job over 4 of the 64 buckets warms the job's code paths
        group(self.spark, "job.warm")
        self.facts["warm_s"] = timed_wall(lambda: self._job(
            src.where(F.col(SALT_COL) < 4), fl.dir("warm", "out"),
            fl.dir("warm", "log"), "warm",
        ))
        out, log = fl.dir("job", "out"), fl.dir("job", "log")
        commit_ns = []
        orig = CommitLog.commit

        def timed_commit(clog, *a, **k):
            t0 = time.perf_counter_ns()
            try:
                return orig(clog, *a, **k)
            finally:
                commit_ns.append(time.perf_counter_ns() - t0)

        CommitLog.commit = timed_commit
        try:
            group(self.spark, "full")
            t0 = time.perf_counter()
            full = self._job(src, out, log, "full")
            t1 = time.perf_counter()
            self._lose_half(log, full["processed_buckets"])
            group(self.spark, "resume")
            t2 = time.perf_counter()
            res = self._job(src, out, log, "resume")
            t3 = time.perf_counter()
        finally:
            CommitLog.commit = orig
            group(self.spark, "job.check")
        fl.attempted += len(fl.docs)
        layers["job.wall_s"] = t1 - t0
        layers["resume.wall_s"] = t3 - t2
        layers["resume.buckets_redone"] = len(res["processed_buckets"])
        layers["commit_log.commit_ms"] = sum(commit_ns) / 1e6
        layers["job.output_bytes"] = probes.dir_bytes(out)
        self.facts["lose_half_s"] = t2 - t1
        got = inputs.spark_fingerprint(spans_view(self.spark.read.parquet(out)))
        self.facts["rows_out"] = got[0]
        return got == fl.expected


# ------------------------------------------------------------ queries


def _cell(v):
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else str(v)
    if isinstance(v, float):
        return repr(v)
    return v


def _rows(rows) -> list[tuple]:
    return sorted((tuple(_cell(c) for c in r) for r in rows), key=repr)


def bm25_ok(got, doc_rows, terms=("join", "scan", "filter"), k=20) -> bool:
    """Top-k against a pure-Python BM25 with the engine's per-term
    integer-milli quantization; a score may differ by 1 milli (double
    rounding), so a doc tied within 1 milli of the k-th score may
    trade places at the cut."""
    toks = {d: [t for t in (x or "").lower().strip().split() if t]
            for d, x in doc_rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfc = Counter(t for v in toks.values() for t in set(v))
    scores = {}
    for doc, v in toks.items():
        tfc = Counter(v)
        s = 0
        for t in terms:
            if tfc[t]:
                idf = math.log((n - dfc[t] + 0.5) / (dfc[t] + 0.5) + 1.0)
                s += round(idf * tfc[t] * 2.2 / (
                    tfc[t] + 1.2 * (0.25 + 0.75 * len(v) / avgdl)) * 1000)
        if s > 0:
            scores[doc] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    if len(got) != len(want):
        return False
    cut = want[-1][1]
    want_docs = {doc for doc, _ in want}
    for rank, (doc, score, r) in enumerate(sorted(got, key=lambda g: g[2]), 1):
        if r != rank or doc not in scores or abs(score - scores[doc]) > 1:
            return False
        if doc not in want_docs and abs(scores[doc] - cut) > 1:
            return False
    return True


class Queries(Workload):
    """The six ROADMAP-targeted operator queries at sf0.1 row counts."""

    name = "queries"

    def prepare(self) -> None:
        self.tdir = self.dir("tables")
        self.facts["table_rows"] = inputs.write_query_tables(
            self.seed, self.docs, self.tdir
        )
        self.qs = queries()

    def warm(self) -> None:
        self.got, self.plans = {}, {}
        for q in QUERIES:
            df = self.qs[q](self.spark, self.tdir)
            self.got[q] = df.collect()
            # after the action, the adaptive plan string holds the final plan
            self.plans[q] = df._jdf.queryExecution().executedPlan().toString()
        self.attempted += len(QUERIES)

    def iterate(self) -> None:
        """One round: the six queries back to back, each to a noop
        sink.  Rounds, not runs of one query, are the timed
        iterations, so a burst of host contention slows one round,
        which the median drops, instead of every run of one query."""
        walls = self.facts.setdefault(
            "query_walls_s", {q: [] for q in QUERIES}
        )
        for q in QUERIES:
            walls[q].append(timed_wall(
                lambda: noop(self.qs[q](self.spark, self.tdir))
            ))
        self.attempted += len(QUERIES)

    def check(self) -> bool:
        import duckdb

        con = duckdb.connect()
        for t in ("orders", "lineitem", "events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.tdir}/{t}.parquet')")
        sql = oracle_sql()
        bad = []
        for q in QUERIES:
            if q == "q_bm25":
                ok = bm25_ok([tuple(r) for r in self.got[q]],
                             [(d[0], d[1]) for d in self.docs])
            else:
                ok = _rows(self.got[q]) == _rows(con.execute(sql[q]).fetchall())
            if not ok:
                bad.append(q)
        con.close()
        self.facts["mismatched"] = bad
        self.facts["rows_out"] = {q: len(self.got[q]) for q in QUERIES}
        return not bad

    def trace_spark(self, layers: dict) -> bool:
        cpu0 = probes.cpu_seconds()
        with probes.RssSampler() as rss:
            for q in QUERIES:
                group(self.spark, q)
                layers[f"{q}.wall_s"] = timed_wall(
                    lambda: noop(self.qs[q](self.spark, self.tdir))
                )
        cpu1 = probes.cpu_seconds()
        layers["spark.peak_rss_mb"] = rss.tree_peak / 2**20
        for q in QUERIES:
            final = self.plans[q].split("== Initial Plan ==")[0]
            layers[f"{q}.exchanges"] = len(
                re.findall(r"\b(?:Broadcast)?Exchange\b", final)
            )
            layers[f"{q}.sort_aggregates"] = final.count("SortAggregate")
        self.attempted += len(QUERIES)
        layers["jvm.cpu_s"] = cpu1[0] - cpu0[0]
        layers["pyworker.cpu_s"] = cpu1[1] - cpu0[1]
        return True

    def trace_offline(self, groups: dict, layers: dict, facts: dict,
                      stem: str) -> None:
        for q in QUERIES:
            layers[f"{q}.shuffle_bytes"] = groups.get(q, {}).get(
                "shuffle_bytes", 0
            )


WORKLOADS = {w.name: w for w in (Flagship, Queries)}
