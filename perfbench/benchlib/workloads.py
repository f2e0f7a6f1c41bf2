"""The workloads.  Each is a closed loop with one client: a round
starts only after the previous one returned, because every caller (a
close job, a curation job, a writer, an analyst) waits for its reply.
``cold_mix`` chains one round of ``month_close``, a four-query
``query_mix`` and ``curate_corpus`` in one fresh session.

A workload has the same life in every run:

* ``make_inputs(dest)``  pure-Python input generation from the seed;
* ``prepare(spark)``     the part of set-up that needs Spark (seeding);
* ``run_round()``        one round, timed per operation kind;
* ``finish()``           once-per-run checks outside the timed region;
* ``layer_metrics()``    per-layer figures from the traced run.

Every output check that fails is recorded against the operation that
produced it, so ``failed`` counts check-failing operations.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from benchlib import inputs, sqlexec
from benchlib.inputs import jaccard
from benchlib.stats import geomean, median, percentile, tail_percentile
from benchlib.trace import Tracer


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def check_close(ledger, fact_rows, exception_rows: int, total: float, first_total: float) -> None:
    """A close must carry every clean in-month row into the fact table,
    report exactly the injected dirty rows, and repeat its total to the
    cent."""
    expect(int(fact_rows) == ledger.clean_in_month,
           f"fact_rows {fact_rows} != clean in-month rows {ledger.clean_in_month}")
    expect(exception_rows == ledger.injected_total,
           f"dq_exceptions has {exception_rows} rows, {ledger.injected_total} dirty rows injected")
    expect(round(total, 2) == round(first_total, 2), f"fact total {total} != first close {first_total}")


def check_curate(n_docs: int, audit: list, first_audit: list, checksum, first_checksum) -> None:
    """Audit counts start at the corpus size and never increase; audit
    and packed-output checksum repeat exactly across rounds."""
    counts = [n for _, n in audit]
    expect(bool(counts) and counts[0] == n_docs, f"raw count {counts[:1]} != {n_docs}")
    expect(all(a >= b for a, b in zip(counts, counts[1:])), f"audit counts increase: {audit}")
    expect(audit == first_audit, f"audit {audit} != first round {first_audit}")
    expect(tuple(checksum) == tuple(first_checksum),
           f"packed checksum {checksum} != first round {first_checksum}")


MIN_INJECTED_RECALL = 0.9


def check_dedup(corpus, audit: list, gopher_ids: set[int], kept_ids: set[int], threshold: float) -> None:
    """The dedup stages drop only duplicates and find the injected ones.

    Every doc that passed the quality gate but is not kept must have a
    kept doc with the same text or a 3-shingle Jaccard above
    ``threshold``; every exact copy of a gate-passing source is dropped;
    at least ``MIN_INJECTED_RECALL`` of the near-duplicate copies of
    gate-passing sources are dropped; the audit's last count is the
    number of kept docs."""
    expect(kept_ids <= gopher_ids, f"{len(kept_ids - gopher_ids)} kept docs failed the quality gate")
    expect(audit[-1][1] == len(kept_ids), f"audit ends at {audit[-1][1]}, {len(kept_ids)} docs kept")
    texts = corpus.texts
    for d in sorted(gopher_ids - kept_ids):
        src = corpus.source_of.get(d)
        partners = [src] if src in kept_ids else sorted(kept_ids)
        expect(any(texts[k] == texts[d] or jaccard(texts[k], texts[d]) > threshold for k in partners),
               f"doc {d} dropped without a kept duplicate")
    exact = [c for c in corpus.exact if corpus.source_of[c] in gopher_ids]
    expect(not set(exact) & kept_ids, f"exact copies kept: {sorted(set(exact) & kept_ids)}")
    recall = injected_recall(corpus, gopher_ids, kept_ids)
    expect(recall >= MIN_INJECTED_RECALL, f"injected near-dup recall {recall:.3f} < {MIN_INJECTED_RECALL}")


def injected_recall(corpus, gopher_ids: set[int], kept_ids: set[int]) -> float:
    """Near-duplicate copies of gate-passing sources dropped ÷ those copies."""
    near = [c for c in corpus.injected if corpus.source_of[c] in gopher_ids]
    return sum(c not in kept_ids for c in near) / max(len(near), 1)


def check_rows(what: str, got: list, want: list) -> None:
    """A read returns exactly the model's rows (order-insensitive)."""
    expect(sorted(got) == sorted(want), f"{what}: {len(got)} rows, model has {len(want)}")


def cep_histogram(events: list[dict]) -> dict[int, int]:
    """completed_patterns -> users, by folding each user's (ts, event_id)
    ordered stream through the view -> click -> purchase machine that
    ``e_cep_funnel_patterns`` documents (an error resets a partial
    match)."""
    code = {"view": 1, "click": 2, "purchase": 3, "error": 9}
    seqs: dict[int, list] = {}
    for r in sorted(events, key=lambda r: (r["ts"], r["event_id"])):
        seqs.setdefault(r["user_id"], []).append(code.get(r["event_type"], 0))
    hist: dict[int, int] = {}
    for cs in seqs.values():
        acc = 0
        for x in cs:
            if x == 1 and acc % 10 == 0:
                acc += 1
            elif x == 2 and acc % 10 == 1:
                acc += 1
            elif x == 3 and acc % 10 == 2:
                acc += 8
            elif x == 9:
                acc -= acc % 10
        hist[acc // 10] = hist.get(acc // 10, 0) + 1
    return hist


@dataclass
class OpLog:
    """Latencies per operation kind, attempted and failed counts."""

    lat: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, kind: str, seconds: float) -> None:
        self.attempted += 1
        self.lat.setdefault(kind, []).append(seconds)

    def fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{kind}: {msg}")

    def p50_ms(self, kind: str) -> float:
        return 1000.0 * median(self.lat[kind])


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    # rounds per run, the cold one included: at least MIN_ROUNDS, then
    # more until --seconds have passed, at most MAX_ROUNDS
    MIN_ROUNDS = 1
    MAX_ROUNDS: int | None = None

    def __init__(self, spark, root: str, seed: int, tracer: Tracer, small: bool = False):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.tracer = tracer
        self.small = small
        self.ops = OpLog()
        self.traced_rounds = 0

    def timed(self, kind: str, layer: str, fn):
        """Run ``fn`` inside a span, record its latency, return its value."""
        with self.tracer.span(kind, layer):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.ops.record(kind, dt)
        return out

    def check(self, kind: str, fn) -> None:
        try:
            fn()
        except CheckFailed as e:
            self.ops.fail(kind, str(e))

    # the end-to-end "op" figure: geometric mean of each kind's median
    def op_geomean_ms(self) -> float:
        return geomean([self.ops.p50_ms(k) for k in self.kinds if self.ops.lat.get(k)])

    def make_inputs(self, dest: str) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        pass

    def run_round(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass

    def detail(self) -> dict:
        return {}

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------
# month_close
# ---------------------------------------------------------------------------


class MonthClose(Workload):
    """run_month(fail_on=NEVER) -> export_star + six writes ->
    export_bi_datasets -> render_dashboard, on a seeded one-month ledger."""

    name = "month_close"
    kinds = ("run_month", "export_star", "export_bi", "render_dashboard")
    ROWS_PER_SOURCE = 20_000

    def make_inputs(self, dest: str) -> None:
        rows = 300 if self.small else self.ROWS_PER_SOURCE
        self.ledger = inputs.write_ledger(dest, self.seed, rows)
        self.raw_bytes = _dir_bytes(self.ledger.raw_dir) + _dir_bytes(self.ledger.reference_dir)
        self.totals: list[float] = []
        self.exception_rows: list[int] = []
        self._exec_split: list[dict] = []

    def run_round(self) -> None:
        from finance_etl_pipeline_spark import dashboard, export_bi, star
        from finance_etl_pipeline_spark.pipeline import run_month

        spark, L = self.spark, self.ledger
        out = os.path.join(self.root, "close")
        shutil.rmtree(out, ignore_errors=True)
        cur = os.path.join(out, "curated")
        before = sqlexec.last_id(spark) if self.tracer.enabled else None
        res = self.timed(
            "run_month", "pipeline",
            lambda: run_month(spark, L.month, L.raw_dir, cur, L.reference_dir, fail_on="NEVER"),
        )
        if self.tracer.enabled:
            self._exec_split.append(self._split_run_month(before))

        def _star():
            fact = spark.read.parquet(res.paths["fact_transactions"])
            kpi = spark.read.parquet(res.paths["kpi_monthly"])
            coa = spark.read.option("header", "true").csv(
                os.path.join(L.reference_dir, "chart_of_accounts.csv")
            )
            for name, df in star.export_star(fact, kpi, coa).items():
                df.write.mode("overwrite").parquet(os.path.join(out, "star", name))

        self.timed("export_star", "star", _star)
        self.timed(
            "export_bi", "export_bi",
            lambda: export_bi.export_bi_datasets(spark, cur, os.path.join(out, "bi"), L.month),
        )

        def _dash():
            read = spark.read.parquet
            csv = spark.read.option("header", "true").csv
            return dashboard.render_dashboard(
                read(res.paths["kpi_monthly"]), read(res.paths["fact_transactions"]),
                read(res.paths["dim_accounts"]), csv(res.paths["dq_summary"]),
                csv(res.paths["dq_exceptions"]), L.month, os.path.join(out, "dashboard.html"),
            )

        html = self.timed("render_dashboard", "dashboard", _dash)
        self.traced_rounds += self.tracer.enabled
        self.check("run_month", lambda: self._check(res, html))

    def _check(self, res, html: str) -> None:
        n_exc = self.spark.read.option("header", "true").csv(res.paths["dq_exceptions"]).count()
        self.exception_rows.append(n_exc)
        total = round(res.metrics["fact_amount_base_total"], 2)
        self.totals.append(total)
        check_close(self.ledger, res.metrics["fact_rows"], n_exc, total, self.totals[0])
        expect(os.path.getsize(html) > 0, "empty dashboard")

    def _split_run_month(self, before: int) -> dict:
        """Attribute run_month's SQL executions to the sink they write
        (or, for collects, the check they serve)."""
        out = {"quality": 0.0, "fact": 0.0, "kpi": 0.0}
        for rec in sqlexec.executions(self.spark, before):
            dest = sqlexec.sink(rec["plan"]) or ""
            d = sqlexec.duration_s(rec)
            if "dq_exceptions" in dest or "dq_summary" in dest:
                out["quality"] += d
            elif "fact_transactions" in dest:
                out["fact"] += d
            elif "kpi_monthly" in dest:
                out["kpi"] += d
            elif dest:
                continue  # dim_accounts: a copy of the chart of accounts
            elif "transform.py" in rec["description"]:
                out["fact"] += d  # the missing-FX-rate collect of the fact build
            else:
                out["quality"] += d  # the DQ gate collect
        return out

    def detail(self) -> dict:
        return {
            "close_s": median(self._close_times()),
            "rows_per_source": self.ledger.clean_in_month // 4,
            "dq_injected": self.ledger.injected_total,
            "fact_amount_base_total": self.totals[0] if self.totals else None,
        }

    def _close_times(self) -> list[float]:
        return [sum(t) for t in zip(*(self.ops.lat[k] for k in self.kinds))]

    def layer_metrics(self) -> dict:
        tr = self.tracer
        n = max(self.traced_rounds, 1)
        split = self._exec_split
        rm = tr.counters_for("run_month")
        written = tr.counters_total()["output_bytes"]
        return {
            "pipeline.jobs": rm["jobs"] / n,
            "quality.dq_s": median([s["quality"] for s in split]),
            "quality.exception_rows": float(median(self.exception_rows)),
            "transform.fact_s": median([s["fact"] for s in split]),
            "transform.kpi_s": median([s["kpi"] for s in split]),
            "sources.csv_read_amp": rm["input_bytes"] / n / self.raw_bytes,
            "sources.bytes_written": written / n,
            "star.export_s": median(tr.durations("export_star")),
            "export_bi.export_s": median(tr.durations("export_bi")),
            "dashboard.render_s": median(tr.durations("render_dashboard")),
        }


def dedup_chain(tr: Tracer, docs):
    """``neardup_keepers`` spelt out one dedup operator per span, each on
    the previous operator's pinned output.  Returns the kept docs and
    the chain's row counts."""
    from pyspark.sql import functions as F

    from finance_etl_pipeline_spark.operators import curate_pipeline as CP
    from finance_etl_pipeline_spark.operators import dedup as D

    with tr.span("shingle", "dedup"):
        sh = D.hashed_shingle_rows(docs).localCheckpoint()
    with tr.span("minhash", "dedup"):
        mh = D.minhash_signatures_hashed(sh).localCheckpoint()
    with tr.span("candidates", "dedup"):
        cand = D.candidate_pairs(D.band_signatures(mh)).localCheckpoint()
    with tr.span("verify", "dedup"):
        pairs = D.jaccard_verify_hashed(sh, cand, CP.NEARDUP_THRESHOLD).localCheckpoint()
    with tr.span("components", "dedup"):
        labels = D.connected_components(pairs.select("doc_a", "doc_b")).localCheckpoint()
    losers = labels.filter(F.col("node") != F.col("lbl")).select(F.col("node").alias("doc_id"))
    kept = docs.join(F.broadcast(losers), "doc_id", "left_anti").localCheckpoint()
    return kept, {
        "shingle_rows": sh.count(),
        "candidate_pairs": cand.count(),
        "verified_pairs": pairs.count(),
    }


def dedup_layer_metrics(tr: Tracer, counts: dict, recall: float) -> dict:
    d = lambda name: sum(tr.durations(name))  # noqa: E731
    return {
        "dedup.shingle_s": d("shingle"),
        "dedup.shingle_rows": float(counts["shingle_rows"]),
        "dedup.minhash_s": d("minhash"),
        "dedup.candidates_s": d("candidates"),
        "dedup.candidate_pairs": float(counts["candidate_pairs"]),
        "dedup.verify_s": d("verify"),
        "dedup.verified_pairs": float(counts["verified_pairs"]),
        "dedup.lsh_precision": counts["verified_pairs"] / max(counts["candidate_pairs"], 1),
        "dedup.components_s": d("components"),
        "dedup.injected_recall": recall,
    }


# ---------------------------------------------------------------------------
# curate_corpus
# ---------------------------------------------------------------------------


class CurateCorpus(Workload):
    """curate(docs) plus the packed-sequence and audit writes, as
    ``cli curate`` does, on a corpus with injected near-duplicates."""

    name = "curate_corpus"
    kinds = ("curate", "write")
    DOCS = 1000

    def make_inputs(self, dest: str) -> None:
        n = 200 if self.small else self.DOCS
        self.corpus = inputs.write_corpus(os.path.join(dest, "corpus", "documents.parquet"), self.seed, n)
        self.audits: list[list] = []
        self.sums: list[tuple] = []
        self._rounds_split: list[dict] = []

    def run_round(self) -> None:
        from finance_etl_pipeline_spark.operators.curate_pipeline import curate

        spark = self.spark
        out = os.path.join(self.root, "curated")
        shutil.rmtree(out, ignore_errors=True)
        before = sqlexec.last_id(spark) if self.tracer.enabled else None
        packed, audit = self.timed(
            "curate", "curate_pipeline", lambda: curate(spark.read.parquet(self.corpus.path))
        )

        def _write():
            packed.write.mode("overwrite").parquet(os.path.join(out, "packed_sequences"))
            audit.write.mode("overwrite").parquet(os.path.join(out, "curation_audit"))

        self.timed("write", "curate_pipeline", _write)
        if self.tracer.enabled:
            recs = sqlexec.executions(spark, before)
            self._rounds_split.append({
                "scans": sum(sqlexec.scans_of(r["plan"], "corpus") for r in recs),
            })
        self.traced_rounds += self.tracer.enabled
        self.check("curate", lambda: self._check(out))

    def _check(self, out: str) -> None:
        from pyspark.sql import functions as F

        spark = self.spark
        audit = [
            (r.stage, r.n_docs)
            for r in spark.read.parquet(os.path.join(out, "curation_audit")).orderBy("stage_idx").collect()
        ]
        packed = spark.read.parquet(os.path.join(out, "packed_sequences"))
        s = packed.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*sorted(packed.columns))).alias("h"),
        ).first()
        self.audits.append(audit)
        self.sums.append((s.n, s.h))
        check_curate(self.corpus.n_docs, audit, self.audits[0], self.sums[-1], self.sums[0])

    def finish(self) -> None:
        """The last round's output against the corpus: duplicates only
        are dropped, and the injected ones are found."""
        from finance_etl_pipeline_spark.operators import curate_pipeline as CP

        spark = self.spark
        out = os.path.join(self.root, "curated", "packed_sequences")
        kept = {r.doc_id for r in spark.read.parquet(out).select("doc_id").distinct().collect()}
        gate = CP.gopher_pass(spark.read.parquet(self.corpus.path)).select("doc_id").collect()
        gopher = {r.doc_id for r in gate}
        self.recall = injected_recall(self.corpus, gopher, kept)
        self.check("curate", lambda: check_dedup(
            self.corpus, self.audits[-1], gopher, kept, CP.NEARDUP_THRESHOLD))
        if self.tracer.enabled:
            self._split = self._operator_split()

    def _operator_split(self) -> dict:
        """Each public operator in sequence on an input the benchmark
        pinned, so each span holds only its own layer's work."""
        from finance_etl_pipeline_spark.operators import curate_pipeline as CP
        from finance_etl_pipeline_spark.operators import curation as C

        tr, spark = self.tracer, self.spark
        docs = spark.read.parquet(self.corpus.path).localCheckpoint()
        with tr.span("gopher_pass", "curate_pipeline"):
            g = CP.gopher_pass(docs).localCheckpoint()
        with tr.span("exact_dedup", "curate_pipeline"):
            e = CP.exact_dedup_keepers(g).localCheckpoint()
        with tr.span("neardup", "curate_pipeline"):
            kept, counts = dedup_chain(tr, e)
        with tr.span("pack", "curate_pipeline"):
            C.chunk_table(kept).write.format("noop").mode("overwrite").save()
        return counts

    def detail(self) -> dict:
        return {
            "curate_s": median([a + b for a, b in zip(self.ops.lat["curate"], self.ops.lat["write"])]),
            "docs": self.corpus.n_docs,
            "injected": len(self.corpus.injected),
            "exact_copies": len(self.corpus.exact),
            "injected_recall": self.recall,
            "audit": self.audits[0] if self.audits else None,
            "packed_checksum": list(self.sums[0]) if self.sums else None,
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        n = max(self.traced_rounds, 1)
        d = lambda name: sum(tr.durations(name))  # noqa: E731
        c = self._split
        jobs = tr.counters_for("curate")["jobs"] + tr.counters_for("write")["jobs"]
        return {
            "curate_pipeline.audit_s": median(tr.durations("curate")),
            "curate_pipeline.write_s": median(tr.durations("write")),
            "curate_pipeline.gopher_s": d("gopher_pass"),
            "curate_pipeline.exact_dedup_s": d("exact_dedup"),
            "curate_pipeline.neardup_s": d("neardup"),
            "curate_pipeline.pack_s": d("pack"),
            "curate_pipeline.jobs": jobs / n,
            "curate_pipeline.corpus_scans": median([r["scans"] for r in self._rounds_split]),
            **dedup_layer_metrics(tr, c, self.recall),
        }


# ---------------------------------------------------------------------------
# lake_ingest
# ---------------------------------------------------------------------------

LAKE_SCHEMA = "id long, k long, grp int, val double, note string"


class LakeIngest(Workload):
    """A seeded op script against one manifest table: tiny appends
    (commit_rows), pruned reads (half ranges on the clustered key ``k``,
    half point lookups on ``id``), batch appends (commit), keyed
    merge_into of recent keys, and a compact_table every
    ``COMPACT_EVERY`` commits.  An in-Python model of the table is
    updated by every op; every read must return exactly its rows."""

    name = "lake_ingest"
    kinds = ("append", "read", "batch_commit", "merge")
    MIN_ROUNDS = 3  # the cold round and two warm ones: each op's median is a warm sample
    APPENDS_PER_ROUND = 40  # three rounds leave >= 10 samples above p90
    READS_PER_ROUND = 6
    BATCHES_PER_ROUND = 2
    COMPACT_EVERY = 40  # three compactions per run
    SEED_FILES = 16

    def make_inputs(self, dest: str) -> None:
        self.rng = random.Random(self.seed)
        self.seed_rows = 400 if self.small else 40_000
        self.table = os.path.join(dest, "table")
        self.model: dict[int, tuple] = {}
        self.next_id = 0
        self.commits_since_compact = 0
        seed = self._new_rows(self.seed_rows)
        self.model.update({r[0]: r for r in seed})
        # the seed reaches Spark as SEED_FILES parquet files of consecutive
        # k ranges, not as Python rows, so seeding starts no Python worker
        # and the committed files are range-clustered without a shuffle
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.seed_path = os.path.join(dest, "seed")
        os.makedirs(self.seed_path, exist_ok=True)
        step = -(-len(seed) // self.SEED_FILES)
        for i in range(self.SEED_FILES):
            cols = list(zip(*seed[i * step:(i + 1) * step]))
            pq.write_table(pa.table({
                "id": pa.array(cols[0], pa.int64()), "k": pa.array(cols[1], pa.int64()),
                "grp": pa.array(cols[2], pa.int32()), "val": pa.array(cols[3], pa.float64()),
                "note": pa.array(cols[4], pa.string()),
            }), os.path.join(self.seed_path, f"part-{i:02d}.parquet"))
        self.prune: list[float] = []
        self.write_amp: list[float] = []
        self.merge_rewritten: list[int] = []
        self.compact_rewritten: list[int] = []

    def _new_rows(self, n: int) -> list[tuple]:
        rows = []
        for _ in range(n):
            i = self.next_id
            self.next_id += 1
            rows.append((i, 4 * i + self.rng.randrange(4), self.rng.randrange(16),
                         round(self.rng.uniform(0, 1000), 2), f"n{self.rng.randrange(10**6)}"))
        return rows

    @staticmethod
    def _row_bytes(rows: list[tuple]) -> int:
        """Bytes the rows carry: 8+8+4+8 fixed plus the note's length."""
        return sum(28 + len(r[4]) for r in rows)

    def prepare(self, spark) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        M.commit(spark.read.parquet(self.seed_path), self.table)

    def _files(self) -> list[str]:
        from finance_etl_pipeline_spark.operators import manifest as M

        return M.files_for_version(self.table)

    def _append(self) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        rows = self._new_rows(self.rng.randint(1, 4))
        b0 = _dir_bytes(self.table) if self.tracer.enabled else 0
        self.timed("append", "manifest",
                   lambda: M.commit_rows(self.spark, rows, LAKE_SCHEMA, self.table))
        if self.tracer.enabled:
            self.write_amp.append((_dir_bytes(self.table) - b0) / self._row_bytes(rows))
        self.model.update({r[0]: r for r in rows})
        self.commits_since_compact += 1

    def _batch(self) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        rows = self._new_rows(2000)
        df = self.spark.createDataFrame(rows, LAKE_SCHEMA)
        self.timed("batch_commit", "manifest", lambda: M.commit(df, self.table))
        self.model.update({r[0]: r for r in rows})
        self.commits_since_compact += 1

    def _merge(self) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        hi = self.next_id
        keys = self.rng.sample(range(max(0, hi - 3000), hi), 100)
        upd = [(i, self.model[i][1], self.model[i][2], round(self.rng.uniform(0, 1000), 2), "merged")
               for i in keys]
        src = self.spark.createDataFrame(upd, LAKE_SCHEMA)
        files0 = set(self._files()) if self.tracer.enabled else set()
        self.timed("merge", "manifest", lambda: M.merge_into(self.spark, self.table, src, ["id"]))
        if self.tracer.enabled:
            self.merge_rewritten.append(len(files0 - set(self._files())))
        self.model.update({r[0]: r for r in upd})
        self.commits_since_compact += 1

    def _read(self, point: bool) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        if point:
            x = self.rng.randrange(self.next_id)
            where = [("id", "==", x)]
            want = [self.model[x]] if x in self.model else []
        else:
            span = 400
            lo = 4 * self.rng.randrange(self.next_id) - span // 2
            where = [("k", ">=", lo), ("k", "<", lo + span)]
            want = [r for r in self.model.values() if lo <= r[1] < lo + span]

        def _run():
            df = M.read_version(self.spark, self.table, where=where)
            return df, [tuple(r) for r in df.collect()]

        df, got = self.timed("read", "manifest", _run)
        if self.tracer.enabled:
            snap = len(self._files())
            self.prune.append(1.0 - len(df.inputFiles()) / snap if snap else 0.0)
        self.check("read", lambda: check_rows(f"read {where}", got, want))

    def _compact(self) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        self.timed("compact", "manifest", lambda: M.compact_table(
            self.spark, self.table, target_bytes=128 * 1024, zorder_cols=["k"]))
        if self.tracer.enabled:
            self.compact_rewritten.append(sum(os.path.getsize(f) for f in self._files()))
        self.commits_since_compact = 0

    def run_round(self) -> None:
        script = (["append"] * self.APPENDS_PER_ROUND + ["range", "point"] * (self.READS_PER_ROUND // 2)
                  + ["batch"] * self.BATCHES_PER_ROUND + ["merge"])
        self.rng.shuffle(script)
        for op in script:
            if op == "append":
                self._append()
            elif op in ("range", "point"):
                self._read(op == "point")
            elif op == "batch":
                self._batch()
            else:
                self._merge()
            if self.commits_since_compact >= self.COMPACT_EVERY:
                self._compact()
        self.traced_rounds += self.tracer.enabled

    def finish(self) -> None:
        from finance_etl_pipeline_spark.operators import manifest as M

        got = sorted(tuple(r) for r in M.read_version(self.spark, self.table).collect())
        self.check("read", lambda: check_rows("full table", got, list(self.model.values())))

    def detail(self) -> dict:
        a = self.ops.lat["append"]
        q = tail_percentile(len(a)) or 50
        return {
            "append_ms_p50": self.ops.p50_ms("append"),
            f"append_ms_p{q}": 1000.0 * percentile(a, q),
            "append_samples": len(a),
            "batch_commit_ms_p50": self.ops.p50_ms("batch_commit"),
            "read_ms_p50": self.ops.p50_ms("read"),
            "merge_ms_p50": self.ops.p50_ms("merge"),
            "compactions": len(self.ops.lat.get("compact", [])),
            "rows": len(self.model),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        files = self._files()
        live = sum(os.path.getsize(f) for f in files)
        log_bytes = _dir_bytes(self.table) - _dir_bytes(os.path.join(self.table, "data"))
        n_app = max(len(tr.durations("append")), 1)
        n_read = max(len(tr.durations("read")), 1)
        return {
            "manifest.commit_rows_jobs": tr.counters_for("append")["jobs"] / n_app,
            "manifest.log_bytes": float(log_bytes),
            "manifest.write_amp": median(self.write_amp),
            "manifest.merge_files_rewritten": median(self.merge_rewritten) if self.merge_rewritten else 0.0,
            "manifest.read_jobs": tr.counters_for("read")["jobs"] / n_read,
            "manifest.files_live": float(len(files)),
            "manifest.prune_ratio": median(self.prune),
            "manifest.compact_s": median(tr.durations("compact")) if tr.durations("compact") else 0.0,
            "manifest.compact_bytes_rewritten": median(self.compact_rewritten) if self.compact_rewritten else 0.0,
            "manifest.space_amp": _dir_bytes(self.table) / live,
        }


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

QUERIES = (
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q4_order_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q12_priority_shipmode",
    "q14_promo_share",
    "asof_last_purchase",
    "e_cep_funnel_patterns",
    "e_concurrent_sessions",
    "ann_cosine_topk",
    "tx_quality_classifier_train",
    "graph_pagerank_copurchase",
)


class QueryMix(Workload):
    """One pass of 14 bench-tagged registry queries on generated sf
    tables with a noop sink, in a seeded order per pass; each query is
    timed from ``fn(spark, sf)`` through the action."""

    name = "query_mix"
    kinds = QUERIES

    def make_inputs(self, dest: str) -> None:
        self.sf_dir = os.path.join(dest, "sf")
        inputs.write_sf_tables(self.sf_dir, self.seed, 0.001)
        self.rng = random.Random(self.seed)
        self.plan_stats: dict[str, list[dict]] = {}

    def prepare(self, spark) -> None:
        from finance_etl_pipeline_spark.plans import all_queries

        reg = all_queries()
        self.qdefs = {n: reg[n] for n in self.kinds}

    def _traced_query(self, name: str) -> None:
        tr, spark, q = self.tracer, self.spark, self.qdefs[name]
        t0 = time.perf_counter()
        with tr.span(name, "plans"):
            with tr.span("construct", "plans"):
                c0 = time.perf_counter()
                df = q.fn(spark, self.sf_dir)
                construct = time.perf_counter() - c0
            with tr.span("catalyst", "plans"):
                qe = df._jdf.queryExecution()
                plan = str(qe.executedPlan().toString())
                ph = qe.tracker().phases()
                catalyst = sum(ph.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
                               if ph.contains(k))
            with tr.span("execute", "plans"):
                e0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                execute = time.perf_counter() - e0
        self.ops.record(name, time.perf_counter() - t0)
        self.plan_stats.setdefault(name, []).append({
            "construct_ms": 1000 * construct, "catalyst_ms": float(catalyst),
            "execute_ms": 1000 * execute, "exchanges": sqlexec.exchanges(plan),
        })

    def run_round(self) -> None:
        order = list(self.kinds)
        self.rng.shuffle(order)
        for name in order:
            if self.tracer.enabled:
                self._traced_query(name)
            else:
                q = self.qdefs[name]
                self.timed(name, "plans", lambda q=q: q.fn(self.spark, self.sf_dir)
                           .write.format("noop").mode("overwrite").save())
        self.traced_rounds += self.tracer.enabled

    def finish(self) -> None:
        """Every query against its DuckDB oracle through the repo's own
        ``tests/oracle_harness.compare``, once, outside the timed region.
        ``e_cep_funnel_patterns`` is checked against an in-Python fold
        instead: DuckDB 1.0's ``list_reduce`` returns wrong folds on some
        generated event streams (the Python fold agrees with Spark)."""
        from tests.oracle_harness import compare

        for name in self.kinds:
            if name == "e_cep_funnel_patterns":
                self.check(name, lambda: self._check_cep())
                continue
            res = compare(self.spark, self.qdefs[name], self.sf_dir)
            if not res["ok"]:
                self.ops.fail(name, res["detail"])

    def _check_cep(self) -> None:
        import pyarrow.parquet as pq

        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"),
                               columns=["event_id", "ts", "user_id", "event_type"]).to_pylist()
        got = {r.completed_patterns: r.n_users
               for r in self.qdefs["e_cep_funnel_patterns"].fn(self.spark, self.sf_dir).collect()}
        want = cep_histogram(events)
        expect(got == want, f"cep histogram {got} != python fold {want}")

    def detail(self) -> dict:
        passes = [sum(t) for t in zip(*(self.ops.lat[k] for k in self.kinds))]
        return {
            "query_geomean_ms": self.op_geomean_ms(),
            "query_mix_s": median(passes),
            "per_query_ms": {k: self.ops.p50_ms(k) for k in self.kinds},
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        n = max(self.traced_rounds, 1)
        cons, exe = tr.counters_for("construct"), tr.counters_for("execute")
        flat = [s for v in self.plan_stats.values() for s in v]
        out = {
            "plans.construct_ms": sum(s["construct_ms"] for s in flat) / n,
            "plans.construct_jobs": cons["jobs"] / n,
            "plans.catalyst_ms": sum(s["catalyst_ms"] for s in flat) / n,
            "plans.execute_ms": sum(s["execute_ms"] for s in flat) / n,
            "plans.jobs": (cons["jobs"] + exe["jobs"]) / n,
            "plans.tasks": (cons["tasks"] + exe["tasks"]) / n,
            "plans.exchanges": sum(s["exchanges"] for s in flat) / n,
        }
        for k in self.kinds:
            out[f"plans.{k}_ms"] = self.ops.p50_ms(k)
        return out


# ---------------------------------------------------------------------------
# cold_mix
# ---------------------------------------------------------------------------

MIX_QUERIES = (
    "q3_top_unshipped_orders",
    "q6_forecast_revenue",
    "e_cep_funnel_patterns",
    "tx_quality_classifier_train",
)


class ColdMix(Workload):
    """One round in a fresh session: a month close (``month_close`` at
    1,000 rows per source), a pass of four registry queries
    (``query_mix``) and a curate of 500 documents (``curate_corpus``),
    in that order.  A run is that one round, because a warm repeat of it
    does not fit the time one run may take; it is what a user pays who
    starts a process for the close, the queries and the curation."""

    name = "cold_mix"
    MAX_ROUNDS = 1

    def __init__(self, spark, root: str, seed: int, tracer: Tracer, small: bool = False):
        super().__init__(spark, root, seed, tracer, small)
        close = MonthClose(spark, os.path.join(root, "close"), seed, tracer, small)
        close.ROWS_PER_SOURCE = 1000
        queries = QueryMix(spark, os.path.join(root, "queries"), seed, tracer, small)
        queries.kinds = MIX_QUERIES
        curate = CurateCorpus(spark, os.path.join(root, "curate"), seed, tracer, small)
        curate.DOCS = 500
        self.parts = (close, queries, curate)
        for p in self.parts:
            p.ops = self.ops
        self.kinds = tuple(k for p in self.parts for k in p.kinds)

    def make_inputs(self, dest: str) -> None:
        for p in self.parts:
            p.make_inputs(os.path.join(dest, p.name))

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def run_round(self) -> None:
        for p in self.parts:
            p.run_round()

    def finish(self) -> None:
        for p in self.parts:
            p.finish()

    def detail(self) -> dict:
        return {k: v for p in self.parts for k, v in p.detail().items()}

    def layer_metrics(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics().items()}


WORKLOADS = {w.name: w for w in (ColdMix, MonthClose, CurateCorpus, LakeIngest, QueryMix)}
