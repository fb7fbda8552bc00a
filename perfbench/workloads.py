"""The benchmark's workloads.  Each is a closed loop: one client keeps one
request outstanding against one local SparkSession, and every call goes
through the public functions of the program's modules.

A workload provides `setup()` (timed into `setup_s`), `measure(seconds)`
(the timed loop) and `check()` (correctness, untimed, after the loop).
Every op is a *read* (a query a user waits on) or a *job* (a heavy batch
operation: a fleet-wide analytics job, a dedup pass, an ingest
micro-batch); the end-to-end metrics summarize each kind separately.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd

import check
import gen

HOUR = 3_600_000
MINUTE = 60_000


def du_bytes(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".crc"):
                n += os.path.getsize(os.path.join(root, f))
    return n


def p50(xs):
    return statistics.median(xs) if xs else float("nan")


def typical_ms(ops) -> float:
    """Median latency per op name, combined across names by geometric
    mean: every op type weighs the same and the figure does not jump from
    one type's latency to another's when the overall median would sit in
    a gap between them."""
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    return math.exp(statistics.fmean(math.log(p50(v)) for v in by.values()))


def _collect(df):
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    spec = gen.Spec()

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.seed = ctx.seed
        self.rng = np.random.default_rng([ctx.seed, 99])
        self.ops: list[dict] = []  # every op record of the measured loop
        self.failures: list[str] = []
        self.pending: list = []  # (op record, verify, result) for check()
        self.verdicts: list[tuple[str, bool]] = []  # end-state checks
        self.warming = False  # set-up's untimed warm-up calls

    def write_parquet(self, df, name: str) -> str:
        path = os.path.join(self.ctx.tmp, name)
        gen.to_parquet(df, path)
        return path

    def run_op(self, name: str, plan, execute, verify=None, kind="read"):
        """Time one op: `plan()` builds the DataFrame (the operator call),
        `execute(df)` runs the action.  `verify(result)` is kept for
        check() so references never run inside the timed loop.  A warm-up
        call during set-up is neither recorded nor verified."""
        if self.warming:
            try:
                execute(plan())
            except Exception:  # the timed calls record any failure
                pass
            return None, None
        out = None
        with self.tr.op(name) as rec:
            t0 = t1 = time.perf_counter()
            try:
                with self.tr.span(f"{name}.plan"):
                    df = plan()
                t1 = time.perf_counter()
                with self.tr.span(f"{name}.exec"):
                    out = execute(df)
            except Exception as exc:  # an op that errors counts as failed
                rec["error"] = repr(exc)
            t2 = time.perf_counter()
        rec.update(plan_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3, kind=kind,
                   rows=len(out) if out is not None else 0)
        self.ops.append(rec)
        if "error" in rec:
            self.failures.append(name)
        elif verify is not None:
            self.pending.append((rec, verify, out))
        return out, rec

    def check(self):
        for rec, verify, out in self.pending:
            try:
                ok = verify(out)
            except Exception as exc:  # a reference that cannot run is a failure
                ok = False
                rec["error"] = repr(exc)
            if not ok:
                self.failures.append(rec["name"])
                rec["failed"] = True

    def verdict(self, name: str, ok: bool):
        """An end-state check that is not tied to one op."""
        self.verdicts.append((f"{self.name}.{name}", ok))
        if not ok:
            self.failures.append(f"{self.name}.{name}")

    def reads(self):
        return [o for o in self.ops if o["kind"] == "read"]

    def jobs(self):
        return [o for o in self.ops if o["kind"] == "job"]

    def info(self) -> dict:
        """Workload-specific numbers printed beside the result."""
        return {}

    def trace_extra(self) -> None:
        """Untimed extra counting for the traced run."""

    def warm_up(self, calls) -> None:
        """Run each call once, untimed, so that the timed loop starts with
        code generation and the JIT warm."""
        self.warming = True
        try:
            for call in calls:
                call()
        finally:
            self.warming = False

    def e2e(self) -> dict:
        reads = self.reads()
        return {
            "query_p50_ms": typical_ms(reads),
            "queries_per_s": len(reads) / (sum(o["ms"] for o in reads) / 1e3),
            "job_p50_ms": typical_ms(self.jobs()),
        }


class Analytics(Workload):
    """Queries over a stored fleet history.  The timed loop cycles through
    the dashboard's short reads — one-key raw and aggregated ranges,
    label-filtered MRANGE, fused and two-stage GROUPBY/REDUCE, MGET from a
    latest table built at set-up, QUERYINDEX, a SQL-surface range and a
    BM25 top-k — and runs the fleet-wide jobs once: bucketed avg/max, TWA,
    GROUPBY, top-k, counter increase and EWMA over every series, and
    near-duplicate removal over the document corpus."""

    name = "analytics"
    READS = [
        "range_raw_1h", "range_avgmax_3h", "mrange_service_1h",
        "groupby_fused_max_1h", "groupby_two_stage_avg_1h", "mget_latest",
        "queryindex", "sql_range_avg_1h", "bm25_top10",
    ]
    JOBS = [
        "fleet_avgmax_1h", "fleet_twa_1h", "fleet_groupby_region_1h",
        "fleet_topk_max_1h", "fleet_increase_1h", "fleet_ewma", "corpus_dedup",
    ]
    MIN_CYCLES = 2  # timed dashboard cycles; set-up's warm-up call comes first
    JOB_EVERY = 2  # a job after every second read spreads the jobs over the loop
    CHECK_KEYS = 6  # Zipf-popular keys replayed by the numpy references

    # -- set-up ---------------------------------------------------------------
    def setup(self):
        from redistimeseries_spark import TSStore
        from redistimeseries_spark.sql import register_sql

        spec = self.spec
        self.read_layout_ms: list[float] = []
        self.dedup_s: list[float] = []
        hist = gen.history(spec, self.seed)
        self.n_samples = len(hist)
        self.keys, self.kinds, labels_pd = gen.series_catalog(spec, self.seed)
        raw = self.write_parquet(hist, "history.parquet")
        lab = self.write_parquet(labels_pd, "labels.parquet")
        self.store_dir = os.path.join(self.ctx.tmp, "store")
        t0 = time.perf_counter()
        with self.tr.span("store.write_layout"):
            TSStore.from_dataframes(self.spark.read.parquet(raw)).write_layout(self.store_dir)
        self.ctx.layer["store.write_layout_s"] = time.perf_counter() - t0
        # the label index is cached, as the store's own from_events does
        self.labels = self.spark.read.parquet(lab).cache()
        self.labels.count()
        # MGET's latest table: each series' newest sample, as an ingest
        # stream maintains it
        latest = hist.sort_values("ts").groupby("key").tail(1)
        self.latest = self.spark.read.parquet(self.write_parquet(latest, "latest.parquet"))
        t0 = time.perf_counter()
        with self.tr.span("sql.register_sql"):
            register_sql(self.spark, TSStore(self.read_layout(), self.labels))
        self.ctx.layer["sql.register_sql_ms"] = (time.perf_counter() - t0) * 1e3
        self.docs_pd, self.truth, self.vocab = gen.corpus(spec, self.seed)
        self.docs = self.spark.read.parquet(self.write_parquet(self.docs_pd, "docs.parquet"))

        self.now = spec.history_end
        self.oracle = check.Oracle(raw, lab)
        self.key_pick = gen.KeyPicker(self.keys, spec.zipf_s, self.rng)
        self.host_pick = gen.KeyPicker(sorted({k.split(".")[0] for k in self.keys}),
                                       spec.zipf_s, self.rng)
        self.meas = [m for m, _ in gen.MEASUREMENTS]
        # EWMA smooths one measurement across the whole fleet (every host)
        self.ewma_keys = sorted(k for k in self.keys if k.endswith(".cpu_user"))
        # Zipf-popular keys plus a counter and an EWMA key for the replays
        self.check_keys = sorted({self.key_pick.pick() for _ in range(self.CHECK_KEYS)}
                                 | {self.keys[self.kinds == "counter"][0], self.ewma_keys[0]})
        self.series = {k: g.sort_values("ts") for k, g in
                       hist[hist["key"].isin(self.check_keys)].groupby("key")}
        self.warm_up(getattr(self, name) for name in self.READS)

    def read_layout(self, start=None, end=None):
        from redistimeseries_spark.store import read_layout

        t0 = time.perf_counter()
        with self.tr.span("store.read_layout"):
            df = read_layout(self.spark, self.store_dir, start, end)
        if not self.warming:
            self.read_layout_ms.append((time.perf_counter() - t0) * 1e3)
        return df

    # -- the timed loop -------------------------------------------------------
    def measure(self, seconds: float) -> None:
        """Dashboard cycles with every fleet job run once in between, so
        reads and jobs both sample the whole loop; more cycles fill the
        remaining seconds."""
        t0 = time.perf_counter()
        jobs = list(self.JOBS)
        cycles = 0
        while cycles < self.MIN_CYCLES or jobs or time.perf_counter() - t0 < seconds:
            for i, name in enumerate(self.READS, 1):
                getattr(self, name)()
                if jobs and i % self.JOB_EVERY == 0:
                    getattr(self, jobs.pop(0))()
            cycles += 1

    # -- dashboard reads ------------------------------------------------------
    def range_raw_1h(self):
        from redistimeseries_spark.operators.range_query import ts_range

        k, a, b = self.key_pick.pick(), self.now - HOUR, self.now
        self.run_op("range_raw_1h",
                    lambda: ts_range(self.read_layout(a, b), a, b, keys=k),
                    _collect,
                    lambda out: check.same_rows(out, self.oracle.range_raw(k, a, b)))

    def range_avgmax_3h(self):
        from redistimeseries_spark.operators.range_query import ts_range

        k, a, b = self.key_pick.pick(), self.spec.history_start, self.now
        self.run_op("range_avgmax_3h",
                    lambda: ts_range(self.read_layout(a, b), a, b, keys=k,
                                     aggregations=["avg", "max"], bucket_dur=5 * MINUTE),
                    _collect,
                    lambda out: check.same_rows(
                        out, self.oracle.range_aggs(k, a, b, 5 * MINUTE, ["avg", "max"])))

    def mrange_service_1h(self):
        from redistimeseries_spark.operators.multi import ts_mrange

        svc = gen.SERVICES[self.rng.integers(len(gen.SERVICES))]
        a, b = self.now - HOUR, self.now
        self.run_op("mrange_service_1h",
                    lambda: ts_mrange(self.read_layout(a, b), self.labels, [f"service={svc}"],
                                      a, b, aggregations="avg", bucket_dur=5 * MINUTE),
                    _collect,
                    lambda out: check.same_rows(out, self.oracle.mrange_aggs(
                        [("service", [svc])], a, b, 5 * MINUTE, "avg")))

    def _groupby(self, name, agg, reduce):
        from redistimeseries_spark.operators.multi import ts_mrange

        m = self.meas[self.rng.integers(len(self.meas))]
        a, b = self.now - HOUR, self.now
        self.run_op(name,
                    lambda: ts_mrange(self.read_layout(a, b), self.labels, [f"measurement={m}"],
                                      a, b, groupby="region", reduce=reduce,
                                      aggregations=agg, bucket_dur=MINUTE),
                    _collect,
                    lambda out: check.same_rows(out, self.oracle.groupby(
                        [("measurement", [m])], a, b, MINUTE, agg, "region", reduce)))

    def groupby_fused_max_1h(self):
        self._groupby("groupby_fused_max_1h", "max", "max")

    def groupby_two_stage_avg_1h(self):
        self._groupby("groupby_two_stage_avg_1h", "avg", "avg")

    def mget_latest(self):
        from redistimeseries_spark.operators.multi import ts_mget

        host = self.host_pick.pick()
        self.run_op("mget_latest",
                    lambda: ts_mget(None, self.labels, [f"hostname={host}"],
                                    latest_table=self.latest),
                    _collect,
                    lambda out: check.same_rows(out, self.oracle.latest(
                        [k for (k,) in self.oracle.matched([("hostname", [host])])])))

    def queryindex(self):
        from redistimeseries_spark.operators.labels import matched_keys

        region = gen.REGIONS[self.rng.integers(len(gen.REGIONS))]
        ms = sorted(self.rng.choice(self.meas, 2, replace=False))

        def plan():
            with self.tr.span("labels.matched_keys"):
                return matched_keys(self.labels, [f"region={region}",
                                                  f"measurement=({ms[0]},{ms[1]})"])

        self.run_op("queryindex", plan, _collect,
                    lambda out: check.same_rows(out, self.oracle.matched(
                        [("region", [region]), ("measurement", list(ms))])))

    def sql_range_avg_1h(self):
        k, a, b = self.key_pick.pick(), self.now - HOUR, self.now
        sql = (f"SELECT ts_bucket(ts, {MINUTE}, 0) AS ts, avg(value) AS avg FROM ts_samples "
               f"WHERE key = '{k}' AND ts BETWEEN {a} AND {b} GROUP BY 1")
        self.run_op("sql_range_avg_1h", lambda: self.spark.sql(sql), _collect,
                    lambda out: check.same_rows(out, self.oracle.sql_avg(k, a, b, MINUTE)))

    def bm25_top10(self):
        from redistimeseries_spark.pipeline.retrieval import bm25_topk

        q = " ".join(self.rng.choice(self.vocab[:400], 3, replace=False))
        self.run_op("bm25_top10", lambda: bm25_topk(self.docs, q, 10), _collect,
                    lambda out: check.same_rows(out, check.bm25_ref(self.docs_pd, q, 10)))

    # -- fleet-wide jobs ------------------------------------------------------
    def _job(self, name, plan, execute, verify, scanned=None):
        rec = self.run_op(name, plan, execute, verify, kind="job")[1]
        rec["scanned"] = self.n_samples if scanned is None else scanned
        return rec

    def _per_key(self, out, ref_fn):
        """The seeded keys' rows of a (key, ts, value) result against a
        numpy replay of the same series; every series must be present."""
        got: dict[str, list] = {}
        for k, t, v in out:
            got.setdefault(k, []).append((t, v))
        return len(got) == len(self.keys) and all(
            check.same_rows(got.get(k, []), ref_fn(self.series[k]["ts"].to_numpy(),
                                                   self.series[k]["value"].to_numpy()))
            for k in self.check_keys)

    def fleet_avgmax_1h(self):
        from redistimeseries_spark.operators.range_query import ts_range

        self._job("fleet_avgmax_1h",
                  lambda: ts_range(self.read_layout(), aggregations=["avg", "max"],
                                   bucket_dur=HOUR),
                  _collect,
                  lambda out: check.same_rows(out, self.oracle.fleet_aggs(HOUR, ["avg", "max"])))

    def fleet_twa_1h(self):
        from redistimeseries_spark.operators.range_query import ts_range

        self._job("fleet_twa_1h",
                  lambda: ts_range(self.read_layout(), aggregations="twa", bucket_dur=HOUR),
                  _collect,
                  lambda out: self._per_key(out, lambda t, v: check.twa_ref(t, v, HOUR)))

    def fleet_groupby_region_1h(self):
        from redistimeseries_spark.operators.multi import ts_mrange

        self._job("fleet_groupby_region_1h",
                  lambda: ts_mrange(self.read_layout(), self.labels, ["hostname!="],
                                    groupby="region", reduce="avg",
                                    aggregations="avg", bucket_dur=HOUR),
                  _collect,
                  lambda out: check.same_rows(out, self.oracle.groupby(
                      [("measurement", self.meas)], 0, 1 << 62, HOUR, "avg", "region", "avg")))

    def fleet_topk_max_1h(self):
        from redistimeseries_spark.operators.multi import ts_topk

        self._job("fleet_topk_max_1h",
                  lambda: ts_topk(self.read_layout(), HOUR, 10, "max"),
                  _collect,
                  lambda out: check.same_rows(out, self.oracle.topk(HOUR, 10, "max")))

    def fleet_increase_1h(self):
        from redistimeseries_spark.operators.rate import ts_increase

        self._job("fleet_increase_1h",
                  lambda: ts_increase(self.read_layout(), HOUR),
                  _collect,
                  lambda out: self._per_key(out, lambda t, v: check.increase_ref(t, v, HOUR)))

    def fleet_ewma(self):
        from pyspark.sql import functions as F

        from redistimeseries_spark.operators.smooth import ts_ewma

        alpha = 0.1

        def execute(df):
            # one summary row per series: the whole smoothed history is
            # computed, only (count, sum, last) travels to the client
            return _collect(df.groupBy("key").agg(
                F.count("ewma"), F.sum("ewma"), F.max_by("ewma", "ts")))

        def verify(out):
            got = {r[0]: r[1:] for r in out}
            return set(got) == set(self.ewma_keys) and all(
                check.same_rows([got[k]], [check.ewma_ref(
                    self.series[k]["ts"].to_numpy(), self.series[k]["value"].to_numpy(), alpha)])
                for k in self.check_keys if k in got)

        self._job("fleet_ewma",
                  lambda: ts_ewma(self.read_layout(), alpha, keys=self.ewma_keys),
                  execute, verify,
                  scanned=self.n_samples * len(self.ewma_keys) // len(self.keys))

    def corpus_dedup(self):
        from redistimeseries_spark.pipeline.dedup import dedup_pipeline

        def verify(out):
            got = {int(d): int(c) for d, c, _k in out}
            return check.dedup_verdict(got, self.truth, self.docs_pd["text"])

        rec = self._job("corpus_dedup",
                        lambda: dedup_pipeline(self.docs, num_hashes=16, bands=4),
                        _collect, verify, scanned=0)
        self.dedup_s.append(rec["ms"] / 1e3)

    # -- results --------------------------------------------------------------
    def info(self):
        dedup = p50(self.dedup_s)
        return {"pipeline.dedup_s": dedup, "pipeline.docs_per_s": len(self.docs_pd) / dedup,
                "store.read_layout_ms": p50(self.read_layout_ms)}

    def trace_extra(self):
        """LSH candidates and verified pairs of the dedup pipeline's
        near-duplicate stages, counted by calling the stages on the
        exact-collapsed corpus the pipeline feeds them."""
        from pyspark.sql import functions as F

        from redistimeseries_spark.pipeline.dedup import (
            minhash_lsh_pairs, ngram_jaccard_verify)

        reps = self.docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        reps = reps.select("doc_id", "text").cache()
        n_docs = reps.count()
        cand = minhash_lsh_pairs(reps, 16, 4, 5, 1024).cache()
        n_cand = cand.count()
        n_ver = ngram_jaccard_verify(reps, cand, 3, 0.4).count()
        self.ctx.layer["pipeline.lsh_candidates_per_doc"] = n_cand / n_docs
        self.ctx.layer["pipeline.verified_per_candidate"] = n_ver / max(1, n_cand)
        cand.unpersist()
        reps.unpersist()

    def e2e(self):
        out = super().e2e()
        ts_jobs = [o for o in self.jobs() if o["scanned"]]
        out["samples_per_s"] = (sum(o["scanned"] for o in ts_jobs)
                                / (sum(o["ms"] for o in ts_jobs) / 1e3))
        out["stored_bytes_per_sample"] = du_bytes(self.store_dir) / self.n_samples
        return out


class Ingest(Workload):
    """Writes beside reads: a seed batch at set-up, then one timed
    micro-batch through `StreamingStore` with duplicate policy `last` and
    rules twa-1h and avg-1m, then rounds of a freshness MGET on `latest()`,
    a read of each rule's table and a merge-on-read `samples()` range."""

    name = "ingest"
    MIN_READ_ROUNDS = 3  # after set-up's warm-up round
    COMPACT_EVERY = 2  # fires on batch 1, the timed batch

    def setup(self):
        from redistimeseries_spark.streaming.compaction import CompactionRule
        from redistimeseries_spark.streaming.ingest import StreamingStore

        spec = self.spec
        self.keys, _, labels_pd = gen.series_catalog(spec, self.seed)
        self.labels = self.spark.read.parquet(self.write_parquet(labels_pd, "labels.parquet"))
        self.labels = self.labels.cache()
        self.labels.count()
        # a small seed batch (a sparse first hour of every series) creates
        # the store's tables and warms the JIT before timing; the timed
        # batch re-sends some of its samples and delivers the rest late
        self.batches = gen.ingest_batches(spec, self.seed, spec.history_end + spec.cadence_ms)
        self.mix = gen.ingest_mix(*self.batches)
        if self.mix["resent"] == 0 or self.mix["late"] == 0 or self.mix["repeats"]:
            raise RuntimeError(f"timed ingest batch needs re-sent and late samples "
                               f"and no repeats: {self.mix}")
        # one rule per recompute path: twa's cross-bucket repair and the
        # plain per-bucket aggregate (a max-1h rule would take avg's path)
        self.rules = [CompactionRule(None, "_twa1h", "twa", HOUR),
                      CompactionRule(None, "_avg1m", "avg", MINUTE)]
        self.root = os.path.join(self.ctx.tmp, "ingest")
        self.store = StreamingStore(self.spark, self.root, "last", self.rules,
                                    compact_every=self.COMPACT_EVERY)
        self.host_pick = gen.KeyPicker(sorted({k.split(".")[0] for k in self.keys}),
                                       spec.zipf_s, self.rng)
        self.key_pick = gen.KeyPicker(self.keys, spec.zipf_s, self.rng)
        self.fresh_ms: list[float] = []
        self.compactions = 0
        self._batch(0)
        self.warm_up([lambda: self._read_round(-1)])

    def measure(self, seconds: float) -> None:
        """One timed batch whatever the clock says; only the reads fill
        the remaining seconds."""
        t0 = time.perf_counter()
        self._batch(1)
        rounds = 0
        while rounds < self.MIN_READ_ROUNDS or time.perf_counter() - t0 < seconds:
            self._read_round(rounds)
            rounds += 1

    def _batch(self, i: int):
        pdf = self.batches[i]
        # the micro-batch arrives as a parquet file, as from a file source
        df = self.spark.read.parquet(self.write_parquet(pdf, f"batch-{i}.parquet"))
        log_inode = os.stat(self.store.log_dir).st_ino if i else None
        self.handed_over = time.perf_counter()
        self.bookkeeping0 = self.tr.bookkeeping_s
        with self.tr.op("ingest_batch") as rec:
            with self.tr.span("streaming.process_batch"):
                self.store.process_batch(df, i)
        rec.update(kind="job", rows=len(pdf))
        # compaction rewrites the log aside and renames it into place
        if log_inode is not None and os.stat(self.store.log_dir).st_ino != log_inode:
            self.compactions += 1
            rec["compacted"] = True
        if i:
            self.ops.append(rec)
        self.newest = pdf[pdf["ts"] == pdf["ts"].max()]

    def _key_truth(self, k: str, a: int = 0):
        g = self.truth_by_key[k]
        return g[g["ts"] >= a]

    @staticmethod
    def _rule_ref(rule, state):
        """The rule's closed buckets over a (key, ts, value) state."""
        if rule.agg == "twa":
            return check.twa_rule_ref(state, rule.bucket_ms)
        return list(check.bucket_aggs_ref(state, rule.bucket_ms, rule.agg)
                    .itertuples(index=False, name=None))

    def _read_round(self, r: int):
        """A freshness MGET, each rule's table for one key and that key's
        last hour of merged samples, each checked against the last-policy
        fold of both batches (the store's state once the batch is in).
        Round -1 is set-up's untimed warm-up."""
        from pyspark.sql import functions as F

        from redistimeseries_spark.operators.multi import ts_mget
        from redistimeseries_spark.streaming.ingest import DAY_MS

        newest_ts = int(self.newest["ts"].iloc[0])
        host = self.host_pick.pick()
        want = self.newest[self.newest["key"].str.startswith(host + ".")]
        self.run_op(
            "fresh_mget",
            lambda: ts_mget(None, self.labels, [f"hostname={host}"],
                            latest_table=self.store.latest()),
            _collect,
            lambda out: check.same_rows(
                [x for x in out if x[1] == newest_ts],
                list(want.itertuples(index=False, name=None))))
        if r == 0:  # hand-over to a read that shows the batch's newest samples
            spent = time.perf_counter() - self.handed_over
            traced = self.tr.bookkeeping_s - self.bookkeeping0  # counter reads, traced only
            self.fresh_ms.append((spent - traced) * 1e3)
        k = self.key_pick.pick()
        for rule in self.rules:
            self.run_op(f"rule_read_{rule.dest_suffix.lstrip('_')}",
                        lambda: self.store.rule_table(rule).filter(F.col("key") == k),
                        _collect,
                        lambda out, rule=rule: check.same_rows(
                            out, self._rule_ref(rule, self._key_truth(k))))
        a = newest_ts - HOUR
        self.run_op("samples_range_1h",
                    lambda: self.store.samples().filter(
                        (F.expr(f"ts div {DAY_MS}") >= a // DAY_MS) & (F.col("key") == k)
                        & (F.col("ts") >= a)),
                    _collect,
                    lambda out: check.same_rows(out, list(
                        self._key_truth(k, a).itertuples(index=False, name=None))))

    def check(self):
        """The store's final state against the last-policy fold of every
        delivered batch: merged samples, the latest table and each rule's
        closed buckets (numpy/pandas replays), and compaction fired."""
        truth = gen.last_policy_state(self.batches)
        self.truth_by_key = dict(iter(truth.groupby("key")))
        super().check()
        self.verdict("samples", check.same_table(self.store.samples().toArrow(), truth))
        latest = truth.sort_values("ts").groupby("key").tail(1)
        self.verdict("latest", check.same_rows(
            _collect(self.store.latest()), list(latest.itertuples(index=False, name=None))))
        for rule in self.rules:
            got = self.store.rule_table(rule).select("key", "ts", "value").toArrow()
            want = pd.DataFrame(self._rule_ref(rule, truth), columns=["key", "ts", "value"])
            self.verdict(f"rule{rule.dest_suffix}", check.same_table(got, want))
        self.verdict("compaction_fired", self.compactions > 0)
        self.truth_rows = len(truth)
        self.ctx.layer["ingest.log_files"] = self.store.log_file_count()

    def info(self):
        return {
            "ingest.batch_p50_ms": p50([o["ms"] for o in self.jobs()]),
            "ingest.freshness_p50_ms": p50(self.fresh_ms),
            "ingest.compactions": float(self.compactions),
            **{f"ingest.batch_{k}": float(v) for k, v in self.mix.items()},
        }

    def e2e(self):
        out = super().e2e()
        jobs = self.jobs()
        out["samples_per_s"] = sum(o["rows"] for o in jobs) / (sum(o["ms"] for o in jobs) / 1e3)
        out["stored_bytes_per_sample"] = du_bytes(self.root) / self.truth_rows
        return out


WORKLOADS = {w.name: w for w in (Analytics, Ingest)}
