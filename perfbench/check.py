"""Correctness references for the benchmark, computed outside the timed
region from the generated data alone: DuckDB for the SQL-expressible query
shapes, small numpy/pandas replays for TWA, counter increase, EWMA, the
ingest rules and BM25, and the planted truth for deduplication."""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-6


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive equality of two row lists (tuples), floats within
    REL_TOL and NaN equal to NaN."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(x) if isinstance(x, float) else x for x in r[:2])
    return all(
        all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(sorted(map(tuple, got), key=key), sorted(map(tuple, want), key=key))
    )


def same_table(got, want: pd.DataFrame) -> bool:
    """same_rows for a (key, ts, value) Arrow table against a frame,
    vectorised for whole-store results; a NULL value never equals NaN."""
    if got.num_rows != len(want) or got.column("value").null_count:
        return False
    g = got.to_pandas().sort_values(["key", "ts"], ignore_index=True)
    w = want.sort_values(["key", "ts"], ignore_index=True)
    a, b = g["value"].to_numpy(float), w["value"].to_numpy(float)
    with np.errstate(invalid="ignore"):
        close = np.abs(a - b) <= REL_TOL * np.maximum(1.0, np.maximum(np.abs(a), np.abs(b)))
    return bool((g["key"].to_numpy() == w["key"].to_numpy()).all()
                and (g["ts"].to_numpy() == w["ts"].to_numpy()).all()
                and (close | (np.isnan(a) & np.isnan(b))).all())


class Oracle:
    """DuckDB over the same generated frames the engine was given."""

    def __init__(self, samples_path: str, labels_path: str):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW s AS SELECT * FROM read_parquet('{samples_path}')")
        self.con.execute(f"CREATE VIEW l AS SELECT * FROM read_parquet('{labels_path}')")

    def rows(self, sql: str, *params):
        return [tuple(r) for r in self.con.execute(sql, list(params)).fetchall()]

    def range_raw(self, key, a, b):
        return self.rows("SELECT key, ts, value FROM s WHERE key = ? AND ts BETWEEN ? AND ?", key, a, b)

    def _bucket_aggs(self, keys_sql, a, b, dur, aggs):
        cols = ", ".join(
            f"{agg}(value) FILTER (WHERE NOT isnan(value))" for agg in aggs
        )
        return (
            f"SELECT key, ts - (ts % {dur}) AS b, {cols} FROM s "
            f"WHERE key IN ({keys_sql}) AND ts BETWEEN {a} AND {b} "
            f"GROUP BY 1, 2 HAVING count(*) FILTER (WHERE NOT isnan(value)) > 0"
        )

    def range_aggs(self, key, a, b, dur, aggs):
        return self.rows(self._bucket_aggs("?", a, b, dur, aggs), key)

    def fleet_aggs(self, dur, aggs):
        return self.rows(self._bucket_aggs("SELECT DISTINCT key FROM s", 0, 1 << 62, dur, aggs))

    def matched(self, preds: list[tuple[str, list[str]]]):
        """Keys whose label `l` takes one of the values, for every (l, vals)."""
        conds = " AND ".join(
            f"key IN (SELECT key FROM l WHERE label = '{lbl}' AND value IN "
            f"({', '.join(repr(v) for v in vals)}))"
            for lbl, vals in preds
        )
        return self.rows(f"SELECT DISTINCT key FROM l WHERE {conds}")

    def mrange_aggs(self, preds, a, b, dur, agg):
        keys = ", ".join(f"'{k}'" for (k,) in self.matched(preds))
        return self.rows(self._bucket_aggs(keys, a, b, dur, [agg]))

    def groupby(self, preds, a, b, dur, agg, group_label, reduce):
        """Per-series bucket aggregate, then the cross-series reducer per
        (group, bucket) — the GROUPBY/REDUCE definition."""
        keys = ", ".join(f"'{k}'" for (k,) in self.matched(preds))
        per = self._bucket_aggs(keys, a, b, dur, [agg])
        return self.rows(
            f"SELECT '{group_label}=' || l.value AS key, p.b AS ts, {reduce}(p.v) "
            f"FROM ({per}) p(key, b, v) JOIN l ON l.key = p.key AND l.label = '{group_label}' "
            f"GROUP BY 1, 2"
        )

    def latest(self, keys):
        inlist = ", ".join(f"'{k}'" for k in keys)
        return self.rows(
            f"SELECT key, max(ts), arg_max(value, ts) FROM s WHERE key IN ({inlist}) GROUP BY 1"
        )

    def sql_avg(self, key, a, b, dur):
        # Spark SQL avg over NaN is NaN, like DuckDB's
        return self.rows(
            f"SELECT ts - (ts % {dur}) AS b, avg(value) FROM s "
            f"WHERE key = ? AND ts BETWEEN ? AND ? GROUP BY 1",
            key, a, b,
        )

    def topk(self, dur, n, agg):
        return self.rows(
            f"SELECT b, key, v, rnk FROM ("
            f" SELECT b, key, v, row_number() OVER (PARTITION BY b ORDER BY v DESC, key) AS rnk"
            f" FROM (SELECT key, ts - (ts % {dur}) AS b,"
            f"   round({agg}(value) FILTER (WHERE NOT isnan(value)), 6) AS v"
            f"   FROM s GROUP BY 1, 2) WHERE v IS NOT NULL AND NOT isnan(v))"
            f" WHERE rnk <= {n}"
        )


def _valid(ts: np.ndarray, v: np.ndarray):
    ok = ~np.isnan(v)
    return ts[ok], v[ok]


def twa_ref(ts: np.ndarray, v: np.ndarray, dur: int) -> list[tuple[int, float]]:
    """Time-weighted average per bucket over the whole history: trapezoids
    between in-bucket samples, extended to the bucket edges by linear
    interpolation towards the neighbouring sample outside the bucket; a
    single-point bucket reports its sample.  NaN samples are skipped."""
    ts, v = _valid(ts, v)
    out = []
    b = ts - ts % dur
    for bk in np.unique(b):
        idx = np.nonzero(b == bk)[0]
        i0, i1 = idx[0], idx[-1]
        t, x = ts[i0 : i1 + 1].astype(float), v[i0 : i1 + 1]
        area = float(np.sum((x[1:] + x[:-1]) * (t[1:] - t[:-1]) / 2.0))
        first, last = t[0], t[-1]
        if i0 > 0:
            ta = float(bk)
            va = v[i0 - 1] + (ta - ts[i0 - 1]) * (x[0] - v[i0 - 1]) / (t[0] - ts[i0 - 1])
            area += (va + x[0]) * (t[0] - ta) / 2.0
            first = ta
        if i1 + 1 < len(ts):
            tb = float(bk + dur)
            vb = x[-1] + (tb - t[-1]) * (v[i1 + 1] - x[-1]) / (ts[i1 + 1] - t[-1])
            area += (vb + x[-1]) * (tb - t[-1]) / 2.0
            last = tb
        out.append((int(bk), x[-1] if last == first else area / abs(last - first)))
    return out


def increase_ref(ts: np.ndarray, v: np.ndarray, dur: int) -> list[tuple[int, float]]:
    """Reset-aware counter increase per bucket over the valid-sample chain:
    a step is v - prev, or v itself after a reset (v < prev)."""
    ts, v = _valid(ts, v)
    steps = np.where(v[1:] >= v[:-1], v[1:] - v[:-1], v[1:])
    b = ts[1:] - ts[1:] % dur
    return [(int(bk), float(steps[b == bk].sum())) for bk in np.unique(b)]


def ewma_ref(ts: np.ndarray, v: np.ndarray, alpha: float):
    """(count, sum, last) of y_0 = x_0, y_i = alpha x_i + (1 - alpha) y_{i-1}
    over the valid samples."""
    _, v = _valid(ts, v)
    y = np.empty(len(v))
    acc = v[0]
    for i, x in enumerate(v):
        acc = alpha * x + (1 - alpha) * acc if i else x
        y[i] = acc
    return len(y), float(y.sum()), float(y[-1])


def bucket_aggs_ref(state: pd.DataFrame, dur: int, agg: str) -> pd.DataFrame:
    """(key, ts, value) of a compaction rule over the final ingest state:
    closed buckets (before each key's newest sample's bucket) that hold a
    valid sample."""
    d = state.assign(b=state["ts"] - state["ts"] % dur)
    open_b = d.groupby("key")["ts"].transform("max")
    d = d[d["b"] < open_b - open_b % dur]
    d = d[~d["value"].isna()]
    g = d.groupby(["key", "b"])["value"]
    out = (g.mean() if agg == "avg" else g.max()).reset_index()
    return out.rename(columns={"b": "ts"})


def twa_rule_ref(state: pd.DataFrame, dur: int) -> list[tuple]:
    rows = []
    for key, g in state.groupby("key"):
        g = g.sort_values("ts")
        ts, v = g["ts"].to_numpy(), g["value"].to_numpy()
        open_b = ts.max() - ts.max() % dur
        rows += [(key, b, x) for b, x in twa_ref(ts, v, dur) if b < open_b]
    return rows


def dedup_verdict(got: dict, truth: dict, texts, min_recall: float = 0.9) -> bool:
    """Dedup output against the planted truth.  Nothing may merge across
    planted clusters and every exact copy must share its original's
    canonical doc; near copies are found by MinHash-LSH, which proposes
    candidates with a probability below one, so at least `min_recall` of
    them must be found."""
    if set(got) != set(truth) or any(truth[c] != truth[d] for d, c in got.items()):
        return False
    near = found = 0
    for d, root in truth.items():
        if d == root:
            continue
        if texts[d] == texts[root]:
            if got[d] != got[root]:
                return False
        else:
            near += 1
            found += got[d] == got[root]
    return near == 0 or found / near >= min_recall


WORD_RE = "[^a-z0-9]+"


def bm25_ref(docs: pd.DataFrame, query: str, k: int, k1=1.2, b=0.75):
    terms = sorted({t for t in re.split(WORD_RE, query.lower()) if t})
    toks = [[t for t in re.split(WORD_RE, s.lower()) if t] for s in docs["text"]]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {t: sum(1 for d in toks if t in d) for t in terms}
    scores = []
    for doc_id, d in zip(docs["doc_id"], toks):
        s, hit = 0.0, False
        for t in terms:
            tf = d.count(t)
            if tf:
                hit = True
                idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl))
        if hit:
            scores.append((round(s, 6), int(doc_id)))
    scores.sort(key=lambda r: (-r[0], r[1]))
    return [(d, s) for s, d in scores[:k]]
