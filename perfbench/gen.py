"""Seeded TSBS-devops-shaped data generator for the sparkts benchmark.

Everything the benchmark feeds the engine comes from here, derived from one
`--seed`: the sample history, the label index, the micro-batch stream for
ingestion (with late, re-sent and NaN samples), the Zipf-skewed query keys
and a document corpus with planted exact and near duplicates.  The engine
only ever sees the generated data; the knobs are recorded in every result.

Self-test (same seed -> same content hash, other seed -> other hash, smoke
size runs quickly):

    python3 perfbench/gen.py --self-test
"""

from __future__ import annotations

import argparse
import hashlib
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

DAY_MS = 86_400_000
# 2024-01-01T00:00:00Z: the day boundary the history straddles
EPOCH_DAY_MS = 1_704_067_200_000

MEASUREMENTS = [
    # (name, kind): counters grow monotonically and occasionally reset
    ("cpu_user", "gauge"),
    ("cpu_system", "gauge"),
    ("cpu_iowait", "gauge"),
    ("mem_used_pct", "gauge"),
    ("disk_used_pct", "gauge"),
    ("load1", "gauge"),
    ("temp_c", "gauge"),
    ("net_rx_bytes", "counter"),
    ("net_tx_bytes", "counter"),
    ("disk_reads", "counter"),
]
REGIONS = [
    "us-east-1", "us-east-2", "us-west-1", "us-west-2",
    "eu-west-1", "eu-central-1", "ap-south-1", "ap-northeast-1",
]
SERVICES = [f"svc-{i}" for i in range(10)]


@dataclass(frozen=True)
class Spec:
    """Generator knobs; `asdict(spec)` is printed with every result."""

    hosts: int = 100  # series = hosts * len(MEASUREMENTS)
    cadence_ms: int = 10_000
    history_ms: int = 3 * 3_600_000  # centred on a day boundary
    history_nan_frac: float = 0.001
    zipf_s: float = 1.1  # query-key popularity exponent
    batch_samples: int = 50_000  # ingest micro-batch size (approximate)
    seed_every_ms: int = 600_000  # the seed batch's sampling of the first hour
    late_frac: float = 0.10  # share of a batch arriving late ...
    late_max_ms: int = 3_600_000  # ... by up to this much
    dup_frac: float = 0.05  # re-sent (key, ts) with a corrected value
    nan_frac: float = 0.01  # NaN share of ingested values
    docs: int = 600
    doc_words: int = 150
    vocab: int = 4000
    exact_dup_frac: float = 0.08
    near_dup_frac: float = 0.08

    @property
    def series(self) -> int:
        return self.hosts * len(MEASUREMENTS)

    @property
    def history_start(self) -> int:
        return EPOCH_DAY_MS - self.history_ms // 2

    @property
    def history_end(self) -> int:
        """Newest history timestamp (inclusive) — the query anchor."""
        return self.history_start + self.history_ms - self.cadence_ms


SMOKE = Spec(hosts=4, history_ms=3_600_000, batch_samples=2_000, docs=60, doc_words=40)


def series_catalog(spec: Spec, seed: int):
    """(keys, kinds, labels): key order is host-major; labels is the long
    (key, label, value) table the engine's label index expects."""
    rng = np.random.default_rng([seed, 1])
    region = rng.integers(0, len(REGIONS), spec.hosts)
    service = rng.integers(0, len(SERVICES), spec.hosts)
    keys, kinds, rows = [], [], []
    for h in range(spec.hosts):
        host = f"host_{h:04d}"
        for m, kind in MEASUREMENTS:
            key = f"{host}.{m}"
            keys.append(key)
            kinds.append(kind)
            rows += [
                (key, "hostname", host),
                (key, "region", REGIONS[region[h]]),
                (key, "service", SERVICES[service[h]]),
                (key, "measurement", m),
            ]
    labels = pd.DataFrame(rows, columns=["key", "label", "value"])
    return np.array(keys), np.array(kinds), labels


def _values(spec: Spec, kinds: np.ndarray, ts: np.ndarray, rng) -> np.ndarray:
    """(series, len(ts)) value matrix: gauges are a daily sine plus a
    random walk, counters are gamma-increment sums with rare resets."""
    s, n = len(kinds), len(ts)
    out = np.empty((s, n))
    phase = rng.uniform(0, 2 * np.pi, s)
    level = rng.uniform(10, 80, s)
    day = 2 * np.pi * (ts % DAY_MS) / DAY_MS
    walk = np.cumsum(rng.normal(0, 0.3, (s, n)), axis=1)
    gauge = level[:, None] + 8 * np.sin(day[None, :] + phase[:, None]) + walk
    rate = rng.uniform(50, 5000, s)
    inc = rng.gamma(2.0, 1.0, (s, n)) * rate[:, None]
    for i in np.nonzero(kinds == "counter")[0]:
        c = np.cumsum(inc[i])
        resets = np.nonzero(rng.random(n) < 2e-4)[0]
        for r in resets:  # the counter restarts from zero at sample r
            c[r:] -= c[r] - inc[i, r]
        out[i] = c
    g = kinds == "gauge"
    out[g] = gauge[g]
    return np.round(out, 3)


def history(spec: Spec, seed: int) -> pd.DataFrame:
    """The stored sample history: every series on the cadence grid over
    `history_ms`, a `history_nan_frac` share of values NaN."""
    keys, kinds, _ = series_catalog(spec, seed)
    rng = np.random.default_rng([seed, 2])
    ts = np.arange(spec.history_start, spec.history_end + 1, spec.cadence_ms, dtype=np.int64)
    vals = _values(spec, kinds, ts, rng)
    vals[rng.random(vals.shape) < spec.history_nan_frac] = np.nan
    return pd.DataFrame(
        {
            "key": np.repeat(keys, len(ts)),
            "ts": np.tile(ts, len(keys)),
            "value": vals.ravel(),
        }
    )


class KeyPicker:
    """Zipf-popular choice over a seeded permutation of the series (and of
    any other categorical: hosts, regions, ...)."""

    def __init__(self, items, zipf_s: float, rng):
        self.items = list(items)
        self.rng = rng
        order = rng.permutation(len(self.items))
        w = 1.0 / np.arange(1, len(self.items) + 1) ** zipf_s
        self.p = np.empty(len(self.items))
        self.p[order] = w / w.sum()

    def pick(self):
        return self.items[self.rng.choice(len(self.items), p=self.p)]


def ingest_batches(spec: Spec, seed: int, start_ts: int):
    """The ingest stream continuing the fleet forward in time from
    `start_ts`, as two micro-batches: a seed batch and the timed batch.

    The fleet's first `late_max_ms` after `start_ts` are generated in full,
    but the seed batch delivers only every `seed_every_ms`-th step of them
    plus every series' newest sample.  The timed batch, about
    `batch_samples` in all, carries the next cadence steps of every series,
    a `late_frac` share of samples from that first stretch that were never delivered (late by up to `late_max_ms`)
    and a `dup_frac` share of re-sent seed-batch samples with corrected
    values.  A re-send never targets a key's newest sample, so every one
    meets a stored sample and the duplicate policy alone decides its value.
    `nan_frac` of all values are NaN; no (key, ts) repeats within a batch.

    Returns [seed batch, timed batch] as pandas frames."""
    keys, kinds, _ = series_catalog(spec, seed)
    rng = np.random.default_rng([seed, 3])
    n_late = int(spec.late_frac * spec.batch_samples)
    n_dup = int(spec.dup_frac * spec.batch_samples)
    steps = max(1, (spec.batch_samples - n_late - n_dup) // len(keys))
    prior = spec.late_max_ms // spec.cadence_ms
    ts_all = start_ts + np.arange(prior + steps, dtype=np.int64) * spec.cadence_ms
    vals = _values(spec, kinds, ts_all, rng)

    def frame(sl):
        return pd.DataFrame(
            {
                "key": np.repeat(keys, len(ts_all[sl])),
                "ts": np.tile(ts_all[sl], len(keys)),
                "value": vals[:, sl].ravel(),
            }
        )

    stride = max(1, spec.seed_every_ms // spec.cadence_ms)
    in_seed = (np.arange(prior) % stride == 0) | (np.arange(prior) == prior - 1)
    first = frame(slice(0, prior))
    seeded = np.tile(in_seed, len(keys))
    seed_batch = first[seeded]
    missed = first[~seeded]
    late = missed.iloc[rng.choice(len(missed), min(n_late, len(missed)), replace=False)]
    cand = seed_batch[seed_batch["ts"] < ts_all[prior - 1]]
    dup = cand.iloc[rng.choice(len(cand), min(n_dup, len(cand)), replace=False)].copy()
    dup["value"] = np.round(dup["value"] + rng.normal(0, 1, len(dup)), 3)
    timed = pd.concat([frame(slice(prior, None)), late, dup], ignore_index=True)
    batches = []
    for batch in (seed_batch, timed):
        batch = batch.copy()
        batch.loc[rng.random(len(batch)) < spec.nan_frac, "value"] = np.nan
        batch = batch.sample(frac=1.0, random_state=int(rng.integers(1 << 31)))
        batches.append(batch.reset_index(drop=True))
    return batches


def ingest_mix(seed_batch: pd.DataFrame, batch: pd.DataFrame) -> dict:
    """The timed batch's samples by kind: re-sent (its (key, ts) is in the
    seed batch), late (older than the seed batch's newest, first arrival)
    and fresh."""
    resent = pd.MultiIndex.from_frame(batch[["key", "ts"]]).isin(
        pd.MultiIndex.from_frame(seed_batch[["key", "ts"]]))
    late = ~resent & (batch["ts"].to_numpy() <= seed_batch["ts"].max())
    return {"resent": int(resent.sum()), "late": int(late.sum()),
            "fresh": int(len(batch) - resent.sum() - late.sum()),
            "repeats": int(batch.duplicated(["key", "ts"]).sum())}


def last_policy_state(batches) -> pd.DataFrame:
    """Final (key, ts, value) after folding batches in arrival order under
    duplicate policy `last`: the newest non-NaN arrival wins, NaN only when
    every arrival was NaN."""
    allb = pd.concat(
        [b.assign(_order=i) for i, b in enumerate(batches)], ignore_index=True
    )
    valid = allb[~allb["value"].isna()].sort_values("_order")
    last_valid = valid.drop_duplicates(["key", "ts"], keep="last")
    keys_ts = allb.drop_duplicates(["key", "ts"])[["key", "ts"]]
    out = keys_ts.merge(last_valid[["key", "ts", "value"]], on=["key", "ts"], how="left")
    return out.sort_values(["key", "ts"]).reset_index(drop=True)


def corpus(spec: Spec, seed: int):
    """(docs, truth, vocab): docs is (doc_id, text); truth maps every doc_id to the
    min doc_id of its planted duplicate cluster.  Near duplicates change
    one word of a long document, so their similarity is far above both the
    LSH banding knee and the verify threshold."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i}" for i in range(spec.vocab)])
    wp = 1.0 / np.arange(1, spec.vocab + 1) ** 0.8
    wp /= wp.sum()
    texts, parent = [], []
    originals: list[int] = []
    for i in range(spec.docs):
        r = rng.random()
        if originals and r < spec.exact_dup_frac:
            src = originals[rng.integers(len(originals))]
            texts.append(texts[src])
            parent.append(src)
        elif originals and r < spec.exact_dup_frac + spec.near_dup_frac:
            src = originals[rng.integers(len(originals))]
            words = texts[src].split(" ")
            words[rng.integers(len(words))] = f"edit{i}"
            texts.append(" ".join(words))
            parent.append(src)
        else:
            texts.append(" ".join(rng.choice(vocab, spec.doc_words, p=wp)))
            parent.append(i)
            originals.append(i)
    # a planted copy's parent is always an original, so one hop is its root
    truth = {i: min(i, parent[i]) for i in range(spec.docs)}
    docs = pd.DataFrame({"doc_id": np.arange(spec.docs, dtype=np.int64), "text": texts})
    return docs, truth, vocab


def to_parquet(df: pd.DataFrame, path: str) -> None:
    """Write a frame with NaN kept as NaN: pandas' own writer turns float
    NaN into parquet NULL, which is not a sample value in the engine's
    model (NaN is)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {c: pa.array(df[c].to_numpy(), from_pandas=False) for c in df.columns}
    pq.write_table(pa.table(cols), path)


def content_hash(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for f in frames:
        h.update(pd.util.hash_pandas_object(f, index=False).to_numpy().tobytes())
    return h.hexdigest()[:16]


def spec_dict(spec: Spec) -> dict:
    d = asdict(spec)
    d["series"] = spec.series
    return d


def _all_content(spec: Spec, seed: int) -> str:
    hist = history(spec, seed)
    _, _, labels = series_catalog(spec, seed)
    batches = ingest_batches(spec, seed, spec.history_end + spec.cadence_ms)
    truth = last_policy_state(batches)
    docs, _, _ = corpus(spec, seed)
    return content_hash(hist, labels, *batches, truth, docs)


def self_test() -> int:
    t0 = time.perf_counter()
    a, b, c = _all_content(SMOKE, 7), _all_content(SMOKE, 7), _all_content(SMOKE, 8)
    smoke_s = time.perf_counter() - t0
    # the timed ingest batch mixes every kind of sample, without repeats
    mix = ingest_mix(*ingest_batches(SMOKE, 7, SMOKE.history_end + SMOKE.cadence_ms))
    ok = (a == b and a != c and smoke_s < 30 and mix["repeats"] == 0
          and min(mix["resent"], mix["late"], mix["fresh"]) > 0)
    print(f"gen self-test: same-seed {a}=={b}, other-seed {c}, ingest mix {mix}, "
          f"smoke {smoke_s:.2f}s -> {'ok' if ok else 'FAILED'}")
    return 0 if ok else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    if a.self_test:
        sys.exit(self_test())
    print(_all_content(Spec(), a.seed))
