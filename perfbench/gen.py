"""Seeded input generators. Each returns the realised input properties,
which the benchmark prints beside its metrics; the engine only ever sees
the files these functions write."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
# (label, share, min bytes, max bytes) of the free-form ``props`` string
PAYLOAD_MIX = (("small", 0.70, 16, 64), ("medium", 0.25, 200, 600), ("large", 0.05, 2000, 4000))
INVALID_SHARE = 0.02  # events with a null event_type, rejected by the envelope
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

EVENT_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789", dtype=np.uint8)


def _props(rng: np.random.Generator, n: int) -> tuple[list[str], dict]:
    """``props`` JSON strings whose sizes follow PAYLOAD_MIX."""
    shares = np.array([m[1] for m in PAYLOAD_MIX])
    kind = rng.choice(len(PAYLOAD_MIX), size=n, p=shares / shares.sum())
    lo = np.array([m[2] for m in PAYLOAD_MIX])[kind]
    hi = np.array([m[3] for m in PAYLOAD_MIX])[kind]
    sizes = rng.integers(lo, hi + 1)
    pool = _ALPHABET[rng.integers(0, len(_ALPHABET), int(sizes.max()) + 4096)].tobytes().decode()
    starts = rng.integers(0, 4096, n)
    props = [f'{{"pad":"{pool[s:s + z]}"}}' for s, z in zip(starts.tolist(), sizes.tolist())]
    mix = {m[0]: round(float((kind == i).mean()), 4) for i, m in enumerate(PAYLOAD_MIX)}
    return props, mix


def _event_columns(rng: np.random.Generator, n: int, first_id: int) -> tuple[dict, dict]:
    types = rng.integers(0, len(EVENT_TYPES), n)
    invalid = rng.random(n) < INVALID_SHARE
    props, mix = _props(rng, n)
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": rng.integers(0, 5000, n),
        "event_type": [None if bad else EVENT_TYPES[t] for t, bad in zip(types.tolist(), invalid.tolist())],
        "value": rng.integers(0, 10_000_000, n) / 100.0,
        "props": props,
    }
    return cols, {"invalid_share": round(float(invalid.mean()), 4), "payload_mix": mix}


def wire_events(seed: int, n: int, files: int, out_dir: str) -> dict:
    """``n`` events with a payload-size mix and a small invalid share,
    written as ``files`` parquet files under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    cols, props = _event_columns(rng, n, 0)
    cols["ts"] = BASE_TS_US + rng.integers(0, 30 * 86_400 * 1_000_000, n)
    table = pa.table({f.name: pa.array(cols[f.name], f.type) for f in EVENT_SCHEMA}, schema=EVENT_SCHEMA)
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per), os.path.join(out_dir, f"part-{i:03d}.parquet"))
    props["events"] = n
    props["mean_payload_bytes"] = round(float(np.mean([len(p) for p in cols["props"]])), 1)
    return props


STREAM_SCHEMA = pa.schema(list(EVENT_SCHEMA) + [("due_ms", pa.int64())])
RESEND_SHARE = 0.05  # of each slice: copies of events from the previous 2 s


class StreamPlan:
    """An open-loop arrival schedule: ``rate`` events/s in slices of
    ``slice_s`` seconds, about RESEND_SHARE of each slice being re-sent
    copies of events from the previous four slices.

    Offsets are relative; ``slice_table(k, t0_ms)`` stamps each row's due
    time (and event time ``ts``) against the wall-clock start ``t0_ms``."""

    def __init__(self, seed: int, rate: int, slice_s: float, n_slices: int):
        rng = np.random.default_rng([seed, 2])
        per = int(rate * slice_s)
        n = per * n_slices
        cols, self.props = _event_columns(rng, n, 0)
        # due time of event i: its slot in the arrival schedule
        cols["due_off_ms"] = (np.arange(n) * 1000 // rate).astype(np.int64)
        self.cols = cols
        self.slices: list[np.ndarray] = []
        resent = 0
        for k in range(n_slices):
            rows = np.arange(k * per, (k + 1) * per)
            if k > 0:
                n_dup = rng.binomial(per, RESEND_SHARE)
                lo = max(0, (k - 4) * per)
                dups = rng.integers(lo, k * per, n_dup)
                rows = np.concatenate([rows, dups])
                resent += n_dup
            self.slices.append(rows)
        total = sum(len(s) for s in self.slices)
        valid = np.array([t is not None for t in cols["event_type"]])
        self.distinct_valid_ids = set(cols["event_id"][valid].tolist())
        self.props.update(
            {
                "rate_events_per_s": rate,
                "slice_s": slice_s,
                "slices": n_slices,
                "events_sent": total,
                "resend_share": round(resent / total, 4),
            }
        )

    def slice_table(self, k: int, t0_ms: int) -> pa.Table:
        rows = self.slices[k]
        due = t0_ms + self.cols["due_off_ms"][rows]
        data = {
            "event_id": self.cols["event_id"][rows],
            "ts": due * 1000,
            "user_id": self.cols["user_id"][rows],
            "event_type": [self.cols["event_type"][i] for i in rows.tolist()],
            "value": self.cols["value"][rows],
            "props": [self.cols["props"][i] for i in rows.tolist()],
            "due_ms": due,
        }
        return pa.table({f.name: pa.array(data[f.name], f.type) for f in STREAM_SCHEMA}, schema=STREAM_SCHEMA)


# Vocabulary and language mix of the repo's documents fixtures.
VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
STOP_EXTRA = {"es": ("el", "la", "que"), "de": ("der", "und", "das"), "fr": ("le", "et", "les"), "zh": ("shi", "zai", "ren")}
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10


def _dup_plan(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Per row: -1 for an original, else the index of the earlier original
    it copies; and a flag marking near (edited) copies. Exactly
    EXACT_DUP_SHARE and NEAR_DUP_SHARE of the rows are copies, so seeds
    differ in content, not in how much of it is duplicated."""
    n_exact, n_near = round(n * EXACT_DUP_SHARE), round(n * NEAR_DUP_SHARE)
    copies = 1 + rng.permutation(n - 1)[: n_exact + n_near]
    src = np.full(n, -1)
    near = np.zeros(n, dtype=bool)
    near[copies[n_exact:]] = True
    for i in sorted(copies.tolist()):
        originals = np.nonzero(src[:i] < 0)[0]
        src[i] = originals[int(rng.integers(0, len(originals)))]
    return src, near


def curate_corpus(seed: int, n_docs: int, n_vecs: int, out_dir: str) -> dict:
    """``documents`` and ``embeddings`` tables with stated shares of exact
    duplicates and near duplicates (one word dropped or swapped; one
    coordinate nudged), written as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 3])
    src, near = _dup_plan(rng, n_docs)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        if src[i] < 0:
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            words = list(rng.choice(VOCAB, int(rng.integers(12, 90))))
            if lang != "en":
                extra = STOP_EXTRA[lang]
                words += [extra[int(x)] for x in rng.integers(0, len(extra), 6)]
                rng.shuffle(words)
            texts.append(" ".join(words))
            langs.append(lang)
            continue
        words = texts[src[i]].split()
        if near[i]:
            p = int(rng.integers(0, len(words)))
            if rng.random() < 0.5:
                del words[p]
            else:
                words[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(words))
        langs.append(langs[src[i]])
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{int(x)}" for x in rng.integers(0, 20, n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    vsrc, vnear = _dup_plan(rng, n_vecs)
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.permutation(np.arange(n_vecs) % 10)
    vecs = centroids[labels] + rng.normal(0, 0.6, (n_vecs, 64))
    for i in np.nonzero(vsrc >= 0)[0]:
        vecs[i] = vecs[vsrc[i]]
        labels[i] = labels[vsrc[i]]
        if vnear[i]:
            vecs[i, int(rng.integers(0, 64))] += 0.01
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "documents": n_docs,
        "embeddings": n_vecs,
        "doc_exact_dup_share": round(float(((src >= 0) & ~near).mean()), 4),
        "doc_near_dup_share": round(float(near.mean()), 4),
        "vec_exact_dup_share": round(float(((vsrc >= 0) & ~vnear).mean()), 4),
        "vec_near_dup_share": round(float(vnear.mean()), 4),
    }
