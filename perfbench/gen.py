"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: numpy's PCG64 stream
drives all choices, and the parquet writer options are pinned, so the
same seed writes the same bytes. Each generator plants defects or
duplicates at counts it returns alongside the data, and the output
checks compare the engine's reports against those counts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Injected "now" for freshness: all event timestamps lie before it.
NOW_EPOCH_S = 1_717_200_000  # 2024-06-01T00:00:00Z
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_TYPES_PLANTED = EVENT_TYPES + ["bogus"]
PROPS = ['{"k": %d}' % i for i in range(100)]
LABELS = ["a", "b", "c", "d"]
LABEL_P = [0.4, 0.3, 0.2, 0.1]
VALUE_MAX = 10_000.0
DAY_S = 86_400


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", use_dictionary=True,
        write_statistics=True, row_group_size=1 << 20,
    )


def _file_parts(n: int, files: int) -> list[tuple[int, int]]:
    step = -(-n // files)
    return [(i, min(i + step, n)) for i in range(0, n, step)]


# --------------------------------------------------------------- events


@dataclass
class EventsTruth:
    """What validate_batch must report for the generated events table."""

    rows: int
    null_user_id: int
    bad_event_type: int
    out_of_range: int
    negative_value: int
    duplicate_ids: int
    label_counts: dict[str, int]
    max_ts_epoch: int
    corr_score: float
    corr_value: float


def _events_arrays(rng: np.random.Generator, n: int, id0: int, t_lo: int, t_hi: int):
    """Clean events columns: ids id0.., timestamps in [t_lo, t_hi) s."""
    ts_us = rng.integers(t_lo * 1_000_000, t_hi * 1_000_000, n, dtype=np.int64)
    cols = {
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "user_id": rng.integers(0, 50_000, n, dtype=np.int64),
        "event_type": rng.integers(0, len(EVENT_TYPES), n),
        "value": np.round(rng.uniform(0.0, VALUE_MAX, n), 2),
        "ts_us": ts_us,
    }
    return cols


def _plant_event_defects(rng, cols, n, counts):
    """Overwrite disjoint random rows with the planted defects; returns
    the null mask for user_id."""
    k_null, k_bad, k_neg, k_big = counts
    pos = rng.choice(n, size=k_null + k_bad + k_neg + k_big, replace=False)
    p_null, rest = pos[:k_null], pos[k_null:]
    p_bad, rest = rest[:k_bad], rest[k_bad:]
    p_neg, p_big = rest[:k_neg], rest[k_neg:]
    cols["event_type"][p_bad] = len(EVENT_TYPES)  # "bogus"
    cols["value"][p_neg] = -np.round(rng.uniform(1.0, 100.0, k_neg), 2)
    cols["value"][p_big] = np.round(rng.uniform(2 * VALUE_MAX, 3 * VALUE_MAX, k_big), 2)
    null_mask = np.zeros(n, dtype=bool)
    null_mask[p_null] = True
    return null_mask, pos


def _strings(words, idx: np.ndarray, mask=None) -> pa.Array:
    """String column from indices into ``words`` (None where ``mask``)."""
    ind = pa.array(idx.astype(np.int32), mask=mask)
    return pa.DictionaryArray.from_arrays(ind, pa.array(words)).dictionary_decode()


def _ts_array(ts_us: np.ndarray) -> pa.Array:
    return pa.array(ts_us, type=pa.int64()).cast(pa.timestamp("us", tz="UTC"))


def events_table(seed: int, rows: int, out_dir: str, files: int = 8) -> EventsTruth:
    """The validate_batch input: an events-shaped table with ML columns
    (label, score, target), written as ``files`` parquet files."""
    rng = np.random.default_rng([seed, 1])
    n = rows
    cols = _events_arrays(rng, n, 0, NOW_EPOCH_S - 30 * DAY_S, NOW_EPOCH_S - 1800)
    counts = (n // 1000, n // 2000, n // 4000, n // 4000)
    null_mask, planted = _plant_event_defects(rng, cols, n, counts)
    # duplicate ids: copy the id of a distinct clean row onto k rows
    k_dup = n // 5000
    clean = np.setdiff1d(np.arange(n), planted)
    picks = rng.choice(clean, size=2 * k_dup, replace=False)
    cols["event_id"][picks[:k_dup]] = cols["event_id"][picks[k_dup:]]

    label_idx = rng.choice(len(LABELS), size=n, p=LABEL_P)
    target = label_idx.astype(np.float64)
    score = np.round(target + rng.normal(0.0, 1.5, n), 4)
    props = rng.integers(0, len(PROPS), n)
    props_null = rng.random(n) < 0.05

    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"]),
            "user_id": pa.array(cols["user_id"], mask=null_mask),
            "event_type": _strings(EVENT_TYPES_PLANTED, cols["event_type"]),
            "value": pa.array(cols["value"]),
            "ts": _ts_array(cols["ts_us"]),
            "props": _strings(PROPS, props, mask=props_null),
            "label": _strings(LABELS, label_idx),
            "score": pa.array(score),
            "target": pa.array(target),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(_file_parts(n, files)):
        _write(table.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:03d}.parquet"))
    return EventsTruth(
        rows=n,
        null_user_id=counts[0],
        bad_event_type=counts[1],
        out_of_range=counts[2] + counts[3],
        negative_value=counts[2],
        duplicate_ids=k_dup,
        label_counts={
            lab: int(c) for lab, c in zip(LABELS, np.bincount(label_idx, minlength=len(LABELS)))
        },
        max_ts_epoch=int(cols["ts_us"].max() // 1_000_000),
        corr_score=float(np.corrcoef(score, target)[0, 1]),
        corr_value=float(np.corrcoef(cols["value"], target)[0, 1]),
    )


# ----------------------------------------------------------- daily events


@dataclass
class DayTruth:
    rows: int
    null_user_id: int
    bad_event_type: int
    out_of_range: int


def day_batch(seed: int, slot: int, rows: int, path: str) -> DayTruth:
    """One day's worth of events for validate_incremental, without the
    day column (the landing step stamps it). ``slot`` selects an
    independent stream, so batches of one seed differ from each other."""
    rng = np.random.default_rng([seed, 2, slot])
    n = rows
    day0 = NOW_EPOCH_S - DAY_S
    cols = _events_arrays(rng, n, slot * n, day0, day0 + DAY_S)
    counts = (n // 500, n // 1000, n // 2000, n // 2000)
    null_mask, _ = _plant_event_defects(rng, cols, n, counts)
    table = pa.table(
        {
            "event_id": pa.array(cols["event_id"]),
            "user_id": pa.array(cols["user_id"], mask=null_mask),
            "event_type": _strings(EVENT_TYPES_PLANTED, cols["event_type"]),
            "value": pa.array(cols["value"]),
            "ts": _ts_array(cols["ts_us"]),
        }
    )
    _write(table, path)
    return DayTruth(rows=n, null_user_id=counts[0], bad_event_type=counts[1],
                    out_of_range=counts[2] + counts[3])


# ----------------------------------------------------------------- corpus


@dataclass
class CorpusTruth:
    """Planted structure of the curation corpus."""

    docs: int
    exact_groups: list[list[int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)
    semantic_pairs: list[tuple[int, int]] = field(default_factory=list)

    def planted_pairs(self) -> set[tuple[int, int]]:
        """Every (a, b), a < b, the text dedup should propose."""
        out = set(self.near_pairs)
        for g in self.exact_groups:
            for i, a in enumerate(g):
                for b in g[i + 1:]:
                    out.add((min(a, b), max(a, b)))
        return out


LANGS = np.asarray(["en", "de", "fr", "zh"], dtype=object)
LANG_P = [0.8, 0.08, 0.07, 0.05]
SOURCES = 8
EMBED_DIM = 32


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.asarray(["ka", "lo", "mi", "ne", "su", "ta", "ri", "vo",
                       "pe", "du", "ga", "zi", "ho", "be", "fa", "ju"], dtype=object)
    picks = rng.integers(0, len(syll), (size * 2, 4))
    words = np.unique(["".join(syll[p]) for p in picks])
    return rng.permutation(words)[:size]


def corpus(seed: int, docs: int, docs_path: str, emb_path: str) -> CorpusTruth:
    """The curate_corpus input: ``documents``-shaped text rows plus one
    embedding per document.

    Planted, at recorded counts: exact-duplicate groups (2-4 copies of a
    clean English text), near duplicates (one token replaced), and
    semantic pairs (different text, embedding within ~0.99 cosine).
    Every planted doc is English, long enough and not repetitive, so
    the curation gate keeps it. Filler docs include too-short,
    repetitive and non-English texts for the gate to drop.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 5000)
    n_groups, n_near, n_sem = docs // 100, docs // 100, docs // 200
    group_sizes = rng.integers(2, 5, n_groups)
    n_extra = int(group_sizes.sum() - n_groups) + n_near + n_sem
    n_base = docs - n_extra

    kind = rng.choice(3, size=n_base, p=[0.9, 0.06, 0.04])  # ok / short / repetitive
    lens = np.where(kind == 1, rng.integers(5, 20, n_base), rng.integers(30, 80, n_base))
    toks = [rng.integers(0, len(vocab), L) for L in lens]
    for i in np.flatnonzero(kind == 2):
        toks[i] = np.tile(toks[i][:2], len(toks[i]) // 2)
    lang = LANGS[rng.choice(len(LANGS), size=n_base, p=LANG_P)]
    emb = rng.normal(0.0, 1.0, (docs, EMBED_DIM))

    clean = np.flatnonzero((kind == 0) & (lang == "en"))
    bases = rng.choice(clean, size=n_groups + n_near + n_sem, replace=False)
    texts = [" ".join(vocab[t]) for t in toks]
    langs = list(lang)
    truth = CorpusTruth(docs=docs)
    nxt = n_base

    def add(text: str, vec: np.ndarray) -> int:
        nonlocal nxt
        texts.append(text)
        langs.append("en")
        emb[nxt] = vec
        nxt += 1
        return nxt - 1

    for b, size in zip(bases[:n_groups], group_sizes):
        b = int(b)
        truth.exact_groups.append([b] + [add(texts[b], emb[b]) for _ in range(size - 1)])
    for b in bases[n_groups:n_groups + n_near]:
        b = int(b)
        t = toks[b].copy()
        t[rng.integers(0, len(t))] = rng.integers(0, len(vocab))
        truth.near_pairs.append((b, add(" ".join(vocab[t]), emb[b])))
    for b in bases[n_groups + n_near:]:
        b = int(b)
        other = rng.integers(0, len(vocab), rng.integers(30, 80))
        vec = emb[b] + rng.normal(0.0, 0.02, EMBED_DIM)
        truth.semantic_pairs.append((b, add(" ".join(vocab[other]), vec)))
    assert nxt == docs

    # shuffle ids so planted copies are not clustered at the tail
    perm = rng.permutation(docs)  # row i gets id perm[i]
    order = np.argsort(perm)
    truth.exact_groups = [sorted(int(perm[i]) for i in g) for g in truth.exact_groups]
    truth.near_pairs = [tuple(sorted(int(perm[i]) for i in p)) for p in truth.near_pairs]
    truth.semantic_pairs = [tuple(sorted(int(perm[i]) for i in p)) for p in truth.semantic_pairs]

    text_arr = np.asarray(texts, dtype=object)[order]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)[order]
    ids = np.arange(docs, dtype=np.int64)
    docs_tbl = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(text_arr, type=pa.string()),
            "lang": pa.array(np.asarray(langs, dtype=object)[order], type=pa.string()),
            "source": _strings([f"src{i}" for i in range(SOURCES)], ids % SOURCES),
        }
    )
    emb_tbl = pa.table(
        {
            "doc_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.reshape(-1)), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
        }
    )
    for tbl, path in ((docs_tbl, docs_path), (emb_tbl, emb_path)):
        os.makedirs(path, exist_ok=True)
        for i, (lo, hi) in enumerate(_file_parts(docs, 4)):
            _write(tbl.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))
    return truth
