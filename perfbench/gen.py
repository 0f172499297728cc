"""Seeded input generators.  Pure numpy/pandas: the program under test
receives only what these functions return, and the same seed always gives
byte-identical inputs (``tests/test_perfbench.py`` pins that).

Each generator also returns the ground truth its workload's output check
compares against.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pandas as pd

# -- CDC rows ------------------------------------------------------------

NAMESPACE = "perfbench.orders"
SOURCE = "order_events"

SCHEMA_V1 = {
    "type": "record",
    "name": "order_event",
    "namespace": "perfbench",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "seq", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "status", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "event_ts", "type": "long"},
    ],
}
# v2 adds a nullable field with a default, so decoding a v1 payload with
# the v2 reader needs Avro schema resolution
SCHEMA_V2 = {
    **SCHEMA_V1,
    "fields": SCHEMA_V1["fields"]
    + [{"name": "channel", "type": ["string", "null"], "default": "web"}],
}

_STATUSES = np.array(["new", "paid", "packed", "shipped", "returned", "void"])
_CHANNELS = np.array(["web", "app", "store", "partner"])
BASE_TS = 1_700_000_000
SPAN_TS = 86_400


def _cdc_rows(rng: np.random.Generator, ids: np.ndarray, seq0: int) -> pd.DataFrame:
    n = len(ids)
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "seq": np.arange(seq0, seq0 + n, dtype=np.int64),
            "user_id": rng.integers(0, 50_000, n, dtype=np.int64),
            "status": _STATUSES[rng.integers(0, len(_STATUSES), n)],
            "amount": np.round(rng.uniform(0.5, 2_000.0, n), 2),
            "event_ts": BASE_TS + rng.integers(0, SPAN_TS, n, dtype=np.int64),
        }
    )


def cdc_create_batch(seed: int, batch_no: int, rows: int) -> pd.DataFrame:
    """Batch ``batch_no`` of flat, null-free ``create`` rows: ids and
    sequence numbers continue across batches, so every id is unique —
    the shape the vectorized wire path accepts."""
    rng = np.random.default_rng([seed, 1, batch_no])
    first = batch_no * rows
    return _cdc_rows(rng, np.arange(first, first + rows, dtype=np.int64), first)


@dataclass
class EvolvedPublish:
    """One publish of the evolved topic: rows, message type, schema
    version, and the previous-image rows of updates (aligned by row)."""

    rows: pd.DataFrame
    message_type: str
    version: int
    previous: pd.DataFrame | None = None


def evolved_topic(
    seed: int, n_ids: int, update_share: float = 0.3, delete_share: float = 0.1
) -> list[EvolvedPublish]:
    """The publishes of one topic spanning two schema versions, in order.

    Half the ids are created under v1, half under v2; a share of each
    half is updated (carrying the previous row image) and a share deleted
    under the same version."""
    rng = np.random.default_rng([seed, 2])
    half = n_ids // 2
    pubs: list[EvolvedPublish] = []
    seq = 0
    for version, ids in ((1, np.arange(0, half)), (2, np.arange(half, n_ids))):
        created = _cdc_rows(rng, ids, seq)
        seq += len(created)
        if version == 2:
            ch = _CHANNELS[rng.integers(0, len(_CHANNELS), len(created))].astype(object)
            ch[rng.random(len(created)) < 0.2] = None
            created["channel"] = ch
        pubs.append(EvolvedPublish(created, "create", version))
        pick = rng.permutation(len(created))
        n_up = int(len(created) * update_share)
        n_del = int(len(created) * delete_share)
        up_idx = np.sort(pick[:n_up])
        prev = created.iloc[up_idx].reset_index(drop=True)
        upd = prev.copy()
        upd["seq"] = np.arange(seq, seq + n_up, dtype=np.int64)
        seq += n_up
        upd["status"] = _STATUSES[rng.integers(0, len(_STATUSES), n_up)]
        upd["amount"] = np.round(upd["amount"] + rng.uniform(1, 50, n_up), 2)
        upd["event_ts"] = np.minimum(
            upd["event_ts"] + rng.integers(1, 3_600, n_up), BASE_TS + SPAN_TS - 1
        )
        pubs.append(EvolvedPublish(upd, "update", version, previous=prev))
        del_idx = np.sort(pick[n_up : n_up + n_del])
        dels = created.iloc[del_idx].reset_index(drop=True).copy()
        dels["seq"] = np.arange(seq, seq + n_del, dtype=np.int64)
        seq += n_del
        pubs.append(EvolvedPublish(dels, "delete", version))
    return pubs


# -- documents for the dedup gate -------------------------------------------


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def _novel_text(rng, vocab, lo: int, hi: int) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(lo, hi)))])


def _edit(rng, text: str, vocab: np.ndarray, i: int) -> str:
    """Replace word ``i`` with another word of the sorted ``vocab``."""
    words = text.split(" ")
    k = int(np.searchsorted(vocab, words[i]))
    words[i] = vocab[(k + int(rng.integers(1, len(vocab)))) % len(vocab)]
    return " ".join(words)


def _near_copy(rng, text: str, vocab: np.ndarray) -> str:
    """One word of the last quarter edited: for 50-90 words at most 3 of
    the 3-gram shingles change, so Jaccard stays >= 0.89 (well above the
    0.8 gate) and a banding miss has probability < 1e-5."""
    n = text.count(" ") + 1
    return _edit(rng, text, vocab, int(rng.integers(n * 3 // 4, n)))


@dataclass
class DedupStream:
    """Seeded trigger batches plus, per epoch, the ids the gate must
    admit."""

    batches: list[pd.DataFrame]
    admitted: list[list[int]]


def dedup_stream(
    seed: int,
    n_batches: int,
    batch_docs: int,
    exact_share: float = 0.15,
    near_share: float = 0.15,
) -> DedupStream:
    """Novel documents are random 50-90 word texts over a 4k-word
    vocabulary (pairwise Jaccard ~0).  Planted copies — exact and
    one-word-edited — point at a novel document of the same batch (with a
    smaller id) or, from the second batch on, half of them at one of an
    earlier batch.  Every copy is rejected and every novel document
    admitted, so the index grows by the novel share each trigger.  Each
    batch holds the same number of copies of each kind, whatever the
    seed, so every seed takes the gate through the same branches."""
    rng = np.random.default_rng([seed, 4])
    vocab = _vocab(rng, 4_000)
    n_exact = round(batch_docs * exact_share)
    n_near = round(batch_docs * near_share)
    admitted_texts: list[str] = []
    batches, truth = [], []
    next_id = 0
    for e in range(n_batches):
        copies = []
        for kind, n in (("exact", n_exact), ("near", n_near)):
            cross = n // 2 if e else 0
            copies += [(kind, False)] * (n - cross) + [(kind, True)] * cross
        kinds = copies + [("novel", False)] * (batch_docs - len(copies) - 1)
        # the first document is novel, so in-batch copies have a source
        kinds = [("novel", False)] + [kinds[i] for i in rng.permutation(len(kinds))]
        ids, texts, keep = [], [], []
        batch_novel: list[str] = []
        for kind, cross in kinds:
            if kind == "novel":
                text = _novel_text(rng, vocab, 50, 90)
                batch_novel.append(text)
                keep.append(next_id)
            else:
                pool = admitted_texts if cross else batch_novel
                src = pool[int(rng.integers(0, len(pool)))]
                text = src if kind == "exact" else _near_copy(rng, src, vocab)
            ids.append(next_id)
            texts.append(text)
            next_id += 1
        admitted_texts.extend(batch_novel)
        batches.append(pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts}))
        truth.append(keep)
    return DedupStream(batches, truth)


# -- documents + embeddings tables for the catalog queries ------------------

_SMALL_VOCAB = np.array(
    sorted(
        "the a data spark stream table row column key value join merge batch "
        "window query scan sort group order line part agg fast slow big small "
        "filter hash vector customer".split()
    )
)


def llm_tables(
    seed: int, n_docs: int, n_vecs: int, dim: int = 64
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """``documents`` and ``embeddings`` in the catalog's table schema.

    Texts draw words from a 30-word vocabulary, as the catalog's own
    fixtures do, so shingle postings are dense.  Every block of ten
    documents plants the same near-duplicate clusters: an 80-100 word
    source with two one-word edits (pairwise Jaccard >= 0.85, a 3-clique)
    and one with a single edit (a pair); the other five are random 20-100
    word texts.  The cluster shapes, and so the connected-components
    rounds, are the same for every seed.  Embeddings are unit vectors
    scattered around ten class centroids on the 64-sphere (cosine ~0.4
    within a class, ~0 across), the cluster structure that IVF routing
    relies on."""
    rng = np.random.default_rng([seed, 5])
    vocab = _SMALL_VOCAB
    texts: list[str] = []
    for i in range(n_docs):
        slot = i % 10
        if slot in (0, 3):
            texts.append(_novel_text(rng, vocab, 80, 101))
        elif slot in (1, 2, 4):
            src = texts[i - 1 if slot != 2 else i - 2]
            # the two edits of one source touch different words
            pos = int(rng.integers(0, 40)) + (40 if slot == 2 else 0)
            texts.append(_edit(rng, src, vocab, pos))
        else:
            texts.append(_novel_text(rng, vocab, 20, 101))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "de", "fr"])[rng.integers(0, 3, n_docs)],
            "source": [f"src{int(s)}" for s in rng.integers(0, 8, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centroids = rng.standard_normal((10, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = (centroids[labels] + 0.15 * rng.standard_normal((n_vecs, dim))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )
    return docs, emb


def schema_json(version: int) -> str:
    return json.dumps(SCHEMA_V1 if version == 1 else SCHEMA_V2)
