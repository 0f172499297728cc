"""Product quantization (PQ) for embedding search at corpus scale.

The canonical billion-vector ANN compression (Jegou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — public
literature): split each d-dim vector into m subvectors, k-means each
subspace into its own codebook, store each vector as m one-byte codes.
A 64-dim float32 embedding (256 B) becomes m=8 bytes — a 100 TB embedding
column becomes ~3 TB of codes, and the asymmetric-distance (ADC) scan
reads ONLY the codes: per query, an (m x n_centroids) lookup table of
subspace inner products is built once, and each candidate's approximate
score is m table lookups.  The production pattern implemented here:

1. ``ann_train`` — the ONE trainer of every ANN index (``pq_topk``,
   ``ivfpq_topk``, the semantic gate, ``similarity.ivf_topk`` and the
   IVF serving layout): an ``AnnModel`` of (coarse centroids, residual
   codebooks, error bound) from one DETERMINISTIC bounded sample
   (NULL-filtered, md5-ordered) with driver-side Lloyd iterations:
   training is O(sample), never O(corpus).
2. ``pq_encode`` — one mapInPandas scan, numpy argmin per subspace;
   the corpus never shuffles.
3. ``pq_topk`` — ADC shortlist over the codes (queries broadcast into
   the kernel) + EXACT quantized-cosine re-rank of the shortlist only,
   so the expensive exact math touches shortlist_size rows per query
   instead of the corpus.

Exactness limit (certified against the brute-force SQL oracle like
ivf_exact_topk): with per-subspace codebooks containing every distinct
training subvector and zero Lloyd iterations, encoding is lossless, the
ADC ranking equals the exact float ranking, and the re-ranked top-k is
the brute-force answer.

NULL vectors follow ``similarity.cosine_topk``'s contract: they train
nothing, encode to NULL codes, score -inf in the ADC scan (so they never
displace a real candidate from a shortlist) and re-rank with a NULL
cosine, last.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from data_pipeline_spark.llmops import similarity


class AnnModel(NamedTuple):
    """One trained ANN state — the IndexIVFPQ layout (Jegou TPAMI 2011
    §V / Faiss):

    - ``coarse``: (n_lists, d) unit centroids of the IVF quantizer, or
      None for a model without one (flat PQ);
    - ``books``: (m, width, d/m) per-subspace PQ codebooks, trained on
      the residuals against ``coarse`` (the raw vectors without it), or
      None for a model without them (IVF-flat);
    - ``err_bound``: the measured ADC-cosine error ceiling over the
      training sample, |r − r̂| / |x| maxed (×1.25 out-of-sample slack);
      0.0 without codebooks.

    A model trained on no vectors (an empty or all-NULL corpus) has zero
    centroids and zero-width codebooks."""

    coarse: np.ndarray | None
    books: np.ndarray | None
    err_bound: float

    @property
    def rows(self) -> list:
        """The coarse centroids as quantized rows (list_id, c_q, c_n),
        computed on the driver (``similarity.driver_centroid_rows``) —
        what in-row assignment and probe selection key off.  A model
        with zero centroids has ONE list whose centroid is NULL, so every
        vector lands on list 0 and every query probes it (the
        NULL-vector contract of ``similarity.ivf_assign_col``)."""
        if len(self.coarse):
            return similarity.driver_centroid_rows(self.coarse)
        return [Row(list_id=0, c_q=None, c_n=None)]

    def to_dict(self) -> dict:
        """The persisted form (a sidecar's ``model.json`` keys): each
        array as nested lists plus its shape, None for a part the model
        has not got.  ``from_dict`` rebuilds the same bytes, dtype and
        shape — the shape keeps an empty model's (0, 0) centroids and
        (m, 0, 0) codebooks, which nested lists alone flatten."""
        out: dict = {"err_bound": self.err_bound}
        for key, a in (("coarse", self.coarse), ("codebooks", self.books)):
            out[key] = None if a is None else a.tolist()
            out[f"{key}_shape"] = None if a is None else list(a.shape)
        return out

    @classmethod
    def from_dict(cls, d: dict) -> AnnModel:
        def arr(key: str) -> np.ndarray | None:
            if d[key] is None:
                return None
            a = np.asarray(d[key], np.float64)
            # files written before the shape keys hold non-empty arrays
            shape = d.get(f"{key}_shape")
            return a if shape is None else a.reshape(shape)

        return cls(arr("coarse"), arr("codebooks"), float(d["err_bound"]))


def write_model(path: str, model: AnnModel, **meta) -> None:
    """Write ``model`` to the file ``path`` as its ``to_dict`` JSON plus
    the keys ``meta`` (an ingest sink's ``version`` and
    ``trained_on_n``): the one ``model.json`` writer.  The caller makes
    it visible atomically (``io.build_once``, or a tmp file and a
    rename)."""
    with open(path, "w") as fh:
        fh.write(json.dumps({**model.to_dict(), **meta}))


def read_model(path: str) -> tuple[AnnModel, dict]:
    """The model in the file ``path`` and the file's whole dict (its
    ``meta`` keys too): the one ``model.json`` reader.  Files written
    before the shape keys load as well."""
    with open(path) as fh:
        d = json.load(fh)
    return AnnModel.from_dict(d), d


def ann_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int | None = 64,
    m: int | None = 8,
    n_centroids: int | None = 64,
    sample: int = 4096,
    iters: int = 10,
) -> AnnModel:
    """Train an ``AnnModel`` on ONE driver-side sample: the first
    ``max(sample, n_lists)`` non-NULL vectors in md5(id) order.

    1. spherical k-means (``similarity.spherical_kmeans``, ``iters``
       Lloyd rounds) for the ``n_lists`` coarse centroids — skipped when
       ``n_lists`` is None;
    2. the first ``sample`` rows assigned to their lists on the driver
       by the quantized kernel ``ivf_assign_col`` runs per batch
       (``assign_rows_ndarray``: same bytes, same list_ids — pinned by
       test_ivfpq_driver_sample_assignment_parity);
    3. per-subspace codebooks on the residuals (``_train_books``) —
       skipped when ``m`` is None; ``n_centroids=None`` is the lossless
       limit (every distinct training subvector);
    4. the error bound: every training residual reconstructed through
       the codebooks, worst |r − r̂| / |x|.

    O(sample) everywhere and deterministic (no RNG), so a crash-replayed
    or rebuilt index retrains bit-identically."""
    rows = (
        df.select(
            F.col(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("h"),
        )
        .filter(F.col("v").isNotNull())  # NULL vectors can't train
        .orderBy("h")
        .limit(max(sample, n_lists or 0))
        .collect()
    )
    if not rows:
        return AnnModel(
            None if n_lists is None else np.zeros((0, 0)),
            None if m is None else np.zeros((m, 0, 0)),
            0.0,
        )
    x = np.asarray([r.v for r in rows], np.float64)
    coarse = None
    if n_lists is not None:
        coarse, _xn = similarity.spherical_kmeans(x, n_lists, iters)
    if m is None:
        return AnnModel(coarse, None, 0.0)
    x = x[:sample]
    res = x
    if coarse is not None:
        lids = similarity.assign_rows_ndarray(
            x, similarity.driver_centroid_rows(coarse)
        )
        res = x - coarse[lids]
    books = _train_books(res, m, n_centroids, iters)
    norms = np.linalg.norm(x, axis=1)
    err = np.linalg.norm(res - _decode(_encode(res, books), books), axis=1)
    err /= np.where(norms == 0, 1.0, norms)
    return AnnModel(coarse, books, float(err.max() * 1.25 + 1e-9))


def _sq_dists(xs: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Per-pair squared distances, BIT-IDENTICAL to
    ``((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)``.

    The broadcast form materializes an (n, k, sub) temporary per Lloyd
    iteration (~2 MB×8 per codebook round at the default sample) — most
    of pq training's driver wall (r12 profile: 1.2 s of a 2.4 s query).
    For the engine's sub=8 subspaces the same quantity is built from 8
    (n, k) planes combined in EXACTLY numpy's pairwise-summation order
    for an 8-element axis reduction (((p0+p1)+(p2+p3))+((p4+p5)+(p6+p7)))
    — float addition is non-associative, so the tree must match for the
    codebooks (and every ANN/gate output derived from them) to stay
    bit-identical; tests/test_llmops.py pins equality against the
    broadcast form.  The expensive exactness-certified formulation stays
    the fallback for any other width (NOT the unrolled tree: numpy's
    base case differs per length)."""
    if xs.shape[1] != 8:
        return ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    p = [
        (xs[:, s, None] - cent[None, :, s]) ** 2
        for s in range(8)
    ]
    return ((p[0] + p[1]) + (p[2] + p[3])) + ((p[4] + p[5]) + (p[6] + p[7]))


def _train_books(
    x: np.ndarray, m: int, n_centroids: int | None, iters: int
) -> np.ndarray:
    """Per-subspace k-means over ``ann_train``'s driver-side training
    matrix (raw vectors, or IVF residuals when the model has a coarse
    quantizer)."""
    n, d = x.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = []
    for j in range(m):
        xs = x[:, j * sub : (j + 1) * sub]
        if n_centroids is None:
            books.append(np.unique(xs, axis=0))
            continue
        k = min(n_centroids, len(np.unique(xs, axis=0)))
        # deterministic init: first k distinct subvectors in sample order
        seen: dict = {}
        for row in map(tuple, xs):
            if row not in seen:
                seen[row] = None
            if len(seen) == k:
                break
        cent = np.asarray(list(seen), np.float64)
        for _ in range(iters):
            d2 = _sq_dists(xs, cent)
            assign = d2.argmin(axis=1)
            for c in range(k):
                pts = xs[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books.append(cent)
    width = max(len(b) for b in books)
    out = np.zeros((m, width, sub), np.float64)
    for j, b in enumerate(books):
        out[j, : len(b)] = b
        if len(b) < width:  # pad with the last centroid (never nearer)
            out[j, len(b) :] = b[-1]
    return out


def _encode(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) int32 codes: each subvector's nearest codebook centroid."""
    m, _w, sub = books.shape
    codes = np.empty((len(x), m), np.int32)
    for j in range(m):
        d2 = _sq_dists(x[:, j * sub : (j + 1) * sub], books[j])
        codes[:, j] = d2.argmin(axis=1)
    return codes


def _decode(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """The (n, d) reconstruction of ``codes`` through the codebooks."""
    return np.concatenate(
        [books[j][codes[:, j]] for j in range(books.shape[0])], axis=1
    )


def _shortlist(score: np.ndarray, ids: np.ndarray, take: int) -> np.ndarray:
    """Positions of the ``take`` highest scores, a tie at the cut going
    to the lower id — the (score desc, id asc) order ``_rerank``'s window
    keeps, so a batch's partial shortlist never depends on how its rows
    happen to lie (a NULL query ties every row at 0).  O(len(score)):
    one partition for the cut and one over the tied ids, no sort."""
    if take >= len(score):
        return np.arange(len(score))
    top = np.argpartition(-score, take - 1)[:take]
    cut = score[top].min()
    above = np.flatnonzero(score > cut)
    tied = np.flatnonzero(score == cut)
    need = take - len(above)
    if len(tied) < need:  # a NaN cut: nothing compares equal to it
        return top
    if need < len(tied):
        tied = tied[np.argpartition(ids[tied], need - 1)[:need]]
    return np.concatenate([above, tied])


def _dense(vs: list, dim: int) -> np.ndarray:
    """Collected vectors as an (n, dim) float64 matrix, a NULL vector as
    the zero vector.  A model trained on no vectors has dim 0 and scores
    nothing (every corpus code is NULL), so its query rows are empty."""
    if not dim:
        return np.zeros((len(vs), 0))
    return np.asarray(
        [v if v is not None else [0.0] * dim for v in vs], np.float64
    ).reshape(len(vs), dim)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: np.ndarray | None = None,
) -> DataFrame:
    """One scan: (id, codes array<int>[, list_id]) — m bytes of
    information per vector; numpy argmin per subspace over whole Arrow
    batches.  With ``coarse`` (the IVF centroid matrix), ``df`` must
    carry ``list_id`` and each vector is encoded as its RESIDUAL
    against its assigned centroid (the IndexIVFPQ layout); list_id is
    kept in the output so the ADC scan can add back the per-list
    ⟨query, centroid⟩ term.  A NULL vector encodes to NULL codes."""
    residual = coarse is not None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:  # empty Arrow batch: asarray yields 1-D, skip
                continue
            live = pdf["v"].notna().to_numpy()
            codes = []
            if live.any():
                x = np.asarray(list(pdf["v"][live]), np.float64)
                if residual:
                    x = x - coarse[pdf["list_id"].to_numpy()[live]]
                codes = _encode(x, codebooks).tolist()
            it = iter(codes)
            out = {
                "id": pdf["id"],
                "codes": [next(it) if ok else None for ok in live],
            }
            if residual:
                out["list_id"] = pdf["list_id"]
            yield pd.DataFrame(out)

    fields = [
        StructField("id", LongType()),
        StructField("codes", ArrayType(IntegerType())),
    ]
    cols = [F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")]
    if residual:
        cols.append(F.col("list_id").cast("int"))
        fields.append(StructField("list_id", IntegerType()))
    return df.select(*cols).mapInPandas(run, schema=StructType(fields))


def _codes(pdf: pd.DataFrame, m: int) -> tuple[np.ndarray, np.ndarray]:
    """A codes batch as (live mask, (rows, m) int32 codes): a NULL codes
    row (a NULL vector) is masked out and holds zeros."""
    live = pdf["codes"].notna().to_numpy()
    c = np.zeros((len(pdf), m), np.int32)
    if live.any():
        c[live] = np.asarray(list(pdf["codes"][live]), np.int32)
    return live, c


def _rerank(
    partials: DataFrame,
    base: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    shortlist: int,
) -> DataFrame:
    """Per-partition ADC shortlists (query_id, neighbor_id, approx_ip) ->
    the global ``shortlist`` best per query (tiny), then the EXACT
    quantized-cosine re-rank of those candidates only.  Output:
    (query_id, neighbor_id, rank, cos_sim) — cosine_topk's schema."""
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("approx_ip").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        partials.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv = similarity.quantized(queries, id_col, vec_col, "query")
    nv = similarity.quantized(base, id_col, vec_col, "neighbor")
    scored = (
        cand.join(F.broadcast(qv), cand.query_id == qv.query_id)
        .drop(qv.query_id)
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                similarity.cos_cols_sql(
                    "query_q", "neighbor_q", "query_n", "neighbor_n"
                )
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def pq_topk(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 200,
    model: AnnModel | None = None,
) -> DataFrame:
    """ADC shortlist over PQ codes + exact quantized-cosine re-rank.

    ``model`` is a flat-PQ ``AnnModel`` (``ann_train(..., n_lists=None)``,
    only its codebooks are read).  ``model=None`` trains one on ``base``
    in this call; the query catalog passes its per-corpus model instead
    (``queries_llm._corpus_model``, trained once per embeddings file).
    The default model (m=8, n_centroids=64) and shortlist=200 = 20*k
    re-rank depth come from the r10 measured recall table
    (ROUND10_NOTES.md): recall@10 0.88-0.99 on the uniform-sphere
    corpus.  ``shortlist`` is the re-rank depth — the only knob that
    trades exact-math volume for recall; 20*k is cheap (per query, 20*k
    exact cosines vs a corpus scan) and the first knob to raise if the
    ADC ranking is noisy.

    The queries (small by contract, like cosine_topk) are collected and
    their per-subspace inner-product tables ride into the code-scan kernel
    as a closure broadcast; the corpus-side scan reads codes only.  The
    shortlist join back to full vectors touches |queries| * shortlist
    rows.  Output: (query_id, neighbor_id, rank, cos_sim) with the exact
    cosine — identical schema to cosine_topk.
    """
    if model is None:
        model = ann_train(base, id_col, vec_col, n_lists=None)
    codebooks = model.books
    m_, _width, sub = codebooks.shape

    qrows = queries.select(
        F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("v")
    ).collect()
    qids = np.asarray([r.qid for r in qrows], np.int64)
    qx = _dense([r.v for r in qrows], m_ * sub)
    # tables[q][j][c] = <query subvector, centroid c of subspace j>
    tables = np.einsum(
        "qjs,jcs->qjc",
        qx.reshape(len(qx), m_, sub),
        codebooks,
    )

    codes = pq_encode(base, codebooks, id_col, vec_col)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:  # take=0 would break argpartition; skip
                continue
            live, c = _codes(pdf, m_)
            ids = pdf["id"].to_numpy()
            # approx inner product: sum over subspaces of table lookups
            adc = np.zeros((len(tables), int(live.sum())))
            for j in range(m_):
                adc += tables[:, j, :][:, c[live, j]]
            approx = np.full((len(tables), len(c)), -np.inf)
            approx[:, live] = adc
            out_q, out_n, out_s = [], [], []
            for qi in range(len(tables)):
                top = _shortlist(approx[qi], ids, shortlist)
                out_q.extend([int(qids[qi])] * len(top))
                out_n.extend(ids[top].tolist())
                out_s.extend(approx[qi][top].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_ip": out_s}
            )

    partials = codes.mapInPandas(
        scan,
        schema="query_id long, neighbor_id long, approx_ip double",
    )
    return _rerank(partials, base, queries, id_col, vec_col, k, shortlist)


def ivfpq_topk(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 24,
    shortlist: int = 200,
    model: AnnModel | None = None,
) -> DataFrame:
    """IVF coarse routing + RESIDUAL-PQ ADC inside the probed lists +
    exact re-rank — the complete billion-scale ANN layout (coarse index
    prunes the scan to ~n_probe/n_lists of the corpus; PQ codes shrink
    what IS scanned by ~4d/m bytes; exact math touches only the
    shortlist).

    ``model``'s PQ codebooks were trained on and encode IVF residuals
    (vector − assigned centroid), the Jegou TPAMI 2011 §V / Faiss
    IndexIVFPQ layout: ⟨q, x⟩ = ⟨q, c_list⟩ + ⟨q, residual⟩, so the ADC
    scan adds a per-(query, list) scalar (a tiny Q×L matrix built
    driver-side from the broadcast centroids) to the usual m subspace
    table lookups.  ``shortlist`` is the re-rank depth: how many ADC
    candidates per query get exact quantized-cosine scores.
    ``model=None`` trains one on ``base`` in this call; the query catalog
    passes its per-corpus model instead (``queries_llm._corpus_model``,
    trained once per embeddings file).

    Defaults (a model with 64 spherical-k-means lists and 64 centroids
    per subspace, n_probe=24, shortlist=200 = 20*k) are from the r10
    measured recall table (ROUND10_NOTES.md):
    recall@10 0.83-0.90 at a 0.38 scan fraction on the UNIFORM-sphere
    synthetic corpus — the adversarial geometry, where top-10 neighbors
    sit at cos 0.31-0.41 against a cos~0 background and no coarse
    quantizer can concentrate them.  Clustered real-world corpora (and
    the near-dup-structured 10x rehearsal corpus) reach higher recall at
    far lower n_probe — tune n_probe first, then shortlist.

    In-sandbox the probe filter is a mask inside the code-scan kernel; at
    100 TB the codes table is written partitioned by list_id (like
    ivf_topk's assignments) so probing prunes file reads, not rows.
    Output schema matches cosine_topk/ivf_topk/pq_topk.
    """
    if model is None:
        model = ann_train(base, id_col, vec_col)
    coarse, codebooks = model.coarse, model.books
    cq_rows = model.rows
    # list_id IN-ROW on the corpus scan (r9 joined a separately-derived
    # assignments frame back onto base: a corpus-sized self-join + the
    # assignment window shuffle, both gone — see ivf_assign_col)
    listed = base.select(
        F.col(id_col),
        F.col(vec_col),
        similarity.ivf_assign_col(cq_rows, F.col(vec_col)).alias("list_id"),
    )
    m_, _width, sub = codebooks.shape

    # queries collect once, WITH their Spark-quantized forms: probe
    # selection runs driver-side over Q x n_lists exact integer dots
    # (python ints — bit-identical doubles to ivf_probes' window, same
    # desc-NaN-largest / NULLs-last / list_id-asc tie order), replacing
    # the separate probes job + collect
    qrows = queries.select(
        F.col(id_col).cast("long").alias("qid"),
        F.col(vec_col).alias("v"),
        similarity._qvec(f"`{vec_col}`").alias("qq"),
        similarity.quantized_norm_sq(f"`{vec_col}`").alias("qn"),
    ).collect()
    qids = [int(r.qid) for r in qrows]
    qx = _dense([r.v for r in qrows], m_ * sub)
    tables = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m_, sub), codebooks)
    qc = qx @ coarse.T  # (Q, L): the per-(query, list) ⟨q, centroid⟩ term

    probe_lists: dict = {}
    for r in qrows:
        probe_lists[int(r.qid)] = set(
            similarity.driver_probe_lists(r.qq, r.qn, cq_rows, n_probe)
        )

    codes = pq_encode(listed, codebooks, id_col, vec_col, coarse=coarse)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:  # empty Arrow batch: asarray yields 1-D, skip
                continue
            live, c = _codes(pdf, m_)
            ids = pdf["id"].to_numpy()
            lists = pdf["list_id"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                mask = np.isin(lists, list(probe_lists.get(qid, ())))
                if not mask.any():
                    continue
                hit = mask & live
                adc = qc[qi][lists[hit]].copy()
                for j in range(m_):
                    adc += tables[qi, j, :][c[hit, j]]
                approx = np.full(len(c), -np.inf)
                approx[hit] = adc
                approx, sub_ids = approx[mask], ids[mask]
                top = _shortlist(approx, sub_ids, shortlist)
                out_q.extend([qid] * len(top))
                out_n.extend(sub_ids[top].tolist())
                out_s.extend(approx[top].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_ip": out_s}
            )

    partials = codes.mapInPandas(
        scan, schema="query_id long, neighbor_id long, approx_ip double"
    )
    return _rerank(partials, base, queries, id_col, vec_col, k, shortlist)


# ---------------------------------------------------------------------------
# Semantic (embedding) dedup gate — the ANN sidecar form of the ingest gate
# ---------------------------------------------------------------------------

def semantic_index_rows(
    df: DataFrame,
    model: AnnModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PERSISTABLE ANN sidecar row per document: (cor_id, embedding,
    vnorm, codes, list_id, adc_err) — m small ints of ADC-scannable
    information plus the full vector for the exact verify of candidates
    (candidates only: the gate's steady-state scan column-prunes to
    (cor_id, vnorm, codes, list_id, adc_err)).  ``adc_err`` is the row's
    OWN ADC-cosine error ceiling, |r − r̂| / |x| (Cauchy-Schwarz:
    |adc_cos − true_cos| = |⟨q, r − r̂⟩| / (|q||x|) ≤ adc_err), computed
    at encode time — the gate's candidate cut uses it per row, so an ADC
    underestimate can NEVER hide a true >= threshold neighbor, with no
    trained global margin to mis-calibrate.  One mapInPandas scan, no
    shuffle — the semantic twin of doc_shingle_index."""
    coarse, codebooks = model.coarse, model.books
    m_, _w, sub = codebooks.shape
    dim = m_ * sub

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zero = [0.0] * dim
        for pdf in batches:
            if pdf.empty:
                continue
            # NULL vectors normalize to the zero vector: norm 0, cosine
            # never >= any positive threshold, so they always ADMIT (the
            # text gate's NULL contract, semantic twin) — and crash no
            # kernel
            vs = [v if v is not None else zero for v in pdf["v"]]
            x = np.asarray(vs, np.float64)
            norms = np.linalg.norm(x, axis=1)
            safe = np.where(norms == 0, 1.0, norms)
            lids = ((x / safe[:, None]) @ coarse.T).argmax(axis=1)
            res = x - coarse[lids]
            codes = _encode(res, codebooks)
            adc_err = np.linalg.norm(res - _decode(codes, codebooks), axis=1)
            adc_err /= safe
            yield pd.DataFrame(
                {
                    "cor_id": pdf["id"],
                    "embedding": vs,
                    "vnorm": norms,
                    "codes": [c.tolist() for c in codes],
                    "list_id": lids.astype(np.int32),
                    "adc_err": adc_err,
                }
            )

    from pyspark.sql.types import DoubleType, FloatType

    vec_type = df.schema[vec_col].dataType
    return df.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(
        run,
        schema=StructType(
            [
                StructField("cor_id", LongType()),
                StructField("embedding", vec_type),
                StructField("vnorm", DoubleType()),
                StructField("codes", ArrayType(IntegerType())),
                StructField("list_id", IntegerType()),
                StructField("adc_err", DoubleType()),
            ]
        ),
    )


def semantic_gate_flags(
    index: DataFrame,
    incoming: DataFrame,
    model: AnnModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_probe: int = 8,
) -> DataFrame:
    """Semantic near-dup admission flags for a (trigger-bounded) batch
    against a persisted ANN index: per incoming vector,

    1. its ``n_probe`` nearest coarse lists are chosen driver-side (the
       batch collects under the same contract that lets the banded gate
       broadcast its bucket set),
    2. the index is scanned column-pruned to (cor_id, vnorm, codes,
       list_id) with the probed-list membership PUSHED INTO THE SCAN as
       a ``list_id IN (...)`` filter (r11 verdict item #4): the literal
       set is bounded by n_lists, the parquet reader skips whole row
       groups/files wherever the sidecar layout clusters by list_id
       (``SemanticGatedIngest`` compaction rewrites it range-partitioned
       and sorted on list_id — the served-IVF-layout shape), and rows of
       unprobed lists never reach Arrow transfer even on an unclustered
       layout.  ADC-approximated cosine marks CANDIDATES (the per-row
       cut below) — O(probed-lists) work per trigger,
    3. candidates alone are verified with the EXACT quantized cosine
       against the stored embedding column (bounded fetch), so a false
       ADC candidate can never flag a keeper.

    The candidate cut is PER ROW: a row is a candidate when
    ``adc_cos >= threshold - its adc_err`` (the index stores each row's
    own Cauchy-Schwarz ADC error ceiling — see semantic_index_rows), so
    an ADC underestimate can never hide a true >= threshold neighbor.
    The ONE remaining miss mode, stated precisely (the band_prune
    contract's semantic twin): a true >= threshold pair escapes only if
    the neighbor's list is outside all n_probe probes — both vectors
    nearly coincide, so their coarse alignment does too (measured 0
    escapes on the planted fixtures at every SF and both rehearsal
    scales).  Rows with sloppy
    codes (large adc_err — e.g. an adversarially unclustered corpus)
    degrade gracefully into the exact-verify set rather than into
    misses; the verify volume stays bounded by the probed lists.
    Returns (id, near_dup, best_cos, keep).
    """
    qrows = incoming.select(
        F.col(id_col).cast("long").alias("qid"), F.col(vec_col).alias("v")
    ).collect()
    if not qrows:
        return incoming.sparkSession.createDataFrame(
            [], f"{id_col} LONG, near_dup INT, best_cos DOUBLE, keep INT"
        )
    qids = np.asarray([r.qid for r in qrows], np.int64)
    coarse, codebooks = model.coarse, model.books
    m_, _w, sub = codebooks.shape
    qx = _dense([r.v for r in qrows], m_ * sub)
    qn = np.linalg.norm(qx, axis=1)
    qn_safe = np.where(qn == 0, 1.0, qn)
    sims = (qx / qn_safe[:, None]) @ coarse.T
    n_probe = min(n_probe, coarse.shape[0])
    probes = np.argsort(-sims, axis=1)[:, :n_probe]
    probed_union = np.unique(probes)
    tables = np.einsum("qjs,jcs->qjc", qx.reshape(len(qx), m_, sub), codebooks)
    qc = qx @ coarse.T

    # probe membership as one bool matrix: the kernel tests Q x rows
    # membership with a fancy-index instead of Q python-level isin loops
    pmask = np.zeros((len(qids), coarse.shape[0]), bool)
    for qi in range(len(qids)):
        pmask[qi, probes[qi]] = True

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_chunk = 256  # bounds the (chunk x rows) score matrix per batch
        for pdf in batches:
            if pdf.empty:
                continue
            lists = pdf["list_id"].to_numpy()
            keep_rows = pmask.any(axis=0)[lists]
            if not keep_rows.any():
                continue
            pdf = pdf[keep_rows]
            lists = lists[keep_rows]
            codes = np.asarray(list(pdf["codes"]), np.int32)
            vnorm = pdf["vnorm"].to_numpy()
            row_err = pdf["adc_err"].to_numpy()
            ids = pdf["cor_id"].to_numpy()
            safe_vn = np.where(vnorm == 0, 1.0, vnorm)
            out_q, out_c = [], []
            for q0 in range(0, len(qids), q_chunk):
                q1 = min(q0 + q_chunk, len(qids))
                approx = qc[q0:q1][:, lists].copy()  # (chunk, rows)
                for j in range(m_):
                    approx += tables[q0:q1, j, :][:, codes[:, j]]
                adc_cos = approx / (
                    qn_safe[q0:q1, None] * safe_vn[None, :]
                )
                hit = pmask[q0:q1][:, lists] & (
                    adc_cos >= threshold - row_err[None, :]
                )
                qi_idx, row_idx = np.nonzero(hit)
                if len(qi_idx):
                    out_q.extend(qids[q0 + qi_idx].tolist())
                    out_c.extend(ids[row_idx].tolist())
            yield pd.DataFrame({"qid": out_q, "cor_id": out_c})

    # probed-union pushdown: evaluated JVM-side BEFORE Arrow transfer
    # (and inside the parquet reader as an In filter), so the ADC scan's
    # input is the probed lists' rows, not the whole index — pmask below
    # still enforces PER-QUERY membership on what remains.
    probe_filter = F.col("list_id").isin([int(x) for x in probed_union])
    cand = (
        index.select("cor_id", "vnorm", "codes", "list_id", "adc_err")
        .filter(probe_filter)
        .mapInPandas(scan, schema="qid long, cor_id long")
    )

    # exact verify of the bounded candidate set, VECTORIZED: the query
    # matrix rides into one mapInPandas in quantized form and each
    # candidate costs an int64 dot product — the r10 JVM-expression form
    # (one higher-order aggregate per pair) dominated the fat-trigger
    # wall at the 30x rehearsal.  Quantization reproduces _qvec exactly:
    # float -> double -> HALF_UP round to 1e-6 fixed point (numpy's
    # rint is half-even, so the sign-aware floor(+0.5) form is used);
    # a zero-norm side (NULL vector) yields NULL cosine — never a flag,
    # never a divide error.
    def _q(m: np.ndarray) -> np.ndarray:
        return (np.sign(m) * np.floor(np.abs(m) * 1_000_000 + 0.5)).astype(
            np.int64
        )

    qq = _q(qx)
    qn2 = (qq * qq).sum(axis=1)
    qpos = {int(q): i for i, q in enumerate(qids)}

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zero = [0.0] * (m_ * sub)
        for pdf in batches:
            if pdf.empty:
                continue
            cv = np.asarray(
                [v if v is not None else zero for v in pdf["cv"]],
                np.float64,
            )
            cq = _q(cv)
            qidx = np.asarray([qpos[int(q)] for q in pdf["qid"]])
            dots = np.einsum("ij,ij->i", qq[qidx], cq)
            den = np.sqrt(qn2[qidx].astype(np.float64)) * np.sqrt(
                (cq * cq).sum(axis=1).astype(np.float64)
            )
            c = [
                float(d) / dn if dn > 0 else None
                for d, dn in zip(dots, den)
            ]
            yield pd.DataFrame({"qid": pdf["qid"], "c": c})

    scored = (
        cand.filter(F.col("qid") != F.col("cor_id"))
        # candidates come exclusively from probed lists, so the verify
        # fetch prunes its index read with the same pushed In filter —
        # without it this join re-scans every (cor_id, embedding) row
        .join(
            index.filter(probe_filter).select(
                "cor_id", F.col("embedding").alias("cv")
            ),
            "cor_id",
        )
        .select("qid", "cv")
        .mapInPandas(verify, schema="qid long, c double")
    )
    best = scored.groupBy("qid").agg(F.max("c").alias("best_cos"))
    near = (F.col("best_cos") >= threshold).cast("int")
    return (
        incoming.select(F.col(id_col).cast("long").alias("qid"))
        .join(best, "qid", "left")
        .select(
            F.col("qid").alias(id_col),
            F.coalesce(near, F.lit(0)).alias("near_dup"),
            "best_cos",
            (F.lit(1) - F.coalesce(near, F.lit(0))).alias("keep"),
        )
    )
