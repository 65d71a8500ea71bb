"""Seeded corpus + query-stream generator and the numpy BM25 reference.

Everything here is a pure function of its arguments (numpy ``PCG64`` seeded
generators, no clocks, no hash randomisation), so one seed gives
byte-identical parquet and queries on every run. The engine never sees this
module: it only reads the parquet this module writes.

Corpus shape (why each property exists):

* Zipf(s) term popularity over a vocabulary of ``vocab`` terms — hot terms
  carry long posting lists, the tail carries one-chunk lists, so the build
  pays the per-term merge cost and the read path pays per-term metadata.
* Log-normal document length — BM25 length normalisation matters and doc
  lengths spread the way real text does.
* ``lang`` / ``source`` metadata drawn from skewed small sets — facet and
  multi-terms aggregations get several buckets of different sizes.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

LANGS = ("py", "js", "go", "rs", "java", "c", "ts", "rb")
N_SOURCES = 24
K1 = 1.2
B = 0.75


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int
    zipf_s: float = 1.0
    len_mu: float = 3.4  # log-normal: median doc length e^3.4 ~ 30 tokens
    len_sigma: float = 0.6
    max_len: int = 400


def term_name(rank: int) -> str:
    """Rank -> token. Lowercase ASCII with no whitespace, so every analyzer
    step of the ``whitespace`` tokenizer is the identity on it."""
    return f"t{rank}"


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


@dataclass
class Corpus:
    """Generated documents, kept as token-id arrays for the reference."""

    spec: CorpusSpec
    doc_ids: np.ndarray  # int64, 0..n_docs-1
    offsets: np.ndarray  # int64, n_docs + 1 token offsets
    tokens: np.ndarray  # int32 term ranks (0-based)
    lang: np.ndarray  # object array of str
    source: np.ndarray  # object array of str
    texts: list[str]

    @property
    def doc_len(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def text_bytes(self) -> int:
        return sum(len(t) for t in self.texts)  # ASCII: chars == bytes

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.doc_ids, self.offsets, self.tokens):
            h.update(np.ascontiguousarray(a).tobytes())
        for col in (self.lang, self.source):
            h.update("\x00".join(col).encode())
        return h.hexdigest()[:16]

    def write_parquet(self, path: str) -> None:
        """The ``documents`` table shape the engine's
        ``schema.corpus_from_documents`` adapter reads."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "doc_id": pa.array(self.doc_ids, type=pa.int64()),
                "text": pa.array(self.texts, type=pa.string()),
                "lang": pa.array(self.lang.tolist(), type=pa.string()),
                "source": pa.array(self.source.tolist(), type=pa.string()),
                "n_chars": pa.array(
                    [len(t) for t in self.texts], type=pa.int64()
                ),
            }
        )
        pq.write_table(tbl, path, row_group_size=max(1, len(self.texts) // 8))


def make_corpus(spec: CorpusSpec, seed: int) -> Corpus:
    rng = np.random.Generator(np.random.PCG64([seed, 0xC0]))
    lens = np.exp(rng.normal(spec.len_mu, spec.len_sigma, spec.n_docs))
    lens = np.clip(np.rint(lens), 1, spec.max_len).astype(np.int64)
    offsets = np.zeros(spec.n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    cdf = _zipf_cdf(spec.vocab, spec.zipf_s)
    tokens = np.searchsorted(cdf, rng.random(int(offsets[-1])), side="right")
    tokens = np.minimum(tokens, spec.vocab - 1).astype(np.int32)
    lang_p = _zipf_cdf(len(LANGS), 1.0)
    lang = np.array(LANGS, dtype=object)[
        np.searchsorted(lang_p, rng.random(spec.n_docs), side="right")
    ]
    src_p = _zipf_cdf(N_SOURCES, 0.7)
    source_ix = np.searchsorted(src_p, rng.random(spec.n_docs), side="right")
    source = np.array([f"repo{i:02d}" for i in range(N_SOURCES)], dtype=object)[
        source_ix
    ]
    names = [term_name(r) for r in range(spec.vocab)]
    texts = [
        " ".join(names[t] for t in tokens[offsets[i] : offsets[i + 1]])
        for i in range(spec.n_docs)
    ]
    return Corpus(
        spec=spec,
        doc_ids=np.arange(spec.n_docs, dtype=np.int64),
        offsets=offsets,
        tokens=tokens,
        lang=lang,
        source=source,
        texts=texts,
    )


def make_queries(
    spec: CorpusSpec, seed: int, n: int
) -> list[tuple[list[str], str]]:
    """A fixed query stream: 1..4 distinct terms drawn by the corpus's Zipf
    popularity, conjunctive or disjunctive. Same (spec, seed, n) -> same
    list.

    The draws are stratified, so the mix of work barely moves with the
    seed: the eight (term count, mode) classes take turns, and the term
    ranks are the Zipf quantiles of evenly spaced points, each jittered
    within its own slot. The seed picks the jitter and the order."""
    rng = np.random.Generator(np.random.PCG64([seed, 0x9E]))
    cdf = _zipf_cdf(spec.vocab, spec.zipf_s)
    kinds = [(1 + i % 4, ("conjunctive", "disjunctive")[i // 4 % 2]) for i in range(8)]
    kinds = [kinds[i % 8] for i in rng.permutation(n)]
    total = sum(want for want, _ in kinds)
    u = (np.arange(total) + rng.random(total)) / total
    pool = np.minimum(np.searchsorted(cdf, u, side="right"), spec.vocab - 1)
    pool = [int(r) for r in pool[rng.permutation(total)]]
    out = []
    at = 0
    for want, mode in kinds:
        picked: list[int] = []
        while len(picked) < want:
            # a term the query already has swaps with the next draw it lacks
            j = next((j for j in range(at, total) if pool[j] not in picked), None)
            if j is None:  # the last draws all repeat this query's terms
                pool[at] = next(r for r in range(spec.vocab) if r not in picked)
                j = at
            pool[at], pool[j] = pool[j], pool[at]
            picked.append(pool[at])
            at += 1
        out.append(([term_name(r) for r in picked], mode))
    return out


class Reference:
    """Independent BM25 (the engine's pinned spec: k1=1.2, b=0.75,
    Lucene idf) computed straight from the generated token arrays.

    ``live`` marks the documents that serve results; ``stats_live`` marks
    the documents the corpus statistics (N, avgdl, df) count. They differ
    between a delete and the purge that follows it: tombstoned documents
    vanish from results at once but keep counting in the statistics until
    the purge rewrites them."""

    def __init__(self, corpus: Corpus):
        self.c = corpus
        n = corpus.spec.n_docs
        doc_of_tok = np.repeat(np.arange(n, dtype=np.int64), corpus.doc_len)
        # (term, doc) -> tf, as a term-sorted posting table
        key = corpus.tokens.astype(np.int64) * n + doc_of_tok
        uk, tf = np.unique(key, return_counts=True)
        self.p_term = (uk // n).astype(np.int64)
        self.p_doc = (uk % n).astype(np.int64)
        self.p_tf = tf.astype(np.int64)
        self.term_start = np.searchsorted(
            self.p_term, np.arange(corpus.spec.vocab + 1)
        )
        self.rank = {term_name(r): r for r in range(corpus.spec.vocab)}
        self.live = np.ones(n, dtype=bool)
        self.stats_live = np.ones(n, dtype=bool)

    def delete(self, ids) -> None:
        self.live[np.asarray(ids, dtype=np.int64)] = False

    def purge(self) -> None:
        self.stats_live = self.live.copy()

    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        r = self.rank.get(term)
        if r is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        lo, hi = self.term_start[r], self.term_start[r + 1]
        return self.p_doc[lo:hi], self.p_tf[lo:hi]

    def scores(self, terms: list[str], mode: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids ascending, exact BM25 scores) of every live matching
        document; terms are summed in query order."""
        dl = self.c.doc_len
        sl = self.stats_live
        n_docs = float(sl.sum())
        avgdl = float(dl[sl].sum()) / n_docs
        terms = list(dict.fromkeys(terms))
        ids, contrib = [], []
        for t in terms:
            docs, tfs = self.postings(t)
            keep = sl[docs]
            docs, tfs = docs[keep], tfs[keep].astype(np.float64)
            if docs.size == 0:
                continue
            df = float(docs.size)
            idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            norm = tfs + K1 * (1.0 - B + B * dl[docs].astype(np.float64) / avgdl)
            ids.append(docs)
            contrib.append(idf * tfs * (K1 + 1.0) / norm)
        if not ids:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        uids, inv = np.unique(np.concatenate(ids), return_inverse=True)
        score = np.zeros(uids.size)
        np.add.at(score, inv, np.concatenate(contrib))
        hits = np.bincount(inv, minlength=uids.size)
        need = len(terms) if mode == "conjunctive" else 1
        keep = (hits >= need) & self.live[uids]
        return uids[keep], score[keep]


def check_topk(
    got: list[tuple[int, float]],
    ref: tuple[np.ndarray, np.ndarray],
    k: int,
    tol: float,
) -> str | None:
    """None when ``got`` is a correct top-k of the reference ``(ids,
    scores)`` (score desc, doc_id asc), else a one-line reason. A returned
    score may differ from the reference by ``tol`` (summation order, or the
    6-digit rounding of the distributed path), so documents whose scores
    tie within ``tol`` may swap places or swap across the k-th boundary;
    nothing else may."""
    ids, scores = ref
    want_n = min(k, ids.size)
    if len(got) != want_n:
        return f"{len(got)} hits, expected {want_n}"
    if not got:
        return None
    g_ids = np.array([d for d, _ in got], dtype=np.int64)
    g_sc = np.array([s for _, s in got], dtype=np.float64)
    if np.unique(g_ids).size != g_ids.size:
        return "duplicate doc_id in hits"
    pos = np.minimum(np.searchsorted(ids, g_ids), ids.size - 1)
    bad = ids[pos] != g_ids
    if bad.any():
        return f"doc {int(g_ids[bad][0])} is not a live match"
    exact = scores[pos]
    off = np.abs(exact - g_sc) > tol
    if off.any():
        i = int(np.argmax(off))
        return f"doc {int(g_ids[i])} score {g_sc[i]!r} vs reference {exact[i]!r}"
    for i in range(len(got) - 1):
        if exact[i] < exact[i + 1] - tol:
            return f"hits out of order at doc {int(g_ids[i])}"
        if g_sc[i] == g_sc[i + 1] and g_ids[i] > g_ids[i + 1]:
            return f"equal scores not in doc_id order at doc {int(g_ids[i])}"
    above = ids[scores > exact.min() + tol]
    missing = np.setdiff1d(above, g_ids)
    if missing.size:
        return f"doc {int(missing[0])} missing from top-{k}"
    return None
