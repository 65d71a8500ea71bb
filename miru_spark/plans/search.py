"""A14-A21 — query serving over the binary index.

Three paths, all rank-identical by construction and by test:

* ``search_topk`` (driver fast path): fetch the query terms' chunk rows
  (pruned scan), then block-max WAND for disjunctive queries / galloping
  intersection for conjunctive ones. For 2-10 query terms this touches a
  handful of bounded rows — at any corpus scale — because hot terms are
  chunked and WAND never decodes blocks it can prove irrelevant.
* ``search_exhaustive``: full decode + vectorized numpy scoring; the safety
  twin used by the BMW==exhaustive property tests.
* ``search_distributed``: the same scoring as a pure DataFrame plan over the
  chunk rows (mapInArrow decode -> groupBy(doc_id) -> top-k); the path you run
  when a query's candidate set is too large to collect (cluster-scale OR of
  hot terms), and the one the DuckDB oracle checks directly.

Every distributed scorer (here, booltree, dismax, multifield) is a thin
finisher over one shared core: ``_contribs`` (decode + score chunk rows to
contribution rows, schema derived from the generator's flags),
``_field_contribs`` (the same per field index, unioned), ``_ranked`` (round,
keyset cursor, score desc / doc_id asc, limit) and ``_chunk_bounds`` (the
block-max metadata collect behind all three chunk pruners).
"""

from __future__ import annotations

import heapq
import re
from collections.abc import Iterator
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from miru_spark.filters import Range
from miru_spark.functions import bm25
from miru_spark.index.format import unpack_chunk_bm
from miru_spark.index.reader import IndexReader, TermPostings
from miru_spark.session import local_frame

_EXHAUSTED = 1 << 62
_EPS = 1e-12


class PostingIterator:
    """Lazy cursor over one term's chunk rows; decodes one block at a time."""

    __slots__ = (
        "idf", "avgdl", "term_max", "blk_last", "blk_max", "_srcs",
        "_chunk_id", "_local_j", "_prev_last", "n_blocks",
        "bi", "pos", "_ids", "_tfs", "_dls", "exhausted",
    )

    def __init__(self, tp: TermPostings, avgdl: float):
        self.idf = tp.idf
        self.avgdl = avgdl
        self.term_max = tp.max_score(avgdl)
        # fully vectorized block metadata: lasts/bounds concatenated by the
        # reader (numpy views over the arrow fetch), (chunk, local) index
        # mapping built with repeat/arange — no per-block Python until a
        # block is actually decoded
        self.blk_last, self.blk_max, self._srcs = tp.block_arrays(avgdl)
        sizes = [src[1]["n"].size for src in self._srcs]
        self.n_blocks = int(sum(sizes))
        self._chunk_id = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
        starts = np.concatenate(([0], np.cumsum(sizes)[:-1])).astype(np.int64) \
            if sizes else np.empty(0, dtype=np.int64)
        self._local_j = (
            np.arange(self.n_blocks, dtype=np.int64) - np.repeat(starts, sizes)
        )
        # block j's docid base = previous block's last docid (0 at chunk start)
        self._prev_last = np.empty(self.n_blocks, dtype=np.int64)
        if self.n_blocks:
            self._prev_last[1:] = self.blk_last[:-1]
            self._prev_last[starts] = 0
        self.bi = -1
        self.pos = 0
        self._ids = self._tfs = self._dls = None
        self.exhausted = self.n_blocks == 0
        if not self.exhausted:
            self._load(0)

    def _load(self, bi: int) -> None:
        from miru_spark.index.format import unpack_block_bm

        blob, bm, codec = self._srcs[int(self._chunk_id[bi])]
        ids, tfs, dls = unpack_block_bm(
            blob, bm, int(self._local_j[bi]), int(self._prev_last[bi]), codec
        )
        self._ids = ids.astype(np.int64)
        self._tfs = tfs
        self._dls = dls
        self.bi = bi
        self.pos = 0

    @property
    def cur_docid(self) -> int:
        return _EXHAUSTED if self.exhausted else int(self._ids[self.pos])

    def next(self) -> None:
        self.pos += 1
        if self.pos >= self._ids.size:
            if self.bi + 1 >= self.n_blocks:
                self.exhausted = True
            else:
                self._load(self.bi + 1)

    def seek(self, target: int) -> None:
        """Advance to first docid >= target (gallop: block index via
        searchsorted on last_docids, then within-block searchsorted)."""
        if self.exhausted or self.cur_docid >= target:
            return
        j = int(np.searchsorted(self.blk_last, target))
        if j >= self.n_blocks:
            self.exhausted = True
            return
        if j != self.bi:
            self._load(j)
        self.pos = int(np.searchsorted(self._ids, target, side="left"))
        if self.pos >= self._ids.size:  # cannot happen: blk_last[j] >= target
            self.next()

    def block_bound(self, docid: int) -> tuple[float, int]:
        """(max_score, last_docid) of the block that would contain docid —
        WITHOUT decoding it (the shallow pointer of BMW)."""
        j = int(np.searchsorted(self.blk_last, docid))
        if j >= self.n_blocks:
            return 0.0, _EXHAUSTED
        return float(self.blk_max[j]), int(self.blk_last[j])

    def score_current(self) -> float:
        tf = float(self._tfs[self.pos])
        dl = float(self._dls[self.pos])
        norm = tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / self.avgdl)
        return self.idf * tf * (bm25.K1 + 1.0) / norm


def _topk_sorted(heap: list[tuple[float, int]], k: int) -> list[tuple[int, float]]:
    best = sorted(heap, key=lambda t: (-t[0], -t[1]))[:k]
    return [(-negid, score) for score, negid in best]


def _is_excluded(excl: np.ndarray | None, docid: int) -> bool:
    if excl is None:
        return False
    j = int(np.searchsorted(excl, docid))
    return j < excl.size and int(excl[j]) == docid


def _bonus_at(bonus: np.ndarray | None, docid: int) -> float:
    """Per-doc additive static score (A79 rank_feature); docs past the
    dense array's end (never possible for a docmap-built array, but cheap
    to guard) contribute 0 like a missing feature."""
    if bonus is None or docid >= bonus.size:
        return 0.0
    return float(bonus[docid])


def _cursor_ok(
    after: tuple[float, int] | None, score: float, docid: int
) -> bool:
    """search_after eligibility (A38, Lucene IndexSearcher.searchAfter):
    a hit qualifies only if it sorts strictly AFTER the cursor in the
    result order (score desc, doc_id asc). Scores within ``_EPS`` of the
    cursor's are ties broken by doc_id — BM25 recomputes bit-identically
    for the same doc within one path, but the iterator and vectorized
    paths may differ in summation order by an ulp, so exact float
    equality would make the page boundary path-dependent."""
    if after is None:
        return True
    s, d = after
    return score < s - _EPS or (score <= s + _EPS and docid > d)


def _is_eligible(
    incl: np.ndarray | None, excl: np.ndarray | None, docid: int
) -> bool:
    """Candidate eligibility: inside the metadata-filter allowlist (A34,
    None = unfiltered) and not excluded (boolean NOT / tombstones). Both
    checks are applied at heap-insert time, which keeps WAND's theta a
    valid lower bound over eligible docs — skipping an ineligible pivot
    without scoring can only raise future thetas."""
    if incl is not None:
        j = int(np.searchsorted(incl, docid))
        if j >= incl.size or int(incl[j]) != docid:
            return False
    return not _is_excluded(excl, docid)


def wand_topk(
    iters: list[PostingIterator],
    k: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    min_match: int = 1,
    bonus: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Block-max WAND (Ding & Suel 2011) over per-term lazy iterators.

    Heap entries are (score, -doc_id); ties on score are won by the smaller
    doc_id, which the ascending iteration order makes automatic. Skipping
    with ``ub <= theta`` is tie-safe once the heap is full because any future
    doc has a larger doc_id than every heap entry and so loses exact ties.

    ``min_match`` (ES minimum_should_match): a doc qualifies only when at
    least that many distinct query terms hit it; its score still sums over
    ALL its matching terms. Enforced at heap-insert like NOT/filters, so
    theta stays a valid bound over qualifying docs and block-skipping stays
    safe; once fewer than min_match iterators remain alive no doc can
    qualify and the loop stops.

    ``bonus`` (A79 rank_feature / distance_feature): a dense per-doc
    additive static score. Every upper bound — pivot selection and the
    block-max skip test — is inflated by ``bmax = max(bonus)``, so ``ub``
    stays a true upper bound on the FINAL score (bm25 + bonus) and
    block skipping stays exact; the actual per-doc bonus (<= bmax by
    construction) is added at scoring time. This is precisely why
    Lucene's FeatureQuery keeps top-k pruning where FunctionScoreQuery
    cannot: additive-and-bounded preserves the monotone bound.
    """
    bmax = (
        float(bonus.max()) if bonus is not None and bonus.size else 0.0
    )
    heap: list[tuple[float, int]] = []
    iters = [it for it in iters if not it.exhausted]
    while iters:
        iters = [it for it in iters if not it.exhausted]
        if len(iters) < min_match or not iters:
            break
        iters.sort(key=lambda it: it.cur_docid)
        theta = heap[0][0] if len(heap) >= k else -np.inf
        acc = bmax
        pivot_idx = -1
        for i, it in enumerate(iters):
            acc += it.term_max
            if acc > theta - _EPS:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break
        pivot = iters[pivot_idx].cur_docid
        if pivot >= _EXHAUSTED:
            break
        # extend the pivot group across iterators tied at the pivot docid:
        # they contribute to the pivot doc's score, so the block-max upper
        # bound must include them or skipping is unsafe
        while (
            pivot_idx + 1 < len(iters)
            and iters[pivot_idx + 1].cur_docid == pivot
        ):
            pivot_idx += 1
        if iters[0].cur_docid == pivot:
            bounds = [it.block_bound(pivot) for it in iters[: pivot_idx + 1]]
            ub = sum(b[0] for b in bounds) + bmax
            if len(heap) >= k and ub <= theta - _EPS:
                nxt = min(b[1] for b in bounds) + 1
                if pivot_idx + 1 < len(iters):
                    nxt = min(nxt, iters[pivot_idx + 1].cur_docid)
                nxt = max(nxt, pivot + 1)
                for it in iters[: pivot_idx + 1]:
                    it.seek(nxt)
                continue
            # ineligible pivots (boolean NOT / metadata filter) advance
            # without scoring; they never enter the heap, so theta stays a
            # valid lower bound over eligible docs and block-skipping stays
            # safe
            if _is_eligible(incl, excl, pivot):
                score = _bonus_at(bonus, pivot)
                n_matched = 0
                for it in iters:
                    if it.cur_docid == pivot:
                        score += it.score_current()
                        n_matched += 1
                # pre-cursor docs never enter the heap, so theta stays a
                # valid bound over the page's eligible docs (same argument
                # as NOT / metadata filters above)
                if n_matched >= min_match and _cursor_ok(after, score, pivot):
                    entry = (score, -pivot)
                    if len(heap) < k:
                        heapq.heappush(heap, entry)
                    elif entry > heap[0]:
                        heapq.heapreplace(heap, entry)
            for it in iters:
                if it.cur_docid == pivot:
                    it.next()
        else:
            for it in iters[:pivot_idx]:
                it.seek(pivot)
    return _topk_sorted(heap, k)


def conjunctive_topk(
    iters: list[PostingIterator],
    k: int,
    excl: np.ndarray | None = None,
    incl: np.ndarray | None = None,
    after: tuple[float, int] | None = None,
    bonus: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    """Galloping k-list intersection driven by the rarest term (A16).
    ``bonus`` adds the A79 per-doc static score at scoring time (the
    intersection scores every surviving doc, so no bound logic needed)."""
    if not iters or any(it.exhausted for it in iters):
        return []
    heap: list[tuple[float, int]] = []
    iters = sorted(iters, key=lambda it: it.blk_last.size)  # rarest first
    lead = iters[0]
    while not lead.exhausted:
        docid = lead.cur_docid
        matched = True
        for it in iters[1:]:
            it.seek(docid)
            if it.exhausted:
                return _topk_sorted(heap, k)
            if it.cur_docid != docid:
                lead.seek(it.cur_docid)
                matched = False
                break
        if not matched:
            continue
        if _is_eligible(incl, excl, docid):
            score = sum(it.score_current() for it in iters) + _bonus_at(
                bonus, docid
            )
            if _cursor_ok(after, score, docid):
                entry = (score, -docid)
                if len(heap) < k:
                    heapq.heappush(heap, entry)
                elif entry > heap[0]:
                    heapq.heapreplace(heap, entry)
        lead.next()
    return _topk_sorted(heap, k)


# ----------------------------------------------------------- entry points --

# Below this many total postings, one vectorized numpy pass beats the
# skip-capable iterator walk: vectorized decode+score costs ~30ns/posting
# while the Python iterator costs ~2us/posting, so WAND only wins when
# block skipping eliminates >98% of postings — which needs genuinely
# heterogeneous score distributions AND a large corpus. 8M postings is
# ~200MB of driver arrays; beyond that (or beyond driver memory), use
# search_distributed, which is the cluster-scale path anyway.
EXHAUSTIVE_CUTOFF = 1 << 23


def parse_query(query: str) -> tuple[list[str], str, list[str]]:
    """A14 — ``"a AND b"`` / ``"a OR b"`` / ``"a AND b NOT c"`` /
    ``'"a b c"'`` (quoted = exact phrase) / bare term list ->
    (terms, mode, exclude).

    AND anywhere makes the query conjunctive; OR alone makes it
    disjunctive; ``NOT t`` excludes every doc containing ``t`` (any number
    of NOT clauses); a fully-quoted query is a phrase; a bare whitespace
    list defaults to conjunctive. Operators are case-sensitive uppercase
    (lowercase and/or/not are corpus terms)."""
    import re

    q = query.strip()
    m = re.fullmatch(r'"(.+)"~(\d+)', q, flags=re.S)
    if m:  # '"a b"~3' -> proximity; slop rides along in the mode string
        return m.group(1).split(), f"near:{m.group(2)}", []
    if len(q) >= 2 and q[0] == '"' and q[-1] == '"':
        return q[1:-1].split(), "phrase", []
    toks = q.split()
    terms: list[str] = []
    exclude: list[str] = []
    has_and = has_or = False
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "AND":
            has_and = True
        elif t == "OR":
            has_or = True
        elif t == "NOT":
            if i + 1 >= len(toks) or toks[i + 1] in ("AND", "OR", "NOT"):
                raise ValueError("NOT must be followed by a term")
            exclude.append(toks[i + 1])
            i += 1
        else:
            terms.append(t)
        i += 1
    if has_and and has_or:
        raise ValueError("mixed AND/OR queries are not supported")
    if not terms:
        raise ValueError("query needs at least one positive term")
    return terms, ("disjunctive" if has_or else "conjunctive"), exclude


def _is_multi(tok: str) -> bool:
    """Token that rewrites to an OR-group: ``foo*`` (prefix), ``foo~``
    (fuzzy), or a general wildcard with ``*`` anywhere (``te*t``,
    ``*fix``, Lucene WildcardQuery)."""
    return len(tok) > 1 and (tok[-1] in "*~" or "*" in tok)


def _expand_one(reader: IndexReader, t: str, max_terms: int) -> list[str]:
    """Dictionary expansion for one multi-token. Trailing ``*`` with no
    other star keeps the cheap statistics-pruned prefix seek; any other
    star placement compiles to an anchored regex over the term dictionary
    (literal-prefix pruned when one exists — a LEADING star means a full
    dictionary scan, same cost class Lucene documents for leading
    wildcards)."""
    import re

    if t[-1] == "~":
        return reader.expand_fuzzy(t[:-1], max_terms=max_terms)
    if t[-1] == "*" and "*" not in t[:-1]:
        return reader.expand_prefix(t[:-1], max_terms=max_terms)
    pat = ".*".join(re.escape(p) for p in t.split("*"))
    return reader.expand_regex(pat, max_terms=max_terms)


def _expand_with_boosts(
    reader: IndexReader,
    tokens: list[str],
    boosts: dict[str, float],
    max_terms: int,
) -> tuple[list[str], dict[str, float]]:
    """Expand wildcard tokens; a boost on a wildcard ('sp*^2') propagates
    to every expansion. An explicit term's own boost wins on collision
    regardless of token order ('spark^2 sp*^3' keeps spark at 2.0): wildcard
    boosts land in a first pass, explicit boosts overwrite in a second."""
    out: list[str] = []
    bout: dict[str, float] = {}
    explicit: dict[str, float] = {}
    for t in tokens:
        if _is_multi(t):
            ex = _expand_one(reader, t, max_terms)
            w = boosts.get(t)
            if w is not None:
                for e in ex:
                    bout[e] = w
            out.extend(ex)
        else:
            out.append(t)
            if t in boosts:
                explicit[t] = boosts[t]
    bout.update(explicit)
    return list(dict.fromkeys(out)), bout


def _expand_wildcards(
    reader: IndexReader, tokens: list[str], max_terms: int
) -> tuple[list[str], bool]:
    """Rewrite ``foo*`` (prefix), ``te*t`` (general wildcard) and ``foo~``
    (fuzzy, <=1 edit) tokens via the term dictionary; returns
    (terms, had_wildcard). A wildcard that matches nothing simply drops
    out."""
    out: list[str] = []
    had = False
    for t in tokens:
        if _is_multi(t):
            had = True
            out.extend(_expand_one(reader, t, max_terms))
        else:
            out.append(t)
    return list(dict.fromkeys(out)), had


_RANGE_RE = None  # compiled lazily (module import stays regex-free)


def _coerce_bound(reader: IndexReader, col: str, raw: str):
    """A range bound typed to its docmap column: int columns coerce (a
    non-numeric bound on an int column is a user error), strings pass
    through and compare lexicographically."""
    if col in reader.docmap_int_columns():
        try:
            return int(raw)
        except ValueError:
            raise ValueError(
                f"range bound {raw!r} is not an integer (column {col!r})"
            ) from None
    return raw


def _merge_range(acc: dict[str, Range], col: str, r: Range) -> None:
    """AND a new range into the per-column accumulator: each bound kind may
    be set once (``doc_len:>=10 doc_len:<50`` composes; two lower bounds
    conflict)."""
    prev = acc.get(col)
    if prev is None:
        acc[col] = r
        return
    kw = {}
    for lo_pair in (("gte", "gt"), ("lte", "lt")):
        olds = [(k, getattr(prev, k)) for k in lo_pair if getattr(prev, k) is not None]
        news = [(k, getattr(r, k)) for k in lo_pair if getattr(r, k) is not None]
        if olds and news:
            raise ValueError(
                f"conflicting {'lower' if 'g' in lo_pair[0] else 'upper'} "
                f"bounds for {col!r}"
            )
        for k, v in olds + news:
            kw[k] = v
    acc[col] = Range(**kw)


def _extract_ranges(
    reader: IndexReader, query: str
) -> tuple[str, dict[str, Range]]:
    """Strip Lucene bracket-range tokens (``col:[lo TO hi]`` — ``{``/``}``
    for exclusive per side, ``*`` for open) out of the raw query string
    (they contain a space, so they must come off before tokenization) and
    return (residual query, per-column Range map)."""
    global _RANGE_RE
    if _RANGE_RE is None:
        import re

        _RANGE_RE = re.compile(
            r"(\w+):([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])"
        )
    rangeable = set(reader.docmap_columns()) - {"content_sha256"}
    found: dict[str, Range] = {}

    def repl(m) -> str:
        col, lob, lo, hi, hib = m.groups()
        if col not in rangeable:
            return m.group(0)  # not a metadata column: leave as text
        kw = {}
        if lo != "*":
            kw["gte" if lob == "[" else "gt"] = _coerce_bound(reader, col, lo)
        if hi != "*":
            kw["lte" if hib == "]" else "lt"] = _coerce_bound(reader, col, hi)
        if not kw:
            raise ValueError(f"range on {col!r} has two open bounds")
        _merge_range(found, col, Range(**kw))
        return " "

    return _RANGE_RE.sub(repl, query), found


def search(
    reader: IndexReader, query: str, k: int = 10, max_terms: int = 1024
) -> list[tuple[int, float]]:
    """Parse-and-search convenience wrapper: ``search(r, "join AND hash")``,
    ``search(r, "join NOT tree")``, ``search(r, "sp*")`` (prefix), or
    ``search(r, '"join hash"')`` for an exact phrase (positional index).

    Queries with parentheses — or mixed AND/OR, resolved by precedence
    ``NOT > AND > OR`` — route to the nested boolean-tree engine (A56,
    :mod:`miru_spark.plans.booltree`): ``(a OR b) AND (c OR d) NOT e``.
    Range filters still extract first; ``field:value`` equality filters
    don't ride in the tree grammar (pass ``where=`` to ``search_bool``).
    Parentheses are ALWAYS structural there (Lucene QueryParser rule): a
    corpus term literally containing ``(``/``)`` can't be queried through
    the grammar — call ``search_topk(reader, [token])`` directly. Wildcard
    and fuzzy tokens inside trees raise (flat-grammar rewrites only).

    Prefix tokens rewrite to their dictionary expansions. In a positive
    position they are OR-groups, so they are only allowed where the flat
    mode keeps the semantics exact: disjunctive queries, or a query that is
    a single prefix token. In a NOT clause any match excludes the doc, so
    prefix exclusions are always allowed.

    ``field:value`` tokens (Lucene field-query syntax) whose field names
    a docmap metadata column become metadata filters (A34): ``lang:py
    join hash`` restricts to docs with lang=py; repeating a field ORs its
    values (``lang:py lang:go`` = lang IN (py, go)); distinct fields AND.
    A ``foo:bar`` token whose prefix is NOT a metadata column stays a
    corpus term (e.g. code tokens like ``std::map`` fragments). Phrase and
    proximity queries are fully quoted, so the grammar can't carry filter
    tokens there — pass ``where=`` to search_phrase/search_near directly.

    Range filters (A35, Lucene range-query syntax): ``doc_len:[100 TO
    500]`` (inclusive), ``doc_len:{100 TO 500}`` (exclusive; brackets mix
    per side), ``*`` for an open bound, and single-token comparisons
    ``doc_len:>=100`` / ``doc_len:<500`` (repeating a field ANDs its
    comparisons into one range). Integer columns coerce their bounds;
    string columns compare lexicographically.
    """
    query, range_filters = _extract_ranges(reader, query)
    stripped = re.sub(r'"[^"]*"', " ", query)
    toks = stripped.split()
    if "(" in stripped or ("AND" in toks and "OR" in toks):
        # nested boolean trees (A56): parentheses, or mixed AND/OR resolved
        # by precedence (NOT > AND > OR). field:value filters don't ride in
        # the tree grammar — pass where= to search_bool directly.
        from miru_spark.plans.booltree import search_bool

        return search_bool(reader, query, k=k, where=range_filters or None)
    terms, mode, exclude = parse_query(query)
    if mode == "phrase":
        if terms and terms[-1].endswith("*") and "*" not in terms[-1][:-1]:
            # '"distributed jo*"' = match_phrase_prefix (A61): the quoted
            # phrase's last token is a prefix to expand via the dictionary
            return search_phrase_prefix(
                reader,
                " ".join(terms[:-1] + [terms[-1][:-1]]),
                k=k,
                where=range_filters or None,
            )
        return search_phrase(
            reader, " ".join(terms), k=k, where=range_filters or None
        )
    if mode.startswith("near:"):
        if len(terms) > 2:
            # Grammar semantics, pinned: 2-term '"a b"~N' is UNORDERED
            # pair proximity (|pos_a - pos_b| <= N — Lucene span_near
            # unordered, A28); 3+-term routes to the sloppy PHRASE
            # (alignment window over q_j = p_j - j, A71), which is
            # order-sensitive. The two measures intentionally differ —
            # call search_phrase_sloppy directly for 2-term phrase-slop
            # semantics (it accepts 2 tokens).
            return search_phrase_sloppy(
                reader, " ".join(terms), slop=int(mode[5:]), k=k,
                where=range_filters or None,
            )
        if len(terms) != 2:
            raise ValueError("proximity queries take exactly two terms")
        return search_near(
            reader, terms[0], terms[1], slop=int(mode[5:]), k=k,
            where=range_filters or None,
        )
    # string metadata only: ints (doc_id/doc_len) and the content hash
    # can't be equality-filtered from a text token sensibly (ranges handle
    # the numeric columns)
    meta_cols = set(reader.docmap_columns()) - {
        "doc_id", "doc_len", "content_sha256"
    }
    rangeable = set(reader.docmap_columns()) - {"content_sha256"}
    filters: dict[str, list[str]] = {}

    def split_filters(toks: list[str]) -> list[str]:
        kept = []
        for t in toks:
            col, sep, val = t.partition(":")
            if sep and val[:1] in ("<", ">") and col in rangeable:
                # single-token comparison: col:>=v col:>v col:<=v col:<v
                op, bound = (
                    (val[:2], val[2:]) if val[1:2] == "=" else (val[:1], val[1:])
                )
                if not bound:
                    raise ValueError(f"empty bound in range token {t!r}")
                kw = {{">=": "gte", ">": "gt", "<=": "lte", "<": "lt"}[op]:
                      _coerce_bound(reader, col, bound)}
                _merge_range(range_filters, col, Range(**kw))
            elif sep and val and col in meta_cols:
                filters.setdefault(col, []).append(val)
            else:
                kept.append(t)
        return kept

    terms = split_filters(terms)
    if set(filters) & set(range_filters):
        both = sorted(set(filters) & set(range_filters))
        raise ValueError(
            f"column(s) {both} have both equality and range filters; "
            "use one or the other"
        )
    where = (
        {c: (v[0] if len(v) == 1 else v) for c, v in filters.items()}
        | range_filters
    ) or None
    if not terms:
        raise ValueError(
            "query needs at least one positive term besides filters"
        )
    # 'term^2.5' boosts strip FIRST so 'sp*^2' is recognized as a boosted
    # wildcard (the boost then applies to every expansion); boosts on NOT
    # terms are meaningless and silently stripped
    boosts: dict[str, float] = {}

    def strip_boost(toks: list[str], collect: bool) -> list[str]:
        out = []
        for t in toks:
            base, sep, w = t.rpartition("^")
            if sep and base:
                try:
                    wf = float(w)
                except ValueError:
                    out.append(t)
                    continue
                if collect:
                    boosts[base] = wf
                out.append(base)
            else:
                out.append(t)
        return out

    terms = strip_boost(terms, collect=True)
    exclude = strip_boost(exclude, collect=False)
    # synonym groups (A41 grammar): 'tcp|ip' scores as ONE pseudo-term
    # (SynonymQuery). In a NOT clause the distinction vanishes (any member
    # excludes the doc), so exclusion groups just flatten.
    if any("|" in t for t in exclude):
        exclude = [p for t in exclude for p in t.split("|") if p]
    if any("|" in t for t in terms):
        if boosts:
            raise ValueError(
                "boosts cannot combine with synonym groups (a|b): a group "
                "has one shared idf, not per-member weights"
            )
        groups = [[p for p in t.split("|") if p] for t in terms]
        if any(not g for g in groups):
            raise ValueError("empty synonym group")
        if any(_is_multi(p) for g in groups for p in g):
            raise ValueError("wildcards cannot appear inside synonym groups")
        return search_synonym(
            reader, groups, mode=mode, k=k, exclude=exclude, where=where
        )
    has_multi = any(_is_multi(t) for t in terms)
    if has_multi and mode == "conjunctive" and len(terms) > 1:
        raise ValueError(
            "prefix/fuzzy terms in multi-term conjunctive queries are not "
            "supported (they are OR-groups); use OR"
        )
    explicit = {t for t in terms if not _is_multi(t)}
    explicit_excl = {t for t in exclude if not _is_multi(t)}
    if has_multi:
        terms, boosts = _expand_with_boosts(reader, terms, boosts, max_terms)
        mode = "disjunctive"
        if not terms:
            return []
    exclude, _ = _expand_wildcards(reader, exclude, max_terms)
    # overlap policy: only an EXPLICITLY typed term on BOTH sides is a user
    # contradiction. An expansion overlapping the other side just resolves:
    # 's* NOT spark' drops 'spark' from the positive OR-group (its docs are
    # excluded anyway); 'spark NOT sp*' means every hit is excluded ->
    # empty result for a required term, never an exception.
    if exclude:
        overlap = set(terms) & set(exclude)
        if overlap & explicit & explicit_excl:
            raise ValueError("a term cannot be both required and excluded")
        if overlap:
            if mode == "conjunctive" and (overlap & explicit):
                return []
            terms = [t for t in terms if t not in overlap]
            if not terms:
                return []
            boosts = {t: b for t, b in boosts.items() if t in set(terms)}
    return search_topk(
        reader, terms, mode=mode, k=k, exclude=exclude, boosts=boosts or None,
        where=where,
    )


def search_prefix(
    reader: IndexReader,
    prefix: str,
    k: int = 10,
    max_terms: int = 1024,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Prefix query ``prefix*`` — Lucene-style scoring-boolean rewrite:
    expand against the sorted term dictionary, then disjunctive BM25 over
    the expansions (each expansion scored with its own idf)."""
    terms = reader.expand_prefix(prefix, max_terms=max_terms)
    if not terms:
        return []
    return search_topk(reader, terms, mode="disjunctive", k=k, strategy=strategy)


def search_term_range(
    reader: IndexReader,
    lo: str,
    hi: str,
    include_lo: bool = True,
    include_hi: bool = True,
    k: int = 10,
    max_terms: int = 1024,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Term range query (Lucene TermRangeQuery / ES range on a keyword
    field): every vocabulary term lexicographically within [lo, hi]
    (bounds optionally exclusive), rewritten scoring-boolean — disjunctive
    BM25 over the expansions, each scored with its own idf. Same rewrite
    discipline as prefix/regex/fuzzy: the dictionary seek is
    statistics-pruned, the expansion count is capped, the serving path is
    the shared one."""
    terms = reader.expand_term_range(
        lo, hi, include_lo=include_lo, include_hi=include_hi,
        max_terms=max_terms,
    )
    if not terms:
        return []
    return search_topk(reader, terms, mode="disjunctive", k=k, strategy=strategy)


def search_fuzzy(
    reader: IndexReader,
    term: str,
    max_edits: int = 1,
    k: int = 10,
    max_terms: int = 1024,
    strategy: str = "auto",
    transpositions: bool = False,
) -> list[tuple[int, float]]:
    """Fuzzy query ``term~`` — expand to vocabulary terms within
    ``max_edits`` Levenshtein distance, then disjunctive BM25 over the
    expansions (each with its own idf). Rare misspellings get HIGHER idf
    than the intended term — the classic scoring-boolean behavior; callers
    wanting uniform weights can rescore the expansions themselves.
    ``transpositions=True`` counts adjacent swaps as one edit (OSA — the
    ES default fuzziness / Lucene automaton behavior; max_edits=1 only,
    see :meth:`IndexReader.expand_fuzzy`)."""
    terms = reader.expand_fuzzy(
        term,
        max_edits=max_edits,
        max_terms=max_terms,
        transpositions=transpositions,
    )
    if not terms:
        return []
    return search_topk(reader, terms, mode="disjunctive", k=k, strategy=strategy)


def search_regex(
    reader: IndexReader,
    pattern: str,
    k: int = 10,
    max_terms: int = 1024,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Regex term query (grep-style, the code-search staple): expand the
    pattern against the term dictionary (literal-prefix pruned), then
    disjunctive BM25 over the matches — same scoring-boolean rewrite as
    prefix/fuzzy. Python-re semantics driver-side; entries pin patterns
    from the re∩RE2 common subset so the oracle agrees."""
    terms = reader.expand_regex(pattern, max_terms=max_terms)
    if not terms:
        return []
    return search_topk(reader, terms, mode="disjunctive", k=k, strategy=strategy)


def suggest_spelling(
    reader: IndexReader,
    term: str,
    max_edits: int = 1,
    k: int = 5,
    more_popular: bool = True,
) -> list[tuple[str, int, int]]:
    """Did-you-mean (Lucene DirectSpellChecker): vocabulary terms within
    ``max_edits`` of ``term``, ranked by (edit distance asc, df desc,
    term asc). The input itself (distance 0) is never suggested;
    ``more_popular`` (Lucene SUGGEST_MORE_POPULAR) keeps only corrections
    with a HIGHER df than the input — a typo is rarer than its fix.

    Candidate generation reuses the fuzzy machinery (FastSS deletion
    neighborhood for 1 edit, banded dictionary scan beyond), so cost is a
    few statistics-pruned dictionary seeks at any vocabulary size.
    """
    from miru_spark.index.reader import lev_dist_bounded

    cands = reader.expand_fuzzy(term, max_edits=max_edits)
    cands = [t for t in cands if t != term]
    if not cands:
        return []
    dfs = reader.term_dfs(cands + [term])
    floor = dfs.get(term, 0) if more_popular else -1

    def dist(t: str) -> int:
        return lev_dist_bounded(term, t, max_edits)

    ranked = sorted(
        (
            (t, dist(t), dfs[t])
            for t in cands
            if dfs.get(t, 0) > floor
        ),
        key=lambda r: (r[1], -r[2], r[0]),
    )
    return ranked[:k]


def search_facets(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Per-facet hit counts over the FULL candidate set (not just top-k) —
    the aggregation a search UI renders beside results.

    Plan: distributed candidate generation (pruned postings scan -> ids-only
    or scored decode -> agg) -> equi-join the docmap's (doc_id, facet)
    projection -> hash agg by facet. The docmap side prunes to two columns
    at scan time; AQE picks the join strategy from the candidate set's
    runtime size."""
    return (
        _candidates(reader, terms, mode, exclude, where, facet_col)
        .groupBy(facet_col)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(facet_col)
    )


def search_facets_by_metric(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    metric_col: str = "doc_len",
    metric: str = "avg",
    size: int = 10,
    round_digits: int = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A111 — terms aggregation ordered by a sub-aggregation metric (ES
    ``terms`` with ``"order": {"metric_agg": "desc"}``): buckets ranked by
    avg/sum/min/max of a numeric field over the candidate set instead of
    doc count — "which language's hits run longest", the bucket ordering
    count can't express. ES documents this ordering as approximate across
    shards for avg-like metrics; this engine computes it EXACTLY because
    the hash agg sees all partitions before the TakeOrderedAndProject.

    One candidate scan -> docmap (facet, metric) projection join -> ONE
    map-side-combined hash agg emitting count + the metric -> top-``size``
    by (metric desc, facet asc). avg derives from exact integer sums
    before rounding so the tiebreak is engine-independent."""
    if metric not in ("avg", "sum", "min", "max"):
        raise ValueError(f"unknown metric {metric!r}")
    if size < 1:
        raise ValueError("size must be >= 1")
    x = F.col(metric_col).cast("long")
    agg = (
        _candidates(reader, terms, mode, exclude, where, facet_col, metric_col)
        .groupBy(facet_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(x).alias("__sum"),
            F.min(x).alias("__min"),
            F.max(x).alias("__max"),
        )
    )
    if metric == "avg":
        m = F.round(F.col("__sum") / F.col("n_docs").cast("double"),
                    round_digits)
    elif metric == "sum":
        m = F.col("__sum").cast("double")
    elif metric == "min":
        m = F.col("__min").cast("double")
    else:
        m = F.col("__max").cast("double")
    return (
        agg.select(facet_col, "n_docs", m.alias("metric"))
        .orderBy(F.desc("metric"), F.asc(facet_col))
        .limit(size)
    )


def search_multi_terms(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    fields: tuple[str, ...] = ("lang", "repo"),
    size: int = 10,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A103 — multi_terms aggregation (ES ``multi_terms``): buckets keyed
    by a TUPLE of docmap fields over the full candidate set, ordered by
    doc count descending (field tuple ascending as the deterministic
    tiebreak), ``size``-bounded. The one-shot answer to "top (lang, repo)
    combinations among the hits" — unlike a terms-in-terms nesting, tuple
    buckets compete against each other globally, so a hot pair under a
    cold first key still surfaces (exactly why ES added multi_terms).

    Plan: candidate scan -> docmap multi-column projection join -> ONE
    hash agg by the tuple (map-side partial combine) ->
    TakeOrderedAndProject on (count desc, keys asc) — the shuffle carries
    one row per distinct tuple per partition, never per doc."""
    if len(fields) < 2:
        raise ValueError("multi_terms needs >= 2 fields (use search_facets)")
    if size < 1:
        raise ValueError("size must be >= 1")
    return (
        _candidates(reader, terms, mode, exclude, where, *fields)
        .groupBy(*fields)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), *fields)
        .limit(size)
    )


def search_adjacency_matrix(
    reader: IndexReader,
    filters: dict[str, list[str]],
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A67 — adjacency_matrix aggregation (ES ``adjacency_matrix``): given
    named term filters, count the docs matching each filter AND each
    pairwise intersection — the co-occurrence matrix search UIs render as
    a chord diagram ("docs about spark AND streaming").

    Plan: ONE pruned postings scan covering every filter's terms ->
    ids-only decode -> per-(doc, filter) distinct-term counts -> the
    per-doc matched-filter SET -> self-join per doc emits the (i, j>=i)
    pairs. The self-join is per-doc over matched FILTERS (a handful), not
    over docs — so the output is |filters|^2 buckets, never quadratic in
    the corpus. Filter semantics = conjunctive term lists, matching ES's
    filters-as-queries."""
    if not filters:
        raise ValueError("adjacency_matrix needs at least one named filter")
    _, matched, _ = _filter_matches(reader, filters, exclude, where)
    a = matched.alias("a")
    b = matched.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.fname") <= F.col("b.fname")),
    ).select(
        F.when(F.col("a.fname") == F.col("b.fname"), F.col("a.fname"))
        .otherwise(F.concat_ws("&", F.col("a.fname"), F.col("b.fname")))
        .alias("bucket")
    )
    return pairs.groupBy("bucket").agg(F.count("*").alias("n_docs")).orderBy(
        "bucket"
    )


def search_variable_width_histogram(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    buckets: int = 5,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A107 — variable_width_histogram (ES ``variable_width_histogram``):
    at most ``buckets`` buckets whose boundaries ADAPT to the data instead
    of a fixed width — ES clusters the values approximately and
    shard-dependently; this engine pins the DETERMINISTIC fixed point of
    that idea: split the sorted distinct values at the ``buckets - 1``
    LARGEST gaps (ties: wider gap first, then lower value), so the buckets
    are exactly the natural clusters and the result is layout- and
    shard-independent — reproducible where ES's is approximate.

    Plan: candidate scan -> docmap projection join -> distinct VALUES
    (bounded by the column's cardinality, not by docs) -> one lag window
    over the distinct-value table for gaps (the only single-partition step,
    same discipline as sequence packing's bucket table) -> top gaps via
    TakeOrderedAndProject -> the <= buckets-1 boundary values return to the
    driver (bounded by the ``buckets`` PARAMETER, never by data) and bucket
    assignment + the final agg are pure codegen over a literal boundary
    list."""
    from pyspark.sql import Window

    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    vals = _candidates(reader, terms, mode, exclude, where, col).select(
        F.col(col).cast("long").alias("v")
    )
    distinct = vals.distinct()
    w = Window.orderBy("v")
    boundaries = [
        int(r.v)
        for r in distinct.select(
            "v", (F.col("v") - F.lag("v").over(w)).alias("gap")
        )
        .filter(F.col("gap").isNotNull())
        .orderBy(F.desc("gap"), "v")
        .limit(buckets - 1)
        .collect()
    ]
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + (F.col("v") >= F.lit(b)).cast("int")
    return (
        vals.select("v", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.count("*").alias("n_docs"),
        )
        .select("min_v", "max_v", "n_docs")
        .orderBy("min_v")
    )


def search_filters_agg(
    reader: IndexReader,
    filters: dict[str, list[str]],
    other_bucket: bool = True,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A106 — filters aggregation (ES ``filters`` + ``other_bucket``):
    named conjunctive term filters as independent buckets — every named
    bucket is emitted even at count 0 (the ES contract) — plus the
    ``_other_`` bucket counting live docs matching NO named filter. The
    contrast with A67 adjacency_matrix: no pairwise intersections, and the
    other bucket makes the rows a PARTITION of the live corpus (each doc
    lands in other iff it matches nothing; named buckets may overlap).

    Plan: one pruned ids-only postings scan over the union of filter
    terms -> per-(doc, filter) distinct-term counts (A67's match frame) ->
    one hash agg per filter; the other bucket is live-docmap anti-join the
    matched-doc set, aggregated to a single count — a count-only job, no
    doc list ever reaches the driver."""
    if not filters:
        raise ValueError("filters agg needs at least one named filter")
    if "_other_" in filters:
        raise ValueError("'_other_' is the reserved other-bucket name")
    sdf, matched, live = _filter_matches(reader, filters, exclude, where)
    named = (
        sdf.select("fname")
        .join(
            matched.groupBy("fname").agg(F.count("*").alias("n_docs")),
            "fname",
            "left",
        )
        .select(
            F.col("fname").alias("bucket"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
    )
    if other_bucket:
        other = (
            live.join(matched.select("doc_id").distinct(), "doc_id", "left_anti")
            .agg(F.count("*").alias("n_docs"))
            .select(F.lit("_other_").alias("bucket"), "n_docs")
        )
        named = named.unionByName(other)
    return named.orderBy("bucket")


def search_facets_composite(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    sources: tuple[str, ...] = ("lang", "repo"),
    size: int = 5,
    after: tuple | None = None,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A66 — composite aggregation (ES ``composite`` agg): paginated
    multi-source buckets. Buckets are the distinct value TUPLES of the
    source columns over the full candidate set, emitted in key order,
    ``size`` per page, with an ``after`` key cursor — aggregation-side
    keyset pagination, the bucket twin of ``search_after`` (A38). Deep
    pages never re-materialize earlier ones: the after-key predicate is a
    codegen filter ahead of the TakeOrderedAndProject top-``size``, so a
    page costs one candidate scan + one hash agg regardless of how deep
    the cursor is — which is exactly why ES recommends composite over
    ``terms`` aggs for walking high-cardinality buckets."""
    if not sources:
        raise ValueError("composite aggregation needs at least one source")
    if after is not None and len(after) != len(sources):
        raise ValueError("after key arity must match sources")
    agg = (
        _candidates(reader, terms, mode, exclude, where, *sources)
        .groupBy(*sources)
        .agg(F.count("*").alias("n_docs"))
    )
    if after is not None:
        # tuple ordering: (s0, s1, ...) > after, expanded to boolean algebra
        pred = None
        for i in range(len(sources)):
            eq = None
            for j in range(i):
                e = F.col(sources[j]) == F.lit(after[j])
                eq = e if eq is None else (eq & e)
            gt = F.col(sources[i]) > F.lit(after[i])
            clause = gt if eq is None else (eq & gt)
            pred = clause if pred is None else (pred | clause)
        agg = agg.filter(pred)
    return agg.orderBy(*list(sources)).limit(size)


def explain(
    reader: IndexReader,
    terms: list[str],
    doc_id: int,
    mode: str = "conjunctive",
    boosts: dict[str, float] | None = None,
) -> dict:
    """A45 — Lucene ``IndexSearcher.explain``: the per-term BM25 breakdown
    of one document's score for one query, as structured data (the
    debugging surface behind every 'why does doc X outrank doc Y').

    Returns ``{doc_id, matches, score, details: [{term, matched, tf,
    doc_len, df, idf, boost, norm, contribution}, ...]}``; ``score`` is
    exactly what the serving paths produce for this doc (0.0 when the doc
    doesn't satisfy the query mode or is deleted). Cost: one pruned fetch
    + decode of the query terms — the same work one query pays."""
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    tps = _apply_boosts(reader.fetch_terms(terms), boosts)
    boosts = boosts or {}
    tomb = _with_tombstones(reader, None)
    deleted = _is_excluded(tomb, int(doc_id))
    details = []
    total, nmatch = 0.0, 0
    for t in terms:
        if t not in tps:
            details.append(
                {"term": t, "matched": False, "reason": "term not in index"}
            )
            continue
        ids, tfs, dls = reader.decode_term(tps[t])
        j = int(np.searchsorted(ids, int(doc_id)))
        if j >= ids.size or int(ids[j]) != int(doc_id):
            details.append(
                {"term": t, "matched": False, "reason": "no posting for doc"}
            )
            continue
        tf, dl = float(tfs[j]), float(dls[j])
        boost = float(boosts.get(t, 1.0))
        idf = tps[t].idf / boost  # _apply_boosts scaled it; report both
        norm = tf + bm25.K1 * (1.0 - bm25.B + bm25.B * dl / reader.avgdl)
        contribution = tps[t].idf * tf * (bm25.K1 + 1.0) / norm
        details.append(
            {
                "term": t,
                "matched": True,
                "tf": tf,
                "doc_len": dl,
                "df": float(tps[t].df),
                "idf": idf,
                "boost": boost,
                "norm": norm,
                "contribution": contribution,
            }
        )
        total += contribution
        nmatch += 1
    matches = (
        not deleted
        and nmatch > 0
        and (mode == "disjunctive" or nmatch == len(terms))
    )
    return {
        "doc_id": int(doc_id),
        "matches": matches,
        "deleted": bool(deleted),
        "score": total if matches else 0.0,
        "details": details,
    }


def search_match_bool_prefix(
    reader: IndexReader,
    query: str,
    mode: str = "conjunctive",
    k: int = 10,
    max_expansions: int = 50,
    tokenizer: str = "whitespace",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """A104 — ES ``match_bool_prefix``: the search-as-you-type BOOLEAN
    companion to ``match_phrase_prefix`` (A61). Every token but the last
    is a plain term clause; the last token is a prefix clause that matches
    ANY dictionary expansion — but unlike A61 the tokens need NOT be
    adjacent or ordered, so ``'hash jo'`` finds docs mentioning hashing
    and joins anywhere.

    Pinned scoring: the prefix slot is ONE blended pseudo-term — per-doc
    tf = SUM of the expansions' tfs, idf from the MAX expansion df —
    exactly A41's SynonymQuery convention (Lucene blends the prefix's
    expansions the same way in its BlendedTermQuery rewrite, so two
    near-synonymous completions don't double-idf); fixed tokens score
    plain BM25. ``mode='conjunctive'`` (ES operator AND) requires every
    clause — the prefix slot counts as one clause satisfied by any
    expansion; ``'disjunctive'`` (operator OR, the ES default) requires
    any. Expansion order/cap mirrors A61: first ``max_expansions`` in
    term order.

    Implementation IS the synonym engine: fixed tokens become singleton
    groups, the expansion set one blended group — no new scoring code to
    drift."""
    from miru_spark.functions.tokenize import tokenize_py

    toks = tokenize_py(query, tokenizer)
    if not toks:
        raise ValueError("empty query")
    if max_expansions <= 0:
        raise ValueError("max_expansions must be positive")
    fixed, prefix = toks[:-1], toks[-1]
    expansions = sorted(reader.expand_prefix(prefix, max_terms=1 << 30))[
        :max_expansions
    ]
    groups = [[t] for t in dict.fromkeys(fixed)]
    if expansions:
        groups.append(expansions)
    elif mode == "conjunctive" or not groups:
        return []  # unexpandable prefix clause: AND can't match; bare OR empty
    return search_synonym(
        reader, groups, mode=mode, k=k, exclude=exclude, where=where
    )


def search_synonym(
    reader: IndexReader,
    groups: list[list[str]],
    mode: str = "conjunctive",
    k: int = 10,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """A41 — synonym-group scoring (Lucene ``SynonymQuery``): each group
    of terms scores as if it were ONE term — per-doc tf is the SUM of the
    members' tfs and the idf uses the MAX of the members' dfs — so a doc
    saying 'tcp tcp' and one saying 'tcp ip' score identically for the
    group [tcp, ip], and a rare synonym can't inflate the group's idf the
    way a plain OR of terms would.

    Groups then combine conjunctively (every group matched) or
    disjunctively, with the usual NOT / metadata-filter composition.
    Driver path is the vectorized decoder (per-group tf-sum via
    np.unique + add.at, groups summed per doc by ``_sum_by_doc``); the
    terms of one group are decoded from the same pruned fetch the plain
    path uses."""
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    if k <= 0 or not groups:
        return []
    flat = list(dict.fromkeys(t for g in groups for t in g))
    exclude = _check_exclude(flat, exclude)
    tps = reader.fetch_terms(flat)
    excl = _with_tombstones(reader, _exclusion_ids(reader, exclude))
    incl = reader.filter_doc_ids(where) if where else None
    if incl is not None and incl.size == 0:
        return []
    per_group: list[tuple[np.ndarray, np.ndarray]] = []
    for g in groups:
        have = [t for t in dict.fromkeys(g) if t in tps]
        if not have:
            if mode == "conjunctive":
                return []
            continue
        ids_l, tfs_l, dls_l = [], [], []
        for t in have:
            ids, tfs, dls = reader.decode_term(tps[t])
            ids_l.append(ids)
            tfs_l.append(tfs.astype(np.float64))
            dls_l.append(dls.astype(np.float64))
        ids = np.concatenate(ids_l)
        uids, inv = np.unique(ids, return_inverse=True)
        tf_sum = np.zeros(uids.size)
        np.add.at(tf_sum, inv, np.concatenate(tfs_l))
        # dl is a per-DOC property: every member posting for the same doc
        # carries the same dl, so last-write-wins assignment is exact
        dl_u = np.zeros(uids.size)
        dl_u[inv] = np.concatenate(dls_l)
        df_g = max(float(tps[t].df) for t in have)
        idf_g = float(bm25.idf_np(df_g, float(reader.n_docs)))
        per_group.append((uids, bm25.score_np(tf_sum, idf_g, dl_u, reader.avgdl)))
    if not per_group:
        return []
    uids, agg, cnt = _sum_by_doc(
        np.concatenate([p[0] for p in per_group]),
        np.concatenate([p[1] for p in per_group]),
    )
    if mode == "conjunctive":
        keep = cnt == len(per_group)
        uids, agg = uids[keep], agg[keep]
    if excl is not None and uids.size:
        keep = ~np.isin(uids, excl, assume_unique=True)
        uids, agg = uids[keep], agg[keep]
    if incl is not None and uids.size:
        keep = np.isin(uids, incl, assume_unique=True)
        uids, agg = uids[keep], agg[keep]
    return _top_k(uids, agg, k)


def search_sorted(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    sort_field: str = "doc_len",
    k: int = 10,
    ascending: bool = False,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A39 — sort-by-field results (Lucene ``Sort``/ES ``sort``): the
    top-k matching docs ordered by a docmap metadata column instead of
    relevance, doc_id as the deterministic tiebreak.

    Plan: the distributed candidate plan (so NOT / metadata filters
    compose) -> equi-join the docmap's (doc_id, field) projection ->
    ``orderBy(field).limit(k)``. Spark compiles orderBy+limit to
    TakeOrderedAndProject — a per-partition heap plus a driver merge, never
    a full sort/shuffle of the candidate set, so the plan holds at 100 TB.
    Returns (doc_id, <sort_field>)."""
    if sort_field == "doc_id":
        raise ValueError("sort by doc_id is just the candidate order")
    key = F.col(sort_field).asc() if ascending else F.col(sort_field).desc()
    return (
        _candidates(reader, terms, mode, exclude, where, sort_field)
        .orderBy(key, F.col("doc_id").asc())
        .limit(k)
    )


def search_facets_histogram(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    width: int = 10,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A40 — histogram aggregation over the candidate set (ES
    ``histogram``): fixed-width bins of a numeric docmap column, one row
    per non-empty bin, keyed by the bin's inclusive lower bound.

    Same plan shape as search_facets — candidate ids join the docmap's
    two-column projection, then one hash agg on the bin key; the bin
    arithmetic is a JVM built-in so the agg stays in whole-stage
    codegen."""
    if width <= 0:
        raise ValueError("width must be positive")
    bin_lo = (F.floor(F.col(col) / width) * width).cast("long").alias("bin_lo")
    return (
        _candidates(reader, terms, mode, exclude, where, col)
        .groupBy(bin_lo)
        .agg(F.count("*").alias("n_docs"))
        .orderBy("bin_lo")
    )


def search_histogram_pipeline(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    width: int = 10,
    moving_window: int = 3,
    selector_min: int | None = None,
    round_digits: int | None = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
    serial_lag: int = 2,
) -> DataFrame:
    """A90 — ES pipeline aggregations over histogram buckets: derivative,
    cumulative_sum and a trailing moving average (ES ``derivative`` /
    ``cumulative_sum`` / ``moving_fn`` unweightedAvg), plus ``serial_diff``
    (lag-``serial_lag`` difference — the seasonal detrender), ``normalize``
    method=percent_of_sum (each bucket as a percentage of all buckets),
    and ``bucket_selector``.

    Parent agg = the A40 fixed-width histogram; every pipeline metric is a
    pure window expression over the BUCKET rows (whole-stage codegen, and
    |buckets| rows — the window costs nothing next to the candidate agg):

    * ``deriv``   = n_docs - lag(n_docs) ordered by bin key (null on the
      first bucket — ES's leading-edge behavior);
    * ``cum_n``   = running total of n_docs;
    * ``mov_avg`` = mean of n_docs over the trailing ``moving_window``
      buckets (window shorter at the leading edge, like ES moving_fn);
    * ``sdiff``   = n_docs - lag(n_docs, serial_lag) (ES ``serial_diff``;
      null on the first ``serial_lag`` buckets);
    * ``pct_of_sum`` = n_docs * 100 / total(n_docs) (ES ``normalize``
      method=percent_of_sum) — the total is a window sum over the bucket
      rows, NOT a second candidate pass;
    * ``selector_min`` drops buckets with n_docs < floor AFTER the other
      metrics are computed (ES applies bucket_selector last, so a removed
      neighbor never changes another bucket's derivative).
    """
    from pyspark.sql import Window

    if moving_window <= 0:
        raise ValueError("moving_window must be positive")
    if serial_lag <= 0:
        raise ValueError("serial_lag must be positive")
    buckets = search_facets_histogram(
        reader, terms, mode=mode, col=col, width=width, exclude=exclude,
        where=where,
    )
    w = Window.orderBy("bin_lo")
    mov = Window.orderBy("bin_lo").rowsBetween(-(moving_window - 1), 0)
    mov_avg = F.avg("n_docs").over(mov)
    total = Window.orderBy("bin_lo").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # same expression order as the SQL twin (n * 100.0 / total): the float
    # results must agree bit for bit before rounding
    pct = F.col("n_docs") * 100.0 / F.sum("n_docs").over(total)
    if round_digits is not None:
        mov_avg = F.round(mov_avg, round_digits)
        pct = F.round(pct, round_digits)
    out = buckets.select(
        "bin_lo",
        "n_docs",
        (F.col("n_docs") - F.lag("n_docs").over(w)).alias("deriv"),
        F.sum("n_docs").over(w).alias("cum_n"),
        mov_avg.alias("mov_avg"),
        (F.col("n_docs") - F.lag("n_docs", serial_lag).over(w)).alias("sdiff"),
        pct.alias("pct_of_sum"),
    )
    if selector_min is not None:
        out = out.filter(F.col("n_docs") >= selector_min)
    return out.orderBy("bin_lo")


def search_bucket_sort(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    width: int = 10,
    by: str = "n_docs",
    descending: bool = True,
    frm: int = 0,
    size: int = 3,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A109 — bucket_sort pipeline aggregation (ES ``bucket_sort``):
    re-order the parent histogram's buckets by a bucket metric and keep a
    ``from``/``size`` page — "the 3 busiest doc-length bands", the bucket
    world's top-k. Pure post-processing of the A40 bucket rows: the sort +
    offset + limit run over |buckets| rows (TakeOrderedAndProject after
    one hash agg), never over docs; ties break on ``bin_lo`` ascending so
    the page is deterministic on both engines."""
    if by not in ("n_docs", "bin_lo"):
        raise ValueError("by must be 'n_docs' or 'bin_lo'")
    if frm < 0 or size < 1:
        raise ValueError("frm must be >= 0 and size >= 1")
    buckets = search_facets_histogram(
        reader, terms, mode=mode, col=col, width=width, exclude=exclude,
        where=where,
    )
    key = F.desc(by) if descending else F.asc(by)
    return buckets.orderBy(key, F.asc("bin_lo")).offset(frm).limit(size)


def search_facets_ranges(
    reader: IndexReader,
    terms: list[str],
    ranges: list[tuple[int | None, int | None]],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A82 — range aggregation over the candidate set (ES ``range``):
    explicit [from, to) buckets of a numeric docmap column — ``None``
    bounds are open, buckets may overlap (each range is an independent
    filter, exactly ES semantics) and EMPTY buckets still emit a row with
    n_docs=0 (ES returns every requested bucket).

    One candidate plan + one docmap projection join + ONE hash agg: every
    bucket is a conditional sum inside the same aggregate (all codegen
    built-ins), then the single result row unpivots driver-side to one row
    per bucket — the agg shuffles |ranges| longs per partition regardless
    of corpus size, and overlapping buckets cost nothing extra."""
    if not ranges:
        raise ValueError("ranges must be non-empty")
    for lo, hi in ranges:
        if lo is not None and hi is not None and lo >= hi:
            raise ValueError(f"empty range [{lo}, {hi})")
    joined = _candidates(reader, terms, mode, exclude, where, col)

    def label(lo, hi):
        return f"{'*' if lo is None else lo}-{'*' if hi is None else hi}"

    aggs = []
    for i, (lo, hi) in enumerate(ranges):
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= lo)
        if hi is not None:
            cond = cond & (F.col(col) < hi)
        aggs.append(
            F.coalesce(F.sum(cond.cast("long")), F.lit(0))
            .cast("long")
            .alias(f"_b{i}")  # labels carry *, keep agg names identifier-safe
        )
    # Stays a lazy plan like every sibling search_facets_*: the single agg
    # row unpivots via stack() (a generator projection), not a collect().
    stack_args: list = [F.lit(len(ranges))]
    for i, (lo, hi) in enumerate(ranges):
        stack_args += [F.lit(label(lo, hi)), F.col(f"_b{i}")]
    return joined.agg(*aggs).select(
        F.stack(*stack_args).alias("bucket", "n_docs")
    )


def search_facets_sampled(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    probability: float = 0.5,
    seed: str = "s0",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A89 — random_sampler aggregation (ES ``random_sampler``): compute a
    downstream aggregation over a Bernoulli(p) sample of the candidate set
    instead of all of it — the knob that makes exploratory aggs affordable
    when the candidate set is billions of docs (scan cost scales with p,
    counts scale back up by 1/p on the client if an estimate of the full
    corpus is wanted; raw sampled counts are returned here, as ES does).

    ES draws a per-shard random stream; this engine keys the draw on
    md5(seed:doc_id) exactly like the pipeline's :func:`hash_sample` —
    membership is a pure function of the doc, so the sampled agg is
    REPRODUCIBLE across partitionings, re-runs, and engines (and therefore
    value-oracle-able, which ES's sampler is not). The sample filter is a
    codegen projection on the candidate ids — no shuffle added; the facet
    agg downstream is unchanged."""
    from miru_spark.pipeline.sampling import hash_sample

    if not 0.0 < probability <= 1.0:
        raise ValueError(f"probability must be in (0,1], got {probability}")
    cand = _candidates(reader, terms, mode, exclude, where)
    dm = reader.docmap_df().select("doc_id", facet_col)
    return (
        hash_sample(cand, probability, seed=seed)
        .join(dm, "doc_id")
        .groupBy(facet_col)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(facet_col))
    )


def search_field_stats(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A46 — stats aggregation over the candidate set (ES ``stats``):
    count/min/max/sum/avg of a numeric docmap column across every matching
    doc, one row. Same candidate plan as facets; the agg is one hash agg
    with partial (map-side) combine, so it's a single shuffle of five
    numbers per partition at any corpus size."""
    sums = _candidate_moments(reader, terms, mode, col, exclude, where)
    return sums.select(
        "n_docs",
        "min_v",
        "max_v",
        "sum_v",
        F.round(F.col("sum_v") / F.col("n_docs").cast("double"), 6).alias("avg_v"),
    )


def _candidate_moments(
    reader: IndexReader,
    terms: list[str],
    mode: str,
    col: str,
    exclude: list[str] | None,
    where: dict | None,
) -> DataFrame:
    """Shared candidate-set moment sums for A46 stats / A93 extended_stats:
    one map-side-combined hash agg of exact integer moments (n, min, max,
    Σx, Σx²) — a handful of longs per partition at any corpus size, and
    partition-merge-order independent by exactness."""
    x = F.col(col).cast("long")
    return _candidates(reader, terms, mode, exclude, where, col).agg(
        F.count("*").alias("n_docs"),
        F.min(x).alias("min_v"),
        F.max(x).alias("max_v"),
        F.sum(x).alias("sum_v"),
        F.sum(x * x).alias("sum_sq"),
    )


def search_extended_stats(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """ES ``extended_stats``: the A46 stats row plus sum_of_squares,
    population variance, and population std deviation (ES defaults).

    Same single map-side-combined hash agg as A46/A73: exact integer
    moment sums (n, Σx, Σx² as longs) accumulate, and the float moments
    derive from them in one final projection — partition-merge-order
    independent, rounded to the registry float policy."""
    sums = _candidate_moments(reader, terms, mode, col, exclude, where)
    n = F.col("n_docs").cast("double")
    mean = F.col("sum_v") / n
    # clamp before sqrt: once the exact integer sums exceed 2^53 the float
    # derivation can round a true ~0 variance to -epsilon (NaN std_dev)
    var = F.greatest(F.col("sum_sq") / n - mean * mean, F.lit(0.0))
    return sums.select(
        "n_docs",
        "min_v",
        "max_v",
        "sum_v",
        "sum_sq",
        F.round(mean, 6).alias("avg_v"),
        F.round(var, 6).alias("variance"),
        F.round(F.sqrt(var), 6).alias("std_dev"),
    )


def search_matrix_stats(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col_x: str = "doc_len",
    col_y: str = "doc_id",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A73 — matrix_stats aggregation (ES ``matrix_stats``): second-moment
    statistics of a numeric docmap field PAIR over the candidate set —
    count, means, sample variances, covariance, Pearson correlation.

    Numerically disciplined: the single hash agg accumulates EXACT integer
    moment sums (n, Σx, Σy, Σx², Σy², Σxy — map-side combinable longs, a
    handful of numbers per partition at any corpus size), and the float
    statistics derive from them in one final projection. Exact integer
    partials make the result independent of partition merge order — the
    same discipline as the B27 integer-cents oracle."""
    cols = [c for c in (col_x, col_y) if c != "doc_id"]
    x, y = F.col(col_x).cast("long"), F.col(col_y).cast("long")
    sums = _candidates(reader, terms, mode, exclude, where, *cols).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    # the SUMS stay exact longs (bound: n * max(x*y) < 2^63 — fine for
    # doc_len-scale fields into the billions of docs; past that, swap the
    # accumulators to decimal(38,0), same plan shape); the DERIVED products
    # sx*sx etc. are computed in double — sy ~ 1e11 at 500k docs would
    # overflow int64 when squared
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    var_x = (F.col("sxx") - sx * sx / n) / (n - 1)
    var_y = (F.col("syy") - sy * sy / n) / (n - 1)
    covar = (F.col("sxy") - sx * sy / n) / (n - 1)
    # n=1 (no sample variance) and zero-variance (constant field) yield
    # NULL, never a divide-by-zero — mirrored exactly in the SQL twin
    guard = F.col("n") > 1
    var_x_g = F.when(guard, var_x)
    var_y_g = F.when(guard, var_y)
    corr = F.when(
        guard & (var_x > 0) & (var_y > 0), covar / F.sqrt(var_x * var_y)
    )
    return sums.select(
        F.col("n").alias("n_docs"),
        F.round(sx / n, 6).alias("mean_x"),
        F.round(sy / n, 6).alias("mean_y"),
        F.round(var_x_g, 6).alias("var_x"),
        F.round(var_y_g, 6).alias("var_y"),
        F.round(F.when(guard, covar), 6).alias("covariance"),
        F.round(corr, 6).alias("correlation"),
    )


def search_cardinality(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "lang",
    exclude: list[str] | None = None,
    where: dict | None = None,
    exact: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """A59 — cardinality aggregation (ES ``cardinality``): number of
    distinct values of a docmap column across the candidate set. ES runs
    HyperLogLog++; ``exact=False`` (the default, matching ES) uses Spark's
    ``approx_count_distinct`` — the same HLL++ sketch, mergeable
    map-side, so the shuffle carries one sketch per partition regardless
    of corpus size. ``exact=True`` switches to ``count(DISTINCT ...)``
    (a real distinct shuffle) for oracle-checkable results; the pytest
    asserts the sketch lands within its ``rsd`` error band of the exact
    answer."""
    j = _candidates(reader, terms, mode, exclude, where, col)
    agg = (
        F.count_distinct(F.col(col))
        if exact
        else F.approx_count_distinct(col, rsd)
    )
    return j.agg(agg.cast("long").alias("cardinality"))


def search_percentiles(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    percentiles: tuple[float, ...] = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99),
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A60 — percentiles aggregation (ES ``percentiles``, default ranks):
    linear-interpolated percentiles of a numeric docmap column over the
    candidate set, one (pct, value) row each. Spark's exact ``percentile``
    aggregate interpolates at rank ``p*(n-1)`` — identical to DuckDB's
    ``quantile_cont`` (property-tested), so the oracle is value-exact.
    ES's production path is t-digest (approximate); at 100-TB scale swap
    in ``percentile_approx`` the way cardinality swaps HLL — the plan
    shape (one map-side-combinable agg, no row explosion) is the same."""
    if not percentiles or any(not (0 < p <= 1) for p in percentiles):
        raise ValueError("percentiles must be in (0, 1]")
    arr = ",".join(repr(float(p)) for p in percentiles)
    row = _candidates(reader, terms, mode, exclude, where, col).selectExpr(
        f"percentile({col}, array({arr})) AS v"
    )
    pct_arr = F.array(*[F.lit(float(p)) for p in percentiles])
    return row.select(F.posexplode("v").alias("i", "value")).select(
        F.element_at(pct_arr, F.col("i") + 1).alias("pct"),
        F.round("value", 6).alias("value"),
    )


def search_percentile_ranks(
    reader: IndexReader,
    terms: list[str],
    values: tuple[float, ...],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """ES ``percentile_ranks`` (inverse percentiles): for each given value,
    the percent of the candidate set's ``col`` values at or below it —
    "what fraction of matching files are under 4 KB". Exact variant: the
    inverse of A60's rank-``p*(n-1)`` linear interpolation, so
    percentile_ranks(percentiles(p)) == 100p on continuous data. Clamped
    to 0 below the min and 100 at/above the max (the ES convention).

    One map-side-combined hash agg computes every value's bracket stats
    (count <=, neighbor order statistics) simultaneously — no sort, no
    row explosion, a handful of numbers per partition at any corpus size;
    ES's production path is t-digest (approximate) with the same plan
    shape."""
    if not values:
        raise ValueError("values must be non-empty")
    x = F.col(col).cast("double")
    aggs = [F.count("*").alias("n")]
    for i, v in enumerate(values):
        lv = F.lit(float(v))
        aggs += [
            F.sum(F.when(x <= lv, 1).otherwise(0)).alias(f"le_{i}"),
            F.max(F.when(x <= lv, x)).alias(f"xle_{i}"),
            F.min(F.when(x > lv, x)).alias(f"xgt_{i}"),
        ]
    sums = _candidates(reader, terms, mode, exclude, where, col).agg(*aggs)
    rows = []
    for i, v in enumerate(values):
        lv = F.lit(float(v))
        n = F.col("n").cast("double")
        le = F.col(f"le_{i}").cast("double")
        p = (
            F.when(le == 0, F.lit(0.0))
            .when(le == n, F.lit(1.0))
            .otherwise(
                (
                    (le - 1.0)
                    + (lv - F.col(f"xle_{i}"))
                    / (F.col(f"xgt_{i}") - F.col(f"xle_{i}"))
                )
                / (n - 1.0)
            )
        )
        rows.append(
            F.struct(lv.alias("value"), F.round(100.0 * p, 6).alias("pct_rank"))
        )
    # one explode over the single agg row — a per-value union of selects
    # would re-run the aggregation once per value
    return sums.select(F.explode(F.array(*rows)).alias("s")).select(
        "s.value", "s.pct_rank"
    )


def search_string_stats(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "lang",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """ES ``string_stats``: length statistics plus Shannon entropy (base 2,
    the ES convention) of the CHARACTER distribution across every value of
    a keyword docmap field over the candidate set.

    Plan: candidate ids -> docmap (doc_id, col) projection join -> two
    aggs. Lengths come from one map-side-combined hash agg of exact
    integer sums. The character distribution explodes each value into
    per-position chars via ``sequence + substring`` (identical semantics
    in the DuckDB twin — no reliance on either engine's empty-separator
    split quirks); the explosion is |values| x avg_len rows but the
    partial agg collapses it to |alphabet| longs per partition before the
    shuffle, so the exchanged state is bounded by the alphabet at any
    corpus size."""
    vals = _candidates(reader, terms, mode, exclude, where, col).select(
        F.col(col).alias("v")
    )
    lens = vals.agg(
        F.count("*").alias("n_vals"),
        F.min(F.length("v")).cast("long").alias("min_len"),
        F.max(F.length("v")).cast("long").alias("max_len"),
        F.sum(F.length("v")).cast("long").alias("sum_len"),
    )
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of emitting empty —
    # filter zero-length values first so the twin's exclusive range agrees
    chars = (
        vals.where(F.length("v") > 0)
        .select(
            F.explode(F.expr("sequence(1, length(v))")).alias("i"), "v"
        )
        .select(F.substring(F.col("v"), F.col("i"), 1).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("cnt"))
    )
    # entropy from exact integer char counts: -sum(p * log2 p), p = cnt/total
    ent = chars.agg(
        F.sum("cnt").alias("total"),
        F.sum(
            F.col("cnt").cast("double")
            * F.log2(F.col("cnt").cast("double"))
        ).alias("sum_clog"),
    ).select(
        F.when(
            F.col("total") > 0,
            F.log2(F.col("total").cast("double"))
            - F.col("sum_clog") / F.col("total").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("entropy_raw")
    )
    return lens.crossJoin(ent).select(
        "n_vals",
        "min_len",
        "max_len",
        F.round(
            F.col("sum_len").cast("double") / F.col("n_vals").cast("double"),
            6,
        ).alias("avg_len"),
        F.round("entropy_raw", 6).alias("entropy"),
    )


def search_mad(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """ES ``median_absolute_deviation``: median(|x - median(x)|) of a
    numeric docmap column over the candidate set — the robust dispersion
    measure. Exact variant (ES's production path is t-digest): two passes
    over the (bounded, already-joined) candidate projection — median via
    Spark's exact interpolated ``percentile`` (== DuckDB ``quantile_cont``,
    the A60 identity), broadcast the single-row median back, then the
    median of absolute deviations. Each pass is one map-side-combined agg;
    nothing corpus-sized ever reaches the driver."""
    vals = _candidates(reader, terms, mode, exclude, where, col).select(
        F.col(col).cast("double").alias("x")
    )
    med = vals.agg(
        F.count("*").alias("n_docs"),
        F.expr("percentile(x, 0.5)").alias("median_raw"),
    )
    return (
        vals.crossJoin(F.broadcast(med))
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("median_raw").alias("median_raw"),
            F.expr("percentile(abs(x - median_raw), 0.5)").alias("mad_raw"),
        )
        .select(
            # an empty candidate set leaves the cross join empty, so first()
            # yields NULL; the twin (and ES) report a zero count there
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.round("median_raw", 6).alias("median_v"),
            F.round("mad_raw", 6).alias("mad"),
        )
    )


def search_boxplot(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """ES ``boxplot``: min / q1 / median / q3 / max / IQR of a numeric
    docmap column over the candidate set, in ONE map-side-combined agg
    (quartiles via the exact interpolated ``percentile`` array — the same
    rank-``p*(n-1)`` spec as A60, == DuckDB ``quantile_cont``; ES's
    production path is t-digest with the same single-agg plan shape)."""
    row = (
        _candidates(reader, terms, mode, exclude, where, col)
        .select(F.col(col).cast("long").alias("x"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("x").alias("min_v"),
            F.max("x").alias("max_v"),
            F.expr("percentile(x, array(0.25, 0.5, 0.75))").alias("qs"),
        )
    )
    q = lambda i: F.element_at("qs", i)  # noqa: E731
    return row.select(
        "n_docs",
        "min_v",
        "max_v",
        F.round(q(1), 6).alias("q1"),
        F.round(q(2), 6).alias("q2"),
        F.round(q(3), 6).alias("q3"),
        F.round(q(3) - q(1), 6).alias("iqr"),
    )


def search_t_test(
    reader: IndexReader,
    terms_a: list[str],
    terms_b: list[str],
    mode: str = "conjunctive",
    col: str = "doc_len",
    where: dict | None = None,
) -> DataFrame:
    """ES ``t_test`` (heteroscedastic / Welch variant, ES's default): the
    t statistic comparing a numeric docmap column between TWO filtered
    candidate sets, plus the Welch–Satterthwaite degrees of freedom.

    Pinned spec: this engine reports (t_stat, welch_df) where ES reports
    the p-value — the CDF step needs the regularized incomplete beta,
    which neither Spark SQL nor the DuckDB oracle can express as built-in
    arithmetic; the statistic and dof are the deterministic,
    value-oracle-able core (a caller maps them through scipy driver-side
    if a p-value is needed). Both groups reduce to exact integer moment
    sums (the A73 discipline) in one map-side-combined agg each, so the
    result is partition-merge-order independent; groups with n < 2 or
    zero pooled variance yield NULL, never a division error."""
    stats = []
    for terms in (terms_a, terms_b):
        m = _candidate_moments(reader, terms, mode, col, None, where)
        stats.append(m.select("n_docs", "sum_v", "sum_sq"))
    a = stats[0].select(
        F.col("n_docs").alias("n_a"),
        F.col("sum_v").alias("sx_a"),
        F.col("sum_sq").alias("sq_a"),
    )
    b = stats[1].select(
        F.col("n_docs").alias("n_b"),
        F.col("sum_v").alias("sx_b"),
        F.col("sum_sq").alias("sq_b"),
    )
    j = a.crossJoin(b)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sxa, sxb = F.col("sx_a").cast("double"), F.col("sx_b").cast("double")
    # sample variances from the exact integer sums (double derivation —
    # squaring the sums would overflow int64 first, same note as A73)
    va = (F.col("sq_a").cast("double") - sxa * sxa / na) / (na - 1)
    vb = (F.col("sq_b").cast("double") - sxb * sxb / nb) / (nb - 1)
    mean_a, mean_b = sxa / na, sxb / nb
    se2 = va / na + vb / nb
    guard = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    t = F.when(guard, (mean_a - mean_b) / F.sqrt(se2))
    dof = F.when(
        guard,
        (se2 * se2)
        / (
            (va / na) * (va / na) / (na - 1)
            + (vb / nb) * (vb / nb) / (nb - 1)
        ),
    )
    return j.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


def term_vector(
    corpus: DataFrame, doc_id: int, tokenizer: str = "whitespace"
) -> DataFrame:
    """A47 — term vector for one document (Lucene term vectors / ES
    ``_termvectors``): (term, tf, first_pos) rows from the stored field,
    tokenized with the index's own analyzer. The corpus scan is pruned by
    a pushed-down doc_id filter (one row read); token work is a single
    posexplode + hash agg, all JVM built-ins."""
    from miru_spark.functions.tokenize import tokens_col

    toks = tokens_col("content", tokenizer)
    return (
        corpus.filter(F.col("doc_id") == int(doc_id))
        .select(F.posexplode(toks).alias("pos", "term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("tf"),
            # 0-based first occurrence (positional-postings convention)
            F.min("pos").cast("long").alias("first_pos"),
        )
        .orderBy("term")
    )


def search_count(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """Matching-document count (the 'about N results' number) as a one-row
    DataFrame — the distributed candidate plan with a count instead of
    top-k, so it composes with NOT and never materializes candidates."""
    return _candidates(reader, terms, mode, exclude, where).agg(
        F.count("*").alias("n_hits")
    )


def more_like_this(
    reader: IndexReader,
    doc_id: int,
    corpus: DataFrame,
    n_terms: int = 5,
    k: int = 10,
) -> list[tuple[int, float]]:
    """Classic more-like-this: take the source doc's top ``n_terms`` terms
    by tf*idf (ties: term asc), run them as a disjunctive BM25 query,
    drop the source doc itself. The term selection reads ONE doc (pushed-
    down doc_id filter) plus the terms' global df rows."""
    row = corpus.filter(F.col("doc_id") == doc_id).select("content").collect()
    if not row:
        raise ValueError(f"doc_id {doc_id} not in corpus")
    from collections import Counter

    toks = [t for t in row[0]["content"].split(" ") if t]
    tf = Counter(toks)
    tps = reader.fetch_terms(list(tf))
    scored = sorted(
        ((t, tf[t] * tps[t].idf) for t in tf if t in tps),
        key=lambda kv: (-kv[1], kv[0]),
    )
    qterms = [t for t, _ in scored[:n_terms]]
    if not qterms:
        return []
    hits = search_topk(reader, qterms, mode="disjunctive", k=k + 1)
    return [(d, s) for d, s in hits if d != doc_id][:k]


def snippets_for_hits(
    corpus: DataFrame,
    doc_ids: list[int],
    terms: list[str],
    width: int = 3,
    mark: tuple[str, str] | None = None,
) -> DataFrame:
    """(doc_id, snippet): the +-``width``-token window around the FIRST
    occurrence of any query term — the stored-field highlight step after
    top-k. The corpus scan is pruned by a pushed-down ``doc_id IN`` filter
    (k rows read, not the corpus); all token work is JVM built-ins.
    Docs containing none of the terms (disjunctive partials) get ''.

    ``mark=(pre, post)`` is the ES highlighter: every query-term token
    inside the window is wrapped (``mark=("<em>", "</em>")``) — a
    higher-order ``transform`` over the sliced array, still zero Python."""
    if not terms:
        raise ValueError("empty term list")
    terms = list(dict.fromkeys(terms))
    toks = F.array_remove(F.split(F.col("content"), " "), "")
    d = corpus.filter(
        F.col("doc_id").isin([int(i) for i in doc_ids])
    ).select("doc_id", toks.alias("toks"))
    nonzero = [
        F.when(F.array_position("toks", t) > 0, F.array_position("toks", t))
        for t in terms
    ]
    first = F.least(*nonzero) if len(nonzero) > 1 else nonzero[0]
    start = F.greatest(F.lit(1), first - width)
    window = F.slice("toks", start, 2 * width + 1)
    if mark is not None:
        pre, post = mark
        window = F.transform(
            window,
            lambda t: F.when(
                t.isin(list(terms)), F.concat(F.lit(pre), t, F.lit(post))
            ).otherwise(t),
        )
    snip = F.array_join(window, " ")
    # explicit no-match branch: greatest()/least() SKIP nulls in both Spark
    # and DuckDB, so without it a term-less doc would get the document's
    # leading window instead of ''
    return d.select(
        "doc_id",
        F.when(first.isNull(), F.lit("")).otherwise(snip).alias("snippet"),
    ).orderBy("doc_id")


def search_facets_rollup(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    facet_cols: tuple[str, str] = ("lang", "repo"),
    exclude: list[str] | None = None,
) -> DataFrame:
    """Hierarchical facet counts (search ∘ OLAP): the candidate set rolled
    up over two docmap dimensions — per (a, b), per a, and grand total —
    one rollup aggregation over the joined candidates; NULL subtotal
    markers coalesce to '__ALL__' for engine-neutral comparison."""
    a, b = facet_cols
    return (
        _candidates(reader, terms, mode, exclude, None, a, b)
        .rollup(a, b)
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.coalesce(a, F.lit("__ALL__")).alias(a),
            F.coalesce(b, F.lit("__ALL__")).alias(b),
            "n_docs",
        )
        .orderBy(a, b)
    )


def search_facets_topk(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    facet_col: str = "lang",
    k: int = 3,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Top-k hits PER facet value (the drill-down a search UI renders under
    each facet header): distributed scoring -> facet join -> row_number
    within facet. Scores are rounded BEFORE ranking so tie-breaks agree
    with the oracle; Catalyst executes the rank<=k filter as a
    per-partition top-k, not a full per-facet sort."""
    from pyspark.sql import Window

    scored = search_distributed(
        reader, terms, mode=mode, k=None, round_digits=6, exclude=exclude
    )
    dm = reader.docmap_df().select("doc_id", facet_col)
    w = Window.partitionBy(facet_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.join(dm, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(facet_col, F.col("rk").cast("long").alias("rk"), "doc_id", "score")
        .orderBy(facet_col, "rk")
    )


def search_collapse(
    reader: IndexReader,
    terms: list[str],
    mode: str = "disjunctive",
    collapse_field: str = "repo",
    k_groups: int = 5,
    per_group: int = 2,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A50 — field collapsing (ES ``collapse`` + ``inner_hits`` / Lucene
    grouping): the result list keeps at most ``per_group`` hits per value of
    a docmap field, and groups are ranked by their best hit — the "one
    result per repo" diversity a code-search UI needs when a single
    repository would otherwise flood the page.

    Output: (grp, grk, rk, doc_id, score) — group value, group rank (by
    best hit: score desc, doc_id asc), rank within group, ordered by
    (grk, rk). Scores are the corpus-wide BM25 values, rounded before
    ranking so tie-breaks agree with the oracle.

    Plan shape: distributed scoring -> two-column docmap join -> one
    windowed row_number per group (Catalyst runs the rk <= per_group filter
    as a per-partition top-k) -> group ranking over the HEADS only (one row
    per group, so the global window sorts #groups rows, not #candidates;
    for a collapse field with millions of distinct values swap the head
    ranking for orderBy().limit()). The group-rank table is k_groups rows
    and broadcast back.
    """
    from pyspark.sql import Window

    if k_groups <= 0 or per_group <= 0:
        raise ValueError("k_groups and per_group must be positive")
    scored = search_distributed(
        reader, terms, mode=mode, k=None, round_digits=6, exclude=exclude,
        where=where,
    )
    dm = reader.docmap_df().select("doc_id", F.col(collapse_field).alias("grp"))
    j = scored.join(dm, "doc_id")
    w_in = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id"))
    inner = (
        j.withColumn("rk", F.row_number().over(w_in))
        .filter(F.col("rk") <= per_group)
    )
    heads = inner.filter(F.col("rk") == 1).select(
        "grp", F.col("score").alias("best"), F.col("doc_id").alias("best_doc")
    )
    w_g = Window.orderBy(F.desc("best"), F.asc("best_doc"))
    granks = (
        heads.withColumn("grk", F.row_number().over(w_g))
        .filter(F.col("grk") <= k_groups)
        .select("grp", "grk")
    )
    return (
        inner.join(F.broadcast(granks), "grp")
        .select(
            "grp",
            F.col("grk").cast("long").alias("grk"),
            F.col("rk").cast("long").alias("rk"),
            "doc_id",
            "score",
        )
        .orderBy("grk", "rk")
    )


def _exclusion_ids(reader: IndexReader, exclude) -> np.ndarray | None:
    """Sorted unique doc_ids containing ANY excluded term, decoded driver-side.

    Cost class: same as exhaustively decoding the excluded terms — fine for
    the scatter-gather driver path (bounded by the excluded terms' df); at
    cluster scale use ``search_distributed(exclude=...)``, whose difference
    is a distributed left-anti join instead of a driver array.
    """
    exclude = list(dict.fromkeys(exclude or []))
    if not exclude:
        return None
    tps = reader.fetch_terms(exclude)
    if not tps:
        return None
    ids = [reader.decode_term(tp)[0] for tp in tps.values()]
    return np.unique(np.concatenate(ids))


def _check_exclude(terms: list[str], exclude) -> list[str]:
    from miru_spark.plans.relational import check_exclude

    return check_exclude(terms, exclude)


def _apply_boosts(tps: dict, boosts: dict[str, float] | None) -> dict:
    """Per-term boosts scale the term's idf — every downstream quantity
    (score contributions, term_max, block-max impact bounds) is linear in
    idf, so WAND's upper bounds stay exact under boosting. Returns boosted
    COPIES; the input TermPostings (possibly shared by a batch) are never
    mutated."""
    if not boosts:
        return tps
    for t, b in boosts.items():
        if not (float(b) > 0):  # catches <= 0 AND NaN
            raise ValueError(f"boost for {t!r} must be positive, got {b}")
    out = {}
    for t, tp in tps.items():
        b = float(boosts.get(t, 1.0))
        if b == 1.0:
            out[t] = tp
        else:
            out[t] = TermPostings(
                term=tp.term, df=tp.df, idf=tp.idf * b, chunks=tp.chunks
            )
    return out


def _check_min_match(mode: str, min_match: "int | None") -> int:
    """Validate ES-style minimum_should_match: only meaningful on
    disjunctive (should-clause) queries; conjunctive already requires all
    terms. A floor above the query's term count simply matches nothing
    (ES semantics), which the kernels handle downstream."""
    if min_match is None:
        return 1
    m = int(min_match)
    if m < 1:
        raise ValueError(f"min_match must be >= 1, got {min_match}")
    if m > 1 and mode != "disjunctive":
        raise ValueError(
            "min_match applies to disjunctive queries (conjunctive already "
            "requires every term)"
        )
    return m


def search_topk(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    strategy: str = "auto",
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    where: dict | None = None,
    after: tuple[float, int] | None = None,
    min_match: int | None = None,
    feature=None,
) -> list[tuple[int, float]]:
    """Serve one query from the binary index (driver fast path).

    Hybrid strategy (``auto``): tiny candidate sets take the fully-
    vectorized exhaustive decoder; larger ones take block-max WAND
    (disjunctive) or galloping intersection (conjunctive). Both produce
    identical rankings (fuzz-tested), so the switch is purely a latency
    decision. ``strategy`` in {auto, wand, exhaustive} forces a path
    (tests use this to pin WAND). ``exclude`` = boolean NOT: docs containing
    any excluded term are dropped (posting-list difference). ``where`` =
    metadata filter (A34): ``{"lang": "py"}`` / ``{"repo": [..]}``
    restricts results to docs whose docmap row matches; resolved by a
    pushed-down docmap scan and enforced at heap-insert time (Lucene
    filtered-query semantics — filtered docs never enter the heap, scores
    of surviving docs are unchanged). ``after`` = keyset pagination (A38,
    Lucene searchAfter / ES search_after): pass the LAST hit of the
    previous page as ``(score, doc_id)`` and only docs sorting strictly
    after it (score desc, doc_id asc) are returned — deep pages never
    re-materialize earlier ones (no from+size over-fetch), and a
    concurrent refresh can't shift page boundaries the way offset
    pagination does.
    """
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    if k <= 0:
        return []
    mm = _check_min_match(mode, min_match)
    terms = list(dict.fromkeys(terms))
    exclude = _check_exclude(terms, exclude)
    tps = _apply_boosts(reader.fetch_terms(terms), boosts)
    excl = _exclusion_ids(reader, exclude)
    incl = reader.filter_doc_ids(where) if where else None
    if incl is not None and incl.size == 0:
        return []
    bonus = None
    if feature is not None:
        # A79 rank_feature / distance_feature: a dense per-doc additive
        # static score; every serving strategy stays exact (WAND bounds
        # are inflated by its corpus max inside wand_topk)
        from miru_spark.plans.rankfeature import contrib_array

        bonus = contrib_array(reader, feature)
    return _route_query(
        reader, tps, terms, mode, k, strategy, excl, incl=incl, after=after,
        min_match=mm, bonus=bonus,
    )


def _with_tombstones(reader, excl: np.ndarray | None) -> np.ndarray | None:
    """Merge the index's tombstoned doc_ids (writer.delete_docs) into the
    exclusion set — deleted docs vanish from every serving path."""
    tomb = getattr(reader, "tombstones", None)
    if tomb is None or tomb.size == 0:
        return excl
    if excl is None:
        return tomb
    return np.union1d(excl, tomb)


def _drop_tombstones(reader, df: DataFrame) -> DataFrame:
    """Anti-join the reader's tombstoned doc_ids out of a distributed
    (doc_id, ...) frame. Size-gated hint: tombstones are usually tiny
    (pre-purge deltas), but a mass delete before purge can hold millions of
    ids — forcing a broadcast there ships the whole set to every executor.
    The reader already knows the exact count driver-side; below the gate
    the hint skips AQE's estimation, above it plain left-anti lets AQE pick
    (sort-merge/shuffled-hash) from runtime sizes."""
    tomb_df = reader.tombstones_df()
    if tomb_df is None:
        return df
    if reader.tombstones.size <= 5_000_000:
        tomb_df = F.broadcast(tomb_df)
    return df.join(tomb_df, "doc_id", "left_anti")


def _postings_with_df(reader, terms) -> tuple[DataFrame, dict[str, int]]:
    """The pruned ``postings_df(terms)`` scan with each chunk row's global
    df attached as ``df_global`` — a literal (term -> df) map lookup — and
    that map. The dfs come from the reader's terms index
    (``chunk_dfs``): driver-side, exact for the reader's view, and no
    aggregate, broadcast or Spark job in the plan."""
    dfs = reader.chunk_dfs(terms)
    pairs = [c for t, d in dfs.items() for c in (F.lit(t), F.lit(d))]
    # an empty map cannot be indexed by a string; no row reads it anyway
    df_col = F.create_map(*pairs)[F.col("term")] if pairs else F.lit(None)
    chunks = reader.postings_df(terms)
    return chunks.withColumn("df_global", df_col.cast("long")), dfs


def _where_ids(reader, where: dict) -> DataFrame:
    """(doc_id) of the docmap rows matching every ``where`` predicate (A34)
    — the semi-join side of every distributed metadata filter. The docmap
    scan pushes the predicates down and prunes to doc_id; an unknown column
    raises ValueError before any plan runs."""
    from miru_spark.filters import spark_predicate

    allow = reader.docmap_df()
    for col, val in where.items():
        if col not in allow.columns:
            raise ValueError(f"unknown docmap column {col!r}")
        allow = allow.filter(spark_predicate(col, val))
    return allow.select("doc_id")


def _candidates(reader, terms, mode, exclude, where, *cols) -> DataFrame:
    """The candidate set every aggregation reads: the distributed plan's
    matching doc_ids (k=None, unrounded — the score is never used) joined
    to the docmap's (doc_id, *cols) projection, or bare (doc_id) when no
    column is asked for. The docmap side prunes to those columns at scan
    time; AQE picks the join strategy from the candidate set's runtime
    size."""
    cand = search_distributed(
        reader, terms, mode=mode, k=None, round_digits=None, exclude=exclude,
        where=where,
    ).select("doc_id")
    if not cols:
        return cand
    return cand.join(reader.docmap_df().select("doc_id", *cols), "doc_id")


def _filter_matches(reader, filters, exclude, where):
    """The A67/A106 filter-match frame: one pruned ids-only postings scan
    over the union of the named filters' terms -> per-(doc, filter)
    distinct-term counts -> (doc_id, fname) for every doc matching all of
    a filter's terms. Returns (sizes, matched, live): the (fname, n_terms)
    table, the match frame, and the live docmap ids under the same
    exclude/tombstone/where restrictions (lazy; unused plans cost
    nothing)."""
    names = sorted(filters)
    rows = [(n, t) for n in names for t in dict.fromkeys(filters[n])]
    spark = reader.spark
    fdf = local_frame(spark, "fname string, term string", list(zip(*rows)))
    sdf = local_frame(
        spark,
        "fname string, n_terms int",
        [names, [len(dict.fromkeys(filters[n])) for n in names]],
    )
    chunks = reader.postings_df(sorted({t for _, t in rows}))
    ids = chunks.mapInArrow(_ids_term_arrow, _DOCID_TERM_SCHEMA)
    live = reader.docmap_df().select("doc_id")
    excl = _with_tombstones(reader, _exclusion_ids(reader, exclude or []))
    if excl is not None and excl.size:
        dead = local_frame(spark, "doc_id long", [excl])
        ids = ids.join(dead, "doc_id", "left_anti")
        live = live.join(dead, "doc_id", "left_anti")
    if where:
        allow = _where_ids(reader, where)
        ids = ids.join(allow, "doc_id", "left_semi")
        live = live.join(allow, "doc_id", "left_semi")
    matched = (
        ids.join(F.broadcast(fdf), "term")
        .groupBy("doc_id", "fname")
        .agg(F.count_distinct("term").alias("nm"))
        .join(F.broadcast(sdf), "fname")
        .filter(F.col("nm") == F.col("n_terms"))
        .select("doc_id", "fname")
    )
    return sdf, matched, live


def _route_query(
    reader, tps, terms, mode, k, strategy, excl=None, decode_cache=None,
    incl=None, after=None, min_match=1, bonus=None,
) -> list[tuple[int, float]]:
    """Pick the serving strategy for one query given already-fetched
    TermPostings (shared by search_topk and search_many)."""
    excl = _with_tombstones(reader, excl)
    if mode == "conjunctive" and len([t for t in terms if t in tps]) < len(terms):
        return []  # a term matches nothing -> empty intersection
    total_postings = sum(tps[t].df for t in terms if t in tps)
    if strategy == "exhaustive" or (
        strategy == "auto" and total_postings <= EXHAUSTIVE_CUTOFF
    ):
        return _exhaustive_from_tps(
            reader, tps, terms, mode, k, excl=excl, decode_cache=decode_cache,
            incl=incl, after=after, min_match=min_match, bonus=bonus,
        )
    iters = [PostingIterator(tps[t], reader.avgdl) for t in terms if t in tps]
    if mode == "conjunctive":
        return conjunctive_topk(
            iters, k, excl=excl, incl=incl, after=after, bonus=bonus
        )
    if mode == "disjunctive":
        return wand_topk(
            iters, k, excl=excl, incl=incl, after=after, min_match=min_match,
            bonus=bonus,
        )
    raise ValueError(f"unknown mode {mode!r}")


def search_many(
    reader: IndexReader,
    queries: list[tuple[list[str], str]],
    k: int = 10,
    strategy: str = "auto",
    where: dict | None = None,
) -> list[list[tuple[int, float]]]:
    """Serve a batch of (terms, mode) queries with ONE pruned postings
    fetch for the union of all query terms, and ONE decode per term.

    The driver fast path's latency is dominated by the pyarrow read plus
    the per-term posting decode; a batch that shares terms (real workloads
    are Zipfian) pays both once — terms shared by many queries decode a
    single time into a shared cache. Results are identical to per-query
    ``search_topk`` (same routing, same TermPostings), tested against it.

    ``where`` (A34) applies ONE metadata filter to the whole batch — the
    search-UI shape (a user pins lang:py, then fires many queries), so
    the docmap allowlist is also resolved once and shared.
    """
    if k <= 0:
        return [[] for _ in queries]
    all_terms = list(
        dict.fromkeys(t for terms, _ in queries for t in terms)
    )
    tps = reader.fetch_terms(all_terms)
    incl = reader.filter_doc_ids(where) if where else None
    if incl is not None and incl.size == 0:
        return [[] for _ in queries]
    cache: dict[str, tuple] = {}
    out = []
    for terms, mode in queries:
        if mode not in ("conjunctive", "disjunctive"):
            raise ValueError(f"unknown mode {mode!r}")
        terms = list(dict.fromkeys(terms))
        out.append(
            _route_query(
                reader, tps, terms, mode, k, strategy,
                decode_cache=cache, incl=incl,
            )
        )
    return out


def search_sharded(
    readers: list[IndexReader],
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    round_digits: int | None = 6,
) -> list[tuple[int, float]]:
    """A63 — federated serving over N shard indexes (Lucene MultiReader /
    IndexSearcher over multiple segments; ES cross-shard search): query
    every shard and rank with COMBINED corpus statistics, so the result is
    rank-identical to searching one merged index.

    This is the serving dual of ``merge_indexes`` (A43): shards built as
    independent jobs can either be physically merged once, or served
    federated with this function — both produce the same ranking (tested).
    The statistics that make per-shard scores comparable are global:
    ``df(t) = sum over shards``, ``n_docs = sum``, ``avgdl`` =
    token-weighted mean — exactly how Lucene's MultiReader aggregates
    sub-reader stats, and exactly what a distributed search tier does with
    a stats-exchange round before scattering the query. Per shard the
    work is the usual pruned fetch + vectorized decode; shard doc_id
    spaces must be disjoint (the engine's content-derived ids are).
    """
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    if not readers:
        raise ValueError("need at least one shard reader")
    terms = list(dict.fromkeys(terms))
    exclude = _check_exclude(terms, exclude)
    boosts = boosts or {}
    if any(not (b > 0) for b in boosts.values()):
        raise ValueError("boosts must be positive")
    n_docs = float(sum(r.n_docs for r in readers))
    avgdl = sum(r.n_docs * r.avgdl for r in readers) / n_docs
    per_reader = [r.fetch_terms(terms) for r in readers]
    df_global = {
        t: sum(tps[t].df for tps in per_reader if t in tps) for t in terms
    }
    present = [t for t in terms if df_global[t] > 0]
    if mode == "conjunctive" and len(present) < len(terms):
        return []
    idf = {
        t: float(bm25.idf_np(float(df_global[t]), n_docs))
        * float(boosts.get(t, 1.0))
        for t in present
    }
    # per-shard decode, scored with GLOBAL stats; shard id spaces are
    # disjoint so cross-shard aggregation is pure concatenation
    all_ids: list[np.ndarray] = []
    all_scores: list[np.ndarray] = []
    excl_parts: list[np.ndarray] = []
    for r, tps in zip(readers, per_reader):
        for t in present:
            if t not in tps:
                continue
            ids, tfs, dls = r.decode_term(tps[t])
            all_ids.append(ids)
            all_scores.append(bm25.score_np(tfs, idf[t], dls, avgdl))
        ex = _with_tombstones(r, _exclusion_ids(r, exclude))
        if ex is not None and ex.size:
            excl_parts.append(ex)
    if not all_ids:
        return []
    uids, agg, cnt = _sum_by_doc(
        np.concatenate(all_ids), np.concatenate(all_scores)
    )
    if mode == "conjunctive":
        keep = cnt == len(terms)
        uids, agg = uids[keep], agg[keep]
    if excl_parts and uids.size:
        excl = np.unique(np.concatenate(excl_parts))
        keep = ~np.isin(uids, excl)
        uids, agg = uids[keep], agg[keep]
    return _top_k(uids, agg, k, round_digits)


def search_exhaustive(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    where: dict | None = None,
    after: tuple[float, int] | None = None,
    min_match: int | None = None,
) -> list[tuple[int, float]]:
    """Decode-everything scoring (vectorized numpy); the WAND safety twin."""
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    if k <= 0:
        return []
    mm = _check_min_match(mode, min_match)
    terms = list(dict.fromkeys(terms))
    exclude = _check_exclude(terms, exclude)
    tps = _apply_boosts(reader.fetch_terms(terms), boosts)
    if mode == "conjunctive" and len(tps) < len(terms):
        return []
    excl = _with_tombstones(reader, _exclusion_ids(reader, exclude))
    incl = reader.filter_doc_ids(where) if where else None
    return _exhaustive_from_tps(
        reader, tps, terms, mode, k, excl=excl, incl=incl, after=after,
        min_match=mm,
    )


def _exhaustive_from_tps(
    reader, tps, terms, mode, k, excl: np.ndarray | None = None,
    decode_cache: dict | None = None, incl: np.ndarray | None = None,
    after: tuple[float, int] | None = None, min_match: int = 1,
    bonus: np.ndarray | None = None,
) -> list[tuple[int, float]]:
    per_term = []
    for t in terms:
        if t not in tps:
            continue
        if decode_cache is not None and t in decode_cache:
            ids, scores = decode_cache[t]
        else:
            ids, tfs, dls = reader.decode_term(tps[t])
            scores = bm25.score_np(tfs, tps[t].idf, dls, reader.avgdl)
            if decode_cache is not None:
                decode_cache[t] = (ids, scores)
        per_term.append((ids, scores))
    if not per_term:
        return []
    uids, agg, cnt = _sum_by_doc(
        np.concatenate([p[0] for p in per_term]),
        np.concatenate([p[1] for p in per_term]),
    )
    # conjunctive = every term; disjunctive with minimum_should_match = at
    # least min_match distinct terms (scores still sum over all matches)
    required = len(per_term) if mode == "conjunctive" else min_match
    if required > len(per_term):
        return []  # fewer indexed terms than the match floor: nothing can hit
    if required > 1:
        keep = cnt >= required
        uids, agg = uids[keep], agg[keep]
    if bonus is not None and uids.size:
        # A79 additive static score, applied before the cursor filter so
        # search_after compares FINAL scores (same value the heap paths use)
        b = np.zeros(uids.size)
        m = uids < bonus.size
        b[m] = bonus[uids[m]]
        agg = agg + b
    if excl is not None and uids.size:
        keep = ~np.isin(uids, excl, assume_unique=True)
        uids, agg = uids[keep], agg[keep]
    if incl is not None and uids.size:
        keep = np.isin(uids, incl, assume_unique=True)
        uids, agg = uids[keep], agg[keep]
    if after is not None and uids.size:
        s, d = after
        keep = (agg < s - _EPS) | ((agg <= s + _EPS) & (uids > d))
        uids, agg = uids[keep], agg[keep]
    return _top_k(uids, agg, k)


def _sum_by_doc(ids: np.ndarray, scores: np.ndarray):
    """Per-doc accumulation of int64 doc ids and float64 scores ->
    (ascending unique ids, summed scores, match counts).

    Dense (``_sum_dense``) when the ids' span is small for their count,
    sparse (``_sum_sparse``) otherwise. Both add each doc's scores in input
    order starting from 0.0, so the sums are bit-identical. The gate,
    measured with numpy on a 4-core VM: the sparse sort costs ~40-60 ns
    per id; the dense pass ~3 ns per slot while its span-sized buffers come
    from reused heap, but ~25 ns per slot once they need fresh pages (past
    ~128-256 KB a buffer). So ``8192`` slots (64 KB a buffer) beat the
    smallest sort outright, and ``2`` slots per id stay below the
    fresh-page crossover, measured at 2-2.5 slots per id."""
    if ids.size and int(ids.max()) - int(ids.min()) < 2 * ids.size + 8192:
        return _sum_dense(ids, scores)
    return _sum_sparse(ids, scores)


def _sum_dense(ids: np.ndarray, scores: np.ndarray):
    """``_sum_by_doc`` over one slot per id of the span: a weighted and a
    plain ``bincount``. ``ids`` must be non-empty."""
    lo = int(ids.min())
    rel = ids - lo
    span = int(rel.max()) + 1
    cnt = np.bincount(rel, minlength=span)
    hit = np.flatnonzero(cnt > 0)
    return hit + lo, np.bincount(rel, scores, minlength=span)[hit], cnt[hit]


def _sum_sparse(ids: np.ndarray, scores: np.ndarray):
    """``_sum_by_doc`` by sorting: ``np.unique`` + ``np.add.at``."""
    uids, inv, cnt = np.unique(ids, return_inverse=True, return_counts=True)
    agg = np.zeros(uids.size)
    np.add.at(agg, inv, scores)
    return uids, agg, cnt


def _top_k(
    uids: np.ndarray, agg: np.ndarray, k: int, round_digits: int | None = None
) -> list[tuple[int, float]]:
    """The k best (doc id, score) pairs in the full ``lexsort`` order: score
    descending, doc id ascending on ties, after rounding the scores to
    ``round_digits`` when given. Only the scores at or above the k-th best
    are sorted; every tie at the k-th score is kept, so a cut that keeps
    at least k scores holds the full sort's winners. ``np.partition`` ranks
    a NaN above every score (the full sort ranks it last), so with NaNs
    the k-th value can overshoot; a cut keeping fewer than k is skipped.
    The result equals the full sort for any float input."""
    if round_digits is not None:
        agg = np.round(agg, round_digits)
    if 0 < k < uids.size:
        kth = np.partition(agg, uids.size - k)[uids.size - k]
        keep = agg >= kth
        if np.count_nonzero(keep) >= k:
            uids, agg = uids[keep], agg[keep]
    order = np.lexsort((uids, -agg))[:k]
    return [(int(uids[i]), float(agg[i])) for i in order]


def occurrence_keys(
    ids: np.ndarray,
    tfs: np.ndarray,
    pos: np.ndarray,
    off: int,
    cand: np.ndarray | None = None,
) -> np.ndarray:
    """uint64 ``doc_id * 2^32 + (position - off)`` keys for every occurrence
    of one term, optionally restricted to candidate docs. The shared kernel
    of ALL positional verification (phrase / proximity / phrase-prefix /
    boolean-tree phrase leaves): two occurrences belong to the same phrase
    start iff their keys are equal. uint64 because int64 ``doc_id * 2^32``
    wraps negative at doc_id >= 2^31."""
    if cand is not None:
        occ_mask = np.repeat(np.isin(ids, cand, assume_unique=True), tfs)
    else:
        occ_mask = np.ones(int(tfs.sum()), dtype=bool)
    doc_rep = np.repeat(ids, tfs)[occ_mask]
    p = pos[occ_mask] - off
    ok = p >= 0
    return doc_rep[ok].astype(np.uint64) * np.uint64(1 << 32) + p[ok].astype(
        np.uint64
    )


def phrase_survivor_keys(get, seq, cand) -> np.ndarray:
    """Start keys of candidate docs where ``seq`` occurs consecutively:
    one sorted-key intersection per phrase offset. ``get(term)`` returns
    that term's decoded ``(ids, tfs, pos)`` arrays."""
    survivors: np.ndarray | None = None
    for off, t in enumerate(seq):
        ids, tfs, pos = get(t)
        keys = occurrence_keys(ids, tfs, pos, off, cand)
        survivors = (
            keys
            if survivors is None
            else np.intersect1d(survivors, keys, assume_unique=True)
        )
        if survivors.size == 0:
            break
    return survivors if survivors is not None else np.empty(0, dtype=np.uint64)


def survivor_docs(keys: np.ndarray) -> np.ndarray:
    return np.unique(keys >> np.uint64(32)).astype(np.int64)


def _pos_view(d: tuple) -> tuple:
    """``(ids, tfs, pos)`` of a ``decode_term(..., with_positions=True)``
    tuple: the arrays occurrence keys are built from."""
    return d[0], d[1], d[3]


def _live(reader, docs: np.ndarray, where: dict | None) -> np.ndarray:
    """Sorted unique ``docs`` kept by the ``where`` allowlist, tombstoned
    docs dropped."""
    if where:
        docs = np.intersect1d(docs, reader.filter_doc_ids(where), assume_unique=True)
    tomb = _with_tombstones(reader, None)
    if tomb is not None:
        docs = docs[~np.isin(docs, tomb, assume_unique=True)]
    return docs


def _term_scores(reader, tps, data, terms, docs, score=None, out=None):
    """Per-doc sums at sorted unique ``docs`` of each term's score, added
    in ``terms`` order into ``out`` (zeros by default); a doc a term does
    not match gets nothing from it. ``data[t]`` starts with
    ``decode_term``'s ``(ids, tfs, dls)``; ``score(t, tfs, dls)`` scores a
    term's postings at those docs and defaults to BM25."""
    if score is None:
        def score(t, tfs, dls):
            return bm25.score_np(tfs, tps[t].idf, dls, reader.avgdl)
    out = np.zeros(docs.size) if out is None else out
    for t in terms:
        ids, tfs, dls = data[t][:3]
        m = np.isin(docs, ids, assume_unique=True)
        idx = np.searchsorted(ids, docs[m])
        out[m] += score(t, tfs[idx], dls[idx])
    return out


PHRASE_DISTRIBUTED_CUTOFF = 1 << 23
"""Summed phrase-term df above which ``strategy="auto"`` routes
:func:`search_phrase` to the distributed occurrence-join plan."""

LAST_PHRASE_ROUTE = "driver"
"""Path taken by the last ``search_phrase(strategy="auto")`` call."""


def search_phrase(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    tokenizer: str = "whitespace",
    round_digits: int | None = 6,
    where: dict | None = None,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Exact phrase search served ENTIRELY from the positional index — no
    corpus access. Candidates come from the conjunctive docid intersection
    of the phrase's terms; verification checks consecutive token positions
    via one vectorized key-intersection per phrase offset (key =
    doc_id * 2^32 + (position - offset): a doc survives iff some start
    position p has term_j at p + j for every j). Ranking = BM25 over the
    phrase's distinct terms, identical to the relational twin.

    Requires an index built with ``positions=True``.

    ``strategy``: ``"auto"`` (default) stays driver-side below
    :data:`PHRASE_DISTRIBUTED_CUTOFF` summed term df and routes to
    :func:`search_phrase_distributed` above it (collecting the k-row
    result); ``"driver"`` / ``"distributed"`` force a path. ``where``
    pins the driver path (the distributed plan doesn't carry metadata
    filters).
    """
    global LAST_PHRASE_ROUTE
    from miru_spark.functions.tokenize import tokenize_py

    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "distributed" and where is not None:
        raise ValueError(
            "the distributed phrase plan doesn't carry metadata filters"
            " — drop where= or use the driver path"
        )
    seq = tokenize_py(phrase, tokenizer)
    if not seq:
        raise ValueError("empty phrase")
    if not reader.positions:
        raise ValueError(
            "phrase search needs a positional index (build_index(positions=True))"
        )
    if strategy == "distributed" or (
        strategy == "auto"
        and where is None
        and sum(reader.term_dfs(list(dict.fromkeys(seq))).values())
        > PHRASE_DISTRIBUTED_CUTOFF
    ):
        LAST_PHRASE_ROUTE = "distributed"
        rows = search_phrase_distributed(
            reader, phrase, k=k, tokenizer=tokenizer,
            round_digits=round_digits,
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    LAST_PHRASE_ROUTE = "driver"
    uterms = list(dict.fromkeys(seq))
    tps = reader.fetch_terms(uterms, with_positions=True)
    if len(tps) < len(uterms):
        return []
    data = {t: reader.decode_term(tps[t], with_positions=True) for t in uterms}
    cand = data[uterms[0]][0]
    for t in uterms[1:]:
        cand = np.intersect1d(cand, data[t][0], assume_unique=True)
        if cand.size == 0:
            return []
    # metadata filter and tombstones applied BEFORE position verification —
    # shrinking the candidate set shrinks every occurrence mask below
    cand = _live(reader, cand, where)
    if cand.size == 0:
        return []
    survivors = phrase_survivor_keys(lambda t: _pos_view(data[t]), seq, cand)
    if survivors.size == 0:
        return []
    verified = survivor_docs(survivors)
    scores = _term_scores(reader, tps, data, uterms, verified)
    return _top_k(verified, scores, k, round_digits)


def search_phrase_prefix(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
    tokenizer: str = "whitespace",
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """A61 — ES ``match_phrase_prefix`` (Lucene MultiPhrasePrefixQuery):
    the autocomplete query. ``"distributed jo"`` matches docs where the
    fixed tokens occur consecutively followed by ANY dictionary expansion
    of the last token (``join``, ``jobs``, ...), so a user sees results
    while still typing.

    Mechanics: the last token expands through the sorted term dictionary
    (first ``max_expansions`` in term order — the Lucene rewrite order);
    the fixed prefix verifies once via the usual per-offset key
    intersection, then each expansion costs ONE sorted-key intersect at
    the final offset. Ranking extends the phrase convention (BM25 over the
    phrase's distinct doc-level terms) with SynonymQuery blending for the
    expansion slot: per doc, tf = sum of doc-level tfs of the expansions
    that complete the phrase THERE, idf from the max df across all
    expansions — one pseudo-term, exactly A41's semantics, so two near-
    synonymous completions don't double-idf. The SQL twin mirrors both
    rules.
    """
    from miru_spark.functions.tokenize import tokenize_py

    seq = tokenize_py(phrase, tokenizer)
    if not seq:
        raise ValueError("empty phrase")
    if max_expansions <= 0:
        raise ValueError("max_expansions must be positive")
    if not reader.positions:
        raise ValueError(
            "match_phrase_prefix needs a positional index "
            "(build_index(positions=True))"
        )
    fixed, prefix = seq[:-1], seq[-1]
    expansions = sorted(reader.expand_prefix(prefix, max_terms=1 << 30))[
        :max_expansions
    ]
    if not expansions:
        return []
    uterms = list(dict.fromkeys(fixed + expansions))
    tps = reader.fetch_terms(uterms, with_positions=True)
    if any(t not in tps for t in fixed):
        return []
    data = {
        t: reader.decode_term(tps[t], with_positions=True)
        for t in uterms
        if t in tps
    }
    # fixed-prefix survivors: candidate start keys where f1..fn occur
    # consecutively (None = unconstrained single-token prefix query)
    survivors = None
    if fixed:
        cand = data[fixed[0]][0]
        for t in fixed[1:]:
            cand = np.intersect1d(cand, data[t][0], assume_unique=True)
        if cand.size == 0:
            return []
        survivors = phrase_survivor_keys(
            lambda t: _pos_view(data[t]), fixed, cand
        )
        if survivors.size == 0:
            return []
    last_off = len(fixed)
    # per doc: summed doc-level tf of expansions completing the phrase
    comp_docs: list[np.ndarray] = []
    comp_tfs: list[np.ndarray] = []
    for e in expansions:
        if e not in data:
            continue
        keys = occurrence_keys(*_pos_view(data[e]), last_off)
        if survivors is not None:
            keys = np.intersect1d(keys, survivors, assume_unique=True)
        if keys.size == 0:
            continue
        docs_e = survivor_docs(keys)
        ids, tfs = data[e][:2]
        comp_docs.append(docs_e)
        comp_tfs.append(tfs[np.searchsorted(ids, docs_e)])
    if not comp_docs:
        return []
    all_docs = np.concatenate(comp_docs)
    all_tfs = np.concatenate(comp_tfs)
    verified, inv = np.unique(all_docs, return_inverse=True)
    gtf = np.zeros(verified.size, dtype=np.int64)
    np.add.at(gtf, inv, all_tfs)
    keep = np.isin(verified, _live(reader, verified, where), assume_unique=True)
    verified, gtf = verified[keep], gtf[keep]
    if verified.size == 0:
        return []
    # doc_len lookup assembled across all decoded terms' (id, dl) streams
    dl_map_ids = np.concatenate([d[0] for d in data.values()])
    dl_map_dls = np.concatenate([d[2] for d in data.values()])
    order = np.argsort(dl_map_ids, kind="stable")
    dl_ids_sorted = dl_map_ids[order]
    dl_sorted = dl_map_dls[order]
    dls = dl_sorted[np.searchsorted(dl_ids_sorted, verified)]
    group_idf = bm25.idf_np(
        max(float(tps[e].df) for e in expansions if e in tps),
        float(reader.n_docs),
    )
    scores = bm25.score_np(gtf.astype(float), float(group_idf), dls, reader.avgdl)
    # the fixed terms add onto the group score in phrase order: a float
    # sum depends on its order
    _term_scores(reader, tps, data, dict.fromkeys(fixed), verified, out=scores)
    return _top_k(verified, scores, k, round_digits)


def search_near(
    reader: IndexReader,
    term_a: str,
    term_b: str,
    slop: int = 3,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
    in_order: bool = False,
) -> list[tuple[int, float]]:
    """Proximity search (``'"a b"~N'``): docs where the two terms occur
    within ``slop`` token positions of each other (either order), ranked by
    their conjunctive BM25. Served ENTIRELY from the positional index.
    ``in_order=True`` is Lucene ``span_near(inOrder=true)``: ``term_b``
    must follow ``term_a`` within the slop (``0 < pos_b - pos_a <= slop``)
    — 'new york' near-ordered is not 'york new'.

    Vectorized verify: occurrences become keys doc_id*2^32 + position;
    because slop << 2^32, |key_a - key_b| <= slop implies same-doc
    proximity, so one searchsorted of a's keys into b's sorted keys (check
    both neighbors; only the forward neighbor when ordered) decides every
    candidate at once — no per-doc loop.
    """
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if term_a == term_b:
        raise ValueError("proximity needs two distinct terms")
    if not reader.positions:
        raise ValueError(
            "proximity search needs a positional index (positions=True)"
        )
    tps = reader.fetch_terms([term_a, term_b], with_positions=True)
    if len(tps) < 2:
        return []
    terms = (term_a, term_b)
    data = {t: reader.decode_term(tps[t], with_positions=True) for t in terms}
    cand = np.intersect1d(data[term_a][0], data[term_b][0], assume_unique=True)
    cand = _live(reader, cand, where)
    if cand.size == 0:
        return []
    # uint64 keys stay SORTED for doc_ids up to 2^32, so searchsorted works
    ka, kb = (occurrence_keys(*_pos_view(data[t]), 0, cand) for t in terms)
    uslop = np.uint64(slop)
    j = np.searchsorted(kb, ka)
    near = np.zeros(ka.size, dtype=bool)
    if not in_order:  # backward neighbor: b at or before a
        left = j > 0
        near[left] = ka[left] - kb[j[left] - 1] <= uslop
    right = j < kb.size
    near[right] |= kb[j[right]] - ka[right] <= uslop
    verified = survivor_docs(ka[near])
    if verified.size == 0:
        return []
    scores = _term_scores(reader, tps, data, terms, verified)
    return _top_k(verified, scores, k, round_digits)


def search_span_first(
    reader: IndexReader,
    term: str,
    end: int,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Positional restriction (Lucene ``SpanFirstQuery``): docs where
    ``term`` occurs within the first ``end`` token positions (0-based
    ``pos < end`` — a single-term span ending at ``pos + 1 <= end``),
    ranked by the term's BM25. The title/lead-paragraph restriction: on a
    code corpus, "``import`` in the first 20 tokens" finds the files that
    START with the import block rather than merely containing the word.

    Served entirely from the positional index: one pruned fetch, then a
    vectorized first-``end`` mask over the occurrence stream — no corpus
    access, no per-doc loop. Scores are the term's plain BM25 (Lucene
    scores SpanFirst through the same term weight), so results are a
    position-filtered subset of the single-term ranking.
    """
    if end < 1:
        raise ValueError("end must be >= 1 (first N positions)")
    if not reader.positions:
        raise ValueError(
            "span_first needs a positional index (positions=True)"
        )
    tps = reader.fetch_terms([term], with_positions=True)
    if term not in tps:
        return []
    data = {term: reader.decode_term(tps[term], with_positions=True)}
    ids, tfs, _, pos = data[term]
    verified = _live(reader, np.unique(np.repeat(ids, tfs)[pos < end]), where)
    if verified.size == 0:
        return []
    scores = _term_scores(reader, tps, data, [term], verified)
    return _top_k(verified, scores, k, round_digits)


def search_span_not(
    reader: IndexReader,
    term: str,
    excl_term: str,
    pre: int = 0,
    post: int = 0,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Positional exclusion (Lucene ``SpanNotQuery``): occurrences of
    ``term`` that have NO occurrence of ``excl_term`` within ``pre`` token
    positions before or ``post`` after; a doc matches iff at least one
    occurrence survives. This is finer than boolean NOT: 'java NOT within
    3 of script' still matches a doc mentioning both when some 'java' sits
    far from every 'script'.

    Same vectorized-key machinery as :func:`search_near`, inverted: one
    searchsorted of the include occurrences' doc*2^32+pos keys into the
    exclusion's sorted keys decides every occurrence at once (the window
    is << 2^32, so a key-range hit implies a same-doc positional hit).
    Scores are the include term's plain BM25 — Lucene scores span_not
    through the include weight, same convention as :func:`search_span_first`.
    """
    if pre < 0 or post < 0:
        raise ValueError("pre and post must be >= 0")
    if term == excl_term:
        raise ValueError("span_not needs distinct include/exclude terms")
    if not reader.positions:
        raise ValueError("span_not needs a positional index (positions=True)")
    tps = reader.fetch_terms([term, excl_term], with_positions=True)
    if term not in tps:
        return []
    data = {t: reader.decode_term(tps[t], with_positions=True) for t in tps}
    ka = occurrence_keys(*_pos_view(data[term]), 0)
    if excl_term in data:
        kb = occurrence_keys(*_pos_view(data[excl_term]), 0)
        upre, upost = np.uint64(pre), np.uint64(post)
        lo = ka - np.minimum(ka, upre)  # clamp doc-0 underflow
        # bad iff any exclusion key in [ka-pre, ka+post]
        bad = np.searchsorted(kb, ka + upost, side="right") > np.searchsorted(
            kb, lo, side="left"
        )
        surviving = ka[~bad]
    else:
        surviving = ka
    verified = _live(reader, survivor_docs(surviving), where)
    if verified.size == 0:
        return []
    scores = _term_scores(reader, tps, data, [term], verified)
    return _top_k(verified, scores, k, round_digits)


def _span_enclosure_topk(
    reader: IndexReader,
    term_a: str,
    term_b: str,
    little: str,
    slop: int,
    score_terms: list[str],
    k: int,
    round_digits: int | None,
    where: dict | None,
) -> list[tuple[int, float]]:
    """Shared core of ``span_within`` / ``span_containing`` (Lucene
    SpanWithinQuery / SpanContainingQuery). The *big* span is an ordered
    pair — an occurrence of ``term_a`` followed by ``term_b`` at most
    ``slop`` positions later (the span covers ``[a_pos, b_pos]``, Lucene
    span_near(inOrder=true) convention shared with :func:`search_near`);
    the *little* span is a single ``little`` occurrence. A doc matches iff
    some little occurrence lies inside some big span:
    ``a_pos <= t_pos <= b_pos`` with ``b_pos - a_pos <= slop``.

    Vectorized exactly like :func:`search_near`: occurrences become sorted
    ``doc*2^32 + pos`` keys, and for every little key the NEAREST enclosing
    pair — largest a-key at/before it, smallest b-key at/after it — is the
    b−a-minimal straddling pair, so checking only that pair is exact. Doc
    boundaries need no explicit test (positions << 2^32, so any cross-doc
    difference exceeds ``slop``). One searchsorted per side decides every
    occurrence at once; no per-doc loop.

    Matching docs rank by the sum of ``score_terms``' BM25 — the Lucene
    convention that a span query scores through its weight's clause terms
    (little for ``within``, the big pair for ``containing``). Any leaf term
    absent from the dictionary means an empty result.
    """
    if slop < 1:
        raise ValueError("slop must be >= 1 (the big span is an ordered pair)")
    if term_a == term_b:
        raise ValueError("big-span endpoints must be distinct terms")
    if not reader.positions:
        raise ValueError(
            "span_within/span_containing need a positional index"
            " (positions=True)"
        )
    terms = list(dict.fromkeys([term_a, term_b, little]))
    tps = reader.fetch_terms(terms, with_positions=True)
    if any(t not in tps for t in terms):
        return []
    data = {t: reader.decode_term(tps[t], with_positions=True) for t in terms}
    ka, kb, kt = (
        occurrence_keys(*_pos_view(data[t]), 0) for t in (term_a, term_b, little)
    )
    ia = np.searchsorted(ka, kt, side="right") - 1  # largest a-key <= t
    ib = np.searchsorted(kb, kt, side="left")  # smallest b-key >= t
    ok = (ia >= 0) & (ib < kb.size)
    sel = np.flatnonzero(ok)
    pair_ok = (kb[ib[sel]] - ka[ia[sel]]) <= np.uint64(slop)
    # strict order a < b (equal keys impossible across distinct terms, but
    # keep the guard so a degenerate little==endpoint case stays a SPAN)
    pair_ok &= kb[ib[sel]] > ka[ia[sel]]
    verified = _live(reader, survivor_docs(kt[sel[pair_ok]]), where)
    if verified.size == 0:
        return []
    scores = _term_scores(reader, tps, data, score_terms, verified)
    return _top_k(verified, scores, k, round_digits)


def search_span_within(
    reader: IndexReader,
    term_a: str,
    term_b: str,
    little: str,
    slop: int,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Lucene ``SpanWithinQuery``: occurrences of ``little`` enclosed by a
    big span — ``term_a`` then ``term_b`` within ``slop`` positions — rank
    the doc by the LITTLE clause's BM25 (Lucene scores within through the
    little weight). 'hash somewhere inside a join ... sort window' finds
    the docs discussing hashing in the join-sort context, not every doc
    that merely mentions all three.

    Driver fast path over the positional index (same regime as
    :func:`search_span_first` / :func:`search_span_not`); at cluster scale
    the same enclosure predicate is the occurrence-join plan of
    `plans/intervals.py` (ordered interval with a contained leaf), which
    the df-threshold auto-route already serves distributed.
    """
    return _span_enclosure_topk(
        reader, term_a, term_b, little, slop, [little], k, round_digits, where
    )


def search_span_containing(
    reader: IndexReader,
    term_a: str,
    term_b: str,
    little: str,
    slop: int,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Lucene ``SpanContainingQuery``: big spans (``term_a`` then
    ``term_b`` within ``slop``) that CONTAIN a ``little`` occurrence, doc
    ranked by the BIG pair's conjunctive BM25 (Lucene scores containing
    through the big weight). Same verified doc set as
    :func:`search_span_within` — the two queries differ only in which
    clause carries the score, mirroring Lucene's within/containing
    duality."""
    big = list(dict.fromkeys([term_a, term_b]))
    return _span_enclosure_topk(
        reader, term_a, term_b, little, slop, big, k, round_digits, where
    )


def search_pinned(
    reader: IndexReader,
    terms: list[str],
    pinned_ids: list[int],
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int | None = 6,
) -> list[tuple[int, float]]:
    """A78 — pinned query (ES ``pinned`` query / promoted results): the
    given doc_ids rank FIRST in the given order — each with the artificial
    descending score ES assigns (1e9 - position) — followed by the organic
    BM25 ranking with the pinned docs excluded. Pinned docs that are
    deleted are skipped (never resurrect a tombstoned doc); docs pinned
    but not matching the query still surface (the ES contract — pins are
    curation, not filters)."""
    pins = list(dict.fromkeys(int(p) for p in pinned_ids))
    if not pins:
        raise ValueError("pinned_ids must be non-empty (use search_topk)")
    tomb = _with_tombstones(reader, None)
    if tomb is not None and tomb.size:
        dead = set(tomb.tolist())
        pins = [p for p in pins if p not in dead]
    out: list[tuple[int, float]] = [
        (p, float(1e9 - i)) for i, p in enumerate(pins[:k])
    ]
    if len(out) < k:
        organic = [
            (d, round(s, round_digits) if round_digits is not None else s)
            for d, s in search_topk(reader, terms, mode=mode, k=k + len(pins))
        ]
        pin_set = set(pins)
        out += [(d, s) for d, s in organic if d not in pin_set][: k - len(out)]
    return out


def search_sorted_topk(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    k: int = 10,
    round_digits: int | None = 6,
    stats: dict | None = None,
) -> list[tuple[int, float]]:
    """A76 — early-terminated serving over an index-SORTED corpus (Lucene
    index sorting + ``TopFieldCollector`` early termination): when doc_ids
    were assigned in sort-field order (``schema.reassign_ids_sorted``),
    "the k best docs by the sort field that match" is just "the FIRST k
    matching doc_ids" — so posting chunks decode lazily in bucket (docid
    range) order and the scan STOPS as soon as k candidates lie below the
    decode frontier. On a selective query over a large index this touches
    a prefix of each posting list instead of all of it — the classic
    index-sorting win for feeds/listings sorted by date/popularity.

    Returns the first k matches in doc_id (= sort) order with their BM25
    scores. Pass ``stats`` to receive {'chunks_decoded', 'chunks_total'} —
    the early-termination evidence. Tombstones honored; on an UNSORTED
    index the result is just k matches in docid order (meaningless as a
    field sort — build with reassign_ids_sorted first)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    tps = reader.fetch_terms(terms)
    if (mode == "conjunctive" and len(tps) < len(terms)) or not tps:
        if stats is not None:
            stats["chunks_decoded"] = 0
            stats["chunks_total"] = sum(len(tp.chunks) for tp in tps.values())
        return []
    tomb = _with_tombstones(reader, None)
    chunk_lists = {t: list(tp.chunks) for t, tp in tps.items()}
    total_chunks = sum(len(c) for c in chunk_lists.values())
    decoded = {t: [] for t in tps}  # list of (ids, tfs, dls)
    # incrementally merged id prefix per term — appended once per decode,
    # never rebuilt from scratch (the per-iteration work is then the
    # cross-term intersect over the decoded PREFIX, which the early exit
    # keeps short; with no early exit it degrades gracefully toward the
    # standard full scan's cost)
    merged_ids = {t: np.array([], dtype=np.int64) for t in tps}
    frontier = {t: -1 for t in tps}  # max doc_id fully decoded per term
    pos = {t: 0 for t in tps}

    def decode_next(t: str) -> None:
        r = chunk_lists[t][pos[t]]
        ids, tfs, dls = unpack_chunk_bm(r["blob"], r["bm"], int(r["codec"]))
        ids64 = ids.astype(np.int64)
        decoded[t].append((ids64, tfs.astype(np.int64), dls.astype(np.int64)))
        merged_ids[t] = np.concatenate([merged_ids[t], ids64])
        pos[t] += 1
        frontier[t] = (
            int(ids[-1]) if pos[t] < len(chunk_lists[t]) else np.iinfo(np.int64).max
        )

    n_decoded = 0
    cand = np.array([], dtype=np.int64)
    while True:
        # decode one chunk from the term with the lowest frontier
        t_min = min(frontier, key=lambda t: (frontier[t], t))
        if pos[t_min] < len(chunk_lists[t_min]):
            decode_next(t_min)
            n_decoded += 1
        horizon = min(frontier.values())
        keys = list(tps)
        if mode == "conjunctive":
            cand = merged_ids[keys[0]]
            for t in keys[1:]:
                cand = np.intersect1d(cand, merged_ids[t], assume_unique=True)
        else:
            cand = np.unique(np.concatenate([merged_ids[t] for t in keys]))
        if tomb is not None and tomb.size:
            cand = cand[~np.isin(cand, tomb, assume_unique=True)]
        sure = cand[cand <= horizon]  # below the frontier nothing new can appear
        exhausted = all(pos[t] >= len(chunk_lists[t]) for t in tps)
        if sure.size >= k or exhausted:
            cand = sure if sure.size >= k else cand
            break
    if stats is not None:
        stats["chunks_decoded"] = n_decoded
        stats["chunks_total"] = total_chunks
    first = cand[:k]
    if first.size == 0:
        return []
    data = {t: [np.concatenate(col) for col in zip(*decoded[t])] for t in tps}
    scores = _term_scores(reader, tps, data, tps, first)
    if round_digits is not None:
        scores = np.round(scores, round_digits)
    return [(int(d), float(s)) for d, s in zip(first.tolist(), scores.tolist())]


def search_phrase_sloppy(
    reader: IndexReader,
    phrase: str,
    slop: int,
    k: int = 10,
    tokenizer: str = "whitespace",
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Sloppy n-term phrase (ES ``match_phrase`` with ``slop`` — alignment-
    window semantics): a doc matches iff each phrase term at offset j has
    an occurrence p_j such that the ALIGNED positions q_j = p_j - j all
    fit in a window of width <= slop (max q - min q <= slop). slop=0 is
    exactly the consecutive phrase; the match set is monotone in slop.
    (This is the interval-query formulation — Lucene's slop is a
    transposition edit distance, a different but closely related measure;
    both agree at slop=0 and grow monotonically.) Repeated phrase terms
    pick from the same occurrence set per offset, mirrored by the oracle.

    Served from the positional index: one pruned fetch, docid intersection,
    then per-candidate smallest-window coverage over the tagged merge of
    the aligned occurrence lists (two pointers, O(occurrences) per doc —
    candidates are already intersection-pruned, so the loop is small).
    Rank = conjunctive BM25 over the phrase's distinct terms (the phrase
    convention shared with search_phrase)."""
    from miru_spark.functions.tokenize import tokenize_py

    seq = tokenize_py(phrase, tokenizer)
    if len(seq) < 2:
        raise ValueError("sloppy phrase needs >= 2 tokens")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if not reader.positions:
        raise ValueError(
            "sloppy phrase needs a positional index (positions=True)"
        )
    uterms = list(dict.fromkeys(seq))
    tps = reader.fetch_terms(uterms, with_positions=True)
    if len(tps) < len(uterms):
        return []
    data = {t: reader.decode_term(tps[t], with_positions=True) for t in uterms}
    cand = data[uterms[0]][0]
    for t in uterms[1:]:
        cand = np.intersect1d(cand, data[t][0], assume_unique=True)
    cand = _live(reader, cand, where)
    if cand.size == 0:
        return []
    # per-term occurrence streams restricted to candidates, keyed by doc
    occ: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t in uterms:
        ids, tfs, _, pos = data[t]
        m = np.repeat(np.isin(ids, cand, assume_unique=True), tfs)
        occ[t] = (np.repeat(ids, tfs)[m], pos[m])
    n = len(seq)
    verified = []
    for d in cand.tolist():
        merged_q, merged_tag = [], []
        for j, t in enumerate(seq):
            docs_t, pos_t = occ[t]
            lo = np.searchsorted(docs_t, d, side="left")
            hi = np.searchsorted(docs_t, d, side="right")
            merged_q.append(pos_t[lo:hi] - j)
            merged_tag.append(np.full(hi - lo, j, dtype=np.int64))
        q = np.concatenate(merged_q)
        tag = np.concatenate(merged_tag)
        order = np.argsort(q, kind="stable")
        q, tag = q[order], tag[order]
        # two-pointer smallest window covering all n offsets
        need = n
        count = np.zeros(n, dtype=np.int64)
        left = 0
        ok = False
        for right in range(q.size):
            if count[tag[right]] == 0:
                need -= 1
            count[tag[right]] += 1
            while need == 0:
                if q[right] - q[left] <= slop:
                    ok = True
                    break
                count[tag[left]] -= 1
                if count[tag[left]] == 0:
                    need += 1
                left += 1
            if ok:
                break
        if ok:
            verified.append(d)
    if not verified:
        return []
    v = np.array(verified, dtype=np.int64)
    return _top_k(v, _term_scores(reader, tps, data, uterms, v), k, round_digits)


def search_lm(
    reader: IndexReader,
    terms: list[str],
    mode: str = "disjunctive",
    mu: float = 2000.0,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Pluggable similarity (Lucene ``LMDirichletSimilarity``): the same
    index, postings, and candidate plan as BM25, scored with the Dirichlet
    -smoothed language model instead — per matched term
    ``max(0, ln(1 + tf/(mu*p(t|C))) + ln(mu/(dl+mu)))`` with
    ``p(t|C) = (cf+1)/(n_tokens+1)`` (Lucene's smoothing; mu=2000 default).
    Everything the scorer needs is already in the index: tf/dl per posting,
    collection frequency = the term's decoded tf sum, total token count
    from corpus stats — no second corpus pass, no index change. Exhaustive
    evaluation only: arbitrary similarities break BM25's monotone
    block-max bounds, so WAND is intentionally not offered here (same
    reasoning as function_score)."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    if not (mu > 0):  # <= 0 or NaN
        raise ValueError("mu must be > 0")
    n_tokens = float(reader.stats["n_tokens"])
    return _similarity_topk(
        reader, terms, mode, k, round_digits, where,
        # the collection frequency is the term's decoded tf sum
        lambda d, tfs, dls: bm25.lm_dirichlet_np(
            tfs, float(d[1].sum()), dls, n_tokens, mu
        ),
    )


def search_classic(
    reader: IndexReader,
    terms: list[str],
    mode: str = "disjunctive",
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """Pluggable similarity (Lucene ``ClassicSimilarity``, the pre-BM25
    TF-IDF default): the same index, postings, and candidate plan as BM25,
    scored ``sqrt(tf) * idf^2 / sqrt(dl)`` with
    ``idf = 1 + ln((n_docs+1)/(df+1))`` per matched term instead.
    Everything the scorer needs is already decoded for the candidate plan —
    df is the term's posting count, n_docs comes from corpus stats — so
    swapping similarities costs nothing at build time (the same contract as
    :func:`search_lm`). Exhaustive evaluation only: the block-max metadata
    is BM25's, and ClassicSimilarity's unbounded idf^2 growth makes reusing
    those bounds unsafe, so WAND is intentionally not offered here."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    n_docs = float(reader.stats["n_docs"])
    return _similarity_topk(
        reader, terms, mode, k, round_digits, where,
        # df is the term's posting count
        lambda d, tfs, dls: bm25.classic_np(tfs, float(d[0].size), dls, n_docs),
    )


def _similarity_topk(
    reader: IndexReader, terms, mode, k, round_digits, where, score
) -> list[tuple[int, float]]:
    """Exhaustive top-k of :func:`search_lm` / :func:`search_classic`: the
    union (disjunctive) or intersection (conjunctive) of the terms' docs,
    ``where``-filtered and tombstones dropped, each doc scored by the sum
    of ``score(decoded, tfs, dls)`` over the terms it matches, where
    ``decoded`` is the term's ``decode_term`` tuple."""
    if mode not in ("conjunctive", "disjunctive"):
        raise ValueError(f"unknown mode {mode!r}")
    tps = reader.fetch_terms(terms)
    if not tps or (mode == "conjunctive" and len(tps) < len(terms)):
        return []
    data = {t: reader.decode_term(tp) for t, tp in tps.items()}
    ids = [d[0] for d in data.values()]
    universe = ids[0]
    for x in ids[1:]:
        if mode == "conjunctive":
            universe = np.intersect1d(universe, x, assume_unique=True)
        else:
            universe = np.union1d(universe, x)
    universe = _live(reader, universe, where)
    if universe.size == 0:
        return []
    scores = _term_scores(
        reader, tps, data, tps, universe,
        lambda t, tfs, dls: score(data[t], tfs, dls),
    )
    return _top_k(universe, scores, k, round_digits)


_OCC_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("pos", T.LongType())]
)


def _occurrences(chunks: DataFrame, term: str) -> DataFrame:
    """(doc_id, pos) for every occurrence of ``term`` in a positional chunk
    scan: mapInArrow decode of the term's rows plus their ``pos_blob``.
    The occurrence frame of every distributed positional plan (phrase
    verify, boolean-tree phrase leaves, interval queries)."""

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from miru_spark.index.format import unpack_chunk_np, unpack_positions

        for batch in batches:
            blob_col, codec_np, offs, ns, og, ot, od, lasts = _chunk_batch_views(
                batch
            )
            pos_col = batch.column(batch.schema.names.index("pos_blob"))
            for i in range(batch.num_rows):
                s, e = int(offs[i]), int(offs[i + 1])
                ids, tfs, _ = unpack_chunk_np(
                    blob_col[i].as_buffer(),
                    ns[s:e], og[s:e], ot[s:e], od[s:e], lasts[s:e],
                    int(codec_np[i]),
                )
                pos = unpack_positions(pos_col[i].as_buffer(), tfs)
                doc_rep = np.repeat(ids.astype(np.int64), tfs.astype(np.int64))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(doc_rep), pa.array(pos.astype(np.int64))],
                    names=["doc_id", "pos"],
                )

    return chunks.filter(F.col("term") == term).mapInArrow(emit, _OCC_SCHEMA)


def _phrase_starts(chunks: DataFrame, seq) -> DataFrame:
    """(doc_id, adj) for every start position ``adj`` at which the token
    sequence ``seq`` occurs consecutively: offset j's occurrences shift to
    ``pos - j`` and chained inner joins on (doc_id, adj) keep the starts
    where every offset aligns. ``chunks`` is a positional scan holding
    every term of ``seq``."""
    cand = _occurrences(chunks, seq[0]).select("doc_id", F.col("pos").alias("adj"))
    for off in range(1, len(seq)):
        nxt = _occurrences(chunks, seq[off]).select(
            "doc_id", (F.col("pos") - off).alias("adj")
        )
        cand = cand.join(nxt, ["doc_id", "adj"], "inner")
    return cand


def phrase_verified_docs_df(
    reader: IndexReader, seq: list[str] | tuple[str, ...]
) -> DataFrame | None:
    """Distinct doc_ids containing the exact consecutive token sequence,
    as a pure DataFrame plan — the distributed positional phrase verify
    (``_phrase_starts`` over the phrase terms' pruned scan). Returns
    None when a phrase term is absent from the index (no doc can match).
    Shared by :func:`search_phrase_distributed` and the boolean-tree
    distributed plan's phrase leaves (booltree.py)."""
    if not reader.positions:
        raise ValueError(
            "phrase search needs a positional index (build_index(positions=True))"
        )
    uterms = list(dict.fromkeys(seq))
    chunks = reader.postings_df(uterms)
    present = {r["term"] for r in chunks.select("term").distinct().collect()}
    if len(present) < len(uterms):
        return None
    return _phrase_starts(chunks, seq).select("doc_id").distinct()


def search_phrase_distributed(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    tokenizer: str = "whitespace",
    round_digits: int | None = 6,
) -> DataFrame:
    """Cluster-scale exact phrase search as a pure DataFrame plan:
    :func:`phrase_verified_docs_df` for the positional verify, then the
    verified docs semi-join the standard distributed BM25 scorer over the
    phrase's distinct terms. Use :func:`search_phrase` when one node can
    hold the phrase terms' chunks; this plan when it can't."""
    from miru_spark.functions.tokenize import tokenize_py

    seq = tokenize_py(phrase, tokenizer)
    if not seq:
        raise ValueError("empty phrase")
    uterms = list(dict.fromkeys(seq))
    verified = phrase_verified_docs_df(reader, seq)
    if verified is None:
        return local_frame(reader.spark, "doc_id long, score double")
    scored = search_distributed(
        reader, uterms, mode="conjunctive", k=None, round_digits=None
    )
    return _ranked(scored.join(verified, "doc_id", "left_semi"), k, round_digits)


def _rounded(score, round_digits: int | None):
    """``score`` rounded to ``round_digits`` (unchanged when None)."""
    return score if round_digits is None else F.round(score, round_digits)


def _ranked(
    df: DataFrame,
    k: int | None,
    round_digits: int | None,
    score=None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """The Spark rank rule every distributed scorer ends with: (doc_id,
    score) with ``score`` (default: the ``score`` column) rounded to
    ``round_digits``, strictly after the optional ``after`` keyset cursor,
    ordered by score descending then doc_id ascending and cut to ``k``;
    ``k=None`` returns the unsorted set (internal callers rank later)."""
    score = F.col("score") if score is None else score
    out = df.select("doc_id", _rounded(score, round_digits).alias("score"))
    if after is not None:
        # A38 keyset pagination on the cluster path: strictly-after the
        # (score, doc_id) cursor in rank order, compared on the SAME
        # rounded value the ordering uses — a codegen filter ahead of the
        # TakeOrderedAndProject, so page depth never changes the plan cost
        if k is None:
            raise ValueError("after needs a top-k query (k is None)")
        s_a, d_a = float(after[0]), int(after[1])
        out = out.filter(
            (F.col("score") < s_a)
            | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
        )
    if k is None:
        return out
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


_DOCID_SCHEMA = T.StructType([T.StructField("doc_id", T.LongType())])


def _chunk_batch_views(batch: pa.RecordBatch):
    """Zero-copy numpy views over a chunk-row Arrow batch's decode columns.

    Returns (blob_col, codec_np, offs, ns, og, ot, od, lasts): the block
    metadata structs are read straight out of the nested ListArray buffers
    (one ``.to_numpy()`` per scalar field for the WHOLE batch) instead of
    ``to_pylist()``-materializing a dict per block — this sits under the
    distributed hot loops, where per-chunk Python object churn was the one
    non-Arrow-idiomatic crossing left (VERDICT r3)."""
    names = batch.schema.names
    blob_col = batch.column(names.index("blob"))
    codec_np = batch.column(names.index("codec")).to_numpy(zero_copy_only=False)
    blocks_col = batch.column(names.index("blocks"))
    offs = blocks_col.offsets.to_numpy(zero_copy_only=False)
    flat = blocks_col.values
    ns = flat.field("n").to_numpy(zero_copy_only=False)
    og = flat.field("off_g").to_numpy(zero_copy_only=False)
    ot = flat.field("off_t").to_numpy(zero_copy_only=False)
    od = flat.field("off_d").to_numpy(zero_copy_only=False)
    lasts = flat.field("last_docid").to_numpy(zero_copy_only=False)
    return blob_col, codec_np, offs, ns, og, ot, od, lasts


def bm25_contrib_gen(
    n_docs: float,
    avgdl: float,
    *,
    boost_map: dict[str, float] | None = None,
    weight: float = 1.0,
    emit_term: bool = False,
    field_tag: str | None = None,
    raw_tf: bool = False,
    value_name: str = "contrib",
):
    """THE chunk decode-and-score mapInArrow generator behind ``_contribs``,
    the one core of every distributed scorer (single/batched search,
    boolean trees, dis_max, most_fields, combined_fields). Per chunk row:
    numpy-view the block metadata (:func:`_chunk_batch_views`), decode via
    ``unpack_chunk_np``, emit one Arrow batch of (doc_id[, field][, term],
    value) rows where value is the BM25 contribution (idf from the row's
    ``df_global``, optional per-term boost, optional field weight) — or
    the weighted raw tf when ``raw_tf`` (combined_fields accumulates tf
    before saturating)."""
    boosts = dict(boost_map or {})

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from miru_spark.index.format import unpack_chunk_np

        for batch in batches:
            blob_col, codec_np, offs, ns, og, ot, od, lasts = _chunk_batch_views(
                batch
            )
            snames = batch.schema.names
            terms_l = batch.column(snames.index("term")).to_pylist()
            dfg_np = (
                None
                if raw_tf
                else batch.column(snames.index("df_global")).to_numpy(
                    zero_copy_only=False
                )
            )
            for i in range(batch.num_rows):
                s, e = int(offs[i]), int(offs[i + 1])
                ids, tfs, dls = unpack_chunk_np(
                    blob_col[i].as_buffer(),
                    ns[s:e], og[s:e], ot[s:e], od[s:e], lasts[s:e],
                    int(codec_np[i]),
                )
                if raw_tf:
                    vals = tfs.astype(np.float64) * weight
                else:
                    idf = float(bm25.idf_np(float(dfg_np[i]), n_docs))
                    idf *= boosts.get(terms_l[i], 1.0)
                    vals = bm25.score_np(tfs, idf, dls, avgdl) * weight
                arrays = [pa.array(ids.astype(np.int64))]
                names = ["doc_id"]
                if field_tag is not None:
                    arrays.append(
                        pa.array([field_tag] * len(ids), type=pa.string())
                    )
                    names.append("field")
                if emit_term:
                    arrays.append(
                        pa.array([terms_l[i]] * len(ids), type=pa.string())
                    )
                    names.append("term")
                arrays.append(pa.array(vals))
                names.append(value_name)
                yield pa.RecordBatch.from_arrays(arrays, names=names)

    return gen


def _contribs(chunks: DataFrame, n_docs: float, avgdl: float, **flags) -> DataFrame:
    """Contribution rows of a chunk scan: ``mapInArrow`` of
    :func:`bm25_contrib_gen` with ``flags``, under the output schema those
    same flags select — (doc_id[, field][, term], contrib or
    ``value_name``)."""
    fields = [T.StructField("doc_id", T.LongType())]
    if flags.get("field_tag") is not None:
        fields.append(T.StructField("field", T.StringType()))
    if flags.get("emit_term"):
        fields.append(T.StructField("term", T.StringType()))
    fields.append(T.StructField(flags.get("value_name", "contrib"), T.DoubleType()))
    gen = bm25_contrib_gen(n_docs, avgdl, **flags)
    return chunks.mapInArrow(gen, T.StructType(fields))


def _field_contribs(
    readers: dict[str, IndexReader], terms, w: dict[str, float], tag_fields: bool
) -> DataFrame | None:
    """(doc_id[, field], term, contrib) over several field indexes of one
    corpus: each field's pruned scan scored under its own statistics and
    weight ``w[field]`` (fields weighted 0 are skipped), tagged with the
    field name when ``tag_fields``, unioned. None when every weight is 0."""
    parts = [
        _contribs(
            _postings_with_df(reader, terms)[0],
            float(reader.n_docs),
            float(reader.avgdl),
            weight=w[fname],
            emit_term=True,
            field_tag=fname if tag_fields else None,
        )
        for fname, reader in readers.items()
        if w[fname] != 0.0
    ]
    return reduce(DataFrame.unionByName, parts) if parts else None


def _chunk_ids(batch: pa.RecordBatch) -> Iterator[np.ndarray]:
    """Each chunk row's doc ids (int64) — for varint chunks only the gaps
    stream is decoded (no tf/dl streams, no scoring)."""
    from miru_spark.functions.codecs import varint_decode
    from miru_spark.index.format import delta_decode, unpack_chunk_np

    blob_col, codec_np, offs, ns, og, ot, od, lasts = _chunk_batch_views(batch)
    for i in range(batch.num_rows):
        s, e = int(offs[i]), int(offs[i + 1])
        blob = blob_col[i].as_buffer()
        if int(codec_np[i]) == 1:  # varint: gaps stream only
            total = int(ns[s:e].sum())
            off = int(og[s]) if e > s else 0
            gaps, _ = varint_decode(blob, off, count=total)
            ids = delta_decode(gaps)
        else:
            ids, _, _ = unpack_chunk_np(
                blob, ns[s:e], og[s:e], ot[s:e], od[s:e], lasts[s:e],
                int(codec_np[i]),
            )
        yield ids.astype(np.int64)


def _ids_only_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Decode ONLY the doc_ids of chunk rows (skip tf/dl streams + scoring)."""
    for batch in batches:
        for ids in _chunk_ids(batch):
            yield pa.RecordBatch.from_arrays([pa.array(ids)], names=["doc_id"])


_DOCID_TERM_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.LongType()), T.StructField("term", T.StringType())]
)


def _ids_term_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Like :func:`_ids_only_arrow` but keeps the chunk's term tag (for
    plans that need per-(doc, term) presence, e.g. adjacency_matrix)."""
    for batch in batches:
        terms = batch.column(batch.schema.names.index("term")).to_pylist()
        for term, ids in zip(terms, _chunk_ids(batch)):
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array([term] * len(ids), type=pa.string())],
                names=["doc_id", "term"],
            )


# ----------------------------------------------------- chunk skipping (A19
# on the cluster path) — block-max pruning BEFORE the mapInArrow decode.
#
# The driver fast path already skips blocks via WAND; the distributed
# scatter-gather path used to decode EVERY chunk of every query term. The
# chunk rows carry the block-max metadata (per-block and per-chunk (tf, dl)
# impact frontiers, format.py), so a theta lower bound on the k-th best
# final score can be established from metadata alone and whole chunk rows
# filtered out of the scan before a single blob byte is decoded — the
# Ding & Suel BMW idea recast as a declarative pre-filter.
#
# Soundness (disjunctive, non-negative idf — Lucene BM25+ form):
# * UB(chunk) = idf*boost * max over the CHUNK-level frontier pairs. The
#   chunk frontier dominates every real posting (capping only introduces
#   dominating synthetic points), so UB >= every contribution in the chunk.
# * LB(chunk) = idf*boost * max over BLOCK frontiers of an ACHIEVABLE
#   score: an uncapped block frontier (size < IMPACT_CAP) holds only real
#   (tf, dl) postings, so its max pair score is achieved; a possibly-capped
#   one (size == IMPACT_CAP) stores run-merged synthetic points, but the
#   shifted pair (tf[j], dl[j+1]) is dominated by a real posting — the
#   run-j-closing real point has exactly tf[j] and dl <= dl[j+1] (dl
#   ascending) — so max_j score(tf[j], dl[j+1]) is a sound lower bound.
#   (The chunk-level frontier canNOT be used for LB: it re-frontiers the
#   union of possibly-capped block frontiers, so even a below-cap chunk
#   frontier may hold synthetic points.)
# * theta: within ONE term, chunk rows cover disjoint doc ranges, so the
#   k-th largest chunk LB of a term is achieved by k DISTINCT docs, each
#   of whose final (summed, all-contributions-nonnegative) score is >= it.
#   theta = max over terms of that per-term k-th LB ⇒ at least k docs
#   score >= theta. (Cross-term LB pooling is NOT sound — two terms' LBs
#   can be achieved by the same doc.)
# * filter (WINDOWED bound, plans/chunkprune.py): per term, chunk rows
#   cover disjoint ascending doc ranges, so S(r) = sum over terms of the
#   covering chunk's UB bounds every doc's total score in range r. Drop
#   chunk c iff max_{r in c's range} S(r) < theta - margin. Any doc in a
#   dropped chunk has total score <= S(r_d) < theta - margin, so it
#   cannot reach the top-k; conversely any doc with total >= theta -
#   margin keeps ALL of its chunks (each covering chunk's window max >=
#   S(r_d) >= total), so every surviving top-k doc is scored EXACTLY.
#   Dropped docs may survive with partial (underestimated) scores — all
#   strictly below theta - margin, and the margin (2 ulps of the
#   round_digits grid) keeps them from rounding into a tie with the
#   exact top-k. The window bound strictly refines round 4's sum-UB rule
#   (UB(c) + sum_{t'≠t} UBmax_global(t') < theta - margin): sum-UB
#   credits every chunk with every other term's global max anywhere in
#   doc space and therefore provably cannot prune equal-strength
#   disjunctions, while the window bound prunes any doc-id region whose
#   STACKED coverage is weak. The >2^20-chunk Spark fallback still uses
#   sum-UB (per-term scalars need no row collect).
_PRUNE_MIN_POSTINGS = 1_000_000  # below this, decode is cheaper than the
#                                  extra metadata job the theta bound costs
_RANGE_PRUNE_MAX_RARE_DF = 50_000_000  # conjunctive chunk-range prune gate:
#                                  keeps the broadcast interval list tiny


def _frontier_pair_scores(tf_arr, dl_arr, avgdl: float):
    """Unscaled BM25 tf-component per zipped (tf, dl) frontier pair."""

    def s(tf, dl):
        tfd = tf.cast("double")
        return (
            tfd
            * F.lit(bm25.K1 + 1.0)
            / (
                tfd
                + F.lit(bm25.K1)
                * (F.lit(1.0 - bm25.B) + F.lit(bm25.B) * dl.cast("double") / F.lit(avgdl))
            )
        )

    return F.zip_with(tf_arr, dl_arr, s)


def chunk_upper_col(avgdl: float):
    """Sound per-chunk upper bound (unscaled) from the chunk-level frontier."""
    return F.array_max(_frontier_pair_scores(F.col("i_tf"), F.col("i_dl"), avgdl))


def chunk_lower_col(avgdl: float):
    """Sound ACHIEVABLE per-chunk lower bound (unscaled) from block frontiers."""
    from miru_spark.index.format import IMPACT_CAP

    def per_block(b):
        n = F.size(b["i_tf"])
        exact = F.array_max(_frontier_pair_scores(b["i_tf"], b["i_dl"], avgdl))
        shifted = F.array_max(
            _frontier_pair_scores(
                F.slice(b["i_tf"], 1, IMPACT_CAP - 1),
                F.slice(b["i_dl"], 2, IMPACT_CAP - 1),
                avgdl,
            )
        )
        return F.when(n >= F.lit(IMPACT_CAP), shifted).otherwise(exact)

    return F.array_max(F.transform(F.col("blocks"), per_block))


def _margin(round_digits: int | None, theta: float) -> float:
    """Tie guard: 2 ulps of the rounding grid (or a relative epsilon)."""
    if round_digits is not None:
        return 2.0 * 10.0 ** (-round_digits)
    return 1e-9 * (1.0 + theta)


def _keep_chunks_by_key(
    chunks: DataFrame, terms: np.ndarray, firsts: np.ndarray, keep: np.ndarray
) -> DataFrame:
    """Apply a driver-side per-chunk keep decision to the chunk DataFrame.

    (term, first_docid) identifies a chunk row — per-term doc ranges are
    disjoint (merge.py positional buckets) so first_docid is unique within
    a term. The surviving keys go back as a tiny broadcast semi-join (an
    Arrow-built local relation, no shuffle); even an overlap-violating
    index only makes the join KEEP extra rows, never drop a needed one."""
    if not keep.any():  # every chunk provably irrelevant (e.g. a
        return chunks.filter(F.lit(False))  # conjunction with an absent term)
    keys = local_frame(
        chunks.sparkSession,
        "term string, first_docid long",
        [terms[keep], firsts[keep].astype(np.int64)],
    )
    return chunks.join(F.broadcast(keys), ["term", "first_docid"], "left_semi")


_META_CAP = 1 << 20  # chunk rows a pruner collects; past it, no collect


def _chunk_bounds(
    chunks: DataFrame, n_docs: float, avgdl: float, boost=None
) -> tuple[DataFrame, object, tuple | None]:
    """Per-chunk score bounds from block-max metadata alone, the input of
    every chunk pruner. Returns (meta, ub_expr, arrays): ``meta`` is
    (term, first_docid, last_docid, __ub, __lb) over ``chunks`` (which
    carry ``df_global``), each bound idf [* ``boost``] times the chunk's
    unscaled upper / achievable lower bound; ``ub_expr`` is the upper
    bound as a column. ``arrays`` is (terms, firsts, lasts, ubs, lbs) as
    numpy columns from one narrow job (metadata-column scan + project +
    collect, no exchange; the parquet scan never touches the blob pages),
    or None past ``_META_CAP`` rows — callers fall back rather than
    collect an unbounded list."""
    idf = bm25.idf_col(F.col("df_global").cast("double"), F.lit(float(n_docs)))
    scale = idf if boost is None else idf * boost
    ub_expr = scale * chunk_upper_col(avgdl)
    meta = chunks.select(
        F.col("term"),
        F.col("first_docid"),
        F.col("last_docid"),
        ub_expr.alias("__ub"),
        (scale * chunk_lower_col(avgdl)).alias("__lb"),
    )
    rows = meta.limit(_META_CAP + 1).collect()
    if len(rows) > _META_CAP:
        return meta, ub_expr, None
    arrays = (
        np.array([r["term"] for r in rows], dtype=object),
        np.array([r["first_docid"] for r in rows], dtype=np.int64),
        np.array([r["last_docid"] for r in rows], dtype=np.int64),
        np.array([r["__ub"] for r in rows], dtype=np.float64),
        np.array([r["__lb"] for r in rows], dtype=np.float64),
    )
    return meta, ub_expr, arrays


def _kth_largest(terms: np.ndarray, vals: np.ndarray, k: int) -> dict[str, float]:
    """Per term, the k-th largest of its chunk rows' ``vals``; terms with
    fewer than k rows are absent. On chunk lower bounds this is the
    per-term theta: one term's chunk rows cover disjoint doc ranges, so
    its k-th largest lower bound is reached by k distinct docs."""
    uniq, codes = np.unique(terms, return_inverse=True)
    out = {}
    for ti, t in enumerate(uniq):
        v = vals[codes == ti]
        if v.size >= k:
            out[t] = float(np.partition(v, v.size - k)[v.size - k])
    return out


def _blockmax_prune(
    chunks: DataFrame,
    k: int,
    n_docs: float,
    avgdl: float,
    boost_map: dict[str, float],
    round_digits: int | None,
) -> tuple[DataFrame, dict]:
    """Filter chunk rows that provably cannot contribute to the disjunctive
    top-k. Returns (kept_chunks, stats); ``chunks`` must already carry
    ``df_global``. One tiny metadata-only Spark job (``_chunk_bounds``)
    establishes theta and per-chunk windowed upper bounds.

    The keep rule is the WINDOWED (BMM) bound from plans/chunkprune.py:
    chunk c survives iff somewhere in its doc range the summed per-term
    covering UBs reach theta - margin. It strictly refines the round-4
    sum-UB rule (which credits every chunk with every other term's GLOBAL
    max and therefore provably cannot prune equal-strength disjunctions);
    the Spark aggregation fallback for pathological >2^20-chunk queries
    still uses sum-UB thresholds (per-term scalars compose into a codegen
    filter without collecting the rows)."""
    from pyspark.sql import Window

    from miru_spark.plans.chunkprune import chunk_window_max

    if boost_map:
        pairs = []
        for t, b in boost_map.items():
            pairs.extend([F.lit(t), F.lit(float(b))])
        boost = F.coalesce(F.create_map(*pairs)[F.col("term")], F.lit(1.0))
    else:
        boost = F.lit(1.0)
    meta, ub_expr, arrays = _chunk_bounds(chunks, n_docs, avgdl, boost)
    if arrays is None:  # sum-UB fallback: per-term scalar thresholds
        # two tiny metadata shuffles instead of an unbounded collect
        w = Window.partitionBy("term").orderBy(F.desc("__lb"))
        kth = (
            meta.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == k)
            .select("term", F.col("__lb").alias("__lbk"))
        )
        arows = (
            meta.groupBy("term")
            .agg(F.max("__ub").alias("__ubmax"))
            .join(kth, "term", "left")
            .collect()
        )
        ubmax = {r["term"]: float(r["__ubmax"]) for r in arows}
        theta = max(
            (float(r["__lbk"]) for r in arows if r["__lbk"] is not None),
            default=0.0,
        )
        stats = {
            "theta": theta,
            "ubmax": ubmax,
            "pruned": False,
            "bound": "sum-ub",
            "thresholds": {},
        }
        if theta <= 0.0:
            return chunks, stats
        margin = _margin(round_digits, theta)
        s_max = sum(ubmax.values())
        thresholds = {t: theta - margin - (s_max - u) for t, u in ubmax.items()}
        if all(thr <= 0.0 for thr in thresholds.values()):
            return chunks, stats  # bounds too loose: skip the filter
        stats["pruned"] = True
        stats["thresholds"] = thresholds
        tpairs = []
        for t, thr in thresholds.items():
            tpairs.extend([F.lit(t), F.lit(thr)])
        thr_col = F.create_map(*tpairs)[F.col("term")]
        return chunks.filter(ub_expr >= thr_col), stats

    terms_a, lo_a, hi_a, ub_a, lb_a = arrays
    uniq, codes = np.unique(terms_a, return_inverse=True)
    theta = max([0.0, *_kth_largest(terms_a, lb_a, k).values()])
    stats = {
        "theta": theta,
        "ubmax": {t: float(ub_a[codes == ti].max()) for ti, t in enumerate(uniq)},
        "pruned": False,
        "bound": "bmm-window",
        "thresholds": {},
        "chunks_total": int(terms_a.size),
    }
    if theta <= 0.0:
        return chunks, stats
    win = chunk_window_max(codes, lo_a, hi_a, ub_a)
    keep = win >= theta - _margin(round_digits, theta)
    stats["chunks_kept"] = int(keep.sum())
    if keep.all():
        return chunks, stats
    stats["pruned"] = True
    return _keep_chunks_by_key(chunks, terms_a, lo_a, keep), stats


def _batch_blockmax_prune(
    chunks: DataFrame,
    queries: list[tuple[list[str], str]],
    k: int,
    n_docs: float,
    avgdl: float,
    round_digits: int | None,
    term_dfs: dict[str, int],
    prune_gate: int | None = None,
) -> tuple[DataFrame, dict]:
    """Theta chunk skipping for the BATCHED scorer: ONE shared metadata
    job prices every chunk, each eligible disjunctive query derives its
    own theta and runs the windowed (BMM) sweep over ITS terms' chunks,
    and a chunk is kept iff ANY query still needs it (terms of
    conjunctive or gate-ineligible queries keep everything — recorded in
    ``stats['protected_terms']``). Dropping a chunk only when EVERY
    query's bound excludes it preserves each query's exact top-k by the
    single-query soundness argument applied per query."""
    from miru_spark.plans.chunkprune import chunk_window_max

    gate = _PRUNE_MIN_POSTINGS if prune_gate is None else prune_gate
    _, _, arrays = _chunk_bounds(chunks, n_docs, avgdl)
    stats: dict = {"pruned": False, "thetas": {}, "protected_terms": []}
    if arrays is None:  # pathological chunk count: skip rather than spill
        return chunks, stats
    terms_a, lo_a, hi_a, ub_a, lb_a = arrays
    uniq, codes = np.unique(terms_a, return_inverse=True)
    code_of = {t: i for i, t in enumerate(uniq)}
    kth_lb = _kth_largest(terms_a, lb_a, k)
    keep = np.zeros(terms_a.size, dtype=bool)
    protected: set[str] = set()
    for qi, (terms, mode) in enumerate(queries):
        uterms = list(dict.fromkeys(terms))
        present = [t for t in uterms if t in code_of]
        eligible = (
            mode == "disjunctive"
            and present
            and sum(term_dfs.get(t, 0) for t in present) >= gate
        )
        theta_q = max((kth_lb.get(t, 0.0) for t in present), default=0.0)
        if not eligible or theta_q <= 0.0:
            protected.update(present)
            continue
        stats["thetas"][qi] = theta_q
        sub = np.flatnonzero(
            np.isin(codes, np.array([code_of[t] for t in present]))
        )
        win = chunk_window_max(codes[sub], lo_a[sub], hi_a[sub], ub_a[sub])
        keep[sub] |= win >= theta_q - _margin(round_digits, theta_q)
    if protected:
        keep |= np.isin(codes, np.array([code_of[t] for t in protected]))
        stats["protected_terms"] = sorted(protected)
    if keep.all():
        return chunks, stats
    stats["pruned"] = True
    return _keep_chunks_by_key(chunks, terms_a, lo_a, keep), stats


#: last _blockmax_prune stats from search_distributed (observability/tests)
LAST_PRUNE_STATS: dict = {}


def search_distributed(
    reader: IndexReader,
    terms: list[str],
    mode: str = "conjunctive",
    k: int | None = 10,
    round_digits: int | None = 6,
    exclude: list[str] | None = None,
    boosts: dict[str, float] | None = None,
    where: dict | None = None,
    with_nmatch: bool = False,
    after: tuple[float, int] | None = None,
    prune_gate: int | None = None,
) -> DataFrame:
    """Pure-DataFrame scoring over chunk rows (scatter-gather top-k).

    Plan: pruned postings scan -> mapInArrow chunk decode+score (one Arrow
    batch of (doc_id, contrib) rows per chunk) -> hash agg by doc_id ->
    rounded order-by + limit. Shuffles only the per-doc partial scores of
    matching docs. ``exclude`` (boolean NOT) anti-joins the aggregated docs
    against the excluded terms' decoded doc_ids — a distributed posting-list
    difference, no driver materialization. ``where`` (metadata filter, A34)
    semi-joins the scored contributions against the docmap rows matching
    the predicate BEFORE the aggregation: the docmap scan pushes the
    predicate down and prunes to doc_id, the semi-join and the groupBy
    share the doc_id hash partitioning (no extra exchange), and AQE
    broadcasts the filtered side when it's small — fully distributed, no
    driver-side id list. ``prune_gate`` overrides the block-max skip
    gate's min-df floor (0 forces the theta prune on any eligible query —
    the driver correctness case exercises the pruned path with it).
    """
    terms = list(dict.fromkeys(terms))
    exclude = _check_exclude(terms, exclude)
    n_docs = float(reader.n_docs)
    avgdl = float(reader.avgdl)
    chunks, dfs = _postings_with_df(reader, terms)
    boost_map = {t: float(b) for t, b in (boosts or {}).items()}
    if any(not (b > 0) for b in boost_map.values()):  # <= 0 or NaN
        raise ValueError("boosts must be positive")

    global LAST_PRUNE_STATS
    LAST_PRUNE_STATS = {}
    tomb = reader.tombstones
    if (
        mode == "disjunctive"
        and k is not None
        and k >= 1  # k < 1 ranks nothing: there is no k-th score to prune at
        and not exclude
        and where is None
        and not with_nmatch
        and after is None  # deep pages legitimately return sub-theta docs
        and (tomb is None or tomb.size == 0)
    ):
        # theta-based chunk skipping (soundness + gates documented above);
        # exclude/where/tombstones remove docs post-agg, which would break
        # the "k docs reach theta" guarantee, so those paths stay unpruned.
        # Gate on the TOTAL postings volume across present terms
        # (the dfs attached above — driver-side, no Spark job):
        # the windowed bound can prune ANY term's chunks wherever the
        # stacked coverage is weak (not just the score-dominant term, the
        # sum-UB-era rationale for a min-df gate), so the right question
        # is whether the prunable decode volume can repay the metadata
        # job — which scales with the summed df.
        gate = _PRUNE_MIN_POSTINGS if prune_gate is None else prune_gate
        if dfs and sum(dfs.values()) >= gate:
            chunks, LAST_PRUNE_STATS = _blockmax_prune(
                chunks, k, n_docs, avgdl, boost_map, round_digits
            )

    rare = None
    if mode == "conjunctive" and len(terms) > 1:
        if not dfs:  # no query term exists in the index
            return local_frame(reader.spark, "doc_id long, score double")
        rare = min(dfs, key=dfs.get)
        if dfs[rare] <= _RANGE_PRUNE_MAX_RARE_DF:
            # chunk-range prune: a conjunctive match must appear in the
            # rarest term's postings, hence inside one of its chunks'
            # [first_docid, last_docid] ranges — chunks of OTHER terms
            # wholly outside every such range cannot contain a match and
            # skip the decode entirely. Docs losing a chunk here are docs
            # absent from the rare term (they fail the conjunction anyway),
            # so nmatch/scores of every surviving match stay exact. The
            # interval list is one row per rare chunk (tiny under the df
            # gate), broadcast into a nested-loop semi-join.
            ranges = chunks.filter(F.col("term") == rare).select(
                F.col("first_docid").alias("__rf"),
                F.col("last_docid").alias("__rl"),
            )
            chunks = chunks.join(
                F.broadcast(ranges),
                (F.col("first_docid") <= F.col("__rl"))
                & (F.col("last_docid") >= F.col("__rf")),
                "left_semi",
            )

    scored = _contribs(chunks, n_docs, avgdl, boost_map=boost_map)
    if where:
        scored = scored.join(_where_ids(reader, where), "doc_id", "left_semi")
    if mode == "conjunctive" and len(terms) > 1:
        # rarest-term pre-filter: conjunctive hits are a subset of the
        # rarest term's postings, so semi-join every term's contributions
        # against those candidates BEFORE the aggregation — the groupBy
        # shuffle then carries only potential matches instead of the full
        # union of hot terms' postings (the selective-query scale path;
        # broadcast when the rare side is small).
        cand = chunks.filter(F.col("term") == rare).mapInArrow(
            _ids_only_arrow, _DOCID_SCHEMA
        )
        if dfs[rare] <= 5_000_000:
            cand = F.broadcast(cand)
        scored = scored.join(cand, "doc_id", "left_semi")
    agg = scored.groupBy("doc_id").agg(
        F.sum("contrib").alias("score"), F.count("*").alias("nmatch")
    )
    if mode == "conjunctive":
        agg = agg.filter(F.col("nmatch") == len(terms))
    if exclude:
        ex_ids = reader.postings_df(exclude).mapInArrow(
            _ids_only_arrow, _DOCID_SCHEMA
        )
        agg = agg.join(ex_ids, "doc_id", "left_anti")
    agg = _drop_tombstones(reader, agg)
    if with_nmatch:
        if k is not None:
            raise ValueError("with_nmatch is for k=None internal callers")
        # distinct-term match count for per-doc floors (terms_set): terms
        # are distinct and each contributes one row per matching doc, so
        # the existing count(*) IS the distinct-match count
        score = _rounded(F.col("score"), round_digits)
        return agg.select("doc_id", score.alias("score"), "nmatch")
    return _ranked(agg, k, round_digits, after=after)


def search_many_distributed(
    reader: IndexReader,
    queries: list[tuple[list[str], str]],
    k: int = 10,
    round_digits: int | None = 6,
    prune_gate: int | None = None,
) -> DataFrame:
    """Batched cluster serving — the distributed twin of :func:`search_many`:
    N queries share ONE pruned postings scan, ONE mapInArrow decode per
    chunk, and ONE contribution shuffle.

    Plan: union of all queries' terms -> pruned scan -> decode+score to
    (doc_id, term, contrib) -> broadcast join to the exploded
    (query_id, term, n_terms, mode) table (terms shared by many queries
    fan out JVM-side, never re-decoding) -> one map-side-combined hash agg
    per (query_id, doc_id) with the distinct-term match count ->
    conjunctive floor as a codegen filter -> per-query top-k via a
    row_number window partitioned by query_id. At cluster scale a
    multi-tenant batch pays the scan/decode once instead of once per
    query — the same amortization the driver batch path does with its
    shared decode cache, restated as one Spark plan.

    Returns (query_id, doc_id, score), query_id = position in ``queries``.
    Rank-identical to per-query :func:`search_distributed` (tested).
    """
    if not queries:
        raise ValueError("empty query batch")
    for terms, mode in queries:
        if mode not in ("conjunctive", "disjunctive"):
            raise ValueError(f"unknown mode {mode!r}")
        if not terms:
            raise ValueError("empty term list in batch")
    spark = reader.spark
    n_docs = float(reader.n_docs)
    avgdl = float(reader.avgdl)
    all_terms = list(dict.fromkeys(t for terms, _ in queries for t in terms))
    chunks, term_dfs = _postings_with_df(reader, all_terms)

    global LAST_PRUNE_STATS
    LAST_PRUNE_STATS = {}
    tomb_np = reader.tombstones
    if k >= 1 and (tomb_np is None or tomb_np.size == 0):
        # batch theta chunk skipping: one shared metadata job, per-query
        # thresholds, keep-if-any-query-needs-it (_batch_blockmax_prune).
        # Tombstones and k < 1 disable it exactly as on the single-query path.
        if any(
            m == "disjunctive"
            and (p := [t for t in dict.fromkeys(ts) if t in term_dfs])
            and sum(term_dfs[t] for t in p)
            >= (_PRUNE_MIN_POSTINGS if prune_gate is None else prune_gate)
            for ts, m in queries
        ):
            chunks, LAST_PRUNE_STATS = _batch_blockmax_prune(
                chunks, queries, k, n_docs, avgdl, round_digits, term_dfs,
                prune_gate,
            )

    scored = _contribs(chunks, n_docs, avgdl, emit_term=True)
    qrows = []
    for qid, (terms, mode) in enumerate(queries):
        uterms = list(dict.fromkeys(terms))
        for t in uterms:
            qrows.append((qid, t, len(uterms), mode))
    qmap = local_frame(
        spark, "query_id int, term string, n_terms int, mode string",
        list(zip(*qrows)),
    )
    agg = (
        scored.join(F.broadcast(qmap), "term")
        .groupBy("query_id", "doc_id", "mode", "n_terms")
        .agg(F.sum("contrib").alias("score"), F.count("*").alias("nmatch"))
        .filter(
            (F.col("mode") == "disjunctive")
            | (F.col("nmatch") == F.col("n_terms"))
        )
    )
    agg = _drop_tombstones(reader, agg)
    score = _rounded(F.col("score"), round_digits)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.select("query_id", "doc_id", score.alias("score"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def search_terms_set(
    reader: IndexReader,
    terms: list[str],
    mm_col: str = "doc_len",
    divisor: int = 30,
    k: int = 10,
    round_digits: int | None = 6,
    exclude: list[str] | None = None,
    where: dict | None = None,
) -> DataFrame:
    """A85 — terms_set query (ES ``terms_set`` / Lucene
    ``CoveringQuery``): disjunctive match with a PER-DOC
    minimum-should-match floor. ES reads the floor from a stored per-doc
    field (``minimum_should_match_field``); the docmap carries no curated
    floor column, so the pinned stand-in derives it from a stored numeric
    column: ``M(doc) = least(n_terms, greatest(1, 1 + floor(mm_col /
    divisor)))`` — longer docs must match more of the term set. The
    engine mechanics are exactly the per-doc-floor enforcement ES does;
    only the floor's provenance differs (derived expression vs stored
    field), and both sides of the oracle derive it identically.

    Plan: the standard distributed scorer keeps its per-doc distinct-term
    match count (one extra long through the existing hash agg — no new
    shuffle), joins the docmap's two-column projection, and filters
    ``nmatch >= M(doc)`` as a codegen expression before the
    TakeOrderedAndProject. Scores are the plain disjunctive BM25 sum over
    matched terms (ES sums matching should-clauses), so a qualifying
    doc's score is unchanged by the floor."""
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("empty term list")
    if divisor <= 0:
        raise ValueError("divisor must be positive")
    cand = search_distributed(
        reader, terms, mode="disjunctive", k=None, round_digits=round_digits,
        exclude=exclude, where=where, with_nmatch=True,
    )
    dm = reader.docmap_df().select("doc_id", mm_col)
    floor_m = F.least(
        F.lit(len(terms)),
        F.greatest(
            F.lit(1), (F.floor(F.col(mm_col) / divisor) + 1).cast("long")
        ),
    )
    cand = cand.join(dm, "doc_id").filter(F.col("nmatch") >= floor_m)
    return _ranked(cand, k, None)
