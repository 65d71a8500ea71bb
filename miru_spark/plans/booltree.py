"""Nested boolean queries — Lucene ``BooleanQuery`` trees (A56).

The flat grammar (``parse_query``) serves one boolean level: all-AND or
all-OR plus NOT clauses. Real Lucene/ES queries nest:
``(spark OR flink) AND (join OR merge) NOT "unit test"``. This module adds

  * a recursive-descent parser with parentheses and the classic precedence
    ``NOT > AND > OR`` (adjacent clauses default to AND, matching the flat
    grammar's bare-list behavior); ``term^w`` boosts and quoted phrases are
    leaves,
  * a fully vectorized driver evaluator (numpy set algebra over decoded
    posting lists; phrases verify against the positional index exactly like
    :func:`miru_spark.plans.search.search_phrase`),
  * a distributed evaluator: one pruned postings scan for ALL leaf terms ->
    mapInArrow decode to (doc_id, term, contrib) -> ONE hash aggregation
    pivoting each leaf term into a column (map-side partial agg; per
    (doc_id, term) there is exactly one contribution row) -> the tree
    compiled to Catalyst boolean/arithmetic expressions (whole-stage
    codegen; zero Python in the match/score evaluation) ->
    TakeOrderedAndProject top-k,
  * an oracle generator emitting the equivalent DuckDB SQL from the SAME
    AST (pivot CTE + CASE expressions), so the Spark plan and the SQL twin
    cannot drift apart.

Scoring follows Lucene's BooleanQuery semantics exactly: a node's score is
the sum of its MATCHING children's scores, and a child that does not match
contributes nothing even if some of its own subterms are present in the
doc. For ``(a AND b) OR c`` a doc containing ``a`` and ``c`` but not ``b``
scores only the ``c`` contribution. Negative (NOT) clauses never score.
``NOT`` is only legal inside an AND scope next to at least one positive
clause — a pure-negative query or ``a OR NOT b`` needs the full document
set and is rejected, exactly as Lucene rejects must_not-only boolean
queries at the top level.

Block-max WAND deliberately does not apply here: per-term upper bounds are
not monotone through an arbitrary tree (an AND subtree caps its branch at
the MIN of its members' bounds only while all members are live), so the
driver path scores candidates exhaustively — the distributed path is the
scale route, and window-bounded re-ranking (``rescore``) is the latency
route when the first pass must stay WAND.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Union

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from miru_spark.functions import bm25
from miru_spark.index.reader import IndexReader
from miru_spark.plans.search import (
    _chunk_bounds,
    _contribs,
    _drop_tombstones,
    _keep_chunks_by_key,
    _kth_largest,
    _live,
    _margin,
    _pos_view,
    _postings_with_df,
    _ranked,
    _sum_by_doc,
    _top_k,
    _where_ids,
    phrase_survivor_keys,
    phrase_verified_docs_df,
    survivor_docs,
)

# ---------------------------------------------------------------------------
# AST


@dataclass(frozen=True)
class BTerm:
    term: str
    boost: float = 1.0


@dataclass(frozen=True)
class BPhrase:
    tokens: tuple[str, ...]


@dataclass(frozen=True)
class BNot:
    child: "Node"


@dataclass(frozen=True)
class BAnd:
    children: tuple["Node", ...]  # BNot children = must_not clauses


@dataclass(frozen=True)
class BOr:
    children: tuple["Node", ...]


Node = Union[BTerm, BPhrase, BNot, BAnd, BOr]

_OPS = ("AND", "OR", "NOT")


# ---------------------------------------------------------------------------
# Lexer + parser


def _lex(query: str) -> list[str]:
    """Split into words, '(' / ')' and quoted-phrase tokens (quotes kept)."""
    out: list[str] = []
    i, n = 0, len(query)
    while i < n:
        c = query[i]
        if c.isspace():
            i += 1
        elif c in "()":
            out.append(c)
            i += 1
        elif c == '"':
            j = query.find('"', i + 1)
            if j < 0:
                raise ValueError("unterminated quote in query")
            out.append(query[i : j + 1])
            i = j + 1
        else:
            j = i
            while j < n and not query[j].isspace() and query[j] not in '()"':
                j += 1
            out.append(query[i:j])
            i = j
    return out


class _TokenStream:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t


def _leaf(tok: str) -> Node:
    if tok.startswith('"'):
        if not tok.endswith('"') or len(tok) < 3:
            raise ValueError(f"malformed phrase token {tok!r}")
        toks = tuple(tok[1:-1].split())
        if not toks:
            raise ValueError("empty phrase")
        return BPhrase(toks)
    # wildcard/fuzzy/synonym/slop tokens are FLAT-grammar rewrites (they
    # expand through the term dictionary); inside a tree they would silently
    # become literal terms that match nothing — reject loudly instead
    if "*" in tok or "|" in tok or tok.rstrip("0123456789").endswith("~"):
        raise ValueError(
            f"{tok!r}: wildcard/fuzzy/synonym/slop tokens are not supported "
            "inside boolean trees; use the flat grammar (search_prefix/"
            "search_fuzzy/search_synonym/search_near) or expand the term "
            "list first"
        )
    base, sep, w = tok.rpartition("^")
    if sep and base:
        try:
            boost = float(w)
        except ValueError:
            return BTerm(tok)
        if not boost > 0:
            raise ValueError(f"boost must be positive in {tok!r}")
        return BTerm(base, boost)
    return BTerm(tok)


def _parse_primary(ts: _TokenStream) -> Node:
    t = ts.peek()
    if t is None:
        raise ValueError("query ended where a term was expected")
    if t == "(":
        ts.next()
        node = _parse_or(ts)
        if ts.peek() != ")":
            raise ValueError("unbalanced parentheses")
        ts.next()
        return node
    if t == ")":
        raise ValueError("unexpected ')'")
    if t in _OPS:
        raise ValueError(f"operator {t} where a term was expected")
    return _leaf(ts.next())


def _parse_unary(ts: _TokenStream) -> Node:
    if ts.peek() == "NOT":
        ts.next()
        return BNot(_parse_unary(ts))
    return _parse_primary(ts)


def _parse_and(ts: _TokenStream) -> Node:
    items = [_parse_unary(ts)]
    while True:
        p = ts.peek()
        if p == "AND":
            ts.next()
            items.append(_parse_unary(ts))
        elif p is None or p in (")", "OR"):
            break
        else:  # adjacency = implicit AND (same default as the flat grammar)
            items.append(_parse_unary(ts))
    if len(items) == 1 and not isinstance(items[0], BNot):
        return items[0]
    return BAnd(tuple(items))


def _parse_or(ts: _TokenStream) -> Node:
    items = [_parse_and(ts)]
    while ts.peek() == "OR":
        ts.next()
        items.append(_parse_and(ts))
    return items[0] if len(items) == 1 else BOr(tuple(items))


def _validate(node: Node, under_and: bool = False) -> None:
    if isinstance(node, BNot):
        if not under_and:
            raise ValueError(
                "NOT is only valid inside an AND scope with at least one "
                "positive clause (Lucene must_not semantics); "
                "'a OR NOT b' / a pure-negative query needs the full doc set"
            )
        _validate(node.child, under_and=False)
    elif isinstance(node, BAnd):
        if not any(not isinstance(c, BNot) for c in node.children):
            raise ValueError("AND scope needs at least one positive clause")
        for c in node.children:
            _validate(c, under_and=True)
    elif isinstance(node, BOr):
        for c in node.children:
            _validate(c, under_and=False)
    elif isinstance(node, (BTerm, BPhrase)):
        pass
    else:  # pragma: no cover
        raise TypeError(f"unknown node {node!r}")


def parse_bool(query: str) -> Node:
    """Parse ``(a OR b^2) AND NOT (c "d e")`` into a validated tree.

    Parentheses are ALWAYS structural (Lucene QueryParser semantics): a
    corpus term that literally contains ``(``/``)`` under the whitespace
    tokenizer cannot be queried through this grammar — call
    ``search_topk(reader, ["foo(bar)"])`` directly for literal-character
    terms. Wildcard/fuzzy/synonym tokens are flat-grammar rewrites and are
    rejected here rather than silently matched as literals."""
    ts = _TokenStream(_lex(query))
    if ts.peek() is None:
        raise ValueError("empty query")
    node = _parse_or(ts)
    if ts.peek() is not None:
        raise ValueError(f"trailing token {ts.peek()!r}")
    _validate(node)
    return node


def _as_node(q: "Node | str") -> Node:
    if isinstance(q, str):
        return parse_bool(q)
    _validate(q)
    return q


def _leaf_terms(node: Node) -> tuple[list[str], list[tuple[str, ...]]]:
    """(unique terms incl. phrase members and NOT operands, unique phrases),
    first-appearance order."""
    terms: dict[str, None] = {}
    phrases: dict[tuple[str, ...], None] = {}

    def walk(n: Node) -> None:
        if isinstance(n, BTerm):
            terms.setdefault(n.term)
        elif isinstance(n, BPhrase):
            phrases.setdefault(n.tokens)
            for t in n.tokens:
                terms.setdefault(t)
        elif isinstance(n, BNot):
            walk(n.child)
        else:
            for c in n.children:
                walk(c)

    walk(node)
    return list(terms), list(phrases)


# ---------------------------------------------------------------------------
# Driver evaluation (vectorized numpy set algebra)


class _Env:
    """Per-query decode cache: each leaf term is fetched and decoded ONCE
    no matter how often it appears in the tree."""

    def __init__(self, reader: IndexReader, node: Node):
        self.reader = reader
        terms, phrases = _leaf_terms(node)
        need_pos = bool(phrases)
        if need_pos and not reader.positions:
            raise ValueError(
                "phrase clauses need a positional index "
                "(build_index(positions=True))"
            )
        self.tps = reader.fetch_terms(terms, with_positions=need_pos)
        self._docs: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        self._pos: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        self._phrase: dict[tuple[str, ...], tuple[np.ndarray, np.ndarray]] = {}
        self.need_pos = need_pos

    def term_docs(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_ids, unboosted BM25 contributions)."""
        if term not in self._docs:
            tp = self.tps.get(term)
            if tp is None:
                e = np.empty(0, dtype=np.int64)
                self._docs[term] = (e, np.empty(0))
            else:
                d = self.reader.decode_term(tp, with_positions=self.need_pos)
                ids, tfs, dls = d[:3]
                self._docs[term] = (
                    ids,
                    bm25.score_np(tfs, tp.idf, dls, self.reader.avgdl),
                )
                if self.need_pos:
                    self._pos[term] = _pos_view(d)
        return self._docs[term]

    def phrase_docs(self, tokens: tuple[str, ...]) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc_ids with the exact consecutive-token phrase, summed
        member-term BM25 scores) — the same per-offset key-intersection
        verify as :func:`search_phrase`."""
        if tokens in self._phrase:
            return self._phrase[tokens]
        uterms = list(dict.fromkeys(tokens))
        empty = (np.empty(0, dtype=np.int64), np.empty(0))
        for t in uterms:
            self.term_docs(t)  # populate _pos
            if t not in self.tps:
                self._phrase[tokens] = empty
                return empty
        cand = self._pos[uterms[0]][0]
        for t in uterms[1:]:
            cand = np.intersect1d(cand, self._pos[t][0], assume_unique=True)
        if cand.size == 0:
            self._phrase[tokens] = empty
            return empty
        survivors = phrase_survivor_keys(self._pos.__getitem__, tokens, cand)
        if survivors.size == 0:
            self._phrase[tokens] = empty
            return empty
        verified = survivor_docs(survivors)
        scores = np.zeros(verified.size)
        for t in uterms:
            ids, contribs = self.term_docs(t)
            idx = np.searchsorted(ids, verified)
            scores += contribs[idx]
        self._phrase[tokens] = (verified, scores)
        return self._phrase[tokens]


def _eval(node: Node, env: _Env) -> tuple[np.ndarray, np.ndarray]:
    """-> (sorted matching doc_ids, aligned Lucene-semantics scores)."""
    if isinstance(node, BTerm):
        ids, contribs = env.term_docs(node.term)
        return ids, contribs * node.boost if node.boost != 1.0 else contribs
    if isinstance(node, BPhrase):
        return env.phrase_docs(node.tokens)
    if isinstance(node, BOr):
        parts = [_eval(c, env) for c in node.children]
        uids, agg, _ = _sum_by_doc(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )
        return uids, agg
    if isinstance(node, BAnd):
        pos = [c for c in node.children if not isinstance(c, BNot)]
        neg = [c.child for c in node.children if isinstance(c, BNot)]
        parts = [_eval(c, env) for c in pos]
        ids = parts[0][0]
        for p in parts[1:]:
            ids = np.intersect1d(ids, p[0], assume_unique=True)
            if ids.size == 0:
                break
        for n in neg:
            if ids.size == 0:
                break
            nids, _ = _eval(n, env)
            if nids.size:
                ids = ids[~np.isin(ids, nids, assume_unique=True)]
        scores = np.zeros(ids.size)
        if ids.size:
            for cids, cscores in parts:
                idx = np.searchsorted(cids, ids)
                scores += cscores[idx]
        return ids, scores
    raise TypeError(f"cannot evaluate {node!r}")  # BNot handled by BAnd


DISTRIBUTED_CUTOFF = 1 << 23
"""Summed leaf df (positive AND NOT-side terms — the driver decodes both)
above which ``strategy="auto"`` serves the tree from
:func:`search_bool_distributed` instead of the driver, mirroring the
WAND/exhaustive hybrid's postings-volume routing."""

LAST_ROUTE = "driver"
"""Path taken by the last ``search_bool(strategy="auto")`` call."""


def search_bool(
    reader: IndexReader,
    query: "Node | str",
    k: int = 10,
    where: dict | None = None,
    round_digits: int | None = 6,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Serve a nested boolean query from the binary index (driver path).

    Every leaf term decodes once; the tree evaluates as numpy sorted-set
    algebra; scoring is Lucene BooleanQuery semantics (matching clauses
    sum, non-matching subtrees contribute zero). ``where`` composes the
    usual metadata filter at the root. Tombstoned docs never match.

    ``strategy``: ``"auto"`` (default) stays driver-side below
    :data:`DISTRIBUTED_CUTOFF` summed leaf df and routes to
    :func:`search_bool_distributed` above it (collecting the k-row
    result — identical semantics, where= included); ``"driver"`` /
    ``"distributed"`` force a path.
    """
    global LAST_ROUTE
    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    node = _as_node(query)
    if k <= 0:
        return []
    if strategy == "distributed" or (
        strategy == "auto"
        and sum(reader.term_dfs(_leaf_terms(node)[0]).values())
        > DISTRIBUTED_CUTOFF
    ):
        LAST_ROUTE = "distributed"
        rows = search_bool_distributed(
            reader, node, k=k, round_digits=round_digits, where=where
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    LAST_ROUTE = "driver"
    env = _Env(reader, node)
    ids, scores = _eval(node, env)
    if ids.size == 0:
        return []
    keep = np.isin(ids, _live(reader, ids, where), assume_unique=True)
    return _top_k(ids[keep], scores[keep], k, round_digits)


# ---------------------------------------------------------------------------
# Distributed evaluation (Catalyst expressions over one pivoted hash agg)

def _match_col(
    node: Node, col: dict[str, str], pcol: dict[tuple, str] | None = None
) -> Column:
    if isinstance(node, BTerm):
        return F.col(col[node.term]).isNotNull()
    if isinstance(node, BPhrase):
        return F.col(pcol[node.tokens]).isNotNull()
    if isinstance(node, BAnd):
        out = None
        for c in node.children:
            m = (
                ~_match_col(c.child, col, pcol)
                if isinstance(c, BNot)
                else _match_col(c, col, pcol)
            )
            out = m if out is None else (out & m)
        return out
    if isinstance(node, BOr):
        out = None
        for c in node.children:
            m = _match_col(c, col, pcol)
            out = m if out is None else (out | m)
        return out
    raise TypeError(f"unexpected node in distributed plan: {node!r}")


def _score_col(
    node: Node, col: dict[str, str], pcol: dict[tuple, str] | None = None
) -> Column:
    if isinstance(node, BTerm):
        c = F.coalesce(F.col(col[node.term]), F.lit(0.0))
        return c * F.lit(node.boost) if node.boost != 1.0 else c
    if isinstance(node, BPhrase):
        # matched phrase scores the sum of its member-term contributions
        # (driver twin: _Env.phrase_docs); unmatched contributes zero
        total = None
        for t in dict.fromkeys(node.tokens):
            c = F.coalesce(F.col(col[t]), F.lit(0.0))
            total = c if total is None else (total + c)
        return F.when(_match_col(node, col, pcol), total).otherwise(F.lit(0.0))
    if isinstance(node, BAnd):
        pos = [c for c in node.children if not isinstance(c, BNot)]
        total = None
        for c in pos:
            s = _score_col(c, col, pcol)
            total = s if total is None else (total + s)
        return F.when(_match_col(node, col, pcol), total).otherwise(F.lit(0.0))
    if isinstance(node, BOr):
        total = None
        for c in node.children:
            s = _score_col(c, col, pcol)
            total = s if total is None else (total + s)
        return total  # each child already zeroes itself when unmatched
    raise TypeError(f"unexpected node in distributed plan: {node!r}")


#: last _tree_blockmax_prune stats from search_bool_distributed
LAST_TREE_PRUNE_STATS: dict = {}
#: below this summed-df volume the decode is cheaper than the metadata job
_TREE_PRUNE_MIN_POSTINGS = 1_000_000


def _classify_leaves(node: Node):
    """(positive {term: max boost}, NOT-side term set, has_not, min boost)."""
    pos: dict[str, float] = {}
    neg: set[str] = set()
    has_not = False
    min_boost = 1.0

    def walk(n: Node, under_not: bool) -> None:
        nonlocal has_not, min_boost
        if isinstance(n, BTerm):
            min_boost = min(min_boost, n.boost)
            if under_not:
                neg.add(n.term)
            else:
                pos[n.term] = max(pos.get(n.term, 0.0), n.boost)
        elif isinstance(n, BPhrase):
            if under_not:
                neg.update(n.tokens)
            else:
                for t in n.tokens:
                    pos.setdefault(t, 1.0)
        elif isinstance(n, BNot):
            has_not = True
            walk(n.child, True)
        else:
            for c in n.children:
                walk(c, under_not)

    walk(node, False)
    return pos, neg, has_not, min_boost


def _sufficient_terms(node: Node) -> set[str]:
    """Terms t such that a doc containing ONLY t still matches the tree.
    Valid only for NOT-free, phrase-free trees (the caller gates)."""
    if isinstance(node, BTerm):
        return {node.term}
    if isinstance(node, BAnd):
        outs = [_sufficient_terms(c) for c in node.children]
        return set.intersection(*outs) if outs else set()
    if isinstance(node, BOr):
        return set.union(*[_sufficient_terms(c) for c in node.children])
    return set()


def _tree_blockmax_prune(
    chunks: DataFrame,
    node: Node,
    k: int | None,
    n_docs: float,
    avgdl: float,
    round_digits: int | None,
    allow_theta: bool,
) -> tuple[DataFrame, dict]:
    """Windowed block-max chunk skipping for boolean trees — the Lucene
    BMM generalization the flat disjunctive pruner (search._blockmax_prune)
    cannot express. Two stacked, independently sound criteria decide per
    chunk of each positive-only leaf term, evaluated on the breakpoint
    grid of the positive terms' chunk edges (plans/chunkprune.py):

    * FEASIBILITY / liveness — a chunk of term t is needed at doc range r
      only if t's branch can match there: every AND ancestor's positive
      siblings must have coverage at r (a doc in r lacking a required
      term fails the conjunction with or without t's row). Dropping a
      non-live chunk changes NO doc's match value or score: match
      expressions are monotone-positive in positive-term presence, the
      branch is false either way, and _score_col zeroes unmatched
      clauses — so this criterion is sound even for k=None / where /
      tombstone paths and for trees with NOT clauses (NOT children are
      treated as always-satisfiable, an over-estimate; NOT-side terms
      themselves are NEVER pruned, since removing their rows could flip
      ``~isNotNull`` false->true).
    * THETA (only when ``allow_theta`` and the tree is NOT-free with
      non-negative boosts) — theta = max over SUFFICIENT leaves (a term
      that alone satisfies the tree) of boost * the term's k-th chunk
      lower bound: k distinct docs match via that leaf and score >= it.
      A chunk then survives only where the tree's windowed upper bound
      reaches theta - margin: root_ub(r) evaluates the tree bottom-up on
      per-term covering UBs (AND sums its positive children where all
      are feasible else 0, OR sums its self-zeroing children), so any
      doc's true score in r is <= root_ub(r); every true top-k doc keeps
      all its chunks (root_ub(r_d) >= its score >= theta - margin at a
      live range) and is scored exactly, while dropped docs score (and
      display, if they still match) strictly below theta - margin.
    """
    from miru_spark.plans.chunkprune import interval_values, range_max

    pos, negset, has_not, min_boost = _classify_leaves(node)
    prunable = [t for t in pos if t not in negset]
    stats: dict = {"pruned": False, "theta": 0.0, "bound": "tree-bmm"}
    if not prunable or min_boost < 0.0:
        return chunks, stats
    _, _, arrays = _chunk_bounds(chunks, n_docs, avgdl)
    if arrays is None or arrays[0].size == 0:
        return chunks, stats
    terms_a, lo_a, hi_a, ub_a, lb_a = arrays
    pos_mask = np.isin(terms_a, np.array(sorted(pos), dtype=object))
    if not pos_mask.any():
        return chunks, stats
    P = np.unique(np.concatenate([lo_a[pos_mask], hi_a[pos_mask] + 1]))
    m = P.size
    cov: dict[str, np.ndarray] = {}
    present: dict[str, np.ndarray] = {}
    for t in pos:
        tm = terms_a == t
        cov[t] = (
            interval_values(P, lo_a[tm], hi_a[tm], ub_a[tm])
            if tm.any()
            else np.zeros(m)
        )
        present[t] = cov[t] > 0.0

    feas_of: dict[int, np.ndarray] = {}

    def ev(n: Node) -> tuple[np.ndarray, np.ndarray]:
        """bottom-up (feasible[m], score-UB[m]); UB self-zeroes where the
        node cannot match, mirroring _score_col's otherwise(0)."""
        if isinstance(n, BTerm):
            fe, u = present[n.term], cov[n.term]
            u = u * n.boost if n.boost != 1.0 else u
        elif isinstance(n, BAnd):
            fe, u = None, None
            for c in n.children:
                if isinstance(c, BNot):
                    continue  # over-estimate: NOT never blocks feasibility
                f, cu = ev(c)
                fe = f if fe is None else (fe & f)
                u = cu if u is None else (u + cu)
            u = np.where(fe, u, 0.0)
        elif isinstance(n, BOr):
            fe, u = None, None
            for c in n.children:
                f, cu = ev(c)
                fe = f if fe is None else (fe | f)
                u = cu if u is None else (u + cu)
        else:  # pragma: no cover — phrases gated out by the caller
            raise TypeError(f"unprunable node {n!r}")
        feas_of[id(n)] = fe
        return fe, u

    _, root_ub = ev(node)

    live: dict[str, np.ndarray] = {t: np.zeros(m, dtype=bool) for t in prunable}

    def down(n: Node, live_in: np.ndarray) -> None:
        if isinstance(n, BTerm):
            if n.term in live:
                live[n.term] |= live_in & present[n.term]
        elif isinstance(n, BAnd):
            nxt = live_in & feas_of[id(n)]
            for c in n.children:
                if not isinstance(c, BNot):
                    down(c, nxt)
        elif isinstance(n, BOr):
            for c in n.children:
                down(c, live_in)

    down(node, np.ones(m, dtype=bool))

    theta = 0.0
    if allow_theta and not has_not and k is not None:
        suff = _sufficient_terms(node) & set(prunable)
        kth = _kth_largest(terms_a, lb_a, k)
        theta = max((pos[t] * v for t, v in kth.items() if t in suff), default=0.0)
    stats["theta"] = theta
    thr = theta - _margin(round_digits, theta) if theta > 0.0 else 0.0

    keep = np.ones(terms_a.size, dtype=bool)
    for t in prunable:
        tm_idx = np.flatnonzero(terms_a == t)
        if tm_idx.size == 0:
            continue
        if theta > 0.0:
            V = np.where(live[t], root_ub, -np.inf)
            win = range_max(
                P, V, lo_a[tm_idx], hi_a[tm_idx],
                np.zeros(tm_idx.size, dtype=np.int64),
            )
            keep[tm_idx] = win >= thr
        else:  # feasibility-only: keep iff the leaf is live anywhere
            V = np.where(live[t], 1.0, -np.inf)
            win = range_max(
                P, V, lo_a[tm_idx], hi_a[tm_idx],
                np.zeros(tm_idx.size, dtype=np.int64),
            )
            keep[tm_idx] = win > 0.0
    stats["chunks_total"] = int(terms_a.size)
    stats["chunks_kept"] = int(keep.sum())
    if keep.all():
        return chunks, stats
    stats["pruned"] = True
    return _keep_chunks_by_key(chunks, terms_a, lo_a, keep), stats


def search_bool_distributed(
    reader: IndexReader,
    query: "Node | str",
    k: int | None = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
    prune_gate: int | None = None,
) -> DataFrame:
    """The cluster-scale twin of :func:`search_bool`.

    Plan: ONE pruned postings scan covering every leaf term (positive and
    negative) -> mapInArrow decode+score to (doc_id, term, contrib) -> one
    hash aggregation that pivots each leaf term into its own column
    (``sum(when(term=t, contrib))`` — exactly one contribution row exists
    per (doc_id, term), and the pivot is map-side-combined like any hash
    agg) -> the boolean tree compiled to Catalyst boolean/CASE expressions
    over those columns (whole-stage codegen, no Python) ->
    TakeOrderedAndProject. Docs containing only NOT-side terms pivot to
    rows whose match expression is false and are filtered before the
    top-k; they never shuffle twice.

    Phrase leaves compose via :func:`search.phrase_verified_docs_df`: each
    unique phrase's per-offset occurrence join yields its verified doc set,
    left-joined onto the pivot as a boolean column the tree expressions
    read like any term column (match = verified, score = member-term
    contribution sum — the driver twin's semantics exactly). Needs a
    positional index when phrases are present.
    """
    node = _as_node(query)
    terms, phrases = _leaf_terms(node)
    n_docs = float(reader.n_docs)
    avgdl = float(reader.avgdl)
    chunks, term_dfs = _postings_with_df(reader, terms)

    # windowed tree block-max prune (_tree_blockmax_prune): feasibility/
    # liveness pruning is unconditionally sound; the theta criterion is
    # gated exactly like the flat path (top-k only, no where, no
    # tombstones — those remove docs post-agg). Phrase trees skip the
    # prune: the positional verification join has its own scan and the
    # pivot-side bounds don't model it.
    global LAST_TREE_PRUNE_STATS
    LAST_TREE_PRUNE_STATS = {}
    if not phrases:
        gate = _TREE_PRUNE_MIN_POSTINGS if prune_gate is None else prune_gate
        if term_dfs and sum(term_dfs.values()) >= gate:
            tomb = reader.tombstones
            allow_theta = (
                k is not None
                and k >= 1  # k < 1 ranks nothing: no k-th score to prune at
                and where is None
                and (tomb is None or tomb.size == 0)
            )
            chunks, LAST_TREE_PRUNE_STATS = _tree_blockmax_prune(
                chunks, node, k, n_docs, avgdl, round_digits, allow_theta
            )

    scored = _contribs(chunks, n_docs, avgdl, emit_term=True)
    col = {t: f"c{i}" for i, t in enumerate(terms)}
    pivoted = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("contrib"))).alias(col[t])
            for t in terms
        ]
    )
    pcol: dict[tuple, str] = {p: f"pv{i}" for i, p in enumerate(phrases)}
    for p in phrases:
        verified = phrase_verified_docs_df(reader, p)
        if verified is None:  # a phrase term is absent: no doc matches it
            pivoted = pivoted.withColumn(pcol[p], F.lit(None).cast("boolean"))
        else:
            pivoted = pivoted.join(
                verified.withColumn(pcol[p], F.lit(True)), "doc_id", "left"
            )
    out = pivoted.filter(_match_col(node, col, pcol))
    if where:
        out = out.join(_where_ids(reader, where), "doc_id", "left_semi")
    out = _drop_tombstones(reader, out)
    return _ranked(out, k, round_digits, score=_score_col(node, col, pcol))


# ---------------------------------------------------------------------------
# DuckDB oracle (generated from the same AST)


def _sql_quote(t: str) -> str:
    return "'" + t.replace("'", "''") + "'"


def _match_sql(
    node: Node, col: dict[str, str], pcol: dict[tuple, str] | None = None
) -> str:
    if isinstance(node, BTerm):
        return f"{col[node.term]} IS NOT NULL"
    if isinstance(node, BPhrase):
        return f"{pcol[node.tokens]} IS NOT NULL"
    if isinstance(node, BAnd):
        parts = []
        for c in node.children:
            if isinstance(c, BNot):
                parts.append(f"NOT ({_match_sql(c.child, col, pcol)})")
            else:
                parts.append(_match_sql(c, col, pcol))
        return "(" + " AND ".join(parts) + ")"
    if isinstance(node, BOr):
        return (
            "("
            + " OR ".join(_match_sql(c, col, pcol) for c in node.children)
            + ")"
        )
    raise TypeError(f"unexpected node in SQL oracle: {node!r}")


def _score_sql(
    node: Node, col: dict[str, str], pcol: dict[tuple, str] | None = None
) -> str:
    if isinstance(node, BTerm):
        base = f"COALESCE({col[node.term]}, 0)"
        return f"{node.boost!r} * {base}" if node.boost != 1.0 else base
    if isinstance(node, BPhrase):
        total = " + ".join(
            f"COALESCE({col[t]}, 0)" for t in dict.fromkeys(node.tokens)
        )
        return (
            f"CASE WHEN {_match_sql(node, col, pcol)} THEN ({total}) ELSE 0 END"
        )
    if isinstance(node, BAnd):
        pos = [c for c in node.children if not isinstance(c, BNot)]
        total = " + ".join(_score_sql(c, col, pcol) for c in pos)
        return f"CASE WHEN {_match_sql(node, col, pcol)} THEN ({total}) ELSE 0 END"
    if isinstance(node, BOr):
        return (
            "("
            + " + ".join(_score_sql(c, col, pcol) for c in node.children)
            + ")"
        )
    raise TypeError(f"unexpected node in SQL oracle: {node!r}")


def bool_oracle_sql(
    query: "Node | str",
    k: int = 10,
    round_digits: int = 6,
    tok_sql: str | None = None,
    meta_where: str | None = None,
) -> str:
    """DuckDB twin of :func:`search_bool` / :func:`search_bool_distributed`,
    generated from the same AST: per-term BM25 contributions pivot into
    one column per leaf term (phrase leaves add a verified-docs flag
    column each), then the tree renders as boolean/CASE SQL —
    structurally identical to the Catalyst expressions the distributed
    path compiles."""
    from miru_spark.plans.relational import DEFAULT_TOK_SQL

    node = _as_node(query)
    terms, phrases = _leaf_terms(node)
    col = {t: f"c{i}" for i, t in enumerate(terms)}
    pcol = {p: f"pv{i}" for i, p in enumerate(phrases)}
    wheres = [_match_sql(node, col, pcol)]
    if meta_where:
        wheres.append(
            f"doc_id IN (SELECT doc_id FROM documents WHERE {meta_where})"
        )
    return f"""
{_pivot_ctes(terms, col, tok_sql or DEFAULT_TOK_SQL, phrases, pcol)}
SELECT doc_id, round({_score_sql(node, col, pcol)}, {round_digits}) AS score
FROM p WHERE {" AND ".join(wheres)}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def _phrase_flag_cte(tokens: tuple[str, ...], name: str, flag: str) -> str:
    """One phrase's verified-doc CTE: substring probe over the space-
    normalized text (the same convention as bm25_phrase_oracle_sql —
    whitespace tokenization only, which is what the registered driver
    entries use)."""
    needle = _sql_quote(" " + " ".join(tokens) + " ")
    return (
        f"{name} AS (SELECT doc_id, TRUE AS {flag} FROM documents\n"
        f"  WHERE contains(' ' || array_to_string(list_filter("
        f"string_split(text, ' '), t -> t <> ''), ' ') || ' ', {needle}))"
    )


def _pivot_ctes(
    terms: list[str],
    col: dict[str, str],
    tok_sql: str,
    phrases: list[tuple[str, ...]] | None = None,
    pcol: dict[tuple, str] | None = None,
) -> str:
    """Shared CTE block for the tree-family oracles: the repo-wide BM25
    base CTEs + per-term contributions pivoted into one column per leaf;
    phrase leaves add one verified-docs CTE each, left-joined onto the
    pivot (the SQL mirror of the distributed plan's phrase joins)."""
    from miru_spark.plans.relational import BM25_CONTRIB_EXPR, bm25_base_ctes

    values = ",".join(f"({_sql_quote(t)})" for t in terms)
    pivots = ",\n        ".join(
        f"MAX(CASE WHEN term={_sql_quote(t)} THEN contrib END) AS {col[t]}"
        for t in terms
    )
    base = f"""WITH {bm25_base_ctes(tok_sql)},
q(term) AS (VALUES {values}),
c AS (SELECT tf.doc_id, tf.term,
        {BM25_CONTRIB_EXPR} AS contrib
      FROM tf JOIN q USING(term) JOIN df USING(term) JOIN dl USING(doc_id), stats)"""
    if not phrases:
        return base + f""",
p AS (SELECT doc_id,
        {pivots}
      FROM c GROUP BY doc_id)"""
    ph_ctes = ",\n".join(
        _phrase_flag_cte(p, f"ph{i}", pcol[p]) for i, p in enumerate(phrases)
    )
    ph_cols = ", ".join(pcol[p] for p in phrases)
    ph_joins = " ".join(
        f"LEFT JOIN ph{i} USING(doc_id)" for i in range(len(phrases))
    )
    return base + f""",
p0 AS (SELECT doc_id,
        {pivots}
      FROM c GROUP BY doc_id),
{ph_ctes},
p AS (SELECT p0.*, {ph_cols} FROM p0 {ph_joins})"""


# ---------------------------------------------------------------------------
# constant_score + boosting (ES constant_score / boosting queries)


def search_constant_score(
    reader: IndexReader,
    query: "Node | str",
    boost: float = 1.0,
    k: int = 10,
    where: dict | None = None,
) -> list[tuple[int, float]]:
    """ES ``constant_score`` / Lucene ``ConstantScoreQuery``: every doc
    matching the (arbitrary boolean-tree) filter scores exactly ``boost``
    — the query runs in filter context, no BM25 is computed or cached, and
    ties break on doc_id so the result is deterministic. The classic use
    is filter-only retrieval where relevance ordering is meaningless."""
    node = _as_node(query)
    if k <= 0:
        return []
    env = _Env(reader, node)
    ids, _ = _eval(node, env)
    return [(int(d), float(boost)) for d in _live(reader, ids, where)[:k]]


def search_boosting(
    reader: IndexReader,
    positive: "Node | str",
    negative: "Node | str",
    negative_boost: float = 0.5,
    k: int = 10,
    where: dict | None = None,
    round_digits: int | None = 6,
) -> list[tuple[int, float]]:
    """ES ``boosting`` query: docs matching ``positive`` score BM25 as
    usual, but those ALSO matching ``negative`` are demoted to
    ``score * negative_boost`` instead of being excluded — the soft
    counterpart of boolean NOT (Lucene's original BoostingQuery). The
    negative side evaluates in filter context (its scores are discarded),
    so it can be any boolean tree, including one that would be rejected as
    a scoring clause."""
    if not (0 <= negative_boost <= 1):
        raise ValueError("negative_boost must be in [0, 1]")
    pos = _as_node(positive)
    neg = _as_node(negative)
    if k <= 0:
        return []
    env = _Env(reader, pos)
    ids, scores = _eval(pos, env)
    if ids.size == 0:
        return []
    env_n = _Env(reader, neg)
    nids, _ = _eval(neg, env_n)
    if nids.size:
        demote = np.isin(ids, nids, assume_unique=True)
        scores = np.where(demote, scores * negative_boost, scores)
    keep = np.isin(ids, _live(reader, ids, where), assume_unique=True)
    return _top_k(ids[keep], scores[keep], k, round_digits)


def boosting_oracle_sql(
    positive: "Node | str",
    negative: "Node | str",
    negative_boost: float = 0.5,
    k: int = 10,
    round_digits: int = 6,
    tok_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`search_boosting`, generated from both ASTs:
    one pivot over the union of the two trees' leaf terms, positive tree
    for match+score, negative tree folded in as a demotion CASE."""
    from miru_spark.plans.relational import DEFAULT_TOK_SQL

    pos = _as_node(positive)
    neg = _as_node(negative)
    pterms, pph = _leaf_terms(pos)
    nterms, nph = _leaf_terms(neg)
    terms = list(dict.fromkeys(pterms + nterms))
    phrases = list(dict.fromkeys(pph + nph))
    col = {t: f"c{i}" for i, t in enumerate(terms)}
    pcol = {p: f"pv{i}" for i, p in enumerate(phrases)}
    score = (
        f"({_score_sql(pos, col, pcol)}) * "
        f"(CASE WHEN {_match_sql(neg, col, pcol)} "
        f"THEN {negative_boost!r} ELSE 1 END)"
    )
    return f"""
{_pivot_ctes(terms, col, tok_sql or DEFAULT_TOK_SQL, phrases, pcol)}
SELECT doc_id, round({score}, {round_digits}) AS score
FROM p WHERE {_match_sql(pos, col, pcol)}
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def constant_score_oracle_sql(
    query: "Node | str",
    boost: float = 1.0,
    k: int = 10,
    tok_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`search_constant_score`: the tree in pure
    filter context — no BM25 CTEs at all, just per-term presence."""
    from miru_spark.plans.relational import DEFAULT_TOK_SQL

    node = _as_node(query)
    terms, phrases = _leaf_terms(node)
    tok_sql = tok_sql or DEFAULT_TOK_SQL
    col = {t: f"c{i}" for i, t in enumerate(terms)}
    pcol = {p: f"pv{i}" for i, p in enumerate(phrases)}
    values = ",".join(f"({_sql_quote(t)})" for t in terms)
    pivots = ",\n        ".join(
        f"MAX(CASE WHEN term={_sql_quote(t)} THEN 1 END) AS {col[t]}"
        for t in terms
    )
    if phrases:
        ph_ctes = ",\n".join(
            _phrase_flag_cte(p, f"ph{i}", pcol[p])
            for i, p in enumerate(phrases)
        )
        ph_cols = ", ".join(pcol[p] for p in phrases)
        ph_joins = " ".join(
            f"LEFT JOIN ph{i} USING(doc_id)" for i in range(len(phrases))
        )
        pivot_block = f"""p0 AS (SELECT doc_id,
        {pivots}
      FROM tok JOIN q USING(term) GROUP BY doc_id),
{ph_ctes},
p AS (SELECT p0.*, {ph_cols} FROM p0 {ph_joins})"""
    else:
        pivot_block = f"""p AS (SELECT doc_id,
        {pivots}
      FROM tok JOIN q USING(term) GROUP BY doc_id)"""
    return f"""
WITH tok AS ({tok_sql}),
q(term) AS (VALUES {values}),
{pivot_block}
SELECT doc_id, {float(boost)!r} AS score
FROM p WHERE {_match_sql(node, col, pcol)}
ORDER BY doc_id LIMIT {k}
""".strip()
