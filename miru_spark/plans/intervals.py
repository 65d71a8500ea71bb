"""A84 — interval queries (Lucene ``IntervalQuery`` / ES ``intervals``).

Structured proximity: a tree of interval sources — terms, exact phrases,
``any_of`` alternatives, ``all_of`` combinations with ``ordered`` and
``max_gaps`` constraints — matched against the positional index. This is
the query ES exposes as ``intervals`` (and Lucene as the
``Intervals.term/phrase/or/ordered/unordered/maxgaps`` combinators): the
structured way to say "``join`` followed within 2 gaps by either ``hash``
or the phrase ``tree node``".

Matching semantics (pinned): a doc matches a node iff there EXISTS an
assignment of one interval per child satisfying the node's constraints —

* term ``t``            -> intervals [p, p] at every occurrence
* phrase ``t0 .. tn``   -> [p, p+n] at every consecutive occurrence
* any_of(c1..cn)        -> any child interval
* all_of(c1..cn, ordered, max_gaps) -> child intervals i1..in with
  ``s(i_{j+1}) > e(i_j)`` when ordered (strict, non-overlapping, in query
  order — Lucene's ORDERED), any arrangement (overlap allowed — Lucene's
  UNORDERED) otherwise; writing ``S = min s, E = max e``, the gap count
  ``(E - S + 1) - sum(widths)`` must be <= max_gaps (unbounded when None).

Lucene iterates MINIMAL intervals lazily (Vigna 2011) and computes gaps
from the specific assignment its iterators hold; the existential semantics
above is deliberately simpler and is what BOTH the evaluator and the SQL
oracle implement, so the two can never drift. The two semantics agree on
every tree without ``max_gaps`` (existence of a satisfying assignment is
containment-monotone) and on ``all_of`` trees whose children are terms and
phrases (fixed-width leaf intervals form antichains — there is nothing for
minimality to drop). They can diverge only for a ``max_gaps`` constraint
over NESTED variable-width children: a wider same-source child interval
can fill the span and pass a gap budget that every minimal interval
misses — this engine matches there, minimal-interval Lucene does not. The
divergence corner is pinned by a regression test rather than hidden.
(Lucene's containing/not_containing filters, which observe minimality
directly, are out of scope.)

Ranking (pinned, the phrase/near house convention): matched docs rank by
the disjunctive BM25 sum over the tree's DISTINCT leaf terms present in
the doc, so scores are reproducible in ANSI SQL; Lucene's own
IntervalQuery scoring (sloppy-freq over minimal interval widths) is not
value-oracle-able and intentionally not replicated.

Scale shape: one pruned positional fetch for the tree's distinct leaf
terms (same fetch the phrase/near paths use), candidate docs =
intersection/union sets mirroring the tree (numpy sorted-set algebra),
then ONE batched interval assembly over ALL candidates at once
(:func:`_eval_tree_vec`): every node's satisfying intervals live in flat
``(doc_rank, s, e)`` arrays and ``all_of`` folds children left-to-right
with a vectorized per-doc cross product carrying exactly the DFS's
running state and prune bounds — no per-candidate Python loop. The
per-doc evaluator :func:`_eval_doc` stays as the semantics reference the
batched path is fuzz-tested against. The driver-side path serves
interactive queries; past :data:`DISTRIBUTED_CUTOFF` summed leaf df it
auto-routes to the distributed occurrence-join plan
(:func:`search_intervals_distributed`), exactly as the WAND/exhaustive
hybrid routes on postings volume.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from miru_spark.index.reader import IndexReader


@dataclass(frozen=True)
class ITerm:
    term: str


@dataclass(frozen=True)
class IPhrase:
    terms: tuple[str, ...]

    def __post_init__(self):
        if len(self.terms) < 2:
            raise ValueError("interval phrase needs >= 2 tokens")


@dataclass(frozen=True)
class IAnyOf:
    children: tuple = ()

    def __post_init__(self):
        if not self.children:
            raise ValueError("any_of needs >= 1 child")


@dataclass(frozen=True)
class IAllOf:
    children: tuple = ()
    ordered: bool = False
    max_gaps: int | None = field(default=None)

    def __post_init__(self):
        if not self.children:
            raise ValueError("all_of needs >= 1 child")
        if self.max_gaps is not None and self.max_gaps < 0:
            raise ValueError("max_gaps must be >= 0")


def leaf_terms(spec) -> list[str]:
    """Distinct leaf terms, first-appearance order."""
    out: dict[str, None] = {}

    def walk(n):
        if isinstance(n, ITerm):
            out.setdefault(n.term)
        elif isinstance(n, IPhrase):
            for t in n.terms:
                out.setdefault(t)
        elif isinstance(n, (IAnyOf, IAllOf)):
            for c in n.children:
                walk(c)
        else:
            raise TypeError(f"unknown interval node {type(n).__name__}")

    walk(spec)
    return list(out)


def _eval_doc(spec, pos_of: dict[str, np.ndarray]) -> list[tuple[int, int]]:
    """ALL satisfying intervals of ``spec`` in one doc (deduped, sorted),
    given per-term sorted position arrays. Empty list = no match. No
    dominance pruning between levels: a parent ``max_gaps`` can be
    satisfiable only through a WIDER child interval (more covered span =
    fewer gaps), so dropping contained-interval containers would change
    match results — the enumeration must stay exhaustive, mirrored 1:1 by
    the SQL oracle's un-minimized interval relations."""
    if isinstance(spec, ITerm):
        ps = pos_of.get(spec.term)
        return [] if ps is None else [(int(p), int(p)) for p in ps]
    if isinstance(spec, IPhrase):
        ps = pos_of.get(spec.terms[0])
        if ps is None:
            return []
        starts = set(int(p) for p in ps)
        for j, t in enumerate(spec.terms[1:], start=1):
            qs = pos_of.get(t)
            if qs is None:
                return []
            nxt = set(int(q) - j for q in qs)
            starts &= nxt
            if not starts:
                return []
        n = len(spec.terms)
        return sorted((s, s + n - 1) for s in starts)
    if isinstance(spec, IAnyOf):
        acc: list[tuple[int, int]] = []
        for c in spec.children:
            acc.extend(_eval_doc(c, pos_of))
        return sorted(set(acc))
    if isinstance(spec, IAllOf):
        kids = [_eval_doc(c, pos_of) for c in spec.children]
        if any(not kv for kv in kids):
            return []
        out: list[tuple[int, int]] = []
        gaps = spec.max_gaps
        if spec.ordered:
            # DFS in query order; child j+1 must start strictly after child
            # j ends. Prune on running gap count: appending an ordered child
            # never decreases gaps (added width <= added span), so a branch
            # over budget stays over budget.
            def rec(j, s0, e_prev, width_sum):
                if j == len(kids):
                    out.append((s0, e_prev))
                    return
                for s, e in kids[j]:
                    if j > 0 and s <= e_prev:
                        continue
                    ns0 = s if j == 0 else s0
                    ne, nw = max(e_prev, e), width_sum + (e - s + 1)
                    if gaps is not None and (ne - ns0 + 1) - nw > gaps:
                        continue
                    rec(j + 1, ns0, ne, nw)

            rec(0, 0, -1, 0)
        else:
            # unordered (overlap allowed): DFS with an optimistic bound —
            # remaining children can at best add width without growing the
            # span, so prune when even that can't reach the budget.
            rem_max_w = [0] * (len(kids) + 1)
            for j in range(len(kids) - 1, -1, -1):
                rem_max_w[j] = rem_max_w[j + 1] + max(
                    e - s + 1 for s, e in kids[j]
                )

            def rec(j, mn, mx, width_sum):
                if j == len(kids):
                    out.append((mn, mx))
                    return
                for s, e in kids[j]:
                    nmn = s if j == 0 else min(mn, s)
                    nmx = e if j == 0 else max(mx, e)
                    nw = width_sum + (e - s + 1)
                    if gaps is not None and (nmx - nmn + 1) - (
                        nw + rem_max_w[j + 1]
                    ) > gaps:
                        continue
                    rec(j + 1, nmn, nmx, nw)

            rec(0, 0, 0, 0)
        return sorted(set(out))
    raise TypeError(f"unknown interval node {type(spec).__name__}")


# ---------------------------------------------------------------------------
# Batched evaluation: _eval_doc's exact semantics over ALL candidate docs at
# once. Every node's satisfying intervals are flat (doc_rank, s, e) int64
# arrays (lexsorted by rank, then s, then e; deduped), so the per-candidate
# Python DFS becomes a handful of numpy passes per tree node. all_of folds
# children left-to-right; the fold state carries exactly what the DFS
# carried — (start-of-first, running end, width sum) for ordered, (min
# start, max end, width sum) for unordered — and applies the SAME prune
# predicates at each step, so surviving state count == surviving DFS
# branches. Fuzz-tested 1:1 against _eval_doc (tests/test_intervals.py).

_POS_LIMIT = 1 << 32  # composite (rank << 32 | pos) packing bound


def _cross_per_key(k1: np.ndarray, k2: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index arrays (i1, i2) forming the per-key cross product of two
    ascending int64 key arrays — for each key present in BOTH, every
    (element-of-k1, element-of-k2) pair in that key's groups. The numpy
    form of the DFS's per-doc nested loop over (state, child-interval)."""
    u = np.intersect1d(np.unique(k1), np.unique(k2), assume_unique=True)
    if u.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    s1 = np.searchsorted(k1, u)
    c1 = np.searchsorted(k1, u, side="right") - s1
    s2 = np.searchsorted(k2, u)
    c2 = np.searchsorted(k2, u, side="right") - s2
    pairs = c1 * c2
    off = np.concatenate([[0], np.cumsum(pairs)])
    key_of = np.repeat(np.arange(u.size), pairs)
    p = np.arange(int(off[-1])) - off[key_of]
    return s1[key_of] + p // c2[key_of], s2[key_of] + p % c2[key_of]


def _dedup_sorted_cols(*cols: np.ndarray) -> tuple[np.ndarray, ...]:
    """Lexsort rows by the given columns (first column = major key) and
    drop duplicate rows."""
    n = cols[0].size
    if n == 0:
        return cols
    order = np.lexsort(tuple(reversed(cols)))
    cols = tuple(c[order] for c in cols)
    keep = np.zeros(n, dtype=bool)
    keep[0] = True
    for c in cols:
        keep[1:] |= c[1:] != c[:-1]
    return tuple(c[keep] for c in cols)


def _group_max(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(unique_keys, per-key max of vals) for an ascending key array."""
    uk = np.unique(keys)
    if uk.size == 0:
        return uk, uk
    starts = np.searchsorted(keys, uk)
    return uk, np.maximum.reduceat(vals, starts)


def _lookup_or_zero(uk: np.ndarray, uv: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """uv[uk == key] per key, 0 where absent (sound for the unordered
    optimistic bound: a missing future child kills the branch later
    anyway, and a SMALLER remaining-width estimate only prunes branches
    that cannot complete)."""
    out = np.zeros(keys.size, dtype=np.int64)
    if uk.size:
        j = np.searchsorted(uk, keys)
        m = (j < uk.size) & (uk[np.minimum(j, uk.size - 1)] == keys)
        out[m] = uv[j[m]]
    return out


_EMPTY3 = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
)


def _eval_tree_vec(
    spec, occ: dict[str, tuple[np.ndarray, np.ndarray]]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """ALL satisfying intervals of ``spec`` across every candidate doc:
    ``occ`` maps term -> (doc_rank, pos) int64 arrays lexsorted by
    (rank, pos); returns (rank, s, e) lexsorted by (rank, s, e), deduped.
    Positions must be < 2^32 (asserted by the caller) so (rank, pos)
    packs into one int64 key for the phrase intersection."""
    if isinstance(spec, ITerm):
        d = occ.get(spec.term)
        if d is None:
            return _EMPTY3
        r, p = d
        return r, p, p
    if isinstance(spec, IPhrase):
        d0 = occ.get(spec.terms[0])
        if d0 is None:
            return _EMPTY3
        r, p = d0
        keys = (r << 32) | p
        for j, t in enumerate(spec.terms[1:], start=1):
            dj = occ.get(t)
            if dj is None:
                return _EMPTY3
            rj, pj = dj
            m = pj >= j
            keys = np.intersect1d(
                keys, (rj[m] << 32) | (pj[m] - j), assume_unique=True
            )
            if keys.size == 0:
                return _EMPTY3
        n = len(spec.terms)
        r, s = keys >> 32, keys & np.int64(_POS_LIMIT - 1)
        return r, s, s + n - 1
    if isinstance(spec, IAnyOf):
        kids = [_eval_tree_vec(c, occ) for c in spec.children]
        return _dedup_sorted_cols(
            np.concatenate([kr for kr, _, _ in kids]),
            np.concatenate([ks for _, ks, _ in kids]),
            np.concatenate([ke for _, _, ke in kids]),
        )
    if isinstance(spec, IAllOf):
        kids = [_eval_tree_vec(c, occ) for c in spec.children]
        if any(kr.size == 0 for kr, _, _ in kids):
            return _EMPTY3
        gaps = spec.max_gaps
        r0, s0, e0 = kids[0]
        if spec.ordered:
            # state = (rank, start-of-first-child, running end, width sum);
            # DFS's j=0 budget check never fires (span == width), so the
            # first child seeds the state unfiltered.
            st = (r0, s0, e0, e0 - s0 + 1)
            for cr, cs, ce in kids[1:]:
                i1, i2 = _cross_per_key(st[0], cr)
                ok = cs[i2] > st[2][i1]  # strictly after the running end
                i1, i2 = i1[ok], i2[ok]
                nr, ns0 = st[0][i1], st[1][i1]
                ne = np.maximum(st[2][i1], ce[i2])
                nw = st[3][i1] + (ce[i2] - cs[i2] + 1)
                if gaps is not None:
                    ok2 = (ne - ns0 + 1) - nw <= gaps
                    nr, ns0, ne, nw = nr[ok2], ns0[ok2], ne[ok2], nw[ok2]
                # identical states have identical futures: dedup is safe
                # and caps the fanout the DFS re-walked branch by branch
                st = _dedup_sorted_cols(nr, ns0, ne, nw)
                if st[0].size == 0:
                    return _EMPTY3
            return _dedup_sorted_cols(st[0], st[1], st[2])
        # unordered: state = (rank, min start, max end, width sum), with
        # the DFS's optimistic bound — remaining children can at best add
        # width without growing the span — as per-rank max-width sums.
        rem: list[tuple[np.ndarray, np.ndarray]] | None = None
        if gaps is not None:
            maxw = [_group_max(cr, ce - cs + 1) for cr, cs, ce in kids]
            rem = []
            for j in range(1, len(kids)):
                acc_k, acc_v = maxw[j]
                for uk, uv in maxw[j + 1:]:
                    allk = np.union1d(acc_k, uk)
                    acc_v = _lookup_or_zero(acc_k, acc_v, allk) + _lookup_or_zero(
                        uk, uv, allk
                    )
                    acc_k = allk
                rem.append((acc_k, acc_v))
        st = (r0, s0, e0, e0 - s0 + 1)
        for j, (cr, cs, ce) in enumerate(kids[1:], start=1):
            i1, i2 = _cross_per_key(st[0], cr)
            nr = st[0][i1]
            nmn = np.minimum(st[1][i1], cs[i2])
            nmx = np.maximum(st[2][i1], ce[i2])
            nw = st[3][i1] + (ce[i2] - cs[i2] + 1)
            if gaps is not None:
                rem_w = (
                    _lookup_or_zero(rem[j][0], rem[j][1], nr)
                    if j < len(kids) - 1
                    else np.int64(0)
                )
                ok = (nmx - nmn + 1) - (nw + rem_w) <= gaps
                nr, nmn, nmx, nw = nr[ok], nmn[ok], nmx[ok], nw[ok]
            st = _dedup_sorted_cols(nr, nmn, nmx, nw)
            if st[0].size == 0:
                return _EMPTY3
        return _dedup_sorted_cols(st[0], st[1], st[2])
    raise TypeError(f"unknown interval node {type(spec).__name__}")


DISTRIBUTED_CUTOFF = 1 << 23
"""Summed leaf df above which ``strategy="auto"`` serves the query from
the distributed occurrence-join plan instead of the driver: past ~8M
postings the driver's fetch+decode dominates and the chunks stop fitting
one node — the same postings-volume routing the WAND/exhaustive hybrid
uses (``search._route_query``)."""

LAST_ROUTE = "driver"
"""Which path the last ``search_intervals(strategy="auto")`` call took
(``"driver"`` | ``"distributed"``) — observability for tests and bench."""


def search_intervals(
    reader: IndexReader,
    spec,
    k: int = 10,
    round_digits: int | None = 6,
    where: dict | None = None,
    strategy: str = "auto",
) -> list[tuple[int, float]]:
    """Top-k docs matching the interval tree, ranked by the disjunctive
    BM25 sum over the tree's distinct leaf terms (score desc, doc_id asc).

    ``strategy``: ``"auto"`` (default) serves driver-side below
    :data:`DISTRIBUTED_CUTOFF` summed leaf df and routes to
    :func:`search_intervals_distributed` above it (collecting the k-row
    result); ``"driver"`` / ``"distributed"`` force a path. ``where``
    pins the driver path (the distributed plan doesn't carry metadata
    filters).
    """
    global LAST_ROUTE
    from miru_spark.plans.search import _live, _term_scores, _top_k

    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "distributed" and where is not None:
        raise ValueError(
            "the distributed interval plan doesn't carry metadata filters"
            " — drop where= or use the driver path"
        )
    terms = leaf_terms(spec)
    if not reader.positions:
        raise ValueError(
            "interval queries need a positional index (positions=True)"
        )
    if strategy == "distributed" or (
        strategy == "auto"
        and where is None
        and sum(reader.term_dfs(terms).values()) > DISTRIBUTED_CUTOFF
    ):
        LAST_ROUTE = "distributed"
        rows = search_intervals_distributed(
            reader, spec, k=k, round_digits=round_digits
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
    LAST_ROUTE = "driver"
    tps = reader.fetch_terms(terms, with_positions=True)
    data = {}
    for t, tp in tps.items():
        ids, tfs, dls, pos = reader.decode_term(tp, with_positions=True)
        data[t] = (ids, tfs, dls, pos, np.concatenate([[0], np.cumsum(tfs)]))

    def cand_ids(node) -> np.ndarray:
        if isinstance(node, ITerm):
            d = data.get(node.term)
            return d[0] if d is not None else np.empty(0, dtype=np.int64)
        if isinstance(node, IPhrase):
            sets = [
                data[t][0] if t in data else np.empty(0, dtype=np.int64)
                for t in node.terms
            ]
            u = sets[0]
            for s in sets[1:]:
                u = np.intersect1d(u, s, assume_unique=True)
            return u
        if isinstance(node, IAnyOf):
            u = np.empty(0, dtype=np.int64)
            for c in node.children:
                u = np.union1d(u, cand_ids(c))
            return u
        u = None
        for c in node.children:
            s = cand_ids(c)
            u = s if u is None else np.intersect1d(u, s, assume_unique=True)
        return u

    cand = _live(reader, cand_ids(spec), where)
    if cand.size == 0:
        return []

    # batched evaluation over ALL candidates at once: per-term flat
    # (doc_rank, pos) occurrence arrays (rank = index into the sorted
    # candidate array, so the composite (rank << 32 | pos) key packing
    # never overflows regardless of raw doc_id magnitude)
    occ: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t, (ids, tfs, _, pos, off) in data.items():
        hit = np.isin(ids, cand, assume_unique=True)
        if not hit.any():
            continue
        docs_rep = np.repeat(ids[hit], tfs[hit])
        if hit.all():
            ps = pos
        else:  # gather the hit docs' position slices in one pass
            idx = np.flatnonzero(hit)
            lens = tfs[idx]
            cum = np.concatenate([[0], np.cumsum(lens)])
            take = np.repeat(off[idx] - cum[:-1], lens) + np.arange(cum[-1])
            ps = pos[take]
        if ps.size and int(ps.max()) >= _POS_LIMIT:
            raise ValueError("token position exceeds 2^32")
        ranks = np.searchsorted(cand, docs_rep)
        order = np.lexsort((ps, ranks))
        occ[t] = (ranks[order], ps[order])
    mr, _, _ = _eval_tree_vec(spec, occ)
    if mr.size == 0:
        return []
    v = cand[np.unique(mr)]
    return _top_k(v, _term_scores(reader, tps, data, data, v), k, round_digits)


def _sql_quote(t: str) -> str:
    return t.replace("'", "''")


def _rel_sql(spec, ctr: list[int]) -> str:
    """SELECT doc_id, s, e producing every satisfying interval of the node
    (the EXISTS enumeration — a superset of Lucene's minimal intervals,
    match-equivalent per the module docstring)."""
    if isinstance(spec, ITerm):
        return (
            f"SELECT doc_id, i AS s, i AS e FROM pos "
            f"WHERE term = '{_sql_quote(spec.term)}'"
        )
    if isinstance(spec, IPhrase):
        n = len(spec.terms)
        joins = []
        for j in range(1, n):
            joins.append(
                f"JOIN pos p{j} ON p{j}.doc_id = p0.doc_id AND "
                f"p{j}.i = p0.i + {j} AND "
                f"p{j}.term = '{_sql_quote(spec.terms[j])}'"
            )
        return (
            f"SELECT p0.doc_id, p0.i AS s, p0.i + {n - 1} AS e FROM pos p0 "
            + " ".join(joins)
            + f" WHERE p0.term = '{_sql_quote(spec.terms[0])}'"
        )
    if isinstance(spec, IAnyOf):
        return " UNION ALL ".join(
            f"SELECT * FROM ({_rel_sql(c, ctr)})" for c in spec.children
        )
    if isinstance(spec, IAllOf):
        names = []
        srcs = []
        for c in spec.children:
            ctr[0] += 1
            nm = f"c{ctr[0]}"
            names.append(nm)
            srcs.append(f"({_rel_sql(c, ctr)}) {nm}")
        conds = [f"{n}.doc_id = {names[0]}.doc_id" for n in names[1:]]
        if spec.ordered:
            for a, b in zip(names, names[1:]):
                conds.append(f"{b}.s > {a}.e")
            s_expr, e_expr = f"{names[0]}.s", f"{names[-1]}.e"
        else:
            s_expr = "least(" + ", ".join(f"{n}.s" for n in names) + ")"
            e_expr = "greatest(" + ", ".join(f"{n}.e" for n in names) + ")"
            if len(names) == 1:
                s_expr, e_expr = f"{names[0]}.s", f"{names[0]}.e"
        if spec.max_gaps is not None:
            widths = " + ".join(f"({n}.e - {n}.s + 1)" for n in names)
            conds.append(
                f"({e_expr}) - ({s_expr}) + 1 - ({widths}) <= {spec.max_gaps}"
            )
        where = (" WHERE " + " AND ".join(conds)) if conds else ""
        return (
            f"SELECT {names[0]}.doc_id, {s_expr} AS s, {e_expr} AS e FROM "
            + ", ".join(srcs)
            + where
        )
    raise TypeError(f"unknown interval node {type(spec).__name__}")


def intervals_oracle_sql(spec, k: int = 10, round_digits: int = 6) -> str:
    """DuckDB twin of :func:`search_intervals`: the interval relation is
    GENERATED from the same spec tree, matched docs join the standard
    disjunctive BM25 ranking over the tree's distinct leaf terms."""
    from miru_spark.plans.relational import bm25_oracle_sql

    inner = bm25_oracle_sql(
        leaf_terms(spec), "disjunctive", k=1 << 30, round_digits=round_digits
    )
    rel = _rel_sql(spec, [0])
    return f"""
WITH ranked AS ({inner}),
toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM documents),
pos AS (SELECT doc_id, i, l[i] AS term
        FROM toks, UNNEST(range(1, len(l)+1)) AS u(i)),
hits AS (SELECT DISTINCT doc_id FROM ({rel}))
SELECT doc_id, score FROM ranked JOIN hits USING(doc_id)
ORDER BY score DESC, doc_id LIMIT {k}
""".strip()


def search_intervals_distributed(
    reader: IndexReader,
    spec,
    k: int = 10,
    round_digits: int | None = 6,
) -> "DataFrame":
    """Cluster-scale interval matching as a pure DataFrame plan — the
    relational shape of :func:`intervals_oracle_sql`, executed by Spark:

    * each leaf term's positional chunks decode to an occurrence frame
      (doc_id, pos) via mapInArrow over the pruned postings scan,
    * term -> (doc_id, s=pos, e=pos); phrase -> the per-offset
      (doc_id, adj) equi-join chain (the search_phrase_distributed plan)
      collapsed to (doc_id, s, e),
    * any_of -> unionByName; all_of -> a chain of doc_id equi-joins whose
      ordering / gap constraints ride as join conditions (Catalyst plans
      the equality part as a hash join and evaluates the inequalities as
      codegen filters on it),
    * matched docs semi-join the standard distributed disjunctive BM25
      scorer over the tree's distinct leaf terms -> TakeOrderedAndProject.

    Same pinned EXISTS semantics and identical results to the driver-side
    :func:`search_intervals`; use this plan when the leaf terms' postings
    exceed one node. The interval joins only carry docs that contain the
    joined leaves, and every join keys on doc_id, so the chain reuses one
    hash partitioning end-to-end."""
    from pyspark.sql import DataFrame  # noqa: F401 (doc type)
    from pyspark.sql import functions as F

    from miru_spark.plans.search import (
        _occurrences,
        _phrase_starts,
        search_distributed,
    )

    if not reader.positions:
        raise ValueError(
            "interval queries need a positional index (positions=True)"
        )
    terms = leaf_terms(spec)
    chunks = reader.postings_df(terms)
    ctr = [0]

    def rel(node):
        """(doc_id, s, e) frame of the node's satisfying intervals."""
        if isinstance(node, ITerm):
            return _occurrences(chunks, node.term).select(
                "doc_id", F.col("pos").alias("s"), F.col("pos").alias("e")
            )
        if isinstance(node, IPhrase):
            return _phrase_starts(chunks, node.terms).select(
                "doc_id",
                F.col("adj").alias("s"),
                (F.col("adj") + (len(node.terms) - 1)).alias("e"),
            )
        if isinstance(node, IAnyOf):
            out = rel(node.children[0])
            for c in node.children[1:]:
                out = out.unionByName(rel(c))
            return out
        if isinstance(node, IAllOf):
            parts = []
            for c in node.children:
                ctr[0] += 1
                i = ctr[0]
                parts.append(
                    (i, rel(c).select(
                        "doc_id",
                        F.col("s").alias(f"s{i}"),
                        F.col("e").alias(f"e{i}"),
                    ))
                )
            (i0, acc), rest = parts[0], parts[1:]
            idx = [i0]
            for i, cur in rest:
                cond = acc["doc_id"] == cur["doc_id"]
                if node.ordered:
                    cond = cond & (cur[f"s{i}"] > acc[f"e{idx[-1]}"])
                acc = acc.join(cur, cond, "inner").drop(cur["doc_id"])
                idx.append(i)
            s_cols = [F.col(f"s{i}") for i in idx]
            e_cols = [F.col(f"e{i}") for i in idx]
            if node.ordered:
                s_expr, e_expr = s_cols[0], e_cols[-1]
            else:
                s_expr = F.least(*s_cols) if len(idx) > 1 else s_cols[0]
                e_expr = F.greatest(*e_cols) if len(idx) > 1 else e_cols[0]
            out = acc.select(
                "doc_id", s_expr.alias("s"), e_expr.alias("e"),
                sum(
                    [F.col(f"e{i}") - F.col(f"s{i}") + 1 for i in idx],
                    F.lit(0),
                ).alias("_w"),
            )
            if node.max_gaps is not None:
                out = out.filter(
                    F.col("e") - F.col("s") + 1 - F.col("_w")
                    <= node.max_gaps
                )
            return out.drop("_w")
        raise TypeError(f"unknown interval node {type(node).__name__}")

    matched = rel(spec).select("doc_id").distinct()
    scored = search_distributed(
        reader, terms, mode="disjunctive", k=None, round_digits=round_digits
    )
    return (
        scored.join(matched, "doc_id", "left_semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
