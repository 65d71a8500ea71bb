"""The Porter stemming algorithm (M.F. Porter, "An algorithm for suffix
stripping", Program 14(3) 1980) — the algorithm behind Lucene's
``PorterStemFilter`` / ES's ``porter_stem`` token filter.

Two execution shapes, one spec:

* **Per-row analyzer** (``tokenizer='porter'`` through the standard build):
  an Arrow-batched pandas UDF stems every token of every document — the
  honest slow path (Python cost scales with corpus tokens), kept because it
  rides the existing build machinery unchanged.
* **Dictionary-side stemming** (:func:`stem_corpus_dict` — the scale path):
  tokenize with codegen built-ins, reduce to the DISTINCT vocabulary (a
  shuffle whose output is |vocab|, orders of magnitude below corpus
  tokens), stem only the vocabulary in Python, broadcast-join the
  (term, stem) dictionary back, and reassemble. Python work is O(|vocab|)
  instead of O(corpus tokens) — at 100 TB that is the difference between a
  minutes-long vectorized pass over a few hundred million distinct terms
  and days of per-token Python. Both shapes are pinned token-identical by
  test.

Spec notes (pinned):

* This is the ORIGINAL published algorithm, not Porter2/Snowball-English —
  exactly what Lucene's ``PorterStemmer`` implements. The later official
  "departures" on Martin Porter's website (step 2 ``logi``→``log``,
  ``bli``→``ble``) are NOT applied; divergence documented here and covered
  by the pinned-pairs test (the paper's own examples).
* Words of length <= 2 are returned unchanged (the reference
  implementation's ``k <= 1`` guard, also Lucene's behavior).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    ch = word[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return i == 0 or not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """m in the [C](VC)^m[V] decomposition of the stem."""
    n, i, length = 0, 0, len(stem)
    while i < length and _is_cons(stem, i):
        i += 1
    while i < length:
        while i < length and not _is_cons(stem, i):
            i += 1
        if i >= length:
            break
        n += 1
        while i < length and _is_cons(stem, i):
            i += 1
    return n


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return (
        len(word) >= 2
        and word[-1] == word[-2]
        and _is_cons(word, len(word) - 1)
    )


def _ends_cvc(word: str) -> bool:
    """*o: stem ends cvc where the final c is not w, x or y."""
    return (
        len(word) >= 3
        and _is_cons(word, len(word) - 3)
        and not _is_cons(word, len(word) - 2)
        and _is_cons(word, len(word) - 1)
        and word[-1] not in "wxy"
    )


# (suffix, replacement) pairs per step, longest-suffix-first within a step
# (the paper's longest-match rule); conditions are on the measure of the
# REMAINING stem.
_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("abli", "able"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
    ("ation", "ate"), ("ator", "ate"), ("alism", "al"),
    ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
    ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)
_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def _rule_match(word: str, rules, min_m: int) -> str:
    """Longest-suffix match whose remaining stem has measure > min_m."""
    best = None
    for suf, rep in rules:
        if word.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, rep)
    # the paper applies the LONGEST matching suffix's rule — if its
    # condition fails, no other rule in the step fires
    if best is not None:
        stem = word[: len(word) - len(best[0])]
        if _measure(stem) > min_m:
            return stem + best[1]
    return word


def porter_stem(word: str) -> str:
    """Stem one lowercase token. Tokens of length <= 2 pass through."""
    if len(word) <= 2:
        return word
    w = word

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        applied = False
        if w.endswith("ed") and _has_vowel(w[:-2]):
            w, applied = w[:-2], True
        elif w.endswith("ing") and _has_vowel(w[:-3]):
            w, applied = w[:-3], True
        if applied:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _ends_double_cons(w) and not w.endswith(("l", "s", "z")):
                w = w[:-1]
            elif _measure(w) == 1 and _ends_cvc(w):
                w += "e"

    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # steps 2 and 3 (condition m > 0 on the remaining stem)
    w = _rule_match(w, _STEP2, 0)
    w = _rule_match(w, _STEP3, 0)

    # step 4 (m > 1; ION additionally requires the stem to end s or t)
    best = None
    for suf in _STEP4:
        if w.endswith(suf) and (best is None or len(suf) > len(best)):
            best = suf
    if best is not None:
        stem = w[: len(w) - len(best)]
        if _measure(stem) > 1 and (best != "ion" or stem.endswith(("s", "t"))):
            w = stem

    # step 5a
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _ends_cvc(w[:-1])):
            w = w[:-1]

    # step 5b
    if _measure(w) > 1 and _ends_double_cons(w) and w.endswith("l"):
        w = w[:-1]

    return w


def porter_stem_case_sql(words, var: str = "tok") -> str:
    """Generated DuckDB twin: a CASE mapping ``var`` through
    :func:`porter_stem` for a KNOWN, finite vocabulary (the oracle-side
    discipline for analyzer chains whose per-token function is not
    SQL-expressible — same role as the multilang pinned-CASE tables).
    Unknown tokens pass through unchanged, so the mapping must cover the
    corpus vocabulary; use only over constructed corpora."""
    arms = []
    for wd in dict.fromkeys(words):
        stem = porter_stem(wd)
        if stem != wd:
            arms.append(f"WHEN '{wd}' THEN '{stem}'")
    if not arms:
        return var
    return f"CASE {var} " + " ".join(arms) + f" ELSE {var} END"


def stem_dictionary(vocab_df):
    """(term) -> (term, stem) over a vocabulary DataFrame: ONE Arrow batch
    pass of Python per vocab partition — the only Python in the scale
    path."""
    import pandas as pd

    def stems(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"term": pdf["term"],
                 "stem": pdf["term"].map(porter_stem)}
            )

    return vocab_df.mapInPandas(stems, "term string, stem string")


def stem_corpus_dict(corpus, content_col: str = "content"):
    """Dictionary-side Porter stemming of a corpus (the 100-TB shape):

    1. tokenize with codegen built-ins (lowercase whitespace split,
       stopword drop — the same pre-stem chain as ``tokenizer='porter'``),
       keeping (doc_id, pos, tok);
    2. DISTINCT tokens -> :func:`stem_dictionary` (Python cost O(|vocab|));
    3. broadcast-join stems back (vocab is small relative to the corpus;
       for billion-term vocabularies drop the broadcast hint and let AQE
       pick a shuffled hash join — the plan stays correct);
    4. reassemble per-doc content ordered by position.

    Returns the corpus with ``content_col`` replaced by stemmed text; every
    other column rides along via the final join. Token-identical to the
    per-row ``tokenizer='porter'`` UDF by test."""
    from pyspark.sql import functions as F

    from miru_spark.functions.tokenize import ENGLISH_STOPWORDS

    toks = corpus.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(content_col)), r"\s+"),
                lambda t: (t != F.lit(""))
                & ~t.isin(*ENGLISH_STOPWORDS),
            )
        ).alias("pos", "term"),
    )
    vocab = toks.select("term").distinct()
    dic = F.broadcast(stem_dictionary(vocab))
    stemmed = (
        toks.join(dic, "term")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "stem"))
                    ),
                    lambda s: s["stem"],
                ),
                " ",
            ).alias("__stemmed")
        )
    )
    other = [c for c in corpus.columns if c != content_col]
    # left join: empty and all-stopword docs have no tokens, hence no
    # stemmed row, and keep empty content exactly as the UDF path does
    return (
        corpus.select(*other)
        .join(stemmed, "doc_id", "left")
        .withColumn(content_col, F.coalesce(F.col("__stemmed"), F.lit("")))
        .drop("__stemmed")
        .select(*corpus.columns)
    )
