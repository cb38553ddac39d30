"""Answer checks: the BM25 oracle, top-k agreement, dedup expectations.

The oracle scores with ``query.oracle.brute_force_topk`` semantics
(same parser, idf, match tree and formula) over the corpus tokenized
once per seed, instead of re-tokenizing the corpus for every query.
"""

from __future__ import annotations

from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from gen import Truth


def bm25_oracle(truth: Truth, query: str, mode: str, k1: float = 1.2, b: float = 0.75):
    """Every matching ``(docid, round(score, 6))``, best first."""
    from pg_cjk_parser_spark.kernel.tsvector import ts_match
    from pg_cjk_parser_spark.query.topk import idf, parse_query

    pq = parse_query(query, mode)
    n = len(truth.docs)
    avgdl = truth.total_tf / max(n, 1)
    idf_map = {t: idf(n, truth.df.get(t, 0)) for t in pq.terms}
    out = []
    for did, (dl, tmap) in truth.docs.items():
        sub = {t: tmap[t] for t in pq.all_terms if t in tmap}
        if not sub or not ts_match(sub, pq.tree):
            continue
        score = 0.0
        for t in pq.terms:
            if t in sub:
                tf = len(sub[t])
                score += idf_map[t] * tf / (tf + k1 * (1 - b + b * dl / avgdl))
        if score > 0:
            out.append((did, round(score, 6)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out


def agree(got, want, k: int) -> bool:
    """``got`` (a top-k) agrees with ``want`` (a longer or equal ranked
    list): same length, same rounded scores in order, and every doc
    carries its score in ``want`` - or ties ``want``'s k-th score, where
    either side may break the tie at the cutoff."""
    g = [(int(d), round(float(s), 6)) for d, s in got]
    w = [(int(d), round(float(s), 6)) for d, s in want]
    n = min(k, len(w))
    if len(g) != n or len({d for d, _ in g}) != n:
        return False
    if [s for _, s in g] != [s for _, s in w[:n]]:
        return False
    ws = dict(w)
    cutoff = w[n - 1][1] if n else None
    return all(ws.get(d) == s or s == cutoff for d, s in g)


def spark_round(x: float, digits: int) -> float:
    """Spark SQL ``round`` on a double (HALF_UP on its decimal repr)."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def expect_duplicate_spans(ids, texts, k: int = 8) -> dict[int, int]:
    """``ops.dedup.duplicate_spans``: per doc, distinct k-word spans
    that occur in at least one other doc (docs with none omitted)."""
    per_doc = []
    seen: Counter = Counter()
    for text in texts:
        w = text.split(" ")
        grams = {tuple(w[i : i + k]) for i in range(len(w) - k + 1)} if len(w) >= k else set()
        per_doc.append(grams)
        seen.update(grams)
    out = {}
    for did, grams in zip(ids, per_doc):
        n = sum(1 for g in grams if seen[g] >= 2)
        if n:
            out[int(did)] = n
    return out


def expect_repetition(ids, texts, ns=(2, 3), digits: int = 4) -> dict[int, tuple]:
    """``ops.textstats.repetition_signals`` per doc: (dup_n, top_n) for
    each n, for docs with at least max(ns) words."""
    out = {}
    for did, text in zip(ids, texts):
        w = text.split(" ")
        if len(w) < max(ns):
            continue
        row = []
        for n in ns:
            c = Counter(" ".join(w[i : i + n]) for i in range(len(w) - n + 1))
            total = len(w) - (n - 1)
            row.append(spark_round(1.0 - len(c) / total, digits))
            row.append(spark_round(max(c.values()) / total, digits))
        out[int(did)] = tuple(row)
    return out


def expect_line_dedup(ids, texts) -> dict[int, tuple]:
    """``ops.web.line_dedup``: (n_lines, n_kept, text_dedup) per doc."""
    split = [t.split("\n") for t in texts]
    occ = Counter(line for lines in split for line in lines)
    out = {}
    for did, lines in zip(ids, split):
        kept = [ln for ln in lines if not (occ[ln] > 1 and ln.strip(" ") != "")]
        out[int(did)] = (len(lines), len(kept), "\n".join(kept))
    return out


def close(a: tuple, b: tuple, tol: float = 1.01e-4) -> bool:
    """Equal within one unit of the 4th decimal (Spark vs Python may
    round a value that sits exactly on a half differently)."""
    return len(a) == len(b) and all(abs(x - y) <= tol for x, y in zip(a, b))
