"""Seeded corpus and query generator owned by the benchmark.

The corpus has the engine's input columns (``url, warc_ts, html, text,
lang``) plus a dense int64 ``doc_id``.  It varies what the engine's
behaviour depends on:

* a Zipfian vocabulary (s=1.1) over pseudo-words in Latin script,
  Han characters, Hangul syllables and kana;
* lognormal document length;
* five language mixes: zh, ja, ko, en and mixed (each line its own
  language);
* a boilerplate share: that fraction of documents carries one shared
  line, which is what the dedup operators look for.

Everything is a pure function of the seed.  The generator does not use
``spark.corpus.synth_corpus``, whose 25-sentence pool yields a few
hundred distinct terms.

The "truth" side (``tokenize_corpus``) runs the kernel tokenizer once
over the generated text, with the same semantics as
``query.oracle.brute_force_topk``: it gives the expected index
statistics, per-term document frequencies for the query bands, and the
per-document term maps the BM25 oracle scores against.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass, field

import numpy as np

LANG_MIX = {"zh": 0.25, "ja": 0.15, "ko": 0.10, "en": 0.35, "mixed": 0.15}
ZIPF_S = 1.1
MEAN_TOKENS = 40  # median of the lognormal document length
LATIN_WORDS = 200_000
HAN_CHARS = 6_000
HANGUL_SYLLABLES = 2_000
STOPWORDS = ("the", "of", "and", "to", "in", "is", "a", "for", "with", "on")

_CONS = "bcdfghjklmnprstvwxyz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONS for v in _VOWELS]  # 100 syllables
_KANA = [chr(c) for c in range(0x3041, 0x3097)] + [
    chr(c) for c in range(0x30A1, 0x30FB)
]
_EPOCH = _dt.datetime(2024, 10, 8)


class _Zipf:
    """Draws ranks 0..n-1 with P(r) ~ (r+1)^-s through one cdf search."""

    def __init__(self, n: int, s: float = ZIPF_S):
        w = np.arange(1, n + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(w / w.sum())

    def draw(self, rng: np.random.Generator, size: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(self.cdf, rng.random(size)), len(self.cdf) - 1
        )


@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list[str]
    lang: list[str]
    url: list[str]
    boiler: np.ndarray  # bool: doc carries the shared boilerplate line
    boiler_line: str

    def __len__(self) -> int:
        return len(self.text)

    def chars(self) -> int:
        return sum(len(t) for t in self.text)

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.text)

    def table(self, ids: np.ndarray | None = None):
        """The engine's input columns as a pyarrow table (rows ``ids``)."""
        import pyarrow as pa

        rows = range(len(self)) if ids is None else [int(i) for i in ids]
        texts = [self.text[i] for i in rows]
        html = [
            "<html><head><title>"
            + t.split("\n", 1)[0][:60]
            + "</title></head><body>"
            + "".join(f"<p>{ln}</p>" for ln in t.split("\n"))
            + "</body></html>"
            for t in texts
        ]
        return pa.table(
            {
                "doc_id": pa.array([int(self.doc_id[i]) for i in rows], pa.int64()),
                "url": [self.url[i] for i in rows],
                "warc_ts": pa.array(
                    [_EPOCH + _dt.timedelta(seconds=int(i) * 37) for i in rows],
                    pa.timestamp("us"),
                ),
                "html": pa.array([h.encode("utf-8") for h in html], pa.binary()),
                "text": texts,
                "lang": [self.lang[i] for i in rows],
            }
        )

    def write_parquet(self, path: str, ids: np.ndarray | None = None) -> None:
        import pyarrow.parquet as pq

        pq.write_table(self.table(ids), path, row_group_size=4096)


class _Vocab:
    """Seed-permuted scripts: rank -> surface form, Zipf over each."""

    def __init__(self, rng: np.random.Generator):
        self.latin_perm = int(rng.integers(1, LATIN_WORDS)) | 1
        while np.gcd(self.latin_perm, LATIN_WORDS) != 1:
            self.latin_perm += 2
        self.latin_off = int(rng.integers(0, LATIN_WORDS))
        self.han = rng.choice(0x9FA5 - 0x4E00, HAN_CHARS, replace=False) + 0x4E00
        self.hangul = rng.choice(11172, HANGUL_SYLLABLES, replace=False) + 0xAC00
        self.z_latin = _Zipf(LATIN_WORDS)
        self.z_han = _Zipf(HAN_CHARS)
        self.z_hangul = _Zipf(HANGUL_SYLLABLES)
        self.z_kana = _Zipf(len(_KANA))

    def latin(self, rank: int) -> str:
        i = (rank * self.latin_perm + self.latin_off) % LATIN_WORDS + 100
        out = []
        while i:
            i, d = divmod(i, 100)
            out.append(_SYLLABLES[d])
        return "".join(out)


def _line(rng: np.random.Generator, v: _Vocab, lang: str, n: int) -> str:
    if lang == "en":
        ranks = v.z_latin.draw(rng, n)
        stop = rng.random(n) < 0.12
        return " ".join(
            STOPWORDS[r % len(STOPWORDS)] if s else v.latin(int(r))
            for r, s in zip(ranks, stop)
        )
    if lang == "ko":
        syl = v.hangul[v.z_hangul.draw(rng, 2 * n)]
        cuts = np.cumsum(rng.integers(1, 4, n))
        cuts = cuts[cuts < len(syl)]
        words = np.split(syl, cuts)
        return " ".join("".join(map(chr, w)) for w in words if len(w))
    han = v.han[v.z_han.draw(rng, 2 * n)]
    if lang == "zh":
        chars = [chr(c) for c in han]
    else:  # ja: kana runs with Han mixed in
        kana = v.z_kana.draw(rng, 2 * n)
        pick = rng.random(2 * n) < 0.6
        chars = [_KANA[k] if p else chr(h) for k, h, p in zip(kana, han, pick)]
    out = []
    i = 0
    while i < len(chars):
        run = int(rng.integers(4, 16))
        out.append("".join(chars[i : i + run]))
        i += run
    return ("，" if lang == "zh" else "、").join(out) + "。"


def make_corpus(seed: int, n_docs: int, boilerplate_share: float) -> Corpus:
    """``n_docs`` documents with dense ids ``0..n_docs-1``; pure in ``seed``."""
    rng = np.random.default_rng([seed, 0x5EED])
    v = _Vocab(rng)
    boiler_line = " ".join(v.latin(int(r)) for r in rng.integers(0, 50_000, 14))
    rng = np.random.default_rng([seed, n_docs])
    langs = list(LANG_MIX)
    lang_idx = rng.choice(len(langs), n_docs, p=list(LANG_MIX.values()))
    lengths = np.clip(
        rng.lognormal(np.log(MEAN_TOKENS), 0.7, n_docs), 6, 25 * MEAN_TOKENS
    ).astype(int)
    boiler = rng.random(n_docs) < boilerplate_share
    texts, urls = [], []
    for d in range(n_docs):
        lang = langs[lang_idx[d]]
        left = int(lengths[d])
        lines = []
        while left > 0:
            n = min(left, int(rng.integers(6, 20)))
            ll = langs[int(rng.integers(0, 4))] if lang == "mixed" else lang
            lines.append(_line(rng, v, ll, n))
            left -= n
        if boiler[d]:
            lines.insert(int(rng.integers(0, len(lines) + 1)), boiler_line)
        texts.append("\n".join(lines))
        urls.append(f"https://site{int(rng.integers(0, 500))}.example/{d}.html")
    return Corpus(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=texts,
        lang=[langs[i] for i in lang_idx],
        url=urls,
        boiler=boiler,
        boiler_line=boiler_line,
    )


@dataclass
class Truth:
    """Kernel-tokenized view of a corpus (query.oracle semantics)."""

    docs: dict[int, tuple[int, dict[str, list[int]]]]  # id -> (doclen, term -> positions)
    df: dict[str, int] = field(default_factory=dict)
    total_tf: int = 0

    @property
    def n_postings(self) -> int:
        return sum(self.df.values())

    def stats(self) -> dict:
        return {
            "n_docs": len(self.docs),
            "n_postings": self.n_postings,
            "total_tf": self.total_tf,
            "n_terms": len(self.df),
        }

    @classmethod
    def from_docs(cls, docs) -> "Truth":
        t = cls(docs=docs)
        df: dict[str, int] = {}
        for dl, tmap in docs.values():
            t.total_tf += dl
            for term in tmap:
                df[term] = df.get(term, 0) + 1
        t.df = df
        return t


def tokenize_corpus(corpus: Corpus) -> Truth:
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes

    docs = {}
    for did, text in zip(corpus.doc_id, corpus.text):
        lex = lexemes(text)
        tmap: dict[str, list[int]] = {}
        for term, pos in lex:
            tmap.setdefault(term, []).append(pos)
        docs[int(did)] = (len(lex), tmap)
    return Truth.from_docs(docs)


# ---------------------------------------------------------------- queries

BANDS = ("head", "mid", "tail")
SHAPES = ("term", "and", "phrase", "or", "rank_cd")


@dataclass(frozen=True)
class Query:
    text: str
    mode: str
    shape: str
    band: str

    @property
    def rank_cd(self) -> bool:
        return self.shape == "rank_cd"


def _bands(truth: Truth) -> dict[str, list[str]]:
    """Terms split by document frequency: the top 1% of terms by df,
    terms with df >= 5 below that, and terms with df 2-4."""
    terms = sorted(truth.df, key=lambda t: (-truth.df[t], t))
    n_head = max(20, len(terms) // 100)
    head = terms[:n_head]
    mid = [t for t in terms[n_head:] if truth.df[t] >= 5]
    tail = [t for t in terms[n_head:] if 2 <= truth.df[t] <= 4]
    return {"head": head, "mid": mid, "tail": tail}


def _quote(term: str) -> str:
    return "'" + term.replace("'", "''") + "'"


def make_queries(seed: int, truth: Truth, n: int) -> list[Query]:
    """``n`` queries cycling through shapes and bands, each anchored on a
    document that contains all its terms, so every query matches.  A
    candidate whose re-parse does not give back the anchor's lexemes
    (the stemmer is not idempotent on every stem) is skipped."""
    from pg_cjk_parser_spark.query.topk import parse_query

    rng = np.random.default_rng([seed, 0xA5])
    bands = _bands(truth)
    holder: dict[str, int] = {}
    by_pos: dict[int, dict[int, str]] = {}
    for did, (_dl, tmap) in truth.docs.items():
        for term in tmap:
            holder.setdefault(term, did)
    out: list[Query] = []
    tries = 0
    while len(out) < n and tries < 50 * n:
        tries += 1
        # 5 shapes x 3 bands are coprime cycles: any 15 consecutive
        # queries hold every (shape, band) pair once
        shape = SHAPES[len(out) % len(SHAPES)]
        band = BANDS[len(out) % len(BANDS)]
        pool = bands[band]
        if not pool:
            continue
        anchor = pool[int(rng.integers(0, len(pool)))]
        did = holder[anchor]
        tmap = truth.docs[did][1]
        others = [t for t in tmap if t != anchor]
        if shape == "term":
            terms, q = [anchor], _quote(anchor)
        elif shape in ("and", "rank_cd"):
            k = int(rng.integers(1, 4)) if shape == "and" else 1
            if len(others) < k:
                continue
            pick = rng.choice(len(others), k, replace=False)
            terms = [anchor] + [others[int(i)] for i in pick]
            q = " & ".join(_quote(t) for t in terms)
        elif shape == "phrase":
            if did not in by_pos:
                by_pos[did] = {p: t for t, ps in tmap.items() for p in ps}
            p = tmap[anchor][0]
            nxt = by_pos[did].get(p + 1)
            if nxt is None:
                continue
            terms = [anchor, nxt]
            q = f"{_quote(anchor)} <-> {_quote(nxt)}"
        else:  # or: the anchor or a term from another band
            ob = bands[BANDS[(BANDS.index(band) + 1) % 3]]
            if not ob:
                continue
            other = ob[int(rng.integers(0, len(ob)))]
            terms = [anchor, other]
            q = f"{_quote(anchor)} | {_quote(other)}"
        try:
            pq = parse_query(q, "tsquery")
        except ValueError:
            continue
        if sorted(set(terms)) != pq.all_terms:
            continue
        out.append(Query(q, "tsquery", shape, band))
    if len(out) < n:
        raise RuntimeError(f"query generator produced {len(out)} of {n} queries")
    return out
