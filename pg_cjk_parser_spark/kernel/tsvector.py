"""tsvector / tsquery semantics over the tokenizer kernel.

Reproduces the PostgreSQL FTS pipeline the reference plugs into, with
the reference CI's search configuration (/root/reference/postgres-16.sh:14-58):

* every token type except ``blank`` (12) is mapped to a dictionary;
* ``asciiword`` (1) -> ``english_stem`` (lowercase + Snowball English
  stemmer + English stopword list; a stopword consumes a position but
  emits no lexeme);
* every other mapped type -> ``simple`` (lowercase).

Positions are 1-based over mapped tokens only (blanks and swallowed
CJK run-tails never consume a position), clamped to PG's limits
(MAXENTRYPOS=16383 and at most 256 positions per lexeme).
"""

from __future__ import annotations

from dataclasses import dataclass

from .fsm import ASCIIWORD, SPACE_T, Parser
from .stem import stem
from .stopwords import ENGLISH_STOPWORDS

MAXENTRYPOS = (1 << 14) - 1   # 16383
MAXNUMPOS = 256
MAXSTRLEN = (1 << 11) - 1     # 2047; PG parsetext skips lexemes >= this
#                               (so tokens up to 2046 bytes index)


def _english_stem(low: str) -> list[str]:
    """The english_stem dictionary core over an already-lowercased
    token: stopwords emit nothing, everything else stems.  Shared by
    the indexing path (:func:`lexize`) and :func:`ts_lexize` so the
    two can never drift."""
    if low in ENGLISH_STOPWORDS:
        return []
    return [stem(low)]


def lexize(text: str, ttype: int) -> list[str] | None:
    """Map a raw token to lexemes.

    Returns ``None`` for unmapped types (no position consumed), ``[]``
    for stopwords (position consumed, nothing indexed), else the
    normalized lexemes.
    """
    if ttype == SPACE_T or ttype <= 0:
        return None
    if len(text.encode("utf-8", "surrogatepass")) >= MAXSTRLEN:
        return None
    low = text.lower()
    if ttype == ASCIIWORD:
        return _english_stem(low)
    return [low]


def ts_lexize(dictionary: str, token: str) -> list[str]:
    """PG ``ts_lexize(regdictionary, token)``: run ONE dictionary on
    a bare token, no parsing.  ``english_stem`` lowercases, drops
    stopwords (empty array - position consumed, nothing indexed) and
    Snowball-stems; ``simple`` just lowercases.  An unknown
    dictionary raises, mirroring PG's regdictionary lookup error.
    (PG returns NULL only for dictionaries that can decline a token -
    ispell/thesaurus, which need external dictionary files this
    engine does not ship; both supported dictionaries accept any
    input, so None never occurs here.)"""
    d = dictionary.removeprefix("pg_catalog.")
    low = token.lower()
    if d == "english_stem":
        return _english_stem(low)
    if d == "simple":
        return [low]
    raise ValueError(
        f"unknown dictionary {dictionary!r}; available: "
        "english_stem, simple"
    )


def iter_lexemes(s: str):
    """Yield (lexeme, position) pairs for a document string."""
    p = Parser(s)
    pos = 0
    while True:
        tok = p.next_token()
        if tok is None:
            return
        lex = lexize(tok.text(s), tok.type)
        if lex is None:
            continue
        pos += 1
        cpos = min(pos, MAXENTRYPOS)
        for term in lex:
            yield term, cpos


def to_tsvector(s: str) -> dict[str, list[int]]:
    """lexeme -> ascending position list (PG-equivalent tsvector)."""
    out: dict[str, list[int]] = {}
    for term, pos in iter_lexemes(s):
        lst = out.setdefault(term, [])
        if len(lst) < MAXNUMPOS and (not lst or lst[-1] != pos):
            lst.append(pos)
    return out


def tsvector_str(v: dict[str, list[int]]) -> str:
    """Render like PG: 'lex':p1,p2 ... sorted by lexeme."""
    parts = []
    for term in sorted(v):
        ps = ",".join(str(p) for p in v[term])
        parts.append(f"'{term}':{ps}")
    return " ".join(parts)


# --- tsquery -------------------------------------------------------------


@dataclass
class Phrase:
    """A phrase chain: [(lexeme, offset)] where offsets come from the
    positions the operand's tokens received, so stopwords inside a
    phrase leave distance gaps (PG `<N>` semantics)."""

    items: list[tuple[str, int]]


@dataclass
class Prefix:
    """A prefix-match operand (PG ``'lex':*``): matches any tsvector
    lexeme starting with ``term``.  The operand text runs through the
    same dictionary pipeline first (PG behavior: ``to_tsquery('english',
    'running:*')`` stems to ``'run':*``), so ``term`` is a normalized
    lexeme prefix.  Only single-lexeme operands may carry ``:*``."""

    term: str


@dataclass
class And:
    children: list


@dataclass
class Or:
    children: list


@dataclass
class Not:
    child: object


def _operand_to_node(text: str) -> Phrase | None:
    """Run an operand string through the SAME parser; multiple lexemes
    become a phrase chain (reference behavior: to_tsquery('のび太') =
    'のび' <-> 'び太', /root/reference/postgres-16.sh:62)."""
    items = [(term, pos) for term, pos in iter_lexemes(text)]
    if not items:
        return None
    base = items[0][1]
    return Phrase([(t, p - base) for t, p in items])


def plainto_tsquery(q: str) -> And | Phrase | None:
    """AND of phrase chains, one per whitespace-separated chunk."""
    nodes = [n for chunk in q.split() if (n := _operand_to_node(chunk))]
    if not nodes:
        return None
    if len(nodes) == 1:
        return nodes[0]
    return And(nodes)


def websearch_to_tsquery(q: str):
    """PG ``websearch_to_tsquery``: web-search-engine-style syntax
    (to_tsvector.c ``parse_websearch``-equivalent surface behavior):

    * unquoted text: AND of its operands, like :func:`plainto_tsquery`
      (each parser chunk that yields multiple lexemes becomes a
      phrase chain, matching this module's plainto semantics);
    * ``"quoted text"``: a phrase chain over the quoted content, with
      stopword-consumed positions leaving ``<N>`` gaps;
    * ``or`` (case-insensitive, standalone, unquoted): OR at the
      lowest precedence;
    * ``-`` immediately before a word or quote start: NOT on that
      operand (a ``-`` inside a word is ordinary text, so hyphen
      compounds still reach the parser);
    * any other tsquery punctuation (``& | ! ( ) < >``) is plain
      text for the parser, never an operator.

    Never raises on malformed input (PG guarantee): unbalanced
    quotes run to end-of-string, dangling ``or``/``-`` and empty
    groups are dropped.  Returns ``None`` for a query with no
    positive or negative operands.
    """
    groups: list[list] = [[]]  # OR-separated groups of AND units

    def emit(node, negate: bool):
        if node is None:
            return
        groups[-1].append(Not(node) if negate else node)

    i, n = 0, len(q)
    negate = False
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
            continue
        if c == '"':
            j = q.find('"', i + 1)
            if j < 0:
                j = n
            emit(_operand_to_node(q[i + 1 : j]), negate)
            negate = False
            i = j + 1
            continue
        if c == "-" and i + 1 < n and not q[i + 1].isspace():
            negate = True
            i += 1
            continue
        # a run of unquoted text up to the next quote / minus-at-
        # word-start / end; split out standalone "or" words
        j = i
        while j < n and q[j] != '"' and not (
            q[j] == "-"
            and (j == 0 or q[j - 1].isspace())
            and j + 1 < n
            and not q[j + 1].isspace()
        ):
            j += 1
        for chunk in q[i:j].split():
            if chunk.lower() == "or" and not negate:
                if groups[-1]:
                    groups.append([])
                continue
            emit(_operand_to_node(chunk), negate)
            negate = False
        i = j
    nodes = []
    for g in groups:
        if not g:
            continue
        nodes.append(g[0] if len(g) == 1 else And(g))
    if not nodes:
        return None
    if len(nodes) == 1:
        return nodes[0]
    return Or(nodes)


def to_tsquery(q: str):
    """Minimal to_tsquery: supports & | ! ( ) <-> <N> and quoted or bare
    operands; a bare multi-token operand becomes a phrase chain."""
    tokens = _tq_lex(q)
    node, rest = _tq_parse_or(tokens)
    if rest:
        raise ValueError(f"trailing tsquery tokens: {rest!r}")
    return node


def _tq_lex(q: str) -> list[str]:
    out, i, n = [], 0, len(q)
    while i < n:
        c = q[i]
        if c.isspace():
            i += 1
        elif c in "&|!()":
            out.append(c)
            i += 1
        elif c == "<":
            j = q.index(">", i)
            out.append(q[i : j + 1])
            i = j + 1
        elif c == "'":
            j = q.index("'", i + 1)
            tok = "'" + q[i + 1 : j]
            i = j + 1
            if q[i : i + 2] == ":*":
                tok += ":*"
                i += 2
            out.append(tok)
        else:
            j = i
            while j < n and q[j] not in "&|!()<'" and not q[j].isspace():
                j += 1
            out.append("'" + q[i:j])
            i = j
    return out


def _tq_parse_or(toks):
    left, toks = _tq_parse_and(toks)
    while toks and toks[0] == "|":
        right, toks = _tq_parse_and(toks[1:])
        left = Or([left, right])
    return left, toks


def _tq_parse_and(toks):
    left, toks = _tq_parse_phrase(toks)
    while toks and toks[0] == "&":
        right, toks = _tq_parse_phrase(toks[1:])
        left = And([left, right])
    return left, toks


def _tq_parse_phrase(toks):
    left, toks = _tq_parse_atom(toks)
    while toks and toks[0].startswith("<") and toks[0].endswith(">"):
        op = toks[0]
        dist = 1 if op == "<->" else int(op[1:-1])
        right, toks = _tq_parse_atom(toks[1:])
        left = _phrase_join(left, right, dist)
    return left, toks


def _phrase_join(a, b, dist: int) -> Phrase:
    if not isinstance(a, Phrase) or not isinstance(b, Phrase):
        raise ValueError("phrase operator over non-phrase operands")
    off = max(p for _, p in a.items) + dist
    return Phrase(a.items + [(t, p + off) for t, p in b.items])


def _tq_parse_atom(toks):
    if not toks:
        raise ValueError("empty tsquery operand")
    t = toks[0]
    if t == "!":
        child, rest = _tq_parse_atom(toks[1:])
        return Not(child), rest
    if t == "(":
        node, rest = _tq_parse_or(toks[1:])
        if not rest or rest[0] != ")":
            raise ValueError("unbalanced parens in tsquery")
        return node, rest[1:]
    if t.startswith("'"):
        text = t[1:]
        if text.endswith(":*"):
            node = _operand_to_node(text[:-2])
            if node is None:
                raise ValueError(
                    f"prefix operand {text[:-2]!r} produced no lexemes"
                )
            if len(node.items) != 1:
                raise ValueError(
                    "prefix match (:*) is supported on single-lexeme "
                    f"operands only; {text[:-2]!r} produced a phrase"
                )
            return Prefix(node.items[0][0]), toks[1:]
        node = _operand_to_node(text)
        if node is None:
            raise ValueError(f"operand {text!r} produced no lexemes")
        return node, toks[1:]
    raise ValueError(f"unexpected tsquery token {t!r}")


def tsquery_str(node) -> str:
    if isinstance(node, Prefix):
        return f"'{node.term}':*"
    if isinstance(node, Phrase):
        if len(node.items) == 1:
            return f"'{node.items[0][0]}'"
        parts = []
        prev = None
        for t, p in node.items:
            if prev is not None:
                d = p - prev
                parts.append("<->" if d == 1 else f"<{d}>")
            parts.append(f"'{t}'")
            prev = p
        return " ".join(parts)
    if isinstance(node, And):
        return " & ".join(_paren(c) for c in node.children)
    if isinstance(node, Or):
        return " | ".join(_paren(c) for c in node.children)
    if isinstance(node, Not):
        return "!" + _paren(node.child)
    return "<empty>"


def _paren(n) -> str:
    s = tsquery_str(n)
    return f"( {s} )" if isinstance(n, (And, Or)) else s


def tsquery_and(a, b):
    """PG ``tsquery && tsquery``."""
    if a is None:
        return b
    if b is None:
        return a
    return And([a, b])


def tsquery_or(a, b):
    """PG ``tsquery || tsquery``."""
    if a is None:
        return b
    if b is None:
        return a
    return Or([a, b])


def tsquery_not(a):
    """PG ``!! tsquery``."""
    return None if a is None else Not(a)


def tsquery_phrase(a, b, distance: int = 1):
    """PG ``tsquery_phrase(a, b [, distance])`` / ``a <-> b``: both
    operands must be phrase-compatible (lexemes or chains)."""
    if a is None or b is None:
        return a if b is None else b
    return _phrase_join(a, b, distance)


def _qtn_key(node):
    """Canonical comparison key (PG QTNode sort): commutative
    operators flatten and sort their children, so 'a & b' == 'b & a'
    and nested same-op trees compare equal."""
    if node is None:
        return ("empty",)
    if isinstance(node, Phrase):
        return ("phrase", tuple(node.items))
    if isinstance(node, Prefix):
        return ("prefix", node.term)
    if isinstance(node, Not):
        return ("not", _qtn_key(node.child))
    op = "and" if isinstance(node, And) else "or"
    keys = []
    for c in node.children:
        ck = _qtn_key(c)
        if ck[0] == op:
            keys.extend(ck[1])
        else:
            keys.append(ck)
    return (op, tuple(sorted(keys)))


def ts_rewrite(query, target, substitute):
    """PG ``ts_rewrite(query, target, substitute)``: replace every
    subtree of ``query`` equal to ``target`` (up to commutative
    reordering) with ``substitute``; for AND/OR nodes a target with
    the same operator also matches a SUBSET of the children ('xx &
    yy & zz' rewritten by 'xx & zz' -> 'sub' leaves 'yy & sub'), the
    synonym-table semantics.  One bottom-up pass."""
    tkey = _qtn_key(target)

    def walk(n):
        if n is None:
            return None
        if isinstance(n, (And, Or)):
            op = And if isinstance(n, And) else Or
            kids = []
            for c in n.children:
                w = walk(c)
                # flatten nested same-op nodes (PG QTN normalization)
                # so subset matching sees the full operand list
                if isinstance(w, op):
                    kids.extend(w.children)
                else:
                    kids.append(w)
            n = op(kids)
            if _qtn_key(n) == tkey:
                return substitute
            if isinstance(target, type(n)):
                to_drop = list(_qtn_key(target)[1])
                remaining = []
                for c in kids:
                    ck = _qtn_key(c)
                    if ck in to_drop:
                        to_drop.remove(ck)
                    else:
                        remaining.append(c)
                if not to_drop and remaining:  # strict multiset subset
                    remaining.append(substitute)
                    return (
                        remaining[0]
                        if len(remaining) == 1
                        else op(remaining)
                    )
            return n
        if isinstance(n, Not):
            n = Not(walk(n.child))
            return substitute if _qtn_key(n) == tkey else n
        return substitute if _qtn_key(n) == tkey else n

    return walk(query)


def numnode(node) -> int:
    """PG ``numnode(tsquery)``: total QueryItems - one per operand
    lexeme plus one per operator (a phrase chain of n lexemes is n
    operands + n-1 phrase operators; n-ary And/Or count n-1 binary
    operators, PG's tree being strictly binary)."""
    if node is None:
        return 0
    if isinstance(node, Prefix):
        return 1
    if isinstance(node, Phrase):
        return 2 * len(node.items) - 1
    if isinstance(node, (And, Or)):
        return (len(node.children) - 1) + sum(
            numnode(c) for c in node.children
        )
    if isinstance(node, Not):
        return 1 + numnode(node.child)
    return 0


def querytree(node) -> str:
    """PG ``querytree(tsquery)``: the portion usable for an index
    scan - negated subtrees are removed (an And keeps its remaining
    children; an Or with a removed child is removed entirely); an
    empty result renders as ``T`` (matches everything)."""

    def clean(n):
        if n is None or isinstance(n, Not):
            return None
        if isinstance(n, And):
            kept = [c for c in (clean(x) for x in n.children) if c]
            if not kept:
                return None
            return kept[0] if len(kept) == 1 else And(kept)
        if isinstance(n, Or):
            kept = [clean(x) for x in n.children]
            if any(c is None for c in kept):
                return None
            return Or(kept)
        return n

    cleaned = clean(node)
    return "T" if cleaned is None else tsquery_str(cleaned)


def query_terms(node) -> set[str]:
    """All positive EXACT lexemes referenced by a query (for
    scoring).  Prefix operands are not statically enumerable -
    expand them against a dictionary first (query/topk.py does on
    the index path)."""
    if node is None:
        return set()
    if isinstance(node, Prefix):
        return set()
    if isinstance(node, Phrase):
        return {t for t, _ in node.items}
    if isinstance(node, (And, Or)):
        out: set[str] = set()
        for c in node.children:
            out |= query_terms(c)
        return out
    if isinstance(node, Not):
        return set()
    return set()


def query_terms_all(node) -> set[str]:
    """Every lexeme in the query incl. negated subtrees (for index
    lookup: evaluating !term needs term's posting list)."""
    if node is None:
        return set()
    if isinstance(node, Prefix):
        return set()
    if isinstance(node, Phrase):
        return {t for t, _ in node.items}
    if isinstance(node, (And, Or)):
        out: set[str] = set()
        for c in node.children:
            out |= query_terms_all(c)
        return out
    if isinstance(node, Not):
        return query_terms_all(node.child)
    return set()


def ts_match(v: dict[str, list[int]], node) -> bool:
    """The @@ operator: does tsvector v satisfy the query?"""
    if node is None:
        return False
    if isinstance(node, Prefix):
        return any(t.startswith(node.term) for t in v)
    if isinstance(node, Phrase):
        return _phrase_match(v, node)
    if isinstance(node, And):
        return all(ts_match(v, c) for c in node.children)
    if isinstance(node, Or):
        return any(ts_match(v, c) for c in node.children)
    if isinstance(node, Not):
        return not ts_match(v, node.child)
    return False


def _phrase_match(v: dict[str, list[int]], ph: Phrase) -> bool:
    first_t, first_off = ph.items[0]
    if first_t not in v:
        return False
    if len(ph.items) == 1:
        # plain existence: matches even a stripped (position-less)
        # tsvector, PG semantics (phrases below never do)
        return True
    # build each item's position set ONCE, not per candidate base
    possets = {}
    for t, _ in ph.items:
        if t not in possets:
            ps = v.get(t)
            if not ps:
                return False
            possets[t] = set(ps)
    for p in v[first_t]:
        base = p - first_off
        if all(base + off in possets[t] for t, off in ph.items):
            return True
    return False
