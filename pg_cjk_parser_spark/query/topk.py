"""Top-k query engine over the partitioned inverted index: BM25, and
index-path ``ts_rank`` / ``ts_rank_cd`` bit-identical to the kernel.

The seven public entry points are thin wrappers over one executor:

1. **Query spec** (:class:`_QuerySpec`): kind (``bm25`` | ``rank`` |
   ``rank_cd``), parsed query, idf map and normalization ``method``.
   Routing tokenizes with the SAME kernel, buckets each term
   driver-side with a bit-identical pure-Python xxhash64 (no Spark
   job) and reads df from the pruned termstats shards.  Method bits
   are checked before routing, the query shape once a query routes;
   a query that routes to nothing is dropped, never rejected.
2. **Per-salt scorer** (:func:`_score_group`): salt is a hash of
   docid, so one salt group's blocks answer each spec LOCALLY with no
   further shuffle.  The group's blocks are split per term, and each
   term's surviving blocks decode with ONE call of the library's one
   block decoder, ``codec.decode_blocks`` (:class:`_TermList`), which
   also drops tombstoned versions and rejects a corrupt block by
   name.  Conjunctive (phrase/AND) queries share one rarest-first
   intersection (:func:`_intersect`) that skips blocks whose
   [min_docid, max_docid] range cannot overlap the candidates, then
   recheck phrases or rank from positions decoded for the candidates
   only.  Flat-OR BM25 prunes blocks WAND-style against the running
   per-group threshold; other boolean trees are evaluated
   set-theoretically.
3. **Runners**, both over one pyarrow block read
   (:func:`_read_blocks_local`: term IN-list, optionally ``salt ==
   s``, pushed into row-group pruning; block epochs from
   ``path_epoch``).  Blocks stay an Arrow table from the read to the
   decoder.  :func:`_run_spark` launches one task per salt
   (``spark.range(S)`` with S partitions into ``mapInArrow``); each
   task reads only its salt's blocks and scores every spec, so there
   is no parquet scan and no exchange before the merge.
   :func:`_run_local` (serving tier: no Spark job) reads once, splits
   the table by salt and merges on the driver.

The Spark runner picks the global merge from what the caller passed.
A query string keeps ``orderBy(value desc, docid).limit(k)`` over
<= S*k rows: a lazy plan of one job with no shuffle.
A list of Q queries runs its one job (one stage, one task per salt)
when the function is called.  It collects the <= S*k*Q per-salt rows
as Arrow, cuts each query's top-k on the driver with one lexsort
(:func:`_merge_topk`, shared with the local runner) and returns the
<= Q*k rows as a local DataFrame, so collecting it launches no job.

BM25 uses k1/b from the index stats, idf = ln((N-df+0.5)/(df+0.5)+1).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel.tsvector import (
    MAXENTRYPOS,
    And,
    Not,
    Or,
    Phrase,
    Prefix,
    plainto_tsquery,
    query_terms,
    query_terms_all,
    to_tsquery,
)
from ..index.codec import decode_blocks, gather_positions
from ..index.tombstones import (
    epoch_dir_layout,
    epoch_name,
    load_tombstones,
    path_epoch,
    snapshot_epochs,
)


def _index_version(index_dir: str):
    """Version key for an index: the stats.json file's identity.
    stats.json is the snapshot - every mutation that changes what
    readers serve (append, upsert epoch, compact, merge) commits by
    atomically replacing it, and no reader serves an epoch it does
    not list.  Tombstones deliberately do not bump it - the
    dictionary df stays frozen until compaction (live-docs
    semantics), so cached df values remain correct."""
    try:
        st = os.stat(os.path.join(index_dir, "stats.json"))
    except OSError:
        return None
    return st.st_mtime_ns, st.st_ino, st.st_size


_STATS_CACHE: dict = {}
_DF_CACHE: dict = {}
_DF_CACHE_MAX_TERMS = 1 << 16


def load_stats(index_dir: str) -> dict:
    """stats.json, cached per index version - the serving tier reads
    it on every point query, and a real serving fleet would hold this
    catalog state resident (PG keeps it in shared catalogs).

    Raises on an index of the older top-level layout
    (``postings/bucket=N``): every shard now lives under an
    ``epoch=`` dir, so its postings would never be read and queries
    would silently return nothing."""
    ver = _index_version(index_dir)
    hit = _STATS_CACHE.get(index_dir)
    if hit is not None and hit[0] == ver:
        return dict(hit[1])
    with open(os.path.join(index_dir, "stats.json")) as f:
        stats = json.load(f)
    try:
        names = os.listdir(os.path.join(index_dir, "postings"))
    except OSError:
        names = []
    if any(n.startswith("bucket=") for n in names):
        raise ValueError(
            f"{index_dir}: postings/bucket= dirs are an index written by "
            "an older layout; rebuild it with build_index"
        )
    if len(_STATS_CACHE) > 256:
        _STATS_CACHE.clear()
    _STATS_CACHE[index_dir] = (ver, stats)
    return dict(stats)


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def term_buckets(terms: list[str], num_buckets: int) -> dict[str, int]:
    """Bucket per term, driver-side (bit-identical with Spark's
    pmod(xxhash64(term), B) used at build; no Spark job)."""
    from ..index.xxh64 import pmod, spark_xxhash64_str

    return {t: pmod(spark_xxhash64_str(t), num_buckets) for t in terms}


def _shard_paths(index_dir: str, subdir: str, bset, stats) -> list[str]:
    """Scoped scan paths for the pruned bucket set under ``subdir``
    (postings or termstats): the ``bucket=`` dirs of nested epochs and
    whole flat epoch dirs, of exactly the epoch generations the
    snapshot ``stats`` lists.  Listing the whole tree per query would
    cost O(index size) directory discovery - prohibitive on object
    storage at corpus scale; instead paths are constructed from the
    routing result and the snapshot, so per-query listing is
    O(|q| buckets x epochs)."""
    pdir = os.path.join(index_dir, subdir)
    paths = []
    for e, g in sorted(snapshot_epochs(stats).items()):
        ebase = os.path.join(pdir, epoch_name(e, g))
        nested = [
            p
            for p in (os.path.join(ebase, f"bucket={b}") for b in bset)
            if os.path.isdir(p)
        ]
        if nested:
            paths += nested
        elif epoch_dir_layout(ebase) == "flat":
            # flat per-epoch shard (small appends): one plain
            # directory, bucket carried as a data column; term/bucket
            # filters prune at the row-group level instead of by dir.
            # Directory-level bucket pruning is deliberately traded
            # away here - a small epoch is one small file, and
            # maintain_index folds it into the nested layout
            paths.append(ebase)
    return paths


def expand_prefix(
    index_dir: str, prefix: str, stats, max_terms: int = 1000
) -> list[str]:
    """Dictionary scan for ``'prefix':*``: every indexed lexeme
    starting with ``prefix``, from the metadata-only termstats shards.

    A prefix does not hash, so unlike exact terms this reads ALL
    buckets - but only their termstats (~1/block_size of postings
    volume) with a pushed-down range filter, the same dictionary walk
    PostgreSQL's GIN does over its term btree.  Bounded by
    ``max_terms`` so a one-letter prefix over a web-scale dictionary
    fails loudly instead of fanning out into a thousand-way OR."""
    import pyarrow.dataset as ds

    bset = list(range(stats["num_buckets"]))
    paths = _shard_paths(index_dir, "termstats", bset, stats)
    flt = ds.field("term") >= prefix
    nxt = ord(prefix[-1]) + 1
    if nxt == 0xD800:  # skip the surrogate block (unencodable)
        nxt = 0xE000
    if nxt <= 0x10FFFF:
        flt = flt & (ds.field("term") < prefix[:-1] + chr(nxt))
    out: set[str] = set()
    for p in paths:
        tbl = ds.dataset(p).to_table(columns=["term"], filter=flt)
        for t in tbl["term"].to_pylist():
            if t.startswith(prefix):
                out.add(t)
        if len(out) > max_terms:
            raise ValueError(
                f"prefix '{prefix}:*' matches more than {max_terms} "
                "indexed lexemes; narrow the prefix or raise max_terms"
            )
    return sorted(out)


def _read_termstats(
    index_dir: str, bset: list[int], terms: list[str], stats, ver=None
):
    """Point-lookup df per term from the pruned termstats shards,
    with a per-index-version dictionary cache (including negative
    entries): repeated or overlapping queries skip the parquet point
    reads entirely - the serving analog of PG keeping the GIN term
    btree's hot pages in shared_buffers.  Tombstones don't invalidate
    it (df is deliberately frozen until compaction); every structural
    mutation bumps the version key (its snapshot commit rewrites
    stats.json).  ``ver`` must be the version snapshot taken BEFORE ``stats``
    was loaded (see _route) so a concurrent append landing in between
    caches its possibly-stale reads under the OLD key, which the next
    query's fresh version replaces - never under the new one.

    Driver-side pyarrow read on miss (a few bucket directories,
    term-filtered): on a cluster this is the same object-store point
    read, no executor round-trip needed for a |q|-row lookup.
    """
    import pyarrow.dataset as ds

    ver = (index_dir, ver if ver is not None else _index_version(index_dir))
    cached = _DF_CACHE.get(ver)
    if cached is None:
        if len(_DF_CACHE) > 8:
            _DF_CACHE.clear()
        cached = _DF_CACHE[ver] = {}
    missing = [t for t in terms if t not in cached]
    if missing:
        paths = _shard_paths(index_dir, "termstats", bset, stats)
        found: dict[str, int] = {}
        # per-path reads, each a tiny term-filtered point read: a
        # nested epoch's bucket dir holds (term, df, cf) files, a flat
        # epoch's dir (small appends) one file that also carries
        # bucket as a data column; df and cf are int64 in both
        for p in paths:
            tbl = ds.dataset(p).to_table(
                columns=["term", "df"],
                filter=ds.field("term").isin(missing),
            )
            for t, d in zip(
                tbl["term"].to_pylist(), tbl["df"].to_pylist()
            ):
                found[t] = found.get(t, 0) + int(d)
        if len(cached) + len(missing) > _DF_CACHE_MAX_TERMS:
            cached.clear()
        for t in missing:
            cached[t] = found.get(t, 0)  # 0 = negative entry
    return {t: cached[t] for t in terms if cached[t] > 0}


@dataclass
class ParsedQuery:
    tree: object
    terms: list[str]            # unique positive terms (scored)
    all_terms: list[str]        # incl. negated (fetched from the index)
    phrases: list[list[tuple[str, int]]]  # conjunctive phrase chains
    conjunctive: bool
    # PRE-expansion operand groups for calc_rank_or parity: one entry
    # per unique query item (a prefix counts as ONE item whose group
    # is its dictionary expansion; an exact term is a singleton),
    # sorted by operand text - tsrank.c divides the or-path rank by
    # the ITEM count, not the expanded-lexeme count
    or_groups: list[list[str]] | None = None


def _reduces_to_complement(node) -> bool:
    """True when the tree matches the COMPLEMENT of an enumerable doc
    set (mirrors _eval_tree's complement algebra: And is a complement
    iff every child is, Or iff any child is).  Such queries ('!a',
    'a | !b') match every document outside a set and need a full
    corpus scan, which the index path cannot do - reject them at
    parse time instead of failing inside the scoring job."""
    if isinstance(node, Not):
        return not _reduces_to_complement(node.child)
    if isinstance(node, And):
        return all(_reduces_to_complement(c) for c in node.children)
    if isinstance(node, Or):
        return any(_reduces_to_complement(c) for c in node.children)
    return False  # Phrase / term leaf


_IMPOSSIBLE_LEXEME = "\x00"  # the tokenizer can never emit NUL


def _expand_prefix_nodes(node, expand):
    """Replace every :pyclass:`Prefix` node with the OR of its
    dictionary expansion (PostgreSQL GIN does the same walk over its
    term btree; here the metadata-only termstats shards ARE the
    dictionary).  An empty expansion becomes an impossible lexeme so
    boolean evaluation stays structurally intact ('a | none:*' still
    matches docs with 'a')."""
    if node is None or isinstance(node, Phrase):
        return node
    if isinstance(node, Prefix):
        terms = expand(node.term)
        if not terms:
            return Phrase([(_IMPOSSIBLE_LEXEME, 0)])
        if len(terms) == 1:
            return Phrase([(terms[0], 0)])
        return Or([Phrase([(t, 0)]) for t in sorted(terms)])
    if isinstance(node, And):
        return And([_expand_prefix_nodes(c, expand) for c in node.children])
    if isinstance(node, Or):
        # splice nested Ors flat (Or is associative): 'a | b:*' stays
        # a flat OR after expansion, keeping it WAND/rank routable
        kids = []
        for c in node.children:
            ec = _expand_prefix_nodes(c, expand)
            if isinstance(ec, Or):
                kids.extend(ec.children)
            else:
                kids.append(ec)
        return Or(kids)
    if isinstance(node, Not):
        return Not(_expand_prefix_nodes(node.child, expand))
    return node


def _contains_prefix(node) -> bool:
    if isinstance(node, Prefix):
        return True
    if isinstance(node, (And, Or)):
        return any(_contains_prefix(c) for c in node.children)
    if isinstance(node, Not):
        return _contains_prefix(node.child)
    return False


def _or_groups_of(pre_tree, expansions: dict[str, list[str]]):
    """calc_rank_or item groups from the PRE-expansion tree: one
    group per distinct (text, is_prefix) operand in kernel
    ``_operands`` order - a prefix item's group is its dictionary
    expansion, an exact item's is itself.  'b' and 'b:*' in one query
    are TWO items (the kernel treats them so; tier parity is against
    the kernel), and an empty prefix expansion still counts as an
    item (the divisor includes it; it just contributes 0)."""
    from ..kernel.tsrank import _operands

    return [
        list(expansions.get(text, [])) if pre else [text]
        for text, pre in _operands(pre_tree)
    ]


def parse_query(query: str, mode: str = "plain", expand=None) -> ParsedQuery:
    """``mode``: 'plain' (plainto_tsquery), 'tsquery' (to_tsquery),
    or 'websearch' (websearch_to_tsquery) - the three PG query
    constructors users pair with a GIN index."""
    if mode == "tsquery":
        tree = to_tsquery(query)
    elif mode == "websearch":
        from ..kernel.tsvector import websearch_to_tsquery

        tree = websearch_to_tsquery(query)
    else:
        tree = plainto_tsquery(query)
    pre_tree = tree
    expansions: dict[str, list[str]] = {}
    if tree is not None and expand is not None:

        def expand_memo(p):
            if p not in expansions:
                expansions[p] = list(expand(p))
            return expansions[p]

        tree = _expand_prefix_nodes(tree, expand_memo)
    if tree is not None and _contains_prefix(tree):
        raise ValueError(
            "prefix queries (:*) on the index path require a dictionary "
            "expansion callback; the scan path (kernel ts_match) "
            "evaluates them directly"
        )
    if tree is not None and _reduces_to_complement(tree):
        raise ValueError(
            "query reduces to a pure negation (e.g. '!a', 'a | !b'): "
            "it matches every document outside a set, which requires a "
            "full corpus scan; not supported by the index path"
        )
    terms = sorted(query_terms(tree))
    all_terms = sorted(query_terms_all(tree))
    phrases: list[list[tuple[str, int]]] = []
    conjunctive = True

    def walk(node):
        nonlocal conjunctive
        if isinstance(node, Phrase):
            if len(node.items) > 1:
                phrases.append(node.items)
        elif isinstance(node, And):
            for c in node.children:
                walk(c)
        elif isinstance(node, (Or, Not)):
            conjunctive = False
            kids = node.children if isinstance(node, Or) else [node.child]
            for c in kids:
                walk(c)

    if tree is not None:
        walk(tree)
    if not terms and all_terms:
        raise ValueError(
            "purely negative queries require a full corpus scan and are "
            "not supported by the index path"
        )
    return ParsedQuery(
        tree, terms, all_terms, phrases, conjunctive,
        _or_groups_of(pre_tree, expansions),
    )


def _route(index_dir: str, query: str, mode: str):
    """Shared query routing: stats, parsed query, pruned bucket set,
    term df lookup, idf map.  Returns None when no doc can match.

    The version snapshot is taken BEFORE loading stats so a mutation
    racing this query can only poison the df cache under the OLD
    version key (replaced on the next query), never the new one."""
    ver = _index_version(index_dir)
    stats = load_stats(index_dir)
    if stats.get("normalize_zht"):
        # the index was built traditional->simplified normalized; map
        # the query the same way (char-level translate: tsquery
        # operators/quotes are unaffected)
        from ..functions.zht2zhs import zht2zhs

        query = zht2zhs(query)
    pq = parse_query(
        query,
        mode,
        expand=lambda p: expand_prefix(index_dir, p, stats),
    )
    if not pq.terms:
        return None
    buckets = term_buckets(pq.all_terms, stats["num_buckets"])
    bset = sorted(set(buckets.values()))
    df_map = _read_termstats(index_dir, bset, pq.all_terms, stats, ver)
    if not df_map or (pq.conjunctive and any(t not in df_map for t in pq.terms)):
        return None  # required term (or every term) absent from the corpus
    idf_map = {t: idf(stats["n_docs"], df_map.get(t, 0)) for t in pq.terms}
    return stats, pq, bset, idf_map


# the block columns the scorers need
_BLOCK_COLUMNS = [
    "salt", "term", "n", "min_docid", "max_docid", "docids", "tfs",
    "doclens", "positions", "max_tf", "min_dl",
]


def _read_blocks_local(
    paths, terms, with_epoch: bool, salt=None
) -> pa.Table:
    """The one pyarrow block read of both runners: ``term IN terms``
    (and ``salt == salt`` when given) pushed into row-group pruning.

    All shard paths read as ONE file-list dataset: one threaded scan
    instead of a sequential per-shard loop.  When per-block epochs
    are needed (tombstones loaded), each scanned batch's epoch comes
    from its file path (``path_epoch``) as an ``epoch`` column."""
    import pyarrow.dataset as ds

    flt = ds.field("term").isin(terms)
    if salt is not None:
        flt &= ds.field("salt") == salt
    files = [
        os.path.join(p, n)
        for p in paths
        for n in sorted(os.listdir(p))
        if n.endswith(".parquet")
    ]
    scan = ds.dataset(files).scanner(columns=_BLOCK_COLUMNS, filter=flt)
    if not with_epoch:
        return scan.to_table()
    tagged = list(scan.scan_batches())
    epoch = np.concatenate(
        [np.zeros(0, np.int64)]
        + [
            np.full(t.record_batch.num_rows, path_epoch(t.fragment.path), np.int64)
            for t in tagged
        ]
    )
    return pa.Table.from_batches(
        [t.record_batch for t in tagged], scan.projected_schema
    ).append_column("epoch", pa.array(epoch))


# kind -> (kernel function, normalization bits the index serves, flat
# OR served besides conjunctive).  Other bits need whole-document
# statistics no posting stores, other shapes a candidate set the index
# cannot enumerate cheaply: the scan path serves those.
_RANK_KINDS = {
    "rank": ("ts_rank", (1, 2, 32), True),
    "rank_cd": ("ts_rank_cd", (4, 32), False),
}


@dataclass
class _QuerySpec:
    """One routed query as the runners and the per-salt scorer see
    it.  ``kind`` is ``bm25``, ``rank`` (ts_rank) or ``rank_cd``
    (ts_rank_cd); building a rank spec rejects a query shape the
    index path cannot serve."""

    query: str
    kind: str
    pq: ParsedQuery
    idf_map: dict
    method: int = 0

    @staticmethod
    def check_method(kind: str, method: int) -> None:
        """Reject normalization bits the index path cannot serve;
        runs BEFORE routing, so bad bits fail even for a query that
        matches nothing."""
        if kind not in _RANK_KINDS:
            return
        name, bits, _ = _RANK_KINDS[kind]
        if method & ~sum(bits):
            raise ValueError(
                f"index-path {name} supports normalization bits "
                f"{'|'.join(map(str, bits))} only"
            )

    def __post_init__(self):
        if self.kind not in _RANK_KINDS:
            return
        name, _, flat_or = _RANK_KINDS[self.kind]
        if not (
            self.pq.conjunctive or (flat_or and _is_flat_or(self.pq.tree))
        ):
            shapes = "conjunctive or flat-OR" if flat_or else "conjunctive"
            raise ValueError(
                f"query {self.query!r}: index-path {name} supports "
                f"{shapes} queries only"
            )


def _route_specs(index_dir, queries, k, mode, kind, method=0):
    """Validate and route queries into specs: ``k`` and method bits
    first, then each query's shape once it routes.  Returns ``(stats,
    specs, paths, deleted)`` over the union of the specs' buckets, or
    None when no doc can match."""
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
    _QuerySpec.check_method(kind, method)
    stats, specs, bset = None, [], set()
    # a duplicate query would double-score and skew ranks; sorted, so
    # spec i is the i-th query in result order
    for q in sorted(set(queries)):
        routed = _route(index_dir, q, mode)
        if routed is None:
            continue
        st, pq, bs, idf_map = routed
        specs.append(_QuerySpec(q, kind, pq, idf_map, method))
        stats = stats or st
        bset.update(bs)
    if not specs:
        return None
    paths = _shard_paths(index_dir, "postings", sorted(bset), stats)
    if not paths:
        return None
    return stats, specs, paths, load_tombstones(index_dir)


def _blocks_by_term(blocks: pa.Table) -> dict:
    """One salt group's blocks split per term: ``{term: RecordBatch}``
    in sorted term order, each term's blocks in read order."""
    rb = blocks.combine_chunks().to_batches()[0]
    enc = rb.column("term").dictionary_encode()
    codes = enc.indices.to_numpy()
    order = np.argsort(codes, kind="stable")
    cuts = np.cumsum(np.bincount(codes, minlength=len(enc.dictionary)))
    rows = dict(
        zip(enc.dictionary.to_pylist(), np.split(order, cuts[:-1]))
    )
    return {t: rb.take(rows[t]) for t in sorted(rows)}


def _score_group(specs, blocks, k, bm25, deleted):
    """The per-salt scorer dispatch: every spec's top-k over ONE salt
    group's blocks (an Arrow table) as aligned ``(qid, docid, score)``
    arrays, ``qid`` being the spec's index, or None.  Each spec sees
    only its own terms' blocks, so queries stay independent; ``bm25``
    is the index's ``(k1, b, avgdl)``."""
    groups = _blocks_by_term(blocks)
    qids, ids, scores = [], [], []
    for qid, spec in enumerate(specs):
        per_term = {
            t: g for t, g in groups.items() if t in spec.pq.all_terms
        }
        if not per_term:
            continue
        if spec.kind == "bm25":
            hit = _score_local(
                per_term, spec.pq, spec.idf_map, bm25, k, deleted
            )
        elif spec.kind == "rank":
            hit = _rank_ts_local(per_term, spec.pq, k, spec.method, deleted)
        else:
            hit = _rank_cd_local(per_term, spec.pq, k, spec.method, deleted)
        if hit is not None:
            qids.append(np.full(hit[0].size, qid, np.int32))
            ids.append(hit[0])
            scores.append(hit[1])
    if not ids:
        return None
    return tuple(map(np.concatenate, (qids, ids, scores)))


_BATCH_SCHEMA = pa.schema([
    ("query", pa.string()), ("rank", pa.int32()), ("docid", pa.int64()),
    ("score", pa.float64()),
])


def _run_spark(spark, index_dir, queries, k, mode, kind, method=0):
    """Spark runner: one task per salt, each reading its own salt's
    blocks with pyarrow and scoring every spec - no parquet scan and
    no exchange.  The merge fits what the caller passed: a query
    string gets a lazy ``(docid, score|rank)`` plan merged by
    orderBy/limit; a list runs its one job now and gets ``(query,
    rank, docid, score)`` merged on the driver by
    :func:`_merge_topk`, ordered by (query, rank)."""
    single = isinstance(queries, str)
    value = "rank" if kind in _RANK_KINDS else "score"
    # a single query's rows carry no qid column, so its plan needs no
    # Project to drop one
    if single:
        out = pa.schema([("docid", pa.int64()), (value, pa.float64())])
    else:
        out = pa.schema([
            ("qid", pa.int32()), ("docid", pa.int64()), ("score", pa.float64())
        ])
    routed = _route_specs(
        index_dir, [queries] if single else queries, k, mode, kind, method
    )
    if routed is None:
        # an Arrow table plans as a LocalTableScan: collecting it
        # launches no job
        return spark.createDataFrame(
            (out if single else _BATCH_SCHEMA).empty_table()
        )
    stats, specs, paths, deleted = routed
    terms = sorted({t for s in specs for t in s.pq.all_terms})
    bm25 = (stats["k1"], stats["b"], stats["avgdl"])

    def score_salts(batches):
        for batch in batches:
            for salt in batch.column(0).to_pylist():
                blocks = _read_blocks_local(
                    paths, terms, deleted is not None, salt
                )
                if not blocks.num_rows:
                    continue
                hit = _score_group(specs, blocks, k, bm25, deleted)
                if hit is not None:
                    yield pa.record_batch(list(hit[-len(out):]), schema=out)

    salts = stats["num_salts"]
    scored = spark.range(0, salts, 1, salts).mapInArrow(
        score_salts, from_arrow_schema(out)
    )
    if single:
        return (
            scored.orderBy(F.desc(value), F.asc("docid"))
            .limit(k)
            .select("docid", value)
        )
    hits = scored.toArrow()
    qid, rank, ids, scores = _merge_topk(
        *(hits.column(c).to_numpy() for c in out.names), k
    )
    query = np.array([s.query for s in specs], object)[qid]
    return spark.createDataFrame(
        pa.table([query, rank, ids, scores], schema=_BATCH_SCHEMA)
    )


def _merge_topk(qid, ids, scores, k):
    """The global merge of every salt's aligned ``(qid, docid, score)``
    rows: each query's top-k by (qid, score desc, docid asc) -
    :func:`_topk`'s order per query - as ``(qid, rank, docid, score)``
    arrays, rank counting from 1."""
    order = np.lexsort((ids, -scores, qid))
    qid = qid[order]
    # each row's offset from its query's first row
    rank = np.arange(qid.size) - np.searchsorted(qid, qid) + 1
    keep = rank <= k
    order = order[keep]
    return qid[keep], rank[keep].astype(np.int32), ids[order], scores[order]


def _run_local(index_dir, query, k, mode, kind, method=0):
    """Local runner: pyarrow read, each salt group scored in process,
    global top-k ``(docid, value)`` merged on the driver."""
    routed = _route_specs(index_dir, [query], k, mode, kind, method)
    if routed is None:
        return []
    stats, specs, paths, deleted = routed
    blocks = _read_blocks_local(
        paths, specs[0].pq.all_terms, deleted is not None
    )
    bm25 = (stats["k1"], stats["b"], stats["avgdl"])
    salt = blocks.column("salt").to_numpy()
    hits = [
        hit
        for s in np.unique(salt)
        if (
            hit := _score_group(
                specs, blocks.filter(salt == s), k, bm25, deleted
            )
        )
        is not None
    ]
    if not hits:
        return []
    _, _, ids, scores = _merge_topk(
        *(np.concatenate(c) for c in zip(*hits)), k
    )
    return list(zip(ids.tolist(), scores.tolist()))


def search(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "plain",
) -> DataFrame:
    """Top-k ``(docid, score)`` for the query; deterministic tiebreak."""
    return _run_spark(spark, index_dir, query, k, mode, "bm25")


def search_many(
    spark: SparkSession,
    index_dir: str,
    queries: list[str],
    k: int = 10,
    mode: str = "plain",
) -> DataFrame:
    """Batched top-k: ALL queries answered in ONE Spark job -
    ``(query, rank, docid, score)`` ordered by (query, rank),
    rank-/score-identical per query to :func:`search`.

    A production workload runs queries in batches, and per-query jobs
    pay scheduling + read setup B times; here the routed bucket paths
    and the term IN-filter are unioned, each salt's blocks are read
    once by that salt's task, and the task scores every query against
    its own term subset (queries stay independent - conjunction
    semantics are per-query on the filtered frame).  Driver-side
    routing stays O(total query terms); queries that cannot match any
    doc are simply absent from the result.

    The job runs when this function is called (one stage, one task per
    salt), and each query's top-k is merged on the driver.  The
    returned DataFrame holds the at most ``len(queries) * k`` result
    rows, so collecting it launches no job, it does not see later
    index mutations, and a corrupt block raises from this call, not
    from ``.collect()``."""
    return _run_spark(spark, index_dir, list(queries), k, mode, "bm25")


def search_local(
    index_dir: str, query: str, k: int = 10, mode: str = "plain"
) -> list[tuple[int, float]]:
    """Serving-tier point query: no Spark session, no job.

    The index is plain parquet, so a low-latency reader (here: pyarrow
    + NumPy in-process) can serve top-k directly from the pruned
    bucket shards - the same layout a real serving fleet would mmap.
    Results are identical to :func:`search` (tests assert it); use the
    Spark path for scatter-gather over very large per-term lists.
    """
    return _run_local(index_dir, query, k, mode, "bm25")


def search_rank_cd(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "tsquery",
    method: int = 0,
) -> DataFrame:
    """Index-path ``ORDER BY ts_rank_cd(...) DESC LIMIT k``: the PG
    cover-density rank served from the inverted index's per-posting
    position lists - no document rescan or re-tokenize.

    Candidates come from the conjunctive intersection (the same
    rarest-first, block-range-pruned machinery as BM25 ``search``);
    the candidates' positions decode in bulk and rank with the exact
    tsrank.c cover fold (kernel/tsrank.py), so results are
    rank-identical to running ``ts_rank_cd`` over the raw text (tests
    assert it).

    Supported queries: conjunctive (AND / phrase) - the shapes whose
    candidate set the index enumerates cheaply.  Supported
    normalization ``method`` bits: 0 | 4 | 32 (bits 1/2/8/16 need
    whole-document statistics the index does not store per posting;
    use the scan path for those).
    """
    return _run_spark(spark, index_dir, query, k, mode, "rank_cd", method)


def search_rank(
    spark: SparkSession,
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "tsquery",
    method: int = 0,
) -> DataFrame:
    """Index-path ``WHERE tsv @@ q ORDER BY ts_rank(tsv, q) DESC
    LIMIT k`` (tsrank.c calc_rank_or / calc_rank_and semantics).

    * **or-path** (top node not AND/phrase, or a single lexeme): the
      rank depends only on each term's capped occurrence count, so it
      is computed fully vectorized from the posting tf streams - no
      position decode at all.  Candidates are the @@ match set (the
      union for a flat OR).
    * **and-path** (top AND or multi-lexeme phrase): the
      word_distance proximity fold over decoded positions
      (:meth:`_TermList.positions_bulk`), with curw values taken from
      an exact precomputed table and the per-doc fold kept
      sequential, so results are bit-identical to scan-path
      ``ts_rank`` (tests assert it).  Phrase chains additionally
      filter candidates to true adjacency matches, matching ``@@``.

    Supported query shapes: conjunctive (AND / phrase) and flat OR.
    Supported normalization bits: 1 | 2 | 32 (cnt_length is the
    indexed doclen); bits 8/16 need per-doc distinct-lexeme counts
    the index does not store - use the scan path."""
    return _run_spark(spark, index_dir, query, k, mode, "rank", method)


def search_many_rank(
    spark: SparkSession,
    index_dir: str,
    queries: list[str],
    k: int = 10,
    mode: str = "tsquery",
    method: int = 0,
    cd: bool = True,
) -> DataFrame:
    """Batched rank workload: every query's ``ORDER BY
    ts_rank_cd/ts_rank LIMIT k`` answered in ONE Spark job -
    ``(query, rank, docid, score)`` ordered by (query, rank), per-query
    identical to :func:`search_rank_cd` / :func:`search_rank` (tests
    assert it).  Same unioned-routing strategy and the same eager
    contract as :func:`search_many`: the job runs when this function
    is called, and the returned DataFrame holds the merged result rows.
    The same per-query shape/method restrictions apply and invalid
    queries raise up front."""
    kind = "rank_cd" if cd else "rank"
    return _run_spark(spark, index_dir, list(queries), k, mode, kind, method)


def rank_local(
    index_dir: str,
    query: str,
    k: int = 10,
    mode: str = "tsquery",
    method: int = 0,
    cd: bool = True,
) -> list[tuple[int, float]]:
    """Serving-tier ``ORDER BY ts_rank_cd/ts_rank LIMIT k`` - no
    Spark session, no job; the pyarrow twin of :func:`search_local`
    for the rank paths.  Results are identical to
    :func:`search_rank_cd` / :func:`search_rank` (tests assert it);
    the same supported-shape/method rules apply."""
    return _run_local(
        index_dir, query, k, mode, "rank_cd" if cd else "rank", method
    )


def _intersect(per_term, n_terms, deleted):
    """Rarest-first conjunctive intersection over one salt group:
    decode the rarest term's list first, then only those blocks of
    each later term whose [min_docid, max_docid] range overlaps the
    surviving candidates.  Returns ``(lists, cand)`` - the decoded
    lists and the sorted docids holding every term - or None when a
    required term is missing here or nothing survives."""
    if len(per_term) < n_terms:
        return None  # some required term missing in this partition
    order = sorted(
        per_term, key=lambda t: int(per_term[t].column("n").to_numpy().sum())
    )
    lists: dict[str, _TermList] = {}
    cand: np.ndarray | None = None
    for t in order:
        tb = per_term[t]
        if cand is not None:
            if cand.size == 0:
                return None
            lo, hi = int(cand[0]), int(cand[-1])
            tb = tb.filter(
                (tb.column("max_docid").to_numpy() >= lo)
                & (tb.column("min_docid").to_numpy() <= hi)
            )
        tl = _TermList(tb, deleted)
        lists[t] = tl
        cand = tl.ids if cand is None else cand[
            _isin_sorted(cand, tl.ids)
        ]
    if cand is None or cand.size == 0:
        return None
    return lists, cand


_KEYOFF = 1 << 15  # keeps pos - chain_offset positive inside 16 bits


def _pos_keys(tl, cand):
    """Sorted ``(candidate idx << 16) + position + _KEYOFF`` keys."""
    cidx, pos = tl.positions_bulk(cand)
    return (cidx << 16) + pos + _KEYOFF


def _chain_starts(keys_of, items):
    """Keys of every match START of the phrase chain ``items``: the
    sorted intersection of each term's offset-shifted keys.  A chain
    spanning more than MAXENTRYPOS matches nothing (no doc holds
    positions that far apart), and a wider shift would carry a key
    into the previous candidate's range."""
    base = items[0][1]
    if max(off for _, off in items) - base > MAXENTRYPOS:
        return np.empty(0, np.int64)
    starts = None
    for t, off in items:
        kb = keys_of(t) - (off - base)
        starts = kb if starts is None else np.intersect1d(
            starts, kb, assume_unique=True
        )
        if not starts.size:
            break
    return starts

# sentinel: a bulk ranker detected (candidate, position) key
# collisions - distinct lexemes clamped to the same position - and
# the caller must re-rank those docs through the generic kernel path
_COLLIDED = object()


def _rank_cd_phrase_bulk(lists, cand, items, k, method):
    """Vectorized cover-density ranking for a pure phrase-chain query
    (the CJK-critical shape: every multi-token CJK lexeme is a chain).

    For a phrase, tsrank.c's greedy Cover enumeration reduces to a
    closed form: all matches have the same width, so the up-scan's
    first-satisfied window always ends at the earliest chain end and
    the down-scan's begin is that same chain's start - every chain
    match is exactly one cover.  Match starts are found with sorted
    intersections over (candidate, position-offset) keys across ALL
    candidates at once; per-cover noise counts come from two
    searchsorteds against the merged query-term position array.  Only
    the final per-doc accumulation stays a Python loop (a handful of
    float adds per doc) so the summation order - and therefore the
    bits - match kernel ts_rank_cd exactly (tests assert identity).
    """
    width = items[-1][1] - items[0][1]
    keybases = {t: _pos_keys(lists[t], cand) for t in {t for t, _ in items}}
    allk = np.concatenate(list(keybases.values()))
    if np.unique(allk).size != allk.size:
        return _COLLIDED  # clamped-position collision: exact path
    starts = _chain_starts(keybases.__getitem__, items)
    if not starts.size:
        return None
    merged = np.sort(allk)
    cnt = np.searchsorted(merged, starts + width, "right") - np.searchsorted(
        merged, starts, "left"
    )
    contrib = 0.1 / (1.0 + (width - (cnt - 1)))
    spos = (starts & 0xFFFF) - _KEYOFF
    exts = (2 * spos + width) / 2.0 if method & 4 else None
    return _emit_rank_rows(cand, starts >> 16, contrib, exts, k, method)


def _rank_cd_and2_bulk(lists, cand, ta, tb, k, method):
    """Vectorized cover-density ranking for a two-distinct-term AND
    query: the greedy Cover fold reduces to every consecutive
    OPPOSITE-term pair in the per-doc merged occurrence stream (the
    up-scan satisfies at the partner's next occurrence, the down-scan
    walks back to the nearest preceding occurrence of the other term,
    and the restart lands one item past the begin).  Each such cover
    holds exactly its two endpoints, so nNoise = q - p - 1."""
    ka, kb = _pos_keys(lists[ta], cand), _pos_keys(lists[tb], cand)
    keys = np.concatenate([ka, kb])
    lab = np.concatenate(
        [np.zeros(ka.size, np.int8), np.ones(kb.size, np.int8)]
    )
    srt = np.argsort(keys)
    keys = keys[srt]
    lab = lab[srt]
    if keys.size < 2:
        return None
    if np.any(keys[1:] == keys[:-1]):
        return _COLLIDED  # clamped-position collision: exact path
    sel = np.flatnonzero(
        ((keys[1:] >> 16) == (keys[:-1] >> 16)) & (lab[1:] != lab[:-1])
    )
    if not sel.size:
        return None
    p = (keys[sel] & 0xFFFF) - _KEYOFF
    q = (keys[sel + 1] & 0xFFFF) - _KEYOFF
    contrib = 0.1 / (1.0 + (q - p - 1))
    exts = (q + p) / 2.0 if method & 4 else None
    return _emit_rank_rows(cand, keys[sel] >> 16, contrib, exts, k, method)


def _emit_rank_rows(cand, dci, contrib, exts, k, method):
    """Shared tail of the bulk rankers: per-doc SEQUENTIAL float
    accumulation (bit-compatible with kernel ts_rank_cd), method 4/32
    normalization, positive-rank filter, per-partition top-k."""
    seg = np.concatenate(
        ([0], np.flatnonzero(np.diff(dci)) + 1, [dci.size])
    )
    out_ids: list[int] = []
    out_ranks: list[float] = []
    cl = contrib.tolist()
    for si in range(seg.size - 1):
        s, e = int(seg[si]), int(seg[si + 1])
        wdoc = 0.0
        for v in cl[s:e]:
            wdoc += v
        if exts is not None:
            sd = 0.0
            prev = 0.0
            n_ext = 0
            for j in range(s, e):
                cur = float(exts[j])
                if n_ext > 0 and cur > prev:
                    sd += 1.0 / (cur - prev)
                prev = cur
                n_ext += 1
            if n_ext > 0 and sd > 0:
                wdoc /= float(n_ext) / sd
        if method & 32:
            wdoc /= wdoc + 1
        if wdoc > 0.0:
            out_ids.append(int(cand[int(dci[s])]))
            out_ranks.append(wdoc)
    return _topk(out_ids, out_ranks, k)


_PI2_6 = 1.64493406685
_MAXNUMPOS = 256


def _rank_or_contrib_table() -> list[float]:
    """calc_rank_or per-term contribution for an all-weight-D term
    with n stored positions, n = 0..256 - the exact FP shapes of
    kernel _rank_or (wjm = 0.1, jm = 0)."""
    out = [0.0]
    resj = 0.0
    for j in range(_MAXNUMPOS):
        resj = resj + 0.1 / ((j + 1) * (j + 1))
        out.append((0.1 + resj - 0.1 / 1) / _PI2_6)
    return out


def _curw_table() -> np.ndarray:
    """curw(dist) for all-D weights, dist clipped at 101 for the
    >100 floor - python-math exact so lookups are bit-identical to
    kernel _rank_and."""
    t = np.empty(102, np.float64)
    t[0] = 0.0  # dist 0 never contributes (distinct positions)
    for d in range(1, 101):
        t[d] = math.sqrt(
            (0.1 * 0.1) * (1.0 / (1.005 + 0.05 * math.exp(d / 1.5 - 2)))
        )
    t[101] = math.sqrt((0.1 * 0.1) * 1e-30)
    return t


_RANK_OR_CONTRIB = _rank_or_contrib_table()
_CURW = _curw_table()


def _rank_and_positions_bulk(lists, cand, terms):
    """Vectorized calc_rank_and: the curw values of every
    cross-position pair of every term pair of every candidate, from
    the exact CURW lookup table.  Each pair (i, k < i), in the
    kernel's order, is one grid with term i's positions outer and
    term k's inner; a stable sort by candidate lines the grids up per
    doc in that order.  Only the per-doc 1-(1-res)(1-curw) fold stays
    a Python loop (a handful of multiplies per pair) so the bits
    match kernel ts_rank.  Position lists clip at MAXNUMPOS (a
    defensive cap: index-built postings can never exceed it - the
    builder stores tf = len(to_tsvector positions), which to_tsvector
    caps at 256)."""
    n = cand.size
    grid = np.arange(n)
    spans = []
    for t in terms:
        cidx, pos = lists[t].positions_bulk(cand)
        b = np.searchsorted(cidx, np.arange(n + 1))
        spans.append((pos, b[:-1], np.minimum(np.diff(b), _MAXNUMPOS)))
    docs, dists = [], []
    for i, (pi, si, ni) in enumerate(spans):
        for pk, sk, nk in spans[:i]:
            sizes = ni * nk
            cum = np.cumsum(sizes)
            within = np.arange(cum[-1]) - np.repeat(cum - sizes, sizes)
            nk_rep = np.repeat(nk, sizes)
            d = np.abs(
                pi[np.repeat(si, sizes) + within // nk_rep]
                - pk[np.repeat(sk, sizes) + within % nk_rep]
            )
            nz = d > 0  # dist 0 pairs contribute nothing
            docs.append(np.repeat(grid, sizes)[nz])
            dists.append(d[nz])
    doc = np.concatenate(docs)
    order = np.argsort(doc, kind="stable")
    cl = _CURW[np.minimum(np.concatenate(dists)[order], 101)].tolist()
    ranks = np.empty(n, np.float64)
    s = 0
    for di, e in enumerate(np.cumsum(np.bincount(doc, minlength=n)).tolist()):
        res = -1.0
        for v in cl[s:e]:
            res = v if res < 0 else 1.0 - (1.0 - res) * (1.0 - v)
        ranks[di] = 1e-20 if res < 0 else res
        s = e
    return ranks


def _phrase_start_docs(lists, cand, items):
    """Candidate indices (into ``cand``) having at least one chain
    match - the @@ adjacency recheck, batched."""
    starts = _chain_starts(lambda t: _pos_keys(lists[t], cand), items)
    return np.unique(starts >> 16)


def _rank_ts_local(per_term, pq, k, method, deleted=None):
    """Per-salt-partition ts_rank: candidates from the @@ match set,
    ranks bit-identical to kernel ts_rank.

    ``pq.or_groups`` carries the PRE-expansion calc_rank_or items (one
    group per query item, a prefix's group being its dictionary
    expansion) so the or-path divides by the ITEM count - without it
    a prefix query's rank would shrink by its expansion size vs the
    scan path."""
    from ..kernel.tsrank import _operand_lexemes

    tree = pq.tree
    terms = _operand_lexemes(tree)
    and_path = (
        isinstance(tree, And)
        or (isinstance(tree, Phrase) and len(tree.items) > 1)
    ) and len(terms) >= 2

    if pq.conjunctive:
        hit = _intersect(per_term, len(pq.terms), deleted)
        if hit is None:
            return None
        lists, cand = hit
        for chain in pq.phrases:
            keep = _phrase_start_docs(lists, cand, chain)
            if not keep.size:
                return None
            cand = cand[keep]
    else:  # flat OR
        lists = {t: _TermList(tb, deleted) for t, tb in per_term.items()}
        cand = np.unique(np.concatenate([tl.ids for tl in lists.values()]))
        if not cand.size:
            return None

    if not and_path:
        # vectorized or-path: contribution is a pure function of the
        # capped tf; accumulate per doc in item order (the kernel's
        # SortAndUniqItems iteration, each prefix item summing over
        # its matched dictionary entries) and divide by the ITEM
        # count - a lexeme repeated across items contributes once
        # per item, exactly like repeated find_wordentry hits
        groups = pq.or_groups
        if groups is None:
            groups = [[t] for t in terms]
        ranks = np.zeros(cand.size, np.float64)
        for group in groups:
            for t in group:
                tl = lists.get(t)
                if tl is None:
                    continue
                sel = _isin_sorted(tl.ids, cand)
                n_eff = np.minimum(
                    tl.tfs[sel].astype(np.int64), _MAXNUMPOS
                )
                idxs = np.searchsorted(cand, tl.ids[sel])
                ranks[idxs] = ranks[idxs] + np.asarray(
                    _RANK_OR_CONTRIB, np.float64
                )[n_eff]
        ranks = ranks / float(len(groups))
    else:
        ranks = _rank_and_positions_bulk(lists, cand, terms)

    if method & (1 | 2):
        dls = np.zeros(cand.size, np.int64)
        for tl in lists.values():
            sel = _isin_sorted(tl.ids, cand)
            dls[np.searchsorted(cand, tl.ids[sel])] = tl.dls[sel].astype(
                np.int64
            )
        if method & 1:
            norm = {
                int(d): math.log(int(d) + 1) / math.log(2.0)
                for d in np.unique(dls)
            }
            ranks = ranks / np.asarray(
                [norm[int(d)] for d in dls], np.float64
            )
        if method & 2:
            pos_dl = dls > 0
            ranks[pos_dl] = ranks[pos_dl] / dls[pos_dl].astype(np.float64)
    if method & 32:
        ranks = ranks / (ranks + 1)

    keep = ranks > 0.0
    return _topk(cand[keep], ranks[keep], k)


def _isin_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Membership mask of ``a`` in ``b`` for SORTED unique int64
    arrays.  Binary search beats np.isin's concatenate+argsort when
    the sides are comparable or ``b`` dominates (measured: 2.7 ->
    1.95 ms at 50k/50k, 0.41 ms -> 13 us at 200/50k); np.isin stays
    faster when ``b`` is much the smaller side (its sort cost
    collapses), so route on the ratio."""
    if not b.size or not a.size:
        return np.zeros(a.size, bool)
    if a.size > 8 * b.size:
        return np.isin(a, b, assume_unique=True)
    j = np.searchsorted(b, a)
    jc = np.minimum(j, b.size - 1)
    return (j < b.size) & (b[jc] == a)


def _rank_cd_local(per_term, pq, k, method, deleted=None):
    """Per-salt-partition candidate intersection + exact kernel
    cover-density ranking from decoded positions."""
    hit = _intersect(per_term, len(pq.terms), deleted)
    if hit is None:
        return None
    lists, cand = hit
    tree = pq.tree
    out = _COLLIDED
    if isinstance(tree, Phrase):
        out = _rank_cd_phrase_bulk(lists, cand, tree.items, k, method)
    elif (
        isinstance(tree, And)
        and len(tree.children) == 2
        and all(
            isinstance(c, Phrase) and len(c.items) == 1
            for c in tree.children
        )
    ):
        ta, tb = (c.items[0][0] for c in tree.children)
        if ta != tb:
            out = _rank_cd_and2_bulk(lists, cand, ta, tb, k, method)
    if out is _COLLIDED:  # no bulk shape, or a bulk ranker bailed out
        return _rank_cd_generic(lists, cand, tree, k, method)
    return out


def _rank_cd_generic(lists, cand, tree, k, method):
    """Per-candidate kernel ranking - the reference path for
    arbitrary trees, and the fallback the bulk paths take when
    position-clamp collisions (distinct lexemes sharing MAXENTRYPOS
    in >16383-token docs) break their unique-key assumptions.  Each
    term's positions come from ONE :meth:`_TermList.positions_bulk`
    call, sliced per doc for kernel ``ts_rank_cd``."""
    from ..kernel.tsrank import ts_rank_cd

    grid = np.arange(cand.size + 1)
    spans = {}
    for t, tl in lists.items():
        cidx, pos = tl.positions_bulk(cand)
        spans[t] = (pos.tolist(), np.searchsorted(cidx, grid).tolist())
    out_ids: list[int] = []
    out_ranks: list[float] = []
    for di, d in enumerate(cand.tolist()):
        v = {t: p[b[di] : b[di + 1]] or None for t, (p, b) in spans.items()}
        r = ts_rank_cd(v, tree, method=method)
        if r > 0.0:
            out_ids.append(int(d))
            out_ranks.append(r)
    return _topk(out_ids, out_ranks, k)


class _TermList:
    """One term's live postings in one salt group, from ONE
    ``decode_blocks`` call over its (already pruned) blocks: sorted
    ``ids`` with their ``tfs`` / ``dls``, and each posting's position
    byte range in the decoder's buffer.  Tombstoned versions are gone
    already - the decoder's alive mask drops them with each posting's
    block epoch - and positions decode only for the docs a ranker or
    phrase recheck asks for."""

    __slots__ = ("ids", "tfs", "dls", "_pstart", "_plen", "_pbuf")

    def __init__(self, blocks, deleted=None):
        _, ids, tfs, dls, pstart, plen, self._pbuf = decode_blocks(
            blocks, deleted
        )
        srt = np.argsort(ids, kind="stable")
        self.ids = ids[srt]
        self.tfs = tfs[srt].astype(np.float64)
        self.dls = dls[srt].astype(np.float64)
        self._pstart = pstart[srt]
        self._plen = plen[srt]

    def positions_bulk(self, cand: np.ndarray):
        """Positions for EVERY candidate docid in one vectorized pass:
        one byte gather and one varint decode.  The query layer's only
        position reader - phrase rechecks and every ranker call it.

        ``cand`` must be sorted.  Returns ``(cand_idx, pos)`` int64
        arrays aligned per occurrence, ordered by candidate, each
        posting's positions ascending.  Each candidate gets the
        positions of every posting of its docid, found by binary
        search, so a docid listed twice (two live versions) or
        repeated in ``cand`` still reads all of them."""
        lo = np.searchsorted(self.ids, cand, "left")
        cnt = np.searchsorted(self.ids, cand, "right") - lo
        sel = np.repeat(lo - np.cumsum(cnt) + cnt, cnt) + np.arange(cnt.sum())
        npos = self.tfs[sel].astype(np.int64)
        pos = gather_positions(
            self._pbuf, self._pstart[sel], self._plen[sel], npos
        )
        return np.repeat(np.repeat(np.arange(cand.size), cnt), npos), pos


def _score_local(per_term, pq, idf_map, bm25, k, deleted=None):
    """Exact local BM25 top-k over one salt-partition's blocks;
    ``bm25`` is the index's ``(k1, b, avgdl)``."""
    k1, b, avgdl = bm25
    phrases, tree = pq.phrases, pq.tree
    if pq.conjunctive:
        hit = _intersect(per_term, len(pq.terms), deleted)
        if hit is None:
            return None
        lists, cand = hit
    elif _is_flat_or(tree):
        return _score_wand_or(per_term, idf_map, k1, b, avgdl, k, deleted)
    else:
        # boolean (Or/Not) mode: every referenced term's list is
        # decoded, because evaluating the tree needs all of them
        lists = {t: _TermList(tb, deleted) for t, tb in per_term.items()}
        cand = _eval_tree(tree, lists, phrases)
        if cand is None or not cand.size:
            return None
    scores = np.zeros(cand.size)
    for t, tl in lists.items():
        w = idf_map.get(t)
        if not w:
            continue  # negated-only term: contributes no score
        sel = _isin_sorted(tl.ids, cand)
        ids_s = tl.ids[sel]
        contrib = w * tl.tfs[sel] / (
            tl.tfs[sel] + k1 * (1 - b + b * tl.dls[sel] / avgdl)
        )
        scores[np.searchsorted(cand, ids_s)] += contrib
    if not pq.conjunctive:
        keep = scores > 0
        return _topk(cand[keep], scores[keep], k)
    if not phrases:
        return _topk(cand, scores, k)
    # phrase recheck in (score desc, docid asc) order, in doubling
    # chunks of k, 2k, 4k ... candidates filtered in bulk: positions
    # decode only until k docs have passed
    order = np.lexsort((cand, -scores))
    passed = []
    n_passed, lo, size = 0, 0, k
    while lo < order.size and n_passed < k:
        sel = np.sort(order[lo : lo + size])
        for chain in phrases:
            sel = sel[_phrase_start_docs(lists, cand[sel], chain)]
        passed.append(sel)
        n_passed += sel.size
        lo += size
        size *= 2
    sel = np.concatenate(passed)
    return _topk(cand[sel], scores[sel], k)


def _is_flat_or(tree) -> bool:
    """Or of single-lexeme phrases: the classic WAND-prunable shape."""
    return (
        isinstance(tree, Or)
        and all(
            isinstance(c, Phrase) and len(c.items) == 1
            for c in tree.children
        )
    )


def _score_wand_or(per_term, idf_map, k1, b, avgdl, k, deleted=None):
    """Union top-k with block-max (WAND-style) pruning.

    Terms are processed rarest-first (highest idf). Once k candidates
    exist, a block is skipped when (its idf-weighted upper bound from
    the stored max_tf/min_dl) + (the full idf mass of still-unseen
    terms) cannot lift a fresh doc above the current kth score AND the
    block's docid range contains no already-seen candidate (whose
    score the block could still improve). Both conditions keep the
    result exact; tests assert identity with the brute-force oracle.
    """
    # the docids seen so far, sorted, and their running scores
    ids = np.empty(0, np.int64)
    acc = np.empty(0, np.float64)
    order = sorted(per_term, key=lambda t: -idf_map.get(t, 0.0))
    for n_seen, t in enumerate(order, start=1):
        tb = per_term[t]
        w = idf_map.get(t, 0.0)
        if w <= 0:
            continue
        remaining_ub = sum(idf_map.get(u, 0.0) for u in order[n_seen:])
        if ids.size >= k:
            theta = np.partition(acc, -k)[-k]
            mx, mdl, lo, hi = (
                tb.column(c).to_numpy()
                for c in ("max_tf", "min_dl", "min_docid", "max_docid")
            )
            mx = mx.astype(np.float64)
            ub = w * mx / (mx + k1 * (1 - b + b * mdl / avgdl))
            keep_mask = (ub + remaining_ub) >= theta
            if not keep_mask.all():
                has_cand = (
                    np.searchsorted(ids, hi, "right")
                    - np.searchsorted(ids, lo, "left")
                ) > 0
                tb = tb.filter(keep_mask | has_cand)
        tl = _TermList(tb, deleted)
        contrib = w * tl.tfs / (tl.tfs + k1 * (1 - b + b * tl.dls / avgdl))
        # union, then add each posting's contribution in list order, so
        # every doc sums its terms rarest-first (add.at: a docid listed
        # twice adds twice)
        merged = np.union1d(ids, tl.ids)
        sc = np.zeros(merged.size)
        sc[np.searchsorted(merged, ids)] = acc
        np.add.at(sc, np.searchsorted(merged, tl.ids), contrib)
        ids, acc = merged, sc
    if not ids.size:
        return None
    return _topk(ids, acc, k)


def _eval_tree(tree, lists: dict[str, "_TermList"], phrases) -> np.ndarray | None:
    """Evaluate a tsquery tree to the sorted docid array it matches
    within this partition.  Negation is handled with complement
    algebra relative to sibling positive sets (top-level pure negation
    is rejected at parse time)."""

    def ev(node):
        # returns (ids ndarray, complemented: bool)
        if isinstance(node, Phrase):
            terms = [t for t, _ in node.items]
            ids = None
            for t in terms:
                tl = lists.get(t)
                if tl is None or tl.ids.size == 0:
                    return np.empty(0, np.int64), False
                ids = tl.ids if ids is None else ids[
                    _isin_sorted(ids, tl.ids)
                ]
            if len(node.items) > 1 and ids.size:
                ids = ids[_phrase_start_docs(lists, ids, node.items)]
            return ids, False
        if isinstance(node, Not):
            ids, comp = ev(node.child)
            return ids, not comp
        if isinstance(node, (And, Or)):
            is_and = isinstance(node, And)
            pos, neg = [], []
            for c in node.children:
                ids, comp = ev(c)
                (neg if comp else pos).append(ids)
            if is_and:
                if not pos:
                    # !a & !b == !(a | b): complement of the union
                    out = (
                        np.unique(np.concatenate(neg))
                        if neg
                        else np.empty(0, np.int64)
                    )
                    return out, True
                out = pos[0]
                for p in pos[1:]:
                    out = out[_isin_sorted(out, p)]
                for ng in neg:
                    out = out[~_isin_sorted(out, ng)]
                return out, False
            # Or: union of positives; a complemented child makes the
            # whole Or a complement: a | !b == !(b & !a)
            if neg:
                out = neg[0]
                for ng in neg[1:]:
                    out = out[_isin_sorted(out, ng)]
                for p in pos:
                    out = out[~_isin_sorted(out, p)]
                return out, True
            out = np.unique(np.concatenate(pos)) if pos else np.empty(0, np.int64)
            return out, False
        raise AssertionError(type(node))

    ids, comp = ev(tree)
    if comp:
        raise ValueError("query reduces to a pure negation")
    return np.sort(ids)


def _topk(ids, scores, k: int):
    """Top-k ``(docids, scores)`` int64/float64 arrays, or None."""
    ids = np.asarray(ids, np.int64)
    scores = np.asarray(scores, np.float64)
    if ids.size == 0:
        return None
    # top-k by (score desc, docid asc)
    order = np.lexsort((ids, -scores))[:k]
    return ids[order], scores[order]
