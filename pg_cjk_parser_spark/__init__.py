"""pg_cjk_parser_spark: a PySpark-native full-text engine with the
query and data-processing capabilities of the reference CJK-aware
text-search parser (huangjimmy/pg_cjk_parser), re-expressed
Spark-first.

Reference API surface -> this package
(reference: /root/reference/pg_cjk_parser--0.0.1.sql:5-47):

=====================  ==============================================
reference              here
=====================  ==============================================
prsd2_cjk_start/       kernel.tokenizer.tokenize / spark.udfs
 nexttoken/end          .ts_debug_udf (full token stream per doc)
prsd2_cjk_lextype      lextype()
ts_debug               ts_debug()
to_tsvector            to_tsvector() / spark.udfs.tsvector_udf
to_tsquery             to_tsquery(), plainto_tsquery()
@@ (match)             ts_match()
prsd2_cjk_headline     ts_headline() (functions.headline)
cjk_zht2zhs            cjk_zht2zhs() / spark.udfs.zht2zhs_udf
GIN index + ranking    index.build.build_index (salted, block-max,
                        resumable) + query.topk.search (BM25 top-k)
=====================  ==============================================
"""

import sys as _sys

# Inside a Spark task (unpickling any library UDF imports this package)
# stop the worker re-reading pyspark.zip before every task; see
# spark.worker_env. A process that has not imported pyspark is no task.
if (
    "pyspark" in _sys.modules
    and _sys.modules["pyspark"].TaskContext.get() is not None
):
    from .spark import worker_env as _worker_env

    _worker_env.install()

from .functions.headline import headline as ts_headline
from .functions.zht2zhs import zht2zhs as cjk_zht2zhs
from .kernel.fsm import LASTNUM, TOKEN_ALIASES, TOKEN_DESCRIPTIONS
from .kernel.tokenizer import lexemes, token_strings, tokenize
from .kernel.tsvector import (
    plainto_tsquery,
    to_tsquery,
    to_tsvector,
    ts_match,
    tsquery_str,
    tsvector_str,
)


def lextype() -> list[tuple[int, str, str]]:
    """The 24-entry token-type catalog (reference prsd2_lextype)."""
    return [
        (i, TOKEN_ALIASES[i], TOKEN_DESCRIPTIONS[i])
        for i in range(1, LASTNUM + 1)
    ]


def ts_debug(text: str) -> list[tuple[str, str, str]]:
    """(alias, description, token) stream, like SELECT * FROM ts_debug."""
    from .kernel.tokenizer import tokenize as _tok

    out = []
    for start, ln, tt in _tok(text):
        out.append(
            (TOKEN_ALIASES[tt], TOKEN_DESCRIPTIONS[tt], text[start : start + ln])
        )
    return out


__all__ = [
    "ts_headline",
    "cjk_zht2zhs",
    "tokenize",
    "token_strings",
    "lexemes",
    "to_tsvector",
    "to_tsquery",
    "plainto_tsquery",
    "ts_match",
    "tsvector_str",
    "tsquery_str",
    "lextype",
    "ts_debug",
    "TOKEN_ALIASES",
    "TOKEN_DESCRIPTIONS",
]
