"""Python UDTF surface — the 1→N programmable slot the reference lacks.

The reference's map slot is strictly 1→1 (one push per input element,
reference: server/static/js/main.js:12-19); a row can never fan out. Spark's
Python UDTFs add the table-function form natively: ``eval`` yields any
number of rows per input, lateral-joined against the source. This module
registers a positional tokenizer UDTF as the demonstrator — the same
capability the engine otherwise expresses with ``explode`` (q_wordcount)
and ``mapInPandas`` demux (q_multimodal_frames), here as user-programmable
code with a declared schema.

Scale notes: a UDTF runs per-row in a Python worker — the slow path by
construction, same budget class as ``submit_algorithm``'s open-coded slots.
Use it when the fan-out logic is genuinely imperative; otherwise prefer
``explode`` on a Column expression (JVM, codegen). The lateral join itself
adds no shuffle: generation happens inside the scan stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from go_web_mapreduce_spark.functions.text import tokens
from go_web_mapreduce_spark.registry import query
from go_web_mapreduce_spark.sources.tables import load_table


@udtf(returnType="pos int, token string", useArrow=True)
class PositionalTokenizeUDTF:
    """Emits (1-based position, token) per token of a pre-split token array.

    Tokenization stays in the JVM (``tokens()`` — engine-exact lower/split);
    the UDTF only enumerates, so its output is engine-portable by
    construction. ``useArrow=True``: rows batch over Arrow instead of
    pickled one-at-a-time (measured 2.3× at sf0.1 — still the slow path
    vs ``explode``; that trade is the point of the demonstrator).
    """

    def eval(self, tk):  # noqa: ANN001 — UDTF eval signature is positional
        if tk is None:
            return
        for i, t in enumerate(tk):
            yield i + 1, t


def register_udtfs(spark: SparkSession) -> None:
    spark.udtf.register("positional_tokenize", PositionalTokenizeUDTF)


@query(
    "q_udtf_tokens",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
      FROM documents
    ), pos AS (
      -- parallel unnest zips the token list with its 1-based positions
      SELECT unnest(tk) AS token, unnest(range(1, len(tk) + 1)) AS pos FROM toks
    )
    SELECT token, count(*) AS n, min(pos) AS min_pos, max(pos) AS max_pos
    FROM pos GROUP BY token
    """,
    description="Python UDTF (1→N table function) positional tokenizer "
    "lateral-joined over documents — the row-fan-out programmable slot the "
    "reference's strictly-1→1 map cannot express (SURVEY §2.2 UDF/UDTF)",
)
def q_udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_udtfs(spark)
    docs = load_table(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT t.token, count(*) AS n, min(t.pos) AS min_pos, max(t.pos) AS max_pos
        FROM {docs}, LATERAL positional_tokenize(tk) AS t
        GROUP BY t.token
        """,
        docs=docs.select(tokens("text").alias("tk")),
    )
