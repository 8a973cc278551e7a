"""Round-9 additions: CCNet-style perplexity bucketing and the
parameterized-SQL + IDENTIFIER surface.

In-repo oracle parity: ``tests/test_round9.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import curation
from ..sources.tables import load_table
from ._base import register

# DuckDB mirror of curation.perplexity_buckets: identical corpus-LM
# score (the text_unigram_logprob pipeline), identical
# histogram-with-cumulative-fraction tercile assignment (score DESC,
# tie-groups whole), identical composition aggregate, identical
# 'unscored' bucket for docs the LM never scores (NULL text — the
# only input whose token unnest emits zero rows; empty/whitespace
# text yields the '' token and is scored in both engines).  COUNTs
# CAST BIGINT for dtype parity.
PPL_BUCKETS_SQL = """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT SUM(tf) AS total FROM freq),
    scores AS (SELECT doc_id, ROUND(AVG(ln(tf / total)), 4) AS lp
               FROM toks JOIN freq USING (tok) CROSS JOIN tot
               GROUP BY doc_id),
    sc AS (SELECT s.doc_id, d.lang, s.lp
           FROM scores s JOIN documents d USING (doc_id)),
    hist AS (SELECT lang, lp, COUNT(*) AS n FROM sc GROUP BY 1, 2),
    cd AS (SELECT lang, lp,
                  SUM(n) OVER (PARTITION BY lang ORDER BY lp DESC)
                      * 1.0 / SUM(n) OVER (PARTITION BY lang) AS cf
           FROM hist),
    b AS (SELECT lang, lp,
                 CASE WHEN cf <= 1.0 / 3 THEN 'head'
                      WHEN cf <= 2.0 / 3 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM cd)
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(lp), 4) AS avg_logp,
           ROUND(MIN(lp), 4) AS min_logp,
           ROUND(MAX(lp), 4) AS max_logp
    FROM sc JOIN b USING (lang, lp)
    GROUP BY 1, 2
    UNION ALL
    SELECT lang, 'unscored' AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(NULL AS DOUBLE) AS avg_logp,
           CAST(NULL AS DOUBLE) AS min_logp,
           CAST(NULL AS DOUBLE) AS max_logp
    FROM documents
    WHERE string_split(text, ' ') IS NULL
       OR len(string_split(text, ' ')) = 0
    GROUP BY lang
"""


@register("curation_ppl_buckets", PPL_BUCKETS_SQL)
def curation_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CCNet head/middle/tail perplexity terciles per language
    (operators/curation.py:perplexity_buckets; Wenzek et al. 2020,
    arXiv 1911.00359)."""
    return curation.perplexity_buckets(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of sql.parameterized_revenue with the bound values
# inlined textually (parse-time binding makes the Spark plan identical
# to this literal form; DuckDB has no IDENTIFIER clause to mirror).
PARAMETERIZED_REVENUE_ORACLE_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_totalprice > 100000.0
    GROUP BY o_orderpriority
"""


@register("sql_parameterized_revenue", PARAMETERIZED_REVENUE_ORACLE_SQL)
def sql_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Parameterized SQL + IDENTIFIER clause: named :marker args
    bound as typed literals at parse time (sql.py:parameterized_revenue)."""
    from .. import sql as sqlmod

    return sqlmod.parameterized_revenue(spark, sf_dir)
