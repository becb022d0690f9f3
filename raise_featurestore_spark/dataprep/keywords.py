"""Per-document TF-IDF keyword extraction.

The standard corpus-indexing/topic-tagging primitive a training-data
pipeline uses for recipe design (what is this document about?) and for
building retrieval training sets. The reference has no term-weighting
operator (engine addition per the §2.14 charter).

Plan shape:

1. ``(doc, term, tf)``: explode + one groupBy (1 corpus shuffle);
2. ``df(term)``: one aggregate over the (doc, term) frame — document
   frequency, model-sized (vocabulary), not corpus-sized;
3. smoothed idf (sklearn's ``ln((1+N)/(1+df)) + 1``) joined back on
   ``term`` — a hash equi-join against the vocabulary-sized frame; the
   corpus total N is a 1-row broadcast;
4. top-``k`` per doc by a window over (score desc, term) — per-document
   partitions, bounded by document vocabulary, never a global sort.

Cross-engine posture: tf/df/N are exact integers; the score snaps to the
5-significant-digit grid BEFORE ranking on both engines, with the term
string as the tie-break, so rank order cannot flip on libm last-ulp ln
differences (same contract as `functions/stable`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep.text import _tokens, _tokens_sql
from raise_featurestore_spark.functions.stable import sig_round, sig_round_sql

DEFAULT_TOP_K = 5


def tfidf_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term, tf, df, tfidf): every (doc, term) pair with its snapped
    smoothed TF-IDF score."""
    toks = _tokens(F.col(text_col))
    pairs = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    idf = F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    return (
        pairs.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("id", "term", "tf", "df", sig_round(F.col("tf") * idf).alias("tfidf"))
    )


def top_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_TOP_K,
) -> DataFrame:
    """(doc_id, rank, term, tf, df, tfidf): top-``k`` TF-IDF terms per doc."""
    scored = tfidf_terms(df, id_col, text_col)
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("id").alias(id_col), "rank", "term", "tf", "df", "tfidf")
    )


def _tfidf_ctes(table: str, id_col: str, text_col: str) -> str:
    tk = _tokens_sql(text_col)
    idf = f"LN((1.0 + n.__n) / (1.0 + d.df)) + 1.0"
    return (
        f"base AS (SELECT {id_col} AS id, {tk} AS tk FROM {table}), "
        f"pairs AS (SELECT id, term, COUNT(*) AS tf FROM ("
        f"SELECT id, UNNEST(tk) AS term FROM base) __x GROUP BY id, term), "
        f"dfreq AS (SELECT term, COUNT(*) AS df FROM pairs GROUP BY term), "
        f"ndocs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS __n FROM {table}), "
        f"scored AS (SELECT p.id, p.term, p.tf, d.df, "
        f"{sig_round_sql(f'p.tf * ({idf})')} AS tfidf "
        f"FROM pairs p JOIN dfreq d USING (term) CROSS JOIN ndocs n)"
    )


def top_keywords_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DEFAULT_TOP_K,
) -> str:
    ctes = _tfidf_ctes(table, id_col, text_col)
    return (
        f"WITH {ctes}, ranked AS (SELECT id, term, tf, df, tfidf, "
        f"ROW_NUMBER() OVER (PARTITION BY id ORDER BY tfidf DESC, term) AS rank "
        f"FROM scored) "
        f"SELECT id AS {id_col}, rank, term, tf, df, tfidf FROM ranked "
        f"WHERE rank <= {k}"
    )
