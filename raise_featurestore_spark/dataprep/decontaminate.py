"""Benchmark decontamination: flag corpus documents that share word
n-grams with a held-out evaluation set.

The standard pre-training hygiene step (GPT-3-style 13-gram overlap,
scaled down to the corpus at hand): any training document containing an
exact word n-gram that also appears in a benchmark document leaks
evaluation data and must be dropped or scrubbed.

Scale design: the benchmark side is tiny relative to the corpus, so its
distinct n-gram hash set broadcasts; the corpus side streams through one
explode + one broadcast-hash semi-join + one per-doc count — no shuffle of
corpus text, no corpus self-join. At 100 TB the benchmark gram set is
materialized once and reused across corpus partitions (same
store-the-signatures posture as the dedup operators).

Grams are hashed with the shared md5-derived h32 (dataprep/hashing.py) so
the DuckDB twin computes identical values. The reference has no
decontamination surface; engine addition per the task brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep import hashing as H
from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint

DEFAULT_DECON_N = 8  # word n-gram size

# Broadcast guard: above this many distinct benchmark grams the hash set no
# longer belongs in a broadcast (4M rows × ~16 B/row ≈ the 64 MB broadcast
# comfort zone) and the semi-join falls back to a shuffled hash join.
DEFAULT_MAX_BROADCAST_GRAMS = 4_000_000


def _toks(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), r"\W+"), lambda w: F.length(w) > 0)


def _toks_sql(e: str) -> str:
    return f"list_filter(string_split_regex(LOWER({e}), '\\W+'), w -> length(w) > 0)"


def word_ngram_hashes(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = DEFAULT_DECON_N
) -> DataFrame:
    """(id, gh) — distinct hashed word n-grams per document."""
    grams = F.expr(
        f"CASE WHEN size(__t) >= {n} THEN "
        f"transform(sequence(1, size(__t) - {n} + 1), "
        f"i -> concat_ws(' ', slice(__t, i, {n}))) "
        f"ELSE array() END"
    )
    return (
        df.withColumn("__t", _toks(F.col(text_col)))
        .select(F.col(id_col).alias("id"), F.explode(F.array_distinct(grams)).alias("__g"))
        .select("id", H.h32(F.col("__g")).alias("gh"))
    )


def _word_ngram_hashes_sql(table: str, id_col: str, text_col: str, n: int) -> str:
    toks = _toks_sql(text_col)
    return (
        f"SELECT {id_col} AS id, {H.h32_sql('__g')} AS gh FROM ("
        f"SELECT {id_col}, UNNEST(list_distinct(list_transform("
        f"range(1, len(toks) - {n} + 2), "
        f"i -> array_to_string(toks[i:i+{n}-1], ' ')))) AS __g "
        f"FROM (SELECT {id_col}, {toks} AS toks FROM {table}) __tk) __gr"
    )


def decontaminate(
    corpus_df: DataFrame,
    benchmark_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_DECON_N,
    max_broadcast_grams: int | None = DEFAULT_MAX_BROADCAST_GRAMS,
) -> DataFrame:
    """(doc_id, n_overlapping_ngrams, contaminated) per corpus document.

    ``contaminated`` is true iff the document shares ≥1 exact word n-gram
    with any benchmark document. The benchmark gram set is explicitly
    broadcast while it fits (today's benchmark suites: MBs); a held-out
    corpus bigger than ``max_broadcast_grams`` distinct grams would blow
    the broadcast/driver budget, so the join degrades to a shuffled hash
    join instead (``hint("shuffle_hash")`` — no sort, grams shuffle once).
    The guard counts the checkpointed gram set, a benchmark-side-only job; at
    100 TB the gram set is a materialized table and the count comes from
    table stats instead. ``max_broadcast_grams=None`` skips the guard and
    always broadcasts.
    """
    bench = word_ngram_hashes(benchmark_df, id_col, text_col, n).select("gh").distinct()
    use_broadcast = True
    if max_broadcast_grams is not None:
        # checkpointed so the guard's count and the join read one
        # materialized gram set
        bench = scoped_checkpoint(bench, eager=False)
        use_broadcast = bench.count() <= max_broadcast_grams
    corpus = word_ngram_hashes(corpus_df, id_col, text_col, n)
    bench_side = F.broadcast(bench) if use_broadcast else bench.hint("shuffle_hash")
    hits = (
        corpus.join(bench_side, on="gh", how="inner")
        .groupBy("id")
        .agg(F.count("*").alias("n_overlapping_ngrams"))
    )
    return (
        corpus_df.select(F.col(id_col).alias("id"))
        .join(hits, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_overlapping_ngrams", F.lit(0)).alias("n_overlapping_ngrams"),
            (F.coalesce("n_overlapping_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(
    corpus_table: str,
    benchmark_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_DECON_N,
) -> str:
    """DuckDB twin of :func:`decontaminate`."""
    bench = _word_ngram_hashes_sql(benchmark_table, id_col, text_col, n)
    corpus = _word_ngram_hashes_sql(corpus_table, id_col, text_col, n)
    return (
        f"WITH __bg AS (SELECT DISTINCT gh FROM ({bench}) __b), "
        f"__cg AS ({corpus}), "
        f"__hits AS (SELECT id, COUNT(*) AS n_overlapping_ngrams "
        f"FROM __cg JOIN __bg USING (gh) GROUP BY id) "
        f"SELECT c.{id_col}, CAST(COALESCE(h.n_overlapping_ngrams, 0) AS BIGINT) "
        f"AS n_overlapping_ngrams, "
        f"COALESCE(h.n_overlapping_ngrams, 0) > 0 AS contaminated "
        f"FROM {corpus_table} c LEFT JOIN __hits h ON c.{id_col} = h.id"
    )
