"""N-gram language-model perplexity scoring (CCNet-style quality signal).

The curation step CCNet (Wenzek et al., *CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data*, arXiv:1911.00359) made standard:
score every document by its perplexity under a small LM trained on a
trusted corpus, then split the corpus into head/middle/tail quality
buckets. The reference has no LM-scoring operator (its curation surface is
mocked); engine addition per the §2.14 charter. Production uses a KenLM
binary; this is the same *pipeline* with the LM replaced by an add-k
bigram model the engine itself fits distributively — the part that matters
at 100 TB is the data movement, which is identical.

Plan shape (scale-first):

1. **Fit** (over the corpus itself, or any reference corpus): one explode →
   unigram counts (1 shuffle); top-``vocab_size`` tokens become the vocab
   (bounded by construction → broadcastable), everything else maps to
   ``<unk>`` — exactly how production LMs cap model size so the model side
   of every later join stays small. Bigram counts over the mapped token
   stream: one per-doc window (bounded partitions — a document's tokens,
   never a global sort) + one groupBy (1 shuffle). Context totals are a
   groupBy over the bigram *model* (model-sized, tiny).
2. **Score**: doc bigrams equi-join the bigram model on (prev, tok) —
   hash-partitioned both sides, the one big join — then a broadcast join
   to the context totals, then one groupBy(doc) for the average NLL.
   P(w|v) = (c(v,w) + k) / (c(v,·) + k·(|V|+1)), add-k smoothing.

Cross-engine posture: counts are exact integers; ln/exp enter only in the
final per-doc fold, and both avg_nll and ppl snap to the 5-significant-
digit grid (`functions/stable`) so libm last-ulp differences cannot reach
the driver's value hash. |V|+1 is computed in-plan on both engines (the
corpus vocabulary can be smaller than ``vocab_size``).

At 100 TB: two corpus scans (fit + score) when scoring the training corpus
itself; a fixed reference model turns it into one. The model tables are
document-frequency-shaped — orders of magnitude smaller than the corpus —
and every corpus-sized shuffle is an equi-join on (prev, tok) or a
groupBy(doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep.text import _tokens, _tokens_sql
from raise_featurestore_spark.functions.conf_scope import scoped_checkpoint
from raise_featurestore_spark.functions.stable import sig_round, sig_round_sql

DEFAULT_VOCAB = 512
DEFAULT_ADD_K = 0.1
UNK = "<unk>"


def _token_positions(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = _tokens(F.col(text_col))
    return df.select(F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok"))


def fit_bigram_lm(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
) -> DataFrame:
    """TRAIN-ONCE: the add-k bigram LM as ONE persistable reference table
    (write it with ``df.write.parquet`` / ``io/cache.cached_table`` and
    score any corpus against it forever after — the operator a 100 TB
    pipeline actually runs).

    Row encoding: ``prev IS NULL`` rows are the vocabulary (tok, cnt =
    corpus unigram count); ``prev IS NOT NULL`` rows are bigram counts
    over the vocab-mapped token stream. Context totals and |V| derive
    from the table itself at score time, so the model is self-contained.
    Size is vocabulary-bounded (≤ |V|+1 choices per context), never
    corpus-scale."""
    tokpos = _token_positions(df, id_col, text_col)
    uni = tokpos.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # the vocab is ≤ vocab_size rows but sits under BOTH output branches
    # (vocab rows + the broadcast map side of the bigram pass) — without
    # pinning it, the union recomputes the full tokenize+count scan per
    # branch (measured 13.5 s vs 6 s at sf0.1)
    vocab = scoped_checkpoint(uni.orderBy(F.col("cnt").desc(), "tok").limit(vocab_size))
    bigrams = _vocab_bigrams(tokpos, vocab.select("tok"))
    model = bigrams.groupBy("prev", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    vrows = vocab.select(
        F.lit(None).cast("string").alias("prev"), "tok", F.col("cnt").cast("long")
    )
    return vrows.unionByName(model.select("prev", "tok", F.col("cnt").cast("long")))


def _vocab_bigrams(tokpos: DataFrame, vocab: DataFrame) -> DataFrame:
    """(id, prev, tok) over the vocab-mapped stream — shared by fit and
    score so both map out-of-vocab tokens to <unk> identically."""
    mapped = tokpos.join(
        F.broadcast(vocab.withColumn("__v", F.lit(1))), "tok", "left"
    ).select(
        "id",
        "pos",
        F.when(F.col("__v") == 1, F.col("tok")).otherwise(F.lit(UNK)).alias("tm"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    return (
        mapped.withColumn("prev", F.lag("tm").over(w))
        .where(F.col("prev").isNotNull())
        .select("id", "prev", F.col("tm").alias("tok"))
    )


def score_with_bigram_lm(
    df: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = DEFAULT_ADD_K,
) -> DataFrame:
    """SCORE-MANY: per-document perplexity of ``df`` under a PRE-BUILT
    :func:`fit_bigram_lm` table. No fit joins — the model side is
    vocabulary-bounded and BROADCAST, so the only corpus-scale shuffles
    are the per-document token window and the final groupBy(doc); fit
    joins cost text_lm_perplexity / text_ppl_buckets 9–11×.

    Unseen (prev, tok) bigrams take the add-k floor (cb=0); a prev never
    seen as a context takes cc=0 — standard add-k semantics, and exactly
    what makes held-out scoring meaningful."""
    vocab = model.where(F.col("prev").isNull()).select("tok")
    bm = model.where(F.col("prev").isNotNull()).select(
        "prev", "tok", F.col("cnt").alias("cb")
    )
    ctx = bm.groupBy("prev").agg(F.sum("cb").alias("cc"))
    # |V|+1 in-plan (corpus vocab can be < vocab_size); 1-row broadcast
    vsz = vocab.agg((F.count(F.lit(1)) + 1).cast("double").alias("__vsz"))
    bigrams = _vocab_bigrams(_token_positions(df, id_col, text_col), vocab)
    scored = (
        bigrams.join(F.broadcast(bm), ["prev", "tok"], "left")
        .join(F.broadcast(ctx), "prev", "left")
        .crossJoin(F.broadcast(vsz))
        .select(
            "id",
            F.log(
                (F.coalesce(F.col("cb"), F.lit(0)) + F.lit(add_k))
                / (F.coalesce(F.col("cc"), F.lit(0)) + F.lit(add_k) * F.col("__vsz"))
            ).alias("logp"),
        )
    )
    nll = -F.avg("logp")
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        sig_round(nll).alias("avg_nll"),
        sig_round(F.exp(nll)).alias("ppl"),
    ).withColumnRenamed("id", id_col)


def lm_perplexity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    add_k: float = DEFAULT_ADD_K,
    model: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, ppl): per-document perplexity under an
    add-k bigram LM — fit on ``df`` itself by default, or scored against a
    pre-built ``model`` (:func:`fit_bigram_lm`) when given. Self-fit and
    score-against-own-fit are the same numbers (every self-corpus bigram
    is in its own model, so the unseen-bigram floor never fires).

    Documents with fewer than 2 tokens have no bigrams and are absent from
    the result (their quality is decided by the min-token rule in
    `dataprep/filters.py`, not by an LM score of an empty stream).
    """
    if model is None:
        model = fit_bigram_lm(df, id_col, text_col, vocab_size)
    return score_with_bigram_lm(df, model, id_col, text_col, add_k)


def _lm_ctes(
    table: str, id_col: str, text_col: str, vocab_size: int, add_k: float
) -> str:
    """Shared WITH-body ending in ``scored(id, logp)`` + ``perdoc``."""
    tk = _tokens_sql(text_col)
    return (
        f"base AS (SELECT {id_col} AS id, {tk} AS tk FROM {table}), "
        f"tokpos AS (SELECT id, i AS pos, tk[i + 1] AS tok FROM base, "
        f"UNNEST(range(0, len(tk))) AS __t(i)), "
        f"uni AS (SELECT tok, COUNT(*) AS cnt FROM tokpos GROUP BY tok), "
        f"vocab AS (SELECT tok FROM uni ORDER BY cnt DESC, tok LIMIT {vocab_size}), "
        f"mapped AS (SELECT t.id, t.pos, CASE WHEN v.tok IS NOT NULL THEN t.tok "
        f"ELSE '{UNK}' END AS tm FROM tokpos t LEFT JOIN vocab v USING (tok)), "
        f"lagged AS (SELECT id, LAG(tm) OVER (PARTITION BY id ORDER BY pos) AS prev, "
        f"tm AS tok FROM mapped), "
        f"bigrams AS (SELECT id, prev, tok FROM lagged WHERE prev IS NOT NULL), "
        f"model AS (SELECT prev, tok, COUNT(*) AS cb FROM bigrams GROUP BY 1, 2), "
        f"ctx AS (SELECT prev, SUM(cb) AS cc FROM model GROUP BY 1), "
        f"vsz AS (SELECT CAST(COUNT(*) + 1 AS DOUBLE) AS __vsz FROM vocab), "
        f"scored AS (SELECT b.id, LN((m.cb + {add_k}) / (c.cc + {add_k} * v.__vsz)) "
        f"AS logp FROM bigrams b JOIN model m USING (prev, tok) "
        f"JOIN ctx c USING (prev) CROSS JOIN vsz v), "
        f"perdoc AS (SELECT id, COUNT(*) AS n_bigrams, "
        f"{sig_round_sql('-AVG(logp)')} AS avg_nll, "
        f"{sig_round_sql('EXP(-AVG(logp))')} AS ppl FROM scored GROUP BY id)"
    )


def lm_perplexity_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    add_k: float = DEFAULT_ADD_K,
) -> str:
    ctes = _lm_ctes(table, id_col, text_col, vocab_size, add_k)
    return (
        f"WITH {ctes} SELECT id AS {id_col}, n_bigrams, avg_nll, ppl FROM perdoc"
    )


def ppl_bucket_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = DEFAULT_VOCAB,
    add_k: float = DEFAULT_ADD_K,
    n_buckets: int = 3,
    approx: bool = False,
    model: DataFrame | None = None,
) -> DataFrame:
    """CCNet head/middle/tail split: per-language perplexity ``n_buckets``-
    tiles → (lang, bucket, n_docs, avg_ppl, min_ppl, max_ppl).

    ``approx=False`` (the oracle anchor) buckets by NTILE over the total
    order (snapped ppl, doc_id) — deterministic integers cross-engine, but
    the per-language window is a per-language sort. ``approx=True`` is the
    100 TB path: bucket thresholds from the mergeable approx_percentile
    sketch (no global sort; same posture as agg_global_stats_approx), at
    the cost of sketch-accuracy bucket edges — which is exactly what CCNet
    itself does (sampled thresholds).
    """
    ppl = lm_perplexity(df, id_col, text_col, vocab_size, add_k, model=model)
    langs = df.select(F.col(id_col), F.col(lang_col).alias("lang"))
    j = ppl.join(langs, id_col)
    if approx:
        fracs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
        thr = j.groupBy("lang").agg(
            F.approx_percentile("ppl", fracs, F.lit(10000)).alias("__thr")
        )
        j = j.join(F.broadcast(thr), "lang").withColumn(
            "bucket",
            F.lit(1)
            + F.aggregate(
                F.col("__thr"),
                F.lit(0),
                lambda acc, t: acc + (F.col("ppl") > t).cast("int"),
            ),
        )
    else:
        w = Window.partitionBy("lang").orderBy("ppl", id_col)
        j = j.withColumn("bucket", F.ntile(n_buckets).over(w))
    return j.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        sig_round(F.avg("ppl")).alias("avg_ppl"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


def ppl_bucket_report_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = DEFAULT_VOCAB,
    add_k: float = DEFAULT_ADD_K,
    n_buckets: int = 3,
) -> str:
    ctes = _lm_ctes(table, id_col, text_col, vocab_size, add_k)
    return (
        f"WITH {ctes}, withlang AS (SELECT p.id, p.ppl, d.{lang_col} AS lang "
        f"FROM perdoc p JOIN {table} d ON p.id = d.{id_col}), "
        f"tiled AS (SELECT lang, ppl, NTILE({n_buckets}) OVER ("
        f"PARTITION BY lang ORDER BY ppl, id) AS bucket FROM withlang) "
        f"SELECT lang, bucket, COUNT(*) AS n_docs, "
        f"{sig_round_sql('AVG(ppl)')} AS avg_ppl, "
        f"MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl "
        f"FROM tiled GROUP BY lang, bucket"
    )


def score_with_bigram_lm_sql(
    fit_table: str,
    score_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = DEFAULT_VOCAB,
    add_k: float = DEFAULT_ADD_K,
) -> str:
    """DuckDB twin of fit_bigram_lm(fit_table) → score_with_bigram_lm(
    score_table): regenerates the model DETERMINISTICALLY from the fit
    corpus (same CTE chain as the self-fit oracle) and scores the held-out
    corpus with LEFT JOIN + COALESCE — unseen bigrams take the add-k
    floor, unseen contexts cc=0, exactly the Spark semantics."""
    tk = _tokens_sql(text_col)
    fit = (
        f"fbase AS (SELECT {id_col} AS id, {tk} AS tk FROM {fit_table}), "
        f"ftokpos AS (SELECT id, i AS pos, tk[i + 1] AS tok FROM fbase, "
        f"UNNEST(range(0, len(tk))) AS __t(i)), "
        f"funi AS (SELECT tok, COUNT(*) AS cnt FROM ftokpos GROUP BY tok), "
        f"vocab AS (SELECT tok FROM funi ORDER BY cnt DESC, tok LIMIT {vocab_size}), "
        f"fmapped AS (SELECT t.id, t.pos, CASE WHEN v.tok IS NOT NULL THEN t.tok "
        f"ELSE '{UNK}' END AS tm FROM ftokpos t LEFT JOIN vocab v USING (tok)), "
        f"flagged AS (SELECT id, LAG(tm) OVER (PARTITION BY id ORDER BY pos) AS prev, "
        f"tm AS tok FROM fmapped), "
        f"fbigrams AS (SELECT id, prev, tok FROM flagged WHERE prev IS NOT NULL), "
        f"model AS (SELECT prev, tok, COUNT(*) AS cb FROM fbigrams GROUP BY 1, 2), "
        f"ctx AS (SELECT prev, SUM(cb) AS cc FROM model GROUP BY 1), "
        f"vsz AS (SELECT CAST(COUNT(*) + 1 AS DOUBLE) AS __vsz FROM vocab)"
    )
    score = (
        f"sbase AS (SELECT {id_col} AS id, {tk} AS tk FROM {score_table}), "
        f"stokpos AS (SELECT id, i AS pos, tk[i + 1] AS tok FROM sbase, "
        f"UNNEST(range(0, len(tk))) AS __t(i)), "
        f"smapped AS (SELECT t.id, t.pos, CASE WHEN v.tok IS NOT NULL THEN t.tok "
        f"ELSE '{UNK}' END AS tm FROM stokpos t LEFT JOIN vocab v USING (tok)), "
        f"slagged AS (SELECT id, LAG(tm) OVER (PARTITION BY id ORDER BY pos) AS prev, "
        f"tm AS tok FROM smapped), "
        f"sbigrams AS (SELECT id, prev, tok FROM slagged WHERE prev IS NOT NULL), "
        f"scored AS (SELECT b.id, LN((COALESCE(m.cb, 0) + {add_k}) / "
        f"(COALESCE(c.cc, 0) + {add_k} * v.__vsz)) AS logp "
        f"FROM sbigrams b LEFT JOIN model m ON b.prev = m.prev AND b.tok = m.tok "
        f"LEFT JOIN ctx c ON b.prev = c.prev CROSS JOIN vsz v), "
        f"perdoc AS (SELECT id, COUNT(*) AS n_bigrams, "
        f"{sig_round_sql('-AVG(logp)')} AS avg_nll, "
        f"{sig_round_sql('EXP(-AVG(logp))')} AS ppl FROM scored GROUP BY id)"
    )
    return (
        f"WITH {fit}, {score} "
        f"SELECT id AS {id_col}, n_bigrams, avg_nll, ppl FROM perdoc"
    )
