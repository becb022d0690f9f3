"""Deduplication operators over a (doc_id, text) corpus.

Five strategies, cheapest-first, all deterministic and (except where noted)
oracle-checkable against DuckDB running the SAME plan:

- **exact**        : md5-groupBy; one shuffle of (hash → id).
- **ngram jaccard**: inverted-index self-join on character shingles with a
  document-frequency cap — the classic all-pairs-similarity plan that
  avoids O(n²) by only pairing docs sharing a (rare) shingle.
- **minhash + LSH**: k seeded min-hashes per doc (one explode + one groupBy),
  banded into (band, band-hash) buckets; candidate pairs join only within
  buckets. The scale path for corpora where even the shingle join is too hot.
- **simhash**      : 32-bit sign-of-weighted-sums fingerprint; near-dup =
  hamming ≤ radius among pairs sharing one of four 8-bit bands.
- **embedding cosine** near-dup lives in similarity.py (same banding trick
  with random-hyperplane signs).

Scale notes:
- Shingling multiplies rows by ~|text|; the df-cap (`max_df`) both bounds
  skew (a stop-shingle appearing in every doc would square the join) and
  cuts output volume. At 100 TB, raise `ngram_n` and cap `max_df` low.
- Every join here is an equi-join on a hash/band key → hash-partitioned
  shuffle, AQE-coalesced; no broadcast needed since both sides are big.
- All hashes derive from the shared md5-based h32 (see hashing.py), so the
  DuckDB oracle reproduces values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep import hashing as H
from raise_featurestore_spark.functions.conf_scope import scoped_persist
from raise_featurestore_spark.functions.stable import grid_snap, grid_snap_sql

DEFAULT_NGRAM = 5
DEFAULT_MAX_DF = 100
DEFAULT_MINHASH_K = 16
DEFAULT_BANDS = 4


def _norm_text(c: Column) -> Column:
    return F.lower(F.trim(c))


def _norm_text_sql(e: str) -> str:
    return f"LOWER(TRIM({e}))"


def _bucket_pairs(
    df: DataFrame, keys: list[str], payload: list[str], keep: str | None = None
) -> DataFrame:
    """Every pair of rows that share a bucket, without a self-join.

    Groups ``df`` by ``keys`` and returns one row per (pair, shared
    bucket): ``a`` and ``b`` are ``struct(*payload)`` with ``a.id <
    b.id`` (``payload`` must include ``id``; rows with equal ids never
    pair). A pair sharing k buckets appears k times; singleton buckets
    emit nothing. ``keep`` is an optional SQL predicate over the two rows
    ``x`` and ``y`` (in either order); pairs failing it are dropped
    inside the expansion, before they are emitted.

    Memory: a bucket's pairs stream through two chained Generates
    (posexplode of the bucket, then explode of each pivot's tail slice),
    so a bucket of m rows emits its C(m, 2) pairs with O(m) bytes per
    row. ``collect_list`` holds a whole bucket at aggregation
    finalization, and nothing bounds a bucket's size: it is every row
    that shares its key.
    """
    keep_pair = "x.id != y.id" if keep is None else f"x.id != y.id AND ({keep})"
    return (
        df.groupBy(*keys)
        .agg(F.collect_list(F.struct(*payload)).alias("xs"))
        .where(F.size("xs") >= 2)
        .select("xs", F.posexplode("xs").alias("__i", "x"))
        .select(
            "x",
            F.explode(
                F.expr(f"filter(slice(xs, __i + 2, size(xs)), y -> {keep_pair})")
            ).alias("y"),
        )
        .select(
            F.expr("IF(x.id < y.id, x, y)").alias("a"),
            F.expr("IF(x.id < y.id, y, x)").alias("b"),
        )
    )


# ---------------------------------------------------------------- exact


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", only_dups: bool = True
) -> DataFrame:
    """Group identical (normalized) texts: keeper = min id, plus dup count.

    ``only_dups=False`` returns the full keeper table (the thing you'd
    anti-join the corpus against to drop duplicates)."""
    h = F.md5(_norm_text(F.col(text_col)).cast("binary")).alias("content_hash")
    out = (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return out.where(F.col("n_docs") > 1) if only_dups else out


def exact_duplicates_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", only_dups: bool = True
) -> str:
    having = " HAVING COUNT(*) > 1" if only_dups else ""
    return (
        f"SELECT md5({_norm_text_sql(text_col)}) AS content_hash, "
        f"MIN({id_col}) AS keeper_id, COUNT(*) AS n_docs "
        f"FROM {table} GROUP BY 1{having}"
    )


# ---------------------------------------------------------------- shingles


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = DEFAULT_NGRAM
) -> DataFrame:
    """(id, shingle-hash) pairs — distinct character n-grams per doc.

    The normalized text is PROJECTED once per row before the gram
    transform: referencing ``lower(trim(text))`` inside the lambda would
    re-evaluate it per element — one full lowered copy of the document
    per shingle position, O(len²) bytes per doc.
    """
    base = df.select(
        F.col(id_col).alias("id"), _norm_text(F.col(text_col)).alias("__t")
    )
    t = F.col("__t")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.length(t) - n, F.lit(0))),
        lambda i: F.substring(t, F.lit(1) + i, n),
    )
    return base.select(
        "id",
        F.explode(F.array_distinct(grams)).alias("shingle"),
    ).select("id", H.h32(F.col("shingle")).alias("sh"))


def _shingles_sql(table: str, id_col: str, text_col: str, n: int) -> str:
    t = _norm_text_sql(text_col)
    return (
        f"SELECT {id_col} AS id, {H.h32_sql('shingle')} AS sh FROM ("
        f"SELECT {id_col}, UNNEST(list_distinct(list_transform("
        f"range(0, GREATEST(length({t}) - {n}, 0) + 1), "
        f"i -> substr({t}, i + 1, {n})))) AS shingle FROM {table}) __sh"
    )


# ---------------------------------------------------------------- jaccard


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.6,
    max_df: int = DEFAULT_MAX_DF,
    round_to: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by character-n-gram Jaccard ≥ threshold.

    Prefix-filtered inverted-index plan (PPJoin-style): docs pair up only
    through shared RARE shingles (document frequency ≤ max_df) drawn from
    each doc's rarest-first prefix, so candidate complexity is Σ df(s)²
    over prefix shingles — a small slice of the rare index — rather than
    |docs|²; candidates are then verified with one in-row array_intersect
    per pair.

    Candidates come from :func:`_bucket_pairs` over the prefix index,
    bucketed by shingle: each posting list holds ≤ max_df ids (the df
    cap), so per-bucket work is bounded at C(max_df, 2) pairs and there
    is nothing to salt or broadcast.
    """
    # consumed twice (df-cap aggregate, df-attach join)
    sh = scoped_persist(shingles(df, id_col, text_col, n))
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    # SORT-MERGE, not broadcast, for the df-attach join: df_counts is the
    # corpus's DISTINCT-shingle relation — Catalyst's size estimate reads
    # it as broadcastable at toy scale, but it grows linearly with the
    # corpus. SMJ clusters on sh (the build side reuses the groupBy's own
    # exchange) and spills instead of holding a per-task hash relation,
    # which a shuffle-hash join would build in heap once per task.
    #
    # The join keeps EVERY shingle row (the cap becomes an in-row
    # condition) so that ONE groupBy(id) computes both the full set size
    # sz and the rare sorted array. The rare condition sits INSIDE
    # collect_list as a WHEN (collect_list skips nulls), so the partial
    # aggregate drops common shingles map-side and the exchange ships
    # only rare structs plus the partial counts — not the full corpus of
    # struct rows a post-collect filter would.
    flagged = sh.join(df_counts.hint("merge"), "sh")

    # Prefix filtering (the PPJoin family's candidate pruning): order each
    # doc's rare shingles by a GLOBAL (df asc, sh) order and index only the
    # first  r - ceil(t·r) + 1  of them. Any pair with (capped) Jaccard ≥ t
    # has rare-intersection ≥ ceil(t·r) on each side (union ≥ r because
    # full sizes bound rare sizes), and two sets with intersection ≥ o must
    # collide within those prefixes — so candidate generation only touches
    # the rarest ~(1-t) fraction of the index, shrinking Σdf² by orders of
    # magnitude on collision-heavy corpora. Verification then runs in-row:
    # one array_intersect per surviving candidate pair. t gets a 1e-3
    # safety margin because the emitted jaccard is rounded before the
    # threshold compare.
    t_eff = max(threshold - 1e-3, 0.0)
    doc_sets = (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("sz"),
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("__df") <= max_df, F.struct("__df", "sh"))
                    )
                ),
                lambda x: x["sh"],
            ).alias("arr"),
        )
        .select(
            "id",
            "sz",
            "arr",
            F.slice(
                "arr",
                1,
                F.greatest(
                    F.size("arr") - F.ceil(F.size("arr") * F.lit(t_eff)).cast("int") + 1,
                    F.lit(1),
                ),
            ).alias("prefix"),
        )
    )
    # consumed twice (prefix index, array verification); one row per doc
    doc_sets = scoped_persist(doc_sets)
    # prefix rows carry the doc's (sz, rsz), so candidate pairs inherit
    # both sides' size metadata from the expansion with no attach join
    pref = doc_sets.select(
        "id", "sz", F.size("arr").alias("rsz"), F.posexplode("prefix").alias("pos", "sh")
    )
    # Candidates: every pair sharing a prefix shingle (posting lists are
    # ≤ max_df ids by the df cap). The length filter runs inside the
    # expansion, so length-hopeless pairs never leave it. The groupBy that
    # dedups candidate pairs keeps each side's minimum colliding prefix
    # position for the positional filter below.
    length_ok = f"least(x.sz, y.sz) >= {t_eff!r}D * greatest(x.sz, y.sz)"
    cand = (
        _bucket_pairs(pref, ["sh"], ["pos", "id", "sz", "rsz"], keep=length_ok)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.min("a.pos").alias("pa"),
            F.min("b.pos").alias("pb"),
            # functional of the id — min is a deterministic pick
            F.min("a.sz").alias("sz_a"),
            F.min("a.rsz").alias("rsz_a"),
            F.min("b.sz").alias("sz_b"),
            F.min("b.rsz").alias("rsz_b"),
        )
    )
    # PPJoin prefilters run on the carried int columns, so a candidate
    # must survive both before it carries a shingle array (~100× wider
    # than the int row) through a join:
    # 1. length filter (per occurrence, inside the expansion above):
    #    jaccard ≥ t needs inter ≥ t·union ≥ t·max(|A|,|B|)
    #    and inter ≤ min(|A|,|B|), so min ≥ t·max is necessary.
    # 2. positional filter (PPJoin-family, set-based form): both rare
    #    arrays are sorted by the same global (df, sh) order, so for the
    #    min-position colliding shingle s (pa in A; its position in B is
    #    ≥ pb), common shingles before s number ≤ pa and common shingles
    #    after s number ≤ min(rsz_a − 1 − pa, rsz_b − 1 − pb); with the
    #    symmetric argument via B's pivot:
    #      inter ≤ min(pa, pb) + 1 + min(rsz_a − 1 − pa, rsz_b − 1 − pb).
    #    (NOT the classic scan-time 1 + suffix bound — with independent
    #    per-side min positions a common shingle can sit in A's prefix
    #    but B's suffix and precede the first collision, so the
    #    min(pa, pb) headroom term is required for soundness.)
    #    Jaccard ≥ t over FULL sizes needs inter ≥ t·(sz_a + sz_b)/(1+t);
    #    candidates whose positional bound can't reach that are dropped.
    #    It must see the MIN positions, so it runs after the dedup
    #    groupBy (a per-occurrence bound with non-min positions is not
    #    conservative).
    #    Both filters are conservative (t_eff ≤ t), so the emitted pair
    #    set is unchanged — the DuckDB twin needs no mirror.
    # Both array attach joins pair corpus-scale relations and are pinned
    # sort-merge: the optimizer reads their compressed shuffle bytes as
    # broadcastable, but the array frame decompresses ~10× as a hash
    # relation and exhausts the driver at x64 scale; SMJ spills instead.
    arrs = doc_sets.select("id", "arr")
    required = F.lit(t_eff) / F.lit(1.0 + t_eff) * (F.col("sz_a") + F.col("sz_b"))
    out = (
        cand.where(
            F.least("pa", "pb")
            + 1
            + F.least(
                F.col("rsz_a") - 1 - F.col("pa"), F.col("rsz_b") - 1 - F.col("pb")
            )
            >= required
        )
        .join(arrs.withColumnRenamed("id", "id_a").withColumnRenamed("arr", "arr_a").hint("merge"), "id_a")
        .join(arrs.withColumnRenamed("id", "id_b").withColumnRenamed("arr", "arr_b").hint("merge"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            # grid_snap, not engine ROUND: int/int jaccard lands on repr-
            # ties where Spark/DuckDB ROUND disagree (emission rules)
            grid_snap(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), round_to
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def jaccard_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = 0.6,
    max_df: int = DEFAULT_MAX_DF,
    round_to: int = 4,
) -> str:
    sh = _shingles_sql(table, id_col, text_col, n)
    return (
        f"WITH __sh AS ({sh}), "
        f"__rare AS (SELECT sh FROM __sh GROUP BY sh HAVING COUNT(*) <= {max_df}), "
        f"__r AS (SELECT __sh.id, __sh.sh FROM __sh JOIN __rare USING (sh)), "
        f"__sz AS (SELECT id, COUNT(*) AS sz FROM __sh GROUP BY id), "
        f"__i AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter "
        f"FROM __r a JOIN __r b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2) "
        # threshold on the ROUNDED jaccard, matching the Spark twin — a raw
        # compare disagrees on boundary pairs that round up to the threshold
        f"SELECT id_a, id_b, {grid_snap_sql('CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)', round_to)} "
        f"AS jaccard FROM __i "
        f"JOIN __sz sa ON sa.id = id_a JOIN __sz sb ON sb.id = id_b "
        f"WHERE {grid_snap_sql('CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)', round_to)} >= {threshold}"
    )


# ---------------------------------------------------------------- minhash


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    seed: int = 7,
) -> DataFrame:
    """One row per doc: columns mh_0..mh_{k-1} (k seeded min-hashes).

    Single explode + single groupBy: all k min() aggregates run in the same
    partial+final hash aggregation over the shingle stream.
    """
    sh = shingles(df, id_col, text_col, n)
    coeffs = H.seeded_coeffs(k, seed)
    aggs = [
        F.min(H.affine(F.col("sh"), a, b)).alias(f"mh_{i}") for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_signatures_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    seed: int = 7,
) -> str:
    sh = _shingles_sql(table, id_col, text_col, n)
    coeffs = H.seeded_coeffs(k, seed)
    cols = ", ".join(
        f"MIN({H.affine_sql('sh', a, b)}) AS mh_{i}" for i, (a, b) in enumerate(coeffs)
    )
    return f"SELECT id, {cols} FROM ({sh}) __s GROUP BY id"


def _band_hash(sig_cols: list[Column]) -> Column:
    return F.md5(F.concat_ws(":", *[c.cast("string") for c in sig_cols]))



def _banded_frame(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bh) — one NARROW row per (doc, band): band id plus the
    hash of that band's signature slice. Shared by the self-join and the
    incremental new-vs-corpus variant so the banding scheme cannot drift
    between them (a drift would silently break batch/corpus agreement)."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        _band_hash([F.col(f"mh_{bi * r + j}") for j in range(r)]).alias("bh"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("id", "__b.band", "__b.bh")


def _band_rows_sql(from_name: str, k: int, bands: int, r: int) -> str:
    """SQL twin of :func:`_banded_frame` (kept signature columns included —
    the SQL plans score matches inline rather than re-joining)."""
    sep = " || ':' || "
    return " UNION ALL ".join(
        f"SELECT id, {', '.join(f'mh_{i}' for i in range(k))}, {bi} AS band, "
        f"md5({sep.join(f'CAST(mh_{bi * r + j} AS VARCHAR)' for j in range(r))}) AS bh "
        f"FROM {from_name}"
        for bi in range(bands)
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    seed: int = 7,
    min_est: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash LSH, scored by the
    fraction of matching signature components (the minhash estimate of
    Jaccard), filtered to ≥ min_est.

    TUNING FOR BOILERPLATE-HEAVY CORPORA: candidate volume is governed by
    the band width r = k/bands — a pair with background similarity j
    collides with probability ≈ 1-(1-j^r)^bands, and a shared license
    header / template frame easily pushes j to ~0.5, where r=4 admits a
    quarter of ALL pairs as candidates. Measured on a 50k-doc corpus with
    a universal boilerplate sentence: (k=16, bands=4, r=4) generated 383M
    candidates in 90 s; (k=16, bands=2, r=8) the same corpus in 9 s with
    508k candidates. At 100 TB use k=128, bands=16 (r=8) or wider — and
    prefer stripping known boilerplate before shingling."""
    if k % bands != 0:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    # read four times (both band-join sides, both signature attaches).
    # Uncached, AQE shares the signature shuffle among them through 3
    # ReusedExchange nodes; the cache still measured ~4% faster at sf0.1
    # (k=16, bands=4, 4 cores).
    sig = scoped_persist(minhash_signatures(df, id_col, text_col, n, k, seed))
    # Candidate generation shuffles ONLY (id, band, bh) — 3 narrow columns
    # per banded row, not the k signature components (k=128 at scale would
    # multiply the exploded shuffle ~40×). Signatures are attached to the
    # surviving DISTINCT pairs afterwards by two id-equi-joins against the
    # persisted signature frame.
    #
    # A self-join, not _bucket_pairs: the banded frame is three ints per
    # row with no array payload, so the local plan broadcasts it (zero
    # extra exchange) and the un-pinned join turns sort-merge adaptively
    # as the relation grows. The bucket aggregate measured ~0.5 s slower
    # here at sf0.1 (warm 0.9–1.0 s join vs 1.45 s aggregate).
    bands_df = _banded_frame(sig, bands, r)
    cand = (
        bands_df.alias("a")
        .join(
            bands_df.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"mh_{i}").alias(f"__a_mh_{i}") for i in range(k)]
    )
    sig_b = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"mh_{i}").alias(f"__b_mh_{i}") for i in range(k)]
    )
    matches = sum(
        (F.col(f"__a_mh_{i}") == F.col(f"__b_mh_{i}")).cast("int") for i in range(k)
    )
    pairs = (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            grid_snap(matches / F.lit(float(k)), round_to).alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= min_est)
    )
    return pairs


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    seed: int = 7,
    min_est: float = 0.5,
    round_to: int = 4,
) -> str:
    if k % bands:
        raise ValueError(f"k ({k}) must divide into bands ({bands})")
    r = k // bands
    sig = minhash_signatures_sql(table, id_col, text_col, n, k, seed)
    band_rows = _band_rows_sql("__sig", k, bands, r)
    matches = " + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    return (
        f"WITH __sig AS ({sig}), __bands AS ({band_rows}) "
        f"SELECT id_a, id_b, est_jaccard FROM ("
        f"SELECT a.id AS id_a, b.id AS id_b, "
        f"{grid_snap_sql(f'MIN(({matches}) / {float(k)})', round_to)} AS est_jaccard "
        f"FROM __bands a JOIN __bands b ON a.band = b.band AND a.bh = b.bh AND a.id < b.id "
        f"GROUP BY 1, 2) __p WHERE est_jaccard >= {min_est}"
    )


# ---------------------------------------------------------------- simhash


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 60
) -> DataFrame:
    """SimHash over word tokens: bit j = sign(Σ_tokens ±1). 60-bit
    fingerprints by default: the banded candidate key domain is carved
    out of the fingerprint, and a narrow domain makes bucket occupancy —
    and candidate pairs — grow quadratically with the corpus. 60 md5 bits
    is what both engines can carry in an int64 (functions h60/h60_sql).

    Single-pass plan: explode tokens once, hash each token ONCE, then one
    hash aggregation carries all 60 per-bit sums (partial+final, map-side
    combine). Per-bit higher-order ``aggregate`` expressions over the
    token array would re-tokenize and re-hash the text once per bit:
    Catalyst does not CSE the shared subexpression across them.
    """
    t = _norm_text(F.col(text_col))
    toks = F.filter(F.split(t, r"\W+"), lambda w: F.length(w) > 0)
    ids = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    # explode_OUTER keeps token-less docs as one NULL-hash row: h60(NULL)
    # is NULL, every bit condition is then NULL → the -1 arm, so all 60
    # sums come out negative and the fingerprint is 0, with no second
    # scan or join to re-attach token-less ids.
    tok_hashes = ids.select("id", F.explode_outer("__toks").alias("__w")).select(
        "id", H.h60(F.col("__w")).alias("h")
    )
    sums = tok_hashes.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j) % 2 == 1, 1).otherwise(-1)
            ).alias(f"__c{j}")
            for j in range(bits)
        ]
    )
    bit_cols = [
        F.when(F.col(f"__c{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0))
        for j in range(bits)
    ]
    sh = sum(bit_cols[1:], bit_cols[0])
    return sums.select("id", sh.alias("simhash"))


def simhash_sql(table: str, id_col: str = "doc_id", text_col: str = "text", bits: int = 60) -> str:
    t = _norm_text_sql(text_col)
    th = (
        f"list_transform(list_filter(string_split_regex({t}, '\\W+'), w -> length(w) > 0), "
        f"w -> {H.h60_sql('w')})"
    )
    bit_terms = []
    for j in range(bits):
        contrib = (
            f"list_aggregate(list_transform(__th, h -> "
            f"CASE WHEN (h >> {j}) % 2 = 1 THEN 1 ELSE -1 END), 'sum')"
        )
        bit_terms.append(f"CASE WHEN {contrib} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END")
    return (
        f"SELECT {id_col} AS id, {' + '.join(bit_terms)} AS simhash "
        f"FROM (SELECT {id_col}, {th} AS __th FROM {table}) __s"
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    radius: int = 3,
    round_to: int = 4,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) ≤ radius.

    Banding (Manku/Jain/Sarma, WWW'07 shape): split the 60-bit
    fingerprint into 6 blocks of 10 bits; a pair within hamming ≤ r has
    flipped bits in at most r blocks, so it agrees EXACTLY on some
    (6 − r)-block combination — index every C(6, 6−r) combination as an
    bucket key. At r = 3 that is 20 keys per doc over a 2³⁰ key domain,
    so random collisions stay rare at any realistic corpus size and
    bucket occupancy follows true near-dup clusters. ``radius`` is capped
    at 3 — beyond that the combination count explodes and recall silently
    degrades on narrower blocks.

    Candidates come from :func:`_bucket_pairs` over the (band, key)
    buckets, with the hamming test inside the expansion; a pair is
    emitted once however many buckets it shares.
    """
    if not 0 <= radius <= 3:
        raise ValueError(
            f"radius must be in [0, 3] for 6-block-combination candidates, got {radius}"
        )
    from itertools import combinations as _combos

    sh = simhash(df, id_col, text_col)
    combos = list(_combos(range(6), 6 - radius))

    def _key(combo: tuple[int, ...]):
        k = F.lit(0).cast("long")
        for pos, blk in enumerate(combo):
            k = k + (F.shiftright(F.col("simhash"), blk * 10) % 1024) * F.lit(
                2 ** (10 * pos)
            )
        return k

    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(ci).alias("band"), _key(c).alias("bkey"))
                    for ci, c in enumerate(combos)
                ]
            )
        ).alias("__b"),
    ).select("id", "simhash", "__b.band", "__b.bkey")
    near = f"bit_count(x.simhash ^ y.simhash) <= {int(radius)}"
    return (
        _bucket_pairs(banded, ["band", "bkey"], ["id", "simhash"], keep=near)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # a pair sharing several buckets appears once per bucket
        .distinct()
    )


def simhash_near_pairs_sql(
    table: str, id_col: str = "doc_id", text_col: str = "text", radius: int = 3
) -> str:
    """DuckDB twin of :func:`simhash_near_pairs` (same 6×10-bit block
    combination banding over the 60-bit fingerprint)."""
    if not 0 <= radius <= 3:
        raise ValueError(
            f"radius must be in [0, 3] for 6-block-combination candidates, got {radius}"
        )
    from itertools import combinations as _combos

    sh = simhash_sql(table, id_col, text_col)
    combos = list(_combos(range(6), 6 - radius))

    def _key(combo: tuple[int, ...]) -> str:
        return " + ".join(
            f"((simhash >> {blk * 10}) % 1024) * {2 ** (10 * pos)}"
            for pos, blk in enumerate(combo)
        )

    bands = " UNION ALL ".join(
        f"SELECT id, simhash, {ci} AS band, {_key(c)} AS bkey FROM __sh"
        for ci, c in enumerate(combos)
    )
    return (
        f"WITH __sh AS ({sh}), __bd AS ({bands}) "
        f"SELECT a.id AS id_a, b.id AS id_b, "
        f"CAST(MIN(bit_count(xor(a.simhash, b.simhash))) AS INT) AS hamming "
        f"FROM __bd a JOIN __bd b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {radius} GROUP BY 1, 2"
    )


# ------------------------------------------------------- incremental dedup


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    seed: int = 7,
    min_est: float = 0.5,
    round_to: int = 4,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus: per new document, the
    best minhash-estimated match in the corpus (if any band collides) and
    an ``is_dup`` verdict at ``min_est``.

    This is the steady-state shape of corpus curation at 100 TB: the daily
    crawl (small) never self-joins the full corpus — its banded signatures
    equi-join the corpus's banded signature store. Only band-colliding
    corpus rows are ever scored; Catalyst broadcasts the new batch's band
    table when it is small, so the big side streams through unshuffled. In
    production the corpus signatures are materialized once (a table
    partitioned by band hash) and only APPENDED to as novel docs arrive;
    here both sides are computed from text so the operator is
    self-contained and oracle-checkable. Nothing is cached: AQE shares
    each side's signature shuffle between its band join and its
    signature attach (2 ``ReusedExchange`` nodes).

    Best-match choice is deterministic: max estimate, then min corpus id.
    """
    if k % bands != 0:
        raise ValueError("k must be divisible by bands")
    r = k // bands

    # Band join carries ONLY (id, band, bh); signatures attach to the
    # distinct candidate pairs afterwards (same narrow-shuffle shape as
    # minhash_lsh_pairs — at k=128 the banded shuffle would otherwise be
    # ~40× wider). The new batch's band table is the small side, so
    # Catalyst broadcasts it and the corpus streams through unshuffled.
    sn = minhash_signatures(new_df, id_col, text_col, n, k, seed)
    sc = minhash_signatures(corpus_df, id_col, text_col, n, k, seed)
    cand_ids = (
        _banded_frame(sn, bands, r).select(F.col("id").alias("new_id"), "band", "bh")
        .join(_banded_frame(sc, bands, r).select(F.col("id").alias("match_id"), "band", "bh"),
              on=["band", "bh"])
        .select("new_id", "match_id")
        .dropDuplicates(["new_id", "match_id"])
    )
    est = sum(
        F.when(F.col(f"__n_mh_{i}") == F.col(f"__c_mh_{i}"), 1).otherwise(0) for i in range(k)
    ) / float(k)
    cand = (
        cand_ids.join(
            sn.select(F.col("id").alias("new_id"),
                      *[F.col(f"mh_{i}").alias(f"__n_mh_{i}") for i in range(k)]),
            "new_id",
        )
        .join(
            sc.select(F.col("id").alias("match_id"),
                      *[F.col(f"mh_{i}").alias(f"__c_mh_{i}") for i in range(k)]),
            "match_id",
        )
        .select("new_id", "match_id", grid_snap(est, round_to).alias("est_jaccard"))
    )
    w = Window.partitionBy("new_id").orderBy(F.col("est_jaccard").desc(), F.col("match_id"))
    best = (
        cand.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(best, on="new_id", how="left")
        .select(
            "new_id",
            "match_id",
            "est_jaccard",
            (F.coalesce(F.col("est_jaccard"), F.lit(0.0)) >= min_est).alias("is_dup"),
        )
    )


def incremental_minhash_dedup_sql(
    new_table: str,
    corpus_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    k: int = DEFAULT_MINHASH_K,
    bands: int = DEFAULT_BANDS,
    seed: int = 7,
    min_est: float = 0.5,
    round_to: int = 4,
) -> str:
    """DuckDB twin of :func:`incremental_minhash_dedup`."""
    if k % bands:
        raise ValueError(f"k ({k}) must divide into bands ({bands})")
    r = k // bands

    def banded_sql(table: str, alias: str) -> str:
        sig = minhash_signatures_sql(table, id_col, text_col, n, k, seed)
        rows = _band_rows_sql(f"__sig_{alias}", k, bands, r)
        return f"__sig_{alias} AS ({sig}), __bands_{alias} AS ({rows})"

    matches = " + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(k))
    return (
        f"WITH {banded_sql(new_table, 'n')}, {banded_sql(corpus_table, 'c')}, "
        f"__cand AS ("
        f"SELECT a.id AS new_id, b.id AS match_id, "
        f"{grid_snap_sql(f'MAX(({matches}) / {float(k)})', round_to)} AS est_jaccard "
        f"FROM __bands_n a JOIN __bands_c b ON a.band = b.band AND a.bh = b.bh "
        f"GROUP BY 1, 2), "
        f"__best AS (SELECT new_id, match_id, est_jaccard FROM __cand "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY new_id "
        f"ORDER BY est_jaccard DESC, match_id) = 1) "
        f"SELECT nw.{id_col} AS new_id, b.match_id, b.est_jaccard, "
        f"COALESCE(b.est_jaccard, 0.0) >= {min_est} AS is_dup "
        f"FROM {new_table} nw LEFT JOIN __best b ON nw.{id_col} = b.new_id"
    )
