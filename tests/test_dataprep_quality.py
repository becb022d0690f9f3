"""Unit semantics for the round-3 training-data ops: repetition metrics,
PII redaction, context-window packing, int8 quantization.

Oracle parity (vs DuckDB) is covered by test_oracle_parity; these pin the
operator semantics on hand-built rows where the expected values are
computed by eye.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raise_featurestore_spark.dataprep.packing import PackingSpec, pack_documents
from raise_featurestore_spark.dataprep.redact import RedactionSpec, redact
from raise_featurestore_spark.dataprep.similarity import quantize_int8
from raise_featurestore_spark.dataprep.text import repetition_metrics


def test_repetition_metrics_hand_example(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),  # tokens: a,b,a,b,a  bigrams: ab,ba,ab,ba -> max 2
            (2, "x x x x"),  # bigrams: 'x x' ×3
            (3, "all distinct words here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert got[1]["n_tokens"] == 5
    assert got[1]["dup_token_frac"] == pytest.approx(1 - 2 / 5)
    assert got[1]["top_bigram_count"] == 2
    assert got[2]["top_bigram_count"] == 3
    assert got[3]["dup_token_frac"] == 0.0
    assert got[3]["top_bigram_count"] == 1


def test_redact_patterns_and_order(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.io call 555-123-4567 ip 10.0.0.1 acct 123456789"),
            (2, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact(df, RedactionSpec()).collect()}
    r1 = got[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"], r1["n_digit_run"]) == (1, 1, 1, 1)
    assert r1["redacted"] == "mail <EMAIL> call <PHONE> ip <IP> acct <NUM>"
    r2 = got[2]
    assert (r2["n_email"], r2["n_phone"], r2["n_ipv4"], r2["n_digit_run"]) == (0, 0, 0, 0)
    assert r2["redacted"] == "clean text with no pii at all"


def test_redact_counts_follow_replacement_order(spark):
    # an IP is also a digit-ish string: ipv4 must consume it BEFORE the
    # digit-run rule sees the text, so digit_run stays 0
    df = spark.createDataFrame([(1, "server 255.255.255.255 up")], "doc_id long, text string")
    r = redact(df, RedactionSpec()).collect()[0]
    assert r["n_ipv4"] == 1 and r["n_digit_run"] == 0


def test_packing_concat_chunk_invariants(spark):
    df = spark.createDataFrame(
        [(i, "w " * 99 + "w", "en") for i in range(10)],  # 100 tokens each
        "doc_id long, text string, lang string",
    )
    out = pack_documents(df, PackingSpec(window_tokens=256)).collect()
    assert len(out) == 10
    # total stream = 1000 tokens -> last start offset 900 -> chunk 3
    assert {r["n_tok"] for r in out} == {100}
    starts = sorted(r["chunk_id"] * 256 + r["chunk_off"] for r in out)
    # starts are exactly the prefix sums 0,100,...,900 regardless of order
    assert starts == [i * 100 for i in range(10)]
    # offsets stay inside the window
    assert all(0 <= r["chunk_off"] < 256 for r in out)


def test_packing_shards_are_independent(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e", "fr"), (3, "f g h i", "en")],
        "doc_id long, text string, lang string",
    )
    out = pack_documents(df, PackingSpec(window_tokens=4)).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    # each shard's stream starts at offset 0 of chunk 0
    for rows in by_lang.values():
        assert min(r["chunk_id"] * 4 + r["chunk_off"] for r in rows) == 0


def test_quantize_int8_bounds_and_reconstruction(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    q1 = got[1]["quantized"]
    assert all(-127 <= v <= 127 for v in q1)
    # max-magnitude element maps to ±127 exactly
    assert q1[1] == -127
    # scale = 127/2 -> [64, -127, 32]  (63.5 rounds HALF_UP to 64)
    assert q1 == [64, -127, 32]
    assert got[1]["q_sum"] == 64 - 127 + 32
    assert got[1]["q_l1"] == 64 + 127 + 32
    # zero vector: scale 0, all-zero quantization (no divide-by-zero)
    assert got[2]["quantized"] == [0, 0, 0]
    assert got[2]["scale_r"] == 0.0


def test_packing_plan_is_partitioned(spark):
    """The running sum must be a partitioned window — a global-order window
    would single-partition 100 TB. The physical Window node prints its
    partition spec as the second bracket group; it must carry the shard
    column, not be empty."""
    import re

    df = spark.createDataFrame(
        [(1, "a b", "en")], "doc_id long, text string, lang string"
    )
    plan = pack_documents(df)._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"Window \[.*?\], \[(.*?)\], \[", plan)
    assert m is not None, plan
    assert "lang" in m.group(1), plan


def test_incremental_dedup_planted_duplicate(spark):
    from raise_featurestore_spark.dataprep.dedup import incremental_minhash_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different content about spark catalyst optimizer plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # exact copy of corpus doc 1 -> est_jaccard 1.0
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            # novel document, no band collision expected
            (11, "entirely novel prose with unique vocabulary zebra quartz nebula"),
        ],
        "doc_id long, text string",
    )
    got = {r["new_id"]: r for r in incremental_minhash_dedup(new, corpus).collect()}
    assert got[10]["is_dup"] and got[10]["match_id"] == 1 and got[10]["est_jaccard"] == 1.0
    assert not got[11]["is_dup"] and got[11]["match_id"] is None


def test_decontaminate_flags_exact_ngram_leak(spark):
    from raise_featurestore_spark.dataprep.decontaminate import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],  # exactly 8 tokens
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 8-gram verbatim inside longer text
            (1, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"),
            # shares 7-gram but not 8 -> clean
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            # too short to even form an 8-gram -> clean
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in decontaminate(corpus, bench).collect()}
    assert got[1]["contaminated"] and got[1]["n_overlapping_ngrams"] == 1
    assert not got[2]["contaminated"]
    assert not got[3]["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    from raise_featurestore_spark.dataprep.decontaminate import decontaminate

    bench = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    corpus = spark.createDataFrame([(2, "a b c d e f g h i")], "doc_id long, text string")
    plan = decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_profile_single_scan_and_values(spark):
    """profile() computes every column's stats in at most TWO aggregate
    passes — the main one, plus a separate pass for exact COUNT(DISTINCT)
    whose Expand would otherwise multiply every row through the heavy
    decimal moment chains (r6 bench finding: 5× wall-clock fused) — and
    the values are right on a hand-built frame."""
    from raise_featurestore_spark.analytics.profile import profile

    df = spark.createDataFrame(
        [(1, "ab", 1.5), (2, "abcd", None), (None, None, 4.5)],
        "k long, s string, v double",
    )
    out = profile(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") <= 2
    got = {(r["col_name"], r["metric"]): r["value"] for r in out.collect()}
    assert got[("k", "count")] == 2.0
    assert got[("k", "null_count")] == 1.0
    assert got[("k", "distinct_count")] == 2.0
    assert got[("s", "avg_length")] == 3.0
    assert got[("s", "max_length")] == 4.0
    assert got[("v", "mean")] == 3.0
    assert got[("v", "min")] == 1.5 and got[("v", "max")] == 4.5


def test_repetition_metrics_short_docs_no_crash(spark):
    """ADVICE r3: zero-token docs used to crash the slice() with length -1;
    <2-token docs must yield top_bigram_count=0, not an error."""
    df = spark.createDataFrame(
        [
            (1, ""),  # zero tokens
            (2, "!!! ... ???"),  # punctuation-only -> zero tokens
            (3, "solo"),  # one token -> zero bigrams
            (4, "a b a b"),  # control: bigram 'a b' x2
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    assert got[1]["n_tokens"] == 0 and got[1]["top_bigram_count"] == 0
    assert got[2]["n_tokens"] == 0 and got[2]["top_bigram_count"] == 0
    assert got[3]["n_tokens"] == 1 and got[3]["top_bigram_count"] == 0
    assert got[4]["top_bigram_count"] == 2


def test_repetition_sql_parity_on_short_docs(spark):
    """ADVICE r3: the oracle SQL inner-joined the bigram CTE and silently
    dropped <2-token docs; LEFT JOIN + COALESCE must keep cross-engine
    parity on exactly those rows."""
    import duckdb

    from raise_featurestore_spark.dataprep.text import repetition_metrics_sql

    rows = [(1, ""), (2, "..."), (3, "solo"), (4, "a b a b"), (5, "x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        r[0]: r for r in con.sql(repetition_metrics_sql("docs")).fetchall()
    }
    assert set(got) == set(want) == {1, 2, 3, 4, 5}
    for k in got:
        assert got[k]["n_tokens"] == want[k][1], k
        assert got[k]["dup_token_frac"] == pytest.approx(float(want[k][2])), k
        assert got[k]["top_bigram_count"] == want[k][3], k


def test_packing_token_count_ignores_extra_whitespace(spark):
    """ADVICE r3: consecutive/leading whitespace must not mint empty-string
    tokens in the packing budget (Spark and the DuckDB twin agree)."""
    import duckdb

    from raise_featurestore_spark.dataprep.packing import pack_documents_sql

    rows = [(1, "a  b \t c", "en"), (2, "  lead and trail  ", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r["n_tok"] for r in pack_documents(df).collect()}
    assert got == {1: 3, 2: 3}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR, lang VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?, ?)", rows)
    want = {r[0]: r[2] for r in con.sql(pack_documents_sql("docs")).fetchall()}
    assert want == {1: 3, 2: 3}


def test_decontaminate_large_benchmark_falls_back_to_shuffle(spark):
    """VERDICT r3: a gram set over the broadcast threshold must NOT be
    broadcast — the guard switches to a shuffled hash join, and results
    are unchanged."""
    from raise_featurestore_spark.dataprep.decontaminate import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        "doc_id long, text string",
    )
    out = decontaminate(corpus, bench, max_broadcast_grams=0)  # force large path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["contaminated"] and not got[2]["contaminated"]


def test_jaccard_hot_prefix_shingle_grouped_pairs_same_results(spark):
    """VERDICT r3 item 7 lineage, r11 shape: a stop-shingle shared by
    every doc must not change results — every qualifying pair meets
    exactly once through the grouped posting-list pair generation, whose
    per-group work is structurally bounded by the df cap (the reason the
    old self-join's salting/hot-broadcast machinery could be deleted)."""
    import duckdb

    from raise_featurestore_spark.dataprep.dedup import jaccard_pairs, jaccard_pairs_sql
    from raise_featurestore_spark.functions.conf_scope import cache_scope

    # 12 docs sharing a long common run (the hot shingles) + distinct tails;
    # pairs within each trio are near-dups, across trios they are not
    base = "the common boilerplate header text appears everywhere "
    rows = []
    for g in range(4):
        for i in range(3):
            rows.append((g * 10 + i, base + f"group {g} variant body text {'x' * i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # max_df=12 admits the df=12 stop-shingles into every posting list
    with cache_scope():
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(df, threshold=0.5, max_df=12).collect()
        }

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = {
        (r[0], r[1]): r[2]
        for r in con.sql(jaccard_pairs_sql("docs", threshold=0.5, max_df=12)).fetchall()
    }
    assert got == pytest.approx(want)
    assert got, "expected at least some near-dup pairs"

    # candidate generation must be the grouped in-row pair expansion, not
    # a self-join of the prefix index: no join may appear upstream of the
    # candidate dedup other than the df-cap and verification attaches —
    # pin it by checking the pair-expansion transform is in the plan and
    # no broadcast of a shingle-keyed relation is
    with cache_scope():
        plan = (
            jaccard_pairs(df, threshold=0.5, max_df=12)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    assert "collect_list" in plan and "slice" in plan, plan


def test_jaccard_positional_filter_differential_fuzz(spark):
    """The r11 positional prefilter (min prefix-match positions bounding
    the rare intersection BEFORE the array attach) must be conservative:
    seeded random corpora with heavy shared fragments, swept across
    thresholds, must emit exactly the oracle's pair set. Low thresholds
    make prefixes long and the positional prune aggressive — the regime
    where an unsound bound (e.g. dropping the min(pa, pb) headroom term
    for common shingles that collide in only one side's prefix) loses
    qualifying pairs."""
    import random

    import duckdb

    from raise_featurestore_spark.dataprep.dedup import jaccard_pairs, jaccard_pairs_sql
    from raise_featurestore_spark.functions.conf_scope import cache_scope

    rng = random.Random(1105)
    frags = ["".join(rng.choices("abcdefgh ", k=18)) for _ in range(12)]
    rows = []
    for i in range(40):
        k = rng.randint(2, 5)
        body = "".join(rng.sample(frags, k)) + "".join(rng.choices("xyzuvw ", k=rng.randint(0, 12)))
        rows.append((i, body))

    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for threshold in (0.3, 0.5, 0.7):
        with cache_scope():
            got = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in jaccard_pairs(df, threshold=threshold, max_df=30).collect()
            }
        want = {
            (r[0], r[1]): r[2]
            for r in con.sql(
                jaccard_pairs_sql("docs", threshold=threshold, max_df=30)
            ).fetchall()
        }
        assert got == pytest.approx(want), f"threshold={threshold}"
        if threshold == 0.3:
            assert want, "expected pairs at the loosest threshold"


def test_quality_filter_rules_semantics(spark):
    """Each rule rejects exactly the documents it should; the kept set is
    the conjunction; the report counts match the filter output."""
    from raise_featurestore_spark.dataprep.filters import (
        QualityRules,
        quality_filter,
        quality_filter_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and then it sleeps"),  # good
            (2, "too short"),  # fails min_tokens
            (3, "spam spam spam spam spam spam spam spam spam spam spam spam"),  # dup/bigram
            (4, "der hund und die katze sind nicht mit der maus von dem haus"),  # german
        ],
        "doc_id long, text string",
    )
    rules = QualityRules(min_tokens=5, max_top_bigram_count=5,
                         max_dup_token_frac=0.5, min_quality_score=0.0)
    kept = sorted(r["doc_id"] for r in quality_filter(docs, rules).collect())
    assert kept == [1]

    rep = quality_filter_report(docs, rules).collect()[0]
    assert rep["n_docs"] == 4 and rep["n_kept"] == 1
    assert rep["rej_min_tokens"] == 1  # doc 2
    assert rep["rej_dup_token_frac"] == 1  # doc 3
    assert rep["rej_top_bigram"] == 1  # doc 3 (also)
    # rules count independently: docs 2 and 3 have no English stopwords
    # either, so lang rejects them too alongside the German doc 4
    assert rep["rej_lang"] == 3


def test_build_data_card(spark):
    """The datasheet composes size/sources/quality/mixing from the
    distributed ops into one JSON-able dict."""
    import json

    from raise_featurestore_spark.analytics.datacard import build_data_card
    from raise_featurestore_spark.dataprep.filters import QualityRules
    from raise_featurestore_spark.dataprep.mixing import MixSpec

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today", "web"),
            (2, "another english document with the usual words in it", "web"),
            (3, "short", "books"),
        ],
        "doc_id long, text string, source string",
    )
    card = build_data_card(
        docs, name="toy",
        quality_rules=QualityRules(min_tokens=3),
        mix_spec=MixSpec(alpha=0.5, target_rows=2),
    )
    assert card["size"]["n_docs"] == 3
    assert [s["source"] for s in card["sources"]] == ["books", "web"]
    assert card["quality"]["report"]["rej_min_tokens"] == 1  # the short doc
    assert len(card["mixing"]["rates"]) == 2
    json.dumps(card, default=str)  # fully serializable


def test_lsh_parameter_guards():
    """SQL builders enforce the same k/bands and radius preconditions as
    their Spark twins instead of silently floor-dividing or losing recall."""
    import pytest

    from raise_featurestore_spark.dataprep.dedup import (
        incremental_minhash_dedup_sql,
        minhash_lsh_pairs_sql,
        simhash_near_pairs_sql,
    )

    with pytest.raises(ValueError, match="divide"):
        minhash_lsh_pairs_sql("documents", k=16, bands=3)
    with pytest.raises(ValueError, match="divide"):
        incremental_minhash_dedup_sql("a", "b", k=16, bands=5)
    with pytest.raises(ValueError, match="radius"):
        simhash_near_pairs_sql("documents", radius=4)


def test_encoding_report_signals(spark):
    from raise_featurestore_spark.dataprep.text import encoding_report

    rows = [
        (1, "clean ascii text"),
        (2, "smart â€œquotesâ€\x9d from a latin-1 round trip"),
        (3, "bad \x00 control \x1f chars"),
        (4, "decoder gave up � here"),
        (5, "naturally accented café résumé"),
        (6, ""),
    ]
    out = {r.doc_id: r for r in encoding_report(
        spark.createDataFrame(rows, "doc_id int, text string")
    ).collect()}
    assert out[1].looks_clean and out[1].non_ascii_ratio == 0.0
    assert out[2].mojibake_hits > 0 and not out[2].looks_clean
    assert out[3].n_control == 2 and not out[3].looks_clean
    assert out[4].n_replacement == 1 and not out[4].looks_clean
    # real accents are NOT flagged as mojibake
    assert out[5].looks_clean and out[5].non_ascii_ratio > 0
    assert out[6].non_ascii_ratio == 0.0 and out[6].looks_clean


def test_flag_outliers_iqr_and_zscore(spark):
    from raise_featurestore_spark.analytics.outliers import flag_outliers

    rows = [(i, "g", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100])]
    df = spark.createDataFrame(rows, "id int, g string, x double")
    iqr = {r.id: r.is_outlier for r in flag_outliers(df, "x", "id", group_by="g").collect()}
    assert iqr[9] is True and sum(iqr.values()) == 1
    z = {r.id: r.is_outlier for r in flag_outliers(df, "x", "id", method="zscore", k=2.0).collect()}
    assert z[9] is True
    # NaN-poisoned group: flags are NULL, not guesses
    bad = df.union(spark.createDataFrame([(99, "g", float("nan"))], df.schema))
    zbad = flag_outliers(bad, "x", "id", method="zscore", k=2.0).collect()
    assert all(r.is_outlier is None for r in zbad)


def test_fuzzy_linkage_survives_blank_names(spark):
    from raise_featurestore_spark.dataprep.linkage import fuzzy_pairs

    df = spark.createDataFrame(
        [(1, "red widget"), (2, "rad widget"), (3, "   "), (4, "")],
        "id int, name string",
    )
    got = fuzzy_pairs(df, "name").collect()  # must not raise under ANSI
    assert len(got) == 1 and got[0].name_a == "rad widget"


def test_flag_outliers_keeps_null_group_rows(spark):
    from raise_featurestore_spark.analytics.outliers import flag_outliers

    rows = [(i, None if i % 2 else "g", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id int, g string, x double")
    got = flag_outliers(df, "x", "id", group_by="g").collect()
    assert len(got) == 20  # NULL-group rows flagged, not dropped


def test_referential_integrity_counts_orphans_and_null_keys(spark):
    """r8: FK audit — NOT EXISTS semantics (no row multiplication on
    duplicate parent keys), NULL child keys count as orphans, rates are
    exact-long division."""
    from raise_featurestore_spark.analytics.quality import referential_integrity

    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 20)],
        "id long, fk long",
    )
    # duplicate parent key 10 must NOT multiply matched child rows
    parent = spark.createDataFrame(
        [(10,), (10,), (20,), (None,)], "pk long"
    )
    out = referential_integrity([("c->p", child, "fk", parent, "pk")]).collect()
    assert len(out) == 1
    r = out[0]
    assert r.edge == "c->p" and r.n_child == 5
    assert r.n_orphans == 2  # fk=99 and fk=NULL
    assert r.orphan_rate == 2.0 / 5.0
