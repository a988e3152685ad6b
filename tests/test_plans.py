"""Physical-plan regression guards: the as-of join strategies must keep
their designed shuffle shape (SURVEY.md §4 — partitioning is the one
physical decision we own)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from timefence_spark.operators.asof import asof_join
from timefence_spark.plans import assert_plan, physical_summary, scan_details

T0 = datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def sides(spark):
    left = spark.createDataFrame(
        [(i % 50, T0 + timedelta(hours=i), float(i)) for i in range(500)],
        "entity long, label_time timestamp_ntz, target double",
    )
    right = spark.createDataFrame(
        [(i % 50, T0 + timedelta(hours=i - 3), float(i) * 2) for i in range(500)],
        "entity long, feature_time timestamp_ntz, score double",
    )
    return left, right


def test_union_strategy_single_shuffle_per_side(sides):
    left, right = sides
    df = asof_join(
        left,
        right,
        on="entity",
        left_time="label_time",
        right_time="feature_time",
        prefix="f",
        strategy="union",
    )
    # One Exchange for the window partitioning (both sides feed the same
    # hash partitioning through the union) — no joins at all.
    s = assert_plan(df, max_exchanges=1, forbid_sort_merge_join=True)
    assert s.windows >= 1
    assert s.broadcast_joins == 0


def test_join_strategy_broadcasts_small_right(sides):
    left, right = sides
    df = asof_join(
        left,
        right,
        on="entity",
        left_time="label_time",
        right_time="feature_time",
        prefix="f",
        strategy="join",
        broadcast_right=True,
    )
    # Broadcast join + one shuffle for the per-row max_by aggregation. The
    # equi-key condition must survive (no nested-loop fallback).
    assert_plan(df, require_broadcast_join=True, max_exchanges=2)


def test_scan_prunes_columns(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    two_cols = orders.select("o_custkey", "o_totalprice").where(
        F.col("o_totalprice") > 100.0
    )
    scans = scan_details(two_cols)
    assert scans, "expected a parquet scan in the plan"
    assert set(scans[0]["columns"]) == {"o_custkey", "o_totalprice"}
    assert any("o_totalprice" in p for p in scans[0]["pushed_filters"])


def test_summary_counts_are_consistent(sides):
    left, right = sides
    df = left.join(F.broadcast(right), "entity").groupBy("entity").count()
    # Under AQE codegen stages exist only once the plan has executed; run
    # the plan first so the probe reads the finalized adaptive plan.
    df.collect()
    s = physical_summary(df)
    assert s.broadcast_joins == 1
    assert s.nested_loop_joins == 0
    assert s.codegen_spans >= 1


def test_multi_feature_single_pass_one_window(spark, sides):
    """pit_match_multi must plan ONE Window operator and one key shuffle for
    N features — the whole point of the single-pass plan. A second Window
    or per-feature exchange means Spark split the frames and the
    multi-feature scale story is silently gone."""
    from timefence_spark.operators.asof import ROW_ID, pit_match_multi

    left, right = sides
    labels = left.withColumn(ROW_ID, F.monotonically_increasing_id())
    feats = [
        (
            f"f{i}",
            right.select(
                "entity", "feature_time", F.col("score").alias(f"score_{i}")
            ),
            "feature_time",
            [f"score_{i}"],
            i * 3600,  # mixed embargos must still share the one window
        )
        for i in range(4)
    ]
    df = pit_match_multi(
        labels,
        feats,
        key_pairs=[("entity", "entity")],
        label_time="label_time",
        lookback_s=30 * 86400,
    )
    s = assert_plan(df, max_exchanges=1)
    assert s.windows == 1, f"expected one Window operator, got {s.windows}"


@pytest.mark.slow
def test_no_accidental_cartesian_or_nested_loop_joins(spark, sf_dir):
    """Sweeping regression net: NO entry query may plan a CartesianProduct,
    and BroadcastNestedLoopJoin is allowed only where it is the designed
    shape (exact kNN scores every query x corpus pair by definition; its
    query side is broadcast so the corpus still streams map-side).
    Streaming queries are excluded — constructing them replays file
    staging, and their plan shapes are pinned by tests/test_streaming.py."""
    import __spark_entry__ as entry_mod

    # knn_cosine: exact kNN scores every query x corpus pair by design.
    # unigram_nll / bigram_nll / fit_classifier / bm25_rank: corpus-level
    # scalars (N, V / class totals / N, avgdl, per-term df) attach via a
    # broadcast cross join of a ONE-row aggregate — the designed way to
    # keep the call lazy; a nested-loop against one broadcast row is free.
    # knn_pq scores every query x code-row pair by design (ADC brute
    # force over the COMPRESSED corpus — the query side broadcasts).
    # fluency_buckets embeds unigram_logprob's one-row LM-totals cross
    # join (the unigram_nll shape) plus its own one-row threshold join.
    # temperature_mix: the normalizing total is the same ONE-row
    # aggregate broadcast cross join (sampling.temperature_weights).
    # knn_sq scores every query x code-row pair by design (brute force
    # over the COMPRESSED corpus, queries + one-row bounds broadcast),
    # exactly like knn_pq.
    # knn_binary: same brute-force-over-compressed shape — Hamming
    # XOR+popcount against every packed-lane row, queries + one-row
    # thresholds broadcast.
    # knn_ivf_pq (residual mode): the per-centroid cross-term table is
    # nlist rows crossed with the ONE-row nested codebook (then itself
    # broadcast) — the sanctioned one-row-aggregate shape; candidates
    # still arrive via the centroid_id equi-join.
    # dsir_weights / dsir_sample: the two corpus-distribution totals
    # (R, T) ride the same ONE-row aggregate broadcast cross join as
    # unigram_nll's LM scalars; per-bucket and per-doc joins are
    # equi-joins.
    # trigram_nll (round 12): the continuation-unigram totals (B, V)
    # ride the same ONE-row aggregate broadcast cross join as
    # unigram_nll/bigram_nll; all KN statistic tables attach via
    # equi-joins.
    allowed_bnlj = {
        "knn_cosine", "unigram_nll", "bigram_nll", "trigram_nll",
        "fit_classifier",
        "bm25_rank", "knn_pq", "fluency_buckets", "fluency_buckets_lang",
        "temperature_mix", "knn_sq", "knn_binary", "knn_ivf_pq",
        "knn_pq_opq", "dsir_weights", "dsir_sample",
        # knn_mrl: exact kNN over truncated prefixes — the knn_cosine shape.
        "knn_mrl",
        # knn_rproj: exact kNN over JL-projected vectors — same shape.
        "knn_rproj",
        # mmr_rerank embeds an exact-kNN candidate retriever (the
        # knn_cosine broadcast-queries shape); MMR itself is one
        # equi-join + one bounded gather + a JVM fold.
        "mmr_rerank",
        # unigram tokenizer (round 11): the bounded model attaches as a
        # ONE-row broadcast map (model + unk penalty) cross-joined onto
        # the word-type table / documents — the PQ-codebook one-row
        # join-kernel shape.
        "train_unigram", "unigram_encode",
        # wordpiece (round 11): same one-row broadcast vocab-map shape.
        "wordpiece_encode",
        # hybrid_rrf embeds two exact-kNN retrievers (the knn_cosine
        # broadcast-queries shape); fusion itself is equi-join only.
        "hybrid_rrf",
        # hybrid_rrf_bm25: bm25's one-row corpus stats (N, avgdl, df)
        # broadcast cross join + the exact-kNN retriever.
        "hybrid_rrf_bm25",
        # ngram_nll / fluency_buckets_5gram (round 13): trigram_nll's
        # sanctioned one-row continuation-totals broadcast cross join,
        # two orders up (and the buckets' one-row threshold join).
        "ngram_nll", "fluency_buckets_5gram",
    }
    offenders = {}
    for name, q in entry_mod.queries().items():
        if name.startswith("streaming"):
            continue
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in allowed_bnlj:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_line_dedup_has_no_window(spark):
    """The r6 straggler fix is structural: first-occurrence-per-line must
    be a map-side-combining aggregation + join, never a per-line Window
    (one hot line would own one sort partition at corpus scale). This
    pins the physical plan so the window formulation can't creep back."""
    from timefence_spark.operators.text import line_dedup
    from timefence_spark.plans import physical_summary

    docs = spark.createDataFrame(
        [(i, "a long enough line\nshort") for i in range(10)],
        "doc_id long, text string",
    )
    out = line_dedup(docs, id_col="doc_id", text_col="text")
    assert physical_summary(out).windows == 0


def test_pack_sequences_single_exchange(spark):
    """pack_sequences (round 9) moves documents across the wire exactly
    ONCE: the shard hash-partitioning feeds the per-shard window, the
    token-level posexplode, AND the (shard, seq) aggregation — Catalyst
    must recognize hashpartitioning(shard) satisfies the (shard, seq)
    clustering so token-level rows never shuffle. A second Exchange here
    means the token stream is crossing the wire: a 100 TB regression."""
    from timefence_spark.operators.packing import pack_sequences
    from timefence_spark.plans import physical_summary

    df = spark.createDataFrame(
        [(i, list(range(i % 5 + 1))) for i in range(50)],
        "doc_id long, token_ids array<int>",
    )
    for pad_id in (0, None):
        out = pack_sequences(
            df, id_col="doc_id", seq_len=4, num_shards=4, hash_fn="md5",
            pad_id=pad_id,
        )
        s = physical_summary(out)
        assert s.exchanges == 1, f"token-level shuffle crept in: {s}"
        assert s.windows == 1


def test_url_dedup_has_no_window(spark):
    """url_dedup (round 9) is the line_dedup shape on URL keys: the keep
    decision must be a map-side-combining min-aggregation + semi-join,
    never a per-canonical-URL Window (one hot canonical URL — a crawl
    loop refetching a landing page millions of times — would own one
    sort partition at corpus scale)."""
    from timefence_spark.operators.web import url_dedup
    from timefence_spark.plans import physical_summary

    df = spark.createDataFrame(
        [(i, f"https://example.org/p/{i % 3}") for i in range(30)],
        "doc_id long, url string",
    )
    out = url_dedup(df, id_col="doc_id", url_col="url")
    assert physical_summary(out).windows == 0
    assert {r["doc_id"] for r in out.collect()} == {0, 1, 2}


def test_ngram_frequencies_no_count_distinct_expand(spark):
    """ngram_frequencies' doc frequency must come from the per-doc
    pre-aggregation (count rows), never a COUNT(DISTINCT doc_id) —
    a distinct-aggregate Expand would re-shuffle every raw gram
    occurrence a second time at corpus scale."""
    from timefence_spark.operators.text import ngram_frequencies

    df = spark.createDataFrame(
        [(i, "one two three four five") for i in range(20)],
        "doc_id long, text string",
    )
    out = ngram_frequencies(df, id_col="doc_id", text_col="text", n=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan
    rows = {r["ngram"]: (r["n_occurrences"], r["n_docs"]) for r in out.collect()}
    assert rows["one two three"] == (20, 20)


def test_build_selects_zero_join_single_pass_plan(spark, sf_dir):
    """VERDICT r9 item 8: build() auto-selects the single-pass plan when
    every feature resolves through the union strategy under ONE shared
    key mapping (the common case). The built DataFrame's physical plan
    must contain exactly ONE Window and ZERO joins — the label row rides
    through the window itself (pit_match_multi carry_left), so no row
    id, no checkpoint, and no per-feature recombination join exist."""
    import timefence_spark as tf
    from timefence_spark.plans import physical_summary

    labels = tf.Labels(
        path=f"{sf_dir}/orders.parquet", keys="o_custkey",
        label_time="o_orderdate", target="o_totalprice",
    )
    feats = [
        tf.Feature(
            tf.Source(
                f"{sf_dir}/orders.parquet", keys="o_custkey",
                timestamp="o_orderdate",
            ),
            sql=(
                f"SELECT o_custkey, o_orderdate AS feature_time, "
                f"MAX(o_totalprice)*{i} AS v{i} FROM {{source}} GROUP BY 1,2"
            ),
            name=f"f{i}", embargo=f"{i}d", on_duplicate="keep_any",
        )
        for i in (1, 2, 3)
    ]
    res = tf.build(labels, feats, None, spark=spark)
    s = physical_summary(res.dataframe)
    assert s.windows == 1, f"expected ONE Window, got {s}"
    assert (
        s.broadcast_joins == 0
        and s.sort_merge_joins == 0
        and s.nested_loop_joins == 0
    ), f"single-pass build must have zero joins, got {s}"


def test_skew_bucket_build_has_no_row_id_recombination(spark, sf_dir):
    """A skew_bucket build under one key mapping takes the same zero-join
    plan as the plain build: the label row rides through ONE bucketed
    Window, and the only join is the cross-bucket carry on (key, bucket).
    No spine row id, no checkpointed spine and no per-feature
    recombination join may appear."""
    import timefence_spark as tf
    from timefence_spark.operators.asof import ROW_ID
    from timefence_spark.plans import _full_qe_str, physical_summary

    labels = tf.Labels(
        path=f"{sf_dir}/orders.parquet", keys="o_custkey",
        label_time="o_orderdate", target="o_totalprice",
    )
    src = tf.Source(
        f"{sf_dir}/orders.parquet", keys="o_custkey", timestamp="o_orderdate"
    )
    feats = [
        tf.Feature(
            src,
            sql=(
                f"SELECT o_custkey, o_orderdate AS feature_time, "
                f"MAX(o_totalprice)*{i} AS v{i} FROM {{source}} GROUP BY 1,2"
            ),
            name=f"f{i}", embargo=f"{i}d", on_duplicate="keep_any",
        )
        for i in (1, 2)
    ]
    res = tf.build(labels, feats, None, skew_bucket="90d", spark=spark)
    assert "-- recombine: none (zero-join single-pass plan)" in res.sql
    plan = _full_qe_str(res.dataframe)
    assert ROW_ID not in plan, "spine row id reached the bucketed build plan"
    assert "ExistingRDD" not in plan, "bucketed build checkpointed the spine"
    s = physical_summary(res.dataframe)
    joins = s.broadcast_joins + s.sort_merge_joins + s.nested_loop_joins
    assert joins == 1, f"expected only the carry join, got {s}"


def test_in_window_dup_flags_share_the_window(spark):
    """Round 13: the in-window duplicate counter (pit_match_multi
    dup_track) must ride the EXISTING window pass — the lag/lead flag
    expressions share the running frame's partitioning and ordering, so
    the physical plan keeps exactly ONE Window operator and gains no
    Exchange; the check's entire cost is two offset-frame processors
    and a CollectMetrics pass-through."""
    from pyspark.sql import Observation

    from timefence_spark.operators.asof import pit_match_multi
    from timefence_spark.plans import physical_summary

    labels = spark.createDataFrame(
        [(i % 10, T0 + timedelta(hours=i)) for i in range(100)],
        "entity long, label_time timestamp_ntz",
    ).withColumn("__label_rowid", F.monotonically_increasing_id())
    feat = spark.createDataFrame(
        [(i % 10, T0 + timedelta(hours=i - 2), float(i)) for i in range(100)],
        "entity long, feature_time timestamp_ntz, v double",
    )
    kwargs = dict(
        key_pairs=[("entity", "entity")],
        label_time="label_time",
        lookback_s=365 * 86400,
    )
    plain = pit_match_multi(
        labels, [("f", feat, "feature_time", ["v"], 0)], **kwargs
    )
    obs = Observation()
    flagged = pit_match_multi(
        labels,
        [("f", feat, "feature_time", ["v"], 0)],
        dup_track=[True],
        dup_observation=obs,
        **kwargs,
    )
    s_plain = physical_summary(plain)
    s_flagged = physical_summary(flagged)
    assert s_flagged.windows == 1, f"expected ONE Window, got {s_flagged}"
    assert s_flagged.exchanges == s_plain.exchanges, (
        f"dup flags added a shuffle: {s_plain} -> {s_flagged}"
    )
    flagged.count()
    assert int(obs.get["dups_0"]) == 0  # no duplicate groups planted


def _lut_staged_below_topmost_join(df) -> None:
    """Assert the ADC LUT is a staged projection BELOW the candidate
    join: every operator above the topmost join may reference `__lut`
    only as an attribute and must never touch the raw query vector
    `__qv` — touching `__qv` above the join means the m x 2**nbits
    sub-centroid dot folds re-execute per CANDIDATE instead of per
    QUERY, an O(candidates * dim) silent regression at scale."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_at = plan.find("Join ")
    assert join_at > 0, f"no join in plan:\n{plan[:2000]}"
    above = plan[:join_at]
    assert "__lut#" in above, (
        "score stage above the join does not reference a staged __lut "
        f"attribute:\n{above}"
    )
    assert "__qv" not in above, (
        "raw query vector __qv leaked above the candidate join — the "
        f"LUT fold would re-run per candidate:\n{above}"
    )
    # and the fold is defined exactly once, below the join
    assert plan.count(" AS __lut#") == 1, plan[:4000]


@pytest.mark.parametrize("compute", ["expr", "join"])
def test_pq_adc_lut_materialized_once_per_query(spark, compute):
    """VERDICT r10 item 2: pq_topk's per-query ADC LUT must be staged
    once per query row (a projection on the broadcast/query side of the
    candidate join), with per-candidate work reduced to LUT lookups."""
    import random

    from timefence_spark.operators import similarity as sim

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    book = sim.pq_train(emb, corpus_id="vec_id", m=4, nbits=4)
    enc = sim.pq_encode(emb, corpus_id="vec_id", codebook=book)
    q = emb.where("vec_id < 4")
    out = sim.pq_topk(
        q, enc, book, query_id="vec_id", k=5, compute=compute,
    )
    _lut_staged_below_topmost_join(out)


@pytest.mark.parametrize("compute", ["expr", "join"])
@pytest.mark.parametrize("residual", [False, True])
def test_ivf_pq_adc_lut_materialized_once_per_query(spark, compute, residual):
    """Same pin for the composed IVF-PQ path, both geometries: the
    residual extras (<q,c_j>, per-centroid constants) ride their own
    nprobe/nlist-bounded stages and must not drag `__qv` above the
    candidate join either."""
    import random

    from timefence_spark.operators import similarity as sim

    rng = random.Random(6)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    q = emb.where("vec_id < 4")
    out = sim.ivf_pq_topk(
        q, emb, query_id="vec_id", corpus_id="vec_id", k=5,
        nlist=4, nprobe=2, m=4, nbits=4, compute=compute,
        residual=residual,
    )
    _lut_staged_below_topmost_join(out)


def test_minhash_shingle_table_pinned_once(spark):
    """VERDICT r11 item 2: minhash_lsh_pairs' shingle table (the full-text
    re-tokenization) has three consumers — the signature aggregation and
    both exact-Jaccard verification joins. It must be pinned so one
    shingling pass serves all three: every consumer in the final plan
    reads the checkpointed RDD ("Scan ExistingRDD"), and the raw text
    column never appears in the output's plan (shingling can't be
    re-derived inline downstream of the pin)."""
    from timefence_spark.operators.dedup import minhash_lsh_pairs
    from timefence_spark.plans import _full_qe_str

    docs = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
            for i in range(30)
        ],
        "doc_id long, raw_text_payload string",
    )
    pairs = minhash_lsh_pairs(
        docs, id_col="doc_id", text_col="raw_text_payload",
        num_perm=16, bands=4, threshold=0.5,
    )
    plan = _full_qe_str(pairs)
    assert "ExistingRDD" in plan, "shingle table is not pinned"
    # Downstream of the pin, only (id, shingles) flows — the text column
    # re-appearing means a consumer rebuilt shingles from scratch.
    assert "raw_text_payload" not in plan, (
        "text column leaked past the shingle pin — a consumer is "
        "re-shingling the corpus"
    )
    # Values survive the pin: near-identical docs (same i%3 suffix) pair up.
    rows = pairs.collect()
    assert len(rows) > 0
    assert all(r["id_a"] < r["id_b"] and r["jaccard"] >= 0.5 for r in rows)


def test_minhash_signatures_shingle_pinned(spark):
    """minhash_signatures joins the shingle table to its own signature
    aggregation — same pin contract as minhash_lsh_pairs."""
    from timefence_spark.operators.dedup import minhash_signatures
    from timefence_spark.plans import _full_qe_str

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + str(i)) for i in range(10)],
        "doc_id long, raw_text_payload string",
    )
    out = minhash_signatures(
        docs, id_col="doc_id", text_col="raw_text_payload", num_perm=8
    )
    plan = _full_qe_str(out)
    assert "ExistingRDD" in plan
    assert "raw_text_payload" not in plan
    rows = out.collect()
    assert len(rows) == 10
    assert all(len(r["signature"]) == 8 for r in rows)
