"""Full-surface differential sweep: EVERY ``queries()`` entry replayed
against its ``oracle_sql()`` DuckDB oracle at sf0.001, inside pytest.

This is the reference's whole test philosophy — rebuild-and-compare —
applied to the entire oracle surface on every test run: the driver's
per-round harness checks a rotating ~50-entry prefix of the same pairs
at sf0.01, so this sweep makes that rotation redundancy rather than the
only full-surface correctness gate. A new operator is NOT done until it
has a ``queries()`` entry, an ``oracle_sql()`` entry, and this sweep is
green.

Marked ``oracle`` so it can be deselected (``-m 'not oracle'``) when
iterating on a single operator.

Default-fast mode (round 14, VERDICT r13 item 2): the full 122-entry
sweep takes most of ten minutes and the whole suite overran the
driver's pytest window (r13: tests_ok:false at ~70% with zero
failures). The DEFAULT run replays a representative subset — at least
one query per operator family, plus every query any recent round
touched — and ``SPARK_GRAFT_FULL_TESTS=1`` restores the full sweep
(the builder's round-end verification runs it; nothing is deleted,
only deselected by default).
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import assert_df_equals_sql

QUERY_NAMES = sorted(entry_mod.queries().keys())

# One per operator family + everything the optimization rounds touched
# (NLL ladder, mmr_rerank, line_dedup/spans hash modes, PQ family, the
# build/audit paths). test_every_query_has_an_oracle below still checks
# the full 122-entry surface's integrity on every run.
REPRESENTATIVE_QUERIES = [
    "audit_temporal_counts", "bigram_nll", "bm25_rank", "bpe_encode",
    "classifier_hashed", "corpus_clean", "corpus_stats",
    "dedup_components", "dedup_exact", "dsir_sample",
    "duplicate_spans_hash", "embedding_near_dup", "fit_classifier",
    "fluency_buckets_5gram", "hash_embed", "hybrid_rrf",
    "knn_binary", "knn_cosine_arrow", "knn_ivf_pq", "knn_mrl",
    "line_dedup_hash", "media_decode_jpeg", "media_dedup",
    "minhash_dedup", "mmr_rerank", "ngram_freq", "ngram_nll",
    "pack_sequences", "pii_redact", "pit_composite_keys", "pit_embargo",
    "pit_events_keymap", "pit_inclusive", "pit_multi_single_pass",
    "pit_skew_bucketed", "pit_staleness", "pit_strict", "rolling_spend_30d",
    "semantic_dup_grouped", "streaming_asof", "streaming_near_dedup",
    "strip_html", "temperature_mix", "text_token_stats", "train_bpe_gpt2",
    "train_unigram", "trigram_nll", "unigram_encode", "unigram_nll",
    "url_dedup", "warc_ingest", "wordpiece_encode", "word_freq",
]

SWEEP_NAMES = (
    QUERY_NAMES
    if os.environ.get("SPARK_GRAFT_FULL_TESTS", "0") == "1"
    else [n for n in QUERY_NAMES if n in REPRESENTATIVE_QUERIES]
)


def test_representative_subset_is_current():
    """Every representative name must still be declared — a renamed or
    dropped query must fail here, not silently shrink the sweep."""
    missing = set(REPRESENTATIVE_QUERIES) - set(QUERY_NAMES)
    assert not missing, f"representative queries not declared: {sorted(missing)}"


@pytest.mark.oracle
@pytest.mark.parametrize("name", SWEEP_NAMES)
def test_query_vs_oracle(spark, sf_dir, oracle, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    df = q(spark, sf_dir)
    if sql is None:
        # non-SQL-expressible ops get the driver's weaker rows-only check
        assert df.count() >= 0
        return
    assert_df_equals_sql(df, oracle, sql)


def test_every_query_has_an_oracle_or_is_whitelisted():
    """Every queries() entry must carry an oracle_sql() entry; genuinely
    non-SQL-expressible ops must be explicitly whitelisted here, so a
    forgotten oracle is a test failure rather than a silent weak check."""
    non_sql_ok: set[str] = set()  # currently every entry has an oracle
    missing = set(entry_mod.queries()) - set(entry_mod.oracle_sql()) - non_sql_ok
    assert not missing, f"queries() entries without an oracle: {sorted(missing)}"
    orphans = set(entry_mod.oracle_sql()) - set(entry_mod.queries())
    assert not orphans, f"oracle_sql() entries without a query: {sorted(orphans)}"
