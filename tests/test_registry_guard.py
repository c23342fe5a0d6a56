"""Registry-count CI guard: the queries()/oracle_sql() registries and the
documented counts must agree — the drift class the round-3 review flagged
twice. No Spark session needed; this is pure bookkeeping."""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E

EXPECTED_QUERIES = 124


def test_counts_agree_and_every_query_has_a_value_oracle():
    q, o = E.queries(), E.oracle_sql()
    assert len(q) == EXPECTED_QUERIES
    # every registered query carries a DuckDB value oracle (no rows-only
    # residue since doc_bpe_tokens gained its recursive-CTE oracle)
    assert sorted(q) == sorted(o)
    # dict literal duplicates collapse silently — catch them by comparing
    # against the source text of the registry function
    import inspect

    src = inspect.getsource(E.queries)
    keys = re.findall(r'^\s{8}"([a-z0-9_]+)":', src, re.M)
    assert len(keys) == len(set(keys)), "duplicate registry keys in source"
    assert keys == list(q), "source order != dict order"


def test_readme_count_matches_registry():
    with open("/root/repo/README.md") as fh:
        readme = fh.read()
    m = re.search(r"`queries\(\)` \((\d+) operator queries\)", readme)
    assert m, "README registry-count sentence missing"
    assert int(m.group(1)) == len(E.queries())


def test_correctness_window_holds_the_current_rotation():
    """The first 50 registry entries are the correctness gate's window.
    Every query whose code path changed since its last green row must sit
    inside it (here: everything that extracts text, now Catalyst-native),
    then the round-5 deferrals, then the stalest greens."""
    window = list(E.queries())[:50]
    changed = [
        # direct extract_text users
        "cdc_extract_text", "cdc_segment_quantiles",
        # replay through the CdcPipeline merge / append job
        "cdc_replay_final_state", "cdc_mor_replay_final_state",
        "cdc_mor_resolve_read", "src_debezium_tail", "sync_delta_log_replay",
        "sync_delete_positions", "cdc_composite_pk_final_state",
        "cdc_schema_evolution", "cdc_type_widening", "sync_multistream",
    ]
    deferred_r2 = [
        "cdc_checkpoint_metrics", "evt_sessionize", "cdc_dedup_salted",
        "sync_multistream_atomic", "sync_clustered_prune", "sync_zorder_prune",
        "sync_compact_roundtrip", "sync_time_travel", "sync_respec_roundtrip",
        "sync_catalog_txn",
    ]
    assert window[: len(changed)] == changed
    assert window[len(changed) : len(changed) + len(deferred_r2)] == deferred_r2
    # the rest of the window is the stalest greens: every r3 line first
    green_r3 = {
        "web_sitemap_frontier", "doc_train_split", "doc_pack_sequences",
        "doc_decontaminate", "doc_mix_plan", "doc_quota_by_lang",
        "doc_pii_scrub", "doc_repetition", "doc_vocab_topk",
        "doc_lm_surprisal", "doc_passages", "cdc_url_quality",
        "cdc_postings_incremental", "sync_sql_over_lake",
    }
    rest = window[len(changed) + len(deferred_r2) :]
    assert set(rest[: len(green_r3)]) == green_r3
    # the round-5 window lines were just gated; none may take a slot
    round5 = {
        "src_sql_incremental", "src_http_substream", "audio_fp_dedup",
        "video_frame_dedup", "img_phash_dedup", "doc_exact_dedup",
        "doc_quality", "doc_language_id", "doc_minhash_lsh", "doc_simhash",
        "emb_cosine_topk", "emb_ivf_topk", "cdc_final_state_window",
        "sync_rename_column",
    }
    assert not (set(rest) & round5)
