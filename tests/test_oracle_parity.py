"""Oracle-parity inside pytest: a fast subset of the driver's DuckDB gate
(full surface: ``python tools/check_oracle.py``). Runs at sf0.001 so the
suite stays quick; the driver re-checks everything at sf0.01."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# cheap-but-representative subset: one per operator family
SUBSET = (
    "status_counts", "jobs_listing", "point_lookup", "tpch_q1",
    "window_rank", "plain_text_format", "chunk_text", "json_props",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_simhash", "ann_cosine_topk",
    "lang_id", "fingerprint", "multimodal_decode", "host_stats_salted",
    "rollup_stats", "distinct_users", "except_users", "top_revenue_orders",
    "download_names", "result_json", "region_revenue", "part_type_share",
    "shipping_priority", "big_orders", "sessionize", "bucketed_join",
    "ann_ivf", "value_percentiles", "gopher_rules", "crawl_rate",
    "multimodal_frame_sample", "multimodal_audio_features",
    "corpus_curation", "pii_redact", "decontaminate", "token_pack",
    "unicode_normalize", "unigram_logprob", "snapshot_diff",
    "mix_sample", "blocklist_filter", "source_terms",
    "bm25_search", "quality_classifier", "mojibake_repair", "split_assign",
    "domain_pagerank", "politeness_audit", "incremental_dedup",
    "weighted_sample", "length_buckets", "range_join_variable",
    "doc_repetition", "bpe_pair_stats", "chunk_overlap", "token_entropy",
)


@pytest.fixture(scope="module")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    from tools.check_oracle import value_hash
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    sdf = fn(spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [tuple(r) for r in res.fetchall()]
    assert len(srows) == len(drows), f"rowcount {len(srows)} != {len(drows)}"
    assert sorted(sdf.columns) == sorted(dcols)
    assert value_hash(list(sdf.columns), srows) == value_hash(dcols, drows)


def test_every_query_has_callable_signature():
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    assert len(qs) >= 30
    oracles = entrymod.oracle_sql()
    # every oracle key must have a query; rows-only queries are allowed
    assert set(oracles) <= set(qs)
