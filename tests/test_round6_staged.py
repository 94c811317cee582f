"""The 34 round-6 entries: full value-level Spark-vs-DuckDB comparison
(the same compare the driver runs) at sf0.01."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from whisper_pandas_spark import registry
from whisper_pandas_spark.registry import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.01"

ROUND6 = (
    "dedup_semantic",
    "emb_pq_ivf_topk",
    "emb_pq_topk",
    "funnel_view_click_purchase",
    "graph_pagerank_trade",
    "graphite_group_by_node",
    "graphite_per_second",
    "graphite_summarize",
    "incr_agg_orders",
    "ingest_csv_roundtrip",
    "ingest_jsonl_roundtrip",
    "join_asof_forward",
    "join_star_q5ish",
    "merge_partitioned_manifest",
    "merge_upsert_documents",
    "mm_archive_inventory",
    "quality_expectations",
    "sample_mixture_tokens",
    "sample_shuffle_epoch",
    "sample_weighted_topk",
    "scd2_user_event_versions",
    "sketch_distinct_rollup",
    "sketch_quantile_rollup",
    "sketch_topk_rollup",
    "snapshot_diff_keys",
    "stream_merge_replay",
    "stream_session_replay",
    "stream_sketch_replay",
    "text_lm_bigram_score",
    "text_quality_classifier",
    "text_tfidf_topk",
    "ts_holt_forecast",
    "ts_metric_correlation",
    "ts_seasonal_decompose",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", ROUND6)
def test_staged_entry_matches_duckdb(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    ddf = duck.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(ddf), (len(sdf), len(ddf))
    assert sorted(sdf.columns) == sorted(ddf.columns)
    s = sdf[sorted(sdf.columns)].sort_values(list(sorted(sdf.columns))).reset_index(drop=True)
    d = ddf[sorted(ddf.columns)].sort_values(list(sorted(ddf.columns))).reset_index(drop=True)
    for c in s.columns:
        if s[c].dtype.kind in "fc" or d[c].dtype.kind in "fc":
            a = pd.to_numeric(s[c]).to_numpy(dtype=float)
            b = pd.to_numeric(d[c]).to_numpy(dtype=float)
            assert np.allclose(a, b, atol=1e-9, equal_nan=True), (name, c)
        else:
            assert (s[c].astype(str) == d[c].astype(str)).all(), (name, c)


def test_round6_entries_registered_with_oracle():
    """Every round-6 entry is in the live QUERIES/ORACLES, and any
    still-unrecorded one sorts ahead of the green refresh bucket so the
    driver's bounded sweep records it first.

    The ordering half is scoped to entries with NO CORRECTNESS record:
    once the driver sweeps them (green), ``registry._reorder`` correctly
    moves them to the END of the green bucket (newest record last), so
    asserting the pre-sweep ordering for recorded entries would encode a
    transient state.
    """
    for name in ROUND6:
        assert name in QUERIES and name in ORACLES, name
    order = list(QUERIES)
    unrecorded = [n for n in ROUND6 if n not in registry._latest]
    if unrecorded:
        green = [
            i
            for i, n in enumerate(order)
            if registry._order_key(n)[0] == 2
        ]
        first_green = min(green) if green else len(order)
        assert max(order.index(n) for n in unrecorded) < first_green or not green, (
            unrecorded,
            order[:5],
        )
