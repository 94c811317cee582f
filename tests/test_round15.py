"""Reliable-checkpoint pins for the fuzzy passjoin and corpus-pipeline
funnels: their multi-consumer barriers bind through
stage.py:stage_materialize and must stay value-identical on a fresh
default-config session with a reliable checkpoint dir."""

from __future__ import annotations

from tests.test_barriers import run_reliable_barriers


def test_r15_stage_barriers_correct_with_reliable_checkpoint(tmp_path, sf_dir):
    """dedup_fuzzy_passjoin (base0 barrier) and pipeline_corpus_end_to_end
    (assigned barrier) write reliable checkpoint files and match the
    DuckDB oracle value for value."""
    run_reliable_barriers(
        tmp_path,
        sf_dir,
        ("dedup_fuzzy_passjoin", "pipeline_corpus_end_to_end"),
    )
