"""Stage barriers: ``stage.stage_materialize`` is the one place the
engine materializes a stage boundary, and every barrier is correct when
it binds to a reliable checkpoint directory."""

from __future__ import annotations

import ast
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "whisper_pandas_spark"


def test_no_raw_checkpoint_outside_stage():
    """Every ``.localCheckpoint(`` / ``.checkpoint(`` call in the package
    lives in stage.py, so one function decides how a barrier is stored."""
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "stage.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                sites.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not sites, f"{len(sites)} raw checkpoint calls: {sites}"


# One entry per iterative trainer / loop whose per-round cut goes
# through stage_materialize (graph LPA + BFS, lang-ID, semantic dedup,
# cosine k-means, PQ codebooks). The funnel entries run the same script
# from tests/test_round14.py and tests/test_round15.py.
_RELIABLE_ENTRIES = (
    "graph_label_propagation",
    "graph_bfs_distances",
    "text_lang_id_trained",
    "dedup_semdedup",
    "sim_topk_ivf_trained",
    "emb_pq_topk",
)

_RELIABLE_SCRIPT = """
import os, sys
repo, ckdir, sf_dir, *names = sys.argv[1:]
sys.path.insert(0, repo)
import duckdb
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .appName("reliable_barriers")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.sparkContext.setCheckpointDir(ckdir)
from whisper_pandas_spark.registry import ORACLES, QUERIES
con = duckdb.connect()
for t in ("customer", "documents", "embeddings", "lineitem", "orders",
          "part", "supplier"):
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")

def rdd_dirs():
    return {d for _, ds, _ in os.walk(ckdir) for d in ds
            if d.startswith("rdd-")}

for name in names:
    before = rdd_dirs()
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    assert rdd_dirs() - before, (name, "wrote no reliable checkpoint")
    ddf = con.execute(ORACLES[name]).fetchdf()
    assert len(sdf) == len(ddf), (name, len(sdf), len(ddf))
    cols = sorted(sdf.columns)
    assert cols == sorted(ddf.columns), (name, cols, list(ddf.columns))
    sdf = sdf[cols].sort_values(cols).reset_index(drop=True)
    ddf = ddf[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        a, b = sdf[c], ddf[c]
        if a.dtype.kind == "f":
            assert (abs(a - b) < 1e-9).all(), (name, c)
        else:
            assert (a.astype(str) == b.astype(str)).all(), (name, c)
    print("OK", name)
spark.stop()
print("RELIABLE-BARRIERS-OK")
"""


def run_reliable_barriers(tmp_path, sf_dir, names):
    """Run registry entries ``names`` in one FRESH default-config
    subprocess session whose SparkContext has a reliable checkpoint
    directory. Every barrier binds to ``checkpoint(eager=True)``: each
    entry must write new checkpoint files and still match its DuckDB
    oracle value for value. A subprocess keeps the SparkContext (and its
    checkpoint dir) apart from the shared test session's."""
    out = subprocess.run(
        [
            sys.executable, "-c", _RELIABLE_SCRIPT,
            str(REPO), str(tmp_path / "reliable_ck"), sf_dir, *names,
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert "RELIABLE-BARRIERS-OK" in out.stdout, (
        out.stdout[-2000:],
        out.stderr[-2000:],
    )


def test_barriers_correct_with_reliable_checkpoint(tmp_path, sf_dir):
    """The per-round cuts of every iterative trainer write reliable
    checkpoint files and stay value-identical to the oracle."""
    run_reliable_barriers(tmp_path, sf_dir, _RELIABLE_ENTRIES)
