"""Import-time side-effect contract for the persisted-model oracle tables
(VERDICT r10 wrong #1): importing the plans package must run ZERO DuckDB
training; the v1k-BPE / unigram tables the oracle SQL reads are trained
lazily at first oracle use (ensure_oracle_model_tables, called from the
driver contract's oracle_sql()). Subprocess-based so each assertion sees a
genuinely cold import with its own isolated model directories."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, tmp_path) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BPE_V1K_DIR"] = str(tmp_path / "v1k")
    env["SPARK_GRAFT_UNIGRAM_DIR"] = str(tmp_path / "uni")
    env["SPARK_GRAFT_WORDPIECE_DIR"] = str(tmp_path / "wp")
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _parquets(d: str) -> list[str]:
    if not os.path.isdir(d):
        return []
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_import_is_side_effect_free_and_oracle_passes_cold(tmp_path):
    code = """
import json, os, glob

def parquets(d):
    return glob.glob(os.path.join(d, "*.parquet"))

v1k = os.environ["SPARK_GRAFT_BPE_V1K_DIR"]
uni = os.environ["SPARK_GRAFT_UNIGRAM_DIR"]
wp = os.environ["SPARK_GRAFT_WORDPIECE_DIR"]

# 1. Importing the full plans registry must train nothing.
from futures_eos_cdc_spark.plans import ORACLES, QUERIES  # noqa: F401
after_import = {"v1k": parquets(v1k), "uni": parquets(uni), "wp": parquets(wp)}

# 2. The driver contract's oracle_sql() triggers the lazy ensure.
import __spark_entry__
oracles = __spark_entry__.oracle_sql()
after_oracle = {"v1k": parquets(v1k), "uni": parquets(uni), "wp": parquets(wp)}

# 3. Cold path: the unigram/wordpiece vocab oracles run in DuckDB with NO
#    Spark query ever constructed in this process.
import duckdb
rows = duckdb.sql(oracles["unigram_vocab"]).fetchall()
wp_rows = duckdb.sql(oracles["wordpiece_vocab"]).fetchall()
merge_rows = duckdb.sql(
    f"SELECT count(*) FROM read_parquet('{v1k}/*.parquet')"
).fetchone()[0]

print(json.dumps({
    "after_import": after_import,
    "after_oracle": after_oracle,
    "vocab_rows": len(rows),
    "wp_rows": len(wp_rows),
    "merge_rows": merge_rows,
}))
"""
    res = _run(code, tmp_path)
    assert res["after_import"] == {"v1k": [], "uni": [], "wp": []}, (
        "import trained a model table — the ensure regressed to import time"
    )
    assert res["after_oracle"]["v1k"] and res["after_oracle"]["uni"]
    assert res["after_oracle"]["wp"]
    assert res["vocab_rows"] > 0
    assert res["wp_rows"] > 0
    assert res["merge_rows"] > 0


def test_oracle_sql_is_idempotent_and_respects_query_persist(tmp_path):
    """Second oracle_sql() call must not retrain, and a table already
    persisted by query construction (the sf-guard) is left alone — the
    query's sf_dir describes the corpus actually being compared."""
    code = """
import json, os, glob

uni = os.environ["SPARK_GRAFT_UNIGRAM_DIR"]

from futures_eos_cdc_spark.plans import dataprep

# Simulate query construction having persisted for another sf_dir.
dataprep._PERSISTED_SF[dataprep.UNIGRAM_PIECES_PATH] = "/some/other/sf"
os.makedirs(uni, exist_ok=True)
with open(os.path.join(uni, "sentinel.parquet"), "w") as f:
    f.write("not-really-parquet")

dataprep.ensure_oracle_model_tables()
first = sorted(os.path.basename(p) for p in glob.glob(uni + "/*.parquet"))
dataprep.ensure_oracle_model_tables()
second = sorted(os.path.basename(p) for p in glob.glob(uni + "/*.parquet"))

print(json.dumps({"first": first, "second": second}))
"""
    res = _run(code, tmp_path)
    # the sentinel written by "query construction" survives: the ensure
    # skipped the unigram table entirely (guard set), twice
    assert res["first"] == ["sentinel.parquet"]
    assert res["second"] == ["sentinel.parquet"]
