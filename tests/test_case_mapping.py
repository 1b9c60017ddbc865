"""Case mapping takes the JVM path (``session.py``): engine sessions and
every build or merge switch ICU case mappings off, no build or merge JVM
runs the ICU case-mapping table's initializer, and the analyzer's tokens
equal the Python tokenizer's on non-ASCII text."""

import os
import subprocess
import sys

import pytest

from lucille_spark.analysis import tokenize_col, tokenize_py

ICU = "spark.sql.icu.caseMappings.enabled"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# letters whose case mapping is special: the dotted capital I, the Kelvin
# sign (lowers to ASCII k), a final sigma, the capital sharp s, the ff
# ligature (uppercases to two letters) and the titlecase digraph Dž
FIXTURES = [
    "İstanbul İSTANBUL Istanbul ıstanbul",
    "Kelvin 5K KELVIN kelvin",
    "ΟΔΟΣ οδός Σ σ ς",
    "Straße STRAẞE strasse",
    "ﬀ oﬀ_ice eﬀort",
    "Ǆemal ǅemal ǆemal DŽEMAL",
    "İf IF if_x İ_İ K_2",
]


def test_get_spark_maps_case_on_the_jvm_path(spark):
    assert spark.conf.get(ICU) == "false"


def test_job_scope_restores_the_flag_however_it_ends(spark):
    from lucille_spark.index.builder import _job_scope

    try:
        for before in ("true", "false"):
            spark.conf.set(ICU, before)
            with _job_scope(spark):
                assert spark.conf.get(ICU) == "false"
            assert spark.conf.get(ICU) == before
            with pytest.raises(RuntimeError, match="body"):
                with _job_scope(spark):
                    assert spark.conf.get(ICU) == "false"
                    raise RuntimeError("body failed")
            assert spark.conf.get(ICU) == before
    finally:
        spark.conf.set(ICU, "false")


def test_non_ascii_tokens_equal_the_python_tokens(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in FIXTURES], "content string")
    got = [r["t"] for r in df.select(
        tokenize_col(F.col("content")).alias("t")).collect()]
    assert got == [tokenize_py(t) for t in FIXTURES]
    assert got[1][0] == "kelvin" and "i" in got[0]  # not vacuous


def test_non_ascii_lexicon_equals_the_python_tokens(spark, tmp_path):
    import pyarrow.parquet as pq

    from lucille_spark.index import snapshot
    from lucille_spark.index.builder import build_index

    rows = [("o/r", f"f{i}.txt", "c0", "text", f"{t} doc{i}")
            for i, t in enumerate(FIXTURES)]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    idx = str(tmp_path / "idx")
    build_index(corpus, idx)
    terms = {t for p in snapshot.paths(idx, snapshot.load(idx), "lexicon")
             for t in pq.read_table(p, columns=["term"])["term"].to_pylist()}
    assert terms == {t for r in rows for t in tokenize_py(r[4])}


GUARD = r"""
import sys
import numpy as np
from pyspark.sql import SparkSession
from lucille_spark.corpus import corpus_pdf
from lucille_spark.index.builder import build_index
from lucille_spark.index.merge import merge_index

log, idx = sys.argv[1:]
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:+UseParallelGC -Xlog:class+init=info:file={log}")
         .getOrCreate())
build_index(spark.createDataFrame(corpus_pdf(np.arange(20))), idx)
merge_index(spark.createDataFrame(corpus_pdf(np.arange(20, 25))), idx)
spark.stop()
"""


def test_no_icu_case_mapping_table_in_a_build_or_merge_jvm(tmp_path):
    """A build and a merge on a session the engine did not make, in a
    fresh JVM, never initialize the class whose initializer fills the ICU
    case-mapping table, although they do run ``lower()``."""
    log = str(tmp_path / "class_init.log")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    r = subprocess.run(
        [sys.executable, "-c", GUARD, log, str(tmp_path / "idx")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    with open(log) as f:
        inits = [line for line in f if " Initializing '" in line]
    assert len(inits) > 1000
    assert any("'org/apache/spark/sql/catalyst/util/CollationSupport$Lower'"
               in line for line in inits)
    assert not any(
        "Initializing 'org/apache/spark/sql/catalyst/util/"
        "CollationAwareUTF8String'" in line for line in inits)
