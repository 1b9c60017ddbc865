"""Deterministic synthetic source-code corpus (FIXTURES.md F1).

Schema per BASELINE.json input_hint:
    (repo:string, path:string, commit:string, lang:string, content:string)

Every column is a **pure function of the row index** (splitmix64 counter-based
hashing, seed=42), so the corpus is byte-identical no matter how many
partitions or executors generate it — the property the scaling-efficiency and
resume tests rely on. Generation is vectorized NumPy inside ``mapInPandas``
(no per-row Python), and at 10^12-row scale would run exactly the same way:
``spark.range(N)`` is split across executors and each partition generates its
own rows independently.

Content is 30-600 tokens: ~85% Zipf draws from a 5,000-term vocabulary whose
ranks 1-20 are code keywords (hot-term skew to exercise salted-key
splitting), ~10% rare ``ident_*`` identifiers (df 1-3), plus planted marker
terms mirroring the reference's MatchQuery fixtures
(``/root/reference/lucille-core/src/test/resources/MatchQueryTest/config.conf:20-25``):
``giraffe``, ``test``, ``geotrans``, ``japan``/``jp``, ``koala`` (df=1), and
``ident_collide`` planted into fixed-length docs to force score ties.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

SEED = 42
VOCAB_SIZE = 5000

_KEYWORDS = [
    "return", "import", "if", "def", "class", "for", "while", "else", "try",
    "except", "self", "none", "true", "false", "lambda", "print", "from",
    "raise", "with", "yield",
]

LANGS = ["python", "java", "javascript", "go", "rust", "markdown"]
_EXT = {"python": "py", "java": "java", "javascript": "js", "go": "go",
        "rust": "rs", "markdown": "md"}
_DIRS = ["core", "util", "io", "net", "api", "db", "ui", "test", "cli", "fmt"]
_NAMES = ["main", "parser", "engine", "index", "query", "codec", "shard",
          "merge", "store", "token", "writer", "reader", "stats", "config"]


def _vocab() -> list:
    v = list(_KEYWORDS)
    for i in range(len(v), VOCAB_SIZE):
        v.append(f"term{i}")
    return v


VOCAB = _vocab()


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the counter-based PRNG behind the corpus."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return (_splitmix64(x) >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def corpus_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Generate corpus rows for the given row indices (vectorized)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = ids.size
    u = ids.astype(np.uint64) * np.uint64(1_000_003) + np.uint64(SEED)

    # doc length 30..600 (collide-docs forced to exactly 60 below)
    length = (30 + (_u01(u + np.uint64(1)) * 570)).astype(np.int64)
    is_collide = (ids % 97) == 5
    length[is_collide] = 60
    max_len = int(length.max()) if n else 0

    # token matrix: (n, max_len) draws
    col = np.arange(max_len, dtype=np.uint64)
    ctr = u[:, None] * np.uint64(31) + col[None, :] * np.uint64(7919)
    r_kind = _u01(ctr + np.uint64(2))
    r_tok = _u01(ctr + np.uint64(3))
    # Zipf-ish rank via inverse of CDF ~ ln(r)/ln(V)
    zipf_rank = np.clip(
        np.power(float(VOCAB_SIZE), r_tok).astype(np.int64) - 1, 0, VOCAB_SIZE - 1
    )
    ident_id = (_splitmix64(ctr + np.uint64(4)) % np.uint64(20_000)).astype(np.int64)

    vocab_arr = np.array(VOCAB)
    lang_pick = np.clip(
        np.power(6.0, _u01(u + np.uint64(5))).astype(np.int64) - 1, 0, 5
    )

    contents = []
    mask = col[None, :] < length[:, None].astype(np.uint64)
    for i in range(n):
        m = mask[i]
        kinds = r_kind[i][m]
        toks = vocab_arr[zipf_rank[i][m]].copy()
        ident_rows = kinds >= 0.90
        if ident_rows.any():
            toks[ident_rows] = np.char.add("ident_", ident_id[i][m][ident_rows].astype(str))
        doc_toks = toks.tolist()
        gid = int(ids[i])
        # planted markers (deterministic dfs at a given corpus size)
        if gid % 50 == 0:
            doc_toks.append("test")
        if gid % 500 == 7:
            doc_toks.append("giraffe")
        if gid % 800 == 11:
            doc_toks.append("geotrans")
        if gid % 666 == 13:
            doc_toks.extend(["japan", "jp"])
        if gid == 37:
            doc_toks.append("koala")
        if is_collide[i]:
            doc_toks[0] = "ident_collide"  # keep dl fixed at 60 → exact tie
        contents.append(" ".join(doc_toks))

    repo = [f"org{int(i) % 7}/repo{int(i) % 23}" for i in ids]
    d_idx = (_splitmix64(u + np.uint64(6)) % np.uint64(len(_DIRS))).astype(np.int64)
    n_idx = (_splitmix64(u + np.uint64(7)) % np.uint64(len(_NAMES))).astype(np.int64)
    langs = [LANGS[k] for k in lang_pick]
    path = [
        f"src/{_DIRS[d]}/{_NAMES[m]}_{int(i)}.{_EXT[lg]}"
        for d, m, lg, i in zip(d_idx, n_idx, langs, ids)
    ]
    commit = [
        hashlib.sha1(f"commit-{int(i) // 50}".encode()).hexdigest() for i in ids
    ]
    return pd.DataFrame(
        {"repo": repo, "path": path, "commit": commit, "lang": langs,
         "content": contents}
    )


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def corpus_df(spark, n_docs: int, partitions: int | None = None):
    """Distributed deterministic corpus as a Spark DataFrame."""
    base = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            yield corpus_pdf(pdf["id"].to_numpy())

    return base.mapInPandas(gen, schema=CORPUS_SCHEMA)


def spread_small_input(df, min_parts: int | None = None,
                       min_bytes: int | None = None):
    """Round-robin repartition an under-partitioned input (guide §2.5: one
    big unsplittable file — the sf documents.parquet is a single row
    group, so every narrow map stage over it would run on ONE core).
    No-op when the scan already has >= the cluster's parallelism — at
    real scale inputs arrive with thousands of splits and this never adds
    a corpus-sized shuffle.

    ``min_bytes``: cost-model floor for ONE-PASS consumers — the exchange
    moves every byte once, so parallelizing an input smaller than this
    saves less map time than the shuffle costs (measured at sf0.1/0.6 MB:
    +0.15-0.2 s per query from the exchange, no compute win; at
    sf1.0/5.9 MB the same exchange buys 2-4x). Multi-pass consumers (the
    index build tokenizes the cached spread result three times) leave it
    None and always spread. Unknown input size (non-file sources, a
    filesystem pyarrow cannot open) spreads."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if min_bytes:
        total = _input_bytes(df.inputFiles())
        if total is not None and total < min_bytes:
            return df
    return df.repartition(target)


def _input_bytes(uris) -> int | None:
    """Total size of the files behind ``uris`` (Spark's ``inputFiles()``:
    percent-encoded URIs on any filesystem), or None when there are none
    or a size is unknown."""
    import pyarrow as pa
    from pyarrow import fs as pafs

    if not uris:
        return None
    total = 0
    for uri in uris:
        try:
            fs, path = pafs.FileSystem.from_uri(uri)
            size = fs.get_file_info(path).size
        except (pa.ArrowException, OSError):
            return None
        if size is None:
            return None
        total += size
    return total


def documents_as_corpus(spark, sf_dir: str):
    """Adapt the driver's documents.parquet to the corpus shape.

    Used so correctness-gate queries run over the shared, pre-registered
    tables; content is carried through unchanged (sha256 invariant intact).
    """
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(F.lit("org/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id").cast("string"),
                 F.lit(".txt")).alias("path"),
        F.sha2(F.col("source").cast("binary"), 256).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
    )
