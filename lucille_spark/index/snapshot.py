"""Index versions: the one module that knows the commit protocol.

An index version is one small JSON manifest, ``_meta/<version>.json``,
in the spirit of an Iceberg snapshot (https://iceberg.apache.org/spec/).
It holds the index format, the version number, the run_id that
committed it, the ordinal span, the analyzer, the per-field corpus stats,
the commit's ``added``/``tombstoned`` counts, and the visible data files
of every table in :data:`TABLES`.

Writers (``builder.build_index``, ``merge.merge_index``, both through
``builder._commit``) stage data
files into the table directories, where nothing lists them yet, and then
:func:`publish` the manifest with a no-replace link: the one atomic step
of a build or merge. A crash before it leaves the previous version
exactly as it was (the staged files are orphans no manifest lists), and
a second writer racing for the same version fails instead of
overwriting. Readers open :func:`load` and read exactly the files it
lists, so they see one whole version.

Every table is append-only, and no commit deletes a data file: a
merge's manifest lists the old files plus the new ones, and a build into
a directory that holds an index lists only its own files. A merge adds
the lexicon rows of its own delta blocks; ``IndexReader`` sums the df of
one (field, term) over its rows at open, as Lucene sums a term's
statistics across segments.
Publishing version ``v`` deletes only the manifests older than ``v - 1``.
A reader therefore keeps its version through any number of commits,
rebuilds included, whether it has opened yet or not. Files that no kept
manifest lists stay on disk until a vacuum deletes them (ROADMAP
direction 1).

One writer at a time is the model; publishing is what makes a racing
second writer fail. Every manifest records the index :data:`FORMAT` its
files are written in. :func:`load` tells the caller to rebuild an index
without a manifest or of another format, so no reader or merge keeps a
decode path for older bytes.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Optional

TABLES = ("postings", "lexicon", "doc_stats", "_tombstones")
# 2: postings carry no per-posting doc length (doc_stats holds it) and the
# positions stream no per-doc tf prefix (the tfs column holds it)
# 3: a merge appends lexicon rows, so a term may have one row per commit
# 4: the lexicon is (field, term, df) and postings lack sum_tf and
# block_max_tf: no column that no reader reads
# 5: postings lack salt and block_seq; codecs.py owns the payload
FORMAT = 5
META = "_meta"
_MANIFEST = re.compile(r"^(\d+)\.json$")


def data_files(table_dir: str) -> set:
    """Names of the data files in a table directory: hidden and underscore
    entries (checksums, _SUCCESS markers, in-flight writes) are not."""
    try:
        names = os.listdir(table_dir)
    except FileNotFoundError:
        return set()
    return {n for n in names if not n.startswith((".", "_"))}


def _versions(index_dir: str) -> list:
    return sorted(int(m.group(1)) for m in map(
        _MANIFEST.match, data_files(os.path.join(index_dir, META))) if m)


def _path(index_dir: str, version: int) -> str:
    return os.path.join(index_dir, META, f"{version:010d}.json")


def latest(index_dir: str) -> Optional[dict]:
    """The latest published manifest, or None when there is none."""
    versions = _versions(index_dir)
    if not versions:
        return None
    with open(_path(index_dir, versions[-1])) as f:
        return json.load(f)


def load(index_dir: str) -> dict:
    """The latest manifest; raises when the directory has none or it is
    not of this :data:`FORMAT`."""
    manifest = latest(index_dir)
    if manifest is None or manifest.get("format") != FORMAT:
        raise FileNotFoundError(
            f"{index_dir}: no format-{FORMAT} index manifest in {META}/. "
            "An index written in an older format must be rebuilt with "
            "build_index.")
    return manifest


def paths(index_dir: str, manifest: dict, table: str) -> list:
    """Absolute paths of the files ``manifest`` lists for ``table``."""
    return [os.path.join(index_dir, table, name)
            for name in manifest["files"][table]]


def publish(index_dir: str, base: Optional[dict], *, run_id: str,
            ord_span: int, analyzer: str, stats: dict, files: dict,
            added: int, tombstoned: int) -> dict:
    """Publish the version after ``base`` (None: the first) and delete the
    manifests before ``base``. ``stats`` maps each field to
    {n_docs, avgdl, total_terms}; ``files`` maps every table in
    :data:`TABLES` to its visible file names. Raises FileExistsError when
    another writer published that version first."""
    version = (base["version"] if base else 0) + 1
    manifest = {"format": FORMAT, "version": version, "run_id": run_id,
                "ord_span": int(ord_span), "analyzer": analyzer,
                "stats": stats, "added": int(added),
                "tombstoned": int(tombstoned),
                "files": {t: sorted(files.get(t, ())) for t in TABLES}}
    meta = os.path.join(index_dir, META)
    os.makedirs(meta, exist_ok=True)
    tmp = os.path.join(meta, f".{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _path(index_dir, version))
    finally:
        os.remove(tmp)

    for v in _versions(index_dir):
        if v < version - 1:
            os.remove(_path(index_dir, v))
    return manifest
