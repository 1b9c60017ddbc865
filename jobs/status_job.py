"""Run status / history over an index's lineage ledger — the minimal
RunnerManager surface (reference: core/RunnerManager.java:21-110, which
tracks run ids, in-flight status and run history; our runs checkpoint into
the per-index ``_lineage`` parquet table instead of an in-memory map, so
status survives the driver).

The summary is the latest version manifest (``_meta/<version>.json``):
its version, run_id, analyzer and data files per table. Driver-side reads
only — no Spark session needed:

    python jobs/status_job.py --index /path/to/index             # summary
    python jobs/status_job.py --index /path/to/index --runs      # history
    python jobs/status_job.py --index /path/to/index --run-id m1 # one run
    python jobs/status_job.py --index /path --json               # machine
    python jobs/status_job.py --index /path --bytes              # storage

Exit code 0 when the latest run completed its final stage, 1 otherwise
(the `runStatus` answer RunnerManager gives the REST layer)."""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def read_table(path):
    import pyarrow.dataset as ds

    try:
        return ds.dataset(path).to_table().to_pylist()
    except Exception:
        return []


def gather(index_dir: str) -> dict:
    import pyarrow.parquet as pq

    from lucille_spark.index import snapshot

    lineage = read_table(os.path.join(index_dir, "_lineage"))
    lineage.sort(key=lambda r: r.get("finished_at") or 0.0)
    runs: dict = {}
    for r in lineage:
        runs.setdefault(r["run_id"], []).append(r)
    m = snapshot.latest(index_dir) or {"stats": {}, "files": {}}
    stats = m["stats"]
    return {
        "index_dir": index_dir,
        "runs": {
            rid: {
                "stages": [
                    {"stage": s["stage"], "status": s["status"],
                     "n_rows": s["n_rows"],
                     "seconds": round(s["seconds"], 3)}
                    for s in sorted(rows, key=lambda x: x["finished_at"])],
                "started_at": min(s["started_at"] for s in rows),
                "finished_at": max(s["finished_at"] for s in rows),
                "complete": all(s["status"] == "complete" for s in rows),
            }
            for rid, rows in runs.items()
        },
        "latest_run": lineage[-1]["run_id"] if lineage else None,
        "version": m.get("version"),
        "run_id": m.get("run_id"),
        "analyzer": m.get("analyzer"),
        "ord_span": m.get("ord_span"),
        "live_docs": next(iter(stats.values()))["n_docs"] if stats else None,
        "tombstones": sum(
            pq.ParquetFile(os.path.join(index_dir, "_tombstones", name))
            .metadata.num_rows for name in m["files"].get("_tombstones", ())),
        "fields": sorted(stats),
        "files": {t: len(names) for t, names in m["files"].items()},
    }


def table_bytes(index_dir: str) -> dict:
    """Where the index's bytes go, from parquet metadata alone: per table
    its data files, bytes, footer bytes (the serialized file metadata),
    page codecs, and per column the compressed and uncompressed bytes
    summed over row groups. Only ``.parquet`` files count: hidden and
    underscore files (checksums, _SUCCESS markers, in-flight writes) and
    the JSON manifests are not data files."""
    import pyarrow.parquet as pq

    out = {}
    for table in sorted(os.listdir(index_dir)):
        tdir = os.path.join(index_dir, table)
        if not os.path.isdir(tdir):
            continue
        t = {"files": 0, "bytes": 0, "footer_bytes": 0, "codecs": set(),
             "columns": {}}
        for dirpath, _, names in os.walk(tdir):
            for name in sorted(names):
                if (name.startswith((".", "_"))
                        or not name.endswith(".parquet")):
                    continue
                path = os.path.join(dirpath, name)
                md = pq.ParquetFile(path).metadata
                t["files"] += 1
                t["bytes"] += os.path.getsize(path)
                t["footer_bytes"] += md.serialized_size
                for rg in range(md.num_row_groups):
                    group = md.row_group(rg)
                    for c in range(group.num_columns):
                        col = group.column(c)
                        t["codecs"].add(col.compression)
                        acc = t["columns"].setdefault(
                            col.path_in_schema,
                            {"compressed": 0, "uncompressed": 0})
                        acc["compressed"] += col.total_compressed_size
                        acc["uncompressed"] += col.total_uncompressed_size
        t["codecs"] = sorted(t["codecs"])
        out[table] = t
    return out


def print_bytes(tables: dict) -> None:
    for table, t in tables.items():
        print(f"{table:<14} files={t['files']:<4} bytes={t['bytes']:<10} "
              f"footer={t['footer_bytes']:<8} codec={','.join(t['codecs'])}")
        for col, c in t["columns"].items():
            print(f"  {col:<18} compressed={c['compressed']:<10} "
                  f"uncompressed={c['uncompressed']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--runs", action="store_true", help="full run history")
    ap.add_argument("--run-id", help="one run's stage detail")
    ap.add_argument("--bytes", action="store_true",
                    help="per-table and per-column storage breakdown")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    st = gather(args.index)
    if args.bytes:
        st["bytes"] = table_bytes(args.index)
    if args.json:
        print(json.dumps(st, default=str))
    elif args.run_id:
        run = st["runs"].get(args.run_id)
        if run is None:
            print(f"run {args.run_id!r} not found "
                  f"(known: {sorted(st['runs'])})")
            sys.exit(1)
        print(f"run {args.run_id}: "
              f"{'complete' if run['complete'] else 'incomplete'}")
        for s in run["stages"]:
            print(f"  {s['stage']:<14} {s['status']:<10} "
                  f"rows={s['n_rows']:<10} {s['seconds']}s")
    elif args.bytes:
        print_bytes(st["bytes"])
    elif args.runs:
        for rid, run in st["runs"].items():
            stages = ",".join(s["stage"] for s in run["stages"])
            print(f"{rid:<16} {'complete' if run['complete'] else 'INCOMPLETE'}"
                  f"  stages=[{stages}]")
    else:
        latest = st["runs"].get(st["latest_run"], {})
        print(f"index       : {st['index_dir']}")
        print(f"version     : {st['version']}  (run_id={st['run_id']}, "
              f"analyzer={st['analyzer']})")
        print("files       : " + ", ".join(
            f"{t}={n}" for t, n in st["files"].items()))
        print(f"live docs   : {st['live_docs']}  "
              f"(ord_span={st['ord_span']}, tombstones={st['tombstones']})")
        print(f"fields      : {','.join(st['fields'])}")
        print(f"runs        : {len(st['runs'])} "
              f"(latest={st['latest_run']}, "
              f"{'complete' if latest.get('complete') else 'incomplete'})")

    latest = st["runs"].get(st["latest_run"])
    sys.exit(0 if latest and latest["complete"] else 1)


if __name__ == "__main__":
    main()
