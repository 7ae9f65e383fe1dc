#!/usr/bin/env python3
"""Per-table, per-column summary of an index directory's parquet footers.

    python3 tools/footers.py <indexDir>

Reads every footer with DuckDB's parquet_metadata and prints, per table and
per column: codec, encodings, compressed and uncompressed bytes, files and
row groups, then one total line per table. A file's table is its nearest
directory that is not a version (`v00003`), segment (`seg_...`) or
partition (`part=...`) directory, so `segments/seg_.../postings` is
`postings` and `dictionary/v00002` is `dictionary`; a dedup index's
`bands`, `sigs` and `pairs` read the same way.

With an index manifest.json in <indexDir>, only what the live manifest
names is read: its segments, its dictionary version and its tombstone
version; a directory it names that does not exist is an error. A
directory without an index manifest (a dedup index, a plain table) has
every parquet file under it read.
Dictionary-encoded columns on v1 data pages list PLAIN_DICTIONARY; v2
pages would list RLE_DICTIONARY."""
import json
import os
import re
import sys
from collections import defaultdict

import duckdb

NOT_A_TABLE = re.compile(r"^(v\d+|seg_.*|part=.*)$")


def live_dirs(index_dir):
    """The directories the live index manifest names, or None when there is
    no index manifest (a dedup index's manifest names generations, not
    segments)."""
    path = os.path.join(index_dir, "manifest.json")
    if not os.path.exists(path):
        return None
    m = json.load(open(path))
    if "segments" not in m:
        return None
    dirs = [f"dictionary/v{m['dictVersion']:05d}"]
    if m["tombVersion"] >= 0:
        dirs.append(f"tombstones/v{m['tombVersion']:05d}")
    for seg in filter(None, m["segments"].split(",")):
        lo, hi, v = (int(x) for x in seg.split("_"))
        dirs.append(f"segments/seg_{lo:013d}_{hi:013d}_v{v:05d}")
    missing = [d for d in dirs if not os.path.isdir(os.path.join(index_dir, d))]
    if missing:
        sys.exit(f"{path} names directories that do not exist: {', '.join(missing)}")
    return [os.path.join(index_dir, d) for d in dirs]


def parquet_files(roots):
    for root in roots:
        for d, _, names in os.walk(root):
            for n in sorted(names):
                if n.endswith(".parquet") and not n.startswith((".", "_")):
                    yield os.path.join(d, n)


def table_of(index_dir, path):
    parts = os.path.relpath(os.path.dirname(path), index_dir).split(os.sep)
    named = [p for p in parts if p != "." and not NOT_A_TABLE.match(p)]
    return named[-1] if named else "."


def main(argv):
    if len(argv) != 1:
        sys.exit(__doc__)
    index_dir = argv[0].rstrip("/")
    files = list(parquet_files(live_dirs(index_dir) or [index_dir]))
    if not files:
        sys.exit(f"no parquet files under {index_dir}")

    by_table = defaultdict(list)
    for f in files:
        by_table[table_of(index_dir, f)].append(f)

    con = duckdb.connect()
    header = ("table", "column", "codec", "encodings", "compressed", "uncompressed",
              "files", "row_groups")
    out = [header]
    grand = [0, 0, 0, 0]
    for table in sorted(by_table):
        tfiles = by_table[table]
        rows = con.execute(
            "SELECT file_name, row_group_id, column_id, path_in_schema, compression, "
            "encodings, total_compressed_size, total_uncompressed_size "
            "FROM parquet_metadata(?)", [tfiles]).fetchall()
        cols = {}
        for fname, rg, cid, path, codec, encs, comp, uncomp in rows:
            c = cols.setdefault(cid, {"name": path.replace(", ", "."), "codecs": set(),
                                      "encs": set(), "comp": 0, "uncomp": 0,
                                      "files": set(), "rgs": set()})
            c["codecs"].add(codec)
            c["encs"].update(e.strip() for e in encs.split(","))
            c["comp"] += comp
            c["uncomp"] += uncomp
            c["files"].add(fname)
            c["rgs"].add((fname, rg))
        for cid in sorted(cols):
            c = cols[cid]
            out.append((table, c["name"], ",".join(sorted(c["codecs"])),
                        ", ".join(sorted(c["encs"])), f"{c['comp']:,}", f"{c['uncomp']:,}",
                        str(len(c["files"])), str(len(c["rgs"]))))
        comp = sum(c["comp"] for c in cols.values())
        uncomp = sum(c["uncomp"] for c in cols.values())
        rgs = len({(f, rg) for f, rg, *_ in rows})
        out.append((table, "(all)", "", "", f"{comp:,}", f"{uncomp:,}",
                    str(len(tfiles)), str(rgs)))
        grand = [grand[0] + comp, grand[1] + uncomp, grand[2] + len(tfiles), grand[3] + rgs]
    out.append(("(index)", "(all)", "", "", f"{grand[0]:,}", f"{grand[1]:,}",
                str(grand[2]), str(grand[3])))

    widths = [max(len(r[i]) for r in out) for i in range(len(header))]
    numeric = {4, 5, 6, 7}
    for r in out:
        print("  ".join(v.rjust(w) if i in numeric else v.ljust(w)
                        for i, (v, w) in enumerate(zip(r, widths))).rstrip())


if __name__ == "__main__":
    main(sys.argv[1:])
