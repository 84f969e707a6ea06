#!/usr/bin/env python3
"""Compare two guardian sinks written from the same input.

    python3 tools/sink_diff.py <sinkA> <sinkB>

For each IceLite table of a sink -- the root (audit or provenance table),
`quality/` and `sessions/` -- it checks:

  * epoch manifests (`manifests/manifest-<n>.json`): same names, and
    byte-equal -- or, where either lists its data files, equal JSON once
    the attempt number of each listed file name is masked
    (`part-<pid>-<n>.parquet` -> `part-<pid>-<attempt>.parquet`: a sink
    whose epoch was retried lists `-1` where another lists `-0`). Against
    a sink written before manifests listed their files, the `files` and
    `schema` only one side has are set aside and reported on their own;
  * compaction markers (`manifests/compact-<n>.json`): equal JSON once the
    attempt-unique `path` and listed file names are masked. On `sessions/`
    the folded-row count `row_count` is reported on its own line instead of
    compared;
  * rows: the snapshot `IceLite.read` returns -- the latest compacted table
    plus the epoch batches after it, each the files its manifest or marker
    lists (or, for one without a file list, every parquet file in its
    directory: the marker's `path` or `compact/<n>`, `data/batch=<n>`),
    `pid` dropped -- equal as multisets (DuckDB `EXCEPT ALL` both ways over
    pyarrow tables). Timestamp columns are compared as epoch microseconds:
    pyarrow reads Spark's INT96 as a naive timestamp and INT64
    `TIMESTAMP(MICROS)` as a UTC one, which DuckDB would compare through
    its session TimeZone.

A table absent from both sinks is skipped. Prints one line per table, then
per column of that snapshot the bytes per row, physical type and encodings
on each side (sizes from the parquet footers), and exits 1 when any table
differs.
"""
import json
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [".", "quality", "sessions"]
NAME = re.compile(r"(manifest|compact)-(\d+)\.json$")
ATTEMPT = re.compile(r"(part-\d+)-\d+\.parquet$")


def listing(root):
    """{kind: {n: file name}} of a table's manifest directory."""
    out = {"manifest": {}, "compact": {}}
    mdir = os.path.join(root, "manifests")
    for n in sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []:
        m = NAME.fullmatch(n)
        if m:
            out[m.group(1)][int(m.group(2))] = n
    return out


def read_json(root, name):
    with open(os.path.join(root, "manifests", name), "rb") as f:
        return json.load(f)


def masked(j):
    """`j` with its attempt-unique `path` and listed file names masked."""
    j = dict(j)
    if "path" in j:
        j["path"] = "<attempt>"
    if "files" in j:
        j["files"] = [ATTEMPT.sub(r"\1-<attempt>.parquet", f) for f in j["files"]]
    return j


def unlisted(j):
    """`j` without the file list and schema."""
    return {k: v for k, v in j.items() if k not in ("files", "schema")}


def differing_keys(ja, jb):
    """Top-level keys whose values differ between two JSON objects."""
    return sorted(k for k in ja.keys() | jb.keys() if ja.get(k) != jb.get(k))


def parquet_files(d):
    found = []
    for base, dirs, files in os.walk(d):
        dirs.sort()
        found += [os.path.join(base, f) for f in sorted(files)
                  if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return found


def listed(root, j, rel):
    """The files manifest or marker `j` lists, else those in its directory `rel`."""
    if "files" in j:
        return [os.path.join(root, f) for f in j["files"]]
    return parquet_files(os.path.join(root, rel))


def snapshot(root, ls):
    """The parquet files `IceLite.read` would scan, or [] for none."""
    latest = max(ls["compact"], default=None)
    files = []
    if latest is not None:
        j = read_json(root, ls["compact"][latest])
        files += listed(root, j, j.get("path", f"compact/{latest}"))
    for b in sorted(ls["manifest"]):
        if latest is None or b > latest:
            files += listed(root, read_json(root, ls["manifest"][b]), os.path.join("data", f"batch={b}"))
    return files


def epoch_micros(t):
    """`t` with each timestamp column as int64 microseconds since the epoch."""
    for i, f in enumerate(t.schema):
        if pa.types.is_timestamp(f.type):
            us = t.column(i).cast(pa.timestamp("us", tz=f.type.tz)).cast(pa.int64())
            t = t.set_column(i, f.name, us)
    return t


def rows(files):
    tables = []
    for f in files:
        t = pq.read_table(f)
        keep = sorted(c for c in t.column_names if c not in ("pid", "batch"))
        tables.append(epoch_micros(t.select(keep)))
    return pa.concat_tables(tables, promote_options="permissive") if tables else None


def columns(files):
    """{column: (bytes per row, physical types, encodings)} over `files`' footers."""
    size, types, encs, n = {}, {}, {}, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            n += rg.num_rows
            for i in range(rg.num_columns):
                c = rg.column(i)
                k = c.path_in_schema
                size[k] = size.get(k, 0) + c.total_compressed_size
                types.setdefault(k, set()).add(c.physical_type)
                encs.setdefault(k, set()).update(c.encodings)
    return {k: (size[k] / max(n, 1), "/".join(sorted(types[k])), ",".join(sorted(encs[k])))
            for k in size}


def column_lines(fa, fb):
    """One line per column: B/row, physical type and encodings, A then B."""
    ca, cb = columns(fa), columns(fb)
    def side(c, k):
        return f"{c[k][0]:7.3f} B/row {c[k][1]:<10} {c[k][2]:<38}" if k in c else f"{'-':<62}"
    return [f"    {k:<12} A {side(ca, k)}  |  B {side(cb, k)}" for k in list(ca) + [k for k in cb if k not in ca]]


def compare_table(a, b, table):
    ra, rb = os.path.join(a, table), os.path.join(b, table)
    if not os.path.isdir(ra) and not os.path.isdir(rb):
        return True, f"{table}: absent in both"
    la, lb = listing(ra), listing(rb)
    problems, notes = [], []

    if la["manifest"].keys() != lb["manifest"].keys():
        problems.append(f"epoch sets differ: {sorted(la['manifest'])} vs {sorted(lb['manifest'])}")
    same = older = 0
    for n in sorted(la["manifest"].keys() & lb["manifest"].keys()):
        name = la["manifest"][n]
        with open(os.path.join(ra, "manifests", name), "rb") as fa, \
                open(os.path.join(rb, "manifests", name), "rb") as fb:
            ba, bb = fa.read(), fb.read()
        ja, jb = json.loads(ba), json.loads(bb)
        if ba == bb or (("files" in ja or "files" in jb) and masked(ja) == masked(jb)):
            same += 1
        elif ("files" in ja) != ("files" in jb) and unlisted(ja) == unlisted(jb):
            older += 1
        else:
            keys = differing_keys(masked(ja), masked(jb)) or ["formatting"]
            problems.append(f"{name} differs in {', '.join(keys)}")
    notes.append(f"{same} epoch manifests equal (byte-identical, or with file names masked)")
    if older:
        notes.append(f"{older} epoch manifests equal apart from the file list and schema one side predates")

    if la["compact"].keys() != lb["compact"].keys():
        problems.append(f"marker sets differ: {sorted(la['compact'])} vs {sorted(lb['compact'])}")
    same = 0
    for n in sorted(la["compact"].keys() & lb["compact"].keys()):
        ja = masked(read_json(ra, la["compact"][n]))
        jb = masked(read_json(rb, lb["compact"][n]))
        if table == "sessions":
            ca, cb = ja.pop("row_count", None), jb.pop("row_count", None)
            notes.append(f"compact-{n} row_count {ca if ca is not None else '-'}"
                         f" vs {cb if cb is not None else '-'}")
        if ja == jb:
            same += 1
        else:
            problems.append(f"compact-{n} differs in {', '.join(differing_keys(ja, jb))}")
    notes.append(f"{same} markers equal with path and file names masked")

    fa, fb = snapshot(ra, la), snapshot(rb, lb)
    ta, tb = rows(fa), rows(fb)
    if ta is None and tb is None:
        notes.append("no data files")
    elif ta is None or tb is None:
        problems.append("only one side has data files")
    elif ta.column_names != tb.column_names:
        problems.append(f"columns differ: {ta.column_names} vs {tb.column_names}")
    else:
        con = duckdb.connect()
        con.register("a", ta)
        con.register("b", tb)
        only_a = con.execute("SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)").fetchone()[0]
        only_b = con.execute("SELECT count(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)").fetchone()[0]
        if only_a or only_b:
            problems.append(f"rows differ: {only_a} only in A, {only_b} only in B "
                            f"({ta.num_rows} vs {tb.num_rows})")
        else:
            notes.append(f"{ta.num_rows} rows identical")
        con.close()

    status = "OK" if not problems else "DIFF"
    return not problems, "\n".join([f"{table}: {status}: " + "; ".join(problems + notes)]
                                    + column_lines(fa, fb))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    ok = True
    for table in TABLES:
        good, line = compare_table(argv[1], argv[2], table)
        ok &= good
        print(line)
    print("SINKS EQUAL" if ok else "SINKS DIFFER")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
