#!/usr/bin/env python3
"""Check a committed SQLite snapshot against the graph it was made from.

Usage: check_sqlite.py <database> <expected.json>
       check_sqlite.py --corrupt <mode> <database>   (the benchmark's self-test)

expected.json holds {"kinds": {table: [id, ...]}, "links": {table: [[from, to], ...]}}
as the benchmark's generator wrote it. The check passes (exit 0) when:
  - PRAGMA integrity_check returns ok;
  - the set of tables equals the expected kind and link tables;
  - every table has the expected row count;
  - every kind table holds exactly the expected ids, and every link table
    exactly the expected (from_id, to_id) pairs, duplicates counted.
Otherwise it prints the first problems found and exits 1.
"""
import collections
import json
import sqlite3
import sys


def problems(db_path, expected):
    out = []
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        ic = [r[0] for r in con.execute("PRAGMA integrity_check")]
        if ic != ["ok"]:
            out.append(f"integrity_check: {'; '.join(ic[:3])}")
            return out
        tables = {r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type = 'table'")}
        want = set(expected["kinds"]) | set(expected["links"])
        if tables != want:
            out.append(f"tables: missing {sorted(want - tables)[:5]}, unexpected {sorted(tables - want)[:5]}")
        for t in sorted(want & tables):
            q = '"' + t.replace('"', '""') + '"'
            if t in expected["kinds"]:
                got = collections.Counter(r[0] for r in con.execute(f"SELECT id FROM {q}"))
                exp = collections.Counter(expected["kinds"][t])
            else:
                got = collections.Counter(con.execute(f"SELECT from_id, to_id FROM {q}"))
                exp = collections.Counter(tuple(p) for p in expected["links"][t])
            n_got, n_exp = sum(got.values()), sum(exp.values())
            if n_got != n_exp:
                out.append(f"{t}: {n_got} rows, expected {n_exp}")
            elif got != exp:
                diff = list((got - exp).elements())[:2]
                out.append(f"{t}: rows differ from the generated graph, e.g. {diff}")
    finally:
        con.close()
    return out


def corrupt(mode, db_path):
    """Damage a snapshot in place, the way each check must notice."""
    if mode == "corrupt_page":
        # the fragmented-bytes count in the header of the last page (a table
        # b-tree page): queries still run, only integrity_check can tell
        with open(db_path, "r+b") as f:
            f.seek(0, 2)
            size = f.tell()
            f.seek(16)
            page = int.from_bytes(f.read(2), "big")
            page = 65536 if page == 1 else page
            f.seek(size - page + 7)
            b = f.read(1)[0]
            f.seek(size - page + 7)
            f.write(bytes([(b + 7) % 256]))
        return
    con = sqlite3.connect(db_path)
    names = sorted(r[0] for r in con.execute("SELECT name FROM sqlite_master WHERE type = 'table'"))
    links = [n for n in names if n.startswith("link_")]
    kinds = [n for n in names if not n.startswith("link_")]
    if mode == "drop_link_row":
        con.execute(f'DELETE FROM "{links[0]}" WHERE rowid = (SELECT max(rowid) FROM "{links[0]}")')
    elif mode == "change_kind_id":
        con.execute(f"UPDATE \"{kinds[0]}\" SET id = id || 'x' WHERE rowid = 1")
    elif mode == "drop_table":
        con.execute(f'DROP TABLE "{kinds[-1]}"')
    else:
        raise SystemExit(f"unknown corruption {mode}")
    con.commit()
    con.close()


def main(argv):
    if len(argv) == 4 and argv[1] == "--corrupt":
        corrupt(argv[2], argv[3])
        return 0
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[2]) as f:
        expected = json.load(f)
    try:
        found = problems(argv[1], expected)
    except sqlite3.Error as e:
        found = [f"sqlite error: {e}"]
    if found:
        print("; ".join(found[:5]))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
