"""Seeded input generator for the perfbench workloads.

Everything the benchmark feeds the engine comes from here, as a pure
function of (seed, scale): the same arguments always give identical
tables, mutation plans and expected change counts.

- ``jdbc``: a DML plan for a ``customer``/``orders`` database: the initial
  load, then per step updates, deletes and inserts touching ~10% of the
  rows, as tab-separated lines the benchmark replays over one JDBC
  connection. ``expected.json`` holds per step and table how many keys
  each kind of change touched, and the row count after each step.
- ``registry``: the fixed ``documents`` fixture for the registry pass.

Tables mirror the engine's parquet fixtures (same column names and types),
so the engine's loaders read them unchanged.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = (
    "the a key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "filter group of and to in is for with der die und el la le de".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.5, 0.13, 0.13, 0.12, 0.12]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1992_US = 694224000 * 10**6
DAY_US = 86400 * 10**6

# Diff key and the column an UPDATE changes (numbers move by +1, so the
# rendered value always changes), per mutated table.
PK = {"customer": "c_custkey", "orders": "o_orderkey"}
UPDATE_COL = {"customer": "c_acctbal", "orders": "o_totalprice"}


def sizes(sf):
    """Row counts per table at scale factor ``sf``, as in the engine's fixtures."""
    return {"customer": int(150000 * sf), "orders": int(1500000 * sf),
            "documents": max(50, int(50000 * sf))}


def _rng(*key):
    return np.random.default_rng([abs(int(k)) for k in key])


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, dup_frac=0.05):
    """Docs of 20-80 vocabulary words; ``dup_frac`` of them are near-copies
    of an earlier doc with one word replaced, so dedup finds real pairs."""
    lens = rng.integers(20, 81, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append([VOCAB[w] for w in words[pos:pos + ln]])
        pos += ln
    for i in np.nonzero(rng.random(n) < dup_frac)[0]:
        if i == 0:
            continue
        src = list(out[int(rng.integers(0, i))])
        src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        out[i] = src
    return [" ".join(w) for w in out]


def base_tables(seed, sf):
    """The generated tables, by name."""
    n = sizes(sf)
    t = {}
    r = _rng(seed, 2)
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k).astype(np.int32)),
        "c_acctbal": _money(r, k, -999, 9999),
        "c_mktsegment": SEGMENTS[r.integers(0, len(SEGMENTS), k)]})
    r = _rng(seed, 5)
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, max(1, n["customer"]), k).astype(np.int64)),
        "o_orderstatus": STATUSES[r.integers(0, 3, k)],
        "o_totalprice": _money(r, k, 900, 500000),
        "o_orderdate": pa.array(EPOCH_1992_US + r.integers(0, 3650, k) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[r.integers(0, 5, k)]})
    r = _rng(seed, 8)
    k = n["documents"]
    texts = _texts(r, k)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k, dtype=np.int64)),
        "text": texts,
        "lang": LANGS[r.choice(len(LANGS), k, p=LANG_P)],
        "source": [f"src{s}" for s in r.integers(0, 20, k)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    return t


def _insert_rows(tbl, table, rows, next_key):
    """``rows`` copies of existing rows under brand-new keys."""
    new = tbl.take(pa.array(np.arange(rows) % max(1, tbl.num_rows)))
    i = new.schema.get_field_index(PK[table])
    return new.set_column(i, PK[table], pa.array(np.arange(next_key, next_key + rows),
                                                 type=new.schema.field(i).type))


def mutate(tbl, table, rng, frac, next_key):
    """One step: update, delete and insert ``frac`` of the keys in total
    (half updates, a quarter each deletes and inserts). Returns the new
    table, the updated and deleted keys, and the inserted rows."""
    n_change = int(round(frac * tbl.num_rows))
    n_upd, n_del = n_change // 2, n_change // 4
    pick = rng.permutation(tbl.num_rows)[:n_upd + n_del]
    upd, dele = np.sort(pick[:n_upd]), np.sort(pick[n_upd:])
    keys = tbl.column(PK[table]).to_numpy()
    c = UPDATE_COL[table]
    mask = np.zeros(tbl.num_rows, dtype=bool)
    mask[upd] = True
    col = tbl.column(c).combine_chunks()
    tbl = tbl.set_column(tbl.schema.get_field_index(c), c,
                         pc.if_else(pa.array(mask), pc.add(col, 1.0), col))
    keep = np.ones(tbl.num_rows, dtype=bool)
    keep[dele] = False
    ins = _insert_rows(tbl, table, n_change - n_upd - n_del, next_key)
    out = pa.concat_tables([tbl.filter(pa.array(keep)), ins])
    return out, keys[upd], keys[dele], ins


def _write(tbl, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path)


def _sql_value(v):
    """A value as the SQL literal text Derby parses for its column type."""
    return v.strftime("%Y-%m-%d %H:%M:%S") if hasattr(v, "strftime") else str(v)


def jdbc(out, seed, sf, steps, frac=0.1):
    """``dml.tsv`` for a ``customer``/``orders`` database: one line per
    statement, ``step<TAB>table<TAB>op<TAB>key[<TAB>values...]`` with op
    U (add 1 to the update column), D (delete) or I (insert the row);
    step -1 is the initial load. ``expected.json`` holds per step and table
    the (updated, deleted, inserted) key counts, and the total row count
    after each step."""
    base = base_tables(seed, sf)
    tables = {t: base[t] for t in PK}
    lines, expected = [], []

    def inserts(step, name, tbl):
        for row in tbl.to_pylist():
            vals = "\t".join(_sql_value(row[c]) for c in tbl.column_names)
            lines.append(f"{step}\t{name}\tI\t{row[PK[name]]}\t{vals}")

    for name, tbl in tables.items():
        inserts(-1, name, tbl)
    rows = [sum(t.num_rows for t in tables.values())]
    next_key = 10**10  # far above every generated key
    for s in range(steps):
        counts = {}
        for i, name in enumerate(PK):
            tables[name], upd, dele, ins = mutate(
                tables[name], name, _rng(seed, 2000 + s, i), frac, next_key)
            next_key += ins.num_rows
            lines.extend(f"{s}\t{name}\tU\t{k}" for k in upd)
            lines.extend(f"{s}\t{name}\tD\t{k}" for k in dele)
            inserts(s, name, ins)
            counts[name] = [len(upd), len(dele), ins.num_rows]
        expected.append(counts)
        rows.append(sum(t.num_rows for t in tables.values()))
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/dml.tsv", "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"seed": seed, "sf": sf, "steps": expected, "rows": rows}, f, sort_keys=True)
    return expected


def registry(out, sf, seed=0):
    """The fixed fixture set of the registry pass."""
    _write(base_tables(seed, sf)["documents"], f"{out}/documents.parquet")
