"""Seeded input generator for the benchmark.

One seed produces every input file of a workload plus the list of
defects injected into it, and from that list the expected output:

- ``validate_csv_dirty``: an orders + lineitem Data Package in CSV with
  values in the default Table Schema formats and seeded defects (bad
  numbers, bad dates, values outside the enum, duplicate primary keys,
  foreign-key orphans, ``NA`` missing values). Expected: the report's
  (table, code, field, count) set and each table's row count.
- ``release_increment``: a lineitem-shaped frame in three splits.
  Expected: each split's row count, quantity sum and key checksum. Also
  a document corpus for the near-dedup layers that this workload's
  traced run measures: random word documents plus seeded clusters of
  near-copies (one word replaced). Expected: the ids near-dedup keeps
  (the lowest id of each cluster and every singleton).

The expected outputs are derived from the generator's own bookkeeping,
never from the program under test.

Run as a script to write one workload's inputs into a directory::

    python3 perfbench/gen.py --workload validate_csv_dirty --seed 1 --out DIR

It writes ``DIR/inputs.json`` (paths, sizes, defects, expected output).
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# input sizes: the CSV package's orders (lineitem has 1-7 lines per
# order, 4 on average; smaller than sf0.1 so that a run fits enough
# warm-up ops, see WARMUP.md); the release frame's rows, as many as
# sf0.1 lineitem; and the near-dedup corpus (smaller than the 5,000
# sf0.1 documents so that a traced run ends in time)
N_ORDERS = 20_000
N_RELEASE_ROWS = 600_000
N_DOCS = 1_000
DOC_FILES = 8
DOC_WORDS = 60
SHINGLE_K = 3  # near_dedup's default shingle length, in words

STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
RETURNFLAG = np.array(["N", "A", "R"])
LINESTATUS = np.array(["O", "F"])
MISSING = ["", "NA"]
DAY0 = np.datetime64("1992-01-01")


def _orders_fields() -> list[dict]:
    return [
        {"name": "o_orderkey", "type": "integer",
         "constraints": {"required": True}},
        {"name": "o_custkey", "type": "integer"},
        {"name": "o_orderstatus", "type": "string",
         "constraints": {"enum": ["F", "O", "P"]}},
        {"name": "o_totalprice", "type": "number",
         "constraints": {"minimum": 0}},
        {"name": "o_orderdate", "type": "date"},
        {"name": "o_orderpriority", "type": "string",
         "constraints": {"required": True, "pattern": "[1-5]-[A-Z ]+"}},
    ]


def _lineitem_fields() -> list[dict]:
    return [
        {"name": "l_orderkey", "type": "integer",
         "constraints": {"required": True}},
        {"name": "l_partkey", "type": "integer"},
        {"name": "l_suppkey", "type": "integer"},
        {"name": "l_linenumber", "type": "integer"},
        {"name": "l_quantity", "type": "number",
         "constraints": {"minimum": 0, "maximum": 50}},
        {"name": "l_extendedprice", "type": "number"},
        {"name": "l_discount", "type": "number",
         "constraints": {"minimum": 0, "maximum": 0.1}},
        {"name": "l_tax", "type": "number"},
        {"name": "l_returnflag", "type": "string",
         "constraints": {"enum": ["N", "A", "R"]}},
        {"name": "l_linestatus", "type": "string",
         "constraints": {"enum": ["O", "F"]}},
        {"name": "l_shipdate", "type": "datetime"},
    ]


def _tables(rng: np.random.Generator, n_orders: int) -> tuple[dict, dict]:
    """Clean orders and lineitem columns (numpy arrays)."""
    okey = np.arange(1, n_orders + 1, dtype=np.int64)
    odate = DAY0 + rng.integers(0, 2400, n_orders).astype("timedelta64[D]")
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(1, n_orders // 10 + 2, n_orders),
        "o_orderstatus": STATUS[rng.integers(0, 3, n_orders)],
        "o_totalprice": rng.integers(90_000, 50_000_000, n_orders) / 100.0,
        "o_orderdate": odate,
        "o_orderpriority": PRIORITY[rng.integers(0, 5, n_orders)],
    }
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    lkey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = {
        "l_orderkey": lkey,
        "l_partkey": rng.integers(1, 20_001, n),
        "l_suppkey": rng.integers(1, 1_001, n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int64),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_000_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": RETURNFLAG[rng.integers(0, 3, n)],
        "l_linestatus": LINESTATUS[rng.integers(0, 2, n)],
        "l_shipdate": np.repeat(odate, lines)
        + rng.integers(1, 122, n).astype("timedelta64[D]"),
    }
    return orders, lineitem


class _Picker:
    """Draws disjoint row sets, so no row carries two defects."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.order = rng.permutation(n)
        self.at = 0

    def take(self, k: int) -> np.ndarray:
        rows = np.sort(self.order[self.at:self.at + k])
        self.at += k
        return rows


def _count(rng: np.random.Generator, n: int, rate: float) -> int:
    """A seeded defect count near ``rate * n`` (never 0)."""
    mean = max(2.0, rate * n)
    return int(rng.integers(int(mean * 0.5) + 1, int(mean * 1.5) + 2))


def _dup_rows(cols: dict, rows: np.ndarray) -> dict:
    """Append copies of ``rows``: each copy is one extra primary-key row."""
    return {k: np.concatenate([v, v[rows]]) for k, v in cols.items()}


def _orphans(rng, lineitem: dict, rows: np.ndarray, n_orders: int) -> None:
    """Point ``rows`` at distinct order keys that do not exist: each is one
    distinct orphan key, and the (orderkey, linenumber) key stays unique."""
    fresh = n_orders + 1 + rng.permutation(len(rows) * 4)[: len(rows)]
    lineitem["l_orderkey"] = lineitem["l_orderkey"].copy()
    lineitem["l_orderkey"][rows] = fresh


def _text_cols(cols: dict, datetime_cols: tuple[str, ...]) -> dict:
    """Render every column in its default Table Schema lexical form."""
    out = {}
    for k, v in cols.items():
        if v.dtype.kind == "M":
            s = np.datetime_as_string(v, unit="D").astype(object)
            if k in datetime_cols:
                s = s + "T00:00:00Z"
            out[k] = s
        elif v.dtype.kind == "f":
            out[k] = np.char.mod("%.2f", v).astype(object)
        else:
            out[k] = v.astype(str).astype(object)
    return out


def _write_csv(path: str, cols: dict) -> None:
    names = list(cols)
    rows = zip(*(cols[k] for k in names))
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(",".join(names) + "\n")
        fh.writelines(",".join(r) + "\n" for r in rows)


def _write_parquet(table: pa.Table, path: str) -> None:
    """Eight row groups, so a scan splits across the session's cores."""
    pq.write_table(table, path, row_group_size=-(-table.num_rows // 8))


def _set(cols: dict, field: str, rows: np.ndarray, values) -> None:
    cols[field] = cols[field].copy()
    cols[field][rows] = values


def validation_csv(out: str, seed: int, n_orders: int) -> dict:
    """Dirty CSV package; returns its inputs record."""
    rng = np.random.default_rng([seed, 1])
    orders, lineitem = _tables(rng, n_orders)
    n_o, n_l = n_orders, len(lineitem["l_orderkey"])
    o_pick, l_pick = _Picker(rng, n_o), _Picker(rng, n_l)
    defects: list[dict] = []

    def log(table, code, field, rows, kind):
        defects.append({"table": table, "code": code, "field": field,
                        "kind": kind, "rows": [int(r) for r in rows]})

    # key defects first, on the typed columns
    o_dup = o_pick.take(_count(rng, n_o, 0.002))
    l_dup = l_pick.take(_count(rng, n_l, 0.001))
    l_orph = l_pick.take(_count(rng, n_l, 0.002))
    _orphans(rng, lineitem, l_orph, n_orders)
    log("orders", "primary-key-constraint", "o_orderkey", o_dup, "duplicate")
    log("lineitem", "primary-key-constraint", "l_orderkey,l_linenumber",
        l_dup, "duplicate")
    log("lineitem", "foreign-key-error", "l_orderkey", l_orph, "orphan")

    o_txt = _text_cols(orders, ())
    l_txt = _text_cols(lineitem, ("l_shipdate",))

    def bad(table, cols, pick, n, field, code, kind, make, rate=0.003):
        rows = pick.take(_count(rng, n, rate))
        _set(cols, field, rows, [make(cols[field][r]) for r in rows])
        log(table, code, field, rows, kind)

    type_err = "type-or-format-error"
    bad("orders", o_txt, o_pick, n_o, "o_totalprice", type_err,
        "bad number", lambda v: v.replace(".", "x", 1))
    bad("orders", o_txt, o_pick, n_o, "o_orderdate", type_err,
        "bad date", lambda v: v[:5] + "13" + v[7:])
    bad("orders", o_txt, o_pick, n_o, "o_orderstatus", "enumerable-constraint",
        "outside enum", lambda v: "X")
    bad("orders", o_txt, o_pick, n_o, "o_orderpriority",
        "required-constraint", "NA in required field", lambda v: "NA")
    bad("lineitem", l_txt, l_pick, n_l, "l_quantity", type_err,
        "bad number", lambda v: v + "q", rate=0.002)
    bad("lineitem", l_txt, l_pick, n_l, "l_shipdate", type_err,
        "bad date", lambda v: v[:8] + "45" + v[10:], rate=0.002)
    bad("lineitem", l_txt, l_pick, n_l, "l_returnflag", "enumerable-constraint",
        "outside enum", lambda v: "Z", rate=0.002)
    # NA in optional fields is a missing value, not an error
    for table, cols, pick, n, field in (
        ("orders", o_txt, o_pick, n_o, "o_custkey"),
        ("lineitem", l_txt, l_pick, n_l, "l_tax"),
    ):
        rows = pick.take(_count(rng, n, 0.003))
        _set(cols, field, rows, "NA")
        log(table, None, field, rows, "NA in optional field")

    # duplicate rows are copies of clean rows, appended last
    o_txt = _dup_rows(o_txt, o_dup)
    l_txt = _dup_rows(l_txt, l_dup)
    _write_csv(os.path.join(out, "orders.csv"), o_txt)
    _write_csv(os.path.join(out, "lineitem.csv"), l_txt)
    with open(os.path.join(out, "datapackage.json"), "w") as fh:
        json.dump(_descriptor(), fh, indent=1, sort_keys=True)
    return {
        "package": "datapackage.json",
        "rows": n_o + n_l + len(o_dup) + len(l_dup),
        "row_counts": {"orders": n_o + len(o_dup),
                       "lineitem": n_l + len(l_dup)},
        "defects": defects,
        "expected": expected_report(defects),
    }


def _descriptor() -> dict:
    return {
        "name": "perfbench",
        "resources": [
            {"name": "orders", "path": "orders.csv", "format": "csv",
             "schema": {
                "fields": _orders_fields(),
                "missingValues": MISSING,
                "primaryKey": ["o_orderkey"]}},
            {"name": "lineitem", "path": "lineitem.csv", "format": "csv",
             "schema": {
                "fields": _lineitem_fields(),
                "missingValues": MISSING,
                "primaryKey": ["l_orderkey", "l_linenumber"],
                "foreignKeys": [{
                    "fields": ["l_orderkey"],
                    "reference": {"resource": "orders",
                                  "fields": ["o_orderkey"]}}]}},
        ],
    }


def expected_report(defects: list[dict]) -> list[list]:
    """Sorted [table, code, field, count] rows the report must hold.

    Cell defects count one per row; each duplicated row is one extra
    primary-key row; each orphan row has its own key, so it is one
    distinct orphan key."""
    out = [[d["table"], d["code"], d["field"], len(d["rows"])]
           for d in defects if d["code"] is not None]
    return sorted(out)


# --- release increment ----------------------------------------------------

def release(out: str, seed: int, n_rows: int) -> dict:
    """A lineitem-shaped frame in three splits, with integer per-split
    checksums a readback must reproduce."""
    rng = np.random.default_rng([seed, 4])
    okey = np.sort(rng.integers(1, n_rows // 2, n_rows)).astype(np.int64)
    cols = {
        "l_orderkey": okey,
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_000_000, n_rows) / 100.0,
        "split": RETURNFLAG[rng.integers(0, 3, n_rows)],
    }
    _write_parquet(pa.table(cols), os.path.join(out, "lineitem.parquet"))
    splits = {}
    for s in RETURNFLAG:
        m = cols["split"] == s
        splits[str(s)] = [
            int(m.sum()),
            int(cols["l_quantity"][m].sum()),
            int((okey[m] * 8 + cols["l_linenumber"][m]).sum()),
        ]
    return {
        "lineitem": "lineitem.parquet",
        "rows": n_rows,
        # split -> [rows, quantity sum, sum of orderkey * 8 + linenumber]
        "expected": {"splits": splits},
    }


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    """k-word shingles of a lower-case, single-spaced text."""
    toks = text.split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def documents(out: str, seed: int, n_docs: int) -> dict:
    """Random 60-word documents over a 4,000-word vocabulary, about 5% of
    them in clusters of 2-4 near-copies of one base document (one word
    replaced per copy: Jaccard about 0.9 to the base, 0.8 between two
    copies, far above 0.5). Two unrelated documents share almost no
    3-word shingle, so the kept set is exact: the lowest id of each
    cluster and every singleton."""
    rng = np.random.default_rng([seed, 5])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                    for _ in range(4_000)})
    vocab = np.array(vocab)
    sizes = []
    while sum(sizes) < n_docs // 20:
        sizes.append(int(rng.integers(2, 5)))
    n_single = n_docs - sum(sizes)
    words = []
    clusters = []
    for size in sizes:
        base = vocab[rng.integers(0, len(vocab), DOC_WORDS)]
        members = [len(words)]
        words.append(base)
        for _ in range(size - 1):
            copy = base.copy()
            at = int(rng.integers(0, DOC_WORDS))
            while copy[at] == base[at]:
                copy[at] = vocab[rng.integers(0, len(vocab))]
            members.append(len(words))
            words.append(copy)
        clusters.append(members)
    for _ in range(n_single):
        words.append(vocab[rng.integers(0, len(vocab), DOC_WORDS)])
    ids = rng.permutation(n_docs).astype(np.int64) + 1  # doc k gets ids[k]
    text = [" ".join(w) for w in words]
    order = np.argsort(ids)
    table = pa.table({"doc_id": ids[order],
                      "text": pa.array([text[k] for k in order])})
    # a sharded corpus: each file is its own scan split, so the scan
    # spreads over the cores (one small file would be one task)
    os.makedirs(os.path.join(out, "documents"))
    step = -(-n_docs // DOC_FILES)
    for k in range(DOC_FILES):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(out, "documents", f"part-{k}.parquet"))
    dropped = []  # [dropped id, id of the cluster's kept document]
    for members in clusters:
        keep = min(members, key=lambda k: ids[k])
        dropped += [[int(ids[k]), int(ids[keep])] for k in members
                    if k != keep]
    gone = {d for d, _ in dropped}
    return {
        "documents": "documents",
        "docs": n_docs,
        "clusters": len(clusters),
        "kept": sorted(int(i) for i in ids if int(i) not in gone),
        "dropped": sorted(dropped),
    }


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out``; return the inputs record
    (also written to ``out/inputs.json``)."""
    os.makedirs(out, exist_ok=True)
    if workload == "validate_csv_dirty":
        rec = validation_csv(out, seed, N_ORDERS)
    elif workload == "release_increment":
        rec = release(out, seed, N_RELEASE_ROWS)
        rec["dedup"] = documents(out, seed, N_DOCS)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rec = {"workload": workload, "seed": seed, **rec}
    with open(os.path.join(out, "inputs.json"), "w") as fh:
        json.dump(rec, fh, sort_keys=True)
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
