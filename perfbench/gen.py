"""Seeded input generators for the benchmark.

Everything the program under test receives is generated here from the
``--seed`` argument: the reference-shaped raw zone (products, orders,
order_items CSV with the FIXTURES.md dirty-row cases D1-D9), the
incremental "days" (new orders, D10 re-sent keys, dirty rows, FK
orphans), a TPC-H-like star schema in the testdata layout and a documents
table for the curation job. Alongside the inputs the generator returns the
counts and the final table state the program must produce, computed by a
plain Python model of the reference semantics (reject a row when a required
column is null after the cast; keep the smallest row per primary key;
drop rows whose foreign keys have no target; MERGE replaces matched
rows), and the curation job's counts for the cases it plants. Same seed,
same bytes.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import zlib
from dataclasses import dataclass, field

PRODUCTS_HEADER = "product_id,department_id,department,product_name"
ORDERS_HEADER = "order_num,order_id,user_id,order_timestamp,total_amount,date"
ITEMS_HEADER = (
    "id,order_id,user_id,days_since_prior_order,product_id,"
    "add_to_cart_order,reordered,order_timestamp,date"
)
DEPARTMENTS = ("Books", "Clothing", "Electronics", "Home", "Sports", "Toys")
NAME_WORDS = ("Alpha", "Bravo", "Delta", "Echo", "Nova", "Orbit", "Pixel", "Zen")
START_DATE = dt.date(2025, 4, 1)
FIRST_ORDER_ID = 10000
# share of rows per dirty case; every case appears at least once per file
DIRTY_RATE = 0.002
DUP_RATE = 0.005
NULLABLE_RATE = 0.02


@dataclass
class TableExpect:
    """What one ``run_etl_job`` call must report for one table."""

    rows_in: int = 0
    rejected: int = 0  # validation rejects (D1-D4)
    dups_dropped: int = 0  # D6/D7 rows removed by the primary-key dedup
    orphans: int = 0  # D8/D9 rows removed by the FK probes
    written: int = 0  # table row count after the job
    valid_rows: int = 0  # rows reaching the MERGE (deduped, FK-clean)
    updates: int = 0  # valid rows whose key was already in the table (D10)

    @property
    def rows_rejected(self) -> int:
        """``JobResult.rows_rejected`` counts validation rejects and orphans."""
        return self.rejected + self.orphans


@dataclass
class LakeState:
    """The curated tables as the Python model sees them: pk -> typed row."""

    products: dict[int, tuple] = field(default_factory=dict)
    orders: dict[int, tuple] = field(default_factory=dict)
    order_items: dict[int, tuple] = field(default_factory=dict)
    next_order_id: int = FIRST_ORDER_ID
    next_item_id: int = 1
    days: int = 0  # dates used so far, counted from START_DATE

    def table(self, name: str) -> dict[int, tuple]:
        return getattr(self, name)


@dataclass
class Batch:
    """One landed set of raw files plus the expected job outcomes."""

    files: dict[str, list[str]]  # table -> CSV paths
    expect: dict[str, TableExpect]
    raw_rows: int
    raw_bytes: int
    date: str = ""  # the newest date in the batch (incremental days)


def _ts(day: dt.date, sec: int) -> tuple[str, str]:
    """(CSV ISO form, Spark ``CAST(ts AS STRING)`` form) of a timestamp."""
    t = dt.datetime.combine(day, dt.time()) + dt.timedelta(seconds=sec)
    return t.strftime("%Y-%m-%dT%H:%M:%S"), t.strftime("%Y-%m-%d %H:%M:%S")


def _fmt(v) -> str:
    return "" if v is None else (repr(v) if isinstance(v, float) else str(v))


def _csv_line(values) -> str:
    return ",".join(_fmt(v) for v in values)


def _write(path: str, header: str, lines: list[str]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    data = (header + "\n" + "\n".join(lines) + "\n").encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _n_dirty(n: int, rate: float) -> int:
    return max(1, round(n * rate))


def _dedup_survivors(rows: list[tuple], pk_index: int) -> tuple[dict, int]:
    """Deterministic dedup model: per key keep the smallest row over the
    non-key columns in schema order (``dedup_deterministic``, nulls first)."""
    best: dict[int, tuple] = {}
    dropped = 0
    for r in rows:
        k = r[pk_index]
        if k in best:
            dropped += 1
            rest = lambda x: tuple(  # noqa: E731
                (v is not None, v) for i, v in enumerate(x) if i != pk_index
            )
            if rest(r) < rest(best[k]):
                best[k] = r
        else:
            best[k] = r
    return best, dropped


def _dirty_lines(rng: random.Random, n: int, kinds, make) -> list[str]:
    """``n`` rows per dirty kind, built by ``make(kind)``."""
    out = []
    for kind in kinds:
        for _ in range(n):
            out.append(make(kind))
    rng.shuffle(out)
    return out


def _products_file(rng, root, state, n_products) -> tuple[str, TableExpect, int]:
    rows = []
    for pid in range(1, n_products + 1):
        dep = rng.randrange(6)
        rows.append((pid, dep + 1, DEPARTMENTS[dep],
                     f"Product_{pid}_{rng.choice(NAME_WORDS)}"))
    n_d = _n_dirty(n_products, DIRTY_RATE)
    dups = [rows[rng.randrange(len(rows))] for _ in range(_n_dirty(n_products, DUP_RATE))]
    # D7: same key, different name; the smaller name survives
    conflicts = []
    for _ in range(n_d):
        r = rows[rng.randrange(len(rows))]
        conflicts.append((r[0], r[1], r[2], r[3] + "_v2"))
    bad_pid = [n_products + 1000 + i for i in range(4 * n_d)]

    def make(kind):
        pid = bad_pid.pop()
        dep = rng.randrange(6)
        if kind == "D1":
            return _csv_line(("", dep + 1, DEPARTMENTS[dep], f"Product_{pid}_Null"))
        if kind == "D2":
            return _csv_line((pid, dep + 1, DEPARTMENTS[dep], ""))
        return _csv_line((pid, "six", DEPARTMENTS[dep], f"Product_{pid}_Bad"))

    dirty = _dirty_lines(rng, n_d, ("D1", "D2", "D3"), make)
    clean = rows + dups + conflicts
    survivors, dropped = _dedup_survivors(clean, 0)
    lines = [_csv_line(r) for r in clean] + dirty
    rng.shuffle(lines)
    state.products.update(survivors)
    exp = TableExpect(rows_in=len(lines), rejected=len(dirty), dups_dropped=dropped,
                      written=len(state.products), valid_rows=len(survivors))
    path = f"{root}/products/products.csv"
    return path, exp, _write(path, PRODUCTS_HEADER, lines)


def _order_row(rng, oid: int, day: dt.date) -> tuple[tuple, str]:
    iso, sp = _ts(day, rng.randrange(86400))
    amount = round(rng.uniform(20.0, 500.0), 2)
    row = (rng.randrange(1, 100), oid, rng.randrange(1001, 10000), sp, amount,
           day.isoformat())
    return row, iso


def _order_csv(row: tuple, iso: str) -> str:
    return _csv_line((row[0], row[1], row[2], iso, row[4], row[5]))


def _orders_lines(rng, state, days: list[dt.date], per_day: int, resend: int):
    """Rows for a set of dates: new orders, ``resend`` D10 re-sent keys
    (older orders with a changed amount), D6/D7 duplicates and D1-D4
    dirty rows. Returns per-date CSV lines, the clean typed rows and the
    dirty-row count."""
    by_day: dict[dt.date, list[str]] = {d: [] for d in days}
    clean: list[tuple] = []
    isos: dict[int, str] = {}
    for day in days:
        for _ in range(per_day):
            row, iso = _order_row(rng, state.next_order_id, day)
            state.next_order_id += 1
            clean.append(row)
            isos[row[1]] = iso
            by_day[day].append(_order_csv(row, iso))
    if resend and state.orders:
        keys = rng.sample(sorted(state.orders), min(resend, len(state.orders)))
        for k in keys:
            old = state.orders[k]
            row = old[:4] + (round(old[4] + rng.uniform(1.0, 50.0), 2),) + old[4 + 1:]
            iso = old[3].replace(" ", "T")
            clean.append(row)
            by_day[days[-1]].append(_order_csv(row, iso))
    n = sum(len(v) for v in by_day.values())
    for _ in range(_n_dirty(n, DUP_RATE)):  # D6 exact duplicates
        row = clean[rng.randrange(len(clean))]
        iso = isos.get(row[1], row[3].replace(" ", "T"))
        clean.append(row)
        by_day[_row_date(row, days)].append(_order_csv(row, iso))
    for _ in range(_n_dirty(n, DIRTY_RATE)):  # D7: larger amount loses
        row = clean[rng.randrange(len(clean))]
        iso = isos.get(row[1], row[3].replace(" ", "T"))
        twin = row[:4] + (round(row[4] + 7.5, 2),) + row[5:]
        clean.append(twin)
        by_day[_row_date(row, days)].append(_order_csv(twin, iso))
    n_dirty = 0
    for day in days:
        def make(kind, day=day):
            oid = state.next_order_id
            state.next_order_id += 1
            row, iso = _order_row(rng, oid, day)
            if kind == "D1":
                return _csv_line((row[0], "", row[2], iso, row[4], row[5]))
            if kind == "D2":
                return _csv_line((row[0], oid, "", iso, row[4], row[5]))
            if kind == "D3":
                return _csv_line((row[0], oid, row[2], iso, "12x", row[5]))
            return _csv_line((row[0], oid, row[2], "invalid_timestamp", row[4], row[5]))

        per = _n_dirty(len(by_day[day]), DIRTY_RATE)
        lines = _dirty_lines(rng, per, ("D1", "D2", "D3", "D4"), make)
        n_dirty += len(lines)
        by_day[day].extend(lines)
    for day in days:
        rng.shuffle(by_day[day])
    return by_day, clean, n_dirty


def _row_date(row: tuple, days: list[dt.date]) -> dt.date:
    """The file a duplicate goes into: its own date if it is in the batch,
    else the batch's newest date (a re-sent key from an older day)."""
    d = dt.date.fromisoformat(row[5])
    return d if d in days else days[-1]


def _items_lines(rng, state, new_orders: list[tuple], n_products: int):
    """1-10 items per new order (D5 null ``days_since_prior_order`` at a
    stated rate), D6 duplicates, D8/D9 orphans and D1-D4 dirty rows."""
    clean: list[tuple] = []
    lines: list[str] = []
    for o in new_orders:
        for pos in range(1, rng.randrange(1, 11) + 1):
            dspo = None if rng.random() < NULLABLE_RATE else rng.randrange(31)
            iso = o[3].replace(" ", "T")
            row = (state.next_item_id, o[1], o[2], dspo, rng.randrange(1, n_products + 1),
                   pos, rng.randrange(2), o[3], o[5])
            state.next_item_id += 1
            clean.append(row)
            lines.append(_csv_line(row[:7] + (iso, row[8])))
    n = len(lines)
    for _ in range(_n_dirty(n, DUP_RATE)):
        row = clean[rng.randrange(len(clean))]
        clean.append(row)
        lines.append(_csv_line(row[:7] + (row[7].replace(" ", "T"), row[8])))
    n_d = _n_dirty(n, DIRTY_RATE)
    orphans = 0
    for kind in ("D8", "D9"):
        for _ in range(n_d):
            o = new_orders[rng.randrange(len(new_orders))]
            iid = state.next_item_id
            state.next_item_id += 1
            oid = 9_000_000 + iid if kind == "D8" else o[1]
            pid = n_products + 5000 + iid if kind == "D9" else 1
            lines.append(_csv_line((iid, oid, o[2], 1, pid, 1, 0,
                                    o[3].replace(" ", "T"), o[5])))
            orphans += 1

    def make(kind):
        o = new_orders[rng.randrange(len(new_orders))]
        iid = state.next_item_id
        state.next_item_id += 1
        iso = o[3].replace(" ", "T")
        vals = [iid, o[1], o[2], 3, 1, 1, 0, iso, o[5]]
        if kind == "D1":
            vals[0] = ""
        elif kind == "D2":
            vals[4] = ""
        elif kind == "D3":
            vals[5] = "first"
        else:
            vals[7] = "2025-13-45T99:00:00"
        return _csv_line(vals)

    dirty = _dirty_lines(rng, n_d, ("D1", "D2", "D3", "D4"), make)
    lines += dirty
    rng.shuffle(lines)
    survivors, dropped = _dedup_survivors(clean, 0)
    return lines, survivors, dropped, orphans, len(dirty)


def write_raw_zone(root: str, seed: int, n_products: int, n_days: int,
                   orders_per_day: int) -> tuple[Batch, LakeState]:
    """The initial raw zone: ``products/products.csv``, one orders and one
    order_items file per day from 2025-04-01, and the expected outcome of
    ``run_pipeline`` into an empty warehouse."""
    rng = random.Random(seed)
    state = LakeState()
    files: dict[str, list[str]] = {"products": [], "orders": [], "order_items": []}
    path, p_exp, nbytes = _products_file(rng, root, state, n_products)
    files["products"].append(path)
    days = [START_DATE + dt.timedelta(days=i) for i in range(n_days)]
    state.days = n_days
    by_day, clean, n_dirty = _orders_lines(rng, state, days, orders_per_day, 0)
    survivors, dropped = _dedup_survivors(clean, 1)
    state.orders.update(survivors)
    o_exp = TableExpect(rows_in=sum(len(v) for v in by_day.values()), rejected=n_dirty,
                        dups_dropped=dropped, written=len(state.orders),
                        valid_rows=len(survivors))
    for day, lines in by_day.items():
        p = f"{root}/orders/{day.isoformat()}.csv"
        nbytes += _write(p, ORDERS_HEADER, lines)
        files["orders"].append(p)
    lines, items, i_drop, orphans, i_dirty = _items_lines(
        rng, state, sorted(state.orders.values(), key=lambda r: r[1]), n_products)
    state.order_items.update(items)
    i_exp = TableExpect(rows_in=len(lines), rejected=i_dirty, dups_dropped=i_drop,
                        orphans=orphans, written=len(state.order_items),
                        valid_rows=len(items))
    # one items file per day, like the reference's order_items_apr_2025/
    per_day: dict[str, list[str]] = {}
    for line in lines:
        per_day.setdefault(line.rsplit(",", 1)[1], []).append(line)
    for day, chunk in sorted(per_day.items()):
        p = f"{root}/order_items/{day}.csv"
        nbytes += _write(p, ITEMS_HEADER, chunk)
        files["order_items"].append(p)
    expect = {"products": p_exp, "orders": o_exp, "order_items": i_exp}
    return Batch(files, expect, sum(e.rows_in for e in expect.values()), nbytes), state


def write_day(root: str, seed: int, state: LakeState, n_orders: int,
              resend: int) -> Batch:
    """One incremental day: an orders CSV (new keys on the next date plus
    ``resend`` D10 re-sent older keys and dirty rows) and an order_items
    CSV for the new orders with FK orphans. Updates ``state`` to the
    expected post-MERGE tables."""
    rng = random.Random(seed * 1_000_003 + state.days)
    day = START_DATE + dt.timedelta(days=state.days)
    state.days += 1
    tag = day.isoformat()
    by_day, clean, n_dirty = _orders_lines(rng, state, [day], n_orders, resend)
    survivors, dropped = _dedup_survivors(clean, 1)
    updates = sum(1 for k in survivors if k in state.orders)
    state.orders.update(survivors)
    o_path = f"{root}/{tag}/orders.csv"
    nbytes = _write(o_path, ORDERS_HEADER, by_day[day])
    o_exp = TableExpect(rows_in=len(by_day[day]), rejected=n_dirty, dups_dropped=dropped,
                        written=len(state.orders), valid_rows=len(survivors),
                        updates=updates)
    new = sorted((r for r in survivors.values() if r[5] == tag), key=lambda r: r[1])
    lines, items, i_drop, orphans, i_dirty = _items_lines(
        rng, state, new, len(state.products))
    state.order_items.update(items)
    i_path = f"{root}/{tag}/order_items.csv"
    nbytes += _write(i_path, ITEMS_HEADER, lines)
    i_exp = TableExpect(rows_in=len(lines), rejected=i_dirty, dups_dropped=i_drop,
                        orphans=orphans, written=len(state.order_items),
                        valid_rows=len(items))
    return Batch({"orders": [o_path], "order_items": [i_path]},
                 {"orders": o_exp, "order_items": i_exp},
                 o_exp.rows_in + i_exp.rows_in, nbytes, tag)


def state_digest(rows) -> tuple[int, int]:
    """(row count, sum of CRC32 over ``|``-joined Spark string casts) —
    order-insensitive, and computable on the Spark side with the same
    functions (``perfbench.checks.table_digest``)."""
    n = 0
    total = 0
    for r in rows:
        s = "|".join("\\N" if v is None else _fmt(v) for v in r)
        total += zlib.crc32(s.encode())
        n += 1
    return n, total


# --- read-only analyst data (testdata layout) -------------------------------

_P_WORDS1 = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_P_WORDS2 = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
def write_star_schema(root: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-like tables in the testdata layout (``<root>/<name>.parquet``,
    one file each, arrow-written like the testdata tables) at scale ``sf``:
    15k customers, 150k orders and 600k lineitems per 0.1. Returns the
    row count per table."""
    import numpy as np
    import pandas as pd

    g = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    day0 = np.datetime64("1995-01-01")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.asarray(values, dtype=object)[g.integers(0, len(values), n)]

    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"),
                                "r_name": list(_REGIONS)}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype="int32"),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype("int32")}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_P_WORDS1, n_part),
                                                  pick(_P_WORDS2, n_part))],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": pick(_P_TYPES, n_part),
            "p_size": g.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(("F", "O", "P"), n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": (day0 + g.integers(0, 2405, n_ord)).astype("datetime64[us]"),
            "o_orderpriority": pick(_PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": g.integers(0, n_ord, n_li),
            "l_partkey": g.integers(0, n_part, n_li),
            "l_suppkey": g.integers(0, n_supp, n_li),
            "l_linenumber": g.integers(1, 8, n_li).astype("int32"),
            "l_quantity": g.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": g.integers(0, 11, n_li) / 100.0,
            "l_tax": g.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n_li),
            "l_linestatus": pick(("F", "O"), n_li),
            "l_shipdate": (day0 + 1 + g.integers(0, 2499, n_li)).astype("datetime64[us]")}),
    }
    ev_ts = np.sort(g.integers(0, 30 * 86400 * 1_000_000, n_ev))
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + ev_ts).astype("datetime64[us]"),
        "user_id": g.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    for name, df in tables.items():
        df.to_parquet(f"{root}/{name}.parquet", index=False)
    return {name: len(df) for name, df in tables.items()}


# --- curation corpus (documents-table layout) --------------------------------

_SYLLABLES = ("ba", "ce", "di", "fo", "gu", "ha", "ke", "li", "mo", "nu",
              "pa", "re", "si", "to", "vu", "xa", "ye", "zo", "qi", "wu")
_VOCAB = tuple(a + b + c for a in _SYLLABLES for b in _SYLLABLES
               for c in ("", "n", "r"))
DOC_SOURCES = 8
EVAL_MOD, EVAL_REM = 50, 17  # doc_id % 50 == 17 is the held-out eval split
CTX_TOKENS = 64


@dataclass
class CurationExpect:
    """The ``CurationResult`` counts ``run_curation_job`` must report."""

    n_input: int
    n_gated_out: int
    n_exact_dups: int
    n_near_dups: int
    n_contaminated: int
    n_curated: int
    n_packs: int


def write_documents(path: str, seed: int, n_docs: int) -> CurationExpect:
    """A documents table (``doc_id, text, lang, source, n_chars``) of
    ``n_docs`` rows with planted cases, and the curation job's expected
    counts over the training split (``doc_id % 50 != 17``) with the
    eval split as the contamination reference.

    Unique documents are 45-80 words drawn from a 1,200-word vocabulary, so
    they pass the quality gate and no two share a 3-gram set by chance.
    Planted in the training split: short (< 100 chars) and one-word-spam
    documents that fail the gate, exact copies (dropped by exact dedup),
    near copies with one appended word (one dropped per verified MinHash
    pair) and copies of eval documents (dropped by decontamination)."""
    import pandas as pd

    rng = random.Random(seed)

    def words(lo: int, hi: int) -> list[str]:
        return [rng.choice(_VOCAB) for _ in range(rng.randrange(lo, hi + 1))]

    ids = list(range(n_docs))
    eval_ids = [i for i in ids if i % EVAL_MOD == EVAL_REM]
    train_ids = [i for i in ids if i % EVAL_MOD != EVAL_REM]
    rng.shuffle(train_ids)
    text: dict[int, str] = {i: " ".join(words(45, 80)) for i in eval_ids}
    n_case = max(1, len(train_ids) // 25)
    kinds = (["short"] * n_case + ["spam"] * n_case + ["exact"] * n_case
             + ["near"] * n_case + ["contaminated"] * min(n_case, len(eval_ids)))
    planted = dict(zip(train_ids, kinds))
    plain = [i for i in train_ids if i not in planted]
    for i in plain:
        text[i] = " ".join(words(45, 80))
    originals = iter(plain)
    evals = iter(eval_ids)
    # the document that survives in each planted group: min doc_id keeps
    survivor_of: dict[int, int] = {}
    for i, kind in planted.items():
        if kind == "short":
            text[i] = " ".join(words(3, 8))
        elif kind == "spam":
            text[i] = " ".join([rng.choice(_VOCAB)] * rng.randrange(60, 90))
        elif kind in ("exact", "near"):
            o = next(originals)
            text[i] = text[o] + ("" if kind == "exact" else " " + rng.choice(_VOCAB))
            survivor_of[o] = survivor_of[i] = min(o, i)
        else:
            text[i] = text[next(evals)]
    source = {i: f"src{rng.randrange(DOC_SOURCES)}" for i in ids}
    curated = [i for i in train_ids
               if planted.get(i) not in ("short", "spam", "contaminated")
               and survivor_of.get(i, i) == i]
    tokens: dict[str, int] = {}
    for i in curated:
        tokens[source[i]] = tokens.get(source[i], 0) + len(text[i].split(" "))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pd.DataFrame({
        "doc_id": pd.Series(ids, dtype="int64"),
        "text": [text[i] for i in ids],
        "lang": "en",
        "source": [source[i] for i in ids],
        "n_chars": pd.Series([len(text[i]) for i in ids], dtype="int64"),
    }).to_parquet(path, index=False)
    count = kinds.count
    return CurationExpect(
        n_input=len(train_ids),
        n_gated_out=count("short") + count("spam"),
        n_exact_dups=count("exact"),
        n_near_dups=count("near"),
        n_contaminated=count("contaminated"),
        n_curated=len(curated),
        n_packs=sum(-(-t // CTX_TOKENS) for t in tokens.values()),
    )
